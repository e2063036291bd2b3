package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.PipelineQueries
import graft.operators.Corpus

/** End-to-end trainer export (SURVEY.md §8 flagship composition #2,
  * artifact side): the q127 chain — quality gates → exact dedup →
  * source-weighted mixture — materialized all the way to the files a
  * training run mounts:
  *
  *  - `outDir/sequences`: one row per fixed-512-token training
  *    sequence (seq_id, n_tok, n_docs, seq_text), range-partitioned by
  *    seq_id so shard k holds a contiguous, reproducible slice of the
  *    training stream (what a data loader addresses by offset);
  *  - `outDir/manifest`: q127's per-source provisioning stats, written
  *    next to the data they describe.
  *
  * Scale shape: everything is the audited q127/q122 machinery; the only
  * addition is the range-partitioned write, one shuffle that IS the
  * artifact's layout contract.
  *
  * Run: tools/run.sh graft.app.TrainingExport [sfDir] [outDir]
  */
object TrainingExport {

  case class ExportStats(nSequences: Long, nTokens: Long, nSources: Long)

  /** Build and write both artifacts; the sequence totals are OBSERVED
    * counters riding the export write itself ([[graft.operators
    * .Audit]]) — the artifact's provenance numbers come out of the job
    * that produced it, not a second scan of what was just written.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          shards: Int = 8, format: String = "parquet"): ExportStats = {
    require(format == "parquet" || format == "jsonl",
      s"export format must be parquet or jsonl, got $format")
    val mixed = PipelineQueries.trainerExportMixed(spark, sfDir)
    val seqs = Corpus.packedSequenceTexts(mixed, col("mid"), col("text"),
        budget = 512)
    // observe ABOVE the range exchange: the boundary sampler re-executes
    // everything below it, which would double-count metrics placed there
    val (instrumented, obs) = graft.operators.Audit.observed(
      seqs.repartitionByRange(shards, col("seq_id"))
        .sortWithinPartitions(col("seq_id")),
      "export",
      Seq(count(lit(1)).as("sequences"), sum(col("n_tok")).as("tokens")))
    // jsonl is what most trainers mount directly (one JSON object per
    // line, one file per contiguous seq_id range — the same layout
    // contract as the parquet arm, different encoding); parquet stays
    // the analytics-side default
    if (format == "jsonl")
      graft.sources.Sinks.json(instrumented, s"$outDir/sequences")
    else
      instrumented.write.mode("overwrite").parquet(s"$outDir/sequences")
    val manifest = PipelineQueries.q127TrainerExport(spark, sfDir).coalesce(1)
    if (format == "jsonl")
      graft.sources.Sinks.json(manifest, s"$outDir/manifest")
    else
      manifest.write.mode("overwrite").parquet(s"$outDir/manifest")

    val m = obs.get
    val srcs =
      if (format == "jsonl") spark.read.json(s"$outDir/manifest").count()
      else spark.read.parquet(s"$outDir/manifest").count()
    ExportStats(m("sequences").asInstanceOf[Long],
      m("tokens").asInstanceOf[Long], srcs)
  }

  /** TOKENIZER-TRUE export (SURVEY §8, round 10): the same funnel, but
    * sequences are fixed-`budget` streams of MODEL-token ids encoded by
    * the PERSISTED BPE tokenizer at `modelDir` (optionally pinned to a
    * historical version with `modelAsOf` — an old export reproduces
    * bit-for-bit after a retrain bumps the model). Real trainers budget
    * context windows in model tokens, not whitespace words; this is the
    * artifact a run actually mounts:
    *
    *  - `outDir/sequences`: (seq_id, n_tok, n_docs, ids array<int>),
    *    range-partitioned by seq_id — every sequence except the last
    *    holds EXACTLY `budget` ids;
    *  - `outDir/manifest`: q165's per-source stats (docs, copies,
    *    MODEL tokens, sequences), the same computation the oracle
    *    hash-checks.
    */
  def runModelTokens(spark: SparkSession, sfDir: String, outDir: String,
                     modelDir: String, shards: Int = 8, budget: Int = 512,
                     modelAsOf: Option[Long] = None,
                     format: String = "parquet"): ExportStats = {
    require(format == "parquet" || format == "jsonl",
      s"export format must be parquet or jsonl, got $format")
    // the funnel feeds both the encode and the manifest's source map
    // (trainerExportMixed stages itself); the encode — the dominant
    // pass — runs ONCE, with the sequence assembly and the manifest
    // sharing its span table
    val mixed = PipelineQueries.trainerExportMixed(spark, sfDir)
    val ids = graft.operators.Bpe.encodeIdsWithModel(
      spark, modelDir, mixed, col("mid"), col("text"), asOf = modelAsOf)
    val (arr, spans) = graft.operators.Bpe.packedIdSpans(ids, budget)
    val seqs = graft.operators.Bpe.assembleIdSequences(arr, spans)
    val (instrumented, obs) = graft.operators.Audit.observed(
      seqs.repartitionByRange(shards, col("seq_id"))
        .sortWithinPartitions(col("seq_id")),
      "export",
      Seq(count(lit(1)).as("sequences"), sum(col("n_tok")).as("tokens")))
    if (format == "jsonl")
      graft.sources.Sinks.json(instrumented, s"$outDir/sequences")
    else
      instrumented.write.mode("overwrite").parquet(s"$outDir/sequences")
    val manifest = PipelineQueries.manifestFromSpans(spans,
      PipelineQueries.mixedSources(mixed)).coalesce(1)
    if (format == "jsonl")
      graft.sources.Sinks.json(manifest, s"$outDir/manifest")
    else
      manifest.write.mode("overwrite").parquet(s"$outDir/manifest")

    val m = obs.get
    val srcs =
      if (format == "jsonl") spark.read.json(s"$outDir/manifest").count()
      else spark.read.parquet(s"$outDir/manifest").count()
    ExportStats(m("sequences").asInstanceOf[Long],
      m("tokens").asInstanceOf[Long], srcs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft_training_export")
    val format = args.lift(2).getOrElse("parquet")
    val spark = graft.LocalSession()

    // 4th arg "model" = tokenizer-true export against the shared cached
    // BPE model (word-token export otherwise)
    val s =
      if (args.lift(3).contains("model"))
        runModelTokens(spark, sfDir, outDir,
          PipelineQueries.cachedBpeModel(spark, sfDir), format = format)
      else run(spark, sfDir, outDir, format = format)
    println(s"[export] sequences=${s.nSequences} tokens=${s.nTokens} " +
      s"sources=${s.nSources} format=$format -> $outDir")
    spark.stop()
  }
}
