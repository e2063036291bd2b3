package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Evaluate EVERY output column and keep the final sort: a plain
    * count() lets Catalyst prune unreferenced projections/window
    * expressions and eliminate the terminal ORDER BY, under-measuring
    * real work. A noop-sink write materializes the full rows in order.
    */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One query's bench record: its timed seconds (min-of-2 raws, or
    * -1 for a query that failed its warm run), warm seconds, and the
    * counters of one more untimed run.
    */
  final case class Timed(name: String, secs: Seq[Double], warm: Double,
      counts: Option[org.apache.spark.graft.EngineListener.Counts])

  /** The one bench protocol, shared with [[BenchTier]]. */
  def timeAll(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[Timed] = {
    // Phase 1 — GLOBAL warm pass, untimed: run every query once BEFORE
    // any timing starts. This is where every CachedArtifact (BPE model,
    // BM25/chunk/IVF index dirs) resolves and builds, where codegen
    // compiles, and where broadcast builds first happen — so no timed
    // rep can ever absorb a one-off artifact build (the r11 driver boot
    // showed 14–22× phantom outliers on q164/q165 exactly because a
    // cold shared artifact landed inside a timed rep). The warm seconds
    // are emitted as their own "warm" map: on a cold boot the artifact
    // build cost is visible THERE, never in "queries".
    val warm = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { force(fn(spark, sfDir)); true } catch {
        case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
      }
      spark.catalog.clearCache()
      name -> (ok, (System.nanoTime() - t0) / 1e9)
    }.toMap
    // Phase 2 — steady-state timing: TWO timed runs per query, reporting
    // the min. Single-shot numbers swung ±10× run-to-run on identical
    // plans, which buries real regressions, and even warm single runs
    // produced phantom 2–8× "regressions" under driver-side contention
    // two rounds straight (r6: q37/q38; r7: q97/q98/q99) — min-of-2
    // makes the committed artifact self-defending: a contended outlier
    // can't survive both runs. Both raws land under "raw" for
    // inspection. A failing query must not masquerade as a fast one:
    // record -1. A third, untimed run reads the query's counters off
    // the engine listener.
    queries.map { case (name, fn) =>
      val (ok, warmSecs) = warm(name)
      val ts = if (!ok) Seq(-1.0) else Seq.fill(2) {
        val t0 = System.nanoTime()
        force(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      val counts = if (!ok) None else Some(
        org.apache.spark.graft.EngineListener.measure(spark)(
          force(fn(spark, sfDir)))._2)
      // Drop this query's persisted intermediates (sketch/shingle tables)
      // before the next query: accumulated cache entries from 80 queries
      // otherwise build eviction pressure that bleeds into later timings.
      spark.catalog.clearCache()
      Timed(name, ts, warmSecs, counts)
    }
  }

  /** The JSON fields every bench line carries: `queries` (min seconds),
    * `warm` and `counters` (jobs, stages, input and shuffle-write bytes
    * per query), each a map by query name. Input bytes are what task
    * metrics see: parquet vectored reads bypass them.
    */
  def jsonMaps(results: Seq[Timed]): (String, String, String) = {
    def obj(kvs: Seq[(String, Any)]) =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    (obj(results.map(r => r.name -> r.secs.min)),
     obj(results.sortBy(_.name).map(r => r.name -> r.warm)),
     obj(results.flatMap(r => r.counts.map(c => r.name -> obj(Seq(
       "jobs" -> c.jobs, "stages" -> c.stages, "input_bytes" -> c.inputBytes,
       "shuffle_bytes" -> c.shuffleWriteBytes))))))
  }

  /** Usage: `tools/run.sh graft.Bench [query ...]` — every declared
    * query by default, or only the named ones (an ad hoc timing run:
    * BENCH_LOCAL.json is written only by an unfiltered run).
    */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val unknown = args.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => args.isEmpty || args.contains(name) }
    val spark = LocalSession()
    // Warmup: pay JVM/codegen/scheduler startup outside the timed loop.
    force(SparkEntry.entry(spark))
    val results = timeAll(spark, sfDir, queries)
    val (qs, warmJson, counters) = jsonMaps(results)
    val raw = results.map(r => "\"" + r.name + "\":" + r.secs.mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val total = results.map(_.secs.min).filter(_ >= 0).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"raw":$raw,"warm":$warmJson,"sf":"$sfDir","counters":$counters}"""
    println(line)
    // Also persist the full line as a repo artifact: driver-side capture
    // keeps only a 2000-char tail of stdout, which truncates the
    // per-query map — BENCH_LOCAL.json is the untruncated record,
    // overwritten per run and committed per round.
    if (args.isEmpty)
      try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
        (line + "\n").getBytes("UTF-8"))
      catch { case e: Exception => System.err.println(s"[bench] BENCH_LOCAL.json: $e") }
    spark.stop()
  }
}
