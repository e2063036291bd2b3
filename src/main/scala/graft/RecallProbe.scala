package graft

import org.apache.spark.sql.functions._
import graft.operators.{Index, Retrieval, Similarity}
import graft.operators.Retrieval.{Hybrid, Ivf, MaxSim, Pq, Sq8}

/** ANN quality probe: recall@k of the approximate similarity paths
  * against the brute-force truth, per parameter setting — the dial that
  * justifies IVF/LSH defaults (uniform random embeddings are the ANN
  * worst case, so these numbers are lower bounds on real corpora).
  *
  * Usage: tools/run.sh graft.RecallProbe [sfDir]
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = LocalSession("ERROR")

    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = e.filter(col("id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(q, e, 5))
    def recall(s: Set[(Long, Long)]): Double = (exact & s).size.toDouble / exact.size

    for (iters <- Seq(0, 1, 2, 3))
      println(f"ivf lloydIters=$iters%d  recall@5 = ${
        recall(pairs(Similarity.ivfTopK(q, e, 5, lloydIters = iters)))}%.3f")
    for (probes <- Seq(4, 6, 8))
      println(f"ivf nProbes=$probes%d (lloyd=2) recall@5 = ${
        recall(pairs(Similarity.ivfTopK(q, e, 5, nProbes = probes, lloydIters = 2)))}%.3f")
    println(f"lsh                recall@5 = ${recall(pairs(Similarity.lshTopK(q, e, 5)))}%.3f")
    // sq8 ranks by (quantized) DOT, the truth by cosine — the gap below
    // bundles quantization noise with dot/cosine disagreement; the
    // quantization-only gap is measured in SimilaritySpec vs exact dot
    println(f"sq8 (dot ranking)  recall@5 = ${recall(pairs(Similarity.sq8TopK(q, e, 5)))}%.3f")
    // the persisted compressed index stacks BOTH approximations
    // (IVF pruning + SQ8 quantized dot) — the production-path floor
    val idx = java.nio.file.Files.createTempDirectory("recall_ivfsq8").toString
    Index.build(Index.Sq8Spec(nCentroids = 16), Index.Vectors(e), idx): Unit
    for (probes <- Seq(4, 8, 16))
      println(f"ivf+sq8 nProbes=$probes%-2d recall@5 = ${
        recall(pairs(Similarity.probe(spark, Sq8(idx, probes), q, 5)))}%.3f")
    // IVF-PQ, raw vs residual encoding at identical code bytes — on
    // uniform embeddings the residual win is small (no cluster
    // structure to move into the coarse quantizer); the clustered-case
    // reconstruction gap is measured in SimilaritySpec
    for (res <- Seq(false, true)) {
      val pq = java.nio.file.Files.createTempDirectory(s"recall_ivfpq_$res").toString
      Index.build(Index.PqSpec(nCentroids = 16, ks = 64, pqLloydIters = 1,
        residual = res),
        Index.Vectors(e), pq): Unit
      for (probes <- Seq(4, 8, 16))
        println(f"ivf+pq residual=$res%-5s nProbes=$probes%-2d recall@5 = ${
          recall(pairs(Similarity.probe(spark, Pq(pq, None, probes, ks = 64,
            residual = res), q, 5)))}%.3f")
    }
    // two-stage: ADC shortlist (k·alpha) + exact re-rank of the
    // shortlist only — recovers what PQ reconstruction error displaced
    // past rank k but not past rank k·alpha, at equal probes
    val pq2 = java.nio.file.Files.createTempDirectory("recall_ivfpq_rr").toString
    Index.build(Index.PqSpec(nCentroids = 16, ks = 64, pqLloydIters = 1),
      Index.Vectors(e), pq2): Unit
    for (probes <- Seq(4, 8, 16); alpha <- Seq(4, 8))
      println(f"ivf+pq+rerank alpha=$alpha%-2d nProbes=$probes%-2d recall@5 = ${
        recall(pairs(Similarity.probe(spark,
          Pq(pq2, Some(alpha), probes, ks = 64), q, 5)))}%.3f")

    // HYBRID fusion recall: each arm family against ITS exhaustive-probe
    // truth (float IVF ranks cosine, PQ+rerank ranks exact dot — mixing
    // metrics would measure the metric gap, not the probe loss). The
    // PQ+rerank arm reads ~1/32 of the float arm's scan bytes at equal
    // probe counts — the row pair quantifies what that compression
    // costs the FUSED ranking.
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val qb = Seq((0L, Seq("dup", "spark")), (1L, Seq("hash", "join", "table")))
      .toDF("query_id", "terms")
      .join(e.filter(col("id") < 2).select(col("id").as("query_id"), col("vec")),
        Seq("query_id"))
    val bm = java.nio.file.Files.createTempDirectory("recall_bm25").toString
    Index.build(Index.Bm25Spec(),
      Index.Text(docs, col("doc_id"), col("text")), bm): Unit
    val ivfF = java.nio.file.Files.createTempDirectory("recall_hyb_ivf").toString
    Index.build(Index.IvfSpec(nCentroids = 16, lloydIters = 2),
      Index.Vectors(e), ivfF): Unit
    val pqH = java.nio.file.Files.createTempDirectory("recall_hyb_pq").toString
    Index.build(Index.PqSpec(nCentroids = 16, ks = 64, pqLloydIters = 1),
      Index.Vectors(e), pqH): Unit
    def fpairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def frecall(truth: Set[(Long, Long)], got: Set[(Long, Long)]): Double =
      (truth & got).size.toDouble / truth.size
    val truthFloat = fpairs(Retrieval.hybridSearch(spark, bm, ivfF, qb,
      k = 10, nProbes = 16))
    val truthDot = fpairs(Retrieval.hybrid(spark,
      Hybrid(bm, Pq(pqH, Some(200), nProbes = 16, ks = 64)), qb, k = 10))
    println(f"hybrid float-IVF arm   nProbes=4 fused recall@10 = ${
      frecall(truthFloat, fpairs(Retrieval.hybridSearch(spark, bm, ivfF, qb,
        k = 10, nProbes = 4)))}%.3f")
    println(f"hybrid IVF-PQ+rerank   nProbes=4 fused recall@10 = ${
      frecall(truthDot, fpairs(Retrieval.hybrid(spark,
        Hybrid(bm, Pq(pqH, Some(4), nProbes = 4, ks = 64)), qb,
        k = 10)))}%.3f  (~1/32 scan bytes)")

    // CHUNK-grain hybrid (round 12): the same float-vs-compressed row
    // pair at the grain the RAG stack serves — each arm family against
    // its own exhaustive-probe truth (span keys, not doc ids). The
    // chunk vector table is the largest vector artifact in the system,
    // so this is where the PQ arm's ~1/32 byte cut matters most.
    val cbm = java.nio.file.Files.createTempDirectory("recall_cbm").toString
    Index.build(Index.Bm25Spec(Index.Chunks(32, 16)),
      Index.Text(docs, col("doc_id"), col("text")), cbm): Unit
    val civ = java.nio.file.Files.createTempDirectory("recall_civ").toString
    Index.build(Index.IvfSpec(Index.Chunks(32, 16), lloydIters = 2),
      Index.Text(docs, col("doc_id"), col("text")), civ): Unit
    val cpq = java.nio.file.Files.createTempDirectory("recall_cpq").toString
    Index.build(Index.PqSpec(Index.Chunks(32, 16), ks = 64, pqLloydIters = 1),
      Index.Text(docs, col("doc_id"), col("text")), cpq): Unit
    val cq = Seq((900000001L, Seq("dup", "spark")),
        (900000002L, Seq("hash", "join", "table")))
      .toDF("query_id", "terms")
    val cqb = cq.join(
      graft.operators.Corpus.hashEmbed(cq, col("query_id"),
        concat_ws(" ", col("terms"))).withColumnRenamed("id", "query_id"),
      Seq("query_id"))
    def spairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select("query_id", "doc_id", "chunk_start").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def srecall(truth: Set[(Long, Long, Long)],
                got: Set[(Long, Long, Long)]): Double =
      (truth & got).size.toDouble / truth.size
    def chunkFused(sem: Retrieval.SemanticArm) =
      spairs(Retrieval.hybrid(spark, Hybrid(cbm, sem), cqb, k = 10))
    val ctruthFloat = chunkFused(Ivf(civ, nProbes = 16))
    val ctruthDot = chunkFused(Pq(cpq, Some(200), nProbes = 16, ks = 64))
    println(f"chunk-hybrid float-IVF nProbes=4 fused recall@10 = ${
      srecall(ctruthFloat, chunkFused(Ivf(civ, nProbes = 4)))}%.3f")
    println(f"chunk-hybrid PQ+rerank nProbes=4 fused recall@10 = ${
      srecall(ctruthDot, chunkFused(Pq(cpq, Some(4), nProbes = 4,
        ks = 64)))}%.3f  (~1/32 chunk-vector scan bytes)")

    // LATE-INTERACTION maxsim arm (round 16): the bounded serving
    // config (shortlist 20, 4 probes) against its wide-shortlist truth
    // (200, exhaustive probes). Two numbers, because the trigram token
    // encoder SATURATES on exact token matches (cos = 1): identity
    // recall counts retrieving the same spans — tie-broken by key, so
    // shortlist width decides WHICH equally-scored spans surface —
    // while score mass (Σ serving top-10 maxsim / Σ truth top-10)
    // measures whether the bounded config retrieves spans of equal
    // token-interaction VALUE, the number that must stay ≈ 1. The
    // single-vector agreement row shows how differently the fourth arm
    // ranks — the fusion's diversity rationale, not a defect dial.
    def mrows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Double)] =
      df.select("query_id", "doc_id", "chunk_start", "maxsim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    val ms = MaxSim(docs, col("doc_id"), col("text"))
    val msTruthR = mrows(Retrieval.maxSimRerankChunks(spark,
      Pq(cpq, Some(200), nProbes = 16, ks = 64), ms, cqb, k = 10,
      kEach = 200))
    val msServeR = mrows(Retrieval.maxSimRerankChunks(spark,
      Pq(cpq, Some(4), nProbes = 4, ks = 64), ms, cqb, k = 10, kEach = 20))
    val msTruth = msTruthR.map(r => (r._1, r._2, r._3)).toSet
    println(f"chunk maxsim rerank    nProbes=4 kEach=20 recall@10 = ${
      srecall(msTruth, msServeR.map(r => (r._1, r._2, r._3)).toSet)}%.3f" +
      f"  score mass = ${msServeR.map(_._4).sum / msTruthR.map(_._4).sum}%.3f" +
      "  (token-level work on the shortlist only; identity ties break on key)")
    println(f"single-vector rerank vs maxsim truth agreement@10 = ${
      srecall(msTruth, spairs(Similarity.probe(spark,
          Pq(cpq, Some(4), nProbes = 4, ks = 64),
          cqb.select(col("query_id").as("id"), col("vec")), 10)
        .select(col("query_id"),
          org.apache.spark.sql.functions.shiftright(col("cand_id"), 32)
            .as("doc_id"),
          col("cand_id").bitwiseAND(org.apache.spark.sql.functions
            .lit((1L << 32) - 1)).as("chunk_start"))))}%.3f" +
      "  (low = the 4th arm adds rank diversity to the fusion)")
    spark.stop()
  }
}
