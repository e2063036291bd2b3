package graft

/** Second-tier bench over the SERVE-PATH AND FUNNEL queries — the
  * composed retrieval/curation subset whose 100 TB behavior the
  * ScaleProbe byte slopes vouch for at sf0.001–0.01 corpora and the
  * main Bench times only at sf0.1. Run against a [[ScaleData]]-scaled
  * dir and compare per-query seconds with the sf0.1 BENCH numbers: a
  * query whose WALL-CLOCK slope exceeds its measured BYTE slope has a
  * named cause to find (fixed-stage latency amortizing is fine; a
  * corpus-sized stage hiding behind a pruned-looking plan is not).
  *
  * Protocol matches [[Bench]]: one untimed global warm pass (shared
  * artifacts — indexes, BPE models — build there, never inside a timed
  * rep), then min-of-2 timed runs per query.
  *
  * Usage: SPARK_GRAFT_CPUS=32 tools/run.sh graft.BenchTier /tmp/sf0.3
  */
object BenchTier {
  /** The serving/funnel subset: curation funnels, quality/selection
    * scorers, lexical probes (doc + chunk grain), hybrid fusion +
    * context assembly, persisted-ANN serving (incl. the filtered
    * probe), and the BPE round-trips (encode-heavy scaling check).
    */
  val serveQueries: Seq[String] = Seq(
    "q110_curation_funnel", "q117_incremental_curation", "q159_nb_funnel",
    "q136_signal_sheet", "q128_lm_score", "q129_dsir_select",
    "q160_heavy_hitters", "q120_chunk_dedup",
    "q146_bm25", "q147_bm25_index", "q153_bm25_many", "q172_bm25_many_part",
    "q183_bm25_stopped", "q175_ql_index", "q174_rm3_expand", "q182_rm3_chunks",
    "q166_hybrid_rrf", "q167_chunk_bm25", "q168_chunk_index",
    "q169_chunk_hybrid", "q171_hybrid_pq_rerank", "q179_chunk_hybrid_pq",
    "q180_chunk_hybrid_3arm",
    "q170_context_pack", "q173_context_text", "q181_context_model_pack",
    "q116_ann_index", "q145_ann_ivf_pq", "q158_ann_ivf_pq_rerank",
    "q162_ann_index_dpp", "q184_ann_filtered",
    "q176_bpe_roundtrip", "q178_bpe_byte_roundtrip",
    // round 16 serving paths: supersede-merged BM25, the one-shot
    // counted filtered probe, and the late-interaction arm + fusion
    "q191_supersede_bm25", "q195_ann_filtered_counted",
    "q196_chunk_maxsim", "q197_chunk_hybrid_maxsim")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf0.3")
    val spark = LocalSession()
    val qs = serveQueries.map(n => n -> SparkEntry.queries(n))
    val warm = qs.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { Bench.force(fn(spark, sfDir)); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench-tier] $name failed: ${e.getMessage}")
          false
      }
      spark.catalog.clearCache()
      name -> (ok, (System.nanoTime() - t0) / 1e9)
    }.toMap
    val results = qs.map { case (name, fn) =>
      val ts = if (!warm(name)._1) Seq(-1.0) else Seq.fill(2) {
        val t0 = System.nanoTime()
        Bench.force(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      spark.catalog.clearCache()
      name -> ts
    }
    val qj = results.map { case (k, v) => "\"" + k + "\":" + v.min }
      .mkString("{", ",", "}")
    val wj = warm.toSeq.sortBy(_._1)
      .map { case (k, (_, t)) => "\"" + k + "\":" + t }.mkString("{", ",", "}")
    val total = results.map(_._2.min).filter(_ >= 0).sum
    println(s"""{"metric":"serve_total","value":$total,"unit":"sec","queries":$qj,"warm":$wj,"sf":"$sfDir"}""")
    spark.stop()
  }
}
