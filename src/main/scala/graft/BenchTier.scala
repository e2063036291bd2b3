package graft

/** Second-tier bench over the SERVE-PATH AND FUNNEL queries — the
  * composed retrieval/curation subset whose byte growth `ScalingSpec`
  * gates on sf0.001 replicas and the main Bench times only at sf0.1.
  * Run against a [[ScaleData]]-scaled dir and compare per-query seconds
  * (and counters) with the sf0.1 BENCH numbers: a query whose
  * WALL-CLOCK slope exceeds its BYTE slope has a named cause to find
  * (fixed-stage latency amortizing is fine; a corpus-sized stage hiding
  * behind a pruned-looking plan is not).
  *
  * Protocol: [[Bench.timeAll]], the same loop the main Bench runs.
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
    val results = Bench.timeAll(spark, sfDir,
      serveQueries.map(n => n -> SparkEntry.queries(n)))
    val (qj, wj, counters) = Bench.jsonMaps(results)
    val total = results.map(_.secs.min).filter(_ >= 0).sum
    println(s"""{"metric":"serve_total","value":$total,"unit":"sec","queries":$qj,"warm":$wj,"sf":"$sfDir","counters":$counters}""")
    spark.stop()
  }
}
