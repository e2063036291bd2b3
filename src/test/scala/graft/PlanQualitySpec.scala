package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.window.WindowExec

/** Engine-wide physical-plan invariants, enforced over EVERY query in
  * the declared surface. These are the properties that decide whether a
  * plan survives a 100× scale-up — checked structurally, not by timing:
  *
  *  - no CartesianProduct, ever (an O(n·m) shuffle explosion at scale);
  *  - BroadcastNestedLoopJoin only where the algorithm declares a tiny
  *    broadcast side (brute-force ANN baselines, 1-row aggregates);
  *  - every query keeps at least one whole-stage-codegen span;
  *  - selective predicates reach the parquet scan as PushedFilters.
  */
class PlanQualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Plan with AQE disabled: the pre-execution AdaptiveSparkPlan hides
    * codegen stages (they materialize per query-stage at runtime), so
    * structural assertions need the statically compiled plan.
    */
  private def planOf(name: String): (String, Seq[String]) = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = SparkEntry.queries(name)(spark, dir).queryExecution
      val unpartitioned = qe.executedPlan.collectWithSubqueries {
        case w: WindowExec if w.partitionSpec.isEmpty => w.simpleString(10)
      }
      (qe.explainString(ExplainMode.fromString("formatted")), unpartitioned)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** Every declared query's static plan, built ONCE: the suite-wide
    * structural gates read the same strings (r18 — each previously
    * re-planned all 197 queries, ~40 s per pass of pure driver-side
    * analysis; memoizing cuts the suite's wall time without touching
    * any assertion).
    */
  private lazy val plans: Map[String, (String, Seq[String])] =
    SparkEntry.queries.keys.map(n => n -> planOf(n)).toMap
  private lazy val planCache: Map[String, String] = plans.map { case (n, p) => n -> p._1 }

  /** Windows that run unpartitioned ON PURPOSE. None today: an audited
    * single-partition window keys itself with `BoundedWindow.key`, and a
    * partition key lost to constant folding (a literal query_id) is a
    * plan to fix, not to list. */
  private val intentionalUnpartitionedWindow = Set.empty[String]

  /** Nested-loop joins that ARE the declared algorithm: the build side
    * is constant-sized (query vectors q31, centroid table q37, 1-row
    * aggregate q53/q69), so the "loop" is O(n·k) with tiny k — the
    * standard scale shape for scan-scoring, not an accident. Persisted-
    * index probes are NOT listed: their per-version constants (BM25
    * stats, tombstone ids, IVF centroids, the SQ8 scale, the PQ
    * codebook, gate counts) are plan literals, so a nested-loop join
    * there means a constant went back to a per-request broadcast.
    */
  private val intentionalNestedLoop = Set(
    "q31_cosine_topk", "q133_hard_negatives",
    "q37_ann_ivf", "q98_ann_ivf_refined",
    "q109_ann_sq8",
    // inline PQ: broadcast codebook (m·ks tiny rows) + broadcast
    // per-query LUTs
    "q144_pq_topk",
    "q53_scalar_subquery", "q69_tfidf", "q107_tpch_q22",
    // 1-row aggregate build sides (vocabulary size V / corpus token totals)
    "q128_lm_score", "q129_dsir_select", "q136_signal_sheet",
    // dense model grid (labels × 512-bucket spine) + 1-row doc total
    "q131_nb_classify", "q132_nb_model_score", "q159_nb_funnel",
    // synthesized partsupp: the 1-row supplier-count broadcast every
    // classic pays once, plus q139's 1-row value threshold
    "q137_tpch_q2", "q138_tpch_q9", "q139_tpch_q11", "q140_tpch_q16",
    "q141_tpch_q20",
    // inline BM25's corpus-derived 1-row stats (N, Σdl) / min-max range
    // stats broadcasts
    "q146_bm25", "q148_zorder_key",
    // inline chunk-grain BM25: the same corpus-derived 1-row stats
    "q167_chunk_bm25",
    // 1-row corpus total broadcast onto the candidate recount
    "q160_heavy_hitters",
    // BPE: each merge step applies a broadcast 1-row winner; encode
    // folds the broadcast 1-row merge array
    "q150_bpe_train", "q151_bpe_encode", "q155_bpe_vocab", "q156_bpe_ids",
    "q164_bpe_model_ids",
    // tokenizer-true export: the BPE encode's broadcast 1-row merge
    // array rides under the packing (the q151/q156 shape)
    "q165_bpe_trainer_export",
    // context packing over q169's fused set
    "q170_context_pack", "q173_context_text",
    // Dirichlet QL: the |terms|-row cf broadcast grid
    "q175_ql_index",
    // BPE round-trip: the encode half's broadcast merge array (the
    // q151/q156 shape); the decode is pure equality joins
    "q176_bpe_roundtrip",
    // byte-level round-trip: the encode merge array + the decode's
    // 1-row flag-guard broadcast
    "q178_bpe_byte_roundtrip",
    // model-token pack: q169's fused arms + the BPE encode's broadcast
    // merge array at span grain
    "q181_context_model_pack")

  test("PLAN_AUDIT.md has a row for every SparkEntry query") {
    // The audit artifact is regenerated by `tools/run.sh graft.PlanAudit`;
    // this gate keeps it in lockstep with the query surface, so a new
    // query cannot ship without a recorded plan-structure row.
    val audit = scala.io.Source.fromFile("PLAN_AUDIT.md").getLines()
      .collect { case l if l.startsWith("| q") => l.split("\\|")(1).trim }
      .toSet
    val missing = SparkEntry.queries.keySet -- audit
    assert(missing.isEmpty,
      s"queries missing a PLAN_AUDIT.md row: ${missing.toSeq.sorted.mkString(", ")} " +
        "— regenerate with `bash tools/run.sh graft.PlanAudit`")
    // the dynamic-term DPP evidence lives behind a checkpoint seam the
    // per-query rows cannot show — the audit carries it as its own line
    val raw = scala.io.Source.fromFile("PLAN_AUDIT.md").mkString
    assert(raw.contains("dynamicpruning PRESENT"),
      "PLAN_AUDIT.md must carry the bm25ManyHits DPP evidence line")
  }

  test("no query plans a CartesianProduct") {
    planCache.foreach { case (name, plan) =>
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }

  test("nested-loop joins appear only where the algorithm declares them") {
    planCache.keys.filterNot(intentionalNestedLoop).foreach { name =>
      assert(!planCache(name).contains("BroadcastNestedLoopJoin"),
        s"$name plans an undeclared BroadcastNestedLoopJoin — " +
          "a join key is missing or a broadcast side grew")
    }
  }

  test("window operators are partitioned except where the algorithm declares one partition") {
    // WindowExec with no partition key moves ALL its input to one task
    // (and logs "No Partition Defined"); bounded global windows carry a
    // BoundedWindow.key, so an empty key means a lost or missing one
    val offenders = plans.collect {
      case (name, (_, windows)) if windows.nonEmpty &&
          !intentionalUnpartitionedWindow(name) => s"$name: ${windows.mkString("; ")}"
    }
    assert(offenders.isEmpty,
      s"unpartitioned Window operators:\n${offenders.toSeq.sorted.mkString("\n")}")
  }

  test("every query keeps a whole-stage-codegen span") {
    planCache.foreach { case (name, plan) =>
      assert(plan.contains("[codegen id :"),
        s"$name fell entirely out of codegen")
    }
  }

  test("correlated subqueries decorrelate to joins, never per-row execution") {
    // EXISTS → left semi; IN → left semi; NOT IN → (null-aware) anti;
    // correlated scalar agg → aggregate-then-join. If Catalyst ever
    // left a correlated subquery in the physical plan it would surface
    // as an InSubquery/exists subquery node or a nested-loop — both
    // absent here, so each of these is ONE join keyed on the
    // correlation column (the shape that survives 100 TB).
    assert(planCache("q85_exists_correlated").contains("LeftSemi"))
    assert(planCache("q86_in_subquery").contains("LeftSemi"))
    val q87 = planCache("q87_not_in_null")
    assert(q87.contains("LeftAnti"))
    assert(!q87.contains("NestedLoop"), "null-aware anti fell to nested loop")
    val q88 = planCache("q88_scalar_correlated")
    assert(q88.contains("HashAggregate") &&
      (q88.contains("BroadcastHashJoin") || q88.contains("SortMergeJoin")))
    val q92 = planCache("q92_not_exists")
    assert(q92.contains("LeftAnti") && !q92.contains("NestedLoop"))
    // multi-key correlation: BOTH equality predicates become join keys
    val q93 = planCache("q93_multikey_exists")
    assert(q93.contains("LeftSemi") && !q93.contains("NestedLoop"))
  }

  test("runtime bloom-filter pruning injects on selective shuffle joins at scale thresholds") {
    // The 100 TB shape: a big fact scan sort-merge-joined to a filtered
    // side gets a bloom filter injected on the fact side, so shuffle
    // input drops before the exchange. Spark gates the rewrite on the
    // application-side scan size (default 10 GB) — at toy scale it
    // correctly declines, so the spec pins BOTH behaviors.
    import org.apache.spark.sql.functions._
    def planWith(scanThreshold: String): String = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", scanThreshold)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      try {
        val li = Tables.lineitem(spark, dir)
        val sel = Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
        li.join(sel, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus")).count()
          .queryExecution.optimizedPlan.toString
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
    }
    assert(planWith("1KB").contains("bloom"),
      "no bloom filter injected despite scale-like thresholds")
    assert(!planWith("10GB").contains("bloom"),
      "bloom filter injected below the cost threshold — the gate is off")
  }

  test("selective predicates reach the parquet scans as pushed filters") {
    val pushed = raw"PushedFilters: \[[^\]]".r
    Seq("q02_filter_project", "q60_regexp_extract", "q66_shipping_priority")
      .foreach { name =>
        assert(pushed.findFirstIn(planCache(name)).isDefined,
          s"$name: no non-empty PushedFilters on any scan")
      }
  }
}
