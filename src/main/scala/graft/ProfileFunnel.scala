package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scratch profiler for the r17 optimization round: attribute the
  * funnel family's wall time to its phases (NOT a declared query; not
  * registered in SparkEntry). Times each sub-plan with the bench's
  * noop-sink methodology, twice, reporting min.
  */
object ProfileFunnel {
  def t(label: String)(df: => DataFrame): Unit = {
    val ts = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      Bench.force(df)
      (System.nanoTime() - t0) / 1e9
    }
    println(f"$label%-28s ${ts.min}%.2f s   (runs: ${ts.map(x => f"$x%.2f").mkString(" ")})")
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession("ERROR")
    Bench.force(SparkEntry.entry(spark))
    import graft.functions.TextOps
    import graft.operators.{Corpus, NearDup, Graph}

    val docs = Tables.documents(spark, dir)
    // q159's gate: NB scoring of the full corpus
    val train = docs.filter(Corpus.hashBucket(col("doc_id")) < 90)
    val mdl = graft.sources.CachedArtifact.resolve(spark,
      new java.io.File(dir, "documents.parquet"), "nb_lang_512",
      Corpus.NbModel)(
      Corpus.buildNbModel(train, col("lang"), col("text"), _, buckets = 512): Unit)
    t("nb_score_full")(Corpus.scoreWithNbModel(spark, mdl, docs,
      col("doc_id"), col("text")))

    // funnel phases with the q110 heuristic gate
    def base0 = docs.select(col("doc_id"), col("text"), col("n_chars"))
      .withColumn("f1", TextOps.langId(col("text")) === "en")
    import graft.operators.Curation.{minQuality, minJaccard}
    def base = base0.withColumn("f2", col("f1") &&
      TextOps.qualityScore(col("text"), col("n_chars")) >= minQuality)
    t("base_flags_f1_f2")(base)
    def rep = Corpus.repetitionStats(base.filter(col("f2")), col("doc_id"), col("text"))
    t("repetition_stats")(rep)
    def withF3 = base.join(rep
        .filter(!Corpus.isRepetitive(col("distinct_ratio"),
          col("top_token_frac"), col("top_bigram_frac")))
        .select(col("doc_id"), lit(true).as("kr")), Seq("doc_id"), "left")
      .withColumn("f3", col("f2") && coalesce(col("kr"), lit(false)))
      .drop("kr")
    def keepExact = withF3.filter(col("f3"))
      .groupBy(TextOps.normalized(col("text")).as("norm"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(true).as("ke"))
    def withF4 = withF3.join(keepExact, Seq("doc_id"), "left")
      .withColumn("f4", col("f3") && coalesce(col("ke"), lit(false)))
      .drop("ke")
    t("flags_through_f4")(withF4)
    val withF4cp = withF4.localCheckpoint()
    def pairs = NearDup.ngramJaccardPairs(
        withF4cp.filter(col("f4")), col("doc_id"), col("text"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"))
    t("jaccard_pairs")(pairs)
    val pairsCp = pairs.localCheckpoint()
    t("connected_components") {
      val nodes = pairsCp.select(col("doc_a").as("id"))
        .unionByName(pairsCp.select(col("doc_b").as("id"))).distinct()
      Graph.connectedComponents(nodes, pairsCp, maxIter = 60)
    }
    t("q110_full")(PipelineQueries.q110CurationFunnel(spark, dir))
    t("q159_full")(PipelineQueries.q159NbFunnel(spark, dir))
    t("q117_full")(PipelineQueries.q117IncrementalCuration(spark, dir))

    // ---- funnel staging evidence (r18) ----
    // BEFORE (r17 funnelStages): withF4 built with NO staged base/withF3
    // — the full flag chain (scan + langId/quality flags [+ NB join in
    // q159] and the repetition agg) appears once PER REFERENCE in one
    // job plan. AFTER (r18): each stage reads the previous stage's
    // staged rows (LogicalRDD seam), so every subtree appears exactly
    // once across the three stage plans printed below.
    def explainOf(df: DataFrame): String = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    println("=== funnel withF4 plan: UNSTAGED (r17 shape) ===")
    println(explainOf(withF4))
    val baseSt = graft.operators.Stage.staged(base)
    val repSt = Corpus.repetitionStats(baseSt.filter(col("f2")),
        col("doc_id"), col("text"))
      .filter(!Corpus.isRepetitive(col("distinct_ratio"),
        col("top_token_frac"), col("top_bigram_frac")))
      .select(col("doc_id"), lit(true).as("kr"))
    val withF3St = graft.operators.Stage.staged(
      baseSt.join(repSt, Seq("doc_id"), "left")
        .withColumn("f3", col("f2") && coalesce(col("kr"), lit(false)))
        .drop("kr"))
    val keepExactSt = withF3St.filter(col("f3"))
      .groupBy(TextOps.normalized(col("text")).as("norm"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(true).as("ke"))
    val withF4St = withF3St.join(keepExactSt, Seq("doc_id"), "left")
      .withColumn("f4", col("f3") && coalesce(col("ke"), lit(false)))
      .drop("ke")
    println("=== funnel STAGED (r18): stage 1 = flagged base (computed once) ===")
    println(explainOf(base))
    println("=== funnel STAGED (r18): stage 2 = withF3 (reads staged base) ===")
    println(explainOf(withF3St))
    println("=== funnel STAGED (r18): stage 3 = withF4 (reads staged withF3) ===")
    println(explainOf(withF4St))

    // ---- pagerank attribution (q154 shape) ----
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val prPairs = o.join(li, o("o_orderkey") === li("l_orderkey"))
      .select(col("o_custkey").as("c"), (col("l_suppkey") + lit(10000000L)).as("s"))
      .distinct()
    t("pr_edge_build")(prPairs)
    val prPairsCp = prPairs.localCheckpoint()
    val edges = prPairsCp.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(prPairsCp.select(col("s").as("src"), col("c").as("dst")))
    val nodes = Tables.customer(spark, dir).select(col("c_custkey").as("id"))
      .unionByName(Tables.supplier(spark, dir)
        .select((col("s_suppkey") + lit(10000000L)).as("id")))
    t("pr_5iters_on_cp_edges")(Graph.pageRank(nodes, edges, iters = 5))
    // round-join plan: what strategy does e ⋈ ranks actually get?
    val out = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val e = edges.join(out, Seq("src")).repartition(col("src")).persist()
    val ranks = nodes.toDF("id").withColumn("pr", lit(1.0))
      .localCheckpoint(eager = false)
    val contrib = e.join(ranks, e("src") === ranks("id"))
      .select(e("dst").as("id"), (col("pr") / col("outdeg")).as("c"))
      .groupBy(col("id")).agg(sum(col("c").cast("decimal(27,10)")).as("s"))
    println("=== pagerank round-join plan ===")
    println(contrib.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode).take(4000))
    spark.stop()
  }
}
