package perfbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.app.{DailyMaintenance, Scheduler}
import graft.operators.{Retrieval, Similarity}
import graft.sources.Versioned

/** `serve`: a closed loop with one client sending seeded requests to
  * indexes that the daily-maintenance tier built and maintains.
  *
  * Set-up is the maintenance side: day 0 of DailyMaintenance (the BM25
  * and IVF builds and a takedown) runs through the public
  * Scheduler.tickStagesFor with DailyMaintenance.stages' own closures;
  * then a few more batches are appended to the BM25 index and it is
  * compacted, which leaves more pinned versions than Versioned's
  * relation cache keeps (4).
  *
  * The corpus has the shape of the engine's sf0.1 documents/embeddings
  * (see Gen). Requests cycle through five op types with seeded
  * parameters, one of each per cycle: bm25 (1–4 terms, each the rare
  * `dup` with probability 1/4, else a common word), bm25_many, ann
  * (stored vectors, slightly perturbed), hybrid (BM25 + IVF, RRF) and
  * asof_bm25 (a pinned read of a random retained version). Latest-version
  * reads fit the relation cache; the pinned reads' working set does not.
  * A request's latency is its plan call (until the DataFrame is
  * returned) plus collecting the result. The window runs whole cycles
  * until it has passed.
  */
object ServeWorkload extends Workload {
  val Initial = 4400
  val Appends = 3
  val PerAppend = 200
  val K = 10
  val Interval = 24L * 3600 * 1000
  val RecallFloor = 0.4
  val Ops = Seq("bm25", "ann", "bm25_many", "asof_bm25", "hybrid")
  val Day0Stages = Set("bm25_append", "ivf_append", "takedown")
  val LayerOf = Map("bm25_append" -> "retrieval",
    "ivf_append" -> "similarity", "takedown" -> "tombstones")

  def generate(dir: String, seed: Long): Unit =
    Gen.serveCorpus(dir, Initial, Appends, PerAppend, seed)

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("day", IntegerType),
    StructField("lang", StringType), StructField("n_chars", LongType),
    StructField("text", StringType)))
  private val vecSchema = StructType(Seq(
    StructField("id", LongType), StructField("day", IntegerType),
    StructField("vec", ArrayType(FloatType))))

  private def idsOf(path: String, key: String): Seq[Long] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().flatMap(l => s""""$key":(\\d+)""".r.findFirstMatchIn(l))
      .map(_.group(1).toLong).toVector finally src.close()
  }

  private def terms(rnd: Random): Seq[String] =
    Seq.fill(1 + rnd.nextInt(4))(
      if (rnd.nextInt(4) == 0) Gen.Rare else Gen.Vocab(rnd.nextInt(Gen.Vocab.length))).distinct

  /** A stored vector moved by a small seeded perturbation, renormalised. */
  private def perturb(v: Array[Float], rnd: Random): Seq[Float] = {
    val p = v.map(x => x + 0.02 * rnd.nextGaussian())
    val n = math.sqrt(p.map(x => x * x).sum)
    p.map(x => (x / n).toFloat).toSeq
  }

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val data = s"${ctx.work}/data"
    val idx = s"${ctx.work}/idx"
    val bm25 = s"$idx/bm25"
    val ivf = s"$idx/ivf"

    // ---- set-up: inputs, day-0 maintenance, appends, compaction ----
    Trace.request = -1
    val s0 = System.nanoTime()
    generate(data, ctx.seed)
    val docs = spark.read.schema(docSchema).json(s"$data/docs.jsonl")
    val vecs = spark.read.schema(vecSchema).json(s"$data/vecs.jsonl")
    val takedown = idsOf(s"$data/takedown.jsonl", "doc_id")
    def day(d: Int) = docs.filter(col("day") === d).select("doc_id", "text", "n_chars", "lang")
    val day0 = Trace.span("Scheduler.tickStagesFor", "scheduler") {
      Scheduler.tickStagesFor(spark, idx, b =>
        DailyMaintenance.stages(spark, day(0), vecs.filter(col("day") === 0).select("id", "vec"),
          idx, boundary = b, intervalMs = Interval,
          takedown = Some(docs.filter(col("doc_id").isin(takedown: _*)).select("doc_id", "text")))
          .filter { case (n, _) => Day0Stages(n) }
          .map { case (n, f) => n -> (() => Trace.span(n, LayerOf(n))(f())) },
        nowMs = Interval + 1, intervalMs = Interval, retryDelayMs = 0L, sleep = _ => ())
    }
    if (day0.isEmpty || !day0.forall(_._2.last.ok))
      sys.error(s"day-0 maintenance failed: ${day0.map(s => s._1 -> s._2.last.error)}")
    ctx.metric("serve.retries", day0.map(_._2.size - 1).sum.toDouble, "count")
    for (d <- 1 to Appends)
      Trace.span("Retrieval.appendToBm25Index", "retrieval")(
        Retrieval.appendToBm25Index(day(d), col("doc_id"), col("text"), bm25))
    Trace.span("Retrieval.compactBm25Index", "retrieval")(Retrieval.compactBm25Index(spark, bm25))
    val latest = Versioned.latestVersion(spark, s"$bm25/postings")
    val liveDocs = docs.filter(!col("doc_id").isin(takedown: _*)).select("doc_id", "text")
    val liveVecs = vecs.filter(col("day") === 0 && !col("id").isin(takedown: _*)).select("id", "vec")
    val annPool = liveVecs.orderBy("id").limit(64).collect()
      .map(r => r.getSeq[Float](1).toArray)

    /** Request `i` of type `op`: its seeded parameters, and the plan call. */
    def request(i: Int, op: String): () => DataFrame = {
      val rnd = new Random(ctx.seed * 1000003L + i)
      def qvecs(n: Int) = (0 until n).map { q =>
        val v = annPool(rnd.nextInt(annPool.length))
        (q.toLong, perturb(v, rnd))
      }
      op match {
        case "bm25" => val t = terms(rnd)
          () => Retrieval.queryBm25Index(spark, bm25, t, K)
        case "bm25_many" => val qs = (0 until 3).map(q => (q.toLong, terms(rnd)))
          () => Retrieval.queryBm25IndexMany(spark, bm25, qs.toDF("query_id", "terms"), K)
        case "ann" => val qv = qvecs(2)
          () => Similarity.queryIvfIndex(spark, ivf, qv.toDF("id", "vec"), K)
        case "hybrid" => val qs = qvecs(2).map { case (q, v) => (q, terms(rnd), v) }
          () => Retrieval.hybridSearch(spark, bm25, ivf, qs.toDF("query_id", "terms", "vec"), K)
        case "asof_bm25" => val t = terms(rnd); val v = rnd.nextInt(latest.toInt + 1).toLong
          () => Retrieval.queryBm25Index(spark, bm25, t, K, asOf = Some(v))
      }
    }
    def send(op: String, f: () => DataFrame): Option[(String, Double, Double)] =
      ctx.attempt(s"request $op") {
        val t0 = System.nanoTime()
        val df = Trace.span(s"plan.$op", "plan")(f())
        val t1 = System.nanoTime()
        Trace.span(s"exec.$op", if (op == "ann") "similarity" else "retrieval")(df.collect())
        (op, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
      }
    // warm pass: one request of each type
    Ops.zipWithIndex.foreach { case (op, j) => send(op, request(-1 - j, op)) }
    ctx.metric("setup_s", (System.nanoTime() - s0) / 1e9, "s")
    if (ctx.trace) {
      val setupSpans = Trace.all
      def sum(p: String => Boolean) = setupSpans.filter(s => p(s.name)).map(s => s.end - s.start).sum / 1e9
      val stages = sum(Day0Stages)
      ctx.metric("serve.day0_s", sum(_ == "Scheduler.tickStagesFor"), "s")
      ctx.metric("serve.build_s", sum(Set("bm25_append", "ivf_append")), "s")
      ctx.metric("serve.takedown_s", sum(_ == "takedown"), "s")
      ctx.metric("serve.scheduler_s", sum(_ == "Scheduler.tickStagesFor") - stages, "s")
      ctx.metric("serve.append_s", sum(_ == "Retrieval.appendToBm25Index") / Appends, "s")
      ctx.metric("serve.compact_s", sum(_ == "Retrieval.compactBm25Index"), "s")
    }

    // ---- measured window: closed loop, one client ----
    ctx.startWindow()
    val before = ctx.counterSnapshot()
    val done = mutable.ArrayBuffer.empty[(String, Double, Double)]
    var cycle = mutable.ArrayBuffer.empty[Double]
    var i = 0
    // whole cycles only, so every run measures the same op mix
    while (i % Ops.size != 0 || i == 0 || !ctx.deadlinePassed) {
      Trace.request = i
      val op = Ops(i % Ops.size)
      send(op, request(i, op)).foreach { r => done += r; cycle += r._2 + r._3 }
      if ((i + 1) % Ops.size == 0) {
        // a cycle with a failed request has no comparable time
        ctx.endCycle(if (cycle.size == Ops.size) Some(cycle.sum * 1e3) else None)
        cycle = mutable.ArrayBuffer.empty[Double]
      }
      i += 1
    }
    val windowS = ctx.windowSeconds
    ctx.sparkPerOp(before, ctx.counterSnapshot(), done.size)

    ctx.opMetrics(done.map(r => (r._2 + r._3) * 1e3).toSeq, windowS)
    if (done.nonEmpty) {
      ctx.metric("plan_p50_ms", Stats.median(done.map(_._2).toSeq) * 1e3, "ms")
      ctx.metric("exec_p50_ms", Stats.median(done.map(_._3).toSeq) * 1e3, "ms")
      Ops.foreach { op =>
        val xs = done.filter(_._1 == op).map(r => r._2 + r._3).toSeq
        if (xs.nonEmpty) ctx.metric(s"serve.${op}_p50_ms", Stats.median(xs) * 1e3, "ms")
      }
      // where a relation-cache change shows: pinned reads' plan calls
      val asofPlan = done.filter(_._1 == "asof_bm25").map(_._2).toSeq
      if (asofPlan.nonEmpty) ctx.metric("serve.asof_plan_p50_ms", Stats.median(asofPlan) * 1e3, "ms")
    }
    ctx.metric("serve.space_amp", dirBytes(new java.io.File(idx)).toDouble /
      new java.io.File(s"$data/docs.jsonl").length, "ratio")
    ctx.metric("serve.bm25_versions", latest + 1.0, "count")

    // ---- output checks ----
    Trace.request = -2
    checks(ctx, liveDocs, liveVecs, bm25, ivf, annPool)
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum else f.length

  /** BM25: the maintained index answers a fixed probe set exactly as
    * Retrieval.bm25TopK computes it inline over the surviving documents.
    * ANN: recall@10 of the IVF probe against Similarity.bruteForceTopK
    * over the live vectors, held to a floor. */
  private def checks(ctx: Main.Ctx, live: DataFrame, liveVecs: DataFrame,
                     bm25: String, ivf: String, annPool: Array[Array[Float]]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    def top(df: DataFrame): Seq[(Long, Double)] =
      df.select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def same(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Boolean =
      a.size == b.size && a.zip(b).forall { case (x, y) => x._1 == y._1 && math.abs(x._2 - y._2) < 1e-6 }
    val rnd = new Random(ctx.seed * 17 + 3)
    Seq.fill(3)(terms(rnd)).zipWithIndex.foreach { case (t, i) =>
      val served0 = top(Retrieval.queryBm25Index(spark, bm25, t, K))
      val served = if (ctx.corrupt && i == 0) served0.drop(1) else served0
      val inline = top(Retrieval.bm25TopK(live, col("doc_id"), col("text"), t, K))
      ctx.check(s"bm25 index = bm25TopK inline [${t.mkString(" ")}]",
        same(served, inline), s"${served.take(3)} vs ${inline.take(3)}")
    }
    val qv = (0 until 16).map(q =>
      (q.toLong, perturb(annPool(rnd.nextInt(annPool.length)), rnd))).toDF("id", "vec")
    val got = Similarity.queryIvfIndex(spark, ivf, qv, K)
      .select("query_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Similarity.bruteForceTopK(qv, liveVecs, K)
      .select("query_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.count(truth).toDouble / math.max(1, truth.size)
    ctx.metric("serve.ann_recall_at_10", recall, "frac")
    ctx.check("ann recall@10 >= floor", recall >= RecallFloor, f"$recall%.3f")
  }
}
