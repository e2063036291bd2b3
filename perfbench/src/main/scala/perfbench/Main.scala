package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, one JVM per run:
  *
  *   perfbench.Main --workload <pipeline|serve> --seed <n> --seconds <s>
  *                  --trace <0|1> --work <dir> --out <result.json>
  *                  [--gen-only] [--corrupt]
  *
  * Generates the workload's inputs from the seed under `work`, sets up,
  * measures for `seconds`, checks outputs and writes one JSON result.
  * `--gen-only` stops after generating inputs; `--corrupt` deliberately
  * damages one checked output (the self-check that a bad output counts
  * as failed). Normally launched by run.py.
  */
object Main {

  /** Per-run state shared by the workloads. */
  final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                  val trace: Boolean, val work: String, val corrupt: Boolean,
                  val counters: Option[Counters]) {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val calib = mutable.ArrayBuffer.empty[Calib.Point]
    /** Time (ms) of every cycle of the window; None when one of its
      * operations failed. */
    val cycleMs = mutable.ArrayBuffer.empty[Option[Double]]
    /** Raw samples behind the reported medians, kept in the result file. */
    val sampleSets = mutable.LinkedHashMap.empty[String, Seq[Double]]
    def samples(name: String, xs: Seq[Double]): Unit = sampleSets(name) = xs
    var attempted = 0L
    var failed = 0L
    var windowStartNs = 0L
    var overheadNs = 0L

    def metric(name: String, value: Double, unit: String): Unit =
      metrics(name) = (value, unit)

    def check(name: String, ok: Boolean, detail: String = ""): Unit = {
      checks += ((name, ok, detail))
      attempted += 1
      if (!ok) failed += 1
      if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name $detail")
    }

    /** Runs one operation, counting it; an exception is a failed op. */
    def attempt[A](what: String)(body: => A): Option[A] = {
      attempted += 1
      try Some(body)
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        None
      }
    }

    def startWindow(): Unit = {
      System.gc() // the window starts from a collected heap
      calib += Calib.point(spark)
      counters.foreach(_.resetPeak())
      windowStartNs = System.nanoTime()
    }
    def deadlinePassed: Boolean = System.nanoTime() - windowStartNs >= seconds * 1e9
    /** Ends a cycle: records its time and takes a calibration point
      * after it, outside the window's time. */
    def endCycle(ms: Option[Double]): Unit = {
      cycleMs += ms
      val t0 = System.nanoTime()
      calib += Calib.point(spark)
      pausedNs += System.nanoTime() - t0
    }
    private var pausedNs = 0L
    /** Seconds since the window opened, without the calibration pause. */
    def windowSeconds: Double = (System.nanoTime() - windowStartNs - pausedNs) / 1e9

    /** Raw latency (ms) of every measured operation, and the window's
      * throughput. */
    def opMetrics(opMs: Seq[Double], windowS: Double): Unit = if (opMs.nonEmpty) {
      samples("op_ms", opMs)
      metric("ops", opMs.size, "count")
      metric("op_p50_ms", Stats.median(opMs), "ms")
      metric("ops_per_s", opMs.size / windowS, "1/s")
    }

    /** Emits the per-operation engine counters between two snapshots. */
    def sparkPerOp(before: Option[Array[Long]], after: Option[Array[Long]],
                   ops: Int): Unit = for (b <- before; e <- after) {
      import Counters._
      def d(k: Int): Double = (e(k) - b(k)).toDouble / math.max(1, ops)
      metric("spark.cpu_s", d(CpuNs) / 1e9, "s/op")
      metric("spark.run_s", d(RunMs) / 1e3, "s/op")
      metric("spark.gc_s", d(GcMs) / 1e3, "s/op")
      metric("spark.input_bytes", d(InputBytes), "B/op")
      metric("spark.output_bytes", d(OutputBytes), "B/op")
      metric("spark.shuffle_write_bytes", d(ShuffleWriteBytes), "B/op")
      metric("spark.shuffle_read_bytes", d(ShuffleReadBytes), "B/op")
      metric("spark.spill_bytes", d(SpillBytes), "B/op")
      metric("spark.stages", d(Stages), "count/op")
      metric("spark.tasks", d(Tasks), "count/op")
      metric("spark.exchanges", d(Exchanges), "count/op")
      counters.foreach(c => metric("spark.resident_peak_bytes", c.peakResidentBytes.toDouble, "B"))
    }

    /** Engine counter totals, or None untraced. Draining the listener
      * bus is tracing cost and is counted as overhead. */
    def counterSnapshot(): Option[Array[Long]] = counters.map { c =>
      val t0 = System.nanoTime()
      val s = c.snapshot(spark)
      overheadNs += System.nanoTime() - t0
      s
    }
  }

  /** Layers whose self time the traced run reports: module names, and
    * `plan`, the plan call of a serve request (until the DataFrame is
    * returned). From outside, that call cannot be split further: it holds
    * Versioned's log replay and relation resolution as well as the
    * building of the Retrieval/Similarity plans. */
  val Layers = Seq("sources", "clean", "queries", "plan", "retrieval",
    "similarity", "tombstones", "scheduler")

  /** A cycle holds one operation of each type (a pipeline pass, or one
    * serve request of each type), so a change to any type moves its time.
    * `cycle_norm` is the median cycle time in units of the calibration
    * kernel's time at the points just before and after that cycle: host
    * speed, which drifts within a run, cancels; engine speed does not. */
  private def cycleMetrics(ctx: Ctx, kernelMs: Seq[Double]): Unit = {
    val cycles = ctx.cycleMs.toSeq
    ctx.samples("cycle_ms", cycles.flatten)
    val norm = cycles.zipWithIndex.collect { case (Some(ms), i) =>
      ms / ((kernelMs(i) + kernelMs(i + 1)) / 2) }
    if (norm.nonEmpty) {
      ctx.metric("cycle_p50_ms", Stats.median(cycles.flatten), "ms")
      ctx.metric("cycle_norm", Stats.median(norm), "x")
    }
  }

  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val workload = a("--workload")
    val seed = a("--seed").toLong
    val work = a("--work")
    val flags = argv.toSet
    val wl: Workload = workload match {
      case "pipeline" => PipelineWorkload
      case "serve" => ServeWorkload
      case other => sys.error(s"unknown workload $other")
    }
    if (flags("--gen-only")) { wl.generate(s"$work/data", seed); return }

    val trace = a("--trace") == "1"
    val t0 = System.nanoTime()
    val spark = session()
    val counters = if (trace) Some(Counters.register(spark)) else None
    val ctx = new Ctx(spark, seed, a("--seconds").toInt, trace, work,
      flags("--corrupt"), counters)
    Seq.fill(3)(Calib.point(spark)) // warms the kernel itself; every later point is comparable
    Trace.enabled = trace
    ctx.metric("session_s", (System.nanoTime() - t0) / 1e9, "s")
    try wl.run(ctx)
    catch { case e: Exception =>
      e.printStackTrace()
      ctx.check("workload completed", ok = false, e.toString)
    }
    while (ctx.calib.size < 3) ctx.calib += Calib.point(spark)
    ctx.samples("calib_loop_ms", ctx.calib.map(_.loopMs).toSeq)
    ctx.samples("calib_par_ms", ctx.calib.map(_.parMs).toSeq)
    ctx.samples("calib_spark_ms", ctx.calib.map(_.sparkMs).toSeq)
    val cal = ctx.calib.map(_.ms).toSeq
    cycleMetrics(ctx, cal)
    // The window-start point follows set-up directly and reads 1.1–1.5x
    // the later ones on a quiet host: it carries set-up's after-effects in
    // this process (JIT compilation, collection), not the host's speed, so
    // the host's drift is taken over the points after each cycle.
    val later = cal.drop(1)
    val drift = (later.max - later.min) / later.min
    ctx.metric("host.calib_ms", Stats.median(cal), "ms")
    ctx.metric("host.calib_drift", drift, "frac")
    ctx.metric("failed_frac", ctx.failed.toDouble / math.max(1L, ctx.attempted), "frac")
    if (trace) {
      val self = Trace.selfByLayer
      val total = Trace.all.filter(_.parent < 0).map(s => s.end - s.start).sum.max(1L)
      Layers.foreach(l => ctx.metric(s"self.$l", self.getOrElse(l, 0.0) * 1e9 / total, "frac"))
      val windowNs = System.nanoTime() - ctx.windowStartNs
      ctx.metric("trace.overhead_frac",
        (Trace.bookkeepingNs + ctx.overheadNs).toDouble / windowNs, "frac")
      Trace.writeJsonl(s"$work/spans.jsonl")
      val summary = Map(
        "self_s_by_layer" -> self, "self_s_by_span" -> Trace.selfByName,
        "spans" -> Trace.all.size, "traced_top_level_s" -> total / 1e9)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/trace_summary.json"),
        Stats.json(summary).getBytes("UTF-8"))
    }
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "calib_points_ms" -> cal,
      "samples" -> ctx.sampleSets.toMap,
      "checks" -> ctx.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "metrics" -> ctx.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)
    java.nio.file.Files.write(java.nio.file.Paths.get(a("--out")),
      Stats.json(result).getBytes("UTF-8"))
    spark.stop()
  }
}

/** One named benchmark workload. */
trait Workload {
  /** Writes the workload's seeded inputs under `dir`. */
  def generate(dir: String, seed: Long): Unit
  /** Set-up, measured window and output checks; fills ctx. */
  def run(ctx: Main.Ctx): Unit
}
