package perfbench

import org.apache.spark.sql.SparkSession

/** Host-health control: a fixed kernel, timed at the start of the
  * measured window and after every cycle in it. The kernel never
  * changes with the engine, so drift between its points measures the
  * host, not the code, and the end-to-end latency is also reported in
  * units of the kernel's time.
  *
  * One point times three parts: a pure-JVM CPU loop on one thread, the
  * same loop on every core at once, and one tiny Spark job.
  */
object Calib {
  final case class Point(loopMs: Double, parMs: Double, sparkMs: Double) {
    def ms: Double = loopMs + parMs + sparkMs
  }

  @volatile private var sink = 0L

  private def cpuLoop(): Unit = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    sink ^= x
  }

  private def parLoop(): Unit = {
    val ts = Seq.fill(Runtime.getRuntime.availableProcessors)(new Thread(() => cpuLoop()))
    ts.foreach(_.start()); ts.foreach(_.join())
  }

  private def sparkJob(spark: SparkSession): Unit =
    sink ^= spark.range(0L, 400000L, 1L, 4).selectExpr("sum(id % 7) AS s")
      .collect()(0).getLong(0)

  private def ms(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  def point(spark: SparkSession): Point =
    Point(ms(cpuLoop()), ms(parLoop()), ms(sparkJob(spark)))
}
