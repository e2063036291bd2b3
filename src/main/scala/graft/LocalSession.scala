package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession every main starts under the engine's declared
  * semantics — the settings every spec session uses: UTC, ANSI off, no
  * UI, one shuffle partition per core. Cores come from
  * `SPARK_GRAFT_CPUS`, else the JVM's available processors.
  */
object LocalSession {
  private def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .flatMap(_.toIntOption).getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(logLevel: String = "WARN", cores: Int = envCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
