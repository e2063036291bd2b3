package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters collected from outside the engine: a SparkListener
  * (task metrics, stages, resident RDD/staged blocks) and a
  * QueryExecutionListener (exchanges in each query's final AQE plan).
  * Registered by the harness; no engine class is changed.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  import Counters._
  private val c = Array.fill(Names.length)(new AtomicLong)
  private def add(k: Int, v: Long): Unit = c(k).addAndGet(v): Unit

  private val blocks = TrieMap.empty[String, Long]
  private val resident = new AtomicLong
  private val peak = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add(Tasks, 1)
    val m = e.taskMetrics
    if (m != null) {
      add(CpuNs, m.executorCpuTime)
      add(RunMs, m.executorRunTime)
      add(GcMs, m.jvmGCTime)
      add(InputBytes, m.inputMetrics.bytesRead)
      add(OutputBytes, m.outputMetrics.bytesWritten)
      add(ShuffleWriteBytes, m.shuffleWriteMetrics.bytesWritten)
      add(ShuffleReadBytes, m.shuffleReadMetrics.totalBytesRead)
      add(SpillBytes, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add(Stages, 1)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val before = if (size > 0) blocks.put(key, size) else blocks.remove(key)
      val now = resident.addAndGet(size - before.getOrElse(0L))
      peak.accumulateAndGet(now, (a, b) => math.max(a, b)): Unit
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    add(Exchanges, exchanges(qe.executedPlan))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Current totals (the peak is reset to the resident level). */
  def snapshot(spark: SparkSession): Array[Long] = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    c.map(_.get)
  }

  def resetPeak(): Unit = peak.set(resident.get)
  def peakResidentBytes: Long = peak.get
}

object Counters {
  val Names = Array("cpu_ns", "run_ms", "gc_ms", "input_bytes", "output_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "stages",
    "tasks", "exchanges")
  val CpuNs = 0; val RunMs = 1; val GcMs = 2; val InputBytes = 3
  val OutputBytes = 4; val ShuffleWriteBytes = 5; val ShuffleReadBytes = 6
  val SpillBytes = 7; val Stages = 8; val Tasks = 9; val Exchanges = 10

  /** Shuffle and broadcast exchanges in the plan as it finally ran: AQE
    * query stages (each wraps one exchange) and any exchange outside AQE.
    */
  def exchanges(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => 1L + s.plan.children.map(exchanges).sum
    case e: Exchange => 1L + e.children.map(exchanges).sum
    case p => p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }

  def register(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}
