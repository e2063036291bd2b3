package org.apache.spark.graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLongArray
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The engine's one SparkListener. [[EngineListener.measure]] runs a block
  * under a private job group (broadcast and subquery jobs inherit the
  * caller's local properties) and returns what that group's jobs did:
  * host-independent counters, never wall time. The listener registers on
  * a context's first measurement and stays (once per SparkContext, an
  * idempotent setup); events outside an open measurement are dropped.
  * The bus drain before the read (`listenerBus.waitUntilEmpty`) is
  * `private[spark]`, hence this package.
  */
object EngineListener {

  /** What one measured block's jobs did. `stages` counts completed
    * stages (a skipped stage never runs); spill is memory + disk.
    */
  final case class Counts(jobs: Int, stages: Int, tasks: Int,
      inputBytes: Long, inputRecords: Long,
      shuffleWriteBytes: Long, shuffleWriteRecords: Long,
      shuffleReadRecords: Long, spillBytes: Long)

  private final class Acc {
    val c = new AtomicLongArray(9)
    def add(i: Int, v: Long): Unit = c.addAndGet(i, v): Unit
    def counts: Counts = Counts(c.get(0).toInt, c.get(1).toInt,
      c.get(2).toInt, c.get(3), c.get(4), c.get(5), c.get(6), c.get(7),
      c.get(8))
  }

  private final class Listener extends SparkListener {
    val groups = new ConcurrentHashMap[String, Acc] // open measurements
    val stages = new ConcurrentHashMap[Int, Acc]    // stage id -> its group

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties)
        .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
        .flatMap(g => Option(groups.get(g)))
        .foreach { a => a.add(0, 1); e.stageIds.foreach(stages.put(_, a)) }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach(_.add(1, 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get(e.stageId)).foreach { a =>
        a.add(2, 1)
        Option(e.taskMetrics).foreach { m =>
          a.add(3, m.inputMetrics.bytesRead)
          a.add(4, m.inputMetrics.recordsRead)
          a.add(5, m.shuffleWriteMetrics.bytesWritten)
          a.add(6, m.shuffleWriteMetrics.recordsWritten)
          a.add(7, m.shuffleReadMetrics.recordsRead)
          a.add(8, m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }

  private val registered = new java.util.WeakHashMap[SparkContext, Listener]

  private def listener(sc: SparkContext): Listener = registered.synchronized {
    Option(registered.get(sc)).getOrElse {
      val l = new Listener
      sc.addSparkListener(l)
      registered.put(sc, l)
      l
    }
  }

  /** Run `body` and count what its jobs did. The bus is drained before
    * the counters are read, so every task-end of the block is in them.
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val l = listener(sc)
    val group = s"graft-measure-${java.util.UUID.randomUUID()}"
    val acc = new Acc
    l.groups.put(group, acc)
    sc.setJobGroup(group, "graft measurement")
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, acc.counts)
    } finally {
      sc.clearJobGroup()
      l.groups.remove(group)
      l.stages.values.removeIf(_ eq acc): Unit
    }
  }
}
