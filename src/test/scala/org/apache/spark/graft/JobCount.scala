package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block runs. Jobs are tagged with a private job
  * group (broadcast and subquery jobs inherit the caller's local
  * properties), and the listener bus is drained before the count is read
  * — it is `private[spark]`, hence this package.
  */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

/** Counts the ERROR events the root logger receives while a block runs,
  * listener-bus errors included: the bus is drained before the count is
  * read (a failed query's listener callbacks run there, asynchronously).
  */
object ErrorLogs {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val errors = new AtomicInteger
    val name = s"graft-errors-${java.util.UUID.randomUUID()}"
    val appender = new AbstractAppender(name, null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR))
          errors.incrementAndGet(): Unit
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.ERROR, null)
    ctx.updateLoggers()
    try {
      val out = body
      spark.sparkContext.listenerBus.waitUntilEmpty()
      (out, errors.get)
    } finally {
      root.removeAppender(name)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
