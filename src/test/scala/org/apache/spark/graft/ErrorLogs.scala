package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession

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
