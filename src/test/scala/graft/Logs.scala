package graft

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** Capture what a logger logs while a body runs (log4j2, which Spark logs
  * through).
  */
object Logs {

  /** Spark's file-source resolution, which warns about ignored read paths. */
  val DataSource = "org.apache.spark.sql.execution.datasources.DataSource"

  /** The messages `logger` logged, at its configured level, while `body`
    * ran.
    */
  def during(logger: String)(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(s"capture-${java.util.UUID.randomUUID()}",
        null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    val target = LogManager.getLogger(logger).asInstanceOf[Logger]
    appender.start()
    target.addAppender(appender)
    try body
    finally {
      target.removeAppender(appender)
      appender.stop()
    }
    seen.asScala.toSeq
  }
}
