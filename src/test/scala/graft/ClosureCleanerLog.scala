package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}

object LogCapture {
  /** The messages `logger` logs at `level` or above while `body` runs.
    * Touches the shared `SparkSpec.session` first: creating it sets the log
    * level to WARN, which inside the capture would undo the capture's own
    * level and swallow what it is there to see. */
  def apply(logger: String, level: Level)(body: => Unit): Seq[String] = {
    SparkSpec.session
    val lines = new ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("log-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val before = LogManager.getLogger(logger).getLevel
    Configurator.setLevel(logger, level)
    val cfg = ctx.getConfiguration.getLoggerConfig(logger)
    cfg.setAdditive(false)
    cfg.addAppender(capture, level, null)
    ctx.updateLoggers()
    try body finally {
      cfg.removeAppender(capture.getName)
      cfg.setAdditive(true)
      Configurator.setLevel(logger, before)
      capture.stop()
    }
    lines.asScala.toSeq
  }
}

object ClosureCleanerLog {
  /** Records what Spark's closure cleaner logs at DEBUG — one "Cleaning …"
    * line per closure it cleans — while `body` runs. */
  def apply(body: => Unit): Seq[String] =
    LogCapture("org.apache.spark.util.ClosureCleaner", Level.DEBUG)(body).filter(_.contains("Cleaning"))
}
