package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}

object ClosureCleanerLog {
  /** Records what Spark's closure cleaner logs at DEBUG — one "Cleaning …"
    * line per closure it cleans — while `body` runs. */
  def apply(body: => Unit): Seq[String] = {
    val name = "org.apache.spark.util.ClosureCleaner"
    val lines = new ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("closure-cleaner-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val level = LogManager.getLogger(name).getLevel
    Configurator.setLevel(name, Level.DEBUG)
    val cfg = ctx.getConfiguration.getLoggerConfig(name)
    cfg.setAdditive(false)
    cfg.addAppender(capture, Level.DEBUG, null)
    ctx.updateLoggers()
    try body finally {
      cfg.removeAppender(capture.getName)
      cfg.setAdditive(true)
      Configurator.setLevel(name, level)
      capture.stop()
    }
    lines.asScala.toSeq.filter(_.contains("Cleaning"))
  }
}
