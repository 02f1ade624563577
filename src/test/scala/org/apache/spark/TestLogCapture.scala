package org.apache.spark

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import scala.jdk.CollectionConverters._

/** Test capture of log output: a log4j2 appender attached to the root
  * logger for one block. Returns the block's result and the formatted
  * message of every event logged meanwhile, at the levels the loggers
  * already pass (no level is changed). */
object TestLogCapture {
  def capture[A](body: => A): (A, Seq[String]) = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-test-log-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try {
      val a = body
      (a, lines.asScala.toSeq)
    } finally {
      root.removeAppender(appender)
      appender.stop()
    }
  }
}
