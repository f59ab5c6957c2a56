package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import scala.jdk.CollectionConverters._

/** Captures what the root log4j logger emits while a block runs. */
object LogCapture {

  /** `body`'s result, and every event's formatted message plus its
    * throwable (if any), one string per event, logged while it ran.
    */
  def lines[T](body: => T): (T, Seq[String]) = {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender(s"capture-${System.nanoTime}", null,
        null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        buf.add(e.getMessage.getFormattedMessage +
          Option(e.getThrown).fold("")(t => s" $t"))
    }
    app.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(app)
    val result =
      try body
      finally {
        root.removeAppender(app)
        app.stop()
      }
    (result, buf.asScala.toSeq)
  }
}
