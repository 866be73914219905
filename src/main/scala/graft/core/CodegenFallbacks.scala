package graft.core

import java.util.concurrent.atomic.AtomicLong

/** Counts whole-stage codegen fallbacks in this JVM. When generated code
  * outgrows the JVM's 64 KB method limit, Janino rejects it, Spark's
  * CodeGenerator logs the failed compile, and the stage runs interpreted
  * — slower, and the rejected compile is repeated on every execution
  * because failures are not cached. An appender on the root logger
  * counts those log events.
  *
  * Opt-in: the bench, the verify dump and the tests call [[install]];
  * sessions never do. The root logger must pass ERROR events (the WARN
  * and ERROR levels those callers set do).
  */
object CodegenFallbacks {
  private val seen = new AtomicLong(0L)
  private var installed = false

  /** Fallbacks counted since [[install]]. */
  def count: Long = seen.get

  private def mentions(t: Throwable): Boolean =
    t != null && ((t.getMessage != null &&
      t.getMessage.contains("grows beyond 64 KB")) ||
      (t.getCause != t && mentions(t.getCause)))

  /** Attaches the counting appender once per JVM; later calls are no-ops. */
  def install(): Unit = synchronized {
    if (!installed) {
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
      import org.apache.logging.log4j.core.appender.AbstractAppender
      import org.apache.logging.log4j.core.config.Property
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val appender = new AbstractAppender(
          "graft-codegen-fallbacks", null, null, true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit = {
          val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
          if (e.getLoggerName.endsWith("CodeGenerator") &&
              (msg.contains("grows beyond 64 KB") || mentions(e.getThrown)))
            seen.incrementAndGet()
        }
      }
      appender.start()
      ctx.getConfiguration.addAppender(appender)
      ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
      ctx.updateLoggers()
      installed = true
    }
  }

  /** Runs `body` and returns its result with the fallbacks it caused
    * (all threads — callers run one query at a time).
    */
  def during[T](body: => T): (T, Long) = {
    val before = count
    val r = body
    (r, count - before)
  }
}
