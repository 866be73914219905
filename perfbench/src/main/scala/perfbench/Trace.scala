package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job as the traced run saw it. `span` is the `opId/phase`
  * label the harness set as a local property before calling into the
  * engine; `name` is the result stage's name, Spark's short call site
  * (`parquet at GraftSession.scala:77`, `localCheckpoint at …`).
  */
final class JobRec(val jobId: Int, val span: String, val name: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def kind: String =
    if (name.startsWith("parquet at ")) "open"
    else if (name.startsWith("localCheckpoint at ")) "materialize"
    else if (name.startsWith("text at ")) "write"
    else "other"
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Collects job, stage and task events of jobs that carry a span label.
  * Attached only while a traced pass runs; jobs without a label are
  * ignored.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.SpanKey)))
    span.foreach { s =>
      val name = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
      val rec = new JobRec(e.jobId, s, name, e.time)
      jobs(e.jobId) = rec
      e.stageIds.foreach(id => stageJob.getOrElseUpdate(id, rec))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.taskMs += m.executorRunTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Removes and returns every job recorded so far. */
  def drain(): Seq[JobRec] = synchronized {
    val out = jobs.values.toSeq
    jobs.clear(); stageJob.clear()
    out
  }
}

object JobListener {
  val SpanKey = "perfbench.span"

  /** Blocks until the listener bus has delivered every posted event.
    * `listenerBus` is package-private in Scala and public in bytecode.
    */
  def waitForEvents(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

/** A traced interval. Times are microseconds since the epoch, so job spans
  * (timed by Spark's own event clock) and harness spans share one axis.
  */
final case class Span(id: Int, parent: Int, layer: String, op: String, startUs: Long, endUs: Long)

final class Spans {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  private val buf = mutable.ArrayBuffer.empty[Span]

  def us(nanoTime: Long): Long = baseUs + (nanoTime - baseNs) / 1000L

  def add(parent: Int, layer: String, op: String, startUs: Long, endUs: Long): Int = {
    val id = buf.size + 1
    buf += Span(id, parent, layer, op, startUs, endUs)
    id
  }

  def all: Seq[Span] = buf.toSeq
}

/** Counts whole-stage codegen fallbacks from the outside: Spark logs
  * `CodeGenerator … grows beyond 64 KB` when generated code is too large
  * for the JVM, then runs the plan interpreted. An appender of the
  * harness's own, on the root logger, counts those events.
  */
object CodegenFallbacks {
  private val seen = new AtomicLong(0L)

  def count: Long = seen.get

  private def mentions(t: Throwable): Boolean =
    t != null && ((t.getMessage != null && t.getMessage.contains("grows beyond 64 KB")) ||
      (t.getCause != t && mentions(t.getCause)))

  def install(): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender(
        "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
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
  }
}
