package graft.core

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Long-session debris control.
  *
  * A Spark session that runs hundreds of queries in one JVM accumulates
  * state no single query ever sees: every stage's task-binary broadcast,
  * every SQL broadcast join, and every shuffle register a driver-side
  * handle whose backing blocks/files release only through ContextCleaner —
  * and the cleaner acts only AFTER a JVM GC collects the handle's weak
  * reference. A driver with heap headroom can go thousands of queries
  * without a full GC, so blocks pile up in the driver MemoryStore and
  * shuffle files in spark.local.dir. The round-8 bench diagnostics caught
  * the end state: a 6,918-deep cleaner queue at query ~240 of 249, with a
  * query measuring 10.9 s in that session vs 0.98 s in a fresh one (same
  * machine, same plan, gc=0/majflt=0/disk=0 during the slow run).
  *
  * Calling System.gc() alone (the round-8 mitigation, every 8 queries) is
  * not enough: the GC merely ENQUEUES thousands of dead references; the
  * cleaner thread then drains them asynchronously, one blocking
  * block-manager RPC at a time, **while the next queries run** — so the
  * removal storm contends with exactly the work it was meant to protect.
  *
  * [[drain]] closes that gap: unpersist + GC, then WAIT (bounded) until
  * the cleaner queue stops shrinking, so the removal storm completes in
  * the gap between queries instead of bleeding into the next one. The
  * wait is skipped entirely while the queue is small (threshold), so the
  * amortized cost tracks debris actually produced. At 100 TB a real
  * deployment IS a long-running session (a Thrift server, a streaming
  * driver, a notebook kernel) — this is engine hygiene, not bench
  * cosmetics.
  */
object SessionHygiene {

  /** ContextCleaner's reference buffer (the field is private[spark]), or
    * None if the internals ever change shape.
    */
  private def referenceBuffer(spark: SparkSession): Option[AnyRef] =
    try {
      val sc = spark.sparkContext
      val cleaner = classOf[org.apache.spark.SparkContext]
        .getMethod("cleaner").invoke(sc).asInstanceOf[Option[AnyRef]]
      cleaner.map { c =>
        val f = c.getClass.getDeclaredFields
          .find(_.getName.contains("referenceBuffer")).get
        f.setAccessible(true)
        f.get(c)
      }
    } catch { case _: Throwable => None }

  /** ContextCleaner reference-buffer depth via reflection; -1 if the
    * internals ever change shape. The buffer holds one entry per
    * registered-but-not-yet-cleaned shuffle / broadcast / RDD /
    * accumulator — a depth that climbs across a suite is exactly
    * "artifacts awaiting a GC to be released".
    */
  def cleanerQueueDepth(spark: SparkSession): Long =
    try {
      referenceBuffer(spark).map {
        case s: java.util.Set[_]    => s.size.toLong
        case m: java.util.Map[_, _] => m.size.toLong
        case other =>
          other.getClass.getMethod("size").invoke(other)
            .asInstanceOf[Number].longValue()
      }.getOrElse(-1L)
    } catch { case _: Throwable => -1L }

  /** The reference buffer counted by cleanup-task kind: `shuffle`,
    * `broadcast`, `rdd`, `accumulator`, `checkpoint` (and `sparklistener`);
    * empty if the internals are unreadable. A diagnostic for what a
    * workload leaves behind — [[drain]] does not call it, since it walks
    * the whole buffer.
    */
  def cleanerQueueKinds(spark: SparkSession): Map[String, Long] =
    try {
      referenceBuffer(spark) match {
        case Some(refs: java.util.Collection[_]) =>
          refs.asScala.toSeq.groupMapReduce { ref =>
            val task = ref.getClass.getMethod("task").invoke(ref.asInstanceOf[AnyRef])
            task.getClass.getSimpleName.stripPrefix("Clean") match {
              case "Accum" => "accumulator"
              case other => other.toLowerCase
            }
          }(_ => 1L)(_ + _)
        case _ => Map.empty
      }
    } catch { case _: Throwable => Map.empty }

  /** Calls made while the queue probe is unreadable (-1) — drives the
    * degraded every-8th-call GC cadence. */
  private val blindCalls = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Receipt for one [[drain]] call: queue depth before, depth when the
    * wait settled, whether a GC was forced, wall millis spent waiting.
    */
  final case class DrainStats(
      queueBefore: Long, queueAfter: Long, gcRan: Boolean, waitedMs: Long) {
    def json: String =
      s"""{"q_before":$queueBefore,"q_after":$queueAfter,""" +
        s""""gc":${if (gcRan) 1 else 0},"wait_ms":$waitedMs}"""
  }

  /** Release a completed query's debris and, when the cleaner queue has
    * grown past `gcThreshold`, force a GC and block until the queue
    * settles (stops shrinking for ~8 polls, reaches `settleDepth`, or
    * `maxWaitMs` elapses — whichever first).
    *
    * Unpersists EVERY persistent RDD (including localCheckpoint blocks a
    * finished iterative operator left cached — see Graph.pageRank/hits)
    * and clears the table cache first, so the subsequent GC finds the
    * handles dead. Safe between queries; do NOT call while a frame you
    * still intend to reuse is cached.
    *
    * Cost model: when the queue is below threshold this is two driver
    * map scans (microseconds). Above it, one full GC (~100-500 ms on an
    * 8 GB heap) plus the cleaner's own removal work — work that would
    * otherwise run later, concurrently with live queries.
    */
  def drain(
      spark: SparkSession,
      gcThreshold: Long = 256,
      settleDepth: Long = 64,
      maxWaitMs: Long = 15000): DrainStats = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    val before = cleanerQueueDepth(spark)
    if (before < 0) {
      // internals unreadable (Spark moved referenceBuffer): degrade to
      // the round-8 every-8-calls cadence rather than a full GC per
      // call — the probe going dark must not silently impose 100-500 ms
      // of stop-the-world per query (SessionHygieneSpec pins the probe
      // working on the bundled Spark, so this path is a safety net)
      val n = blindCalls.incrementAndGet()
      val doGc = n % 8 == 0
      if (doGc) System.gc()
      return DrainStats(before, before, gcRan = doGc, waitedMs = 0)
    }
    if (before <= gcThreshold)
      return DrainStats(before, before, gcRan = false, waitedMs = 0)
    val t0 = System.nanoTime()
    System.gc()
    var depth = cleanerQueueDepth(spark)
    var stale = 0
    var gcs = 1
    val deadline = t0 + maxWaitMs * 1000000L
    while (depth > settleDepth && stale < 8 && System.nanoTime() < deadline) {
      Thread.sleep(25)
      val d2 = cleanerQueueDepth(spark)
      if (d2 >= depth) stale += 1 else stale = 0
      depth = d2
      // a stalled non-empty queue usually means the first GC didn't
      // enqueue everything (objects needing a second collection cycle)
      // — retry the GC a bounded number of times before giving up
      if (stale >= 4 && depth > gcThreshold && gcs < 3) {
        System.gc(); gcs += 1; stale = 0
      }
    }
    DrainStats(before, depth, gcRan = true,
      waitedMs = (System.nanoTime() - t0) / 1000000L)
  }
}
