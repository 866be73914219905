package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.SessionHygiene

/** Long-session debris control (core/SessionHygiene.scala).
  *
  * The reflection-based cleaner-queue probe must WORK on the bundled
  * Spark — a silent -1 would void the bench's accumulation receipts
  * (BENCH_DETAIL's cleaner_queue/drain columns) without any test going
  * red, so the first test pins it. The drain contract: persistent RDDs
  * and cached tables released, and when a GC is forced the queue settles
  * at-or-below where it started.
  */
class SessionHygieneSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("cleanerQueueDepth reads a real depth (reflection not silently broken)") {
    val d = SessionHygiene.cleanerQueueDepth(spark)
    assert(d >= 0, s"reflection probe returned $d — Spark internals moved; " +
      "bench accumulation receipts would silently report -1")
  }

  test("drain releases persistent RDDs and cached tables") {
    val df = (1 to 1000).toDF("x").persist()
    df.count()
    df.createOrReplaceTempView("__hyg_t")
    spark.catalog.cacheTable("__hyg_t")
    spark.table("__hyg_t").count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    val stats = SessionHygiene.drain(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "drain must unpersist every persistent RDD")
    assert(!spark.catalog.isCached("__hyg_t"))
    assert(stats.queueBefore >= 0)
    assert(stats.queueAfter <= math.max(stats.queueBefore, 64L))
    spark.catalog.dropTempView("__hyg_t")
  }

  test("below-threshold drain is a no-op (no forced GC)") {
    // settle first so the baseline queue is small
    SessionHygiene.drain(spark, gcThreshold = -1)
    val stats = SessionHygiene.drain(spark, gcThreshold = 1000000)
    assert(!stats.gcRan)
    assert(stats.waitedMs === 0)
    assert(stats.queueAfter === stats.queueBefore)
  }

  test("forced drain settles a debris-heavy queue back down") {
    // manufacture debris: shuffles + broadcasts, handles dropped at once
    (1 to 12).foreach { i =>
      val a = (1 to 2000).map(j => (j % 97, j + i)).toDF("k", "v")
      val b = (1 to 50).map(j => (j % 97, j)).toDF("k", "w")
      a.join(broadcast(b), "k").groupBy("k").agg(sum($"v")).count()
    }
    val before = SessionHygiene.cleanerQueueDepth(spark)
    val stats = SessionHygiene.drain(spark, gcThreshold = -1, settleDepth = 64,
      maxWaitMs = 30000)
    assert(stats.gcRan)
    assert(stats.queueAfter <= math.max(64L, before),
      s"queue did not settle: before=$before after=${stats.queueAfter}")
  }

  test("cleanerQueueKinds counts the buffer by cleanup kind") {
    // a broadcast join and a shuffle whose handles stay reachable through
    // the executed plan until the counts are read
    val a = (1 to 2000).map(j => (j % 97, j)).toDF("k", "v")
    val b = (1 to 50).map(j => (j % 97, j)).toDF("k", "w")
    val df = a.join(broadcast(b), "k").groupBy("k").agg(sum($"v"))
    df.collect()
    val kinds = SessionHygiene.cleanerQueueKinds(spark)
    assert(kinds.keySet.subsetOf(
      Set("shuffle", "broadcast", "rdd", "accumulator", "checkpoint", "sparklistener")),
      s"unknown kinds: $kinds")
    assert(kinds.getOrElse("shuffle", 0L) >= 1 && kinds.getOrElse("broadcast", 0L) >= 1,
      s"live shuffle and broadcast not counted: $kinds")
    assert(kinds.values.forall(_ > 0))
    assert(df.queryExecution.executedPlan != null)
  }
}
