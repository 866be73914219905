package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (Test/fork := true). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder("graft-test")
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"

  /** The Spark jobs started while `body` runs, counted by a listener. The
    * listener bus is asynchronous, so the count settles until no job
    * lands for 200 ms.
    */
  def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      settle(jobs.get())
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Waits (up to 5 s) until `count`, fed by an asynchronous listener,
    * stays the same for 200 ms.
    */
  def settle(count: => Int): Unit = {
    var last = -1
    var waited = 0
    while (last != count && waited < 25) {
      last = count; Thread.sleep(200); waited += 1
    }
  }
}
