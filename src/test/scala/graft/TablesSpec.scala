package graft

import graft.core.Tables
import org.scalatest.funsuite.AnyFunSuite

/** The declared table catalog: each declared schema is the one Spark
  * infers from the parquet files, and opening a declared table starts no
  * Spark job.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sfDirs = Seq(SparkTestSession.Sf0001, SparkTestSession.Sf001,
    new java.io.File(SparkTestSession.Sf001).getParent + "/sf0.1",
    "perfbench/data/sf0.1")

  test("every table but events is declared") {
    assert(Tables.declared.keySet == Tables.names.toSet - "events")
  }

  test("each declared schema equals the inferred schema in every sf dir") {
    for (dir <- sfDirs; t <- Tables.declared.keys.toSeq.sorted) {
      assert(new java.io.File(s"$dir/$t.parquet").exists, s"$dir/$t.parquet is missing")
      val inferred = spark.read.parquet(s"$dir/$t.parquet").schema
      assert(Tables.load(spark, dir, t).schema == inferred,
        s"$dir/$t: the declared schema drifted from the files")
    }
  }

  test("a declared table reads the same rows as the inferred read") {
    val dir = SparkTestSession.Sf0001
    Tables.declared.keys.foreach { t =>
      val declared = Tables.load(spark, dir, t)
      val inferred = spark.read.parquet(s"$dir/$t.parquet")
      assert(declared.exceptAll(inferred).isEmpty &&
        inferred.exceptAll(declared).isEmpty, t)
    }
  }

  test("opening a declared table starts no Spark job; events still infers") {
    val dir = SparkTestSession.Sf0001
    val declaredJobs = SparkTestSession.jobsDuring {
      Tables.declared.keys.foreach(t =>
        Tables.load(spark, dir, t).queryExecution.analyzed: Unit)
    }
    assert(declaredJobs == 0,
      s"opening the declared tables started $declaredJobs jobs")
    // the listener does see the schema-inference job of an inferred open
    val eventsJobs = SparkTestSession.jobsDuring {
      Tables.load(spark, dir, "events").queryExecution.analyzed: Unit
    }
    assert(eventsJobs >= 1)
  }
}
