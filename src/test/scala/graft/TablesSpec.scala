package graft

import graft.core.Tables
import org.scalatest.funsuite.AnyFunSuite

/** The declared table catalog: each declared schema is the one Spark
  * infers from the parquet files, and opening any table starts no Spark
  * job. `events` picks its `ts` type from the parquet footer; both of its
  * generations are covered.
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

  test("events opens with the inferred schema in every sf dir") {
    for (dir <- sfDirs) {
      val inferred = spark.read.parquet(s"$dir/events.parquet").schema
      assert(Tables.load(spark, dir, "events").schema == inferred, dir)
    }
  }

  test("opening any table, events included, starts no Spark job") {
    val dir = SparkTestSession.Sf0001
    val openJobs = SparkTestSession.jobsDuring {
      Tables.names.foreach(t =>
        Tables.load(spark, dir, t).queryExecution.analyzed: Unit)
    }
    assert(openJobs == 0, s"opening the tables started $openJobs jobs")
    // the listener does see the schema-inference job of an inferred open
    val inferredJobs = SparkTestSession.jobsDuring {
      spark.read.parquet(s"$dir/events.parquet").queryExecution.analyzed: Unit
    }
    assert(inferredJobs >= 1)
  }

  test("a TIMESTAMP(NANOS) events file opens with ts truncated to micros") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val dir = java.nio.file.Files.createTempDirectory("events-nanos").toFile
    try {
      // sub-microsecond digits, and values above 2^53 where double division
      // would be off by a microsecond
      val nanos = Seq(1700000000123456789L, 1L, 999L, 9007199254740993001L)
      val writer = ExampleParquetWriter
        .builder(new Path(s"${dir.getPath}/events.parquet"))
        .withType(schema).build()
      try {
        val f = new SimpleGroupFactory(schema)
        nanos.zipWithIndex.foreach { case (ns, i) =>
          writer.write(f.newGroup().append("event_id", i.toLong).append("ts", ns)
            .append("user_id", 7L).append("event_type", "view")
            .append("value", 1.5).append("props", "{}"))
        }
      } finally writer.close()
      // both the vectorized and the row-based parquet reader
      for (vectorized <- Seq("true", "false")) {
        spark.conf.set("spark.sql.parquet.enableVectorizedReader", vectorized)
        val events = Tables.load(spark, dir.getPath, "events")
        assert(events.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
        val micros = events.orderBy("event_id")
          .selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq
        assert(micros == nanos.map(_ / 1000), s"vectorized = $vectorized")
      }
      assert(!spark.conf.getAll.contains("spark.sql.legacy.parquet.nanosAsLong"))
    } finally {
      spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
      dir.listFiles().foreach(_.delete())
      dir.delete()
    }
  }
}
