package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Session factory with the engine's scale-oriented defaults.
  *
  * The reference (single-process Python asyncio, see SURVEY.md §4) has no
  * notion of partitioning or adaptive execution; here every knob is set for
  * a real cluster and merely *sized down* for local[32] testing:
  *
  *  - AQE on: runtime coalescing of small shuffle partitions, skew-join
  *    splitting — the 100 TB posture for the skewed region/education keys
  *    the reference filters on (retrieve.py:1095-1195 analog).
  *  - `spark.sql.shuffle.partitions` low for local mode; on a cluster AQE's
  *    coalescing makes the initial number mostly a ceiling.
  *  - Broadcast threshold raised: every dimension table in SURVEY.md §1.1
  *    (region/nation/education/label maps) is tiny and must never shuffle.
  */
object GraftSession {

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // The synthetic tables store naive (no-UTC-flag) parquet timestamps;
      // read them as plain TimestampType — under the UTC session the stored
      // micros ARE the UTC instant, and date_format/unix_timestamp render the
      // same wall clock DuckDB's naive TIMESTAMP does. Leaving NTZ inference
      // on would instead surface TIMESTAMP_NTZ, which half the temporal
      // surface (timestamp literals, unix_timestamp arithmetic) can't mix with
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // decode() substitutes on malformed bytes and accepts the full JVM
      // charset set (GBK et al.) — charset-fallback chains probe-and-
      // roundtrip instead of raising (TextFunctions.decodeChain)
      .config("spark.sql.legacy.codingErrorAction", "true")
      .config("spark.sql.legacy.javaCharsets", "true")
      // map builders keep the last value of a repeated key (dict semantics;
      // the KV-block parser applies the same rule on its own)
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      // the engine's SQL function surface (lenient_json_clean,
      // shingle_hashes_k, graft_multi_format_date, ...) on every session
      .config("spark.sql.extensions", "graft.core.GraftExtensions")
      // Broadcast blocks and shuffle files release through ContextCleaner
      // only after a JVM GC collects their driver-side handles; a driver
      // with heap headroom can go the whole job without one, so a
      // long-running session (or a many-query benchmark) accumulates
      // shuffle data in spark.local.dir indefinitely. Spark's own
      // periodic-GC safety valve defaults to 30min — far too lazy for
      // that; 2min keeps the cleaner draining at negligible cost.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.ui.enabled", "false")

  def local(appName: String = "graft", threads: Int = 32): SparkSession = {
    val s = builder(appName).master(s"local[$threads]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Loaders for the driver's synthetic tables (TESTDATA.md). Plain parquet
  * scans so Catalyst's column pruning + predicate pushdown apply; never
  * cache here — callers decide reuse.
  *
  * A declared catalog: every table is read with a stated schema, so
  * opening it starts no Spark job (an inferred `spark.read.parquet` runs
  * one schema-inference job per open, ~120–180 ms at sf0.1). Every table
  * but `events` takes its schema from [[declared]]; `events` picks its
  * `ts` type from the file's footer, read on the driver (see [[events]]).
  * It is metadata only: no data or result is reused. A spec checks each
  * declared schema against the inferred one in every sf dir, so drift
  * fails loudly.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The read schema of every table except `events`, as Spark infers it
    * from the parquet files (naive timestamps read as TimestampType under
    * the session's NTZ-inference-off config).
    */
  private[graft] val declared: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP"),
    "documents" -> ("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else declared.get(name).fold(spark.read)(spark.read.schema(_))
      .parquet(s"$dir/$name.parquet")

  /** The events table's `ts` column has shipped in two generations of the
    * synthetic testdata: TIMESTAMP(NANOS), which Spark has no timestamp
    * type for, and plain microsecond timestamps (round 6+). The generation is
    * read from the parquet footer's logical type on the driver, and the
    * table opens with the matching declared schema (`ts` BIGINT for nanos,
    * then truncated to micros), so every consumer sees an ordinary `ts`
    * TimestampType column either way, no open starts a job, and no
    * session setting changes.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val path = s"$dir/events.parquet"
    if (tsIsNanos(spark, path)) {
      // a declared BIGINT reads the raw nanos with no session toggle;
      // `div` = integral division: `ts / 1000` would go through double and
      // lose sub-µs exactness above 2^53 (≈13% of epoch-nano rows are 1µs
      // off under double division), diverging from DuckDB's nanos→micros
      // integer truncation
      spark.read.schema(eventsSchema("BIGINT")).parquet(path)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    } else spark.read.schema(eventsSchema("TIMESTAMP")).parquet(path)
  }

  private def eventsSchema(tsType: String): StructType = StructType.fromDDL(
    s"event_id BIGINT, ts $tsType, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING")

  /** Whether `ts` is TIMESTAMP(NANOS) in the footer of the parquet file
    * at `path`.
    */
  private def tsIsNanos(spark: SparkSession, path: String): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf))
    val ts = try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation
    } finally reader.close()
    ts match {
      case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
      case _ => false
    }
  }
}
