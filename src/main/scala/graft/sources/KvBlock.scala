package graft.sources

import graft.functions.{KvParse, KvRender}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** KV-block text format — the reference's record interchange format
  * (SURVEY.md §2.1 S1/S14): lines of `键：值` (full-width colon), multiple
  * records per file joined by `^_^` (moe_majors_scraper.py:149-171,
  * retrieve.py:909-974).
  *
  * Reader: wholeTextFiles-free — `spark.read.text(wholetext=false)` would
  * split records across lines, so we read whole files, explode on the block
  * delimiter, then parse each block's lines into a map with the compiled
  * [[graft.functions.KvParse]] byte scan. No UDF, no session setting.
  *
  * Writer: partitioned text sink, one directory per (partition cols), blocks
  * re-joined with the delimiter — the S14 layout
  * (`data/moe_majors_split/moe_majors_<province>_<year>.txt` analog).
  */
object KvBlock {

  val BlockDelimiter = "\\^_\\^"

  /** Read files under `path` into one row per KV block, with a
    * `kv: map<string,string>` column. Splits on the first full- or
    * half-width colon per line (retrieve.py:917-922).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("wholetext", "true").text(path)
    blocksFromText(raw, col("value")).select(col("block"), parseBlock(col("block")).as("kv"))
  }

  /** Read a PARTITIONED KV sink (writePartitioned output) back: one row
    * per block, with the partition-directory columns (e.g. `lang=de`)
    * preserved alongside `block` and the parsed `kv` map — the inverse of
    * `writePartitioned`, so sink layouts are queryable (q83).
    */
  def readPartitioned(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("wholetext", "true").text(path)
    val partCols = raw.columns.toSeq.filterNot(_ == "value").map(col)
    blocksFromText(raw, col("value"), partCols)
      .withColumn("kv", parseBlock(col("block")))
  }

  /** Java's regex `\s`: the ASCII whitespace a block's edges are trimmed of. */
  val BlockEdgeWhitespace = " \t\n\u000B\f\r"

  /** Explode a whole-file text column into trimmed, non-empty blocks,
    * with the `carry` columns ahead of `block` on every row. Edges are
    * trimmed of [[BlockEdgeWhitespace]] (newlines around the block
    * delimiter included); other Unicode spaces such as U+3000 and U+00A0
    * are kept.
    *
    * The earlier `^\s+|\s+$` regex trim differs on one shape of block: one
    * that ends in whitespace and then a single U+0085, U+2028 or U+2029.
    * The regex's `$` also matched before that final line terminator, so
    * it dropped the whitespace; this trim keeps the block as it is.
    * [[writePartitioned]] output never ends a block that way, but the
    * external text files [[read]] and [[readPartitioned]] take can.
    */
  def blocksFromText(df: DataFrame, text: Column, carry: Seq[Column] = Nil): DataFrame =
    df.select(carry :+ explode(split(text, BlockDelimiter)).as("block"): _*)
      .withColumn("block", trim(col("block"), BlockEdgeWhitespace))
      .filter(length(col("block")) > 0)

  /** `键：值` lines → map<string,string>; first colon wins, both `：` and `:`
    * accepted, key and value trimmed of ASCII spaces; lines without a
    * colon are dropped. A repeated key keeps its first position and its
    * LAST value (Python-dict semantics) under any session dedup policy —
    * one malformed block never kills a job. See [[graft.functions.KvParse]].
    */
  def parseBlock(block: Column): Column = KvParse.expr(block)

  /** `block` and the named `fields` (output name -> KV key) of its parse,
    * one row per row of `df`, the block parsed once. The fields leave
    * through a one-row generator, `inline(array(struct(block, fields…)))`:
    * the optimizer pushes a filter through a projection by substituting
    * the projected expressions into its condition, but never below a
    * generator's output. So a filter on the fields reads the parsed
    * values instead of parsing the block (and rendering it, if `block` is
    * a render) again per row. The generator stays in whole-stage codegen.
    */
  def parseFields(df: DataFrame, block: Column, fields: Seq[(String, String)]): DataFrame = {
    val kv = col("kv")
    df.select(block.as("block"))
      .withColumn("kv", parseBlock(col("block")))
      .select(inline(array(struct(col("block") +: fields.map { case (name, key) =>
        field(kv, key).as(name)
      }: _*))))
  }

  /** Project typed columns out of the kv map with null-safe defaults (the
    * reference's dict.get(k, '') lookups).
    */
  def field(kv: Column, key: String): Column = element_at(kv, key)

  /** Render rows back to KV blocks: one `k：v` line per (key, value), in
    * the given key order, joined by `\n` — the inverse of parseBlock, used
    * by the partitioned sink. Keys are written verbatim. Values are cast to
    * string and sanitized: `\r\n`, a lone `\n`, a lone `\r` and the `^_^`
    * record delimiter each become one space, leftmost-first without
    * overlap, so a hostile value can't split its record, inject extra KV
    * lines, or terminate the block early — the round trip
    * parseBlock(renderBlock(kv)) is total, not just for well-formed input.
    * A null value drops its line; an empty one keeps `k：`; all-null
    * renders the empty string, never null. One compiled byte pass per row:
    * see [[graft.functions.KvRender]].
    */
  def renderBlock(kvPairs: Seq[(String, Column)]): Column = KvRender.expr(kvPairs)

  /** S14 sink: blocks written under one directory per partition value,
    * each record terminated by the `^_^` delimiter so any concatenation of
    * part files is a valid KV-block file (the reader drops the empty
    * trailing chunk).
    *
    * Deliberately NOT a collect_list-per-partition-value single file: a hot
    * partition holding millions of records must stream through many tasks,
    * never materialize as one row (measured: the single-row variant fell
    * over at ~6M records in one province).
    *
    *  - `coalescePartitions = true`: `repartition` on the partition columns,
    *    one task and so one file per partition value — for many values of
    *    moderate size.
    *  - `coalescePartitions = false`, for few and huge values: a narrow
    *    `coalesce` to the session's `defaultParallelism` (no shuffle; a
    *    no-op when the input has fewer partitions). Each task streams its
    *    share of the source partitions, so a hot value still shards across
    *    every core. One write task per source partition instead paid a
    *    fixed cost per task — the Hadoop configuration deserialized and an
    *    output file set up and committed — that outweighed its work: on
    *    the 62.7k-record corpus on 4 cores, 98 write tasks and files
    *    became 4.
    */
  def writePartitioned(
      df: DataFrame, blockCol: Column, partitionCols: Seq[String], outPath: String,
      coalescePartitions: Boolean = true): Unit = {
    val rows = df.select((partitionCols.map(col) :+
      concat(blockCol, lit("\n^_^")).as("value")): _*)
    val arranged =
      if (coalescePartitions) rows.repartition(partitionCols.map(col): _*)
      else rows.coalesce(df.sparkSession.sparkContext.defaultParallelism)
    arranged.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .text(outPath)
  }
}
