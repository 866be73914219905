package graft

import graft.sources.KvBlock
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r7 verdict task 4 — the FULL reference corpus as a golden sweep
  * (GoldenFixturesSpec samples one file per family; this reads all of
  * them): every one of the 4,489 `split_txts` institution files
  * and 416 `moe_majors_split` files parses through the S1 KV-block
  * path, per-record field-count histograms match the committed receipt
  * (src/test/resources/golden_corpus_receipt.json), region/province/year
  * cross-checks hold between file names and record contents, and the
  * S14 rendering path re-emits every MOE file BYTE-IDENTICALLY under the
  * reference writer's convention (`"^_^".join(blocks)`, 7 fixed keys, no
  * trailing newline — moe_majors_scraper.py:149-171).
  *
  * Regenerate the receipt after a deliberate corpus change with
  * `GRAFT_WRITE_RECEIPT=1 sbt "testOnly graft.GoldenCorpusSweepSpec"`.
  */
class GoldenCorpusSweepSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val RefData = "/root/reference/data"
  private val ReceiptPath =
    "src/test/resources/golden_corpus_receipt.json"

  /** One row per (file, pos, block, kv) over every file in `dir` —
    * wholetext + posexplode keeps per-file record ORDER (needed for the
    * byte re-emit), one Spark job for the whole corpus, never a
    * per-file driver loop.
    */
  private def corpus(dir: String): DataFrame = {
    spark.read.option("wholetext", "true").text(dir)
      .select(url_decode(
        regexp_extract(input_file_name(), "([^/]+)\\.txt$", 1)).as("file"),
        col("value"))
      .select(col("file"),
        posexplode(split(col("value"), KvBlock.BlockDelimiter))
          .as(Seq("pos", "block")))
      .withColumn("block", regexp_replace(col("block"), "^\\s+|\\s+$", ""))
      .filter(length(col("block")) > 0)
      .withColumn("kv", KvBlock.parseBlock(col("block")))
  }

  private case class Stats(
      files: Long, records: Long, fieldHist: Map[Int, Long], mismatches: Long)

  private def stats(df: DataFrame, mismatchCond: org.apache.spark.sql.Column): Stats = {
    val agg = df.agg(
      countDistinct(col("file")).as("files"),
      count(lit(1)).as("records"),
      sum(when(mismatchCond, 1L).otherwise(0L)).as("mismatches"))
      .head()
    val hist = df.groupBy(size(map_keys(col("kv"))).as("nf"))
      .count().as[(Int, Long)].collect().toMap
    Stats(agg.getLong(0), agg.getLong(1), hist, agg.getLong(2))
  }

  private def histJson(h: Map[Int, Long]): String =
    h.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")

  test("full-corpus sweep: parse receipts + MOE byte-identical re-emit") {
    // ---- split_txts: 4,489 institution files -----------------------------
    val inst = corpus(s"$RefData/split_txts")
      .withColumn("file_region", regexp_extract(col("file"), "_(\\d{12})$", 1))
    val instStats = stats(inst,
      // region code in the file name must equal every record's 区域编号
      KvBlock.field(col("kv"), "区域编号").isNull ||
        KvBlock.field(col("kv"), "区域编号") =!= col("file_region") ||
        coalesce(KvBlock.field(col("kv"), "机构名称"), lit("")) === "")

    // ---- moe_majors_split: 416 province x year files ---------------------
    val moe = corpus(s"$RefData/moe_majors_split")
      .withColumn("file_province",
        regexp_extract(col("file"), "^moe_majors_(.+)_(\\d{4})$", 1))
      .withColumn("file_year",
        regexp_extract(col("file"), "^moe_majors_(.+)_(\\d{4})$", 2))
    val moeStats = stats(moe,
      KvBlock.field(col("kv"), "省份") =!= col("file_province") ||
        KvBlock.field(col("kv"), "年份") =!= col("file_year") ||
        coalesce(KvBlock.field(col("kv"), "机构名称"), lit("")) === "" ||
        !KvBlock.field(col("kv"), "开设专业").rlike("\\(.*\\)"))

    val receiptJson =
      s"""{
  "split_files": ${instStats.files},
  "split_records": ${instStats.records},
  "split_field_hist": ${histJson(instStats.fieldHist)},
  "split_mismatches": ${instStats.mismatches},
  "moe_files": ${moeStats.files},
  "moe_records": ${moeStats.records},
  "moe_field_hist": ${histJson(moeStats.fieldHist)},
  "moe_mismatches": ${moeStats.mismatches}
}
"""
    if (sys.env.get("GRAFT_WRITE_RECEIPT").contains("1")) {
      java.nio.file.Files.write(java.nio.file.Paths.get(ReceiptPath),
        receiptJson.getBytes("UTF-8"))
      fail(s"receipt regenerated at $ReceiptPath — commit it and re-run")
    }
    val committed = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ReceiptPath)), "UTF-8")
    assert(receiptJson == committed,
      "corpus statistics diverged from the committed receipt")
    // the hard invariants behind the receipt numbers
    assert(instStats.files == 4489 && instStats.mismatches == 0)
    assert(moeStats.files == 416 && moeStats.mismatches == 0)
    assert(moeStats.fieldHist.keySet == Set(7)) // 7 fixed keys, always

    // ---- S14 rendering: re-emit all 416 MOE files byte-identically -------
    def f(k: String) = KvBlock.field(col("kv"), k)
    val rendered = moe.withColumn("rendered", KvBlock.renderBlock(Seq(
      "机构名称" -> f("机构名称"), "省份" -> f("省份"),
      "学校标识码" -> f("学校标识码"), "开设专业" -> f("开设专业"),
      "修业年限" -> f("修业年限"), "年份" -> f("年份"),
      "备注" -> coalesce(f("备注"), lit("")))))
    val reEmitted = rendered.groupBy(col("file"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("rendered")))),
          x => x.getField("rendered")), "^_^").as("content"))
      .as[(String, String)].collect().toMap
    assert(reEmitted.size == 416)
    val moeDir = new java.io.File(s"$RefData/moe_majors_split")
    var identical = 0
    moeDir.listFiles().foreach { file =>
      val want = new String(
        java.nio.file.Files.readAllBytes(file.toPath), "UTF-8")
      val name = file.getName.stripSuffix(".txt")
      assert(reEmitted.contains(name), s"missing re-emit for $name")
      assert(reEmitted(name) == want, s"byte mismatch in ${file.getName}")
      identical += 1
    }
    assert(identical == 416)

    // ---- S14 sink round trip over the full MOE corpus --------------------
    val out = java.nio.file.Files
      .createTempDirectory("graft_moe_sweep").toString
    KvBlock.writePartitioned(
      rendered.select(col("file_province").as("province"),
        col("file_year").as("year"), col("rendered")),
      col("rendered"), Seq("province", "year"), out)
    val back = KvBlock.readPartitioned(spark, out)
      // partition-column type inference would read year=2013 as an int
      .select(col("province").cast("string"), col("year").cast("string"),
        col("block"))
    val a = rendered.select(col("file_province"), col("file_year"), col("rendered"))
      .as[(String, String, String)].collect().sorted.toSeq
    val b = back.as[(String, String, String)].collect().sorted.toSeq
    assert(a == b, "partitioned sink round trip lost or altered records")
  }
}
