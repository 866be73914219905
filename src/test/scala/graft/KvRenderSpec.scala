package graft

import graft.functions.KvRender
import graft.sources.KvBlock
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{LocalTableScanExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The compiled KV-block renderer (KvRender) must equal the composable
  * form it replaced (ReferenceTwins.kvRenderComposable) byte for byte —
  * the corpus pipeline, q28, q83, q157 and the KV sink specs render
  * through it.
  */
class KvRenderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val planHelper = new AdaptiveSparkPlanHelper {}

  /** Kernel and twin over `pairs` evaluated on `rows`, both on a local
    * relation (folded by the optimizer through `eval`) and on an RDD scan
    * (inside a whole-stage codegen stage); compared inside Spark, byte for
    * byte, since a collected string would decode malformed bytes.
    */
  private def bothForms(rows: DataFrame, pairs: Seq[(String, Column)]): Unit = {
    val local = rows.collect().toSeq
    val localDf = spark.createDataFrame(java.util.Arrays.asList(local: _*), rows.schema)
    val scanned = spark.createDataFrame(
      spark.sparkContext.parallelize(local, 3), rows.schema)
    Seq(localDf -> false, scanned -> true).foreach { case (df, compiled) =>
      val both = df.select(
        KvBlock.renderBlock(pairs).as("kernel"),
        ReferenceTwins.kvRenderComposable(pairs).as("twin"))
      assert(both.schema("kernel").dataType == both.schema("twin").dataType)
      assert(!both.schema("kernel").nullable && !both.schema("twin").nullable)
      val bad = both.filter(not(col("kernel") <=> col("twin")))
        .select(hex(col("kernel")), hex(col("twin"))).collect()
      assert(bad.isEmpty, s"${bad.length} of ${local.size} differ: ${bad.take(3).mkString("; ")}")
      assert(both.count() == local.size)
      val plan = both.queryExecution.executedPlan
      val renderStages = planHelper.collect(plan) {
        case w: WholeStageCodegenExec if hasKernel(w) => w
      }
      if (compiled) assert(renderStages.nonEmpty, s"kv_render is not in a codegen stage:\n$plan")
      else assert(plan.isInstanceOf[LocalTableScanExec] && !hasKernel(plan),
        s"kv_render was not folded through eval:\n$plan")
    }
  }

  private def hasKernel(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
    p.exists(_.expressions.exists(_.exists(_.isInstanceOf[KvRender])))

  private def stringRows(width: Int, rows: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*),
      StructType((1 to width).map(i => StructField(s"v$i", StringType))))

  private val pieces = Array("\r\n", "\n\r", "\r\r\n", "^_^_^", "^^_^", "^_^", "\n", "\r",
    "^", "_", "a", "z9", " ", "值", "é", "😀", "：", ":")

  /** A random value: null, empty, or a soup of `pieces`, sometimes ending
    * in a dangling `^_`.
    */
  private def randomValue(rnd: scala.util.Random): String = rnd.nextInt(10) match {
    case 0 => null
    case 1 => ""
    case _ =>
      (1 to rnd.nextInt(7)).map(_ => pieces(rnd.nextInt(pieces.length))).mkString +
        (if (rnd.nextInt(5) == 0) "^_" else "")
  }

  private val keys = Seq("机构名称", "k2", "统一社会信用代码", "type", "区域编号", "k6", "键", "k8")

  test("kernel == composable on 2,400 randomized rows of 1-8 keys") {
    val rnd = new scala.util.Random(17)
    (1 to 8).foreach { m =>
      val rows = (1 to 300).map(_ => Seq.fill(m)(randomValue(rnd)))
      bothForms(stringRows(m, rows), keys.take(m).zipWithIndex.map {
        case (k, i) => k -> col(s"v${i + 1}")
      })
    }
  }

  test("all-null rows render the empty string, never null") {
    val rows = Seq.fill(5)(Seq[String](null, null, null))
    val pairs = Seq("a" -> col("v1"), "b" -> col("v2"), "c" -> col("v3"))
    bothForms(stringRows(3, rows), pairs)
    val out = stringRows(3, rows).select(KvBlock.renderBlock(pairs).as("b"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq.fill(5)(""))
  }

  test("fixed edges: separators, empty values, verbatim keys") {
    val rows = Seq(
      Seq("\r\r\n", "^_^_^", ""),
      Seq("a\r\nb\n\rc", "^^_^x^_", null),
      Seq(null, "", "\n"),
      Seq("x^_^\r", "^_\n^", " ^_^ "))
    val pairs = Seq("a^_^b" -> col("v1"), "k\nj" -> col("v2"), "" -> col("v3"))
    bothForms(stringRows(3, rows), pairs)
    val out = stringRows(3, rows).select(KvBlock.renderBlock(pairs).as("b"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq(
      "a^_^b：  \nk\nj： _^\n：",
      "a^_^b：a b  c\nk\nj：^ x^_",
      "k\nj：\n： ",
      "a^_^b：x  \nk\nj：^_ ^\n：   "))
  }

  test("int, long, double and date columns go through the string cast") {
    val schema = StructType(Seq(StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DoubleType), StructField("t", DateType)))
    val rows = Seq(
      Row(1, 9876543210L, 1.5, java.sql.Date.valueOf("2024-02-29")),
      Row(-7, Long.MinValue, -0.0, java.sql.Date.valueOf("1970-01-01")),
      Row(null, 0L, Double.NaN, null),
      Row(Int.MaxValue, null, 1e-300, java.sql.Date.valueOf("9999-12-31")),
      Row(0, 42L, null, java.sql.Date.valueOf("0001-01-01")))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val pairs = Seq("整数" -> col("i"), "long" -> col("l"), "double" -> col("d"),
      "日期" -> col("t"))
    bothForms(df, pairs)
    assert(df.select(KvBlock.renderBlock(pairs)).head().getString(0) ==
      "整数：1\nlong：9876543210\ndouble：1.5\n日期：2024-02-29")
  }

  test("CJK, accented and astral text") {
    val rows = Seq(
      Seq("北京市朝阳区托育中心\r\n（普惠）", "Crèche Müller\néàü", "😀𠀀\r🎉^_^鶴"),
      Seq("　全角　空格　", "ñ\r\r\nç", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢"),
      Seq("非营利性", null, "😀\n"))
    bothForms(stringRows(3, rows),
      Seq("机构名称" -> col("v1"), "名前" -> col("v2"), "🏷" -> col("v3")))
  }

  test("invalid UTF-8 is decoded as the regex's String round trip decoded it") {
    // malformed sequences (and boundary-valid ones), alone and next to the
    // separators, in hex for unhex(...).cast("string")
    val sequences = Seq("80", "BF", "C080", "C1BF", "C2", "E08080", "E09FBF", "E0A0",
      "EDA080", "EDBFBF", "EFBC", "F0808080", "F08FBFBF", "F09080", "F4908080",
      "F5808080", "FF", "E4B841", "C280", "E0A080", "ED9FBF", "EE8080", "EFBFBF",
      "F0908080", "F48FBFBF")
    val around = Seq("", "0D0A", "0A", "0D", "5E5F5E", "E580BC")   // "", \r\n, \n, \r, ^_^, 值
    val hexes = for (s <- sequences; a <- around; b <- Seq("", "0D0D0A", "5E5F")) yield a + s + b
    val rnd = new scala.util.Random(23)
    val soups = (1 to 200).map(_ => (1 to rnd.nextInt(12)).map(_ =>
      f"${rnd.nextInt(256)}%02X").mkString)
    val hexRows = (hexes ++ soups).grouped(2).map(g => Row(g.head, g.last)).toSeq
    val df = spark.createDataFrame(java.util.Arrays.asList(hexRows: _*),
      StructType(Seq(StructField("h1", StringType), StructField("h2", StringType))))
      .select(unhex(col("h1")).cast("string").as("v1"),
        unhex(col("h2")).cast("string").as("v2"))
    assert(df.filter(!is_valid_utf8(col("v1")) || !is_valid_utf8(col("v2"))).count() > 200)
    bothForms(df, Seq("k" -> col("v1"), "值" -> col("v2")))
  }

  test("parseBlock(renderBlock(kv)) returns the sanitized values") {
    val rnd = new scala.util.Random(29)
    val rows = (1 to 1000).map(_ => Seq.fill(keys.size)(randomValue(rnd)))
    val df = stringRows(keys.size, rows)
    val pairs = keys.zipWithIndex.map { case (k, i) => k -> col(s"v${i + 1}") }
    val parsed = df.withColumn("kv", KvBlock.parseBlock(KvBlock.renderBlock(pairs)))
    val mismatch = pairs.map { case (k, v) =>
      not(KvBlock.field(col("kv"), k) <=>
        trim(regexp_replace(v, "\\r?\\n|\\r|\\^_\\^", " ")))
    }.reduce(_ || _)
    val bad = parsed.filter(mismatch).select(to_json(col("kv"))).collect()
    assert(bad.isEmpty, bad.take(3).mkString("; "))
    assert(parsed.filter(size(col("kv")) =!=
      pairs.map { case (_, v) => when(v.isNull, 0).otherwise(1) }.reduce(_ + _)).count() == 0)
  }
}
