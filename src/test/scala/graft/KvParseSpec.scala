package graft

import graft.sources.KvBlock
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The compiled KV-block parser (KvParse) must equal the composable form
  * it replaced (ReferenceTwins.kvParseComposable) entry for entry, in map
  * order — every KV source, q28, q83 and the corpus pipeline parse through
  * it.
  */
class KvParseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Kernel and twin over `block` evaluated on `rows`, both on a local
    * relation (evaluated by the optimizer, interpreted) and on an RDD scan
    * (whole-stage codegen).
    */
  private def bothForms(rows: DataFrame, block: Column = col("b")): Unit = {
    val local = rows.collect().toSeq
    val scanned = spark.createDataFrame(
      spark.sparkContext.parallelize(local, 3), rows.schema)
    val localDf = spark.createDataFrame(java.util.Arrays.asList(local: _*), rows.schema)
    Seq(localDf, scanned).foreach { df =>
      val both = df.select(block.as("b"),
        KvBlock.parseBlock(block).as("kernel"),
        ReferenceTwins.kvParseComposable(block).as("twin"))
      assert(sameType(both.schema("kernel"), both.schema("twin")))
      // compared inside Spark, byte for byte: a collected string would
      // decode malformed bytes and hide a difference
      val bad = both.filter(not(map_entries(col("kernel")) <=> map_entries(col("twin"))))
        .select(hex(col("b")), to_json(col("kernel")), to_json(col("twin"))).collect()
      assert(bad.isEmpty, bad.take(3).mkString("; "))
    }
  }

  private def sameType(a: StructField, b: StructField): Boolean =
    a.dataType == b.dataType && a.nullable == b.nullable

  private def strings(blocks: Seq[String]): DataFrame = blocks.map(Option(_)).toDF("b")

  test("kernel == composable on adversarial blocks") {
    bothForms(strings(Seq(
      "", "\n", "no colon at all", null,
      "机构名称：某某：托育中心\nkey2: value2\nno colon line\n机构类型:营利性",
      "k：1\nj：2\nk：3",                        // repeated key: first slot, last value
      "：empty key\n:also empty key\nempty value：\nv:",
      "  padded key  :  padded value  \n   ：   ",
      "　ideographic　：　kept　",               // U+3000 is not trimmed
      "crlf：a\r\ncr\r：b\r\n\r\n",
      "\ttab\t:\tkept\t",
      "鶴：😀 astral 𠀀\n𠀀：值\n😀:x",
      "a:b：c\nd：e:f",                          // first colon of either width
      "trailing newline：x\n",
      "\n\nblank lines：x\n\n",
      Seq.tabulate(40)(i => s"k${i % 23}：v$i").mkString("\n")   // past the linear key scan
    )))
  }

  test("kernel == composable on randomized blocks") {
    val rnd = new scala.util.Random(7)
    val pieces = Array("a", "key", "值", "机构", ":", "：", " ", "  ", "　",
      "\r", "\t", "é", "😀", "𠀀", "\n", "x:y", "k：")
    val blocks = (1 to 400).map { _ =>
      (1 to rnd.nextInt(30)).map(_ => pieces(rnd.nextInt(pieces.length))).mkString
    }
    bothForms(strings(blocks))
  }

  test("kernel == composable on malformed UTF-8") {
    def bytes(s: String) = s.getBytes("UTF-8")
    def seq(bs: Int*) = bs.map(_.toByte).toArray
    // one malformed (or boundary-valid) sequence per block, alone, so the
    // check of each rule shows: the key before it, a value after it
    val sequences = Seq(
      seq(0x80), seq(0xbf), seq(0xc0, 0x80), seq(0xc1, 0xbf), seq(0xc2),
      seq(0xe0, 0x80, 0x80), seq(0xe0, 0x9f, 0xbf), seq(0xe0, 0xa0),
      seq(0xed, 0xa0, 0x80), seq(0xed, 0xbf, 0xbf), seq(0xef, 0xbc),
      seq(0xf0, 0x80, 0x80, 0x80), seq(0xf0, 0x8f, 0xbf, 0xbf), seq(0xf0, 0x90, 0x80),
      seq(0xf4, 0x90, 0x80, 0x80), seq(0xf5, 0x80, 0x80, 0x80), seq(0xff),
      seq(0xe4, 0xb8, 0x41),
      // valid at each boundary
      seq(0xc2, 0x80), seq(0xe0, 0xa0, 0x80), seq(0xed, 0x9f, 0xbf), seq(0xee, 0x80, 0x80),
      seq(0xef, 0xbf, 0xbf), seq(0xf0, 0x90, 0x80, 0x80), seq(0xf4, 0x8f, 0xbf, 0xbf))
    val placed = sequences.flatMap { b =>
      Seq(bytes("k") ++ b ++ bytes("：v\nj:w"), bytes("k：") ++ b, bytes("k:v\n") ++ b)
    }
    // random soups of valid pieces and stray bytes
    val rnd = new scala.util.Random(11)
    val pieces = Seq("k", ":", "：", " ", "\n", "值", "😀").map(bytes)
    val soups = (1 to 300).map { _ =>
      (1 to rnd.nextInt(24)).map(_ =>
        if (rnd.nextInt(3) == 0) Array(rnd.nextInt(256).toByte)
        else pieces(rnd.nextInt(pieces.size))).foldLeft(Array.emptyByteArray)(_ ++ _)
    }
    val bin = spark.createDataFrame(java.util.Arrays.asList((placed ++ soups).map(Row(_)): _*),
      StructType(Seq(StructField("bin", BinaryType))))
    val block = col("bin").cast("string")
    assert(bin.filter(!is_valid_utf8(block)).count() > 200)
    bothForms(bin, block)
  }

  test("a block column that is never null parses through the non-nullable form") {
    val rendered: Column = concat_ws("\n", lit("k：v"), col("s"))
    val df = spark.range(0, 50, 1, 2).select(col("id").cast("string").as("s"))
    val out = df.select(
      KvBlock.parseBlock(rendered).as("kernel"),
      ReferenceTwins.kvParseComposable(rendered).as("twin"))
    assert(!out.schema("kernel").nullable && sameType(out.schema("kernel"), out.schema("twin")))
    assert(out.filter(not(map_entries(col("kernel")) <=> map_entries(col("twin"))))
      .count() == 0)
    assert(out.select(element_at(col("kernel"), "k")).as[String].distinct().collect()
      .toSeq == Seq("v"))
  }

  test("a repeated key takes its last value under mapKeyDedupPolicy=EXCEPTION") {
    val key = "spark.sql.mapKeyDedupPolicy"
    val before = spark.conf.get(key)
    spark.conf.set(key, "EXCEPTION")
    try {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(Row("机构名称：旧名\n备注：a\n机构名称：新名")), 1),
        StructType(Seq(StructField("b", org.apache.spark.sql.types.StringType))))
      val entries = df.select(explode(map_entries(KvBlock.parseBlock(col("b")))))
        .select(col("col.key"), col("col.value")).as[(String, String)].collect().toSeq
      assert(entries == Seq("机构名称" -> "新名", "备注" -> "a"))
    } finally spark.conf.set(key, before)
  }

  test("block edges trim exactly what the \\s regex trimmed; U+3000 and U+00A0 stay") {
    val ascii = KvBlock.BlockEdgeWhitespace.map(_.toString)
    val all = ascii ++ Seq("\u3000", "\u00A0")
    val body = "机构名称：a b\n区域编号：\t14"
    val edged = all.flatMap(c => Seq(c + body, body + c, c + body + c,
      c * 3 + body + c * 2, c, c * 2))
    val rnd = new scala.util.Random(83L)
    val alphabet = all ++ Seq("k", "：", "^", "_", "v")
    val random = Seq.fill(600)(Seq.fill(rnd.nextInt(12))(
      alphabet(rnd.nextInt(alphabet.size))).mkString)
    val text = (edged ++ random).toDF("t")
    // as blocksFromText splits and trims: each chunk against the twin
    val both = text.select(explode(split(col("t"), KvBlock.BlockDelimiter)).as("b"))
      .select(hex(col("b")).as("hex"),
        trim(col("b"), KvBlock.BlockEdgeWhitespace).as("kernel"),
        ReferenceTwins.blockTrimRegex(col("b")).as("twin"))
    val bad = both.filter(not(col("kernel") <=> col("twin"))).collect()
    assert(bad.isEmpty, bad.take(3).mkString("; "))
    // the wide spaces are content, not edges
    val kept = Seq("\u3000" + body, body + "\u00A0").toDF("t")
    assert(KvBlock.blocksFromText(kept, col("t")).select("block").as[String].collect().toSeq ==
      Seq("\u3000" + body, body + "\u00A0"))
    // and the blocks blocksFromText keeps are the twin's, non-empty ones
    val twinBlocks = text.select(explode(split(col("t"), KvBlock.BlockDelimiter)).as("b"))
      .select(ReferenceTwins.blockTrimRegex(col("b")).as("block"))
      .filter(length(col("block")) > 0).as[String].collect().toSeq
    assert(KvBlock.blocksFromText(text, col("t")).select("block").as[String]
      .collect().toSeq == twinBlocks)
    assert(twinBlocks.nonEmpty)
  }

  test("the one input the trims part on: whitespace before a final Unicode line terminator") {
    Seq("\u0085", "\u2028", "\u2029").foreach { lt =>
      val r = Seq("k：v \t" + lt).toDF("b").select(
        trim(col("b"), KvBlock.BlockEdgeWhitespace),
        ReferenceTwins.blockTrimRegex(col("b"))).head()
      assert(r.getString(0) == "k：v \t" + lt)   // an inner run, kept
      assert(r.getString(1) == "k：v" + lt)       // the regex's `$` quirk
    }
  }
}
