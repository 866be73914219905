package graft

import graft.operators.{Ranking, Rrf}
import graft.sources.KvBlock
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RrfKvSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("RRF fuses ranked lists with k=60 (retrieve.py:153-181)") {
    // list A ranks: x(1), y(2); list B ranks: y(1), x(2)
    val df = Seq(
      ("A", "x", 0.9), ("A", "y", 0.5),
      ("B", "y", 0.8), ("B", "x", 0.4)).toDF("q", "item", "score")
    val got = Rrf.fuse(df, col("q"), col("item"), col("score"), 60, col("item"))
      .select(col("item"), round(col("rrf_score"), 10).as("s"), col("n_lists"))
      .as[(String, Double, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val expected = BigDecimal(1.0 / 61 + 1.0 / 62).setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("x")._1 == expected)
    assert(got("y")._1 == expected)
    assert(got("x")._2 == 2)
  }

  test("RRF ties break deterministically") {
    val df = Seq(("A", "x", 0.5), ("A", "y", 0.5)).toDF("q", "item", "score")
    val got = Rrf.fuse(df, col("q"), col("item"), col("score"), 60, col("item"))
      .select(col("item"), col("best_rank")).as[(String, Int)].collect().toMap
    assert(got("x") == 1 && got("y") == 2)   // tie → item asc
  }

  test("top-k per group and keep-first (W2/W5)") {
    val df = Seq(("g", 1, 10), ("g", 2, 30), ("g", 3, 20), ("h", 4, 5))
      .toDF("grp", "id", "score")
    val top2 = Ranking.topKPerGroup(df, Seq(col("grp")),
      Seq(col("score").desc, col("id").asc), 2)
      .select("id").as[Int].collect().toSet
    assert(top2 == Set(2, 3, 4))
    val first = Ranking.keepFirst(df, Seq(col("grp")),
      Seq(col("score").desc, col("id").asc))
      .select("id").as[Int].collect().toSet
    assert(first == Set(2, 4))
  }

  test("KV-block render → write partitioned → read → parse round trip (S1/S14)") {
    val out = java.nio.file.Files.createTempDirectory("kvblock").toString
    val rows = Seq(
      ("山西", 2023, "机构甲", "91140000XX"),
      ("山西", 2023, "机构乙", "91140000YY"),
      ("广东", 2024, "机构丙", "91440000ZZ")).toDF("province", "year", "name", "code")
    val blocks = rows.withColumn("block", KvBlock.renderBlock(Seq(
      "机构名称" -> col("name"), "统一社会信用代码" -> col("code"))))
    KvBlock.writePartitioned(blocks, col("block"), Seq("province", "year"), out)

    val back = KvBlock.read(spark, out + "/*/*/*.txt")
    assert(back.count() == 3)
    val parsed = back.select(
      KvBlock.field(col("kv"), "机构名称").as("name"),
      KvBlock.field(col("kv"), "统一社会信用代码").as("code"))
      .as[(String, String)].collect().toSet
    assert(parsed == Set(("机构甲", "91140000XX"), ("机构乙", "91140000YY"), ("机构丙", "91440000ZZ")))

    // layout: one directory per (province, year) — the moe_majors_split shape
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.contains("province=")))
  }

  /** Writes 2,000 one-line blocks from `parts` partitions over `values`
    * partition values; returns the part-file count per value directory and
    * the distinct ids parsed back.
    */
  private def kvSink(parts: Int, values: Int, coalescePartitions: Boolean): (Map[String, Int], Long) = {
    val out = java.nio.file.Files.createTempDirectory("kvsink").toString
    val rows = spark.range(0, 2000, 1, parts).select(
      (col("id") % values).cast("string").as("p"),
      KvBlock.renderBlock(Seq("id" -> col("id").cast("string"))).as("block"))
    KvBlock.writePartitioned(rows, col("block"), Seq("p"), out, coalescePartitions)
    val files = new java.io.File(out).listFiles.filter(_.isDirectory)
      .map(d => d.getName -> d.listFiles.count(_.getName.startsWith("part-"))).toMap
    val ids = KvBlock.readPartitioned(spark, out)
      .select(KvBlock.field(col("kv"), "id")).distinct().count()
    (files, ids)
  }

  test("KV sink, hot value: at most one write task per core, never one per source partition") {
    val cores = spark.sparkContext.defaultParallelism
    val (wide, wideIds) = kvSink(parts = 3 * cores, values = 1, coalescePartitions = false)
    assert(wide.keySet == Set("p=0"))
    assert(wide("p=0") > 1 && wide("p=0") <= cores)
    assert(wideIds == 2000)
    // fewer partitions than cores: coalesce is a no-op
    val few = math.max(1, cores / 2)
    val (narrow, narrowIds) = kvSink(parts = few, values = 1, coalescePartitions = false)
    assert(narrow == Map("p=0" -> few))
    assert(narrowIds == 2000)
  }

  test("KV sink, coalesced: one file per partition value") {
    val (files, ids) = kvSink(parts = 24, values = 3, coalescePartitions = true)
    assert(files == Map("p=0" -> 1, "p=1" -> 1, "p=2" -> 1))
    assert(ids == 2000)
  }

  test("KV render sanitizes newlines and the block delimiter inside values") {
    val hostile = "第一行\n第二行^_^机构类型：伪造"   // would split the record and inject a line
    val parsed = Seq(hostile).toDF("v")
      .select(KvBlock.parseBlock(KvBlock.renderBlock(Seq("备注" -> col("v")))).as("kv"))
      .select(map_entries(col("kv")).as("e"))
      .selectExpr("explode(e) as kv").selectExpr("kv.key", "kv.value")
      .as[(String, String)].collect().toMap
    assert(parsed == Map("备注" -> "第一行 第二行 机构类型：伪造"))
  }

  test("KV parser: first colon wins, both colon widths, colon-less lines dropped") {
    val block = "机构名称：某某：托育中心\nkey2: value2\nno colon line\n机构类型:营利性"
    val kv = Seq(block).toDF("b").select(KvBlock.parseBlock(col("b")).as("kv"))
      .select(map_entries(col("kv")).as("e"))
      .selectExpr("explode(e) as kv").selectExpr("kv.key", "kv.value")
      .as[(String, String)].collect().toMap
    assert(kv("机构名称") == "某某：托育中心")
    assert(kv("key2") == "value2")
    assert(kv("机构类型") == "营利性")
    assert(kv.size == 3)
  }

  test("RRF as a registered UDAF matches the native fuse (X3)") {
    // GraftSession sessions carry GraftExtensions, which injects the name
    assert(spark.conf.get("spark.sql.extensions").contains("graft.core.GraftExtensions"))
    Seq(("A", "x", 1L), ("A", "y", 2L), ("B", "y", 1L), ("B", "x", 2L))
      .toDF("q", "item", "rnk").createOrReplaceTempView("ranked")
    val got = spark.sql(
      "SELECT item, ROUND(rrf_score(rnk), 10) AS s FROM ranked GROUP BY item")
      .as[(String, Double)].collect().toMap
    val expected = BigDecimal(1.0 / 61 + 1.0 / 62)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("x") == expected && got("y") == expected)
  }

  test("KV parser: repeated key keeps the LAST value (dict semantics, no crash)") {
    val block = "机构名称：旧名\n备注：a\n机构名称：新名"
    val kv = Seq(block).toDF("b").select(KvBlock.parseBlock(col("b")).as("kv"))
      .select(element_at(col("kv"), "机构名称"), element_at(col("kv"), "备注"))
      .as[(String, String)].head()
    assert(kv == (("新名", "a")))
  }

  test("mmrSelect: diversity outranks a higher-relevance near-duplicate; " +
      "hand-checked objective values") {
    val cands = Seq((1L, 10L, 100L), (1L, 11L, 96L), (1L, 12L, 60L),
      (1L, 13L, 95L)).toDF("query_id", "doc_id", "rel")
    def both(a: Long, b: Long, s: Long) = Seq((1L, a, b, s), (1L, b, a, s))
    val sims = (both(10, 11, 900000) ++ both(10, 12, 100000) ++
      both(10, 13, 880000) ++ both(11, 12, 100000) ++
      both(11, 13, 950000) ++ both(12, 13, 100000))
      .toDF("query_id", "doc_a", "doc_b", "sim")
    val out = Ranking.mmrSelect(cands, sims, k = 5, lambdaTenths = 7)
      .collect().sortBy(_.getAs[Int]("sel_rank"))
    // greedy: 10 (rel 1.0), 11 (0.7*.96-0.3*.9=.402), then doc 12 BEATS
    // the higher-rel near-dup 13 (.39 > .38), 13 last; only 4 picks land
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(10L, 11L, 12L, 13L))
    assert(out.map(_.getAs[Int]("sel_rank")).toSeq == Seq(1, 2, 3, 4))
    assert(out(0).getAs[Any]("max_sim") == null)
    assert(out(0).getAs[Double]("mmr") == 0.7)
    assert(out(1).getAs[Double]("mmr") == 0.402)
    assert(out(2).getAs[Double]("mmr") == 0.39)
    assert(out(2).getAs[Double]("max_sim") == 0.1)
    assert(out(3).getAs[Double]("mmr") == 0.38)
    assert(out(3).getAs[Double]("max_sim") == 0.95)
  }

  test("mmrSelect: lambda=10 is pure relevance order; missing sim pairs " +
      "read zero; ties break on doc_id ascending") {
    val cands = Seq((1L, 20L, 50L), (1L, 21L, 80L), (1L, 22L, 80L))
      .toDF("query_id", "doc_id", "rel")
    val sims = Seq((1L, 21L, 22L, 990000L), (1L, 22L, 21L, 990000L))
      .toDF("query_id", "doc_a", "doc_b", "sim")
    val rel = Ranking.mmrSelect(cands, sims, k = 3, lambdaTenths = 10)
      .collect().sortBy(_.getAs[Int]("sel_rank"))
      .map(_.getAs[Long]("doc_id")).toSeq
    // pure relevance: the 80s first (tie -> lower id), near-dup penalty off
    assert(rel == Seq(21L, 22L, 20L))
    // at lambda=7 the near-dup of the first pick falls behind doc 20,
    // whose sim rows are absent entirely (reads 0)
    val div = Ranking.mmrSelect(cands, sims, k = 3, lambdaTenths = 7)
      .collect().sortBy(_.getAs[Int]("sel_rank"))
    assert(div.map(_.getAs[Long]("doc_id")).toSeq == Seq(21L, 20L, 22L))
    // doc 20: 0.7*0.625 - 0.3*0 = 0.4375; doc 22: 0.7*1 - 0.3*0.99
    assert(div(1).getAs[Double]("mmr") == 0.4375)
    assert(div(2).getAs[Double]("mmr") == 0.403)
  }

  test("mmrSelect: multiple queries advance together; zero max rel " +
      "normalizes to zero") {
    val cands = Seq((1L, 1L, 10L), (1L, 2L, 4L),
      (2L, 7L, 0L), (2L, 8L, 0L)).toDF("query_id", "doc_id", "rel")
    val sims = spark.emptyDataFrame
      .select(lit(0L).as("query_id"), lit(0L).as("doc_a"),
        lit(0L).as("doc_b"), lit(0L).as("sim")).limit(0)
    val out = Ranking.mmrSelect(cands, sims, k = 2, lambdaTenths = 7)
      .collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ(1L).map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 2L))
    // all-zero rel: relnorm 0 for every candidate, ties on doc_id
    assert(byQ(2L).sortBy(_.getAs[Int]("sel_rank"))
      .map(_.getAs[Long]("doc_id")).toSeq == Seq(7L, 8L))
    assert(byQ(2L).forall(_.getAs[Double]("rel_norm") == 0.0))
  }
}
