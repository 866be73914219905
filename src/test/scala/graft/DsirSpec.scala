package graft

import graft.functions.{DsirScore, Log2Fixed, PolyHash}
import graft.operators.Dsir
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DsirSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dim = 64

  /** Composable oracle form of the kernel: gram hashes via the compiled
    * hashers, bucket lookup via HOF fold — a different execution path over
    * the same definitions.
    */
  private def hofSum(text: org.apache.spark.sql.Column, delta: Array[Long]) = {
    val grams = concat(
      PolyHash.polyGramHashes(text, 1),
      PolyHash.polyGramHashes(text, 2))
    val lut = typedLit(delta.toSeq)
    aggregate(grams, lit(0L),
      (acc, h) => acc + element_at(lut, pmod(h, lit(dim.toLong)).cast("int") + 1))
  }

  test("DsirScore kernel == HOF composition on real documents + edges") {
    val delta = Array.tabulate(dim)(b => (b * 37L - 1000L) % 513L)
    val docs = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
      .select(col("text"))
      .unionByName(Seq("", "  ", "one", "two tokens", "a b c d e",
        "汉字 分词 测试 🎉 🎉", "x " * 500).toDF("text"))
    val bad = docs.select(
        DsirScore.expr(col("text"), delta.toSeq).as("k"),
        hofSum(col("text"), delta).as("hs"),
        size(concat(
          PolyHash.polyGramHashes(col("text"), 1),
          PolyHash.polyGramHashes(col("text"), 2))).as("hn"))
      .filter(not(col("k.sum_fp") <=> col("hs")) ||
        not(col("k.n_grams") <=> col("hn")))
      .count()
    assert(bad == 0)
  }

  test("n_grams is 2n-1 for n tokens, 0 for empty") {
    val rows = Seq("", "a", "a b", "a b c").toDF("text")
      .select(DsirScore.expr(col("text"), Seq(0L)).as("k"))
      .select(col("k.n_grams")).as[Int].collect().toSeq
    assert(rows == Seq(0, 1, 3, 5))
  }

  test("logRatioTable matches the scalar Log2Fixed formula per bucket") {
    val target = Array(9L, 0L, 3L)
    val raw = Array(10L, 50L, 3L)
    val d = Dsir.logRatioTable(target, raw)
    val lgNt = Log2Fixed(9L + 0L + 3L + 3)
    val lgNr = Log2Fixed(10L + 50L + 3L + 3)
    (0 until 3).foreach { b =>
      assert(d(b) ==
        (Log2Fixed(target(b) + 1) - lgNt) - (Log2Fixed(raw(b) + 1) - lgNr))
    }
    // target-exclusive bucket scores higher than raw-dominant bucket
    assert(d(0) > d(1))
  }

  test("bucketCounts histogram == kernel's buckets (same fold both paths)") {
    val d = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
    val hist = Dsir.bucketCounts(d, col("text"), dim)
    // Independent recount through the kernel: delta = indicator of bucket b
    // makes sum_fp the per-doc count of b; summed over docs == histogram.
    Seq(0, 17, dim - 1).foreach { b =>
      val indicator = Array.tabulate(dim)(i => if (i == b) 1L else 0L)
      val n = d.select(DsirScore.expr(col("text"), indicator.toSeq).as("k"))
        .agg(sum(col("k.sum_fp"))).as[Long].collect().head
      assert(n == hist(b), s"bucket $b")
    }
  }

  test("selectQuota == row_number form, with ties and null ratios") {
    val scored = Seq(
      (1L, Some(2.5)), (2L, Some(2.5)), (3L, Some(2.5)),
      (4L, Some(9.0)), (5L, None), (6L, Some(-1.0)), (7L, Some(2.5))
    ).toDF("doc_id", "log_ratio")
    val got = Dsir.selectQuota(scored, col("log_ratio"), col("doc_id"), quota = 3)
      .filter(col("selected") === 1).select(col("doc_id"))
      .as[Long].collect().toSet
    // row_number over (ratio desc, id asc): 4, then ties 1,2 enter; 3,7 do not
    assert(got == Set(4L, 1L, 2L))
    // quota larger than the non-null pool selects every non-null row
    val all = Dsir.selectQuota(scored, col("log_ratio"), col("doc_id"), quota = 100)
      .filter(col("selected") === 1).count()
    assert(all == 6)
  }

  test("end-to-end: English target slice is over-selected") {
    val d = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
    val target = Dsir.bucketCounts(d.filter(col("lang") === "en"), col("text"), dim = 4096)
    val raw = Dsir.bucketCounts(d, col("text"), dim = 4096)
    val delta = Dsir.logRatioTable(target, raw)
    val scored = Dsir.importanceWeights(d, col("doc_id"), col("text"), delta)
    val flagged = Dsir.selectQuota(scored, col("log_ratio"), col("doc_id"), quota = 100)
      .join(d.select(col("doc_id"), col("lang")), "doc_id")
    assert(flagged.filter(col("selected") === 1).count() == 100)
    val enRateSel = flagged.filter(col("selected") === 1)
      .agg(avg(when(col("lang") === "en", 1.0).otherwise(0.0))).as[Double].collect().head
    val enRateAll = flagged
      .agg(avg(when(col("lang") === "en", 1.0).otherwise(0.0))).as[Double].collect().head
    assert(enRateSel > enRateAll,
      s"selection should skew toward the target slice: $enRateSel vs $enRateAll")
  }

  test("selectQuota == row_number form at a quota ABOVE both rank thresholds") {
    // 20k rows, heavy ties, quota 5000 — past windowGroupLimitThreshold
    // (1000) and at topKSortFallbackThreshold territory, where the
    // declarative rank forms degrade to a full sort; the manual prune
    // must keep the same answer.
    val d = spark.range(0, 20000)
      .select(col("id").as("doc_id"), (col("id") % 37).cast("double").as("r"))
    val expect = d.withColumn("__rk",
        row_number().over(Window.orderBy(col("r").desc, col("doc_id").asc)))
      .filter(col("__rk") <= 5000).select(col("doc_id"))
      .as[Long].collect().toSet
    val got = Dsir.selectQuota(d, col("r"), col("doc_id"), quota = 5000)
      .filter(col("selected") === 1).select(col("doc_id"))
      .as[Long].collect().toSet
    assert(got == expect)
  }

  test("selectQuota plan: zero-shuffle prune, no full-pool keyed exchange") {
    val d = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
      .select(col("doc_id"), (col("doc_id") % 97).cast("double").as("r"))
    val out = Dsir.selectQuota(d, col("r"), col("doc_id"), quota = 5000)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    // prune = local sort + mapPartitions take; cutoff rides a broadcast;
    // a hashpartitioning exchange anywhere would mean the pool reshuffled
    assert(plan.contains("MapPartitions"), plan.take(2500))
    assert(!plan.contains("hashpartitioning("), plan.take(2500))
  }
}
