package graft

import graft.functions.{CooccurCells, TextFunctions}
import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The compiled per-document co-occurrence kernel behind
  * `Graph.textRank` must build exactly the weighted edge multiset and the
  * dictionary of the higher-order-function form it replaced
  * ([[ReferenceTwins.textRankEdges]] / [[ReferenceTwins.textRankDictionary]])
  * — the q241 oracle replays that form, so any divergence shifts ranks.
  */
class CooccurCellsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val vocab = Seq("data", "pipeline", "spark", "托育", "中心",
    "机构", "数据", "a", "é", "😀", "ｘ")

  private def corpus(seed: Int, docs: Int): Seq[Option[String]] = {
    val rnd = new scala.util.Random(seed)
    val seps = Seq(" ", "  ", "\t", "\n", " \r\n ")
    (1 to docs).map { _ =>
      rnd.nextInt(12) match {
        case 0 => None
        case 1 => Some("")
        case 2 => Some(vocab(rnd.nextInt(vocab.size)))
        case _ =>
          // few distinct words per doc: repeats at every distance
          val words = rnd.shuffle(vocab).take(1 + rnd.nextInt(5))
          Some((1 to rnd.nextInt(40)).map(_ => words(rnd.nextInt(words.size)))
            .map(_ + seps(rnd.nextInt(seps.size))).mkString)
      }
    }
  }

  private def kernelEdges(g: DataFrame): Set[(Long, Long, Long)] =
    g.filter(col("b").isNotNull).select(col("a"), col("b"), col("w"))
      .as[(Long, Long, Long)].collect().toSet

  private def kernelDict(g: DataFrame): Set[(String, Long)] =
    g.filter(col("b").isNull).select(col("token"), col("a"))
      .as[(String, Long)].collect().toSet

  private def assertTwin(texts: Seq[Option[String]], window: Int): Unit = {
    val df = texts.toDF("text")
    val g = Graph.cooccurrenceGraph(df, col("text"), window).cache()
    try {
      val refEdges = ReferenceTwins.textRankEdges(df, col("text"), window)
        .as[(Long, Long, Long)].collect().toSet
      val refDict = ReferenceTwins.textRankDictionary(df, col("text"))
        .as[(String, Long)].collect().toSet
      assert(kernelEdges(g) == refEdges, s"edge multiset differs at window $window")
      assert(kernelDict(g) == refDict, s"dictionary differs at window $window")
      // one row per distinct key: the aggregation collapsed every cell
      assert(g.count() == refEdges.size + refDict.size)
    } finally g.unpersist()
  }

  test("kernel edges and dictionary == the HOF twin for every window 1..8") {
    val texts = corpus(seed = 7, docs = 120)
    (1 to 8).foreach(w => assertTwin(texts, w))
  }

  test("empty, whitespace-only, one-token and null texts build no edges") {
    val texts = Seq(None, Some(""), Some(" \t\n "), Some("solo"),
      Some("solo solo solo"), Some("数据"))
    (1 to 3).foreach(w => assertTwin(texts, w))
    val g = Graph.cooccurrenceGraph(texts.toDF("text"), col("text"), 2)
    assert(kernelEdges(g).isEmpty)
    assert(kernelDict(g).map(_._1) == Set("solo", "数据"))
  }

  test("null array in, null out; null elements pair with nothing") {
    val df = Seq(
      (Option(Seq(Option("x"), None, Option("y"))), 1),
      (Option.empty[Seq[Option[String]]], 2)).toDF("ts", "k")
    val out = df.select(col("k"), CooccurCells.expr(col("ts"), 2).as("c"))
      .collect().map(r => r.getInt(0) -> r.get(1)).toMap
    assert(out(2) == null)
    val cells = df.filter(col("k") === 1)
      .select(explode(CooccurCells.expr(col("ts"), 2)).as("c"))
      .select(col("c.a"), col("c.b"), col("c.w"), col("c.token"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        Option(r.getString(3))))
    val hx = CooccurCells.md5Long(UTF8String.fromString("x"))
    val hy = CooccurCells.md5Long(UTF8String.fromString("y"))
    // x and y are 2 apart (the null keeps its position): one pair, both
    // directions; window 1 would pair neither with the null
    assert(cells.toSet == Set(
      (hx, Some(hy), Some(1L), None), (hy, Some(hx), Some(1L), None),
      (hx, None, None, Some("x")), (hy, None, None, Some("y"))))
  }

  test("in-kernel hash == TextFunctions.md5Long, CJK and astral tokens included") {
    val words = vocab ++ Seq("", "TOKEN", "数据管道", "𠀀", "x" * 300)
    val ref = words.toDF("w")
      .select(col("w"), TextFunctions.md5Long(col("w")).as("h"))
      .as[(String, Long)].collect().toMap
    words.foreach { w =>
      assert(CooccurCells.md5Long(UTF8String.fromString(w)) == ref(w), w)
    }
    // a slice with a non-zero base offset (WsTokens' zero-copy tokens)
    val slice = UTF8String.fromBytes("pre 数据 post".getBytes("UTF-8"), 4, 6)
    assert(slice.toString == "数据")
    assert(CooccurCells.md5Long(slice) == ref("数据"))
  }
}
