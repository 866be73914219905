package graft

import graft.functions.TextRankKernel
import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The fused TextRank rank stage against its reference twin
  * ([[ReferenceTwins.textRankCompact]]): PageRankKernel over the edges
  * joined to their outdegree, then the dictionary left-joined to the
  * scores.
  */
class TextRankKernelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A co-occurrence graph frame: edge rows (a, b, w) and dictionary rows
    * (a, token).
    */
  private def graphOf(edges: Seq[(Long, Long, Long)],
      dict: Seq[(Long, String)]): DataFrame =
    (edges.map { case (a, b, w) => (a, Option(b), Option(w), Option.empty[String]) } ++
      dict.map { case (a, t) => (a, Option.empty[Long], Option.empty[Long], Option(t)) })
      .toDF("a", "b", "w", "token")

  private def ranks(df: DataFrame): Seq[(String, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted

  /** The kernel over `graph` collected into one row. */
  private def fused(graph: DataFrame, iterations: Int, dampingPerMille: Int,
      scale: Long): Seq[(String, Long)] =
    ranks(graph.coalesce(1)
      .agg(collect_list(struct(col("a"), col("b"), col("w"), col("token"))).as("g"))
      .select(explode(TextRankKernel.expr(col("g"), iterations,
        dampingPerMille, scale)).as("r"))
      .select(col("r.token"), col("r.rank_fp")))

  private def assertTwin(graph: DataFrame, iterations: Int,
      dampingPerMille: Int = 850, scale: Long = 1000000L): Seq[(String, Long)] = {
    val got = fused(graph, iterations, dampingPerMille, scale)
    assert(got == ranks(ReferenceTwins.textRankCompact(graph, iterations,
      dampingPerMille, scale)))
    got
  }

  test("kernel == twin on randomized graphs") {
    val rnd = new scala.util.Random(241)
    (1 to 40).foreach { _ =>
      val nTokens = 1 + rnd.nextInt(30)
      // a small id pool makes some tokens share an id
      val ids = Seq.fill(nTokens)(rnd.nextInt(nTokens + 5).toLong - 3)
      val dict = ids.zipWithIndex.map { case (id, i) => (id, s"t$i") }
      val nodes = ids.distinct
      val edges = (for {
        a <- nodes; b <- nodes if a != b && rnd.nextInt(4) == 0
      } yield (a, b, 1L + rnd.nextInt(6))).toSeq
      val it = 1 + rnd.nextInt(5)
      val damping = Seq(0, 500, 850, 1000)(rnd.nextInt(4))
      assertTwin(graphOf(edges, dict), it, damping,
        Seq(1000L, 1000000L)(rnd.nextInt(2)))
    }
  }

  test("isolated tokens rank at base, endpoints above it") {
    val got = assertTwin(graphOf(
      Seq((1L, 2L, 3L), (2L, 1L, 3L), (2L, 3L, 1L), (3L, 2L, 1L)),
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (7L, "lone"), (8L, "solo"))), 3)
      .toMap
    assert(got("lone") == 150000L && got("solo") == 150000L)
    assert(Seq("a", "b", "c").forall(got(_) > 150000L))
    assert(got("b") > got("a"))
  }

  test("tokens sharing a 60-bit id get equal ranks") {
    val got = assertTwin(graphOf(
      Seq((1L, 2L, 2L), (2L, 1L, 2L), (2L, 5L, 1L), (5L, 2L, 1L)),
      Seq((1L, "x"), (1L, "x-collides"), (2L, "y"), (5L, "z"), (9L, "p"),
        (9L, "q"))), 4).toMap
    assert(got("x") == got("x-collides") && got("p") == got("q"))
    assert(got.size == 6)
  }

  test("an empty graph ranks nothing, an edgeless one ranks every token at base") {
    assert(assertTwin(graphOf(Nil, Nil), 3).isEmpty)
    assert(assertTwin(graphOf(Nil, Seq((4L, "only"), (6L, "two"))), 3) ==
      Seq(("only", 150000L), ("two", 150000L)))
    val rowsType = ArrayType(StructType(Seq(StructField("a", LongType),
      StructField("b", LongType), StructField("w", LongType),
      StructField("token", StringType))))
    val nullIn = TextRankKernel(Literal(null, rowsType), 1, 850, 1000000L)
    assert(nullIn.checkInputDataTypes().isSuccess && nullIn.eval(null) == null)
  }

  test("the compact path of rankCooccurrence is the kernel in one plan") {
    val docs = Seq("alpha beta gamma alpha delta", "beta gamma epsilon",
      "zeta zeta eta").toDF("text")
    val (graph, nRows) = Graph.checkpointCooccurrence(docs, col("text"), 2)
    val ranked = Graph.rankCooccurrence(graph, nRows, 3)
    assert(ranked.queryExecution.executedPlan.toString.contains("text_rank_kernel"))
    assert(ranks(ranked) == ranks(ReferenceTwins.textRankCompact(graph, 3)))
  }
}
