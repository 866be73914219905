package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The compiled whitespace tokenizer (WsTokens, r14) must be bit-identical
  * to the composable regex form it replaced — every text operator in the
  * engine (BM25, Gopher rules, classifier, BLEU, textrank) tokenizes
  * through it, so a single divergent split would shift dozens of
  * oracle-checked outputs.
  */
class WsTokensSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def bothForms(values: Seq[Option[String]]): Unit = {
    val df = values.toDF("s")
    val rows = df.select(
      TextFunctions.tokens(col("s")).as("kernel"),
      ReferenceTwins.tokensComposable(col("s")).as("hof")).collect()
    rows.zip(values).foreach { case (r, in) =>
      val k = if (r.isNullAt(0)) null else r.getSeq[String](0)
      val h = if (r.isNullAt(1)) null else r.getSeq[String](1)
      assert(k == h, s"mismatch on input $in: kernel=$k hof=$h")
    }
  }

  test("kernel == composable on adversarial inputs") {
    bothForms(Seq(
      Some(""), Some(" "), Some("   \t\n  "), Some("a"),
      Some("  leading"), Some("trailing  "), Some("a b"),
      Some("a\tb\ncd\fe\rf"),                 // every \s class char
      Some(" nbsp stays inside"),    // NBSP is NOT \s
      Some("　ideographic　space"),         // U+3000 is NOT \s
      Some("Ünïcødé — テスト 😀 ok"),
      Some("multi   internal\t\t\truns"),
      Some("x" * 10000),
      Some((" word" * 2000) + "  "),
      None))
  }

  test("kernel == composable on pseudo-random token soup") {
    val rnd = new scala.util.Random(42)
    val alphabet = "ab \t\n\f\r é鶴😀zZ0."
    val inputs = (1 to 200).map { _ =>
      Some((1 to rnd.nextInt(80)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    bothForms(inputs)
  }

  test("kernel == composable over the sf0.001 document corpus") {
    val dir = "/root/testdata/sf0.001"
    if (new java.io.File(s"$dir/documents.parquet").exists) {
      val d = graft.core.Tables.load(spark, dir, "documents")
      val bad = d.select(
          TextFunctions.tokens(col("text")).as("k"),
          ReferenceTwins.tokensComposable(col("text")).as("h"))
        .filter(not(col("k") <=> col("h"))).count()
      assert(bad == 0L)
    }
  }
}
