package graft

import graft.operators.QualityRules
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class QualityRulesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val goodBody =
    ("the quick brown fox jumps over the lazy dog and that " * 5).trim

  private def run(rows: Seq[(Long, String)]) =
    QualityRules.gopherQuality(
      rows.toDF("id", "text"), col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap

  test("keep flag: word-count, mean-length, stopword bounds") {
    val out = run(Seq(
      1L -> goodBody,                                  // 55 words, stopworded
      2L -> "too short to pass the bar",               // < 50 words
      3L -> ("a b c d e " * 12).trim,                  // mean word len 1 < 3
      4L -> ("internationalization disestablishment " * 30).trim)) // mean > 10, no stopwords
    assert(out(1L).getAs[Int]("keep_doc") == 1)
    assert(out(2L).getAs[Int]("keep_doc") == 0)
    assert(out(3L).getAs[Int]("keep_doc") == 0)
    assert(out(3L).getAs[Double]("mean_word_len") == 1.0)
    assert(out(4L).getAs[Int]("keep_doc") == 0)
    assert(out(4L).getAs[Int]("n_stopwords") == 0)
    assert(out(1L).getAs[Int]("n_stopwords") == 3) // the, and, that
  }

  test("symbol-to-word ratio counts '#' and ellipses, kills spammy docs") {
    val spam = (goodBody.split(" ").map(w => s"$w ###").mkString(" "))
    val out = run(Seq(1L -> goodBody, 2L -> spam))
    assert(out(1L).getAs[Double]("symbol_ratio") == 0.0)
    assert(out(2L).getAs[Double]("symbol_ratio") >= 1.0)
    assert(out(2L).getAs[Int]("keep_doc") == 0)
  }

  test("alpha-word fraction flags numeric/garbage token floods") {
    val numeric = (goodBody + " " + ("12345 67890 11111 22222 33333 " * 8)).trim
    val out = run(Seq(1L -> numeric))
    assert(out(1L).getAs[Double]("frac_alpha") < 0.8)
    assert(out(1L).getAs[Int]("keep_doc") == 0)
  }

  test("line rules: bullet-heavy and ellipsis-heavy docs dropped") {
    val bullets = (1 to 10).map(i => s"- item $i of the list").mkString("\n") +
      "\n" + goodBody
    val dots = (1 to 5).map(i => s"teaser number $i goes on...").mkString("\n") +
      "\n" + goodBody
    val out = run(Seq(1L -> bullets, 2L -> dots))
    assert(out(1L).getAs[Double]("bullet_frac") > 0.9)
    assert(out(1L).getAs[Int]("keep_doc") == 0)
    assert(out(2L).getAs[Double]("ellipsis_frac") > 0.3)
    assert(out(2L).getAs[Int]("keep_doc") == 0)
  }

  test("empty and whitespace-only docs yield zeroed signals, dropped") {
    val out = run(Seq(1L -> "", 2L -> "   "))
    Seq(1L, 2L).foreach { id =>
      assert(out(id).getAs[Int]("n_words") == 0)
      assert(out(id).getAs[Double]("mean_word_len") == 0.0)
      assert(out(id).getAs[Int]("keep_doc") == 0)
    }
  }

  test("plan: narrow projection, no exchange") {
    val df = QualityRules.gopherQuality(
      Seq((1L, goodBody)).toDF("id", "text"), col("id"), col("text"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("QualityClassifier: trained-weights path, empty docs, seeded==arith") {
    import graft.operators.QualityClassifier
    // poly31("a") = 97 -> bucket 1 (dim 8); poly31("b") = 98 -> bucket 2
    val w = Array.fill(8)(0)
    w(1) = 500; w(2) = -200
    val docs = Seq((1L, "a b"), (2L, "b b"), (3L, "   ")).toDF("doc_id", "text")
    val got = QualityClassifier.score(docs, col("doc_id"), col("text"),
        dim = 8, weightsPerMille = Some(w))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getDouble(2) == 0.15 && got(1L).getInt(3) == 1)  // (500-200)/2000
    assert(got(2L).getDouble(2) == -0.2 && got(2L).getInt(3) == 0)
    assert(got(3L).isNullAt(2) && got(3L).getInt(3) == 0)
    // seeded weight of bucket b must equal the closed-form the q136
    // oracle replays
    val seeded = QualityClassifier.score(docs, col("doc_id"), col("text"), dim = 8)
      .collect().map(r => r.getLong(0) -> r).toMap
    def sw(b: Long) = ((b * 2654435761L) % 2147483647L % 2001L) - 1000L
    val expected1 = (sw(1) + sw(2)).toDouble / 2000.0
    assert(math.abs(seeded(1L).getDouble(2) -
      math.rint(expected1 * 1e6) / 1e6) < 1e-12)
  }

  private def runC4(rows: Seq[(Long, String)]) =
    QualityRules.c4Clean(
        rows.toDF("id", "text"), col("id"), split(col("text"), "\n"))
      .collect().map(r => r.getLong(0) -> r).toMap

  private val sentence = "the quick brown fox jumps over the lazy dog."

  test("c4Clean: terminal punctuation, word count and sentence floor") {
    val out = runC4(Seq(
      1L -> Seq(sentence, sentence, sentence).mkString("\n"),
      2L -> Seq(sentence, "no terminal punctuation here",
        sentence, sentence).mkString("\n"),
      3L -> Seq(sentence, "Too short.", sentence).mkString("\n"),
      4L -> Seq(sentence, sentence).mkString("\n"))) // only 2 kept lines
    assert(out(1L).getAs[Int]("keep_doc") == 1)
    assert(out(1L).getAs[String]("text_clean") ==
      Seq(sentence, sentence, sentence).mkString("\n"))
    assert(out(2L).getAs[Int]("n_lines_kept") == 3)
    assert(out(2L).getAs[Int]("keep_doc") == 1)
    assert(out(3L).getAs[Int]("n_lines_kept") == 2) // "Too short." < 5 words
    assert(out(3L).getAs[Int]("keep_doc") == 0)
    assert(out(4L).getAs[Int]("keep_doc") == 0)
    assert(out(4L).getAs[String]("text_clean") == "")
  }

  test("c4Clean: javascript lines and policy phrases dropped; '?' '!' quote endings kept") {
    val out = runC4(Seq(
      1L -> Seq("why would the lazy dog ever jump?",
        "“the fox made the dog jump anyway.”",
        "what a surprise that was for everyone!",
        "please enable JavaScript to view the comments.",
        "see our Privacy Policy and cookie policy for details.").mkString("\n")))
    assert(out(1L).getAs[Int]("n_lines_in") == 5)
    assert(out(1L).getAs[Int]("n_lines_kept") == 3)
    assert(out(1L).getAs[Int]("keep_doc") == 1)
    assert(!out(1L).getAs[String]("text_clean").toLowerCase.contains("javascript"))
  }

  test("c4Clean: curly brace or lorem ipsum anywhere kills the page") {
    val out = runC4(Seq(
      1L -> Seq(sentence, sentence, sentence, "function() { return 1; }")
        .mkString("\n"),
      2L -> Seq(sentence, sentence, sentence,
        "standard Lorem Ipsum passage used since the 1500s.").mkString("\n")))
    assert(out(1L).getAs[Int]("keep_doc") == 0)
    assert(out(1L).getAs[Int]("n_lines_kept") == 3) // lines kept, page dropped
    assert(out(2L).getAs[Int]("keep_doc") == 0)
  }

  test("repetitionSignals: hand-computed fractions and edge cases") {
    import graft.operators.QualityRules
    def sig(id: Long, text: String): org.apache.spark.sql.Row = {
      val df = Seq((id, text)).toDF("doc_id", "text")
      QualityRules.repetitionSignals(df, col("doc_id"), col("text"),
        split(col("text"), "\n")).head()
    }
    // 4 lines, "dup" twice: dup_line_frac = 1/4; the extra copy of the
    // 3-char line over 3+3+5+5=16 chars -> dup_line_char_frac = 3/16
    val r = sig(1L, "dup\ndup\nabcde\nfghij")
    assert(r.getAs[Double]("dup_line_frac") == 0.25)
    assert(r.getAs[Double]("dup_line_char_frac") == 3.0 / 16)
    // "a b a b a" -> bigrams: "a b"x2, "b a"x2 -> tie broken to the
    // lexicographically smallest ("a b"); 2*3 chars over 9 joined chars
    val t = sig(2L, "a b a b a")
    assert(t.getAs[Double]("top_gram_char_frac") == 6.0 / 9)
    // repeated 5-gram: "v w x y z v w x y z" has exactly one duplicated
    // 5-gram ("v w x y z" x2) among 6 -> 2*9/19
    val f = sig(3L, "v w x y z v w x y z")
    assert(f.getAs[Double]("dup_gram_char_frac") == 18.0 / 19)
    assert(!f.getAs[Boolean]("keep_repetition"))
    // clean text keeps — note it must be LONG enough: on a very short
    // doc even a freq-1 top bigram exceeds 20% of the chars, which is
    // why the word-level gates (q113 minWords) run before this one
    assert(sig(4L, ('a' to 'z').map(c => s"word$c").mkString(" "))
      .getAs[Boolean]("keep_repetition"))
    assert(!sig(6L, "tiny doc").getAs[Boolean]("keep_repetition"))
    val e = sig(5L, "")
    assert(e.getAs[Int]("n_lines") == 0 &&
      e.getAs[Double]("dup_gram_char_frac") == 0.0 &&
      e.getAs[Boolean]("keep_repetition"))
  }

  test("repetition kernel == HOF reference, bit-for-bit on decorated real docs") {
    import graft.operators.QualityRules
    val docs = graft.core.Tables.load(spark, SparkTestSession.Sf001, "documents")
      .withColumn("__t", concat(col("text"),
        when(pmod(col("doc_id"), lit(4)) === 1,
          lit(" repeat me please now. repeat me please now."))
          .otherwise(lit(""))))
      .withColumn("__l", split(col("__t"), "\\."))
    val cols = Seq("id", "n_lines", "dup_line_frac", "dup_line_char_frac",
      "top_gram_char_frac", "dup_gram_char_frac", "keep_repetition")
    val kernel = QualityRules.repetitionSignals(
        docs, col("doc_id"), col("__t"), col("__l"))
      .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    val hof = ReferenceTwins.repetitionSignalsHof(
        docs, col("doc_id"), col("__t"), col("__l"))
      .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(kernel == hof)
    assert(kernel.nonEmpty)
  }
}
