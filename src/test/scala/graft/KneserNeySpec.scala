package graft

import graft.operators.KneserNey
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Interpolated Kneser–Ney bigram model (q208): the discount/backoff
  * algebra, the OOV contract, and the packed-pair plumbing.
  */
class KneserNeySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def refCorpus = Seq(
    "the cat sat on the mat",
    "the dog sat on the rug",
    "the cat ran to the dog",
    "a cat and a dog").toDF("text")

  test("p_KN sums to exactly 1 over the continuation vocabulary per context") {
    val m = KneserNey.trainBigramModel(refCorpus, col("text"))
    val big = m.bigrams.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap // vw -> c_vw
    val ctx = m.contexts.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val cont = m.continuations.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = m.nBigrams.collect().head.getLong(0)
    assert(b == big.size)
    // Sum of num/den over every w ever seen as a continuation must be
    // exactly 1 for every context v — the identity that makes KN a
    // probability model: Σ (4c−3)⁺B + Σ 3·n1v·n1w = 4·c_v·B.
    for ((v, (cV, n1V)) <- ctx) {
      val num = cont.map { case (w, n1W) =>
        val seen = big.get(v * KneserNey.Pack + w)
          .map(c => BigInt(4 * c - 3) * b).getOrElse(BigInt(0))
        seen + BigInt(3) * n1V * n1W
      }.sum
      assert(num == BigInt(4) * cV * b, s"context $v")
    }
  }

  test("scoring: seen bigrams beat unseen-but-in-vocab, OOV words count as oov") {
    val m = KneserNey.trainBigramModel(refCorpus, col("text"))
    val docs = Seq(
      (1L, "the cat sat on the mat"), // all bigrams seen, high counts
      (2L, "mat the rug dog a on"),   // in-vocab words, mostly unseen pairs
      (3L, "zebra quux flux"),        // fully OOV
      (4L, "cat")                     // < 2 tokens: no bigrams, drops out
    ).toDF("doc_id", "text")
    val got = KneserNey.scoreDocs(docs, col("doc_id"), col("text"), m)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), Option(r.get(3)).map(_.toString.toDouble)))
      .toMap
    assert(!got.contains(4L))
    assert(got(1L)._2 == 0.0)
    assert(got(1L)._3.get < 0.0)
    assert(got(2L)._3.get < got(1L)._3.get, s"unseen pairs must score lower: $got")
    assert(got(3L)._2 == 1.0 && got(3L)._3.isEmpty)
  }

  test("every per-bigram probability stays in (0,1]: num <= den on the real corpus") {
    val d = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
    val m = KneserNey.trainBigramModel(
      d.filter(col("lang") === "en"), col("text"))
    val scored = KneserNey.scoreDocs(d, col("doc_id"), col("text"), m)
    // mean_log2p <= 0 for every scorable doc is the observable form
    val bad = scored.filter(col("mean_log2p") > 0).count()
    assert(bad == 0)
  }

  test("bigramPairs packs adjacent word hashes (shift-30 recoverable)") {
    val df = Seq("alpha beta gamma").toDF("text")
    val words = df.select(graft.functions.PolyHash.polyGramHashes(
      col("text"), 1)).as[Seq[Long]].collect().head
    val pairs = df.select(KneserNey.bigramPairs(col("text")))
      .as[Seq[Long]].collect().head
    assert(pairs == Seq(
      words(0) * KneserNey.Pack + words(1),
      words(1) * KneserNey.Pack + words(2)))
    val short = Seq("one", "", "  ").toDF("text")
    assert(short.select(KneserNey.bigramPairs(col("text")))
      .as[Seq[Long]].collect().forall(_.isEmpty))
  }
}
