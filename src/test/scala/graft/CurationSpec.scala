package graft

import graft.functions.{Log2Fixed, NfcNormalize, PolyHash, TextFunctions}
import graft.operators.{Bm25, Dedup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 curation operators: line-level dedup family, compiled NFC
  * normalization, and fixed-point BM25.
  */
class CurationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- PolyStringHash ------------------------------------------------------

  test("PolyStringHash is bit-equal to the composable tokenHash fold") {
    val df = Seq("hello world", "", "a", "Ünïcødé — テスト 😀", "x" * 500)
      .toDF("s")
    val rows = df.select(
      PolyHash.polyStringHash(col("s")).as("compiled"),
      TextFunctions.tokenHash(col("s")).as("hof")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  // ---- line-level dedup ----------------------------------------------------

  private def linesDf = Seq(
    (0L, Seq("COOKIE BANNER", "real content zero", "TERMS FOOTER")),
    (1L, Seq("COOKIE BANNER", "real content one", "TERMS FOOTER")),
    (2L, Seq("COOKIE BANNER", "real content two")),
    (3L, Seq("COOKIE BANNER", "TERMS FOOTER")),          // all boilerplate
    (4L, Seq("unique только", "COOKIE BANNER", "more text"))
  ).toDF("doc_id", "lines")

  test("removeBoilerplateLines drops every occurrence of frequent lines, keeps order") {
    val out = Dedup.removeBoilerplateLines(linesDf, col("doc_id"), col("lines"),
        minDocs = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("n_lines"), r.getAs[Long]("n_dropped"),
          r.getAs[String]("text_clean"))).toMap
    // COOKIE BANNER in 5 docs, TERMS FOOTER in 3 → both flagged at minDocs=3
    assert(out(0L) == ((3, 2L, "real content zero")))
    assert(out(1L) == ((3, 2L, "real content one")))
    assert(out(2L) == ((2, 1L, "real content two")))
    assert(out(3L) == ((2, 2L, "")))                    // fully boilerplate doc kept, empty
    assert(out(4L) == ((3, 1L, "unique только\nmore text"))) // order preserved
  }

  test("removeBoilerplateLines with a high threshold drops nothing") {
    val out = Dedup.removeBoilerplateLines(linesDf, col("doc_id"), col("lines"),
        minDocs = 6)
      .agg(sum("n_dropped")).as[Long].head()
    assert(out == 0L)
  }

  test("dedupLinesWithinDoc keeps first occurrence in original order") {
    val df = Seq(
      (0L, Seq("x", "y", "x", "z", "y", "x")),
      (1L, Seq("a", "a", "a")),
      (2L, Seq("only"))
    ).toDF("doc_id", "lines")
    val out = Dedup.dedupLinesWithinDoc(df, col("doc_id"), col("lines"))
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("n_lines_in"), r.getAs[Long]("n_lines_out"),
          r.getAs[String]("text_dedup"))).toMap
    assert(out(0L) == ((6, 3L, "x\ny\nz")))
    assert(out(1L) == ((3, 1L, "a")))
    assert(out(2L) == ((1, 1L, "only")))
  }

  test("line dedup is cross-doc-independent: same lines in two docs both survive") {
    val df = Seq(
      (0L, Seq("shared", "shared")),
      (1L, Seq("shared"))
    ).toDF("doc_id", "lines")
    val out = Dedup.dedupLinesWithinDoc(df, col("doc_id"), col("lines"))
      .agg(sum("n_lines_out")).as[Long].head()
    assert(out == 2L) // one per doc — within-doc semantics only
  }

  // ---- NFC normalization ---------------------------------------------------

  test("NfcNormalize composes decomposed sequences and keeps NFC text unchanged") {
    val df = Seq(
      "a\u0301 la carte",       // a + combining acute -> precomposed
      "\u00e1 la carte",        // already composed
      "plain ascii",
      "\u1e69",                 // s with dot below and above, precomposed NFC
      "s\u0323\u0307",         // its fully decomposed form
      ""
    ).toDF("s")
    val out = df.select(NfcNormalize.expr(col("s")).as("n"))
      .as[String].collect()
    assert(out(0) == "\u00e1 la carte")
    assert(out(1) == "\u00e1 la carte")
    assert(out(2) == "plain ascii")
    assert(out(3) == "\u1e69")
    assert(out(4) == "\u1e69")
    assert(out(5) == "")
  }

  test("NfcNormalize handles nulls and supplementary characters") {
    val smile = new String(Character.toChars(0x1F600))
    val df = Seq(Option(smile + " a\u0301"), None).toDF("s")
    val out = df.select(NfcNormalize.expr(col("s")).as("n")).collect()
    assert(out.map(_.isNullAt(0)).count(identity) == 1)
    assert(out.flatMap(r => Option(r.getString(0))).head == smile + " \u00e1")
  }

  // ---- BM25 ----------------------------------------------------------------

  test("Bm25.topK matches a hand-computed fixed-point score") {
    val docs = Seq(
      (10L, "apple banana apple"),        // tf(apple)=2, dl=3
      (11L, "apple cherry"),              // tf(apple)=1, dl=2
      (12L, "durian elderberry fig")      // no query terms
    ).toDF("doc_id", "text")
    val qs = Seq((1L, "apple")).toDF("query_id", "qtext")
    val rows = Bm25.topK(docs, col("doc_id"), col("text"),
        qs, col("query_id"), col("qtext"), k = 10)
      .orderBy("rnk").collect()
    // support: only docs containing 'apple'
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == Seq(10L, 11L))
    // exact replay: N=3, S=8, df(apple)=2; idf = log2fp(3) - log2fp(2)
    val idf = Log2Fixed(3L) - Log2Fixed(2L)
    def contrib(tf: Long, dl: Long): Long =
      idf * (44L * tf * 8L) / (20L * tf * 8L + 6L * 8L + 18L * dl * 3L)
    assert(rows(0).getAs[Long]("score_fp") == contrib(2, 3))
    assert(rows(1).getAs[Long]("score_fp") == contrib(1, 2))
    assert(contrib(2, 3) > contrib(1, 2)) // higher tf ranks first here
  }

  test("Bm25.scoredWithMatches: scores equal topK's and n_matched counts " +
      "distinct query terms present in the doc") {
    val docs = Seq(
      (10L, "apple cherry apple"),        // apple only → 1 of 2 terms
      (11L, "apple banana cherry"),       // both terms → gold
      (12L, "banana banana"),             // banana only
      (13L, "durian elderberry fig")      // no query terms → absent
    ).toDF("doc_id", "text")
    val qs = Seq((1L, "apple banana")).toDF("query_id", "qtext")
    val qterms = Bm25.queryTerms(qs, col("query_id"), col("qtext"))
    val sm = Bm25.scoredWithMatches(docs, col("doc_id"), col("text"), qterms)
      .orderBy("doc_id").collect()
    assert(sm.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_matched")))
      .toSeq == Seq((10L, 1L), (11L, 2L), (12L, 1L)))
    // the scored surface is bit-identical to what topK ranks
    val viaTopK = Bm25.topK(docs, col("doc_id"), col("text"),
        qs, col("query_id"), col("qtext"), k = 10)
      .select("doc_id", "score_fp").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sm.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_fp")))
      .toSeq == viaTopK)
  }

  test("Bm25.dirichletTopK matches a hand-computed fixed-point QLM " +
      "score; OOV query terms drop from n_q") {
    val docs = Seq(
      (10L, "apple banana apple"),        // tf(apple)=2, dl=3
      (11L, "apple cherry"),              // tf(apple)=1, dl=2
      (12L, "durian elderberry fig")      // no query terms
    ).toDF("doc_id", "text")
    // query 2 carries an out-of-vocabulary term: it must not change n_q
    val qs = Seq((1L, "apple"), (2L, "apple zzzz")).toDF("query_id", "qtext")
    val rows = Bm25.dirichletTopK(docs, col("doc_id"), col("text"),
        qs, col("query_id"), col("qtext"), k = 10, mu = 20L)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        (r.getAs[Int]("rnk"), r.getAs[Long]("score_fp"))).toMap
    // support: only docs containing 'apple'; S=8, cf(apple)=3
    assert(rows.keySet == Set((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)))
    def l(x: Long) = Log2Fixed(x)
    def score(tf: Long, dl: Long): Long =
      (l(20L * 3 + tf * 8) - l(60L)) + 1L * (l(20L) - l(dl + 20L))
    assert(rows((1L, 10L))._2 == score(2, 3))
    assert(rows((1L, 11L))._2 == score(1, 2))
    // the OOV term contributes nothing: query 2 scores == query 1 scores
    assert(rows((2L, 10L)) == rows((1L, 10L)))
    assert(rows((2L, 11L)) == rows((1L, 11L)))
    // higher tf outranks despite the longer doc at this mu
    assert(rows((1L, 10L))._1 == 1 && rows((1L, 11L))._1 == 2)
  }

  test("topKExpanded: feedback terms retrieve docs the raw query misses") {
    // doc 1 matches the query and carries the bridge term; doc 2 shares
    // ONLY the bridge term — unreachable without expansion. Docs 3-4 are
    // feedback noise with distinct vocab.
    val docs = Seq(
      (1L, "apple banana bridge bridge"),
      (2L, "bridge cherry cherry"),
      (3L, "durian elder fig"),
      (4L, "grape honey kiwi")).toDF("doc_id", "text")
    val qs = Seq((1L, "apple")).toDF("query_id", "qtext")
    val raw = Bm25.topK(docs, col("doc_id"), col("text"),
        qs, col("query_id"), col("qtext"), k = 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(raw == Set(1L)) // support: only doc 1 contains 'apple'
    val expanded = Bm25.topKExpanded(docs, col("doc_id"), col("text"),
        qs, col("query_id"), col("qtext"),
        k = 10, feedbackN = 1, expandTerms = 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("rnk")).toMap
    // feedback doc = 1; its top non-query term is 'bridge' (tf 2);
    // doc 2 now scores via 'bridge' and joins the results
    assert(expanded.keySet == Set(1L, 2L))
    assert(expanded(1L) == 1) // original match still outranks
  }

  test("topKExpanded with expandTerms = 0 equals plain topK") {
    val docs = Seq(
      (1L, "apple banana"), (2L, "banana cherry"), (3L, "cherry durian"))
      .toDF("doc_id", "text")
    val qs = Seq((1L, "banana cherry")).toDF("query_id", "qtext")
    val a = Bm25.topK(docs, col("doc_id"), col("text"),
        qs, col("query_id"), col("qtext"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val b = Bm25.topKExpanded(docs, col("doc_id"), col("text"),
        qs, col("query_id"), col("qtext"), k = 5, expandTerms = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(a == b)
  }

  test("phraseSearch: adjacency, overlaps and repeated-term phrases") {
    val docs = Seq(
      (1L, "a table scan merge runs a table scan merge again"),
      (2L, "table scan but not the phrase merge"),
      (3L, "batch batch batch"),     // overlapping starts 0 and 1
      (4L, "batch and then batch"),  // non-adjacent: no match
      (5L, "")).toDF("doc_id", "text")
    val phrases = Seq((1, "table scan merge"), (2, "batch batch"))
      .toDF("pid", "ptext")
    val out = Bm25.phraseSearch(docs, col("doc_id"), col("text"),
        phrases, col("pid"), col("ptext"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getInt(3)))
      .toMap
    assert(out((1, 1L)) == ((2L, 1)))   // starts at token 1 and 7
    assert(!out.contains((1, 2L)))      // partial phrase is no match
    assert(out((2, 3L)) == ((2L, 0)))   // overlapping occurrences both count
    assert(!out.contains((2, 4L)))      // gap breaks adjacency
    assert(out.keys.forall(_._2 != 5L))
  }

  test("Bm25 multi-term scores sum per-term contributions and rank by them") {
    val docs = Seq(
      (1L, "red blue red"),
      (2L, "red green green"),
      (3L, "blue blue blue"),
      (4L, "yellow")
    ).toDF("doc_id", "text")
    val qs = Seq((7L, "red blue")).toDF("query_id", "qtext")
    val out = Bm25.topK(docs, col("doc_id"), col("text"),
        qs, col("query_id"), col("qtext"), k = 2)
      .orderBy("rnk").collect()
    assert(out.length == 2)
    // doc 1 holds both terms — must outrank single-term docs
    assert(out(0).getAs[Long]("doc_id") == 1L)
    assert(out(0).getAs[Int]("rnk") == 1)
  }
}
