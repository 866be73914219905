package graft

import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's cleaning assertions (_test_parser.py:51-59:
  * noise lines removed, real content kept) plus the text-analysis metrics.
  */
class TextFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(c.as("r")).head().get(0)

  test("tokens and counts") {
    assert(one(tokenCount(lit("the fast  key "))) == 3)
    assert(one(tokenCount(lit(""))) == 0)
    assert(one(tokenCount(lit("   "))) == 0)
  }

  test("P5 page-number lines match isPageNumberLine, body lines do not") {
    Seq("- 12 -", "第 3 页", "Page 4 of 9").foreach { l =>
      assert(one(isPageNumberLine(lit(l))) == true, l)
    }
    Seq("Page one", "The committee met on 12 May to review page 4 of the plan.")
      .foreach(l => assert(one(isPageNumberLine(lit(l))) == false, l))
  }

  test("P4 noise lines match isNoiseLine by prefix, body lines do not") {
    Seq("Copyright 2024 Example Press", "  版权所有 · 某某出版社").foreach { l =>
      assert(one(isNoiseLine(lit(l))) == true, l)
    }
    Seq("Page one", "The committee met on 12 May; copyright law was not discussed.")
      .foreach(l => assert(one(isNoiseLine(lit(l))) == false, l))
  }

  test("shingles are ordered k-grams") {
    assert(one(shingles(lit("a b c d"), 3)) == Seq("a b c", "b c d"))
    assert(one(shingles(lit("a b"), 3)) == Seq())
  }

  test("quality buckets gate on length, diversity, stopwords") {
    assert(one(qualityBucket(lit("short doc"))) == "too_short")
    val repetitive = ("word " * 50).trim
    assert(one(qualityBucket(lit(repetitive))) == "repetitive")
    val boiler = (("the a of to and in is it on an " * 3) + "unique1 unique2 extra4 more5 word6 seven8").trim
    assert(one(qualityBucket(lit(boiler))) == "boilerplate")
    val ok = (1 to 30).map(i => s"tok$i").mkString(" ")
    assert(one(qualityBucket(lit(ok))) == "ok")
  }

  test("language-ID heuristic picks marker-word majority") {
    assert(one(langIdHeuristic(lit("the cat and the dog of the house is big"))) == "en")
    assert(one(langIdHeuristic(lit("der hund und die katze ist hier"))) == "de")
    assert(one(langIdHeuristic(lit("xyz abc qqq"))) == "und")
  }

  test("compiled lang-ID vote == composable form on real documents (incl. ties)") {
    val docs = graft.core.Tables.load(spark, SparkTestSession.Sf0001, "documents")
      .select(col("text"))
      // synthetic tie rows: equal marker hits across languages must resolve
      // to the lexicographically greatest language in both forms
      .unionByName(Seq("the der", "le el 的", "is est es y", "").toDF("text"))
    val diff = docs.select(
        langIdHeuristic(col("text")).as("compiled"),
        ReferenceTwins.langIdHeuristicComposable(col("text")).as("composable"))
      .filter(not(col("compiled") <=> col("composable")))
      .count()
    assert(diff == 0)
  }

  test("cleanDocument replicates the reference pipeline exactly (DATA:527-542)") {
    val doc = Seq(
      "真实的正文内容保留在这里",
      "- 3 -", // page number → dropped
      "第 12 页", // page number → dropped
      "Page 3 of 10", // page number → dropped
      "===========", // separator pattern → dropped
      "分享到 微信朋友圈", // noise pattern 7 (line start) → dropped
      "某某新闻 版权所有", // keyword near end → dropped
      "[a](u1) [b](u2) [c](u3)", // 3 markdown links, dense → dropped
      "结尾内容(责任编辑：李四)也保留", // half-width credit scrubbed, line kept
      "京ICP备12345678号-9", // license line → dropped
      // REFERENCE QUIRKS, replicated deliberately:
      "Copyright 2024 Example Corp", // kept — we do NOT replicate the
      // char-class bug that drops every i/c/p-initial line
      "点击查看更多内容", // 查看更多 not at line start → kept
      "http://a.cn/1 http://a.cn/2 http://a.cn/3", // raw URLs aren't markdown links → kept
      "全角（责任编辑：王五）不被去除" // full-width credit: the reference pattern is half-width only → kept
    ).mkString("\n")
    val cleaned = one(cleanDocument(lit(doc))).toString
    assert(cleaned.contains("真实的正文内容保留在这里"))
    assert(cleaned.contains("结尾内容也保留")) // credit scrubbed, halves joined
    assert(!cleaned.contains("- 3 -") && !cleaned.contains("第 12 页"))
    assert(!cleaned.contains("Page 3") && !cleaned.contains("====="))
    assert(!cleaned.contains("分享到") && !cleaned.contains("版权所有"))
    assert(!cleaned.contains("[a](u1)") && !cleaned.contains("京ICP备"))
    assert(cleaned.contains("Copyright 2024 Example Corp"))
    assert(cleaned.contains("点击查看更多内容"))
    assert(cleaned.contains("http://a.cn/2"))
    assert(cleaned.contains("全角（责任编辑：王五）不被去除"))
  }

  test("cleanDocument: Python strip/splitlines parity (unicode ws, trailing \\n)") {
    // full-width-space indents strip like str.strip(); tab-only lines
    // are blank (dropped); form feeds split lines
    val doc = "　　正文一\n\t\t\n次行\f页三"
    val cleaned = one(cleanDocument(lit(doc))).toString
    assert(cleaned == "正文一\n次行\n页三")
    // trailing newline must NOT create a phantom 20th line: 19 real
    // lines + trailing \n keeps the repeated header (gate off)
    val doc19 = (0 until 19).map(i =>
      if (i % 7 == 0) "页眉 HEADER" else s"正文 $i").mkString("\n") + "\n"
    assert(one(cleanDocument(lit(doc19))).toString.contains("页眉 HEADER"))
    // ...while the same 20 real lines trip the gate
    val doc20 = (0 until 20).map(i =>
      if (i % 7 == 0) "页眉 HEADER" else s"正文 $i").mkString("\n")
    assert(!one(cleanDocument(lit(doc20))).toString.contains("页眉"))
    // tab-padded headers strip-equal and count together
    val docTab = (0 until 21).map(i =>
      if (i % 7 == 0) "\t页眉X" else s"正文 $i").mkString("\n")
    assert(!one(cleanDocument(lit(docTab))).toString.contains("页眉X"))
  }

  test("cleanDocument: lowercase icp license lines drop (IGNORECASE parity)") {
    val cleaned = one(cleanDocument(lit("正文\n京icp备12345号"))).toString
    assert(cleaned == "正文")
  }

  test("cleanDocument: repeated-header removal gates at 20 lines") {
    def doc(n: Int): String =
      (0 until n).map(i => if (i % 7 == 0) "页眉 HEADER" else s"正文 $i").mkString("\n")
    // 28 lines → header appears 4x and is removed everywhere
    val big = one(cleanDocument(lit(doc(28)))).toString
    assert(!big.contains("页眉") && big.contains("正文 1"))
    // 14 lines → under the >= 20 gate, the header stays
    val small = one(cleanDocument(lit(doc(14)))).toString
    assert(small.contains("页眉 HEADER"))
  }

  test("cleanDocument: labeled truncation marker") {
    val doc = ("很" * 300) + "\n正文"
    val cleaned = one(cleanDocument(lit(doc), maxChars = 100)).toString
    assert(cleaned.length == 100 + "\n\n...[文档内容过长，已截断至 100 字符]".length)
    assert(cleaned.endsWith("...[文档内容过长，已截断至 100 字符]"))
  }

  test("truncateWithMarker caps content (O7)") {
    assert(one(truncateWithMarker(lit("x" * 100), 10)).toString == "x" * 10 + "…[truncated]")
    assert(one(truncateWithMarker(lit("short"), 10)).toString == "short")
  }

  test("fingerprint is deterministic and content-sensitive") {
    val a = one(fingerprint(lit("the quick brown fox")))
    val b = one(fingerprint(lit("the quick brown fox")))
    val c = one(fingerprint(lit("the quick brown cat")))
    assert(a == b)
    assert(a != c)
  }

  test("urlHost: lowercases, strips scheme/port/userinfo/path") {
    assert(one(urlHost(lit("HTTPS://WWW.Example.COM/a/b?q=1"))).toString == "www.example.com")
    assert(one(urlHost(lit("http://example.com:8080/x"))).toString == "example.com")
    assert(one(urlHost(lit("https://user:pw@site.org/p"))).toString == "site.org")
  }

  test("htmlMainContent: boilerplate containers and link-dense blocks drop, prose survives") {
    val html =
      """<html><body><nav><a href="/">Home</a> <a href="/b">Blog</a></nav>""" +
        """<header><h1>Site Banner</h1></header>""" +
        """<div><a href="/1">One</a> <a href="/2">Two</a> ad</div>""" +
        """<p>Real prose with a single <a href="/ref">reference link</a> inside a long sentence.</p>""" +
        """<aside>related stuff</aside>""" +
        """<footer>(c) nobody</footer></body></html>"""
    val got = one(htmlMainContent(lit(html))).toString
    // prose with a MINORITY link survives; everything else dies
    assert(got == "Real prose with a single reference link inside a long sentence.", got)
  }

  test("htmlMainContent: all-boilerplate page extracts to empty") {
    val html = """<body><nav><a>x</a></nav><div><a href="/">only links</a></div></body>"""
    assert(one(htmlMainContent(lit(html))).toString == "")
  }

  test("registrableDomain: eTLD+1 with two-label ccTLD suffixes") {
    def rd(h: String) = one(registrableDomain(lit(h))).toString
    assert(rd("www.example.com") == "example.com")
    assert(rd("a.b.c.example.com") == "example.com")
    assert(rd("news.bbc.co.uk") == "bbc.co.uk")       // two-label suffix → 3 labels
    assert(rd("media3.com.cn") == "media3.com.cn")    // host IS eTLD+1 already
    assert(rd("x.media3.com.cn") == "media3.com.cn")
    assert(rd("plain.net") == "plain.net")            // 2 labels → itself
    assert(rd("localhost") == "localhost")
    // unknown TLD falls back to last two labels (mini-PSL caveat)
    assert(rd("deep.sub.example.dev") == "example.dev")
  }

  test("tokens: no phantom empty token on non-space leading whitespace") {
    // Spark trim strips ASCII spaces only — a tab/newline-leading string
    // used to yield a leading "" from split and over-count by one vs the
    // DuckDB twins, which filter empties (ADVICE r7)
    val df = Seq("\thello world", "\nhello world", "  hello world",
      "hello world", "\t", "", "a\t\nb").toDF("t")
    val counts = df.select(size(tokens(col("t"))).as("n"))
      .as[Int].collect().toSeq
    assert(counts == Seq(2, 2, 2, 2, 0, 0, 2))
  }
}
