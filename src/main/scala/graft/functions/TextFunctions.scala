package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis and cleaning column functions — the Spark-first restatement
  * of the reference's document-cleaning pipeline (多数据源获取数据.py:455-542,
  * SURVEY.md §2.2 P4/P5/P14, §2.8 F7/O7) plus the LLM-training-data text
  * metrics (language-ID, quality scoring, token counting, fingerprinting).
  *
  * Everything here is a pure `Column => Column` composition of built-in,
  * codegen'd expressions — no UDFs — so the whole pipeline stays inside
  * WholeStageCodegen and scales linearly with input.
  */
object TextFunctions {

  // ---- tokenization -------------------------------------------------------

  /** Whitespace tokens of a string; empty/blank string → empty array.
    * Empty fragments are filtered AFTER the split (not avoided via trim):
    * Spark's `trim` strips ASCII spaces only, so a string leading with a
    * tab/newline still yields a leading "" from `split` — the DuckDB
    * oracle twins filter empties after `string_split_regex`, and this
    * must count identically on arbitrary whitespace (ADVICE r7).
    */
  def tokens(c: Column): Column =
    // compiled byte-scan kernel (r14) — bit-identical to the composable
    // `filter(split(trim(c), "\\s+"), x => x =!= "")` (see [[WsTokens]];
    // the equivalence spec keeps that form as its reference)
    org.apache.spark.sql.classic.GraftColumnBridge.column(
      WsTokens(org.apache.spark.sql.classic.GraftColumnBridge.expression(c)))

  /** Evaluate `c` ONCE per row and reference it through a lambda
    * variable. Expensive shared subexpressions referenced from several
    * `when()` branches re-evaluate per branch (conditional branches are
    * excluded from codegen subexpression elimination), and a plain
    * withColumn alias gets re-inlined by CollapseProject — the lambda
    * binding survives both (SchemaValidate's r8 lesson: 5.3× on the
    * JSON parse alone).
    */
  def bindOnce(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Sentence split: terminator runs `[.!?]+` (or end-of-text) close a
    * sentence; fragments are trimmed and empties dropped. The pattern is
    * extract-all shaped (no lookbehind) so the DuckDB RE2 twins replay it
    * verbatim — parity-critical, so every consumer (sentence chunking,
    * readability) must share THIS definition.
    */
  def sentences(c: Column): Column =
    filter(
      transform(regexp_extract_all(c, lit("[^.!?]+(?:[.!?]+|$)"), lit(0)),
        x => trim(x)),
      x => x =!= "")

  /** BPE-ish sub-word split: runs of letters, runs of digits, or single
    * non-alnum marks (reference has no tokenizer; this is the engine's
    * training-data extension).
    */
  def bpeishTokens(c: Column): Column =
    regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /** Word k-shingles over whitespace tokens, order-preserving w/ dups kept.
    *
    * Built from k shifted slices folded with `zip_with` — O(k) array ops per
    * row instead of O(n) `slice` calls. Higher-order functions evaluate
    * interpreted (outside codegen), so the constant factor matters: the
    * naive `transform(sequence(0, n-k), i -> slice...)` form measured ~25ms
    * per 90-token document; this form is ~linear in tokens with tiny
    * constants.
    */
  def shingles(c: Column, k: Int): Column = {
    require(k >= 1, "shingle size must be >= 1")
    val t = tokens(c)
    val width = size(t) - (k - 1)
    val folded = (1 until k).foldLeft(slice(t, lit(1), width)) { case (acc, j) =>
      zip_with(acc, slice(t, lit(j + 1), width), (a, b) => concat(a, lit(" "), b))
    }
    when(size(t) < k, array().cast("array<string>")).otherwise(folded)
  }

  def distinctShingles(c: Column, k: Int): Column = array_distinct(shingles(c, k))

  // ---- quality scoring ----------------------------------------------------

  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "on")

  /** Fraction of tokens that are stopwords, 0.0 for empty docs. */
  def stopwordRatio(c: Column, stopwords: Seq[String] = DefaultStopwords): Column = {
    val t = tokens(c)
    val stops = filter(t, w => w.isin(stopwords: _*))
    when(size(t) === 0, lit(0.0)).otherwise(size(stops).cast("double") / size(t))
  }

  /** Mean token length (chars), 0.0 for empty. */
  def meanTokenLen(c: Column): Column = {
    val t = tokens(c)
    when(size(t) === 0, lit(0.0))
      .otherwise(aggregate(t, lit(0L), (acc, w) => acc + length(w)).cast("double") / size(t))
  }

  /** Coarse quality bucket for training-data filtering: short / low-diversity
    * docs get downranked. Deterministic, rule-based (the reference's quality
    * gates are all rule thresholds too — 多数据源获取数据.py:479-490).
    */
  def qualityBucket(c: Column): Column = {
    val n = tokenCount(c)
    val distinctFrac = when(n === 0, lit(0.0))
      .otherwise(size(array_distinct(tokens(c))).cast("double") / n)
    when(n < 20, lit("too_short"))
      .when(distinctFrac < lit(0.2), lit("repetitive"))
      .when(stopwordRatio(c) > lit(0.5), lit("boilerplate"))
      .otherwise(lit("ok"))
  }

  // ---- PII redaction ------------------------------------------------------

  /** Email/phone patterns kept to the syntax subset Java regex and RE2
    * share, so the DuckDB oracle applies the LITERAL same pattern strings
    * (q74) — no per-engine dialect translation to drift.
    */
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRegex = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"

  def countMatches(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  /** Replace every email, then every phone number, with typed placeholder
    * tokens — the standard pre-training PII scrub. Narrow, codegen'd.
    * The ORDER IS LOAD-BEARING: the phone pattern can match inside an
    * email local part ("a+1-234-5678@x.com"), so phones-first would mangle
    * the address into something the email pass no longer recognizes and
    * leak a partial address. Emails-first consumes the whole address.
    */
  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRegex, "[EMAIL]"), PhoneRegex, "[PHONE]")

  // ---- repetition / redundancy metrics (Gopher-style filters) ------------

  /** Share of word k-grams taken by the single most frequent k-gram
    * (the Gopher "fraction in most common n-gram" rule, tie-robust: the
    * share of the modal gram is well-defined even when several grams tie).
    * 0.0 for docs with fewer than k tokens. Rounded to 6 decimals.
    *
    * Computed per row over the sorted shingle array with one run-length
    * fold — narrow, no explode, no shuffle: at 100 TB this is a map-side
    * projection like the other quality metrics, not an aggregation.
    */
  def topNgramFrac(c: Column, k: Int): Column = {
    val g = array_sort(shingles(c, k))
    val n = size(g)
    val best = aggregate(
      g,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + lit(1L))
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    when(n === 0, lit(0.0))
      .otherwise(round(best.cast("double") / n.cast("double"), 6))
  }

  /** Fraction of word k-grams that are repeats of an earlier k-gram
    * (1 − distinct/total — the Gopher "duplicate n-gram fraction" rule).
    * 0.0 for docs with fewer than k tokens. Rounded to 6 decimals.
    */
  def dupNgramFrac(c: Column, k: Int): Column = {
    val g = shingles(c, k)
    val n = size(g)
    when(n === 0, lit(0.0))
      .otherwise(round(
        lit(1.0) - size(array_distinct(g)).cast("double") / n.cast("double"), 6))
  }

  // ---- language ID (n-gram/stopword heuristic) ---------------------------

  /** Tiny deterministic language-ID: counts hits from per-language marker
    * word lists; highest count wins, ties broken lexicographically; no hits
    * → "und". Real corpora would plug a model in via the same signature.
    */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "die", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "est"),
    "es" -> Seq("el", "los", "y", "es"),
    "zh" -> Seq("的", "是", "了", "在"))

  def langIdHeuristic(c: Column): Column = LangIdVote.expr(c)

  // ---- fingerprinting -----------------------------------------------------

  /** Modulus for the rolling hashes: keeps every intermediate < 2^35, so
    * the fold is ANSI-overflow-safe AND reproducible in plain SQL (the
    * DuckDB oracle computes the identical value — no engine hash involved).
    */
  val FingerprintPrime = 1000000007L

  /** Char-level polynomial token hash: fold (acc*31 + codepoint) % P. */
  def tokenHash(w: Column): Column =
    aggregate(
      filter(split(w, ""), ch => ch =!= ""),
      lit(0L),
      (acc, ch) => pmod(acc * 31L + ascii(ch), lit(FingerprintPrime)))

  /** Polynomial rolling-hash document fingerprint over whitespace tokens:
    * fold (acc*31 + tokenHash) % P — order-sensitive, deterministic.
    */
  def fingerprint(c: Column): Column =
    aggregate(
      tokens(c),
      lit(0L),
      (acc, w) => pmod(acc * lit(31L) + tokenHash(w), lit(FingerprintPrime)))

  /** 64-bit token hash usable identically from DuckDB (md5-prefix → long). */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // ---- HTML → text (S6's computable half; the fetch stays the seam) -------

  /** Readable text from an HTML document: script/style/comment blocks die,
    * block-level closers become newlines, remaining tags strip, the five
    * standard entities (+ nbsp) decode, and whitespace normalizes (runs of
    * spaces collapse, blank lines collapse, edges trim). A fixed chain of
    * codegen'd regexp_replace steps in the Java∩RE2 syntax subset — the
    * q91 oracle applies the LITERAL same chain, so extraction is
    * hash-checked, not just spec'd.
    */
  def htmlToText(c: Column): Column = {
    val withBreaks = regexp_replace(stripNonContent(c),
      "(?i)<(br|/p|/div|/h[1-6]|/li|/tr|/table|/ul|/ol)[^>]*>", "\n")
    decodeAndCollapse(regexp_replace(withBreaks, "<[^>]+>", ""))
  }

  /** script/style/comment blocks die — shared head of both extractors. */
  private def stripNonContent(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      "(?is)<script[^>]*>.*?</script>", ""),
      "(?is)<style[^>]*>.*?</style>", ""),
      "(?s)<!--.*?-->", "")

  /** Entity decode + whitespace normalization — shared tail. */
  private def decodeAndCollapse(noTags: Column): Column = {
    val decoded = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(noTags,
        "&nbsp;", " "), "&lt;", "<"), "&gt;", ">"),
        "&quot;", "\""), "&#39;", "'"), "&amp;", "&")
    val collapsed = regexp_replace(regexp_replace(regexp_replace(decoded,
      "[ \\t]+", " "),
      " ?\\n ?", "\n"),
      "\\n+", "\n")
    regexp_replace(collapsed, "^\\n+|\\n+$", "")
  }

  /** MAIN-content extraction (the reference's trafilatura stage,
    * 多数据源获取数据.py:980-990, re-expressed as deterministic block
    * scoring): where [[htmlToText]] strips tags uniformly, this drops
    * boilerplate STRUCTURE first —
    *
    *  1. semantic boilerplate containers (`<nav> <aside> <header>
    *     <footer>`) are removed wholesale (one strip per tag: the shared
    *     Java∩RE2 subset has no backreferences),
    *  2. the rest splits into blocks at block-level closers (the same
    *     closer set htmlToText turns into newlines), and
    *  3. each block is kept only if it has visible text at all AND its
    *     link density is at most 1/2 — `2 × |<a> inner text| ≤ |text|`,
    *     the classic text-to-link-ratio boilerplate test (nav bars and
    *     "related links" sidebars are mostly anchor text; prose is not).
    *
    * Every step is a codegen'd regex/HOF composition the q154 oracle
    * replays literally, so main-content selection is hash-checked. At
    * scale this is a narrow per-row projection — no shuffle, no UDF.
    */
  def htmlMainContent(c: Column): Column = {
    val noBoiler = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      stripNonContent(c),
      "(?is)<nav[^>]*>.*?</nav>", ""),
      "(?is)<aside[^>]*>.*?</aside>", ""),
      "(?is)<header[^>]*>.*?</header>", ""),
      "(?is)<footer[^>]*>.*?</footer>", "")
    val blocks = split(noBoiler,
      "(?i)<(?:br|/p|/div|/h[1-6]|/li|/tr|/table|/ul|/ol)[^>]*>")
    def textLen(b: Column) = length(trim(regexp_replace(b, "<[^>]+>", "")))
    val kept = filter(blocks, b => {
      val linkLen = aggregate(
        regexp_extract_all(b, lit("(?is)<a[^>]*>(.*?)</a>"), lit(1)),
        lit(0), (acc, l) => acc + textLen(l))
      textLen(b) > 0 && linkLen * 2 <= textLen(b)
    })
    decodeAndCollapse(
      array_join(transform(kept, b => regexp_replace(b, "<[^>]+>", "")), "\n"))
  }

  // ---- URL canonicalization (crawl-dedup key) -----------------------------

  /** Canonical URL for crawl/dedup keys: drop the fragment, lowercase
    * scheme and host (paths stay case-sensitive), strip tracking params
    * (utm_* / fbclid / gclid) while preserving the order of the rest, and
    * trim trailing slashes from the path. Pure regex/array composition in
    * the Java∩RE2 syntax subset — the q87 oracle applies the literal same
    * steps.
    */
  def canonicalizeUrl(c: Column): Column = {
    val noFrag = regexp_replace(c, "#.*$", "")
    val scheme = regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    val host = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)", 1)
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*", "")
    val path = regexp_replace(rest, "\\?.*$", "")
    val query = when(rest.contains("?"),
      regexp_replace(rest, "^[^?]*\\?", "")).otherwise(lit(""))
    val kept = filter(split(query, "&"), p =>
      !(p.startsWith("utm_") || p.startsWith("fbclid=") ||
        p.startsWith("gclid=") || p === ""))
    concat(lower(scheme), lit("://"), lower(host),
      regexp_replace(path, "/+$", ""),
      when(size(kept) > 0, concat(lit("?"), array_join(kept, "&"))).otherwise(lit("")))
  }

  // ---- domain extraction ---------------------------------------------------

  /** Two-label public suffixes recognized by [[registrableDomain]] — a
    * bundled mini-PSL covering the common ccTLD second levels; at deploy
    * time the full public-suffix list drops in as data, same rule.
    */
  val TwoLabelSuffixes: Seq[String] = Seq(
    "co.uk", "ac.uk", "gov.uk", "com.cn", "org.cn", "net.cn", "gov.cn",
    "com.au", "net.au", "co.jp", "or.jp", "com.br", "co.in", "co.kr")

  /** Lowercased host of a URL (port/userinfo excluded). */
  def urlHost(c: Column): Column =
    lower(regexp_extract(c, "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@]*@)?([^/?:#]*)", 1))

  /** Registrable domain (eTLD+1) of a host: the label before the public
    * suffix plus the suffix — the unit C4/RefinedWeb-style pipelines cap
    * and dedupe on ("max N docs per domain"), where raw hosts would let
    * one site sneak past the cap via subdomains. Pure column arithmetic.
    */
  def registrableDomain(host: Column): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    val last2 = concat_ws(".", slice(labels, -2, 2))
    val last3 = concat_ws(".", slice(labels, -3, 3))
    when(n <= 2, host)
      .when(last2.isin(TwoLabelSuffixes: _*), last3)
      .otherwise(last2)
  }

  // ---- encoding fallback (F14) -------------------------------------------

  /** Charset-fallback decode chain (多数据源获取数据.py:1053-1060): try each
    * charset in order; a decoding "succeeds" when re-encoding round-trips
    * the original bytes. Requires `spark.sql.legacy.codingErrorAction=true`
    * (set by GraftSession) so `decode` substitutes on malformed input
    * instead of raising — the round-trip equality is then the validity
    * check. Falls back to a lossy decode of the last charset.
    */
  /** Session prerequisites for [[decodeChain]], set explicitly by name:
    * `codingErrorAction` makes malformed `decode` substitute instead of
    * raise (the round-trip check then detects it), `javaCharsets` admits
    * GBK. GraftSession sets both at build time; callers on a foreign
    * session invoke this ONCE, knowingly — decodeChain itself never
    * mutates the session.
    */
  def ensureDecodeChainConfs(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.codingErrorAction", "true")
    spark.conf.set("spark.sql.legacy.javaCharsets", "true")
  }

  def decodeChain(bin: Column, charsets: Seq[String] = Seq("UTF-8", "GBK", "ISO-8859-1")): Column = {
    val attempts = charsets.map { cs =>
      val d = decode(bin, cs)
      when(encode(d, cs) === bin, d)
    }
    coalesce(attempts :+ decode(bin, charsets.last): _*)
  }

  // ---- cleaning (X7 pipeline analog) --------------------------------------

  /** Page-number line patterns (多数据源获取数据.py:468-473). */
  val PageNumRegex = "^\\s*(-\\s*\\d+\\s*-|第\\s*\\d+\\s*页|Page\\s+\\d+(\\s+of\\s+\\d+)?)\\s*$"

  /** Noise-line patterns (多数据源获取数据.py:455-464 analog). */
  val NoiseRegex =
    "^\\s*(Copyright|版权所有|All rights reserved|ICP备|点击查看|更多精彩|扫码关注|分享到|上一篇|下一篇)"

  def isPageNumberLine(c: Column): Column = c.rlike(PageNumRegex)
  def isNoiseLine(c: Column): Column = c.rlike(NoiseRegex)

  /** Link-dense predicate: >2 links and <30 chars/link (DATA:479-490). */
  def isLinkDense(c: Column): Column = {
    val links = size(regexp_extract_all(c, lit("https?://\\S+"), lit(0)))
    links > 2 && (length(c) / links) < 30
  }

  /** Strip editor-credit spans `（责任编辑：…）` (DATA:467,538). */
  def scrubEditorCredit(c: Column): Column =
    regexp_replace(c, "（责任编辑：[^）]*）", "")

  /** Collapse runs of blank lines / horizontal whitespace (DATA:492-505). */
  def normalizeWhitespace(c: Column): Column =
    regexp_replace(regexp_replace(c, "[ \\t]+", " "), "\\n{2,}", "\n")

  /** Truncate with marker when over `max` chars (DATA:476,522-525 — O7). */
  def truncateWithMarker(c: Column, max: Int, marker: String = "…[truncated]"): Column =
    when(length(c) > max, concat(substring(c, 1, max), lit(marker))).otherwise(c)

  // ---- the EXACT clean_document replica (DATA:455-542) --------------------
  //
  // The helpers above (NoiseRegex, isLinkDense, scrubEditorCredit,
  // normalizeWhitespace) are the engine's composable string library —
  // q33/q35 oracle-check them individually. `cleanDocument` below is the
  // reference's pipeline VERBATIM: its 8 noise patterns (including the
  // verbatim character-class quirk in the license pattern), markdown-link
  // density with the `links + 1` divisor, half-width editor parens,
  // repeated-header removal gated at >= 20 lines, and the labeled Chinese
  // truncation marker.

  /** The reference's `_NOISY_PATTERNS` (DATA:455-464); compiled
    * IGNORECASE there, so latin-bearing patterns carry `(?i)` here.
    *
    * ONE deliberate divergence (SURVEY §7's "reference bugs to not
    * replicate"): the license pattern's first alternative is written as
    * a CHARACTER CLASS in the reference — `[京公网安备京网文京ICP备]` —
    * which under IGNORECASE drops EVERY line starting with i/c/p
    * ("Copyright…", "In this article…"). The intent is clearly the
    * Beijing license prefixes; this port spells them as sequence
    * alternations (京公网安备|京网文|京ICP备) and keeps i/c/p lines.
    */
  private[graft] val RefNoisePatterns: Seq[String] = Seq(
    "^[\\-=*#_]{3,}$",
    "(?i)\\.(html|shtml|htm|php)\\s*$",
    ".{0,50}(搜狐|网易|腾讯|新浪|登录|注册|版权所有|版权声明).{0,50}$",
    "\\[\\d+\\]|\\[下一页\\]|\\[上一页\\]",
    "\\[(编辑|查看历史|讨论|阅读|来源|原标题)\\]",
    "^\\*+\\s*\\[.*?\\]\\(.*?\\)",
    "^\\s*(分享到|扫描二维码|返回搜狐|查看更多|责任编辑|记者|通讯员)",
    "(?i)^\\s*(京公网安备|京网文|京ICP备|互联网新闻信息服务许可证|信息网络传播视听节目许可证)")

  /** DATA:466 `_EDITOR_PATTERN` — half-width paren OR bracket forms. */
  private[graft] val RefEditorRegex =
    "(\\(|\\[)\\s*责任编辑：.*?\\s*(\\)|\\])"

  /** Python `str.strip()`'s whitespace set as LITERAL characters (the
    * escape syntaxes differ between Java regex and RE2, literal chars
    * work in both) — `trim` strips ASCII space only and silently keeps
    * the full-width U+3000 indents ubiquitous in Chinese text.
    */
  private[graft] val PyWsChars: String =
    "\t\n\u000B\f\r \u001C\u001D\u001E\u001F\u0085\u00A0\u1680\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200A\u2028\u2029\u202F\u205F\u3000"
  private[graft] val PyStripRegex = s"^[$PyWsChars]+|[$PyWsChars]+$$"

  /** `str.strip()` parity (both regex engines, literal-char class). */
  private[graft] def pyStrip(c: Column): Column =
    regexp_replace(c, PyStripRegex, "")

  /** Python `str.splitlines()`'s separator set (\\r\\n first so it
    * counts as ONE break; note: no U+001F, unlike the strip set).
    */
  private[graft] val PySplitLinesRegex =
    "\r\n|[\n\r\u000B\f\u001C\u001D\u001E\u0085\u2028\u2029]"

  /** DATA:468-473 `_PAGE_NUM_PATTERN` (search on the stripped line). */
  private[graft] val RefPageNumRegex =
    "^\\s*[-—]\\s*\\d+\\s*[-—]\\s*$|" +
      "^\\s*第\\s*\\d+\\s*页\\s*(共\\s*\\d+\\s*页)?\\s*$|" +
      "(?i)^\\s*Page\\s+\\d+\\s*(of\\s+\\d+)?\\s*$"

  /** `_is_noisy_line` (DATA:479-490) over an already-stripped line:
    * blank, any noise pattern, or markdown-link-dense with the
    * reference's exact `len/(links+1) < 30` float test.
    */
  private[graft] def isNoisyLineRef(stripped: Column): Column = {
    val links = size(regexp_extract_all(stripped,
      lit("\\[.*?\\]\\(.*?\\)"), lit(0)))
    (stripped === "") ||
      RefNoisePatterns.map(p => stripped.rlike(p)).reduce(_ || _) ||
      (links > 2 && length(stripped) / (links + 1) < 30)
  }

  /** `clean_document` (DATA:527-542), step for step:
    *  1. repeated-header removal — only when the doc has >= 20 lines;
    *     a stripped line shorter than 100 chars appearing >= 3 times is
    *     dropped everywhere (counted per doc with an O(L²) HOF scan —
    *     still a narrow per-row projection, L = that doc's line count);
    *  2. per line: skip page-number and noisy lines (checked on the
    *     STRIPPED line, before the editor scrub), then strip the
    *     half-width editor credit from the RAW line, trim, drop empties;
    *  3. join (the reference's normalize pass is vacuous here — step 2
    *     leaves no blank or padded lines);
    *  4. truncate with the reference's labeled marker.
    */
  def cleanDocument(c: Column, maxChars: Int = 80000): Column = {
    // splitlines parity: the full separator set, and NO phantom trailing
    // line when the text ends with a terminator (Java split keeps the
    // trailing "" that Python drops — it would flip the >=20-line gate)
    val rawSplit = split(c, PySplitLinesRegex)
    val rawLines = when(element_at(rawSplit, -1) === "",
      slice(rawSplit, lit(1), size(rawSplit) - 1)).otherwise(rawSplit)
    val afterRep = when(size(rawLines) >= 20,
      filter(rawLines, l => {
        val t = pyStrip(l)
        !(t =!= "" && length(t) < 100 &&
          size(filter(rawLines, x => pyStrip(x) === t)) >= 3)
      })).otherwise(rawLines)
    val filtered = filter(afterRep, l =>
      !pyStrip(l).rlike(RefPageNumRegex) && !isNoisyLineRef(pyStrip(l)))
    val scrubbed = filter(
      transform(filtered, l => pyStrip(regexp_replace(l, RefEditorRegex, ""))),
      x => x =!= "")
    truncateWithMarker(array_join(scrubbed, "\n"), maxChars,
      s"\n\n...[文档内容过长，已截断至 $maxChars 字符]")
  }
}
