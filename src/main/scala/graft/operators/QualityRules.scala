package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gopher-style document quality rules (Rae et al. 2021, "Scaling Language
  * Models: ... Gopher", §A1.1) — the standard rule-based pre-filter a
  * training pipeline runs before the statistical ones (q100/q102 LM score,
  * q37 heuristic buckets; reference analog: the noisy-text gates of
  * 多数据源获取数据.py:455-542).
  *
  * Every signal is a pure per-row fold over built-in codegen'd expressions
  * (tokenize once, reuse) — a narrow projection with NO shuffle, so the
  * filter runs at scan speed at any scale. Thresholds are parameters with
  * the paper's defaults; `keep_doc` applies them all.
  */
object QualityRules {

  /** The paper's 8 English function words ("must contain ≥2"). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Fraction of words containing at least one ASCII letter. */
  def alphaWordFrac(text: Column): Column = {
    val t = TextFunctions.tokens(text)
    when(size(t) === 0, lit(0.0))
      .otherwise(size(filter(t, w => w.rlike("[A-Za-z]"))).cast("double") / size(t))
  }

  /** '#' or ellipsis occurrences per word (the paper's symbol-to-word ratio). */
  def symbolWordRatio(text: Column): Column = {
    val t = TextFunctions.tokens(text)
    val sym = size(regexp_extract_all(text, lit("#|\\.\\.\\.|…"), lit(0)))
    when(size(t) === 0, lit(0.0)).otherwise(sym.cast("double") / size(t))
  }

  /** Distinct Gopher stopwords present (case-insensitive). */
  def stopwordHits(text: Column, stopwords: Seq[String] = GopherStopwords): Column =
    size(array_intersect(
      array_distinct(transform(TextFunctions.tokens(text), w => lower(w))),
      array(stopwords.map(lit): _*)))

  /** Fraction of lines whose trimmed form starts with a bullet mark. */
  def bulletLineFrac(text: Column): Column = {
    val lines = split(text, "\n")
    when(size(lines) === 0, lit(0.0))
      .otherwise(size(filter(lines, l => trim(l).rlike("^[-*•]"))).cast("double") /
        size(lines))
  }

  /** Fraction of lines ending in an ellipsis. */
  def ellipsisLineFrac(text: Column): Column = {
    val lines = split(text, "\n")
    when(size(lines) === 0, lit(0.0))
      .otherwise(size(filter(lines, l => rtrim(l).rlike("(\\.\\.\\.|…)$")))
        .cast("double") / size(lines))
  }

  /** The combined Gopher keep decision as ONE boolean Column — a pure
    * per-row predicate, so a pipeline can apply the gate as a narrow
    * `filter` with no join against [[gopherQuality]]'s signal output
    * (q134 uses it exactly so).
    */
  def keepFlag(textCol: Column,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
      minStopwords: Int = 2, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3,
      stopwords: Seq[String] = GopherStopwords): Column =
    TextFunctions.tokenCount(textCol).between(minWords, maxWords) &&
      TextFunctions.meanTokenLen(textCol).between(minMeanLen, maxMeanLen) &&
      symbolWordRatio(textCol) <= maxSymbolRatio &&
      alphaWordFrac(textCol) >= minAlphaFrac &&
      stopwordHits(textCol, stopwords) >= minStopwords &&
      bulletLineFrac(textCol) <= maxBulletFrac &&
      ellipsisLineFrac(textCol) <= maxEllipsisFrac

  // ---- Gopher repetition rules (Rae et al. 2021 §A1.1, table A1 right
  // half) — the duplicate-line and repeated-n-gram signals that catch
  // boilerplate spam the word-level rules above cannot. Conventions
  // (documented where the paper is under-specified, and replayed
  // verbatim by the q203 oracle):
  //  - dup_line_frac        = (n_lines − n_distinct) / n_lines
  //  - dup_line_char_frac   = Σ_distinct (freq−1)·len(line) / Σ len(line)
  //  - top_gram_char_frac   = max_freq · len(top gram) / len(joined toks)
  //    (ties broken to the lexicographically smallest gram)
  //  - dup_gram_char_frac   = Σ_{distinct g, freq>1} freq·len(g) /
  //    len(joined toks), clamped at 1.0 (overlapping occurrences are
  //    summed, not position-deduped — the common open-source
  //    approximation of the paper's char-coverage measure)
  // One compiled pass per row gathers every measure — a narrow
  // projection, no shuffle, scan speed at any scale. Ratios are int/int
  // IEEE divisions (bit-identical across engines, no rounding needed on
  // the oracle surface). The sort + run-length-fold form is
  // graft.ReferenceTwins.repetitionSignalsHof, in the tests.

  /** The repetition signal block: (n_lines, dup_line_frac,
    * dup_line_char_frac, top_gram_char_frac, dup_gram_char_frac,
    * keep_repetition) appended to the id column. `linesCol` is any
    * `array<string>` of non-empty lines (real corpora pass
    * `split(text, '\n')`; the synthetic corpus passes sentence splits).
    * Thresholds default to the paper's table A1 values.
    */
  def repetitionSignals(
      df: DataFrame, idCol: Column, textCol: Column, linesCol: Column,
      topGramN: Int = 2, dupGramN: Int = 5,
      maxDupLineFrac: Double = 0.30, maxDupLineCharFrac: Double = 0.20,
      maxTopGramCharFrac: Double = 0.20,
      maxDupGramCharFrac: Double = 0.15): DataFrame = {
    // the compiled one-pass kernel gathers the integer measures; the
    // fraction ARITHMETIC stays in the Column layer so the divisions are
    // the same IEEE expressions the q203 oracle replays (155.6 → 9.8 s
    // over 10M docs, 15.9×; the HOF form, ReferenceTwins
    // .repetitionSignalsHof, remains the composable reference, equivalence
    // spec-pinned)
    val st = graft.functions.RepetitionCharStats.expr(
      struct(textCol, linesCol), topGramN, dupGramN)
    val r = col("__r")
    val nLines = r.getField("n_lines")
    val dupLineFrac = when(nLines === 0, lit(0.0))
      .otherwise((nLines - r.getField("n_distinct_lines")).cast("double") / nLines)
    val dupLineCharFrac = when(r.getField("line_chars") === 0, lit(0.0))
      .otherwise(r.getField("dup_line_extra").cast("double") /
        r.getField("line_chars"))
    val topFrac = when(
        r.getField("top_gram_chars") === 0 || r.getField("joined_len") === 0,
        lit(0.0))
      .otherwise(r.getField("top_gram_chars").cast("double") /
        r.getField("joined_len"))
    val dupGramFrac = when(r.getField("joined_len") === 0, lit(0.0))
      .otherwise(least(lit(1.0),
        r.getField("dup_gram_chars").cast("double") / r.getField("joined_len")))
    // two projects on purpose: CollapseProject declines to merge them
    // (the kernel call is non-cheap and referenced per field), so the
    // kernel runs once per row
    df.select(idCol.as("id"), st.as("__r"))
      .select(col("id"),
        nLines.cast("int").as("n_lines"),
        dupLineFrac.as("dup_line_frac"),
        dupLineCharFrac.as("dup_line_char_frac"),
        topFrac.as("top_gram_char_frac"),
        dupGramFrac.as("dup_gram_char_frac"),
        (dupLineFrac <= maxDupLineFrac &&
          dupLineCharFrac <= maxDupLineCharFrac &&
          topFrac <= maxTopGramCharFrac &&
          dupGramFrac <= maxDupGramCharFrac).as("keep_repetition"))
  }

  /** Line-level policy phrases C4 drops (Raffel et al. 2020 §2.2: the
    * "curly bracket / policy" heuristics of the C4 cleaning pass).
    */
  val C4PolicyPhrases: Seq[String] =
    Seq("privacy policy", "cookie policy", "terms of use", "uses cookies")

  /** Page-level kill phrases: any line containing one drops the whole doc. */
  val C4PageDropPhrases: Seq[String] = Seq("lorem ipsum")

  /** C4-style page cleaning (Raffel et al. 2020, §2.2): keep only lines
    * that end in terminal punctuation, have >= `minLineWords` words, don't
    * contain the word "javascript" and no policy phrase; drop the whole
    * page when any line contains '{' or a page-kill phrase ("lorem
    * ipsum"), or when fewer than `minKeptLines` lines survive.
    *
    * Like the Gopher gate this is ONE narrow compiled projection — array
    * lambdas over the lines column, no shuffle, scan-speed at any scale.
    * `linesCol` is any `array<string>`; real corpora pass
    * `split(text, '\n')` (the synthetic corpus passes token-chunk lines,
    * q142).
    *
    * Output: (id, n_lines_in, n_lines_kept, keep_doc, text_clean) —
    * text_clean is the kept lines re-joined for surviving docs, '' for
    * dropped ones.
    */
  def c4Clean(df: DataFrame, idCol: Column, linesCol: Column,
      minLineWords: Int = 5, minKeptLines: Int = 3,
      policyPhrases: Seq[String] = C4PolicyPhrases,
      pageDropPhrases: Seq[String] = C4PageDropPhrases): DataFrame = {
    def lineKeep(l: Column): Column = {
      val toks = TextFunctions.tokens(l)
      rtrim(l).rlike("[.!?\"”]$") &&
        size(toks) >= minLineWords &&
        !exists(toks, t => lower(t) === "javascript") &&
        policyPhrases.map(p => !lower(l).contains(p)).reduce(_ && _)
    }
    def pageDrop(lines: Column): Column =
      exists(lines, l =>
        l.contains("{") ||
          pageDropPhrases.map(p => lower(l).contains(p)).reduce(_ || _))
    df.select(idCol.as("id"), linesCol.as("__lines"))
      .select(col("id"), col("__lines"),
        filter(col("__lines"), lineKeep _).as("__kept"),
        pageDrop(col("__lines")).as("__drop"))
      .select(col("id"),
        size(col("__lines")).as("n_lines_in"),
        size(col("__kept")).as("n_lines_kept"),
        (!col("__drop") && size(col("__kept")) >= minKeptLines)
          .cast("int").as("keep_doc"),
        when(!col("__drop") && size(col("__kept")) >= minKeptLines,
          array_join(col("__kept"), "\n")).otherwise("").as("text_clean"))
  }

  /** All Gopher signals + the combined keep flag, one tokenize pass shape.
    * Output: (id, n_words, mean_word_len, frac_alpha, symbol_ratio,
    * bullet_frac, ellipsis_frac, n_stopwords, keep_doc) — ratios rounded to
    * 4 dp for hash-comparability, the keep decision made on UNROUNDED
    * values.
    */
  def gopherQuality(
      df: DataFrame, idCol: Column, textCol: Column,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
      minStopwords: Int = 2, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3,
      stopwords: Seq[String] = GopherStopwords): DataFrame = {
    val nWords = TextFunctions.tokenCount(textCol)
    val meanLen = TextFunctions.meanTokenLen(textCol)
    val fracAlpha = alphaWordFrac(textCol)
    val symRatio = symbolWordRatio(textCol)
    val bulletFrac = bulletLineFrac(textCol)
    val ellipsisFrac = ellipsisLineFrac(textCol)
    val nStop = stopwordHits(textCol, stopwords)
    val keep = keepFlag(textCol, minWords, maxWords, minMeanLen, maxMeanLen,
      maxSymbolRatio, minAlphaFrac, minStopwords, maxBulletFrac,
      maxEllipsisFrac, stopwords)
    df.select(
      idCol.as("id"),
      nWords.as("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(fracAlpha, 4).as("frac_alpha"),
      round(symRatio, 4).as("symbol_ratio"),
      round(bulletFrac, 4).as("bullet_frac"),
      round(ellipsisFrac, 4).as("ellipsis_frac"),
      nStop.as("n_stopwords"),
      keep.cast("int").as("keep_doc"))
  }

  /** Flesch–Kincaid readability grade per document — the lightweight
    * education-level proxy quality filters use when a learned scorer
    * (q136) is too heavy: grade = 0.39·(words/sentences) +
    * 11.8·(syllables/word) − 15.59. Sentences come from the q180
    * RE2-safe terminator split; syllables from the standard vowel-group
    * heuristic (runs of [aeiouy], min 1 per word) — both replayable
    * relationally, so the whole statistic sits on the oracle surface.
    * The grade is portable-half-up rounded to 2dp via
    * floor(x·100 + 0.5)/100 over IDENTICAL doubles (never engine ROUND —
    * the q136 .5-boundary lesson); null when a doc has no words or no
    * sentences. One narrow projection: no explode, no shuffle.
    */
  def readability(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val out = TextFunctions.bindOnce(textCol) { t =>
      val words = TextFunctions.tokens(t)
      val nw = size(words).cast("long")
      val ns = size(TextFunctions.sentences(t)).cast("long")
      val ny = aggregate(words, lit(0L), (a, wd) =>
        a + greatest(lit(1L),
          size(regexp_extract_all(wd, lit("[aeiouy]+"), lit(0))).cast("long")))
      val grade = lit(0.39) * nw / ns + lit(11.8) * ny / nw - 15.59
      struct(nw.as("nw"), ns.as("ns"), ny.as("ny"),
        when(nw > 0 && ns > 0,
          floor(grade * 100 + 0.5) / 100).as("fk"))
    }
    df.select(idCol.as("doc_id"), out.as("__r"))
      .select(col("doc_id"), col("__r.nw").as("n_words"),
        col("__r.ns").as("n_sents"), col("__r.ny").as("n_syllables"),
        col("__r.fk").as("fk_grade"))
  }
}
