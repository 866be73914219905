package graft.queries

import graft.core.Tables
import graft.functions.{Log2Fixed, NfcNormalize, TextFunctions}
import graft.operators.{Bm25, Dedup, Ranking}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 corpus-curation operators, oracle-checked: CCNet-style
  * line-level dedup (cross-corpus boilerplate removal + within-doc
  * collapse), Unicode NFC normalization, corpus vocabulary statistics, and
  * fixed-point BM25 retrieval.
  *
  * The synthetic documents have no newlines, so the line queries derive
  * deterministic "lines" as fixed-width token chunks — 3 tokens for the
  * cross-corpus query (enough combinations that only genuinely repeated
  * chunks cross the frequency threshold), 2 for the within-doc one (small
  * enough that intra-doc repeats actually occur) — a construction the
  * DuckDB oracle replays token-for-token. The OPERATORS take any
  * `array<string>` lines column; real corpora pass `split(text, '\n')`.
  */
object CurationQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Fixed-width token chunks as lines: chunk i = tokens [i·w, i·w+w).
    * Guarded for empty/whitespace-only docs: Spark's `sequence(0, -1)`
    * would generate a DESCENDING [0, -1] — two phantom empty lines the
    * DuckDB oracle's range(0, 0) = [] does not have.
    */
  private[graft] def tokenChunkLines(text: Column, w: Int): Column =
    // bind the token array once — referenced from the count AND from the
    // per-line slice lambda, an unbound `toks` re-tokenizes the document
    // once per output line (interpreted HOFs get no subexpr elimination)
    TextFunctions.bindOnce(TextFunctions.tokens(text)) { toks =>
      val n = ((size(toks) + (w - 1)) / w).cast("int")
      when(n > 0,
        transform(sequence(lit(0), n - 1),
          i => array_join(slice(toks, i * w + 1, lit(w)), " ")))
        .otherwise(array().cast("array<string>"))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Content-defined chunking (Gear CDC): boundaries are a function of
    // the rolling CONTENT hash, so injecting a banner prefix re-cuts
    // only the chunks before the first content-defined boundary — every
    // later chunk re-aligns and its hash matches the unshifted copy.
    // q205 chunks each doc raw AND banner-prefixed and puts the shared
    // chunk-hash count (the CDC property itself) on the oracle surface;
    // the oracle replays the whole rolling fold per document.
    "q205_cdc_chunks" -> ((s, dir) => {
      import graft.functions.CdcChunks
      def hashes(c: Column) = array_distinct(
        transform(CdcChunks.expr(c, 32, 256, 6), x => x.getField("hash")))
      val orig = CdcChunks.expr(col("text"), 32, 256, 6)
      docs(s, dir).select(
          col("doc_id"),
          size(orig).cast("int").as("n_orig"),
          size(CdcChunks.expr(
            concat(lit("BANNER NOISE HEADER INJECTED "), col("text")),
            32, 256, 6)).cast("int").as("n_shift"),
          size(array_intersect(hashes(col("text")),
            hashes(concat(lit("BANNER NOISE HEADER INJECTED "), col("text")))))
            .cast("int").as("n_shared"))
        .withColumn("resync_ok", col("n_shared") >= col("n_orig") - 3)
    }),

    // Block-level dedup accounting over CDC chunks: the corpus plus its
    // banner-shifted twin (2× the bytes, near-1× the CONTENT) reduced to
    // per-(hash, len) multiplicities — the storage story behind q205:
    // savings_frac ≈ 1/2 despite every shifted doc differing byte-wise
    // from its source. ONE shuffle carrying (long, int) pairs only —
    // the text itself never moves.
    "q206_cdc_dedup_stats" -> ((s, dir) => {
      import graft.functions.CdcChunks
      def chunksOf(c: Column) = CdcChunks.expr(c, 32, 256, 6)
      val d = docs(s, dir)
      val both = d.select(explode(chunksOf(col("text"))).as("c"))
        .unionAll(d.select(explode(chunksOf(
          concat(lit("BANNER NOISE HEADER INJECTED "), col("text")))).as("c")))
      both.select(col("c.hash").as("h"), col("c.len").as("l"))
        .groupBy(col("h"), col("l")).agg(count(lit(1)).as("n"))
        .agg(
          sum(col("n")).as("n_chunks"),
          count(lit(1)).as("n_distinct_chunks"),
          sum(col("n") * col("l")).as("total_chars"),
          sum(col("l").cast("long")).as("stored_chars"))
        .withColumn("savings_frac",
          lit(1.0) - col("stored_chars").cast("double") / col("total_chars"))
    }),

    // CDC near-dup pairing: the corpus + its banner-shifted twins (ids
    // offset by 100000) discovered as near-dup PAIRS through shared
    // content-defined chunks — the block-level complement of MinHash
    // (q45) and SimHash (q46) that survives prefix shifts. Hot chunks
    // (df > 8) are capped as boilerplate before pairing.
    "q207_cdc_neardup_pairs" -> ((s, dir) => {
      val d = docs(s, dir)
      val corpus = d.select(col("doc_id").as("id"), col("text"))
        .unionAll(d.select((col("doc_id") + 100000L).as("id"),
          concat(lit("BANNER NOISE HEADER INJECTED "), col("text")).as("text")))
      Dedup.cdcNearDupPairs(corpus, col("id"), col("text"),
        minShared = 2, maxDf = 8)
    }),

    // Cross-corpus boilerplate-line removal: 3-token chunk "lines", every
    // occurrence of a line held by >= 5 distinct docs dropped, survivors
    // re-joined in order (CCNet's corpus-level line dedup).
    "q121_boilerplate_lines" -> ((s, dir) => {
      Dedup.removeBoilerplateLines(
          docs(s, dir), col("doc_id"), tokenChunkLines(col("text"), 3),
          minDocs = 5)
        .withColumnRenamed("id", "doc_id")
    }),

    // q121's subtraction in the beyond-broadcast JOIN form (r6 verdict
    // #8): the flagged head is computed DISTRIBUTIVELY as a DataFrame
    // (never collected, never broadcast-as-expression-state) and applied
    // by applyFlaggedLineFilterJoin — posexplode → left-outer hash join →
    // per-doc regroup, the same code path that runs stream-static in
    // Structured Streaming. 4-token chunks at minDocs=3 so the row is
    // independent of q121's sizing.
    "q159_flagged_line_join" -> ((s, dir) => {
      val d = docs(s, dir)
      val lines = tokenChunkLines(col("text"), 4)
      val head = d
        .select(col("doc_id"),
          explode(lines).as("__line"))
        .select(col("doc_id"),
          graft.functions.PolyHash.polyStringHash(col("__line")).as("h"))
        .distinct()
        .groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 3).select(col("h"))
      Dedup.applyFlaggedLineFilterJoin(d, col("doc_id"), lines, head)
        .withColumnRenamed("id", "doc_id")
    }),

    // q121's PRODUCTION hash sizing (hash64 = true): lines fold mod the
    // Mersenne prime 2⁶¹−1 — the mode a web-scale flagged head must run
    // (a ≥10⁷-line head in poly31's ~2³⁰ space false-drops ~1% of unique
    // lines; measured in SCALE.md's flaggedjoin receipt). Same HUGEINT
    // replay discipline as q135, so the hardened mode is oracle-checked
    // hash-for-hash.
    "q160_boilerplate_lines64" -> ((s, dir) => {
      Dedup.removeBoilerplateLines(
          docs(s, dir), col("doc_id"), tokenChunkLines(col("text"), 3),
          minDocs = 5, hash64 = true)
        .withColumnRenamed("id", "doc_id")
    }),

    // Within-doc duplicate-line collapse: 2-token chunk "lines", first
    // occurrence kept in original order.
    "q122_line_dedup_doc" -> ((s, dir) => {
      Dedup.dedupLinesWithinDoc(
          docs(s, dir), col("doc_id"), tokenChunkLines(col("text"), 2))
        .withColumnRenamed("id", "doc_id")
    }),

    // Unicode NFC normalization stats: decompose every 'a' into
    // 'a' + U+0301 (combining acute), normalize back with the compiled
    // NFC expression, count affected docs and codepoint deltas per lang —
    // certifying the UAX #15 composition against DuckDB's nfc_normalize.
    "q123_nfc_normalize" -> ((s, dir) => {
      val dec = regexp_replace(col("text"), "a", "a\u0301")
      docs(s, dir)
        .select(col("lang"), dec.as("__dec"))
        .withColumn("__norm", NfcNormalize.expr(col("__dec")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__norm") =!= col("__dec"), 1).otherwise(0)).as("n_changed"),
          sum(length(col("__dec"))).cast("bigint").as("chars_decomposed"),
          sum(length(col("__norm"))).cast("bigint").as("chars_nfc"))
    }),

    // Corpus vocabulary statistics per language: type count, hapax count,
    // token count, and the modal token (freq desc, lexical tiebreak).
    "q124_vocab_stats" -> ((s, dir) => {
      val freq = docs(s, dir)
        .select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("term"))
        .groupBy(col("lang"), col("term"))
        .agg(count(lit(1)).as("n"))
      val stats = freq.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_types"),
          sum(when(col("n") === 1, 1).otherwise(0)).as("n_hapax"),
          sum(col("n")).as("n_tokens"))
      stats.join(
        Ranking.keepFirst(freq, Seq(col("lang")),
            Seq(col("n").desc, col("term").asc))
          .select(col("lang"), col("term").as("top_token"), col("n").as("top_freq")),
        Seq("lang"))
    }),

    // Fixed-point BM25 top-10 over the corpus for three literal queries —
    // every integer (log2fp IDF, cleared-rational tf part) replayed by the
    // oracle.
    "q125_bm25" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq(
        (1L, "spark join merge"),
        (2L, "window batch stream"),
        (3L, "customer value filter")).toDF("query_id", "qtext")
      Bm25.topK(docs(s, dir), col("doc_id"), col("text"),
        qs, col("query_id"), col("qtext"), k = 10)
    }),

    // Dirichlet-smoothed query-likelihood retrieval over the same three
    // queries as q125 — the LANGUAGE-MODELING ranker next to BM25 (the
    // two disagree exactly where smoothing matters: long docs, rare
    // terms); every log is the fixed-point kernel so the full ranking
    // replays in SQL.
    "q270_dirichlet_qlm" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq(
        (1L, "spark join merge"),
        (2L, "window batch stream"),
        (3L, "customer value filter")).toDF("query_id", "qtext")
      Bm25.dirichletTopK(docs(s, dir), col("doc_id"), col("text"),
        qs, col("query_id"), col("qtext"), k = 10, mu = 2000L)
    }),

    // Soft dedup (down-weighting): the corpus plus one accent-mutated copy
    // of every doc and one verbatim copy of every third doc — so canonical
    // clusters have size 2 or 3 — each row kept with weight 1/cluster_size.
    // CanonicalText keys the cluster (q126's normalization), the window
    // count runs over its xxhash64 digest (one 8-byte-key exchange).
    "q138_soft_dedup" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"), col("text"))
      val mutated = d.select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        regexp_replace(col("text"), "a", "A\u0301").as("text"))
      val verbatim = d.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"), col("text"))
      val all = d.unionByName(mutated).unionByName(verbatim)
        .withColumn("__canon",
          graft.functions.CanonicalText.expr(col("text")))
      Dedup.softDedupWeights(all, col("__canon"))
        .select(col("doc_id"), col("lang"), col("n_dups"),
          round(col("weight"), 6).as("weight"))
    }),

    // Canonical-form dedup keying: the corpus unioned with a mutated copy
    // (every 'a' -> decomposed 'Á'); CanonicalText (NFC → strip accents →
    // lower → collapse ws) must collapse each mutant back onto its
    // original, so n_unique_canon counts ORIGINALS while n_unique_raw
    // counts both variants.
    "q126_canonical_dedup" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"), col("text"))
      val mutated = d.select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        regexp_replace(col("text"), "a", "A\u0301").as("text"))
      d.unionByName(mutated)
        .withColumn("__canon",
          graft.functions.CanonicalText.expr(col("text")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_unique_raw"),
          countDistinct(col("__canon")).as("n_unique_canon"))
    }),

    // Exact interpolated percentiles of per-doc token counts by language
    // (Spark `percentile` vs DuckDB `quantile_cont` — same p·(n−1)
    // definition; outputs rounded to 4dp on both sides).
    "q127_length_percentiles" -> ((s, dir) => {
      docs(s, dir)
        .select(col("lang"),
          TextFunctions.tokenCount(col("text")).cast("double").as("nt"))
        .groupBy(col("lang"))
        .agg(round(expr("percentile(nt, 0.5D)"), 4).as("p50"),
          round(expr("percentile(nt, 0.9D)"), 4).as("p90"),
          round(expr("percentile(nt, 0.99D)"), 4).as("p99"),
          max(col("nt")).cast("long").as("max_tokens"))
    }),

    // Mojibake repair: every 'e' replaced by the CP1252 mis-decode of 'é'
    // ("Ã©"); FixMojibake's general round-trip must equal the oracle's
    // static replay of the planted sequence.
    "q128_fix_mojibake" -> ((s, dir) => {
      val moji = regexp_replace(col("text"), "e", "\u00c3\u00a9")
      docs(s, dir)
        .select(col("lang"), moji.as("__moji"))
        .withColumn("__fixed",
          graft.functions.FixMojibake.expr(col("__moji")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__fixed") =!= col("__moji"), 1).otherwise(0))
            .as("n_repaired"),
          sum(length(col("__moji"))).cast("bigint").as("chars_moji"),
          sum(length(col("__fixed"))).cast("bigint").as("chars_fixed"))
    }),

    // Script profile: zh docs get CJK vowel substitution, fr docs get é
    // (still Latin range) — the compiled codepoint-range counter and a
    // closed-form dominant-script call, per doc.
    "q130_script_profile" -> ((s, dir) => {
      val txt = when(col("lang") === "zh",
          translate(col("text"), "aeiou", "的是了在和"))
        .when(col("lang") === "fr", translate(col("text"), "e", "é"))
        .otherwise(col("text"))
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          graft.functions.ScriptProfile.expr(txt).as("p"))
        .select(col("doc_id"), col("lang"),
          col("p.n_latin").as("n_latin"), col("p.n_cjk").as("n_cjk"),
          col("p.n_digit").as("n_digit"), col("p.n_space").as("n_space"),
          col("p.n_other").as("n_other"),
          when(col("p.n_cjk") > col("p.n_latin"), "cjk")
            .otherwise("latin").as("dominant"))
    }),

    // Luhn-validated card redaction: even doc_ids carry a VALID test PAN,
    // odd ones a same-length Luhn-FAILING run — only the former may be
    // redacted (the general mod-10 scan vs the oracle's parity replay).
    "q131_card_redaction" -> ((s, dir) => {
      val aug = concat(col("text"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit(" pay 4532015112830366 now"))
          .otherwise(lit(" ref 1234567890123457 code")))
      docs(s, dir)
        .select(col("lang"), aug.as("__aug"))
        .withColumn("__red",
          graft.functions.RedactCardNumbers.expr(col("__aug")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__red") =!= col("__aug"), 1).otherwise(0)).as("n_redacted"),
          sum(length(col("__red"))).cast("bigint").as("chars_redacted"))
    }),

    // CDC snapshot merge: three change waves (rev2 on 7s, rev3 on 21s,
    // tombstones on 11s) applied latest-wins over the base corpus.
    "q132_snapshot_merge" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      def wave(modulo: Int, prefix: String, v: Int, del: Boolean) =
        docs(s, dir).filter(pmod(col("doc_id"), lit(modulo)) === 0)
          .select(col("doc_id"),
            (if (del) col("text") else concat(lit(prefix), col("text"))).as("text"),
            lit(v).as("v"), lit(del).as("del"))
      val changes = wave(7, "rev2 ", 1, del = false)
        .unionByName(wave(21, "rev3 ", 2, del = false))
        .unionByName(wave(11, "", 3, del = true))
      graft.operators.ChangeLog.applyChangeLog(
        base, changes, Seq("doc_id"), "v", "del")
    }),

    // Aho–Corasick blocklist gate: ONE automaton pass per doc over a
    // 12-phrase dictionary (including a substring-of-pattern pair and a
    // token-boundary-crossing pattern), reporting the sorted distinct hit
    // set — the C4 badword/URL-blocklist page filter. The oracle replays
    // each phrase as an independent contains() — certifying the automaton
    // against the naive N-pass semantics it replaces.
    "q141_blocklist" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          graft.functions.MultiPatternHits.expr(
            col("text"), BlocklistPatterns).as("__h"))
        .select(col("doc_id"), col("lang"),
          size(col("__h")).as("n_hits"),
          array_join(col("__h"), "|").as("hits"),
          (size(col("__h")) === 0).cast("int").as("keep_doc"))
    }),

    // C4-style page cleaning over deterministically decorated chunk-lines:
    // 5-token lines, then (doc_id, i)-keyed decorations plant every rule's
    // trigger — terminal '.' on (id+i)%3, a "javascript" word on (id+i)%7,
    // a policy phrase on (id+i)%13, and a page-killing '{' on line 0 of
    // id%17 docs — so the oracle replays the decoration arithmetic and the
    // engine's general rule evaluation must land on the same pages.
    "q142_c4_clean" -> ((s, dir) => {
      val id = col("doc_id")
      val lines0 = tokenChunkLines(col("text"), 5)
      val decorated = transform(lines0, (l, i) => {
        val l0 = when(pmod(id, lit(17)) === 0 && i === lit(0),
          concat(l, lit(" {"))).otherwise(l)
        val l1 = when(pmod(id + i, lit(13)) === 0,
          concat(l0, lit(" privacy policy"))).otherwise(l0)
        val l2 = when(pmod(id + i, lit(7)) === 0,
          concat(lit("javascript "), l1)).otherwise(l1)
        when(pmod(id + i, lit(3)) === 0, concat(l2, lit("."))).otherwise(l2)
      })
      graft.operators.QualityRules.c4Clean(
          docs(s, dir), col("doc_id"), decorated)
        .withColumnRenamed("id", "doc_id")
    }),

    // Positional-index phrase search: three quoted queries (including a
    // repeated-term phrase, the adjacency-count edge case) resolved via
    // the one-join start-voting plan; the oracle replays postings and
    // votes position for position.
    "q147_phrase_search" -> ((s, dir) => {
      import s.implicits._
      val phrases = Seq(
        (1, "table scan merge"),
        (2, "batch batch"),
        (3, "customer value filter")).toDF("pid", "ptext")
      Bm25.phraseSearch(docs(s, dir), col("doc_id"), col("text"),
        phrases, col("pid"), col("ptext"))
    }),

    // BM25 with pseudo-relevance-feedback expansion: first pass retrieves
    // 3 feedback docs per query, the 3 most frequent non-query terms in
    // the feedback set join the query, the expanded set rescores — the
    // deterministic RM3 core, both passes in q125's fixed-point
    // arithmetic so the oracle replays the whole chain.
    "q152_bm25_expanded" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq(
        (1L, "spark join merge"),
        (2L, "window batch stream"),
        (3L, "customer value filter")).toDF("query_id", "qtext")
      Bm25.topKExpanded(docs(s, dir), col("doc_id"), col("text"),
        qs, col("query_id"), col("qtext"),
        k = 10, feedbackN = 3, expandTerms = 3)
    }),

    // Exact heavy hitters via the pigeonhole-prefilter + recount plan:
    // tokens with >= 200 corpus-wide occurrences, without shuffling the
    // long tail. The oracle is the PLAIN group-by-having — the sketch
    // must only prune, never decide.
    "q149_heavy_hitters" -> ((s, dir) => {
      graft.operators.Frequency.frequentItems(
        docs(s, dir).select(
          explode(TextFunctions.tokens(col("text"))).as("tok")),
        col("tok"), minCount = 200L)
    }))

  /** q141's dictionary: multi-word phrases over the synthetic vocabulary,
    * one single-word pattern that is also a SUBSTRING of another ("scan" ⊂
    * "table scan" — both must be reported when the longer one occurs) and
    * one pattern crossing a token boundary mid-word ("atch ba" inside
    * "batch batch") — the shapes that distinguish a real Aho–Corasick
    * automaton from a per-token lookup.
    */
  private[queries] val BlocklistPatterns: Seq[String] = Seq(
    "table scan", "hash join", "slow query", "batch batch", "customer value",
    "merge part", "window sort", "big data", "stream stream", "fast key",
    "scan", "atch ba")

  // ---- DuckDB oracles -----------------------------------------------------

  private val toksSql =
    "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"

  /** poly31 char fold mod 1e9+7 — SQL mirror of PolyStringHash. */
  private[queries] def polyHashSqlLine(s: String) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($s, ''), c -> CAST(ord(c) AS BIGINT))), " +
      s"(a, b) -> (a * 31 + b) % 1000000007)"

  /** The q125 fixed-point BM25 ranking as a reusable CTE chain (ends at
    * `r` = (query_id, doc_id, score_fp, rnk), ranks unfiltered; also
    * exposes `t` (doc tokens) and `q` (query terms) to downstream CTEs —
    * q220's eval metrics chain continues from all three).
    */
  private[queries] def bm25RankCtes(qvals: String): String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       dd AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t),
       tf AS (SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
         FROM dd GROUP BY 1, 2),
       st AS (SELECT COUNT(*) AS n, CAST(SUM(len(toks)) AS BIGINT) AS s FROM t),
       q(query_id, term) AS (VALUES $qvals),
       dfs AS (SELECT term, COUNT(*) AS df FROM tf
         WHERE term IN (SELECT term FROM q) GROUP BY 1),
       ${Log2Fixed.lutCteSql},
       ${log2fpStages("dfs", "term", "df", "lgdf", "df")},
       ${log2fpStages("st", "n, s", "n", "lgn", "n")},
       sc AS (SELECT q.query_id, tf.doc_id,
           CAST(SUM(((nl.lgn - dfl.lgdf) * (44 * tf.tf * nl.s))
             // (20 * tf.tf * nl.s + 6 * nl.s + 18 * tf.dl * nl.n)) AS BIGINT) AS score_fp
         FROM tf JOIN q USING (term) JOIN dfl USING (term) CROSS JOIN nl
         GROUP BY 1, 2),
       r AS (SELECT query_id, doc_id, score_fp,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY score_fp DESC, doc_id) AS rnk
         FROM sc)"""

  /** Fixed-width token chunk lines — SQL mirror of [[tokenChunkLines]]. */
  private[queries] def chunkLinesSql(w: Int) =
    s"list_transform(range(0, (len(toks)+${w - 1})//$w), " +
      s"i -> array_to_string(toks[$w*i+1:$w*i+$w], ' '))"

  /** log2fp CTE stage over a (key, m) input CTE: emits `e` then `tt` then
    * the joined fixed-point value — textually parallel with Log2Fixed.
    */
  private[queries] def log2fpStages(src: String, keyCols: String, m: String,
      out: String, pfx: String): String =
    s"""${pfx}x AS (SELECT $keyCols, $m AS __m, length(bin($m)) - 1 AS e FROM $src),
       ${pfx}t AS (SELECT $keyCols, e,
           CASE WHEN e >= 20 THEN __m // CAST(POWER(2, e - 20) AS BIGINT)
                ELSE __m * CAST(POWER(2, 20 - e) AS BIGINT)
           END - 1048576 AS tt FROM ${pfx}x),
       ${pfx}l AS (SELECT $keyCols,
           e * 1048576 + v + (vn - v) * (tt % 1024) // 1024 AS $out
         FROM ${pfx}t JOIN l2 ON i = tt // 1024)"""

  /** The q205 CDC rolling fold as a DuckDB list_reduce: state =
    * `[h, ph, start, pos]` ++ flat (start, len, hash) triples, one
    * element per codepoint (the nested-list fold-state gotcha).
    */
  private def cdcFoldSql(t: String): String = {
    val mod = "2305843009213693952" // 2^61
    val h2 = s"(a[1]*2 + (x[1]+1)*2654435761) % $mod"
    val p2 = "(a[2]*31 + x[1]) % 1000000007"
    s"""list_reduce(
       list_prepend(CAST([0, 0, 1, 0] AS BIGINT[]),
         list_transform(string_split($t, ''), ch -> [CAST(ord(ch) AS BIGINT)])),
       (a, x) -> CASE WHEN (a[4]+1 - a[3] + 1 >= 32 AND ($h2) % 64 = 0)
             OR a[4]+1 - a[3] + 1 = 256
         THEN list_concat(
           [CAST(0 AS BIGINT), 0, a[4]+2, a[4]+1],
           list_concat(a[5:], [a[3], a[4]+1 - a[3] + 1, $p2]))
         ELSE list_concat([$h2, $p2, a[3], a[4]+1], a[5:])
       END)"""
  }

  private def cdcTripsSql(f: String): String =
    s"CASE WHEN $f[4] >= $f[3] " +
      s"THEN list_concat($f[5:], [$f[3], $f[4] - $f[3] + 1, $f[2]]) " +
      s"ELSE $f[5:] END"

  private def cdcHashesSql(tr: String): String =
    s"list_distinct(list_transform(range(1, len($tr)//3 + 1), i -> $tr[3*i]))"

  val oracles: Map[String, String] = Map(

    "q207_cdc_neardup_pairs" ->
      s"""WITH d AS (
           SELECT doc_id AS id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000 AS id,
             'BANNER NOISE HEADER INJECTED ' || text AS text
           FROM documents),
         f AS (SELECT id, ${cdcFoldSql("text")} AS ff FROM d),
         c AS (SELECT id, ${cdcTripsSql("ff")} AS tr FROM f),
         e AS (SELECT DISTINCT id, tr[3*u.i - 1] AS l, tr[3*u.i] AS h
           FROM c, unnest(range(1, len(tr)//3 + 1)) AS u(i)),
         p AS (SELECT h, l FROM e GROUP BY h, l
           HAVING COUNT(*) BETWEEN 2 AND 8),
         ge AS (SELECT e.id, e.h, e.l FROM e JOIN p USING (h, l)),
         pr AS (SELECT a.id AS id1, b.id AS id2,
             CAST(COUNT(*) AS BIGINT) AS n_shared
           FROM ge a JOIN ge b ON a.h = b.h AND a.l = b.l AND a.id < b.id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         SELECT id1, id2, n_shared FROM pr""",
    "q206_cdc_dedup_stats" ->
      s"""WITH d AS (SELECT doc_id, text AS t1,
             'BANNER NOISE HEADER INJECTED ' || text AS t2
           FROM documents),
         f AS (SELECT doc_id, ${cdcFoldSql("t1")} AS f1,
             ${cdcFoldSql("t2")} AS f2
           FROM d),
         c AS (SELECT doc_id, ${cdcTripsSql("f1")} AS tr1,
             ${cdcTripsSql("f2")} AS tr2
           FROM f),
         e AS (
           SELECT tr1[3*u.i - 1] AS l, tr1[3*u.i] AS h
           FROM c, unnest(range(1, len(tr1)//3 + 1)) AS u(i)
           UNION ALL
           SELECT tr2[3*u.i - 1] AS l, tr2[3*u.i] AS h
           FROM c, unnest(range(1, len(tr2)//3 + 1)) AS u(i)),
         g AS (SELECT h, l, COUNT(*) AS n FROM e GROUP BY h, l),
         a AS (SELECT CAST(SUM(n) AS BIGINT) AS n_chunks,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
             CAST(SUM(n * l) AS BIGINT) AS total_chars,
             CAST(SUM(l) AS BIGINT) AS stored_chars
           FROM g)
         SELECT n_chunks, n_distinct_chunks, total_chars, stored_chars,
           1.0 - CAST(stored_chars AS DOUBLE) / total_chars AS savings_frac
         FROM a""",
    "q205_cdc_chunks" ->
      s"""WITH d AS (SELECT doc_id, text AS t1,
             'BANNER NOISE HEADER INJECTED ' || text AS t2
           FROM documents),
         f AS (SELECT doc_id, ${cdcFoldSql("t1")} AS f1,
             ${cdcFoldSql("t2")} AS f2
           FROM d),
         c AS (SELECT doc_id, ${cdcTripsSql("f1")} AS tr1,
             ${cdcTripsSql("f2")} AS tr2
           FROM f),
         h AS (SELECT doc_id,
             len(tr1)//3 AS n_orig, len(tr2)//3 AS n_shift,
             len(list_intersect(${cdcHashesSql("tr1")},
               ${cdcHashesSql("tr2")})) AS n_shared
           FROM c)
         SELECT doc_id, CAST(n_orig AS INT) AS n_orig,
           CAST(n_shift AS INT) AS n_shift, CAST(n_shared AS INT) AS n_shared,
           n_shared >= n_orig - 3 AS resync_ok
         FROM h""",

    "q121_boilerplate_lines" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         d AS (SELECT doc_id, ${chunkLinesSql(3)} AS lines FROM t),
         e AS (SELECT doc_id, u.i AS pos, lines[u.i + 1] AS line
           FROM d, unnest(range(0, len(lines))) AS u(i)),
         h AS (SELECT doc_id, pos, line, ${polyHashSqlLine("line")} AS lh FROM e),
         f AS (SELECT lh FROM (SELECT DISTINCT doc_id, lh FROM h)
           GROUP BY lh HAVING COUNT(*) >= 5),
         k AS (SELECT h.doc_id, h.pos, h.line FROM h
           LEFT JOIN f ON h.lh = f.lh WHERE f.lh IS NULL),
         a AS (SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(line, chr(10) ORDER BY pos) AS text_clean
           FROM k GROUP BY doc_id)
         SELECT d.doc_id, len(d.lines) AS n_lines,
           len(d.lines) - COALESCE(a.n_kept, 0) AS n_dropped,
           COALESCE(a.text_clean, '') AS text_clean
         FROM d LEFT JOIN a USING (doc_id)""",

    // Same relational shape as q121 (the flagged head as a plain
    // HAVING-count CTE and a null-preserving left join IS the join form)
    // at the independent 4-chunk / minDocs=3 sizing.
    "q159_flagged_line_join" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         d AS (SELECT doc_id, ${chunkLinesSql(4)} AS lines FROM t),
         e AS (SELECT doc_id, u.i AS pos, lines[u.i + 1] AS line
           FROM d, unnest(range(0, len(lines))) AS u(i)),
         h AS (SELECT doc_id, pos, line, ${polyHashSqlLine("line")} AS lh FROM e),
         f AS (SELECT lh FROM (SELECT DISTINCT doc_id, lh FROM h)
           GROUP BY lh HAVING COUNT(*) >= 3),
         k AS (SELECT h.doc_id, h.pos, h.line FROM h
           LEFT JOIN f ON h.lh = f.lh WHERE f.lh IS NULL),
         a AS (SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(line, chr(10) ORDER BY pos) AS text_clean
           FROM k GROUP BY doc_id)
         SELECT d.doc_id, len(d.lines) AS n_lines,
           len(d.lines) - COALESCE(a.n_kept, 0) AS n_dropped,
           COALESCE(a.text_clean, '') AS text_clean
         FROM d LEFT JOIN a USING (doc_id)""",

    // q121's CTE chain with the 61-bit Mersenne line fold (HUGEINT
    // replay, same discipline as q135's gram fold).
    "q160_boilerplate_lines64" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         d AS (SELECT doc_id, ${chunkLinesSql(3)} AS lines FROM t),
         e AS (SELECT doc_id, u.i AS pos, lines[u.i + 1] AS line
           FROM d, unnest(range(0, len(lines))) AS u(i)),
         h AS (SELECT doc_id, pos, line,
           ${AnalyticsQueries.polyHash61Sql("line")} AS lh FROM e),
         f AS (SELECT lh FROM (SELECT DISTINCT doc_id, lh FROM h)
           GROUP BY lh HAVING COUNT(*) >= 5),
         k AS (SELECT h.doc_id, h.pos, h.line FROM h
           LEFT JOIN f ON h.lh = f.lh WHERE f.lh IS NULL),
         a AS (SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(line, chr(10) ORDER BY pos) AS text_clean
           FROM k GROUP BY doc_id)
         SELECT d.doc_id, len(d.lines) AS n_lines,
           len(d.lines) - COALESCE(a.n_kept, 0) AS n_dropped,
           COALESCE(a.text_clean, '') AS text_clean
         FROM d LEFT JOIN a USING (doc_id)""",

    "q122_line_dedup_doc" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         d AS (SELECT doc_id, ${chunkLinesSql(2)} AS lines FROM t),
         e AS (SELECT doc_id, u.i AS pos, lines[u.i + 1] AS line
           FROM d, unnest(range(0, len(lines))) AS u(i)),
         h AS (SELECT doc_id, pos, line, ${polyHashSqlLine("line")} AS lh FROM e),
         fo AS (SELECT doc_id, lh, MIN(pos) AS fpos FROM h GROUP BY doc_id, lh),
         k AS (SELECT h.doc_id, h.pos, h.line FROM h JOIN fo
           ON h.doc_id = fo.doc_id AND h.lh = fo.lh AND h.pos = fo.fpos),
         a AS (SELECT doc_id, COUNT(*) AS n_lines_out,
             string_agg(line, chr(10) ORDER BY pos) AS text_dedup
           FROM k GROUP BY doc_id)
         SELECT a.doc_id, len(d.lines) AS n_lines_in, a.n_lines_out,
           a.text_dedup
         FROM a JOIN d USING (doc_id)""",

    "q123_nfc_normalize" ->
      """WITH d AS (SELECT lang,
             replace(text, 'a', 'a' || chr(769)) AS dec FROM documents),
         n AS (SELECT lang, dec, nfc_normalize(dec) AS norm FROM d)
         SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN norm <> dec THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           CAST(SUM(length(dec)) AS BIGINT) AS chars_decomposed,
           CAST(SUM(length(norm)) AS BIGINT) AS chars_nfc
         FROM n GROUP BY lang""",

    "q124_vocab_stats" ->
      s"""WITH d AS (SELECT lang, unnest($toksSql) AS term FROM documents),
         f AS (SELECT lang, term, COUNT(*) AS n FROM d GROUP BY 1, 2),
         st AS (SELECT lang, COUNT(*) AS n_types,
             CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
             CAST(SUM(n) AS BIGINT) AS n_tokens
           FROM f GROUP BY lang),
         tp AS (SELECT lang, term AS top_token, n AS top_freq,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rn
           FROM f)
         SELECT st.lang, st.n_types, st.n_hapax, st.n_tokens,
           tp.top_token, tp.top_freq
         FROM st JOIN tp ON st.lang = tp.lang AND tp.rn = 1""",

    "q125_bm25" ->
      s"""WITH ${bm25RankCtes(
        """(1, 'spark'), (1, 'join'), (1, 'merge'),
           (2, 'window'), (2, 'batch'), (2, 'stream'),
           (3, 'customer'), (3, 'value'), (3, 'filter')""")}
         SELECT query_id, doc_id, rnk, score_fp FROM r WHERE rnk <= 10""",

    "q270_dirichlet_qlm" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         dd AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t),
         q(query_id, term) AS (VALUES
           (1, 'spark'), (1, 'join'), (1, 'merge'),
           (2, 'window'), (2, 'batch'), (2, 'stream'),
           (3, 'customer'), (3, 'value'), (3, 'filter')),
         tfq AS (SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
           FROM dd WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
         st AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS s FROM t),
         cfs AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf
           FROM tfq GROUP BY 1),
         ${Log2Fixed.lutCteSql},
         ${log2fpStages("cfs", "term", "2000 * cf", "lgmc", "mc")},
         mt AS (SELECT tfq.doc_id, tfq.term,
             2000 * cfs.cf + tfq.tf * st.s AS arg
           FROM tfq JOIN cfs USING (term) CROSS JOIN st),
         ${log2fpStages("mt", "doc_id, term", "arg", "lgnum", "nm")},
         dls AS (SELECT doc_id, MIN(dl) AS dl FROM tfq GROUP BY 1),
         ${log2fpStages("dls", "doc_id", "dl + 2000", "lgdl", "dp")},
         muc AS (SELECT 1 AS one),
         ${log2fpStages("muc", "one", "2000", "lgmu", "mm")},
         nqs AS (SELECT query_id, COUNT(*) AS nq FROM q
           WHERE term IN (SELECT term FROM cfs) GROUP BY 1),
         m AS (SELECT q.query_id, nml.doc_id,
             SUM(nml.lgnum - mcl.lgmc) AS msum
           FROM nml JOIN q ON nml.term = q.term
           JOIN mcl ON mcl.term = nml.term
           GROUP BY 1, 2),
         sc AS (SELECT m.query_id, m.doc_id,
             m.msum + nqs.nq * ((SELECT lgmu FROM mml) - dpl.lgdl)
               AS score_fp
           FROM m JOIN nqs USING (query_id)
           JOIN dpl ON dpl.doc_id = m.doc_id),
         r AS (SELECT query_id, doc_id, score_fp,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY score_fp DESC, doc_id) AS rnk
           FROM sc)
         SELECT query_id, doc_id, rnk, CAST(score_fp AS BIGINT) AS score_fp
         FROM r WHERE rnk <= 10""",

    "q138_soft_dedup" ->
      """WITH all_docs AS (
           SELECT doc_id, lang, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, lang,
             replace(text, 'a', 'A' || chr(769)) FROM documents
           UNION ALL
           SELECT doc_id + 2000000, lang, text FROM documents
           WHERE doc_id % 3 = 0),
         c AS (SELECT doc_id, lang,
             trim(regexp_replace(lower(strip_accents(nfc_normalize(text))),
               '\s+', ' ', 'g')) AS canon
           FROM all_docs),
         w AS (SELECT doc_id, lang,
             COUNT(*) OVER (PARTITION BY canon) AS n_dups
           FROM c)
         SELECT doc_id, lang, CAST(n_dups AS BIGINT) AS n_dups,
           ROUND(CAST(1.0 AS DOUBLE) / n_dups, 6) AS weight
         FROM w""",

    "q126_canonical_dedup" ->
      """WITH all_docs AS (
           SELECT doc_id, lang, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, lang,
             replace(text, 'a', 'A' || chr(769)) FROM documents),
         c AS (SELECT lang, text,
             trim(regexp_replace(lower(strip_accents(nfc_normalize(text))),
               '\s+', ' ', 'g')) AS canon
           FROM all_docs)
         SELECT lang, COUNT(*) AS n_docs,
           COUNT(DISTINCT text) AS n_unique_raw,
           COUNT(DISTINCT canon) AS n_unique_canon
         FROM c GROUP BY lang""",

    "q127_length_percentiles" ->
      s"""WITH d AS (SELECT lang, CAST(len($toksSql) AS DOUBLE) AS nt
           FROM documents)
         SELECT lang,
           ROUND(quantile_cont(nt, 0.5), 4) AS p50,
           ROUND(quantile_cont(nt, 0.9), 4) AS p90,
           ROUND(quantile_cont(nt, 0.99), 4) AS p99,
           CAST(MAX(nt) AS BIGINT) AS max_tokens
         FROM d GROUP BY lang""",

    "q128_fix_mojibake" ->
      """WITH d AS (SELECT lang,
             replace(text, 'e', chr(195) || chr(169)) AS moji FROM documents),
         f AS (SELECT lang, moji,
             replace(moji, chr(195) || chr(169), chr(233)) AS fixed FROM d)
         SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN fixed <> moji THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repaired,
           CAST(SUM(length(moji)) AS BIGINT) AS chars_moji,
           CAST(SUM(length(fixed)) AS BIGINT) AS chars_fixed
         FROM f GROUP BY lang""",

    "q130_script_profile" ->
      """WITH d AS (SELECT doc_id, lang,
             CASE WHEN lang = 'zh' THEN
                 replace(replace(replace(replace(replace(
                   text, 'a', '的'), 'e', '是'), 'i', '了'), 'o', '在'), 'u', '和')
               WHEN lang = 'fr' THEN replace(text, 'e', chr(233))
               ELSE text END AS t
           FROM documents),
         c AS (SELECT doc_id, lang,
             list_transform(string_split(t, ''), ch -> ord(ch)) AS cps FROM d),
         p AS (SELECT doc_id, lang, len(cps) AS n_all,
             len(list_filter(cps, cp -> (cp BETWEEN 65 AND 90)
               OR (cp BETWEEN 97 AND 122) OR (cp BETWEEN 192 AND 591))) AS n_latin,
             len(list_filter(cps, cp -> cp BETWEEN 19968 AND 40959)) AS n_cjk,
             len(list_filter(cps, cp -> cp BETWEEN 48 AND 57)) AS n_digit,
             len(list_filter(cps, cp -> cp IN (9, 10, 13, 32))) AS n_space
           FROM c)
         SELECT doc_id, lang, n_latin, n_cjk, n_digit, n_space,
           n_all - n_latin - n_cjk - n_digit - n_space AS n_other,
           CASE WHEN n_cjk > n_latin THEN 'cjk' ELSE 'latin' END AS dominant
         FROM p""",

    "q131_card_redaction" ->
      """WITH d AS (SELECT lang, doc_id,
             text || CASE WHEN doc_id % 2 = 0
               THEN ' pay 4532015112830366 now'
               ELSE ' ref 1234567890123457 code' END AS aug
           FROM documents),
         f AS (SELECT lang, aug,
             CASE WHEN doc_id % 2 = 0
               THEN replace(aug, '4532015112830366', '[CARD]')
               ELSE aug END AS red
           FROM d)
         SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN red <> aug THEN 1 ELSE 0 END) AS BIGINT)
             AS n_redacted,
           CAST(SUM(length(red)) AS BIGINT) AS chars_redacted
         FROM f GROUP BY lang""",

    "q132_snapshot_merge" ->
      """WITH all_rows AS (
           SELECT doc_id, text, 0 AS v, FALSE AS del FROM documents
           UNION ALL
           SELECT doc_id, 'rev2 ' || text, 1, FALSE FROM documents WHERE doc_id % 7 = 0
           UNION ALL
           SELECT doc_id, 'rev3 ' || text, 2, FALSE FROM documents WHERE doc_id % 21 = 0
           UNION ALL
           SELECT doc_id, text, 3, TRUE FROM documents WHERE doc_id % 11 = 0),
         latest AS (SELECT doc_id, text, del,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY v DESC) AS rn
           FROM all_rows)
         SELECT doc_id, text FROM latest WHERE rn = 1 AND NOT del""",

    "q149_heavy_hitters" ->
      s"""SELECT t.item, COUNT(*) AS n
         FROM (SELECT unnest($toksSql) AS item FROM documents) t
         GROUP BY t.item HAVING COUNT(*) >= 200""",

    "q152_bm25_expanded" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         dd AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
           FROM dd GROUP BY 1, 2),
         st AS (SELECT COUNT(*) AS n, CAST(SUM(len(toks)) AS BIGINT) AS s FROM t),
         q1(query_id, term) AS (VALUES
           (1, 'spark'), (1, 'join'), (1, 'merge'),
           (2, 'window'), (2, 'batch'), (2, 'stream'),
           (3, 'customer'), (3, 'value'), (3, 'filter')),
         ${Log2Fixed.lutCteSql},
         ${log2fpStages("st", "n, s", "n", "lgn", "n")},
         d1 AS (SELECT term, COUNT(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q1) GROUP BY 1),
         ${log2fpStages("d1", "term", "df", "lgdf", "da")},
         sc1 AS (SELECT q1.query_id, tf.doc_id,
             CAST(SUM(((nl.lgn - dal.lgdf) * (44 * tf.tf * nl.s))
               // (20 * tf.tf * nl.s + 6 * nl.s + 18 * tf.dl * nl.n)) AS BIGINT) AS score_fp
           FROM tf JOIN q1 USING (term) JOIN dal USING (term) CROSS JOIN nl
           GROUP BY 1, 2),
         fb AS (SELECT query_id, doc_id FROM (
             SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score_fp DESC, doc_id) AS rnk
             FROM sc1) WHERE rnk <= 3),
         ef AS (SELECT fb.query_id, dd.term, COUNT(*) AS ff
           FROM dd JOIN fb ON dd.doc_id = fb.doc_id
           GROUP BY 1, 2),
         efa AS (SELECT ef.query_id, ef.term, ef.ff FROM ef
           LEFT JOIN q1 ON q1.query_id = ef.query_id AND q1.term = ef.term
           WHERE q1.term IS NULL),
         ex AS (SELECT query_id, term FROM (
             SELECT query_id, term,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY ff DESC, term) AS rn
             FROM efa) WHERE rn <= 3),
         q2 AS (SELECT query_id, term FROM q1
           UNION ALL SELECT query_id, term FROM ex),
         d2 AS (SELECT term, COUNT(*) AS df FROM tf
           WHERE term IN (SELECT term FROM q2) GROUP BY 1),
         ${log2fpStages("d2", "term", "df", "lgdf", "eg")},
         sc2 AS (SELECT q2.query_id, tf.doc_id,
             CAST(SUM(((nl.lgn - egl.lgdf) * (44 * tf.tf * nl.s))
               // (20 * tf.tf * nl.s + 6 * nl.s + 18 * tf.dl * nl.n)) AS BIGINT) AS score_fp
           FROM tf JOIN q2 USING (term) JOIN egl USING (term) CROSS JOIN nl
           GROUP BY 1, 2),
         r AS (SELECT query_id, doc_id, score_fp,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY score_fp DESC, doc_id) AS rnk
           FROM sc2)
         SELECT query_id, doc_id, rnk, score_fp FROM r WHERE rnk <= 10""",

    "q147_phrase_search" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         p(phrase_id, term, off) AS (VALUES
           (1, 'table', 0), (1, 'scan', 1), (1, 'merge', 2),
           (2, 'batch', 0), (2, 'batch', 1),
           (3, 'customer', 0), (3, 'value', 1), (3, 'filter', 2)),
         k AS (SELECT phrase_id, COUNT(*) AS k FROM p GROUP BY 1),
         pos AS (SELECT doc_id, u.i AS pos, toks[u.i + 1] AS term
           FROM t, unnest(range(0, len(toks))) AS u(i)),
         s AS (SELECT p.phrase_id, pos.doc_id, pos.pos - p.off AS start
           FROM pos JOIN p USING (term) WHERE pos.pos - p.off >= 0),
         m AS (SELECT phrase_id, doc_id, start, COUNT(*) AS hit
           FROM s GROUP BY 1, 2, 3),
         f AS (SELECT m.phrase_id, m.doc_id, m.start
           FROM m JOIN k USING (phrase_id) WHERE m.hit = k.k)
         SELECT phrase_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(start) AS INT) AS first_pos
         FROM f GROUP BY 1, 2""",

    "q141_blocklist" -> {
      val vals = BlocklistPatterns.map(p => s"('$p')").mkString(", ")
      s"""WITH pats(p) AS (VALUES $vals),
         h AS (SELECT d.doc_id, pats.p FROM documents d
           JOIN pats ON contains(d.text, pats.p)),
         a AS (SELECT doc_id, COUNT(*) AS n,
             string_agg(p, '|' ORDER BY p) AS hits
           FROM h GROUP BY doc_id)
         SELECT d.doc_id, d.lang, CAST(COALESCE(a.n, 0) AS INT) AS n_hits,
           COALESCE(a.hits, '') AS hits,
           CAST(CASE WHEN a.doc_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep_doc
         FROM documents d LEFT JOIN a USING (doc_id)"""
    },

    "q142_c4_clean" -> {
      // one list_transform stage per decoration, mirroring the engine's
      // nesting order: '{' plant → policy phrase → javascript → '.'
      val lineToks =
        "list_filter(string_split_regex(trim(l), '\\s+'), x -> x <> '')"
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         d AS (SELECT doc_id, ${chunkLinesSql(5)} AS ls FROM t),
         d0 AS (SELECT doc_id, CASE WHEN doc_id % 17 = 0 AND len(ls) > 0
             THEN list_concat([ls[1] || ' {'], ls[2:]) ELSE ls END AS ls FROM d),
         d1 AS (SELECT doc_id, list_transform(range(0, len(ls)), i ->
             CASE WHEN (doc_id + i) % 13 = 0 THEN ls[i+1] || ' privacy policy'
               ELSE ls[i+1] END) AS ls FROM d0),
         d2 AS (SELECT doc_id, list_transform(range(0, len(ls)), i ->
             CASE WHEN (doc_id + i) % 7 = 0 THEN 'javascript ' || ls[i+1]
               ELSE ls[i+1] END) AS ls FROM d1),
         d3 AS (SELECT doc_id, list_transform(range(0, len(ls)), i ->
             CASE WHEN (doc_id + i) % 3 = 0 THEN ls[i+1] || '.'
               ELSE ls[i+1] END) AS ls FROM d2),
         k AS (SELECT doc_id, ls, list_filter(ls, l ->
             regexp_matches(rtrim(l), '[.!?"”]$$')
             AND len($lineToks) >= 5
             AND len(list_filter($lineToks, tk -> lower(tk) = 'javascript')) = 0
             AND NOT contains(lower(l), 'privacy policy')
             AND NOT contains(lower(l), 'cookie policy')
             AND NOT contains(lower(l), 'terms of use')
             AND NOT contains(lower(l), 'uses cookies')) AS kl FROM d3),
         pg AS (SELECT doc_id, len(ls) AS n_in, len(kl) AS n_kept, kl,
             CASE WHEN len(list_filter(ls, l -> contains(l, '{')
                 OR contains(lower(l), 'lorem ipsum'))) > 0 THEN 0
               WHEN len(kl) >= 3 THEN 1 ELSE 0 END AS keep_doc
           FROM k)
         SELECT doc_id, CAST(n_in AS INT) AS n_lines_in,
           CAST(n_kept AS INT) AS n_lines_kept,
           CAST(keep_doc AS INT) AS keep_doc,
           CASE WHEN keep_doc = 1 THEN array_to_string(kl, chr(10))
             ELSE '' END AS text_clean
         FROM pg"""
    })
}
