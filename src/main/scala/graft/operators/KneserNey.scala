package graft.operators

import graft.functions.{Log2Fixed, PolyHash, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interpolated Kneser–Ney bigram language model — the standard n-gram
  * smoothing (Kneser & Ney 1995; Chen & Goodman 1999) behind KenLM-class
  * models that CCNet-style pretraining pipelines use for perplexity
  * filtering. [[LmScore]] covers the unsmoothed MLE model (q100/q102);
  * this operator adds the real thing: absolute discounting plus the
  * continuation-probability backoff, so unseen-but-plausible bigrams get
  * mass proportional to how promiscuous their word is as a continuation
  * (the "San Francisco" effect: "Francisco" is frequent but follows only
  * one context, so its unigram backoff weight is tiny).
  *
  *   p_KN(w|v) = max(c(vw) − D, 0)/c(v) + D·N1+(v·)/c(v) · N1+(·w)/N1+(··)
  *
  * with discount D = 3/4. Multiplying through by 4·c(v)·N1+(··) makes
  * both sides of the quotient exact integers:
  *
  *   num = (4·c(vw) − 3)⁺ · B  +  3 · N1+(v·) · N1+(·w)      (B = N1+(··))
  *   den = 4 · c(v) · B
  *
  * and the per-bigram score is the fixed-point `log2fp(num) − log2fp(den)`
  * ([[Log2Fixed]] — the q102 kernel), so the whole model is bit-portable
  * and the DuckDB oracle (q208) replays every integer. Each p_KN ∈ (0, 1]
  * (the terms are non-negative and sum to 1 over the vocabulary), so the
  * score is ≤ 0 like q102's mean_log2p.
  *
  * OOV policy: a bigram is scorable iff its context v was seen as a
  * context AND its word w was seen as a continuation — then num ≥ 3 > 0
  * and the log is defined. Anything else counts into `oov_frac` (the
  * q100/q102 convention; true KN handles w-OOV with a unigram-epsilon
  * floor, which would put an arbitrary constant on the hash surface).
  *
  * Scale posture: ONE corpus pass builds the packed-bigram count table
  * (localCheckpoint barrier — contexts/continuations/total derive from it,
  * not from re-scans); every model frame is bigram-vocabulary-bounded.
  * Scoring is one doc-side explode and three vocabulary-keyed equi-joins
  * carrying 8-byte packed keys (real-text vocabularies broadcast; the
  * declared joins let AQE pick that from runtime sizes). Overflow
  * envelope: num < den = 4·c(v)·B ≤ 4·T² for T corpus tokens — exact in
  * long up to T ≈ 1.5·10⁹ tokens per trained model; shard the reference
  * corpus (or scale counts) beyond that.
  *
  * Reference analog: the quality-gate slot of retrieve.py's rule mode
  * (SURVEY §3.4) — scoring documents under a reference model — upgraded
  * from MLE to the published smoothing estimator.
  */
object KneserNey {

  /** 2^30 (> poly31's modulus 1e9+7): packs a (context, word) word-hash
    * pair into one 60-bit long so model joins shuffle 8-byte keys.
    */
  val Pack = 1073741824L

  /** Absolute discount D = [[DiscountNum]]/[[DiscountDen]] = 3/4 — the
    * fixed discount variant (Chen & Goodman's D ≈ n1/(n1+2·n2) estimate
    * would put a corpus-dependent rational on every score; 0.75 is the
    * conventional fixed setting).
    */
  val DiscountNum = 3L
  val DiscountDen = 4L

  /** Ordered packed (v,w) bigram pairs of a text column: poly31 word
    * hashes (the [[PolyHash.polyGramHashes]] k=1 stream — compiled, one
    * pass) packed as `v·2^30 + w`. Empty below 2 tokens (the `sequence`
    * descending-range guard). The word-hash array is lambda-bound so the
    * compiled tokenize kernel runs ONCE per row, not once per
    * `element_at` reference (the SchemaValidate CASE-branch lesson).
    */
  def bigramPairs(textCol: Column): Column =
    TextFunctions.bindOnce(
      PolyHash.polyGramHashes(textCol, 1)) { h =>
      when(size(h) >= 2,
        transform(sequence(lit(1), size(h) - 1),
          i => element_at(h, i) * Pack + element_at(h, i + 1)))
        .otherwise(array().cast("array<long>"))
    }

  /** Trained model: `bigrams` (vw, c_vw, v, w) is the materialized count
    * table; `contexts` (v, c_v, n1_v), `continuations` (w, n1_w) and the
    * one-row `nBigrams` (n_pp = N1+(··)) all derive from it — vocabulary-
    * bounded frames, never corpus re-scans.
    */
  final case class Model(bigrams: DataFrame, contexts: DataFrame,
      continuations: DataFrame, nBigrams: DataFrame)

  def trainBigramModel(ref: DataFrame, textCol: Column): Model = {
    val big = ref
      .select(explode(bigramPairs(textCol)).as("vw"))
      .groupBy(col("vw")).agg(count(lit(1)).as("c_vw"))
      .select(col("vw"), col("c_vw"),
        shiftright(col("vw"), 30).as("v"),
        col("vw").bitwiseAND(lit(Pack - 1)).as("w"))
      .localCheckpoint()
    val contexts = big.groupBy(col("v"))
      .agg(sum(col("c_vw")).as("c_v"), count(lit(1)).as("n1_v"))
    val continuations = big.groupBy(col("w"))
      .agg(count(lit(1)).as("n1_w"))
    val nBigrams = big.agg(count(lit(1)).as("n_pp"))
    Model(big, contexts, continuations, nBigrams)
  }

  /** Score documents: (doc_id, n_big, oov_frac 4dp, mean_log2p 6dp — ≤ 0,
    * higher = more fluent under the reference model; null when every
    * bigram is OOV). Documents with fewer than 2 tokens have no bigrams
    * and drop out (the q100 convention — filter upstream to keep them).
    *
    * The fixed-point logs are PRECOMPUTED at model granularity (the q102
    * discipline): `__lg_num` once per seen bigram, `__lg_den` once per
    * context — so the doc-side projection is a coalesce and a
    * subtraction for seen pairs, and pays a per-row log only on
    * unseen-pair rows. The first cut computed both logs per doc-pair row
    * inside a `when()` — conditional branches disable codegen
    * subexpression elimination (the q201 lesson), so the num/den
    * subtrees (each with a string-allocating `bin()`) re-evaluated ~16×
    * per row: measured 63 s → 9 s at 1M docs × 40 tokens. Values are
    * bit-identical either way (same integer formulas through the same
    * kernel); null propagation through the left joins replaces the
    * explicit conditional, mirroring the oracle's own shape.
    */
  def scoreDocs(docs: DataFrame, idCol: Column, textCol: Column,
      model: Model): DataFrame = {
    // per-context denominator log + n1_v: vocabulary-bounded
    val ctxL = model.contexts.crossJoin(broadcast(model.nBigrams))
      .select(col("v"), col("n1_v"),
        Log2Fixed.expr(lit(DiscountDen) * col("c_v") * col("n_pp"))
          .as("__lg_den"))
    // per-seen-bigram numerator log: model-bounded, computed once
    val bigL = model.bigrams
      .join(model.contexts.select(col("v"), col("n1_v")), Seq("v"))
      .join(model.continuations, Seq("w"))
      .crossJoin(broadcast(model.nBigrams))
      .select(col("vw"),
        Log2Fixed.expr((col("c_vw") * DiscountDen - DiscountNum) *
          col("n_pp") + lit(DiscountNum) * col("n1_v") * col("n1_w"))
          .as("__lg_num"))
    val dp = docs
      .select(idCol.as("doc_id"), explode(bigramPairs(textCol)).as("vw"))
      .select(col("doc_id"), col("vw"),
        shiftright(col("vw"), 30).as("v"),
        col("vw").bitwiseAND(lit(Pack - 1)).as("w"))
    val j = dp
      .join(bigL, Seq("vw"), "left")
      .join(ctxL, Seq("v"), "left")
      .join(model.continuations, Seq("w"), "left")
    val oov = col("__lg_den").isNull || col("n1_w").isNull
    // unseen-but-scorable pairs: num = 3·n1v·n1w; nulls propagate on oov
    val lg = coalesce(col("__lg_num"),
      Log2Fixed.expr(lit(DiscountNum) * col("n1_v") * col("n1_w"))) -
      col("__lg_den")
    j.select(col("doc_id"), oov.as("__oov"), lg.as("__lg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__oov"), 1).otherwise(0)).as("n_oov"),
        sum(coalesce(col("__lg"), lit(0L))).as("sum_lg"))
      .select(col("doc_id"),
        col("n").as("n_big"),
        round(col("n_oov").cast("double") / col("n"), 4).as("oov_frac"),
        when(col("n") > col("n_oov"),
          round(col("sum_lg").cast("double") /
            ((col("n") - col("n_oov")) * lit(Log2Fixed.One.toDouble)), 6))
          .otherwise(lit(null).cast("double")).as("mean_log2p"))
  }
}
