package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CCNet-style n-gram language-model quality scoring: train character
  * trigram counts on a REFERENCE corpus, score every document by its mean
  * conditional trigram probability and OOV-trigram fraction. This is the
  * cross-corpus quality gate large pretraining pipelines run between
  * language-ID and the per-row heuristics (TextFunctions.qualityBucket
  * covers the latter): a fluent-but-off-domain document scores low
  * mean_p; garbled text scores high oov_frac.
  *
  * Deliberately LOG-FREE: instead of perplexity's Σ log p (libm `log` is
  * not correctly-rounded, so sums would not be bit-portable), the score
  * is the mean of p = n_tri/n_bi with each p cast to DECIMAL(18,9) before
  * summing — exact, partition-order-invariant, and reproducible by a SQL
  * oracle (the q88 lexical-rerank convention). Monotonicity vs mean log p
  * differs, but the FILTERING role (rank documents by fluency under a
  * reference model) is served the same way.
  *
  * Scale posture: one explode pass per side; the doc-trigram → model join
  * shuffles on the trigram key (vocabulary-bounded model, never
  * broadcast-assumed); counts and sums are single hash aggregations.
  */
object LmScore {

  /** Packed (h3 << 31 | h2) trigram/prefix hash pairs — ONE compiled pass
    * per row (graft.functions.CharTrigramHashes): the 3-char strings
    * never leave the row, so every downstream shuffle carries 8-byte
    * longs only (the engine's signature-pipeline shuffle hygiene).
    */
  def trigramHashes(textCol: Column): Column =
    graft.functions.CharTrigramHashes.expr(textCol)

  /** Train the trigram model: (h3, h2, n_tri, n_bi) where n_bi is the
    * count of the trigram's 2-char-prefix hash summed over the reference —
    * the exact MLE denominator (derived from the trigram counts
    * themselves, one explode pass total). `min(h2)` makes the rare
    * h3-collision case deterministic; the oracle applies the same rule.
    */
  def trainTrigramModel(ref: DataFrame, textCol: Column): DataFrame = {
    import graft.functions.CharTrigramHashes.{unpackH2, unpackH3}
    val tcnt = ref.select(explode(trigramHashes(textCol)).as("t"))
      .groupBy(unpackH3(col("t")).as("h3"))
      .agg(count(lit(1)).as("n_tri"), min(unpackH2(col("t"))).as("h2"))
    val bcnt = tcnt.groupBy(col("h2")).agg(sum(col("n_tri")).as("n_bi"))
    tcnt.join(bcnt, Seq("h2"))
      .select(col("h3"), col("h2"), col("n_tri"), col("n_bi"))
  }

  /** Score documents against a trained model. Documents shorter than 3
    * chars have no trigrams and drop out (filter upstream if they must
    * survive). Output: (id, n_tri, oov_frac 4dp, mean_p 6dp).
    */
  def scoreDocs(docs: DataFrame, idCol: Column, textCol: Column,
      model: DataFrame): DataFrame = {
    val dt = docs.select(idCol.as("id"),
      explode(trigramHashes(textCol)).as("t"))
      .select(col("id"),
        graft.functions.CharTrigramHashes.unpackH3(col("t")).as("h3"))
    val joined = dt.join(model, Seq("h3"), "left")
      .withColumn("p",
        (col("n_tri").cast("double") / col("n_bi").cast("double"))
          .cast("decimal(18,9)"))
    joined.groupBy(col("id"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("p").isNull, 1).otherwise(0)).as("n_oov"),
        sum(coalesce(col("p"), lit(0).cast("decimal(18,9)"))).as("sum_p"))
      .select(col("id"),
        col("n").as("n_tri"),
        round(col("n_oov").cast("double") / col("n"), 4).as("oov_frac"),
        round(col("sum_p").cast("double") / col("n"), 6).as("mean_p"))
  }

  /** TRUE-perplexity scoring: mean log2 p over in-vocabulary trigrams,
    * ranking-equivalent to CCNet's mean log p / perplexity (log2 = ln ·
    * constant; the arithmetic-mean-p form above is NOT monotone in this).
    * Bit-portable despite the log: each model row gets a FIXED-POINT
    * `log2fp(n_tri) − log2fp(n_bi)` ([[graft.functions.Log2Fixed]] —
    * integer exponent + shared-table mantissa), so the per-trigram score
    * is an exact integer and the aggregation is a plain long sum.
    *
    * Scale posture: the log kernel runs once per MODEL row (vocabulary-
    * bounded), not per doc-trigram; the doc-side join and sum shuffle
    * 8-byte longs exactly like [[scoreDocs]]. Docs whose trigrams are all
    * OOV get a null mean (no in-vocab evidence), mirroring CCNet's
    * undefined perplexity on fully-OOV text.
    *
    * Output: (id, n_tri, oov_frac 4dp, mean_log2p 6dp — ≤ 0, higher =
    * more fluent; perplexity = 2^(−mean_log2p)).
    */
  def scoreDocsLog2(docs: DataFrame, idCol: Column, textCol: Column,
      model: DataFrame): DataFrame = {
    import graft.functions.Log2Fixed
    val lgModel = model.select(col("h3"),
      (Log2Fixed.expr(col("n_tri")) - Log2Fixed.expr(col("n_bi"))).as("lg"))
    val dt = docs.select(idCol.as("id"),
      explode(trigramHashes(textCol)).as("t"))
      .select(col("id"),
        graft.functions.CharTrigramHashes.unpackH3(col("t")).as("h3"))
    dt.join(lgModel, Seq("h3"), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("lg").isNull, 1).otherwise(0)).as("n_oov"),
        sum(coalesce(col("lg"), lit(0L))).as("sum_lg"))
      .select(col("id"),
        col("n").as("n_tri"),
        round(col("n_oov").cast("double") / col("n"), 4).as("oov_frac"),
        when(col("n") > col("n_oov"),
          round(col("sum_lg").cast("double") /
            ((col("n") - col("n_oov")) * lit(Log2Fixed.One.toDouble)), 6))
          .otherwise(lit(null).cast("double")).as("mean_log2p"))
  }
}
