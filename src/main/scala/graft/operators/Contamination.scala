package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark-contamination check for training corpora: for every candidate
  * document, the fraction of its distinct word k-grams that also occur
  * anywhere in a benchmark/eval set — the standard n-gram-overlap
  * decontamination test run before a corpus ships to training.
  *
  * Topology (scales to 100 TB): the benchmark side is eval-suite-sized
  * (≪ corpus), so its distinct k-gram set is built once and BROADCAST; the
  * corpus side streams through a broadcast left-semi join — the only
  * shuffle is the per-document hit count, keyed by doc id (cardinality
  * grows with data, so parallelism grows with the cluster). For corpora
  * where even the per-shingle explode is too wide, compose with the Bloom
  * path (`functions.BloomMightContain`, cf. q64's semi-join prefilter):
  * drop rows with zero probable hits map-side, then run this exact check
  * on the survivors only.
  */
object Contamination {

  /** Per-document overlap stats of `docs` against the k-gram set of
    * `bench`: `doc_id`, `n_sh` (distinct k-grams in the doc), `n_hit`
    * (of those, how many occur in the benchmark), `contam_frac`
    * (n_hit / n_sh, rounded to 6; 0.0 for docs with no k-grams).
    */
  def overlapStats(
      docs: DataFrame, idCol: Column, textCol: Column,
      bench: DataFrame, benchTextCol: Column, k: Int): DataFrame = {
    val benchSet = broadcast(
      bench.select(explode(TextFunctions.distinctShingles(benchTextCol, k)).as("__g"))
        .distinct()
        .withColumn("__hit", lit(1)))
    // Single pass over the corpus: shingle ONCE, explode_outer (so
    // zero-shingle and null-text docs survive as one null-gram row), mark
    // hits via the broadcast left join, then one doc-id shuffle aggregates
    // both totals (count of non-null grams — no separate size() pass) and
    // hits. A totals⋈hits re-join would shingle the corpus twice and
    // shuffle the doc side a second time.
    val marked = docs
      .select(idCol.as("doc_id"),
        explode_outer(TextFunctions.distinctShingles(textCol, k)).as("__g"))
      .join(benchSet, Seq("__g"), "left")
    marked.groupBy(col("doc_id"))
      .agg(count(col("__g")).as("n_sh"), count(col("__hit")).as("n_hit"))
      .select(col("doc_id"), col("n_sh"), col("n_hit"),
        when(col("n_sh") === 0, lit(0.0))
          .otherwise(round(
            col("n_hit").cast("double") / col("n_sh").cast("double"), 6))
          .as("contam_frac"))
  }

  /** Beyond-broadcast form of [[overlapStats]]: the benchmark k-gram set
    * stays DISTRIBUTED (never collected, never broadcast) and the overlap
    * check is a gram-keyed shuffle join — the path for held-out sets that
    * outgrow executor memory (a full eval-suite union plus its paraphrase
    * expansions can reach 10⁸⁺ grams). Same output shape as
    * [[overlapStats]] with grams identified by their collision-hardened
    * 61-bit hash ([[graft.functions.PolyHash.polyGramHashes61]] over the
    * identical space-joined token k-grams — the q135 convention), so the
    * shuffle carries 8-byte keys instead of gram strings; at any
    * realistic gram count the birthday envelope (G²/2⁶²) keeps the stats
    * identical to the string form (spec-pinned on the test corpus).
    *
    * With `bloomPrefilter` the bench gram set additionally folds into a
    * Bloom filter (distributed agg — only the bit array reaches the
    * driver, the q158 notch) probed INSIDE the per-row gram array before
    * the explode: non-matching grams never enter the join exchange, while
    * `n_sh` still counts them via a pre-explode `size()` in the same
    * projection. False positives die in the exact join behind the probe —
    * output is row-identical with the filter on or off.
    */
  def overlapStatsJoin(
      docs: DataFrame, idCol: Column, textCol: Column,
      bench: DataFrame, benchTextCol: Column, k: Int,
      bloomPrefilter: Boolean = false, bloomFpp: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    def grams(c: Column) =
      array_distinct(graft.functions.PolyHash.polyGramHashes61(c, k))
    val benchSet = bench
      .select(explode(grams(benchTextCol)).as("__g"))
      .distinct()
      .withColumn("__hit", lit(1))
    val (benchSide, probeOf) = if (bloomPrefilter) {
      // One materialization serves the count, the Bloom fold and the join
      // build (the substringSpans barrier discipline).
      val bC = benchSet.localCheckpoint()
      val bloom = bC.stat.bloomFilter("__g", math.max(bC.count(), 1L), bloomFpp)
      (bC, (a: Column) =>
        filter(a, g => graft.functions.BloomMightContain.expr(g, bloom)))
    } else (benchSet, identity[Column] _)
    // ONE corpus pass: n_sh from the un-filtered array size, the join
    // stream from the Bloom-surviving grams only (explode_outer keeps
    // zero-gram and fully-filtered docs alive as one null-gram row).
    // The size/filter pair is computed in its OWN projection below the
    // Generate: inlined into the explode-select, ExtractGenerator hoists
    // the non-generator size() into the post-Generate Project and the
    // gram kernel re-runs per exploded row — O(grams²) per doc
    // (plan-verified both ways; PLANS.md carries the receipt).
    val marked = docs
      .select(idCol.as("doc_id"),
        coalesce(size(grams(textCol)), lit(0)).as("__n_sh"),
        probeOf(grams(textCol)).as("__probe"))
      .select(col("doc_id"), col("__n_sh"),
        explode_outer(col("__probe")).as("__g"))
      .join(benchSide, Seq("__g"), "left")
    marked.groupBy(col("doc_id"))
      .agg(max(col("__n_sh")).cast("long").as("n_sh"),
        count(col("__hit")).as("n_hit"))
      .select(col("doc_id"), col("n_sh"), col("n_hit"),
        when(col("n_sh") === 0, lit(0.0))
          .otherwise(round(
            col("n_hit").cast("double") / col("n_sh").cast("double"), 6))
          .as("contam_frac"))
  }

  /** Convenience gate: rows of `docs` whose contamination stays under
    * `maxFrac` (decontaminated training split).
    */
  def decontaminate(
      docs: DataFrame, idCol: Column, textCol: Column,
      bench: DataFrame, benchTextCol: Column, k: Int,
      maxFrac: Double): DataFrame = {
    val stats = overlapStats(docs, idCol, textCol, bench, benchTextCol, k)
      .filter(col("contam_frac") < maxFrac)
      .select(col("doc_id"))
    docs.join(stats, idCol === stats("doc_id"), "left_semi")
  }
}
