package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** fastText-shaped linear text quality classifier — the MODEL-based
  * document filter of CCNet/LLaMA-style pipelines (a hashed bag-of-words
  * linear model scoring "does this look like reference text"), sitting
  * between the rule-based gate ([[QualityRules]]) and the LM-based one
  * ([[LmScore]]).
  *
  * Shape: token → feature bucket by portable poly31 hash mod `dim`;
  * logit = mean over tokens of the bucket's weight. Everything before the
  * final division is INTEGER (per-mille weights summed as longs), so the
  * score is bit-portable and the q136 oracle replays it value-for-value —
  * the same fixed-point discipline as [[Bm25]]/[[LmScore]].
  *
  * Weights: a real deployment loads trained per-bucket weights
  * (`weightsPerMille` — an Int array indexed by bucket, values in
  * per-mille); the seeded default derives each bucket's weight
  * arithmetically (Knuth-hash of the bucket index onto [-1000, 1000]),
  * which keeps the oracle closed-form and stands in for a trained model
  * the way the IVF seeded codebook does (q47 vs q94).
  *
  * Scale posture: ONE narrow projection — the aggregate fold runs per row
  * inside codegen, no explode, no join, no shuffle; a trained weight
  * array rides the plan as expression state exactly like the IVF
  * codebook. Works identically over a batch frame or a stream.
  */
object QualityClassifier {

  /** Per-token feature bucket: portable poly31 string hash mod dim. */
  private def bucket(tok: Column, dim: Int): Column =
    pmod(graft.functions.PolyHash.polyStringHash(tok), lit(dim.toLong))

  /** Seeded per-mille weight of a bucket: Knuth multiplicative hash onto
    * [-1000, 1000] — pure integer arithmetic, replayed by the oracle.
    */
  private def seededWeight(b: Column): Column =
    pmod(pmod(b * lit(2654435761L), lit(2147483647L)), lit(2001L)) - lit(1000L)

  /** Sum of per-token per-mille weights (exact integer). */
  private def weightSum(textCol: Column, dim: Int,
      weightsPerMille: Option[Array[Int]]): Column = {
    val toks = TextFunctions.tokens(textCol)
    val w: Column => Column = weightsPerMille match {
      case Some(arr) =>
        require(arr.length == dim, s"weights length ${arr.length} != dim $dim")
        val lut = array(arr.map(v => lit(v.toLong)): _*)
        b => element_at(lut, (b + 1).cast("int"))
      case None => seededWeight
    }
    aggregate(toks, lit(0L), (acc, t) => acc + w(bucket(t, dim)))
  }

  /** The [[score]] output as ONE struct COLUMN (n_tokens, logit, keep)
    * over `textCol` — a pure per-row expression, so a caller combining
    * the classifier with other per-row signals (the Gopher keep flag,
    * dimension columns) can evaluate everything in a single projection
    * instead of joining [[score]]'s frame back on id (the r14
    * scoredLabeled fix: two corpus-wide joins became zero).
    */
  def scoreStruct(textCol: Column,
      dim: Int = 4096, threshold: Double = 0.0,
      weightsPerMille: Option[Array[Int]] = None): Column = {
    val n = TextFunctions.tokenCount(textCol)
    val sums = weightSum(textCol, dim, weightsPerMille)
    // 6-dp rounding in EXACT integer micro-units, half away from zero:
    // round() on the double quotient hits representation boundaries
    // where engines disagree by 1e-6 (found by the sf0.1 oracle sweep —
    // logit = sumw/(1000n) landing on a .5 micro-boundary). With
    // a = sumw·1000, b = n: micro = sign(a)·⌊(2|a| + b) / 2b⌋, then
    // micro/1e6 is the same double everywhere. The keep gate compares
    // the UNROUNDED quotient (identical IEEE division both engines).
    def fdiv(x: Column, y: Column): Column =
      ((x - pmod(x, y)).cast("decimal(38,0)") / y).cast("long")
    // bind (n, sums) ONCE per row: the weight fold is the per-byte hot
    // path, and its unbound form re-evaluated ~4x — once per output
    // column referencing it, plus once more per pushed-down filter
    // conjunct in callers (the q216 lesson applied to the classifier;
    // measured 4x on the q224 calibration chain)
    TextFunctions.bindOnce(
        struct(n.as("n"), sums.as("s"))) { st =>
      val nb = st.getField("n")
      val sb = st.getField("s")
      val logitRaw = sb.cast("double") / (nb * 1000.0)
      val a = sb * 1000L
      val b = nb.cast("long")
      val microAbs = fdiv(abs(a) * 2L + b, b * 2L)
      val micro = when(a < 0, -microAbs).otherwise(microAbs)
      struct(nb.as("n_tokens"),
        when(nb > 0, micro.cast("double") / 1000000.0).as("logit"),
        when(nb > 0 && logitRaw > threshold, 1).otherwise(0).as("keep"))
    }
  }

  /** Score documents: (id, n_tokens, logit, keep) — logit is the mean
    * per-token weight in [-1, 1] (6 dp), keep = logit > threshold.
    * Empty/whitespace-only docs score null logit and keep = 0.
    */
  def score(df: DataFrame, idCol: Column, textCol: Column,
      dim: Int = 4096, threshold: Double = 0.0,
      weightsPerMille: Option[Array[Int]] = None): DataFrame = {
    val out = scoreStruct(textCol, dim, threshold, weightsPerMille)
    df.select(idCol.as("id"), out.as("__qc"))
      .select(col("id"), col("__qc.n_tokens").as("n_tokens"),
        col("__qc.logit").as("logit"), col("__qc.keep").as("keep"))
  }
}
