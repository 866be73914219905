package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}
import org.apache.spark.sql.Column

/** Signed-random-projection LSH signature for embeddings (Charikar 2002)
  * — the cosine analog of the text SimHash: bit k of the signature is the
  * sign of the dot product with seeded hyperplane k. Vectors at small
  * cosine distance flip few bits, so embedding near-dup detection rides
  * the SAME banded hamming machinery as image dHash / audio contours /
  * text SimHash (`Dedup.hammingNearDupPairs`) — no clustering pass, no
  * pair quadratic, corpus-size-independent per-row cost.
  *
  * Exactness contract (q166): coordinates are milli-quantized once
  * (floor(v·1000 + 0.5), the PQ convention) and hyperplane coefficients
  * are CLOSED-FORM integers — c(k,i) = avalanche-hash(k·dim + i) mapped
  * onto [−1000, 1000] ([[HyperplaneSig.coef]] — the hash must mix, see
  * there) — so each dot product is an exact BIGINT and the oracle
  * replays every bit. A vote of exactly 0 leaves the bit CLEAR, matching
  * PolySimHash's `vote > 0` convention. 60 bits (like the text SimHash) so
  * banding by 4/bands keeps the unused top nibble zero on both engines —
  * the sign bit never carries data.
  *
  * Null/mis-shaped vectors (wrong dimension) → null signature: fail-visible,
  * not silently bucketed with the zero vector.
  */
case class HyperplaneSig(child: Expression, dim: Int, nBits: Int = 60)
    extends UnaryExpression with RefKernelCodegen {

  require(dim >= 1, "dim must be >= 1")
  // 63 max, not 64: the sign bit must never carry data (banded keys and
  // the oracle's power-of-two sums both assume non-negative signatures)
  require(nBits >= 1 && nBits <= 63, "nBits must be in [1, 63]")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = s"hyperplane_sig_${dim}_$nBits"

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)

  @inline private def coef(k: Int, i: Int): Long =
    HyperplaneSig.coef(k.toLong * dim + i)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() != dim) return null
    val q = HyperplaneSig.quantize(arr, child.dataType)
    var sig = 0L
    var k = 0
    while (k < nBits) {
      var dot = 0L
      var i = 0
      while (i < dim) {
        dot += q(i) * coef(k, i)
        i += 1
      }
      if (dot > 0) sig |= (1L << k)
      k += 1
    }
    java.lang.Long.valueOf(sig)
  }
}

object HyperplaneSig {

  /** Hyperplane coefficient n ↦ [−1000, 1000]: a murmur-style
    * multiply-xor-shift avalanche chain, every step exact BIGINT
    * arithmetic DuckDB replays (`xor` + `//`-as-shift). Not a single
    * linear congruential map: that would put consecutive coefficients
    * on coarse lattice planes (classic LCG structure), making
    * hyperplane k+1 a lattice relative of hyperplane k — structured
    * inputs can then correlate signature bits. (The signature
    * clustering first observed in the 1M receipts was ultimately the
    * test GENERATOR's linear-in-id coordinates — fixed with this same
    * chain — but the coefficient bank keeps the avalanche as the
    * independence guarantee rather than an accident of the corpus.)
    * The second multiplier stays < 2³¹ so `(2³²−1)·M` cannot overflow
    * a signed 64-bit long on either engine.
    */
  @inline def coef(n: Long): Long = {
    var a = ((n + 1) * 2654435761L) & 0xFFFFFFFFL
    a ^= a >>> 16
    a = (a * 1540483477L) & 0xFFFFFFFFL
    a ^= a >>> 13
    a % 2001L - 1000L
  }

  /** Milli-quantize by the INPUT element type — a SQL caller's natural
    * `array(0.1, ...)` literal is array<double>, and reading doubles
    * through `getFloat` would reinterpret half of each 8-byte slot into
    * a wrong-but-plausible signature. Any other element type fails
    * loudly.
    */
  private[functions] def quantize(arr: ArrayData, inputType: DataType): Array[Long] =
    inputType match {
      case ArrayType(FloatType, _) => PqOps.quantizeVec(arr)
      case ArrayType(DoubleType, _) =>
        val n = arr.numElements()
        val q = new Array[Long](n)
        var i = 0
        while (i < n) { q(i) = PqOps.quantize(arr.getDouble(i)); i += 1 }
        q
      case t => throw new IllegalArgumentException(
        s"hyperplane_sig expects array<float> or array<double>, got $t")
    }

  /** Column bridge. */
  def expr(c: Column, dim: Int, nBits: Int = 60): Column =
    GraftColumnBridge.column(HyperplaneSig(GraftColumnBridge.expression(c), dim, nBits))
}

/** Multi-word hyperplane signature — the WIDE variant that keeps banding
  * viable past ~10⁵ vectors. Blocking honesty (measured, SCALE.md): band
  * keys collide coincidentally at m²/2^width per band, so a single
  * 60/63-bit signature already shuffles 7.6× more than this form at 1M
  * uniform vectors and exhausts local disk at 10M. `words` words of `bitsPerWord`
  * hyperplanes each (word w's bit k is hyperplane w·bitsPerWord+k — the
  * SAME closed-form bank, just more of it) give
  * `words × bandsPerWord` bands of `bitsPerWord / bandsPerWord` bits:
  * 2×62 bits at 2 bands/word = four 31-bit bands, lossless for hamming
  * distance ≤ 3, with ~m²/2³¹ coincidental pairs — negligible until
  * 10⁸+. Distance is the popcount sum across words.
  */
case class HyperplaneSigWords(child: Expression, dim: Int,
    bitsPerWord: Int, words: Int)
    extends UnaryExpression with RefKernelCodegen {

  require(dim >= 1, "dim must be >= 1")
  require(bitsPerWord >= 1 && bitsPerWord <= 63, "bitsPerWord must be in [1, 63]")
  require(words >= 1 && words <= 8, "words must be in [1, 8]")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = s"hyperplane_sig_${dim}_${bitsPerWord}x$words"

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigWords =
    copy(child = newChild)

  @inline private def coef(h: Int, i: Int): Long =
    HyperplaneSig.coef(h.toLong * dim + i)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() != dim) return null
    val q = HyperplaneSig.quantize(arr, child.dataType)
    val out = new Array[Long](words)
    var w = 0
    while (w < words) {
      var sig = 0L
      var k = 0
      while (k < bitsPerWord) {
        var dot = 0L
        var i = 0
        while (i < dim) {
          dot += q(i) * coef(w * bitsPerWord + k, i)
          i += 1
        }
        if (dot > 0) sig |= (1L << k)
        k += 1
      }
      out(w) = sig
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object HyperplaneSigWords {
  /** Column bridge. */
  def expr(c: Column, dim: Int, bitsPerWord: Int = 62, words: Int = 2): Column =
    GraftColumnBridge.column(
      HyperplaneSigWords(GraftColumnBridge.expression(c), dim, bitsPerWord, words))
}
