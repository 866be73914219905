package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.Column

/** Compiled MinHash signature over pre-hashed shingles (`array<long>`,
  * e.g. ShingleHashes output): sig_i = min over shingles x of
  * floorMod(floorMod(x, p)·a_i + b_i, p) — bit-identical to the composable
  * `minHashSignatureFromHashes(transform(hs, x => pmod(x, p)), n)` spec form
  * in operators.Dedup (same seed-42 coefficient stream, same floorMod/pmod
  * arithmetic, same p = 2^31−1 overflow bound).
  *
  * The composable form is numHashes interpreted `transform`+`array_min`
  * traversals per row (each boxing every element); this is ONE
  * shingles×hashes tight loop with the per-shingle mod hoisted out — the
  * signature pass is the MinHash hot path, running over every document
  * before any LSH banding shrinks the data.
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with RefKernelCodegen {

  require(numHashes >= 1, "numHashes must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = s"minhash_sig_$numHashes"

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)

  @transient private lazy val (as, bs) = {
    val cs = MinHashSig.seededCoeffs(numHashes)
    (cs.map(_._1).toArray, cs.map(_._2).toArray)
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // Composable parity: array_min over an empty transform is null, so the
    // whole array(...) of nulls is unusable — callers filter empties first;
    // null here is the well-defined version of that edge.
    if (n == 0) return null
    val p = MinHashSig.HashPrime
    val nH = numHashes
    val a = as
    val b = bs
    val sig = new Array[Long](nH)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var s = 0
    while (s < n) {
      val base = java.lang.Math.floorMod(arr.getLong(s), p)
      var i = 0
      while (i < nH) {
        // base, a_i < p = 2^31−1 → base·a_i + b_i < 2^62: no Long overflow
        val v = (base * a(i) + b(i)) % p
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      s += 1
    }
    new GenericArrayData(sig)
  }
}

object MinHashSig {

  /** 2^31−1: keeps `a·x + b` under 2^62 — no Long overflow in ANSI mode. */
  val HashPrime: Long = 2147483647L

  /** Seed-42 (a, b) coefficient stream — the single source of truth shared
    * with the composable spec form in operators.Dedup.
    */
  def seededCoeffs(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numHashes)((math.abs(rnd.nextLong()) % (HashPrime - 1) + 1,
                         math.abs(rnd.nextLong()) % HashPrime))
  }

  /** Column bridge. */
  def expr(c: Column, numHashes: Int): Column =
    GraftColumnBridge.column(MinHashSig(GraftColumnBridge.expression(c), numHashes))
}
