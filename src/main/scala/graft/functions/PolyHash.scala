package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Portable (engine-independent) polynomial text hashes — the hash layer
  * that makes the MinHash-LSH and SimHash signature queries ORACLE-CHECKABLE:
  * every value is a pure arithmetic function of the text's codepoints
  * (`fold (acc·31 + cp) mod 1e9+7`, the house convention established by
  * `TextFunctions.tokenHash`/`fingerprint`, q44), so DuckDB reproduces the
  * exact same longs with `list_reduce` + `ord` — no engine hash involved.
  *
  * Contrast with [[ShingleHashes]] (FNV-1a, engine-internal): that one backs
  * the hash-INVARIANT inverted-index operators (q41's exact-Jaccard pairs,
  * where the oracle compares pair results, not hash values). These are the
  * hash-VISIBLE counterparts; slightly weaker bit mixing, but cross-engine
  * deterministic — at 100 TB both run as single compiled passes.
  */
object PolyHash {

  /** Modulus/multiplier of the primary char fold — MUST stay equal to
    * `TextFunctions.FingerprintPrime` (the DuckDB oracles hard-code both).
    */
  final val P1 = 1000000007L
  final val M1 = 31L
  /** Secondary fold (SimHash upper bits): different multiplier AND modulus
    * so the two 30-bit halves are independent.
    */
  final val P2 = 998244353L
  final val M2 = 37L
  /** 61-bit fold (substring-span production sizing): Mersenne prime 2⁶¹−1
    * with multiplier 131 — the largest modulus whose `(acc·m + cp) mod p`
    * step DuckDB can replay exactly (HUGEINT holds the ≤2⁶⁹ intermediate),
    * so the collision-hardened mode stays hash-visible to the oracle. The
    * JVM side reduces the 128-bit product with the Mersenne identity
    * 2⁶¹ ≡ 1 (mod p) — see [[mulStep61]].
    */
  final val P61 = 2305843009213693951L // 2^61 - 1
  final val M61Mult = 131L

  /** One fold step `(h·131 + cp) mod (2⁶¹−1)` without 128-bit division:
    * split the product into `hi·2⁶⁴ + lo` (multiplyHigh is exact here —
    * both operands are non-negative and < 2⁶²), then reduce with
    * 2⁶⁴ ≡ 8 and 2⁶¹ ≡ 1 (mod 2⁶¹−1). Bounds: hi < 2⁵, lo&p < 2⁶¹,
    * cp ≤ 0x10FFFF, so the sum fits a signed long with one or two
    * conditional subtractions to finish the reduction.
    */
  @inline private[functions] def mulStep61(h: Long, cp: Long): Long = {
    val hi = Math.multiplyHigh(h, M61Mult)
    val lo = h * M61Mult
    var r = (hi << 3) + (lo >>> 61) + (lo & P61) + cp
    while (r >= P61) r -= P61
    r
  }

  /** `fold (acc·131 + codepoint) mod 2⁶¹−1` over `s[from, until)` —
    * codepoint iteration, same traversal as [[foldString]].
    */
  @inline private[functions] def foldString61(s: String, from: Int, until: Int,
      init: Long): Long = {
    var h = init
    var i = from
    while (i < until) {
      val cp = s.codePointAt(i)
      h = mulStep61(h, cp)
      i += Character.charCount(cp)
    }
    h
  }

  /** `fold (acc·m + codepoint) mod p` over the string — the scalar kernel.
    * Codepoint iteration (not UTF-16 units) matches Spark's `ascii()` and
    * DuckDB's `ord()` on supplementary characters.
    *
    * The reduction is DEFERRED to every 5th step (congruence-preserving:
    * p·m⁵ < 2^57 for both (31, 1e9+7) and (37, 998244353), so five
    * unreduced multiply-adds can't overflow a signed 64-bit long) — ~80%
    * fewer `%` ops on the per-byte hot path, bit-identical results.
    */
  @inline private[functions] def foldString(s: String, from: Int, until: Int,
      m: Long, p: Long, init: Long): Long = {
    var h = init
    var i = from
    var steps = 0
    while (i < until) {
      val cp = s.codePointAt(i)
      h = h * m + cp
      steps += 1
      if (steps == 5) { h %= p; steps = 0 }
      i += Character.charCount(cp)
    }
    h % p
  }

  /** Column bridge for the compiled shingle hasher. */
  def polyShingleHashes(c: Column, k: Int): Column =
    GraftColumnBridge.column(PolyShingleHashes(GraftColumnBridge.expression(c), k))

  /** Column bridge for the compiled ORDERED gram hasher (positions kept). */
  def polyGramHashes(c: Column, k: Int): Column =
    GraftColumnBridge.column(PolyGramHashes(GraftColumnBridge.expression(c), k))

  /** Column bridge for the compiled ORDERED 61-bit gram hasher — the
    * collision-hardened production sizing of [[polyGramHashes]] that is
    * STILL oracle-replayable (q135): same tokenize → k-gram → char fold
    * shape, modulus 2⁶¹−1 instead of 1e9+7.
    */
  def polyGramHashes61(c: Column, k: Int): Column =
    GraftColumnBridge.column(PolyGramHashes61(GraftColumnBridge.expression(c), k))

  /** Column bridge for the compiled per-band bucket fold. */
  def polyBandBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    GraftColumnBridge.column(
      PolyBandBuckets(GraftColumnBridge.expression(sig), bands, rowsPerBand))

  /** Column bridge for the compiled whole-string poly31 fold — the scalar
    * hash behind the line-level dedup family (q121/q122): semantics of
    * `TextFunctions.tokenHash` in one compiled pass, so line shuffles carry
    * 8-byte keys instead of line strings.
    */
  def polyStringHash(c: Column, hash61: Boolean = false): Column =
    GraftColumnBridge.column(PolyStringHash(GraftColumnBridge.expression(c), hash61))

  /** Column bridge for the compiled first-occurrence line filter (the
    * within-doc half of line dedup, q122): keeps the first element per
    * distinct poly31 hash, preserving order — per-row semantics, so it
    * compiles to a narrow projection with ZERO exchanges.
    */
  def polyFirstOccurrence(arr: Column): Column =
    GraftColumnBridge.column(PolyFirstOccurrence(GraftColumnBridge.expression(arr)))

  /** Column bridge for the compiled flagged-line filter: drops every
    * element whose poly31 hash is in `flagged` (sorted ascending; binary
    * search per line). The flagged set rides as expression state — the
    * codebook pattern — so the filter is a narrow stream-safe projection:
    * no join, identical plan in batch and Structured Streaming.
    */
  def polyDropFlagged(arr: Column, flagged: Array[Long], hash61: Boolean = false): Column = {
    val sorted = flagged.clone(); java.util.Arrays.sort(sorted)
    GraftColumnBridge.column(PolyDropFlagged(GraftColumnBridge.expression(arr), sorted, hash61))
  }

  /** Column bridge for the compiled 60-bit SimHash. */
  def polySimHash(c: Column): Column =
    GraftColumnBridge.column(PolySimHash(GraftColumnBridge.expression(c)))

  import org.apache.spark.sql.functions._

  /** Band-bucket combine over a signature slice: `fold (acc·31 + slot) mod
    * 1e9+7` — tiny per-row fold, reproduced verbatim by the oracle.
    */
  def bandBucket(sigSlice: Column): Column =
    aggregate(sigSlice, lit(0L), (acc, x) => pmod(acc * M1 + x, lit(P1)))
}

/** Compiled distinct word-k-shingle portable hashes: tokenize → k-gram →
  * poly31 char fold (single-space separator, exactly the codepoints of
  * `"w1 w2 … wk"`) → value-dedup keeping first occurrence. One pass, no
  * shingle strings materialized.
  */
case class PolyShingleHashes(child: Expression, k: Int)
    extends UnaryExpression with RefKernelCodegen {

  require(k >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = s"poly_shingle_hashes_$k"

  override protected def withNewChildInternal(newChild: Expression): PolyShingleHashes =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    import PolyHash.{M1, P1}
    val s = input.asInstanceOf[UTF8String].toString
    val tokens = ShingleHashes.splitWhitespace(s)
    val n = tokens.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.HashSet[java.lang.Long](math.max(16, (n - k + 1) * 2))
    val hashes = new Array[Long](n - k + 1)
    var m = 0
    var i = 0
    while (i <= n - k) {
      var h = 0L
      var j = 0
      while (j < k) {
        if (j > 0) h = (h * M1 + 32L) % P1 // the ' ' separator codepoint
        val t = tokens(i + j)
        h = PolyHash.foldString(t, 0, t.length, M1, P1, h)
        j += 1
      }
      if (seen.add(h)) { hashes(m) = h; m += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hashes, m))
  }
}

/** Compiled ORDERED word-k-gram portable hashes: tokenize → k-gram →
  * poly31 char fold (single-space separator) — exactly PolyShingleHashes
  * WITHOUT the value-dedup, so array index i IS token position i (the
  * exact-substring span dedup needs positions; a deduped set loses them).
  * One pass, no gram strings materialized.
  */
case class PolyGramHashes(child: Expression, k: Int)
    extends UnaryExpression with RefKernelCodegen {

  require(k >= 1, "gram size must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = s"poly_gram_hashes_$k"

  override protected def withNewChildInternal(newChild: Expression): PolyGramHashes =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    import PolyHash.{M1, P1}
    val s = input.asInstanceOf[UTF8String].toString
    val tokens = ShingleHashes.splitWhitespace(s)
    val n = tokens.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val hashes = new Array[Long](n - k + 1)
    var i = 0
    while (i <= n - k) {
      var h = 0L
      var j = 0
      while (j < k) {
        if (j > 0) h = (h * M1 + 32L) % P1 // the ' ' separator codepoint
        val t = tokens(i + j)
        h = PolyHash.foldString(t, 0, t.length, M1, P1, h)
        j += 1
      }
      hashes(i) = h
      i += 1
    }
    new GenericArrayData(hashes)
  }
}

/** Compiled ORDERED word-k-gram 61-bit portable hashes: [[PolyGramHashes]]
  * with the `(acc·131 + cp) mod 2⁶¹−1` fold — the production hash sizing
  * of the exact-substring span dedup (Dedup.substringSpans `hash64`).
  * Birthday collisions arrive at ≈ G²/2⁶² for G corpus grams (vs G²/2³¹
  * for poly31 — spurious-duplicate-free to G ≈ 10⁹ and beyond), yet every
  * value is still a pure codepoint fold DuckDB replays in HUGEINT
  * arithmetic, so the q135 oracle checks the hashes themselves.
  */
case class PolyGramHashes61(child: Expression, k: Int)
    extends UnaryExpression with RefKernelCodegen {

  require(k >= 1, "gram size must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = s"poly_gram_hashes61_$k"

  override protected def withNewChildInternal(newChild: Expression): PolyGramHashes61 =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val tokens = ShingleHashes.splitWhitespace(s)
    val n = tokens.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val hashes = new Array[Long](n - k + 1)
    var i = 0
    while (i <= n - k) {
      var h = 0L
      var j = 0
      while (j < k) {
        if (j > 0) h = PolyHash.mulStep61(h, 32L) // the ' ' separator codepoint
        val t = tokens(i + j)
        h = PolyHash.foldString61(t, 0, t.length, h)
        j += 1
      }
      hashes(i) = h
      i += 1
    }
    new GenericArrayData(hashes)
  }
}

/** Compiled whole-string portable hash: poly31 char fold mod 1e9+7 of the
  * entire string (no tokenization) — bit-equal to
  * `TextFunctions.tokenHash(col)` (equality asserted in spec). The oracle
  * mirror is `polyHashSql(line)`.
  */
/** @param hash61 fold mod the Mersenne prime 2⁶¹−1 (multiplier 131)
  * instead of poly31 — the collision-hardened sizing the substring-span
  * family already carries (q135), still DuckDB-replayable in HUGEINT.
  * At 10⁷ flagged line hashes the poly31 space (~2³⁰) false-drops ~1% of
  * unique lines (measured in the r7 flaggedjoin receipt); the 61-bit fold
  * makes that ≈ G²/2⁶² — negligible at any realistic head size.
  */
case class PolyStringHash(child: Expression, hash61: Boolean = false)
    extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String =
    if (hash61) "poly_string_hash61" else "poly_string_hash"

  override protected def withNewChildInternal(newChild: Expression): PolyStringHash =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (hash61) PolyHash.foldString61(s, 0, s.length, 0L)
    else PolyHash.foldString(s, 0, s.length, PolyHash.M1, PolyHash.P1, 0L)
  }
}

/** Compiled first-occurrence filter over an `array<string>`: one pass with
  * a hash set of poly31 line hashes — element kept iff its hash is unseen.
  * Hash-KEYED (not string-keyed) so the q122 oracle, which replays the same
  * fold in SQL, pins identical semantics even on a hash collision. Null
  * elements are dropped (a null line carries no content to dedup).
  */
case class PolyFirstOccurrence(child: Expression)
    extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "poly_first_occurrence"

  override protected def withNewChildInternal(newChild: Expression): PolyFirstOccurrence =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    val seen = new java.util.HashSet[java.lang.Long](math.max(16, n * 2))
    val kept = new Array[AnyRef](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val u = arr.getUTF8String(i)
        val s = u.toString
        val h = PolyHash.foldString(s, 0, s.length, PolyHash.M1, PolyHash.P1, 0L)
        if (seen.add(h)) { kept(m) = u; m += 1 }
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(kept, m).asInstanceOf[Array[Any]])
  }
}

/** Compiled flagged-line drop over an `array<string>`: element kept iff
  * its poly31 hash is NOT in the sorted `flagged` array (binary search —
  * O(log f) per line against bounded expression state). Null elements are
  * dropped. The streaming-side half of boilerplate-line removal: the
  * flagged set comes from a batch [[graft.operators.Dedup.flaggedLineHashes]]
  * pass, this expression applies it without a join.
  */
case class PolyDropFlagged(child: Expression, flagged: Array[Long],
    hash61: Boolean = false)
    extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String =
    if (hash61) "poly_drop_flagged61" else "poly_drop_flagged"

  override protected def withNewChildInternal(newChild: Expression): PolyDropFlagged =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    val kept = new Array[AnyRef](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val u = arr.getUTF8String(i)
        val s = u.toString
        val h =
          if (hash61) PolyHash.foldString61(s, 0, s.length, 0L)
          else PolyHash.foldString(s, 0, s.length, PolyHash.M1, PolyHash.P1, 0L)
        if (java.util.Arrays.binarySearch(flagged, h) < 0) { kept(m) = u; m += 1 }
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(kept, m).asInstanceOf[Array[Any]])
  }
}

/** Compiled LSH band buckets over a MinHash signature: bucket b =
  * `fold (acc·31 + slot) mod 1e9+7` over signature slots
  * [b·rowsPerBand, (b+1)·rowsPerBand) — one pass over the signature
  * array; semantics = `PolyHash.bandBucket` over the b-th slice (the
  * composable spec form), reproduced verbatim by the q45 oracle.
  */
case class PolyBandBuckets(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with RefKernelCodegen {

  require(bands >= 1 && rowsPerBand >= 1, "bands and rowsPerBand must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = s"poly_band_buckets_${bands}_$rowsPerBand"

  override protected def withNewChildInternal(newChild: Expression): PolyBandBuckets =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    import PolyHash.{M1, P1}
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (arr.numElements() < bands * rowsPerBand) return null
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0L
      var j = 0
      while (j < rowsPerBand) {
        h = (h * M1 + arr.getLong(b * rowsPerBand + j)) % P1
        j += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Compiled 60-bit portable SimHash over whitespace tokens: two independent
  * 30-bit char folds per token (31 mod 1e9+7; 37 mod 998244353); signature
  * bit j is set iff the ±1 vote over token-hash bit j is strictly positive.
  * Empty/whitespace-only text → 0L.
  */
case class PolySimHash(child: Expression)
    extends UnaryExpression with RefKernelCodegen {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "poly_simhash"

  override def nullSafeEval(input: Any): Any = {
    import PolyHash.{M1, M2, P1, P2}
    val s = input.asInstanceOf[UTF8String].toString
    val tokens = ShingleHashes.splitWhitespace(s)
    val votes = new Array[Int](60)
    var t = 0
    while (t < tokens.length) {
      val w = tokens(t)
      val h1 = PolyHash.foldString(w, 0, w.length, M1, P1, 0L)
      val h2 = PolyHash.foldString(w, 0, w.length, M2, P2, 0L)
      var j = 0
      while (j < 30) {
        votes(j) += (if (((h1 >>> j) & 1L) == 1L) 1 else -1)
        votes(30 + j) += (if (((h2 >>> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      t += 1
    }
    var sig = 0L
    var j = 0
    while (j < 60) {
      if (votes(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): PolySimHash =
    copy(child = newChild)
}
