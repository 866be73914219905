package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick multi-pattern scan: ONE pass over the text regardless of
  * dictionary size, returning the lexicographically sorted distinct set of
  * patterns that occur as substrings.
  *
  * This is the blocklist/badword gate of a web-corpus pipeline (C4's
  * "bad words" page filter, URL blocklists, contamination phrase lists).
  * The naive plan — `OR` of N `contains`/`LIKE` terms, or a giant regex
  * alternation — re-scans the text per pattern (Java regex alternation is
  * NFA backtracking, not a DFA): at 10k patterns × 100 TB that is a
  * 10,000× re-read of the corpus. The automaton makes match cost
  * O(len(text) + hits), independent of dictionary size, and rides the scan
  * as a narrow compiled projection (RefKernelCodegen — no shuffle, no
  * WholeStageCodegen break).
  *
  * The automaton is built once per executor JVM from the plan-carried
  * pattern list (@transient lazy) — the build is O(total pattern chars)
  * and never serialized. Matching is case-sensitive; callers wanting
  * case-folded semantics pass `lower(text)` and lowercase patterns
  * (exactly what a DuckDB `contains(lower(text), p)` oracle replays).
  */
case class MultiPatternHits(child: Expression, patterns: Seq[String])
    extends UnaryExpression with RefKernelCodegen {

  require(patterns.nonEmpty, "patterns must be non-empty")
  require(patterns.forall(p => p != null && p.nonEmpty),
    "null/empty patterns are not valid substrings")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "multi_pattern_hits"

  override protected def withNewChildInternal(newChild: Expression): MultiPatternHits =
    copy(child = newChild)

  // Sorted-distinct pattern table: output order == lexicographic, and the
  // automaton's pattern ids index straight into it.
  @transient private lazy val sortedPatterns: Array[String] =
    patterns.distinct.sorted.toArray

  // JVM-wide cache, not a plain lazy val: every task deserializes its own
  // expression instance, so an instance-local automaton would be rebuilt
  // per task — material for the large dictionaries this operator exists
  // for (10k patterns × 10k tasks = 10⁸ trie builds without the cache)
  @transient private lazy val automaton =
    MultiPatternHits.cachedBuild(sortedPatterns)

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val ac = automaton
    val hits = new java.util.BitSet(sortedPatterns.length)
    var state = 0
    var i = 0
    val n = text.length
    while (i < n) {
      state = ac.step(state, text.charAt(i))
      var out = ac.outHead(state)
      while (out >= 0) {
        hits.set(ac.outPattern(out))
        out = ac.outNext(out)
      }
      i += 1
    }
    val found = new Array[AnyRef](hits.cardinality())
    var bit = hits.nextSetBit(0)
    var k = 0
    while (bit >= 0) {
      found(k) = UTF8String.fromString(sortedPatterns(bit))
      k += 1
      bit = hits.nextSetBit(bit + 1)
    }
    new GenericArrayData(found)
  }
}

object MultiPatternHits {

  /** Compact goto/fail automaton. Transitions live in one open-addressed
    * long-keyed table (key = state<<16 | char for the build map, then
    * frozen to a sorted array probed by binary search) — no per-node
    * HashMap boxing on the match path. Output lists are chained int
    * arrays (head per state, (pattern, next) pairs), fail-closure
    * pre-merged at build so matching never walks fail links.
    */
  final class Automaton(
      gotoKeys: Array[Long], gotoVals: Array[Int],
      fail: Array[Int],
      outHeadArr: Array[Int], outPatternArr: Array[Int], outNextArr: Array[Int]) {

    def outHead(s: Int): Int = outHeadArr(s)
    def outPattern(o: Int): Int = outPatternArr(o)
    def outNext(o: Int): Int = outNextArr(o)

    private def lookup(state: Int, c: Char): Int = {
      val key = (state.toLong << 16) | c
      var lo = 0
      var hi = gotoKeys.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val k = gotoKeys(mid)
        if (k == key) return gotoVals(mid)
        else if (k < key) lo = mid + 1
        else hi = mid - 1
      }
      -1
    }

    def step(state: Int, c: Char): Int = {
      var s = state
      var next = lookup(s, c)
      while (next < 0 && s != 0) {
        s = fail(s)
        next = lookup(s, c)
      }
      if (next < 0) 0 else next
    }
  }

  /** Classic AC construction: trie, BFS fail links, output-set merge
    * through the fail closure.
    */
  def build(patterns: Array[String]): Automaton = {
    import scala.collection.mutable
    val children = mutable.ArrayBuffer(mutable.LongMap.empty[Int])
    // trie
    val ends = mutable.ArrayBuffer.empty[(Int, Int)] // (state, patternId)
    var p = 0
    while (p < patterns.length) {
      val pat = patterns(p)
      var s = 0
      var i = 0
      while (i < pat.length) {
        val c = pat.charAt(i).toLong
        s = children(s).getOrElse(c, {
          children += mutable.LongMap.empty[Int]
          val ns = children.length - 1
          children(s)(c) = ns
          ns
        })
        i += 1
      }
      ends += ((s, p))
      p += 1
    }
    val nStates = children.length
    // key = state<<16 | char: a positive long holds 47-bit state ids, so
    // the practical bound is array memory, not the packing
    require(nStates <= (1 << 30),
      s"pattern trie has $nStates states — dictionary too large")
    val fail = new Array[Int](nStates)
    val outHead = Array.fill(nStates)(-1)
    val outPattern = mutable.ArrayBuffer.empty[Int]
    val outNext = mutable.ArrayBuffer.empty[Int]
    def addOut(state: Int, pattern: Int): Unit = {
      outPattern += pattern
      outNext += outHead(state)
      outHead(state) = outPattern.length - 1
    }
    for ((s, pid) <- ends) addOut(s, pid)
    // BFS fail links; merge fail-state outputs so step() never chases fails
    val queue = new java.util.ArrayDeque[Int]()
    children(0).foreach { case (_, child) => fail(child) = 0; queue.add(child) }
    while (!queue.isEmpty) {
      val s = queue.poll()
      children(s).foreach { case (c, child) =>
        var f = fail(s)
        while (f != 0 && !children(f).contains(c)) f = fail(f)
        fail(child) = if (children(f).contains(c) && children(f)(c) != child)
          children(f)(c) else 0
        // pre-merge the fail target's output chain into the child's
        var o = outHead(fail(child))
        while (o >= 0) {
          addOut(child, outPattern(o))
          o = outNext(o)
        }
        queue.add(child)
      }
    }
    // freeze goto to one sorted parallel array pair
    var nEdges = 0
    children.foreach(m => nEdges += m.size)
    val keys = new Array[Long](nEdges)
    val vals = new Array[Int](nEdges)
    var e = 0
    var s = 0
    while (s < nStates) {
      children(s).foreach { case (c, child) =>
        keys(e) = (s.toLong << 16) | c
        vals(e) = child
        e += 1
      }
      s += 1
    }
    // sort (keys, vals) by key — index permutation sort
    val order = keys.indices.toArray.sortBy(keys)
    new Automaton(order.map(keys), order.map(vals), fail,
      outHead, outPattern.toArray, outNext.toArray)
  }

  /** Process-wide automaton cache keyed by the exact dictionary. Real
    * pipelines see a handful of DISTINCT dictionaries, but that is an
    * assumption, not an invariant — a workload generating per-job
    * dictionaries must not accumulate MB-scale automata for the JVM's
    * lifetime, so the cache is a small access-order LRU: the hot static
    * blocklists stay resident, one-shot dictionaries age out.
    */
  private final val MaxCachedAutomata = 32
  private val automatonCache =
    new java.util.LinkedHashMap[Seq[String], Automaton](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Seq[String], Automaton]): Boolean =
        size() > MaxCachedAutomata
    }

  private[functions] def cachedBuild(sortedPatterns: Array[String]): Automaton =
    automatonCache.synchronized {
      val key = sortedPatterns.toIndexedSeq
      val hit = automatonCache.get(key)
      if (hit != null) hit
      else {
        val a = build(sortedPatterns)
        automatonCache.put(key, a)
        a
      }
    }

  /** Column bridge. */
  def expr(c: Column, patterns: Seq[String]): Column =
    GraftColumnBridge.column(MultiPatternHits(GraftColumnBridge.expression(c), patterns))
}
