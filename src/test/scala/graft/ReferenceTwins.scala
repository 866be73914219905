package graft

import graft.functions.{PageRankKernel, PolyHash, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Composable reference forms of compiled kernels. They are the readable
  * definitions the kernels replaced, kept only as spec oracles.
  */
object ReferenceTwins {

  /** [[TextFunctions.tokens]] as built-in expressions: whitespace split,
    * empty fragments dropped ([[graft.functions.WsTokens]] must match it
    * byte for byte).
    */
  def tokensComposable(c: Column): Column =
    filter(split(trim(c), "\\s+"), x => x =!= "")

  /** [[graft.sources.KvBlock.parseBlock]] as built-in expressions: `\n`
    * lines that hold a colon, each split at its first `：` or `:` and
    * trimmed of ASCII spaces. A repeated key keeps its first position and
    * last value only under `spark.sql.mapKeyDedupPolicy=LAST_WIN` (the
    * GraftSession default). [[graft.functions.KvParse]] must match it
    * entry for entry, in order.
    */
  def kvParseComposable(block: Column): Column =
    map_from_entries(transform(
      filter(split(block, "\n"), l => l.rlike("[：:]")),
      l => struct(
        trim(regexp_extract(l, "^([^：:]*)[：:]", 1)).as("key"),
        trim(regexp_replace(l, "^[^：:]*[：:]", "")).as("value"))))

  /** [[graft.sources.KvBlock.renderBlock]] as built-in expressions: one
    * `k：v` line per pair joined by `\n`, each value's `\r\n`, `\n`, `\r`
    * and `^_^` replaced by a space; a null value drops its line.
    * [[graft.functions.KvRender]] must match it byte for byte.
    */
  def kvRenderComposable(kvPairs: Seq[(String, Column)]): Column =
    concat_ws("\n", kvPairs.map { case (k, v) =>
      concat(lit(k), lit("："), regexp_replace(v, "\\r?\\n|\\r|\\^_\\^", " "))
    }: _*)

  /** Distinct shingle poly-hashes via the readable HOF pipeline: shingle
    * strings → per-string char fold → value-dedup (first-occurrence order,
    * same as [[graft.functions.PolyShingleHashes]]' hash-keyed dedup).
    */
  def polyShingleHashesComposable(c: Column, k: Int): Column =
    array_distinct(transform(TextFunctions.distinctShingles(c, k),
      s => TextFunctions.tokenHash(s)))

  /** Ordered gram poly-hashes (dups kept, index = token position) via the
    * readable HOF pipeline — twin of [[graft.functions.PolyGramHashes]].
    */
  def polyGramHashesComposable(c: Column, k: Int): Column =
    transform(TextFunctions.shingles(c, k), s => TextFunctions.tokenHash(s))

  /** Secondary char fold as a Column (mult 37 mod 998244353). */
  private def tokenHash2(w: Column): Column =
    aggregate(
      filter(split(w, ""), ch => ch =!= ""),
      lit(0L),
      (acc, ch) => pmod(acc * PolyHash.M2 + ascii(ch), lit(PolyHash.P2)))

  /** Composable 60-bit SimHash ([[graft.functions.PolySimHash]]): bits
    * 0..29 from the primary token fold, bits 30..59 from the secondary —
    * sign of the per-bit ±1 vote.
    */
  def polySimHashComposable(c: Column): Column = {
    val toks = TextFunctions.tokens(c)
    val h1s = transform(toks, w => TextFunctions.tokenHash(w))
    val h2s = transform(toks, w => tokenHash2(w))
    val bits = (0 until 60).map { j =>
      val (hs, b) = if (j < 30) (h1s, j) else (h2s, j - 30)
      val vote = aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ bitwiseOR _)
  }

  /** [[graft.operators.Dedup.simHash]] as 64 interpreted `aggregate`
    * passes over the tokens' xxhash64 values.
    */
  def simHashComposable(textCol: Column): Column = {
    val tokHashes = transform(TextFunctions.tokens(textCol), w => xxhash64(w))
    val bits = (0 until 64).map { j =>
      val bitSum = aggregate(tokHashes, lit(0L), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(bitSum > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ bitwiseOR _)
  }

  /** [[graft.operators.Dedup.winnowedFingerprints]] with one exploded row
    * per window: the rightmost minimal gram hash of each window of `w`,
    * distinct per (id, pos).
    */
  def winnowedFingerprintsComposable(df: DataFrame, idCol: Column,
      textCol: Column, k: Int = 5, w: Int = 8): DataFrame = {
    require(k >= 1 && k <= 16, s"k must be in 1..16, got $k")
    require(w >= 2 && w <= 64, s"w must be in 2..64, got $w")
    val grams = PolyHash.polyGramHashes61(textCol, k)
    df.select(idCol.as("id"), grams.as("__g"))
      .withColumn("__nw",
        when(size(col("__g")) >= w, size(col("__g")) - (w - 1))
          .when(size(col("__g")) >= 1, lit(1)).otherwise(lit(0)))
      .filter(col("__nw") > 0)
      .select(col("id"), col("__g"),
        explode(sequence(lit(1), col("__nw"))).as("__i"))
      .withColumn("__win", expr(s"slice(__g, __i, $w)"))
      .withColumn("__m", expr("array_min(__win)"))
      // rightmost minimal hash (the paper's robust-winnowing tiebreak):
      // leftmost position in the reversed window
      .withColumn("__pos", expr(
        "__i + size(__win) - array_position(reverse(__win), __m)"))
      .select(col("id"), col("__pos").cast("long").as("pos"),
        col("__m").as("h"))
      .distinct()
  }

  /** [[graft.functions.LangIdVote]] as built-in expressions: per language,
    * the count of lowercased tokens in its marker list; the best (hits,
    * lang) struct wins, "und" when nothing hits.
    */
  def langIdHeuristicComposable(c: Column): Column = {
    val t = TextFunctions.tokens(lower(c))
    val scored = TextFunctions.LangMarkers.toSeq.sortBy(_._1).map { case (lang, ws) =>
      struct(size(filter(t, w => w.isin(ws: _*))).as("hits"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** TextRank's co-occurrence edges as higher-order functions over each
    * document's token-hash array: element i pairs with element i+d for
    * every d in 1..window (`try_element_at` is null past the end), both
    * directions, hash-equal and null pairs dropped, then counted per
    * (src, dst). [[graft.functions.CooccurCells]] must produce the same
    * weighted edge multiset.
    */
  def textRankEdges(df: DataFrame, textCol: Column, window: Int): DataFrame = {
    val hashed = df.select(transform(TextFunctions.tokens(textCol),
      w => TextFunctions.md5Long(w)).as("__hs"))
    val pairCells = (1 to window).flatMap { d =>
      Seq(
        transform(col("__hs"), (x, i) => struct(x.as("a"),
          try_element_at(col("__hs"), i + lit(d + 1)).as("b"))),
        transform(col("__hs"), (x, i) => struct(
          try_element_at(col("__hs"), i + lit(d + 1)).as("a"), x.as("b"))))
    }
    hashed
      .select(explode(flatten(array(pairCells: _*))).as("__p"))
      .filter(col("__p.a").isNotNull && col("__p.b").isNotNull &&
        col("__p.a") =!= col("__p.b"))
      .select(col("__p.a").as("src"), col("__p.b").as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
  }

  /** TextRank's dictionary: each distinct corpus token with its md5 id. */
  def textRankDictionary(df: DataFrame, textCol: Column): DataFrame =
    df.select(explode(TextFunctions.tokens(textCol)).as("token")).distinct()
      .select(col("token"), TextFunctions.md5Long(col("token")).as("id"))

  /** TextRank's compact rank stage as the composition
    * [[graft.functions.TextRankKernel]] replaced: over a co-occurrence
    * graph of (`a`, `b`, `w`, `token`) rows (edges have `b`, dictionary
    * rows do not), [[graft.functions.PageRankKernel]] over the collected
    * edges joined to their src's Σw outdegree, then every dictionary row
    * left-joined to its id's score, `base` where it has none.
    */
  def textRankCompact(graph: DataFrame, iterations: Int,
      dampingPerMille: Int = 850, scale: Long = 1000000L): DataFrame = {
    val base = (1000L - dampingPerMille) * scale / 1000L
    val e = graph.filter(col("b").isNotNull)
      .select(col("a").as("__src"), col("b").as("__dst"), col("w").as("__w"))
    val deg = e.groupBy(col("__src")).agg(sum(col("__w")).as("__deg"))
    val scores = e.join(deg, Seq("__src"))
      .agg(collect_list(struct(col("__src"), col("__dst"), col("__w"),
        col("__deg"))).as("__e"))
      .select(explode(PageRankKernel.expr(col("__e"), lit(iterations),
        lit(dampingPerMille), lit(scale))).as("__s"))
      .select(col("__s.id").as("id"), col("__s.rank_fp").as("rank_fp"))
    graph.filter(col("b").isNull).select(col("token"), col("a").as("id"))
      .join(scores, Seq("id"), "left")
      .select(col("token"), coalesce(col("rank_fp"), lit(base)).as("rank_fp"))
  }

  /** [[graft.functions.QDigestCompress.compressSorted]] as the map walk it
    * replaced: pending nodes in a `(lvl, cell)`-keyed HashMap, each level's
    * cells filtered out of it and sorted, sibling groups absorbed into
    * their parent while group + parent mass stays under `t`. Same checks,
    * output sorted by (lvl, cell).
    */
  def qdigestCompressMap(
      nodes: Array[(Int, Long, Long)], bits: Int, k: Int)
      : Array[(Int, Long, Long)] = {
    val pend = scala.collection.mutable.HashMap.empty[(Int, Long), Long]
    var n = 0L
    nodes.foreach { case (lvl, cell, cnt) =>
      require(lvl >= 0 && lvl <= bits, s"level $lvl outside [0, $bits]")
      require(cnt >= 0, s"negative count $cnt at ($lvl, $cell)")
      require(cell >= 0 && cell < (1L << (bits - lvl)),
        s"cell $cell outside the $bits-bit universe at level $lvl")
      if (cnt > 0) {
        val key = (lvl, cell)
        pend(key) = pend.getOrElse(key, 0L) + cnt
        n += cnt
      }
    }
    val t = math.max(1L, n / k)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var lvl = 0
    while (lvl < bits) {
      val cur = pend.keysIterator.filter(_._1 == lvl).map(_._2).toArray
      java.util.Arrays.sort(cur)
      var i = 0
      while (i < cur.length) {
        val p = cur(i) >> 1
        var j = i
        var s = 0L
        while (j < cur.length && (cur(j) >> 1) == p) {
          s += pend((lvl, cur(j))); j += 1
        }
        val pk = (lvl + 1, p)
        val withParent = s + pend.getOrElse(pk, 0L)
        if (withParent < t) {
          (i until j).foreach(x => pend.remove((lvl, cur(x))))
          pend(pk) = withParent
        } else {
          (i until j).foreach { x =>
            out += ((lvl, cur(x), pend((lvl, cur(x)))))
            pend.remove((lvl, cur(x)))
          }
        }
        i = j
      }
      lvl += 1
    }
    // only the root (level = bits, cell 0) can still be pending
    pend.foreach { case ((l, c), cnt) => out += ((l, c, cnt)) }
    out.sortBy(x => (x._1, x._2)).toArray
  }
}
