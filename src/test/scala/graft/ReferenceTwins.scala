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

  /** [[graft.sources.KvBlock.blocksFromText]]'s edge trim as the regex it
    * replaced: leading and trailing runs of `\s` removed. The one input
    * they part on: a block ending in whitespace and then one Unicode line
    * terminator (U+0085, U+2028, U+2029), where the regex's `$` also
    * matches before that terminator and drops the whitespace.
    */
  def blockTrimRegex(block: Column): Column =
    regexp_replace(block, "^\\s+|\\s+$", "")

  /** [[graft.sources.KvBlock.renderBlock]] as built-in expressions: one
    * `k：v` line per pair joined by `\n`, each value's `\r\n`, `\n`, `\r`
    * and `^_^` replaced by a space; a null value drops its line.
    * [[graft.functions.KvRender]] must match it byte for byte.
    */
  def kvRenderComposable(kvPairs: Seq[(String, Column)]): Column =
    concat_ws("\n", kvPairs.map { case (k, v) =>
      concat(lit(k), lit("："), regexp_replace(v, "\\r?\\n|\\r|\\^_\\^", " "))
    }: _*)

  /** [[graft.sources.v2.PageFetcher.fetch]]'s records as the formatted
    * strings it used to build: `(idx, name, credit_code,
    * institution_type, region_code)` per record. The fetch must match it
    * byte for byte.
    */
  def pageFetchFormatted(page: Int, pageSize: Int)
      : Seq[(Int, String, String, String, String)] =
    (0 until pageSize).map { i =>
      val id = page * pageSize + i
      (i,
        s"托育机构_${id}",
        f"91${id}%016d",
        if (id % 3 == 0) "营利性" else "非营利性",
        f"${140000 + id % 1000}%06d000000")
    }

  /** [[graft.sources.v2.PagedReader]]'s rows built by matching each
    * pruned column's name, from [[pageFetchFormatted]]. Keys-only and
    * empty projections fetch nothing.
    */
  def pagedReaderRows(firstPage: Int, lastPage: Int, pageSize: Int,
      schema: org.apache.spark.sql.types.StructType)
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val names = schema.fieldNames.toSeq
    if (names.isEmpty) {
      Iterator.fill((lastPage - firstPage + 1) * pageSize)(InternalRow.empty)
    } else if (names.forall(n => n == "page" || n == "idx")) {
      (firstPage to lastPage).iterator.flatMap { p =>
        (0 until pageSize).iterator.map { i =>
          InternalRow.fromSeq(names.map {
            case "page" => p
            case _ => i
          })
        }
      }
    } else {
      (firstPage to lastPage).iterator.flatMap { p =>
        pageFetchFormatted(p, pageSize).iterator.map {
          case (i, name, code, typ, region) =>
            InternalRow.fromSeq(names.map {
              case "page" => p
              case "idx" => i
              case "name" => UTF8String.fromString(name)
              case "credit_code" => UTF8String.fromString(code)
              case "institution_type" => UTF8String.fromString(typ)
              case "region_code" => UTF8String.fromString(region)
            })
        }
      }
    }
  }

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

  /** [[graft.operators.QualityRules.repetitionSignals]] as the HOF form
    * it replaced: each signal a sort + one run-length fold over a per-row
    * array. The kernel must match it bit for bit.
    */
  def repetitionSignalsHof(
      df: DataFrame, idCol: Column, textCol: Column, linesCol: Column,
      topGramN: Int = 2, dupGramN: Int = 5,
      maxDupLineFrac: Double = 0.30, maxDupLineCharFrac: Double = 0.20,
      maxTopGramCharFrac: Double = 0.20,
      maxDupGramCharFrac: Double = 0.15): DataFrame = {
    import TextFunctions.bindOnce
    // bind every shared array once (r8 lesson): lines/toks/grams are
    // referenced from several when() branches, which are excluded from
    // codegen subexpression elimination — unbound, each signal would
    // re-run the line filter / tokenization per reference
    val sig = bindOnce(
      filter(transform(linesCol, l => trim(l)), l => l =!= "")) { lines =>
      bindOnce(length(array_join(TextFunctions.tokens(textCol), " "))
        .cast("long")) { joinedLen =>
        val nLines = size(lines)
        val lineChars = aggregate(lines, lit(0L),
          (a, l) => a + length(l).cast("long"))
        val dupLineFrac = when(nLines === 0, lit(0.0))
          .otherwise((nLines - size(array_distinct(lines))).cast("double") / nLines)
        val dupLineCharFrac = when(lineChars === 0, lit(0.0))
          .otherwise(dupCharSum(sort_array(lines), countAll = false)
            .cast("double") / lineChars)
        val topFrac = bindOnce(
          sort_array(TextFunctions.shingles(textCol, topGramN))) { topGrams =>
          when(size(topGrams) === 0 || joinedLen === 0, lit(0.0))
            .otherwise(topGramChars(topGrams).cast("double") / joinedLen)
        }
        val dupGramFrac = bindOnce(
          sort_array(TextFunctions.shingles(textCol, dupGramN))) { dupGrams =>
          when(size(dupGrams) === 0 || joinedLen === 0, lit(0.0))
            .otherwise(least(lit(1.0),
              dupCharSum(dupGrams, countAll = true).cast("double") / joinedLen))
        }
        struct(
          nLines.cast("int").as("n_lines"),
          dupLineFrac.as("dup_line_frac"),
          dupLineCharFrac.as("dup_line_char_frac"),
          topFrac.as("top_gram_char_frac"),
          dupGramFrac.as("dup_gram_char_frac"),
          (dupLineFrac <= maxDupLineFrac &&
            dupLineCharFrac <= maxDupLineCharFrac &&
            topFrac <= maxTopGramCharFrac &&
            dupGramFrac <= maxDupGramCharFrac).as("keep_repetition"))
      }
    }
    // two projects on purpose: CollapseProject declines to merge them
    // (the struct is non-cheap and referenced per field), so the signal
    // block evaluates once and the field reads are free
    df.select(idCol.as("id"), sig.as("__sig"))
      .select(col("id"), col("__sig.n_lines").as("n_lines"),
        col("__sig.dup_line_frac").as("dup_line_frac"),
        col("__sig.dup_line_char_frac").as("dup_line_char_frac"),
        col("__sig.top_gram_char_frac").as("top_gram_char_frac"),
        col("__sig.dup_gram_char_frac").as("dup_gram_char_frac"),
        col("__sig.keep_repetition").as("keep_repetition"))
  }

  /** Σ over distinct values of a sorted array: `(freq−1)·len` (dupOnly
    * extra copies) or `freq·len` gated on freq>1 (all duplicated
    * copies) — one run-length pass.
    */
  private def dupCharSum(sorted: Column, countAll: Boolean): Column = {
    // "" is a safe no-previous sentinel: callers filter empty strings
    def close(st: Column): Column =
      when(st.getField("run") > 1,
        (if (countAll) st.getField("run") else st.getField("run") - 1) *
          length(st.getField("prev")).cast("long"))
        .otherwise(lit(0L))
    val st0 = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("acc"))
    aggregate(sorted, st0,
      (st, x) =>
        when(st.getField("run") === 0 || x =!= st.getField("prev"),
          struct(x.as("prev"), lit(1L).as("run"),
            (st.getField("acc") + close(st)).as("acc")))
          .otherwise(struct(st.getField("prev").as("prev"),
            (st.getField("run") + 1).as("run"),
            st.getField("acc").as("acc"))),
      st => st.getField("acc") + close(st))
  }

  /** (max frequency · gram length) of the most frequent gram, ties to
    * the lexicographically smallest (= first max run in sorted order).
    */
  private def topGramChars(sorted: Column): Column = {
    // per-FIELD closes: each is one cheap long comparison over struct
    // reads — a struct-valued close referenced twice would duplicate the
    // whole conditional struct build per fold step
    def closedBestRun(st: Column): Column =
      when(st.getField("run") > st.getField("bestRun"), st.getField("run"))
        .otherwise(st.getField("bestRun"))
    def closedBestGram(st: Column): Column =
      when(st.getField("run") > st.getField("bestRun"), st.getField("prev"))
        .otherwise(st.getField("bestGram"))
    val st0 = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("bestRun"), lit("").as("bestGram"))
    aggregate(sorted, st0,
      (st, x) =>
        when(st.getField("run") === 0 || x =!= st.getField("prev"),
          struct(x.as("prev"), lit(1L).as("run"),
            closedBestRun(st).as("bestRun"),
            closedBestGram(st).as("bestGram")))
          .otherwise(struct(st.getField("prev").as("prev"),
            (st.getField("run") + 1).as("run"),
            st.getField("bestRun").as("bestRun"),
            st.getField("bestGram").as("bestGram"))),
      st => closedBestRun(st) * length(closedBestGram(st)).cast("long"))
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
