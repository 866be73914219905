package graft.operators

import graft.functions.{Log2Fixed, PolyHash}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-source KL divergence of token distributions against the corpus —
  * the mixture-diagnostics statistic behind data-selection decisions:
  * which sources look like the blend and which pull it (domain shift,
  * contamination by boilerplate, a scrape gone wrong all show up as KL
  * spikes). KL(P_s ‖ P_corpus) in BITS:
  *
  *   Σ_w (c_sw/N_s) · log2( (c_sw/N_s) / (c_gw/N_g) )
  *     = (1/N_s) · Σ_w c_sw · (log2 c_sw + log2 N_g − log2 c_gw − log2 N_s)
  *
  * with every log the fixed-point [[Log2Fixed]] kernel — the sum is an
  * exact integer, the only float op is the final display division
  * (portable-half-up to 6dp). Every source token is in the corpus by
  * construction, so no zero denominators and no smoothing constant on
  * the hash surface.
  *
  * Scale posture: ONE corpus pass builds the (source, word-hash) count
  * table (localCheckpoint barrier — global counts and totals derive from
  * it, never from re-scans); everything after is (sources × vocabulary)-
  * bounded: the per-word global log table joins back on the 8-byte hash,
  * source totals ride a broadcast, and the per-row log2fp runs once per
  * (source, word) — never per token.
  */
object Divergence {

  import EvalMetrics.dec

  /** Zipf slope per source: OLS fit of log2(freq) on log2(rank) over the
    * `topR` most frequent tokens (ties broken lexicographically) — the
    * corpus-health diagnostic next to [[klBySource]]: natural text sits
    * near slope -1; templated/boilerplate-heavy sources flatten, and a
    * scrape of unique junk steepens. Both logs are the fixed-point
    * [[Log2Fixed]] kernel, so the four OLS sums are exact integers and
    * slope = (R*Sxy - Sx*Sy) / (R*Sxx - Sx*Sx) is an exact rational,
    * micro-rounded for display. Null for sources with < 2 ranked types.
    *
    * Scale posture: ONE corpus exchange builds (source, token) counts;
    * the per-source top-R is a WindowGroupLimit over the vocab-bounded
    * count frame; everything after is (sources x topR) rows.
    */
  def zipfSlope(df: DataFrame, sourceCol: Column, textCol: Column,
      topR: Int = 100): DataFrame = {
    require(topR >= 2, s"topR must be >= 2, got $topR")
    val counts = df
      .select(sourceCol.as("source"),
        explode(graft.functions.TextFunctions.tokens(textCol)).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("freq"))
    val ranked = Ranking.topKPerGroup(counts, Seq(col("source")),
      Seq(col("freq").desc, col("tok").asc), topR, rankCol = Some("rnk"))
    val x = Log2Fixed.expr(col("rnk").cast("long"))
    val y = Log2Fixed.expr(col("freq"))
    // per-term products stay in long (lg <= 63*2^20, product < 2^53);
    // the SUMS widen to DECIMAL(38,0) — at topR ~1e5 a long Σxy wraps
    // silently under non-ANSI Spark while the HUGEINT oracle stays exact
    val sums = ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("r"),
        sum(x.cast("decimal(38,0)")).as("sx"),
        sum(y.cast("decimal(38,0)")).as("sy"),
        sum((x * y).cast("decimal(38,0)")).as("sxy"),
        sum((x * x).cast("decimal(38,0)")).as("sxx"))
    val num = col("r") * col("sxy") - col("sx") * col("sy")
    val den = col("r") * col("sxx") - col("sx") * col("sx")
    sums.select(col("source"), col("r").as("n_ranked"),
      when(col("r") >= 2,
        EvalMetrics.microRound6(num, den).cast("double") / 1e6)
        .as("zipf_slope"))
  }

  /** Distinct-n diversity per source — the repetition audit generated-
    * data pipelines run before training on model output (Li et al. 2016's
    * distinct-1/distinct-2): distinct n-grams over total n-grams, exact
    * and micro-rounded. Low distinct-2 with healthy vocabulary flags a
    * source that loops the same phrases — a failure [[zipfSlope]] and
    * [[klBySource]] both miss (token MARGINALS can look natural while
    * transitions collapse).
    *
    * Scale posture: one (source, gram) exchange for the distinct count —
    * map-side combined on the count side; nothing else touches row-weight
    * data. Sources with every doc shorter than n report 0 grams and a
    * null ratio.
    *
    * `hash64 = true` is the production sizing: grams ride the compiled
    * 61-bit poly fold ([[graft.functions.PolyHash.polyGramHashes61]],
    * the q135 substring-span hash — still DuckDB-replayable in HUGEINT)
    * instead of materialized gram STRINGS, so the tokenize → gram →
    * distinct pipeline never builds or hashes a bigram string
    * (measured ~2× on the sf0.1 corpus — the cost is all map-side).
    * n_distinct then counts distinct 61-bit hashes: identical on both
    * engines, and within G²/2⁶² of the string count (negligible at any
    * realistic gram population).
    *
    * @return (source, n, n_grams, n_distinct, distinct_ratio)
    */
  def ngramDiversity(df: DataFrame, sourceCol: Column, textCol: Column,
      n: Int, hash64: Boolean = false): DataFrame = {
    require(n >= 1 && n <= 8, s"n must be in 1..8, got $n")
    val toks = graft.functions.TextFunctions.tokens(textCol)
    val grams: Column =
      if (hash64) PolyHash.polyGramHashes61(textCol, n)
      else when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n), i =>
          array_join(slice(toks, i + 1, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
    df.select(sourceCol.as("source"), explode_outer(grams).as("g"))
      .groupBy(col("source"))
      .agg(count(col("g")).as("n_grams"),
        count_distinct(col("g")).as("n_distinct"))
      .select(col("source"), lit(n).as("n"), col("n_grams"),
        col("n_distinct"),
        when(col("n_grams") > 0,
          EvalMetrics.microRound6(col("n_distinct"), col("n_grams"))
            .cast("double") / 1e6).as("distinct_ratio"))
  }

  /** Jensen–Shannon divergence (bits) between two halves of each
    * source's token stream — the SYMMETRIC, bounded companion of
    * [[klBySource]]: KL explodes when one side lacks a token (and is
    * asymmetric), JS stays in [0, 1] bit and treats both sides equally,
    * which is what an intra-source drift screen wants ("did this feed's
    * language change?" has no privileged direction). Exact fixed-point
    * end to end:
    *
    *   lg(p/m) = lg2fp(2·c_p·N_q) − lg2fp(c_p·N_q + c_q·N_p)
    *   js      = (S_p·N_q + S_q·N_p) / (2·N_p·N_q·2²⁰),
    *   S_p     = Σ_h c_p·lg(p/m)   (integer; S_q symmetric)
    *
    * — the one-sided-token case lands lg 2 = 2²⁰ EXACTLY (the LUT's
    * exponent shift), so disjoint vocabularies read exactly 1 bit. The
    * final ratio micro-rounds once. Null when either half is empty.
    * Tokens ride the 61-bit poly fold (the q271 sizing).
    *
    * Scale posture: ONE (source, token-hash) count aggregation carries
    * the corpus weight (map-side combined, 8-byte keys); the log
    * arithmetic runs on the vocabulary-bounded frame. Envelope: the
    * 2·c·N log argument must fit a long — c·N ≤ 4.6·10¹⁸, i.e. ~10⁹
    * tokens per side at ~10⁹ occurrences of one token; shard beyond.
    *
    * @return (source, n_p, n_q, v_union, js_bits)
    */
  def jsDivergence(df: DataFrame, sourceCol: Column, isBCol: Column,
      textCol: Column): DataFrame = {
    val b = isBCol.cast("long")
    // null-arm rows are EXCLUDED (the mcnemar/cochranQ sibling
    // convention) — summed conditionals would silently drop them from
    // n_p/n_q while their tokens still inflated v_union
    val cnt = df.filter(isBCol.isNotNull)
      .select(sourceCol.as("source"), b.as("__b"),
        explode(PolyHash.polyGramHashes61(textCol, 1))
          .as("__h"))
      .groupBy(col("source"), col("__h"))
      .agg(sum(lit(1L) - col("__b")).as("__cp"), sum(col("__b")).as("__cq"))
      .localCheckpoint()
    val ns = cnt.groupBy(col("source"))
      .agg(sum(col("__cp")).as("__np"), sum(col("__cq")).as("__nq"),
        count(lit(1)).as("v_union"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val j = cnt.join(broadcast(ns), Seq("source"))
    val mix = col("__cp") * col("__nq") + col("__cq") * col("__np")
    def term(c: Column, nOther: Column): Column =
      when(c > 0,
        c * (Log2Fixed.expr(c * nOther * 2) - Log2Fixed.expr(mix)))
        .otherwise(0L)
    val sums = j.groupBy(col("source"))
      .agg(max(col("__np")).as("n_p"), max(col("__nq")).as("n_q"),
        max(col("v_union")).as("v_union"),
        sum(dec(term(col("__cp"), col("__nq")))).as("__sp"),
        sum(dec(term(col("__cq"), col("__np")))).as("__sq"))
    sums.select(col("source"), col("n_p"), col("n_q"), col("v_union"),
      when(col("n_p") > 0 && col("n_q") > 0,
        graft.operators.EvalMetrics.microRound6(
          col("__sp") * dec(col("n_q")) + col("__sq") * dec(col("n_p")),
          dec(col("n_p")) * dec(col("n_q")) * (2L * Log2Fixed.One))
          .cast("double") / 1e6).as("js_bits"))
  }

  /** Vocabulary richness per source — Chao1 (bias-corrected) and the
    * Good–Turing unseen mass, the "how much vocabulary have we NOT
    * crawled yet" estimators a corpus planner reads before deciding a
    * source is exhausted:
    *
    *   chao1     = V + F1·(F1−1) / (2·(F2+1))     (Chao 1984, corrected)
    *   gt_unseen = F1 / N                          (Good 1953)
    *
    * with V observed distinct tokens, F1/F2 the singleton/doubleton
    * type counts, N total tokens. Both exact rationals, micro-rounded;
    * a high chao1/V ratio or unseen mass says the long tail is still
    * growing. Tokens ride the 61-bit poly fold (the q271 sizing).
    *
    * Scale posture: one (source, token-hash) count aggregation, then a
    * frequency-of-frequencies rollup — vocabulary-bounded; nothing else
    * touches row weight.
    *
    * @return (source, n_tokens, v_obs, f1, f2, chao1, gt_unseen)
    */
  def vocabRichness(df: DataFrame, sourceCol: Column,
      textCol: Column): DataFrame = {
    import graft.operators.EvalMetrics.microRound6
    val cnt = df
      .select(sourceCol.as("source"),
        explode(PolyHash.polyGramHashes61(textCol, 1))
          .as("__h"))
      .groupBy(col("source"), col("__h"))
      .agg(count(lit(1)).as("__c"))
    val g = cnt.groupBy(col("source"))
      .agg(sum(col("__c")).as("n_tokens"), count(lit(1)).as("v_obs"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("__c") === 2, 1L).otherwise(0L)).as("f2"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    g.select(col("source"), col("n_tokens"), col("v_obs"), col("f1"),
      col("f2"),
      // widen BEFORE multiplying (the q186 discipline): f1·(f1−1) in
      // plain longs would overflow at ~3e9 singleton types while the
      // HUGEINT oracle sailed on — an engine asymmetry
      (microRound6(
        dec(col("v_obs")) * (dec(col("f2")) + 1) * 2 +
          dec(col("f1")) * (dec(col("f1")) - 1),
        (dec(col("f2")) + 1) * 2).cast("double") / 1e6).as("chao1"),
      when(col("n_tokens") > 0,
        microRound6(col("f1"), col("n_tokens")).cast("double") / 1e6)
        .as("gt_unseen"))
  }

  /** (source, n_tokens, n_vocab, kl_bits 6dp) per distinct value of
    * `sourceCol`. Overflow envelope: |Σ c_sw·Δlg| ≤ N_s·64·2²⁰ — exact in
    * long to N_s ≈ 1.3·10¹¹ tokens per source; shard beyond.
    */
  def klBySource(df: DataFrame, sourceCol: Column, textCol: Column): DataFrame = {
    val cntS = df
      .select(sourceCol.as("source"),
        explode(PolyHash.polyGramHashes(textCol, 1)).as("h"))
      .groupBy(col("source"), col("h")).agg(count(lit(1)).as("c_sw"))
      .localCheckpoint()
    val cntG = cntS.groupBy(col("h"))
      .agg(sum(col("c_sw")).as("c_gw"))
      .select(col("h"), Log2Fixed.expr(col("c_gw")).as("__lg_gw"))
    val nS = cntS.groupBy(col("source"))
      .agg(sum(col("c_sw")).as("n_s"), count(lit(1)).as("n_vocab"))
      .select(col("source"), col("n_s"), col("n_vocab"),
        Log2Fixed.expr(col("n_s")).as("__lg_ns"))
    val nG = cntS.agg(sum(col("c_sw")).as("n_g"))
      .select(col("n_g"), Log2Fixed.expr(col("n_g")).as("__lg_ng"))
    cntS
      .join(cntG, Seq("h"))
      .join(broadcast(nS), Seq("source"))
      .crossJoin(broadcast(nG))
      .select(col("source"), col("n_s"), col("n_vocab"),
        (col("c_sw") * (Log2Fixed.expr(col("c_sw")) + col("__lg_ng") -
          col("__lg_gw") - col("__lg_ns"))).as("__term"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"), max(col("n_vocab")).as("n_vocab"),
        sum(col("__term")).as("__sum"))
      .select(col("source"), col("n_tokens"), col("n_vocab"),
        (floor(col("__sum").cast("double") /
          (col("n_tokens") * lit(Log2Fixed.One.toDouble)) * 1e6 + 0.5) / 1e6)
          .as("kl_bits"))
  }

  /** Mutual information between two categorical columns, with the
    * per-cell pointwise MI — the dependence audit a curator runs before
    * trusting a stratified split ("is source independent of label?") and
    * the feature-redundancy screen before mixing metadata columns into a
    * classifier. For each observed pair:
    *
    *   pmi(x,y)  = log2( n·n_xy / (n_x·n_y) )            (bits, micro)
    *   mi        = Σ_xy (n_xy/n) · pmi(x,y)              (bits, micro)
    *
    * Both logs are the fixed-point [[Log2Fixed]] kernel, so every
    * intermediate is an exact integer and the oracle replays the LUT
    * interpolation verbatim; only the final micro-division is float.
    * The per-cell mi term `n_xy·Δ` widens to decimal(38,0) before
    * summing (n_xy·Δ ≤ n·63·2²⁰ wraps a long near n ≈ 1.4·10¹¹). The
    * log argument n·n_xy stays a long — exact up to n ≈ 3·10⁹ rows;
    * beyond that pre-aggregate (the statistic only needs counts).
    *
    * Scale posture: ONE row-level exchange builds the (x, y) joint count
    * table (checkpointed — marginals, the total and the MI rollup all
    * derive from it, never from re-scans); everything downstream is
    * |X|·|Y|-bounded, marginals and the total ride broadcasts, and
    * there are no windows.
    *
    * @return one row per observed (x, y): (x, y, n_xy, pmi_bits,
    *   mi_bits) — mi_bits is the table-level MI repeated on every row
    *   (in-band, the q103 convention for scalar+detail outputs).
    */
  def mutualInformation(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val joint = df.select(xCol.as("x"), yCol.as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_xy"))
      .localCheckpoint()
    val nx = joint.groupBy(col("x")).agg(sum(col("n_xy")).as("n_x"))
    val ny = joint.groupBy(col("y")).agg(sum(col("n_xy")).as("n_y"))
    val nn = joint.agg(sum(col("n_xy")).as("n"))
    val cells = joint
      .join(broadcast(nx), Seq("x")).join(broadcast(ny), Seq("y"))
      .crossJoin(broadcast(nn))
      .select(col("x"), col("y"), col("n_xy"), col("n"),
        (Log2Fixed.expr(col("n") * col("n_xy")) -
          Log2Fixed.expr(col("n_x") * col("n_y"))).as("__d"))
      .localCheckpoint()
    val mi = cells.agg(
      EvalMetrics.microRound6(sum(dec(col("n_xy")) * col("__d")),
        dec(max(col("n"))) * Log2Fixed.One).as("__mi"))
    cells.crossJoin(broadcast(mi))
      .select(col("x"), col("y"), col("n_xy"),
        (EvalMetrics.microRound6(col("__d"), lit(Log2Fixed.One))
          .cast("double") / 1e6).as("pmi_bits"),
        (col("__mi").cast("double") / 1e6).as("mi_bits"))
  }

  /** Collocation extraction: the top-k adjacent-token bigrams by
    * pointwise mutual information with a minimum-support gate — the
    * classic corpus primitive ("New York", "machine learning") behind
    * phrase vocabularies and tokenizer merge candidates. PMI over the
    * BIGRAM EVENT SPACE: with B total bigrams, c_xy the bigram count and
    * c_x·/c_·y the left/right marginal occurrence counts,
    * `pmi = log2(B·c_xy / (c_x·c_·y))` on the [[Log2Fixed]] kernel —
    * exact integers, oracle-replayable. Support < `minCount` is cut
    * BEFORE any log (rare-pair PMI is noise — the standard gate).
    * The log arguments B·c_xy and c_x·c_·y are long products — exact to
    * B ≈ 3·10⁹ bigrams (the [[mutualInformation]] cap); shard or
    * pre-aggregate beyond.
    *
    * Scale posture: ONE doc-keyed sort feeds the lead() pairing; bigram
    * and marginal counts are vocabulary-bounded aggregations; marginals
    * join back on the token, the total rides a broadcast; the final
    * top-k is a TakeOrdered over the gated pair frame.
    *
    * @return top-k rows (w1, w2, n_pair, pmi_bits) ordered by
    *   (pmi desc, w1, w2).
    */
  def collocations(
      df: DataFrame, docIdCol: Column, textCol: Column,
      minCount: Long = 5L, topK: Int = 20): DataFrame = {
    require(minCount >= 1 && topK >= 1, s"bad gate: $minCount/$topK")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(docIdCol.as("__doc"),
      posexplode(graft.functions.TextFunctions.tokens(textCol))
        .as(Seq("__pos", "__w")))
    val nxt = lead(col("__w"), 1)
      .over(Window.partitionBy(col("__doc")).orderBy(col("__pos")))
    val bi = toks.select(col("__w").as("w1"), nxt.as("w2"))
      .filter(col("w2").isNotNull)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      .localCheckpoint() // marginals, the total and the gate all derive
    val left = bi.groupBy(col("w1")).agg(sum(col("n_pair")).as("__cx"))
    val right = bi.groupBy(col("w2")).agg(sum(col("n_pair")).as("__cy"))
    val total = bi.agg(sum(col("n_pair")).as("__b"))
    bi.filter(col("n_pair") >= minCount)
      .join(left, Seq("w1")).join(right, Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("n_pair"),
        (EvalMetrics.microRound6(
          Log2Fixed.expr(col("__b") * col("n_pair")) -
            Log2Fixed.expr(col("__cx") * col("__cy")),
          lit(Log2Fixed.One)).cast("double") / 1e6).as("pmi_bits"))
      .orderBy(col("pmi_bits").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** Exact vocabulary-overlap matrix between sources: for every unordered
    * source pair, the distinct-token counts, the intersection size and
    * exact Jaccard — the cross-source contamination screen ("are these
    * two crawls the same site?") and the deduplication-priority matrix a
    * mixture designer reads before merging corpora. The sibling of
    * [[klBySource]] on the SET surface: KL compares distributions,
    * overlap compares supports.
    *
    * Scale posture: this is NOT an all-pairs document comparison — the
    * one row-level exchange builds the distinct (source, token) incidence
    * list (vocabulary-bounded, checkpointed once for its three
    * consumers); pairs form by self-joining the incidence list ON THE
    * TOKEN, so a token present in k sources yields C(k,2) ≤ C(|sources|,2)
    * rows — fan-out bounded by the square of the (small) source count per
    * token, never by documents. Per-source sizes ride a broadcast; every
    * source seen in `df` appears in the matrix — including sources whose
    * vocabulary is EMPTY (all-whitespace text) and pairs with an empty
    * intersection — absence of overlap is a finding, not a dropped row.
    *
    * @return (source_a, source_b, v_a, v_b, inter, n_union, jaccard) with
    *   source_a < source_b; jaccard micro-rounded, null when both
    *   vocabularies are empty.
    */
  def vocabOverlap(df: DataFrame, sourceCol: Column, textCol: Column): DataFrame = {
    val inc = df
      .select(sourceCol.as("source"),
        explode(graft.functions.TextFunctions.tokens(textCol)).as("tok"))
      .distinct()
      .localCheckpoint()
    // sizes from the SOURCE list, not the incidence list — a source whose
    // every document tokenizes to nothing still belongs in the matrix
    val sizes = df.select(sourceCol.as("source")).distinct()
      .join(inc.groupBy(col("source")).agg(count(lit(1)).as("v")),
        Seq("source"), "left")
      .select(col("source"), coalesce(col("v"), lit(0L)).as("v"))
    val inter = inc.select(col("source").as("source_a"), col("tok"))
      .join(inc.select(col("source").as("source_b"), col("tok")), Seq("tok"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("inter"))
    val pairs = sizes.select(col("source").as("source_a"), col("v").as("v_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("v").as("v_b"))),
        col("source_a") < col("source_b"))
    val un = col("v_a") + col("v_b") - col("inter")
    pairs.join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("v_a"), col("v_b"),
        coalesce(col("inter"), lit(0L)).as("inter"))
      .select(col("source_a"), col("source_b"), col("v_a"), col("v_b"),
        col("inter"), un.as("n_union"),
        when(un > 0, EvalMetrics.microRound6(col("inter"), un)
          .cast("double") / 1e6).as("jaccard"))
  }
}
