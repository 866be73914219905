package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed connected components by iterative min-label propagation —
  * the clustering core behind near-dup removal (Dedup.removeNearDuplicates)
  * exposed as its own operator, because training pipelines also need it for
  * URL-graph grouping, cross-source entity merging, and cluster-capped
  * sampling.
  *
  * Two execution paths, size-gated like a broadcast join:
  *
  *  - **Local union-find** when the (long-keyed) edge set fits a documented
  *    driver bound (`localEdgeThreshold`, default 2²⁰ pairs = 16 MB of id
  *    pairs): collect the deduplicated pairs once, run path-compressed
  *    union-find, broadcast the id→min-label map back. One collect job and
  *    one broadcast join replace the whole propagation loop — near-dup edge
  *    sets are SPARSE (edges ≈ duplicate pairs, a small fraction of docs),
  *    so this is the common case at every test scale and for per-shard
  *    incremental runs.
  *  - **Iterative min-label propagation** above the threshold (or for
  *    non-long ids): one equi-join (edges ⋈ labels) + one hash aggregation
  *    per round — no driver-side graph state; each round propagates the
  *    minimum label one hop, with an early exit when no label moves.
  *    Cluster diameters in dedup/entity workloads are tiny (near-cliques),
  *    so rounds ≈ 2-3. This is the 100 TB path: labels and edges shuffle on
  *    the node id — the same key both sides, so the per-round exchange is
  *    stable and AQE coalesces it; the edge cache holds (id, id) longs
  *    only. The 10M-doc receipt in SCALE.md (≈2M edges) runs here.
  */
object Graph {

  /** Largest collected row count a compact path takes into one task:
    * [[pageRankWeighted]]'s probe gate counts edges for the compiled
    * [[graft.functions.PageRankKernel]], [[textRank]]'s observed gate
    * counts every graph row (edges and dictionary) for
    * [[graft.functions.TextRankKernel]]. Larger graphs run the
    * distributed loop.
    */
  val CompactEdgeLimit: Long = 4000000L

  /** @param nodes one row per node id (dataframe with `idCol`)
    * @param edges undirected edge list (`srcCol`, `dstCol`) — orientation
    *   is normalized internally
    * @param rounds when non-null, receives the number of propagation rounds
    *   actually run (incl. the final no-change round; 0 on the local
    *   union-find path) — scale receipts record it alongside timings
    *   (SCALE.md)
    * @param requireConvergence when true (default), labels still moving at
    *   the `maxIterations` cap FAIL FAST with IllegalStateException — an
    *   unconverged return is a silently wrong answer (two docs of one
    *   component with different labels). Pass false only for exploratory
    *   runs that tolerate partial propagation; those still get the warning.
    * @param localEdgeThreshold edge-pair count at or under which the
    *   local union-find path runs (long ids only). 0 pins the distributed
    *   loop — stress receipts that assert round counts do this.
    * @return (id, comp) — comp is the minimum node id of the component
    */
  def connectedComponents(
      nodes: DataFrame, idCol: Column,
      edges: DataFrame, srcCol: Column, dstCol: Column,
      maxIterations: Int = 25,
      rounds: java.util.concurrent.atomic.AtomicInteger = null,
      requireConvergence: Boolean = true,
      localEdgeThreshold: Long = 1L << 20): DataFrame = {
    val directed = edges.select(srcCol.as("id_a"), dstCol.as("id_b"))
    val longIds = directed.schema.fields.forall(_.dataType == LongType)
    if (longIds && localEdgeThreshold > 0) {
      // One job decides the path; cache so the distributed loop (if taken)
      // reuses the materialized edges rather than recomputing the producer
      // (for near-dup removal that producer is the whole LSH pipeline).
      val dd = directed.persist()
      val n = dd.count()
      if (n <= localEdgeThreshold) {
        val out = localUnionFind(nodes, idCol, dd, rounds)
        dd.unpersist(blocking = false)
        return out
      }
      val out = propagate(nodes, idCol, dd, maxIterations, rounds, requireConvergence)
      dd.unpersist(blocking = false)
      return out
    }
    propagate(nodes, idCol, directed, maxIterations, rounds, requireConvergence)
  }

  /** Fixed-point integer PageRank over a directed link graph — the domain/
    * page authority score corpus-curation pipelines rank crawl frontiers
    * and weight sources by (the Common-Crawl-style harmonic/PageRank
    * ranking slot).
    *
    * All arithmetic is integer: ranks start at `scale`, and each iteration
    * computes `r'(v) = base + damping·(Σ_{u→v} r(u) div outdeg(u)) div
    * 1000` with `base = (1000 − dampingPerMille)·scale div 1000` — floor
    * division throughout, so a SQL oracle replays every intermediate
    * exactly (q145 unrolls the same stages in DuckDB; float PageRank would
    * hash-diverge on summation order). Parallel edges each carry their own
    * contribution; dangling-node mass (outdeg 0) is dropped — the simplest
    * deterministic variant; feed graphs where every node links out (q145's
    * synthetic graph does) when mass conservation matters.
    *
    * Scale posture: outdeg is joined to the edge list ONCE up front and
    * the (src, dst, outdeg) triple cached; each iteration is one
    * edges⋈ranks equi-join + one dst-keyed aggregation — both shuffles on
    * node ids, stable across rounds so AQE coalesces them. Ranks are
    * localCheckpoint'ed per round (constant-size plan at any iteration
    * count — same lineage-truncation contract as the CC loop).
    *
    * @return (id, rank_fp) — the fixed-point rank after `iterations`
    *   rounds; rank_fp/scale is the conventional value. The frame is
    *   backed by the final round's localCheckpoint, so its blocks stay
    *   cached until the frame is unreferenced AND a GC lets the
    *   ContextCleaner reap it — materialize promptly and, in a
    *   long-lived session, release between jobs via
    *   [[graft.core.SessionHygiene.drain]] (shared contract with
    *   [[hits]], [[labelPropagation]] and the CC loop).
    */
  def pageRank(
      nodes: DataFrame, idCol: Column,
      edges: DataFrame, srcCol: Column, dstCol: Column,
      iterations: Int = 5,
      dampingPerMille: Int = 850, scale: Long = 1000000L): DataFrame =
    pageRankWeighted(nodes, idCol,
      edges.select(srcCol.as("__s0"), dstCol.as("__d0")),
      col("__s0"), col("__d0"), lit(1L), iterations, dampingPerMille, scale)

  /** Integer-weighted [[pageRank]]: each edge row carries a multiplicity
    * `w`, outdegree is Σw and the gather term is `w·(rank div Σw)` —
    * BIT-IDENTICAL to running the unweighted recurrence over a multigraph
    * with the edge repeated w times (each duplicate contributes the same
    * `rank div deg`), which is why [[textRank]] can collapse its
    * token-count-sized co-occurrence multiset to a vocabulary²-bounded
    * weighted edge list without touching the oracle. Same scale posture
    * as [[pageRank]] (the unweighted form IS this one with w = 1).
    */
  def pageRankWeighted(
      nodes: DataFrame, idCol: Column,
      edges: DataFrame, srcCol: Column, dstCol: Column, weightCol: Column,
      iterations: Int = 5,
      dampingPerMille: Int = 850, scale: Long = 1000000L,
      compactEdgeLimit: Long = CompactEdgeLimit): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampingPerMille >= 0 && dampingPerMille <= 1000,
      s"dampingPerMille must be in [0, 1000], got $dampingPerMille")
    require(scale % 1000 == 0, "scale must be a multiple of 1000 (exact base)")
    val base = (1000L - dampingPerMille) * scale / 1000L
    val e = edges.select(srcCol.cast("long").as("__src"),
      dstCol.cast("long").as("__dst"), weightCol.cast("long").as("__w"))
    val deg = outDegree(e)
    // Plan gate (the hits() discipline — one bounded limit+count probe,
    // compactEdgeLimit = 0 skips it): small graphs run the whole damped
    // recurrence in the compiled PageRankKernel ([[pageRankCompact]]).
    // The probe frame is the CONTRIBUTING edge set (both endpoints known
    // — edges the loop drops at its rank-join / left-join anyway), each
    // edge carrying its src's FULL outdegree exactly like the loop's
    // degree frame.
    // NOTE the probe re-executes the edge subtree once — callers that
    // already know their size (textRank reads it off its one
    // materializing job) decide themselves and pass compactEdgeLimit = 0.
    if (compactEdgeLimit > 0) {
      val ids = nodes.select(idCol.cast("long").as("id"))
      val eContrib = e
        .join(ids.select(col("id").as("__src")), Seq("__src"), "left_semi")
        .join(ids.select(col("id").as("__dst")), Seq("__dst"), "left_semi")
        .join(deg, Seq("__src"))
      val probeN = math.min(compactEdgeLimit + 1, Int.MaxValue.toLong).toInt
      if (eContrib.limit(probeN).count() <= compactEdgeLimit)
        return pageRankCompact(ids, eContrib, iterations, dampingPerMille, scale)
    }
    val contribEdges = e.join(deg, Seq("__src")).persist()
    var ranks = nodes.select(idCol.cast("long").as("id"))
      .withColumn("rank_fp", lit(scale))
    var persisted: DataFrame = null
    var iter = 0
    while (iter < iterations) {
      val inbound = contribEdges
        .join(ranks.select(col("id").as("__src"), col("rank_fp")), Seq("__src"))
        .groupBy(col("__dst").as("id"))
        .agg(sum(expr("__w * (rank_fp div __deg)")).as("__c"))
      val updated = ranks.select(col("id"))
        .join(inbound, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr(s"$dampingPerMille * coalesce(__c, 0L) div 1000"))
            .as("rank_fp"))
      val cp = updated.localCheckpoint()
      if (persisted != null) persisted.unpersist(blocking = false)
      persisted = cp
      ranks = cp
      iter += 1
    }
    contribEdges.unpersist(blocking = false)
    ranks
  }

  /** The compact branch of [[pageRankWeighted]]: the whole recurrence in
    * one [[graft.functions.PageRankKernel]] call over the collected
    * CONTRIBUTING edges (`__src`, `__dst`, `__w`, `__deg` — both
    * endpoints known nodes, `__deg` the src's FULL weighted outdegree
    * exactly like the loop's degree frame). Nodes outside every edge
    * receive nothing, so they are constant `base` after round 1 and the
    * final left join fills them.
    *
    * @param ids one row per node `id`
    * @return (id, rank_fp)
    */
  private def pageRankCompact(
      ids: DataFrame, eContrib: DataFrame, iterations: Int,
      dampingPerMille: Int, scale: Long): DataFrame = {
    val base = (1000L - dampingPerMille) * scale / 1000L
    val unit = eContrib.agg(collect_list(struct(col("__src"),
      col("__dst"), col("__w"), col("__deg"))).as("__e"))
    val scores = unit.select(explode(
        graft.functions.PageRankKernel.expr(col("__e"),
          lit(iterations), lit(dampingPerMille), lit(scale))).as("__s"))
      .select(col("__s.id").as("id"), col("__s.rank_fp").as("rank_fp"))
    ids.join(scores, Seq("id"), "left")
      .select(col("id"), coalesce(col("rank_fp"), lit(base)).as("rank_fp"))
  }

  /** (`__src`, `__deg`): each src's Σw outdegree over (`__src`, `__dst`,
    * `__w`) edges — the small aggregate both [[pageRankWeighted]] paths
    * join back onto the edge list.
    */
  private def outDegree(e: DataFrame): DataFrame =
    e.groupBy(col("__src")).agg(sum(col("__w")).as("__deg"))

  /** TextRank keyword extraction (Mihalcea & Tarau 2004) — [[pageRank]]
    * composed over the token co-occurrence graph: tokens are nodes,
    * co-occurrence within `window` positions is an (undirected) edge, and
    * the corpus keywords are the top-PageRank tokens. Edge WEIGHTS are
    * edge multiplicity (pageRank's outdegree and gather sum count
    * duplicate edges, which IS integer-weighted PageRank), and the
    * ranking is the q145 integer recurrence — so a SQL oracle unrolls it
    * verbatim. Node ids are the portable 60-bit md5 token hash (the
    * dictionary maps back to strings; a 60-bit collision merges two
    * tokens identically in both engines).
    *
    * Scale posture: the corpus is read and tokenized ONCE. The compiled
    * [[graft.functions.CooccurCells]] kernel turns each document into
    * pre-aggregated (a, b, w) edge cells plus one node cell per distinct
    * token, hashing each distinct token once per document; one
    * aggregation collapses them to the vocabulary²-bounded weighted edge
    * list and the vocabulary-bounded dictionary, and that frame is the
    * operator's ONE materialization (a localCheckpoint). Its row count
    * (edges plus dictionary) picks the rank path and is observed on that
    * same job — no probe job. Up to [[CompactEdgeLimit]] rows, the rank
    * stage is ONE collected row: a narrow `coalesce(1)` (no exchange)
    * gathers the graph into one task, the compiled
    * [[graft.functions.TextRankKernel]] computes the outdegree, the
    * recurrence and every token's score, and an explode feeds the final
    * top-k, a TakeOrdered — so the returned plan runs as one job. The
    * gate bounds every collected row, not only the edges, because the
    * dictionary rides in the same row. Larger graphs run the distributed
    * [[pageRankWeighted]] loop. Each row of `df` is one document.
    *
    * @return (token, rank_fp) — the `topK` highest-ranked tokens,
    *   ties broken by token ascending.
    */
  def textRank(
      df: DataFrame, textCol: Column, window: Int = 2,
      iterations: Int = 3, topK: Int = 20): DataFrame = {
    require(window >= 1 && window <= 8, s"bad window: $window")
    require(topK >= 1, s"bad topK: $topK")
    val (graph, nRows) = checkpointCooccurrence(df, textCol, window)
    rankCooccurrence(graph, nRows, iterations)
      .orderBy(col("rank_fp").desc, col("token").asc)
      .limit(topK)
  }

  /** The corpus co-occurrence graph before materialization: (a, b, token,
    * w) rows — an edge row per distinct (a, b) hash pair (token null, w
    * its corpus multiplicity) and a dictionary row per distinct (a,
    * token) (b and w null). `Parallelism.spread` sits BELOW the kernel
    * so the per-document pass is not pinned to a starved single-split
    * scan.
    */
  private[graft] def cooccurrenceGraph(
      df: DataFrame, textCol: Column, window: Int): DataFrame =
    graft.core.Parallelism.spread(df.select(textCol.as("__text")))
      .select(explode(graft.functions.CooccurCells.expr(
        graft.functions.TextFunctions.tokens(col("__text")), window)).as("__c"))
      .groupBy(col("__c.a").as("a"), col("__c.b").as("b"),
        col("__c.token").as("token"))
      .agg(sum(col("__c.w")).as("w"))

  /** [[cooccurrenceGraph]] materialized by ONE localCheckpoint job, with
    * its row count read off that job: the checkpoint executes `cells`'
    * own physical plan, whose CollectMetrics node accumulates the count
    * (read from the plan directly, so no session-wide Observation
    * listener is installed).
    *
    * @return (the checkpointed graph, its number of rows: edges plus
    *   dictionary)
    */
  private[graft] def checkpointCooccurrence(
      df: DataFrame, textCol: Column, window: Int): (DataFrame, Long) = {
    val cells = cooccurrenceGraph(df, textCol, window)
      .observe("textrank_rows", count(lit(1)).as("rows"))
    val graph = cells.localCheckpoint()
    (graph, cells.queryExecution.observedMetrics("textrank_rows").getLong(0))
  }

  /** (token, rank_fp) for every token of a checkpointed
    * [[cooccurrenceGraph]] of `nRows` rows: up to [[CompactEdgeLimit]]
    * rows the whole graph is collected into one row for the compiled
    * [[graft.functions.TextRankKernel]]; above it the distributed
    * [[pageRankWeighted]] loop runs (no second probe).
    */
  private[graft] def rankCooccurrence(
      graph: DataFrame, nRows: Long, iterations: Int): DataFrame =
    if (nRows <= CompactEdgeLimit)
      graph.coalesce(1)
        .agg(collect_list(struct(col("a"), col("b"), col("w"), col("token")))
          .as("__g"))
        .select(explode(graft.functions.TextRankKernel.expr(col("__g"),
          iterations, 850, 1000000L)).as("__r"))
        .select(col("__r.token").as("token"), col("__r.rank_fp").as("rank_fp"))
    else {
      val dict = graph.filter(col("b").isNull)
        .select(col("token"), col("a").as("id"))
      val e = graph.filter(col("b").isNotNull)
        .select(col("a").as("__src"), col("b").as("__dst"), col("w").as("__w"))
      // node list distinct on the HASH: a (vanishingly rare) 60-bit
      // token collision must not seed two score rows for one node id
      val ids = dict.select(col("id")).distinct()
      dict.join(pageRankWeighted(ids, col("id"), e, col("__src"),
          col("__dst"), col("__w"), iterations, compactEdgeLimit = 0),
          Seq("id"))
        .select(col("token"), col("rank_fp"))
    }

  /** HITS hubs & authorities (Kleinberg 1999) over a directed link graph —
    * PageRank's sibling ranking slot: a page is a good AUTHORITY when good
    * hubs point at it, a good HUB when it points at good authorities.
    * Corpus-curation pipelines use the pair to separate link-directory
    * pages (high hub) from content pages worth crawling deeper (high
    * authority) — a distinction a single PageRank score cannot make.
    *
    * All arithmetic is integer, the q145 discipline: scores start at
    * `scale`; each iteration computes `a'(v) = Σ_{u→v} h(u)` then
    * max-normalizes `a(v) = a'(v)·scale div max(a')` (0 when the max is 0 —
    * a graph with no edges), then the mirrored hub step from the fresh
    * authorities. Max-normalization (not the conventional L2) keeps every
    * intermediate an exact integer, so a SQL oracle unrolls the iterations
    * verbatim (q233); the relative ordering — all HITS gives you — is
    * unchanged. The product `a'·scale` is computed in decimal(38,0):
    * a' ≤ n·scale, so a long product wraps at n ≈ 9·10⁶ nodes while the
    * decimal stays exact to 10³⁸ (HUGEINT on the oracle side).
    *
    * Scale posture: mirrors [[pageRank]] — the edge list is cached once;
    * each half-step is one edges⋈scores equi-join + one keyed sum, both
    * exchanges on node ids, stable across rounds so AQE coalesces them;
    * the normalization max is a single-row aggregate broadcast back.
    * The iterating frames are PARTICIPANTS-ONLY (nodes that received at
    * least one contribution) — a node absent from the scores frame is
    * exactly 0 and contributes nothing to the next gather, so the full
    * node list is joined ONCE at the end to fill zeros, not per
    * half-step. Scores are localCheckpoint'ed per round (constant-size
    * plan at any iteration count).
    *
    * @return (id, hub_fp, auth_fp) — fixed-point scores in [0, scale].
    *   As with [[pageRank]], the frame is backed by the final round's
    *   localCheckpoint (and the two edge copies unpersist non-blocking),
    *   so cached blocks linger until GC + ContextCleaner — materialize
    *   promptly; long-lived sessions release debris via
    *   [[graft.core.SessionHygiene.drain]].
    */
  def hits(
      nodes: DataFrame, idCol: Column,
      edges: DataFrame, srcCol: Column, dstCol: Column,
      iterations: Int = 3, scale: Long = 1000000L,
      compactEdgeLimit: Long = 4000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(scale >= 1L, s"scale must be >= 1: $scale")
    val ids = nodes.select(idCol.cast("long").as("id"))
    // edges restricted to KNOWN endpoints up front (two build-time
    // semi-joins): an edge touching an id outside the node list must not
    // feed the sums or the normalization max — the oracle's per-half-step
    // join against the node table, paid once here instead.
    val e0 = edges.select(srcCol.cast("long").as("__src"),
        dstCol.cast("long").as("__dst"))
      .join(ids.select(col("id").as("__src")), Seq("__src"), "left_semi")
      .join(ids.select(col("id").as("__dst")), Seq("__dst"), "left_semi")
    // Plan gate, decided by ONE bounded probe (limit+count — never a full
    // count of a huge edge list; pass compactEdgeLimit = 0 to skip the
    // probe when the caller knows the graph is large): graphs whose edge
    // list fits a task run the ENTIRE iteration in the compiled
    // HitsKernel — the distributed loop below costs ~60 Spark jobs of
    // pure orchestration (checkpoints, broadcast-max jobs, AQE stages)
    // at bench scale, the kernel ~5. Bit-identical arithmetic, spec- and
    // oracle-pinned (q233).
    val probeN = math.min(compactEdgeLimit + 1, Int.MaxValue.toLong).toInt
    if (compactEdgeLimit > 0 && e0.limit(probeN).count() <= compactEdgeLimit)
      return hitsCompact(ids, e0, iterations, scale)
    // Two pre-partitioned cached copies: the authority gather joins
    // on __src, the hub gather on __dst — partitioning each copy ON ITS
    // JOIN KEY before caching means the (big) edge side exchanges ONCE
    // per key, not once per half-step (2 exchanges total instead of
    // 2·iterations; the 10M-edge receipt measured 3.4 GB → 857 MB).
    // Cost: edges cached twice (MEMORY_AND_DISK, spills, never evicts).
    val eBySrc = e0.repartition(col("__src")).persist()
    val eByDst = e0.repartition(col("__dst")).persist()
    // __raw·scale div max(__raw) with the product widened to decimal(38,0)
    def normalize(raw: DataFrame, out: String): DataFrame = {
      val mx = raw.agg(max(col("__raw")).as("__mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("id"),
          when(col("__mx") > 0,
            expr(s"CAST(__raw AS DECIMAL(38,0)) * $scale div __mx"))
            .otherwise(lit(0L)).as(out))
    }
    // participants-only: nodes with no inbound contribution stay implicit
    // (raw 0 rows change neither the max nor any downstream sum)
    def gather(e: DataFrame, scores: DataFrame, scoreCol: String,
        joinKey: String, groupKey: String): DataFrame =
      e.join(scores.select(col("id").as(joinKey), col(scoreCol)), Seq(joinKey))
        .groupBy(col(groupKey).as("id"))
        .agg(sum(col(scoreCol)).as("__raw"))
    var hubs = ids.withColumn("hub_fp", lit(scale))
    var persisted: DataFrame = null
    (1 to iterations).foreach { _ =>
      // a is checkpointed BEFORE h consumes it — h's plan and the round
      // join would otherwise each re-execute the authority gather
      val a = normalize(gather(eBySrc, hubs, "hub_fp", "__src", "__dst"),
        "auth_fp").localCheckpoint()
      val h = normalize(gather(eByDst, a, "auth_fp", "__dst", "__src"),
        "hub_fp")
      // hub-only and authority-only nodes both survive the round (full
      // join), zero-filled so the next gather sums exact integers
      val cp = h.join(a, Seq("id"), "full")
        .select(col("id"), coalesce(col("hub_fp"), lit(0L)).as("hub_fp"),
          coalesce(col("auth_fp"), lit(0L)).as("auth_fp"))
        .localCheckpoint()
      a.unpersist(blocking = false)
      if (persisted != null) persisted.unpersist(blocking = false)
      persisted = cp
      hubs = cp
    }
    eBySrc.unpersist(blocking = false)
    eByDst.unpersist(blocking = false)
    ids.join(hubs, Seq("id"), "left")
      .select(col("id"), coalesce(col("hub_fp"), lit(0L)).as("hub_fp"),
        coalesce(col("auth_fp"), lit(0L)).as("auth_fp"))
  }

  /** Small-graph HITS: the whole iteration in one [[graft.functions
    * .HitsKernel]] call over the collected (already semi-joined) edge
    * array. The kernel's node set is the edge ENDPOINTS (== the
    * distributed loop's participants — every non-participant is exactly
    * 0 there too); the full node list joins once at the end for the
    * zero-fill, so the NODE count never gates the compact path, only
    * the edge count does. The scores side is ≤ 2·compactEdgeLimit rows
    * — AQE broadcasts it into the final join.
    */
  private def hitsCompact(
      ids: DataFrame, e0: DataFrame, iterations: Int,
      scale: Long): DataFrame = {
    val unit = e0.agg(
      collect_list(struct(col("__src"), col("__dst"))).as("__edges"))
    val endpoints = concat(
      transform(col("__edges"), e => e.getField("__src")),
      transform(col("__edges"), e => e.getField("__dst")))
    val scores = unit.select(explode(
        graft.functions.HitsKernel.expr(endpoints, col("__edges"),
          lit(iterations), lit(scale))).as("__s"))
      .select(col("__s.id").as("id"), col("__s.hub_fp").as("hub_fp"),
        col("__s.auth_fp").as("auth_fp"))
    ids.join(scores, Seq("id"), "left")
      .select(col("id"), coalesce(col("hub_fp"), lit(0L)).as("hub_fp"),
        coalesce(col("auth_fp"), lit(0L)).as("auth_fp"))
  }

  /** Driver-side union-find over a bounded, collected edge set. Memory is
    * bounded by the caller's `localEdgeThreshold` (16 bytes of ids per
    * pair + map overhead); the result ships back as ONE broadcast join —
    * nodes absent from every edge keep comp = id via the coalesce.
    */
  private def localUnionFind(
      nodes: DataFrame, idCol: Column, directed: DataFrame,
      rounds: java.util.concurrent.atomic.AtomicInteger): DataFrame = {
    val spark = nodes.sparkSession
    // null-id edges (e.g. from an outer-join edge builder) are dropped,
    // matching the distributed path where the equi-join never matches them
    val pairs = directed
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
      .distinct().collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      // path compression
      var c = x
      while (parent.getOrDefault(c, c) != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    pairs.foreach { p =>
      val a = p.getLong(0); val b = p.getLong(1)
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    // min id per root, then id → min label rows (the max→min union rule
    // already makes every root its component's minimum; this pass keeps
    // that invariant explicit rather than depended-upon)
    val minOf = new java.util.HashMap[Long, Long]()
    val ids = parent.keySet().toArray(Array.empty[java.lang.Long])
    ids.foreach { boxed =>
      val id = boxed.longValue()
      val r = find(id)
      if (!minOf.containsKey(r) || id < minOf.get(r)) minOf.put(r, id)
    }
    val labelRows = new java.util.ArrayList[Row](ids.length)
    ids.foreach { boxed =>
      val id = boxed.longValue()
      labelRows.add(Row(id, minOf.get(find(id)).longValue()))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("comp", LongType, nullable = false)))
    val labelDf = spark.createDataFrame(labelRows, schema)
    if (rounds != null) rounds.set(0)
    // localCheckpoint matches the distributed path's contract: the
    // returned labels are MATERIALIZED and lineage-free, so callers may
    // drop/unpersist the node and edge inputs immediately (near-dup
    // removal unpersists its LSH pair cache on return — without the
    // truncation the final survivor join would silently re-run the whole
    // LSH pipeline to rebuild the node side).
    nodes.select(idCol.as("id"))
      .join(broadcast(labelDf.withColumnRenamed("comp", "__comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__comp"), col("id")).as("comp"))
      .localCheckpoint()
  }

  /** The distributed min-label propagation loop (see object scaladoc). */
  private def propagate(
      nodes: DataFrame, idCol: Column, directed: DataFrame,
      maxIterations: Int,
      rounds: java.util.concurrent.atomic.AtomicInteger,
      requireConvergence: Boolean): DataFrame = {
    val bidir = directed
      .unionByName(directed.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .persist()
    var labels = nodes.select(idCol.as("id")).withColumn("comp", col("id"))
    var persisted: DataFrame = null // the one round checkpoint currently held
    var iter = 0
    var changed = 1L
    while (iter < maxIterations && changed > 0) {
      val neighborMin = bidir
        .join(labels.withColumnRenamed("id", "id_b").withColumnRenamed("comp", "n_comp"),
          Seq("id_b"))
        .groupBy(col("id_a").as("id"))
        .agg(min(col("n_comp")).as("min_n_comp"))
      val updated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("min_n_comp"), col("comp"))).as("comp"),
          (col("min_n_comp") < col("comp")).as("__changed"))
      // localCheckpoint (eager), not persist: `labels` appears TWICE in
      // each round's plan, so without lineage truncation the logical plan
      // DOUBLES per round — by round ~20 even the explain string OOMs the
      // driver. Truncating per round keeps the plan constant-size at any
      // diameter; blocks release via ContextCleaner once unreferenced.
      val cp = updated.localCheckpoint()
      changed = cp.filter(col("__changed")).count()
      if (persisted != null) persisted.unpersist(blocking = false)
      persisted = cp
      labels = cp.drop("__changed")
      iter += 1
    }
    if (rounds != null) rounds.set(iter)
    if (changed > 0) {
      val msg =
        s"connectedComponents: min-label propagation still moving after " +
          s"$maxIterations iterations ($changed labels changed) — a component " +
          s"with diameter > $maxIterations exists; raise maxIterations"
      if (requireConvergence) {
        if (persisted != null) persisted.unpersist(blocking = false)
        bidir.unpersist(blocking = false)
        throw new IllegalStateException(msg)
      }
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    bidir.unpersist()
    // `labels` is the final round's checkpoint — lineage already truncated,
    // so callers hold a constant-size plan; the last round's blocks stay
    // until the returned frame is unreferenced (ContextCleaner).
    labels
  }

  /** Synchronous label propagation for community detection: labels start
    * as the node id; each round every node adopts the MODE of its
    * neighbors' labels (ties → smallest label; isolated nodes keep their
    * own). A fixed round count keeps the computation deterministic and
    * oracle-unrollable (the q145 PageRank discipline) — classic LPA's
    * random asynchronous order is irreproducible by design.
    *
    * Per round: one edges⋈labels equi-join + a (node, label) count agg +
    * a keyed keep-first window — all exchanges on node ids, labels
    * checkpointed each round so the plan stays constant-size.
    */
  def labelPropagation(
      nodes: DataFrame, idCol: Column,
      edges: DataFrame, srcCol: Column, dstCol: Column,
      rounds: Int, compactEdgeLimit: Long = 4000000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    import org.apache.spark.sql.expressions.Window
    // Plan gate (the hits()/pageRankWeighted() discipline): small graphs
    // run every round in the compiled LabelPropKernel. An edge with
    // EITHER endpoint outside the node list contributes nothing to any
    // known node in the loop (its label row never joins / its adopted
    // row is dropped), so the kernel reads the endpoint-semi-joined
    // canonical edge set; nodes outside every kept edge keep their own
    // label via the final coalesce.
    if (compactEdgeLimit > 0) {
      val ids = nodes.select(idCol.cast("long").as("id"))
      val eKnown = canonicalUndirected(edges, srcCol, dstCol)
        .join(ids.select(col("id").as("u")), Seq("u"), "left_semi")
        .join(ids.select(col("id").as("v")), Seq("v"), "left_semi")
      val probeN = math.min(compactEdgeLimit + 1, Int.MaxValue.toLong).toInt
      if (eKnown.limit(probeN).count() <= compactEdgeLimit) {
        val unit = eKnown.agg(
          collect_list(struct(col("u"), col("v"))).as("__e"))
        val lab = unit.select(explode(
            graft.functions.LabelPropKernel.expr(col("__e"), lit(rounds)))
            .as("__s"))
          .select(col("__s.id").as("id"), col("__s.label").as("__lab"))
        return ids.join(lab, Seq("id"), "left")
          .select(col("id"), coalesce(col("__lab"), col("id")).as("label"))
      }
    }
    val canon = canonicalUndirected(edges, srcCol, dstCol).persist()
    val bidir = canon.select(col("u").as("n"), col("v").as("nb"))
      .unionAll(canon.select(col("v").as("n"), col("u").as("nb")))
    var labels = nodes.select(idCol.as("id"), idCol.as("label"))
    // pageRank's checkpoint discipline: each round frees its predecessor
    var persisted: DataFrame = null
    (1 to rounds).foreach { _ =>
      val neigh = bidir
        .join(labels.select(col("id").as("nb"), col("label")), "nb")
        .groupBy(col("n"), col("label")).agg(count(lit(1)).as("cnt"))
      val pick = Window.partitionBy(col("n"))
        .orderBy(col("cnt").desc, col("label").asc)
      val adopted = neigh
        .withColumn("__rk", row_number().over(pick))
        .filter(col("__rk") === 1)
        .select(col("n").as("id"), col("label").as("__new"))
      val cp = labels.join(adopted, Seq("id"), "left")
        .select(col("id"), coalesce(col("__new"), col("label")).as("label"))
        .localCheckpoint()
      if (persisted != null) persisted.unpersist(blocking = false)
      persisted = cp
      labels = cp
    }
    canon.unpersist(blocking = false)
    labels
  }

  /** Canonical undirected edge set: self-loops dropped, one row per
    * unordered pair as (u, v) with u < v — the normalization both
    * [[labelPropagation]] and [[triangleCount]] start from.
    */
  private def canonicalUndirected(
      edges: DataFrame, srcCol: Column, dstCol: Column): DataFrame =
    edges
      .select(srcCol.as("a"), dstCol.as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()

  /** Exact per-vertex triangle counts by degree-ordered edge orientation
    * (the node-iterator++ scheme): every undirected edge points from its
    * lower-(degree, id) endpoint to the higher one, wedges form only at
    * the LOW-ordered corner, and a wedge (v, w) closes through the single
    * possible oriented edge v→w.
    *
    * Why this survives scale where the naive 3-way self-join dies: after
    * orientation, out-degree is O(√m) for ANY degree distribution (a
    * vertex with out-degree d has d neighbors of degree ≥ d, so
    * d² ≤ 2m) — the wedge join's fan-out is bounded by out-degree², i.e.
    * O(m^1.5) total work, the sequential-optimal bound, with NO hub
    * blow-up: a celebrity node with 10⁷ followers contributes wedges
    * only through its (rare) higher-ordered neighbors. All three stages
    * are key-equi joins on vertex ids — shuffle-partitioned, AQE-skew
    * safe, no driver state.
    *
    * @return (vertex, n_tri) for every vertex in at least one triangle;
    *   Σ n_tri = 3 × triangle count
    */
  def triangleCount(
      edges: DataFrame, srcCol: Column, dstCol: Column): DataFrame = {
    val canon = canonicalUndirected(edges, srcCol, dstCol)
    val deg = canon.select(col("u").as("x"))
      .unionAll(canon.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("dg"))
    val withDeg = canon
      .join(deg.select(col("x").as("u"), col("dg").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("dg").as("dv")), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("s"),
      when(uFirst, col("v")).otherwise(col("u")).as("t"),
      when(uFirst, col("dv")).otherwise(col("du")).as("td"))
    // wedges at the low corner, ordered so each triangle forms once
    val o1 = oriented.select(col("s"), col("t").as("t1"), col("td").as("d1"))
    val o2 = oriented.select(col("s"), col("t").as("t2"), col("td").as("d2"))
    val wedges = o1.join(o2, "s")
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("t1") < col("t2")))
    val triangles = wedges
      .join(oriented.select(col("s").as("t1"), col("t").as("t2")),
        Seq("t1", "t2"), "left_semi")
      .select(col("s"), col("t1"), col("t2"))
    triangles
      .select(explode(array(col("s"), col("t1"), col("t2"))).as("vertex"))
      .groupBy(col("vertex")).agg(count(lit(1)).as("n_tri"))
  }
}
