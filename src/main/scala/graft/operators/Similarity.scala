package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`) — the
  * engine's ANN extension (BASELINE.json north star; the reference's
  * nearest analog is the external rerank model, retrieve.py:183-232).
  *
  * Two tiers:
  *  - `cosineTopK`: brute-force exact top-k. The query side is broadcast
  *    (queries ≪ candidates), so the candidate scan is embarrassingly
  *    parallel with NO shuffle until the final per-query top-k window over
  *    |queries|·k rows. This is the right plan up to ~10^9 candidates ·
  *    small query batches on a real cluster.
  *  - `ivfTopK`: IVF-style pruning — k-means-ish centroid assignment done
  *    as "nearest of C fixed probe vectors" (deterministic, data-independent
  *    probes; a trained codebook would be swapped in the same shape).
  *    Candidates are bucketed once; each query probes only `nprobe`
  *    buckets, cutting the scanned fraction to nprobe/C.
  *
  * Dot products are expression-only (`aggregate`/`zip_with` in double
  * precision, left-to-right — deterministic and oracle-reproducible).
  */
object Similarity {

  /** Double-precision sequential dot product of two float arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * @param queries    (queryIdCol, queryVecCol) — small, broadcast
    * @param candidates (candIdCol, candVecCol)
    */
  def cosineTopK(
      queries: DataFrame, queryId: String, queryVec: String,
      candidates: DataFrame, candId: String, candVec: String,
      k: Int, excludeSelf: Boolean = true,
      rankCol: Option[String] = None): DataFrame = {
    // spread() the candidate side (r14): the embeddings fixture is one
    // parquet row group = ONE scan task, so the |q|·|cand| cosine loop ran
    // on one core (q171's 8v32 scaling ratio was 0.9 — pure serial);
    // pass-through on properly split inputs (data-adaptive, guide §2.5)
    val crossed = graft.core.Parallelism.spread(candidates)
      .join(broadcast(queries), if (excludeSelf) queries(queryId) =!= candidates(candId) else lit(true))
      .select(
        queries(queryId).as("query_id"),
        candidates(candId).as("cand_id"),
        graft.functions.CosineSim.cosineSim(queries.sparkSession,
          queries(queryVec), candidates(candVec)).as("cos"))
    Ranking.topKPerGroup(
      crossed, Seq(col("query_id")),
      Seq(col("cos").desc, col("cand_id").asc), k, rankCol)
  }

  /** Exact pairwise cosine near-dup pairs over one vector set. Quadratic —
    * bound the input (or block via ivfBucket/LSH first) at scale; this is
    * the VERIFY stage of embedding dedup, mirroring Dedup.ngramJaccardPairs.
    */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val e = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        graft.functions.CosineSim.cosineSim(df.sparkSession,
          col("a.v"), col("b.v")).as("c"))
      .filter(col("c") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("c"), 4).as("cos"))
  }

  /** Train an IVF codebook: deterministic seeding (first `nCentroids`
    * vectors by id — NOT a global sort: a terminal sort+limit plans as
    * `TakeOrderedAndProject`, a per-partition bounded top-C merged on
    * the driver; spec-pinned in DedupSimilaritySpec so a regression to a
    * full Sort+Exchange fails loud) + Lloyd refinement iterations run
    * DISTRIBUTED (assign = narrow pass, new centroids = one hash agg);
    * only the C centroid vectors ever reach the driver. At 100 TB you
    * train on a sample the same way — the codebook is dimension-bounded
    * state, not data-bounded. (Seeding deliberately differs from
    * [[seedCentroids]]'s hash-pick: measured on the sf0.001 embeddings,
    * hash-picked seeds converge to a ~0.33-recall local optimum at
    * nprobe=1 regardless of iteration count, id-order seeds to ~0.6 —
    * Lloyd keeps whatever basin the seeds start in, so the seeding rule
    * is part of the trained contract, not an implementation detail.)
    */
  def trainIvf(
      candidates: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, iterations: Int = 2): Seq[Seq[Double]] = {
    def normalize(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    var centroids: Seq[Seq[Double]] = candidates
      .orderBy(col(idCol)).limit(nCentroids)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
      .map(normalize)
    (0 until iterations).foreach { _ =>
      val assigned = candidates.withColumn(
        "__b", ivfBucket(col(vecCol), centroids))
      val means = assigned.groupBy(col("__b"))
        .agg(array((0 until centroids.head.length).map(d =>
          avg(element_at(col(vecCol), d + 1).cast("double"))): _*).as("m"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
      centroids = centroids.indices.map(c => normalize(means.getOrElse(c, centroids(c))))
    }
    centroids
  }

  /** Column for the compiled probe (graft.functions.IvfBuckets). */
  private def ivfBucketsCol(vec: Column, centroids: Seq[Seq[Double]], nprobe: Int): Column =
    GraftColumnBridge.column(
      graft.functions.IvfBuckets(GraftColumnBridge.expression(vec), centroids, nprobe))

  /** Nearest-centroid bucket id (centroids pre-normalized → dot = cosine). */
  def ivfBucket(vec: Column, centroids: Seq[Seq[Double]]): Column =
    element_at(ivfBucketsCol(vec, centroids, 1), 1)

  /** The query side's `nprobe` best buckets (multi-probe recall boost). */
  def ivfProbeBuckets(vec: Column, centroids: Seq[Seq[Double]], nprobe: Int): Column =
    ivfBucketsCol(vec, centroids, nprobe)

  /** Seeded IVF codebook WITHOUT Lloyd refinement: the `nCentroids`
    * candidate vectors ranked first by the portable Fibonacci hash of their
    * id (Sampling.hashBucket — q78's pick rule), L2-normalized. A pure
    * arithmetic function of (id, embedding), so an IVF query built on it is
    * fully oracle-checkable (q47) — Lloyd refinement keeps its own
    * recall-vs-brute-force spec gate (`trainIvf`): iterative float means
    * are not portably bit-stable, codebook SELECTION is.
    *
    * Only the C seed vectors reach the driver (dimension-bounded state);
    * the pick itself is a distributed top-C (TakeOrderedAndProject).
    */
  def seedCentroids(
      candidates: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int): Seq[Seq[Double]] = {
    def normalize(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val seeds = candidates
      .withColumn("__bk", Sampling.hashBucket(col(idCol), 1048576))
      .orderBy(col("__bk"), col(idCol))
      .limit(nCentroids)
      .select(col(vecCol)).collect()
      .map(r => normalize(r.getSeq[Float](0).map(_.toDouble).toSeq)).toSeq
    require(seeds.nonEmpty,
      s"seedCentroids: candidate set is empty — cannot seed $nCentroids centroids")
    seeds
  }

  /** Fixed-point Lloyd refinement — the PORTABLE trained codebook
    * (r3 verdict follow-up): the float-sum nondeterminism of `trainIvf`'s
    * `avg()` update is replaced by an exact integer aggregation, so the
    * whole training run is a deterministic function of (id, embedding)
    * that a SQL oracle reproduces value-for-value (q94):
    *
    *  - seeds = `seedCentroids` (portable Fibonacci-hash pick);
    *  - assignment = compiled argmax-dot probe (ties → highest index, the
    *    oracle's `ORDER BY dot DESC, cix DESC`);
    *  - per-bucket mean: Σ floor(v[d]·scale) as BIGINT — exact and
    *    partition-order-invariant — then one correctly-rounded double
    *    divide by (scale·n); empty buckets keep their previous centroid;
    *  - re-normalization in doubles (IEEE sqrt/divide are exactly-rounded,
    *    hence portable).
    *
    * Distribution shape is `trainIvf`'s: assign = narrow compiled pass,
    * update = one hash agg of C×dim longs; only the codebook (dimension-
    * bounded state) reaches the driver.
    */
  def trainIvfFixedPoint(
      candidates: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, iterations: Int = 1, scale: Double = 1e6): Seq[Seq[Double]] = {
    def normalize(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    var centroids = seedCentroids(candidates, idCol, vecCol, nCentroids)
    val dim = centroids.head.length
    (0 until iterations).foreach { _ =>
      val sums = (0 until dim).map(d =>
        sum(floor(element_at(col(vecCol), d + 1).cast("double") * scale)
          .cast("long")).as(s"s$d"))
      val rows = candidates
        .withColumn("__b", ivfBucket(col(vecCol), centroids))
        .groupBy(col("__b"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      val byBucket = rows.map(r => r.getInt(0) -> r).toMap
      centroids = centroids.indices.map { c =>
        byBucket.get(c) match {
          case Some(r) =>
            val n = r.getLong(1).toDouble
            normalize((0 until dim).map(d => r.getLong(d + 2).toDouble / (scale * n)))
          case None => centroids(c)
        }
      }
    }
    centroids
  }

  /** `ivfTopK` with the fixed-point TRAINED codebook — same probe/score
    * shape as [[ivfTopKSeeded]], hash-comparable output (q94).
    */
  def ivfTopKTrained(
      queries: DataFrame, queryId: String, queryVec: String,
      candidates: DataFrame, candId: String, candVec: String,
      k: Int, dim: Int, nCentroids: Int = 8, nprobe: Int = 2,
      iterations: Int = 1): DataFrame =
    ivfTopKWith(
      trainIvfFixedPoint(candidates, candId, candVec, nCentroids, iterations),
      queries, queryId, queryVec, candidates, candId, candVec,
      k, dim, nprobe, rankCol = Some("rnk"), roundCos = true)

  /** Shared IVF probe/score/top-k shape: candidates bucketed once by
    * nearest centroid, queries probe their `nprobe` best buckets, scores
    * via the compiled cosine kernel, per-query top-k window. All three
    * codebook flavors (seeded / fixed-point-trained / float-trained) call
    * this, so the probe semantics can never diverge between their oracles.
    */
  private def ivfTopKWith(
      centroids: Seq[Seq[Double]],
      queries: DataFrame, queryId: String, queryVec: String,
      candidates: DataFrame, candId: String, candVec: String,
      k: Int, dim: Int, nprobe: Int, rankCol: Option[String],
      roundCos: Boolean): DataFrame = {
    require(centroids.head.length == dim,
      s"embedding width ${centroids.head.length} != declared dim $dim")
    val qb = queries.withColumn("__bucket",
      explode(ivfProbeBuckets(col(queryVec), centroids, nprobe)))
    val cb = candidates.withColumn("__bucket", ivfBucket(col(candVec), centroids))
    val scored = cb.join(broadcast(qb), Seq("__bucket"))
      .filter(qb(queryId) =!= cb(candId))
      .select(
        qb(queryId).as("query_id"),
        cb(candId).as("cand_id"),
        graft.functions.CosineSim.cosineSim(queries.sparkSession,
          qb(queryVec), cb(candVec)).as("cos"))
    val topk = Ranking.topKPerGroup(
      scored, Seq(col("query_id")),
      Seq(col("cos").desc, col("cand_id").asc), k, rankCol)
    if (roundCos) topk.withColumn("cos", round(col("cos"), 4)) else topk
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * k-means clustering + WITHIN-cluster cosine pruning — the scale path
    * for embedding near-dup ([[cosinePairs]] is its all-pairs verify-stage
    * sibling, q56). Docs land in their nearest-centroid cluster (compiled
    * argmax probe, narrow pass); candidate pairs exist only inside a
    * cluster, so the quadratic is (N/C)² per cluster instead of N² — at
    * 100 TB you scale C with the corpus (C ≈ N/targetClusterSize) and the
    * equi-join on cluster id shuffles each vector once.
    *
    * Keep rule: within every cosine-≥-threshold pair the LOWER id
    * survives (deterministic stand-in for the paper's keep-closest-to-
    * centroid, which float-ties across engines); removal is transitive in
    * the greedy sense — any vector paired with a lower id goes.
    *
    * Seeded (portable) codebook → fully oracle-checkable (q114); swap in
    * [[trainIvfFixedPoint]] for a trained one, same shape.
    */
  def semDeDup(
      df: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, threshold: Double): DataFrame = {
    val centroids = seedCentroids(df, idCol, vecCol, nCentroids)
    val b = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cluster", ivfBucket(col("v"), centroids))
    val removed = b.as("a").join(b.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .filter(graft.functions.CosineSim.cosineSim(df.sparkSession,
        col("a.v"), col("b.v")) >= threshold)
      .select(col("b.id").as("id"))
      .distinct()
    b.join(removed, Seq("id"), "left_anti")
      .select(col("id"), col("cluster"))
  }

  /** Cluster assignment-margin audit over the seeded codebook — the
    * "how confident is the IVF routing" statistic: per vector, the gap
    * between its best and second-best centroid dot; small margins mark
    * boundary vectors (exactly the ones a low `nprobe` mis-routes, so
    * the margin distribution is the data-driven way to size nprobe).
    * Entirely on the integer surface: vectors AND the seeded centroids
    * are milli-quantized (PqOps.quantize — the q166/q215 contract)
    * BEFORE the dots, assignment = argmax quantized dot with ties to
    * the HIGHEST centroid index (the q114 oracle convention), margins
    * are plain longs (milli² dot units), and the per-cluster mean
    * micro-rounds once. Mis-dimensioned/null vectors are excluded
    * (fail-visible: they would otherwise bucket with the zero vector).
    *
    * Scale posture: one narrow compiled projection per vector (C
    * quantized centroids ride the plan as literals) + one
    * cluster-keyed aggregation; nothing else touches row weight.
    *
    * @return (cluster, n, mean_margin, min_margin, max_margin) —
    *         margin units are milli²-dot (divide by 1e6 for the
    *         unit-sphere scale)
    */
  def assignmentMargin(df: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, dim: Int): DataFrame = {
    require(nCentroids >= 2, s"need >= 2 centroids, got $nCentroids")
    val qcs: Seq[Seq[Long]] =
      seedCentroids(df, idCol, vecCol, nCentroids)
        .map(_.map(graft.functions.PqOps.quantize))
    // spread() below the quantize (r14): the single-row-group embeddings
    // fixture plans ONE scan task, serializing the per-row nCentroids
    // dot-product folds; pass-through on properly split inputs
    val base = graft.core.Parallelism.spread(df
        .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
        .select(col(idCol).as("id"), col(vecCol).as("__v")))
      .select(col("id"),
        graft.functions.PqOps.quantizeCol(col("__v")).as("__qv"))
    val dots: Seq[Column] = qcs.map { qc =>
      aggregate(
        zip_with(col("__qv"), typedLit(qc), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x)
    }
    val dotArr = array(dots: _*)
    // argmax with ties to the highest index: fold keeps >= winners
    val bestIdx = aggregate(
      sequence(lit(0), lit(nCentroids - 1)),
      struct(lit(-1).as("i"), lit(Long.MinValue).as("v")),
      (acc, i) => when(element_at(dotArr, i + 1) >= acc("v"),
        struct(i.as("i"), element_at(dotArr, i + 1).as("v")))
        .otherwise(acc))
    val scored = base.withColumn("__best", bestIdx)
      .select(col("id"), col("__best.i").as("cluster"),
        col("__best.v").as("__own"),
        aggregate(
          sequence(lit(0), lit(nCentroids - 1)),
          lit(Long.MinValue),
          (acc, i) => when(i === col("__best.i"), acc)
            .otherwise(greatest(acc,
              element_at(dotArr, i + 1).cast("long"))))
          .as("__second"))
    scored
      .select(col("cluster"), (col("__own") - col("__second")).as("__m"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), sum(col("__m")).as("__sm"),
        min(col("__m")).as("min_margin"), max(col("__m")).as("max_margin"))
      .select(col("cluster"), col("n"),
        (EvalMetrics.microRound6(col("__sm"), col("n")).cast("double")
          / 1e6).as("mean_margin"),
        col("min_margin"), col("max_margin"))
  }

  /** `ivfTopK` with the seeded (portable, oracle-checkable) codebook.
    * Adds a rank column and 4-decimal rounding so the output is directly
    * hash-comparable.
    */
  def ivfTopKSeeded(
      queries: DataFrame, queryId: String, queryVec: String,
      candidates: DataFrame, candId: String, candVec: String,
      k: Int, dim: Int, nCentroids: Int = 8, nprobe: Int = 2): DataFrame =
    ivfTopKWith(
      seedCentroids(candidates, candId, candVec, nCentroids),
      queries, queryId, queryVec, candidates, candId, candVec,
      k, dim, nprobe, rankCol = Some("rnk"), roundCos = true)

  /** Cluster-balanced (diversity) sampling — the DCLM/SemDeDup-shaped
    * selection step: assign every vector to its nearest seeded centroid,
    * then keep `k` per cluster in deterministic hash order
    * ([[Sampling.kPerGroup]]), so the sample spans embedding space instead
    * of mirroring the corpus' density. Seeded codebook → the whole pick is
    * a pure function of (id, embedding), fully oracle-replayable (q139);
    * swap in [[trainIvfFixedPoint]] centroids for a trained pick.
    *
    * Scale: assignment is a narrow compiled projection (C centroid vectors
    * ride the plan); the per-cluster cap compiles to WindowGroupLimit, so
    * only ~k·C rows survive the single exchange.
    */
  def clusterBalancedSample(
      df: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, k: Int): DataFrame = {
    val cents = seedCentroids(df, idCol, vecCol, nCentroids)
    val assigned = df.withColumn("cluster",
      ivfBucket(col(vecCol), cents).cast("int"))
    Sampling.kPerGroup(assigned, Seq(col("cluster")), col(idCol), k)
  }

  /** Seeded product-quantization sub-codebooks: the same portable
    * Fibonacci-hash seed pick as [[seedCentroids]], but RAW (PQ quantizes
    * unnormalized subvectors) and milli-quantized to integers
    * (`PqOps.quantize`) so every downstream distance is an exact BIGINT
    * the q150 oracle replays. Returns m tables of ks centroids of
    * dim/m longs: codebooks(j)(c) = coordinates of centroid c in
    * subspace j.
    */
  /** The shared Fibonacci-hash seed pick: the first `n` rows in
    * (hashBucket(id, 2²⁰), id) order, as raw double vectors. One collect
    * serves every codebook derivation (coarse centroids AND PQ
    * sub-codebooks slice the same prefix — ivfPqTopK collects once).
    * Null vectors in the seed window fail with a diagnostic instead of a
    * bare NPE.
    */
  private def seedRows(
      candidates: DataFrame, idCol: String, vecCol: String,
      n: Int, dim: Int = 0): Seq[Seq[Double]] = {
    // un-indexable rows (null / wrong-dimension vectors) are not seed
    // material: they cannot be encoded either, so skipping them keeps
    // seeding total instead of NPE-ing on a stray null embedding.
    // dim = 0 skips the width check (seedCentroids' callers don't pass
    // one — the pre-existing contract)
    val indexable = if (dim > 0)
      candidates.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
    else candidates.filter(col(vecCol).isNotNull)
    indexable
      .withColumn("__bk", Sampling.hashBucket(col(idCol), 1048576))
      .orderBy(col("__bk"), col(idCol))
      .limit(n)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
  }

  /** Slice + milli-quantize raw seed vectors into PQ sub-codebooks. */
  private def pqCodebooksFromSeeds(
      seeds: Seq[Seq[Double]], m: Int, ks: Int, dim: Int): Seq[Seq[Seq[Long]]] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    require(seeds.length >= ks,
      s"pqCodebooks: needed $ks seed vectors, only ${seeds.length} available")
    val q = seeds.take(ks).map(_.map(graft.functions.PqOps.quantize))
    (0 until m).map(j => q.map(_.slice(j * subDim, (j + 1) * subDim)))
  }

  def pqCodebooks(
      candidates: DataFrame, idCol: String, vecCol: String,
      m: Int, ks: Int, dim: Int): Seq[Seq[Seq[Long]]] =
    pqCodebooksFromSeeds(seedRows(candidates, idCol, vecCol, ks, dim), m, ks, dim)

  /** PQ top-k (Jégou et al. 2011): candidates compress to m-byte-ish code
    * arrays via a compiled [[graft.functions.PqEncode]] projection; each
    * (query, candidate) pair scores with ADC
    * ([[graft.functions.PqAdcDist]]) — distance to the candidate's
    * RECONSTRUCTION, never its raw floats.
    *
    * Scale posture: this is the ANN memory path — the corpus side of the
    * join carries (id, m codes) ≈ a few bytes per vector instead of
    * dim×4 float bytes (64-dim → 8 codes is a 32× cut), which is what
    * lets a 100 TB embedding corpus live in executor RAM for scanning;
    * queries broadcast; top-k compiles to WindowGroupLimit. Integer
    * distances make rankings bit-portable (ties to lower cand_id).
    *
    * @return (query_id, cand_id, rnk, dist_fp) — approximate-distance
    *   ascending top-k per query, self-pairs excluded.
    */
  def pqTopK(
      queries: DataFrame, queryId: String, queryVec: String,
      candidates: DataFrame, candId: String, candVec: String,
      k: Int, dim: Int, m: Int = 8, ks: Int = 16): DataFrame = {
    val cb = pqCodebooks(candidates, candId, candVec, m, ks, dim)
    // The encoded index is PERSISTED for the scan: without the barrier,
    // ProjectCollapse folds the PqEncode projection into the post-join
    // pair projection and every candidate re-encodes once PER QUERY — a
    // 20-query scan paid 20 encode passes (measured: the whole top-k ran
    // at encode-cost × queries). Persisting codes is also the real PQ
    // contract — the index is built once and scanned many times.
    // localCheckpoint, not persist: the columnar cache re-decodes the
    // array<int> codes per scan, costing a good fraction of the ADC loop
    // itself; checkpoint blocks rescan as raw unsafe rows
    val encoded = candidates.select(col(candId).as("cand_id"),
      graft.functions.PqEncode.expr(col(candVec), cb).as("__codes"))
      .localCheckpoint()
    // quantize the query ONCE per query row, before the broadcast join —
    // leaving the transform in the post-join projection would re-run it
    // per (query, candidate) pair
    val q = queries.select(col(queryId).as("query_id"),
      graft.functions.PqOps.quantizeCol(col(queryVec)).as("__qq"))
    val scored = encoded
      .join(broadcast(q), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        graft.functions.PqAdcDist.exprQuantized(col("__qq"), col("__codes"), cb)
          .as("dist_fp"))
      // dist_fp.asc is NULLS FIRST: an unencodable candidate (null or
      // wrong-dim vector → null codes → null dist) would otherwise take
      // rank 1 for every query; drop it like cosineTopK's desc order does
      .filter(col("dist_fp").isNotNull)
    val topk = Ranking.topKPerGroup(scored, Seq(col("query_id")),
        Seq(col("dist_fp").asc, col("cand_id").asc), k, rankCol = Some("rnk"))
      .select(col("query_id"), col("cand_id"), col("rnk"), col("dist_fp"))
      // eager, lineage-free result (queries×k rows) so the encoded
      // blocks release once unreferenced — the connectedComponents
      // contract
      .localCheckpoint()
    topk
  }

  /** IVF+PQ: the full FAISS-style index shape — coarse IVF buckets prune
    * the scan to ≈ nprobe/nCentroids of the corpus, and WITHIN the probed
    * buckets candidates are PQ codes scored by exact-integer ADC
    * ([[pqTopK]]'s kernels). The scan side carries
    * (id, bucket, m codes) — both the compute cut (bucket pruning) and
    * the 32× memory cut (codes) at once, which is the production
    * trillion-vector layout. The bucket equi-join replaces pqTopK's
    * broadcast nested-loop pairing, so the pair stream is bounded by
    * bucket occupancy, not |corpus|×|queries|.
    *
    * Same recall caveat as IVF: a true neighbor in an unprobed bucket is
    * missed (raise nprobe), and PQ distances are reconstruction
    * distances. Fully deterministic: seeded coarse centroids + seeded
    * sub-codebooks + integer ADC (q151's oracle replays all three).
    */
  def ivfPqTopK(
      queries: DataFrame, queryId: String, queryVec: String,
      candidates: DataFrame, candId: String, candVec: String,
      k: Int, dim: Int, nCentroids: Int = 8, nprobe: Int = 2,
      m: Int = 8, ks: Int = 16): DataFrame = {
    // ONE driver collect serves both codebooks: the coarse centroids and
    // the PQ seeds are prefixes of the same (hashBucket, id) ordering —
    // two separate seedCentroids/pqCodebooks calls would run the
    // TakeOrderedAndProject corpus scan twice
    val seeds = seedRows(candidates, candId, candVec, math.max(nCentroids, ks), dim)
    require(seeds.length >= nCentroids,
      s"ivfPqTopK: needed $nCentroids coarse seeds, only ${seeds.length} rows")
    val coarse = seeds.take(nCentroids).map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val cb = pqCodebooksFromSeeds(seeds, m, ks, dim)
    // one pass builds the whole index row: coarse bucket + PQ codes
    // (checkpoint barrier for the same ProjectCollapse reason as pqTopK)
    val encoded = candidates.select(col(candId).as("cand_id"),
        ivfBucket(col(candVec), coarse).as("__bucket"),
        graft.functions.PqEncode.expr(col(candVec), cb).as("__codes"))
      .localCheckpoint()
    val qb = queries.select(col(queryId).as("query_id"),
      graft.functions.PqOps.quantizeCol(col(queryVec)).as("__qq"),
      explode(ivfProbeBuckets(col(queryVec), coarse, nprobe)).as("__bucket"))
    val scored = encoded.join(broadcast(qb), Seq("__bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        graft.functions.PqAdcDist.exprQuantized(col("__qq"), col("__codes"), cb)
          .as("dist_fp"))
      .filter(col("dist_fp").isNotNull) // null codes/query must not rank 1
    Ranking.topKPerGroup(scored, Seq(col("query_id")),
        Seq(col("dist_fp").asc, col("cand_id").asc), k, rankCol = Some("rnk"))
      .select(col("query_id"), col("cand_id"), col("rnk"), col("dist_fp"))
      .localCheckpoint()
  }

  /** IVF-pruned top-k with a trained codebook: candidates bucketed once;
    * each query probes its `nprobe` best buckets — scanned fraction ≈
    * nprobe/nCentroids. Equi-join on bucket id makes the scan a
    * co-partitioned hash join, not a cross join; a candidate lives in
    * exactly one bucket so probes never produce duplicate pairs.
    */
  def ivfTopK(
      queries: DataFrame, queryId: String, queryVec: String,
      candidates: DataFrame, candId: String, candVec: String,
      k: Int, dim: Int, nCentroids: Int = 16, nprobe: Int = 2): DataFrame =
    ivfTopKWith(
      trainIvf(candidates, candId, candVec, nCentroids),
      queries, queryId, queryVec, candidates, candId, candVec,
      k, dim, nprobe, rankCol = None, roundCos = false)
}
