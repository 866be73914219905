package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for a training-data pipeline: exact, MinHash+LSH,
  * SimHash, and n-gram-Jaccard near-dup detection. The reference only ever
  * dedups exact ids (retrieve.py:1584-1593); the near-dup family is the
  * engine's 100 TB extension (BASELINE.json north star).
  *
  * Scale posture, per algorithm:
  *  - exact: single hash-aggregation on a 64/128-bit digest of the content,
  *    never on the raw text (shuffle bytes ∝ digest, not document).
  *  - MinHash/LSH: signatures are fixed-width arrays; the only shuffle is
  *    the band-bucket explode + self-join, whose fan-out is controlled by
  *    (bands, rowsPerBand). Candidate pairs then verify exactly. This is
  *    the standard shingle→minhash→band→bucket-join pipeline.
  *  - SimHash: one 64-bit signature per doc; near-dup = identical signature
  *    band keys (hamming proxy), avoiding any quadratic stage.
  *  - n-gram Jaccard: exact pairwise verify, driven by an inverted-index
  *    join on shingles; use only downstream of a blocking stage at scale.
  */
object Dedup {

  /** Exact dedup: canonical row per identical `contentCol` (min of `idCol`).
    * Hashes before shuffling so the exchange carries 8-byte keys.
    */
  def exact(df: DataFrame, idCol: Column, contentCol: Column): DataFrame =
    df.withColumn("__h", xxhash64(contentCol))
      .groupBy(col("__h"))
      .agg(min(idCol).as("canonical_id"), count(lit(1)).as("n_copies"))
      .drop("__h")

  /** Soft deduplication (down-weighting): every row KEEPS its place in the
    * corpus but carries `weight = 1/n_dups` where `n_dups` is the size of
    * its exact-duplicate cluster under `keyCol` — each cluster contributes
    * one document's worth of training mass instead of n (the alternative
    * to dropping, for pipelines that re-weight rather than discard; pair
    * with [[Mixture.assignCopies]] to turn weights into integer copies).
    *
    * Scale: ONE corpus exchange — the cluster size is a window count over
    * the 8-byte xxhash64 digest of the key (same shuffle-key discipline as
    * [[exact]]). The groupBy+rejoin formulation would exchange the corpus
    * twice (once into the agg, once into the join).
    */
  def softDedupWeights(df: DataFrame, keyCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("n_dups",
        count(lit(1)).over(Window.partitionBy(xxhash64(keyCol))))
      .withColumn("weight", lit(1.0) / col("n_dups"))
  }

  /** Deterministic per-seed MinHash over a shingle array:
    * h_i(S) = min over shingles of ((a_i·x + b_i) mod p), x = 64-bit shingle
    * hash. Pure expression composition (no UDF, no ml.feature dependency on
    * a Vector column), so it runs inside codegen and the signature is an
    * `array<bigint>` ready for band slicing.
    */
  /** 2^31-1: keeps `a*x + b` under 2^62 — no Long overflow in ANSI mode. */
  val HashPrime: Long = graft.functions.MinHashSig.HashPrime

  private def seededCoeffs(numHashes: Int): Seq[(Long, Long)] =
    graft.functions.MinHashSig.seededCoeffs(numHashes)

  /** Signature from PRE-HASHED shingles (array<long> already reduced mod
    * HashPrime) — hash each shingle once, not once per permutation.
    * This is the composable SPEC form (numHashes interpreted HOF passes);
    * queries use the compiled `MinHashSig` expression, whose bit-equality
    * to this form DedupSimilaritySpec asserts on real documents.
    */
  def minHashSignatureFromHashes(hashedShingles: Column, numHashes: Int): Column = {
    val hashes = seededCoeffs(numHashes).map { case (a, b) =>
      array_min(transform(hashedShingles, x => pmod(x * lit(a) + lit(b), lit(HashPrime))))
    }
    array(hashes: _*)
  }

  /** MinHash LSH near-dup pairs.
    * @param df must have a unique id column `idCol` and text `textCol`.
    * Bands of `rowsPerBand` signature slots become bucket keys; docs
    * sharing any band bucket are candidates; candidates are verified with
    * exact shingle Jaccard ≥ `threshold`.
    *
    * Every hash in the pipeline is PORTABLE (poly31 shingle fold →
    * seeded-affine MinHash → poly31 band combine — graft.functions.PolyHash),
    * so the whole operator is oracle-checkable: the DuckDB oracle reproduces
    * candidates, verification and scores value-for-value (q45).
    *
    * Precision note (found by the 10M stress receipt): verification runs on
    * the 31-bit hashed shingles, and poly31 is LINEAR in the character
    * vector — if every window of two same-shaped documents embeds the same
    * differing substring (e.g. synthetic text parameterized by a numeric
    * id), all windows collide mod 2³¹-1 together whenever the substrings'
    * digit-polynomials collide, yielding hashed-Jaccard 1.0 for unrelated
    * docs (~17k such id pairs per 10M sequential ids). Natural corpora
    * don't have whole documents parameterized by one substring, and
    * independent per-window collisions are ~38²/2³¹ ≈ 7·10⁻⁷ per pair —
    * negligible. For adversarial/structured inputs, pass
    * `verifyOn64Bit = true`: candidates still come from the portable
    * poly31 MinHash bands, but the exact-Jaccard verify stage runs on
    * full-64-bit FNV shingle hashes (graft.functions.ShingleHashes), where
    * a systematic full-set collision cannot survive. The 64-bit verify is
    * NOT DuckDB-oracle-portable (that is exactly the tradeoff), so the
    * default stays poly31.
    */
  def minHashLsh(
      df: DataFrame, idCol: Column, textCol: Column,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.7, verifyOn64Bit: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // Shuffle hygiene: every wide stage below carries ids + 8-byte hashes
    // only — never shingle strings. At 100 TB the candidate join is the
    // dominant exchange and its row width is 3 longs.
    // `hv` is the verify set: the poly31 hashes themselves (default,
    // oracle-portable) or a full-64-bit FNV set (collision-hardened).
    val hashed = df
      .select(idCol.as("id"), textCol.as("__vtxt"),
        graft.functions.PolyHash
          .polyShingleHashes(textCol, shingleSize).as("hs"))
      .withColumn("hv", if (verifyOn64Bit)
          array_distinct(graft.functions.ShingleHashes
            .shingleHashes(df.sparkSession, col("__vtxt"), shingleSize))
        else col("hs"))
      .drop("__vtxt")
      .filter(size(col("hs")) > 0)
    val withSig = hashed
      .withColumn("sig", graft.functions.MinHashSig.expr(col("hs"), numHashes))
    val banded = withSig.select(
      col("id"),
      posexplode(graft.functions.PolyHash
        .polyBandBuckets(col("sig"), bands, rows)))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Verification: exact Jaccard over hashed shingle sets, joined back in
    // only for the (small) candidate set.
    cand
      .join(hashed.select(col("id").as("id_a"), col("hv").as("hs_a")), Seq("id_a"))
      .join(hashed.select(col("id").as("id_b"), col("hv").as("hs_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("hs_a")) + size(col("hs_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** End-to-end near-duplicate REMOVAL: LSH near-dup pairs → connected
    * components (iterative min-label propagation — near-dup clusters are
    * shallow, so a handful of rounds converges; each round is one join +
    * one agg) → keep only each component's minimum id. Returns the
    * surviving rows of `df`.
    *
    * This is the operator a training pipeline actually runs; the pair
    * producers (minHashLsh / ngramJaccardPairs / Similarity.cosinePairs)
    * are its interchangeable discovery stages.
    */
  /** maxIterations bounds the min-label rounds (one HOP of propagation
    * each); the loop exits EARLY on convergence, so the cap only pays when
    * a cluster's graph diameter actually demands it. 25 covers any
    * realistic near-dup cluster — an unconverged exit would silently keep
    * extra "survivors" (and diverge from q86's exact-closure oracle), so
    * the cap is a safety valve, not a tuning knob: a warning is logged if
    * it is ever hit while labels are still moving.
    */
  def removeNearDuplicates(
      df: DataFrame, idCol: Column, textCol: Column,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.7, maxIterations: Int = 25,
      rounds: java.util.concurrent.atomic.AtomicInteger = null,
      verifyOn64Bit: Boolean = false,
      localEdgeThreshold: Long = 1L << 20): DataFrame = {
    // The component loop runs over edge PARTICIPANTS only, not the whole
    // corpus: a doc in no verified pair keeps comp = id trivially, so
    // propagating its label every round is pure waste — and participants
    // are a small fraction of any real corpus (the duplicated head). Each
    // CC round's join + agg then scales with the duplicate set, not the
    // corpus, and the final subtraction is an anti-join against the
    // (small) non-minimum members — broadcastable where a corpus-wide
    // semi-join was not.
    //
    // `pairs` is persisted HERE (not just Graph's internal bidir cache)
    // because both the participant set and the edge set derive from it —
    // without the cache the ENTIRE LSH pipeline
    // (shingle→sign→band→join→verify) would run twice. It unpersists as
    // soon as connectedComponents returns: the labels are localCheckpoint-
    // materialized, so nothing downstream re-reads the pairs.
    val pairs = minHashLsh(df, idCol, textCol, shingleSize, numHashes, bands,
      threshold, verifyOn64Bit).persist()
    val participants = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id")))
      .distinct()
    val labels = Graph.connectedComponents(
      participants, col("id"),
      pairs, col("id_a"), col("id_b"), maxIterations, rounds,
      localEdgeThreshold = localEdgeThreshold)
    pairs.unpersist(blocking = false)
    val remove = labels.filter(col("comp") =!= col("id")).select(col("id"))
    df.join(remove, idCol === remove("id"), "left_anti")
  }

  /** 64-bit SimHash over token hashes: bit j of the signature is the sign of
    * Σ_tokens (±1 depending on bit j of the token hash). One compiled pass
    * (graft.functions.SimHash64); semantics = `ReferenceTwins.simHashComposable`
    * (src/test).
    */
  def simHash(textCol: Column): Column =
    graft.functions.SimHash64.expr(textCol)

  /** Near-dup pairs over any 64-bit signature column (SimHash, image
    * dHash) by banded hamming blocking: the signature splits into `bands`
    * equal slices used as bucket keys — by pigeonhole, any pair with
    * hamming distance < bands shares at least one slice, so blocking is
    * LOSSLESS for maxDist < bands. Candidates verify with
    * `bit_count(xor)`. Shuffles carry (id, sig, band, key) longs only;
    * no quadratic stage.
    */
  def hammingNearDupPairs(
      df: DataFrame, idCol: Column, sigCol: Column,
      maxDist: Int = 3, bands: Int = 4): DataFrame = {
    require(bands > 0 && 64 % bands == 0, "bands must divide 64")
    // the single-word form IS the words=1 / bitsPerWord=64 case
    hammingNearDupPairsWords(df, idCol, array(sigCol),
      bitsPerWord = 64, words = 1, maxDist = maxDist, bandsPerWord = bands)
  }

  /** [[hammingNearDupPairs]] over MULTI-WORD signatures
    * (`array<bigint>`, e.g. [[graft.functions.HyperplaneSigWords]]):
    * band b of word w is a `bitsPerWord / bandsPerWord`-bit slice used as
    * a bucket key; total bands = words × bandsPerWord, and blocking is
    * lossless for maxDist < total bands by the same pigeonhole. This is
    * the corpus-scale shape: 31-bit bands keep coincidental candidates
    * at m²/2³¹ per band where single-word ~16-bit bands go
    * quadratic-by-collision (SCALE.md has the measured contrast).
    * Distance is the popcount sum across words. A signature whose arity
    * differs from `words` fails the job loudly — a silent null band key
    * would drop every candidate and report "no duplicates".
    */
  def hammingNearDupPairsWords(
      df: DataFrame, idCol: Column, sigCol: Column,
      bitsPerWord: Int, words: Int,
      maxDist: Int = 3, bandsPerWord: Int = 2): DataFrame = {
    require(bitsPerWord >= 1 && bitsPerWord <= 64,
      s"bitsPerWord must be in [1, 64], got $bitsPerWord")
    require(words >= 1, s"words must be >= 1, got $words")
    require(bandsPerWord > 0 && bitsPerWord % bandsPerWord == 0,
      s"bandsPerWord $bandsPerWord must divide bitsPerWord $bitsPerWord")
    require(maxDist < words * bandsPerWord,
      s"maxDist $maxDist requires words*bandsPerWord > maxDist " +
        s"for lossless blocking, got ${words * bandsPerWord}")
    val width = bitsPerWord / bandsPerWord
    val mask = if (width == 64) -1L else (1L << width) - 1
    val bandKeys = for {
      w <- 0 until words
      b <- 0 until bandsPerWord
    } yield shiftrightunsigned(element_at(col("sig"), w + 1), b * width)
      .bitwiseAND(lit(mask))
    val checkedSig = when(size(sigCol) === words, sigCol)
      .otherwise(raise_error(concat(
        lit(s"hamming signature arity != words=$words: "),
        size(sigCol).cast("string"))))
    val banded = df
      .select(idCol.as("id"), checkedSig.as("sig"))
      .select(col("id"), col("sig"), posexplode(array(bandKeys: _*)))
      .select(col("id"), col("sig"), col("pos").as("band"), col("col").as("key"))
    val dist = (0 until words)
      .map(w => bit_count(element_at(col("a.sig"), w + 1)
        .bitwiseXOR(element_at(col("b.sig"), w + 1))))
      .reduce(_ + _)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), dist.as("dist"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("dist") <= maxDist)
  }

  /** Exact-substring duplicate SPANS (the Lee et al. 2021 "Deduplicating
    * Training Data" primitive, re-expressed relationally): a token position
    * is duplicated when its n-gram occurs ≥ `minCount` times across the
    * WHOLE corpus (including intra-document repeats); overlapping duplicated
    * windows merge into maximal spans `[span_start, span_end)` in token
    * coordinates. Where the paper builds a monolithic suffix array, the
    * distributed form is a hash inverted index — n-gram hashes are the keys,
    * so equality is approximate under hash collision.
    *
    * Hash sizing (the knob that matters at scale): the default portable
    * poly31 fold (mod 1e9+7) lives in a ~2³⁰ space, so birthday collisions
    * — each one a FALSE duplicate mark — arrive at rate ≈ G²/2³¹ for G
    * total grams: negligible at G ≤ 10⁷ (the oracle-checked regime; the
    * oracle reproduces the identical hashes, so parity holds regardless),
    * but CERTAIN at corpus scale (G = 3·10⁸ → tens of millions of spurious
    * pairs). Production corpora therefore pass `hash64 = true`: the same
    * ordered gram fold over the Mersenne prime 2⁶¹−1 with multiplier 131
    * ([[graft.functions.PolyGramHashes61]] — collision odds ≈ G²/2⁶²,
    * spurious-duplicate-free at any realistic G), which unlike an
    * engine-internal 64-bit hash is STILL a pure codepoint fold DuckDB
    * replays in HUGEINT arithmetic — the q135 oracle checks the
    * collision-hardened mode hash-for-hash. Stress-verified at 10M docs
    * in SCALE.md.
    *
    * Scale posture: the explode carries (id, pos, h) = 20-byte rows; the
    * duplicated-hash aggregation and the position semi-join shuffle on the
    * SAME hash key, so ReuseExchange shuffles the gram index once. The
    * span merge is a per-document sort (gaps-and-islands over a window) on
    * the sparse duplicated positions only.
    *
    * `bloomPrefilter` is the beyond-broadcast notch for the semi-join: in a
    * natural corpus the gram stream is dominated by singletons that can
    * never be in a span, yet without a runtime filter every one of them
    * rides the probe-side exchange of the semi-join. With the flag on, the
    * dup-hash set (materialized once via localCheckpoint) is folded into a
    * Bloom filter — a distributed agg, only the bit array reaches the
    * driver: ~1.2 MB per 10⁶ dup grams at 1% fpp, ~7× smaller than the
    * exact 8-byte hash set an in-expression array would carry — and probed
    * AT THE GRAM PROJECTION, so the long tail drops before the exchange.
    * The exact semi-join still runs behind it, so false positives cost
    * shuffle bytes, never correctness: output is row-identical to the
    * unfiltered mode (spec + 10M-doc Stress receipt). The trade: the probe
    * side no longer shares the agg side's exchange (ReuseExchange is off
    * for it), which only pays when dup grams ≪ total grams — exactly the
    * 100 TB regime.
    *
    * Output: (doc_id, span_start, span_end, span_tokens), span_end
    * exclusive.
    */
  def substringSpans(
      df: DataFrame, idCol: Column, textCol: Column,
      n: Int = 8, minCount: Long = 2, hash64: Boolean = false,
      bloomPrefilter: Boolean = false, bloomFpp: Double = 0.01): DataFrame = {
    require(n >= 1, "gram size must be >= 1")
    val gramHashes =
      if (hash64) graft.functions.PolyHash.polyGramHashes61(textCol, n)
      else graft.functions.PolyHash.polyGramHashes(textCol, n)
    val grams = df
      .select(idCol.as("doc_id"), posexplode(gramHashes))
      .select(col("doc_id"), col("pos"), col("col").as("h"))
    val dupAll = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select(col("h"))
    val (dup, probe) = if (bloomPrefilter) {
      // localCheckpoint (eager) pins ONE materialization of the dup set:
      // the count, the Bloom fold and the semi-join build all read it —
      // without the barrier each would recompute the full gram aggregation.
      val dupC = dupAll.localCheckpoint()
      val bloom = dupC.stat.bloomFilter("h", math.max(dupC.count(), 1L), bloomFpp)
      (dupC, grams.filter(graft.functions.BloomMightContain.expr(col("h"), bloom)))
    } else (dupAll, grams)
    val dupPos = probe.join(dup, Seq("h"), "left_semi")
    // gaps-and-islands: a window [pos, pos+n) starts a new span when it
    // clears the running max end of all earlier windows in the doc
    val ordered = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + n)
      .over(ordered.rowsBetween(Window.unboundedPreceding, -1))
    val islands = dupPos
      .withColumn("brk",
        when(prevEnd.isNull || col("pos") > prevEnd, 1).otherwise(0))
      .withColumn("island",
        sum(col("brk")).over(ordered.rowsBetween(Window.unboundedPreceding, 0)))
    islands.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + n).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** Apply [[substringSpans]] as a REMOVAL: drop every token inside a
    * duplicated span and rejoin the survivors with single spaces (the
    * paper's cut-the-duplicate-text step in token coordinates). Documents
    * with no spans pass through byte-identical tokenization-wise; a fully
    * duplicated document comes back empty.
    *
    * Output: the rows of `df` with `cleaned_text` and `n_dropped_tokens`.
    */
  def removeSubstringSpans(
      df: DataFrame, idCol: Column, textCol: Column,
      n: Int = 8, minCount: Long = 2, hash64: Boolean = false,
      bloomPrefilter: Boolean = false): DataFrame = {
    val spans = substringSpans(df, idCol, textCol, n, minCount, hash64,
      bloomPrefilter)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"),
        sum(col("span_tokens")).as("n_dropped_tokens"))
      .select(col("doc_id").as("__span_doc_id"), col("__spans"),
        col("n_dropped_tokens"))
    val joined = df.join(spans, idCol === spans("__span_doc_id"), "left")
    val toks = tokens(textCol)
    // sequence(0, -1) on an empty token array would yield the descending
    // [0, -1] (two phantom positions); guard so the index range is empty
    // exactly when the token array is.
    val idx = when(size(toks) > 0, sequence(lit(0), size(toks) - 1))
      .otherwise(array().cast("array<int>"))
    val kept = filter(
      zip_with(toks, idx, (t, i) => struct(t.as("t"), i.as("i"))),
      p => !exists(col("__spans"),
        s => p.getField("i") >= s.getField("span_start") &&
          p.getField("i") < s.getField("span_end")))
    joined
      .withColumn("cleaned_text",
        when(col("__spans").isNull, textCol)
          .otherwise(array_join(transform(kept, p => p.getField("t")), " ")))
      .withColumn("n_dropped_tokens",
        coalesce(col("n_dropped_tokens"), lit(0L)))
      .drop("__span_doc_id", "__spans")
  }

  /** Exact n-gram Jaccard similarity for all candidate pairs produced by an
    * inverted-index self-join on shingles. Quadratic in bucket size — gate
    * behind LSH blocking at scale (see minHashLsh); exposed directly for
    * oracle-checkable exact semantics on bounded inputs.
    */
  /** @param pruneSingletons drop shingles held by a single document before
    * the self-join. In natural corpora singletons dominate the inverted
    * index and this collapses the quadratic stage — hence the SAFE default
    * is true. On template-generated or highly repetitive corpora (like the
    * synthetic bench tables, 0.8% singletons) the extra hash-agg is pure
    * overhead, so bounded-template callers pass false explicitly.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: Column, textCol: Column,
      shingleSize: Int = 3, threshold: Double = 0.0,
      pruneSingletons: Boolean = true): DataFrame = {
    // Inverted index on HASHED shingles: the self-join shuffles (gh, id, n)
    // triples — 24 bytes/row — and both sides canonicalize to the same
    // exchange, so Spark's ReuseExchange shuffles the index once. AQE's
    // skew-join split caps hot-shingle buckets.
    val inv = df
      .select(idCol.as("id"),
        graft.functions.ShingleHashes
          .shingleHashes(df.sparkSession, textCol, shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), size(col("sh")).as("n"), explode(col("sh")).as("gh"))
    // Singleton pruning: a shingle held by one document can never produce a
    // pair — one extra hash-agg on the same gh exchange buys a much smaller
    // self-join when singletons dominate.
    val pruned = if (pruneSingletons) {
      val repeated = inv.groupBy(col("gh")).agg(count(lit(1)).as("df"))
        .filter(col("df") > 1).select(col("gh"))
      inv.join(repeated, Seq("gh"))
    } else inv
    val pairs = pruned.as("a")
      .join(pruned.as("b"), col("a.gh") === col("b.gh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  // ---- line-level dedup family (CCNet-style corpus curation) -------------

  /** Corpus-wide boilerplate-line removal (the CCNet §3.1 "dedup at the
    * paragraph/line level" step: site templates, legal footers, cookie
    * banners repeat across a domain's pages; dropping EVERY occurrence of a
    * line seen in many distinct documents strips them).
    *
    * @param df       one row per document.
    * @param idCol    unique document id.
    * @param linesCol `array<string>` of the document's lines, in order.
    * @param minDocs  a line appearing in >= this many DISTINCT documents is
    *                 boilerplate and removed everywhere.
    *
    * Returns one row per input doc: id, n_lines, n_dropped, and
    * `text_clean` (surviving lines re-joined with '\n' in original order —
    * docs whose every line is boilerplate keep an empty string).
    *
    * Scale posture: lines are folded to portable 8-byte poly31 hashes
    * BEFORE any exchange, so the frequency aggregation shuffles
    * (hash, id)-pairs with map-side partial distinct, never line text.
    * The flagged set (lines in >= minDocs docs) is, by construction, tiny
    * relative to the corpus — boilerplate is the head of the line-frequency
    * distribution — so the removal join broadcasts it; the corpus itself is
    * never re-shuffled for the subtraction. The final reassembly is the
    * only corpus-wide exchange (groupBy id), and it carries surviving lines
    * once. The frequency is computed over HASHES: a poly31 collision could
    * in principle merge two distinct lines' counts; at 1e9+7 buckets the
    * head of the distribution (the only region near the threshold) is
    * unaffected in practice, and the oracle replays the same hash fold so
    * the semantics are pinned, not approximated.
    */
  /** @param carry extra (name, column) pairs to thread through to the
    *   output untouched — they ride the reassembly join that already
    *   exists (base side), so a pipeline keeping e.g. its `lang` column
    *   pays ZERO additional exchanges for it.
    */
  /** @param hash64 same collision-hardening knob as [[substringSpans]]:
    *   fold lines mod 2⁶¹−1 (poly131) instead of poly31. The poly31 head
    *   is exact in the oracle-checked regime, but at web scale a ≥10⁷-line
    *   flagged head in a ~2³⁰ space false-drops ~1% of unique lines
    *   (measured, SCALE.md flaggedjoin receipt); the 61-bit fold is the
    *   production sizing and is STILL DuckDB-replayable (q160).
    */
  def removeBoilerplateLines(
      df: DataFrame, idCol: Column, linesCol: Column,
      minDocs: Int, carry: Seq[(String, Column)] = Nil,
      hash64: Boolean = false): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2")
    val spark = df.sparkSession
    val base = df.select(
      Seq(idCol.as("__id"), linesCol.as("__lines")) ++
        carry.map { case (n, c) => c.as(n) }: _*)
    val ex = base
      .select(col("__id"), posexplode(col("__lines")).as(Seq("__pos", "__line")))
      // ONE null policy across the family: null lines are dropped and
      // counted in n_dropped, matching applyFlaggedLineFilter /
      // PolyDropFlagged — without this filter a null line rode through the
      // left_anti join (null hash matches nothing), inflated __n_kept, yet
      // vanished from text_clean's array_join, so batch and streaming
      // paths disagreed on n_dropped for null-bearing arrays.
      .filter(col("__line").isNotNull)
      .withColumn("__h",
        graft.functions.PolyHash.polyStringHash(col("__line"), hash64))
    // distinct (id, hash) before the count → partial agg collapses a doc's
    // repeated lines map-side; the exchange then carries each (doc, line)
    // pair once.
    val flagged = ex.select(col("__id"), col("__h")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__h"))
    val kept = ex.join(broadcast(flagged), Seq("__h"), "left_anti")
    base.select(
        Seq(col("__id"), size(col("__lines")).as("n_lines")) ++
          carry.map { case (n, _) => col(n) }: _*)
      .join(
        kept.groupBy(col("__id"))
          .agg(count(lit(1)).as("__n_kept"),
            array_join(array_sort(collect_list(struct(col("__pos"), col("__line"))))
              .getField("__line"), "\n").as("text_clean")),
        Seq("__id"), "left")
      .select(
        Seq(col("__id").as("id"), col("n_lines"),
          (col("n_lines") - coalesce(col("__n_kept"), lit(0L))).as("n_dropped"),
          coalesce(col("text_clean"), lit("")).as("text_clean")) ++
          carry.map { case (n, _) => col(n) }: _*)
  }

  /** Incremental near-dup ADMISSION — the production ingestion shape: a
    * huge existing corpus (`oldDf`) and a new shard (`newDf`, disjoint
    * ids); admit the new docs that near-duplicate neither an old doc nor
    * a smaller-id doc in their own shard. Old-vs-old pairs are NEVER
    * computed — the asymmetric band-bucket join touches an old doc only
    * when a new doc lands in its bucket, so per-shard cost scales with
    * the SHARD, not the corpus (the full-corpus `minHashLsh` rerun this
    * replaces is quadratic-in-history across a crawl's lifetime).
    *
    * Within-shard rule is deterministic and single-pass: a new doc is
    * rejected if a VERIFIED pair links it to any smaller-id shard-mate —
    * whether or not that mate was itself admitted (conservative: no
    * decision chains, so the rule is order-free and replayable). Same
    * portable hash stack as [[minHashLsh]], so the q129 oracle replays
    * candidates, verification and the admission rule value-for-value.
    */
  /** @param verifyOn64Bit same collision-hardening knob as [[minHashLsh]]:
    *   candidate generation stays on portable poly31 bands, but the exact-
    *   Jaccard verify runs on full-64-bit FNV shingle hashes — the mode a
    *   long-lived production crawl runs, since the per-shard admission
    *   accumulates poly31's birthday exposure across the corpus lifetime.
    *   Not DuckDB-oracle-portable (q129 keeps the default).
    */
  def incrementalNearDupAdmission(
      oldDf: DataFrame, newDf: DataFrame, idCol: Column, textCol: Column,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.7, verifyOn64Bit: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    def hashed(df: DataFrame) = df
      .select(idCol.as("id"), textCol.as("__vtxt"),
        graft.functions.PolyHash
          .polyShingleHashes(textCol, shingleSize).as("hs"))
      .withColumn("hv", if (verifyOn64Bit)
          array_distinct(graft.functions.ShingleHashes
            .shingleHashes(df.sparkSession, col("__vtxt"), shingleSize))
        else col("hs"))
      .drop("__vtxt")
      .filter(size(col("hs")) > 0)
    def banded(h: DataFrame) = h
      .withColumn("sig", graft.functions.MinHashSig.expr(col("hs"), numHashes))
      .select(col("id"),
        posexplode(graft.functions.PolyHash
          .polyBandBuckets(col("sig"), bands, rows)))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
    val hashedOld = hashed(oldDf)
    val hashedNew = hashed(newDf)
    val bandedOld = banded(hashedOld)
    val bandedNew = banded(hashedNew)
    // candidates: (new, old) any order + (new, new) smaller-id-owns
    val candOld = bandedNew.as("n")
      .join(bandedOld.as("o"),
        col("n.band") === col("o.band") && col("n.bucket") === col("o.bucket"))
      .select(col("n.id").as("new_id"), col("o.id").as("other_id"))
    val candNew = bandedNew.as("a")
      .join(bandedNew.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("b.id") < col("a.id"))
      .select(col("a.id").as("new_id"), col("b.id").as("other_id"))
    val cand = candOld.unionByName(candNew).dropDuplicates("new_id", "other_id")
    val allHashed = hashedOld.unionByName(hashedNew)
    val rejected = cand
      .join(hashedNew.select(col("id").as("new_id"), col("hv").as("hs_n")), Seq("new_id"))
      .join(allHashed.select(col("id").as("other_id"), col("hv").as("hs_o")), Seq("other_id"))
      .withColumn("inter", size(array_intersect(col("hs_n"), col("hs_o"))))
      .filter(col("inter").cast("double") /
        (size(col("hs_n")) + size(col("hs_o")) - col("inter")) >= threshold)
      .select(col("new_id").as("id")).distinct()
    newDf.join(rejected, idCol === rejected("id"), "left_anti")
  }

  /** The flagged-line set of [[removeBoilerplateLines]] as a collected,
    * sorted hash array — for the STREAMING application path
    * ([[applyFlaggedLineFilter]]): a production scrubber computes the
    * boilerplate head batch-side over yesterday's corpus, then applies it
    * statelessly to today's stream.
    *
    * Driver-state bound: the flagged set is the >= minDocs HEAD of the
    * line-frequency distribution, ≤ (corpus line count / minDocs) by
    * counting and orders of magnitude smaller in practice (it's the same
    * set the batch path broadcasts). Still corpus-dependent: at 100 TB
    * size the threshold so the head stays broadcast-sized, same contract
    * as a broadcast join.
    */
  def flaggedLineHashes(
      df: DataFrame, idCol: Column, linesCol: Column, minDocs: Int,
      hash64: Boolean = false, maxFlagged: Int = 10000000): Array[Long] = {
    val rows = flaggedLineFrame(df, idCol, linesCol, minDocs, hash64)
      .limit(maxFlagged + 1)
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
    // fail LOUD at the boundary instead of silently collecting an
    // arbitrarily large head onto the driver (r7 advisory): beyond the
    // broadcast bound the join form is the correct plan, not a bigger
    // driver array
    require(rows.length <= maxFlagged,
      s"flagged head exceeds maxFlagged=$maxFlagged lines — use " +
        "applyFlaggedLineFilterJoin / applyBoilerplateFilterAuto (the " +
        "beyond-broadcast path) or raise minDocs")
    rows.sorted
  }

  /** The flagged head as a one-column (`__h` LongType) DataFrame — the
    * shared computation behind [[flaggedLineHashes]] (collected form) and
    * [[applyFlaggedLineFilterJoin]]'s build side (distributed form).
    */
  def flaggedLineFrame(
      df: DataFrame, idCol: Column, linesCol: Column, minDocs: Int,
      hash64: Boolean = false): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2")
    val spark = df.sparkSession
    df.select(idCol.as("__id"), explode(linesCol).as("__line"))
      .select(col("__id"),
        graft.functions.PolyHash.polyStringHash(col("__line"), hash64)
          .as("__h"))
      .distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__h"))
  }

  /** Boilerplate-line scrub with AUTOMATIC broadcast→join failover (r7
    * advisory: the API used to make the caller choose, and a caller
    * picking the collected form on an open-web corpus was the one
    * remaining driver-state foot-gun). Measures the flagged head with a
    * `limit(maxBroadcast+1)` probe — never collecting more than the
    * bound — then:
    *   - head ≤ maxBroadcast: the compiled-expression path
    *     ([[applyFlaggedLineFilter]]): narrow projection, zero extra
    *     shuffles, the strictly-cheaper plan;
    *   - head >  maxBroadcast: the stream-static join path
    *     ([[applyFlaggedLineFilterJoin]]): no driver state at any scale.
    * Outputs are row-identical on both sides of the boundary (spec-pinned).
    */
  def applyBoilerplateFilterAuto(
      df: DataFrame, idCol: Column, linesCol: Column, minDocs: Int,
      maxBroadcast: Int = 10000000, hash64: Boolean = false): DataFrame = {
    require(maxBroadcast >= 0, s"maxBroadcast must be >= 0: $maxBroadcast")
    // localCheckpoint: the head aggregation (a full corpus pass) runs
    // exactly ONCE — the probe materializes it, and whichever branch wins
    // reads the checkpoint instead of recomputing. The probe itself is a
    // bounded COUNT, so the overflow path never ships the oversized head
    // to the driver just to learn it is oversized.
    val head = flaggedLineFrame(df, idCol, linesCol, minDocs, hash64)
      .localCheckpoint()
    val n = head.limit(maxBroadcast + 1).count()
    if (n <= maxBroadcast)
      applyFlaggedLineFilter(df, idCol, linesCol,
        head.as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect().sorted, hash64)
    else
      applyFlaggedLineFilterJoin(df, idCol, linesCol, head, hash64)
  }

  /** Apply a pre-computed flagged-line set as a narrow projection — the
    * compiled filter carries the sorted hash array as expression state
    * (binary search per line), so the SAME operator runs over a batch
    * DataFrame or a Structured Streaming one (no stream-static join, no
    * state store). Output schema matches [[removeBoilerplateLines]].
    */
  def applyFlaggedLineFilter(
      df: DataFrame, idCol: Column, linesCol: Column,
      flagged: Array[Long], hash64: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    df.select(idCol.as("id"), linesCol.as("__lines"))
      .select(col("id"), size(col("__lines")).as("n_lines"),
        graft.functions.PolyHash
          .polyDropFlagged(col("__lines"), flagged, hash64)
          .as("__kept"))
      .select(col("id"), col("n_lines"),
        (col("n_lines") - size(col("__kept"))).cast("long").as("n_dropped"),
        array_join(col("__kept"), "\n").as("text_clean"))
  }

  /** [[applyFlaggedLineFilter]] beyond the driver-state bound: the flagged
    * set stays a DATAFRAME (one LongType hash column — write yesterday's
    * [[removeBoilerplateLines]] head to parquet, read it back here), and
    * the subtraction is a join instead of in-expression binary search. Use
    * when the flagged head outgrows what every executor can comfortably
    * hold (>10⁷ lines, the open-web regime the collected-array contract
    * warns about); below that, the expression form is a narrow projection
    * and strictly cheaper.
    *
    * ONE implementation serves batch and Structured Streaming: posexplode →
    * stream-static LEFT OUTER join on the line hash (static side is
    * re-planned per micro-batch, so a refreshed parquet flagged set is
    * picked up without restarting state) → per-doc regroup. The outer join
    * (not anti) is what keeps fully-flagged documents alive through the
    * regroup — they must come back as `text_clean = ""`, matching the whole
    * family — and `posexplode_outer` does the same for empty-array docs.
    * Null lines are dropped and counted in n_dropped (the family's one null
    * policy). The regroup is a streaming-compatible aggregation: in a
    * stream, run it in update mode (each doc's lines land in one
    * micro-batch, so the first emission is final), or attach a watermark
    * for append mode.
    *
    * Scale posture: the join shuffles (hash, id, pos, line) exploded rows
    * against the flagged hashes — both data-proportional, no driver state,
    * no broadcast; AQE's skew split caps hot boilerplate hashes. Output
    * schema matches [[applyFlaggedLineFilter]] row for row (spec +
    * 10⁷-flagged-line Stress receipt).
    */
  def applyFlaggedLineFilterJoin(
      df: DataFrame, idCol: Column, linesCol: Column,
      flagged: DataFrame, hash64: Boolean = false): DataFrame = {
    require(flagged.schema.fields.length == 1 &&
      flagged.schema.fields.head.dataType == org.apache.spark.sql.types.LongType,
      s"flagged must be a single LongType hash column, got ${flagged.schema}")
    val spark = df.sparkSession
    // distinct defensively: a duplicate hash on the build side would
    // duplicate matched line rows through the outer join and corrupt the
    // per-doc counts. (removeBoilerplateLines' head is distinct by
    // construction; a hand-assembled set may not be.)
    val flaggedH = flagged.toDF("__h").distinct()
      .withColumn("__flagged", lit(true))
    // Materialize the lines array ONCE before exploding: a computed
    // linesCol (e.g. a token-chunk transform) referenced directly in the
    // post-Generate projection is re-evaluated per exploded ROW — the
    // per-doc work goes quadratic in line count (observed 80× on q159's
    // first bench run). The same base-projection discipline as
    // removeBoilerplateLines.
    val base = df.select(idCol.as("id"), linesCol.as("__lines"))
    val ex = base
      .select(col("id"), size(col("__lines")).as("n_lines"),
        posexplode_outer(col("__lines")).as(Seq("__pos", "__line")))
      .withColumn("__h",
        when(col("__line").isNotNull,
          graft.functions.PolyHash.polyStringHash(col("__line"), hash64)))
    val marked = ex.join(flaggedH, Seq("__h"), "left_outer")
    marked.groupBy(col("id"), col("n_lines"))
      .agg(
        count(when(col("__line").isNotNull && col("__flagged").isNull, 1))
          .as("__n_kept"),
        array_join(
          array_sort(collect_list(
            when(col("__line").isNotNull && col("__flagged").isNull,
              struct(col("__pos"), col("__line")))))
            .getField("__line"), "\n").as("text_clean"))
      .select(col("id"), col("n_lines"),
        (col("n_lines") - col("__n_kept")).cast("long").as("n_dropped"),
        col("text_clean"))
  }

  /** Within-document duplicate-line collapse: keep the FIRST occurrence of
    * each distinct line in a document, preserving original order (the
    * intra-doc half of CCNet line dedup — repeated nav menus, pasted
    * terminal output).
    *
    * Scale posture: the semantics are PER-ROW (each document's output is a
    * pure function of its own lines array), so the whole operator is one
    * compiled narrow projection ([[graft.functions.PolyFirstOccurrence]] —
    * a single pass with a per-row hash set) with ZERO exchanges: no
    * explode, no aggregation, no join. The first form of this operator
    * exploded lines into a corpus-wide (id, hash) aggregation — two
    * SortAggregates (min over a struct has no hash-agg form) plus a
    * reassembly exchange and a rejoin, 8× slower at sf0.1 and a
    * doc-count-proportional shuffle at 100 TB, all for state that never
    * leaves one row. PlanGuardSpec pins the zero-exchange plan.
    */
  def dedupLinesWithinDoc(
      df: DataFrame, idCol: Column, linesCol: Column): DataFrame = {
    val spark = df.sparkSession
    df.select(idCol.as("id"), linesCol.as("__lines"))
      .select(col("id"), size(col("__lines")).as("n_lines_in"),
        graft.functions.PolyHash.polyFirstOccurrence(col("__lines"))
          .as("__kept"))
      .select(col("id"), col("n_lines_in"),
        size(col("__kept")).cast("long").as("n_lines_out"),
        array_join(col("__kept"), "\n").as("text_dedup"))
  }

  /** Document near-dup discovery via SHARED CDC CHUNKS — the block-level
    * complement of the MinHash/SimHash families: two docs pair when they
    * share >= `minShared` distinct (hash, len) content-defined chunks
    * ([[graft.functions.CdcChunks]]), which catches shifted/partial
    * copies (banner-injected mirrors, prepended headers) that token-
    * shingle signatures dilute and whole-doc hashing misses entirely —
    * the chunk boundaries re-sync after an edit, so the UNEDITED
    * remainder matches chunk-for-chunk.
    *
    * Scale posture — the family's frequency-capping discipline: chunks
    * held by more than `maxDf` docs are boilerplate by definition and
    * are DROPPED before pairing (same role as LSH band caps and the
    * flagged-line head), so per-chunk pair fan-out is bounded by
    * maxDf²/2 and the join stays linear in the chunk count; chunks held
    * by a single doc can never pair and are pruned by the same
    * frequency pass. Everything shuffled is (hash, len, id) triples —
    * the text never moves.
    */
  def cdcNearDupPairs(
      df: DataFrame, idCol: Column, textCol: Column,
      minShared: Int = 2, maxDf: Int = 16,
      minSize: Int = 32, maxSize: Int = 256, maskBits: Int = 6): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    require(maxDf >= 2, s"maxDf must be >= 2: $maxDf")
    val chunks = df
      .select(idCol.as("id"),
        explode(graft.functions.CdcChunks.expr(
          textCol, minSize, maxSize, maskBits)).as("c"))
      .select(col("id"), col("c.hash").as("h"), col("c.len").as("l"))
      .distinct()
    val pairable = chunks.groupBy(col("h"), col("l"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("h"), col("l"))
    val gated = chunks.join(pairable, Seq("h", "l"))
    gated.as("a")
      .join(gated.as("b"),
        col("a.h") === col("b.h") && col("a.l") === col("b.l") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Winnowed fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS scheme): per document, the RIGHTMOST-minimum k-gram hash of
    * every length-w window of consecutive gram hashes, deduplicated to
    * (position, hash) pairs. The guarantee: any shared substring of at
    * least w + k − 1 tokens produces at least one shared fingerprint,
    * while expected density is only 2/(w+1) of the grams — the
    * sub-document dedup key family between exact substring spans (every
    * gram) and MinHash (whole-doc). Grams ride the compiled 61-bit poly
    * fold; the window min runs as a per-row declarative fold — zero
    * exchanges. Documents with fewer than w grams collapse to one
    * window (their full gram list); gram-less docs emit nothing.
    *
    * Scale posture: one narrow projection + explode bounded by gram
    * count; the O(n·w) window mins are per-row compute, w small by
    * contract. The fingerprint frame is ~2n/(w+1) rows of 8-byte
    * hashes.
    *
    * @return (id, pos, h) — pos is the 1-based gram position of the
    *         selected hash
    */
  def winnowedFingerprints(df: DataFrame, idCol: Column, textCol: Column,
      k: Int = 5, w: Int = 8): DataFrame = {
    require(k >= 1 && k <= 16, s"k must be in 1..16, got $k")
    require(w >= 2 && w <= 64, s"w must be in 2..64, got $w")
    // compiled monotonic-deque window scan (r14) — the composable form
    // exploded one row per window and paid slice + array_min + reverse +
    // array_position per window (three array copies, O(n·w));
    // [[graft.functions.WinnowSelect]] is O(n) with the identical
    // rightmost-min tiebreak (spec-pinned equivalence in
    // DedupSimilaritySpec). The per-doc (pos, h) set is already distinct
    // (a position repeats only across consecutive windows, which the
    // kernel collapses), so the frame-level distinct is gone too.
    val grams = graft.functions.PolyHash.polyGramHashes61(textCol, k)
    df.select(idCol.as("id"),
        explode(org.apache.spark.sql.classic.GraftColumnBridge.column(
          graft.functions.WinnowSelect(
            org.apache.spark.sql.classic.GraftColumnBridge.expression(grams),
            w))).as("__fp"))
      .select(col("id"), col("__fp.pos").as("pos"), col("__fp.h").as("h"))
  }

  /** Near-duplicate candidate pairs from shared winnowed fingerprints —
    * the [[cdcNearDupPairs]] shape at k-gram granularity: fingerprints
    * held by more than `maxDf` docs are boilerplate and are dropped
    * BEFORE the pair join (fan-out per hash ≤ maxDf²/2), pairs keep
    * `n_shared` distinct shared hashes ≥ minShared. Only (id, hash)
    * pairs ever shuffle.
    */
  def winnowNearDupPairs(df: DataFrame, idCol: Column, textCol: Column,
      k: Int = 5, w: Int = 8, minShared: Int = 2,
      maxDf: Int = 16): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    require(maxDf >= 2, s"maxDf must be >= 2: $maxDf")
    val fps = winnowedFingerprints(df, idCol, textCol, k, w)
      .select(col("id"), col("h")).distinct()
    val pairable = fps.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("h"))
    val gated = fps.join(pairable, Seq("h"))
    gated.as("a")
      .join(gated.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
