package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.9): the streaming analog of
  * the reference's incremental paginated ingest (fast_tuoyu_scraper.py) and
  * the engine's north-star event-stream capability — tumbling/sliding
  * windows with watermarked late-data handling, and stateful gap-based
  * session windows via flatMapGroupsWithState.
  *
  * All transforms take a streaming OR batch DataFrame (same plan works for
  * both — that's the Structured Streaming contract), so the batch oracle
  * queries double as correctness checks for the streaming path.
  */
object StreamingOps {

  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass)

  /** One loud line when a monitor is left on the exact-but-unbounded
    * lateness default — the state-growth contract belongs in the logs,
    * not only the scaladoc (monitors run for weeks; the operator who
    * inherits one should see the warning at start, not at OOM). */
  private def warnIfUnbounded(who: String, latenessMicros: Long): Unit =
    if (latenessMicros == Long.MaxValue)
      log.warn(s"$who: allowedLatenessMicros is unbounded (the exact " +
        "default) - every event per key is retained in GroupState and " +
        "re-folded each micro-batch. Pass a finite lateness bound for " +
        "long-running streams.")

  /** Watermarked tumbling counts: one row per (window, event_type). */
  def tumblingCounts(
      events: DataFrame, width: String, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("value_sum"))

  /** Built-in session windows (gap-based) with watermark. */
  def sessionWindowCounts(
      events: DataFrame, gap: String, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("value_sum"))

  /** Streaming exact dedup with BOUNDED state: the first event per key set
    * wins; duplicates arriving within the watermark horizon are dropped,
    * and key state older than the watermark is evicted — so state is
    * O(keys per horizon), not O(every key ever seen). This is the
    * streaming face of `operators.Dedup.exact`: batch dedup over a closed
    * corpus, this for the ingest path, same keys either way. The event-time
    * column named by `tsCol` must be among the watermarked columns' schema.
    */
  def dedupWithinWatermark(
      events: DataFrame, keyCols: Seq[String], tsCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming NEAR-dup admission — the LSH banding of
    * `operators.Dedup.minHashLsh` as a streaming pipeline with bounded
    * state: each doc's MinHash signature is split into band buckets; the
    * first doc to claim a bucket within the watermark horizon owns it, and
    * a doc is admitted as NOVEL only if it claims ALL its buckets (any
    * collision ⇒ probable near-dup of an in-horizon doc ⇒ dropped). Two
    * chained stateful operators (bucket-dedup state + per-window count),
    * both watermark-evicted: state is O(buckets per horizon).
    *
    * Batch oracle: `nearDupNovelBatch` (keep-first per bucket by event
    * time, admit docs holding all bands) — parity spec in StreamingSpec.
    * Output: (idCol, window_start) of admitted docs, emitted on window
    * close (the cost of the second stateful op in append mode).
    */
  def nearDupNovelWithinWatermark(
      docs: DataFrame, idCol: String, textCol: String, tsCol: String = "ts",
      watermark: String = "10 minutes", windowWidth: String = "1 minute",
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val claimed = bandRows(docs, idCol, textCol, tsCol, shingleSize, numHashes, bands)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("band", "bucket"))
    claimed
      .groupBy(window(col(tsCol), windowWidth), col(idCol))
      .agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") === bands)
      .select(col(idCol), col("window.start").as("window_start"))
  }

  /** The batch form of the same admission rule (deterministic: buckets are
    * owned in (ts, id) order, not arrival order).
    */
  def nearDupNovelBatch(
      docs: DataFrame, idCol: String, textCol: String, tsCol: String = "ts",
      windowWidth: String = "1 minute",
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val owned = graft.operators.Ranking.keepFirst(
      bandRows(docs, idCol, textCol, tsCol, shingleSize, numHashes, bands),
      Seq(col("band"), col("bucket")),
      Seq(col(tsCol).asc, col(idCol).asc))
    owned
      .groupBy(window(col(tsCol), windowWidth), col(idCol))
      .agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") === bands)
      .select(col(idCol), col("window.start").as("window_start"))
  }

  private def bandRows(
      docs: DataFrame, idCol: String, textCol: String, tsCol: String,
      shingleSize: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = docs.sparkSession
    docs
      .withColumn("__hs",
        graft.functions.PolyHash.polyShingleHashes(col(textCol), shingleSize))
      .filter(size(col("__hs")) > 0)
      .withColumn("__sig", graft.functions.MinHashSig.expr(col("__hs"), numHashes))
      .select(col(idCol), col(tsCol),
        posexplode(graft.functions.PolyHash
          .polyBandBuckets(col("__sig"), bands, numHashes / bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  // ---- custom state: explicit session accumulation ------------------------

  case class Ev(user_id: Long, tsMicros: Long, value: Double)
  case class SessionState(startMicros: Long, lastMicros: Long, n: Long, valueSum: Double)
  case class SessionOut(user_id: Long, startMicros: Long, endMicros: Long, n: Long, valueSum: Double)

  /** Gap-based sessionization with explicit state — the
    * flatMapGroupsWithState form for when session output needs custom
    * finalization the built-in session_window can't express
    * (per-session derived fields, side lookups, early emission).
    * Emits closed sessions; open sessions stay in state until timeout.
    */
  def statefulSessions(
      events: Dataset[Ev], gapSeconds: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMicros = gapSeconds * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[List[SessionState]]) =>
          // Accumulate sorted within the micro-batch; sessions that the
          // batch closes are emitted, the trailing one is carried in state.
          val sorted = evs.toSeq.sortBy(e => (e.tsMicros, e.value))
          val initial = state.getOption.getOrElse(Nil)
          var open: Option[SessionState] = initial.headOption
          val closed = Seq.newBuilder[SessionOut]
          sorted.foreach { e =>
            open match {
              case Some(sess) if e.tsMicros - sess.lastMicros <= gapMicros =>
                open = Some(sess.copy(lastMicros = e.tsMicros,
                  n = sess.n + 1, valueSum = sess.valueSum + e.value))
              case other =>
                other.foreach(sess => closed +=
                  SessionOut(user, sess.startMicros, sess.lastMicros, sess.n, sess.valueSum))
                open = Some(SessionState(e.tsMicros, e.tsMicros, 1, e.value))
            }
          }
          state.update(open.toList)
          closed.result().iterator
      }
  }

  case class FunnelEv(user_id: Long, tsMicros: Long, stageIdx: Int)
  case class FunnelOut(user_id: Long, depth: Int, anchorMicros: Long)

  /** Per-user funnel state: the chain fold's `reached` vector over all
    * events proven final (ts < horizon), the max event time seen, and
    * the deduped raw events still inside the lateness window.
    */
  case class FunnelSt(
      committed: List[Long], maxSeenMicros: Long, raw: List[(Int, Long)])

  /** One step of the Journey.funnel chain fold, verbatim semantics:
    * strict `>` progression, window measured from the anchor.
    */
  private def chainStep(
      reached: Vector[Long], nStages: Int, windowMicros: Long,
      si: Int, t: Long): Vector[Long] =
    if (reached.size < nStages && si == reached.size &&
        (reached.isEmpty ||
          (t > reached.last && t <= reached.head + windowMicros)))
      reached :+ t
    else reached

  /** Pure per-batch state transition for [[statefulFunnel]] — exposed
    * for direct spec coverage of the pruning bounds.
    *
    * Retention bound: duplicates (same stage, same ts) never survive a
    * batch (a duplicate is a no-op in the chain fold — after the first
    * copy is consumed `si == reached.size` fails, so dedup is exact
    * under ANY arrival order). With a finite `allowedLatenessMicros`,
    * events older than `maxSeen − lateness` are folded into `committed`
    * (≤ nStages longs) and dropped: the fold sorts by (ts, stageIdx)
    * and the lateness contract says no future event sorts before the
    * horizon, so the fold state over the committed prefix is a
    * sufficient statistic — state is O(events inside the lateness
    * window), not O(all history). Once the COMMITTED chain is full the
    * raw tail is dropped entirely (a full chain consumes nothing more,
    * and under the contract no late event can revise its prefix).
    */
  private[graft] def advanceFunnel(
      st: FunnelSt, incoming: Seq[(Int, Long)], nStages: Int,
      windowMicros: Long, allowedLatenessMicros: Long)
      : (FunnelSt, Option[(Int, Long)]) = {
    val maxSeen = (st.maxSeenMicros +: incoming.map(_._2)).max
    val raw = (st.raw ++ incoming).distinct
    val horizon =
      if (allowedLatenessMicros == Long.MaxValue) Long.MinValue
      else {
        val h = maxSeen - allowedLatenessMicros
        if (h > maxSeen) Long.MinValue else h // saturate on underflow
      }
    val (toCommit, tail) = raw.partition(_._2 < horizon)
    var committed = st.committed.toVector
    toCommit.sortBy(x => (x._2, x._1)).foreach { case (si, t) =>
      committed = chainStep(committed, nStages, windowMicros, si, t)
    }
    val keptRaw = if (committed.size == nStages) Nil else tail
    var cur = committed
    keptRaw.sortBy(x => (x._2, x._1)).foreach { case (si, t) =>
      cur = chainStep(cur, nStages, windowMicros, si, t)
    }
    (FunnelSt(committed.toList, maxSeen, keptRaw),
      if (cur.nonEmpty) Some((cur.size, cur.head)) else None)
  }

  /** Incremental funnel progression — the streaming face of
    * `Journey.funnel`. The chained-min semantics is order-sensitive (a
    * late stage-1 event can shift the anchor and every later stage), so
    * per-user state keeps that user's funnel-stage events and the chain
    * recomputes per micro-batch. Emits the user's current
    * (depth, anchor) whenever a batch touches the user (Update mode);
    * the LAST emission per user equals the batch result (StreamingSpec
    * pins it under shuffled multi-batch arrival).
    *
    * State retention (ADVICE r7): duplicates are always deduped, and
    * `allowedLatenessMicros` bounds state to the events inside the
    * lateness window — older events fold into an O(nStages) committed
    * chain prefix (see [[advanceFunnel]] for the exactness argument).
    * The default (`Long.MaxValue`) keeps every distinct event, which is
    * the only exact choice under UNBOUNDED arrival disorder; pass a
    * finite bound for long-running streams with a watermark-style
    * lateness contract.
    */
  def statefulFunnel(
      events: Dataset[FunnelEv], nStages: Int, windowMicros: Long,
      allowedLatenessMicros: Long = Long.MaxValue): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelSt, FunnelOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[FunnelEv], state: GroupState[FunnelSt]) =>
          val st0 = state.getOption.getOrElse(
            FunnelSt(Nil, Long.MinValue, Nil))
          val (st1, out) = advanceFunnel(
            st0, evs.map(e => (e.stageIdx, e.tsMicros)).toSeq,
            nStages, windowMicros, allowedLatenessMicros)
          state.update(st1)
          out.iterator.map { case (depth, anchor) =>
            FunnelOut(user, depth, anchor)
          }
      }
  }

  // ---- sequential testing: SPRT as an anytime-valid stream monitor ------

  case class SprtEv(key: String, tsMicros: Long, tiebreak: Long,
      success: Long)

  /** Committed SPRT fold prefix + raw tail — the [[FunnelSt]] retention
    * scheme applied to the LLR walk. `decidedN == 0` means no crossing
    * committed yet (row numbers are 1-based, so 0 is free as a sentinel).
    */
  case class SprtSt(
      nC: Long, sC: Long, llrC: Long, decidedN: Long, decidedLlr: Long,
      maxSeenMicros: Long, raw: List[(Long, Long, Long)])

  case class SprtOut(
      key: String, n_events: Long, n_success: Long, decision: String,
      n_at_decision: Option[Long], llr_at_decision_bits: Option[Double],
      llr_final_bits: Double)

  /** The SPRT fold, verbatim [[graft.operators.Journey.sprt]] semantics:
    * (ts, tiebreak)-ordered walk, llr += l1 on success / l0 otherwise,
    * FIRST |llr| ≥ bound records (n, llr) as the decision point, the
    * walk continues to the final llr. Events must arrive sorted.
    */
  private def foldSprt(
      n0: Long, s0: Long, llr0: Long, decN0: Long, decLlr0: Long,
      evs: Iterator[(Long, Long, Long)], l1Fp: Long, l0Fp: Long,
      boundFp: Long): (Long, Long, Long, Long, Long) = {
    var n = n0; var s = s0; var llr = llr0
    var dN = decN0; var dLlr = decLlr0
    evs.foreach { case (_, _, succ) =>
      n += 1
      s += succ // n_success is sum(__s), exactly like the batch rollup
      llr += (if (succ == 1L) l1Fp else l0Fp)
      if (dN == 0L && math.abs(llr) >= boundFp) { dN = n; dLlr = llr }
    }
    (n, s, llr, dN, dLlr)
  }

  /** Pure per-batch state transition for [[sprtMonitor]] — exposed for
    * direct spec coverage of the commit/retention bounds.
    *
    * Retention: with a finite `allowedLatenessMicros`, events older than
    * `maxSeen − lateness` fold into the committed prefix (five longs)
    * and drop from state — the fold sorts by (ts, tiebreak) and the
    * lateness contract says no future event sorts before the horizon,
    * so the committed fold state is a sufficient statistic. UNLIKE
    * [[advanceFunnel]] there is deliberately NO dedup: the batch form
    * counts every row, so a genuine duplicate (ts, tiebreak) event
    * counts here too — exactly-once delivery is the harness's contract.
    */
  private[graft] def advanceSprt(
      st: SprtSt, incoming: Seq[(Long, Long, Long)], l1Fp: Long,
      l0Fp: Long, boundFp: Long, allowedLatenessMicros: Long)
      : (SprtSt, (Long, Long, Long, Long, Long)) = {
    val maxSeen = (st.maxSeenMicros +: incoming.map(_._1)).max
    val raw = st.raw ++ incoming
    val horizon =
      if (allowedLatenessMicros == Long.MaxValue) Long.MinValue
      else {
        val h = maxSeen - allowedLatenessMicros
        if (h > maxSeen) Long.MinValue else h // saturate on underflow
      }
    val (toCommit, tail) = raw.partition(_._1 < horizon)
    val (nC, sC, llrC, dN, dLlr) = foldSprt(
      st.nC, st.sC, st.llrC, st.decidedN, st.decidedLlr,
      toCommit.sortBy(e => (e._1, e._2)).iterator, l1Fp, l0Fp, boundFp)
    val st1 = SprtSt(nC, sC, llrC, dN, dLlr, maxSeen, tail)
    val cur = foldSprt(nC, sC, llrC, dN, dLlr,
      tail.sortBy(e => (e._1, e._2)).iterator, l1Fp, l0Fp, boundFp)
    (st1, cur)
  }

  /** [[graft.operators.Journey.sprt]] as a live stream monitor — the
    * operator's natural habitat: Wald's sequential test IS the
    * anytime-valid "stop the experiment at the first crossing" monitor,
    * so the streaming face emits each key's CURRENT verdict
    * (n_events, n_success, decision, stopping point, final LLR) every
    * micro-batch that touches the key (Update mode). The LAST emission
    * per key equals the batch operator's row on the same events —
    * StreamingSpec pins it against q288's exact frame under shuffled
    * 3-batch arrival.
    *
    * Order sensitivity: the LLR walk is (ts, tiebreak)-ordered and a
    * late event shifts every later step, so per-key state keeps the raw
    * events still inside the lateness window and recomputes the tail per
    * batch; events older than the horizon fold into an O(1) committed
    * prefix (see [[advanceSprt]]). The default lateness
    * (`Long.MaxValue`) keeps every event — the only exact choice under
    * unbounded disorder; pass a finite bound for long-running streams
    * with a watermark-style contract.
    *
    * STATE-SIZE WARNING (the unbounded default is deliberate but
    * expensive): with `allowedLatenessMicros = Long.MaxValue` EVERY
    * event per key stays in GroupState as a list that is re-sorted and
    * re-folded each micro-batch — unbounded growth and O(n log n) per
    * batch on exactly the long-running streams a monitor is for. The
    * default buys exactness under arbitrary disorder; any production
    * deployment should pass a finite lateness bound (events older than
    * `maxTs − bound` fold into the O(1) committed prefix and leave
    * state). The call logs one warning per monitor when left unbounded.
    *
    * Constants come from [[graft.operators.Journey.sprtConstants]] —
    * one definition feeds the batch operator, the oracle, and this
    * monitor.
    */
  def sprtMonitor(
      events: Dataset[SprtEv], l1Fp: Long, l0Fp: Long, boundFp: Long,
      allowedLatenessMicros: Long = Long.MaxValue): Dataset[SprtOut] = {
    require(l1Fp > 0 && l0Fp < 0 && boundFp > 0,
      s"need l1 > 0, l0 < 0, bound > 0: $l1Fp, $l0Fp, $boundFp")
    warnIfUnbounded("sprtMonitor", allowedLatenessMicros)
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[SprtSt, SprtOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, evs: Iterator[SprtEv], state: GroupState[SprtSt]) =>
          val st0 = state.getOption.getOrElse(
            SprtSt(0L, 0L, 0L, 0L, 0L, Long.MinValue, Nil))
          val (st1, (n, s, llr, dN, dLlr)) = advanceSprt(
            st0, evs.map(e => (e.tsMicros, e.tiebreak, e.success)).toSeq,
            l1Fp, l0Fp, boundFp, allowedLatenessMicros)
          state.update(st1)
          val decision =
            if (dN > 0L && dLlr >= boundFp) "accept_h1"
            else if (dN > 0L && dLlr <= -boundFp) "accept_h0"
            else "continue"
          Iterator.single(SprtOut(key, n, s, decision,
            if (dN > 0L) Some(dN) else None,
            if (dN > 0L) Some(dLlr.toDouble / (1L << 20)) else None,
            llr.toDouble / (1L << 20)))
      }
  }

  // ---- drift monitoring: CUSUM as a live stream monitor ------------------

  case class CusumEv(key: Long, tsMicros: Long, tiebreak: Long, x: Long)

  /** Committed CUSUM fold prefix + raw tail — [[SprtSt]]'s scheme for
    * the alarm-restart statistic. */
  case class CusumSt(nC: Long, alarmsC: Long, sC: Long,
      maxSeenMicros: Long, raw: List[(Long, Long, Long)])

  case class CusumOut(key: Long, n: Long, n_alarms: Long, final_s: Long)

  /** The CUSUM fold, verbatim [[graft.operators.Journey.cusum]]
    * semantics: (ts, tiebreak)-ordered walk, s' = max(0, s + x −
    * target); s' > threshold raises an alarm and restarts at 0.
    */
  private def foldCusum(n0: Long, a0: Long, s0: Long,
      evs: Iterator[(Long, Long, Long)], target: Long,
      threshold: Long): (Long, Long, Long) = {
    var n = n0; var a = a0; var s = s0
    evs.foreach { case (_, _, x) =>
      n += 1
      val s1 = math.max(0L, s + x - target)
      if (s1 > threshold) { a += 1; s = 0L } else s = s1
    }
    (n, a, s)
  }

  /** Pure per-batch transition for [[cusumMonitor]] — the
    * [[advanceSprt]] commit/retention scheme on the CUSUM fold (same
    * lateness contract, same deliberate NO-dedup: the batch fold
    * counts every row).
    */
  private[graft] def advanceCusum(
      st: CusumSt, incoming: Seq[(Long, Long, Long)], target: Long,
      threshold: Long, allowedLatenessMicros: Long)
      : (CusumSt, (Long, Long, Long)) = {
    val maxSeen = (st.maxSeenMicros +: incoming.map(_._1)).max
    val raw = st.raw ++ incoming
    val horizon =
      if (allowedLatenessMicros == Long.MaxValue) Long.MinValue
      else {
        val h = maxSeen - allowedLatenessMicros
        if (h > maxSeen) Long.MinValue else h // saturate on underflow
      }
    val (toCommit, tail) = raw.partition(_._1 < horizon)
    val (nC, aC, sC) = foldCusum(st.nC, st.alarmsC, st.sC,
      toCommit.sortBy(e => (e._1, e._2)).iterator, target, threshold)
    val st1 = CusumSt(nC, aC, sC, maxSeen, tail)
    val cur = foldCusum(nC, aC, sC,
      tail.sortBy(e => (e._1, e._2)).iterator, target, threshold)
    (st1, cur)
  }

  /** [[graft.operators.Journey.cusum]] as a live stream monitor — the
    * per-source drift alarm a training-data ingest actually runs as a
    * stream: each micro-batch that touches a key emits that key's
    * CURRENT (n, n_alarms, final_s) (Update mode), and the LAST
    * emission per key equals the batch operator's row on the same
    * events — StreamingSpec pins it against q198's exact frame under
    * shuffled 3-batch arrival. State and lateness semantics are
    * [[sprtMonitor]]'s (raw events inside the window + an O(1)
    * committed fold; no dedup), INCLUDING its state-size warning: the
    * `Long.MaxValue` default keeps every event per key in GroupState —
    * pass a finite lateness bound for long-running streams.
    */
  def cusumMonitor(
      events: Dataset[CusumEv], target: Long, threshold: Long,
      allowedLatenessMicros: Long = Long.MaxValue): Dataset[CusumOut] = {
    require(threshold > 0, s"threshold must be positive: $threshold")
    warnIfUnbounded("cusumMonitor", allowedLatenessMicros)
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[CusumSt, CusumOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, evs: Iterator[CusumEv], state: GroupState[CusumSt]) =>
          val st0 = state.getOption.getOrElse(
            CusumSt(0L, 0L, 0L, Long.MinValue, Nil))
          val (st1, (n, a, s)) = advanceCusum(
            st0, evs.map(e => (e.tsMicros, e.tiebreak, e.x)).toSeq,
            target, threshold, allowedLatenessMicros)
          state.update(st1)
          Iterator.single(CusumOut(key, n, a, s))
      }
  }

  // ---- drift monitoring: EWMA level as a live stream monitor -------------

  case class EwmaEv(key: Long, tsMicros: Long, tiebreak: Long, x: Long)

  /** Committed EWMA fold prefix + raw tail — [[SprtSt]]'s scheme for
    * the level statistic. `seededC` is the explicit seeded flag (the
    * [[graft.operators.Journey.ewmaFixed]] rationale: a sentinel value
    * could collide with a real first observation). */
  case class EwmaSt(nC: Long, vC: Long, seededC: Boolean,
      maxSeenMicros: Long, raw: List[(Long, Long, Long)])

  case class EwmaOut(key: Long, n: Long, ewma_fp: Long)

  /** The EWMA fold, verbatim [[graft.operators.Journey.ewmaFixed]]
    * semantics: (ts, tiebreak)-ordered walk, seeded with the first
    * value, then `v' = (x·2²⁰ + (d−1)·v) div d` — truncating division
    * toward zero, exactly the batch operator's `expr_div`. Exact-math
    * ops: an overflow fails loud (the batch side's ANSI convention),
    * never wraps silently.
    */
  private def foldEwma(n0: Long, v0: Long, seeded0: Boolean,
      evs: Iterator[(Long, Long, Long)], d: Int): (Long, Long, Boolean) = {
    var n = n0; var v = v0; var seeded = seeded0
    evs.foreach { case (_, _, x) =>
      n += 1
      val xq = math.multiplyExact(x, 1L << 20)
      v = if (!seeded) { seeded = true; xq }
      else math.addExact(xq, math.multiplyExact(v, (d - 1).toLong)) / d
    }
    (n, v, seeded)
  }

  /** Pure per-batch transition for [[ewmaMonitor]] — the
    * [[advanceSprt]] commit/retention scheme on the EWMA fold (same
    * lateness contract, same deliberate NO-dedup).
    */
  private[graft] def advanceEwma(
      st: EwmaSt, incoming: Seq[(Long, Long, Long)], d: Int,
      allowedLatenessMicros: Long)
      : (EwmaSt, (Long, Long, Boolean)) = {
    val maxSeen = (st.maxSeenMicros +: incoming.map(_._1)).max
    val raw = st.raw ++ incoming
    val horizon =
      if (allowedLatenessMicros == Long.MaxValue) Long.MinValue
      else {
        val h = maxSeen - allowedLatenessMicros
        if (h > maxSeen) Long.MinValue else h // saturate on underflow
      }
    val (toCommit, tail) = raw.partition(_._1 < horizon)
    val (nC, vC, seededC) = foldEwma(st.nC, st.vC, st.seededC,
      toCommit.sortBy(e => (e._1, e._2)).iterator, d)
    val st1 = EwmaSt(nC, vC, seededC, maxSeen, tail)
    val cur = foldEwma(nC, vC, seededC,
      tail.sortBy(e => (e._1, e._2)).iterator, d)
    (st1, cur)
  }

  /** [[graft.operators.Journey.ewmaFixed]] as a live stream monitor —
    * the LEVEL face of the drift family ([[sprtMonitor]] answers
    * "which hypothesis", [[cusumMonitor]] "has the level shifted past
    * a threshold", this one "what IS the smoothed level right now" —
    * the statistic a dashboard reads and an alerting rule thresholds
    * downstream): each micro-batch that touches a key emits that key's
    * CURRENT (n, ewma_fp) (Update mode, 2²⁰ fixed point), and the LAST
    * emission per key equals the batch operator's row on the same
    * events — StreamingSpec pins it against q190's exact frame under
    * shuffled 3-batch arrival. State and lateness semantics are
    * [[sprtMonitor]]'s (raw events inside the window + an O(1)
    * committed fold; no dedup), INCLUDING its state-size warning: the
    * `Long.MaxValue` default keeps every event per key in GroupState —
    * pass a finite lateness bound for long-running streams.
    *
    * @param d smoothing denominator (α = 1/d), the batch operator's
    *          parameter — q190 runs d = 4
    */
  def ewmaMonitor(
      events: Dataset[EwmaEv], d: Int,
      allowedLatenessMicros: Long = Long.MaxValue): Dataset[EwmaOut] = {
    require(d >= 2, s"smoothing denominator must be >= 2: $d")
    warnIfUnbounded("ewmaMonitor", allowedLatenessMicros)
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[EwmaSt, EwmaOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, evs: Iterator[EwmaEv], state: GroupState[EwmaSt]) =>
          val st0 = state.getOption.getOrElse(
            EwmaSt(0L, 0L, seededC = false, Long.MinValue, Nil))
          val (st1, (n, v, seeded)) = advanceEwma(
            st0, evs.map(e => (e.tsMicros, e.tiebreak, e.x)).toSeq,
            d, allowedLatenessMicros)
          state.update(st1)
          // a key only reaches here with ≥1 event, so seeded always
          // holds — kept as a loud invariant rather than an Option
          assert(seeded, s"ewmaMonitor: unseeded emission for key $key")
          Iterator.single(EwmaOut(key, n, v))
      }
  }

  /** Watermarked interval join — the ad-attribution / sensor-correlation
    * shape: every right event matched to the left events of the same key
    * whose timestamp it follows within `horizon` (rightTs ∈ [leftTs,
    * leftTs + horizon], both bounds inclusive). On STREAMING inputs this
    * is Spark's stream-stream symmetric hash join: both sides are
    * watermarked and the time-range condition lets the state store evict
    * left rows older than (watermark − horizon) — bounded state on an
    * unbounded stream. On BATCH frames the watermark node is eliminated
    * and the SAME plan runs as an ordinary equi+range join — which is
    * exactly how StreamingSpec pins stream ≡ batch and how q299 puts the
    * batch form on the oracle surface.
    *
    * Inner join: matches emit as soon as both rows have arrived (the
    * watermark bounds EVICTION, not emission). A right row arriving
    * later than `watermark` after its left partner can be dropped by
    * state cleanup — size the watermark to the pipeline's real lateness,
    * the standard stream-stream lateness contract.
    *
    * Column names must be disjoint across the two sides (the join
    * condition references both frames by name).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      horizon: String, watermark: String = "10 minutes"): DataFrame = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"intervalJoin sides share column names: ${overlap.mkString(", ")}")
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) &&
          col(rightTs) <= col(leftTs) + expr(s"INTERVAL $horizon"))
  }
}
