package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming counterparts of the batch event queries
  * (q17/q19): the same transform runs incrementally over a stream —
  * watermarked windowed aggregation, and gap-based sessionization as
  * explicit state with flatMapGroupsWithState. Batch/streaming
  * unification: each function takes a generic DataFrame/Dataset, so
  * the identical code path serves `read` and `readStream` inputs
  * (withWatermark is a no-op on batch).
  */
object EventStreams {

  /** Epoch MICROS of a Timestamp: `getTime` truncates to ms and the
    * events table carries µs precision, so ms-grained state would
    * mis-order events inside the same millisecond. `getTime * 1000 +
    * sub-ms remainder` is correct for any epoch sign (getNanos is the
    * always-positive sub-second, already counted once in getTime's ms
    * — only its sub-ms remainder is added).
    */
  private def microsOf(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Event-time schema used by the typed sessionizer. */
  final case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** One closed session. */
  final case class Session(
      user_id: Long,
      session_id: Long,
      n_events: Long,
      session_value: Double,
      start_ts: java.sql.Timestamp,
      end_ts: java.sql.Timestamp)

  /** Open-session state carried between micro-batches. */
  final case class SessionState(
      session_id: Long,
      n_events: Long,
      sum_value: Double,
      start_ms: Long,
      last_ms: Long)

  /** Tumbling 1-hour counts/sums per event_type with a 2-hour
    * watermark: late events beyond the watermark are dropped, closed
    * windows emit exactly once in append mode.
    */
  def hourlyWindowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("hour_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Gap-based sessionization (same 30-minute-gap semantics as the
    * batch q19 lag+running-sum form) as explicit keyed state: events
    * extend the open session; a gap larger than `gapSeconds` closes it
    * and emits it; event-time timeout closes idle sessions once the
    * watermark passes. State is one small record per active user —
    * O(active users), not O(events).
    *
    * Identity note: `session_id` is an ordinal that restarts after a
    * timeout evicts the user's state (keeping a counter for every
    * ever-seen user would make state O(all users)); the globally
    * unique session key is (user_id, start_ts), which is always
    * emitted.
    */
  def sessionize(
      events: Dataset[Ev],
      gapSeconds: Long = 1800L): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapSeconds * 1000L

    def flush(
        userId: Long,
        evs: Iterator[Ev],
        state: GroupState[SessionState]): Iterator[Session] = {
      var closed = List.empty[Session]
      if (state.hasTimedOut) {
        state.getOption.foreach { s =>
          closed ::= Session(userId, s.session_id, s.n_events, s.sum_value,
            new java.sql.Timestamp(s.start_ms), new java.sql.Timestamp(s.last_ms))
        }
        state.remove()
      } else {
        var cur = state.getOption
        evs.toSeq.sortBy(_.ts.getTime).foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.last_ms <= gapMs =>
              // out-of-order (in-watermark) events may precede the
              // recorded start — track the true session extent
              cur = Some(s.copy(
                n_events = s.n_events + 1,
                sum_value = s.sum_value + e.value,
                start_ms = math.min(s.start_ms, t),
                last_ms = math.max(s.last_ms, t)))
            case Some(s) =>
              closed ::= Session(userId, s.session_id, s.n_events, s.sum_value,
                new java.sql.Timestamp(s.start_ms), new java.sql.Timestamp(s.last_ms))
              cur = Some(SessionState(s.session_id + 1, 1L, e.value, t, t))
            case None =>
              cur = Some(SessionState(1L, 1L, e.value, t, t))
          }
        }
        cur.foreach { s =>
          state.update(s)
          // close the session once event time passes last_ms + gap
          state.setTimeoutTimestamp(s.last_ms + gapMs)
        }
      }
      closed.reverseIterator
    }

    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(flush)
  }

  /** Streaming exact dedup: drop re-deliveries of the same key within
    * the watermark horizon. State is bounded by the watermark (keys
    * older than it are evicted) — the streaming counterpart of d01 for
    * continuously-ingested corpora.
    */
  def streamingDedup(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Per-window heavy-hitters sketch: each tumbling 1-hour window
    * accumulates one Count-Min grid over `keyCol`
    * (graft.functions.CountMinSketch) instead of a per-key count —
    * streaming state per window is the constant 32 KiB grid, not
    * O(distinct keys). The UDAF's elementwise-add merge is exactly
    * what incremental aggregation needs: partial grids fold across
    * micro-batches in any order, so the emitted sketch is
    * bit-identical to the batch sketch over the same rows no matter
    * where the micro-batch boundaries fall (EventStreamsSpec). Probe
    * the emitted grid with `CountMinSketch.probe`.
    */
  def windowedKeySketch(events: DataFrame, tsCol: String, keyCol: String): DataFrame = {
    val cms = udaf(graft.functions.CountMinSketch)
    events
      .withWatermark(tsCol, "2 hours")
      // a null key hashes to null buckets and would NPE inside the
      // aggregator's unboxing — nulls carry no countable identity, drop
      .filter(col(keyCol).isNotNull)
      .select(col(tsCol), graft.functions.CountMinSketch.buckets(col(keyCol)).as("bks"))
      .groupBy(window(col(tsCol), "1 hour"))
      .agg(cms(col("bks")).as("sketch"))
      .select(col("window.start").as("hour_start"), col("sketch"))
  }

  /** Per-window top-k heavy hitters from emitted Count-Min grids — the
    * READING face of [[windowedKeySketch]] (q55's composition,
    * streamed): the stream maintains only the constant-size grid per
    * window; ranking happens on read by probing each window's grid
    * with a candidate WATCHLIST (the production monitoring pattern —
    * per-window top-k without per-key streaming state). Ranking runs
    * on the probe ESTIMATE (est DESC, key ASC tie-break), so every
    * key whose true in-window count exceeds the k-th largest estimate
    * is guaranteed present (CMS never undercounts). Deterministic and
    * order-independent because the grid itself is (windowedKeySketch's
    * stream ≡ batch pin carries over verbatim — EventStreamsSpec).
    *
    * `grids` is the (hour_start, sketch) output of
    * [[windowedKeySketch]] read back as a batch frame (memory sink,
    * parquet sink, …); rank-on-read keeps the window function OFF the
    * streaming plan, where per-window ranking is unsupported anyway.
    */
  def windowedTopK(
      grids: DataFrame,
      candidates: Seq[String],
      k: Int = 5): DataFrame = {
    val spark = grids.sparkSession
    import spark.implicits._
    val cand = broadcast(candidates.toDF("key"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hour_start"))
      .orderBy(col("est_cnt").desc, col("key").asc)
    grids.crossJoin(cand)
      .select(col("hour_start"), col("key"),
        graft.functions.CountMinSketch.probe(col("sketch"), col("key")).as("est_cnt"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Per-hour distinct-key estimate via the KMV min-K sketch UDAF
    * (`MinKSketch` — the streaming form of q42): state per window is
    * ≤ K longs however many events arrive, the union-merge is
    * commutative + idempotent, so the emitted sketch (and therefore
    * the estimate) is bit-identical to the batch sketch over the same
    * rows regardless of micro-batch boundaries OR re-deliveries of
    * the same key (EventStreamsSpec). The distinct-count sibling of
    * [[windowedKeySketch]]'s frequency grid.
    */
  def windowedDistinctSketch(events: DataFrame, tsCol: String, keyCol: String): DataFrame = {
    val mk = udaf(graft.functions.MinKSketch)
    events
      .withWatermark(tsCol, "2 hours")
      .filter(col(keyCol).isNotNull)
      .select(col(tsCol),
        graft.functions.exprs.token_hash60(col(keyCol).cast("string")).as("h"))
      .groupBy(window(col(tsCol), "1 hour"))
      .agg(mk(col("h")).as("sketch"))
      .select(col("window.start").as("hour_start"), col("sketch"),
        graft.functions.MinKSketch.estimate(col("sketch")).as("est_distinct"))
  }

  /** Per-hour weighted reservoir sample via the top-k-by-key UDAF
    * (`TopKByKey` — the streaming form of t18's Efraimidis–Spirakis
    * sample): each event keys ln(u)/w from the portable hash, the
    * window keeps the k best (key, id) pairs — ≤ k tuples of state
    * however many events arrive, idempotent under re-delivery
    * (re-sent events carry the same deterministic key and dedupe).
    * EventStreamsSpec pins stream == batch across splits AND a
    * wholesale re-delivery, and that the emitted reservoir equals the
    * window-function sample (`WeightedSample.samplePerGroup`) computed
    * independently over the same hours.
    */
  def windowedWeightedSample(
      events: DataFrame,
      tsCol: String,
      idCol: String,
      weightCol: String,
      k: Int = 10): DataFrame = {
    val topk = udaf(graft.functions.TopKByKey(k))
    events
      .withWatermark(tsCol, "2 hours")
      .filter(col(idCol).isNotNull && col(weightCol).isNotNull && col(weightCol) > 0)
      .select(col(tsCol),
        graft.operators.WeightedSample.sampleKey(col(idCol), col(weightCol)).as("samp_key"),
        col(idCol).cast("long").as("id"))
      .groupBy(window(col(tsCol), "1 hour"))
      .agg(topk(col("samp_key"), col("id")).as("sample"))
      .select(col("window.start").as("hour_start"), col("sample"))
  }

  /** Stream-stream inner join with an event-time interval condition
    * (click attribution: each click matches the same user's views in
    * the preceding `horizonMinutes`). Both sides carry watermarks, so
    * the join state is bounded: a buffered view is evicted once the
    * click-side watermark passes `view_ts + horizon` — state is
    * O(events inside the horizon), not O(stream). The same code runs
    * on batch inputs (watermarks are no-ops there), so batch == stream
    * is directly testable.
    */
  def clickAttribution(
      views: DataFrame,
      clicks: DataFrame,
      horizonMinutes: Int = 30): DataFrame = {
    val v = views
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val c = clicks
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    c.join(v, expr(
      s"""v_user = c_user AND
          view_ts <= click_ts AND
          view_ts >= click_ts - INTERVAL $horizonMinutes MINUTES"""))
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
        col("click_ts"), col("view_ts"))
  }

  /** Typed event for the streaming funnel. */
  final case class FunnelEv(user_id: Long, ts: java.sql.Timestamp, event_type: String)

  /** One user's finalized funnel (t2/t3 null when the stage was never
    * causally reached).
    */
  final case class FunnelRow(
      user_id: Long,
      t1: java.sql.Timestamp,
      t2: Option[java.sql.Timestamp],
      t3: Option[java.sql.Timestamp])

  /** Candidate state for one user. `v` = min view ms (MaxValue until a
    * view arrives); `clicks`/`purchases` are ASC-sorted candidate
    * lists pruned by the dominance rule below; `lastMs` drives the
    * emission timeout.
    */
  final case class FunnelState(
      v: Long, clicks: List[Long], purchases: List[Long], lastMs: Long)

  /** Streaming conversion funnel — q44's per-user stage computation
    * (first view, first click strictly after it, first purchase
    * strictly after that) as watermark-bounded keyed state, emitting
    * each user's finalized funnel once event time passes their last
    * activity plus the idle horizon. Exactness under out-of-order
    * (in-watermark) arrival is the hard part: a late-arriving EARLIER
    * view lowers t1, which can retroactively make an already-seen
    * click the new t2 — so discarded candidates must never be ones a
    * lower t1 could resurrect.
    *
    * Dominance pruning keeps state small AND exact: t1 only ever
    * DECREASES, so a click is a live candidate iff ts <= current t1's
    * min-view (it becomes eligible if t1 drops below it) or it is the
    * single smallest click above it (the current t2 answer and an
    * upper bound on the final one); every later click is dominated and
    * dropped. Purchases prune identically against the current t2.
    * State per user is therefore O(stage-events preceding the first
    * qualifying earlier-stage hit) — typically a handful; worst case
    * (clicks forever, view never arrives) grows with the user's
    * clicks until the idle timeout evicts — the honest bound, stated
    * rather than hidden.
    *
    * `idleTimeoutMinutes` is the ATTRIBUTION WINDOW: a user idle that
    * long (event time) has their funnel finalized and emitted, and a
    * later return starts a fresh funnel — the production semantics
    * for conversion attribution. Stream == the batch q44 stage
    * computation therefore holds exactly when the window exceeds the
    * corpus's max intra-user gap (one funnel per user);
    * FunnelStreamSpec pins that equivalence across micro-batch
    * splits, including the resurrection case.
    */
  def streamingFunnel(
      events: Dataset[FunnelEv],
      idleTimeoutMinutes: Int = 120): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    val idleMs = idleTimeoutMinutes * 60000L

    def tsOf(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(us / 1000L)
      t.setNanos((((us / 1000L) % 1000L) * 1000000L + (us % 1000L) * 1000L).toInt)
      t
    }

    def firstAfter(xs: List[Long], t: Long): Option[Long] = xs.find(_ > t)

    def prune(s: FunnelState): FunnelState = {
      val clicks = s.clicks.filter(_ <= s.v) ++ firstAfter(s.clicks, s.v)
      val t2 = firstAfter(clicks, s.v).getOrElse(Long.MaxValue)
      val purchases = s.purchases.filter(_ <= t2) ++ firstAfter(s.purchases, t2)
      s.copy(clicks = clicks, purchases = purchases)
    }

    def finalize(userId: Long, s: FunnelState): Option[FunnelRow] =
      if (s.v == Long.MaxValue) None
      else {
        val t2 = firstAfter(s.clicks, s.v)
        val t3 = t2.flatMap(t => firstAfter(s.purchases, t))
        Some(FunnelRow(userId, tsOf(s.v), t2.map(tsOf), t3.map(tsOf)))
      }

    def flush(
        userId: Long,
        evs: Iterator[FunnelEv],
        state: GroupState[FunnelState]): Iterator[FunnelRow] =
      if (state.hasTimedOut) {
        val out = state.getOption.flatMap(s => finalize(userId, s))
        state.remove()
        out.iterator
      } else {
        var emitted = List.empty[FunnelRow]
        var s = state.getOption.getOrElse(
          FunnelState(Long.MaxValue, Nil, Nil, Long.MinValue))
        // sorted so the in-batch gap check below sees event-time order
        // (the stage minima themselves are order-independent)
        evs.toSeq.sortBy(e => microsOf(e.ts)).foreach { e =>
          val t = microsOf(e.ts) // stage lists in micros (full precision)
          // the attribution window must not depend on where micro-batch
          // boundaries fall: a gap larger than the window INSIDE a
          // batch finalizes the open funnel exactly as a timeout would
          if (s.lastMs != Long.MinValue && e.ts.getTime - s.lastMs > idleMs) {
            emitted = emitted ++ finalize(userId, s)
            s = FunnelState(Long.MaxValue, Nil, Nil, Long.MinValue)
          }
          s = e.event_type match {
            case "view" => s.copy(v = math.min(s.v, t))
            case "click" => s.copy(clicks = (t :: s.clicks).distinct.sorted)
            case "purchase" => s.copy(purchases = (t :: s.purchases).distinct.sorted)
            case _ => s
          }
          s = s.copy(lastMs = math.max(s.lastMs, e.ts.getTime)) // timeout clock in ms
        }
        s = prune(s)
        state.update(s)
        state.setTimeoutTimestamp(s.lastMs + idleMs)
        emitted.iterator
      }

    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(flush)
  }

  /** Event for the ordered-transition stream (q46/q48's input shape:
    * ts ties order by event_id).
    */
  final case class TransEv(
      user_id: Long, ts: java.sql.Timestamp, event_id: Long, event_type: String)

  /** One emitted transition — q46's (user, prev, cur) row. */
  final case class TransitionRow(user_id: Long, prev_type: String, event_type: String)

  /** A buffered event awaiting watermark finality. */
  final case class PendingEv(ts_ms: Long, event_id: Long, event_type: String)

  /** Per-user reorder state: the last FLUSHED event (the chain link)
    * plus the in-watermark pending buffer.
    */
  final case class TransState(last: Option[PendingEv], pending: Seq[PendingEv])

  /** Streaming face of q46's transition extraction — the streaming
    * `lag`: emit each user's (prev_type, event_type) pairs in exact
    * (ts, event_id) order even when events ARRIVE out of order. The
    * primitive is a watermark-bounded REORDER BUFFER: an event is
    * emitted into the chain only once the watermark passes its
    * timestamp (no earlier in-watermark arrival can still precede
    * it — Spark drops anything older than the watermark), so the
    * emitted order is final by construction and stream ≡ batch holds
    * across ANY micro-batch split. Downstream, q46's census and
    * q48's surprisal are additive over these rows, so the whole
    * Markov family runs incrementally from this one operator.
    *
    * State: the pending buffer is bounded by the watermark horizon
    * (events leave as the watermark passes them — event-time timeouts
    * re-invoke idle users so a buffered event never waits for its
    * user's next arrival); the chain link (`last`) is one small
    * record per ever-seen user, which is what batch `lag` semantics
    * REQUIRE — a production deployment bounds it with an idle horizon
    * (the funnel's attribution-window pattern) at the cost of
    * restarting chains after long gaps.
    */
  def orderedTransitions(events: Dataset[TransEv]): Dataset[TransitionRow] = {
    import events.sparkSession.implicits._

    def flush(
        userId: Long,
        evs: Iterator[TransEv],
        state: GroupState[TransState]): Iterator[TransitionRow] = {
      val wm = state.getCurrentWatermarkMs()
      val st = state.getOption.getOrElse(TransState(None, Nil))
      val all = st.pending ++ evs.map(e =>
        PendingEv(e.ts.getTime, e.event_id, e.event_type))
      // strict < : an event AT the watermark could still be joined by
      // an equal-ts, smaller-event_id arrival (only ts < wm is late-
      // dropped), so only strictly-passed events have final order
      val (ready, hold) = all.partition(_.ts_ms < wm)
      val sortedReady = ready.sortBy(p => (p.ts_ms, p.event_id))
      val chain = st.last.toSeq ++ sortedReady
      val out = chain.sliding(2).collect {
        case Seq(a, b) => TransitionRow(userId, a.event_type, b.event_type)
      }.toList
      val newLast = if (sortedReady.nonEmpty) Some(sortedReady.last) else st.last
      state.update(TransState(newLast, hold))
      if (hold.nonEmpty)
        // fires once the watermark strictly passes the earliest held
        // event (timeout ts must itself exceed the current watermark)
        state.setTimeoutTimestamp(math.max(wm + 1, hold.map(_.ts_ms).min + 1))
      out.iterator
    }

    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(flush)
  }

  /** Streaming face of q57's keyless range join: per error event, the
    * count/value-sum of ALL events in the strictly-preceding
    * `windowSec` seconds, as a STREAM-STREAM interval join — Spark's
    * native watermark-bounded two-sided buffer (each side holds only
    * the watermark horizon) — followed by a downstream aggregation,
    * the chained-stateful-operators shape Spark supports in append
    * mode since 3.4. The aggregation grooups by (err_id, its tumbling
    * event-time window): err_id alone could never FINALIZE in append
    * mode (no watermark bound closes a bare key), while the window key
    * closes each error's group exactly once — an error belongs to one
    * window, so the extra key changes no value, only adds the
    * finalization bound. LEFT OUTER keeps zero-match errors: the join
    * emits their null-matched row once the watermark proves no match
    * can still arrive, exactly the batch q57 semantics. Both sides
    * take the same DataFrame in batch mode (watermarks no-op), so the
    * identical code path serves `read` and `readStream`.
    */
  def streamingRangeCounts(
      errs: DataFrame,
      all: DataFrame,
      windowSec: Int = 10,
      salts: Int = 8): DataFrame = {
    val wUs = windowSec * 1000000L
    // Spark refuses a stream-stream join with NO equality predicate —
    // the same wall the batch q57 hits as BroadcastNestedLoop. The
    // same time-bucket trick fixes both: bucket width = window length,
    // each error interval covers exactly 2 buckets (exploded), each
    // event exactly 1, and the join gains the equi-key that keys its
    // state store. A right row matches via exactly one bucket, so the
    // explode duplicates no match; the unmatched bucket copy's
    // left-outer null row adds nothing to count(r_ts).
    //
    // The bucket doubles as the state-store key, so a flash-crowd
    // burst would pile one bucket's rows into one state partition —
    // salted exactly like the batch q57: the right side keeps one
    // deterministic (xxhash64(event_id) mod salts) home, the exploded
    // left replicates across all salts, and the per-error aggregate is
    // salt-invariant. Money is integer CENTS (q57's convention):
    // FP-order-free across micro-batch splits by construction.
    val e = errs
      .select(col("event_id").as("err_id"), col("ts").as("err_ts"),
        explode(array(
          expr(s"unix_micros(ts) div $wUs - 1"),
          expr(s"unix_micros(ts) div $wUs"))).as("e_bucket"))
      .withColumn("e_salt", explode(sequence(lit(0), lit(salts - 1))))
      .withWatermark("err_ts", "2 hours")
    val r = all
      .select(col("ts").as("r_ts"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"),
        expr(s"unix_micros(ts) div $wUs").as("r_bucket"),
        pmod(xxhash64(col("event_id")), lit(salts)).cast("int").as("r_salt"))
      .withWatermark("r_ts", "2 hours")
    e.join(r,
      expr(s"""e_bucket = r_bucket AND e_salt = r_salt AND
               r_ts >= err_ts - INTERVAL $windowSec SECONDS AND
               r_ts < err_ts"""),
      "leftOuter")
      .groupBy(col("err_id"), window(col("err_ts"), s"$windowSec seconds"))
      .agg(
        count(col("r_ts")).as("n_prior"),
        coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
      .select(col("err_id").as("event_id"), col("n_prior"), col("sum_cents"))
  }

  /** Typed event for the streaming as-of join: one stream carrying
    * both sides, `tag` 0 = right (click/feature update), 1 = left
    * (purchase/label event).
    */
  final case class AsofEv(
      user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      tag: Int, value: Double)

  /** A buffered as-of event (µs-precision event time — ms would
    * reorder sub-ms neighbors differently than the batch window).
    */
  final case class AsofPending(us: Long, event_id: Long, tag: Int, value: Double)

  /** Per-user state of the UNIFIED streaming as-of machine
    * ([[streamingAsofJoin]]): `anchor` is backward-only — the single
    * best already-final right row (max (ts, id) among flushed rights);
    * `lefts` are unemitted left events awaiting finality; `rights` are
    * buffered candidate rights still needed by some pending or future
    * left. Forward never uses the anchor (its matches lie ahead, never
    * behind the watermark).
    */
  final case class AsofUniState(
      anchor: Option[AsofPending],
      lefts: Seq[AsofPending],
      rights: Seq[AsofPending])

  /** One joined left row of [[streamingAsofJoin]]: the matched right
    * (None when none qualifies) and the non-negative gap along the
    * traversal direction (left − right backward, right − left forward).
    */
  final case class AsofJoinedRow(
      user_id: Long, event_id: Long, matched_id: Option[Long],
      matched_value: Option[Double], gap_us: Option[Long])

  /** One joined left row (fields match q56's output; None = no right
    * row at-or-before the left event).
    */
  final case class AsofRow(
      user_id: Long, event_id: Long, click_id: Option[Long],
      click_value: Option[Double], lag_us: Option[Long])

  /** One joined row of the FORWARD streaming as-of (fields match
    * q61's read: the next right row, or None when none arrives within
    * the tolerance).
    */
  final case class AsofFwdRow(
      user_id: Long, event_id: Long, next_id: Option[Long],
      next_value: Option[Double], gap_us: Option[Long])

  /** The streaming as-of join, BOTH directions through ONE state
    * machine — the incremental face of `operators.AsofJoin`, with the
    * same surface: `direction` backward (latest right at-or-before;
    * q56's point-in-time read) or forward (earliest right at-or-after;
    * q61's time-to-next-event read), `tolUs` the optional max-gap cap.
    * The batch operator proved direction is a sign flip on one
    * traversal axis; here the same unification holds with the axis
    * replaced by a FINALITY HORIZON — the only piece of the machine
    * that differs per direction:
    *
    *  - a left at t is final when the watermark strictly passes its
    *    horizon: t backward (an equal-or-earlier right could still
    *    arrive until then — `>=` inclusivity), t + tol forward (any
    *    later-arriving right ≤ t + tol would be late-dropped). Forward
    *    therefore REQUIRES a tolerance: uncapped, a left could never
    *    finalize (the match may lie arbitrarily far ahead — unbounded
    *    state and emission latency).
    *  - a final left matches against the buffered rights (plus, for
    *    backward, the anchor): backward takes the max (ts, id) right in
    *    [t − tol, t], forward the min (ts, −id) right in [t, t + tol] —
    *    the batch window's exact tie order (equal-ts ties → max id).
    *    Every emitted row is final, so stream ≡ batch holds across ANY
    *    micro-batch split (AsofStreamSpec / AsofFwdStreamSpec).
    *
    * State bounds and reclamation (all watermark-driven, via
    * event-time timeouts that re-invoke idle users):
    *
    *  - lefts live until their finality horizon passes;
    *  - backward folds final rights into the ONE anchor record and
    *    drops the rest; the anchor is what as-of semantics require for
    *    ever-seen users — kept forever without a tolerance, swept once
    *    the watermark is more than `tol` past it otherwise (no future
    *    left can reach back that far);
    *  - forward keeps a right only while some pending-or-future left
    *    can still have it in window (r ≥ min(earliest pending left,
    *    watermark)) and sweeps the buffer as the watermark advances
    *    even when no further event arrives;
    *  - a user whose anchor, lefts and rights are all gone is REMOVED
    *    from the store entirely — forward (and capped backward) state
    *    does not grow with ever-seen users (AsofStreamSpec pins the
    *    store row counts).
    *
    * CHECKPOINT COMPATIBILITY: the r15 unification replaced the two
    * per-direction state encoders (AsofState / AsofFwdState) with
    * [[AsofUniState]]. flatMapGroupsWithState state schemas are baked
    * into streaming checkpoints, so a streamingAsof/streamingAsofForward
    * query checkpointed on a pre-r15 build CANNOT be resumed on this
    * one (restart fails or misdecodes state) — restart those streams
    * from a fresh checkpoint directory. Equally, any future change to
    * AsofUniState's shape breaks checkpoints written by this build.
    */
  def streamingAsofJoin(
      events: Dataset[AsofEv],
      direction: String,
      tolUs: Option[Long]): Dataset[AsofJoinedRow] = {
    import events.sparkSession.implicits._
    val forward = direction match {
      case "forward" => true
      case "backward" => false
      case other => throw new IllegalArgumentException(
        s"direction must be backward or forward, got $other")
    }
    tolUs.foreach(t => require(t >= 0, s"tolerance must be >= 0, got $t"))
    require(!forward || tolUs.isDefined,
      "forward streaming as-of requires a tolerance (uncapped forward never finalizes)")

    // strict <: an event AT the watermark ms could still be matched by
    // an equal-ts arrival (only ts < wm is late-dropped)
    def horizonMs(p: AsofPending): Long =
      (p.us + (if (forward) tolUs.get else 0L)) / 1000L

    def flush(
        userId: Long,
        evs: Iterator[AsofEv],
        state: GroupState[AsofUniState]): Iterator[AsofJoinedRow] = {
      val wm = state.getCurrentWatermarkMs()
      val st = state.getOption.getOrElse(AsofUniState(None, Nil, Nil))
      val arrivals = evs.map(e =>
        AsofPending(microsOf(e.ts), e.event_id, e.tag, e.value)).toSeq
      val lefts = st.lefts ++ arrivals.filter(_.tag == 1)
      val rights = st.rights ++ arrivals.filter(_.tag == 0)
      val (ready, holdL) = lefts.partition(p => horizonMs(p) < wm)
      // every right a ready left can match has already arrived (backward:
      // rights ≤ t are inside the watermark; forward: rights ≤ t + tol
      // are, by the same horizon argument) — so matching is a MERGE
      // SWEEP over anchor ∪ buffer: both sides sorted once, one
      // monotone pointer, O((L+R) log(L+R)) per flush instead of the
      // naive L×R scan (which bites on exactly the burst user whose
      // history the batch side slices — a bot delivering 10^5 events
      // in one micro-batch would pay 10^10 comparisons). The pick is
      // closed-form at the pointer: backward's best is the LAST
      // candidate ≤ t in (ts, id) order (max ts, then max id — the
      // window's tie rule) and anything earlier only has a larger gap,
      // so the tolerance check needs only that one candidate; forward
      // symmetrically takes the FIRST candidate ≥ t in (ts, −id) order.
      val sortedL = ready.sortBy(p => (p.us, p.event_id))
      val cands = (st.anchor.toSeq ++ rights).toIndexedSeq
      val out =
        if (forward) {
          val arr = cands.sortBy(r => (r.us, -r.event_id))
          var i = 0
          sortedL.map { p =>
            while (i < arr.length && arr(i).us < p.us) i += 1
            val best =
              if (i < arr.length && arr(i).us - p.us <= tolUs.get) Some(arr(i))
              else None
            AsofJoinedRow(userId, p.event_id, best.map(_.event_id),
              best.map(_.value), best.map(_.us - p.us))
          }
        } else {
          val arr = cands.sortBy(r => (r.us, r.event_id))
          var j = -1
          sortedL.map { p =>
            while (j + 1 < arr.length && arr(j + 1).us <= p.us) j += 1
            val best =
              if (j >= 0 && tolUs.forall(p.us - arr(j).us <= _)) Some(arr(j))
              else None
            AsofJoinedRow(userId, p.event_id, best.map(_.event_id),
              best.map(_.value), best.map(p.us - _.us))
          }
        }
      val (anchor, keepR) =
        if (forward) {
          // keep a right iff some remaining left (buffered, or a future
          // arrival — whose ts is ≥ wm ms by the watermark contract)
          // can still have it in window: r ≥ that left's ts
          val floorUs = (holdL.map(_.us) :+ wm * 1000L).min
          (None, rights.filter(_.us >= floorUs))
        } else {
          // final rights collapse into the single anchor record; a
          // tolerance-capped anchor dies once no future left (ts ≥ wm
          // ms) can reach back to it
          val (finalR, holdR) = rights.partition(_.us / 1000L < wm)
          val a = (st.anchor.toSeq ++ finalR)
            .sortBy(r => (r.us, r.event_id)).lastOption
            .filter(r => tolUs.forall(wm * 1000L - r.us <= _))
          (a, holdR)
        }
      if (anchor.isEmpty && holdL.isEmpty && keepR.isEmpty) {
        if (state.exists) state.remove()
      } else {
        state.update(AsofUniState(anchor, holdL, keepR))
        // wake-up order: pending lefts at their earliest finality; else
        // sweep the rights buffer as rights finalize (fold backward,
        // drop forward); else sweep a tolerance-capped anchor
        if (holdL.nonEmpty)
          state.setTimeoutTimestamp(
            math.max(wm + 1, holdL.map(horizonMs).min + 1))
        else if (keepR.nonEmpty)
          state.setTimeoutTimestamp(
            math.max(wm + 1, keepR.map(_.us / 1000L).min + 1))
        else tolUs.filter(_ => anchor.nonEmpty).foreach { t =>
          state.setTimeoutTimestamp(
            math.max(wm + 1, (anchor.get.us + t) / 1000L + 1))
        }
      }
      out.iterator
    }

    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(flush)
  }

  /** Streaming face of q56 / `operators.AsofJoin` (backward) — the
    * [[streamingAsofJoin]] machine in its backward direction, output
    * shaped to q56's columns. `tolUs` caps the match gap (the "don't
    * serve stale features" read); without it the per-user anchor is
    * retained for ever-seen users, exactly what uncapped as-of
    * semantics require.
    */
  def streamingAsof(
      events: Dataset[AsofEv], tolUs: Option[Long] = None): Dataset[AsofRow] = {
    import events.sparkSession.implicits._
    streamingAsofJoin(events, "backward", tolUs).map(r =>
      AsofRow(r.user_id, r.event_id, r.matched_id, r.matched_value, r.gap_us))
  }

  /** Streaming face of the FORWARD as-of join with a tolerance
    * (`AsofJoin.asofJoin(direction = "forward", tolerance = tol)`) —
    * the [[streamingAsofJoin]] machine in its forward direction,
    * output shaped to q61's columns. See the unified machine's
    * Scaladoc for why the tolerance is mandatory here.
    */
  def streamingAsofForward(
      events: Dataset[AsofEv], tolUs: Long): Dataset[AsofFwdRow] = {
    import events.sparkSession.implicits._
    streamingAsofJoin(events, "forward", Some(tolUs)).map(r =>
      AsofFwdRow(r.user_id, r.event_id, r.matched_id, r.matched_value, r.gap_us))
  }

  /** Typed event for the streaming PIT feature builder: every event
    * drives the session machine; `is_label` rows (purchases) also
    * emit a feature row.
    */
  final case class PitEv(
      user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      is_label: Boolean, value: Double)

  /** A buffered PIT event awaiting watermark finality. */
  final case class PitPending(
      us: Long, event_id: Long, is_label: Boolean, value: Double)

  /** One session's running stats (q59's feature payload). */
  final case class SessAgg(n: Long, cents: Long, last_us: Long)

  /** Per-user PIT state: reorder buffer + the open session + the last
    * CLOSED session (the feature anchor).
    */
  final case class PitState(
      pending: Seq[PitPending], open: Option[SessAgg], closed: Option[SessAgg])

  /** One emitted training row (q59's output schema). */
  final case class PitRow(
      user_id: Long, event_id: Long, label_cents: Long,
      feat_n_events: Option[Long], feat_value_cents: Option[Long],
      staleness_us: Option[Long])

  /** Streaming face of q59 — the leak-free point-in-time feature
    * matrix maintained INCREMENTALLY: one per-user state machine fuses
    * q19's sessionization and the as-of join that batch q59 runs as
    * three shuffles, at O(1) state per user (reorder buffer bounded by
    * the watermark + two small session aggregates). Events replay in
    * (ts µs, event_id) order — the batch window's exact sort; a label
    * event reads the last CLOSED session as its feature BEFORE joining
    * its own (possibly fresh) session, which realizes exactly the
    * batch's `end < t` strictness: the label's own session can never
    * be its feature.
    *
    * Finality argument (why emitted rows never change): a label at t
    * emits once the watermark strictly passes t. Any event that could
    * restructure the session history it depends on — including a
    * BRIDGING event inside a gap, which would merge two sessions —
    * has ts < t < wm and is therefore late-dropped by the watermark,
    * not delivered. Gap comparison truncates to SECONDS
    * (us / 1e6), replicating the batch `unix_timestamp` diff exactly.
    */
  def streamingPitFeatures(events: Dataset[PitEv]): Dataset[PitRow] = {
    import events.sparkSession.implicits._

    def cents(v: Double): Long = math.floor(v * 100 + 0.5).toLong

    def flush(
        userId: Long,
        evs: Iterator[PitEv],
        state: GroupState[PitState]): Iterator[PitRow] = {
      val wm = state.getCurrentWatermarkMs()
      val st = state.getOption.getOrElse(PitState(Nil, None, None))
      val all = st.pending ++ evs.map(e =>
        PitPending(microsOf(e.ts), e.event_id, e.is_label, e.value))
      val (ready, hold) = all.partition(_.us / 1000L < wm)
      var open = st.open
      var closed = st.closed
      val out = Seq.newBuilder[PitRow]
      ready.sortBy(p => (p.us, p.event_id)).foreach { p =>
        // session transition FIRST: a >30 min gap (whole seconds, the
        // batch unix_timestamp convention) closes the open session
        open match {
          case Some(s) if p.us / 1000000L - s.last_us / 1000000L > 1800L =>
            closed = Some(s); open = None
          case _ => ()
        }
        // the label reads the anchor before its own event joins a session
        if (p.is_label)
          out += PitRow(userId, p.event_id, cents(p.value),
            closed.map(_.n), closed.map(_.cents), closed.map(c => p.us - c.last_us))
        open = Some(open match {
          case Some(s) => SessAgg(s.n + 1, s.cents + cents(p.value),
            math.max(s.last_us, p.us))
          case None => SessAgg(1L, cents(p.value), p.us)
        })
      }
      state.update(PitState(hold, open, closed))
      if (hold.nonEmpty)
        state.setTimeoutTimestamp(math.max(wm + 1, hold.map(_.us).min / 1000L + 1))
      out.result().iterator
    }

    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(flush)
  }

  /** Typed event for the streaming LOCF resampler: every event
    * registers its user on the grid; only `is_obs` rows (the observed
    * metric, q58's `view` events) move the carried value.
    */
  final case class LocfEv(
      user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      is_obs: Boolean, value: Double)

  /** One emitted grid row (q58's output schema). */
  final case class LocfRow(
      user_id: Long, day: String, obs_id: Option[Long],
      obs_value: Option[Double], staleness_hours: Option[Long])

  /** Per-user LOCF state: the carried observation, the in-watermark
    * pending buffer, and the next unemitted grid instant.
    */
  final case class LocfState(
      anchor: Option[AsofPending], pending: Seq[AsofPending], nextGridUs: Long)

  /** Streaming face of q58's LOCF gap-fill — periodic-snapshot
    * emission: each user's grid rows (day, last observation, its
    * staleness) emit as the watermark crosses each grid instant, so
    * the training matrix MATERIALIZES INCREMENTALLY and is final on
    * emission. This is the third streaming primitive in the family:
    * windowed aggregation emits per closed window, the reorder buffer
    * ([[orderedTransitions]]/[[streamingAsof]]) emits per passed
    * event — here OUTPUT rows exist at times where no input row does,
    * driven by event-time TIMERS (idle users keep emitting their
    * nulls/carries as the watermark advances).
    *
    * Correctness rule (same strict gate as the reorder buffer): grid
    * instant g emits only once the watermark strictly passes it, and
    * an observation AT g applies to g (`<=` semantics) — any
    * observation that could still change g's row would itself be
    * in-watermark ready (us ≤ g < wm) or late-dropped, so every
    * emitted row is final across ANY micro-batch split. A user first
    * seen late backfills its earlier grid instants immediately (they
    * are already past-watermark, anchor = None → null rows), matching
    * the batch grid's all-users × all-days cross.
    *
    * Grid bounds are the caller's (the batch face derives them from a
    * min/max scan; a stream has no "max ts" — production passes the
    * campaign/feature window).
    */
  def streamingLocf(
      events: Dataset[LocfEv],
      gridStartUs: Long,
      gridEndUs: Long,
      stepUs: Long): Dataset[LocfRow] = {
    import events.sparkSession.implicits._

    def dayOf(us: Long): String =
      java.time.Instant.ofEpochSecond(us / 1000000L)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

    def row(userId: Long, g: Long, anchor: Option[AsofPending]): LocfRow =
      LocfRow(userId, dayOf(g), anchor.map(_.event_id), anchor.map(_.value),
        anchor.map(a => (g - a.us) / 3600000000L))

    def flush(
        userId: Long,
        evs: Iterator[LocfEv],
        state: GroupState[LocfState]): Iterator[LocfRow] = {
      val wm = state.getCurrentWatermarkMs()
      val st = state.getOption.getOrElse(LocfState(None, Nil, gridStartUs))
      val incoming = evs.filter(_.is_obs).map(e =>
        AsofPending(microsOf(e.ts), e.event_id, 0, e.value)).toSeq
      val (ready, hold) = (st.pending ++ incoming).partition(_.us / 1000L < wm)
      var anchor = st.anchor
      var g = st.nextGridUs
      val out = Seq.newBuilder[LocfRow]
      def emitGridBelow(bound: Long): Unit =
        while (g <= gridEndUs && g / 1000L < wm && g < bound) {
          out += row(userId, g, anchor); g += stepUs
        }
      ready.sortBy(p => (p.us, p.event_id)).foreach { p =>
        // grid instants strictly before the observation see the OLD
        // anchor; an observation AT a grid instant applies to it
        emitGridBelow(p.us)
        anchor = Some(p)
      }
      emitGridBelow(Long.MaxValue)
      state.update(LocfState(anchor, hold, g))
      val wakeups = hold.map(_.us).toSeq ++
        (if (g <= gridEndUs) Seq(g) else Nil)
      if (wakeups.nonEmpty)
        state.setTimeoutTimestamp(math.max(wm + 1, wakeups.min / 1000L + 1))
      out.result().iterator
    }

    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(flush)
  }
}
