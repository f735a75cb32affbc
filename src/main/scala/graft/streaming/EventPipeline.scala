package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed input row for the streaming sessionizer. */
case class StreamEvent(user_id: Long, ts: Timestamp, value: Double)

/** Typed input row for the streaming funnel. */
case class TypedEvent(user_id: Long, ts: Timestamp, event_type: String)

/** Typed input row for the streaming anomaly detector. */
case class ValueEvent(ts: Timestamp, event_type: String, value: Double)

/** Per-type anomaly state: trailing hourly sums (hour-number → Σvalue). */
case class AnomalyState(sums: Map[Long, Double])

/** One scored hour. */
case class AnomalyOut(
    hr_no: Long, event_type: String, sum_value: Double, z: Double, is_anomaly: Boolean)

/** Typed input row for the streaming CUSUM detector. */
case class HourEvent(ts: Timestamp, event_type: String)

/** Per-type CUSUM state: next hour to finalize, running scaled sum, and
  * counts for hours the watermark hasn't finalized yet (bounded by the
  * watermark horizon, never by event rate). */
case class CusumState(nextHr: Long, s: Long, pending: Map[Long, Long])

/** One finalized CUSUM hour (hr_no = hours since epoch). */
case class CusumOut(
    hr_no: Long, event_type: String, x: Long, cusum_scaled: Long, flag: Boolean)

/** Per-type EWMA state: next hour to finalize, the running scaled
  * weighted sum, the trailing ≤48 finalized hourly counts (the horizon
  * the recurrence must retire — constant size), and counts for hours
  * the watermark hasn't finalized yet. */
case class EwmaState(
    nextHr: Long, ew: Long, window: Seq[Long], pending: Map[Long, Long])

/** One finalized EWMA hour (hr_no = hours since epoch). */
case class EwmaOut(hr_no: Long, event_type: String, x: Long, ew_scaled: Long)

/** One ±1 sweep-line delta (interval open/close) at an instant. */
case class ConcDelta(t_us: Long, delta: Long)

/** Per-type concurrency state: next hour to seal, the standing
  * concurrency carried across the last sealed hour boundary, and the
  * unsealed hours' delta lists (bounded by the watermark horizon ×
  * per-hour event rate — deltas live only until their hour seals). */
case class ConcurrencyState(
    nextHr: Long, carry: Long, pending: Map[Long, Seq[ConcDelta]])

/** One sealed hour of per-type concurrency: the peak during the hour
  * (including the standing level at entry) and the level at exit. */
case class ConcurrencyOut(
    hour_start_us: Long, event_type: String,
    peak_concurrency: Long, ending_concurrency: Long)

/** Per-open-hour top-k state: event-type counts for that hour. */
case class TopKState(counts: Map[String, Long])

/** One row of a sealed hour's top-k. */
case class TopKOut(hour_start_us: Long, event_type: String, n_events: Long)

/** Per-user funnel progress (Long.MaxValue = stage not reached). */
case class FunnelState(v_us: Long, c_us: Long, p_us: Long)

/** Funnel stage emitted whenever a user advances. */
case class FunnelOut(user_id: Long, stage: Int)

/** One closed session. */
case class SessionOut(
    user_id: Long, start_us: Long, end_us: Long, n_events: Long, sum_value: Double)

/** Open-session state carried between micro-batches. */
case class SessionState(start_us: Long, last_us: Long, n: Long, sum: Double)

/** Typed input row for the streaming forward-fill (None = no reading —
  * the row needs filling from the last carried observation). */
case class LocfEvent(
    ts: java.sql.Timestamp, event_id: Long, event_type: String, reading: Option[Double])

/** Per-type LOCF state: the sealed frontier (µs), the last observed
  * reading AT that frontier, and the still-unsealed rows. */
case class LocfState(
    frontier_us: Long, last: Option[Double], pending: Seq[(Long, Long, Option[Double])])

/** One sealed, forward-filled row. */
case class LocfOut(
    event_id: Long, event_type: String, reading: Option[Double], filled: Option[Double])

/** Structured Streaming twins of the batch event operators
  * (graft.operators.Events s01/s02): the same event-time semantics
  * expressed as an unbounded incremental computation.
  *
  * Both transforms are `DataFrame => DataFrame`-shaped so they run
  * identically on `readStream` sources (kafka/files at cluster scale;
  * MemoryStream in StreamingSpec) and on batch frames — the batch runs in
  * Events.scala double as the oracle for these.
  *
  * Scale notes: windowedCounts is an incremental stateful hash-aggregate;
  * the watermark bounds state to (windows within 2h) × event_type — O(1)
  * per key, never O(events). Sessionization state is one open session per
  * active user; the event-time timeout closes idle sessions so state size
  * tracks *active* users, not all-time users.
  */
object EventPipeline {

  val SessionGapUs: Long = 1800L * 1000000L // 30 min

  /** s01 twin: hourly tumbling counts with a 2-hour watermark. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("hour_start_us"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** q33's streaming twin: distinct users per hourly window via HLL++
    * (approx_count_distinct). The sketch is the only viable distinct
    * shape on an unbounded stream: exact distinct would keep O(users)
    * state per window (and a second stateful dedup stage), while the HLL
    * register array is CONSTANT-size per (window) key — ~1.5 KB at
    * rsd=0.02 — regardless of event rate, and merges associatively
    * across partitions and micro-batches. Accuracy vs the exact batch
    * answer is bounded in StreamingSpec. */
  def windowedDistinctUsers(events: DataFrame, rsd: Double = 0.02): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"))
      .select(unix_micros(col("window.start")).as("hour_start_us"),
        col("approx_users"))

  /** Streaming exact dedup (d01's unbounded twin): keep the first
    * occurrence of each content hash, dropping re-deliveries and
    * re-crawls that arrive within the watermark window. State is bounded
    * by the watermark (hashes older than it are evicted), which is the
    * only way exact streaming dedup stays O(window), not O(stream). */
  def dedupStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")

  /** d08/d10's streaming twin: decontamination at ingest. Flags each
    * incoming document map-side when ANY of its 5-gram hashes may be in
    * the bench-gram Bloom filter (the same native might_contain probe
    * d10 uses), and passes only clean docs through. Completely
    * STATELESS — no watermark, no state store — so it runs at ingest
    * rate with O(1) memory; the filter's no-false-negative guarantee
    * means no contaminated doc ever reaches the clean stream, and the
    * ≤fpp over-quarantine is adjudicated by the exact offline pass
    * (d08), never the ingest path. */
  def decontaminateStream(docs: DataFrame,
      benchBloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    import org.apache.spark.sql.graft.BloomExpressions.mightContainLong
    import org.apache.spark.sql.graft.TextHash.shingleHashSet
    // coalesce(…, false): a null-text doc has no grams, so it is CLEAN
    // (matching batch d08, where it explodes to zero rows and is never
    // flagged) — without the coalesce the null-propagating exists would
    // silently quarantine it.
    docs.filter(!coalesce(exists(shingleHashSet(col("text"), 5),
      h => mightContainLong(h, benchBloom)), lit(false)))
  }

  /** t36's streaming twin: the Gopher rule gate at ingest. The batch
    * operator is a single map-side projection (zero exchanges —
    * PlanShapeSpec), which is exactly the class of computation
    * Structured Streaming runs unchanged: stateless, no watermark, no
    * state store, O(1) memory at any rate. Literally the SAME function
    * as the batch path (TextAnalysis.gopherRules), so stream-vs-batch
    * divergence is impossible by construction; StreamingSpec still pins
    * row-level equality end-to-end through a real MemoryStream. */
  def qualityGateStream(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.gopherRules(docs)

  /** p19's streaming twin: DSIR importance scoring at ingest against
    * the OFFLINE-trained model (the train-on-history / score-live
    * deployment, same shape as the streaming CUSUM's offline (T, H)).
    * The frozen 8192-entry micronat table rides as a literal into a
    * stateless map-side fold — identical code to the batch scoring
    * pass (Pipeline.dsirScore), so stream-vs-batch divergence is
    * impossible by construction; StreamingSpec pins it anyway. */
  def dsirScoreStream(docs: DataFrame, table: Array[Long]): DataFrame =
    graft.operators.Pipeline.dsirScore(docs, table)

  /** s03's streaming twin: stream-stream interval join. Each click pairs
    * with same-user errors from the preceding 30 minutes. The watermarks
    * + the interval bound are what make unbounded stream-stream join
    * feasible: state on each side is dropped once the other side's
    * watermark passes the interval, so memory is O(rate × window), not
    * O(stream). */
  def clickErrorJoin(clicks: DataFrame, errors: DataFrame): DataFrame =
    intervalJoin(clicks, errors, "inner")

  /** LEFT OUTER stream-stream interval join — the attribution shape
    * where the unmatched side matters (every click reports, with NULL
    * error columns when no same-user error preceded it). Outer rows
    * can only emit once BOTH watermarks pass the click's interval (the
    * error side can no longer produce a match), so results for quiet
    * keys arrive with watermark latency — the inherent outer-join
    * trade; state stays O(rate × window) exactly like the inner form. */
  def clickErrorLeftJoin(clicks: DataFrame, errors: DataFrame): DataFrame =
    intervalJoin(clicks, errors, "left_outer")

  /** The ONE watermark + interval-condition + projection behind both
    * join flavors, so the interval (30 min) and the watermark (1 h) can
    * never diverge between the inner and outer twins. */
  private def intervalJoin(clicks: DataFrame, errors: DataFrame,
      joinType: String): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour").alias("c")
    val e = errors.withWatermark("ts", "1 hour").alias("e")
    c.join(e,
      expr("""c.user_id = e.user_id AND
              e.ts BETWEEN c.ts - INTERVAL 30 MINUTES AND c.ts"""),
      joinType)
      .select(col("c.user_id").as("user_id"),
        unix_micros(col("c.ts")).as("click_ts_us"),
        unix_micros(col("e.ts")).as("err_ts_us"),
        col("e.value").as("err_value"))
  }

  /** s09's streaming twin: incremental trailing-window anomaly
    * detection via flatMapGroupsWithState. The batch form computes a
    * RANGE-frame z-score over the hourly series; streams can't chain a
    * window over a streaming aggregate, so the state IS the window — a
    * ring buffer of trailing hourly sums per event type (≤48 longs+
    * doubles: 24 for the frame, 24 more for late arrivals), evicted as
    * the max hour advances. Each batch folds its events into the
    * buffer and re-scores every state hour whose trailing window the
    * batch touched — the touched hours themselves AND the up-to-23
    * later hours whose frames contain them, so a late arrival refines
    * every score it participates in, not just its own hour's.
    * Semantics note: a re-scored hour is RE-emitted (append mode;
    * downstream keeps the latest per (hr, type)) — the price of
    * incremental output, the same contract as the funnel's cross-batch
    * bound. State per key is constant-size, independent of event
    * rate. */
  def anomalyStream(events: Dataset[ValueEvent]): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        updateAnomaly)
  }

  private[streaming] def updateAnomaly(
      eventType: String,
      batch: Iterator[ValueEvent],
      state: GroupState[AnomalyState]): Iterator[AnomalyOut] = {
    val hourUs = 3600L * 1000000L
    val incoming = batch.toSeq.groupBy(e => micros(e.ts) / hourUs)
      .map { case (h, es) => h -> es.map(_.value).sum }
    var sums = state.getOption.map(_.sums).getOrElse(Map.empty[Long, Double])
    incoming.foreach { case (h, v) => sums = sums.updated(h, sums.getOrElse(h, 0.0) + v) }
    // Score against the FULL merged map, THEN evict what's persisted —
    // evicting first would hollow out the trailing windows of earlier
    // hours when one batch spans more than 48 of them. Future batches
    // can't miss the evicted entries: the 2 h watermark drops anything
    // that far behind the max event time long before the 48 h horizon.
    // Every state hour whose 24 h frame the batch touched: the incoming
    // hours plus any later hour within 23 of one — a late value refines
    // every window it sits in, and each gets re-emitted refined. With
    // in-order arrival there are no later state hours, so this is
    // exactly the incoming set.
    val touched = incoming.keySet
    val affected = sums.keys
      .filter(k => touched.exists(h => k >= h && k <= h + 23))
      .toSeq.sorted
    val out = affected.map { h =>
      val win = sums.collect { case (k, v) if k >= h - 23 && k <= h => v }.toSeq
      val n = win.size
      val mean = win.sum / n
      val sd = if (n < 2) 0.0
        else math.sqrt(win.map(x => (x - mean) * (x - mean)).sum / (n - 1))
      val x = sums(h)
      val z = if (sd == 0.0) 0.0
        else math.floor((x - mean) / sd * 1000000 + 0.5) / 1000000
      AnomalyOut(h, eventType, x, z, math.abs(z) > 2.0)
    }
    val maxHr = if (sums.isEmpty) 0L else sums.keys.max
    state.update(AnomalyState(sums.filter { case (h, _) => h > maxHr - 48 }))
    out.iterator
  }

  /** The horizon-sealing rule of the hour-ordered streaming twins
    * (CUSUM, EWMA, concurrency): hand `seal` every hour from `nextHr`
    * through the last one the 2 h watermark can no longer admit rows
    * for, in order, with its pending value (`empty` when none arrived),
    * and return what `seal` made of them, the next hour to seal and the
    * still-pending hours. A row in hour h arrives while watermark <
    * end(h), i.e. while maxEventTime < (h+1)+2 hours, so hour h is sealed
    * once the newest hour seen reaches h+3 (h+2 could still gain rows;
    * sealing it early would silently drop them and diverge from batch). */
  private def sealHours[P, O](nextHr: Long, pending: Map[Long, P], empty: P)(
      seal: (Long, P) => O): (Seq[O], Long, Map[Long, P]) = {
    val sealThrough = (pending.keySet + (nextHr - 1)).max - 3
    val hours = nextHr to sealThrough
    (hours.map(h => seal(h, pending.getOrElse(h, empty))),
      math.max(nextHr, sealThrough + 1), pending -- hours)
  }

  /** s10's streaming twin: online CUSUM change-point detection. The
    * batch form self-calibrates (T = Σx, H = hour count) from the whole
    * corpus; a stream cannot, so the reference parameters arrive as
    * OFFLINE-TRAINED config — the standard online-CUSUM deployment
    * (train μ on history, monitor live) — expressed as the same integer
    * pair (tTot, hTot) the batch uses, so the recurrence
    * S ← max(0, S + x·H − T − T div 2) is bit-identical. Hours finalize
    * strictly in order: a batch's counts fold into `pending`; every
    * hour at least 3 behind the newest seen — the first hour the 2 h
    * watermark can no longer admit rows for — is zero-filled if absent,
    * run through the recurrence ONCE, emitted, and removed. Unlike the anomaly twin there is no re-emit: the
    * recurrence cascades, so finalization is the correctness boundary —
    * state is (one Long, one Long, ≤ horizon pending counts), constant
    * per type. */
  def cusumStream(events: Dataset[HourEvent], tTot: Long, hTot: Long,
      spineStartHr: Long): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        updateCusum(tTot, hTot, spineStartHr))
  }

  private[streaming] def updateCusum(tTot: Long, hTot: Long, spineStartHr: Long)(
      eventType: String,
      batch: Iterator[HourEvent],
      state: GroupState[CusumState]): Iterator[CusumOut] = {
    val hourUs = 3600L * 1000000L
    val incoming = batch.toSeq.groupBy(e => micros(e.ts) / hourUs)
      .map { case (h, es) => h -> es.size.toLong }
    val st = state.getOption.getOrElse(CusumState(spineStartHr, 0L, Map.empty))
    var pending = st.pending
    // Hours below nextHr are already finalized; the 2 h watermark keeps
    // genuinely late rows out of the stream long before that point.
    incoming.foreach { case (h, c) =>
      if (h >= st.nextHr) pending = pending.updated(h, pending.getOrElse(h, 0L) + c)
    }
    val slack = tTot / 2
    var s = st.s
    val (out, nextHr, rest) = sealHours(st.nextHr, pending, 0L) { (h, x) =>
      s = math.max(0L, s + x * hTot - tTot - slack)
      CusumOut(h, eventType, x, s, s > 3 * tTot)
    }
    state.update(CusumState(nextHr, s, rest))
    out.iterator
  }

  /** s23's streaming twin: online exponentially-weighted hourly volume.
    * The batch operator's scaled-integer definition
    * ew(t) = Σ_{k=0..47} x(t−k)·2^(47−k) has an EXACT online form:
    * ew(t) = x(t)·2^47 + (ew(t−1) − x(t−48)) / 2 — the subtraction
    * removes the retiring hour's 2^0 term, leaving every remaining term
    * even, so the halving is integer-exact and the stream can never
    * drift from batch by rounding. Hours finalize strictly in order
    * under the CUSUM twin's horizon discipline (zero-filled when
    * absent — the recurrence cascades, so in-order sealing is the
    * correctness boundary); state per type is two scalars + the ≤48
    * trailing counts + the pending horizon — constant, independent of
    * event rate. Hours the batch form doesn't emit (no contribution in
    * the 48 h window) finalize here with x = 0, ew = 0 — the spec pins
    * both that equality and the zero-ness of the extras. */
  def ewmaStream(events: Dataset[HourEvent], spineStartHr: Long): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        updateEwma(spineStartHr))
  }

  private[streaming] def updateEwma(spineStartHr: Long)(
      eventType: String,
      batch: Iterator[HourEvent],
      state: GroupState[EwmaState]): Iterator[EwmaOut] = {
    val hourUs = 3600L * 1000000L
    val incoming = batch.toSeq.groupBy(e => micros(e.ts) / hourUs)
      .map { case (h, es) => h -> es.size.toLong }
    val st = state.getOption.getOrElse(
      EwmaState(spineStartHr, 0L, Vector.empty, Map.empty))
    var pending = st.pending
    incoming.foreach { case (h, c) =>
      if (h >= st.nextHr) pending = pending.updated(h, pending.getOrElse(h, 0L) + c)
    }
    var ew = st.ew
    var window = st.window
    val (out, nextHr, rest) = sealHours(st.nextHr, pending, 0L) { (h, x) =>
      val retiring = if (window.size == 48) window.head else 0L
      ew = x * (1L << 47) + (ew - retiring) / 2
      window = (if (window.size == 48) window.tail else window) :+ x
      EwmaOut(h, eventType, x, ew)
    }
    state.update(EwmaState(nextHr, ew, window, rest))
    out.iterator
  }

  /** s18's streaming twin: per-hour peak concurrency, sealed strictly
    * in hour order (the CUSUM twin's horizon discipline — concurrency
    * CARRIES across hour boundaries, so hours must seal in sequence,
    * exactly like the CUSUM recurrence cascades). Each event opens a
    * `spanUs` activity interval: a (+1 at t, −1 at t+span) delta pair,
    * each delta folded into ITS OWN hour's pending list. Hour h seals
    * once some event ≥ 3 hours later has been seen: the 2 h watermark
    * then rejects every row whose deltas could still land in h (a −1
    * from t+span stays within t's hour or the next — span < 1 h). On
    * seal, the hour's deltas sort by (t, delta) — the batch s18
    * close-before-open tie rule — and sweep from the carried level;
    * peak includes the standing level at entry. State per type =
    * (scalar, scalar, pending deltas within the horizon). */
  def concurrencyStream(events: Dataset[HourEvent], spanUs: Long,
      spineStartHr: Long): Dataset[ConcurrencyOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        updateConcurrency(spanUs, spineStartHr))
  }

  private[streaming] def updateConcurrency(spanUs: Long, spineStartHr: Long)(
      eventType: String,
      batch: Iterator[HourEvent],
      state: GroupState[ConcurrencyState]): Iterator[ConcurrencyOut] = {
    val hourUs = 3600L * 1000000L
    val st = state.getOption.getOrElse(
      ConcurrencyState(spineStartHr, 0L, Map.empty))
    var pending = st.pending
    def fold(h: Long, d: ConcDelta): Unit =
      if (h >= st.nextHr)
        pending = pending.updated(h, pending.getOrElse(h, Vector.empty) :+ d)
    batch.foreach { e =>
      val t = micros(e.ts)
      fold(t / hourUs, ConcDelta(t, 1L))
      fold((t + spanUs) / hourUs, ConcDelta(t + spanUs, -1L))
    }
    var carry = st.carry
    val (out, nextHr, rest) = sealHours(st.nextHr, pending, Seq.empty[ConcDelta]) { (h, ds) =>
      var run = carry
      var peak = carry
      ds.sortBy(d => (d.t_us, d.delta)).foreach { d => run += d.delta; peak = math.max(peak, run) }
      carry = run
      ConcurrencyOut(h * hourUs, eventType, peak, run)
    }
    state.update(ConcurrencyState(nextHr, carry, rest))
    out.iterator
  }

  /** s07's streaming twin: per-hour top-k trending event types. Keyed
    * by HOUR (not type — the ranking needs all of an hour's types in
    * one place), counts fold into per-type state, and the hour emits
    * its top-3 EXACTLY ONCE when the event-time timeout fires — i.e.
    * when the watermark has passed the hour's end, so no further count
    * can arrive (the same sealing contract as the CUSUM twin, here via
    * the native timeout mechanism instead of a horizon scan, because an
    * hour-keyed group can't observe other keys' progress). State per
    * open hour is one count per event type — bounded by the type domain
    * × the watermark horizon, independent of event rate. */
  def windowTopKStream(events: Dataset[ValueEvent], k: Int = 3): Dataset[TopKOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(e => micros(e.ts) / (3600L * 1000000L))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        updateWindowTopK(k))
  }

  private[streaming] def updateWindowTopK(k: Int)(
      hourNo: Long,
      batch: Iterator[ValueEvent],
      state: GroupState[TopKState]): Iterator[TopKOut] = {
    if (state.hasTimedOut) {
      // Watermark passed the hour end: the count set is final. Rank by
      // (count desc, type asc) — the batch GroupedTopK ordering.
      val counts = state.get.counts
      state.remove()
      counts.toSeq.sortBy { case (t, n) => (-n, t) }.take(k)
        .map { case (t, n) => TopKOut(hourNo * 3600L * 1000000L, t, n) }
        .iterator
    } else {
      var counts = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
      batch.foreach { e =>
        counts = counts.updated(e.event_type, counts.getOrElse(e.event_type, 0L) + 1L)
      }
      state.update(TopKState(counts))
      // Seal when the watermark passes the hour's end (must stay above
      // the current watermark — a very late group re-arms just ahead).
      val hourEndMs = (hourNo + 1) * 3600L * 1000L
      state.setTimeoutTimestamp(math.max(hourEndMs, state.getCurrentWatermarkMs() + 1))
      Iterator.empty
    }
  }

  /** s02 twin: gap-based sessionization via flatMapGroupsWithState.
    * Emits a session when a gap closes it or the event-time timeout fires
    * (watermark has passed last_event + gap). */
  def sessionize(events: Dataset[StreamEvent]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        updateSessions)
  }

  /** s05 twin: incremental conversion funnel via mapGroupsWithState.
    * State is three longs per user (earliest view / first click after
    * it / first purchase after that); each micro-batch folds its events
    * in event-time order and emits the user's stage when it advances.
    * Exactly matches the batch s05 when a user's events arrive in
    * event-time order across batches (within a batch, order is
    * irrelevant — events are sorted); a cross-batch regression (a view
    * older than an already-accepted click) is the documented
    * approximation bound, the price of O(3 longs) state per user
    * instead of buffering the stream. */
  def funnel(events: Dataset[TypedEvent]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(updateFunnel)
      .filter(_.stage > 0)
  }

  private[streaming] def updateFunnel(
      userId: Long,
      events: Iterator[TypedEvent],
      state: GroupState[FunnelState]): FunnelOut = {
    val U = Long.MaxValue
    var s = state.getOption.getOrElse(FunnelState(U, U, U))
    events.toArray.sortBy(e => micros(e.ts)).foreach { e =>
      val t = micros(e.ts)
      e.event_type match {
        case "view" if t < s.v_us                  => s = s.copy(v_us = t)
        case "click" if t > s.v_us && t < s.c_us   => s = s.copy(c_us = t)
        case "purchase" if t > s.c_us && t < s.p_us => s = s.copy(p_us = t)
        case _ => ()
      }
    }
    state.update(s)
    val stage =
      if (s.p_us != U) 3 else if (s.c_us != U) 2 else if (s.v_us != U) 1 else 0
    FunnelOut(userId, stage)
  }

  /** s19's streaming twin: last-observation-carried-forward. Forward
    * fill is ORDER-dependent (filled(row) = last reading at or before
    * it), so rows seal strictly in event-time order — the CUSUM twin's
    * horizon discipline: a row seals once some row ≥ 3 hours later has
    * been seen for its type, at which point the 2 h watermark can no
    * longer admit anything before it. On seal, rows sort by
    * (ts, event_id) — the batch s19 tie rule — fill from the carried
    * observation, emit, and advance the frontier. State per type =
    * (scalar frontier, ONE carried reading, pending rows within the
    * 3 h horizon) — watermark-bounded, never stream-sized. */
  def locfStream(events: Dataset[LocfEvent]): Dataset[LocfOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        updateLocf)
  }

  private[streaming] def updateLocf(
      eventType: String,
      batch: Iterator[LocfEvent],
      state: GroupState[LocfState]): Iterator[LocfOut] = {
    val hourUs = 3600L * 1000000L
    val st = state.getOption.getOrElse(LocfState(Long.MinValue, None, Nil))
    // Rows at or before the frontier are already sealed; the watermark
    // keeps genuinely late rows out long before that point.
    val incoming = batch.map(e => (micros(e.ts), e.event_id, e.reading))
      .filter(_._1 > st.frontier_us).toSeq
    val pending = st.pending ++ incoming
    val maxSeen = (pending.map(_._1) :+ st.frontier_us).max
    val sealThrough = maxSeen - 3 * hourUs
    val (ripe, rest) = pending.partition(_._1 <= sealThrough)
    var last = st.last
    val out = ripe.sortBy(r => (r._1, r._2)).map { case (_, id, rd) =>
      if (rd.isDefined) last = rd
      LocfOut(id, eventType, rd, last)
    }
    state.update(LocfState(math.max(sealThrough, st.frontier_us), last, rest))
    out.iterator
  }

  private[graft] def micros(t: Timestamp): Long =
    t.getTime / 1000 * 1000000 + t.getNanos / 1000

  private[streaming] def updateSessions(
      userId: Long,
      events: Iterator[StreamEvent],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      Iterator.single(SessionOut(userId, s.start_us, s.last_us, s.n, s.sum))
    } else {
      val sorted = events.toArray.sortBy(e => micros(e.ts))
      val closed = Vector.newBuilder[SessionOut]
      var open = state.getOption
      sorted.foreach { e =>
        val tsUs = micros(e.ts)
        open match {
          case Some(s) if tsUs - s.last_us <= SessionGapUs =>
            open = Some(SessionState(s.start_us, tsUs, s.n + 1, s.sum + e.value))
          case Some(s) =>
            closed += SessionOut(userId, s.start_us, s.last_us, s.n, s.sum)
            open = Some(SessionState(tsUs, tsUs, 1, e.value))
          case None =>
            open = Some(SessionState(tsUs, tsUs, 1, e.value))
        }
      }
      open.foreach { s =>
        state.update(s)
        // Close once the watermark passes the gap after the last event.
        state.setTimeoutTimestamp(s.last_us / 1000 + SessionGapUs / 1000)
      }
      closed.result().iterator
    }
  }
}
