package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, StreamingQueryProgress, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming twins of the per-user batch event rules (w25 funnel, w19
  * last-touch, w23 time-decay attribution, w17 transitions): each folds
  * the events of one user through `transformWithState` keyed state and
  * emits the rows its batch twin holds. [[Events.w29StateProfile]] runs
  * all four as real streaming queries and reads their state back; the
  * replication pipeline itself lives in [[graft.streaming.CdcStream]].
  */
object EventStreams {

  /** The TTLConfig half of the shared ttl plumbing; see [[ttlTimeMode]]
    * for the contract every `ttl`-parameterized twin here shares.
    */
  private def ttlConfig(ttl: Option[java.time.Duration]): TTLConfig =
    ttl.map(TTLConfig.apply).getOrElse(TTLConfig.NONE)

  /** Shared ttl plumbing for every twin: the TTLConfig ([[ttlConfig]])
    * and the TimeMode MUST move in lockstep — state TTL is defined
    * against processing time, and TTL with `TimeMode.None` is rejected —
    * so all four twins derive both from this one place instead of four
    * copy-pasted pairs that could drift. A `ttl` binds the query to two
    * rules:
    *
    *  - CHECKPOINT COMPATIBILITY: turning a TTL on or off is a TimeMode
    *    + state-schema change that `transformWithState` REJECTS on
    *    restart from an existing checkpoint. Enabling TTL on a deployed
    *    query therefore means a FRESH checkpoint directory — and with
    *    it, discarding the operator state accumulated so far (a bounded
    *    replay cost: state rebuilds from the source's replay window,
    *    which the TTL must cover anyway, since eviction forgets a key's
    *    state and an older event replayed after expiry is taken as new).
    *    Plan the flip as a resync-style migration, not a config toggle.
    *  - QUERY LIFETIME: processing-time mode keeps TTL maintenance
    *    scheduling micro-batches even with no input (regardless of
    *    trigger) — `Trigger.AvailableNow` never self-terminates and
    *    `processAllAvailable` never finds a quiet moment on a TTL'd
    *    query. A TTL'd query is a long-lived service: manage its
    *    lifetime explicitly (StreamingQuery.stop or the
    *    [[graft.streaming.Supervisor]]).
    */
  private def ttlTimeMode(ttl: Option[java.time.Duration]): TimeMode =
    if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()

  final case class PathTransition(key: Long, from_type: String, to_type: String, gap_us: Long)

  final case class StageLatency(key: Long, stage: String, dur_us: Long)

  /** Streaming twin of the batch w25 time-to-convert: a per-key
    * `ValueState` packs the partial funnel `(t1, t2, t3)` — first view,
    * first later click, first later purchase (-1 = unreached) — and the
    * moment a stage pair completes, its latency row is emitted (the
    * exact rows w25's batch `stages` frame holds before banding).
    * State is THREE longs per user forever: a completed funnel ignores
    * all further events, an incomplete one only ever fills later
    * slots, so a bot replaying a million clicks still costs 24 bytes.
    *
    * Exactness contract (transitionStream's): equal to the batch w13
    * ordered-funnel rule — t1 = min view, t2 = min click with us > t1,
    * t3 = min purchase with us > t2 — as long as arrivals are per-key
    * event-time ordered ACROSS micro-batches (the CDC transport
    * guarantee): under that ordering the first qualifying arrival IS
    * the min. WITHIN a batch, rows sort on (us, event_id) before
    * folding. A click preceding every view is skipped exactly as the
    * batch rule's strict `us > t1` excludes it.
    *
    * STATE LIFETIME: per-key state is O(1) (three longs) but key
    * cardinality is unbounded — years of one-shot users accumulate in
    * RocksDB forever with `ttl = None`. Production deployments pass a
    * `ttl` at least as long as the longest funnel they care to credit:
    * an idle user's partial funnel is then evicted by the state store
    * itself, and a stage completing AFTER the horizon is simply not
    * credited (the user restarts from nothing — the deliberate
    * trade-off, identical for all four per-user twins). Within the
    * horizon results are unchanged. A TTL flips the operator into
    * processing-time mode — see [[ttlTimeMode]] for what that means for
    * the query's lifetime and its checkpoint.
    */
  def funnelStream(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String,
      ttl: Option[java.time.Duration] = None): Dataset[StageLatency] = {
    val rowEnc = Encoders.product[(Long, Long, Long, String)]
    val stEnc = Encoders.product[(Long, Long, Long)]
    val processor =
      new StatefulProcessor[Long, (Long, Long, Long, String), StageLatency] {
        @transient private var funnel: ValueState[(Long, Long, Long)] = _
        override def init(om: OutputMode, tm: TimeMode): Unit =
          funnel = getHandle.getValueState("funnel", stEnc,
            ttlConfig(ttl))
        override def handleInputRows(k: Long,
            rows: Iterator[(Long, Long, Long, String)],
            tv: TimerValues): Iterator[StageLatency] = {
          val out = Seq.newBuilder[StageLatency]
          var (t1, t2, t3) =
            if (funnel.exists()) funnel.get() else (-1L, -1L, -1L)
          rows.toSeq.sortBy { case (_, us, id, _) => (us, id) }
            .foreach { case (_, us, _, tp) =>
              if (t3 < 0) tp match {
                case "view" if t1 < 0 => t1 = us
                case "click" if t1 >= 0 && t2 < 0 && us > t1 =>
                  t2 = us
                  out += StageLatency(k, "1_view_to_click", t2 - t1)
                case "purchase" if t2 >= 0 && us > t2 =>
                  t3 = us
                  out += StageLatency(k, "2_click_to_purchase", t3 - t2)
                  out += StageLatency(k, "3_view_to_purchase", t3 - t1)
                case _ =>
              }
            }
          funnel.update((t1, t2, t3))
          out.result().iterator
        }
      }
    events
      .select(col(keyCol).cast("long"), unix_micros(col(tsCol)),
        col(idCol).cast("long"), col(typeCol))
      .as[(Long, Long, Long, String)](rowEnc)
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(processor,
        ttlTimeMode(ttl),
        OutputMode.Append())(
        Encoders.product[StageLatency])
  }

  final case class TouchAttribution(key: Long, touch_type: String, lag_us: Long)

  /** Streaming twin of the batch w19 last-touch attribution: a per-key
    * `ValueState` holds ONLY the running-max encoded touch key
    * (us·8 + code — the batch query's own encoding), each purchase
    * arrival reads it and emits its credit — O(1) state per user, and
    * the state fold is `max`, which is COMMUTATIVE, so the result is
    * independent of arrival order up to the per-key prefix-visibility
    * contract below (strictly stronger than transitionStream's
    * last-event state, which is inherently order-sensitive).
    *
    * Exactness contract: identical to the batch rule as long as every
    * touch at-or-before a purchase's event time has ARRIVED by the time
    * the purchase does (per-key event-time ordering across
    * micro-batches — the CDC transport's guarantee). WITHIN a batch
    * arrival order is free: rows sort on the batch window's own
    * (us, touches-first, event_id) order before folding.
    *
    * STATE LIFETIME (see [[funnelStream]] for the shared trade-off):
    * with `ttl` set, an idle user's last-touch state is evicted by the
    * store; a purchase arriving after the horizon attributes to "none"
    * — exactly what the batch rule's `gapUs` staleness bound does to
    * old touches, so a `ttl` ≥ the processing-time analogue of `gapUs`
    * composes with it. Within the horizon results are unchanged
    * (proven in StreamingOpsSpec).
    */
  def attributionStream(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String,
      gapUs: Long,
      ttl: Option[java.time.Duration] = None): Dataset[TouchAttribution] = {
    val rowEnc = Encoders.product[(Long, Long, Long, String)]
    val processor =
      new StatefulProcessor[Long, (Long, Long, Long, String), TouchAttribution] {
        @transient private var lastKey: ValueState[Long] = _
        override def init(om: OutputMode, tm: TimeMode): Unit =
          lastKey = getHandle.getValueState("lastKey", Encoders.scalaLong,
            ttlConfig(ttl))
        override def handleInputRows(k: Long,
            rows: Iterator[(Long, Long, Long, String)],
            tv: TimerValues): Iterator[TouchAttribution] = {
          val out = Seq.newBuilder[TouchAttribution]
          def code(tp: String): Long =
            if (tp == "click") 2L else if (tp == "view") 1L else 0L
          rows.toSeq
            .sortBy { case (_, us, id, tp) => (us, if (code(tp) > 0) 0 else 1, id) }
            .foreach { case (_, us, _, tp) =>
              if (tp == "purchase") {
                val tk = if (lastKey.exists()) lastKey.get() else Long.MinValue
                if (tk == Long.MinValue || us - tk / 8 > gapUs)
                  out += TouchAttribution(k, "none", -1L)
                else out += TouchAttribution(k,
                  if (tk % 8 == 2) "click" else "view", us - tk / 8)
              } else if (code(tp) > 0) {
                val enc = us * 8 + code(tp)
                if (!lastKey.exists() || lastKey.get() < enc) lastKey.update(enc)
              }
            }
          out.result().iterator
        }
      }
    events
      .select(col(keyCol).cast("long"), unix_micros(col(tsCol)),
        col(idCol).cast("long"), col(typeCol))
      .as[(Long, Long, Long, String)](rowEnc)
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(processor,
        ttlTimeMode(ttl),
        OutputMode.Append())(
        Encoders.product[TouchAttribution])
  }

  final case class DecayCredit(
      key: Long, purchase_id: Long, touch_type: String, w_ppm: Long, attr_e6: Long)

  /** Streaming twin of the batch w23 time-decay attribution: a per-key
    * `ListState` holds the OPEN touches of the user's current segment
    * (everything since their previous purchase), CAPPED at the 20 most
    * recent — the batch rule's own horizon (weight 1000000 >> (k-1) is
    * ZERO beyond 20 steps), so state is O(20) per key no matter how many
    * touches a bot session accumulates, provably without changing any
    * credit. A purchase arrival reads the list most-recent-first, emits
    * one credit row per NON-ZERO-weight touch (value·w/Σw in exact
    * integer micro-units, the batch arithmetic verbatim), and clears the
    * segment.
    *
    * Exactness contract (attributionStream's): equal to the batch rule's
    * positive-weight rows as long as arrivals are per-key event-time
    * ordered ACROSS micro-batches (the CDC transport guarantee); WITHIN
    * a batch, rows sort on (us, event_id) before folding. Zero-weight
    * touches (k > 20) appear in the batch ROLLUP's n_touches but carry
    * no revenue; the stream, which exists to bound state, never stores
    * them — the documented difference.
    *
    * STATE LIFETIME (see [[funnelStream]] for the shared trade-off):
    * with `ttl` set, an idle user's open-segment touches are evicted;
    * a purchase arriving after the horizon finds no touches and emits
    * nothing — the decay weighting already prices ancient touches near
    * zero, so the horizon formalizes what the arithmetic was doing.
    * Within the horizon results are unchanged (StreamingOpsSpec).
    */
  def decayAttributionStream(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String,
      valueCol: String,
      ttl: Option[java.time.Duration] = None): Dataset[DecayCredit] = {
    val rowEnc = Encoders.product[(Long, Long, Long, String, Double)]
    val touchEnc = Encoders.product[(Long, Long, String)] // us, event_id, type
    val MaxTouches = 20
    val processor =
      new StatefulProcessor[Long, (Long, Long, Long, String, Double), DecayCredit] {
        @transient private var open: ListState[(Long, Long, String)] = _
        override def init(om: OutputMode, tm: TimeMode): Unit =
          open = getHandle.getListState("open", touchEnc,
            ttlConfig(ttl))
        override def handleInputRows(k: Long,
            rows: Iterator[(Long, Long, Long, String, Double)],
            tv: TimerValues): Iterator[DecayCredit] = {
          val out = Seq.newBuilder[DecayCredit]
          // ONE state read and ONE write per (key, batch): the fold runs
          // against a local buffer — per-row clear+put would pay ~2T
          // RocksDB round trips for a T-touch batch and re-sort the list
          // per row for nothing (the buffer stays sorted most-recent-
          // first, exactly the read order a purchase needs)
          var touches = open.get().toList.sortBy(t => (-t._1, -t._2))
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, us, id, tp, v) =>
            if (tp == "purchase") {
              val weighted = touches.zipWithIndex.map { case (t, i) =>
                (t._3, 1000000L >> i) // i < 20 by the state cap
              }
              val sw = weighted.map(_._2).sum
              // NaN is the null-value sentinel from the projection below:
              // the batch rule (w23's `pval_e6 IS NOT NULL`) emits NO rows
              // for a value-less purchase — emitting zero-credit rows here
              // would skew every downstream n_touches/sum_weight_ppm
              // rollup against the twin. The purchase still consumes its
              // segment either way (it delimits segments in the batch
              // rule regardless of its value).
              if (sw > 0 && !v.isNaN) {
                val pval = math.floor(v * 1e6).toLong
                weighted.withFilter(_._2 > 0).foreach { case (tt, w) =>
                  out += DecayCredit(k, id, tt, w, pval * w / sw)
                }
              }
              touches = Nil
            } else {
              touches = (((us, id, tp)) :: touches)
                .sortBy(t => (-t._1, -t._2)).take(MaxTouches)
            }
          }
          open.clear()
          if (touches.nonEmpty) open.put(touches.toArray)
          out.result().iterator
        }
      }
    events
      // the batch twin's own event universe (w23 filters to these
      // three): without it any foreign type ("error", heartbeats…)
      // would be stored and CREDITED as a touch — and evict real
      // touches from the 20-entry cap. NULL values coalesce to NaN, a
      // SENTINEL the processor reads as "no credit" (only purchases
      // carry a value; the primitive-Double encoder cannot hold null,
      // and coalescing to 0.0 would emit zero-credit rows the batch
      // rule's `pval_e6 IS NOT NULL` filter never produces)
      .filter(col(typeCol).isin("view", "click", "purchase"))
      .select(col(keyCol).cast("long"), unix_micros(col(tsCol)),
        col(idCol).cast("long"), col(typeCol),
        coalesce(col(valueCol).cast("double"), lit(Double.NaN)))
      .as[(Long, Long, Long, String, Double)](rowEnc)
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(processor,
        ttlTimeMode(ttl),
        OutputMode.Append())(
        Encoders.product[DecayCredit])
  }

  /** Streaming twin of the batch w17 transition matrix: a per-key
    * `ValueState` holds the LAST seen event, and each arrival emits its
    * (from → to) edge when the gap stays inside the session bound —
    * O(1) state per key regardless of history length; the matrix itself
    * is a downstream grid agg over the emitted edges.
    *
    * Exactness contract: identical to the batch rule as long as
    * arrivals are per-key event-time ordered ACROSS micro-batches (the
    * CDC transport's per-key ordering guarantee; w16 profiles
    * violations and sizes the watermark that would instead be needed).
    * WITHIN a batch arrival order is free — rows sort on (ts, event_id)
    * before folding, bounded by a key's per-batch volume.
    *
    * STATE LIFETIME (see [[funnelStream]] for the shared trade-off):
    * with `ttl` set, an idle user's last-event state is evicted; the
    * next event after the horizon opens a fresh path instead of pairing
    * with the stale one — which the `gapUs` session bound would have
    * rejected anyway for any `ttl` ≥ the processing-time analogue of
    * `gapUs`, so composing the two changes nothing within the horizon
    * (proven in StreamingOpsSpec).
    */
  def transitionStream(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String,
      gapUs: Long,
      ttl: Option[java.time.Duration] = None): Dataset[PathTransition] = {
    val stEnc = Encoders.product[(Long, Long, String)]
    val rowEnc = Encoders.product[(Long, Long, Long, String)]
    val processor =
      new StatefulProcessor[Long, (Long, Long, Long, String), PathTransition] {
        @transient private var last: ValueState[(Long, Long, String)] = _
        override def init(om: OutputMode, tm: TimeMode): Unit =
          last = getHandle.getValueState("last", stEnc,
            ttlConfig(ttl))
        override def handleInputRows(k: Long,
            rows: Iterator[(Long, Long, Long, String)],
            tv: TimerValues): Iterator[PathTransition] = {
          val out = Seq.newBuilder[PathTransition]
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ts, id, tp) =>
            if (last.exists()) {
              val (pts, _, ptp) = last.get()
              if (ts - pts < gapUs) out += PathTransition(k, ptp, tp, ts - pts)
            }
            last.update((ts, id, tp))
          }
          out.result().iterator
        }
      }
    events
      .select(col(keyCol).cast("long"), unix_micros(col(tsCol)),
        col(idCol).cast("long"), col(typeCol))
      .as[(Long, Long, Long, String)](rowEnc)
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(processor,
        ttlTimeMode(ttl),
        OutputMode.Append())(
        Encoders.product[PathTransition])
  }

  /** State rows EVICTED across a query's recorded progress: TTL expiry
    * removals plus expired event-time timers, summed over every state
    * operator of every micro-batch. This is the number an operator
    * watches to confirm a configured `ttl` is actually reclaiming state
    * (w29's `evicted_rows` column reads it after the profile run;
    * StreamingOpsSpec asserts it goes positive when a TTL'd key expires
    * for real). Metric names are Spark's own transformWithState
    * operator metrics (`numValuesRemovedDueToTTLExpiry`,
    * `numExpiredTimers`); operators without them (non-TWS stateful ops)
    * contribute zero rather than failing the readout.
    */
  def stateEvictions(progress: Seq[StreamingQueryProgress]): Long =
    progress.flatMap(_.stateOperators.toSeq).map { so =>
      def metric(n: String): Long =
        Option(so.customMetrics.get(n)).map(_.longValue).getOrElse(0L)
      metric("numValuesRemovedDueToTTLExpiry") + metric("numExpiredTimers")
    }.sum
}
