package graft.streaming

import graft.config.TableConfig
import graft.operators.{Envelope, ReplicaTable, SchemaTransform}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The reference's producer+consumer daemons re-expressed as ONE Structured
  * Streaming query (SURVEY §3.2/§3.3): source -> envelope filters/system
  * columns -> schema transform -> idempotent append sink, with the
  * checkpoint directory replacing the Redis tick store and `last-tick.txt`
  * (replication/producer/publisher.py:24-46) and micro-batches replacing
  * the poll/insert/commit loop (replication/consumer/loader.py:89-169).
  *
  * Delivery contract (SURVEY §2.10): the checkpoint gives at-least-once
  * per micro-batch; the sink is an append-only versioned table whose read
  * view collapses to (key, max _ver) — so replays and duplicates converge
  * to the same state, exactly the reference's at-least-once +
  * ReplacingMergeTree idempotence, with NO dependence on partition count
  * or arrival order (the reference had to pin 1 Kafka partition per topic;
  * this engine can fan out).
  *
  * Scale notes:
  *  - the sink appends micro-batch parquet files; nothing rewrites the
  *    table on the hot path. Dedup cost is paid on read ([[ReplicaTable]])
  *    or amortized via [[compact]] (the OPTIMIZE FINAL analogue, which
  *    ClickHouse likewise runs as background merges);
  *  - all envelope filters are Catalyst predicates evaluated source-side
  *    (the analogue of the reference filtering BEFORE Kafka publish);
  *  - per-collection supervision (replication/consumer/task.py) maps to
  *    one query per table on the shared SparkSession, monitored via
  *    `spark.streams` + a StreamingQueryListener.
  */
object CdcStream {

  /** Shared ttl plumbing for every transformWithState twin: the
    * TTLConfig and the TimeMode MUST move in lockstep (state TTL is
    * defined against processing time, and toggling it changes the
    * checkpoint's state schema — the CHECKPOINT COMPATIBILITY contract
    * on [[statefulLatestTws]]), so all five twins derive both from this
    * one place instead of five copy-pasted pairs that could drift.
    */
  private def ttlConfig(ttl: Option[java.time.Duration])
      : org.apache.spark.sql.streaming.TTLConfig =
    ttl.map(org.apache.spark.sql.streaming.TTLConfig.apply)
      .getOrElse(org.apache.spark.sql.streaming.TTLConfig.NONE)

  private def ttlTimeMode(ttl: Option[java.time.Duration])
      : org.apache.spark.sql.streaming.TimeMode =
    if (ttl.isDefined) org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
    else org.apache.spark.sql.streaming.TimeMode.None()

  /** Kafka WAL source (production transport). One topic per collection,
    * value = orjson WAL entry, key = doc _key — the reference's topology
    * (replication/replicator/sync.py:62-67). Not exercised by tests (no
    * broker in the environment) but the column contract matches
    * [[graft.sources.WalSource]]'s, so the pipeline is transport-agnostic.
    */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest") // broker.py:18 auto_offset_reset
      .load()
      .select(from_json(col("value").cast("string"), Envelope.walSchema).as("w"))
      // the pipeline's `offset` is the global WAL sequence E2's gap
      // detection watches ("the SERVER skipped ticks", publisher.py:
      // 140-141) — on this transport that is the envelope's own tick.
      // Kafka's record offset is PER PARTITION: on a multi-partition
      // topic it is not a global sequence (batch boundaries would fake
      // gaps, and a real tick skip never creates a Kafka-offset gap at
      // all), so it must not masquerade as one.
      .select(col("w.*"), col("w.tick").cast("long").as("offset"))

  /** The envelope half of the pipeline over a (streaming or batch) frame:
    * F1 op/collection filter, then F2/F3 + P2 via Envelope.preProcess.
    * The P1 schema transform deliberately happens LATER, inside the
    * foreachBatch sink, where the valid/reject split can write both
    * halves — so the frame returned here is envelope-typed, NOT yet
    * config-typed.
    */
  def pipeline(
      wal: DataFrame,
      payloadSchema: StructType,
      collectionIds: Seq[String] = Nil,
      initialTick: Option[Long] = None,
      clock: Column = current_timestamp()): DataFrame =
    Envelope.preProcess(
      Envelope.opFilter(wal, collectionIds),
      payloadSchema, initialTick, clock)

  /** Start continuous replication of one collection into an append-only
    * versioned table at `tableDir`, dead-lettering transform rejects to
    * `<tableDir>.deadletter` (E1's DOCUMENT log as a queryable table).
    *
    * The observe() metrics surface per-batch offset ranges so a listener
    * can flag WAL gaps (E2, publisher.py:140-141) without a second pass.
    */
  def startReplication(
      wal: DataFrame,
      config: TableConfig,
      payloadSchema: StructType,
      tableDir: String,
      checkpointDir: String,
      collectionIds: Seq[String] = Nil,
      initialTick: Option[Long] = None,
      clock: Column = current_timestamp(),
      trigger: Trigger = Trigger.AvailableNow(),
      queryName: Option[String] = None,
      compactEvery: Option[Int] = None): StreamingQuery = {
    compactEvery.foreach(n => require(n >= 1, s"compactEvery must be >= 1, got $n"))
    // two live writers on one tableDir would silently break the
    // compaction guard below: activeWriters keeps ONE entry per dir, so
    // a second start would shadow the first and compact() could swap
    // the table while the shadowed query is still appending — an append
    // racing the swap is moved aside and deleted while its checkpoint
    // offsets stay committed. Fail fast instead. The guard, the start
    // and the registration all run under the dir's monitor: a bare
    // check-then-act would let two concurrent starts both pass (and let
    // an external compact() slip into the window between start() and
    // the registration, where the first micro-batch may already be
    // appending with no writer visible to the compaction guard).
    withTableDirLock(tableDir) {
    requireNoActiveWriter(tableDir)
    // offset-range metrics attach to the RAW wal frame, BEFORE the
    // envelope filter: op-filtered entries (txn markers 2200-2202,
    // foreign collections) carry WAL offsets too, so observing after the
    // filter makes every routinely-dropped run at a batch boundary look
    // like a gap (batch N ends at a data offset, batch N+1 starts past
    // the dropped markers) — E2 means "the SERVER skipped ticks", which
    // only the pre-filter stream can witness. The processed-rows count
    // (V3) stays post-pipeline: it counts rows that became table rows.
    val observedWal = wal.observe("cdc_wal",
      min(col("offset")).as("min_offset"), max(col("offset")).as("max_offset"),
      count(col("offset")).as("n_offsets"))
    val changes = pipeline(observedWal, payloadSchema, collectionIds, initialTick, clock)
      .observe("cdc", count(lit(1)).as("rows"))
    val writer = changes.writeStream
    queryName.foreach(writer.queryName)
    val query = writer
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Idempotent sink commit: foreachBatch is at-least-once — after a
        // failure between the parquet append and the checkpoint commit,
        // the SAME batchId is re-delivered and a bare append would store
        // the rows twice (semantically harmless under the versioned read
        // view, which collapses duplicate (key, _ver) rows, but storage
        // and scan cost double with every crash). A per-batch marker
        // INSIDE the checkpoint directory — so its lifecycle is exactly
        // the offset log's: fresh checkpoint = fresh ledger, resumed
        // checkpoint = resumed ledger — downgrades that to exactly-once
        // storage except for a crash inside the marker write itself,
        // where the read view still gives exactly-once SEMANTICS.
        // (The same (appId, version) pattern transactional table formats
        // expose; plain parquet dirs get it via the marker.)
        val fs = new Path(checkpointDir).getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        val marker = new Path(new Path(checkpointDir, "graft-sink-commits"),
          f"batch-$batchId%020d")
        // a crash inside the compaction swap below leaves the table
        // staged out as <tableDir>.old (no live dir); the re-delivered
        // batch would be SKIPPED by its commit marker and a bare append
        // would then start a fresh empty table while the history sits in
        // .old until the next compaction deletes it — heal BEFORE the
        // marker check so both the skip and the append see the restored
        // table (foreachBatch serialization makes this race-free)
        graft.operators.SnapshotStore.recoverInterruptedSwap(
          batch.sparkSession, tableDir)
        if (!fs.exists(marker)) {
          // cache: the batch feeds two writes (+ an emptiness probe); without
          // it each job re-executes the source plan — recomputing the batch
          // and double-counting the observe() metrics
          batch.persist()
          try {
            val t = SchemaTransform(batch, config,
              keep = Seq("offset", config.versionColumn, config.deletedColumn)
                .filter(batch.columns.contains))
            t.valid.write.mode("append").parquet(tableDir)
            val errs = t.errors
            // the deadletter log has no keys/_ver for a read view to
            // collapse, so a bare append would DOUBLE its rows on every
            // crash inside this marker window; one partition per batch
            // makes redelivery rewrite its own partition instead
            // (exactly-once reject storage)
            if (!errs.isEmpty) writeRejects(errs, tableDir, batchId)
          } finally batch.unpersist()
          fs.mkdirs(marker.getParent)
          fs.create(marker, true).close()
          // bounded ledger: only the LATEST uncommitted batch can ever be
          // re-delivered, so markers far behind are dead weight — drop
          // one trailing marker per commit (O(1), no directory listing;
          // a continuously running query keeps a sliding ~100-marker
          // window instead of one file per batch forever)
          if (batchId >= 100)
            fs.delete(new Path(marker.getParent, f"batch-${batchId - 100}%020d"), false)
          // compaction cadence (OPTIMIZE FINAL every N merges): INSIDE
          // foreachBatch is the one place a live table can be compacted
          // safely — micro-batches are serialized, so the swap can never
          // race an append. Runs AFTER the commit marker: a crash during
          // the rewrite re-delivers nothing (the batch is committed) and
          // at worst postpones compaction one cycle. Read cost stays
          // bounded: the table periodically collapses to one row per
          // (key, latest version) + tombstones instead of accumulating
          // every appended version forever.
          if (compactEvery.exists(n => (batchId + 1) % n == 0) &&
              fs.exists(new Path(tableDir)))
            compactNow(batch.sparkSession, tableDir,
              config.primaryKeys, config.versionColumn)
        }
        ()
      }
      .start()
    activeWriters.put(tableDir, query)
    query
    }
  }

  /** Write `rejects` as partition `batch_id = batchId` of
    * `<tableDir>.deadletter` (E1's DOCUMENT log as a queryable table),
    * replacing that partition only (dynamic overwrite). The sink writes
    * one partition per micro-batch; [[Sync.snapshot]] writes
    * `batch_id = -1`.
    */
  private[streaming] def writeRejects(rejects: DataFrame, tableDir: String, batchId: Long): Unit =
    rejects.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(tableDir + ".deadletter")

  /** Per-tableDir monitors serializing writer starts and external
    * compactions (reentrant, so [[graft.streaming.Sync.resync]] can hold
    * the dir across its snapshot-then-start sequence).
    */
  private val dirLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[graft] def withTableDirLock[A](tableDir: String)(f: => A): A =
    dirLocks.computeIfAbsent(tableDir, _ => new Object).synchronized(f)

  /** The live-writer guard, shared by [[startReplication]], [[compact]]
    * and [[graft.streaming.Sync.resync]] (which must consult it BEFORE
    * swapping the table, not after).
    */
  private[graft] def requireNoActiveWriter(tableDir: String): Unit =
    require(Option(activeWriters.get(tableDir)).forall(q => !q.isActive),
      s"a replication query is already appending to $tableDir — stop it " +
        "before starting another (two writers on one table dir would " +
        "bypass the compaction guard and can lose appends)")

  /** tableDir -> the replication query currently appending there; consulted
    * by [[compact]] so a swap can never race a live writer. Keyed by the
    * exact `tableDir` string both calls received.
    */
  private val activeWriters =
    new java.util.concurrent.ConcurrentHashMap[String, StreamingQuery]()

  /** Read view over the appended table: ReplacingMergeTree-FINAL +
    * `_deleted = 0`, i.e. what a reference reader gets from ClickHouse.
    */
  def currentView(spark: SparkSession, tableDir: String, keys: Seq[String],
      ver: String = "_ver", deleted: String = "_deleted"): DataFrame =
    ReplicaTable.current(spark.read.parquet(tableDir), keys, ver, deleted)

  /** OPTIMIZE FINAL analogue: rewrite the append-table down to its latest
    * versions (tombstones kept — they still shadow older resurrecting
    * rows on replay). Uses the atomic snapshot swap, so concurrent READERS
    * see old-or-new, never a half-written table.
    *
    * The WRITER must be stopped (or AvailableNow-drained) first: a
    * micro-batch appended between the read and the swap would be moved
    * aside and deleted while its checkpoint offsets stay committed —
    * silent data loss. Compacting against a `tableDir` whose
    * [[startReplication]] query is still active therefore fails fast
    * (best-effort: the guard keys on the exact `tableDir` string; writers
    * started outside this object are the caller's responsibility).
    */
  def compact(spark: SparkSession, tableDir: String, keys: Seq[String],
      ver: String = "_ver"): Long = withTableDirLock(tableDir) {
    // under the dir monitor: a concurrent startReplication can neither
    // slip between this guard and the rewrite nor register mid-swap
    val writer = activeWriters.get(tableDir)
    if (writer != null && writer.isActive)
      throw new IllegalStateException(
        s"compact('$tableDir') while replication query '${writer.name}' is " +
          "still appending there — stop it (or use Trigger.AvailableNow and " +
          "awaitTermination) first, or let the query compact itself via " +
          "startReplication(compactEvery = ...); an append racing the swap " +
          "would be silently lost while its checkpoint offsets stay committed")
    compactNow(spark, tableDir, keys, ver)
  }

  /** The rewrite itself, without the live-writer guard — called by
    * [[compact]] (after the guard) and by the sink's own cadence, which
    * runs inside foreachBatch where micro-batch serialization IS the
    * mutual exclusion.
    */
  private def compactNow(spark: SparkSession, tableDir: String,
      keys: Seq[String], ver: String): Long = {
    val latest = ReplicaTable.latest(spark.read.parquet(tableDir), keys, ver)
    graft.operators.SnapshotStore.writeSnapshot(spark, latest, tableDir)
  }

  /** Streaming-native latest-state view via arbitrary stateful
    * processing: per-key state holds the current winner; a new event only
    * emits (and updates state) when its version advances the key. The
    * output is a CHANGELOG of the replica view — downstream consumers see
    * each key's new current row exactly when it changes, without
    * rescanning the append table. State lives in the Spark state store
    * (RocksDB/HDFS-backed at scale), replacing the reference's
    * ClickHouse-side merge entirely for streaming readers.
    *
    * Order-independence: same convergence argument as [[ReplicaTable]] —
    * max-(version, tie) wins, so replays and out-of-order batches cannot
    * regress state (a replayed lower version emits nothing). `tie` is
    * the typed twin of [[ReplicaTable.latest]]'s `tieBreak` columns:
    * without it (the default constant), rows carrying the SAME (key,
    * version) but different payloads resolve by arrival order — exactly
    * like `latest` without tie-break columns — and replays of such a
    * stream can converge on either payload; supply a total tie order
    * when the version column alone is not unique per key.
    */
  def statefulLatest[K, T](ds: org.apache.spark.sql.Dataset[T])(
      key: T => K, ver: T => Long, tie: T => Long = (_: T) => 0L)(
      implicit ek: org.apache.spark.sql.Encoder[K],
      et: org.apache.spark.sql.Encoder[T]): org.apache.spark.sql.Dataset[T] =
    ds.groupByKey(key)
      .flatMapGroupsWithState[T, T](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (_: K, rows: Iterator[T], state: org.apache.spark.sql.streaming.GroupState[T]) =>
          val incoming = rows.maxBy(t => (ver(t), tie(t)))
          val advances = state.getOption.forall { cur =>
            val a = (ver(incoming), tie(incoming)); val b = (ver(cur), tie(cur))
            Ordering[(Long, Long)].gt(a, b)
          }
          if (advances) {
            state.update(incoming)
            Iterator.single(incoming)
          } else Iterator.empty
      }

  /** [[statefulLatest]] re-expressed on Spark 4's arbitrary-state API
    * (`transformWithState` + typed `ValueState`): the same changelog
    * contract while state lives, plus the thing the old API cannot
    * express — NATIVE per-key state TTL, so replica keys idle past the
    * horizon are evicted by the state store itself instead of
    * accumulating for the stream's lifetime. At 100 TB of keys that
    * eviction is the difference between bounded and unbounded state.
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`).
    *
    * TTL TRADE-OFF: eviction forgets the key's current version, so a
    * replay of an OLDER version arriving after expiry is accepted as new
    * — the order-independence guarantee only holds within the TTL
    * horizon. Set the TTL no shorter than the transport's replay window
    * (e.g. Kafka retention); with `ttl = None` the guarantee is
    * unconditional, matching [[statefulLatest]] exactly.
    *
    * Operational note: a TTL flips the operator into processing-time
    * mode, where TTL maintenance keeps scheduling micro-batches even
    * with no input (regardless of trigger) — `Trigger.AvailableNow`
    * never self-terminates and `processAllAvailable` never finds a
    * quiet moment on a TTL'd query. A TTL'd query is a long-lived
    * service: manage its lifetime explicitly (StreamingQuery.stop or
    * the [[Supervisor]]).
    *
    * CHECKPOINT COMPATIBILITY (applies to every `ttl`-parameterized twin
    * here — funnel/attribution/decay/transition included): turning a TTL
    * on or off is a TimeMode + state-schema change that
    * `transformWithState` REJECTS on restart from an existing
    * checkpoint. Enabling TTL on a deployed query therefore means a
    * FRESH checkpoint directory — and with it, discarding the operator
    * state accumulated so far (for these twins that is a bounded replay
    * cost: state rebuilds from the source's replay window, which the TTL
    * must cover anyway — see the trade-off above). Plan the flip as a
    * resync-style migration, not a config toggle.
    */
  def statefulLatestTws[K, T](
      ds: org.apache.spark.sql.Dataset[T],
      ttl: Option[java.time.Duration] = None)(
      key: T => K, ver: T => Long, tie: T => Long = (_: T) => 0L)(
      implicit ek: org.apache.spark.sql.Encoder[K],
      et: org.apache.spark.sql.Encoder[T]): org.apache.spark.sql.Dataset[T] = {
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
    val processor = new StatefulProcessor[K, T, T] {
      @transient private var cur: ValueState[T] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        cur = getHandle.getValueState[T]("current", et,
          ttlConfig(ttl))
      override def handleInputRows(k: K, rows: Iterator[T],
          timers: TimerValues): Iterator[T] = {
        val incoming = rows.maxBy(t => (ver(t), tie(t)))
        val advances = !cur.exists() || {
          val c = cur.get()
          Ordering[(Long, Long)].gt((ver(incoming), tie(incoming)), (ver(c), tie(c)))
        }
        if (advances) {
          cur.update(incoming)
          Iterator.single(incoming)
        } else Iterator.empty
      }
    }
    // state TTL is defined against processing time, so the time mode
    // must follow the ttl choice — TTL with TimeMode.None is rejected
    val timeMode = ttlTimeMode(ttl)
    ds.groupByKey(key)
      .transformWithState(processor, timeMode, OutputMode.Update())
  }

  /** Stream-static dedup lookup: incoming documents join against the
    * STATIC corpus index (content hash → keeper id) to be flagged as
    * duplicates in-flight, without any stream state — the static side is
    * re-read per micro-batch, so compacting/re-snapshotting the index
    * picks up new corpus versions between batches. At scale the index is
    * a bucketed table on the hash ([[graft.operators.Bucketing]]), making
    * the per-batch join exchange-free on the static side. New docs whose
    * hash misses the index pass through with `dup_of` null.
    */
  def streamStaticDedup(
      newDocs: DataFrame,
      index: DataFrame,
      hashCol: String,
      keeperCol: String): DataFrame =
    newDocs.join(index.select(col(hashCol), col(keeperCol).as("dup_of")),
      Seq(hashCol), "left")

  /** Streaming exact dedup with bounded state: the first arrival of each
    * key wins; re-deliveries within the watermark horizon are dropped and
    * the per-key state expires once the watermark passes it — so the
    * state store holds one horizon's worth of keys, not the stream's
    * lifetime. This is the transport-level companion to the versioned
    * sink ([[ReplicaTable]] collapses duplicates at read; this prevents
    * them from landing at all when the event carries its own identity).
    */
  def dedupStream(
      events: DataFrame,
      keys: Seq[String],
      tsCol: String,
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Time-bounded stream-stream inner join: each left event pairs with
    * right events of the same key whose timestamp lies in
    * [left.ts - bound, left.ts]. Both sides are watermarked so the join
    * state evicts rows older than the horizon — the standard
    * click-to-purchase attribution shape. `bound` and `watermark` are
    * SQL interval strings (e.g. "1 hour").
    */
  def streamIntervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      bound: String,
      watermark: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $bound") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs"))
  }

  /** Streaming sessionization: gap-based session windows per key, closed
    * and emitted once the watermark passes the gap — the streaming twin
    * of the batch w3_session query. `session_window` merges adjacent
    * state natively (no custom flatMapGroupsWithState needed for plain
    * gap sessions), and state per key is bounded by open sessions within
    * the watermark horizon.
    */
  def sessionizeStream(
      events: DataFrame,
      key: String,
      tsCol: String,
      gap: String,
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(key), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(key),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** A closed gap-session: [start, end] in event-time millis plus the
    * event count. Emitted by [[sessionizeTws]] exactly once per session.
    */
  final case class GapSession(key: Long, start: Long, end: Long, n: Long)

  /** Gap sessionization on RAW timer state — the event-time-timer leg of
    * `transformWithState` that the `session_window` builtin
    * ([[sessionizeStream]]) hides. Sessions live in a ListState (any
    * number of OPEN sessions per key: a late event inside the watermark
    * can extend a session backwards, bridge-merge two open sessions, or
    * open an older one while a newer one is already open); every input
    * re-registers a timer at session end + gap, and
    * `handleExpiredTimer` emits — exactly once, in start order — every
    * session the WATERMARK has passed, then drops it from state. Stale
    * timers (their session since merged away or extended) fire as no-ops.
    *
    * Scale shape: state per key = open sessions within the watermark
    * horizon (bounded), timers are per (key, timestamp) and deduplicated
    * by the store; everything runs on the same RocksDB-backed
    * transformWithState operator as [[statefulLatestTws]].
    *
    * `TTLConfig.NONE` is deliberate (r9 TTL audit): the EVENT-TIME TIMER
    * is this state's eviction path — every session leaves state when the
    * watermark passes end+gap, so nothing outlives the watermark horizon
    * and idle keys hold zero state. A processing-time TTL here would be
    * actively wrong: it could evict an OPEN session that a late-but-
    * in-watermark event is still allowed to extend.
    */
  def sessionizeTws(
      events: DataFrame,
      key: String,
      tsCol: String,
      gapMs: Long,
      watermark: String): org.apache.spark.sql.Dataset[GapSession] = {
    import org.apache.spark.sql.{Encoders, Dataset}
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}
    val sessEnc = Encoders.product[(Long, Long, Long)]
    val processor = new StatefulProcessor[Long, (Long, java.sql.Timestamp), GapSession] {
      @transient private var open: ListState[(Long, Long, Long)] = _
      override def init(om: OutputMode, tm: TimeMode): Unit =
        open = getHandle.getListState("open", sessEnc, TTLConfig.NONE)
      override def handleInputRows(k: Long, rows: Iterator[(Long, java.sql.Timestamp)],
          tv: TimerValues): Iterator[GapSession] = {
        var ss = open.get().toList // (start, end, n)
        rows.foreach { case (_, t) =>
          val ts = t.getTime
          // merge the event and every session it touches into one.
          // INCLUSIVE bounds, matching the session_window builtin this
          // twin mirrors: events exactly gapMs apart MERGE (measured —
          // StreamingOpsSpec's gap-boundary test drives both operators
          // over an exact-gap pair and pins one merged session from
          // each; docs claiming strict semantics are wrong about the
          // builtin).
          val (touch, rest) = ss.partition(s => ts >= s._1 - gapMs && ts <= s._2 + gapMs)
          val merged = ((ts, ts, 1L) :: touch).reduce((a, b) =>
            (math.min(a._1, b._1), math.max(a._2, b._2), a._3 + b._3))
          ss = merged :: rest
        }
        open.put(ss.toArray)
        ss.foreach(s => getHandle.registerTimer(s._2 + gapMs))
        Iterator.empty
      }
      override def handleExpiredTimer(k: Long, tv: TimerValues,
          info: ExpiredTimerInfo): Iterator[GapSession] = {
        val wm = tv.getCurrentWatermarkInMs
        val (closed, stillOpen) = open.get().toList.partition(_._2 + gapMs <= wm)
        if (stillOpen.isEmpty) open.clear() else open.put(stillOpen.toArray)
        closed.sortBy(_._1).iterator.map(s => GapSession(k, s._1, s._2, s._3))
      }
    }
    events
      .withWatermark(tsCol, watermark)
      .select(col(key).cast("long"), col(tsCol))
      .as[(Long, java.sql.Timestamp)](Encoders.product[(Long, java.sql.Timestamp)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(processor, TimeMode.EventTime(), OutputMode.Append())(
        Encoders.product[GapSession])
  }

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
    * processing-time mode — see [[statefulLatestTws]]'s operational
    * note on query lifetime.
    */
  def funnelStream(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      typeCol: String,
      ttl: Option[java.time.Duration] = None): org.apache.spark.sql.Dataset[StageLatency] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
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
    */
  /** STATE LIFETIME (see [[funnelStream]] for the shared trade-off):
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
      ttl: Option[java.time.Duration] = None): org.apache.spark.sql.Dataset[TouchAttribution] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
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
    */
  /** STATE LIFETIME (see [[funnelStream]] for the shared trade-off):
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
      ttl: Option[java.time.Duration] = None): org.apache.spark.sql.Dataset[DecayCredit] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}
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
    */
  /** STATE LIFETIME (see [[funnelStream]] for the shared trade-off):
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
      ttl: Option[java.time.Duration] = None): org.apache.spark.sql.Dataset[PathTransition] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
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

  /** Streaming windowed analytics with late-data handling — the added
    * surface beyond replication (SURVEY §2.10 "Windows"): watermarked
    * tumbling counts, emitted append-mode as windows close.
    */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      watermark: String,
      window: String,
      keyCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy((org.apache.spark.sql.functions.window(col(tsCol), window) +: keyCols.map(col)): _*)
      .agg(count(lit(1)).as("n_events"))
      .select((Seq(col("window.start").as("window_start"), col("window.end").as("window_end")) ++
        keyCols.map(col) :+ col("n_events")): _*)

  final case class MinuteAnomaly(key: String, minute: Long, cnt: Long, win_sum: Long)

  final case class DaySketch(day_idx: Long, n_regs_hit: Long, est_users: Long)

  /** w22's STREAMING half: the per-day HLL register sketch maintained as
    * keyed state while events arrive — the write path whose stored
    * output w22's batch merge reads. State per day is the register map
    * (<= 256 entries, O(m) regardless of event volume — the whole point
    * of sketching a stream); each micro-batch folds its rows in by
    * register max (the same merge law as w22's window combine, so
    * arrival order and batch boundaries provably cannot change the
    * result) and emits the day's updated (n_regs_hit, est_users)
    * changelog row. Registers only grow, so both emitted columns are
    * monotone per day and the LAST emission equals the batch daily
    * sketch — asserted in StreamingOpsSpec against
    * [[graft.queries.Events.sketchRegisterRows]]-derived batch state.
    *
    * `TTLConfig.NONE` is deliberate (r9 TTL audit): per-key state is
    * CONSTANT-bounded (<= 256 registers) and the key domain is DAYS —
    * total state grows ~KB per wall-clock day (~0.5 MB/year), not with
    * event volume or user cardinality. Old days must stay resident
    * because there is no watermark on this leg: a late event for any
    * past day still folds into that day's sketch. At multi-year
    * horizons the archival seam is a checkpoint migration that prunes
    * closed days (their final row is already in the stored changelog),
    * not a TTL — evicting a day mid-stream would silently reset its
    * registers on the next late event and emit a SHRUNKEN estimate,
    * breaking the monotonicity contract above.
    */
  def sketchStream(events: DataFrame): org.apache.spark.sql.Dataset[DaySketch] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}
    val entryEnc = Encoders.product[(Long, Long)]
    val processor = new StatefulProcessor[Long, (Long, Long, Long), DaySketch] {
      @transient private var regs: ListState[(Long, Long)] = _
      override def init(om: OutputMode, tm: TimeMode): Unit =
        regs = getHandle.getListState("regs", entryEnc, TTLConfig.NONE)
      override def handleInputRows(d: Long,
          rows: Iterator[(Long, Long, Long)],
          tv: TimerValues): Iterator[DaySketch] = {
        val cur = scala.collection.mutable.Map(regs.get().toSeq: _*)
        rows.foreach { case (_, reg, rho) =>
          if (cur.getOrElse(reg, 0L) < rho) cur(reg) = rho
        }
        regs.put(cur.toArray)
        Iterator.single(DaySketch(d, cur.size.toLong,
          graft.queries.Events.sketchEstimate(cur)))
      }
    }
    graft.queries.Events.sketchRegisterRows(events)
      .as[(Long, Long, Long)](Encoders.product[(Long, Long, Long)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(processor, TimeMode.None(), OutputMode.Append())(
        Encoders.product[DaySketch])
  }

  /** Streaming twin of the batch anomaly rule
    * ([[graft.queries.Events.w15Anomaly]]): per key, a trailing ring of
    * the last 10 CLOSED window counts lives in `transformWithState`
    * ListState, and each newly closed window is tested against it with
    * the same exact integer rewrite of |z| > 3 — (n*x - S)^2 >
    * 9*(n*Q - S^2) — before joining the ring. Feed it the APPEND-mode
    * output of [[windowedCounts]] (append emits each window exactly once,
    * after the watermark closes it, in non-decreasing event-time order
    * per key — the property the ring relies on; a window at or before
    * the ring head would be a re-delivery and is dropped), RENAMED to
    * this function's input contract: it selects exactly the columns
    * `event_type` (key), `minute` (window-close timestamp), `cnt`
    * (count) — windowedCounts' `window_start`/<keyCols>/`n_events` need
    * a `.select(col(key).as("event_type"), col("window_start")
    * .as("minute"), col("n_events").as("cnt"))` between the two (see
    * StreamingOpsSpec's wiring).
    *
    * State is O(1) per key (`window` longs) and the key domain —
    * `event_type` — is a small enumeration, so total state is
    * <= |event types| x `window` longs; `TTLConfig.NONE` is deliberate
    * (r9 TTL audit): evicting an idle type's ring would make its next
    * window's z-test run against an empty baseline and mute a real
    * anomaly. The flag itself is engine-exact, so a streaming
    * deployment and the batch backfill agree bit-for-bit on which
    * minutes are anomalous. The window length and z² threshold default
    * to the SHARED constants ([[graft.queries.Events.AnomalyWindow]] /
    * `AnomalyZSq`) — the bit-for-bit batch-equivalence claim holds only
    * at those defaults; a caller overriding `window` gets a
    * deliberately different detector.
    */
  def anomalyStream(
      minuteCounts: DataFrame,
      window: Int = graft.queries.Events.AnomalyWindow)
      : org.apache.spark.sql.Dataset[MinuteAnomaly] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}
    val entryEnc = Encoders.product[(Long, Long)]
    val processor = new StatefulProcessor[String, (String, java.sql.Timestamp, Long), MinuteAnomaly] {
      @transient private var ring: ListState[(Long, Long)] = _
      override def init(om: OutputMode, tm: TimeMode): Unit =
        ring = getHandle.getListState("ring", entryEnc, TTLConfig.NONE)
      override def handleInputRows(k: String,
          rows: Iterator[(String, java.sql.Timestamp, Long)],
          tv: TimerValues): Iterator[MinuteAnomaly] = {
        var buf = ring.get().toVector // ascending by minute, <= window entries
        val out = Vector.newBuilder[MinuteAnomaly]
        rows.toSeq.sortBy(_._2.getTime).foreach { case (_, t, cnt) =>
          val m = t.getTime
          if (buf.isEmpty || m > buf.last._1) { // ignore re-deliveries
            if (buf.length == window) {
              val n = window.toLong
              val s = buf.iterator.map(_._2).sum
              val q = buf.iterator.map(e => e._2 * e._2).sum
              val flagged =
                if (n * q - s * s == 0L) n * cnt != s
                else {
                  val d = n * cnt - s
                  d * d > graft.queries.Events.AnomalyZSq * (n * q - s * s)
                }
              if (flagged) out += MinuteAnomaly(k, m, cnt, s)
            }
            buf = (buf :+ ((m, cnt))).takeRight(window)
          }
        }
        ring.put(buf.toArray)
        out.result().iterator
      }
    }
    minuteCounts
      .select(col("event_type").cast("string"), col("minute"), col("cnt").cast("long"))
      .as[(String, java.sql.Timestamp, Long)](
        Encoders.product[(String, java.sql.Timestamp, Long)])
      .groupByKey(_._1)(Encoders.STRING)
      .transformWithState(processor, TimeMode.None(), OutputMode.Append())(
        Encoders.product[MinuteAnomaly])
  }
}
