package graft.streaming

import graft.config.TableConfig
import graft.operators.{CountedWrite, Envelope, ReplicaTable, SchemaTransform}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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
          // cache: the batch feeds two writes; without it the reject
          // write re-executes the source plan — recomputing the batch and
          // double-counting the observe() metrics
          batch.persist()
          try {
            val keep = Seq("offset", config.versionColumn, config.deletedColumn)
              .filter(batch.columns.contains)
            // the reject count is observed on the valid append's own job,
            // so a clean batch runs that one job and nothing else
            val (t, counted) = CountedWrite(count_if(SchemaTransform.rejected).as("rejects")) {
              observe =>
                val t = SchemaTransform.split(batch, config, keep)(observe)
                t.valid.write.mode("append").parquet(tableDir)
                t
            }(t => Row(t.errors.count()))
            // the deadletter log has no keys/_ver for a read view to
            // collapse, so a bare append would DOUBLE its rows on every
            // crash inside this marker window; one partition per batch
            // makes redelivery rewrite its own partition instead
            // (exactly-once reject storage)
            if (counted.getLong(0) > 0) writeRejects(t.errors, tableDir, batchId)
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
    * `<tableDir>.deadletter` (E1's DOCUMENT log as a queryable table):
    * the rows go straight into that partition's directory, replacing it
    * and nothing else, and readers infer `batch_id` from the directory
    * name. The sink writes one partition per micro-batch;
    * [[Sync.snapshot]] writes `batch_id = -1`.
    */
  private[graft] def writeRejects(rejects: DataFrame, tableDir: String, batchId: Long): Unit =
    rejects.write.mode("overwrite").parquet(s"$tableDir.deadletter/batch_id=$batchId")

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
}
