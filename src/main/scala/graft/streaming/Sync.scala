package graft.streaming

import graft.config.TableConfig
import graft.operators.{CountedWrite, SchemaTransform, SnapshotStore}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Resync orchestrator: the snapshot -> CDC handoff that makes a replica
  * convergent despite the snapshot scan and the change stream overlapping.
  *
  * Reference: `synchronizer` (replication/replicator/sync.py:75-160)
  * drives stop-consumers -> snapshot -> restart-consumers; the load-bearing
  * step is recording the WAL's current tick BEFORE the snapshot scan
  * (replication/replicator/store.py:51-58) so CDC resumes from that tick.
  * Changes that land during the scan are then seen twice — once inside the
  * snapshot, once replayed by CDC — and collapse, because CDC versions
  * (Envelope.verExpr, strictly positive) always exceed the snapshot's
  * `_ver = 0` and the versioned read view keeps max-version per key.
  * Changes strictly older than the captured tick are dropped by the F3
  * high-pass, so a resync never resurrects pre-snapshot state.
  *
  * The Kafka topic delete/create and pm2 process choreography of the
  * reference collapse into Spark-native equivalents: a fresh checkpoint
  * directory IS the "new topic" (offsets restart), and the returned
  * StreamingQuery handle replaces the process manager.
  */
object Sync {

  /** Outcome of a resync: the tick CDC resumed from, snapshot row/reject
    * counts (the reference's processed-documents log, store.py:84-91), and
    * the running replication query.
    */
  final case class Resync(
      initialTick: Long,
      snapshotRows: Long,
      snapshotRejects: Long,
      query: StreamingQuery)

  /** Current last tick of a WAL chunk directory — the engine's
    * `wal.get_last_tick()` (store.py:53-58). 0 for an empty/absent WAL
    * (CDC then replays from the beginning, which is also convergent).
    */
  def currentTick(spark: SparkSession, walDir: String): Long =
    graft.sources.WalSource.chunks(walDir, spark.sparkContext.hadoopConfiguration)
      .lastOption.map(_._2).getOrElse(0L)

  /** Snapshot the source collection through the schema transform into the
    * replica table (atomic swap), dead-lettering rejects. Snapshot rows
    * carry `_ver = 0` / `_deleted = 0` and a null offset: any CDC row
    * (whose version encodes the UTC date) outranks them.
    */
  def snapshot(
      spark: SparkSession,
      collection: DataFrame,
      config: TableConfig,
      tableDir: String): (Long, Long) = {
    // this is by definition the full-corpus path, and the source may be a
    // live scan that must be read once: persist it so the valid write and
    // the reject write both run off ONE collection scan (MEMORY_AND_DISK
    // — at snapshot scale the spill is a local shadow copy, still cheaper
    // than a second scan over the source)
    val cached = collection.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the reject count is observed on the valid write's own job
      val ((t, n), counted) = CountedWrite(count_if(SchemaTransform.rejected).as("rejects")) {
        observe =>
          val t = SchemaTransform.split(cached, config, Nil)(observe)
          // the sink's column order (its SchemaTransform `keep` columns
          // first): Spark takes a parquet dir's schema from one part file,
          // so snapshot and stream files must agree or the read order
          // depends on file names
          val meta = Seq(lit(null).cast("long").as("offset"),
            lit(0L).as(config.versionColumn), lit(0).as(config.deletedColumn))
          val rows = t.valid.select(meta ++ t.valid.columns.map(col): _*)
          (t, SnapshotStore.writeSnapshot(spark, rows, tableDir))
      }({ case (t, _) => Row(t.errors.count()) })
      val nRejects = counted.getLong(0)
      // batch_id = -1 marks the snapshot partition: a re-run snapshot
      // OVERWRITES its own rejects instead of appending a duplicate set
      // — consistent with the snapshot itself replacing the table
      if (nRejects > 0) CdcStream.writeRejects(t.errors, tableDir, -1L)
      else {
        // a clean re-run must also CLEAR a previous snapshot's rejects:
        // no reject write runs for it, so without this an operator
        // auditing the E1 log sees phantom rejects the live snapshot
        // never produced
        val stale = new Path(tableDir + ".deadletter", "batch_id=-1")
        val fs = stale.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(stale)) fs.delete(stale, true)
      }
      (n, nRejects)
    } finally cached.unpersist()
  }

  /** Full resync of one collection: capture tick -> snapshot -> start CDC
    * from that tick, against a [[graft.sources.CollectionSource]] — the
    * transport seam: a live connector implementation drops in without any
    * change here (SURVEY §7.1). `checkpointDir` must be fresh (a resync
    * restarts the offset history exactly as the reference recreates its
    * topic).
    */
  def resync(
      spark: SparkSession,
      source: graft.sources.CollectionSource,
      config: TableConfig,
      payloadSchema: StructType,
      tableDir: String,
      checkpointDir: String,
      collectionIds: Seq[String] = Nil,
      clock: Column = current_timestamp(),
      trigger: Trigger = Trigger.AvailableNow(),
      queryName: Option[String] = None): Resync =
    // the live-writer guard must run BEFORE the snapshot swap: resyncing
    // a table whose old replication query is still appending would first
    // replace the live dir (the old query's replayed pre-snapshot
    // changes, with _ver > 0, would then outrank the fresh _ver=0
    // snapshot rows — resurrecting exactly the state the resync is
    // discarding) and only then fail fast in startReplication. Holding
    // the dir monitor across snapshot + start also keeps a concurrent
    // start out of the window between them (the monitor is reentrant,
    // so startReplication's own lock nests).
    CdcStream.withTableDirLock(tableDir) {
      CdcStream.requireNoActiveWriter(tableDir)
      // tick FIRST, then scan: anything committed after this point may be in
      // the snapshot AND in the replayed stream — that overlap is the safe
      // direction (idempotent); ticking after the scan would LOSE changes
      val tick = source.currentTick(spark)
      val (rows, rejects) = snapshot(spark, source.snapshot(spark), config, tableDir)
      val query = CdcStream.startReplication(
        source.changes(spark), config, payloadSchema, tableDir, checkpointDir,
        collectionIds = collectionIds, initialTick = Some(tick),
        clock = clock, trigger = trigger, queryName = queryName)
      Resync(tick, rows, rejects, query)
    }

  /** F5 table-allowlist validation (reference replicate.py:8-23): every
    * requested table must be in the configured sync list; violations fail
    * fast with the full allowlist in the message.
    */
  def validateTables(requested: Seq[String], allowed: Seq[String]): Seq[String] = {
    val notAllowed = requested.filterNot(allowed.contains)
    require(notAllowed.isEmpty,
      s"tables ${notAllowed.mkString(", ")} are not allowed. " +
        s"Allowed tables: ${allowed.sorted.mkString(", ")}")
    requested
  }
}
