package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Snapshot load with crash-recoverable swap (reference operator K3:
  * replication/replicator/store.py:25-49,86-90 — create `<T>Temp`,
  * bulk-load, DROP real, RENAME temp->real).
  *
  * The reference's drop-then-rename has an unrecoverable visibility gap
  * (a crash between the DDLs loses the table). Here the swap is two
  * directory renames with rollback: a reader racing the swap can still
  * observe a missing dir for the instant between them (retry-once
  * suffices), but a crash mid-swap is recovered by rolling `.old` back
  * into place, and the data itself is never lost. A table format with
  * transactional commit (or a version-pointer indirection) would make
  * the window zero; that is deliberately out of scope for plain parquet
  * dirs.
  */
object SnapshotStore {

  /** Completeness witness inside a staging dir: created only after the
    * staging write returned AND its observed row count is known, i.e. the
    * last step before the renames begin. Underscore-prefixed so parquet
    * readers ignore it (the `_SUCCESS` convention); it travels with the
    * rename into the live dir, where [[writeSnapshot]] removes it.
    */
  private val SwapReady = "_graft_swap_ready"

  /** Repair a swap a CRASH interrupted between its two renames — the
    * recovery the class doc promises. Disk states and their repairs:
    *
    *  - live missing, staging carries [[SwapReady]]: the crash hit after
    *    `live -> .old` and before `.staging -> live`; staging is a
    *    complete, counted snapshot — finish the swap forward.
    *  - live missing, staging absent/incomplete, `.old` present: roll
    *    the previous snapshot back (crash either mid-staging-write on a
    *    table already staged out, or in an unmarked legacy swap).
    *  - live present: nothing to do (a stray `.old` is reclaimed by the
    *    next swap's own delete).
    *
    * MUST only run from a writer's context (the single replication
    * micro-batch thread, or a caller holding the writeSnapshot
    * serialization the class contract already requires) — a reader
    * calling this concurrently with a live swap could race its renames.
    */
  def recoverInterruptedSwap(spark: SparkSession, dir: String): Unit = {
    val staging = new Path(dir + ".staging")
    val live = new Path(dir)
    val old = new Path(dir + ".old")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(live)) return
    if (fs.exists(new Path(staging, SwapReady))) {
      if (!fs.rename(staging, live))
        throw new IllegalStateException(s"snapshot recovery: could not promote staging for $dir")
      fs.delete(old, true)
      fs.delete(new Path(live, SwapReady), false)
    } else if (fs.exists(old)) {
      if (!fs.rename(old, live))
        throw new IllegalStateException(s"snapshot recovery: could not roll back $dir")
    }
  }

  /** The staged-swap protocol, shared by both write shapes — the
    * crash-window invariants (heal, staged write, observed count, ready
    * witness, two renames with rollback, cleanup) live HERE and only
    * here; `write` supplies the one varying step (how the frame lands in
    * the staging path). The row count is observed on the write itself
    * ([[CountedWrite]]); only a missing observation reads staging back.
    */
  private def stagedSwap(spark: SparkSession, df: DataFrame, dir: String)(
      write: (DataFrame, String) => Unit): Long = {
    val staging = new Path(dir + ".staging")
    val live = new Path(dir)
    val old = new Path(dir + ".old")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)

    recoverInterruptedSwap(spark, dir) // a prior crash mid-swap heals here

    fs.delete(staging, true)
    val (_, counted) = CountedWrite(count(lit(1)).as("rows"))(
      observe => write(observe(df), staging.toString))(
      _ => Row(spark.read.parquet(staging.toString).count()))
    val n = counted.getLong(0)
    fs.create(new Path(staging, SwapReady), true).close()

    fs.delete(old, true)
    val hadLive = fs.exists(live)
    if (hadLive && !fs.rename(live, old))
      throw new IllegalStateException(s"snapshot swap: could not stage out $dir")
    if (!fs.rename(staging, live)) {
      // roll the previous snapshot back into place before failing —
      // never leave the table missing
      if (hadLive) fs.rename(old, live)
      throw new IllegalStateException(s"snapshot swap failed for $dir")
    }
    fs.delete(old, true)
    fs.delete(new Path(live, SwapReady), false)
    n
  }

  /** Write `df` to `<dir>.staging`, then atomically swap it into `dir`.
    * Returns the row count written (the reference returns processed-doc
    * counts from its snapshot loader, store.py:61-91).
    */
  def writeSnapshot(spark: SparkSession, df: DataFrame, dir: String): Long =
    stagedSwap(spark, df, dir)((d, p) => d.write.mode("overwrite").parquet(p))

  /** Write `df` hive-partitioned on `partCols` (same staged atomic swap
    * as [[writeSnapshot]]). This is the time-series storage layout at
    * 100 TB: a reader's predicate on the partition column prunes whole
    * directories at PLANNING time — unread days are never opened, which
    * row-group min/max pushdown cannot do for a DERIVED column (e.g. the
    * events `ts`, which only exists after the nanos conversion and so
    * can never reach the scan as a pushed filter).
    */
  def writePartitioned(
      spark: SparkSession,
      df: DataFrame,
      dir: String,
      partCols: Seq[String]): Long =
    stagedSwap(spark, df, dir)((d, p) =>
      d.write.mode("overwrite").partitionBy(partCols: _*).parquet(p))
}
