package graft

import java.nio.file.{Files, Path}
import graft.config.{ColumnSpec, TableConfig}
import graft.streaming.{CdcStream, Sync}
import graft.sources.CollectionSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Resync orchestration: tick-before-scan handoff (reference
  * replication/replicator/sync.py:75-160 + store.py:51-58). The snapshot
  * and the replayed CDC overlap on purpose; the versioned view must
  * converge, and pre-snapshot ticks must be dropped.
  */
class SyncSpec extends SparkSpec {

  private val config = TableConfig(
    name = "Doc",
    columns = Seq(
      ColumnSpec("K", Seq("int"), ref = Some("k"), primaryKey = true),
      ColumnSpec("V", Seq("float"), ref = Some("v"), default = Some(0.0))))

  private val payloadSchema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  private val clock = lit("2024-01-01").cast("timestamp")

  private def walLine(offset: Long, tick: Long, opType: Int, data: String): String =
    s"""{"offset":$offset,"tick":"$tick","type":$opType,"db":"d","cuid":"c1","tid":"t","data":${
      if (data == null) "null" else "\"" + data.replace("\"", "\\\"") + "\""}}"""

  private def wal(walDir: Path): DataFrame =
    spark.readStream.format("graft.sources.WalSource").load(walDir.toString)

  /** An in-memory collection beside a WAL chunk directory. */
  private def memorySource(collection: DataFrame, walDir: Path): CollectionSource =
    new CollectionSource {
      override def snapshot(spark: SparkSession): DataFrame = collection
      override def changes(spark: SparkSession): DataFrame = wal(walDir)
      override def currentTick(spark: SparkSession): Long =
        Sync.currentTick(spark, walDir.toString)
    }

  private def current(tableDir: Path): Map[Long, Double] =
    CdcStream.currentView(spark, tableDir.toString, keys = Seq("K"))
      .select("K", "V").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("currentTick reads the WAL cursor from chunk names (0 when empty)") {
    val walDir = tempDir("wal")
    assert(Sync.currentTick(spark, walDir.toString) === 0L)
    assert(Sync.currentTick(spark, walDir.resolve("missing").toString) === 0L)
    Files.write(walDir.resolve("wal-11-20.json"), "".getBytes)
    Files.write(walDir.resolve("wal-3-9.json"), "".getBytes)
    Files.write(walDir.resolve("not-a-chunk.txt"), "".getBytes)
    assert(Sync.currentTick(spark, walDir.toString) === 20L)
  }

  test("resync: snapshot + overlapping CDC replay converge; old ticks dropped") {
    import spark.implicits._
    val walDir = tempDir("wal"); val tableDir = tempDir("tbl"); val ckpt = tempDir("ck")

    // WAL history up to tick 20. Ticks 11/15 predate the snapshot state
    // (already folded into the collection); tick 20's upsert of k=4 is the
    // OVERLAP row — in the snapshot AND replayed by CDC (high-pass keeps
    // tick >= 20).
    Files.write(walDir.resolve("wal-11-20.json"), java.util.Arrays.asList(
      walLine(11, 11, 2300, """{"k": 1, "v": "1.0"}"""),
      walLine(15, 15, 2300, """{"k": 1, "v": "1.5"}"""),
      walLine(20, 20, 2300, """{"k": 4, "v": "4.0"}""")))

    // collection state after tick 20 was applied
    val collection = Seq((1L, "1.5"), (2L, "2.0"), (4L, "4.0")).toDF("k", "v")

    val r = Sync.resync(spark, memorySource(collection, walDir),
      config, payloadSchema, tableDir.toString, ckpt.toString,
      collectionIds = Seq("c1"), clock = clock)
    r.query.awaitTermination()

    assert(r.initialTick === 20L)
    assert(r.snapshotRows === 3L)
    assert(r.snapshotRejects === 0L)
    assert(current(tableDir) === Map(1L -> 1.5, 2L -> 2.0, 4L -> 4.0))
    // the overlap really happened: k=4 is stored twice (snapshot _ver=0 +
    // CDC row), and the view collapsed it
    val k4 = spark.read.parquet(tableDir.toString).filter(col("K") === 4)
    assert(k4.count() === 2)
    assert(k4.agg(max("_ver")).head.getLong(0) > 0L)
    // ticks 11/15 were high-passed out: k=1 has ONLY its snapshot row
    assert(spark.read.parquet(tableDir.toString).filter(col("K") === 1).count() === 1)

    // steady state: post-snapshot changes continue on the same checkpoint
    Files.write(walDir.resolve("wal-21-25.json"), java.util.Arrays.asList(
      walLine(21, 21, 2300, """{"k": 1, "v": "1.9"}"""),
      walLine(22, 22, 2302, """{"k": 2, "v": "0"}"""),
      walLine(23, 23, 2300, """{"k": 3, "v": "3.0"}""")))
    val q2 = CdcStream.startReplication(
      wal(walDir),
      config, payloadSchema, tableDir.toString, ckpt.toString,
      collectionIds = Seq("c1"), initialTick = Some(r.initialTick), clock = clock)
    q2.awaitTermination()

    assert(current(tableDir) === Map(1L -> 1.9, 3L -> 3.0, 4L -> 4.0))
  }

  test("resync over the CollectionSource seam (transport-agnostic form)") {
    import spark.implicits._
    val walDir = tempDir("wal"); val tableDir = tempDir("tbl"); val colDir = tempDir("col")
    Files.write(walDir.resolve("wal-11-20.json"), java.util.Arrays.asList(
      walLine(20, 20, 2300, """{"k": 4, "v": "4.0"}""")))
    Seq((1L, "1.5"), (4L, "4.0")).toDF("k", "v")
      .write.mode("overwrite").parquet(colDir.toString)

    val source = graft.sources.FileCollectionSource(colDir.toString, walDir.toString)
    val r = Sync.resync(spark, source, config, payloadSchema,
      tableDir.toString, tempDir("ck").toString, Seq("c1"), clock,
      org.apache.spark.sql.streaming.Trigger.AvailableNow(), None)
    r.query.awaitTermination()

    assert(r.initialTick === 20L && r.snapshotRows === 2L)
    assert(current(tableDir) === Map(1L -> 1.5, 4L -> 4.0))
  }

  test("snapshot rejects go to the dead-letter table") {
    import spark.implicits._
    // the dead-letter table is a sibling of the table dir: keep both
    // inside one temp dir
    val tableDir = tempDir("tbl").resolve("t")
    val collection = Seq((Some(1L), "1.0"), (None, "no key")).toDF("k", "v")
    val (rows, rejects) = Sync.snapshot(spark, collection, config, tableDir.toString)
    assert(rows === 1L && rejects === 1L)
    val dead = spark.read.parquet(tableDir.toString + ".deadletter")
    assert(dead.count() === 1)
  }

  test("a clean re-run snapshot clears the previous run's rejects") {
    import spark.implicits._
    val tableDir = tempDir("tbl-rerun").resolve("t")
    // the jobs one snapshot runs: both counts ride the valid write, so
    // only the reject write adds a job
    def snapshotJobs(collection: DataFrame): ((Long, Long), Int) = {
      val group = s"snapshot-${System.nanoTime}"
      spark.sparkContext.setJobGroup(group, "Sync.snapshot")
      val (counts, jobs) =
        try jobsDuring(Sync.snapshot(spark, collection, config, tableDir.toString))
        finally spark.sparkContext.clearJobGroup()
      (counts, jobs.count(_._1 == group))
    }
    val bad = Seq((Some(1L), "1.0"), (None, "no key")).toDF("k", "v")
    assert(snapshotJobs(bad) === ((1L, 1L), 2))
    assert(spark.read.parquet(tableDir.toString + ".deadletter").count() === 1)
    // source fixed upstream; the re-run has zero rejects and must not
    // leave the stale batch_id=-1 partition reporting phantom rejects
    val clean = Seq((Some(1L), "1.0"), (Some(2L), "2.0")).toDF("k", "v")
    val ((rows, rejects), cleanJobs) = snapshotJobs(clean)
    assert(rows === 2L && rejects === 0L)
    assert(cleanJobs === 1)
    assert(!new java.io.File(tableDir.toString + ".deadletter/batch_id=-1").exists,
      "stale snapshot rejects survived a clean re-run")
  }

  test("resync refuses an active writer BEFORE swapping the table") {
    import spark.implicits._
    val walDir = tempDir("wal"); val tableDir = tempDir("tbl-guard")
    Files.write(walDir.resolve("wal-1-10.json"), java.util.Arrays.asList(
      walLine(10, 10, 2300, """{"k": 1, "v": "1.0"}""")))
    val r1 = Sync.resync(spark, memorySource(Seq((1L, "1.0")).toDF("k", "v"), walDir),
      config, payloadSchema, tableDir.toString, tempDir("ck1").toString,
      Seq("c1"), clock,
      org.apache.spark.sql.streaming.Trigger.AvailableNow(), None)
    r1.query.awaitTermination()
    val before = current(tableDir)
    assert(before.nonEmpty)
    // a LIVE writer on the same dir (ProcessingTime keeps it active)
    val live = CdcStream.startReplication(
      wal(walDir), config, payloadSchema,
      tableDir.toString, tempDir("ck2").toString, Seq("c1"), clock = clock,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds"),
      queryName = Some("live_writer_guard"))
    try {
      val e = intercept[IllegalArgumentException] {
        Sync.resync(spark, memorySource(Seq((9L, "9.0")).toDF("k", "v"), walDir),
          config, payloadSchema, tableDir.toString, tempDir("ck3").toString,
          Seq("c1"), clock,
          org.apache.spark.sql.streaming.Trigger.AvailableNow(), None)
      }
      assert(e.getMessage.contains("already appending"))
      // the guard fired BEFORE the snapshot swap: the k=9 snapshot never
      // replaced the live table (the old corruption mode swapped first,
      // failed after)
      assert(current(tableDir) === before,
        "the refused resync still swapped the table")
    } finally live.stop()
  }

  test("the CollectionSource resync overload refuses an active writer before the swap too") {
    import spark.implicits._
    val walDir = tempDir("wal"); val tableDir = tempDir("tbl-guard2"); val colDir = tempDir("col")
    Files.write(walDir.resolve("wal-1-10.json"), java.util.Arrays.asList(
      walLine(10, 10, 2300, """{"k": 1, "v": "1.0"}""")))
    Seq((1L, "1.0")).toDF("k", "v").write.parquet(colDir.resolve("c").toString)
    val source = graft.sources.FileCollectionSource(
      colDir.resolve("c").toString, walDir.toString)
    val r1 = Sync.resync(spark, source, config, payloadSchema,
      tableDir.toString, tempDir("ck1").toString, Seq("c1"), clock,
      org.apache.spark.sql.streaming.Trigger.AvailableNow(), None)
    r1.query.awaitTermination()
    val before = current(tableDir)
    val live = CdcStream.startReplication(
      wal(walDir), config, payloadSchema,
      tableDir.toString, tempDir("ck2").toString, Seq("c1"), clock = clock,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds"),
      queryName = Some("live_writer_guard2"))
    try {
      val e = intercept[IllegalArgumentException] {
        Sync.resync(spark, source, config, payloadSchema,
          tableDir.toString, tempDir("ck3").toString, Seq("c1"), clock,
          org.apache.spark.sql.streaming.Trigger.AvailableNow(), None)
      }
      assert(e.getMessage.contains("already appending"))
      assert(current(tableDir) === before,
        "the refused source-overload resync still swapped the table")
    } finally live.stop()
  }

  test("validateTables enforces the configured allowlist (F5)") {
    assert(Sync.validateTables(Seq("a", "b"), Seq("b", "a", "c")) === Seq("a", "b"))
    assert(Sync.validateTables(Nil, Seq("a")) === Nil)
    val e = intercept[IllegalArgumentException] {
      Sync.validateTables(Seq("a", "z"), Seq("a", "b"))
    }
    assert(e.getMessage.contains("z") && e.getMessage.contains("Allowed tables"))
  }
}
