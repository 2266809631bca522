package graft

import java.nio.file.{Files, Path}
import graft.config.{ColumnSpec, TableConfig}
import graft.operators.{CountedWrite, SnapshotStore}
import graft.streaming.CdcStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end Structured Streaming replication: snapshot + CDC stream ->
  * append table -> dedup read view. Ports the semantics of the reference's
  * replay/idempotence test (test/test_producer.py:28-58: an un-acked batch
  * is re-served and must not corrupt state) and the snapshot/CDC overlap
  * handoff (replication/replicator/store.py:51-58).
  */
class CdcStreamSpec extends SparkSpec {

  private val config = TableConfig(
    name = "Doc",
    columns = Seq(
      ColumnSpec("K", Seq("int"), ref = Some("k"), primaryKey = true),
      ColumnSpec("V", Seq("float"), ref = Some("v"), default = Some(0.0))))

  private val payloadSchema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  private def walLine(offset: Long, tick: Long, opType: Int, cuid: String, data: String): String =
    s"""{"offset":$offset,"tick":"$tick","type":$opType,"db":"d","cuid":"$cuid","tid":"t","data":${
      if (data == null) "null" else "\"" + data.replace("\"", "\\\"") + "\""}}"""

  /** Fixed clock so _ver = 2024001<offset> deterministically. */
  private val clock = lit("2024-01-01").cast("timestamp")

  private def writeWal(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), String.join("\n", lines: _*).getBytes)

  /** The WAL chunk directory as a stream (chunks named
    * `wal-<firstTick>-<lastTick>.json`, the WalSource contract).
    */
  private def wal(walDir: Path, maxChunksPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.format("graft.sources.WalSource")
    maxChunksPerTrigger.foreach(n => r.option("maxChunksPerTrigger", n.toLong))
    r.load(walDir.toString)
  }

  private def runOnce(walDir: Path, tableDir: Path, ckpt: Path): Unit = {
    val q = CdcStream.startReplication(
      wal(walDir),
      config, payloadSchema,
      tableDir.toString, ckpt.toString,
      collectionIds = Seq("c1"), initialTick = Some(10L), clock = clock)
    q.awaitTermination()
  }

  private def current(tableDir: Path): DataFrame =
    CdcStream.currentView(spark, tableDir.toString, keys = Seq("K"))

  test("snapshot + CDC batches converge to latest-version state") {
    val walDir = tempDir("wal"); val tableDir = tempDir("tbl"); val ckpt = tempDir("ckpt")

    // snapshot: keys 1,2 at _ver below any CDC version
    import spark.implicits._
    val snap = Seq((5L, 1L, 1.0, 20240010L, 0), (6L, 2L, 2.0, 20240010L, 0))
      .toDF("offset", "K", "V", "_ver", "_deleted")
    SnapshotStore.writeSnapshot(spark, snap, tableDir.toString)

    writeWal(walDir, "wal-5-16.json", Seq(
      walLine(11, 11, 2300, "c1", """{"k": 1, "v": "1.5"}"""), // upsert key 1
      walLine(12, 12, 2300, "c1", """{"k": 3, "v": "3.0"}"""), // insert key 3
      walLine(13, 13, 2200, "c1", """{"k": 9, "v": "9.9"}"""), // txn marker: dropped (F1)
      walLine(14, 14, 2300, "c2", """{"k": 8, "v": "8.8"}"""), // foreign collection: dropped (F1)
      walLine(15, 5, 2300, "c1", """{"k": 7, "v": "7.7"}"""),  // below snapshot tick: dropped (F3)
      walLine(16, 16, 2300, "c1", null)))                       // tombstone: dropped (F2)
    writeWal(walDir, "wal-21-22.json", Seq(
      walLine(21, 21, 2302, "c1", """{"k": 2, "v": "2.0"}"""), // delete key 2
      walLine(22, 22, 2300, "c1", """{"k": 1, "v": "1.9"}"""))) // second upsert key 1

    runOnce(walDir, tableDir, ckpt)

    val got = current(tableDir).select("K", "V").orderBy("K")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // key 1 -> latest upsert (offset 22), key 2 -> deleted, key 3 -> inserted
    assert(got === Seq((1L, 1.9), (3L, 3.0)))
  }

  test("replay of the whole stream is idempotent (at-least-once + versioned sink)") {
    val walDir = tempDir("wal"); val tableDir = tempDir("tbl"); val ckpt1 = tempDir("ck1")

    writeWal(walDir, "wal-11-13.json", Seq(
      walLine(11, 11, 2300, "c1", """{"k": 1, "v": "1.5"}"""),
      walLine(12, 12, 2302, "c1", """{"k": 2, "v": "0"}"""),
      walLine(13, 13, 2300, "c1", """{"k": 2, "v": "2.5"}""")))

    runOnce(walDir, tableDir, ckpt1)
    val once = current(tableDir).select("K", "V").orderBy("K")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // fresh checkpoint = full replay: every append lands AGAIN (duplicate
    // rows in storage), yet the read view must not change
    runOnce(walDir, tableDir, tempDir("ck2"))
    val twice = current(tableDir).select("K", "V").orderBy("K")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    assert(once === Seq((1L, 1.5), (2L, 2.5)))
    assert(twice === once)
    // and the raw table really does hold duplicates (proves the view, not
    // the transport, is what dedups)
    assert(spark.read.parquet(tableDir.toString).count() > 3)
  }

  test("sink commit ledger: a re-delivered batchId is not appended twice") {
    val walDir = tempDir("wal"); val ckpt = tempDir("ck")
    writeWal(walDir, "wal-11-11.json", Seq(
      walLine(11, 11, 2300, "c1", """{"k": 1, "v": "1.5"}""")))

    // normal run: data lands and the batch marker is written
    val t1 = tempDir("tbl1")
    runOnce(walDir, t1, ckpt)
    assert(spark.read.parquet(t1.toString).count() === 1)
    val commits = ckpt.resolve("graft-sink-commits")
    // one marker per delivered batch (trailing empty batches included)
    assert(Files.exists(commits.resolve(f"batch-${0L}%020d")))

    // a marker pre-seeded in a FRESH checkpoint simulates the retry of a
    // batch whose sink write already committed: the foreachBatch body
    // must skip the append entirely (no table dir is ever created)
    val ckpt2 = tempDir("ck2")
    val t2 = tempDir("tbl2").resolve("t") // not created: skip must never write it
    val pre = ckpt2.resolve("graft-sink-commits")
    Files.createDirectories(pre)
    Files.write(pre.resolve(f"batch-${0L}%020d"), Array.empty[Byte])
    val q = CdcStream.startReplication(
      wal(walDir),
      config, payloadSchema, t2.toString, ckpt2.toString,
      collectionIds = Seq("c1"), initialTick = Some(10L), clock = clock)
    q.awaitTermination()
    assert(!Files.exists(t2), "pre-committed batch was appended again")
  }

  test("compact() collapses storage without changing the read view") {
    val walDir = tempDir("wal"); val tableDir = tempDir("tbl")
    writeWal(walDir, "wal-11-13.json", Seq(
      walLine(11, 11, 2300, "c1", """{"k": 1, "v": "1.0"}"""),
      walLine(12, 12, 2300, "c1", """{"k": 1, "v": "1.1"}"""),
      walLine(13, 13, 2302, "c1", """{"k": 2, "v": "0"}""")))
    runOnce(walDir, tableDir, tempDir("ck"))

    val before = current(tableDir).select("K", "V").orderBy("K").collect().toSeq
    val rows = CdcStream.compact(spark, tableDir.toString, keys = Seq("K"))
    val after = current(tableDir).select("K", "V").orderBy("K").collect().toSeq

    assert(rows === 2) // one live row for K=1, one tombstone for K=2
    assert(after === before)
  }

  test("compactEvery cadence keeps storage bounded while the query runs, view unchanged") {
    def countParts(dir: Path): Int = {
      val d = java.nio.file.Files.walk(dir)
      try d.filter(p => p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet")).count().toInt
      finally d.close()
    }
    // 6 WAL chunks, one batch each (maxChunksPerTrigger=1), all upserting
    // the SAME key — the worst case for an append-only versioned table
    def seed(walDir: Path): Unit = (1 to 6).foreach { i =>
      writeWal(walDir, s"wal-${10 + i}-${10 + i}.json", Seq(
        walLine(10L + i, 10L + i, 2300, "c1", s"""{"k": 1, "v": "$i.0"}""")))
    }
    def run(tableDir: Path, cadence: Option[Int]): Unit = {
      val walDir = tempDir("wal")
      seed(walDir)
      val q = CdcStream.startReplication(
        wal(walDir, maxChunksPerTrigger = Some(1)),
        config, payloadSchema, tableDir.toString, tempDir("ck").toString,
        collectionIds = Seq("c1"), initialTick = Some(10L), clock = clock,
        compactEvery = cadence)
      q.awaitTermination()
    }
    val plain = tempDir("tblplain"); run(plain, None)
    val compacted = tempDir("tblcomp"); run(compacted, Some(2))
    // identical read view either way: the latest upsert wins
    val viewOf = (d: Path) => current(d).select("K", "V").orderBy("K")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viewOf(plain) === Seq((1L, 6.0)))
    assert(viewOf(compacted) === viewOf(plain))
    // the cadence's point: the plain table accumulates every version (6
    // rows, one file per batch); the self-compacting table collapses to
    // the single live row and strictly fewer files — read cost stays
    // bounded as batches accumulate
    assert(spark.read.parquet(plain.toString).count() === 6)
    assert(spark.read.parquet(compacted.toString).count() === 1)
    assert(countParts(compacted) < countParts(plain),
      s"compacted table has ${countParts(compacted)} part files vs plain ${countParts(plain)}")
  }

  test("compact() refuses to run while the table's replication query is active") {
    val walDir = tempDir("wal"); val tableDir = tempDir("tbl")
    writeWal(walDir, "wal-11-11.json", Seq(
      walLine(11, 11, 2300, "c1", """{"k": 1, "v": "1.0"}""")))
    val q = CdcStream.startReplication(
      wal(walDir), config, payloadSchema,
      tableDir.toString, tempDir("ck").toString, collectionIds = Seq("c1"),
      initialTick = Some(10L), clock = clock,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
    try {
      q.processAllAvailable()
      // a racing compact would move a committed-but-unswapped append aside
      // and delete it — the guard must fail fast instead
      val e = intercept[IllegalStateException] {
        CdcStream.compact(spark, tableDir.toString, keys = Seq("K"))
      }
      assert(e.getMessage.contains("still appending"))
    } finally { q.stop(); q.awaitTermination() }
    // writer stopped -> compact proceeds
    assert(CdcStream.compact(spark, tableDir.toString, keys = Seq("K")) === 1)
  }

  test("transform rejects land in the dead-letter table") {
    // the dead-letter table is a sibling of the table dir: keep both
    // inside one temp dir
    val walDir = tempDir("wal"); val tableDir = tempDir("tbl").resolve("t")
    writeWal(walDir, "wal-11-12.json", Seq(
      walLine(11, 11, 2300, "c1", """{"k": 1, "v": "1.0"}"""),
      walLine(12, 12, 2300, "c1", """{"v": "no key"}"""))) // missing pk
    runOnce(walDir, tableDir, tempDir("ck"))

    assert(current(tableDir).count() === 1)
    val dead = spark.read.parquet(tableDir.toString + ".deadletter")
    assert(dead.count() === 1)
    assert(dead.select("error").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().head.contains("missing primary key"))

    // the deadletter log has no keys/_ver for a read view to collapse,
    // so its storage must be idempotent at the WRITE: a crash between
    // the reject write and the sink commit marker re-delivers the batch,
    // and the re-write must land in the SAME batch partition instead of
    // appending a duplicate reject set. Re-run the sink's reject write
    // for the same batch id, twice, and assert the log did not grow.
    val rejects = spark.createDataFrame(
      java.util.Arrays.asList(dead.drop("batch_id").collect(): _*),
      dead.drop("batch_id").schema)
    CdcStream.writeRejects(rejects, tableDir.toString, 0L)
    CdcStream.writeRejects(rejects, tableDir.toString, 0L)
    val replayed = spark.read.parquet(tableDir.toString + ".deadletter")
    assert(replayed.count() === 1, "a re-delivered batch duplicated its deadletter rows")
    assert(replayed.select("batch_id").collect().map(_.getInt(0)).toSeq === Seq(0))
  }

  test("sink jobs per batch: one for a clean or all-filtered batch, two with rejects") {
    val walDir = tempDir("wal"); val tableDir = tempDir("tbl").resolve("t")
    writeWal(walDir, "wal-11-12.json", Seq(
      walLine(11, 11, 2300, "c1", """{"k": 1, "v": "1.0"}"""),
      walLine(12, 12, 2300, "c1", """{"v": "no key"}"""))) // reject
    writeWal(walDir, "wal-13-13.json", Seq(
      walLine(13, 13, 2300, "c1", """{"k": 2, "v": "2.0"}""")))
    writeWal(walDir, "wal-14-15.json", Seq(
      walLine(14, 14, 2200, "c1", """{"k": 9, "v": "9.9"}"""),   // txn marker
      walLine(15, 15, 2300, "c2", """{"k": 8, "v": "8.8"}"""))) // foreign collection
    val (q, jobs) = jobsDuring {
      val q = CdcStream.startReplication(
        wal(walDir, maxChunksPerTrigger = Some(1)), config, payloadSchema,
        tableDir.toString, tempDir("ck").toString,
        collectionIds = Seq("c1"), initialTick = Some(10L), clock = clock)
      q.awaitTermination()
      q
    }
    val perBatch = jobs.filter(_._1 == q.runId.toString)
      .groupBy(_._2).map { case (b, js) => b -> js.size }
    // the reject count rides the valid append: only a batch with rejects
    // pays a second job (the reject write); no probe, no fallback count
    assert(perBatch === Map("0" -> 2, "1" -> 1, "2" -> 1))
    // the all-filtered batch got its (zero) count from the observation,
    // not by waiting out the bound
    q.recentProgress.foreach { p =>
      assert(p.durationMs.get("addBatch") < CountedWrite.Wait.toMillis,
        s"batch ${p.batchId} took ${p.durationMs.get("addBatch")} ms in the sink")
    }
    assert(current(tableDir).count() === 2)
    assert(spark.read.parquet(tableDir.toString + ".deadletter").count() === 1)
  }

  test("replication end-to-end over the custom WAL streaming source") {
    val walDir = tempDir("walsrc"); val tableDir = tempDir("tbl")
    // tick-ranged chunk naming — the WalSource contract
    Files.write(walDir.resolve("wal-11-13.json"), java.util.Arrays.asList(
      walLine(11, 11, 2300, "c1", """{"k": 1, "v": "1.0"}"""),
      walLine(12, 12, 2300, "c1", """{"k": 2, "v": "2.0"}""")))
    Files.write(walDir.resolve("wal-14-20.json"), java.util.Arrays.asList(
      walLine(14, 14, 2302, "c1", """{"k": 2, "v": "0"}"""),
      walLine(15, 15, 2300, "c1", """{"k": 1, "v": "1.5"}""")))

    val q = CdcStream.startReplication(
      wal(walDir), config, payloadSchema,
      tableDir.toString, tempDir("ck").toString,
      collectionIds = Seq("c1"), clock = clock)
    q.awaitTermination()

    val got = current(tableDir).select("K", "V").orderBy("K")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === Seq((1L, 1.5))) // k=2 deleted, k=1 latest wins
  }
}
