package graft

import java.nio.file.{Files, Path}

import graft.streaming.JdbcSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Live-sink edge over the one JDBC store this environment actually has:
  * Spark's own distribution ships Derby (its Hive-metastore dependency),
  * so the K2 live-sink path can execute against a REAL database
  * in-process instead of staying config-only. Derby is not ClickHouse —
  * no server-side ReplacingMergeTree collapse — but that is exactly the
  * division of labor under test: the reference, too, ships duplicates on
  * redelivery and relies on the TABLE ENGINE + FINAL read to collapse
  * them (clickhouse/connect.py:28-49 appends blindly). What the sink
  * must guarantee is the transport contract: micro-batches append
  * through `df.write.jdbc` with `batchsize`, the table is created on
  * first append, values/types survive the round trip, and at-least-once
  * redelivery lands as duplicate ROWS that the versioned read view
  * (V1's latest-wins) collapses — asserted here end to end.
  */
@graft.tags.Soak
class JdbcSinkSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType),
    StructField("_ver", LongType)))

  private def writeBatch(dir: Path, name: String, rows: Seq[(Long, String, Long)]): Unit =
    Files.write(dir.resolve(name), rows
      .map { case (k, v, ver) => s"""{"k":$k,"v":"$v","_ver":$ver}""" }
      .mkString("\n").getBytes("UTF-8"))

  private def readBack(url: String, table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("user", "app").option("password", "app")
      .load()

  private def runStream(srcDir: Path, url: String, table: String, ckpt: Path): Unit = {
    val src = spark.readStream.schema(schema).json(srcDir.toString)
    val q = JdbcSink.start(src, url, table, user = "app", password = "app",
      checkpointDir = ckpt.toString, batchSize = 2)
    try q.processAllAvailable() finally q.stop()
  }

  test("micro-batches append into Derby and values survive the round trip") {
    val url = "jdbc:derby:memory:graft_rt;create=true"
    val srcDir = tempDir("jdbc_src")
    writeBatch(srcDir, "b1.json", Seq((1L, "one", 11L), (2L, "two", 12L)))
    runStream(srcDir, url, "changes_rt", tempDir("jdbc_ck"))
    // a second file = a second micro-batch through the SAME foreachBatch
    val src = spark.readStream.schema(schema).json(srcDir.toString)
    val q = JdbcSink.start(src, url, "changes_rt", "app", "app",
      tempDir("jdbc_ck2").toString, batchSize = 2)
    try {
      q.processAllAvailable()
      writeBatch(srcDir, "b2.json", Seq((1L, "one-v2", 21L), (3L, "three", 22L)))
      q.processAllAvailable()
    } finally q.stop()
    val got = readBack(url, "changes_rt")
      .select("k", "v", "_ver").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    // first stream delivered b1 once, the second redelivered b1 (fresh
    // checkpoint) and then b2: b1's rows appear twice — appends, not merges
    assert(got === Seq((1L, "one", 11L), (1L, "one", 11L),
      (1L, "one-v2", 21L), (2L, "two", 12L), (2L, "two", 12L),
      (3L, "three", 22L)).sorted,
      "JDBC round trip lost or altered rows")
  }

  test("redelivered duplicates collapse in the versioned read view, not the transport") {
    val url = "jdbc:derby:memory:graft_dup;create=true"
    val srcDir = tempDir("jdbc_src2")
    writeBatch(srcDir, "b1.json", Seq((1L, "a", 1L), (1L, "b", 2L), (2L, "c", 1L)))
    runStream(srcDir, url, "changes_dup", tempDir("jdbc_ck3"))
    runStream(srcDir, url, "changes_dup", tempDir("jdbc_ck4")) // fresh ckpt = replay
    val raw = readBack(url, "changes_dup")
    assert(raw.count() === 6, "replay must append duplicates (at-least-once)")
    // V1 latest-wins over the JDBC-backed table: same view as one delivery
    val current = graft.operators.ReplicaTable
      .current(raw.withColumn("_deleted", lit(0)), keys = Seq("k"), ver = "_ver")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq.sorted
    assert(current === Seq((1L, "b"), (2L, "c")),
      "versioned read view over the JDBC table diverged")
  }

  private def runUpsert(srcDir: Path, url: String, table: String, ckpt: Path): Unit = {
    val src = spark.readStream.schema(schema).json(srcDir.toString)
    val q = JdbcSink.startUpsert(src, url, table, keys = Seq("k"), verCol = "_ver",
      user = "app", password = "app", checkpointDir = ckpt.toString, batchSize = 2)
    try q.processAllAvailable() finally q.stop()
  }

  test("upsert mode: redelivery does not grow the raw table; view is value-exact") {
    val url = "jdbc:derby:memory:graft_up;create=true"
    val srcDir = tempDir("jdbc_src3")
    // in-batch duplicate key (1): the batch collapses to its latest row
    // per key BEFORE the merge (two matches on one target row would be
    // an illegal MERGE), so only (1,"b",2) lands
    writeBatch(srcDir, "b1.json", Seq((1L, "a", 1L), (1L, "b", 2L), (2L, "c", 1L)))
    runUpsert(srcDir, url, "changes_up", tempDir("jdbc_ck5"))
    def rows() = readBack(url, "changes_up")
      .select("k", "v", "_ver").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    assert(rows() === Seq((1L, "b", 2L), (2L, "c", 1L)),
      "first upsert batch did not land collapsed")

    // fresh checkpoint = full redelivery: in APPEND mode this doubles the
    // raw table (proven in the test above); upsert must leave it EXACT
    runUpsert(srcDir, url, "changes_up", tempDir("jdbc_ck6"))
    assert(rows() === Seq((1L, "b", 2L), (2L, "c", 1L)),
      "redelivered batch grew or altered the upserted table")

    // steady state: a stale version is ignored row-wise, an advancing
    // version updates in place, a new key inserts
    writeBatch(srcDir, "b2.json",
      Seq((1L, "a-stale", 1L), (2L, "c2", 7L), (3L, "d", 5L)))
    runUpsert(srcDir, url, "changes_up", tempDir("jdbc_ck7"))
    assert(rows() === Seq((1L, "b", 2L), (2L, "c2", 7L), (3L, "d", 5L)),
      "merge did not apply latest-wins per row")

    // the upserted table IS the read view: value-exact with what the
    // append-mode path + versioned collapse produces from the same log
    val appendUrl = "jdbc:derby:memory:graft_up_ref;create=true"
    runStream(srcDir, appendUrl, "changes_ref", tempDir("jdbc_ck8"))
    val viaAppend = graft.operators.ReplicaTable
      .current(readBack(appendUrl, "changes_ref").withColumn("_deleted", lit(0)),
        keys = Seq("k"), ver = "_ver")
      .select("k", "v", "_ver").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    assert(rows() === viaAppend,
      "upsert mode and append+collapse mode disagree on the current view")
  }

  test("upsert crash matrix: every stranded protocol state x follow-up reads exactly-once") {
    // The stage/MERGE protocol (JdbcSink.startUpsert, steps: stage
    // OVERWRITE -> CREATE target if absent -> MERGE -> DROP stage) has
    // four distinguishable DB states a process death can strand.
    // Mirroring SnapshotStoreSpec's swap matrix: reconstruct each state
    // EXACTLY (the stage is written by the same df.write.jdbc overwrite
    // the sink uses; the stage name is the sink's own checkpoint-derived
    // identity, re-derived here as a contract pin), then run the
    // follow-ups the real system produces — RESTART (same checkpoint:
    // the crashed batch's offsets were never committed, so it
    // redelivers through the full protocol) and, for steady-state
    // points, a fresh-checkpoint FULL REDELIVERY — and assert the one
    // protocol property: the target reads exactly latest-wins of the
    // delivered log (never doubled, never half a batch), and the
    // restarted incarnation reclaims its own stranded stage.
    import java.sql.DriverManager
    def stageNameFor(table: String, ckpt: Path): String = {
      val canonical = new org.apache.hadoop.fs.Path(ckpt.toString)
        .toUri.normalize().toString
      table + "_stage_" + java.security.MessageDigest.getInstance("MD5")
        .digest(canonical.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(6).map(b => f"$b%02x").mkString
    }
    def withStmt[A](url: String)(f: java.sql.Statement => A): A = {
      val conn = DriverManager.getConnection(url, "app", "app")
      try { val st = conn.createStatement(); try f(st) finally st.close() }
      finally conn.close()
    }
    def strandStage(url: String, stage: String, rows: Seq[(Long, String, Long)]): Unit = {
      import spark.implicits._
      rows.toDF("k", "v", "_ver").write.format("jdbc")
        .option("url", url).option("dbtable", stage)
        .option("user", "app").option("password", "app")
        .mode("overwrite").save()
    }
    def tableExists(url: String, table: String): Boolean =
      try {
        withStmt(url)(_.executeQuery(s"SELECT 1 FROM $table WHERE 1=0").close())
        true
      } catch {
        case e: java.sql.SQLException if e.getSQLState == "42X05" => false
      }
    def rows(url: String) = readBack(url, "t_cm")
      .select("k", "v", "_ver").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted

    val b1 = Seq((1L, "a", 1L), (2L, "b", 1L))
    val b2 = Seq((1L, "a2", 2L), (3L, "c", 1L))
    val afterB1 = b1.sorted
    val afterB2 = Seq((1L, "a2", 2L), (2L, "b", 1L), (3L, "c", 1L)).sorted
    var dbIdx = 0

    // FIRST-BATCH states: the crash happened before any batch ever
    // committed, so restart and redelivery coincide (nothing in the
    // checkpoint) — one follow-up each
    for (point <- Seq("post-stage-write-first", "post-create-first")) {
      dbIdx += 1
      val url = s"jdbc:derby:memory:graft_cm$dbIdx;create=true"
      val srcDir = tempDir("jdbc_cm_src"); val ckpt = tempDir("jdbc_cm_ck")
      val stage = stageNameFor("t_cm", ckpt)
      strandStage(url, stage, b1)
      if (point == "post-create-first")
        withStmt(url)(_.executeUpdate(
          s"CREATE TABLE t_cm AS SELECT * FROM $stage WITH NO DATA"))
      writeBatch(srcDir, "b1.json", b1)
      runUpsert(srcDir, url, "t_cm", ckpt)
      assert(rows(url) === afterB1, s"[$point/restart] target not exactly-once")
      assert(!tableExists(url, stage),
        s"[$point/restart] restarted incarnation left its stage stranded")
    }

    // STEADY-STATE points: batch 0 (b1) committed cleanly, the crash
    // strands a state mid-batch-1 (b2) — x {restart, full redelivery}
    for (point <- Seq("post-stage-write", "post-merge");
         followup <- Seq("restart", "redelivery")) {
      dbIdx += 1
      val url = s"jdbc:derby:memory:graft_cm$dbIdx;create=true"
      val srcDir = tempDir("jdbc_cm_src"); val ckpt = tempDir("jdbc_cm_ck")
      writeBatch(srcDir, "b1.json", b1)
      runUpsert(srcDir, url, "t_cm", ckpt) // clean batch 0
      val stage = stageNameFor("t_cm", ckpt)
      strandStage(url, stage, b2)
      if (point == "post-merge") withStmt(url) { st =>
        // the state a COMPLETED merge of b2 leaves (without the drop)
        st.executeUpdate("""UPDATE t_cm SET "v" = 'a2', "_ver" = 2 WHERE "k" = 1""")
        st.executeUpdate("""INSERT INTO t_cm VALUES (3, 'c', 1)""")
      }
      writeBatch(srcDir, "b2.json", b2)
      followup match {
        case "restart" =>
          runUpsert(srcDir, url, "t_cm", ckpt) // b2's offsets uncommitted
          assert(!tableExists(url, stage),
            s"[$point/restart] restarted incarnation left its stage stranded")
        case "redelivery" =>
          // checkpoint loss: a fresh query identity reprocesses the
          // whole source against the already-advanced target
          runUpsert(srcDir, url, "t_cm", tempDir("jdbc_cm_ck2"))
      }
      assert(rows(url) === afterB2,
        s"[$point/$followup] target not exactly-once: ${rows(url)}")
    }
  }

  test("upsert mode: NULL keys are merge-idempotent, not re-inserted per redelivery") {
    // plain `t.k = s.k` is UNKNOWN for NULL = NULL, so a NULL-keyed row
    // would be WHEN NOT MATCHED on EVERY redelivery and the raw table
    // would grow without bound — the exact failure upsert mode exists to
    // prevent; the ON clause must match null-safely
    val url = "jdbc:derby:memory:graft_upnull;create=true"
    val srcDir = tempDir("jdbc_src4")
    Files.write(srcDir.resolve("b1.json"),
      Seq("""{"k":null,"v":"n","_ver":1}""", """{"k":1,"v":"a","_ver":1}""")
        .mkString("\n").getBytes("UTF-8"))
    runUpsert(srcDir, url, "changes_un", tempDir("jdbc_ck9"))
    runUpsert(srcDir, url, "changes_un", tempDir("jdbc_ck10")) // fresh ckpt = replay
    def rows() = readBack(url, "changes_un")
      .select("k", "v", "_ver").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getString(1), r.getLong(2))).toSeq
      .sortBy(t => (t._1.getOrElse(Long.MinValue), t._3))
    assert(rows() === Seq((None, "n", 1L), (Some(1L), "a", 1L)),
      s"NULL-keyed row duplicated on redelivery: ${rows()}")
    // and the NULL key still advances in place like any other key
    Files.write(srcDir.resolve("b2.json"),
      Seq("""{"k":null,"v":"n2","_ver":5}""").mkString("\n").getBytes("UTF-8"))
    runUpsert(srcDir, url, "changes_un", tempDir("jdbc_ck11"))
    assert(rows() === Seq((None, "n2", 5L), (Some(1L), "a", 1L)),
      "NULL-keyed row did not update in place")
  }
}
