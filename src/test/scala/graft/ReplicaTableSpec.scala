package graft

import graft.operators.ReplicaTable
import org.apache.spark.sql.Row

/** Replica semantics: latest-version-wins dedup + soft delete (SURVEY
  * §2.5 V1/V2), replay idempotence (test_producer.py:28-58 semantics) and
  * order-independence (the property that lets the engine run multi-
  * partition where the reference pinned 1 Kafka partition).
  */
class ReplicaTableSpec extends SparkSpec {
  import spark.implicits._

  test("latest version wins per key; tombstones filtered by current") {
    val rows = Seq(
      ("k1", 1L, "a", 0), ("k1", 3L, "c", 0), ("k1", 2L, "b", 0),
      ("k2", 1L, "x", 0), ("k2", 2L, "x", 1), // deleted at v2
      ("k3", 5L, "z", 0))
      .toDF("key", "_ver", "val", "_deleted")
    val got = ReplicaTable.current(rows, Seq("key"), "_ver").orderBy("key").collect()
    assert(got.toSeq == Seq(Row("k1", 3L, "c", 0), Row("k3", 5L, "z", 0)))
  }

  test("composite keys: latest wins per (k1, k2) pair, not per prefix") {
    val rows = Seq(
      ("a", 1L, 1L, "a1-old", 0), ("a", 1L, 3L, "a1-new", 0),
      ("a", 2L, 2L, "a2", 0), // same prefix, different second key — kept
      ("b", 1L, 1L, "b1", 0), ("b", 1L, 2L, "b1-del", 1), // pair deleted
      ("b", 2L, 4L, "b2", 0))
      .toDF("k1", "k2", "_ver", "val", "_deleted")
    val got = ReplicaTable.current(rows, Seq("k1", "k2"), "_ver")
      .orderBy("k1", "k2").collect()
    assert(got.toSeq == Seq(
      Row("a", 1L, 3L, "a1-new", 0),
      Row("a", 2L, 2L, "a2", 0),
      Row("b", 2L, 4L, "b2", 0)))
  }

  test("applyChanges is idempotent: replaying a batch is a no-op") {
    val base = Seq(("k1", 1L, "a", 0), ("k2", 1L, "b", 0)).toDF("key", "_ver", "val", "_deleted")
    val batch = Seq(("k1", 2L, "a2", 0), ("k3", 1L, "c", 0)).toDF("key", "_ver", "val", "_deleted")
    val once = ReplicaTable.applyChanges(base, batch, Seq("key"), "_ver")
    val twice = ReplicaTable.applyChanges(once, batch, Seq("key"), "_ver")
    assert(once.orderBy("key").collect().toSeq == twice.orderBy("key").collect().toSeq)
  }

  test("dedup is order-independent (seeded randomized property)") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val rows = List.fill(30)((
        Seq("a", "b", "c", "d")(rnd.nextInt(4)),
        (rnd.nextInt(10) + 1).toLong,
        rnd.nextInt(100).toString,
        rnd.nextInt(2)))
      val df1 = rows.toDF("key", "_ver", "val", "_deleted")
      val df2 = rnd.shuffle(rows).toDF("key", "_ver", "val", "_deleted").repartition(3)
      val a = ReplicaTable.latest(df1, Seq("key"), "_ver", tieBreak = Seq("val", "_deleted"))
        .orderBy("key").collect().toSeq
      val b = ReplicaTable.latest(df2, Seq("key"), "_ver", tieBreak = Seq("val", "_deleted"))
        .orderBy("key").collect().toSeq
      assert(a == b)
    }
  }

  test("duplicate (key, ver) rows collapse deterministically via tie-break") {
    val rows = Seq(("k", 1L, "x", 0), ("k", 1L, "y", 0)).toDF("key", "_ver", "val", "_deleted")
    val got = ReplicaTable.latest(rows, Seq("key"), "_ver", tieBreak = Seq("val")).collect()
    assert(got.toSeq == Seq(Row("k", 1L, "y", 0)))
  }

  /** Write an inline events CDC fixture; ts spaces rows across calendar
    * weeks so r10's windowed fold actually iterates.
    */
  private def eventsDir(rows: Seq[(Long, String, Long, String, Double)]): String = {
    import org.apache.spark.sql.functions._
    val dir = tempDir("events_fixture").toString
    rows.toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .withColumn("props", lit("""{"k":"1"}"""))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("r11: schema evolution backfills typed NULLs and never invents values") {
    import org.apache.spark.sql.functions._
    // planted log, ids 0..10 -> cutover tick = 10 DIV 2 = 5
    val dir = tempDir("events_fixture").toString
    Seq(
      (1L, 1L, "click", 1.0, 3L),   // gen-1: its payload k is NOT visible
      (3L, 1L, "view", 2.0, 4L),    // gen-1 latest for user 1 -> k NULL
      (2L, 2L, "click", 5.0, 5L),   // gen-1, superseded
      (8L, 2L, "view", 6.0, 7L),    // gen-2 latest for user 2 -> k = 7
      (4L, 3L, "click", 9.0, 6L),   // gen-1, superseded
      (9L, 3L, "error", 0.0, 8L),   // gen-2 tombstone -> user 3 dropped
      (10L, 4L, "signup", 4.0, 42L) // gen-2 only user
    ).toDF("event_id", "user_id", "event_type", "value", "k")
      .withColumn("ts", lit("2024-01-01 10:00:00").cast("timestamp"))
      .withColumn("props", concat(lit("""{"k": """), col("k"), lit("}")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.queries.Replication.r11SchemaEvolution(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5)))
    assert(got.toSeq === Seq(
      (1L, 3L, "view", 2.0, None, 1L),    // pre-cutover latest: NULL, not 4
      (2L, 8L, "view", 6.0, Some(7L), 2L),
      (4L, 10L, "signup", 4.0, Some(42L), 2L)))
    // on the real fixture the unified view must agree with r1 everywhere
    val sf = "/root/testdata/sf0.001"
    val r1 = graft.queries.Replication.r1ReplicaCurrent(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSeq
    val r11 = graft.queries.Replication.r11SchemaEvolution(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSeq
    assert(r11 === r1, "schema evolution changed the current view's values")
  }

  test("r18: a dropped column stays NULL-observable and a widened type reads both generations") {
    import org.apache.spark.sql.functions._
    // planted log, ids 0..10 -> cutover = 5. value drives BOTH migrations:
    // gen-1 stores amount = trunc(value) (old integer units) and
    // legacy_flag = value >= 50; gen-2 stores amount = value (double) and
    // DROPPED legacy_flag.
    val dir = tempDir("events_fixture").toString
    Seq(
      (1L, 1L, "click", 61.75),  // gen-1, superseded
      (3L, 1L, "view", 12.25),   // gen-1 latest u1: amount 12.0, flag 0
      (2L, 2L, "view", 99.5),    // gen-1 latest u2 (flag 1): amount 99.0
      (8L, 3L, "view", 61.75),   // gen-2 latest u3: amount 61.75, flag NULL
      (4L, 3L, "click", 1.0),    // gen-1, superseded by gen-2
      (9L, 4L, "error", 0.0),    // gen-2 tombstone -> user 4 dropped
      (10L, 5L, "signup", 50.0)  // gen-2 only user
    ).toDF("event_id", "user_id", "event_type", "value")
      .withColumn("ts", lit("2024-01-01 10:00:00").cast("timestamp"))
      .withColumn("props", lit("""{"k": 1}"""))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.queries.Replication.r18SchemaNarrowing(spark, dir)
    // the widened column must BE double in the unified schema
    assert(out.schema("amount").dataType ===
      org.apache.spark.sql.types.DoubleType)
    assert(out.schema("legacy_flag").dataType ===
      org.apache.spark.sql.types.LongType)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(3),
      if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5)))
    assert(got.toSeq === Seq(
      (1L, 3L, 12.0, Some(0L), 1L),  // gen-1: truncated amount, flag kept
      (2L, 2L, 99.0, Some(1L), 1L),
      (3L, 8L, 61.75, None, 2L),     // gen-2 wins: exact double, flag NULL
      (5L, 10L, 50.0, None, 2L)),
      "unified view lost a generation's semantics")
  }

  test("r19: a nested struct field widens across generations without moving values") {
    import org.apache.spark.sql.functions._
    // r18's planted log, driven through the NESTED ladder: gen-1 stores
    // meta.units as BIGINT (truncated), gen-2 as DOUBLE — the unified
    // read must surface gen-1 units as exact .0 doubles and gen-2 as
    // exact fractions, with the sibling tag field untouched (a
    // positional-cast bug would swap or corrupt it).
    val dir = tempDir("events_fixture").toString
    Seq(
      (1L, 1L, "click", 61.75),  // gen-1, superseded
      (3L, 1L, "view", 12.25),   // gen-1 latest u1: units 12.0
      (2L, 2L, "view", 99.5),    // gen-1 latest u2: units 99.0
      (8L, 3L, "view", 61.75),   // gen-2 latest u3: units 61.75 exact
      (4L, 3L, "click", 1.0),    // gen-1, superseded by gen-2
      (9L, 4L, "error", 0.0),    // gen-2 tombstone -> user 4 dropped
      (10L, 5L, "signup", 50.0)  // gen-2 only user
    ).toDF("event_id", "user_id", "event_type", "value")
      .withColumn("ts", lit("2024-01-01 10:00:00").cast("timestamp"))
      .withColumn("props", lit("""{"k": 1}"""))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.queries.Replication.r19NestedWidening(spark, dir)
    // the nested field must have widened to double in the flat output
    assert(out.schema("units").dataType ===
      org.apache.spark.sql.types.DoubleType)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getString(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      (1L, 3L, 12.0, "VIEW", 1L),    // gen-1: truncated, surfaces as .0
      (2L, 2L, 99.0, "VIEW", 1L),
      (3L, 8L, 61.75, "VIEW", 2L),   // gen-2 wins: exact fraction
      (5L, 10L, 50.0, "SIGNUP", 2L)),
      "nested widening moved or corrupted a struct field")
  }

  test("r12/checksumAudit: healthy replicas match everywhere; corruption pinpoints its bucket") {
    import org.apache.spark.sql.functions._
    // healthy: the two independent materialization paths agree bucket-wise
    val sfDir = "/root/testdata/sf0.001"
    val healthy = graft.queries.Replication.r12ChecksumAudit(spark, sfDir).collect()
    assert(healthy.nonEmpty)
    healthy.foreach { r =>
      assert(r.getLong(5) === 1L, s"bucket ${r.getLong(0)}: healthy audit mismatch")
      assert(r.getLong(1) === r.getLong(2))
    }
    // corruption: a dropped row and a mutated row each flag EXACTLY
    // their own bucket (keys 0..31 over 16 buckets -> 2 keys/bucket)
    val src = (0L until 32L).map(k => (k, k + 100, "click")).toDF("user_id", "event_id", "event_type")
    val rep = src.filter(col("user_id") =!= 5L) // bucket 5 loses a row
      .withColumn("event_type",
        when(col("user_id") === 18L, "view").otherwise(col("event_type"))) // bucket 2 mutates
    val audit = ReplicaTable.checksumAudit(src, rep, "user_id",
      Seq("user_id", "event_id", "event_type"), nBuckets = 16).collect()
    val bad = audit.filter(_.getLong(5) === 0L).map(_.getLong(0)).toSet
    assert(bad === Set(5L, 2L), s"flagged buckets $bad, expected {5, 2}")
    // the dropped row shows as a count delta, the mutation as checksum-only
    val b5 = audit.find(_.getLong(0) == 5L).get
    assert(b5.getLong(1) === 2L && b5.getLong(2) === 1L)
    val b2 = audit.find(_.getLong(0) == 2L).get
    assert(b2.getLong(1) === b2.getLong(2))
    assert(b2.getLong(3) !== b2.getLong(4))

    // INJECTIVITY of the row digest (the review-caught audit blind
    // spot): a NULL-skipping or delimiter-naive encoding hashes
    // (id, 5, NULL) and (id, NULL, '5') identically — a value SHIFTING
    // one column over — and ('a|b', 'c') identically to ('a', 'b|c');
    // both corruptions must flag their bucket
    val src2 = Seq((1L, Some(5L), Option.empty[String]),
        (2L, Some(7L), Some("a|b")))
      .toDF("user_id", "event_id", "event_type")
    val rep2 = Seq((1L, Option.empty[Long], Some("5")), // shifted
        (2L, Some(7L), Some("a~b"))) // delimiter/escape probe
      .toDF("user_id", "event_id", "event_type")
    val audit2 = ReplicaTable.checksumAudit(src2, rep2, "user_id",
      Seq("user_id", "event_id", "event_type"), nBuckets = 16).collect()
    assert(audit2.forall(_.getLong(5) === 0L),
      "the digest failed to distinguish NULL-shifted or delimiter-" +
        s"colliding rows: ${audit2.mkString(", ")}")
  }

  test("r10: windowed compaction equals one-shot; tombstones retained, no resurrection") {
    import org.apache.spark.sql.functions._
    val dir = eventsDir(Seq(
      // user 1: upsert week1, tombstone week2, silence after -> must
      // stay deleted (a dropped tombstone would resurrect v1)
      (1L, "2024-01-01 10:00:00", 1L, "click", 1.0),
      (10L, "2024-01-08 10:00:00", 1L, "error", 0.0),
      // user 2: tombstone week2, then a later upsert week3 -> revived
      (2L, "2024-01-01 11:00:00", 2L, "click", 2.0),
      (11L, "2024-01-08 11:00:00", 2L, "error", 0.0),
      (20L, "2024-01-15 09:00:00", 2L, "view", 4.0),
      // user 3: single upsert week1, untouched after
      (3L, "2024-01-01 12:00:00", 3L, "view", 3.0)))
    val got = graft.queries.Replication.r10IncrementalCompaction(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq === Seq(
      (1L, 10L, "error", 1L, 2L), // tombstone retained, 2 versions absorbed
      (2L, 20L, "view", 0L, 3L),  // revived by the later upsert
      (3L, 3L, "view", 0L, 1L)))
    // associativity gate on the REAL fixture: windowed == one-shot
    val sf = "/root/testdata/sf0.001"
    val oneShot = ReplicaTable.latest(
        graft.Tables.load(spark, sf, "events")
          .select(col("user_id"), col("event_id"), col("event_type")),
        keys = Seq("user_id"), ver = "event_id")
      .select(col("user_id"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val windowed = graft.queries.Replication.r10IncrementalCompaction(spark, sf)
      .select(col("user_id"), col("last_event_id"), col("last_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(windowed === oneShot, "windowed fold diverged from one-shot collapse")
  }
}
