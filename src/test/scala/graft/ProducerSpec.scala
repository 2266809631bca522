package graft

import graft.streaming.{Producer, QueryMonitor}
import org.apache.spark.sql.functions._

/** Producer-side message shaping (P3/S5/K1 contract) and the streaming
  * control-plane listener (V3 counts, E2 gap detection).
  */
class ProducerSpec extends SparkSpec {

  private def wal() = {
    import spark.implicits._
    Seq(
      (11L, "11", 2300, "c1", """{"_key":"a","x":1}"""),
      (12L, "12", 2302, "c2", """{"_key":"b","x":2}"""),
      (13L, "13", 2300, "c9", """{"x":3}"""))
      .toDF("offset", "tick", "type", "cuid", "data")
  }

  test("prepareKafkaMessages: topic from cuid map, key from data._key, value is full entry") {
    val out = Producer.prepareKafkaMessages(wal(), Map("c1" -> "orders", "c2" -> "users"))
      .orderBy(col("value"))
      .collect()
    // the c9 (foreign-collection) record is DROPPED, not shipped with a
    // null topic: Spark's Kafka writer throws on null topics, so one
    // foreign record would wedge the producer on the same offset forever
    assert(out.map(_.getString(0)).toSeq === Seq("orders", "users"))
    assert(out.map(_.getString(1)).toSeq === Seq("a", "b"))
    // value round-trips the whole envelope (publisher.py:84 sends the entry)
    assert(out(0).getString(2).contains("\"offset\":11") &&
      out(0).getString(2).contains("\"cuid\":\"c1\""))
  }

  test("prepareKafkaMessagesWithCatalog routes via broadcast join") {
    import spark.implicits._
    val catalog = Seq(("c1", "orders"), ("c2", "users")).toDF("cuid", "topic")
    val out = Producer.prepareKafkaMessagesWithCatalog(wal(), catalog)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    // catalog-miss rows (c9) are dropped, same contract as the map form
    assert(out.orderBy(col("key")).collect().map(_.getString(0)).toSeq ===
      Seq("orders", "users"))
  }

  private def entry(offset: Long, opType: Int = 2300, data: String = "{}"): String =
    s"""{"offset":$offset,"tick":"$offset","type":$opType,"db":"d","cuid":"c1","tid":"t","data":${
      "\"" + data.replace("\"", "\\\"") + "\""}}"""

  /** Replicate WAL `chunks` (file name -> lines), one chunk per
    * micro-batch, under a [[QueryMonitor]]; returns the processed count
    * once it reaches `rows` (listener events arrive asynchronously) and
    * every reported gap as (lo, hi, kind).
    */
  private def monitored(query: String, rows: Long, chunks: (String, Seq[String])*)
      : (Long, List[(Long, Long, QueryMonitor.GapKind)]) = {
    import java.nio.file.Files
    import graft.config.{ColumnSpec, TableConfig}
    import graft.streaming.CdcStream
    import org.apache.spark.sql.types._

    var gaps = List.empty[(Long, Long, QueryMonitor.GapKind)]
    val mon = new QueryMonitor(onGap = (_, lo, hi, kind) => gaps ::= (lo, hi, kind))
    spark.streams.addListener(mon)
    try {
      val walDir = tempDir("walmon")
      val tableDir = tempDir("tblmon").resolve("t")
      for ((name, lines) <- chunks)
        Files.write(walDir.resolve(name), java.util.Arrays.asList(lines: _*))
      val config = TableConfig("Doc", Seq(
        ColumnSpec("K", Seq("int"), ref = Some("k"), primaryKey = true),
        ColumnSpec("V", Seq("float"), ref = Some("v"))))
      val q = CdcStream.startReplication(
        spark.readStream.format("graft.sources.WalSource")
          .option("maxChunksPerTrigger", "1").load(walDir.toString),
        config,
        StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
        tableDir.toString, tempDir("ckmon").toString,
        queryName = Some(query))
      q.awaitTermination()
      val deadline = System.currentTimeMillis() + 10000
      while (mon.processedCount(query) < rows && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      (mon.processedCount(query), gaps)
    } finally spark.streams.removeListener(mon)
  }

  test("QueryMonitor counts processed rows and flags offset gaps") {
    // two chunks -> two micro-batches with an offset gap between them
    // (13 -> 21)
    val (processed, gaps) = monitored("mon_test", 3,
      "wal-12-13.json" -> Seq(
        entry(12, data = """{"k":1,"v":"1"}"""), entry(13, data = """{"k":2,"v":"2"}""")),
      "wal-21-21.json" -> Seq(entry(21, data = """{"k":3,"v":"3"}""")))
    assert(processed === 3)
    assert(gaps === List((13L, 21L, QueryMonitor.BoundaryGap)))
  }

  test("an offset skip entirely inside one micro-batch is flagged (density)") {
    // ONE chunk -> ONE micro-batch covering offsets 12..21 with ticks
    // 14-20 skipped by the server: the boundary check has no previous
    // batch to compare against, so only the density check (3 observed
    // offsets over a span of 10) can witness the loss
    val (processed, gaps) = monitored("mon_dense", 3,
      "wal-12-21.json" -> Seq(
        entry(12, data = """{"k":1,"v":"1"}"""), entry(13, data = """{"k":2,"v":"2"}"""),
        entry(21, data = """{"k":3,"v":"3"}""")))
    assert(processed === 3)
    assert(gaps === List((12L, 21L, QueryMonitor.DensityGap)),
      "the intra-batch skip was not flagged by the density check " +
        "with range semantics and its own kind")
  }

  test("filtered WAL entries at a batch boundary do not fake a gap (E2 is pre-filter)") {
    // batch 1 ends in two txn markers (types 2200/2201 — op-filtered,
    // but they still occupy WAL offsets 13-14); batch 2 resumes at the
    // NEXT offset 15. Post-filter observation would read max=12 then
    // min=15 and alarm "13-14 lost"; the server skipped nothing.
    val (processed, gaps) = monitored("gapf_test", 2,
      "wal-12-14.json" -> Seq(
        entry(12, data = """{"k":1,"v":"1"}"""), entry(13, 2200), entry(14, 2201)),
      "wal-15-15.json" -> Seq(entry(15, data = """{"k":2,"v":"2"}""")))
    assert(processed === 2,
      "V3 must still count only rows that became table rows")
    assert(gaps === Nil,
      s"op-filtered markers at the batch boundary faked a WAL gap: $gaps")
  }

  test("a redelivered early offset does not stretch the density span back over delivered offsets") {
    val first = "wal-10-13.json" -> (10L to 13L).map(o => entry(o, data = s"""{"k":$o,"v":"1"}"""))
    // chunk 2 re-serves offset 11 from chunk 1 beside the dense 14-16:
    // the span to check is 14..16, not 11..16
    val (processed, gaps) = monitored("mon_redeliver", 8, first,
      "wal-14-16.json" -> (Seq(11L) ++ (14L to 16L)).map(o =>
        entry(o, data = s"""{"k":$o,"v":"2"}""")))
    assert(processed === 8)
    assert(gaps === Nil, s"a redelivery of an early offset faked a WAL gap: $gaps")
    // the same redelivery beside a real skip (15-16 lost): the count of
    // 3 falls short of the 4-offset span 14..17. (One redelivered entry
    // masks a one-offset skip — the count cannot tell them apart.)
    val (_, skipped) = monitored("mon_redeliver_skip", 7, first,
      "wal-14-17.json" -> Seq(11L, 14L, 17L).map(o =>
        entry(o, data = s"""{"k":$o,"v":"2"}""")))
    assert(skipped === List((14L, 17L, QueryMonitor.DensityGap)),
      s"a skip beside a redelivery was not flagged over the undelivered span: $skipped")
  }
}
