package graft

import java.nio.file.Files
import graft.queries.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Streaming twins of batch catalog rules (SURVEY §2.10): the four
  * per-user event twins in [[graft.queries.EventStreams]] (with and
  * without state TTL, and the w29 profile that runs them). Each must
  * reproduce its batch twin's rows across micro-batch boundaries and
  * checkpoint restarts.
  */
@graft.tags.Soak
class StreamingOpsSpec extends SparkSpec {

  test("decayAttributionStream: a value-less purchase consumes its segment, credits nothing") {
    import scala.jdk.CollectionConverters._
    // the batch w23 rule (`pval_e6 IS NOT NULL`) emits NO rows for a
    // NULL-value purchase but the purchase still delimits segments; the
    // stream's first cut coalesced NULL to 0.0 and emitted zero-credit
    // rows that skewed every n_touches/sum_weight_ppm rollup
    val src = tempDir("dcnull-src"); val ck = tempDir("dcnull-ck")
    Files.write(src.resolve("a.json"), Seq(
      twinEv(1, "2024-01-01T09:00:00.000Z", 1, "click"),
      """{"uid":1,"ts":"2024-01-01T09:10:00.000Z","eid":2,"etype":"purchase","value":null}""",
      twinEv(1, "2024-01-01T09:20:00.000Z", 3, "view"),
      twinEv(1, "2024-01-01T09:30:00.000Z", 4, "purchase", 3.0)).asJava)
    withRocksDb {
      val stream = spark.readStream.schema(twinSchema).json(src.toString)
      val q = EventStreams.decayAttributionStream(
          stream, "uid", "ts", "eid", "etype", "value")
        .writeStream.format("memory").queryName("dcnull_out")
        .option("checkpointLocation", ck.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val got = spark.table("dcnull_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSeq
    // only the VALUED purchase emits, crediting only the post-null-
    // purchase view — the click before the null purchase was consumed
    // with its segment and must never resurface
    assert(got === Seq((1L, 4L, "view", 1000000L, 3000000L)),
      s"null-value purchase leaked credit rows or failed to consume its segment: $got")
  }

  test("transitionStream emits the batch w17 edges across micro-batch boundaries") {
    val src = tempDir("tr-src"); val ckpt = tempDir("tr-ck")
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", TimestampType),
      StructField("eid", LongType), StructField("etype", StringType)))
    def ev(uid: Long, t: String, eid: Long, tp: String) =
      s"""{"uid":$uid,"ts":"$t","eid":$eid,"etype":"$tp"}"""
    import scala.jdk.CollectionConverters._
    // user 1: view->click (in-session), then a 5h gap (NO edge), then
    // click->purchase; the gap-straddling pair lands in different files
    // so the suppression must survive a batch boundary. user 2: its
    // view->click edge itself crosses a batch boundary.
    Files.write(src.resolve("a.json"), Seq(
      ev(1, "2024-01-01T10:00:00.000Z", 1, "view"),
      ev(1, "2024-01-01T10:30:00.000Z", 2, "click"),
      ev(2, "2024-01-01T09:00:00.000Z", 3, "view")).asJava)
    Files.write(src.resolve("b.json"), Seq(
      ev(2, "2024-01-01T09:45:00.000Z", 4, "click"),
      ev(1, "2024-01-01T15:30:00.000Z", 5, "click")).asJava)
    Files.write(src.resolve("c.json"), Seq(
      ev(1, "2024-01-01T15:40:00.000Z", 6, "purchase")).asJava)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(src.toString)
      val q = EventStreams.transitionStream(stream, "uid", "ts", "eid", "etype",
          gapUs = 4L * 3600 * 1000000)
        .writeStream.format("memory").queryName("tr_out")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.table("tr_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      assert(got === Set(
        (1L, "view", "click", 1800L * 1000000),
        (1L, "click", "purchase", 600L * 1000000),
        (2L, "view", "click", 2700L * 1000000)),
        "streaming edges diverge from the batch w17 rule")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("funnelStream emits the batch w25 stage latencies across micro-batch boundaries") {
    val src = tempDir("fn-src"); val ckpt = tempDir("fn-ck")
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", TimestampType),
      StructField("eid", LongType), StructField("etype", StringType)))
    def ev(uid: Long, t: String, eid: Long, tp: String) =
      s"""{"uid":$uid,"ts":"$t","eid":$eid,"etype":"$tp"}"""
    import scala.jdk.CollectionConverters._
    // user 1: a PRE-view click (skipped, the batch rule's strict
    // us > t1), then view / click / purchase each in a DIFFERENT file so
    // every stage completion crosses a micro-batch boundary; a second
    // click and a post-completion purchase must both be ignored.
    // user 2: purchase-before-click is skipped (t2 unset), then the
    // funnel completes in order. user 3 never converts.
    Files.write(src.resolve("a.json"), Seq(
      ev(1, "2024-01-01T09:50:00.000Z", 1, "click"),
      ev(1, "2024-01-01T10:00:00.000Z", 2, "view"),
      ev(2, "2024-01-01T09:00:00.000Z", 3, "view"),
      ev(3, "2024-01-01T08:00:00.000Z", 4, "view")).asJava)
    Files.write(src.resolve("b.json"), Seq(
      ev(2, "2024-01-01T09:10:00.000Z", 5, "purchase"),
      ev(2, "2024-01-01T09:20:00.000Z", 6, "click"),
      ev(1, "2024-01-01T10:30:00.000Z", 7, "click"),
      ev(1, "2024-01-01T10:40:00.000Z", 8, "click")).asJava)
    Files.write(src.resolve("c.json"), Seq(
      ev(1, "2024-01-01T11:00:00.000Z", 9, "purchase"),
      ev(2, "2024-01-01T09:45:00.000Z", 10, "purchase"),
      ev(1, "2024-01-01T11:30:00.000Z", 11, "purchase")).asJava)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(src.toString)
      val q = EventStreams.funnelStream(stream, "uid", "ts", "eid", "etype")
        .writeStream.format("memory").queryName("fn_out")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.table("fn_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val m = 60L * 1000000
      assert(got === Set(
        (1L, "1_view_to_click", 30 * m),
        (1L, "2_click_to_purchase", 30 * m),
        (1L, "3_view_to_purchase", 60 * m),
        (2L, "1_view_to_click", 20 * m),
        (2L, "2_click_to_purchase", 25 * m),
        (2L, "3_view_to_purchase", 45 * m)),
        "streaming stage latencies diverge from the batch w25 rule")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("funnelStream's partial funnel survives a checkpoint restart") {
    val src = tempDir("fr-src"); val ckpt = tempDir("fr-ck")
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", TimestampType),
      StructField("eid", LongType), StructField("etype", StringType)))
    def ev(uid: Long, t: String, eid: Long, tp: String) =
      s"""{"uid":$uid,"ts":"$t","eid":$eid,"etype":"$tp"}"""
    import scala.jdk.CollectionConverters._
    // run 1 delivers view + click only: one latency row, t1/t2 now live
    // ONLY in the checkpointed ValueState
    Files.write(src.resolve("a.json"), Seq(
      ev(1, "2024-01-01T10:00:00.000Z", 1, "view"),
      ev(1, "2024-01-01T10:30:00.000Z", 2, "click")).asJava)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
      def runOnce(): Unit = {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).json(src.toString)
        val q = EventStreams.funnelStream(stream, "uid", "ts", "eid", "etype")
          .writeStream.foreachBatch {
            (df: org.apache.spark.sql.Dataset[EventStreams.StageLatency], _: Long) =>
              df.collect().foreach(s => got.add((s.key, s.stage, s.dur_us)))
          }
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runOnce()
      val m = 60L * 1000000
      assert(got.asScala.toSet === Set((1L, "1_view_to_click", 30 * m)),
        "run 1 must emit exactly the view->click latency")
      // run 2, SAME checkpoint: only the purchase arrives. Both purchase
      // latencies need t1 AND t2 from the RECOVERED state — a fresh
      // processor would have no funnel and stay silent.
      Files.write(src.resolve("b.json"), Seq(
        ev(1, "2024-01-01T11:00:00.000Z", 3, "purchase")).asJava)
      runOnce()
      assert(got.asScala.toSet === Set(
        (1L, "1_view_to_click", 30 * m),
        (1L, "2_click_to_purchase", 30 * m),
        (1L, "3_view_to_purchase", 60 * m)),
        "restarted stream lost the partial funnel state")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("attributionStream emits the batch w19 credits across micro-batch boundaries") {
    val src = tempDir("at-src"); val ckpt = tempDir("at-ck")
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", TimestampType),
      StructField("eid", LongType), StructField("etype", StringType)))
    def ev(uid: Long, t: String, eid: Long, tp: String) =
      s"""{"uid":$uid,"ts":"$t","eid":$eid,"etype":"$tp"}"""
    import scala.jdk.CollectionConverters._
    // user 1: view then click (click wins as the later touch), purchase
    // in a LATER batch (credit must cross the boundary); then a second
    // purchase 5h after the click — outside the gap, credited 'none'.
    // user 2: purchase with no prior touch at all.
    Files.write(src.resolve("a.json"), Seq(
      ev(1, "2024-01-01T10:00:00.000Z", 1, "view"),
      ev(1, "2024-01-01T10:30:00.000Z", 2, "click"),
      ev(2, "2024-01-01T09:00:00.000Z", 3, "purchase")).asJava)
    Files.write(src.resolve("b.json"), Seq(
      ev(1, "2024-01-01T11:00:00.000Z", 4, "purchase")).asJava)
    Files.write(src.resolve("c.json"), Seq(
      ev(1, "2024-01-01T15:31:00.000Z", 5, "purchase")).asJava)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(src.toString)
      val q = EventStreams.attributionStream(stream, "uid", "ts", "eid", "etype",
          gapUs = 4L * 3600 * 1000000)
        .writeStream.format("memory").queryName("at_out")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.table("at_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got === Set(
        (2L, "none", -1L),
        (1L, "click", 1800L * 1000000),
        (1L, "none", -1L)),
        "streaming credits diverge from the batch w19 rule")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("decayAttributionStream matches the batch w23 arithmetic and caps state at 20 touches") {
    val src = tempDir("da-src"); val ckpt = tempDir("da-ck")
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", TimestampType),
      StructField("eid", LongType), StructField("etype", StringType),
      StructField("value", DoubleType)))
    def ev(uid: Long, t: String, eid: Long, tp: String, v: Double = 0.0) =
      s"""{"uid":$uid,"ts":"$t","eid":$eid,"etype":"$tp","value":$v}"""
    import scala.jdk.CollectionConverters._
    // user 1: three views + a click, purchase of 10.0 in a LATER batch
    // (the segment crosses the boundary); a second immediate purchase
    // finds a cleared segment and emits nothing.
    // user 2: 25 views then a purchase — only the 20 most recent carry
    // weight; the 5 oldest views must get no credit (the state cap is
    // exactly the batch rule's zero-weight horizon).
    // user 3: purchase with no touches at all — nothing.
    Files.write(src.resolve("a.json"), (Seq(
      ev(1, "2024-01-01T10:00:00.000Z", 1, "view"),
      ev(1, "2024-01-01T10:10:00.000Z", 2, "view"),
      ev(1, "2024-01-01T10:20:00.000Z", 3, "view"),
      // foreign event types between touches and purchase must be
      // IGNORED (batch w23 filters to view/click/purchase): an "error"
      // must earn no credit, never evict a real touch from the 20-cap,
      // and its null value must not kill the primitive-Double decode
      """{"uid":1,"ts":"2024-01-01T10:25:00.000Z","eid":9,"etype":"error","value":null}""",
      ev(1, "2024-01-01T10:30:00.000Z", 4, "click")) ++
      (0 until 25).map(i =>
        ev(2, f"2024-01-01T09:${i}%02d:00.000Z", 100 + i, "view")) :+
      ev(3, "2024-01-01T08:00:00.000Z", 300, "purchase", 5.0)).asJava)
    Files.write(src.resolve("b.json"), Seq(
      ev(1, "2024-01-01T11:00:00.000Z", 5, "purchase", 10.0),
      ev(1, "2024-01-01T11:00:01.000Z", 6, "purchase", 3.0),
      ev(2, "2024-01-01T09:30:00.000Z", 200, "purchase", 1.0)).asJava)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(src.toString)
      val q = EventStreams.decayAttributionStream(stream, "uid", "ts", "eid", "etype", "value")
        .writeStream.format("memory").queryName("da_out")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.table("da_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
          r.getLong(4))).toSet
      // user 1: the batch arithmetic verbatim
      val w1 = Seq(1000000L, 500000L, 250000L, 125000L) // click, v3, v2, v1
      val sw1 = w1.sum
      val u1 = Set(
        (1L, 5L, "click", w1(0), 10000000L * w1(0) / sw1),
        (1L, 5L, "view", w1(1), 10000000L * w1(1) / sw1),
        (1L, 5L, "view", w1(2), 10000000L * w1(2) / sw1),
        (1L, 5L, "view", w1(3), 10000000L * w1(3) / sw1))
      val w2 = (0 until 20).map(i => 1000000L >> i)
      val sw2 = w2.sum
      val u2 = w2.map(w => (2L, 200L, "view", w, 1000000L * w / sw2)).toSet
      assert(got === u1 ++ u2,
        "streamed decay credits diverge from the batch arithmetic")
      // cap evidence: exactly 20 credits for user 2's 25 touches, and
      // no second-purchase or touchless-purchase rows anywhere
      assert(got.count(_._1 == 2L) === 20)
      assert(!got.exists(_._2 == 6L) && !got.exists(_._1 == 3L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  // ---- per-user state TTL (the round-8 verdict's top scale item): the
  // four per-user twins thread `ttl` through to the state store, so
  // years of one-shot users cannot accumulate in RocksDB forever. Two
  // proofs: (a) an IDLE key's state expires — later events for it find
  // nothing; (b) WITHIN the horizon results are unchanged vs the no-TTL
  // (= batch-rule-equivalent) run. A TTL'd query runs in processing-time
  // mode and never self-terminates (documented on
  // EventStreams.ttlTimeMode), so these poll the sink and stop explicitly.

  private val twinSchema = StructType(Seq(
    StructField("uid", LongType), StructField("ts", TimestampType),
    StructField("eid", LongType), StructField("etype", StringType),
    StructField("value", DoubleType)))

  private def twinEv(uid: Long, t: String, eid: Long, tp: String, v: Double = 0.0) =
    s"""{"uid":$uid,"ts":"$t","eid":$eid,"etype":"$tp","value":$v}"""

  private def withRocksDb[T](f: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def pollSink(q: org.apache.spark.sql.streaming.StreamingQuery,
      table: String, atLeast: Long): Unit = {
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (spark.table(table).count() < atLeast && System.nanoTime() < deadline) {
      q.exception.foreach(e => throw e)
      Thread.sleep(200)
    }
    assert(spark.table(table).count() >= atLeast,
      s"sink $table never reached $atLeast rows")
  }

  test("per-user twins with ttl: an idle key's state expires in the store") {
    import java.time.Duration
    import scala.jdk.CollectionConverters._
    val ttl = Some(Duration.ofSeconds(1))
    // one source dir + sink per twin; a shared 2.5 s quiet period between
    // file a (user 1 seeds state everywhere) and file b (user 1 returns
    // AFTER the horizon; user 77 is the fresh in-batch sentinel proving
    // batch b was fully processed). User 60 is the batch-a sentinel.
    val dirs = Seq("fnttl", "atttl", "trttl", "dcttl").map(n => (n, tempDir(s"$n-src"), tempDir(s"$n-ck")))
    val Seq((_, fnSrc, fnCk), (_, atSrc, atCk), (_, trSrc, trCk), (_, dcSrc, dcCk)) = dirs
    def stream(src: java.nio.file.Path) =
      spark.readStream.schema(twinSchema).json(src.toString)

    Files.write(fnSrc.resolve("a.json"), Seq(
      twinEv(60, "2024-01-01T10:00:00.000Z", 1, "view"),
      twinEv(60, "2024-01-01T10:30:00.000Z", 2, "click"),
      twinEv(1, "2024-01-01T10:00:00.000Z", 3, "view")).asJava)
    Files.write(atSrc.resolve("a.json"), Seq(
      twinEv(60, "2024-01-01T09:00:00.000Z", 1, "view"),
      twinEv(60, "2024-01-01T09:30:00.000Z", 2, "purchase"),
      twinEv(1, "2024-01-01T10:00:00.000Z", 3, "click")).asJava)
    Files.write(trSrc.resolve("a.json"), Seq(
      twinEv(60, "2024-01-01T09:00:00.000Z", 1, "view"),
      twinEv(60, "2024-01-01T09:30:00.000Z", 2, "click"),
      twinEv(1, "2024-01-01T10:00:00.000Z", 3, "view")).asJava)
    Files.write(dcSrc.resolve("a.json"), Seq(
      twinEv(60, "2024-01-01T09:00:00.000Z", 1, "view"),
      twinEv(60, "2024-01-01T09:30:00.000Z", 2, "purchase", 1.0),
      twinEv(1, "2024-01-01T10:00:00.000Z", 3, "click")).asJava)

    withRocksDb {
      val hugeGap = 100L * 3600 * 1000000 // so only the TTL can suppress
      val qs = Seq(
        EventStreams.funnelStream(stream(fnSrc), "uid", "ts", "eid", "etype", ttl)
          .writeStream.format("memory").queryName("fnttl_out")
          .option("checkpointLocation", fnCk.toString).start(),
        EventStreams.attributionStream(stream(atSrc), "uid", "ts", "eid", "etype", hugeGap, ttl)
          .writeStream.format("memory").queryName("atttl_out")
          .option("checkpointLocation", atCk.toString).start(),
        EventStreams.transitionStream(stream(trSrc), "uid", "ts", "eid", "etype", hugeGap, ttl)
          .writeStream.format("memory").queryName("trttl_out")
          .option("checkpointLocation", trCk.toString).start(),
        EventStreams.decayAttributionStream(stream(dcSrc), "uid", "ts", "eid", "etype", "value", ttl)
          .writeStream.format("memory").queryName("dcttl_out")
          .option("checkpointLocation", dcCk.toString).start())
      try {
        // batch-a sentinels visible => user 1's state is written and its
        // TTL clock is running
        pollSink(qs(0), "fnttl_out", 1)
        pollSink(qs(1), "atttl_out", 1)
        pollSink(qs(2), "trttl_out", 1)
        pollSink(qs(3), "dcttl_out", 1)
        Thread.sleep(2500) // > ttl: user 1's state must expire

        Files.write(fnSrc.resolve("b.json"), Seq(
          twinEv(1, "2024-01-01T11:00:00.000Z", 4, "click"),
          twinEv(77, "2024-01-01T09:00:00.000Z", 5, "view"),
          twinEv(77, "2024-01-01T09:30:00.000Z", 6, "click")).asJava)
        Files.write(atSrc.resolve("b.json"), Seq(
          twinEv(1, "2024-01-01T11:00:00.000Z", 4, "purchase"),
          twinEv(77, "2024-01-01T09:00:00.000Z", 5, "click"),
          twinEv(77, "2024-01-01T09:10:00.000Z", 6, "purchase")).asJava)
        Files.write(trSrc.resolve("b.json"), Seq(
          twinEv(1, "2024-01-01T11:00:00.000Z", 4, "click"),
          twinEv(77, "2024-01-01T09:00:00.000Z", 5, "view"),
          twinEv(77, "2024-01-01T09:30:00.000Z", 6, "click")).asJava)
        Files.write(dcSrc.resolve("b.json"), Seq(
          twinEv(1, "2024-01-01T11:00:00.000Z", 4, "purchase", 2.0),
          twinEv(77, "2024-01-01T09:00:00.000Z", 5, "click"),
          twinEv(77, "2024-01-01T09:05:00.000Z", 6, "purchase", 1.0)).asJava)

        pollSink(qs(0), "fnttl_out", 2) // funnel: u77 sentinel only
        pollSink(qs(1), "atttl_out", 3) // attribution: u1 "none" + u77
        pollSink(qs(2), "trttl_out", 2) // transition: u77 edge only
        pollSink(qs(3), "dcttl_out", 2) // decay: u77 credit only
        // the eviction READOUT (w29's evicted_rows column) counts these
        // real expiries: each twin processed user 1's expired state in
        // batch b, so the progress metrics must record at least one
        // TTL removal per query — this is the positive control for the
        // profile's deterministic zero
        qs.zip(Seq("funnel", "attribution", "transition", "decay"))
          .foreach { case (q, n) =>
            // memory-sink rows land during addBatch but the batch's
            // progress entry is appended in finishTrigger — poll past
            // that gap instead of racing it
            def evictions() = EventStreams.stateEvictions(q.recentProgress.toSeq)
            val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
            while (evictions() < 1L && System.nanoTime() < deadline)
              Thread.sleep(200)
            assert(evictions() >= 1L,
              s"$n twin recorded no TTL eviction in its progress metrics")
          }
      } finally qs.foreach(_.stop())
    }
    val mUs = 60L * 1000000
    // funnel: user 1's click found its view EXPIRED (no latency row);
    // without the ttl the restart proof above shows it WOULD emit
    assert(spark.table("fnttl_out").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((60L, "1_view_to_click"), (77L, "1_view_to_click")),
      "an expired partial funnel still credited a stage")
    // attribution: user 1's purchase found its touch EXPIRED -> "none"
    // (an EMITTED eviction witness, not just an absence)
    assert(spark.table("atttl_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      === Set((60L, "view", 30 * mUs), (1L, "none", -1L), (77L, "click", 10 * mUs)),
      "an expired touch still received attribution credit")
    // transition: user 1's post-expiry click opens a FRESH path (no edge)
    assert(spark.table("trttl_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      === Set((60L, "view", "click"), (77L, "view", "click")),
      "an expired last-event still paired into an edge")
    // decay: user 1's purchase found its open segment EXPIRED (no credit)
    assert(spark.table("dcttl_out").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
      === Set((60L, "view"), (77L, "click")),
      "expired open touches still earned decay credit")
  }

  test("per-user twins with ttl: within the horizon results equal the no-ttl rule") {
    import java.time.Duration
    import scala.jdk.CollectionConverters._
    val ttl = Some(Duration.ofHours(1))
    // the same per-key state must SURVIVE a micro-batch boundary (file a
    // then file b via maxFilesPerTrigger=1) and produce exactly the rows
    // the no-ttl twins (proven batch-equivalent above) would
    val dirs = Seq("fnh", "ath", "trh", "dch").map(n => (n, tempDir(s"$n-src"), tempDir(s"$n-ck")))
    val Seq((_, fnSrc, fnCk), (_, atSrc, atCk), (_, trSrc, trCk), (_, dcSrc, dcCk)) = dirs
    Seq(fnSrc, atSrc, trSrc, dcSrc).foreach { src =>
      Files.write(src.resolve("a.json"), Seq(
        twinEv(1, "2024-01-01T10:00:00.000Z", 1,
          if (src == atSrc || src == dcSrc) "click" else "view")).asJava)
      Files.write(src.resolve("b.json"), Seq(
        twinEv(1, "2024-01-01T11:00:00.000Z", 2,
          if (src == atSrc || src == dcSrc) "purchase" else "click", 2.0)).asJava)
    }
    def stream(src: java.nio.file.Path) =
      spark.readStream.schema(twinSchema).option("maxFilesPerTrigger", 1)
        .json(src.toString)
    withRocksDb {
      val hugeGap = 100L * 3600 * 1000000
      val qs = Seq(
        EventStreams.funnelStream(stream(fnSrc), "uid", "ts", "eid", "etype", ttl)
          .writeStream.format("memory").queryName("fnh_out")
          .option("checkpointLocation", fnCk.toString).start(),
        EventStreams.attributionStream(stream(atSrc), "uid", "ts", "eid", "etype", hugeGap, ttl)
          .writeStream.format("memory").queryName("ath_out")
          .option("checkpointLocation", atCk.toString).start(),
        EventStreams.transitionStream(stream(trSrc), "uid", "ts", "eid", "etype", hugeGap, ttl)
          .writeStream.format("memory").queryName("trh_out")
          .option("checkpointLocation", trCk.toString).start(),
        EventStreams.decayAttributionStream(stream(dcSrc), "uid", "ts", "eid", "etype", "value", ttl)
          .writeStream.format("memory").queryName("dch_out")
          .option("checkpointLocation", dcCk.toString).start())
      try {
        pollSink(qs(0), "fnh_out", 1)
        pollSink(qs(1), "ath_out", 1)
        pollSink(qs(2), "trh_out", 1)
        pollSink(qs(3), "dch_out", 1)
      } finally qs.foreach(_.stop())
    }
    val hourUs = 3600L * 1000000
    assert(spark.table("fnh_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      === Set((1L, "1_view_to_click", hourUs)),
      "funnel state within the ttl horizon diverged from the no-ttl rule")
    assert(spark.table("ath_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      === Set((1L, "click", hourUs)),
      "attribution within the ttl horizon diverged from the no-ttl rule")
    assert(spark.table("trh_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      === Set((1L, "view", "click", hourUs)),
      "transition within the ttl horizon diverged from the no-ttl rule")
    assert(spark.table("dch_out").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getLong(4))).toSet
      === Set((1L, "click", 1000000L, 2000000L)),
      "decay credit within the ttl horizon diverged from the no-ttl rule")
  }

  test("w29 state profile matches the batch twins' own readouts") {
    // the profile's two columns per twin, re-derived INDEPENDENTLY from
    // the fixture with batch DataFrames (the oracle gate checks the same
    // numbers against DuckDB; this pins them against the in-repo batch
    // twins so a twin/profile divergence is caught without the oracle)
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val profRows = graft.queries.Events.w29StateProfile(spark, dir).collect()
    // TTL-less, timer-less twins: any nonzero eviction count would mean
    // state silently vanished mid-profile
    profRows.foreach(r => assert(r.getLong(3) === 0L,
      s"${r.getString(0)} twin reported evictions without a TTL"))
    val prof = profRows
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ev = graft.Tables.load(spark, dir, "events")
    val users = ev.select("user_id").distinct().count()

    // funnel: state = every user; one emission per stage-2 reach, two
    // more per stage-3 — w13's own steps_reached is the readout
    val w13 = graft.queries.Events.w13Funnel(spark, dir)
    val s2 = w13.filter(col("steps_reached") >= 2).count()
    val s3 = w13.filter(col("steps_reached") === 3).count()
    assert(prof("funnel") === ((users, s2 + 2 * s3)),
      "funnel profile diverges from w13's stage counts")

    // last_touch: state only on view/click; every purchase emits once
    val touchUsers = ev.filter(col("event_type").isin("view", "click"))
      .select("user_id").distinct().count()
    val purchases = ev.filter(col("event_type") === "purchase").count()
    assert(prof("last_touch") === ((touchUsers, purchases)),
      "last-touch profile diverges from the fixture's touch/purchase counts")

    // transition: state = every user; emissions = w17's matrix total
    val transitions = graft.queries.Events.w17TransitionMatrix(spark, dir)
      .agg(sum("n_transitions")).head.getLong(0)
    assert(prof("transition") === ((users, transitions)),
      "transition profile diverges from w17's matrix total")

    // decay: open-segment rule — touches after the user's last purchase
    // hold state; each purchase emits its segment's touches capped at 20
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val de = ev.filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("rn", row_number().over(byUser))
      .withColumn("seg", count(when(col("event_type") === "purchase", 1))
        .over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
    val openUsers = de.groupBy("user_id").agg(
        max(when(col("event_type") =!= "purchase", col("rn"))).as("lt"),
        max(when(col("event_type") === "purchase", col("rn"))).as("lp"))
      .filter(col("lt").isNotNull && (col("lp").isNull || col("lt") > col("lp")))
      .count()
    val dtouch = de.filter(col("event_type") =!= "purchase")
      .groupBy("user_id", "seg").agg(count(lit(1)).as("ntouch"))
    val credits = de.filter(col("event_type") === "purchase")
      .join(dtouch, Seq("user_id", "seg"))
      .agg(coalesce(sum(least(col("ntouch"), lit(20L))), lit(0L)))
      .head.getLong(0)
    assert(prof("decay_attribution") === ((openUsers, credits)),
      "decay profile diverges from the open-segment batch rule")
  }
}
