package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.{ArangoHttp, ArangoHttpCollectionSource}
import org.apache.spark.sql.functions._

/** The live-Arango edge against a REAL HTTP protocol exchange: an
  * in-process Arango-shaped server (JDK HttpServer — the Derby/SMTP
  * move applied to the source side) serves the documented cursor and
  * replication endpoints as an actual AQL-evaluating pager: it honors
  * batchSize with true server-side cursor continuation state, answers
  * the control-plane forms the partitioned scan plans with (collection
  * count, sorted-key offset probes), filters by `_key` ranges from bind
  * vars, and bounds WAL tails to the requested chunkSize. The client
  * must speak all of it exactly: basic auth on every call, cursor
  * paging until hasMore=false, bounded tail loops from an exclusive
  * lower bound, and the spool handoff that turns tailed NDJSON into
  * [[graft.sources.WalSource]] chunks the whole tested replication
  * stack already runs on.
  */
class ArangoHttpSpec extends SparkSpec {

  // keys sort k01 < ... < k05 — the boundary probes rely on _key order
  private val docs: Vector[(String, String)] = (1 to 5)
    .map(i => (f"k$i%02d", s"""{"_key":"k$i%02d","k":$i,"v":"$i.5"}""")).toVector

  /** Arango-shaped mini server evaluating the protocol for real. */
  private final class MiniArango {
    val server: HttpServer = HttpServer.create(new InetSocketAddress(0), 0)
    @volatile var headTick = 20L
    /** ticks AFTER this bound carry an extra `w` field in their payload
      * (schema evolution mid-tail); MaxValue = never.
      */
    @volatile var schemaCutover: Long = Long.MaxValue
    val unauthorized = new AtomicInteger(0)
    /** fail the next N requests (any endpoint) with 503 — transient-blip
      * injection for the client's bounded-retry contract */
    val failNext = new AtomicInteger(0)
    val requestsServed = new AtomicInteger(0)
    val maxPageServed = new AtomicInteger(0)
    val maxTailServed = new AtomicInteger(0)
    /** every data-scan cursor opened: (loBound, hiBound) from bindVars */
    val scanCursors = new java.util.concurrent.CopyOnWriteArrayList[(Option[String], Option[String])]()
    private val mapper = new ObjectMapper()
    private val cursorState = new ConcurrentHashMap[String, (Seq[Seq[String]], Int)]()
    private val nextCursor = new AtomicLong(0)

    private val expectAuth = "Basic " + java.util.Base64.getEncoder.encodeToString(
      "root:pw".getBytes(StandardCharsets.UTF_8))

    private def reply(ex: HttpExchange, code: Int, body: String,
        headers: Map[String, String] = Map.empty): Unit = {
      headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
      val b = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(code, b.length.toLong)
      ex.getResponseBody.write(b)
      ex.close()
    }

    private def authed(ex: HttpExchange)(ok: => Unit): Unit = {
      requestsServed.incrementAndGet()
      if (failNext.getAndUpdate(n => math.max(0, n - 1)) > 0)
        reply(ex, 503, """{"error":true,"code":503}""")
      else if (ex.getRequestHeaders.getFirst("Authorization") != expectAuth) {
        unauthorized.incrementAndGet(); reply(ex, 401, """{"error":true,"code":401}""")
      } else ok
    }

    private def cursorResponse(ex: HttpExchange, code: Int,
        page: Seq[String], id: Option[String], hasMore: Boolean): Unit = {
      maxPageServed.getAndUpdate(m => math.max(m, page.size))
      val idPart = id.map(i => s""""id":"$i",""").getOrElse("")
      reply(ex, code,
        s"""{"result":[${page.mkString(",")}],${idPart}"hasMore":$hasMore,"code":$code}""")
    }

    private val LengthQ = """RETURN LENGTH\((\w+)\)""".r
    private val ProbeQ = """FOR d IN (\w+) SORT d\._key LIMIT (\d+), 1 RETURN d\._key""".r

    /** per-offset artificial latency for boundary probes: concurrent
      * probes completing OUT of offset order must not scramble the
      * assembled boundary sequence */
    @volatile var probeDelayMs: Int => Long = _ => 0L

    /** Evaluate one AQL POST body → full result list (pre-paging). */
    private def evaluate(query: String, bindVars: Map[String, String]): Seq[String] =
      query.trim match {
        case LengthQ(_) => Seq(docs.size.toString)
        case ProbeQ(_, off) =>
          val d = probeDelayMs(off.toInt)
          if (d > 0) Thread.sleep(d)
          docs.map(_._1).sorted.drop(off.toInt).take(1).map(k => s""""$k"""")
        case q if q.startsWith("FOR d IN ") && q.endsWith("RETURN d") =>
          val lo = if (q.contains("@lo")) bindVars.get("lo") else None
          val hi = if (q.contains("@hi")) bindVars.get("hi") else None
          scanCursors.add((lo, hi))
          docs.collect {
            case (k, j) if lo.forall(k >= _) && hi.forall(k < _) => j
          }
        case other => sys.error(s"mini-arango: unsupported AQL: $other")
      }

    server.createContext("/_db/d/_api/cursor", (ex: HttpExchange) =>
      authed(ex) {
        val path = ex.getRequestURI.getPath
        if (path.endsWith("/cursor") && ex.getRequestMethod == "POST") {
          val body = mapper.readTree(new String(
            ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
          val query = body.get("query").asText
          val batch = if (body.hasNonNull("batchSize")) body.get("batchSize").asInt else 1000
          val bind =
            if (body.hasNonNull("bindVars"))
              body.get("bindVars").properties().asScala
                .map(e => e.getKey -> e.getValue.asText).toMap
            else Map.empty[String, String]
          val pagesList = evaluate(query, bind).grouped(batch).toSeq match {
            case Seq() => Seq(Seq.empty[String])
            case ps    => ps
          }
          if (pagesList.size == 1) cursorResponse(ex, 201, pagesList.head, None, hasMore = false)
          else {
            val id = s"c${nextCursor.incrementAndGet()}"
            cursorState.put(id, (pagesList, 1))
            cursorResponse(ex, 201, pagesList.head, Some(id), hasMore = true)
          }
        } else if (ex.getRequestMethod == "PUT") {
          val id = path.substring(path.lastIndexOf('/') + 1)
          cursorState.get(id) match {
            case null => reply(ex, 404, """{"error":true,"code":404}""")
            case (pagesList, i) =>
              val last = i == pagesList.size - 1
              if (last) cursorState.remove(id)
              else cursorState.put(id, (pagesList, i + 1))
              cursorResponse(ex, 200, pagesList(i),
                if (last) None else Some(id), hasMore = !last)
          }
        } else reply(ex, 404, """{"error":true,"code":404}""")
      })

    server.createContext("/_db/d/_api/wal/lastTick", (ex: HttpExchange) =>
      authed(ex)(reply(ex, 200, s"""{"tick":"$headTick"}""")))

    /** re-include the exclusive lower bound in tail responses (a real
      * protocol looseness the pump must tolerate by dropping it) */
    @volatile var inclusiveTail = false
    /** misbehave: answer every tail with ONLY the boundary tick — a
      * non-advancing response the pump must refuse to spin on */
    @volatile var stuckTail = false

    server.createContext("/_db/d/_api/wal/tail", (ex: HttpExchange) =>
      authed(ex) {
        val params = ex.getRequestURI.getQuery.split("&")
          .map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
        val from = params("from").toLong
        val chunk = params.get("chunkSize").map(_.toLong).getOrElse(Long.MaxValue)
        // envelope lines in the WalSource contract; tick doubles as the
        // offset (Arango ticks are the global order); payload is in the
        // Doc schema so the resync e2e can transform it, gaining a `w`
        // field after the schema cutover
        val upTo = math.min(headTick, from + chunk)
        def line(t: Long): String = {
          val extra = if (t > schemaCutover) s""", \\"w\\": ${t * 10}""" else ""
          s"""{"tick":"$t","type":2300,"db":"d","cuid":"c1","tid":"t","data":"{\\"k\\": ${t % 4}, \\"v\\": \\"$t.5\\"$extra}","offset":$t}"""
        }
        val start = if ((inclusiveTail || stuckTail) && from >= 1) from else from + 1
        val lines =
          if (stuckTail) Seq(line(from))
          else (start to upTo).map(line)
        maxTailServed.getAndUpdate(m => math.max(m, lines.size))
        reply(ex, 200, lines.mkString("\n"),
          Map("X-Arango-Replication-Lastincluded" ->
            (if (lines.isEmpty) "0" else upTo.toString)))
      })

    // concurrent request handling (the JDK default serializes on one
    // dispatcher thread, which would mask client-side probe concurrency)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start()
    def port: Int = server.getAddress.getPort
    def stop(): Unit = server.stop(0)
  }

  private def cfgFor(m: MiniArango) =
    ArangoHttp.Config(s"http://127.0.0.1:${m.port}", "d", "root", "pw")

  test("cursor scan pages to exhaustion, tail spools into WalSource, ticks line up") {
    val m = new MiniArango
    try {
      val spool = tempDir("arango-spool").toString
      val src = ArangoHttpCollectionSource(cfgFor(m), "events", spool, batchSize = 2)

      // snapshot: all 5 docs across 3 cursor pages, schema inferred; the
      // pages land as SPOOL FILES (bounded driver memory), not a Seq
      val snap = src.snapshot(spark)
      assert(snap.count() === 5)
      assert(snap.agg(sum(col("k"))).head.getLong(0) === 15L)
      assert(m.maxPageServed.get() <= 2, "server page exceeded batchSize")
      val snapDirs = Files.list(Paths.get(spool)).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("snapshot-")).toSeq
      assert(snapDirs.size === 1)
      val pageFiles = Files.list(snapDirs.head).iterator().asScala
        .map(_.getFileName.toString).toSeq.sorted
      assert(pageFiles === Seq("page-000000.json", "page-000001.json", "page-000002.json"),
        s"snapshot pages not spooled as files: $pageFiles")

      // tick BEFORE scan (the resync ordering contract)
      assert(src.currentTick(spark) === 20L)

      // pump 1: spools ticks 1..20 as one atomic chunk
      assert(src.pump() === Some((1L, 20L)))
      assert(src.spoolTick() === 20L)
      // pump with nothing new: no chunk, high water unchanged
      assert(src.pump() === None)
      // upstream advances; pump 2 tails ONLY the delta (from=20)
      m.headTick = 25L
      assert(src.pump() === Some((21L, 25L)))
      assert(src.spoolTick() === 25L)

      // the spool is a first-class WalSource dir: batch-read it and the
      // envelope contract holds end to end (ticks exact, no dup/loss)
      val wal = spark.read.format("graft.sources.WalSource").load(spool)
      assert(wal.count() === 25L)
      assert(wal.agg(min(col("tick")), max(col("tick"))).head match {
        case r => r.getLong(0) == 1L && r.getLong(1) == 25L
      })
      assert(graft.streaming.Sync.currentTick(spark, spool) === 25L)
      // and the streaming form drains the same rows (the r6 machinery)
      val streamed = spark.readStream.format("graft.sources.WalSource")
        .load(spool)
      val q = streamed.writeStream.format("memory").queryName("arango_wal")
        .option("checkpointLocation",
          tempDir("arango-ck").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(spark.table("arango_wal").count() === 25L)
      assert(m.unauthorized.get() === 0)
    } finally m.stop()
  }

  test("a long backlog lands as multiple bounded chunks with contiguous ticks") {
    val m = new MiniArango
    try {
      val spool = tempDir("arango-bounded").toString
      val src = ArangoHttpCollectionSource(cfgFor(m), "events", spool)
      // 20 pending ticks, chunk bound 8: the pump must LOOP bounded tail
      // calls (the reference's chunk_size discipline, settings.yaml:32),
      // emitting one durable chunk per call — never one driver-sized one
      assert(src.pump(maxPerChunk = 8) === Some((1L, 20L)))
      assert(m.maxTailServed.get() <= 8, "a tail call exceeded the chunk bound")
      val chunks = Files.list(Paths.get(spool)).iterator().asScala
        .map(_.getFileName.toString).toSeq.sorted
      assert(chunks === Seq("wal-1-8.json", "wal-17-20.json", "wal-9-16.json").sorted)
      // contiguity + exactness through the real reader
      val wal = spark.read.format("graft.sources.WalSource").load(spool)
      assert(wal.select("tick").collect().map(_.getLong(0)).sorted
        === (1L to 20L).toArray)
      // the next pump starts AFTER the bounded chunks' high water
      assert(src.pump(maxPerChunk = 8) === None)
      m.headTick = 23L
      assert(src.pump(maxPerChunk = 8) === Some((21L, 23L)))
    } finally m.stop()
  }

  test("a new snapshot sweeps stale snapshot spool dirs but never fresh ones") {
    val m = new MiniArango
    try {
      val spool = tempDir("arango-sweep")
      val stale = Files.createDirectory(spool.resolve("snapshot-stale"))
      Files.write(stale.resolve("page-000000.json"), "{}".getBytes)
      val fresh = Files.createDirectory(spool.resolve("snapshot-fresh"))
      Files.write(fresh.resolve("page-000000.json"), "{}".getBytes)
      // age only the stale one past the 30-min orphan cutoff
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 40L * 60 * 1000)
      Files.setLastModifiedTime(stale, old)
      val src = ArangoHttpCollectionSource(cfgFor(m), "events", spool.toString)
      assert(src.snapshot(spark).count() === 5)
      assert(!Files.exists(stale), "stale snapshot dir survived the sweep")
      assert(Files.exists(fresh), "a fresh (possibly live) snapshot dir was swept")
    } finally m.stop()
  }

  test("distributed scan opens one key-range cursor per partition and reunites exactly") {
    val m = new MiniArango
    try {
      val spool = tempDir("arango-dist").toString
      val src = ArangoHttpCollectionSource(cfgFor(m), "events", spool, batchSize = 2)

      // 2 partitions: boundary probe at offset 5/2=2 → "k03"; ranges
      // (-inf,k03) and [k03,+inf) — planned on the driver from O(1)
      // probes, data pulled by per-partition cursors
      val raw2 = spark.read.format("graft.sources.ArangoScanSource")
        .option("url", cfgFor(m).baseUrl).option("db", "d")
        .option("user", "root").option("password", "pw")
        .option("collection", "events")
        .option("numPartitions", 2).option("batchSize", 2)
        .load()
      assert(raw2.rdd.getNumPartitions === 2)
      assert(raw2.count() === 5)
      assert(m.scanCursors.asScala.toSet ===
        Set((None, Some("k03")), (Some("k03"), None)))
      assert(m.maxPageServed.get() <= 2, "a range cursor page exceeded batchSize")

      // the convenience form parses distributedly and matches snapshot()
      m.scanCursors.clear()
      val dist = src.snapshotDistributed(spark, numPartitions = 3)
      assert(dist.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
        === (1 to 5).map(i => (i.toLong, s"$i.5")).toSet)
      // 3 partitions: probes at offsets 1 and 3 → k02, k04; inference +
      // parse each ran the three range cursors once
      val ranges = m.scanCursors.asScala.toSet
      assert(ranges === Set(
        (None, Some("k02")), (Some("k02"), Some("k04")), (Some("k04"), None)))

      // with a known schema the scan is a single pass
      m.scanCursors.clear()
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("k", LongType), StructField("v", StringType)))
      val one = src.snapshotDistributed(spark, 2, Some(schema))
      assert(one.agg(sum(col("k"))).head.getLong(0) === 15L)
      assert(m.scanCursors.asScala.size === 2,
        s"schema-given scan should open exactly 2 range cursors, saw ${m.scanCursors.asScala}")
    } finally m.stop()
  }

  test("concurrent boundary probes completing out of order keep ranges disjoint") {
    val m = new MiniArango
    try {
      // reverse the completion order: SMALL offsets answer slowest, so a
      // collect-by-completion bug would assemble boundaries backwards
      // (k05, k04, k03, k02) and plan overlapping ranges that emit rows
      // twice; positional assembly must keep probe-offset order
      m.probeDelayMs = off => (5 - off) * 150L
      val raw = spark.read.format("graft.sources.ArangoScanSource")
        .option("url", cfgFor(m).baseUrl).option("db", "d")
        .option("user", "root").option("password", "pw")
        .option("collection", "events")
        .option("numPartitions", 5).option("batchSize", 2)
        .load()
      assert(raw.count() === 5, "overlapping ranges would double-emit rows")
      assert(m.scanCursors.asScala.toSet === Set(
        (None, Some("k02")), (Some("k02"), Some("k03")),
        (Some("k03"), Some("k04")), (Some("k04"), Some("k05")),
        (Some("k05"), None)))
    } finally m.stop()
  }

  test("full resync lifecycle runs over the live HTTP transport end to end") {
    import graft.config.{ColumnSpec, TableConfig}
    import org.apache.spark.sql.types._
    val m = new MiniArango
    try {
      val spool = tempDir("rs-spool").toString
      val src = ArangoHttpCollectionSource(cfgFor(m), "events", spool, batchSize = 2)
      val config = TableConfig("Doc", Seq(
        ColumnSpec("K", Seq("int"), ref = Some("k"), primaryKey = true),
        ColumnSpec("V", Seq("float"), ref = Some("v"), default = Some(0.0))))
      val payloadSchema = StructType(Seq(
        StructField("k", LongType), StructField("v", StringType)))
      val tableDir = tempDir("rs-tbl").toString
      val ckpt = tempDir("rs-ck").toString
      val clock = lit("2024-01-01").cast("timestamp")

      // backlog already in the WAL when the resync begins: ticks 1..20
      // land in the spool; the tick high-pass drops everything BELOW the
      // resync tick and replays the tick-20 event itself — the inclusive
      // overlap direction (an event at the cutoff may or may not be in
      // the snapshot, and replaying it is idempotent; dropping it could
      // lose a change)
      assert(src.pump() === Some((1L, 20L)))
      val r = graft.streaming.Sync.resync(spark, src, config, payloadSchema,
        tableDir, ckpt, collectionIds = Seq("c1"), clock = clock,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        queryName = None)
      assert(r.initialTick === 20L, "tick must be read from the server BEFORE the scan")
      r.query.awaitTermination()
      val afterSnap = graft.streaming.CdcStream
        .currentView(spark, tableDir, keys = Seq("K"))
        .select("K", "V").collect()
        .map(x => (x.getLong(0), x.getDouble(1))).toMap
      assert(afterSnap ===
        (1 to 5).map(i => i.toLong -> (i + 0.5)).toMap + (0L -> 20.5),
        "backlog below the resync tick must not override the snapshot; " +
          "the tick-20 overlap event must replay (k=0)")

      // upstream moves on; the pump tails only the delta and the SAME
      // checkpoint continues the stream — the steady-state leg
      m.headTick = 25L
      assert(src.pump() === Some((21L, 25L)))
      val q2 = graft.streaming.CdcStream.startReplication(
        src.changes(spark), config, payloadSchema, tableDir, ckpt,
        collectionIds = Seq("c1"), initialTick = Some(r.initialTick), clock = clock)
      q2.awaitTermination()
      val finalView = graft.streaming.CdcStream
        .currentView(spark, tableDir, keys = Seq("K"))
        .select("K", "V").collect()
        .map(x => (x.getLong(0), x.getDouble(1))).toMap
      // ticks 21..25 upsert k = t % 4 with v = t.5; latest tick per key
      // wins over both the snapshot and earlier deltas
      assert(finalView === Map(
        0L -> 24.5, 1L -> 25.5, 2L -> 22.5, 3L -> 23.5,
        4L -> 4.5, 5L -> 5.5),
        "steady-state deltas did not apply latest-wins over the snapshot")
    } finally m.stop()
  }

  test("resync rides the executor-distributed scan when scanPartitions is set") {
    import graft.config.{ColumnSpec, TableConfig}
    import org.apache.spark.sql.types._
    val m = new MiniArango
    try {
      val spool = tempDir("rsd-spool").toString
      val src = ArangoHttpCollectionSource(cfgFor(m), "events", spool,
        batchSize = 2, scanPartitions = 2)
      val config = TableConfig("Doc", Seq(
        ColumnSpec("K", Seq("int"), ref = Some("k"), primaryKey = true),
        ColumnSpec("V", Seq("float"), ref = Some("v"), default = Some(0.0))))
      val payloadSchema = StructType(Seq(
        StructField("k", LongType), StructField("v", StringType)))
      val r = graft.streaming.Sync.resync(spark, src, config, payloadSchema,
        tempDir("rsd-tbl").toString,
        tempDir("rsd-ck").toString,
        collectionIds = Seq("c1"), clock = lit("2024-01-01").cast("timestamp"),
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        queryName = None)
      r.query.awaitTermination()
      assert(r.snapshotRows === 5L)
      // the snapshot came through key-range cursors, not the page spool
      assert(m.scanCursors.asScala.nonEmpty,
        "distributed resync never opened a range cursor")
      assert(m.scanCursors.asScala.toSet ===
        Set((None, Some("k03")), (Some("k03"), None)))
      val snapDirs = Files.list(Paths.get(spool)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("snapshot-")).toSeq
      assert(snapDirs.isEmpty, "distributed snapshot must not write the page spool")
    } finally m.stop()
  }

  test("documents gaining a column mid-tail keep the unified-view contract over HTTP") {
    import graft.config.{ColumnSpec, TableConfig}
    import org.apache.spark.sql.types._
    val m = new MiniArango
    try {
      // upstream adds field `w` to every change after tick 22 — r11's
      // concern driven through the LIVE transport: the spool stores the
      // payload as raw JSON, the payload schema knows the NEW column,
      // and rows from before the cutover must surface it as typed NULL
      // (absence observable, never invented), exactly like a
      // mergeSchema read across old and new parquet files
      m.schemaCutover = 22L
      val spool = tempDir("ev-spool").toString
      val src = ArangoHttpCollectionSource(cfgFor(m), "events", spool)
      val config = TableConfig("Doc", Seq(
        ColumnSpec("K", Seq("int"), ref = Some("k"), primaryKey = true),
        ColumnSpec("V", Seq("float"), ref = Some("v")),
        ColumnSpec("W", Seq("int"), ref = Some("w"))))
      val payloadSchema = StructType(Seq(
        StructField("k", LongType), StructField("v", StringType),
        StructField("w", LongType)))
      val tableDir = tempDir("ev-tbl").toString
      val ckpt = tempDir("ev-ck").toString
      m.headTick = 24L
      assert(src.pump() === Some((1L, 24L)))
      val q = graft.streaming.CdcStream.startReplication(
        src.changes(spark), config, payloadSchema, tableDir, ckpt,
        collectionIds = Seq("c1"), initialTick = None,
        clock = lit("2024-01-01").cast("timestamp"))
      q.awaitTermination()
      val view = graft.streaming.CdcStream
        .currentView(spark, tableDir, keys = Seq("K"))
        .select("K", "W").collect()
        .map(x => (x.getLong(0), Option(x.get(1)).map(_.asInstanceOf[Long])))
        .toMap
      // latest ticks per key: k0<-24, k1<-21, k2<-22, k3<-23; w exists
      // only for ticks > 22
      assert(view === Map(
        0L -> Some(240L), 3L -> Some(230L),
        1L -> None, 2L -> None),
        "pre-cutover rows must carry typed NULL for the new column; " +
          "post-cutover rows must carry its value")
    } finally m.stop()
  }

  test("a boundary-re-including tail is deduped; a non-advancing tail fails loudly") {
    val m = new MiniArango
    try {
      val spool = tempDir("arango-stuck").toString
      val src = ArangoHttpCollectionSource(cfgFor(m), "events", spool)
      m.headTick = 5L
      assert(src.pump() === Some((1L, 5L)))

      // protocol looseness: the server re-includes the exclusive bound
      // (tick 5) in the next tail — the pump must DROP it and spool only
      // the genuinely new ticks, or every cycle would re-write (and
      // double-count) the boundary entry
      m.inclusiveTail = true
      m.headTick = 8L
      assert(src.pump() === Some((6L, 8L)),
        "boundary re-delivery must be dropped, not spooled")
      assert(src.spoolTick() === 8L)
      val wal = spark.read.format("graft.sources.WalSource").load(spool)
      assert(wal.select("tick").collect().map(_.getLong(0)).sorted
        === (1L to 8L).toArray, "re-included boundary duplicated a tick")

      // misbehaving server: non-empty responses that never advance past
      // `from` — the old drain loop would spin forever re-writing the
      // same chunk; it must end the drain cleanly (a compliant server
      // sitting at head behind an inclusive bound looks identical), so
      // the cycle terminates with nothing spooled and nothing corrupted
      m.inclusiveTail = false
      m.stuckTail = true
      m.headTick = 12L
      assert(src.pump() === None, "a non-advancing tail must end the drain")
      assert(src.spoolTick() === 8L, "a stuck tail must not corrupt the spool")
    } finally m.stop()
  }

  test("collection names that could inject AQL are rejected before any splice") {
    val m = new MiniArango
    try {
      val spool = tempDir("arango-inj").toString
      // the page-spool source validates at construction
      val e1 = intercept[IllegalArgumentException](
        ArangoHttpCollectionSource(cfgFor(m), "c RETURN 1; FOR x IN secrets", spool))
      assert(e1.getMessage.contains("collection name"))
      // the DSv2 scan validates when the table is resolved
      val e2 = intercept[Exception] {
        spark.read.format("graft.sources.ArangoScanSource")
          .option("url", cfgFor(m).baseUrl).option("db", "d")
          .option("user", "root").option("password", "pw")
          .option("collection", "events FILTER 1 == 1 REMOVE d IN events")
          .load().count()
      }
      assert(e2.getMessage != null && e2.getMessage.contains("collection name"),
        s"scan accepted an injectable collection name: ${e2.getMessage}")
      // legitimate names (incl. hyphen/underscore and Arango SYSTEM
      // collections' leading underscore) still pass
      ArangoHttp.requireValidCollectionName("my-coll_2")
      ArangoHttp.requireValidCollectionName("_analytics")
      // but a bare/doubled underscore is not a valid name
      intercept[IllegalArgumentException](
        ArangoHttp.requireValidCollectionName("__weird"))
      intercept[IllegalArgumentException](
        ArangoHttp.requireValidCollectionName("_"))
    } finally m.stop()
  }

  test("wrong credentials fail loudly with the server's 401, not silently") {
    val m = new MiniArango
    try {
      val bad = ArangoHttp.Config(
        s"http://127.0.0.1:${m.port}", "d", "root", "WRONG")
      val e = intercept[RuntimeException](new ArangoHttp.Client(bad).lastTick())
      assert(e.getMessage.contains("401"), s"wrong failure mode: ${e.getMessage}")
      // 401 is NOT a transient status: exactly one request, zero retries
      assert(m.unauthorized.get() === 1)
      assert(m.requestsServed.get() === 1)
    } finally m.stop()
  }

  test("transient 503s on idempotent calls retry transparently, bounded") {
    val m = new MiniArango
    try {
      val cfg = cfgFor(m).copy(maxRetries = 3, retryBackoffMs = 1)
      val client = new ArangoHttp.Client(cfg)

      // two blips, three retries allowed: lastTick succeeds on attempt 3
      m.failNext.set(2)
      assert(client.lastTick() === 20L)
      assert(m.requestsServed.get() === 3, "expected exactly 2 failed + 1 ok")

      // blips longer than the budget: fail loudly, attempts bounded at 4
      m.requestsServed.set(0)
      m.failNext.set(10)
      val e = intercept[RuntimeException](client.lastTick())
      assert(e.getMessage.contains("failed after 4 attempts"), e.getMessage)
      assert(m.requestsServed.get() === 4)
      m.failNext.set(0)

      // tail (GET, idempotent) rides the same policy
      m.requestsServed.set(0)
      m.failNext.set(1)
      val (lines, last) = client.tail(0L)
      assert(lines.size === 20 && last === 20L)
      assert(m.requestsServed.get() === 2)

      // retries disabled: first 503 propagates
      m.failNext.set(1)
      val off = new ArangoHttp.Client(cfg.copy(maxRetries = 0))
      intercept[RuntimeException](off.lastTick())
    } finally m.stop()
  }

  test("PUT cursor-advance never retries: a lost page cannot be skipped") {
    val m = new MiniArango
    try {
      val cfg = cfgFor(m).copy(maxRetries = 3, retryBackoffMs = 1)
      val client = new ArangoHttp.Client(cfg)
      // 5 docs at batchSize 2 → POST page + 2 PUT pages
      val pages = client.cursorPageIterator(
        "FOR d IN events RETURN d", batchSize = 2)
      assert(pages.next().size === 2) // POST (idempotent, no blip here)
      m.requestsServed.set(0)
      m.failNext.set(1)
      // PUT advances server state — the client must surface the 503
      // rather than retry into a silently skipped page
      val e = intercept[RuntimeException](pages.next())
      assert(e.getMessage.contains("503"), e.getMessage)
      assert(m.requestsServed.get() === 1, "PUT was retried — page-skip hazard")
    } finally m.stop()
  }
}
