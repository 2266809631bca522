package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.config.ConfigYaml
import graft.operators.SchemaTransform
import graft.streaming.{CdcStream, QueryMonitor, Sync}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The replication benchmark. One JVM, one workload per run:
  *
  *  - `backlog`: snapshot, then a closed-loop AvailableNow catch-up of a
  *    large WAL in 4-chunk batches, then full and point reads of the view;
  *  - `tail`: snapshot, a short catch-up at the reference's 1,000-record
  *    poll size, then an open-loop writer releasing one 1,000-entry chunk
  *    per period beside a closed-loop point reader.
  *
  * Both report the same end-to-end metrics (see README.md). The last stdout
  * line is the result object; `--trace 1` reports per-layer metrics instead
  * and writes spans and listener data to `.bench_out/`.
  *
  * Usage: perfbench.Bench --workload backlog|tail --seed N --seconds S
  *        --trace 0|1 --work DIR [--size full|tiny] [--perturb-oracle]
  */
object Bench {

  /** Fixed version clock: `_ver = 2026001 ++ offset`. */
  val ClockDate = "2026-01-01"
  val ClockDay = "2026001"

  /** Run sizes. `backlogDocs`/`tailDocs` are the collection sizes; the
    * WAL's key space is 25% larger. `tail` releases one chunk per
    * `periodMs`; its reader pauses `thinkMs` between lookups. Snapshots and
    * full view reads are repeated and their medians reported.
    */
  final case class Size(
      backlogDocs: Int, backlogChunks: Int, backlogChunk: Int, backlogLeading: Int, maxChunks: Int,
      minPointReads: Int,
      tailDocs: Int, tailCatchup: Int, tailWarm: Int, tailChunk: Int, tailLeading: Int,
      periodMs: Int, thinkMs: Int,
      snapshots: Int, viewReads: Int, warmChunks: Int, warmChunk: Int, warmReads: Int)

  val Sizes: Map[String, Size] = Map(
    "full" -> Size(60000, 24, 16384, 2048, 4, 10,
      20000, 8, 1, 1000, 100, 1500, 300, 5, 9, 1, 2048, 10),
    "tiny" -> Size(2000, 4, 1024, 64, 2, 5,
      2000, 2, 1, 200, 20, 1000, 200, 2, 3, 1, 256, 2))

  /** The reference's `Test` table (FIXTURES.md A.1), as a user writes it. */
  val ConfigText: String =
    """table_name: Test
      |schema:
      |  primary_key: Id
      |  properties:
      |    Id:
      |      type: int
      |      ref: _key
      |      ch_type: Int64
      |    Name:
      |      type: str
      |      ref: name
      |      required: true
      |    Email:
      |      type: str
      |      ref: email
      |    Answers:
      |      type: to_array
      |      ref: answers
      |      default: [ ]
      |    SubmittedOn:
      |      type: from_datetime
      |      ref: submitted_on
      |    _rev:
      |      type: str
      |      default: ''
      |""".stripMargin

  val PayloadSchema: StructType = StructType(
    Seq("_key", "_rev", "name", "email", "answers", "submitted_on")
      .map(StructField(_, StringType)))

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, size: Size, perturbOracle: Boolean, fingerprintOnly: Boolean)

  private val Flags = Set("--perturb-oracle", "--fingerprint-only")

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.filterNot(Flags).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Set("backlog", "tail")(w), s"unknown workload '$w' (backlog, tail)")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath,
      Sizes.getOrElse(m.getOrElse("size", "full"), throw new IllegalArgumentException("bad --size")),
      argv.contains("--perturb-oracle"), argv.contains("--fingerprint-only"))
  }

  /** Everything a run feeds the program, derived from the seed alone. */
  final case class Inputs(docs: Vector[Gen.Doc], wal: Gen.Wal, captureTick: Long)

  def docs(a: Args): Int = if (a.workload == "backlog") a.size.backlogDocs else a.size.tailDocs

  def keySpace(a: Args): Int = docs(a) * 5 / 4

  def inputs(a: Args): Inputs = {
    val size = a.size
    val (wal, captureTick) = a.workload match {
      case "backlog" =>
        Gen.wal(a.seed, keySpace(a), size.backlogChunks, size.backlogChunk, size.backlogLeading)
      case _ =>
        val released = a.seconds * 1000 / size.periodMs
        Gen.wal(a.seed, keySpace(a), size.tailCatchup + size.tailWarm + released, size.tailChunk,
          size.tailLeading)
    }
    Inputs(Gen.collection(a.seed, docs(a)), wal, captureTick)
  }

  /** The small separate WAL of the untimed warm-up replication. */
  def warmInputs(a: Args): (Gen.Wal, Long) =
    Gen.wal(a.seed + 1, keySpace(a), a.size.warmChunks, a.size.warmChunk, 0, startOffset = 5000000L)

  def main(argv: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parseArgs(argv)
    if (a.fingerprintOnly) {
      // the digests a run would print, rendered in memory (no Spark)
      val in = inputs(a)
      def digest(w: Gen.Wal) = Gen.sha256(w.chunks.indices.iterator.map(Gen.chunkBytes(w, _)))
      println(json(Map("fingerprint" -> Map("workload" -> a.workload, "seed" -> a.seed,
        "wal_sha256" -> digest(in.wal), "warmup_wal_sha256" -> digest(warmInputs(a)._1),
        "collection_sha256" -> Gen.collectionDigest(in.docs)))))
    } else new Run(a, jvmStart).run()
  }

  /** Per-layer metrics only the `backlog` workload has; they go to the trace
    * artifact but not to the result line, which carries the metrics every
    * workload reports.
    */
  val BacklogOnly = Set("drain_speedup_1_to_n")

  /** Per-layer metrics that are gates or read zero on both workloads at this
    * size (no spill, nothing left in the warehouse, no gaps): kept in the
    * artifact, left off the result line.
    */
  val ArtifactOnly = Set("monitor.gaps", "warehouse_bytes_left",
    "snapshot.spill_bytes", "stream.spill_bytes", "read.spill_bytes")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell-Davis quantile: a Beta-weighted mean of all order statistics.
    * With the few samples a run has (a dozen lags, a few dozen reads) it
    * varies much less from run to run than a single order statistic.
    */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n == 1) s.head
    else {
      val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
      def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
      s.indices.map(i => (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n)) * s(i)).sum
    }
  }

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt; val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case p: Product => json(p.productIterator.toSeq)
    case other => json(other.toString)
  }
}

/** One benchmark run: owns the session, the inputs and the results. */
final class Run(a: Bench.Args, jvmStart: Long) {
  import Bench._

  private val size = a.size
  private val cpus = Runtime.getRuntime.availableProcessors
  private val tracer = new Tracer(a.trace)
  private val phases = new PhaseListener
  private val config = ConfigYaml.tableConfig(ConfigText)
  private val clock = lit(ClockDate).cast("timestamp")

  private val data = a.work.resolve("data")
  private val tableDir = data.resolve("table").toString
  private val walDir = data.resolve("wal")
  private val stageDir = data.resolve("stage")

  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val info = mutable.LinkedHashMap.empty[String, Any]
  private var attempted = 0L
  private var failed = 0L
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = synchronized {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  /** Count an operation's outcome without recording it as a named check. */
  private def op(ok: Boolean): Unit = synchronized { attempted += 1; if (!ok) failed += 1 }

  private def newSession(cores: Int): SparkSession = {
    val s = GraftSession.builder(cores.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "2000")
      .getOrCreate()
    if (a.trace) s.sparkContext.addSparkListener(phases)
    s.range(0, 10000, 1, cores).selectExpr("sum(id)").collect() // the trivial job
    s
  }

  private def inGroup[A](spark: SparkSession, group: String)(body: => A): A = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }

  private var spark: SparkSession = _

  /** Wall of each untimed step too, for sizing runs (details line). */
  private val stages = mutable.LinkedHashMap.empty[String, Double]
  private def stage[A](name: String)(body: => A): A = {
    val t = System.nanoTime()
    try body finally stages(name) = secondsSince(t)
  }

  def run(): Unit = {
    Files.createDirectories(a.work)
    // ---- setup: JVM start to a ready session plus one trivial job, then
    // four more times from a stopped session; the median is reported
    val setups = mutable.ArrayBuffer.empty[Double]
    spark = newSession(cpus)
    setups += (System.currentTimeMillis() - jvmStart) / 1e3
    for (_ <- 0 until 4) {
      spark.stop()
      val t = System.nanoTime()
      spark = newSession(cpus)
      setups += secondsSince(t)
    }
    e2e("setup_s") = (median(setups.toSeq), "s")
    info("setup_samples_s") = setups.toSeq

    val monitorGaps = new java.util.concurrent.atomic.AtomicLong(0)
    val monitor = new QueryMonitor(onGap = (name, lo, hi, kind) => {
      monitorGaps.incrementAndGet()
      System.err.println(s"[perfbench] monitor reported a $kind gap on $name: $lo..$hi")
    })
    spark.streams.addListener(monitor)

    // ---- inputs (timed separately, never part of a metric). The main
    // inputs are generated on a side thread while the untimed warm-up
    // replication runs over its own small WAL.
    val tGen = System.nanoTime()
    val (warmWal, warmTick) = warmInputs(a)
    val warmBytes = Gen.writeChunks(warmWal, data.resolve("warm-wal"), 0, warmWal.chunks.size)
    val gen = new java.util.concurrent.FutureTask(() => {
      val in = inputs(a)
      val preloaded = if (a.workload == "backlog") in.wal.chunks.size else size.tailCatchup
      val walBytes = Gen.writeChunks(in.wal, walDir, 0, preloaded) ++
        Gen.writeChunks(in.wal, stageDir, preloaded, in.wal.chunks.size)
      val replay = new Oracle.Replay(in.docs, in.captureTick)
      in.wal.entries.foreach(replay.apply)
      (in, Gen.sha256(walBytes.iterator), Gen.mix(in.wal, in.captureTick), replay)
    })
    new Thread(gen, "perfbench-gen").start()
    stage("warm-up")(warmUp(warmTick))
    val (Inputs(docs, wal, captureTick), walSha, mix, replay) = gen.get()
    val collDir = data.resolve("collection").toString
    spark.createDataFrame(spark.sparkContext.parallelize(docs.map(collectionRow), 8), PayloadSchema)
      .write.parquet(collDir)
    val fingerprint = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "wal_entries" -> wal.size,
      "wal_sha256" -> walSha, "warmup_wal_sha256" -> Gen.sha256(warmBytes.iterator),
      "collection_docs" -> docs.size, "collection_sha256" -> Gen.collectionDigest(docs),
      "capture_tick" -> captureTick, "mix" -> mix, "gen_and_warmup_s" -> secondsSince(tGen))
    println("{\"fingerprint\": " + json(fingerprint) + "}")

    // ---- snapshot
    val collection = spark.read.parquet(collDir)
    val tSnap = System.nanoTime()
    // the first snapshot is left out of the median: the JIT is still
    // compiling the per-row path, and it takes about 1.5x a later one
    val (snaps, snapSpan) = tracer.span("phase:snapshot") {
      val walls = (0 to size.snapshots).map { _ =>
        val t = System.nanoTime()
        val r = tracer.span("Sync.snapshot") {
          inGroup(spark, "snapshot")(Sync.snapshot(spark, collection, config, tableDir))
        }
        (r, secondsSince(t))
      }
      (walls, tracer.current)
    }
    val (snapRows, snapRejects) = snaps.last._1
    val snapWall = median(snaps.drop(1).map(_._2))
    info("snapshot_samples_s") = snaps.map(_._2)
    e2e("snapshot_rows_per_s") = (docs.size / snapWall, "rows/s")
    check("snapshot rows", snapRows == docs.count(_.valid), s"$snapRows rows")
    check("snapshot rejects", snapRejects == docs.count(!_.valid), s"$snapRejects rejects")
    val snapFiles = parquetFiles(tableDir)
    layer("snapshot.s") = (snapWall, "s")
    layer("snapshot.files") = (snapFiles.size.toDouble, "count")

    // ---- the stream
    val stream = if (a.workload == "backlog") drain(wal, captureTick) else tail(wal, captureTick, replay)
    wal.chunks.indices.foreach(i => op(stream.lags.isDefinedAt(i)))
    info("chunks_visible") = s"${stream.lags.size} of ${wal.chunks.size}"
    e2e("drain_rows_per_s") = (stream.drainRate, "rows/s")
    val timedLags = stream.lags.toSeq.sorted.collect { case (i, ms) if stream.lagChunks(i) => ms }
    e2e("lag_p50_ms") = (hdQuantile(timedLags, 0.5), "ms")
    e2e("lag_p90_ms") = (hdQuantile(timedLags, 0.9), "ms")
    info("lag_samples") = timedLags.size
    info("lag_samples_ms") = timedLags
    info("writer_late_ms_max") = stream.lateMs.maxOption.getOrElse(0.0)
    info("writer_late_ms_p50") = quantile(stream.lateMs, 0.5)

    // ---- full reads over the drained, uncompacted table (no writer)
    val (fullReads, points, readSpan) = tracer.span("phase:read") {
      val full = mutable.ArrayBuffer.empty[(Double, (Long, java.math.BigDecimal))]
      // point reads: beside the writer on `tail`, on the quiet table on
      // `backlog`, where they alternate with the full reads so both see
      // the same conditions
      val quiet = mutable.ArrayBuffer.empty[Double]
      val (keys, rr) = readKeys()
      val until = System.nanoTime() + a.seconds * 250000000L
      def morePoints = a.workload == "backlog" &&
        (quiet.size < size.minPointReads || System.nanoTime() < until)
      inGroup(spark, "read") {
        // the first reads of the drained table list and open its files
        // cold (about twice a later read), and the JIT is still compiling
        // the per-row read path; untimed reads take both
        tracer.span("untimed first reads") {
          fullRead(tableDir)
          fullRead(tableDir)
          if (a.workload == "backlog") pointRead(keys.sample(rr), replay, tracer.current)
        }
        while (full.size < size.viewReads || morePoints) {
          if (full.size < size.viewReads) {
            val t = System.nanoTime()
            val r = tracer.span("CdcStream.currentView(full)")(fullRead(tableDir))
            full += ((secondsSince(t), r))
          }
          if (morePoints) quiet += pointRead(keys.sample(rr), replay, tracer.current)
        }
      }
      (full.toSeq, if (a.workload == "tail") stream.reads else quiet.toSeq, tracer.current)
    }
    e2e("view_read_s") = (median(fullReads.map(_._1)), "s")
    val liveRows = fullReads.head._2._1
    check("full reads agree", fullReads.map(_._2).distinct.size == 1, fullReads.map(_._2).distinct.mkString(" "))
    check("live rows match oracle", liveRows == replay.liveCount, s"$liveRows vs ${replay.liveCount}")
    val tableBytes = parquetFiles(tableDir).map(Files.size).sum
    e2e("bytes_per_live_row") = (tableBytes.toDouble / math.max(1L, liveRows), "B")

    e2e("read_p50_ms") = (hdQuantile(points, 0.5), "ms")
    e2e("read_p95_ms") = (hdQuantile(points, 0.95), "ms")
    info("point_reads") = points.size
    info("read_samples_ms") = points.map(x => math.round(x))
    info("full_read_samples_ms") = fullReads.map(x => math.round(x._1 * 1000))
    info("batch_ms") = stream.batches.map(b => b.endMs - b.startMs)

    stages("timed-phases") = secondsSince(tSnap)
    val tChecks = System.nanoTime()
    // ---- correctness gates (outside every timed region)
    val got = Oracle.digest(CdcStream.currentView(spark, tableDir, Seq("Id")).collect().iterator.map(Oracle.canonRow))
    val want = Oracle.digest(
      if (a.perturbOracle) replay.liveLines.drop(1) else replay.liveLines)
    check("view equals replay oracle", got == want, s"view $got, oracle $want")
    val dead = spark.read.parquet(tableDir + ".deadletter").filter(col("batch_id") >= 0).count()
    check("dead-letter rows equal planted invalid", dead == mix.invalid, s"$dead vs ${mix.invalid}")
    layer("sink.deadletter_rows") = (dead.toDouble, "count")
    val deadline = System.nanoTime() + 20000000000L
    while (monitor.processedCount(stream.name) < mix.envelopeRows && System.nanoTime() < deadline)
      Thread.sleep(20)
    check("monitor processed rows", monitor.processedCount(stream.name) == mix.envelopeRows,
      s"${monitor.processedCount(stream.name)} vs ${mix.envelopeRows}")
    check("monitor gaps", monitorGaps.get == 0, s"${monitorGaps.get} gaps")

    stages("checks") = secondsSince(tChecks)
    if (a.trace) stage("traced-layers")(tracer.span("phase:layers") {
      traced(stream, wal, captureTick, mix, snapSpan, readSpan,
        fullReads.map(_._1), points, snapFiles.size, fullReads.head._2, monitor, monitorGaps.get)
    })

    spark.stop()
    val left = dirBytes(a.work.resolve("warehouse")) + dirBytes(a.work.resolve("local"))
    layer("warehouse_bytes_left") = (left.toDouble, "B")
    if (a.trace && a.workload == "backlog") stage("one-core-drain")(speedupBaseline(stream, captureTick))
    e2e("peak_rss_mb") = (peakRssMb(), "MiB")

    info("stages_s") = stages
    if (a.trace) writeArtifact(fingerprint, stream)
    val metrics = (if (a.trace) layer -- BacklogOnly -- ArtifactOnly else e2e).map { case (k, (v, u)) =>
      k -> mutable.LinkedHashMap("value" -> v, "unit" -> u)
    }
    println("{\"details\": " + json(info ++ Map("checks" -> checks.map(c =>
      mutable.LinkedHashMap("check" -> c._1, "ok" -> c._2, "detail" -> c._3)))) + "}")
    println(json(mutable.LinkedHashMap(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics)))
  }

  // ------------------------------------------------------------------ phases

  private def walStream(maxChunks: Int, dir: Path): DataFrame =
    spark.readStream.format("graft.sources.WalSource")
      .option("maxChunksPerTrigger", maxChunks.toString)
      .load(dir.toString)

  /** A small resync end to end (snapshot, replication, reads), so the timed
    * phases run on compiled code. The point reads are repeated: planning a
    * lookup is driver code the JIT needs a few dozen passes to compile, and
    * without them `tail`'s reads and lags drift down by a third over its
    * timed window.
    */
  private def warmUp(tick: Long): Unit = {
    val dir = data.resolve("warm-table").toString
    val coll = data.resolve("warm-collection").toString
    val docs = Gen.collection(a.seed + 1, 2000)
    spark.createDataFrame(docs.map(collectionRow).asJava, PayloadSchema).write.parquet(coll)
    Sync.snapshot(spark, spark.read.parquet(coll), config, dir)
    val q = CdcStream.startReplication(walStream(1, data.resolve("warm-wal")), config, PayloadSchema,
      dir, data.resolve("warm-ckpt").toString, collectionIds = Seq(Gen.Collection),
      initialTick = Some(tick), clock = clock, queryName = Some("warmup"))
    q.awaitTermination()
    fullRead(dir)
    for (id <- 1 to size.warmReads)
      CdcStream.currentView(spark, dir, Seq("Id")).filter(col("Id") === id.toLong).collect()
  }

  /** What a stream phase leaves for the metrics: per-chunk lag (chunk index
    * to ms), which chunks count towards the lag percentiles, the catch-up
    * size and rate, the batches' progress, and the concurrent reads.
    */
  final case class StreamResult(
      name: String, lags: Map[Int, Double], lagChunks: Set[Int],
      drainRows: Long, drainRate: Double, batches: Seq[BatchInfo], wallStartNs: Long, wallEndNs: Long,
      reads: Seq[Double], lateMs: Seq[Double], readerSpan: Option[Tracer.Span])

  final case class BatchInfo(startMs: Long, endMs: Long, endTick: Long, rows: Long,
      durations: Map[String, Long])

  private def batches(q: StreamingQuery): Seq[BatchInfo] =
    q.recentProgress.toSeq.filter(p => p.sources.nonEmpty &&
        p.sources.head.endOffset != null && p.sources.head.endOffset != p.sources.head.startOffset)
      .map { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = Instant.parse(p.timestamp).toEpochMilli
        BatchInfo(start, start + d.getOrElse("triggerExecution", 0L),
          p.sources.head.endOffset.trim.toLong, p.numInputRows, d)
      }

  /** Per chunk: ms from its due time to the end of the first batch whose
    * end offset covers the chunk's last tick.
    */
  private def lagsOf(wal: Gen.Wal, bs: Seq[BatchInfo], dueMs: Int => Long): Map[Int, Double] =
    wal.chunks.indices.flatMap { i =>
      bs.find(_.endTick >= wal.lastTick(i)).map(b => i -> (b.endMs - dueMs(i)).toDouble)
    }.toMap

  private def covered(q: StreamingQuery, tick: Long): Boolean =
    batches(q).exists(_.endTick >= tick)

  private def awaitCovered(q: StreamingQuery, tick: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!covered(q, tick) && q.isActive && System.currentTimeMillis() < deadline) Thread.sleep(10)
    covered(q, tick)
  }

  private def startStream(name: String, maxChunks: Int, trigger: Trigger, tick: Long): StreamingQuery = {
    val q = inGroup(spark, "stream") {
      CdcStream.startReplication(walStream(maxChunks, walDir), config, PayloadSchema,
        tableDir, data.resolve("ckpt").toString, collectionIds = Seq(Gen.Collection),
        initialTick = Some(tick), clock = clock, trigger = trigger, queryName = Some(name))
    }
    phases.alias(q.runId.toString, "stream")
    phases.alias(q.id.toString, "stream")
    q
  }

  /** `backlog`: one AvailableNow catch-up of every chunk, 4 per batch; every
    * chunk was due when the drain started.
    */
  private def drain(wal: Gen.Wal, tick: Long): StreamResult = tracer.span("phase:stream") {
    val t0 = System.nanoTime(); val t0Ms = System.currentTimeMillis()
    val q = tracer.span("CdcStream.startReplication") {
      startStream("backlog", size.maxChunks, Trigger.AvailableNow(), tick)
    }
    tracer.span("StreamingQuery.awaitTermination")(q.awaitTermination())
    val wall = secondsSince(t0)
    val bs = batches(q)
    val lags = lagsOf(wal, bs, _ => t0Ms)
    StreamResult("backlog", lags, wal.chunks.indices.toSet, wal.size.toLong, wal.size / wall, bs,
      t0, System.nanoTime(), Nil, Nil, None)
  }

  /** `tail`: a processing-time stream at one chunk per batch. It first
    * catches up the chunks present at start, then an open-loop writer
    * releases one pre-rendered chunk per period (warm-up releases first,
    * uncounted) while one reader issues point lookups in a closed loop with
    * a short think time.
    */
  private def tail(wal: Gen.Wal, tick: Long, replay: Oracle.Replay): StreamResult =
      tracer.span("phase:stream") {
    val t0 = System.nanoTime(); val t0Ms = System.currentTimeMillis()
    val q = tracer.span("CdcStream.startReplication") {
      startStream("tail", 1, Trigger.ProcessingTime(0L), tick)
    }
    val catchupTick = wal.lastTick(size.tailCatchup - 1)
    tracer.span("catch-up")(awaitCovered(q, catchupTick, 120000))
    val catchupRows = wal.chunks.take(size.tailCatchup).map(_.size).sum.toLong
    // the catch-up rate: per batch after the first (which also starts the
    // query), its entries over the time since the previous batch ended
    val catchup = batches(q).filter(_.endTick <= catchupTick)
    val catchupRate = median(catchup.zip(catchup.drop(1)).map { case (prev, b) =>
      b.rows * 1000.0 / math.max(1L, b.endMs - prev.endMs)
    })

    val firstRelease = size.tailCatchup
    val timedFrom = firstRelease + size.tailWarm
    val base = System.currentTimeMillis() + size.periodMs
    val due = (i: Int) => base + (i - firstRelease).toLong * size.periodMs
    val late = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    @volatile var reading = false
    @volatile var writing = true
    @volatile var readerSpan: Option[Tracer.Span] = None

    tracer.span("open-loop") {
      val window = tracer.current
      val writer = new Thread(() => {
        // a failed release must still end the reader's loop; the chunks
        // it left unreleased then count as not visible
        try for (i <- firstRelease until wal.chunks.size) {
          val wait = due(i) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          tracer.span("release-chunk", parent = window, op = Some(tracer.newOp())) {
            Files.move(stageDir.resolve(wal.fileName(i)), walDir.resolve(wal.fileName(i)),
              StandardCopyOption.ATOMIC_MOVE)
          }
          late.add((System.currentTimeMillis() - due(i)).toDouble)
          if (i == timedFrom - 1) reading = true
        } finally writing = false
      }, "perfbench-writer")
      val reader = new Thread(() => {
        spark.sparkContext.setJobGroup("read", "read")
        val (keys, rr) = readKeys()
        while (!reading && writing) Thread.sleep(1)
        tracer.span("phase:tail-read", parent = window) {
          readerSpan = tracer.current
          pointRead(keys.sample(rr), replay, readerSpan) // untimed, as on backlog
          while (writing) {
            reads.add(pointRead(keys.sample(rr), replay, readerSpan))
            tracer.span("think")(Thread.sleep(size.thinkMs))
          }
        }
      }, "perfbench-reader")
      writer.start(); reader.start()
      writer.join(); reader.join()
      tracer.span("await-visible")(awaitCovered(q, wal.lastTick(wal.chunks.size - 1), 30000))
    }
    tracer.span("StreamingQuery.stop")(q.stop())
    val bs = batches(q)
    val lags = lagsOf(wal, bs, i => if (i < firstRelease) t0Ms else due(i))
    StreamResult("tail", lags, (timedFrom until wal.chunks.size).toSet, catchupRows,
      catchupRate, bs, t0, System.nanoTime(), reads.asScala.toSeq,
      late.asScala.toSeq.drop(size.tailWarm), readerSpan)
  }

  // -------------------------------------------------------------- reads

  /** Point-read keys: the writes' key law, sampled by the run's own RNG. */
  private def readKeys(): (Gen.KeyDist, java.util.Random) =
    (Gen.keyDist(a.seed, Bench.keySpace(a)), new java.util.Random(a.seed * 3 + 1))

  /** Count plus an order-independent digest of every column of the view. */
  private def fullRead(dir: String): (Long, java.math.BigDecimal) = {
    val v = CdcStream.currentView(spark, dir, Seq("Id"))
    val r = v.agg(count(lit(1)), sum(xxhash64(v.columns.sorted.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** One point lookup by Id; returns its latency in ms. The row must be a
    * version that was written for that key, and at most one may come back.
    */
  private def pointRead(id: Long, replay: Oracle.Replay, parent: Option[Tracer.Span]): Double = {
    val t = System.nanoTime()
    val rows = try {
      Some(tracer.span("CdcStream.currentView(point)", parent = parent, op = Some(tracer.newOp())) {
        CdcStream.currentView(spark, tableDir, Seq("Id")).filter(col("Id") === id).collect()
      })
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] point read $id failed: $e"); None
    }
    val ms = (System.nanoTime() - t) / 1e6
    op(rows.exists(rs => rs.length <= 1 && rs.forall { r =>
      val line = Oracle.canonRow(r)
      replay.writtenRow(id, Option(r.getAs[java.lang.Long]("offset")).map(_.longValue)
        .getOrElse(Oracle.SnapshotOffset)).contains(line)
    }))
    ms
  }

  // ------------------------------------------------------- traced extras

  private def traced(stream: StreamResult, wal: Gen.Wal, tick: Long, mix: Gen.Mix,
      snapSpan: Option[Tracer.Span], readSpan: Option[Tracer.Span],
      fullReads: Seq[Double], points: Seq[Double], snapFiles: Int, digest: (Long, java.math.BigDecimal),
      monitor: QueryMonitor, gaps: Long): Unit = {
    def timed[A](name: String)(body: => A): (A, Double) = {
      val t = System.nanoTime()
      val r = tracer.span(name)(inGroup(spark, "layers")(body))
      (r, secondsSince(t))
    }

    // sources: a batch scan of this workload's WAL into noop
    val (_, scanS) = timed("WalSource.scan") {
      spark.read.format("graft.sources.WalSource").load(walDir.toString)
        .write.format("noop").mode("overwrite").save()
    }
    layer("sources.scan_rows_per_s") = (wal.size / scanS, "rows/s")
    layer("sources.latest_offset_ms") = (median(stream.batches.map(_.durations.getOrElse("latestOffset", 0L).toDouble)), "ms")

    // envelope and transform over the cached parsed WAL
    val parsed = spark.read.format("graft.sources.WalSource").load(walDir.toString).persist()
    timed("cache parsed WAL")(parsed.count())
    val env = CdcStream.pipeline(parsed, PayloadSchema, Seq(Gen.Collection), Some(tick), clock)
    val (_, envS) = timed("CdcStream.pipeline")(env.write.format("noop").mode("overwrite").save())
    val envCached = env.persist()
    val (envRows, _) = timed("cache envelope")(envCached.count())
    layer("envelope.s") = (envS, "s")
    layer("envelope.keep_ratio") = (envRows.toDouble / wal.size, "ratio")
    check("envelope keeps the planted mix", envRows == mix.envelopeRows, s"$envRows vs ${mix.envelopeRows}")
    val t = SchemaTransform(envCached, config, keep = Seq("offset", "_ver", "_deleted"))
    val (_, trS) = timed("SchemaTransform.apply")(t.valid.write.format("noop").mode("overwrite").save())
    val (rejects, _) = timed("count rejects")(t.errors.count())
    layer("transform.s") = (trS, "s")
    layer("transform.reject_ratio") = (rejects.toDouble / math.max(1L, envRows), "ratio")
    check("transform rejects the planted invalid", rejects == mix.invalid, s"$rejects vs ${mix.invalid}")
    envCached.unpersist(); parsed.unpersist()

    // sink: per-batch durationMs breakdown and what the batches wrote
    val data = stream.batches.filter(_.rows > 0)
    def p50(k: String) = median(data.map(_.durations.getOrElse(k, 0L).toDouble))
    layer("sink.trigger_ms") = (p50("triggerExecution"), "ms")
    layer("sink.add_batch_ms") = (p50("addBatch"), "ms")
    layer("sink.query_planning_ms") = (p50("queryPlanning"), "ms")
    layer("sink.wal_commit_ms") = (p50("walCommit"), "ms")
    layer("sink.commit_offsets_ms") = (p50("commitOffsets"), "ms")
    layer("sink.batches") = (data.size.toDouble, "count")
    val streamStats = phases.phase("stream")
    layer("sink.jobs_per_batch") = (streamStats.jobs.toDouble / math.max(1, data.size), "count")
    val files = parquetFiles(tableDir)
    layer("sink.files_written") = ((files.size - snapFiles).toDouble, "count")
    layer("sink.bytes_written") = (streamStats.bytesOut.toDouble, "B")

    // replica: reads, then compaction and a read of the compacted table
    layer("replica.full_read_s") = (median(fullReads), "s")
    layer("replica.point_read_ms") = (median(points), "ms")
    layer("replica.files_at_read") = (files.size.toDouble, "count")
    val before = phases.phase("probe_read").shuffleWrite
    tracer.span("CdcStream.currentView(shuffle probe)")(inGroup(spark, "probe_read")(fullRead(tableDir)))
    layer("replica.shuffle_bytes") = ((phases.phase("probe_read").shuffleWrite - before).toDouble, "B")
    val (_, compactS) = timed("CdcStream.compact")(CdcStream.compact(spark, tableDir, Seq("Id")))
    layer("replica.compact_s") = (compactS, "s")
    val compacted = (0 until 3).map(_ => timed("CdcStream.currentView(compacted)")(fullRead(tableDir)))
    layer("replica.full_read_compacted_s") = (median(compacted.map(_._2)), "s")
    check("compaction keeps the view", compacted.forall(_._1 == digest), s"${compacted.map(_._1)} vs $digest")

    layer("monitor.processed_rows") = (monitor.processedCount(stream.name).toDouble, "count")
    layer("monitor.gaps") = (gaps.toDouble, "count")

    // Spark runtime per phase
    // (the read phase on `tail` also spans the reader beside the stream)
    def wallOf(s: Option[Tracer.Span]) = s.map(x => (x.start, x.end)).toSeq
    val walls = Map(
      "snapshot" -> wallOf(snapSpan),
      "stream" -> Seq((stream.wallStartNs, stream.wallEndNs)),
      "read" -> (wallOf(readSpan) ++ wallOf(stream.readerSpan)))
    for ((p, ws) <- walls) {
      val st = phases.phase(p)
      val idle = ws.map { case (lo, hi) => hi - lo - Tracer.covered(st.jobIntervals.toSeq, lo, hi) }.sum
      layer(s"$p.jobs") = (st.jobs.toDouble, "count")
      layer(s"$p.tasks") = (st.tasks.toDouble, "count")
      layer(s"$p.executor_cpu_s") = (st.cpuNs / 1e9, "s")
      layer(s"$p.shuffle_write_bytes") = (st.shuffleWrite.toDouble, "B")
      layer(s"$p.spill_bytes") = (st.spill.toDouble, "B")
      layer(s"$p.driver_only_s") = (idle / 1e9, "s")
    }
    info("traced_e2e") = e2e.clone()
    info("phase_walls_s") = walls.map { case (k, ws) => k -> ws.map { case (lo, hi) => hi - lo }.sum / 1e9 }
  }

  /** `local[1]` drain of the same backlog on fresh dirs: the single-thread
    * baseline for `drain_speedup_1_to_n`.
    */
  private def speedupBaseline(stream: StreamResult, tick: Long): Unit = {
    spark = newSession(1)
    try {
      val dir = data.resolve("table-1core").toString
      Sync.snapshot(spark, spark.read.parquet(data.resolve("collection").toString), config, dir)
      val t = System.nanoTime()
      CdcStream.startReplication(walStream(size.maxChunks, walDir), config, PayloadSchema,
        dir, data.resolve("ckpt-1core").toString, collectionIds = Seq(Gen.Collection),
        initialTick = Some(tick), clock = clock).awaitTermination()
      val rate1 = stream.drainRows / secondsSince(t)
      layer("drain_speedup_1_to_n") = (stream.drainRate / rate1, "ratio")
    } finally spark.stop()
  }

  private def writeArtifact(fingerprint: Any, stream: StreamResult): Unit = {
    val out = Paths.get(".bench_out")
    Files.createDirectories(out)
    val spans = tracer.all
    val phaseCoverage = spans.filter(_.name.startsWith("phase:")).map(s =>
      mutable.LinkedHashMap("phase" -> s.name, "wall_s" -> (s.end - s.start) / 1e9,
        "covered" -> tracer.coverage(s)))
    val artifact = mutable.LinkedHashMap[String, Any](
      "fingerprint" -> fingerprint,
      "per_layer" -> layer.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
      "self_time" -> tracer.selfTimes.map { case (n, c, tot, self) =>
        mutable.LinkedHashMap("span" -> n, "count" -> c, "total_s" -> tot, "self_s" -> self) },
      "phase_coverage" -> phaseCoverage,
      "batches" -> stream.batches.map(b => mutable.LinkedHashMap("start_ms" -> b.startMs,
        "end_ms" -> b.endMs, "end_tick" -> b.endTick, "rows" -> b.rows, "duration_ms" -> b.durations)),
      "details" -> info,
      "spans" -> spans.map(s => mutable.LinkedHashMap("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end)))
    val f = out.resolve(s"trace-${a.workload}-seed${a.seed}.json")
    Files.write(f, json(artifact).getBytes("UTF-8"))
    info("trace_artifact") = f.toString
  }

  // ------------------------------------------------------------ plumbing

  private def collectionRow(d: Gen.Doc): Row = Row(d.key, d.rev.orNull, d.name.orNull,
    d.email.orNull, d.answers.orNull, d.submittedOn.map(Oracle.isoSeconds).orNull)

  private def parquetFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet")).toList
      finally s.close()
    }
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
