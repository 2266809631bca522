package graft.sources

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 batch connector for WAL change-log directories — the
  * engine's native form of the reference's WAL tail with a tick cursor
  * (replication/producer/reader.py:62-70: `wal.tail(lower=tick_start)`).
  *
  * Layout contract: a directory of JSON-lines chunks named
  * `wal-<firstTick>-<lastTick>.json` (the producer names chunks by the
  * tick range they contain — the reference's WAL is likewise
  * tick-ordered on disk).
  *
  * The scan implements filter pushdown on `tick`: a `tick >= T` / `tick
  * > T` predicate prunes whole chunks by their filename range BEFORE any
  * bytes are read — the DSv2 analogue of resuming the WAL tail from the
  * stored cursor, and the same skip-by-metadata mechanic as parquet
  * min/max pruning. At 100 TB of retained log, resuming from yesterday's
  * tick reads yesterday's chunks, not the archive.
  *
  * Usage: `spark.read.format("graft.sources.WalSource").load(dir)`
  * (or with `.option("path", dir)`); one partition per chunk file.
  * Streaming reads accept `.option("maxChunksPerTrigger", n)` — admission
  * control bounding each micro-batch to n chunks, so a catch-up replay
  * over a long retained log proceeds in bounded batches instead of one
  * giant one (AvailableNow honors the limit across multiple batches).
  */
class WalSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WalSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new WalTable(Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graft WAL source requires a path")))
}

object WalSource {
  /** Envelope + offset, `data` as raw JSON string (payload schemas are
    * config-driven downstream — SURVEY §1.1).
    */
  val schema: StructType = StructType(Seq(
    StructField("tick", LongType),
    StructField("type", IntegerType),
    StructField("db", StringType),
    StructField("cuid", StringType),
    StructField("tid", StringType),
    StructField("data", StringType),
    StructField("offset", LongType)))

  private val ChunkName = """wal-(\d+)-(\d+)\.json""".r

  /** (firstTick, lastTick) parsed from a chunk filename; None = not a
    * WAL chunk (ignored).
    */
  def tickRange(name: String): Option[(Long, Long)] = name match {
    case ChunkName(lo, hi) => Some((lo.toLong, hi.toLong))
    case _                 => None
  }

  /** The chunks in WAL directory `dir` as (firstTick, lastTick, path),
    * sorted by lastTick; empty when the directory is absent.
    */
  def chunks(dir: String, conf: org.apache.hadoop.conf.Configuration): Seq[(Long, Long, String)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .flatMap(st => tickRange(st.getPath.getName)
        .map { case (lo, hi) => (lo, hi, st.getPath.toString) })
      .sortBy(_._2)
  }

  /** The SparkContext's Hadoop conf as one broadcast for a scan's
    * readers (what Spark's own file scans ship).
    */
  private[sources] def broadcastConf(sc: SparkContext): Broadcast[SerializableConfiguration] =
    sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
}

private class WalTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft_wal($path)"
  override def schema(): StructType = WalSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WalScanBuilder(path,
      Option(options.get("maxChunksPerTrigger")).map { raw =>
        // validate at option-parse time (as the Kafka/file sources do):
        // 0/negative would silently pin the offset forever — an
        // AvailableNow run "completes" having drained nothing
        val n = raw.toIntOption.getOrElse(throw new IllegalArgumentException(
          s"maxChunksPerTrigger must be a positive integer, got '$raw'"))
        require(n > 0, s"maxChunksPerTrigger must be positive, got $n")
        n
      })
}

private class WalScanBuilder(path: String, maxChunksPerTrigger: Option[Int])
  extends ScanBuilder with SupportsPushDownFilters {

  private var minTick: Long = Long.MinValue
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case GreaterThanOrEqual("tick", _: java.lang.Long) => true
      case GreaterThan("tick", _: java.lang.Long)        => true
      case _                                             => false
    }
    accepted.foreach {
      case GreaterThanOrEqual("tick", v: java.lang.Long) =>
        minTick = math.max(minTick, v.longValue)
      case GreaterThan("tick", v: java.lang.Long) =>
        minTick = math.max(minTick, v.longValue + 1)
      case _ => ()
    }
    pushed = accepted
    // tick is numeric end-to-end (schema LongType), so the file-range
    // prune and Spark's residual evaluation share one ordering; the
    // residual is still re-applied for in-chunk precision
    rejected ++ accepted
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new WalScan(path, minTick, maxChunksPerTrigger)
}

private class WalScan(path: String, minTick: Long,
    maxChunksPerTrigger: Option[Int]) extends Scan with Batch {
  override def readSchema(): StructType = WalSource.schema
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new WalMicroBatchStream(path, minTick, maxChunksPerTrigger)
  override def description(): String =
    s"graft WAL scan, minTick=${if (minTick == Long.MinValue) "none" else minTick}"

  // captured where the scan is planned: executors have NO SparkContext;
  // getOrCreate() there would try to construct one and fail on a real
  // cluster
  private val sc = org.apache.spark.sql.SparkSession.active.sparkContext

  // lazy: a scan built only to become a stream never broadcasts its own
  private lazy val hadoopConf = WalSource.broadcastConf(sc)

  override def planInputPartitions(): Array[InputPartition] =
    WalSource.chunks(path, sc.hadoopConfiguration).collect {
      // the pushed cursor prunes whole chunks by filename range
      case (_, hi, file) if hi >= minTick => WalChunkPartition(file)
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new WalReaderFactory(hadoopConf)
}

/** Streaming offset: the highest chunk lastTick fully consumed — the
  * engine-native form of the reference's Redis `last-tick` cursor
  * (replication/producer/publisher.py:24-46). Chunks are the atomic unit
  * (the WAL producer names them by contained tick range), so a chunk is
  * in batch (start, end] iff start < lastTick <= end.
  */
private case class WalOffset(tick: Long) extends Offset {
  override def json(): String = tick.toString
}

/** Micro-batch WAL tail: resumable, checkpointed, chunk-granular.
  * `latestOffset` discovers new chunks by listing; AvailableNow snapshots
  * the latest offset up front (SupportsTriggerAvailableNow) so a run
  * drains exactly the chunks present when it started.
  */
private class WalMicroBatchStream(path: String, minTick: Long,
    maxChunksPerTrigger: Option[Int])
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val sc = org.apache.spark.sql.SparkSession.active.sparkContext

  // one broadcast for the stream's lifetime, shared by every batch's tasks
  private val conf = WalSource.broadcastConf(sc)

  private def chunks(): Seq[(Long, Long, String)] = WalSource.chunks(path, sc.hadoopConfiguration)

  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(chunks().lastOption.map(_._2).getOrElse(initialTick))

  private def initialTick: Long = if (minTick == Long.MinValue) 0L else minTick - 1

  override def initialOffset(): Offset = WalOffset(initialTick)

  override def latestOffset(): Offset =
    WalOffset(availableNowCap.getOrElse(chunks().lastOption.map(_._2).getOrElse(initialTick)))

  // Admission control (SupportsTriggerAvailableNow extends
  // SupportsAdmissionControl): `maxChunksPerTrigger` bounds each
  // micro-batch to N chunks — the knob that keeps a catch-up replay over
  // months of retained log from planning one giant batch (memory, skew,
  // checkpoint-commit latency all scale with batch size). AvailableNow
  // honors the limit by running MULTIPLE batches up to the prepared cap.
  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.ReadMaxFiles
    val startTick = start.asInstanceOf[WalOffset].tick
    val pending = chunks()
      .filter(_._2 > startTick)
      .filter(c => availableNowCap.forall(c._2 <= _))
    val taken = limit match {
      case mf: ReadMaxFiles => pending.take(mf.maxFiles())
      case _                => pending
    }
    WalOffset(taken.lastOption.map(_._2).getOrElse(startTick))
  }

  override def getDefaultReadLimit: org.apache.spark.sql.connector.read.streaming.ReadLimit =
    maxChunksPerTrigger
      .map(org.apache.spark.sql.connector.read.streaming.ReadLimit.maxFiles)
      .getOrElse(org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())

  override def deserializeOffset(json: String): Offset = WalOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[WalOffset].tick
    val hi = end.asInstanceOf[WalOffset].tick
    chunks().collect {
      case (_, last, file) if last > lo && last <= hi => WalChunkPartition(file)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new WalReaderFactory(conf)

  override def commit(end: Offset): Unit = () // checkpoint log is the record
  override def stop(): Unit = conf.destroy()
}

private case class WalChunkPartition(file: String) extends InputPartition

/** Ships only the broadcast's handle: each executor fetches the conf once,
  * instead of every task binary carrying and deserializing all of it.
  */
private class WalReaderFactory(conf: Broadcast[SerializableConfiguration])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WalChunkReader(partition.asInstanceOf[WalChunkPartition].file, conf.value.value)
}

/** Reads one JSON-lines chunk; Jackson streaming parse per line (no
  * per-row DataFrame machinery), emitting InternalRows directly. A chunk
  * is bounded by the pump's `maxPerChunk`, so it is read whole and each
  * line's bytes go straight to Jackson: there is no charset decoder in
  * front of the `try`, so invalid UTF-8 is one more unparseable line.
  */
private class WalChunkReader(file: String, conf: org.apache.hadoop.conf.Configuration)
  extends PartitionReader[InternalRow] {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val bytes = {
    val path = new Path(file)
    val in = path.getFileSystem(conf).open(path)
    try in.readAllBytes() finally in.close()
  }
  private var pos = 0
  private var current: InternalRow = _
  private var skipped = 0L

  override def next(): Boolean = {
    while (pos < bytes.length) {
      var start = pos
      var end = start
      while (end < bytes.length && bytes(end) != '\n' && bytes(end) != '\r') end += 1
      pos = end + 1
      while (start < end && bytes(start) >= 0 && bytes(start) <= ' ') start += 1
      if (start < end) {
        // a torn/corrupt line must not fail the task: every retry would
        // hit the same bytes and the streaming query would crash-loop at
        // the same checkpoint offset FOREVER — the poison-line livelock
        // the HTTP tail and the pump are already hardened against. The
        // pump's atomic-rename contract means chunks are never half-
        // written, so an unparseable line (bad JSON, bad UTF-8, a bad
        // tick) is external corruption: skip it (counted, reported once
        // per chunk on close) and keep the stream alive.
        try {
          val n = mapper.readTree(bytes, start, end - start)
          def str(f: String): UTF8String =
            if (n.hasNonNull(f)) UTF8String.fromString(
              if (n.get(f).isTextual) n.get(f).asText else n.get(f).toString)
            else null
          val tick =
            if (!n.hasNonNull("tick")) null
            else if (n.get("tick").isTextual) java.lang.Long.valueOf(n.get("tick").asText.toLong)
            else java.lang.Long.valueOf(n.get("tick").asLong)
          current = InternalRow(
            tick,
            if (n.hasNonNull("type")) n.get("type").asInt else null,
            str("db"), str("cuid"), str("tid"), str("data"),
            if (n.hasNonNull("offset")) n.get("offset").asLong else null)
          return true
        } catch {
          // JacksonException is an IOException; so is the
          // CharConversionException its encoding detection can raise
          case _: java.io.IOException | _: NumberFormatException => skipped += 1
        }
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = {
    if (skipped > 0)
      System.err.println(
        s"[wal-source] $file: skipped $skipped unparseable line(s)")
  }
}
