package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Streaming control-plane hooks, replacing the reference's Redis pub/sub
  * task manager + SMTP alerts + processed-count logs:
  *
  *  - V3 processed-count metrics (replication/replicator/store.py:61-91,
  *    consumer/loader.py:147-154): running totals per query from the
  *    `observe("cdc", ...)` metrics attached by [[CdcStream]];
  *  - E2 gap detection (publisher.py:140-141 "ticks lost"): a batch whose
  *    min observed offset skips past the previous max is reported via
  *    `onGap` — processing continues, matching the reference;
  *  - E3 failure alerting (alert/mailer.py:24-38): `onQueryTerminated`
  *    with an exception fires `onFailure` with the query's name (its id
  *    when it has none, or when the listener missed its start, since the
  *    terminated event carries no name); plug [[SmtpAlerter]] in for
  *    the actual mail hop (a dependency-free RFC 5321 client —
  *    SmtpAlerterSpec drives the whole chain from a real failing query
  *    through a real SMTP conversation).
  */
final class QueryMonitor(
    onGap: (String, Long, Long, QueryMonitor.GapKind) => Unit = (_, _, _, _) => (),
    onFailure: (String, String) => Unit = (_, _) => ())
  extends StreamingQueryListener {

  private val processed = new ConcurrentHashMap[String, Long]()
  private val lastMaxOffset = new ConcurrentHashMap[String, Long]()
  private val lastBatch = new ConcurrentHashMap[String, Long]()
  private val names = new ConcurrentHashMap[java.util.UUID, String]()

  /** Total rows observed for a query name so far (V3). */
  def processedCount(name: String): Long = processed.getOrDefault(name, 0L)

  override def onQueryStarted(event: QueryStartedEvent): Unit =
    names.put(event.runId, Option(event.name).getOrElse(event.id.toString))

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    val name = Option(p.name).getOrElse(p.id.toString)
    val obs = p.observedMetrics
    // multiple jobs in one foreachBatch re-report the same batch's
    // metrics — count each micro-batch exactly once. A batchId BELOW
    // the stored max means a NEW INCARNATION reused the name (a resync
    // restarts from a fresh checkpoint, so batchIds restart at 0) —
    // without the reset, metrics and gap alerts would silently stay
    // dark until the new incarnation out-counted the old one's batches.
    // The offset cursor resets with it: the new stream may legitimately
    // replay from an earlier tick, and a stale high-water mark would
    // mute real gaps for the whole rewound span.
    if (p.batchId < lastBatch.getOrDefault(name, -1L)) {
      lastBatch.remove(name)
      lastMaxOffset.remove(name)
    }
    val firstSeen = lastBatch.getOrDefault(name, -1L) < p.batchId
    lastBatch.merge(name, p.batchId, (a: Long, b: Long) => math.max(a, b))
    if (firstSeen) {
      if (obs.containsKey("cdc")) {
        val row = obs.get("cdc")
        val rows = if (row.isNullAt(0)) 0L else row.getLong(0)
        processed.merge(name, rows, (a: Long, b: Long) => a + b)
      }
      // offset ranges come from the PRE-FILTER "cdc_wal" observation
      // (min, max, count): filtered txn markers/foreign collections carry
      // offsets too — post-filter ranges fake gaps at batch boundaries
      Option(obs.get("cdc_wal")).foreach { row =>
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val minOff = row.getLong(0); val maxOff = row.getLong(1)
          val prev = lastMaxOffset.getOrDefault(name, Long.MinValue)
          // Boundary semantics: (previous batch's max, this batch's min) —
          // "asked for X but got Y"; log and continue
          if (prev != Long.MinValue && minOff > prev + 1)
            onGap(name, prev, minOff, QueryMonitor.BoundaryGap)
          // intra-batch density: min/max alone cannot witness a skip that
          // falls ENTIRELY inside one micro-batch (under AvailableNow the
          // whole backlog is often a single batch, muting the boundary
          // check above completely). The pre-filter WAL offsets are dense
          // and unique by the server contract, so fewer observed offsets
          // than the span covers means the server skipped ticks inside
          // this batch. Reported with RANGE semantics (span start, batch
          // max) and its own kind — without the kind a consumer cannot
          // tell it from a boundary gap whose arguments mean (prev, next),
          // and one batch can legitimately report both (ADVICE r13).
          // The span starts past the previous batch's max: an offset at or
          // below it is a redelivery, and stretching the span back over
          // already-delivered offsets would report a gap that is not there.
          // (A redelivered duplicate still inflates the count and could
          // mask an equal-sized skip in the SAME batch — observe() forbids
          // exact DISTINCT aggregates and approx_count_distinct's HLL error
          // would false-fire on dense batches, so the boundary check
          // remains the witness for any skip that crosses batches.)
          val lo = if (prev == Long.MinValue) minOff else math.max(minOff, prev + 1)
          if (row.getLong(2) < maxOff - lo + 1) onGap(name, lo, maxOff, QueryMonitor.DensityGap)
          lastMaxOffset.merge(name, maxOff, (a: Long, b: Long) => math.max(a, b))
        }
      }
    }
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = {
    val name = Option(names.remove(event.runId)).getOrElse(event.id.toString)
    event.exception.foreach(e => onFailure(name, e))
  }
}

object QueryMonitor {

  /** Which witness reported a gap — the two carry different argument
    * semantics: a [[BoundaryGap]]'s (lo, hi) are (previous batch's max
    * offset, this batch's min) and the skip lies strictly between them;
    * a [[DensityGap]]'s are (span start, batch max) and the skip lies
    * somewhere inside that span (the count of observed offsets fell
    * short of covering it). The span starts at the batch min, or just
    * past the previous batch's max when the batch redelivers offsets
    * at or below it.
    */
  sealed trait GapKind
  case object BoundaryGap extends GapKind
  case object DensityGap extends GapKind
}
