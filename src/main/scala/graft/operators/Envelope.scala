package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CDC envelope handling: the stream-side filters and system columns the
  * reference's consumer applies to WAL entries before the schema
  * transform (the entry schema itself is [[graft.sources.WalSource]]'s).
  *
  * Reference:
  *  - WAL entry shape `{tick, type, cuid, db, tid, data}`
  *    (replication/producer/reader.py:62-70, test/test_consumer.py:8-26)
  *  - op-type + collection filter F1 (replication/producer/publisher.py:54-67)
  *  - tombstone filter F2 (replication/consumer/loader.py:52-53)
  *  - tick high-pass filter F3 (replication/consumer/loader.py:56-61)
  *  - `_ver`/`_deleted` synthesis P2 (replication/consumer/loader.py:64-79)
  *
  * All filters are plain Catalyst predicates, so they push down to the
  * source scan; nothing here shuffles.
  */
object Envelope {

  /** ArangoDB WAL op codes (reference: replication/producer/reader.py:9-14). */
  val OpUpsert = 2300
  val OpRemove = 2302

  /** F1: keep only upsert/remove ops on the synced collections; txn markers
    * and foreign collections drop out. Runs source-side (pre-shuffle), the
    * Spark analogue of the reference filtering before Kafka publish.
    */
  def opFilter(df: DataFrame, collectionIds: Seq[String]): DataFrame = {
    val ops = df.filter(col("type").isin(OpUpsert, OpRemove))
    if (collectionIds.isEmpty) ops
    else ops.filter(col("cuid").isin(collectionIds: _*))
  }

  /** F2: drop Kafka compaction tombstones (null value). */
  def tombstoneFilter(df: DataFrame, valueCol: String = "value"): DataFrame =
    df.filter(col(valueCol).isNotNull)

  /** F3: after a snapshot, drop CDC events older than the snapshot tick —
    * the reference's only late-data mechanism. Ticks compare numerically.
    */
  def tickHighPass(df: DataFrame, initialTick: Option[Long], tickCol: String = "tick"): DataFrame =
    initialTick match {
      case Some(t) => df.filter(col(tickCol).cast(LongType) >= t)
      case None    => df
    }

  /** P2: synthesize the version column. The reference concatenates the UTC
    * year+day-of-year with the Kafka offset and parses the result as an
    * integer (replication/consumer/loader.py:76:
    * `int(utcnow.strftime('%Y%j') + str(offset))`) — monotone per partition
    * across resyncs. The formula is load-bearing for version ordering, so
    * it is reproduced exactly; the clock is injectable for determinism.
    *
    * The day is rendered in UTC EXPLICITLY (convert_timezone to an NTZ
    * wall clock, then format the wall fields): `date_format` alone
    * renders in the SESSION timezone, so a consumer whose session isn't
    * pinned to UTC would — for the hours around each UTC midnight —
    * synthesize versions that diverge from the reference's `utcnow`
    * formula and pick different winners on replay. The operator must
    * not depend on a conf set elsewhere.
    */
  def verExpr(offset: Column, clock: Column = current_timestamp()): Column =
    concat(
      date_format(convert_timezone(lit("UTC"), clock), "yyyyDDD"),
      offset.cast(StringType)).cast(LongType)

  /** P2: `_deleted = (type == REMOVE)` (loader.py:77). Stored as int 0/1 to
    * match the reference's UInt8 column.
    */
  def deletedExpr(opType: Column): Column =
    (opType === OpRemove).cast(IntegerType)

  /** Full consumer-side envelope processing: tombstone filter, tick
    * high-pass, flatten `data`, add `_ver`/`_deleted`. Mirrors
    * `pre_process_documents` (loader.py:64-79). `df` must carry `offset`,
    * `tick`, `type` and a JSON-string `data` column; `dataSchema` is the
    * (possibly partial) payload schema to surface.
    */
  def preProcess(
      df: DataFrame,
      dataSchema: StructType,
      initialTick: Option[Long] = None,
      clock: Column = current_timestamp()): DataFrame = {
    // the flattened output reserves these names (offset is load-bearing
    // for the sink's keep-list and the gap metrics; _ver/_deleted are
    // the versioning law): a payload field by the same name would emit
    // a DUPLICATE column and every downstream col("offset") would die
    // with AMBIGUOUS_REFERENCE mid-stream — reject the config loudly at
    // build time instead (ConfigYaml filters _ver/_deleted already;
    // offset slipped through)
    val reserved = Set("offset", "_ver", "_deleted")
    val clash = dataSchema.fieldNames.filter(f =>
      reserved.contains(f.toLowerCase(java.util.Locale.ROOT)))
    require(clash.isEmpty,
      s"payload schema fields ${clash.mkString(", ")} collide with the " +
        "envelope's reserved output columns (offset, _ver, _deleted) — " +
        "rename them in the table config's source mapping")
    val alive = tickHighPass(tombstoneFilter(df, "data"), initialTick)
    alive
      .withColumn("_doc", from_json(col("data"), dataSchema))
      .select(
        (col("offset") +: dataSchema.fieldNames.toSeq.map(f => col(s"_doc.$f").as(f))) :+
          verExpr(col("offset"), clock).as("_ver") :+
          deletedExpr(col("type")).as("_deleted"): _*)
  }
}
