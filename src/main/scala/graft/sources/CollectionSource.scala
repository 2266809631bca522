package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The transport seam promised in SURVEY §7.1: everything a replicated
  * collection's edge must provide, so the operator/orchestration layer
  * ([[graft.streaming.Sync]], [[graft.streaming.CdcStream]]) never touches
  * a concrete store. A live ArangoDB implementation (reference
  * arangodb/connect.py:28-63 for the scan, arangodb/wal.py for the tail)
  * plugs in here without changing any operator code; this environment has
  * no live Arango, so the shipped implementation is the file transport
  * the whole test suite runs on.
  */
trait CollectionSource {

  /** Full current state of the collection — the resync scan
    * (reference replication/replicator/store.py:61-83).
    */
  def snapshot(spark: SparkSession): DataFrame

  /** Streaming envelope frame of the collection's change log, in the
    * `{tick, type, db, cuid, tid, data, offset}` contract
    * ([[WalSource.schema]]).
    */
  def changes(spark: SparkSession): DataFrame

  /** The change log's cursor at call time — `wal.get_last_tick()`
    * (reference store.py:53-58). Read BEFORE the snapshot scan.
    */
  def currentTick(spark: SparkSession): Long
}

/** File transport: a parquet collection dir + a directory of tick-named
  * WAL chunks served by the [[WalSource]] DataSource V2 connector.
  */
final case class FileCollectionSource(collectionPath: String, walDir: String)
  extends CollectionSource {

  override def snapshot(spark: SparkSession): DataFrame =
    spark.read.parquet(collectionPath)

  override def changes(spark: SparkSession): DataFrame =
    spark.readStream.format("graft.sources.WalSource").load(walDir)

  override def currentTick(spark: SparkSession): Long =
    graft.streaming.Sync.currentTick(spark, walDir)
}
