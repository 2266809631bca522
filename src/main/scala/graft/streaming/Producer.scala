package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Producer-side operators: WAL entries -> keyed Kafka messages.
  *
  * Reference: `prepare_kafka_documents` shapes `{topic, key, value}` with
  * topic = collection name looked up from cuid, key = data._key, value =
  * whole entry (replication/producer/publisher.py:80-90); the cuid->name
  * map comes from the Arango catalog (publisher.py:49-51,72-77).
  */
object Producer {

  /** S5 + P3, literal-map form: the catalog is driver-known and tiny, so
    * the lookup compiles to a constant map expression evaluated in the
    * scan stage — zero shuffles, the Spark analogue of the reference's
    * per-record dict lookup.
    */
  def prepareKafkaMessages(wal: DataFrame, topicByCuid: Map[String, String]): DataFrame = {
    val mapping = map(topicByCuid.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    wal.select(
      // try_element_at: ANSI mode (the engine default) makes element_at
      // THROW on a missing key — one foreign-collection record would
      // kill the producer; unknown cuids resolve to a null topic here
      try_element_at(mapping, col("cuid")).as("topic"),
      get_json_object(col("data"), "$._key").as("key"),
      to_json(struct(wal.columns.map(col): _*)).as("value"))
      // ... and are then DROPPED: Spark's Kafka writer throws on a null
      // topic, so leaving them in would wedge the producer on the same
      // offset forever — the deterministic-poison failure try_element_at
      // exists to avoid. Skipping foreign collections is the reference's
      // own behavior (publisher.py only produces catalog collections).
      .filter(col("topic").isNotNull)
  }

  /** S5 + P3, catalog-table form: when the collection catalog is itself a
    * table (e.g. replicated), route via broadcast-hash join — the catalog
    * is dimension-sized at any scale factor.
    */
  def prepareKafkaMessagesWithCatalog(wal: DataFrame, catalog: DataFrame): DataFrame =
    wal.join(broadcast(catalog), wal("cuid") === catalog("cuid"), "left")
      .select(
        catalog("topic"),
        get_json_object(wal("data"), "$._key").as("key"),
        to_json(struct(wal.columns.map(wal(_)): _*)).as("value"))
      // same contract as the literal-map form: foreign-collection rows
      // (left-join miss -> null topic) are skipped, never sent to a
      // writer that throws on null topics
      .filter(col("topic").isNotNull)
}
