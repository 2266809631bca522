package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.config.{ColumnSpec, TableConfig}
import graft.streaming.Sync
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Snapshot and stream part files in one replica dir share one schema:
  * Spark takes a parquet dir's schema from one of its part files, so a
  * different column order per writer would make the read order depend on
  * which file it picked.
  */
class SnapshotStreamSchemaSpec extends SparkSpec {

  test("snapshot and stream part files list the same fields in the same order") {
    import spark.implicits._
    val config = TableConfig(
      name = "Doc",
      columns = Seq(
        ColumnSpec("K", Seq("int"), ref = Some("k"), primaryKey = true),
        ColumnSpec("V", Seq("float"), ref = Some("v"), default = Some(0.0))))
    val payloadSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    val walDir = tempDir("wal"); val tableDir = tempDir("tbl"); val colDir = tempDir("col")
    Files.write(walDir.resolve("wal-20-21.json"), java.util.Arrays.asList(
      """{"offset":20,"tick":"20","type":2300,"db":"d","cuid":"c1","tid":"t","data":"{\"k\": 4, \"v\": \"4.0\"}"}""",
      """{"offset":21,"tick":"21","type":2300,"db":"d","cuid":"c1","tid":"t","data":"{\"k\": 5, \"v\": \"5.0\"}"}"""))
    Seq((1L, "1.5"), (4L, "4.0")).toDF("k", "v")
      .write.mode("overwrite").parquet(colDir.toString)

    // snapshot, then one AvailableNow batch appended to the same dir
    val r = Sync.resync(spark,
      graft.sources.FileCollectionSource(colDir.toString, walDir.toString),
      config, payloadSchema, tableDir.toString, tempDir("ck").toString,
      collectionIds = Seq("c1"), clock = lit("2024-01-01").cast("timestamp"))
    r.query.awaitTermination()
    assert(r.snapshotRows === 2L)

    val parts = Files.list(tableDir).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    val schemas = parts.map(p => spark.read.parquet(p).schema.fieldNames.toSeq).distinct
    assert(parts.size >= 2, s"expected snapshot and stream files, got $parts")
    assert(schemas === Seq(Seq("offset", "_ver", "_deleted", "K", "V")))
  }
}
