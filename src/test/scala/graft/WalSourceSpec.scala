package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** DataSource V2 WAL connector: schema, values, and — the point — chunk
  * pruning from a pushed tick cursor.
  */
class WalSourceSpec extends SparkSpec {

  private def writeChunks(): java.nio.file.Path = {
    val dir = tempDir("walsrc")
    Files.write(dir.resolve("wal-100-199.json"), java.util.Arrays.asList(
      """{"tick":"100","type":2300,"db":"d","cuid":"c1","tid":"t","data":"{\"k\":1}","offset":100}""",
      """{"tick":"150","type":2302,"db":"d","cuid":"c1","tid":"t","data":"{\"k\":2}","offset":150}"""))
    Files.write(dir.resolve("wal-200-299.json"), java.util.Arrays.asList(
      """{"tick":"250","type":2300,"db":"d","cuid":"c2","tid":"t","data":"{\"k\":3}","offset":250}"""))
    Files.write(dir.resolve("wal-300-399.json"), java.util.Arrays.asList(
      """{"tick":"350","type":2300,"db":"d","cuid":"c1","tid":"t","data":null,"offset":350}"""))
    Files.write(dir.resolve("not-a-chunk.txt"), java.util.Arrays.asList("ignore me"))
    dir
  }

  test("reads all chunks with envelope schema and values") {
    val dir = writeChunks()
    val df = spark.read.format("graft.sources.WalSource").load(dir.toString)
    assert(df.schema.fieldNames.toSeq ===
      Seq("tick", "type", "db", "cuid", "tid", "data", "offset"))
    val rows = df.orderBy("offset")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3), r.getString(5)))
    assert(rows.toSeq === Seq(
      (100L, 2300, "c1", """{"k":1}"""),
      (150L, 2302, "c1", """{"k":2}"""),
      (250L, 2300, "c2", """{"k":3}"""),
      (350L, 2300, "c1", null)))
  }

  test("the reader factory carries the Hadoop conf as a broadcast handle") {
    val df = spark.read.format("graft.sources.WalSource").load(writeChunks().toString)
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail(s"no batch scan in:\n${df.queryExecution.executedPlan}"))
    // the factory is serialized into every task: an inline Hadoop conf
    // (~1,000 keys) made it ~100 KB
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    try out.writeObject(scan.batch.createReaderFactory()) finally out.close()
    assert(bytes.size < 4096, s"reader factory serializes to ${bytes.size} bytes")
    assert(df.count() === 4)
  }

  test("tick cursor prunes whole chunks before reading") {
    val dir = writeChunks()
    val df = spark.read.format("graft.sources.WalSource").load(dir.toString)
      .filter(col("tick") >= 200)
    // physical plan shows the pruned scan
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("minTick=200"), s"pushdown missing from plan:\n$scan")
    // only chunks 200-299 and 300-399 are planned (2 partitions)
    assert(df.rdd.getNumPartitions === 2)
    assert(df.count() === 2)
    // exclusive bound rounds up
    val df2 = spark.read.format("graft.sources.WalSource").load(dir.toString)
      .filter(col("tick") > 199)
    assert(df2.rdd.getNumPartitions === 2)
    // numeric semantics end-to-end: 95 >= 200 is false BOTH in the prune
    // and in the residual (the string form would keep "95" >= "200"
    // lexicographically... or worse, prune what the residual keeps)
    assert(spark.read.format("graft.sources.WalSource").load(dir.toString)
      .filter(col("tick") >= 151).count() === 2)
  }

  test("Envelope.tickHighPass pushes its cursor into the connector") {
    val dir = writeChunks()
    val wal = spark.read.format("graft.sources.WalSource").load(dir.toString)
    val resumed = graft.operators.Envelope.tickHighPass(wal, Some(200L))
    val scan = resumed.queryExecution.executedPlan.toString
    assert(scan.contains("minTick=200"),
      s"resume cursor did not reach the source:\n$scan")
  }

  test("micro-batch stream: chunk-granular offsets, checkpoint resume") {
    val dir = writeChunks()
    val ckpt = tempDir("walck")
    val out = tempDir("walout").resolve("t").toString

    def drain(): Long = {
      // parquet sink: memory sink does not support checkpoint recovery
      val q = spark.readStream.format("graft.sources.WalSource").load(dir.toString)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out).count()
    }

    assert(drain() === 4) // all four rows across the three chunks
    // nothing new -> resume reads nothing (offset already at last chunk)
    assert(drain() === 4)
    // a new chunk arrives; resume reads ONLY it
    Files.write(dir.resolve("wal-400-499.json"), java.util.Arrays.asList(
      """{"tick":"410","type":2300,"db":"d","cuid":"c1","tid":"t","data":"{\"k\":9}","offset":410}"""))
    assert(drain() === 5)
    val ticks = spark.read.parquet(out).select("tick")
      .collect().map(_.getLong(0)).sorted
    assert(ticks.toSeq === Seq(100L, 150L, 250L, 350L, 410L))
  }

  test("maxChunksPerTrigger bounds each micro-batch; AvailableNow still drains all") {
    val dir = writeChunks()
    val ckpt = tempDir("walck2")
    var batches = 0
    val q = spark.readStream.format("graft.sources.WalSource")
      .option("maxChunksPerTrigger", "1")
      .load(dir.toString)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (b.count() > 0) batches += 1; ()
      }
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // three chunks -> three rate-limited one-chunk batches, not one big one
    assert(batches === 3)
    val progressed = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(progressed.forall(_ <= 2), s"a batch exceeded one chunk: ${progressed.mkString(",")}")
  }

  test("composes with the envelope pipeline") {
    import org.apache.spark.sql.types._
    val dir = writeChunks()
    val wal = spark.read.format("graft.sources.WalSource").load(dir.toString)
    val out = graft.streaming.CdcStream.pipeline(
      wal,
      payloadSchema = StructType(Seq(StructField("k", LongType))),
      collectionIds = Seq("c1"),
      clock = lit("2024-01-01").cast("timestamp"))
    // c2 filtered (F1), null data tombstone filtered (F2) -> offsets 100,150
    assert(out.select("offset").orderBy("offset").collect().map(_.getLong(0)).toSeq ===
      Seq(100L, 150L))
  }

  test("malformed JSON and invalid UTF-8 lines are skipped, not fatal") {
    // invalid UTF-8 must reach the per-line skip: failing the task
    // instead would fail every retry on the same bytes
    val dir = tempDir("walbad")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val out = new java.io.ByteArrayOutputStream()
    out.write(("""{"tick":"100","type":2300,"db":"d","cuid":"c1","tid":"t","data":"{\"k\":1}","offset":100}""" +
      "\n" + """{"tick":"110","type":2300,"db""" + "\n").getBytes(utf8))
    out.write("""{"tick":"120","type":2300,"db":"d","cuid":"c1","tid":"t","data":"""".getBytes(utf8))
    out.write(Array(0xff, 0xfe).map(_.toByte))
    out.write(("\",\"offset\":120}\n" +
      """{"tick":"130","type":2300,"db":"d","cuid":"c1","tid":"t","data":"{\"k\":3}","offset":130}""" +
      "\n").getBytes(utf8))
    Files.write(dir.resolve("wal-100-199.json"), out.toByteArray)
    val rows = spark.read.format("graft.sources.WalSource").load(dir.toString)
      .orderBy("offset").collect().map(r => (r.getLong(6), r.getString(5)))
    assert(rows.toSeq === Seq((100L, """{"k":1}"""), (130L, """{"k":3}""")))
  }
}
