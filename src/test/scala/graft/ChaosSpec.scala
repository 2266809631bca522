package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One-shot task-failure fuse (VERDICT r11 #3): arm(k) makes the next k
  * FIRST-attempt tasks that evaluate a fused frame throw; retries
  * (attemptNumber > 0) always pass, so under `spark.task.maxFailures > 1`
  * the job survives exactly the way a production run survives a lost
  * executor's tasks. Statics are shared with the "executor" in local
  * mode, so `fired` counts real detonations for the assertions.
  */
object ChaosFuse {
  val armed = new AtomicInteger(0)
  val fired = new AtomicInteger(0)
  def arm(k: Int): Unit = { armed.set(k); fired.set(0) }
  def detonateMaybe(): Unit = {
    val tc = TaskContext.get()
    if (tc != null && tc.attemptNumber() == 0 && armed.getAndDecrement() > 0) {
      fired.incrementAndGet()
      throw new RuntimeException(
        s"chaos fuse: simulated task loss (partition ${tc.partitionId()})")
    }
  }
}

/** Executor-loss chaos gate (VERDICT r11 #3 / r12 #2): the durable
  * round-table machinery's fault-tolerance price is paid on every
  * cluster query — this spec proves the product it buys, with REAL task
  * retries, two ways:
  *
  *  1. a [[ChaosFuse]] in the input lineage fails first-attempt tasks
  *     (counted failures, survived only because maxFailures > 1);
  *  2. a listener fires `SparkContext.killTaskAttempt` at running tasks
  *     MID-fixpoint — the asynchronous preemption/loss shape, hitting
  *     whatever star-round or table-write stage happens to be running.
  *
  * Both runs must produce labels BIT-EQUAL to the uninterrupted run
  * (and a [[graft.operators.PersistedIndex]] build must land complete,
  * correct, and reusable after surviving its detonations).
  *
  * NOT a [[SparkSpec]]: `local[N]` hardcodes maxTaskFailures = 1 (the
  * `spark.task.maxFailures` conf is ignored by local masters), so the
  * suite stops the shared context, runs on `local[4, 2]`, and stops it
  * again at the end — suites execute sequentially in the forked test
  * JVM, so the next suite's getOrCreate lazily rebuilds the default.
  */
@graft.tags.Soak
class ChaosSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    GraftSession.builder("4")
      .master("local[4, 2]") // 2 = maxTaskFailures: first failure retries
      .getOrCreate()
  }

  override def afterAll(): Unit = try {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  } finally super.afterAll()

  private def fused(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    df.as[(Long, Long)].mapPartitions { it =>
      ChaosFuse.detonateMaybe(); it
    }.toDF(df.columns: _*)
  }

  /** A graph whose fixpoint takes several star rounds: three length-100
    * paths (component minima 0, 1000, 2000) — path graphs are the
    * worst case the O(log² n) bound exists for, and the multi-round
    * fixpoint gives the mid-run killer real stages to hit.
    */
  private def pathEdges = {
    val spans = Seq(0L, 1000L, 2000L)
    spans.map(base => spark.range(99).select(
        (col("id") + base).as("src"), (col("id") + base + 1).as("dst")))
      .reduce(_ unionByName _)
  }
  private def pathNodes = {
    val spans = Seq(0L, 1000L, 2000L)
    spans.map(base => spark.range(100).select((col("id") + base).as("id")))
      .reduce(_ unionByName _)
  }

  private def runCc(edges: org.apache.spark.sql.DataFrame, family: String)
      : Seq[(Long, Long)] =
    graft.operators.ConnectedComponents.run(pathNodes, edges,
        store = graft.operators.ConnectedComponents
          .freshTableRounds(spark, family))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq

  private def dropFamily(family: String): Unit =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(family + "_"))
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))

  test("CC fixpoint survives first-attempt task failures with bit-equal labels") {
    try {
      ChaosFuse.arm(0)
      val clean = runCc(pathEdges, "cc_chaos_c")
      ChaosFuse.arm(3)
      val chaotic = runCc(fused(pathEdges), "cc_chaos_f")
      assert(ChaosFuse.fired.get() >= 1,
        "the fuse never detonated — the chaos run was not chaotic")
      assert(chaotic === clean,
        "labels diverged after surviving real task failures")
      // sanity on the labels themselves: 3 components rooted at minima
      assert(clean.map(_._2).distinct.sorted === Seq(0L, 1000L, 2000L))
    } finally { dropFamily("cc_chaos_c"); dropFamily("cc_chaos_f") }
  }

  test("CC fixpoint survives killTaskAttempt mid-fixpoint with bit-equal labels") {
    val kills = new AtomicInteger(0)
    val killing = new AtomicBoolean(false)
    val stagesSeen = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
    val killer = new SparkListener {
      override def onTaskStart(t: SparkListenerTaskStart): Unit = {
        stagesSeen.put(t.stageId, true)
        // let the first stages (round-0 write) through, then shoot at
        // running tasks of the star-round/table-write stages until one
        // kill actually lands (a finished task returns false)
        if (stagesSeen.size > 2 && kills.get() < 2 && killing.compareAndSet(false, true)) {
          try {
            if (spark.sparkContext.killTaskAttempt(t.taskInfo.taskId, false,
                "chaos: simulated preemption"))
              kills.incrementAndGet()
          } catch { case _: Exception => () }
          finally killing.set(false)
        }
      }
    }
    try {
      ChaosFuse.arm(0)
      val clean = runCc(pathEdges, "cc_chaos_k0")
      spark.sparkContext.addSparkListener(killer)
      val chaotic = try runCc(pathEdges, "cc_chaos_k1")
        finally spark.sparkContext.removeSparkListener(killer)
      assert(kills.get() >= 1,
        "no kill landed mid-fixpoint — the chaos run was not chaotic " +
          s"(stages seen: ${stagesSeen.size})")
      assert(chaotic === clean,
        "labels diverged after a task was killed and rescheduled mid-fixpoint")
    } finally { dropFamily("cc_chaos_k0"); dropFamily("cc_chaos_k1") }
  }

  test("CDC replication survives first-attempt task failures: bit-equal view, exactly-once storage, clean ledger") {
    // VERDICT r13 #2: ChaosSpec proved CC fixpoints and index builds
    // survive real retries — but not the replication path whose
    // fault-tolerance story (at-least-once foreachBatch + idempotent
    // marker-ledger sink, the K2 exactly-once contract of the reference's
    // consumer/loader.py:147-157) is the engine's reason to exist. The
    // fuse sits in the WAL source lineage, so first-attempt tasks of each
    // micro-batch's jobs fail and the batch completes only via real
    // retries; the converged READ VIEW, the STORED row count (exactly-once
    // storage — a doubled append would collapse in the view but not on
    // disk) and the commit-marker ledger must all be bit-equal to the
    // clean run's.
    import java.nio.file.Files
    import graft.config.{ColumnSpec, TableConfig}
    import graft.streaming.CdcStream
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

    val config = TableConfig("Doc", Seq(
      ColumnSpec("K", Seq("int"), ref = Some("k"), primaryKey = true),
      ColumnSpec("V", Seq("float"), ref = Some("v"))))
    val payloadSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    def walLine(offset: Long, opType: Int, data: String): String =
      s"""{"offset":$offset,"tick":"$offset","type":$opType,"db":"d","cuid":"c1","tid":"t","data":${
        if (data == null) "null" else "\"" + data.replace("\"", "\\\"") + "\""}}"""
    val walDir = tempDir("chaoswal")
    // two chunks + maxChunksPerTrigger=1 -> two micro-batches, so the
    // ledger has real multi-batch structure to keep clean under chaos
    Files.write(walDir.resolve("wal-11-12.json"), String.join("\n",
      walLine(11, 2300, """{"k": 1, "v": "1.5"}"""),
      walLine(12, 2300, """{"k": 3, "v": "3.0"}""")).getBytes)
    Files.write(walDir.resolve("wal-21-22.json"), String.join("\n",
      walLine(21, 2302, """{"k": 3, "v": "3.0"}"""),
      walLine(22, 2300, """{"k": 1, "v": "1.9"}""")).getBytes)

    def run(withFuse: Boolean, tag: String)
        : (Seq[(Long, Double)], Long, Seq[String]) = {
      val root = tempDir(s"chaoscdc_$tag")
      val tableDir = root.resolve("t").toString
      val ckpt = root.resolve("ck").toString
      val wal0 = spark.readStream.format("graft.sources.WalSource")
        .option("maxChunksPerTrigger", "1").load(walDir.toString)
      val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
        .encoderFor(wal0.schema)
      val wal = if (withFuse)
        wal0.mapPartitions { it => ChaosFuse.detonateMaybe(); it }(enc)
      else wal0
      val q = CdcStream.startReplication(wal, config, payloadSchema,
        tableDir, ckpt, collectionIds = Seq("c1"),
        clock = lit("2024-01-01").cast("timestamp"))
      q.awaitTermination()
      val view = CdcStream.currentView(spark, tableDir, keys = Seq("K"))
        .select("K", "V").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      val stored = spark.read.parquet(tableDir).count()
      // filter out the local-FS .crc sidecars — the ledger is the
      // batch-* marker files themselves
      val markers = Option(new java.io.File(ckpt, "graft-sink-commits")
        .list()).map(_.toSeq.filter(_.startsWith("batch-")).sorted)
        .getOrElse(Nil)
      (view, stored, markers)
    }

    ChaosFuse.arm(0)
    val (cleanView, cleanStored, cleanMarkers) = run(withFuse = false, "clean")
    assert(cleanView === Seq((1L, 1.9)), "clean-run sanity: latest upsert wins, delete lands")
    assert(cleanMarkers.size === 2, s"expected one marker per micro-batch, got $cleanMarkers")
    ChaosFuse.arm(2)
    val (chaosView, chaosStored, chaosMarkers) = run(withFuse = true, "fused")
    assert(ChaosFuse.fired.get() >= 1,
      "the fuse never detonated inside the replication micro-batches")
    assert(chaosView === cleanView,
      "the replica read view diverged after surviving real task retries")
    assert(chaosStored === cleanStored,
      "stored row count diverged — a retried task double-appended " +
        "(exactly-once STORAGE broke, not just the read view)")
    assert(chaosMarkers === cleanMarkers,
      "the commit-marker ledger diverged under task retries")
  }

  test("PersistedIndex build survives task failures: complete, correct, reused") {
    val base = "graft_chaos_idx"
    val dir = "/root/testdata/sf0.001"
    try {
      ChaosFuse.arm(2)
      val built = graft.operators.PersistedIndex.ensure(
          spark, base, dir, Seq(s"$dir/documents.parquet"), "p=chaos") { t =>
        fused(spark.range(1000).select(col("id").as("src"), (col("id") * 7).as("dst")))
          .write.format("parquet").saveAsTable(t)
      }
      assert(ChaosFuse.fired.get() >= 1,
        "the fuse never detonated inside the build")
      assert(built.count() === 1000)
      assert(built.agg(sum(col("dst"))).head().getLong(0) === 7L * 999 * 1000 / 2,
        "the surviving build's contents are wrong")
      var rebuilt = false
      graft.operators.PersistedIndex.ensure(
          spark, base, dir, Seq(s"$dir/documents.parquet"), "p=chaos") { _ =>
        rebuilt = true
      }
      assert(!rebuilt,
        "a build that survived task failures was not reused — its " +
          "completion marker must have been lost")
    } finally graft.operators.PersistedIndex.dropAll(spark, base)
  }

  test("Spread.reuse above the gate keeps recomputable lineage; below it checkpoints") {
    val dir = "/root/testdata/sf0.001"
    val path = s"$dir/documents.parquet"
    // ABOVE the gate (force it closed): the helper must return the frame
    // UNCHANGED — full lineage, so a first-attempt task loss in the
    // upstream recomputes and the query survives (the very property a
    // corpus-scale localCheckpoint would forfeit: its blocks are
    // executor-local with truncated lineage)
    spark.conf.set("graft.reuse.maxSourceBytes", "0")
    try {
      val above = graft.operators.Spread.reuse(spark,
        fused(spark.range(500).select(col("id").as("src"), (col("id") * 3).as("dst"))),
        path)
      assert(above.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l
      }.isEmpty, "above the gate the plan must keep the original lineage")
      ChaosFuse.arm(2)
      assert(above.count() === 500,
        "above-gate frame must survive task loss by lineage recompute")
      assert(ChaosFuse.fired.get() >= 1, "the fuse never detonated")
    } finally spark.conf.unset("graft.reuse.maxSourceBytes")
    // BELOW the gate (default 1 GiB >> the fixture): a lazy
    // localCheckpoint — the returned plan roots at an RDD scan
    val below = graft.operators.Spread.reuse(spark,
      spark.range(500).select(col("id").as("src"), (col("id") * 3).as("dst")),
      path)
    assert(below.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }.nonEmpty, "below the gate the frame must be locally checkpointed")
    assert(below.count() === 500)
  }
}
