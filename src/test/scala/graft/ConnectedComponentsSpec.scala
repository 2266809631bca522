package graft

import graft.operators.ConnectedComponents
import graft.operators.ConnectedComponents.TableRounds
import org.apache.spark.sql.functions._

/** Two-phase (large-star/small-star) connected components: multi-hop
  * convergence, adversarial diameters, isolated nodes, edge orientation/
  * duplicates, agreement with a driver-side union-find, the durable
  * table-backed round store, and the loud non-convergence guard.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def labelsOf(nodes: Seq[Long], edges: Seq[(Long, Long)],
      maxIters: Int = 50,
      store: ConnectedComponents.RoundStore = ConnectedComponents.CheckpointRounds): Map[Long, Long] =
    ConnectedComponents.run(
        nodes.toDF("id"), edges.toDF("src", "dst"), maxIters, store)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Reference implementation: driver-side union-find. */
  private def unionFind(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    nodes.map(n => n -> find(n)).toMap
  }

  test("path graph converges to the min at the far end") {
    // worst-case orientation: the min id sits at the far end of a chain
    val got = labelsOf(
      nodes = Seq(0L, 1L, 2L, 3L, 4L, 5L),
      edges = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (1L, 0L)))
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 0L))
  }

  test("adversarial diameter: a 200-hop path converges in far fewer rounds than hops") {
    // plain min-label propagation would need 200 rounds (> maxIters);
    // the star alternation is O(log² n) regardless of diameter
    val n = 201L
    val nodes = (0L until n)
    val edges = (1L until n).map(i => (i, i - 1))
    val got = labelsOf(nodes, edges, maxIters = 15)
    assert(got.values.toSet === Set(0L))
  }

  test("separate components keep separate minima; isolated nodes self-label") {
    val got = labelsOf(
      nodes = Seq(10L, 11L, 12L, 13L, 20L),
      edges = Seq((11L, 10L), (13L, 12L), (12L, 13L))) // dup + both orientations
    assert(got === Map(10L -> 10L, 11L -> 10L, 12L -> 12L, 13L -> 12L, 20L -> 20L))
  }

  test("star unions merge transitively across shared members") {
    // bucket A = {1,2,3} starred to 1; bucket B = {3,4,5} starred to 3:
    // one component rooted at 1 even though 4 and 5 never saw bucket A
    val got = labelsOf(
      nodes = Seq(1L, 2L, 3L, 4L, 5L),
      edges = Seq((2L, 1L), (3L, 1L), (4L, 3L), (5L, 3L)))
    assert(got.values.toSet === Set(1L))
  }

  test("random graphs agree with a driver-side union-find") {
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val nodes = (0L until 60L)
      val edges = Seq.fill(70)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter { case (a, b) => a != b }
      assert(labelsOf(nodes, edges) === unionFind(nodes, edges))
    }
  }

  test("durable table-backed rounds produce the same labels and survive in the catalog") {
    val nodes = (0L until 30L)
    val edges = (1L until 30L).map(i => (i, i - 1)) // one long chain
    try {
      val got = labelsOf(nodes, edges, store = TableRounds(spark, "cc_spec"))
      assert(got.values.toSet === Set(0L))
      // the final round's edges live in a catalog table (durable lineage
      // root), not an executor-local checkpoint block
      val gens = Seq("cc_spec_0", "cc_spec_1").filter(spark.catalog.tableExists)
      assert(gens.nonEmpty, "at least the final-round generation table must exist")
    } finally Seq("cc_spec_0", "cc_spec_1")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("windowed star rounds match the SoCC'14 definitions on random edge sets") {
    // r15 rewrote largeStar/smallStar from groupBy+join-back to a
    // single-exchange window MIN; this pins the per-round SET semantics
    // against direct driver-side evaluations of the paper's definitions
    def refLarge(edges: Set[(Long, Long)]): Set[(Long, Long)] = {
      val sym = edges ++ edges.map(_.swap)
      val nbrs = sym.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
      sym.collect { case (u, v) if v > u => (v, (nbrs(u) + u).min) }.toSet
    }
    def refSmall(edges: Set[(Long, Long)]): Set[(Long, Long)] = {
      val nbrs = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
      nbrs.iterator.flatMap { case (u, smaller) =>
        val m = smaller.min
        (smaller - m).map(v => (v, m)) + ((u, m))
      }.filter { case (a, b) => a != b }.toSet
    }
    val rnd = new scala.util.Random(99)
    (1 to 3).foreach { _ =>
      val edges = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (a max b, a min b) }.toSet // oriented src > dst
      val eDf = edges.toSeq.toDF("src", "dst")
      val gotLarge = graft.operators.ConnectedComponents.largeStar(eDf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotLarge === refLarge(edges), "largeStar diverged from the paper")
      val gotSmall = graft.operators.ConnectedComponents.smallStar(eDf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotSmall === refSmall(edges), "smallStar diverged from the paper")
    }
  }

  test("a fused star round plans exactly three exchanges") {
    val e = (1L until 500L).map(i => (i, i / 3)).toDF("src", "dst")
      .where(col("src") =!= col("dst"))
    val round = ConnectedComponents.starRound(e)
    assert(ShuffleGolden.count(round.queryExecution.executedPlan) === 3,
      round.queryExecution.executedPlan.toString)
  }

  test("putCounted folds the round stats into the durable write") {
    val store = TableRounds(spark, "cc_obs")
    // jobs started by `f`, counted by a listener drained after it returns
    def jobsOf(f: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try { f; org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(l)
      jobs.get()
    }
    try {
      val df = (0L until 257L).map(i => (i + 1, i)).toDF("src", "dst")
      // the stats ride the write itself: no job beyond a bare put's (the
      // stat-job fallback would add at least one)
      val putJobs = jobsOf(store.put(df, 1))
      var counted: (org.apache.spark.sql.DataFrame, Long, Long) = null
      val countedJobs = jobsOf { counted = store.putCounted(df, 0) }
      assert(countedJobs <= putJobs,
        s"putCounted ran $countedJobs jobs, a bare put $putJobs")
      val (out, n, sig) = counted
      assert(n === 257L, "observed count wrong")
      assert(out.count() === 257L)
      assert(spark.catalog.tableExists("cc_obs_0"))
      // the signature is deterministic: a permuted write of the SAME set
      // observes the same xor; a different set observes a different one
      val (_, n2, sig2) = store.putCounted(
        df.orderBy(col("src").desc).repartition(7), 1)
      assert(n2 === 257L)
      assert(sig2 === sig, "set signature must be order/partitioning independent")
      val (_, _, sig3) = store.putCounted(
        df.withColumn("dst", col("dst") + 1), 0)
      assert(sig3 !== sig, "a changed edge set must change the signature")
    } finally Seq("cc_obs_0", "cc_obs_1")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("a counted write whose observation misses the bound returns the exact counts") {
    val store = TableRounds(spark, "cc_fallback")
    val df = (0L until 257L).map(i => (i + 1, i)).toDF("src", "dst")
    val metrics = Seq(count(lit(1)).as("rows"),
      bit_xor(xxhash64(col("src"), col("dst"))).as("sig"))
    val expected = df.agg(metrics.head, metrics.tail: _*).head()
    // hold the shared listener queue at the write's job end: the
    // observation is delivered on that queue, so it cannot arrive before
    // the zero bound has expired
    val release = new java.util.concurrent.CountDownLatch(1)
    val stall = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        release.await(30, java.util.concurrent.TimeUnit.SECONDS)
    }
    var fellBack = false
    spark.sparkContext.addSparkListener(stall)
    try {
      val (_, got) = graft.operators.CountedWrite(metrics: _*)(
        observe => store.put(observe(df), 0))(
        out => {
          fellBack = true
          release.countDown()
          out.agg(metrics.head, metrics.tail: _*).head()
        }, wait = scala.concurrent.duration.Duration.Zero)
      assert(fellBack, "the zero bound did not take the fallback")
      assert(got === expected)
    } finally {
      release.countDown()
      spark.sparkContext.removeSparkListener(stall)
      Seq("cc_fallback_0", "cc_fallback_1").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("non-convergence inside the round bound fails loudly, not silently") {
    val e = intercept[IllegalArgumentException] {
      labelsOf(
        nodes = Seq(0L, 1L, 2L, 3L, 4L, 5L),
        edges = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (1L, 0L)),
        maxIters = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }
}
