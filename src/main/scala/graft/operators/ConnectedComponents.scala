package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components — the stage that turns pairwise
  * duplicate EDGES into actionable duplicate CLUSTERS (keep one
  * representative, drop the rest). The reference delegates all analytics
  * to ClickHouse, which has no iterative graph operator at all; this is
  * part of the added LLM-pipeline surface (SURVEY §2.11).
  *
  * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
  * and Beyond", SoCC'14). Each round rewires the edge set toward the
  * component minimum:
  *  - large-star: every node points its STRICTLY LARGER neighbors at the
  *    minimum of its neighborhood (including itself);
  *  - small-star: every node points its smaller neighbors (and itself) at
  *    the minimum of its smaller neighborhood.
  * The fixpoint is a star per component centered on the component's
  * minimum node id, reached in O(log² n) rounds REGARDLESS of graph
  * diameter — a path graph of length 10⁶ converges in ~20 rounds where
  * plain min-label propagation needs 10⁶. Dedup graphs (bucket stars)
  * converge in 2–3.
  *
  * Scale shape (100 TB):
  *  - each star op is ONE exchange of the edge set into a per-endpoint
  *    window MIN — no all-pairs anywhere; edges stay oriented
  *    (src > dst) between rounds so only large-star pays the
  *    symmetrization (an explode, so each round table is scanned once);
  *    the round's two stars and terminal distinct are three exchanges
  *    total (r15 — the groupBy+join-back form paid seven, including a
  *    second full exchange of the edge set into each join; measured
  *    plan pair committed at plans/r15/cc_star_round_{before,after}
  *    .txt);
  *  - every round's edge set is re-materialized through a [[RoundStore]],
  *    truncating the lineage so the plan does not grow with iteration
  *    count (the classic iterative-Spark failure mode); the round's row
  *    count and set signature ride the SAME write action as observed
  *    metrics, so no round pays a separate full-scan stat job;
  *  - [[TableRounds]] is the production store: EVERY round persists to
  *    alternating plain-parquet catalog tables, so a lost executor recomputes
  *    from durable parquet instead of killing the job (the failure mode
  *    of `localCheckpoint`, whose blocks are executor-local and
  *    non-resilient). A cadence that wrote every k-th round and cached
  *    the rounds between was A/B'd 1.2-1.8x slower on d12/d26/d28
  *    (OPTIMIZATION_r14.md): at these edge-set sizes a parquet write
  *    costs less than building a cached relation. [[CheckpointRounds]]
  *    remains for small/ephemeral graphs where table churn isn't worth it;
  *  - convergence is a deterministic set-equality check (count match +
  *    empty EXCEPT); the observed xor signature only SKIPS the EXCEPT
  *    when it proves the sets differ — it is never trusted to declare
  *    them equal.
  */
object ConnectedComponents {

  /** Per-row term of the round set signature: order-independent under
    * bit_xor, deterministic, null-free on oriented edge frames. */
  private def roundSig: org.apache.spark.sql.Column =
    xxhash64(col("src"), col("dst"))

  /** Per-round materialization strategy for the iterative edge set. */
  sealed trait RoundStore {
    /** Materialize this round's edges; the returned frame must be safe to
      * read repeatedly without recomputing upstream. */
    def put(df: DataFrame, round: Int): DataFrame
    /** [[put]] plus the materialized round's ROW COUNT and its
      * order-independent SET SIGNATURE (bit_xor of xxhash64(src,dst)).
      * The fixpoint needs the count every round for the convergence
      * compare; the signature is a sound DIFFERENCE certificate — equal
      * edge sets always hash to equal signatures, so a mismatch proves
      * the round changed and skips the EXCEPT job outright (measured:
      * chain-shaped graphs keep a CONSTANT edge count across rounds, so
      * the count compare alone ran the EXCEPT every round). Signature
      * equality is never trusted as convergence — a colliding xor must
      * not mislabel components — it only gates the deterministic EXCEPT.
      * A store that can observe both from the materializing action
      * itself (see [[TableRounds]]) saves one full stat job per round.
      * Default: one combined count+signature job over the materialized
      * round (guide §1.2 — the default stays obviously correct; stores
      * opt in to the fused measurement).
      */
    def putCounted(df: DataFrame, round: Int): (DataFrame, Long, Long) = {
      val out = put(df, round)
      val r = out.agg(count(lit(1)), bit_xor(roundSig)).head()
      (out, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    /** Run the whole fixpoint under this store's liveness regime (a
      * durable store heartbeats so concurrent sessions' orphan sweeps
      * see an ACTIVE run, however long a round takes). Default: no-op.
      */
    def withLiveness[T](f: => T): T = f
    /** Drop any state left by a previous run under the same prefix.
      * Default: stateless store, nothing to drop. */
    def reset(): Unit = ()
  }

  /** Executor-local eager checkpoint: cheapest, but blocks are lost with
    * their executor — use for tests and small ephemeral graphs only. */
  case object CheckpointRounds extends RoundStore {
    override def put(df: DataFrame, round: Int): DataFrame = df.localCheckpoint()
  }

  /** Durable rounds: each edge set is written to one of two alternating
    * managed plain-parquet tables (`<prefix>_0`/`<prefix>_1`) and read
    * back from the catalog — executor loss recomputes
    * from parquet, and the previous round stays readable for the
    * convergence compare. Tables are dropped and recreated on the next
    * [[run]] with the same prefix; the final round's table intentionally
    * outlives the call (the returned labels read from it) — the CALLER
    * owns its lifetime and should [[reset]] once the labels are consumed.
    * Prefixes are catalog-global: pass a per-run unique prefix (see
    * `Documents.d12DupClusters`) unless runs are strictly serialized.
    */
  final case class TableRounds(spark: SparkSession, prefix: String)
      extends RoundStore {
    private def name(round: Int) = s"${prefix}_${round % 2}"
    /** The liveness unit is the PREFIX (covers both alternating tables):
      * heartbeat file `<warehouse>/<prefix>._GRAFT_ALIVE`. */
    private def warehousePrefix = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.getConfString("spark.sql.warehouse.dir"), prefix)
    private def fs = warehousePrefix.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    override def reset(): Unit =
      Seq(0, 1).foreach(g => ReplicaTable.dropTableAndLocation(spark, s"${prefix}_$g"))
    /** The round count AND set signature folded into the round WRITE via
      * observed metrics (a fresh [[org.apache.spark.sql.Observation]] per
      * round): the saveAsTable action that materializes the round also
      * computes both, so the fixpoint's per-round stat job (a full
      * re-scan of the just-written table) disappears — at bench scale
      * that was one of ~3 jobs per round; at 100 TB it is a TB-scale
      * table scan per round. The observation completes from an
      * asynchronous listener, so the wait is bounded ([[CountedWrite]]):
      * metrics that do not arrive inside it fall back to the plain stat
      * job, and the convergence compare never sees wrong or missing stats.
      */
    override def putCounted(df: DataFrame, round: Int): (DataFrame, Long, Long) = {
      val (out, r) = CountedWrite(count(lit(1)).as("rows"), bit_xor(roundSig).as("sig"))(
        observe => put(observe(df), round))(
        _.agg(count(lit(1)), bit_xor(roundSig)).head())
      (out, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    override def put(df: DataFrame, round: Int): DataFrame = {
      // phase-boundary heartbeat (the ticker in withLiveness covers a
      // single LONG round; this keeps the mtime honest between rounds
      // even when run() was bypassed and puts are issued directly)
      LivenessMarker.touch(fs, warehousePrefix)
      val n = name(round)
      ReplicaTable.dropTableAndLocation(spark, n)
      // plain parquet, deliberately NOT bucketed/sorted: each round table
      // is consumed exactly once, by the next round's symmetrize UNION,
      // whose groupBy re-shuffles regardless of input layout — a
      // per-round cluster-by-src sort is pure cost (at 100 TB, a TB-scale
      // sort per star round). Consumers of the FINAL labels re-layout
      // into their own bucketed tables where the layout actually pays
      // (e.g. d23's canonical-keep table).
      df.write.format("parquet").saveAsTable(n)
      spark.table(n)
    }
    override def withLiveness[T](f: => T): T =
      LivenessMarker.whileAlive(fs, warehousePrefix)(f)
  }

  /** A fresh durable [[TableRounds]] for a query family (e.g.
    * `cc_d12`): mints a per-run unique prefix — two concurrent runs (or
    * two sessions sharing a warehouse) never drop each other's round
    * tables mid-iteration — and sweeps warehouse dirs orphaned by
    * earlier JVMs. The previous run's surviving final table is NOT
    * reclaimed here: its labels frame may still be lazily unconsumed
    * (`val a = d23(..); val b = d23(..); a.collect()` must work), so
    * in-session reruns accumulate one small final table each until the
    * age-guarded sweep of a later process reclaims them — bounded waste
    * traded for never dropping a table out from under a live reader.
    */
  def freshTableRounds(spark: SparkSession, family: String): TableRounds = {
    val prefix = s"${family}_${java.lang.Long.toHexString(System.nanoTime())}"
    sweepOrphanRoundDirs(spark, family)
    TableRounds(spark, prefix)
  }

  /** Remove round-table DIRECTORIES orphaned by earlier JVMs: the
    * in-memory catalog forgets `<family>_*` tables at process exit while
    * their warehouse dirs survive, so repeated bench/verify processes
    * would otherwise accumulate one final-table dir each. Removal is
    * gated on LIVENESS, not just age: a dir is swept only when it is
    * (a) absent from this session's catalog, (b) untouched for >30 min,
    * AND (c) its prefix's [[LivenessMarker]] heartbeat is absent or
    * equally stale — so a concurrent session mid-way through a
    * genuinely-long round (at 100 TB one star round can exceed 30 min;
    * its dir's own mtime is its CREATION time until files land) is
    * never swept while its ticker keeps the heartbeat fresh. Stale
    * heartbeat files themselves are reclaimed under the same cutoff.
    */
  private def sweepOrphanRoundDirs(spark: SparkSession, family: String): Unit = {
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.getConfString("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    LivenessMarker.sweepStale(fs, warehouse,
      cutoffMillis = System.currentTimeMillis() - 30L * 60 * 1000,
      matches = _.startsWith(s"${family}_"),
      inCatalog = spark.catalog.tableExists,
      // round tables are <prefix>_0/<prefix>_1 — the heartbeat guards
      // the prefix, covering both alternating tables
      guardFor = p => new org.apache.hadoop.fs.Path(
        warehouse, p.getName.replaceFirst("_[01]$", "")))
  }

  /** large-star: for each node u (over the symmetric adjacency), emit
    * (v, min(Γ(u) ∪ u)) for every neighbor v > u. Output stays oriented
    * src > dst. Preserves connectivity; never drops a component member.
    */
  private[graft] def largeStar(e: DataFrame): DataFrame =
    largeStarMulti(e).distinct()

  /** [[largeStar]] as a MULTISET (no terminal distinct): the fused round
    * feeds this straight into [[smallStar]], whose own terminal distinct
    * dedupes — the intermediate (src,dst) exchange bought nothing the
    * next distinct does not (guide §2.4: per-round exchange count is the
    * fixpoint's dominant overhead). No amplification risk: the multiset
    * is exactly one row per oriented input edge (|e| rows), so the
    * downstream shuffle never exceeds the input size.
    *
    * The per-neighborhood minimum is a window MIN over the symmetric
    * adjacency — ONE exchange of sym instead of groupBy+join-back (an
    * exchange into the aggregate, though partial-agg-thinned, plus a
    * full second exchange of sym into the join). The window's sort
    * replaces the join's hash probe; a hot node's neighborhood lands in
    * one window partition either way (the join co-partitioned sym by
    * src too), and the star alternation itself is the skew bound —
    * large-star strictly shrinks every super-threshold neighborhood
    * toward the component minimum (SoCC'14 §3). sym is built by explode
    * rather than self-union so the round table is scanned ONCE per star
    * (at 100 TB a round table is TB-sized; the union form scanned it
    * twice).
    */
  private def largeStarMulti(e: DataFrame): DataFrame = {
    val sym = e.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    sym
      .withColumn("m", least(min(col("dst")).over(w), col("src")))
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
  }

  /** small-star: input oriented src > dst; for each node u, point u and
    * all its smaller neighbors at m = min of those neighbors. Output stays
    * oriented src > dst.
    *
    * Same single-exchange window shape as [[largeStarMulti]] (the old
    * groupBy+join-back paid a second full exchange of e into the join);
    * the moved edge (dst, m) and the self edge (src, m) are emitted from
    * ONE pass over the window rows via explode, and the terminal
    * distinct drops the self-edge duplicates the old per-src `mins`
    * frame avoided — same set, one exchange fewer. The (src, m) self
    * edge can never self-loop (orientation makes m < src strictly);
    * the (dst, m) moved edge self-loops exactly when dst = m, which the
    * src =!= dst filter removes — the same rows the old
    * `where(dst =!= m)` kept.
    */
  private[graft] def smallStar(e: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    e.withColumn("m", min(col("dst")).over(w))
      .select(explode(array(
        struct(col("dst").as("src"), col("m").as("dst")),
        struct(col("src"), col("m").as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** True iff no node carries two parent edges — the star-shape witness
    * the labeling join requires (an oriented star has exactly one
    * (node, root) edge per non-root node). */
  private def starViolationFree(e: DataFrame): Boolean =
    e.groupBy(col("src"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .filter(col("n") > 1).isEmpty

  /** One fused fixpoint round: small-star of the large-star multiset.
    * Three exchanges total (two window MINs + the terminal distinct)
    * where the unfused groupBy+join form paid six — measured at sf0.1
    * as the difference between ~7 and ~4 AQE stage jobs per round, and
    * at scale two fewer full exchanges of the edge set per round
    * (committed plan pair: 7 exchanges before, 3 after —
    * plans/r15/cc_star_round_{before,after}.txt; ConnectedComponentsSpec
    * pins the 3).
    */
  private[graft] def starRound(e: DataFrame): DataFrame =
    smallStar(largeStarMulti(e))

  /** @param nodes one column `id` (numeric); @param edges columns
    * `src`/`dst` in either orientation, duplicates and self-loops allowed.
    * @return one row per node: (`id`, `comp`) with `comp` = min node id
    * reachable from `id` (its own id for isolated nodes).
    *
    * NOTE: unlike ordinary catalog operators this EXECUTES at call time
    * (the convergence loop needs an action per round — inherent to any
    * data-dependent iterative algorithm); callers wanting only the final
    * plan still pay the full fixpoint.
    */
  def run(
      nodes: DataFrame,
      edges: DataFrame,
      maxIters: Int = 50,
      store: RoundStore = CheckpointRounds): DataFrame = store.withLiveness {
    store.reset()
    var (e, count, sig) = store.putCounted(
      edges.select(
          greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct(), 0)
    var converged = count == 0L
    var starOk: Option[Boolean] = None
    var iter = 0
    while (!converged && iter < maxIters) {
      val (next, nextCount, nextSig) = store.putCounted(starRound(e), iter + 1)
      // equal cardinality + equal set signature + next ⊆ prev ⇒ identical
      // edge sets (both distinct). The signature compare is a sound
      // NEGATIVE certificate only — convergence is still decided by the
      // deterministic EXCEPT; the xor merely skips it when the round
      // provably changed (e.g. chain graphs rewire at constant count)
      if (nextCount == count && nextSig == sig) {
        // probable fixpoint: the EXCEPT confirms convergence and the
        // star-shape check must pass before labeling — two independent
        // actions over materialized rounds, overlapped (guide §2.6;
        // Spark schedules concurrent jobs FIFO and the second back-fills
        // the first's tail). On the rare xor collision that is NOT the
        // fixpoint, one speculative star-check job is wasted.
        implicit val ec = scala.concurrent.ExecutionContext.global
        val starF = scala.concurrent.Future(starViolationFree(next))
        converged = next.except(e).isEmpty
        starOk = Some(scala.concurrent.Await.result(
          starF, scala.concurrent.duration.Duration.Inf))
      }
      e = next
      count = nextCount
      sig = nextSig
      iter += 1
    }
    require(converged,
      s"connected components did not converge within $maxIters rounds " +
        "(two-phase star rounds are O(log² n) — this indicates a bug or " +
        "an absurd maxIters; raise it only with evidence)")
    // the labeling below assumes a STAR fixpoint (each non-root node has
    // exactly one parent edge); a non-star fixpoint would silently emit
    // duplicate label rows — make that contract violation fail loudly.
    // Usually already computed, overlapped with the convergence EXCEPT;
    // the fallback covers the empty-graph path where the loop never ran.
    require(starOk.getOrElse(starViolationFree(e)),
      "converged edge set is not a star (a node has multiple parents) — " +
        "labeling would duplicate rows; this indicates a star-round bug")
    // fixpoint is a star per component: every non-root node has exactly
    // one (node, root) edge; roots and isolated nodes label themselves
    nodes.select(col("id"))
      .join(e.select(col("src").as("id"), col("dst").as("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }
}
