package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Scan-parallelism and materialization helpers for the query catalog —
  * round-14 optimization work, motivated by two measured pathologies
  * (optimization guide §1/§2; numbers in OPTIMIZATION_r14.md):
  *
  *  1. STARVED SCANS (guide §2.5 "input skew — unsplittable input"):
  *     a parquet file is split at byte ranges, but a task only reads the
  *     row groups whose midpoint falls in its range — a single-row-group
  *     file computes on ONE core no matter how many splits the planner
  *     makes. The bench fixtures are exactly that shape (one writer, one
  *     row group per table), so every scan-side expression of a fact
  *     table ran serially: q1's decimal partial aggregation was 1.25 s of
  *     CPU on one core with 31 idle (`Probe profile`, stage run≈cpu≈wall).
  *     [[scanSpread]] repartitions the scan by a caller-chosen
  *     high-cardinality key — but ONLY when the source is provably small
  *     (see threshold below), so at production scale it is a no-op and
  *     the exchange can never cost more than the threshold in bytes.
  *
  *  2. SORT-SAMPLING RECOMPUTE (guide §2.4/§7.2): a global `orderBy`
  *     plans a RangePartitioning exchange whose boundary SAMPLING pass
  *     iterates every row of the child — with AQE the child stage is the
  *     last materialized exchange, so everything between that exchange
  *     and the sort is computed TWICE (once to sample, once to shuffle).
  *     For map-heavy text pipelines the doubled region is the expensive
  *     part: d11's winnowing burned ~15 CPU-seconds in the sample pass
  *     and ~15 again in the sort pass (`Probe profile`). [[materialize]]
  *     inserts a round-robin exchange directly below the sort, making
  *     the doubled region a cheap shuffle re-read. Round-robin, not
  *     hash-by-sort-key: an exchange that re-uses the upstream
  *     partitioning is elided by the planner (measured — a same-key
  *     repartition vanished from the plan), and round-robin also
  *     rebalances row-count skew before the sort.
  *
  * Scale behavior, stated honestly:
  *  - [[scanSpread]] fires only below `cores × spark.sql.files.
  *    openCostInBytes` total source bytes (default 32 × 4 MiB = 128 MiB)
  *    — precisely the regime where Spark's own split math
  *    (maxSplitBytes = max(openCost, bytes/cores)) cannot produce one
  *    split per core. Above it the helper returns the scan unchanged, so
  *    a 100 TB table never pays the exchange; below it the exchange
  *    moves less than the threshold in bytes, which is noise.
  *  - [[materialize]] adds one exchange of the SORT INPUT (= output-
  *    sized, post-filter/post-projection rows) at any scale, and removes
  *    a full recompute of the map-side pipeline at any scale. For
  *    pipelines whose compute-per-output-byte is high (every consumer in
  *    this repo: n-gram explosion, winnowing hashes, regex scrubbing)
  *    the trade is strictly favorable; for a cheap projection it would
  *    be a wash, which is why it is applied per-query, by measurement,
  *    not blanket.
  */
object Spread {

  /** Total file bytes per source path, memoized for the session lifetime
    * (same discipline as Tables' ts-type probe: one namenode call per
    * path per JVM, not one per query construction).
    *
    * Staleness is ACCEPTED, deliberately (ADVICE r14): a corpus
    * regenerated in place mid-JVM keeps the old spread/no-spread
    * decision — and thus the old plan shape — for the rest of the
    * session. The memo guards a pure PERFORMANCE decision (fire an
    * extra exchange or not), never correctness, and the gated regimes
    * are separated by orders of magnitude, so a stale answer near the
    * threshold costs at most one misjudged exchange of ~threshold
    * bytes. PersistedIndex.sourceFingerprint, whose decision IS
    * correctness (reuse a stale index), re-lists per call instead.
    */
  private val pathBytes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[graft] def bytesOf(spark: SparkSession, path: String): Long =
    pathBytes.computeIfAbsent(path, p => {
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      java.lang.Long.valueOf(
        if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L)
    }).longValue

  /** Repartition `df` (a scan of `path`) across all cores by `keys` iff
    * the source is too small for Spark's split math to parallelize it —
    * bytes < cores × openCostInBytes. Keys must be high-cardinality
    * (they spread, they do not align); when the query's next wide op is
    * keyed the same way with the same partition count, the exchange does
    * double duty (guide §2.4).
    */
  def scanSpread(
      spark: SparkSession, df: DataFrame, path: String, keys: Column*): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    val threshold = cores * spark.sessionState.conf.filesOpenCostInBytes
    if (bytesOf(spark, path) < threshold) df.repartition(cores, keys: _*)
    else df
  }

  /** Materialization barrier: a round-robin exchange that makes
    * everything above it compute exactly once for a downstream global
    * sort (or any multi-consumer reuse under AQE's stage cache), at the
    * cost of shuffling the barrier's input once. See object scaladoc.
    */
  def materialize(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Size-gated multi-consumer reuse point for a frame derived from
    * source `path` (r15, VERDICT r14 #4 — the scanSpread discipline
    * applied to the catalog's lazy localCheckpoints):
    *
    *  - source below `graft.reuse.maxSourceBytes` (default 1 GiB): a
    *    lazy `localCheckpoint(false)` dedupes the upstream compute
    *    across consumers whose divergent column pruning defeats AQE's
    *    exchange-stage reuse (measured on d9/p9 in r14). The blocks are
    *    executor-local and NON-fault-tolerant — losing one fails the
    *    query — which is an acceptable trade exactly when the source is
    *    small enough that the retry recomputes in seconds;
    *  - at or above the threshold: the frame is returned UNCHANGED.
    *    Each consumer recomputes from fully fault-tolerant lineage.
    *    Pinning an unbounded materialized explosion in executor block
    *    storage is the §5 failure mode (at 100 TB the checkpointed
    *    frame is corpus-sized or larger: a lost executor kills the
    *    query with no recompute path, and the blocks pin executor
    *    memory/disk for the query's lifetime); paying the upstream map
    *    work once per consumer is the honest unbounded-regime cost.
    *
    * The gate reads the SOURCE size, not the frame's (unknowable before
    * execution): the checkpointed frames this guards are
    * explosion-shaped (grams, shingles, unions), so source bytes are a
    * conservative lower bound of the pinned bytes.
    */
  def reuse(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    val maxBytes = spark.conf.getOption("graft.reuse.maxSourceBytes")
      .map { v =>
        val n = v.toLongOption.getOrElse(throw new IllegalArgumentException(
          s"graft.reuse.maxSourceBytes must be a non-negative byte count, got '$v'"))
        require(n >= 0, s"graft.reuse.maxSourceBytes must be >= 0, got $n")
        n
      }.getOrElse(1L << 30)
    if (bytesOf(spark, path) < maxBytes) df.localCheckpoint(false) else df
  }
}
