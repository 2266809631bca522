package graft.queries

import graft.Tables
import graft.functions.{HashFunctions => H}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  *  - v1: brute-force cosine top-k — the exact baseline. O(Q x N) dot
  *    products via broadcast of the query set; correct at any N but
  *    compute-bound.
  *  - v2: LSH-bucketed ANN — random-hyperplane signatures (md5-derived,
  *    oracle-reproducible) shrink the candidate set to same-bucket
  *    vectors; the scale path (candidate generation is one shuffle on the
  *    bucket key).
  *  - v3: per-label norm statistics (fixed-point across rows).
  *
  * Float-math parity with the oracle: every dot product/norm is a
  * SEQUENTIAL LEFT FOLD over double-widened floats — Spark's `aggregate`
  * and DuckDB's `list_reduce` both fold left, so the doubles come out
  * bit-identical with no decimal detour. Cross-ROW sums (where engines
  * don't share an order) use fixed-point integers instead.
  */
object Vectors {

  type Q = (SparkSession, String) => DataFrame

  private val K = 5
  private val NumPlanes = 12

  /** Sequential-left-fold dot product, as the native codegen'd
    * [[graft.functions.VecDotFold]] expression — same fold order (and so
    * bit-identical doubles) as the lambda formulation
    * `aggregate(zip_with(a,b,*),0d,+)`, but one generated loop per row
    * instead of interpreted per-element lambdas.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VecDotFold.dot(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Oracle twin of [[dot]]: products via 1-based index, left fold.
    * `private[graft]` so Pipeline's p27 fusion oracle reuses the exact
    * same expression for its vector leg. */
  private[graft] def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(generate_series(1, 64),
       |    i -> $a[i] * $b[i]), (acc, x) -> acc + x)""".stripMargin

  /** Oracle twins of the squared-L2 folds (dotSql's drift-proof
    * single-definition discipline): the full 64-dim distance and the
    * PqSubDim-dim subspace distance. Previously restated locally by
    * nine oracle builders — a one-character fix to the fold had to be
    * applied nine times.
    */
  private[graft] def l2Sql(a: String, b: String): String =
    s"""list_reduce(list_transform(generate_series(1, 64),
       |      i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (acc, x) -> acc + x)""".stripMargin

  private def subL2Sql(a: String, b: String): String =
    s"""list_reduce(list_transform(generate_series(1, $PqSubDim),
       |      i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (acc, x) -> acc + x)""".stripMargin

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  /** Loud construction-time guard for [[cloneAugmented]]'s +1M vec_id
    * offset — Documents' requireIdHeadroom rule (r12 review): an id
    * collision corrupts results IDENTICALLY in both engines (the oracle
    * replays the same arithmetic), so the correctness gate can never
    * catch it. Memoized per (corpus fingerprint, bound) because the
    * max(vec_id) check is a real scan job and the guarded queries are
    * constructed several times per bench/plan-audit pass (ADVICE r12:
    * the vector family never got the check its Documents twin gained).
    */
  private val idHeadroomOk =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Boolean]()

  private def requireIdHeadroom(
      spark: SparkSession, dir: String, d: DataFrame, bound: Long): Unit = {
    val key = (s"$dir|" + graft.operators.PersistedIndex.sourceFingerprint(
      spark, Seq(s"$dir/embeddings.parquet")), bound)
    if (!idHeadroomOk.containsKey(key)) {
      val maxId = d.agg(max(col("vec_id"))).head()
      require(maxId.isNullAt(0) || maxId.getLong(0) < bound,
        s"planted-clone offsets assume vec_id < $bound; found ${maxId.get(0)}")
      idHeadroomOk.put(key, true)
    }
  }

  /** The planted-near-duplicate convention of the neardup/LSH family
    * (d1's planted-signal discipline for vectors): every vector gains a
    * clone at `vec_id + 1000000` with its FIRST component scaled by
    * 1.05, perturbed in DOUBLE so the oracle replays it bitwise. ONE
    * definition — v2/v5/v14/v15 previously each restated the offset
    * and factor, so editing the perturbation in one spot silently broke
    * only that query's planted-signal contract. Keeps only (vec_id, v):
    * clones carry no label by design (they are corpus additions, not
    * labeled members).
    */
  private def cloneAugmented(
      spark: SparkSession, dir: String, base: DataFrame): DataFrame = {
    requireIdHeadroom(spark, dir, base, 1000000L)
    val slim = base.select(col("vec_id"), col("v"))
    slim.unionByName(slim.select((col("vec_id") + 1000000).as("vec_id"),
      transform(col("v"), (x, i) => when(i === 0, x * 1.05).otherwise(x)).as("v")))
  }

  /** Oracle twin of [[cloneAugmented]]: the planted-clone UNION body
    * over a CTE named `src` — callers alias it into their own CTE.
    */
  private def cloneUnionSql(src: String): String =
    s"""SELECT vec_id, v FROM $src
      |  UNION ALL
      |  SELECT vec_id + 1000000,
      |    list_transform(generate_series(1, 64),
      |      i -> CASE WHEN i = 1 THEN v[1] * 1.05 ELSE v[i] END)
      |  FROM $src""".stripMargin

  /** Brute-force cosine top-k: for each query vector (vec_id < 10), the K
    * nearest neighbors. The tiny query side is broadcast so the candidate
    * scan never shuffles; per-query top-k via window over the Q x N
    * scored set.
    */
  def v1CosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    // norms are PER-SIDE columns computed before the join (as every
    // oracle's `n` CTE does): one fold per vector, not three folds per
    // Q x N pair — same doubles, a third of the scoring FLOPs
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        norm(col("embedding")).as("qn"))
    val cands = e.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      norm(col("embedding")).as("cn"))
    val cos = (dot(col("qe"), col("ce")) /
      (col("qn") * col("cn"))).as("cosine")
    val scored = broadcast(queries).join(cands, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cos)
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("cid"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  val v1Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) nrm FROM e),
      |scored AS (
      |  SELECT q.vec_id qid, c.vec_id cid,
      |    ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) cosine
      |  FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
      |ranked AS (
      |  SELECT qid, cid, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) rank
      |  FROM scored)
      |SELECT qid, rank, cid, cosine FROM ranked WHERE rank <= $K
      |ORDER BY qid, rank""".stripMargin

  /** Random-hyperplane LSH signature: bit p = sign of <w_p, x> where
    * w_p[d] = +/-1 from bit d of md5NumberLower("plane:" || p) — the plane
    * hash is folded to literal weights at plan time. The projection is the
    * same sequential double fold on both engines, so bucketing matches
    * bit-for-bit.
    */
  private def lshBucket(v: Column): Column = {
    val bits = (0 until NumPlanes).map { p =>
      val hash = H.md5NumberLowerLocal(s"plane:$p")
      val weights = array((0 until 64).map(d =>
        lit((((hash >> d) & 1L) * 2 - 1).toDouble)): _*)
      val proj = graft.functions.VecDotFold.dot(v, weights)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** ANN via LSH buckets: same-bucket candidates only, cosine top-3 within
    * the bucket. Trades recall for a candidate set ~N/2^planes per query.
    *
    * The fixture's random vectors are mutually near-orthogonal, so no two
    * ever shared a 12-plane bucket and the query returned (correctly but
    * vacuously) zero rows. As d1/v5 do, plant a near-duplicate clone of
    * every vector (first component scaled, arithmetic in DOUBLE so the
    * oracle replays it): clones land in their original's bucket, so every
    * query provably retrieves neighbors through the ANN path. At real
    * scale the corpus itself provides the bucket mates.
    */
  def v2LshAnn(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val e = cloneAugmented(spark, dir, base).withColumn("bucket", lshBucket(col("v")))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qe"), col("bucket"),
        norm(col("v")).as("qn"))
    val cands = e.select(col("vec_id").as("cid"), col("v").as("ce"),
      col("bucket"), norm(col("v")).as("cn"))
    val cos = (dot(col("qe"), col("ce")) /
      (col("qn") * col("cn"))).as("cosine")
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    broadcast(queries).join(cands, Seq("bucket"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cos)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("cid"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Shared oracle prefix for the plane-LSH pair (v2's ANN, v5's
    * near-dup): the clone-augmented corpus, the [[lshBucket]]-matching
    * 12-plane signature (`(i - 1)` bit indexing, ±1 weights from the
    * plane hash), and per-vector norms — ONE definition so the
    * signature arithmetic can never drift between the two oracles or
    * from the Spark-side [[lshBucket]].
    */
  private lazy val lshSigSql: String = {
    val planeSigSql = (0 until NumPlanes).map { p =>
      val h = H.md5NumberLowerLocal(s"plane:$p")
      s"""CASE WHEN list_reduce(list_transform(generate_series(1, 64),
         |  i -> v[i] * ((((CAST($h AS BIGINT)) >> (i - 1)) & 1) * 2 - 1)), (acc, x) -> acc + x) > 0
         |  THEN (CAST(1 AS BIGINT) << $p) ELSE 0 END""".stripMargin
    }.mkString(" + ")
    s"""base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |e AS (
      |  ${cloneUnionSql("base")}),
      |b AS (SELECT vec_id, v, $planeSigSql AS bucket FROM e),
      |n AS (SELECT vec_id, v, bucket, sqrt(${dotSql("v", "v")}) nrm FROM b)""".stripMargin
  }

  val v2Sql: String = {
    s"""WITH $lshSigSql,
      |scored AS (
      |  SELECT q.vec_id qid, c.vec_id cid,
      |    ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) cosine
      |  FROM n q JOIN n c ON q.bucket = c.bucket AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
      |ranked AS (
      |  SELECT qid, cid, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) rank
      |  FROM scored)
      |SELECT qid, rank, cid, cosine FROM ranked WHERE rank <= 3
      |ORDER BY qid, rank""".stripMargin
  }

  /** Per-label embedding-norm statistics. Cross-row sums have no shared
    * fold order between engines, so the sum is nano-fixed-point (exact
    * integer arithmetic both sides).
    */
  def v3LabelNorms(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir)
      .select(col("label"), norm(col("embedding")).as("nrm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("nrm") * lit(1e9)).cast("long")).as("sum_norm_e9"),
        min(col("nrm")).as("min_norm"),
        max(col("nrm")).as("max_norm"))
      .orderBy(col("label"))

  val v3Sql: String =
    s"""WITH n AS (SELECT label, sqrt(${dotSql("v", "v")}) nrm
      |  FROM (SELECT label, CAST(embedding AS DOUBLE[]) v FROM embeddings))
      |SELECT label, COUNT(*) AS n,
      |  CAST(SUM(CAST(floor(nrm * 1e9) AS BIGINT)) AS BIGINT) AS sum_norm_e9,
      |  MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
      |FROM n GROUP BY label ORDER BY label""".stripMargin

  /** Embedding-cosine near-duplicate DEDUP (completes the dedup family
    * next to exact/MinHash/SimHash/Jaccard): candidate pairs from shared
    * LSH buckets (random-hyperplane signatures — same-bucket vectors
    * agree on all 12 plane signs), then the exact cosine filter at 0.9.
    * The self-join is on the bucket key, so candidate generation is one
    * doc-count shuffle, not a cross join; recall follows the LSH
    * bucketing (near-identical vectors land together).
    */
  def v5EmbeddingNeardup(spark: SparkSession, dir: String): DataFrame = {
    // the fixture vectors are random (max pairwise cosine ~0.5), so — as
    // d1 does for exact dedup — plant near-duplicates: a clone of every
    // vector with its first component scaled. All perturbation happens
    // in DOUBLE (after the cast) so the oracle's arithmetic is
    // bit-identical.
    val base = emb(spark, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val all = cloneAugmented(spark, dir, base)
      .select(col("vec_id"), col("v"), lshBucket(col("v")).as("bucket"),
        norm(col("v")).as("nrm"))
    val cos = (dot(col("a.v"), col("b.v")) /
      (col("a.nrm") * col("b.nrm"))).as("cosine")
    // bucket pair expansion via BlockedSelfJoin, NOT a plain self-join
    // on bucket: a plain join computes a hot bucket's K²/2 pairs in ONE
    // sort-merge group in one task — SkewSpec planted a 1% identical-
    // vector cluster and measured 82,096 of 100,738 pair-writes coming
    // from a single task (16× the uniform corpus's worst task). The
    // chunk-blocked form bounds any one join group's output to
    // chunk × K (group c pairs its chunk against the bucket's tail), a
    // K/(2·chunk)-fold split of the straggler — so the chunk must sit
    // WELL below the hot-bucket size for the split to bite: 256 on a
    // ~400-row bucket measured only 82k → 70k, 64 measures ~26k spread
    // over ~7 groups (SkewSpec pins it at ≤6× the uniform corpus's
    // worst task). 64 also keeps every NORMAL bucket single-chunk
    // (uniform buckets here are ~n/1024 rows), so the common case pays
    // only the chunk window, no replication. Output identical:
    // pairs(keys=bucket, ord=vec_id) emits exactly the
    // a.vec_id < b.vec_id same-bucket pairs the plain join did.
    // Uniform-case price: ZERO — same-session interleaved A/B on the
    // sf0.1 fixture (plain vs blocked, alternating JVMs) measured warm
    // minima 1.27 vs 1.21 s; normal buckets are single-chunk at 64.
    graft.operators.BlockedSelfJoin
      .pairs(all, Seq("bucket"), "vec_id", chunkSize = 64)
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"), cos)
      .filter(col("cosine") >= 0.9)
      .orderBy(col("va"), col("vb"))
  }

  val v5Sql: String = {
    s"""WITH $lshSigSql
      |SELECT a.vec_id va, b.vec_id vb,
      |  ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cosine
      |FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.9
      |ORDER BY va, vb""".stripMargin
  }

  /** Per-label centroid vectors (class centroids — the standard
    * clustering/labeling primitive): posexplode to (label, dim), one
    * hash aggregation, exact nano-fixed-point mean so both engines do
    * pure integer arithmetic (sum of floor(x*1e9), integer-divided by
    * the count). Output long-form (label, dim, centroid_e9) — arrays
    * compare poorly across engines; the long form is also what a
    * downstream ANN index build would consume.
    */
  def v4LabelCentroids(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir)
      .select(col("label"), posexplode(col("embedding")))
      .filter(col("pos") < 8) // first 8 dims keep the result compact
      .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
      .agg(sum(floor(col("col").cast("double") * lit(1e9)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      // integer DIV: both engines truncate toward zero (Java / DuckDB //)
      .select(col("label"), col("dim"), expr("s DIV n").as("centroid_e9"))
      .orderBy(col("label"), col("dim"))

  val v4Sql: String =
    """SELECT label, i AS dim,
      |  CAST(SUM(CAST(floor(CAST(v[i] AS DOUBLE) * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS centroid_e9
      |FROM (SELECT label, embedding AS v FROM embeddings),
      |     (SELECT unnest(generate_series(1, 8)) AS i)
      |GROUP BY label, i ORDER BY label, dim""".stripMargin

  /** IVF-Flat ANN: the second scale path next to v2's LSH. A coarse
    * quantizer (per-label centroids, learned from the data itself —
    * nano-fixed-point means so both engines build IDENTICAL centroids)
    * partitions vectors into cells by max-dot assignment; a query probes
    * only its own cell and ranks candidates by exact cosine. The
    * centroid table is 10 rows and broadcast, assignment is a projection
    * + per-vector argmax, candidate generation is one shuffle on the
    * cell id — at 100 TB the cell assignment is the partition key the
    * vector table would be bucketed by, and nprobe>1 is a union over
    * cell ids.
    */
  def v6IvfAnn(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val assigned = ivfRanked(base, labelMeans(base), maxRank = 1)
      .select(col("vec_id"), col("v"), col("cell"))
    val queries = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qe"), col("cell"),
        norm(col("v")).as("qn"))
    val cands = assigned
      .select(col("vec_id").as("cid"), col("v").as("ce"), col("cell"),
        norm(col("v")).as("cn"))
    val cos = (dot(col("qe"), col("ce")) /
      (col("qn") * col("cn"))).as("cosine")
    val wr = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    broadcast(queries).join(cands, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cos)
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("cid"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  val v6Sql: String =
    s"""WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |cl AS (
      |  SELECT label, i AS dim,
      |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
      |  FROM base, (SELECT unnest(generate_series(1, 64)) i)
      |  GROUP BY label, i),
      |cent AS (
      |  SELECT label AS cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec
      |  FROM cl GROUP BY label),
      |assigned AS (
      |  SELECT vec_id, v, cell FROM (
      |    SELECT b.vec_id, b.v, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
      |        ORDER BY ${dotSql("b.v", "c.cvec")} DESC, c.cell) AS rn
      |    FROM base b, cent c)
      |  WHERE rn = 1),
      |n AS (SELECT vec_id, v, cell, sqrt(${dotSql("v", "v")}) nrm FROM assigned),
      |scored AS (
      |  SELECT q.vec_id qid, c.vec_id cid,
      |    ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) cosine
      |  FROM n q JOIN n c ON q.cell = c.cell AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
      |ranked AS (
      |  SELECT qid, cid, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) rank
      |  FROM scored)
      |SELECT qid, rank, cid, cosine FROM ranked WHERE rank <= 3
      |ORDER BY qid, rank""".stripMargin

  /** (label, dim, ce9) fixed-point centroids packed to one DOUBLE[]
    * row per cell — the ONE definition of the e9 unpack + dim sort
    * (previously restated by ivfRanked/v29/v30 independently; a change
    * to the fixed-point scale or sort key lives here and nowhere
    * else). `cellCol` names the output key (`cell` for assignment
    * flows, `label` for own-centroid joins).
    */
  private def centroidVecs(centLong: DataFrame, cellCol: String = "cell"): DataFrame =
    centLong.groupBy(col("label").as(cellCol))
      .agg(sort_array(collect_list(struct(col("dim"), col("ce9")))).as("cs"))
      .select(col(cellCol),
        transform(col("cs"), c => c.getField("ce9").cast("double") / 1e9).as("cvec"))

  /** IVF cell assignment shared by v6/v8/v13: rank cells per vector by
    * dot product against the broadcast centroid table (built from
    * (label, dim, ce9) fixed-point means), keep the top `maxRank`.
    * crank=1 is the home cell where the vector LIVES; higher cranks are
    * what a multi-probe query additionally searches. Lazy
    * localCheckpoint: the assignment feeds both the query side and the
    * candidate side; without it the scoring+argmax subtree is planned
    * twice (Spark plans are trees, and AQE misses sibling exchange
    * reuse) — one materialization, read twice.
    */
  private def ivfRanked(
      base: DataFrame, centLong: DataFrame, maxRank: Int,
      keep: Seq[String] = Nil): DataFrame = {
    val centroids = centroidVecs(centLong)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(dot(col("v"), col("cvec")).desc, col("cell"))
    base.crossJoin(broadcast(centroids))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= maxRank)
      // `keep`: extra columns carried through the assignment (e.g. the
      // base's label, or the matched cell's cvec for residual coding) —
      // ONE definition of the assignment tie-break serves the family
      .select((Seq(col("vec_id"), col("v"), col("cell"), col("crank")) ++
        keep.map(col)): _*)
      .localCheckpoint(false)
  }

  /** IVF with nprobe=2 AND measured recall — the knob a real ANN user
    * turns first when single-probe recall disappoints. Every vector LIVES
    * in its nearest cell (crank=1, same assignment as v6); each QUERY
    * probes its top-2 cells and ranks the union's candidates by exact
    * cosine. The output reports, per query, the candidate-set sizes and
    * the top-3 hit counts against the EXACT brute-force top-3 for both
    * probe depths side by side — recall is measured in the query itself,
    * not asserted offline. hits_2p >= hits_1p always: the 2-probe
    * candidate set is a superset, and any candidate that displaces an
    * exact-top-3 member from the approx top-3 must itself be exact-top-3.
    *
    * Scale shape: identical to v6 (broadcast 10-row centroid table, one
    * shuffle on the cell id for candidate generation) — nprobe only
    * multiplies the QUERY side's cell fan-out, not the data layout. The
    * exact side is the v1 baseline restricted to the same 10 queries
    * (broadcast Q × scan N, linear in N). Both probe depths rank inside
    * ONE window pass (r2 = plain row_number; r1 = running count of
    * crank-1 rows), so measuring recall costs no extra shuffle.
    */
  def v8IvfNprobe(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    // one assignment pass keeps BOTH the home cell (crank=1, where the
    // vector lives) and the second-closest cell (crank=2, what a query
    // additionally probes); materialized once, read by both sides
    val ranked = ivfRanked(base, labelMeans(base), maxRank = 2)
    val cands = ranked.filter(col("crank") === 1)
      .select(col("vec_id").as("cid"), col("v").as("ce"), col("cell"),
        norm(col("v")).as("cn"))
    val queries = ranked.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qe"), col("cell"),
        col("crank"), norm(col("v")).as("qn"))
    val scored = broadcast(queries).join(cands, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("crank"),
        (dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("cosine"))
    val wq = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    val withRanks = scored
      .withColumn("r2", row_number().over(wq))
      .withColumn("r1", when(col("crank") === 1,
        sum(when(col("crank") === 1, 1).otherwise(0))
          .over(wq.rowsBetween(Window.unboundedPreceding, 0))))
    // exact ground truth: brute force over the FULL corpus (v1's shape)
    withRanks.join(broadcast(exactTop3(base)), Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg(
        sum(when(col("crank") === 1, 1L).otherwise(0L)).as("cand_1p"),
        count(lit(1)).as("cand_2p"),
        sum(when(col("hit") === 1 && col("crank") === 1 && col("r1") <= 3, 1L)
          .otherwise(0L)).as("hits_1p"),
        sum(when(col("hit") === 1 && col("r2") <= 3, 1L).otherwise(0L)).as("hits_2p"))
      .orderBy(col("qid"))
  }

  val v8Sql: String =
    s"""WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |cl AS (
      |  SELECT label, i AS dim,
      |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
      |  FROM base, (SELECT unnest(generate_series(1, 64)) i)
      |  GROUP BY label, i),
      |cent AS (
      |  SELECT label AS cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec
      |  FROM cl GROUP BY label),
      |ranked AS (
      |  SELECT vec_id, v, cell, rn AS crank FROM (
      |    SELECT b.vec_id, b.v, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
      |        ORDER BY ${dotSql("b.v", "c.cvec")} DESC, c.cell) AS rn
      |    FROM base b, cent c)
      |  WHERE rn <= 2),
      |n AS (SELECT vec_id, v, cell, crank, sqrt(${dotSql("v", "v")}) nrm FROM ranked),
      |cands AS (SELECT vec_id cid, v, nrm, cell FROM n WHERE crank = 1),
      |q AS (SELECT vec_id qid, v, nrm, cell, crank FROM n WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.qid, c.cid, q.crank,
      |    ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cosine
      |  FROM q JOIN cands c ON q.cell = c.cell AND q.qid <> c.cid),
      |wr AS (
      |  SELECT qid, cid, crank,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS r2,
      |    CASE WHEN crank = 1 THEN
      |      SUM(CASE WHEN crank = 1 THEN 1 ELSE 0 END) OVER (
      |        PARTITION BY qid ORDER BY cosine DESC, cid ROWS UNBOUNDED PRECEDING)
      |    END AS r1
      |  FROM scored),
      |nb AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) nrm FROM base),
      |exact AS (
      |  SELECT qid, cid FROM (
      |    SELECT a.vec_id qid, b.vec_id cid,
      |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |        ORDER BY ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) DESC, b.vec_id) er
      |    FROM nb a JOIN nb b ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
      |  WHERE er <= 3)
      |SELECT w.qid,
      |  CAST(SUM(CASE WHEN w.crank = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cand_1p,
      |  COUNT(*) AS cand_2p,
      |  CAST(SUM(CASE WHEN e.cid IS NOT NULL AND w.crank = 1 AND w.r1 <= 3
      |    THEN 1 ELSE 0 END) AS BIGINT) AS hits_1p,
      |  CAST(SUM(CASE WHEN e.cid IS NOT NULL AND w.r2 <= 3
      |    THEN 1 ELSE 0 END) AS BIGINT) AS hits_2p
      |FROM wr w LEFT JOIN exact e ON w.qid = e.qid AND w.cid = e.cid
      |GROUP BY w.qid ORDER BY w.qid""".stripMargin

  /** Per-dim (min, max) of the corpus packed into ONE broadcastable
    * row — the scalar-quantization training frame the SQ8 pair
    * (v7/v22) shares; previously each restated it verbatim, so a fix
    * (e.g. the constant-dimension guard in [[u8Code]]) could land in
    * one and silently miss the other.
    */
  private def sqStatsPacked(base: DataFrame): DataFrame = base
    .select(posexplode(col("v")))
    .groupBy((col("pos") + 1).as("dim"))
    .agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
    .agg(sort_array(collect_list(struct(col("dim"), col("mn"), col("mx")))).as("s"))
    .select(
      transform(col("s"), c => c.getField("mn")).as("mns"),
      transform(col("s"), c => c.getField("mx")).as("mxs"))

  /** The u8 clamp-floor code of `v[i]` against the packed (mns, mxs)
    * row (constant dimensions code to 0) — ONE definition for both the
    * u8 (v7) and centered-int8 (v22) variants.
    */
  private def u8Code(i: Column): Column =
    when(element_at(col("mxs"), i) > element_at(col("mns"), i),
      least(lit(255.0), greatest(lit(0.0),
        floor(((element_at(col("v"), i) - element_at(col("mns"), i)) * lit(255.0)) /
          (element_at(col("mxs"), i) - element_at(col("mns"), i))))))
      .otherwise(lit(0.0))

  /** Int8 scalar quantization — the compression stage before ANN at
    * 100 TB: per-dimension min/max over the corpus (one aggregation,
    * 64 rows out), then a pure projection mapping every float to a
    * [0,255] level, reported as the quantized checksum plus the worst
    * per-vector reconstruction error in fixed-point. 4x memory and
    * bandwidth off the vector table with a measured error bound.
    *
    * Parity: min/max are order-free (no summation), the quantize/
    * dequantize formulas are written with IDENTICAL operation order in
    * both engines, outputs are integers (floor / fixed-point e6) so no
    * cross-row float summation exists; constant dimensions (mx = mn)
    * quantize to 0 by an explicit guard in BOTH engines rather than
    * relying on engine-specific NaN ordering inside the clamp.
    */
  def v7Quantize(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val packed = sqStatsPacked(base)
    val qExpr = transform(sequence(lit(1), lit(64)), i => u8Code(i))
    val errExpr = transform(sequence(lit(1), lit(64)), i =>
      abs(element_at(col("v"), i) -
        (element_at(col("qv"), i) / lit(255.0) *
          (element_at(col("mxs"), i) - element_at(col("mns"), i)) +
          element_at(col("mns"), i))))
    base.crossJoin(broadcast(packed))
      .select(col("vec_id"), col("v"), col("mns"), col("mxs"), qExpr.as("qv"))
      .select(col("vec_id"), col("qv"), errExpr.as("err"))
      .select(col("vec_id"),
        aggregate(col("qv"), lit(0.0), (acc, x) => acc + x).cast("long").as("sum_q"),
        floor(array_max(col("err")) * lit(1e6)).cast("long").as("max_err_e6"))
      .orderBy(col("vec_id"))
  }

  val v7Sql: String =
    """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |stats AS (SELECT i AS dim, MIN(v[i]) AS mn, MAX(v[i]) AS mx
      |          FROM base, (SELECT unnest(generate_series(1, 64)) i) GROUP BY i),
      |packed AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
      |           FROM stats),
      |qd AS (SELECT vec_id, v, mns, mxs,
      |    list_transform(generate_series(1, 64), i -> CASE WHEN mxs[i] > mns[i]
      |      THEN least(255.0, greatest(0.0,
      |             floor(((v[i] - mns[i]) * 255.0) / (mxs[i] - mns[i]))))
      |      ELSE 0.0 END) AS qv
      |  FROM base, packed),
      |e AS (SELECT vec_id, qv,
      |    list_transform(generate_series(1, 64), i ->
      |      abs(v[i] - (qv[i] / 255.0 * (mxs[i] - mns[i]) + mns[i]))) AS err
      |  FROM qd)
      |SELECT vec_id, CAST(list_sum(qv) AS BIGINT) AS sum_q,
      |  CAST(floor(list_max(err) * 1e6) AS BIGINT) AS max_err_e6
      |FROM e ORDER BY vec_id""".stripMargin

  /** PQ geometry: 64 dims = 4 subspaces x 16 dims. */
  private val PqM = 4
  private val PqSubDim = 16

  /** Product quantization + asymmetric-distance search (v9) — the vector
    * compression stage BETWEEN v7's scalar int8 (4x) and full vectors:
    * each 16-dim subvector is replaced by the id of its nearest
    * sub-codebook centroid, so a vector stores PqM small codes (with a
    * 256-entry codebook, 64 floats -> 4 bytes = 64x). Queries stay
    * full-precision and score against candidate RECONSTRUCTIONS —
    * asymmetric distance, quantization error on one side only.
    *
    * Codebooks here are the per-label means sliced per subspace — the
    * same deterministic fixed-point quantizer v6/v8 use, so the oracle
    * rebuilds them bit-for-bit (a production build would Lloyd-iterate
    * the same assignment pipeline; the iteration count is a config, not
    * a structural change). Scoring reconstructs recon = concat of coded
    * sub-centroids and ranks by exact cosine against recon — LOGICALLY
    * identical to classic LUT-ADC (dot(q, recon) = sum_m LUT_m[code_m]);
    * the per-query lookup table is the broadcast-side micro-optimization
    * of the same math.
    *
    * Scale shape: the whole codebook is PqM x cells sub-vectors — KBs —
    * so it broadcasts as ONE packed row and code assignment becomes a
    * pure projection (argmin fold over the broadcast cells, exactly how
    * production PQ coders run inside the scan): ZERO per-vector
    * shuffles. The scored scan is v1's broadcast-Q x N shape over the
    * coded table, and composes with v6's IVF layout (probe a cell, then
    * ADC-rank inside it — IVF-PQ) for sublinear candidate generation.
    * True cosine rides along per result row, so the quantization loss is
    * measured in-query (v7/v8 discipline), not asserted offline.
    */
  def v9PqAdc(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    // per-label fixed-point means (identical to v6), sliced per subspace
    pqAdcQuery(spark, base, labelMeans(base), withHit = false)
  }

  /** One packed codebook row: book[m+1] = the cells of subspace m, sorted
    * by cell id — the coding fold visits them in that order, so "strictly
    * less" keeps the lowest cell on exact ties (row_number parity).
    * Built from ONE aggregation of the (label, dim, ce9) rows: the
    * sorted flat list has exactly 64 entries per label, so cell ci's
    * subspace-m slice sits at offsets ci*64 + m*16 + (1..16).
    */
  private def pqBook(centLong: DataFrame): DataFrame = centLong
    .groupBy()
    .agg(sort_array(collect_list(
      struct(col("label"), col("dim"), col("ce9")))).as("l"))
    .select(transform(sequence(lit(0), lit(PqM - 1)), m =>
      transform(sequence(lit(0), (size(col("l")) / lit(64)).cast("int") - 1), ci =>
        struct(
          element_at(col("l"), ci * 64 + 1).getField("label").as("cell"),
          transform(sequence(lit(1), lit(PqSubDim)), j =>
            element_at(col("l"), ci * 64 + m * PqSubDim + j)
              .getField("ce9").cast("double") / 1e9).as("csub"))))
      .as("book"))

  /** The PQ coder over columns `v` + broadcast `book`: per subspace, an
    * argmin-L2 fold over the cells; recon = coded sub-centroids
    * concatenated. A pure projection — this is how production PQ coders
    * run inside the scan.
    */
  private def pqRecon: Column =
    flatten(transform(sequence(lit(0), lit(PqM - 1)), m => {
      val sub = slice(col("v"), m * PqSubDim + 1, lit(PqSubDim))
      aggregate(element_at(col("book"), m + 1),
        struct(lit(Double.MaxValue).as("d2"),
          lit(null).cast("array<double>").as("csub")),
        (acc, c) => {
          val diff = zip_with(sub, c.getField("csub"), (a, b) => a - b)
          val d2 = dot(diff, diff)
          when(d2 < acc.getField("d2"),
            struct(d2.as("d2"), c.getField("csub").as("csub")))
            .otherwise(acc)
        },
        acc => acc.getField("csub"))
    }))

  /** Shared PQ-ADC body (v9, v12): code every vector against the
    * codebook built from `centLong`, rank candidates by asymmetric
    * cosine against the reconstruction, carry the true cosine, and
    * optionally flag hits against the exact brute-force top-3
    * (`withHit` — the measured-recall discipline of v8).
    *
    * Coding is a projection (repartition spreads the interpreted
    * lambdas; recon is an aliased projection so CollapseProject cannot
    * inline the fold into every consumer — same HOF hygiene as the
    * near-dup family).
    */
  private def pqAdcQuery(
      spark: SparkSession,
      base: DataFrame,
      centLong: DataFrame,
      withHit: Boolean): DataFrame = {
    val coded = base
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .crossJoin(broadcast(pqBook(centLong)))
      .select(col("vec_id"), col("v"), pqRecon.as("recon"))
    val queries = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qe"),
        norm(col("v")).as("qn"))
    val cands = coded.select(col("vec_id").as("cid"), col("recon"),
      col("v").as("cv"), norm(col("recon")).as("rn"), norm(col("v")).as("cn"))
    val wr = Window.partitionBy(col("qid"))
      .orderBy(col("adc_cosine").desc, col("cid"))
    val ranked = broadcast(queries).join(cands, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (dot(col("qe"), col("recon")) /
          (col("qn") * col("rn"))).as("adc_cosine"),
        (dot(col("qe"), col("cv")) /
          (col("qn") * col("cn"))).as("true_cosine"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("cid"),
        col("adc_cosine"), col("true_cosine"))
    if (!withHit) ranked.orderBy(col("qid"), col("rank"))
    else ranked
      .join(broadcast(exactTop3(base)), Seq("qid", "cid"), "left")
      .select(col("qid"), col("rank"), col("cid"),
        col("adc_cosine"), col("true_cosine"),
        coalesce(col("hit"), lit(0L)).as("exact_hit"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Exact brute-force cosine top-3 per query (vec_id < 10) as (qid,
    * cid, hit=1) — the ground truth every measured-recall query joins
    * against (v8, v12, v13). v1's broadcast-Q x scan-N shape.
    */
  private def exactTop3(base: DataFrame): DataFrame = exactTopK(base, 3)

  private def exactTopK(
      base: DataFrame, k: Int, candFilter: Column = lit(true)): DataFrame = {
    val wq = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    val qfull = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qe"),
        norm(col("v")).as("qn"))
    broadcast(qfull)
      .join(base.filter(candFilter)
          .select(col("vec_id").as("cid"), col("v").as("ce"),
            norm(col("v")).as("cn")),
        col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("cosine"))
      .withColumn("er", row_number().over(wq))
      .filter(col("er") <= k)
      .select(col("qid"), col("cid"), lit(1L).as("hit"))
  }

  val v9Sql: String = {
    val subDot16 = subL2Sql _
    s"""WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |cl AS (
      |  SELECT label, i AS dim,
      |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
      |  FROM base, (SELECT unnest(generate_series(1, 64)) i)
      |  GROUP BY label, i),
      |cent AS (
      |  SELECT label AS cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec
      |  FROM cl GROUP BY label),
      |subc AS (
      |  SELECT cell, m, cvec[(m * $PqSubDim + 1):(m * $PqSubDim + $PqSubDim)] AS csub
      |  FROM cent, (SELECT unnest(generate_series(0, ${PqM - 1})) m)),
      |subs AS (
      |  SELECT vec_id, v, m, v[(m * $PqSubDim + 1):(m * $PqSubDim + $PqSubDim)] AS sub
      |  FROM base, (SELECT unnest(generate_series(0, ${PqM - 1})) m)),
      |codes AS (
      |  SELECT vec_id, v, m, csub FROM (
      |    SELECT s.vec_id, s.v, s.m, c.csub,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
      |        ORDER BY ${subDot16("s.sub", "c.csub")}, c.cell) AS rn
      |    FROM subs s JOIN subc c ON s.m = c.m)
      |  WHERE rn = 1),
      |recon AS (
      |  SELECT vec_id, flatten(list(csub ORDER BY m)) AS recon, any_value(v) AS cv
      |  FROM codes GROUP BY vec_id),
      |q AS (SELECT vec_id AS qid, v AS qe FROM base WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.qid, r.vec_id AS cid,
      |    ${dotSql("q.qe", "r.recon")} /
      |      (sqrt(${dotSql("q.qe", "q.qe")}) * sqrt(${dotSql("r.recon", "r.recon")}))
      |      AS adc_cosine,
      |    ${dotSql("q.qe", "r.cv")} /
      |      (sqrt(${dotSql("q.qe", "q.qe")}) * sqrt(${dotSql("r.cv", "r.cv")}))
      |      AS true_cosine
      |  FROM q JOIN recon r ON q.qid <> r.vec_id)
      |SELECT qid, rank, cid, adc_cosine, true_cosine FROM (
      |  SELECT qid, cid, adc_cosine, true_cosine,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_cosine DESC, cid) AS rank
      |  FROM scored)
      |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  /** One distributed Lloyd (k-means) iteration — the codebook/centroid
    * LEARNING step the IVF (v6/v8) and PQ (v9) quantizers consume:
    * assign every vector to its nearest centroid by L2, then recompute
    * each cell's mean and within-cell inertia. Init is the deterministic
    * label-mean quantizer, so engines (and rounds) agree bit-for-bit;
    * iterating is running the same query on its own output.
    *
    * Scale shape — the canonical "k-means on Spark" plan:
    *  - assignment is a PURE PROJECTION: the centroid set is KBs,
    *    broadcast as one packed row, argmin computed by a fold over the
    *    broadcast cells (no join, no shuffle — same trick as v9's
    *    coder);
    *  - the update step is ONE hash aggregation on (cell, dim) with
    *    map-side partial combine — the only shuffle that scales with
    *    data;
    *  - means and inertia are fixed-point longs (floor e9), so the
    *    cross-row sums that k-means needs are order-free and
    *    oracle-exact — the classic float-summation nondeterminism of
    *    distributed k-means is engineered out rather than tolerated.
    * Output: the first 8 dims of each updated centroid plus membership
    * and inertia per cell (the convergence diagnostics a caller watches
    * between iterations).
    */
  def v10KmeansIter(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    kmeansStep(spark, base, labelMeans(base))
      .filter(col("dim") <= 8)
      .select(col("cell").cast("long").as("cell"),
        col("dim").cast("long").as("dim"),
        col("ce9"), col("n_members"), col("inertia_e9"))
      .orderBy(col("cell"), col("dim"))
  }

  /** Deterministic init for [[kmeansStep]]: per-label fixed-point means
    * as (label, dim, ce9) rows — the same coarse quantizer v6/v8/v9 use.
    */
  private[graft] def labelMeans(base: DataFrame): DataFrame = base
    .select(col("label"), posexplode(col("v")))
    .groupBy(col("label"), (col("pos") + 1).as("dim"))
    .agg(sum(floor(col("col") * lit(1e9)).cast("long")).as("s"),
      count(lit(1)).as("n"))
    .select(col("label"), col("dim"), expr("s DIV n").as("ce9"))

  /** One Lloyd step: assign every `base` vector (columns vec_id, v) to
    * its nearest centroid from `centLong` (columns label, dim, ce9 —
    * 64 dims per label), then recompute per-cell fixed-point means,
    * membership, and assignment inertia. Emits ALL 64 dims per cell, so
    * the output feeds straight back in as the next step's `centLong`
    * (iterate-until-converged is a driver loop over this function;
    * empty cells drop out, as in classic Lloyd).
    */
  private[graft] def kmeansStep(
      spark: SparkSession, base: DataFrame, centLong: DataFrame): DataFrame =
    assignCells(spark, base, centLong)
      .select(col("cell"), col("d2e9"), posexplode(col("v")))
      .groupBy(col("cell"), (col("pos") + 1).as("dim"))
      .agg(sum(floor(col("col") * lit(1e9)).cast("long")).as("s"),
        count(lit(1)).as("n_members"),
        sum(col("d2e9")).as("inertia_e9"))
      .select(col("cell"), col("dim"), expr("s DIV n_members").as("ce9"),
        col("n_members"), col("inertia_e9"))

  /** All centroids of a (label, dim, ce9) frame packed into ONE
    * broadcast row (sorted by cell id so the argmin fold's strictly-less
    * keeps the lowest cell on exact ties).
    */
  private def packedCents(centLong: DataFrame): DataFrame = centLong
    .groupBy()
    .agg(sort_array(collect_list(
      struct(col("label"), col("dim"), col("ce9")))).as("l"))
    .select(transform(
      sequence(lit(0), (size(col("l")) / lit(64)).cast("int") - 1), ci =>
        struct(
          element_at(col("l"), ci * 64 + 1).getField("label").cast("long").as("cell"),
          transform(sequence(lit(1), lit(64)), j =>
            element_at(col("l"), ci * 64 + j)
              .getField("ce9").cast("double") / 1e9).as("cvec")))
      .as("cents"))

  /** Argmin-L2 fold over the broadcast `cents` column against `v`. */
  private def bestCellExpr: Column = aggregate(col("cents"),
    struct(lit(Double.MaxValue).as("d2"), lit(null).cast("long").as("cell")),
    (acc, c) => {
      val diff = zip_with(col("v"), c.getField("cvec"), (a, b) => a - b)
      val d2 = dot(diff, diff)
      when(d2 < acc.getField("d2"),
        struct(d2.as("d2"), c.getField("cell").as("cell")))
        .otherwise(acc)
    })

  /** The assignment half of a Lloyd step: every `base` vector mapped to
    * its nearest `centLong` centroid by L2 — (vec_id, v, cell, d2e9).
    * The centroid set broadcasts packed, making assignment a PURE
    * PROJECTION — no join, no shuffle.
    */
  private def assignCells(
      spark: SparkSession, base: DataFrame, centLong: DataFrame): DataFrame =
    base
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .crossJoin(broadcast(packedCents(centLong)))
      .select(col("vec_id"), col("v"), bestCellExpr.as("best"))
      .select(col("vec_id"), col("v"), col("best").getField("cell").as("cell"),
        floor(col("best").getField("d2") * lit(1e9)).cast("long").as("d2e9"))

  /** Fixed-point means of an assignment (vec_id, v, cell) as (label,
    * dim, ce9) rows — the shape [[assignCells]] consumes, so Lloyd
    * iterates by alternating the two.
    */
  private def cellMeans(assigned: DataFrame): DataFrame =
    labelMeans(assigned.select(col("cell").as("label"), col("v")))

  val v10Sql: String = {
    val l2 = l2Sql _
    s"""WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |cl AS (
      |  SELECT label, i AS dim,
      |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
      |  FROM base, (SELECT unnest(generate_series(1, 64)) i)
      |  GROUP BY label, i),
      |cent AS (
      |  SELECT label AS cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec
      |  FROM cl GROUP BY label),
      |a AS (
      |  SELECT vec_id, v, cell, d2 FROM (
      |    SELECT b.vec_id, b.v, c.cell, ${l2("b.v", "c.cvec")} AS d2,
      |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
      |        ORDER BY ${l2("b.v", "c.cvec")}, c.cell) AS rn
      |    FROM base b, cent c)
      |  WHERE rn = 1)
      |SELECT CAST(cell AS BIGINT) AS cell, CAST(i AS BIGINT) AS dim,
      |  CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9,
      |  COUNT(*) AS n_members,
      |  CAST(SUM(CAST(floor(d2 * 1e9) AS BIGINT)) AS BIGINT) AS inertia_e9
      |FROM a, (SELECT unnest(generate_series(1, 8)) i)
      |GROUP BY cell, i ORDER BY cell, dim""".stripMargin
  }

  /** Lloyd rounds for v11/v12: enough iterations that every fixture SF
    * reaches its FIXED POINT inside the run (observed convergence at
    * iterations 13 / 10 / 23 for sf0.001 / 0.01 / 0.1). Iterating past
    * the fixed point is the identity under fixed-point arithmetic —
    * assignments stop moving, means stop changing — so the trace's
    * stable tail (n_moved = 0, constant inertia) IS the convergence
    * proof, carried in the query result instead of asserted offline.
    */
  private[graft] val KmeansIters = 32

  /** The Lloyd chain: `k` assignment/update rounds from the label-mean
    * init. Returns (per-round trace, final centroids).
    *
    * Iteration shape: the round state is ONE frame (vec_id, v, cell) —
    * the current assignment. Each round computes the means of the
    * CURRENT assignment (one (cell, dim) hash agg), packs them into a
    * broadcast row, and re-assigns in a pure projection that keeps the
    * previous cell alongside the new one — so the round trace (inertia,
    * moved count, live cells) is a single aggregation over that frame,
    * with NO join against the previous round. Only the assignment
    * frame rides a lazy localCheckpoint (round i+1 starts from round
    * i's materialized output instead of replaying the chain — the
    * canonical iterate-on-Spark shape; production checkpoints to
    * durable storage and trains on a sample). n_cells counts via
    * collect_set, avoiding a per-round Expand.
    */
  private def lloydRounds(
      spark: SparkSession, base0: DataFrame, k: Int): (DataFrame, DataFrame) = {
    var cur = base0
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("v"), col("label").cast("long").as("cell"))
      .localCheckpoint(false)
    val rows = Seq.newBuilder[(Long, Long, Long, Long)]
    var last: (Long, Long, Long, Long) = null
    var i = 1
    // eager driver loop — iterative training IS driver-side control flow
    // (the convergence check needs the round's diagnostics on the
    // driver); each round is one distributed job over the checkpointed
    // previous assignment
    while (i <= k && (last == null || last._3 != 0L)) {
      val a = cur
        .crossJoin(broadcast(packedCents(cellMeans(cur))))
        .select(col("vec_id"), col("v"), col("cell").as("pcell"),
          bestCellExpr.as("best"))
        .select(col("vec_id"), col("v"), col("pcell"),
          col("best").getField("cell").as("cell"),
          floor(col("best").getField("d2") * lit(1e9)).cast("long").as("d2e9"))
        .localCheckpoint(false)
      val r = a.agg(
          sum(col("d2e9")).as("inertia_e9"),
          sum(when(col("cell") =!= col("pcell"), 1L).otherwise(0L)).as("n_moved"),
          size(collect_set(col("cell"))).cast("long").as("n_cells"))
        .head()
      last = (i.toLong, r.getLong(0), r.getLong(1), r.getLong(2))
      rows += last
      cur = a.select(col("vec_id"), col("v"), col("cell"))
      i += 1
    }
    // n_moved = 0 is a FIXED POINT: the assignment equals the previous
    // round's, so the means that drive every later round are unchanged —
    // rounds i..k are identities. Their trace rows are synthesized from
    // the converged state instead of scheduling k-i no-op jobs; the
    // oracle runs all k rounds and gets the same rows, which is the
    // identity proof the tail exists to pin down.
    for (j <- i to k) rows += ((j.toLong, last._2, 0L, last._4))
    val trace = spark.createDataFrame(rows.result())
      .toDF("iter", "inertia_e9", "n_moved", "n_cells")
    (trace, cellMeans(cur))
  }

  /** The Lloyd chain at arbitrary codebook size K (SURVEY known gap:
    * "a larger-K (256-cell) codebook is config growth on the same
    * chain" — this is that config knob, demonstrated rather than
    * claimed). Init cells are a deterministic hash shard of vec_id
    * (the random-partition init k-means libraries default to when no
    * labels exist), so K is a free parameter instead of the 10 fixture
    * labels; everything downstream — packed broadcast, argmin fold,
    * per-cell means, trace — is K-agnostic by construction. Returns the
    * per-round trace (iter, inertia_e9, n_moved, n_cells).
    *
    * Scale in K: the broadcast codebook is K x 64 doubles (KBs at 256,
    * still KBs at 4096) and assignment stays a pure projection; the
    * only K-sensitive cost is the fold's K-term argmin per vector —
    * exactly the trade a coarse quantizer makes everywhere.
    */
  def kmeansChainK(
      spark: SparkSession, dir: String, k: Int, iters: Int): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"),
      pmod(col("vec_id"), lit(k.toLong)).as("label"))
    lloydRounds(spark, base, iters)._1
  }

  /** Train-once, read-many: the Lloyd chain's two artifacts (per-round
    * trace, learned centroids) persist as fingerprint-scoped catalog
    * tables — v11 reports the trace, v12 loads the codebook, and every
    * later construction in the session re-reads instead of re-training
    * (the [[graft.operators.PersistedIndex]] discipline; exactly how a
    * production pipeline ships a trained codebook to its consumers).
    * The trace table writes FIRST: the centroid table is the existence
    * marker [[graft.operators.PersistedIndex.ensure]] checks, so a
    * partial build can never be mistaken for a finished one.
    */
  private def lloydArtifacts(
      spark: SparkSession, dir: String, base: DataFrame): (DataFrame, DataFrame) = {
    val sources = Seq(s"$dir/embeddings.parquet")
    val params = s"iters=$KmeansIters"
    val centTable = graft.operators.PersistedIndex.ensure(
      spark, "graft_kmeans_cent", dir, sources, params) { table =>
      val (trace, cent) = lloydRounds(spark, base, KmeansIters)
      trace.write.format("parquet").saveAsTable(s"${table}_trace")
      cent.write.format("parquet").saveAsTable(table)
    }
    val traceName = graft.operators.PersistedIndex.scopedName(
      spark, "graft_kmeans_cent", dir, sources, params) + "_trace"
    (spark.table(traceName), centTable)
  }

  /** k-means driven to its fixed point (VERDICT r4 #4) — the convergence
    * trace of [[KmeansIters]] Lloyd rounds: per round, the assignment
    * inertia (fixed-point), how many vectors changed cells vs the
    * previous round, and the live cell count. Inertia is non-increasing
    * and n_moved hits 0 before the run ends on every fixture — the tail
    * rows then repeat verbatim, proving the fixed point inside the
    * oracle-checked result. Per-round cost is one broadcast-fold
    * projection (assignment) + one (cell, dim) hash agg (update) — the
    * v10 shape, k times.
    */
  def v11KmeansConverged(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    lloydArtifacts(spark, dir, base)._1.orderBy(col("iter"))
  }

  val v11Sql: String = {
    val l2 = l2Sql _
    val sb = Seq.newBuilder[String]
    // MATERIALIZED: DuckDB inlines single-reference CTEs, which nests 32
    // window passes into one expression tree; materializing keeps the
    // chain linear (1-2 s) instead of combinatorial (minutes)
    sb += "base AS MATERIALIZED (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings)"
    sb += """cl0 AS MATERIALIZED (
      |  SELECT CAST(label AS BIGINT) AS cell, i AS dim,
      |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
      |  FROM base, (SELECT unnest(generate_series(1, 64)) i) GROUP BY label, i)""".stripMargin
    sb += "a0 AS MATERIALIZED (SELECT vec_id, CAST(label AS BIGINT) AS cell FROM base)"
    for (i <- 1 to KmeansIters) {
      val p = i - 1
      sb += s"cent$p AS MATERIALIZED (SELECT cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec FROM cl$p GROUP BY cell)"
      sb += s"""a$i AS MATERIALIZED (
        |  SELECT vec_id, v, cell, d2 FROM (
        |    SELECT b.vec_id, b.v, c.cell, ${l2("b.v", "c.cvec")} AS d2,
        |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY ${l2("b.v", "c.cvec")}, c.cell) AS rn
        |    FROM base b, cent$p c) WHERE rn = 1)""".stripMargin
      sb += s"""t$i AS (
        |  SELECT CAST($i AS BIGINT) AS iter,
        |    CAST(SUM(CAST(floor(a.d2 * 1e9) AS BIGINT)) AS BIGINT) AS inertia_e9,
        |    CAST(SUM(CASE WHEN a.cell <> pr.cell THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
        |    CAST(COUNT(DISTINCT a.cell) AS BIGINT) AS n_cells
        |  FROM a$i a JOIN a$p pr USING (vec_id))""".stripMargin
      if (i < KmeansIters)
        sb += s"""cl$i AS MATERIALIZED (
          |  SELECT cell, i AS dim,
          |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
          |  FROM a$i, (SELECT unnest(generate_series(1, 64)) i) GROUP BY cell, i)""".stripMargin
    }
    "WITH " + sb.result().mkString(",\n") + "\n" +
      (1 to KmeansIters).map(i => s"SELECT * FROM t$i").mkString(" UNION ALL ") +
      " ORDER BY iter"
  }

  /** PQ-ADC over a LEARNED codebook (VERDICT r4 #4, second half): the
    * converged centroids from [[lloydRounds]] replace v9's label-mean
    * init as the product-quantization codebook, and every result row
    * carries `exact_hit` — whether the ADC-ranked candidate is in the
    * true brute-force top-3 (v8's measured-recall discipline). Same
    * scale shape as v9: the codebook broadcasts as one packed row,
    * coding is a projection, scoring is broadcast-Q x N.
    */
  def v12PqLearned(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    pqAdcQuery(spark, base, lloydArtifacts(spark, dir, base)._2,
      withHit = true)
  }

  val v12Sql: String = {
    val l2 = l2Sql _
    val subL2 = subL2Sql _
    val K = KmeansIters
    val sb = Seq.newBuilder[String]
    sb += "base AS MATERIALIZED (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings)"
    sb += """cl0 AS MATERIALIZED (
      |  SELECT CAST(label AS BIGINT) AS cell, i AS dim,
      |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
      |  FROM base, (SELECT unnest(generate_series(1, 64)) i) GROUP BY label, i)""".stripMargin
    for (i <- 1 to K) {
      val p = i - 1
      sb += s"cent$p AS MATERIALIZED (SELECT cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec FROM cl$p GROUP BY cell)"
      sb += s"""a$i AS MATERIALIZED (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT b.vec_id, b.v, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY ${l2("b.v", "c.cvec")}, c.cell) AS rn
        |    FROM base b, cent$p c) WHERE rn = 1)""".stripMargin
      sb += s"""cl$i AS MATERIALIZED (
        |  SELECT cell, i AS dim,
        |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
        |  FROM a$i, (SELECT unnest(generate_series(1, 64)) i) GROUP BY cell, i)""".stripMargin
    }
    sb += s"centL AS (SELECT cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec FROM cl$K GROUP BY cell)"
    sb += s"subc AS (SELECT cell, m, cvec[(m * $PqSubDim + 1):(m * $PqSubDim + $PqSubDim)] AS csub FROM centL, (SELECT unnest(generate_series(0, ${PqM - 1})) m))"
    sb += s"subs AS (SELECT vec_id, v, m, v[(m * $PqSubDim + 1):(m * $PqSubDim + $PqSubDim)] AS sub FROM base, (SELECT unnest(generate_series(0, ${PqM - 1})) m))"
    sb += s"""codes AS (
      |  SELECT vec_id, v, m, csub FROM (
      |    SELECT s.vec_id, s.v, s.m, c.csub,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
      |        ORDER BY ${subL2("s.sub", "c.csub")}, c.cell) AS rn
      |    FROM subs s JOIN subc c ON s.m = c.m) WHERE rn = 1)""".stripMargin
    sb += "recon AS MATERIALIZED (SELECT vec_id, flatten(list(csub ORDER BY m)) AS recon, any_value(v) AS cv FROM codes GROUP BY vec_id)"
    sb += "q AS (SELECT vec_id AS qid, v AS qe FROM base WHERE vec_id < 10)"
    sb += s"""scored AS (
      |  SELECT q.qid, r.vec_id AS cid,
      |    ${dotSql("q.qe", "r.recon")} /
      |      (sqrt(${dotSql("q.qe", "q.qe")}) * sqrt(${dotSql("r.recon", "r.recon")})) AS adc_cosine,
      |    ${dotSql("q.qe", "r.cv")} /
      |      (sqrt(${dotSql("q.qe", "q.qe")}) * sqrt(${dotSql("r.cv", "r.cv")})) AS true_cosine
      |  FROM q JOIN recon r ON q.qid <> r.vec_id)""".stripMargin
    sb += s"nb AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) nrm FROM base)"
    sb += s"""exact AS (
      |  SELECT qid, cid FROM (
      |    SELECT a.vec_id qid, b.vec_id cid,
      |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |        ORDER BY ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) DESC, b.vec_id) er
      |    FROM nb a JOIN nb b ON a.vec_id < 10 AND a.vec_id <> b.vec_id) WHERE er <= 3)""".stripMargin
    "WITH " + sb.result().mkString(",\n") + """
      |SELECT qid, rank, cid, adc_cosine, true_cosine, exact_hit FROM (
      |  SELECT s.qid, s.cid, s.adc_cosine, s.true_cosine,
      |    ROW_NUMBER() OVER (PARTITION BY s.qid ORDER BY s.adc_cosine DESC, s.cid) AS rank,
      |    CAST(CASE WHEN e.cid IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS exact_hit
      |  FROM scored s LEFT JOIN exact e ON s.qid = e.qid AND s.cid = e.cid)
      |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  /** IVF-PQ (VERDICT r4 #5): v6's inverted-file cell layout composed
    * with v9's PQ codes in ONE query. Vectors live in their max-dot home
    * cell AND carry a PQ code; a query probes only its own cell and
    * ranks that cell's candidates by asymmetric distance against the PQ
    * reconstructions, with `exact_hit` measuring recall against the
    * brute-force top-3 in the result itself. This is the sublinear
    * production ANN shape: candidate generation is one shuffle on the
    * cell id (the bucketing key at 100 TB), scoring touches ~N/cells
    * candidates per query through 64x-compressed codes, and both the
    * centroid table and the codebook broadcast.
    */
  def v13IvfPq(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val cent = labelMeans(base)
    val assigned = ivfRanked(base, cent, maxRank = 1)
    val coded = assigned
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .crossJoin(broadcast(pqBook(cent)))
      .select(col("vec_id"), col("v"), col("cell"), pqRecon.as("recon"))
    val queries = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qe"), col("cell"),
        norm(col("v")).as("qn"))
    val cands = coded.select(col("vec_id").as("cid"), col("recon"),
      col("v").as("cv"), col("cell"),
      norm(col("recon")).as("rn"), norm(col("v")).as("cn"))
    val wr = Window.partitionBy(col("qid"))
      .orderBy(col("adc_cosine").desc, col("cid"))
    broadcast(queries).join(cands, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (dot(col("qe"), col("recon")) /
          (col("qn") * col("rn"))).as("adc_cosine"),
        (dot(col("qe"), col("cv")) /
          (col("qn") * col("cn"))).as("true_cosine"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 3)
      .join(broadcast(exactTop3(base)), Seq("qid", "cid"), "left")
      .select(col("qid"), col("rank").cast("long").as("rank"), col("cid"),
        col("adc_cosine"), col("true_cosine"),
        coalesce(col("hit"), lit(0L)).as("exact_hit"))
      .orderBy(col("qid"), col("rank"))
  }

  val v13Sql: String = {
    val subL2 = subL2Sql _
    s"""WITH base AS MATERIALIZED (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |cl AS (
      |  SELECT label, i AS dim,
      |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
      |  FROM base, (SELECT unnest(generate_series(1, 64)) i)
      |  GROUP BY label, i),
      |cent AS (
      |  SELECT label AS cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec
      |  FROM cl GROUP BY label),
      |assigned AS MATERIALIZED (
      |  SELECT vec_id, v, cell FROM (
      |    SELECT b.vec_id, b.v, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
      |        ORDER BY ${dotSql("b.v", "c.cvec")} DESC, c.cell) AS rn
      |    FROM base b, cent c)
      |  WHERE rn = 1),
      |subc AS (
      |  SELECT cell, m, cvec[(m * $PqSubDim + 1):(m * $PqSubDim + $PqSubDim)] AS csub
      |  FROM cent, (SELECT unnest(generate_series(0, ${PqM - 1})) m)),
      |subs AS (
      |  SELECT vec_id, v, m, v[(m * $PqSubDim + 1):(m * $PqSubDim + $PqSubDim)] AS sub
      |  FROM base, (SELECT unnest(generate_series(0, ${PqM - 1})) m)),
      |codes AS (
      |  SELECT vec_id, m, csub FROM (
      |    SELECT s.vec_id, s.m, c.csub,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
      |        ORDER BY ${subL2("s.sub", "c.csub")}, c.cell) AS rn
      |    FROM subs s JOIN subc c ON s.m = c.m)
      |  WHERE rn = 1),
      |recon AS MATERIALIZED (
      |  SELECT vec_id, flatten(list(csub ORDER BY m)) AS recon
      |  FROM codes GROUP BY vec_id),
      |q AS (SELECT a.vec_id AS qid, a.v AS qe, a.cell FROM assigned a WHERE a.vec_id < 10),
      |cands AS (
      |  SELECT a.vec_id AS cid, r.recon, a.v AS cv, a.cell
      |  FROM assigned a JOIN recon r ON a.vec_id = r.vec_id),
      |scored AS (
      |  SELECT q.qid, c.cid,
      |    ${dotSql("q.qe", "c.recon")} /
      |      (sqrt(${dotSql("q.qe", "q.qe")}) * sqrt(${dotSql("c.recon", "c.recon")})) AS adc_cosine,
      |    ${dotSql("q.qe", "c.cv")} /
      |      (sqrt(${dotSql("q.qe", "q.qe")}) * sqrt(${dotSql("c.cv", "c.cv")})) AS true_cosine
      |  FROM q JOIN cands c ON q.cell = c.cell AND q.qid <> c.cid),
      |nb AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) nrm FROM base),
      |exact AS (
      |  SELECT qid, cid FROM (
      |    SELECT a.vec_id qid, b.vec_id cid,
      |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |        ORDER BY ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) DESC, b.vec_id) er
      |    FROM nb a JOIN nb b ON a.vec_id < 10 AND a.vec_id <> b.vec_id) WHERE er <= 3)
      |SELECT qid, rank, cid, adc_cosine, true_cosine, exact_hit FROM (
      |  SELECT s.qid, s.cid, s.adc_cosine, s.true_cosine,
      |    ROW_NUMBER() OVER (PARTITION BY s.qid ORDER BY s.adc_cosine DESC, s.cid) AS rank,
      |    CAST(CASE WHEN e.cid IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS exact_hit
      |  FROM scored s LEFT JOIN exact e ON s.qid = e.qid AND s.cid = e.cid)
      |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic near-dup
    * REMOVAL via embedding clusters — cluster the corpus with the coarse
    * quantizer, compare pairs only WITHIN a cluster, connect pairs above
    * the cosine threshold into duplicate groups, keep one representative
    * (min id) per group. Completes the dedup family's decision stage:
    * d1/d5/d6/d7 find duplicates, d12 clusters exact/fingerprint dups —
    * this is the same clustering discipline over SEMANTIC similarity.
    *
    * Fixture note: like v2/v5, the corpus plants a near-clone of every
    * vector (random vectors have no semantic dups); clone pairs measure
    * cosine ≈ 0.999 while the hottest unrelated within-cell pair is
    * < 0.6 at every fixture SF, so the 0.95 threshold is decisive.
    *
    * Scale shape: candidate generation is the IVF cell equi-join (one
    * shuffle on cell id — never all-pairs; the cell count is the knob
    * that bounds within-cell pair volume at 100 TB), the duplicate
    * groups come from the same large-star/small-star O(log² n) rounds
    * as d12 (executor-local checkpoint rounds here — the edge set is
    * candidate-pair-sized, not corpus-sized; d12 demonstrates the
    * durable-table round store), and the keeper rule (min vec_id) is
    * order-independent.
    */
  def v14SemDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val all = cloneAugmented(spark, dir, base)
    // centroids learned from the ORIGINAL corpus only; everything
    // (clones included) is assigned by the same broadcast argmax
    val assigned = ivfRanked(all, labelMeans(base), maxRank = 1)
      .select(col("vec_id"), col("v"), col("cell"), norm(col("v")).as("nrm"))
    val cos = (dot(col("a.v"), col("b.v")) /
      (col("a.nrm") * col("b.nrm"))).as("cosine")
    val edges = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"), cos)
      .filter(col("cosine") >= 0.95)
      .select(col("src"), col("dst"))
    // The duplicate-group labels depend only on (corpus, threshold), so
    // they ride the persisted-index discipline (VERDICT r5 item 5): the
    // first pass pays the CC fixpoint (durable round tables for executor
    // loss), every later pass — the second bench pass, a downstream
    // purge-manifest consumer — reads the labels back from bucketed
    // parquet. The round store is reclaimed once the labels are written.
    val labels = graft.operators.PersistedIndex.ensure(
      spark, "graft_cc_v14", dir,
      sources = Seq(s"$dir/embeddings.parquet"),
      params = "semdedup cos=0.95") { table =>
      val store = graft.operators.ConnectedComponents.freshTableRounds(spark, "cc_v14")
      graft.operators.Bucketing.alignedBucketed(
          graft.operators.ConnectedComponents.run(
            all.select(col("vec_id").as("id")), edges, store = store),
          Seq("id"), Seq("id"))
        .saveAsTable(table)
      store.reset()
    }
    val sizes = labels.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "comp")
      .filter(col("cluster_size") >= 2)
      .select(col("comp").as("cluster_id"), col("id").as("vec_id"),
        col("cluster_size"),
        when(col("comp") === col("id"), 1L).otherwise(0L).as("keep"))
      .orderBy(col("cluster_id"), col("vec_id"))
  }

  val v14Sql: String =
    s"""WITH RECURSIVE base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |e AS MATERIALIZED (
      |  ${cloneUnionSql("base")}),
      |cl AS (
      |  SELECT label, i AS dim,
      |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
      |  FROM base, (SELECT unnest(generate_series(1, 64)) i)
      |  GROUP BY label, i),
      |cent AS (
      |  SELECT label AS cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec
      |  FROM cl GROUP BY label),
      |assigned AS MATERIALIZED (
      |  SELECT vec_id, v, cell FROM (
      |    SELECT b.vec_id, b.v, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
      |        ORDER BY ${dotSql("b.v", "c.cvec")} DESC, c.cell) AS rn
      |    FROM e b, cent c) WHERE rn = 1),
      |n AS MATERIALIZED (SELECT vec_id, v, cell, sqrt(${dotSql("v", "v")}) nrm FROM assigned),
      |edges AS MATERIALIZED (
      |  SELECT a.vec_id AS src, b.vec_id AS dst
      |  FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.95),
      |sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
      |walk(id, comp) AS (
      |  SELECT vec_id, vec_id FROM e
      |  UNION
      |  SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.id),
      |cc AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id),
      |sized AS (
      |  SELECT comp AS cluster_id, id AS vec_id,
      |    COUNT(*) OVER (PARTITION BY comp) AS cluster_size
      |  FROM cc)
      |SELECT cluster_id, vec_id, cluster_size,
      |  CAST(CASE WHEN cluster_id = vec_id THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM sized WHERE cluster_size >= 2 ORDER BY cluster_id, vec_id""".stripMargin

  private val JlDims = 16

  /** Johnson–Lindenstrauss random projection (64 -> 16 dims) with
    * in-query measured recall — the dimensionality-REDUCTION stage of the
    * ANN family (v7 shrinks precision, v9 shrinks via codebooks; v15
    * shrinks the dimension itself). Each output dim j is a signed dot
    * against a +/-1 hyperplane whose weights come from bit d of
    * md5("jl:j") — folded to literal arrays at plan time, so projection
    * is a pure shuffle-free PROJECTION over the corpus (16 codegen'd
    * VecDotFold loops per row) and both engines replay identical
    * arithmetic. Scoring then runs entirely in 16-dim space: 4x less
    * compute and bandwidth per candidate pair, the win that compounds
    * with IVF cell pruning at 100 TB.
    *
    * Recall vs the exact 64-dim top-5 is measured in-query (v8's
    * pattern). The fixture's random vectors are near-orthogonal, so (as
    * v2/v5 do) a planted clone per vector makes the measurement
    * non-vacuous: every query's rank-1 projected neighbor IS its clone —
    * JL provably preserves the near-duplicate — while the noise tail
    * shows the distortion a 4x reduction costs on uncorrelated vectors.
    */
  def v15RandomProjection(spark: SparkSession, dir: String): DataFrame = {
    val b0 = emb(spark, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val base = cloneAugmented(spark, dir, b0)
    val pv = array((0 until JlDims).map { j =>
      val h = H.md5NumberLowerLocal(s"jl:$j")
      val weights = array((0 until 64).map(d =>
        lit((((h >> d) & 1L) * 2 - 1).toDouble)): _*)
      dot(col("v"), weights)
    }: _*)
    val n = base.select(col("vec_id"), pv.as("pv"))
      .withColumn("pn", sqrt(dot(col("pv"), col("pv"))))
    val queries = n.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("pv").as("qpv"), col("pn").as("qpn"))
    val cands = n.select(col("vec_id").as("cid"), col("pv").as("cpv"),
      col("pn").as("cpn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("pcos").desc, col("cid"))
    broadcast(queries).join(cands, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (dot(col("qpv"), col("cpv")) / (col("qpn") * col("cpn"))).as("pcos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .join(broadcast(exactTopK(base, K)), Seq("qid", "cid"), "left")
      .select(col("qid"), col("rank").cast("long").as("rank"), col("cid"),
        col("pcos"), coalesce(col("hit"), lit(0L)).as("exact_hit"))
      .orderBy(col("qid"), col("rank"))
  }

  val v15Sql: String = {
    val dot16 = (a: String, b: String) =>
      s"""list_reduce(list_transform(generate_series(1, $JlDims),
         |    i -> $a[i] * $b[i]), (acc, x) -> acc + x)""".stripMargin
    val proj = (0 until JlDims).map { j =>
      val h = H.md5NumberLowerLocal(s"jl:$j")
      s"""list_reduce(list_transform(generate_series(1, 64),
         |    i -> v[i] * ((((CAST($h AS BIGINT)) >> (i - 1)) & 1) * 2 - 1)),
         |    (acc, x) -> acc + x)""".stripMargin
    }.mkString(",\n  ")
    s"""WITH b0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |base AS (
      |  ${cloneUnionSql("b0")}),
      |p AS (SELECT vec_id, v, [$proj] AS pv FROM base),
      |n AS (SELECT vec_id, pv, sqrt(${dot16("pv", "pv")}) pn FROM p),
      |scored AS (
      |  SELECT q.vec_id qid, c.vec_id cid,
      |    ${dot16("q.pv", "c.pv")} / (q.pn * c.pn) AS pcos
      |  FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
      |ranked AS (
      |  SELECT qid, cid, pcos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY pcos DESC, cid) rank
      |  FROM scored),
      |nb AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) nrm FROM base),
      |exact AS (
      |  SELECT qid, cid FROM (
      |    SELECT a.vec_id qid, b.vec_id cid,
      |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |        ORDER BY ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) DESC, b.vec_id) er
      |    FROM nb a JOIN nb b ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
      |  WHERE er <= $K)
      |SELECT r.qid, r.rank, r.cid, r.pcos,
      |  CAST(CASE WHEN e.cid IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS exact_hit
      |FROM ranked r LEFT JOIN exact e ON r.qid = e.qid AND r.cid = e.cid
      |WHERE r.rank <= $K
      |ORDER BY r.qid, r.rank""".stripMargin
  }

  /** v16: metadata-FILTERED ANN — the hybrid-search shape every vector
    * store grew in the last few years (a predicate narrows the corpus;
    * top-k runs among survivors only). Strategy here is post-filtered
    * IVF: vectors live in their v6 home cells, each query probes its
    * top-2 cells (v8's layout), and the metadata predicate
    * (`vec_id % 3 = 0`, deliberately UNCORRELATED with cell geometry —
    * a label-correlated filter would make cells all-in/all-out) prunes
    * candidates BEFORE scoring, so the filter rides the cell equi-join
    * as a pushed scan predicate instead of a post-rank discard. Recall
    * is measured in-query against the exact FILTERED brute-force top-3
    * (the correct ground truth — unfiltered top-3 members that fail the
    * predicate are not retrievable by any filtered search).
    *
    * Scale shape: identical to v8 — broadcast centroid table, one
    * exchange on the cell id; filtering only thins the candidate side.
    * The known failure mode this query measures: selective filters
    * empty out probed cells (cand_flt collapses) — at which point a
    * production run raises nprobe, which multiplies only query-side
    * fan-out, not the data layout.
    */
  def v16FilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val ranked = ivfRanked(base, labelMeans(base), maxRank = 2)
    val cands = ranked
      .filter(col("crank") === 1 && pmod(col("vec_id"), lit(3L)) === 0)
      .select(col("vec_id").as("cid"), col("v").as("ce"), col("cell"),
        norm(col("v")).as("cn"))
    val queries = ranked.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qe"), col("cell"),
        norm(col("v")).as("qn"))
    val wq = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    val approx = broadcast(queries).join(cands, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("cosine"))
      .withColumn("r", row_number().over(wq))
    val exactFlt = exactTopK(base, 3, pmod(col("vec_id"), lit(3L)) === 0)
    approx.join(broadcast(exactFlt), Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("cand_flt"),
        sum(when(col("hit") === 1 && col("r") <= 3, 1L).otherwise(0L))
          .as("hits_at_3"))
      .orderBy(col("qid"))
  }

  val v16Sql: String =
    s"""WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |cl AS (
      |  SELECT label, i AS dim,
      |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
      |  FROM base, (SELECT unnest(generate_series(1, 64)) i)
      |  GROUP BY label, i),
      |cent AS (
      |  SELECT label AS cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec
      |  FROM cl GROUP BY label),
      |ranked AS (
      |  SELECT vec_id, v, cell, rn AS crank FROM (
      |    SELECT b.vec_id, b.v, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
      |        ORDER BY ${dotSql("b.v", "c.cvec")} DESC, c.cell) AS rn
      |    FROM base b, cent c)
      |  WHERE rn <= 2),
      |n AS (SELECT vec_id, v, cell, crank, sqrt(${dotSql("v", "v")}) nrm FROM ranked),
      |cands AS (SELECT vec_id cid, v, nrm, cell FROM n
      |          WHERE crank = 1 AND vec_id % 3 = 0),
      |q AS (SELECT vec_id qid, v, nrm, cell FROM n WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.qid, c.cid,
      |    ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cosine
      |  FROM q JOIN cands c ON q.cell = c.cell AND q.qid <> c.cid),
      |wr AS (
      |  SELECT qid, cid,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS r
      |  FROM scored),
      |nb AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) nrm FROM base),
      |exact AS (
      |  SELECT qid, cid FROM (
      |    SELECT a.vec_id qid, b.vec_id cid,
      |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |        ORDER BY ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) DESC, b.vec_id) er
      |    FROM nb a JOIN nb b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
      |      AND b.vec_id % 3 = 0)
      |  WHERE er <= 3)
      |SELECT w.qid, COUNT(*) AS cand_flt,
      |  CAST(SUM(CASE WHEN e.cid IS NOT NULL AND w.r <= 3
      |    THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_3
      |FROM wr w LEFT JOIN exact e ON w.qid = e.qid AND w.cid = e.cid
      |GROUP BY w.qid ORDER BY w.qid""".stripMargin

  /** v17: residual-encoded IVF-PQ — the classic IVFADC layout (Jégou et
    * al. 2011, "Product quantization for nearest neighbor search", §IV):
    * vectors quantize AROUND their home centroid, i.e. PQ codes the
    * RESIDUAL v - c(cell) instead of v itself, and reconstruction is
    * c(cell) + recon(residual). Residuals concentrate near zero, so the
    * same 4x16-dim codebook budget spends its entries on a much smaller
    * ball than v13's direct coding — the accuracy side of the trade is
    * measured in-query (`exact_hit` vs the brute-force top-3, directly
    * comparable with v13's column-identical output). The residual
    * sub-codebooks are per-label residual means — the same deterministic
    * label-derived discipline as v9/v13's codebooks, one extra
    * aggregation pass in residual space (a learned variant would drive
    * v11's Lloyd loop over residuals; the plan shape is identical).
    *
    * Scale shape: assignment + residual is one broadcast-centroid
    * projection (localCheckpointed once, read by the codebook build,
    * the candidate side, and the query side), coding is a pure
    * projection against the broadcast codebook, candidate generation is
    * the cell equi-join — v13's sublinear probe, unchanged. Nothing
    * new shuffles: the residual trick is free at 100 TB.
    */
  def v17IvfAdcResidual(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val centLong = labelMeans(base)
    val assigned = ivfRanked(base, centLong, maxRank = 1,
        keep = Seq("label", "cvec"))
      .withColumn("r", zip_with(col("v"), col("cvec"), (a, b) => a - b))
    val resLong = labelMeans(assigned.select(col("label"), col("r").as("v")))
    val coded = assigned
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("cell"), col("cvec"),
        col("v").as("cv"), col("r").as("v"))
      .crossJoin(broadcast(pqBook(resLong)))
      .select(col("vec_id").as("cid"), col("cell"), col("cv"),
        zip_with(col("cvec"), pqRecon, (a, b) => a + b).as("recon"))
      .withColumn("rn", norm(col("recon")))
      .withColumn("cn", norm(col("cv")))
    val queries = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qe"), col("cell"),
        norm(col("v")).as("qn"))
    val wr = Window.partitionBy(col("qid"))
      .orderBy(col("adc_cosine").desc, col("cid"))
    broadcast(queries).join(coded, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (dot(col("qe"), col("recon")) /
          (col("qn") * col("rn"))).as("adc_cosine"),
        (dot(col("qe"), col("cv")) /
          (col("qn") * col("cn"))).as("true_cosine"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 3)
      .join(broadcast(exactTop3(base)), Seq("qid", "cid"), "left")
      .select(col("qid"), col("rank").cast("long").as("rank"), col("cid"),
        col("adc_cosine"), col("true_cosine"),
        coalesce(col("hit"), lit(0L)).as("exact_hit"))
      .orderBy(col("qid"), col("rank"))
  }

  val v17Sql: String = {
    val subL2 = subL2Sql _
    s"""WITH base AS MATERIALIZED (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |cl AS (
      |  SELECT label, i AS dim,
      |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
      |  FROM base, (SELECT unnest(generate_series(1, 64)) i)
      |  GROUP BY label, i),
      |cent AS (
      |  SELECT label AS cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec
      |  FROM cl GROUP BY label),
      |assigned AS MATERIALIZED (
      |  SELECT vec_id, label, v, cell, cvec,
      |    list_transform(generate_series(1, 64), i -> v[i] - cvec[i]) AS r
      |  FROM (
      |    SELECT b.vec_id, b.label, b.v, c.cell, c.cvec,
      |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
      |        ORDER BY ${dotSql("b.v", "c.cvec")} DESC, c.cell) AS rn
      |    FROM base b, cent c)
      |  WHERE rn = 1),
      |rl AS (
      |  SELECT label, i AS dim,
      |    CAST(SUM(CAST(floor(r[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS re9
      |  FROM assigned, (SELECT unnest(generate_series(1, 64)) i)
      |  GROUP BY label, i),
      |rcent AS (
      |  SELECT label AS rcell, list(CAST(re9 AS DOUBLE) / 1e9 ORDER BY dim) AS rvec
      |  FROM rl GROUP BY label),
      |subc AS (
      |  SELECT rcell, m, rvec[(m * $PqSubDim + 1):(m * $PqSubDim + $PqSubDim)] AS csub
      |  FROM rcent, (SELECT unnest(generate_series(0, ${PqM - 1})) m)),
      |subs AS (
      |  SELECT vec_id, m, r[(m * $PqSubDim + 1):(m * $PqSubDim + $PqSubDim)] AS sub
      |  FROM assigned, (SELECT unnest(generate_series(0, ${PqM - 1})) m)),
      |codes AS (
      |  SELECT vec_id, m, csub FROM (
      |    SELECT s.vec_id, s.m, c.csub,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
      |        ORDER BY ${subL2("s.sub", "c.csub")}, c.rcell) AS rn
      |    FROM subs s JOIN subc c ON s.m = c.m)
      |  WHERE rn = 1),
      |recon AS MATERIALIZED (
      |  SELECT a.vec_id,
      |    list_transform(generate_series(1, 64),
      |      i -> a.cvec[i] + rr.rres[i]) AS recon
      |  FROM assigned a JOIN (
      |    SELECT vec_id, flatten(list(csub ORDER BY m)) AS rres
      |    FROM codes GROUP BY vec_id) rr ON a.vec_id = rr.vec_id),
      |q AS (SELECT a.vec_id AS qid, a.v AS qe, a.cell FROM assigned a WHERE a.vec_id < 10),
      |cands AS (
      |  SELECT a.vec_id AS cid, r.recon, a.v AS cv, a.cell
      |  FROM assigned a JOIN recon r ON a.vec_id = r.vec_id),
      |scored AS (
      |  SELECT q.qid, c.cid,
      |    ${dotSql("q.qe", "c.recon")} /
      |      (sqrt(${dotSql("q.qe", "q.qe")}) * sqrt(${dotSql("c.recon", "c.recon")})) AS adc_cosine,
      |    ${dotSql("q.qe", "c.cv")} /
      |      (sqrt(${dotSql("q.qe", "q.qe")}) * sqrt(${dotSql("c.cv", "c.cv")})) AS true_cosine
      |  FROM q JOIN cands c ON q.cell = c.cell AND q.qid <> c.cid),
      |nb AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) nrm FROM base),
      |exact AS (
      |  SELECT qid, cid FROM (
      |    SELECT a.vec_id qid, b.vec_id cid,
      |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |        ORDER BY ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) DESC, b.vec_id) er
      |    FROM nb a JOIN nb b ON a.vec_id < 10 AND a.vec_id <> b.vec_id) WHERE er <= 3)
      |SELECT qid, rank, cid, adc_cosine, true_cosine, exact_hit FROM (
      |  SELECT s.qid, s.cid, s.adc_cosine, s.true_cosine,
      |    ROW_NUMBER() OVER (PARTITION BY s.qid ORDER BY s.adc_cosine DESC, s.cid) AS rank,
      |    CAST(CASE WHEN e.cid IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS exact_hit
      |  FROM scored s LEFT JOIN exact e ON s.qid = e.qid AND s.cid = e.cid)
      |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  /** v18: ANN over a VERSIONED vector corpus — the bridge between the
    * engine's two halves. Real vector stores take upserts and deletes;
    * search must never return a tombstoned vector or a stale version.
    * Here the embedding table becomes a CDC log (planted: every
    * 97th vec re-embedded as its negation at `_ver` 1, every 101st
    * tombstoned), the replication engine's latest-version-wins +
    * soft-delete collapse ([[graft.operators.ReplicaTable.current]] —
    * the exact ArgMaxRow operator the CDC replica uses, V1+V2 of the
    * reference's semantics) produces the CURRENT view, and v1's
    * brute-force cosine top-3 runs over it. Query 0 is itself
    * tombstoned — the result visibly loses that query block — and the
    * negated vectors re-rank their neighborhoods, so staleness would be
    * caught by the value-exact oracle, not just row counts.
    *
    * Scale shape: the collapse is ONE hash shuffle on vec_id (no sort,
    * ObjectHashAggregate), scoring stays v1's broadcast-Q x scan-N over
    * the current view; composing with v6/v13's cell layout instead of
    * the exhaustive scan changes nothing about the versioning step.
    */
  def v18VersionedAnn(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"),
      lit(0L).as("_ver"), lit(0).as("_deleted"))
    val upd = base.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id"), transform(col("v"), x => negate(x)).as("v"),
        lit(1L).as("_ver"), lit(0).as("_deleted"))
    // deletes land at _ver 2: vec_id 0 matches BOTH plants (0 % 97 and
    // 0 % 101 are 0), and a _ver tie between an update and a tombstone
    // would make the winner engine-dependent
    val del = base.filter(col("vec_id") % 101 === 0)
      .select(col("vec_id"), col("v"), lit(2L).as("_ver"), lit(1).as("_deleted"))
    val cur = graft.operators.ReplicaTable.current(
        base.unionByName(upd).unionByName(del),
        keys = Seq("vec_id"), ver = "_ver")
      .select(col("vec_id"), col("v"))
    val queries = cur.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qe"),
        norm(col("v")).as("qn"))
    val wr = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("cid"))
    broadcast(queries)
      .join(cur.select(col("vec_id").as("cid"), col("v").as("ce"),
          norm(col("v")).as("cn")),
        col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (dot(col("qe"), col("ce")) /
          (col("qn") * col("cn"))).as("cosine"))
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("cid"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  val v18Sql: String =
    s"""WITH base AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) v, 0 AS _ver, 0 AS _deleted
      |  FROM embeddings),
      |upd AS (
      |  SELECT vec_id, list_transform(v, x -> -x) AS v, 1 AS _ver, 0 AS _deleted
      |  FROM base WHERE vec_id % 97 = 0),
      |del AS (
      |  SELECT vec_id, v, 2 AS _ver, 1 AS _deleted FROM base WHERE vec_id % 101 = 0),
      |log AS (SELECT * FROM base UNION ALL SELECT * FROM upd
      |        UNION ALL SELECT * FROM del),
      |cur AS (
      |  SELECT vec_id, v FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY _ver DESC) rn
      |    FROM log)
      |  WHERE rn = 1 AND _deleted = 0),
      |q AS (SELECT vec_id AS qid, v AS qe FROM cur WHERE vec_id < 10)
      |SELECT qid, rank, cid, cosine FROM (
      |  SELECT q.qid, c.vec_id AS cid,
      |    ${dotSql("q.qe", "c.v")} /
      |      (sqrt(${dotSql("q.qe", "q.qe")}) * sqrt(${dotSql("c.v", "c.v")})) AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
      |      ${dotSql("q.qe", "c.v")} /
      |        (sqrt(${dotSql("q.qe", "q.qe")}) * sqrt(${dotSql("c.v", "c.v")})) DESC,
      |      c.vec_id) AS rank
      |  FROM q JOIN cur c ON q.qid <> c.vec_id)
      |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** v19: the nprobe TUNING SWEEP — the recall/cost curve an operator
    * actually reads before picking v8's probe depth: for every depth
    * p ∈ 1..4, how many candidates a query scans (cost) and how much of
    * the exact top-3 it recovers (recall), measured in-query against
    * the brute-force ground truth.
    *
    * Scale shape — the whole curve costs ONE sweep: a single assignment
    * pass keeps the top-4 probe cells per query (ivfRanked's checkpoint,
    * read by all consumers), candidates are scored ONCE at the deepest
    * probe, and each shallower depth is a CONDITIONAL RUNNING COUNT on
    * the same window sort (v8's r1 trick generalized) — so evaluating 4
    * depths costs the same one exchange as evaluating 1, where the naive
    * form re-runs the probe per depth. At 100 TB this is the difference
    * between a tuning run that scans the corpus once and one that scans
    * it nprobe_max times.
    */
  def v19NprobeSweep(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val ranked = ivfRanked(base, labelMeans(base), maxRank = 4)
    val cands = ranked.filter(col("crank") === 1)
      .select(col("vec_id").as("cid"), col("v").as("ce"), col("cell"),
        norm(col("v")).as("cn"))
    val queries = ranked.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qe"),
        col("cell"), col("crank").as("qcrank"), norm(col("v")).as("qn"))
    val scored = broadcast(queries).join(cands, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("qcrank"),
        (dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("cosine"))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("cid"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val withRanks = (1 to 4).foldLeft(scored) { (df, p) =>
      df.withColumn(s"r$p", when(col("qcrank") <= p,
        sum(when(col("qcrank") <= p, 1).otherwise(0)).over(wq)))
    }
    val aggCols =
      countDistinct(col("qid")).as("nq") +: (1 to 4).flatMap(p => Seq(
        sum(when(col("qcrank") <= p, 1L).otherwise(0L)).as(s"c$p"),
        sum(when(col("hit") === 1 && col("qcrank") <= p && col(s"r$p") <= 3, 1L)
          .otherwise(0L)).as(s"h$p")))
    withRanks.join(broadcast(exactTop3(base)), Seq("qid", "cid"), "left")
      .agg(aggCols.head, aggCols.tail: _*)
      .selectExpr("nq",
        "stack(4, CAST(1 AS BIGINT), c1, h1, CAST(2 AS BIGINT), c2, h2, " +
          "CAST(3 AS BIGINT), c3, h3, CAST(4 AS BIGINT), c4, h4) " +
          "AS (nprobe, n_cands, n_hits)")
      .select(col("nprobe"), col("n_cands"), col("n_hits"),
        (col("n_hits").cast("double") / (lit(3.0) * col("nq").cast("double")))
          .as("recall"),
        col("nq").as("n_queries"))
      .orderBy(col("nprobe"))
  }

  val v19Sql: String = {
    val rs = (1 to 4).map(p =>
      s"""CASE WHEN qcrank <= $p THEN
        |      SUM(CASE WHEN qcrank <= $p THEN 1 ELSE 0 END) OVER wss END AS r$p""".stripMargin)
      .mkString(",\n    ")
    val as = (1 to 4).map(p =>
      s"""SUM(CASE WHEN qcrank <= $p THEN 1 ELSE 0 END) AS c$p,
        |    SUM(CASE WHEN hit = 1 AND qcrank <= $p AND r$p <= 3 THEN 1 ELSE 0 END) AS h$p""".stripMargin)
      .mkString(",\n    ")
    val out = (1 to 4).map(p =>
      s"""SELECT CAST($p AS BIGINT) AS nprobe, CAST(c$p AS BIGINT) AS n_cands,
        |  CAST(h$p AS BIGINT) AS n_hits,
        |  CAST(h$p AS DOUBLE) / (3.0 * CAST(nq AS DOUBLE)) AS recall,
        |  nq AS n_queries FROM a""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |cl AS (
      |  SELECT label, i AS dim,
      |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
      |  FROM base, (SELECT unnest(generate_series(1, 64)) i)
      |  GROUP BY label, i),
      |cent AS (
      |  SELECT label AS cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec
      |  FROM cl GROUP BY label),
      |ranked AS (
      |  SELECT vec_id, v, cell, rn AS crank FROM (
      |    SELECT b.vec_id, b.v, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
      |        ORDER BY ${dotSql("b.v", "c.cvec")} DESC, c.cell) AS rn
      |    FROM base b, cent c)
      |  WHERE rn <= 4),
      |n AS (SELECT vec_id, v, cell, crank, sqrt(${dotSql("v", "v")}) nrm FROM ranked),
      |cands AS (SELECT vec_id cid, v, nrm, cell FROM n WHERE crank = 1),
      |q AS (SELECT vec_id qid, v, nrm, cell, crank AS qcrank FROM n WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.qid, c.cid, q.qcrank,
      |    ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cosine
      |  FROM q JOIN cands c ON q.cell = c.cell AND q.qid <> c.cid),
      |wr AS (
      |  SELECT qid, cid, qcrank,
      |    $rs
      |  FROM scored
      |  WINDOW wss AS (PARTITION BY qid ORDER BY cosine DESC, cid ROWS UNBOUNDED PRECEDING)),
      |nb AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) nrm FROM base),
      |exact AS (
      |  SELECT qid, cid FROM (
      |    SELECT a.vec_id qid, b.vec_id cid,
      |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |        ORDER BY ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) DESC, b.vec_id) er
      |    FROM nb a JOIN nb b ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
      |  WHERE er <= 3),
      |j AS (
      |  SELECT w.qid, w.qcrank, w.r1, w.r2, w.r3, w.r4,
      |    CASE WHEN e.cid IS NOT NULL THEN 1 ELSE 0 END AS hit
      |  FROM wr w LEFT JOIN exact e ON w.qid = e.qid AND w.cid = e.cid),
      |a AS (
      |  SELECT COUNT(DISTINCT qid) AS nq,
      |    $as
      |  FROM j)
      |$out
      |ORDER BY nprobe""".stripMargin
  }

  /** v20: binary sign quantization + Hamming-prefilter ANN — the
    * bandwidth end of the compression spectrum (v7 is int8 at 4×; this
    * is 1 bit/dim at 64×): each vector folds to TWO 32-bit sign words
    * packed in BIGINTs, candidate generation scans those two words per
    * vector (xor + bit_count — exact integer arithmetic, trivially
    * engine-identical) keeping the 32 Hamming-nearest per query, and
    * only that shortlist pays the full-precision cosine rerank for the
    * final top-3, with recall measured in-query against the exact
    * ground truth (the family contract of v9/v13/v17).
    *
    * Scale shape: coding is a pure projection (a 100 TB vector table
    * becomes ~2 TB of sign words, re-read by every query); the Hamming
    * scan is the deliberate broadcast-Q × scan-N over the COMPRESSED
    * words — 32× less memory bandwidth than v1's double scan, which is
    * the entire point — and the exact rerank touches only |Q| × 32
    * full vectors. Two shortlist/top-k windows + the output sort are
    * the only exchanges.
    */
  def v20HammingAnn(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    def signWord(offset: Int): Column = expr(
      s"aggregate(sequence(1, 32), CAST(0 AS BIGINT), (acc, i) -> acc + " +
        s"IF(element_at(v, i + $offset) > CAST(0 AS DOUBLE), " +
        s"shiftleft(CAST(1 AS BIGINT), i - 1), CAST(0 AS BIGINT)))")
    val coded = base.select(col("vec_id"), col("v"),
      signWord(0).as("w1"), signWord(32).as("w2"), norm(col("v")).as("cn"))
    val queries = coded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qe"),
        col("w1").as("qw1"), col("w2").as("qw2"), col("cn").as("qn"))
    val hamming = (bit_count(expr("w1 ^ qw1")) + bit_count(expr("w2 ^ qw2")))
      .cast("long")
    val wh = Window.partitionBy(col("qid"))
      .orderBy(col("hamming"), col("cid"))
    val shortlist = broadcast(queries).crossJoin(coded)
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("qe"), col("qn"), col("vec_id").as("cid"),
        col("v").as("ce"), col("cn"), hamming.as("hamming"))
      .withColumn("hr", row_number().over(wh))
      .filter(col("hr") <= 32)
    val wc = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("cid"))
    shortlist
      .select(col("qid"), col("cid"), col("hamming"),
        (dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("cosine"))
      .withColumn("rank", row_number().over(wc).cast("long"))
      .filter(col("rank") <= 3)
      .join(broadcast(exactTop3(base)), Seq("qid", "cid"), "left")
      .select(col("qid"), col("rank"), col("cid"), col("hamming"), col("cosine"),
        coalesce(col("hit"), lit(0L)).as("exact_hit"))
      .orderBy(col("qid"), col("rank"))
  }

  val v20Sql: String = {
    def word(off: Int) =
      s"""list_reduce(list_transform(generate_series(1, 32),
        |      i -> CASE WHEN v[i + $off] > CAST(0 AS DOUBLE)
        |           THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END),
        |    (acc, x) -> acc + x)""".stripMargin
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |coded AS (
      |  SELECT vec_id, v, ${word(0)} AS w1, ${word(32)} AS w2 FROM base),
      |q AS (SELECT vec_id qid, v qe, w1 qw1, w2 qw2 FROM coded WHERE vec_id < 10),
      |ham AS (
      |  SELECT q.qid, q.qe, c.vec_id cid, c.v ce,
      |    CAST(bit_count(xor(c.w1, q.qw1)) + bit_count(xor(c.w2, q.qw2)) AS BIGINT)
      |      AS hamming
      |  FROM q, coded c WHERE q.qid <> c.vec_id),
      |short AS (
      |  SELECT qid, qe, cid, ce, hamming FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hamming, cid) hr
      |    FROM ham) WHERE hr <= 32),
      |rer AS (
      |  SELECT qid, cid, hamming,
      |    ${dotSql("qe", "ce")} /
      |      (sqrt(${dotSql("qe", "qe")}) * sqrt(${dotSql("ce", "ce")})) AS cosine
      |  FROM short),
      |rk AS (
      |  SELECT qid, cid, hamming, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
      |  FROM rer),
      |nb AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) nrm FROM base),
      |exact AS (
      |  SELECT qid, cid FROM (
      |    SELECT a.vec_id qid, b.vec_id cid,
      |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |        ORDER BY ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) DESC, b.vec_id) er
      |    FROM nb a JOIN nb b ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
      |  WHERE er <= 3)
      |SELECT r.qid, r.rank, r.cid, r.hamming, r.cosine,
      |  CAST(CASE WHEN e.cid IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS exact_hit
      |FROM rk r LEFT JOIN exact e ON r.qid = e.qid AND r.cid = e.cid
      |WHERE r.rank <= 3
      |ORDER BY r.qid, r.rank""".stripMargin
  }

  /** v22: ANN over the int8 CODES — v7 prices the quantization error,
    * this searches the quantized table the way FAISS's SQ8 index does:
    * candidates rank by the dot product of CENTERED codes
    * ((u8 − 128)·(u8 − 128) summed — every product ≤ 2^14, the 64-term
    * sum ≤ 2^20, exactly representable in double, so the codegen'd
    * VecDotFold computes it bit-exactly and the ranking is INTEGER
    * arithmetic in both engines, no float divergence possible in the
    * scoring), and the top-3 per query carries the measured exact-hit
    * flag against the float ground truth (the family contract).
    *
    * Scale shape: coding is v7's broadcast-stats projection (4× less
    * scan bandwidth than the double table); the scan is the deliberate
    * broadcast-Q × scan-N over the codes; ranking windows + output sort
    * are the only exchanges.
    */
  def v22Int8Ann(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val packed = sqStatsPacked(base)
      .localCheckpoint(false) // 1 row, read by BOTH coded sides
    // v7's u8 coding, centered to [-128, 127] for the dot (kept as
    // doubles: every value is a small exact integer, see scaladoc)
    val codeExpr = transform(sequence(lit(1), lit(64)),
      i => u8Code(i) - lit(128.0))
    val codedOk = base.crossJoin(broadcast(packed))
      .select(col("vec_id"), codeExpr.as("q8"))
    val queries = codedOk.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q8").as("qq"))
    val cands = codedOk.select(col("vec_id").as("cid"), col("q8").as("cq"))
    val wq = Window.partitionBy(col("qid")).orderBy(col("iscore").desc, col("cid"))
    broadcast(queries).join(cands, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        dot(col("qq"), col("cq")).cast("long").as("iscore"))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= 3)
      .join(broadcast(exactTop3(base)), Seq("qid", "cid"), "left")
      .select(col("qid"), col("rank").cast("long").as("rank"), col("cid"),
        col("iscore"), coalesce(col("hit"), lit(0L)).as("exact_hit"))
      .orderBy(col("qid"), col("rank"))
  }

  val v22Sql: String =
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |stats AS (SELECT i AS dim, MIN(v[i]) AS mn, MAX(v[i]) AS mx
      |          FROM base, (SELECT unnest(generate_series(1, 64)) i) GROUP BY i),
      |packed AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
      |           FROM stats),
      |coded AS (SELECT vec_id,
      |    list_transform(generate_series(1, 64), i -> (CASE WHEN mxs[i] > mns[i]
      |      THEN least(255.0, greatest(0.0,
      |             floor(((v[i] - mns[i]) * 255.0) / (mxs[i] - mns[i]))))
      |      ELSE 0.0 END) - 128.0) AS q8
      |  FROM base, packed),
      |scored AS (
      |  SELECT q.vec_id qid, c.vec_id cid,
      |    CAST(list_reduce(list_transform(generate_series(1, 64),
      |      i -> q.q8[i] * c.q8[i]), (acc, x) -> acc + x) AS BIGINT) iscore
      |  FROM coded q JOIN coded c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
      |rk AS (SELECT qid, cid, iscore,
      |         ROW_NUMBER() OVER (PARTITION BY qid
      |           ORDER BY iscore DESC, cid) AS rank
      |       FROM scored),
      |nb AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) nrm FROM base),
      |exact AS (
      |  SELECT qid, cid FROM (
      |    SELECT a.vec_id qid, b.vec_id cid,
      |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |        ORDER BY ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) DESC, b.vec_id) er
      |    FROM nb a JOIN nb b ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
      |  WHERE er <= 3)
      |SELECT r.qid, CAST(r.rank AS BIGINT) rank, r.cid, r.iscore,
      |  CAST(CASE WHEN e.cid IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS exact_hit
      |FROM rk r LEFT JOIN exact e ON r.qid = e.qid AND r.cid = e.cid
      |WHERE r.rank <= 3
      |ORDER BY r.qid, r.rank""".stripMargin

  /** Prefix dims v21 sweeps; 64 is the full vector (recall exactly 1). */
  private val MrlDims = Seq(8, 16, 32, 64)

  /** v21: Matryoshka truncation sweep (Kusupati et al. 2022) — the
    * OTHER compression axis the family prices (v7 narrows value width,
    * v20 narrows to sign bits, JL v15 rotates THEN truncates; MRL
    * truncates the raw prefix, which is how matryoshka-trained
    * embeddings ship): for prefix dims d ∈ {8, 16, 32, 64}, top-3
    * recall of truncated cosine vs the exact 64-dim ground truth — the
    * curve a serving owner reads before cutting storage 8×.
    *
    * ONE scoring pass prices all four dims: the prefix dots/norms are
    * per-pair projections over the same broadcast-Q × scan-N join
    * (prefix norms precomputed per SIDE, not per pair), and the four
    * rank windows share the single qid exchange — four in-partition
    * sorts, one shuffle, plus the exact-truth side. The d = 64 row is
    * a built-in control: it IS the ground-truth metric, so its recall
    * is exactly 1.0 by construction.
    */
  def v21MatryoshkaSweep(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val withNorms = base.select(
      col("vec_id") +: col("v") +: MrlDims.map(d =>
        sqrt(dot(slice(col("v"), 1, d), slice(col("v"), 1, d))).as(s"n$d")): _*)
    val queries = withNorms.filter(col("vec_id") < 10).select(
      col("vec_id").as("qid") +: col("v").as("qe") +:
        MrlDims.map(d => col(s"n$d").as(s"qn$d")): _*)
    val cands = withNorms.select(
      col("vec_id").as("cid") +: col("v").as("ce") +:
        MrlDims.map(d => col(s"n$d").as(s"cn$d")): _*)
    val scored = broadcast(queries).join(cands, col("qid") =!= col("cid"))
      .select(col("qid") +: col("cid") +: MrlDims.map(d =>
        (dot(slice(col("qe"), 1, d), slice(col("ce"), 1, d)) /
          (col(s"qn$d") * col(s"cn$d"))).as(s"cos$d")): _*)
    val ranked = MrlDims.foldLeft(scored) { (df, d) =>
      df.withColumn(s"rk$d", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col(s"cos$d").desc, col("cid"))))
    }
    val aggCols = countDistinct(col("qid")).as("nq") +: MrlDims.map(d =>
      sum(when(col("hit") === 1 && col(s"rk$d") <= 3, 1L).otherwise(0L)).as(s"h$d"))
    ranked.join(broadcast(exactTop3(base)), Seq("qid", "cid"), "left")
      .agg(aggCols.head, aggCols.tail: _*)
      .selectExpr("nq",
        s"stack(${MrlDims.length}, " +
          MrlDims.map(d => s"CAST($d AS BIGINT), h$d").mkString(", ") +
          ") AS (dim, n_hits)")
      .select(col("dim"), col("n_hits"),
        (col("n_hits").cast("double") / (lit(3.0) * col("nq").cast("double")))
          .as("recall"),
        col("nq").as("n_queries"))
      .orderBy(col("dim"))
  }

  val v21Sql: String = {
    def dotD(a: String, b: String, d: Int) =
      s"""list_reduce(list_transform(generate_series(1, $d),
         |      i -> $a[i] * $b[i]), (acc, x) -> acc + x)""".stripMargin
    val cosCols = MrlDims.map(d =>
      s"""${dotD("q.v", "c.v", d)} /
        |    (sqrt(${dotD("q.v", "q.v", d)}) * sqrt(${dotD("c.v", "c.v", d)})) AS cos$d""".stripMargin)
      .mkString(",\n  ")
    val rkCols = MrlDims.map(d =>
      s"ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos$d DESC, cid) AS rk$d")
      .mkString(",\n    ")
    val hCols = MrlDims.map(d =>
      s"SUM(CASE WHEN e.cid IS NOT NULL AND rk$d <= 3 THEN 1 ELSE 0 END) AS h$d")
      .mkString(",\n    ")
    val out = MrlDims.map(d =>
      s"""SELECT CAST($d AS BIGINT) AS dim, CAST(h$d AS BIGINT) AS n_hits,
        |  CAST(h$d AS DOUBLE) / (3.0 * CAST(nq AS DOUBLE)) AS recall,
        |  nq AS n_queries FROM a""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id qid, c.vec_id cid,
      |  $cosCols
      |  FROM base q JOIN base c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
      |rk AS (
      |  SELECT qid, cid,
      |    $rkCols
      |  FROM scored),
      |nb AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) nrm FROM base),
      |exact AS (
      |  SELECT qid, cid FROM (
      |    SELECT a.vec_id qid, b.vec_id cid,
      |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |        ORDER BY ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) DESC, b.vec_id) er
      |    FROM nb a JOIN nb b ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
      |  WHERE er <= 3),
      |a AS (
      |  SELECT COUNT(DISTINCT r.qid) AS nq,
      |    $hCols
      |  FROM rk r LEFT JOIN exact e ON r.qid = e.qid AND r.cid = e.cid)
      |$out
      |ORDER BY dim""".stripMargin
  }

  /** v23: INDEX-STALENESS MONITOR — the maintenance readout that tells
    * an operator when the persisted IVF codebook needs retraining: the
    * converged centroids (trained ONCE on the base corpus and reused
    * from v11/v12's fingerprint-scoped table) are held fixed while the
    * corpus moves under them through v18's CDC pattern (updates negate
    * every vec_id % 97 vector, deletes tombstone every % 101, latest
    * version wins). Per cell: membership and assignment inertia before
    * vs after, plus how many surviving vectors LEFT (n_out) and ARRIVED
    * (n_in) under the stale centroids — churn_ppm is the retrain
    * trigger a production index pipeline thresholds on (v18 proves
    * stale vectors can't surface in search results; this measures what
    * staleness costs in partition quality).
    *
    * Scale shape: centroids broadcast packed, so BOTH assignments are
    * pure projections (no join, no shuffle — the v6/v10 discipline);
    * the churn join keys on vec_id (one co-partitioned exchange pair)
    * and every rollup lands on |cells| rows. No training happens here —
    * the codebook is a catalog read.
    */
  def v23IndexStaleness(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val cent = lloydArtifacts(spark, dir, base)._2
    val baseV = base.select(col("vec_id"), col("v"))
    val log = baseV
      .select(col("vec_id"), col("v"), lit(0L).as("_ver"), lit(0).as("_deleted"))
      .unionByName(baseV.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id"), transform(col("v"), x => negate(x)).as("v"),
          lit(1L).as("_ver"), lit(0).as("_deleted")))
      .unionByName(baseV.filter(col("vec_id") % 101 === 0)
        .select(col("vec_id"), col("v"), lit(2L).as("_ver"), lit(1).as("_deleted")))
    val cur = graft.operators.ReplicaTable.current(
        log, keys = Seq("vec_id"), ver = "_ver")
      .select(col("vec_id"), col("v"))
    val ab = assignCells(spark, baseV, cent)
    val ac = assignCells(spark, cur, cent)
    val moves = ab.select(col("vec_id"), col("cell").as("bcell"))
      .join(ac.select(col("vec_id"), col("cell").as("ccell")), "vec_id")
      .filter(col("bcell") =!= col("ccell"))
    ab.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_base"), sum(col("d2e9")).as("inertia_base_e9"))
      .join(ac.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_cur"), sum(col("d2e9")).as("inertia_cur_e9")),
        Seq("cell"), "full_outer")
      .join(moves.groupBy(col("bcell").as("cell"))
        .agg(count(lit(1)).as("n_out")), Seq("cell"), "left")
      .join(moves.groupBy(col("ccell").as("cell"))
        .agg(count(lit(1)).as("n_in")), Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        coalesce(col("inertia_base_e9"), lit(0L)).as("inertia_base_e9"),
        coalesce(col("inertia_cur_e9"), lit(0L)).as("inertia_cur_e9"),
        coalesce(col("n_out"), lit(0L)).as("n_out"),
        coalesce(col("n_in"), lit(0L)).as("n_in"))
      .withColumn("churn_ppm",
        expr("(n_out + n_in) * 1000000 DIV greatest(n_base, 1)"))
      .orderBy(col("cell"))
  }

  val v23Sql: String = {
    val l2 = l2Sql _
    val K = KmeansIters
    val sb = Seq.newBuilder[String]
    sb += "base AS MATERIALIZED (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings)"
    sb += """cl0 AS MATERIALIZED (
      |  SELECT CAST(label AS BIGINT) AS cell, i AS dim,
      |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
      |  FROM base, (SELECT unnest(generate_series(1, 64)) i) GROUP BY label, i)""".stripMargin
    for (i <- 1 to K) {
      val p = i - 1
      sb += s"cent$p AS MATERIALIZED (SELECT cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec FROM cl$p GROUP BY cell)"
      sb += s"""a$i AS MATERIALIZED (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT b.vec_id, b.v, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY ${l2("b.v", "c.cvec")}, c.cell) AS rn
        |    FROM base b, cent$p c) WHERE rn = 1)""".stripMargin
      sb += s"""cl$i AS MATERIALIZED (
        |  SELECT cell, i AS dim,
        |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
        |  FROM a$i, (SELECT unnest(generate_series(1, 64)) i) GROUP BY cell, i)""".stripMargin
    }
    sb += s"centL AS MATERIALIZED (SELECT cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec FROM cl$K GROUP BY cell)"
    sb += """upd AS (
      |  SELECT vec_id, list_transform(v, x -> -x) AS v, 1 AS _ver, 0 AS _deleted
      |  FROM base WHERE vec_id % 97 = 0)""".stripMargin
    sb += """log AS (
      |  SELECT vec_id, v, 0 AS _ver, 0 AS _deleted FROM base
      |  UNION ALL SELECT * FROM upd
      |  UNION ALL SELECT vec_id, v, 2 AS _ver, 1 AS _deleted
      |            FROM base WHERE vec_id % 101 = 0)""".stripMargin
    sb += """cur AS MATERIALIZED (
      |  SELECT vec_id, v FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY _ver DESC) rn
      |    FROM log)
      |  WHERE rn = 1 AND _deleted = 0)""".stripMargin
    def assign(src: String, name: String) =
      s"""$name AS MATERIALIZED (
        |  SELECT vec_id, cell, d2 FROM (
        |    SELECT b.vec_id, c.cell, ${l2("b.v", "c.cvec")} AS d2,
        |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY ${l2("b.v", "c.cvec")}, c.cell) AS rn
        |    FROM $src b, centL c) WHERE rn = 1)""".stripMargin
    sb += assign("base", "ab")
    sb += assign("cur", "ac")
    sb += """nb AS (SELECT cell, COUNT(*) AS n_base,
      |  SUM(CAST(floor(d2 * 1e9) AS BIGINT)) AS inertia_base_e9 FROM ab GROUP BY cell)""".stripMargin
    sb += """nc AS (SELECT cell, COUNT(*) AS n_cur,
      |  SUM(CAST(floor(d2 * 1e9) AS BIGINT)) AS inertia_cur_e9 FROM ac GROUP BY cell)""".stripMargin
    sb += """mv AS (SELECT ab.cell AS bcell, ac.cell AS ccell
      |  FROM ab JOIN ac USING (vec_id) WHERE ab.cell <> ac.cell)""".stripMargin
    sb += "mo AS (SELECT bcell AS cell, COUNT(*) AS n_out FROM mv GROUP BY 1)"
    sb += "mi AS (SELECT ccell AS cell, COUNT(*) AS n_in FROM mv GROUP BY 1)"
    "WITH " + sb.result().mkString(",\n") + "\n" +
      """SELECT cell, COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur,
        |  CAST(COALESCE(inertia_base_e9, 0) AS BIGINT) AS inertia_base_e9,
        |  CAST(COALESCE(inertia_cur_e9, 0) AS BIGINT) AS inertia_cur_e9,
        |  COALESCE(n_out, 0) AS n_out, COALESCE(n_in, 0) AS n_in,
        |  CAST((COALESCE(n_out, 0) + COALESCE(n_in, 0)) * 1000000
        |    // greatest(COALESCE(n_base, 0), 1) AS BIGINT) AS churn_ppm
        |FROM nb FULL OUTER JOIN nc USING (cell)
        |LEFT JOIN mo USING (cell) LEFT JOIN mi USING (cell)
        |ORDER BY cell""".stripMargin
  }

  /** v24: IVF CELL-BALANCE AUDIT — the partition-skew report an ANN
    * operator reads before trusting v6/v8's latency numbers: cell
    * population IS the per-probe scan cost, so one hot cell means every
    * query probing it pays its size (the classic IVF failure mode at
    * scale — a 10× overweight cell makes p99 latency 10× the mean, and
    * re-training the coarse quantizer is the fix). Per home cell
    * (crank=1, v6's own assignment): vector count, corpus-share ppm,
    * and the cell-vs-ideal skew (n / (N/k) in ppm; 1000000 = perfectly
    * balanced); the global max skew rides every row (q22's
    * global-next-to-grain convention) as the single scalar a rebalance
    * alarm thresholds on.
    *
    * Scale shape: v6's assignment pass (broadcast centroid table, the
    * per-vector argmax projection) + ONE |cells|-sized aggregation;
    * the share/skew math is a closed-form window over the bounded
    * |cells| frame. No new corpus pass beyond what v6 already pays —
    * and since the assignment is the bucketing key the vector table
    * would be laid out on at 100 TB, this audit is a metadata read
    * (per-bucket row counts) in the deployed form.
    */
  def v24CellBalance(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    ivfRanked(base, labelMeans(base), maxRank = 1)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"))
      .withColumn("share_ppm",
        expr("n_vectors * 1000000L DIV sum(n_vectors) OVER ()"))
      .withColumn("skew_ppm",
        expr("n_vectors * 1000000L DIV (sum(n_vectors) OVER () DIV count(1) OVER ())"))
      .withColumn("max_skew_ppm", expr("max(skew_ppm) OVER ()"))
      .select(col("cell").cast("long").as("cell"), col("n_vectors"),
        col("share_ppm"), col("skew_ppm"), col("max_skew_ppm"))
      .orderBy(col("cell"))
  }

  val v24Sql: String =
    s"""WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |cl AS (
      |  SELECT label, i AS dim,
      |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
      |  FROM base, (SELECT unnest(generate_series(1, 64)) i)
      |  GROUP BY label, i),
      |cent AS (
      |  SELECT label AS cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec
      |  FROM cl GROUP BY label),
      |assigned AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT b.vec_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
      |        ORDER BY ${dotSql("b.v", "c.cvec")} DESC, c.cell) AS rn
      |    FROM base b, cent c)
      |  WHERE rn = 1),
      |n AS (SELECT cell, COUNT(*) AS n_vectors FROM assigned GROUP BY cell),
      |s AS (
      |  SELECT cell, n_vectors,
      |    n_vectors * 1000000 // SUM(n_vectors) OVER () AS share_ppm,
      |    n_vectors * 1000000 //
      |      (SUM(n_vectors) OVER () // COUNT(*) OVER ()) AS skew_ppm
      |  FROM n)
      |SELECT CAST(cell AS BIGINT) AS cell,
      |  CAST(n_vectors AS BIGINT) AS n_vectors,
      |  CAST(share_ppm AS BIGINT) AS share_ppm,
      |  CAST(skew_ppm AS BIGINT) AS skew_ppm,
      |  CAST(MAX(skew_ppm) OVER () AS BIGINT) AS max_skew_ppm
      |FROM s ORDER BY cell""".stripMargin

  /** v25: CLUSTER-BALANCED SAMPLING — the semantic-space counterpart of
    * d22's language-temperature flattening (SemDeDup's pruning idea
    * generalized to density-based selection: over-represented regions
    * of embedding space contribute near-duplicate gradient signal, so a
    * curation run downsamples HOT clusters toward a per-cluster quota
    * and keeps sparse clusters whole). Clusters are v6's home cells;
    * the budget is 90% of the corpus (p20's near-full-epoch
    * convention), split equally: quota = 0.9·N DIV k, and each cell
    * keeps rate_ppm = min(10⁶, quota·10⁶ DIV n_cell) of its vectors by
    * the d17 deterministic md5 gate (salted "cbs:", so this op's coin
    * is independent of every other sampler's) — reproducible under any
    * partitioning, composable with incremental ingestion.
    *
    * Scale shape: v6's broadcast-centroid assignment (projection), ONE
    * |cells| agg, rates via closed-form windows on the bounded cell
    * frame, the gate as a broadcast join back + pure projection, one
    * rollup. The corpus is scanned once.
    */
  def v25ClusterBalancedSample(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val assigned = ivfRanked(base, labelMeans(base), maxRank = 1)
      .select(col("vec_id"), col("cell"))
    val rates = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"))
      .withColumn("quota",
        expr("(sum(n_vectors) OVER () * 9 DIV 10) DIV count(1) OVER ()"))
      .withColumn("rate_ppm",
        least(lit(1000000L), expr("quota * 1000000L DIV n_vectors")))
    val gate = pmod(
      H.md5NumberBigEndian(concat(lit("cbs:"), col("vec_id").cast("string"))),
      lit(1000000L))
    assigned
      .join(broadcast(rates), Seq("cell"))
      .withColumn("keep", (gate < col("rate_ppm")).cast("long"))
      .groupBy(col("cell").cast("long").as("cell"), col("n_vectors"),
        col("quota"), col("rate_ppm"))
      .agg(sum(col("keep")).as("n_kept"))
      .withColumn("kept_ppm", expr("n_kept * 1000000L DIV n_vectors"))
      .orderBy(col("cell"))
  }

  val v25Sql: String = {
    val h = graft.queries.Documents.signedBeMd5Sql(
      "'cbs:' || CAST(vec_id AS VARCHAR)")
    s"""WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |cl AS (
      |  SELECT label, i AS dim,
      |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
      |  FROM base, (SELECT unnest(generate_series(1, 64)) i)
      |  GROUP BY label, i),
      |cent AS (
      |  SELECT label AS cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec
      |  FROM cl GROUP BY label),
      |assigned AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT b.vec_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
      |        ORDER BY ${dotSql("b.v", "c.cvec")} DESC, c.cell) AS rn
      |    FROM base b, cent c)
      |  WHERE rn = 1),
      |r AS (
      |  SELECT cell, n_vectors,
      |    (SUM(n_vectors) OVER () * 9 // 10) // COUNT(*) OVER () AS quota
      |  FROM (SELECT cell, COUNT(*) AS n_vectors FROM assigned GROUP BY cell)),
      |r2 AS (
      |  SELECT cell, n_vectors, quota,
      |    LEAST(1000000, quota * 1000000 // n_vectors) AS rate_ppm
      |  FROM r),
      |k AS (
      |  SELECT a.cell, r2.n_vectors, r2.quota, r2.rate_ppm,
      |    CASE WHEN ((($h) % 1000000) + 1000000) % 1000000 < r2.rate_ppm
      |      THEN 1 ELSE 0 END AS keep
      |  FROM assigned a JOIN r2 USING (cell))
      |SELECT CAST(cell AS BIGINT) AS cell,
      |  CAST(n_vectors AS BIGINT) AS n_vectors,
      |  CAST(quota AS BIGINT) AS quota,
      |  CAST(rate_ppm AS BIGINT) AS rate_ppm,
      |  CAST(SUM(keep) AS BIGINT) AS n_kept,
      |  CAST(SUM(keep) * 1000000 // n_vectors AS BIGINT) AS kept_ppm
      |FROM k GROUP BY cell, n_vectors, quota, rate_ppm
      |ORDER BY cell""".stripMargin
  }

  /** v27: PQ DISTORTION REPORT — the OTHER tuning axis of the product
    * quantizer: v9/v12/v13 measure end-to-end recall; v27 measures the
    * quantization ERROR itself, per subspace — total/mean/max squared
    * reconstruction error of each 16-dim sub-vector against its chosen
    * sub-centroid. A skewed subspace (one dim family quantizing badly)
    * is invisible in recall until it is catastrophic; this is the table
    * that catches it early, and what an M/nbits sweep reads.
    *
    * Scale shape: v9's coder unchanged (broadcast packed codebook,
    * argmin fold as a pure projection); the per-subspace explode is x4
    * on |vectors| and folds straight into a 4-row hash agg. Errors are
    * integerized per row (floor(err x 1e9)) BEFORE the sum, so the
    * aggregation is exact-integer and order-independent — summing raw
    * doubles across an unordered aggregation would not reproduce
    * against the oracle.
    */
  def v27PqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val coded = base
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .crossJoin(broadcast(pqBook(labelMeans(base))))
      .select(col("vec_id"), col("v"), pqRecon.as("recon"))
    val diff = zip_with(
      expr(s"slice(v, m * $PqSubDim + 1, $PqSubDim)"),
      expr(s"slice(recon, m * $PqSubDim + 1, $PqSubDim)"),
      (a, b) => a - b)
    coded
      .select(col("vec_id"), explode(sequence(lit(0), lit(PqM - 1))).as("m"),
        col("v"), col("recon"))
      .select(col("m").cast("long").as("subspace"),
        floor(dot(diff, diff) * lit(1e9)).cast("long").as("err_e9"))
      .groupBy(col("subspace"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("err_e9")).as("total_err_e9"),
        max(col("err_e9")).as("max_err_e9"))
      .select(col("subspace"), col("n_vectors"), col("total_err_e9"),
        expr("total_err_e9 DIV n_vectors").as("mean_err_e9"),
        col("max_err_e9"))
      .orderBy(col("subspace"))
  }

  val v27Sql: String = {
    val subErr = subL2Sql("sub", "csub")
    s"""WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |cl AS (
      |  SELECT label, i AS dim,
      |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
      |  FROM base, (SELECT unnest(generate_series(1, 64)) i)
      |  GROUP BY label, i),
      |cent AS (
      |  SELECT label AS cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec
      |  FROM cl GROUP BY label),
      |subc AS (
      |  SELECT cell, m, cvec[(m * $PqSubDim + 1):(m * $PqSubDim + $PqSubDim)] AS csub
      |  FROM cent, (SELECT unnest(generate_series(0, ${PqM - 1})) m)),
      |subs AS (
      |  SELECT vec_id, m, v[(m * $PqSubDim + 1):(m * $PqSubDim + $PqSubDim)] AS sub
      |  FROM base, (SELECT unnest(generate_series(0, ${PqM - 1})) m)),
      |codes AS (
      |  SELECT vec_id, m, sub, csub FROM (
      |    SELECT s.vec_id, s.m, s.sub, c.csub,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
      |        ORDER BY $subErr, c.cell) AS rn
      |    FROM subs s JOIN subc c ON s.m = c.m)
      |  WHERE rn = 1),
      |errs AS (
      |  SELECT m, CAST(floor($subErr * 1e9) AS BIGINT) AS err_e9 FROM codes)
      |SELECT CAST(m AS BIGINT) AS subspace, COUNT(*) AS n_vectors,
      |  CAST(SUM(err_e9) AS BIGINT) AS total_err_e9,
      |  CAST(SUM(err_e9) // COUNT(*) AS BIGINT) AS mean_err_e9,
      |  CAST(MAX(err_e9) AS BIGINT) AS max_err_e9
      |FROM errs GROUP BY m ORDER BY subspace""".stripMargin
  }

  /** p23: SEMANTIC DECONTAMINATION — the embedding-space leg of the
    * decontamination family (p3 exact n-gram, p8 fuzzy, p9 Bloom, d30
    * attribution all work in TOKEN space): a train document whose
    * EMBEDDING is near-identical to an eval document leaks the eval set
    * even when paraphrasing defeats every token-level check. Splits are
    * p2/d40's md5-bucket rule; since the fixture's embedding space has
    * no natural near-pairs (max pairwise cosine ~0.51), every 3rd eval
    * vector is PLANTED back into train as a mildly perturbed copy (the
    * realistic near-verbatim case, cosine ~0.99998 but not 1) — d1's
    * planted-signal discipline. Output: the (train_id, eval_id)
    * contamination pairs at cosine >= 0.95.
    *
    * Scale shape: the eval side is tiny BY CONSTRUCTION (eval sets are
    * KBs against a 100 TB corpus — p3's own broadcast argument), so the
    * scan side never shuffles: one broadcast nested loop over
    * |train| x |evals|, then the output sort. At production scale the
    * same query runs against v6's IVF cells to prune the scan; the
    * brute-force form here is the measured-exact baseline.
    */
  def p23SemanticDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    def splitOf(id: Column): Column = H.splitOf(id)
    val base = emb(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("split", splitOf(col("vec_id")))
    val evals = base.filter(col("split") =!= "train")
      .select(col("vec_id").as("eval_id"), col("v").as("ev"))
    val planted = evals.filter(col("eval_id") % 3 === 0)
      .select((col("eval_id") + 5000000L).as("train_id"),
        expr("transform(ev, (x, i) -> x * (1.0d + ((eval_id + i) % 7 - 3) / 1000.0d))")
          .as("v"))
    val train = base.filter(col("split") === "train")
      .select(col("vec_id").as("train_id"), col("v"))
      .unionByName(planted)
      .withColumn("tn", norm(col("v")))
    train.crossJoin(broadcast(evals.withColumn("en", norm(col("ev")))))
      .select(col("train_id"), col("eval_id"),
        (dot(col("v"), col("ev")) / (col("tn") * col("en")))
          .as("cosine"))
      .filter(col("cosine") >= 0.95)
      .orderBy(col("train_id"), col("eval_id"))
  }

  val p23Sql: String =
    s"""WITH base AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) v,
      |    CASE WHEN CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8)
      |           AS UBIGINT) % 100 < 80 THEN 'train'
      |         WHEN CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8)
      |           AS UBIGINT) % 100 < 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM embeddings),
      |ev AS (SELECT vec_id AS eval_id, v AS ev FROM base WHERE split <> 'train'),
      |pl AS (
      |  SELECT eval_id + 5000000 AS train_id,
      |    list_transform(generate_series(1, 64),
      |      i -> ev[i] * (1.0 + ((eval_id + i - 1) % 7 - 3) / 1000.0)) AS v
      |  FROM ev WHERE eval_id % 3 = 0),
      |tr AS (
      |  SELECT vec_id AS train_id, v FROM base WHERE split = 'train'
      |  UNION ALL SELECT train_id, v FROM pl),
      |sc AS (
      |  SELECT t.train_id, e.eval_id,
      |    ${dotSql("t.v", "e.ev")} /
      |      (sqrt(${dotSql("t.v", "t.v")}) * sqrt(${dotSql("e.ev", "e.ev")}))
      |      AS cosine
      |  FROM tr t, ev e)
      |SELECT train_id, eval_id, cosine FROM sc
      |WHERE cosine >= 0.95 ORDER BY train_id, eval_id""".stripMargin

  /** v26: HARD-NEGATIVE MINING — for each query vector, the top-3 most
    * similar vectors with a DIFFERENT label: the contrastive-training
    * staple (a retrieval/embedding model learns most from negatives
    * that look like positives). The candidate set is the IVF cell join
    * (v8's nprobe=2 probe) with the label-exclusion predicate — a
    * JOIN-DEPENDENT filter, unlike v16's constant one — and each mined
    * negative carries exact_hit: whether the exhaustive label-excluded
    * scan agrees it is a true top-3 hard negative (the family's
    * measured-recall discipline).
    *
    * Scale shape: one broadcast-centroid assignment (shared,
    * checkpointed) feeds both the candidate and query sides; scoring
    * touches only probed-cell members; the exact side is v1's
    * deliberate broadcast-Q x scan-N baseline.
    */
  def v26HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val ranked = ivfRanked(base, labelMeans(base), maxRank = 2,
      keep = Seq("label"))
    val cands = ranked.filter(col("crank") === 1)
      .select(col("vec_id").as("cid"), col("label").as("neg_label"),
        col("v").as("ce"), col("cell"), norm(col("v")).as("cn"))
    val queries = ranked.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qe"), col("cell"), norm(col("v")).as("qn"))
    val wq = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    val mined = broadcast(queries).join(cands, Seq("cell"))
      .filter(col("qid") =!= col("cid") && col("qlabel") =!= col("neg_label"))
      .select(col("qid"), col("qlabel"), col("cid"), col("neg_label"),
        (dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
          .as("cosine"))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= 3)
    val qfull = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label").as("ql"), col("v").as("qe"),
        norm(col("v")).as("qn"))
    val exact = broadcast(qfull)
      .join(base.select(col("vec_id").as("cid"), col("label").as("cl"),
          col("v").as("ce"), norm(col("v")).as("cn")),
        col("qid") =!= col("cid") && col("ql") =!= col("cl"))
      .select(col("qid"), col("cid"),
        (dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
          .as("cosine"))
      .withColumn("er", row_number().over(wq))
      .filter(col("er") <= 3)
      .select(col("qid"), col("cid"), lit(1L).as("hit"))
    mined.join(broadcast(exact), Seq("qid", "cid"), "left")
      .select(col("qid"), col("qlabel"), col("rank").cast("long").as("rank"),
        col("cid"), col("neg_label"), col("cosine"),
        coalesce(col("hit"), lit(0L)).as("exact_hit"))
      .orderBy(col("qid"), col("rank"))
  }

  val v26Sql: String =
    s"""WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |cl AS (
      |  SELECT label, i AS dim,
      |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
      |  FROM base, (SELECT unnest(generate_series(1, 64)) i)
      |  GROUP BY label, i),
      |cent AS (
      |  SELECT label AS cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec
      |  FROM cl GROUP BY label),
      |ranked AS (
      |  SELECT vec_id, label, v, cell, rn AS crank FROM (
      |    SELECT b.vec_id, b.label, b.v, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
      |        ORDER BY ${dotSql("b.v", "c.cvec")} DESC, c.cell) AS rn
      |    FROM base b, cent c)
      |  WHERE rn <= 2),
      |n AS (SELECT vec_id, label, v, cell, crank,
      |        sqrt(${dotSql("v", "v")}) nrm FROM ranked),
      |cands AS (SELECT vec_id cid, label neg_label, v, nrm, cell FROM n
      |          WHERE crank = 1),
      |q AS (SELECT vec_id qid, label qlabel, v, nrm, cell FROM n
      |      WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.qid, q.qlabel, c.cid, c.neg_label,
      |    ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cosine
      |  FROM q JOIN cands c ON q.cell = c.cell AND q.qid <> c.cid
      |    AND q.qlabel <> c.neg_label),
      |wr AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
      |    ORDER BY cosine DESC, cid) AS rank
      |  FROM scored),
      |nb AS (SELECT vec_id, label, v, sqrt(${dotSql("v", "v")}) nrm FROM base),
      |exact AS (
      |  SELECT qid, cid FROM (
      |    SELECT a.vec_id qid, b.vec_id cid,
      |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |        ORDER BY ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) DESC, b.vec_id) er
      |    FROM nb a JOIN nb b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
      |      AND a.label <> b.label)
      |  WHERE er <= 3)
      |SELECT w.qid, w.qlabel, CAST(w.rank AS BIGINT) AS rank, w.cid,
      |  w.neg_label, w.cosine,
      |  CAST(CASE WHEN e.cid IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
      |    AS exact_hit
      |FROM wr w LEFT JOIN exact e ON w.qid = e.qid AND w.cid = e.cid
      |WHERE w.rank <= 3
      |ORDER BY w.qid, w.rank""".stripMargin

  /** MMR constants: λ=0.7 relevance weight (Carbonell-Goldstein 1998's
    * diversification trade-off), depth-20 candidate pool, 5 selections.
    */
  private val MmrLambda = 0.7
  private val MmrDepth = 20
  private val MmrK = 5

  /** The depth-bounded cosine retrieval pool — v1's broadcast-Q × scan-N
    * discipline (double-widened sequential-fold cosine, (rel DESC, cid)
    * tie-break), shared by v28's MMR pool and p27's vector leg so the
    * two can never drift on fold order or tie-breaks: (qid, cid, cv,
    * rel, vrank ≤ depth) for queries vec_id < qMax.
    */
  private[graft] def cosinePool(
      spark: SparkSession, dir: String, qMax: Int, depth: Int): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val queries = e.filter(col("vec_id") < qMax)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        norm(col("v")).as("qn"))
    val rel = (dot(col("qv"), col("cv")) /
      (col("qn") * col("cn"))).as("rel")
    val wq = Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("cid"))
    broadcast(queries)
      .join(e.select(col("vec_id").as("cid"), col("v").as("cv"),
          norm(col("v")).as("cn")),
        col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("cv"), col("cn"), rel)
      .withColumn("vrank", row_number().over(wq))
      .filter(col("vrank") <= depth)
  }

  /** v28: DIVERSIFIED retrieval via maximal marginal relevance — the
    * anti-redundancy selection a curation pipeline runs after ANN
    * retrieval (near-duplicate neighbors waste a context window /
    * training batch; MMR picks each next item by
    * λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s), trading relevance against
    * similarity to what's already selected). Greedy and inherently
    * sequential in k — but k is THE SMALL constant (5 here), so the
    * loop unrolls into k dataframe stages over Q × depth frames while
    * the corpus-sized work (the retrieval pool) stays one v1-discipline
    * pass. Step 1's "max over the empty selected set" is defined 0 on
    * both engines (the score is then λ·rel uniformly).
    *
    * Determinism: rel and pairwise sim are the v1 cosine (double-
    * widened sequential fold — bit-identical to DuckDB's list_reduce);
    * the MMR score is one fixed expression tree over them
    * (λ·rel − (1−λ)·MAX(sim), MAX is order-free); ties break by cid.
    *
    * Scale shape: the pool is per-query top-[[MmrDepth]] (at corpus
    * scale from an IVF probe — v6's path); pairwise sims are
    * depth² × Q rows; each greedy step is a broadcast-sized join +
    * argmax window. The pool+sims barrier materializes once
    * (localCheckpoint) so the k unrolled stages never replan the
    * corpus-sized retrieval subtree.
    */
  def v28MmrDiversify(spark: SparkSession, dir: String): DataFrame = {
    val pool = cosinePool(spark, dir, qMax = 10, depth = MmrDepth)
      .drop("vrank")
      .localCheckpoint(false)
    val sims = pool.as("a")
      .join(pool.as("b"),
        col("a.qid") === col("b.qid") && col("a.cid") =!= col("b.cid"))
      .select(col("a.qid").as("qid"), col("a.cid").as("ca"), col("b.cid").as("cb"),
        (dot(col("a.cv"), col("b.cv")) /
          (col("a.cn") * col("b.cn"))).as("sim"))
      .localCheckpoint(false)
    val cands = pool.drop("cv", "cn")
    // each pick is a <= Q-row frame referenced THREE times by the next
    // step (anti-join, max-sim probe, union) — without the barrier the
    // plan doubles per unrolled step (measured: 202 exchanges for k=5;
    // 2^k copies of the window subtrees), with it the unroll stays
    // linear. The d28/p9 materialize-once discipline, at selection size.
    def pick(scored: DataFrame, step: Int): DataFrame = {
      val w = Window.partitionBy(col("qid")).orderBy(col("mmr").desc, col("cid"))
      scored.withColumn("r", row_number().over(w)).filter(col("r") === 1)
        .select(col("qid"), col("cid"), col("rel"), col("mmr"),
          lit(step.toLong).as("step"))
        .localCheckpoint(false)
    }
    val first = pick(cands.withColumn("mmr", lit(MmrLambda) * col("rel")), 1)
    val selected = (2 to MmrK).foldLeft(first) { (sel, step) =>
      val remaining = cands.join(sel.select(col("qid"), col("cid")),
        Seq("qid", "cid"), "left_anti")
      val maxSim = sims
        .join(broadcast(sel.select(col("qid"), col("cid").as("cb"))),
          Seq("qid", "cb"))
        .groupBy(col("qid"), col("ca").as("cid"))
        .agg(max(col("sim")).as("maxsim"))
      val scored = remaining.join(maxSim, Seq("qid", "cid"))
        .withColumn("mmr",
          lit(MmrLambda) * col("rel") - lit(1 - MmrLambda) * col("maxsim"))
      sel.unionByName(pick(scored, step))
    }
    selected.select(col("qid"), col("step"), col("cid"), col("rel"), col("mmr"))
      .orderBy(col("qid"), col("step"))
  }

  val v28Sql: String = {
    // the unrolled greedy: selN = argmax of the step-N score over the
    // pool minus earlier picks; msN = each remaining candidate's max
    // sim to the picks so far — the exact mirror of the Spark unroll
    val steps = (2 to MmrK).map { n =>
      val prev = (1 until n).map(i => s"SELECT qid, cid FROM sel$i").mkString(" UNION ALL ")
      s"""ms$n AS (
        |  SELECT s.qid, s.ca AS cid, MAX(s.sim) AS maxsim
        |  FROM sims s JOIN ($prev) p ON s.qid = p.qid AND s.cb = p.cid
        |  WHERE NOT EXISTS (SELECT 1 FROM ($prev) x
        |                    WHERE x.qid = s.qid AND x.cid = s.ca)
        |  GROUP BY s.qid, s.ca),
        |sel$n AS (
        |  SELECT qid, cid, rel, mmr, CAST($n AS BIGINT) AS step FROM (
        |    SELECT c.qid, c.cid, c.rel,
        |      $MmrLambda * c.rel - ${1 - MmrLambda} * m.maxsim AS mmr,
        |      ROW_NUMBER() OVER (PARTITION BY c.qid
        |        ORDER BY $MmrLambda * c.rel - ${1 - MmrLambda} * m.maxsim DESC,
        |          c.cid) AS r
        |    FROM pool c JOIN ms$n m ON c.qid = m.qid AND c.cid = m.cid)
        |  WHERE r = 1)""".stripMargin
    }.mkString(",\n")
    val union = (1 to MmrK).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) nrm FROM e),
      |pool AS (
      |  SELECT qid, cid, cv, rel FROM (
      |    SELECT q.vec_id qid, c.vec_id cid, c.v cv,
      |      ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) rel,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) DESC, c.vec_id)
      |        AS prank
      |    FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |  WHERE prank <= $MmrDepth),
      |pn AS (SELECT qid, cid, cv, rel, sqrt(${dotSql("cv", "cv")}) nrm FROM pool),
      |sims AS (
      |  SELECT a.qid, a.cid ca, b.cid cb,
      |    ${dotSql("a.cv", "b.cv")} / (a.nrm * b.nrm) sim
      |  FROM pn a JOIN pn b ON a.qid = b.qid AND a.cid <> b.cid),
      |sel1 AS (
      |  SELECT qid, cid, rel, mmr, CAST(1 AS BIGINT) AS step FROM (
      |    SELECT qid, cid, rel, $MmrLambda * rel AS mmr,
      |      ROW_NUMBER() OVER (PARTITION BY qid
      |        ORDER BY $MmrLambda * rel DESC, cid) AS r
      |    FROM pool)
      |  WHERE r = 1),
      |$steps
      |SELECT qid, step, cid, rel, mmr FROM ($union)
      |ORDER BY qid, step""".stripMargin
  }

  /** v29: CLUSTER-QUALITY EVAL — the simplified (centroid-based)
    * silhouette (Hruschka et al. 2004) over the labeled embeddings:
    * per vector, a = squared L2 to its OWN label's centroid, b = min
    * squared L2 to any OTHER label's centroid, s = (b − a)/max(a, b) ∈
    * [−1, 1]; reported per label as mean/min/max. This is the metric a
    * curation pipeline watches to decide whether its labels/clusters
    * are worth stratifying on (s ≈ 0: labels don't separate — the
    * truth on this random fixture, and the query proves it rather than
    * assuming it).
    *
    * The full silhouette is O(N²) pairwise; the centroid variant is
    * the scale form — O(N·L) against L broadcast centroids, one scan.
    *
    * Determinism discipline (v4/v10's): centroids are nano-fixed-point
    * integer means (identical both engines by construction); per-pair
    * squared distance is the SEQUENTIAL fold both engines share
    * (Spark aggregate(zip_with) ≡ DuckDB list_reduce(list_transform) —
    * v10's proven pairing), floored to e9 integers; the ratio is ONE
    * double division of those integers floored to e6; per-label means
    * are integer DIV. No cross-row double sum anywhere. The
    * higher-order-function fold is interpreted, not codegen'd — fine
    * at N·L evaluations (the q31 Morton lesson applied: at real scale
    * swap in a VecDotFold-style native expression, same contract).
    */
  def v29Silhouette(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val centroids = centroidVecs(labelMeans(base))
    val d2 = aggregate(
      zip_with(col("v"), col("cvec"), (x, y) => (x - y) * (x - y)),
      lit(0d), (acc, e) => acc + e)
    val dists = base
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("label"), col("cell"),
        floor(d2 * lit(1e9)).cast("long").as("d2e9"))
    val ab = dists.groupBy(col("vec_id"), col("label"))
      .agg(
        min(when(col("cell") === col("label"), col("d2e9"))).as("a2"),
        min(when(col("cell") =!= col("label"), col("d2e9"))).as("b2"))
    // one double division of exact integers, floored to e6; a vector
    // sitting exactly on both centroids (max = 0) contributes NULL,
    // never a divide-by-zero kill (ANSI)
    val s = floor((col("b2") - col("a2")).cast("double") /
      nullif(greatest(col("a2"), col("b2")), lit(0L)).cast("double") * lit(1e6))
      .cast("long")
    ab.select(col("label"), s.as("s_e6"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        expr("SUM(s_e6) DIV COUNT(s_e6)").as("mean_s_e6"),
        min(col("s_e6")).as("min_s_e6"),
        max(col("s_e6")).as("max_s_e6"))
      .orderBy(col("label"))
  }

  val v29Sql: String = {
    val l2 = l2Sql _
    s"""WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |cl AS (
      |  SELECT label, i AS dim,
      |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
      |  FROM base, (SELECT unnest(generate_series(1, 64)) i)
      |  GROUP BY label, i),
      |cent AS (
      |  SELECT label AS cell, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec
      |  FROM cl GROUP BY label),
      |d AS (
      |  SELECT b.vec_id, b.label, c.cell,
      |    CAST(floor(${l2("b.v", "c.cvec")} * 1e9) AS BIGINT) AS d2e9
      |  FROM base b, cent c),
      |ab AS (
      |  SELECT vec_id, label,
      |    MIN(CASE WHEN cell = label THEN d2e9 END) AS a2,
      |    MIN(CASE WHEN cell <> label THEN d2e9 END) AS b2
      |  FROM d GROUP BY vec_id, label),
      |s AS (
      |  SELECT label,
      |    CAST(floor(CAST(b2 - a2 AS DOUBLE)
      |      / CAST(nullif(greatest(a2, b2), 0) AS DOUBLE) * 1e6) AS BIGINT) AS s_e6
      |  FROM ab)
      |SELECT label, COUNT(*) AS n_vectors,
      |  CAST(SUM(s_e6) // COUNT(s_e6) AS BIGINT) AS mean_s_e6,
      |  MIN(s_e6) AS min_s_e6, MAX(s_e6) AS max_s_e6
      |FROM s GROUP BY label ORDER BY label""".stripMargin
  }

  /** v30: CENTROID-DISTANCE OUTLIER REPORT — embedding-space outlier
    * pruning, the curation step that drops vectors far from their own
    * cluster's centroid (OOD/low-quality candidates: mislabeled docs,
    * encoder failures, boilerplate that embeds nowhere). SemDeDup keeps
    * the centroid-CLOSEST member per duplicate group (v14); this is the
    * complementary tail — per cluster, how many members sit beyond a
    * distance cutoff, and which member is worst.
    *
    * The cutoff is the MEAN-MULTIPLE rule: flag d² > 2 × mean(d²) for
    * the vector's own cluster. Deliberately mean-based, not z-score —
    * the whole chain stays in exact integer arithmetic (fixed-point
    * d²·1e9 from v29's distance discipline), so the flag reproduces
    * bit-for-bit on any engine and needs no BIGINT-overflowing
    * sum-of-squares-of-squares (d⁴ sums overflow 64 bits at corpus
    * scale; mean-multiple never widens past Σd²).
    *
    * Scale shape vs v29: NO centroid cross join — each vector joins
    * ONLY its own label's centroid (broadcast equi-join on label, |L|
    * rows), so the scored frame is |vecs| rows, not |vecs| × |cells|.
    * After the projection there is exactly ONE label-keyed exchange:
    * the stats window, the worst-member rank window, and the final
    * per-label rollup all share its hash partitioning (same key — no
    * re-shuffle between them). At 100 TB the widest thing in flight is
    * the corpus itself, once.
    */
  def v30CentroidOutliers(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val centroids = centroidVecs(labelMeans(base), cellCol = "label")
    val d2 = aggregate(
      zip_with(col("v"), col("cvec"), (x, y) => (x - y) * (x - y)),
      lit(0d), (acc, e) => acc + e)
    val dists = base.join(broadcast(centroids), Seq("label"))
      .select(col("label"), col("vec_id"),
        floor(d2 * lit(1e9)).cast("long").as("d2e9"))
    val wr = Window.partitionBy(col("label"))
      .orderBy(col("d2e9").desc, col("vec_id"))
    dists
      .withColumn("mean_d2e9", expr(
        "sum(d2e9) OVER (PARTITION BY label) DIV count(1) OVER (PARTITION BY label)"))
      .withColumn("rn", row_number().over(wr))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("mean_d2e9")).as("mean_d2e9"),
        sum(when(col("d2e9") > lit(2L) * col("mean_d2e9"), 1L)
          .otherwise(0L)).as("n_outliers"),
        min(when(col("rn") === 1, col("vec_id"))).as("worst_vec_id"),
        min(when(col("rn") === 1, col("d2e9"))).as("worst_d2e9"))
      .select(col("label"), col("n_vectors"), col("mean_d2e9"),
        col("n_outliers"),
        expr("n_outliers * 1000000L DIV n_vectors").as("outlier_ppm"),
        col("worst_vec_id"), col("worst_d2e9"))
      .orderBy(col("label"))
  }

  val v30Sql: String = {
    val l2 = l2Sql _
    s"""WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |cl AS (
      |  SELECT label, i AS dim,
      |    CAST(SUM(CAST(floor(v[i] * 1e9) AS BIGINT)) // COUNT(*) AS BIGINT) AS ce9
      |  FROM base, (SELECT unnest(generate_series(1, 64)) i)
      |  GROUP BY label, i),
      |cent AS (
      |  SELECT label, list(CAST(ce9 AS DOUBLE) / 1e9 ORDER BY dim) AS cvec
      |  FROM cl GROUP BY label),
      |d AS (
      |  SELECT b.vec_id, b.label,
      |    CAST(floor(${l2("b.v", "c.cvec")} * 1e9) AS BIGINT) AS d2e9
      |  FROM base b JOIN cent c ON b.label = c.label),
      |w AS (
      |  SELECT label, vec_id, d2e9,
      |    CAST(SUM(d2e9) OVER (PARTITION BY label)
      |      // COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS mean_d2e9,
      |    ROW_NUMBER() OVER (PARTITION BY label
      |      ORDER BY d2e9 DESC, vec_id) AS rn
      |  FROM d)
      |SELECT label, COUNT(*) AS n_vectors,
      |  MIN(mean_d2e9) AS mean_d2e9,
      |  CAST(SUM(CASE WHEN d2e9 > 2 * mean_d2e9 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers,
      |  CAST(SUM(CASE WHEN d2e9 > 2 * mean_d2e9 THEN 1 ELSE 0 END)
      |    * 1000000 // COUNT(*) AS BIGINT) AS outlier_ppm,
      |  MIN(CASE WHEN rn = 1 THEN vec_id END) AS worst_vec_id,
      |  MIN(CASE WHEN rn = 1 THEN d2e9 END) AS worst_d2e9
      |FROM w GROUP BY label ORDER BY label""".stripMargin
  }

  /** Refinement geometry: the coarse stage hands each query a
    * candidate pool this size; the refine stage re-ranks it exactly and
    * keeps the family's top-3. */
  private val RefineCoarseK = 30

  /** v31: TWO-STAGE retrieval — coarse int8 scan, exact rerank — the
    * production ANN serving pattern (FAISS's SQ8-with-refine): the full
    * corpus is scanned only in its 4×-cheaper quantized form (v22's
    * centered-code integer dot, bit-exact in both engines), each query
    * keeps a depth-[[RefineCoarseK]] candidate pool, and ONLY the pool
    * is re-scored with the exact float cosine (v1's double-widened
    * sequential fold) to produce the final top-3. The per-row
    * `exact_hit` flag against the float ground truth measures what the
    * rerank buys over v22's pure-int8 ranking (the family's
    * measured-recall contract: refinement recovers exact-top-3 members
    * the coarse ranking misplaced INSIDE the pool; only a true pool
    * miss — exact top-3 outside the coarse top-30 — still escapes).
    *
    * Parity: coarse scores are small exact integers (v22's argument);
    * the refine cosine is the v1 fold; ranks are integer row_numbers
    * with (score DESC, cid) ties — nothing hash-fragile crosses rows.
    *
    * Scale shape: the N-sized scan touches 64 bytes/vector instead of
    * 512 (the whole point at 100 TB — memory bandwidth IS the scan
    * cost); the float table is touched only for Q × 30 pointed reads
    * (a broadcast of the pool into one scan of the float side, never a
    * second corpus pass per query); ranking windows + the output sort
    * are the only exchanges, same as v22.
    */
  def v31RerankRefine(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val packed = sqStatsPacked(base).localCheckpoint(false)
    val codeExpr = transform(sequence(lit(1), lit(64)),
      i => u8Code(i) - lit(128.0))
    val coded = base.crossJoin(broadcast(packed))
      .select(col("vec_id"), codeExpr.as("q8"))
    val queries = coded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q8").as("qq"))
    val cands = coded.select(col("vec_id").as("cid"), col("q8").as("cq"))
    val wc = Window.partitionBy(col("qid")).orderBy(col("iscore").desc, col("cid"))
    val pool = broadcast(queries).join(cands, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        dot(col("qq"), col("cq")).cast("long").as("iscore"))
      .withColumn("coarse_rank", row_number().over(wc).cast("long"))
      .filter(col("coarse_rank") <= RefineCoarseK)
      .select(col("qid"), col("cid"), col("coarse_rank"))
    val nb = base.select(col("vec_id"), col("v"), norm(col("v")).as("nrm"))
    val qn = nb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val wf = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    broadcast(pool)
      .join(nb.select(col("vec_id").as("cid"), col("v").as("cv"),
        col("nrm").as("cn")), Seq("cid"))
      .join(broadcast(qn), Seq("qid"))
      .select(col("qid"), col("cid"), col("coarse_rank"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cosine"))
      .withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= 3)
      .join(broadcast(exactTop3(base)), Seq("qid", "cid"), "left")
      .select(col("qid"), col("rank"), col("cid"), col("cosine"),
        col("coarse_rank"), coalesce(col("hit"), lit(0L)).as("exact_hit"))
      .orderBy(col("qid"), col("rank"))
  }

  val v31Sql: String =
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |stats AS (SELECT i AS dim, MIN(v[i]) AS mn, MAX(v[i]) AS mx
      |          FROM base, (SELECT unnest(generate_series(1, 64)) i) GROUP BY i),
      |packed AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
      |           FROM stats),
      |coded AS (SELECT vec_id,
      |    list_transform(generate_series(1, 64), i -> (CASE WHEN mxs[i] > mns[i]
      |      THEN least(255.0, greatest(0.0,
      |             floor(((v[i] - mns[i]) * 255.0) / (mxs[i] - mns[i]))))
      |      ELSE 0.0 END) - 128.0) AS q8
      |  FROM base, packed),
      |scored AS (
      |  SELECT q.vec_id qid, c.vec_id cid,
      |    CAST(list_reduce(list_transform(generate_series(1, 64),
      |      i -> q.q8[i] * c.q8[i]), (acc, x) -> acc + x) AS BIGINT) iscore
      |  FROM coded q JOIN coded c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
      |pool AS (
      |  SELECT qid, cid, coarse_rank FROM (
      |    SELECT qid, cid,
      |      ROW_NUMBER() OVER (PARTITION BY qid
      |        ORDER BY iscore DESC, cid) AS coarse_rank
      |    FROM scored)
      |  WHERE coarse_rank <= $RefineCoarseK),
      |nb AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) nrm FROM base),
      |ref AS (
      |  SELECT p.qid, p.cid, p.coarse_rank,
      |    ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cosine
      |  FROM pool p JOIN nb c ON c.vec_id = p.cid JOIN nb q ON q.vec_id = p.qid),
      |rk AS (SELECT qid, cid, coarse_rank, cosine,
      |         ROW_NUMBER() OVER (PARTITION BY qid
      |           ORDER BY cosine DESC, cid) AS rank
      |       FROM ref),
      |exact AS (
      |  SELECT qid, cid FROM (
      |    SELECT a.vec_id qid, b.vec_id cid,
      |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |        ORDER BY ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) DESC, b.vec_id) er
      |    FROM nb a JOIN nb b ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
      |  WHERE er <= 3)
      |SELECT r.qid, CAST(r.rank AS BIGINT) rank, r.cid, r.cosine,
      |  CAST(r.coarse_rank AS BIGINT) coarse_rank,
      |  CAST(CASE WHEN e.cid IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS exact_hit
      |FROM rk r LEFT JOIN exact e ON r.qid = e.qid AND r.cid = e.cid
      |WHERE r.rank <= 3
      |ORDER BY r.qid, r.rank""".stripMargin

  val defs: Map[String, Q] = Map(
    "v31_rerank_refine" -> (v31RerankRefine _),
    "v30_centroid_outliers" -> (v30CentroidOutliers _),
    "v29_silhouette" -> (v29Silhouette _),
    "v28_mmr_diversify" -> (v28MmrDiversify _),
    "v27_pq_distortion" -> (v27PqDistortion _),
    "p23_semantic_decontaminate" -> (p23SemanticDecontaminate _),
    "v26_hard_negatives" -> (v26HardNegatives _),
    "v25_cluster_balanced" -> (v25ClusterBalancedSample _),
    "v24_cell_balance" -> (v24CellBalance _),
    "v23_index_staleness" -> (v23IndexStaleness _),
    "v22_int8_ann" -> (v22Int8Ann _),
    "v21_matryoshka_sweep" -> (v21MatryoshkaSweep _),
    "v20_hamming_ann" -> (v20HammingAnn _),
    "v19_nprobe_sweep" -> (v19NprobeSweep _),
    "v18_versioned_ann" -> (v18VersionedAnn _),
    "v17_ivfadc_residual" -> (v17IvfAdcResidual _),
    "v16_filtered_ann" -> (v16FilteredAnn _),
    "v15_random_projection" -> (v15RandomProjection _),
    "v14_semdedup" -> (v14SemDedup _),
    "v13_ivfpq" -> (v13IvfPq _),
    "v12_pq_learned" -> (v12PqLearned _),
    "v11_kmeans_converged" -> (v11KmeansConverged _),
    "v10_kmeans_iter" -> (v10KmeansIter _),
    "v9_pq_adc" -> (v9PqAdc _),
    "v7_quantize" -> (v7Quantize _),
    "v1_cosine_topk" -> (v1CosineTopk _),
    "v2_lsh_ann" -> (v2LshAnn _),
    "v3_label_norms" -> (v3LabelNorms _),
    "v4_label_centroids" -> (v4LabelCentroids _),
    "v5_embedding_neardup" -> (v5EmbeddingNeardup _),
    "v6_ivf_ann" -> (v6IvfAnn _),
    "v8_ivf_nprobe" -> (v8IvfNprobe _))

  val oracles: Map[String, String] = Map(
    "v31_rerank_refine" -> v31Sql,
    "v30_centroid_outliers" -> v30Sql,
    "v29_silhouette" -> v29Sql,
    "v28_mmr_diversify" -> v28Sql,
    "v27_pq_distortion" -> v27Sql,
    "p23_semantic_decontaminate" -> p23Sql,
    "v26_hard_negatives" -> v26Sql,
    "v25_cluster_balanced" -> v25Sql,
    "v24_cell_balance" -> v24Sql,
    "v23_index_staleness" -> v23Sql,
    "v22_int8_ann" -> v22Sql,
    "v21_matryoshka_sweep" -> v21Sql,
    "v20_hamming_ann" -> v20Sql,
    "v19_nprobe_sweep" -> v19Sql,
    "v18_versioned_ann" -> v18Sql,
    "v17_ivfadc_residual" -> v17Sql,
    "v16_filtered_ann" -> v16Sql,
    "v15_random_projection" -> v15Sql,
    "v14_semdedup" -> v14Sql,
    "v13_ivfpq" -> v13Sql,
    "v12_pq_learned" -> v12Sql,
    "v11_kmeans_converged" -> v11Sql,
    "v10_kmeans_iter" -> v10Sql,
    "v9_pq_adc" -> v9Sql,
    "v7_quantize" -> v7Sql,
    "v1_cosine_topk" -> v1Sql,
    "v2_lsh_ann" -> v2Sql,
    "v3_label_norms" -> v3Sql,
    "v4_label_centroids" -> v4Sql,
    "v5_embedding_neardup" -> v5Sql,
    "v6_ivf_ann" -> v6Sql,
    "v8_ivf_nprobe" -> v8Sql)
}
