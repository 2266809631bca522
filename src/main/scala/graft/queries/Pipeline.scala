package graft.queries

import graft.Tables
import graft.functions.{HashFunctions => H, TextFunctions => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond the dedup family: context-window
  * chunking, deterministic split assignment, benchmark decontamination, and
  * TF-IDF term scoring. Everything is expression-level (codegen'd, no UDFs)
  * and every query has a bit-exact DuckDB oracle twin.
  *
  * Scale stances:
  *  - chunking and split assignment are pure projections — scan-speed at
  *    any corpus size;
  *  - decontamination is an inverted-index semi-join where the benchmark
  *    side is tiny by construction (eval sets are KBs against a 100 TB
  *    corpus) and broadcast;
  *  - TF-IDF shuffles on (doc, term) then term — both hash aggregations
  *    with map-side partial combine; the corpus-size scalar N arrives via
  *    a broadcast one-row join, never a collect.
  */
object Pipeline {

  type Q = (SparkSession, String) => DataFrame

  /** Context-window size / stride (tokens). Production values would be
    * e.g. 2048/1536; small constants keep the fixture output meaningful.
    */
  private val ChunkSize = 64
  private val ChunkStride = 48

  /** Shingle width for decontamination. Production pipelines use 13-gram
    * exact-match decontamination (the GPT-3 recipe); the fixture's
    * shared-vocabulary texts only collide at 3-grams, so the width is a
    * constant, not a design difference.
    */
  private val DecontamN = 3

  /** The n-gram concat for the decontamination oracles, generated from
    * [[DecontamN]] so the SQL can never drift from the Scala side's
    * `T.shingles(toks, DecontamN)` when the parameter changes.
    */
  private val decontamShingleSql: String =
    (0 until DecontamN).map(j => s"w[i+$j]").mkString(" || ' ' || ")

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** Chunk count for a `len`-token doc — the ONE definition of the
    * chunking delivery rule, shared by the chunker (p1) and its audit
    * (p25): p25's whole claim is that it audits the real delivery, so
    * the chunk-count formula must not exist twice (a change to the rule
    * that missed the copy would leave the audit measuring a delivery
    * that no longer runs).
    */
  private def nChunksCol(len: Column): Column = lit(1) +
    ceil(greatest(len - ChunkSize, lit(0)).cast("double") / ChunkStride).cast("int")

  /** p1: split each document into overlapping context windows. A chunk
    * starts every `ChunkStride` tokens; the count is
    * 1 + ceil(max(0, len - ChunkSize) / ChunkStride), so the last window
    * is the first one to reach the end of the document (no degenerate
    * all-inside-previous tails). Emits the chunk's token count and an
    * md5 of its text — the downstream join key for chunk-level dedup.
    */
  def p1Chunking(spark: SparkSession, dir: String): DataFrame = {
    val len = size(col("w"))
    val nChunks = nChunksCol(len)
    docs(spark, dir)
      // tokenize ONCE: the former filter-then-reproject split the same
      // O(len) split into two expression trees with no reuse (r12
      // review); NULL text yields NULL size and filters out identically
      .select(col("doc_id"), T.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 1)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), nChunks - 1)).as("k"))
      .select(col("doc_id"), (col("k") + 1).cast("long").as("chunk_id"),
        slice(col("w"), col("k") * ChunkStride + 1, lit(ChunkSize)).as("cw"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("cw")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("cw"))).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val p1Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 1),
      |c AS (
      |  SELECT doc_id, k + 1 AS chunk_id,
      |    w[k * $ChunkStride + 1 : k * $ChunkStride + $ChunkSize] AS cw
      |  FROM d, LATERAL (SELECT unnest(generate_series(0,
      |    CAST(ceil(greatest(len(w) - $ChunkSize, 0) / $ChunkStride.0) AS INT))) AS k))
      |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      |  CAST(len(cw) AS BIGINT) AS n_tokens,
      |  md5(array_to_string(cw, ' ')) AS chunk_hash
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** p2: deterministic train/val/test assignment — the standard
    * hash-bucket split (stable under reprocessing, independent of row
    * order and partitioning, unlike randomSplit). Bucket = first 8 md5
    * hex chars of the doc id, mod 100: 0-79 train, 80-89 val, 90-99 test.
    */
  def p2SplitAssign(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        graft.functions.HashFunctions.splitOf(col("doc_id")).as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"))
      .orderBy(col("split"))
  }

  val p2Sql: String =
    """WITH s AS (
      |  SELECT doc_id, n_chars,
      |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
      |  FROM (SELECT doc_id, n_chars,
      |          CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) % 100 AS b
      |        FROM documents))
      |SELECT split, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars, MIN(doc_id) AS min_doc_id
      |FROM s GROUP BY split ORDER BY split""".stripMargin

  /** p3: benchmark decontamination — flag training documents sharing an
    * n-gram with the held-out benchmark set (doc_id % 97 == 0 stands in
    * for the eval set). The benchmark side is broadcast: real eval sets
    * are a few MB against a 100 TB corpus, so the scan side never
    * shuffles on the n-gram; join key is the 64-bit shingle hash (same
    * collision argument as d5).
    */
  def p3Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val sh = docs(spark, dir)
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= DecontamN) // one tokenize (r12 review)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), T.shingles(col("toks"), DecontamN).as("shs"))
      .select(col("doc_id"), explode_outer(col("shs")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("k"))
    val bench = sh.filter(col("doc_id") % 97 === 0)
      .select(col("k"), col("doc_id").as("bench_id"))
    val train = sh.filter(col("doc_id") % 97 =!= 0)
    train.join(broadcast(bench), Seq("k"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
      .orderBy(col("doc_id"))
  }

  val p3Sql: String =
    s"""WITH sh AS (
      |  SELECT DISTINCT doc_id, $decontamShingleSql AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') w FROM documents),
      |       (SELECT unnest(generate_series(1, 100000)) i)
      |  WHERE i <= len(w) - ${DecontamN - 1}),
      |bench AS (SELECT s, doc_id AS bench_id FROM sh WHERE doc_id % 97 = 0),
      |train AS (SELECT * FROM sh WHERE doc_id % 97 <> 0)
      |SELECT t.doc_id, COUNT(*) AS n_hits,
      |  COUNT(DISTINCT b.bench_id) AS n_bench_docs
      |FROM train t JOIN bench b ON t.s = b.s
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** (doc_id, term) exploded tokens of non-empty docs, tokenized ONCE
    * (select-then-filter, the r12 discipline p1/p3/p9/p25 follow — the
    * former filter-then-explode split the same O(len) split into two
    * expression trees with no reuse); NULL text yields NULL size and
    * filters out identically. Shared by p4 and the BM25 index build.
    */
  private def explodedTokens(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), T.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 1)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(col("w")).as("term"))

  /** p4: top-5 TF-IDF terms per document (doc_id < 20). The idf is the
    * exact rational N/df instead of ln(N/df): one IEEE division is
    * bit-identical across engines, while libm log implementations are
    * not — and the RANKING is the same either way (ln is monotone).
    */
  def p4Tfidf(spark: SparkSession, dir: String): DataFrame = {
    val tok = explodedTokens(spark, dir)
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = tf.select(col("doc_id")).distinct().agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("term")).crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") * col("n_docs").cast("double") /
          col("df").cast("double")).as("tfidf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.filter(col("doc_id") < 20)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val p4Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents WHERE len(string_split(text, ' ')) >= 1),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
      |scored AS (
      |  SELECT doc_id, term,
      |    CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS tfidf
      |  FROM tf JOIN df USING (term), n),
      |ranked AS (
      |  SELECT doc_id, term, tfidf,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
      |  FROM scored WHERE doc_id < 20)
      |SELECT doc_id, rank, term, tfidf FROM ranked WHERE rank <= 5
      |ORDER BY doc_id, rank""".stripMargin

  /** p5: the end-to-end training-data pipeline as ONE declarative plan —
    * fingerprint dedup (d4 semantics) → PII scrub (d13 semantics) →
    * quality gate (d3 thresholds) → deterministic split (p2 buckets) →
    * per-split summary. Each stage was verified in isolation; this query
    * verifies the COMPOSITION, which is what a user actually runs.
    *
    * Scale shape: one shuffle for the dedup window on the fingerprint,
    * then pure projections until the final 3-row aggregation — Catalyst
    * fuses scrub/score/split into the post-window projection, so the
    * whole pipeline after dedup is scan-speed. No stage materializes an
    * intermediate corpus.
    */
  def p5PipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = graft.functions.PiiPatterns.Email
    val phoneRe = graft.functions.PiiPatterns.Phone
    val wf = Window.partitionBy(graft.functions.HashFunctions.fingerprint(col("text")))
    val keepers = docs(spark, dir)
      .select(col("doc_id"), col("text"),
        min(col("doc_id")).over(wf).as("keeper"))
      .filter(col("doc_id") === col("keeper"))
    val scrubbed = keepers.select(col("doc_id"),
      regexp_replace(regexp_replace(col("text"), emailRe, "[EMAIL]"),
        phoneRe, "[PHONE]").as("t"))
    val toks = T.tokens(col("t"))
    val scored = scrubbed
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        T.lexicalDiversity(toks).as("q"))
      .filter(col("n_tokens") >= 40 && col("q") > 0.3)
    scored
      .select(col("doc_id"), col("n_tokens"),
        graft.functions.HashFunctions.splitOf(col("doc_id")).as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("min_doc_id"))
      .orderBy(col("split"))
  }

  val p5Sql: String = {
    val em = graft.functions.PiiPatterns.Email
    val ph = graft.functions.PiiPatterns.Phone
    s"""WITH keep AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |      MIN(doc_id) OVER (PARTITION BY
      |        md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS keeper
      |    FROM documents)
      |  WHERE doc_id = keeper),
      |scrub AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(text,
      |      '$em', '[EMAIL]', 'g'),
      |      '$ph', '[PHONE]', 'g') AS t
      |  FROM keep),
      |scored AS (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
      |    len(list_distinct(w)) / CAST(len(w) AS DOUBLE) AS q
      |  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM scrub)
      |  WHERE len(w) >= 40
      |    AND len(list_distinct(w)) / CAST(len(w) AS DOUBLE) > 0.3),
      |s AS (
      |  SELECT doc_id, n_tokens,
      |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM (SELECT doc_id, n_tokens,
      |          CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      |               AS UBIGINT) % 100 AS b
      |        FROM scored))
      |SELECT split, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  MIN(doc_id) AS min_doc_id
      |FROM s GROUP BY split ORDER BY split""".stripMargin
  }

  /** Packing lanes / per-bin token budget for p6. Production values:
    * lanes ~ cluster cores, budget ~ global-batch tokens (e.g. 4M).
    */
  private val PackLanes = 8
  private val PackBudget = 512L

  /** p6: token-budget sharding (training-batch packing): assign documents
    * to fixed-token-budget bins. Globally-ordered first-fit packing is
    * inherently sequential (each bin depends on every earlier doc), and a
    * single ORDER BY cumulative-sum window collapses the plan to ONE
    * partition — the non-distributed trap. The scale form hash-partitions
    * docs into independent packing lanes and packs each lane by running
    * token count in doc_id order: one window partition per lane, so lanes
    * scale with the cluster, no lane needs another lane's state, and the
    * assignment is deterministic under any physical order. Bin overfill
    * vs the budget is bounded by the longest single document.
    */
  def p6PackBudget(spark: SparkSession, dir: String): DataFrame = {
    val lane = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % PackLanes
    val cum = Window.partitionBy(col("lane")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs(spark, dir)
      .select(col("doc_id"), lane.as("lane"),
        size(T.tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("bin",
        floor(coalesce(sum(col("n_tok")).over(cum), lit(0L)) / PackBudget)
          .cast("long"))
      .groupBy(col("lane"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
      .orderBy(col("lane"), col("bin"))
  }

  val p6Sql: String =
    s"""WITH d AS (SELECT doc_id,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |        CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      |             AS UBIGINT) % $PackLanes AS BIGINT) AS lane
      |      FROM documents),
      |c AS (SELECT lane, doc_id, n_tok,
      |        COALESCE(SUM(n_tok) OVER (PARTITION BY lane ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |      FROM d)
      |SELECT lane, CAST(cum // $PackBudget AS BIGINT) AS bin,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
      |FROM c GROUP BY lane, bin ORDER BY lane, bin""".stripMargin

  /** p7: one-pass column profiling — null counts, exact distinct counts,
    * min/max per column of the corpus table, the stats pass an ingestion
    * pipeline runs before schema/partitioning decisions (and the input
    * to the YAML table configs the replication layer consumes).
    *
    * Physical shape: ONE scan computes every column's stats in a single
    * aggregation (the oracle's UNION ALL form scans the table once per
    * column — 5x the I/O; at 100 TB the single-scan form is the whole
    * point). The multiple exact COUNT(DISTINCT)s plan as one Expand
    * (row-multiply by #columns) feeding one aggregate — the costed-in
    * price of exactness; the 100 TB knob is swapping each for
    * approx_count_distinct (HLL, same plan shape, no Expand), kept exact
    * so the DuckDB oracle can replay the values.
    */
  def p7Profile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
      countDistinct(col(c)).as(s"${c}_distinct"),
      min(col(c)).cast("string").as(s"${c}_min"),
      max(col(c)).cast("string").as(s"${c}_max")))
    docs(spark, dir)
      .agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), explode(array(cols.map(c => struct(
        lit(c).as("column_name"),
        col(s"${c}_nulls").as("n_nulls"),
        col(s"${c}_distinct").as("n_distinct"),
        col(s"${c}_min").as("min_val"),
        col(s"${c}_max").as("max_val"))): _*)).as("p"))
      .select(col("p.column_name"), col("n_rows"), col("p.n_nulls"),
        col("p.n_distinct"), col("p.min_val"), col("p.max_val"))
      .orderBy(col("column_name"))
  }

  val p7Sql: String = Seq("doc_id", "text", "lang", "source", "n_chars")
    .map(c =>
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_val,
         |  CAST(MAX($c) AS VARCHAR) AS max_val
         |FROM documents""".stripMargin)
    .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")

  /** Bloom bitmap geometry: 4 independent lanes of 2^16 bits, each lane's
    * slot read from its own 16-bit slice of the shingle's md5 hex (a
    * partitioned Bloom filter — one hash function per lane). 4 x 65536
    * bits = 32 KB total, packed into <= 4096 (word, bits) rows.
    */
  private val BloomLanes = 4
  private val BloomLaneSlots = 1 << 16

  /** p9: Bloom-filter decontamination — the constant-size form of p3.
    * p3 broadcasts the benchmark's full n-gram hash set, which grows
    * with the eval suite; here the benchmark side folds into a FIXED
    * 32 KB partitioned Bloom bitmap (4 lanes x 2^16 bits, slots = four
    * disjoint 16-bit slices of the shingle md5 — deterministic, so the
    * DuckDB oracle sets the exact same bits). The bitmap is mergeable
    * (bit_or) across benchmark shards, the corpus probe is a broadcast
    * join against <= 4096 bitmap words + a bit test per lane, and only
    * Bloom-positive shingles reach the exact rescoring join — at 100 TB
    * the full benchmark set is consulted only for survivors, and the
    * false-positive rate the filter pays is VISIBLE in the output
    * (n_false_pos = bloom hits the exact join rejects).
    */
  def p9BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val shRaw = docs(spark, dir)
      // spread FIRST, tokenize after: the single-row-group fixture scans
      // on one task, so tokenizing before the exchange serialized the
      // whole corpus tokenize on one core (measured: the 1-task scan
      // stage carried the tokenize; r15) — and the exchange now carries
      // raw text instead of token arrays
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= DecontamN) // one tokenize (r12 review)
      .select(col("doc_id"), T.shingles(col("toks"), DecontamN).as("shs"))
      .select(col("doc_id"), explode_outer(col("shs")).as("s"))
      .select(col("doc_id"), md5(col("s")).as("hex"))
      .distinct()
    // size-gated reuse point: sh has THREE consumers (bloom build,
    // benchmark hex set, corpus probe) whose divergent column pruning
    // defeats AQE's exchange-stage reuse — the tokenize+shingle+md5
    // map stage ran once per consumer (measured: two ~7.5 run-s map
    // stages at sf0.1; d9Pred's rationale). Above the gate the shingle
    // set recomputes per consumer from fault-tolerant lineage instead
    // of pinning corpus-scale blocks executor-local (§5).
    val sh = graft.operators.Spread.reuse(spark, shRaw,
      s"$dir/documents.parquet")
    // lane j's slot id = j * 2^16 + the j-th 16-bit slice of the md5
    // hex. The four slices are parsed as TWO u32 halves (hex chars 1-8
    // and 9-16) and split with shifts — bit-identical to the previous
    // 4x substring+conv form (which the oracle still replays): conv of
    // 8 hex chars is an exact u32 (< 2^63, no sign or overflow), and
    // hi = c(1..4)*2^16 + c(5..8) with both terms in [0, 2^16), so
    // hi >>> 16 is exactly chars 1-4 and hi & 0xFFFF exactly chars 5-8
    // (same for lo / chars 9-16). Halves the hex parsing on the probe
    // hot path, the query's CPU center (r15; guide §1.2 per-task work).
    val laneHalves = Seq(
      conv(substring(col("hex"), 1, 8), 16, 10).cast("long").as("h_hi"),
      conv(substring(col("hex"), 9, 8), 16, 10).cast("long").as("h_lo"))
    val laneIds = Seq(
      shiftrightunsigned(col("h_hi"), 16),
      lit(1L * BloomLaneSlots) + col("h_hi").bitwiseAND(lit(0xFFFFL)),
      lit(2L * BloomLaneSlots) + shiftrightunsigned(col("h_lo"), 16),
      lit(3L * BloomLaneSlots) + col("h_lo").bitwiseAND(lit(0xFFFFL)))
    // the bitmap: explode lanes on the TINY benchmark side only, then
    // pack bits into <= 4096 64-bit words (mergeable across shards)
    // the lazy localCheckpoint materializes the <= 4096-row bitmap once;
    // without it each of the four lane joins below replans the whole
    // benchmark-side build under its own broadcast exchange
    val bloom = sh.filter(col("doc_id") % 97 === 0)
      .select(col("hex") +: laneHalves: _*)
      .select(explode(array(laneIds: _*)).as("id"))
      .select(shiftright(col("id"), 6).as("w"),
        expr("shiftleft(1L, CAST(id & 63 AS INT))").as("b"))
      .groupBy(col("w")).agg(bit_or(col("b")).as("word"))
      .localCheckpoint(false)
    val benchHex = sh.filter(col("doc_id") % 97 === 0)
      .select(col("hex")).distinct().withColumn("is_true", lit(1))
    // the probe: one broadcast-hash join per lane against the <= 4096-row
    // bitmap — all four joins reference the SAME bloom subtree (aliased,
    // not re-projected) so the broadcast exchange is planned once and
    // ReuseExchange dedupes the other three; the corpus itself is never
    // exploded or re-shuffled — each lane's bit test is a projection over
    // its joined word
    val probed = (0 until BloomLanes).foldLeft(
      sh.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id") +: col("hex") +: laneHalves: _*)
        .select(col("doc_id") +: col("hex") +:
          laneIds.zipWithIndex.map { case (c, j) => c.as(s"id$j") }: _*)) {
      (df, j) =>
        df.join(broadcast(bloom.as(s"b$j")),
            shiftright(col(s"id$j"), 6) === col(s"b$j.w"), "left")
          .withColumn(s"word$j", col(s"b$j.word"))
          .drop(col(s"b$j.w")).drop(col(s"b$j.word"))
    }
    val bloomPos = probed.filter((0 until BloomLanes).map(j =>
      expr(s"(shiftright(word$j, CAST(id$j & 63 AS INT)) & 1) = 1")).reduce(_ && _))
    bloomPos.select(col("doc_id"), col("hex"))
      .join(broadcast(benchHex), Seq("hex"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bloom_hits"),
        sum(coalesce(col("is_true"), lit(0))).cast("long").as("n_true_hits"))
      .select(col("doc_id"), col("n_bloom_hits"), col("n_true_hits"),
        (col("n_bloom_hits") - col("n_true_hits")).as("n_false_pos"))
      .orderBy(col("doc_id"))
  }

  val p9Sql: String =
    s"""WITH sh AS (
      |  SELECT DISTINCT doc_id, $decontamShingleSql AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') w FROM documents),
      |       (SELECT unnest(generate_series(1, 100000)) i)
      |  WHERE i <= len(w) - ${DecontamN - 1}),
      |hs AS (SELECT DISTINCT doc_id, md5(s) AS hex FROM sh),
      |ids AS (
      |  SELECT doc_id, hex,
      |    j * $BloomLaneSlots + CAST('0x' || substring(hex, 1 + 4 * j, 4) AS BIGINT) AS id
      |  FROM hs, (VALUES (0), (1), (2), (3)) t(j)),
      |bloom AS (SELECT DISTINCT id FROM ids WHERE doc_id % 97 = 0),
      |probe AS (
      |  SELECT doc_id, hex, COUNT(*) AS lanes
      |  FROM ids WHERE doc_id % 97 <> 0 AND id IN (SELECT id FROM bloom)
      |  GROUP BY doc_id, hex),
      |bench_h AS (SELECT DISTINCT hex FROM hs WHERE doc_id % 97 = 0),
      |pos AS (
      |  SELECT doc_id, hex,
      |    CASE WHEN hex IN (SELECT hex FROM bench_h) THEN 1 ELSE 0 END AS is_true
      |  FROM probe WHERE lanes = $BloomLanes)
      |SELECT doc_id, COUNT(*) AS n_bloom_hits,
      |  CAST(SUM(is_true) AS BIGINT) AS n_true_hits,
      |  CAST(COUNT(*) - SUM(is_true) AS BIGINT) AS n_false_pos
      |FROM pos GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Epochs / shards for the p10 manifest. Production values would be
    * e.g. 4 epochs x 10k shards; small constants keep the fixture's
    * per-shard runs long enough to be meaningful.
    */
  private val EpochCount = 2
  private val ShardCount = 8

  /** p10: deterministic epoch shuffle — the delivery end of the
    * pipeline. A training run wants each epoch to visit the corpus in a
    * DIFFERENT pseudorandom order, sharded so loaders stream shards
    * independently; doing that with a seeded RNG needs global state,
    * doing it with `ORDER BY rand()` is nondeterministic under retry.
    * Here a doc's (epoch, shard, position) is a pure function of
    * (epoch, doc_id): key = md5_64("ep:" || epoch || ":" || doc_id),
    * shard = pmod(key, S), position = rank of key within the shard — so
    * the manifest is reproducible under any partitioning, any arrival
    * order, and any failure/retry, and two epochs induce independent
    * permutations (the epoch salts the hash).
    *
    * Scale shape: no global sort anywhere — the only exchange is the
    * hash partition by (epoch, shard), and each shard orders locally by
    * key (at 10k shards a 100 TB corpus sorts ~10 GB per shard slice, a
    * per-task spill-friendly sort). This is exactly the
    * repartition + sortWithinPartitions layout the shard WRITE would
    * use; the manifest form surfaces the position for the oracle.
    */
  def p10EpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("key"), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"),
        explode(sequence(lit(0L), lit((EpochCount - 1).toLong))).as("epoch"))
      .withColumn("key", H.md5NumberBigEndian(concat(
        lit("ep:"), col("epoch").cast("string"),
        lit(":"), col("doc_id").cast("string"))))
      .withColumn("shard", pmod(col("key"), lit(ShardCount.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("epoch"), col("shard"), col("pos"), col("doc_id"))
      .orderBy(col("epoch"), col("shard"), col("pos"))
  }

  val p10Sql: String = {
    val h = graft.queries.Documents.signedBeMd5Sql(
      "'ep:' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")
    s"""WITH e AS (SELECT unnest(generate_series(0, ${EpochCount - 1})) AS epoch),
      |k AS (SELECT epoch, doc_id, $h AS key FROM documents, e),
      |s AS (SELECT epoch,
      |        ((key % $ShardCount) + $ShardCount) % $ShardCount AS shard,
      |        doc_id, key FROM k)
      |SELECT epoch, shard,
      |  ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY key, doc_id) AS pos,
      |  doc_id
      |FROM s ORDER BY epoch, shard, pos""".stripMargin
  }

  /** Per-batch token budget for p11. A production value would be the
    * trainer's context-length x micro-batch product (e.g. 8192 x 16);
    * 16384 keeps the fixture's buckets multi-batch.
    */
  private val BatchTokenBudget = 16384L

  /** p11: sequence-length bucketing — the batching-shape profile a
    * trainer's data loader needs. Each doc lands in the smallest
    * power-of-two bucket holding its token count; per bucket the
    * manifest reports doc count, real tokens, padded slots
    * (bucket x docs — what the GPU actually processes), and how many
    * fixed-budget batches the bucket fills at `BatchTokenBudget` tokens
    * per batch (rows-per-batch = budget DIV bucket — integer division,
    * padding-aware). Length bucketing is the standard alternative to
    * p6's dense packing when example boundaries must survive (padding
    * waste is the price, and this query is the instrument that prices
    * it).
    *
    * Everything is integer arithmetic: the power-of-two ceiling is
    * 1 << bitlength(n-1) via `bin()` string length — NOT
    * ceil(log2(n)), whose float round-trip misbuckets exact powers of
    * two on engines where log(8)/log(2) = 3.0000000000000004. One hash
    * agg on a derived integer key; scale-free (the grid is at most ~20
    * buckets regardless of corpus size).
    */
  def p11LengthBuckets(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      // coalesce: a NULL text must bucket like the empty string (one
      // empty token) on BOTH engines, not propagate a NULL bucket row
      .select(size(split(coalesce(col("text"), lit("")), " ")).cast("long").as("n_tokens"))
      .withColumn("seq_bucket",
        when(col("n_tokens") <= 1, 1L)
          .otherwise(expr("shiftleft(1L, length(bin(n_tokens - 1)))")))
      .groupBy(col("seq_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .select(col("seq_bucket"), col("n_docs"), col("sum_tokens"),
        (col("seq_bucket") * col("n_docs")).as("padded_tokens"),
        when(col("seq_bucket") >= BatchTokenBudget, col("n_docs"))
          .otherwise(expr(
            s"(n_docs + ($BatchTokenBudget div seq_bucket) - 1) div ($BatchTokenBudget div seq_bucket)"))
          .as("n_batches"))
      .orderBy(col("seq_bucket"))

  val p11Sql: String =
    s"""WITH d AS (
      |  SELECT len(string_split(COALESCE(text, ''), ' ')) AS n_tokens FROM documents),
      |b AS (
      |  SELECT n_tokens,
      |    CASE WHEN n_tokens <= 1 THEN 1
      |         ELSE 1 << length(bin(n_tokens - 1)) END AS seq_bucket
      |  FROM d)
      |SELECT CAST(seq_bucket AS BIGINT) AS seq_bucket, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
      |  CAST(seq_bucket * COUNT(*) AS BIGINT) AS padded_tokens,
      |  CAST(CASE WHEN seq_bucket >= $BatchTokenBudget THEN COUNT(*)
      |       ELSE (COUNT(*) + ($BatchTokenBudget // seq_bucket) - 1)
      |            // ($BatchTokenBudget // seq_bucket) END AS BIGINT) AS n_batches
      |FROM b GROUP BY seq_bucket ORDER BY seq_bucket""".stripMargin

  /** p12: the delivery-side end-to-end — p5 fuses the CLEANING chain
    * (dedup → scrub → quality → split); this fuses the chain that hands
    * tokens to the trainer: d24's five-rule quality gate selects the
    * pool, d22's temperature rates (computed over the CLEANED pool —
    * the set actually being trained on, not the raw corpus) flatten the
    * language mix, and p10's deterministic epoch shuffle lays the
    * survivors out as (epoch, shard, position) — one plan from raw
    * corpus to loader manifest, reproducible under any partitioning or
    * retry.
    *
    * Physical shape: the cleaned pool is localCheckpointed ONCE and
    * read twice (rate statistics + the sampled manifest) — at 100 TB
    * this materialization IS the cleaned training corpus, a table a
    * production run persists anyway; the rate table is a |langs|-row
    * broadcast, the coin and shard keys are pure md5 projections, and
    * the only exchange after the pool is p10's hash partition by
    * (epoch, shard) with per-shard local sorts.
    */
  def p12DeliveryE2e(spark: SparkSession, dir: String): DataFrame = {
    // the barrier sits BETWEEN the verdict and the keep filter: pushed
    // through d24's projections, keep = 1 rewrites into the five-rule
    // expression (including the interpreted dup-run fold) evaluated a
    // second time in a Filter below them — doubling the whole gate cost
    // (measured 6.4 s vs 3.3 s for the bare verdict at sf0.1)
    val kept = graft.queries.Documents.d24QualityGate(spark, dir)
      .localCheckpoint(false)
      .filter(col("keep") === 1).select(col("doc_id"))
    val pool = docs(spark, dir).select(col("doc_id"), col("lang"))
      .join(kept, Seq("doc_id"), "left_semi")
      .localCheckpoint(false)
    val counts = pool.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val minN = counts.agg(min(col("n_docs")).as("min_n"))
    val rates = counts.crossJoin(broadcast(minN))
      .withColumn("rate_permille",
        floor(lit(1000) * sqrt(col("min_n") / col("n_docs").cast("double")))
          .cast("long"))
      .select(col("lang"), col("rate_permille"))
    val gate = pmod(
      H.md5NumberBigEndian(
        concat(col("doc_id").cast("string"), lit(":mix:"), col("lang"))),
      lit(1000L))
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("key"), col("doc_id"))
    pool.join(broadcast(rates), Seq("lang"))
      .filter(gate < col("rate_permille"))
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(0L), lit((EpochCount - 1).toLong))).as("epoch"))
      .withColumn("key", H.md5NumberBigEndian(concat(
        lit("ep:"), col("epoch").cast("string"),
        lit(":"), col("doc_id").cast("string"))))
      .withColumn("shard", pmod(col("key"), lit(ShardCount.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("epoch"), col("shard"), col("pos"), col("doc_id"), col("lang"))
      .orderBy(col("epoch"), col("shard"), col("pos"))
  }

  val p12Sql: String = {
    val gate = graft.queries.Documents.signedBeMd5Sql(
      "CAST(doc_id AS VARCHAR) || ':mix:' || lang")
    val key = graft.queries.Documents.signedBeMd5Sql(
      "'ep:' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")
    s"""WITH toks AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS w
      |             FROM documents),
      |f AS (SELECT doc_id, len(w) AS n,
      |  list_sum(list_transform(w, x -> CAST(length(x) AS BIGINT))) / CAST(len(w) AS DOUBLE) AS mlen,
      |  len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) / CAST(len(w) AS DOUBLE) AS stop,
      |  len(list_distinct(w)) / CAST(len(w) AS DOUBLE) AS lex
      |  FROM toks),
      |g AS (SELECT doc_id,
      |        unnest(list_transform(generate_series(1, len(w) - 2),
      |                              i -> array_to_string(w[i:i+2], ' '))) AS g
      |      FROM toks WHERE len(w) >= 3),
      |c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g),
      |d AS (SELECT doc_id,
      |        SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) / CAST(SUM(c) AS DOUBLE) AS dupf
      |      FROM c GROUP BY doc_id),
      |kept AS (SELECT f.doc_id FROM f LEFT JOIN d ON f.doc_id = d.doc_id
      |  WHERE NOT (f.n < 40 OR f.mlen < 3.0 OR f.mlen > 4.75 OR f.stop < 0.05
      |             OR f.lex <= 0.3 OR COALESCE(d.dupf, 0) > 0.05)),
      |pool AS (SELECT dd.doc_id, dd.lang FROM documents dd JOIN kept USING (doc_id)),
      |counts AS (SELECT lang, COUNT(*) AS n_docs FROM pool GROUP BY lang),
      |rates AS (SELECT lang,
      |    CAST(floor(1000 * sqrt((SELECT MIN(n_docs) FROM counts)
      |      / CAST(n_docs AS DOUBLE))) AS BIGINT) AS rate_permille
      |  FROM counts),
      |sampled AS (SELECT p.doc_id, p.lang FROM pool p JOIN rates r USING (lang)
      |  WHERE ((($gate) % 1000) + 1000) % 1000 < r.rate_permille),
      |e AS (SELECT unnest(generate_series(0, ${EpochCount - 1})) AS epoch),
      |k AS (SELECT epoch, doc_id, lang, $key AS key FROM sampled, e),
      |s AS (SELECT epoch, ((key % $ShardCount) + $ShardCount) % $ShardCount AS shard,
      |        doc_id, lang, key FROM k)
      |SELECT epoch, shard,
      |  ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY key, doc_id) AS pos,
      |  doc_id, lang
      |FROM s ORDER BY epoch, shard, pos""".stripMargin
  }

  /** The persisted (term, doc_id, tf, dl) inverted index and its one-row
    * corpus stats — the build half of [[bm25Scored]].
    */
  private def bm25Index(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val idx = graft.operators.PersistedIndex.ensure(
      spark, "graft_bm25_idx", dir,
      sources = Seq(s"$dir/documents.parquet"), params = "tf+dl") { table =>
      val tok = explodedTokens(spark, dir)
      val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      graft.operators.Bucketing.alignedBucketed(
          tf.join(dl, Seq("doc_id")),
          Seq("term"), Seq("term"))
        .saveAsTable(table)
    }
    val stats = graft.operators.PersistedIndex.ensure(
      spark, "graft_bm25_stats", dir,
      sources = Seq(s"$dir/documents.parquet"), params = "stats") { table =>
      idx.agg(countDistinct(col("doc_id")).as("n_docs"),
          sum(col("tf")).as("tot_len"))
        .write.format("parquet").saveAsTable(table)
    }
    (idx, stats)
  }

  /** The BM25-scored candidate frame (qid < 3): (qid, doc_id, n_terms,
    * score) — Okapi BM25 (Robertson-Spärck Jones probabilistic
    * weighting), the scoring pipeline shared by p13's ranked retrieval
    * and the fusion query's lexical leg ([[p27RankFusion]]), factored
    * so both rank IDENTICAL scores.
    *
    * Determinism: p4's rational-idf discipline extends to the full BM25
    * weight — the idf is the exact rational (N - df + 0.5)/(df + 0.5)
    * + 1 (Lucene's +1 form, so weights stay positive) WITHOUT the ln
    * around it: libm logs differ across engines in the last ULP while
    * one IEEE division tree is bit-identical, and the ranking is
    * unchanged (monotone). Per-term scores stay double (identical
    * expression trees both engines); the per-document SUM goes through
    * DECIMAL(18,6) so Spark's partial-agg order vs DuckDB's cannot
    * produce last-ULP mismatches (the Relational.scala convention).
    *
    * Scale shape — retrieval runs against a PERSISTED INVERTED INDEX,
    * not a per-query re-tokenize (what a real search tier does): one
    * build per (corpus, params) writes the (term, doc_id, tf, dl) index
    * bucketed by term, plus its one-row corpus stats. Query-time work is
    * then bucket-layout aggregations (df needs no exchange), broadcasts
    * of the tiny query-term frames, and exactly one corpus-keyed
    * exchange — the final (qid, doc) score agg — plus the consumer's
    * top-k window. The naive form re-pays three corpus aggregations per
    * query.
    */
  private[graft] def bm25Scored(spark: SparkSession, dir: String): DataFrame = {
    val (idx, stats) = bm25Index(spark, dir)
    val dft = idx.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val q = idx.filter(col("doc_id") < 3)
      .select(col("doc_id").as("qid"), col("term"))
    val qdf = dft.join(q.select(col("term")).distinct(), Seq("term"), "left_semi")
    val idf = (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)) + lit(1.0)
    val avgdl = col("tot_len").cast("double") / col("n_docs").cast("double")
    val tfNorm = col("tf").cast("double") * lit(2.2) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
    idx.join(broadcast(q), Seq("term"))
      .filter(col("qid") =!= col("doc_id"))
      .join(broadcast(qdf), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy(col("qid"), col("doc_id"))
      .agg(
        sum((idf * tfNorm).cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("score"),
        count(lit(1)).as("n_terms"))
  }

  /** p13: BM25 ranked retrieval — each query doc's terms score candidate
    * documents ([[bm25Scored]], where the determinism and scale contracts
    * live) and the top-5 per query return.
    */
  def p13Bm25Retrieve(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    bm25Scored(spark, dir)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("doc_id"), col("n_terms"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }

  /** The shared BM25 CTE chain (through the scored `sc` frame) — one
    * definition so p13's oracle and p27's lexical leg can never drift.
    */
  private val bm25CtesSql: String =
    """tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents WHERE len(string_split(text, ' ')) >= 1),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
      |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_len FROM dl),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |q AS (SELECT doc_id AS qid, term FROM tf WHERE doc_id < 3),
      |sc AS (
      |  SELECT q.qid, t.doc_id,
      |    CAST(SUM(CAST(
      |      ((CAST(st.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
      |         / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
      |      * (CAST(t.tf AS DOUBLE) * 2.2
      |         / (CAST(t.tf AS DOUBLE)
      |            + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
      |                / (CAST(st.tot_len AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))))
      |      AS DECIMAL(18,6))) AS DOUBLE) AS score,
      |    COUNT(*) AS n_terms
      |  FROM tf t
      |  JOIN q ON t.term = q.term AND t.doc_id <> q.qid
      |  JOIN df ON df.term = t.term
      |  JOIN dl ON dl.doc_id = t.doc_id, st
      |  GROUP BY 1, 2)""".stripMargin

  val p13Sql: String =
    s"""WITH $bm25CtesSql,
      |r AS (SELECT qid, doc_id, n_terms, score,
      |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
      |      FROM sc)
      |SELECT qid, rank, doc_id, n_terms, score FROM r WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin

  /** RRF constants: the standard k=60 (Cormack, Clarke, Büttcher 2009 —
    * reciprocal rank fusion outperforms learned fusion with this single
    * constant) over depth-20 per-ranker lists, fused top-10.
    */
  private val RrfK = 60
  private val RrfDepth = 20
  private val RrfTopN = 10

  /** p27: HYBRID RETRIEVAL via reciprocal rank fusion — the rank
    * aggregation step a curation/hard-negative-mining pipeline runs to
    * combine a lexical ranker with a vector ranker. Each leg retrieves
    * its own depth-[[RrfDepth]] list per query (qid < 3, the p13 query
    * set): lexical = p13's EXACT BM25 scores off the persisted inverted
    * index ([[bm25Scored]], shared code); vector = v1's cosine
    * discipline over the embeddings table (double-widened sequential
    * fold, broadcast query side). Fusion: rrf = Σ_lists 1/(k + rank),
    * k=[[RrfK]], a candidate absent from one list contributing nothing —
    * the standard RRF form, score-scale-free by construction (only RANKS
    * cross lists, which is why the two legs' incomparable score spaces
    * need no normalization).
    *
    * Determinism across engines: each leg's rank is an integer from a
    * (score DESC, id) row_number — ties broken identically; the fused
    * score is built from those integers alone (two IEEE divisions and
    * one addition in fixed order), so it is bit-identical by
    * construction and safe to hash-compare, unlike the raw scores a
    * fusion over normalized scores would mix.
    *
    * Scale shape: each leg pays its own sublinear retrieval (bucketed
    * inverted index; broadcast-Q x scan-N cosine, at scale an IVF
    * probe — v6's path), and the fusion itself runs over Q x depth
    * rows — vanishing frames at any corpus size. The full-outer join on
    * (qid, cid) is the union-of-lists semantics, never corpus-keyed.
    */
  def p27RankFusion(spark: SparkSession, dir: String): DataFrame = {
    val wl = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    val lex = bm25Scored(spark, dir)
      .withColumn("lex_rank", row_number().over(wl).cast("long"))
      .filter(col("lex_rank") <= RrfDepth)
      .select(col("qid"), col("doc_id").as("cid"), col("lex_rank"))
    // the vector leg IS v28's retrieval pool (one shared definition of
    // the cosine fold + tie-break), restricted to p13's query set
    val vec = graft.queries.Vectors
      .cosinePool(spark, dir, qMax = 3, depth = RrfDepth)
      .select(col("qid"), col("cid"), col("vrank").cast("long").as("vec_rank"))
    // absent-from-list -> zero contribution (1/(k+NULL) is NULL, coalesced)
    def contrib(r: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      coalesce(lit(1.0) / (lit(RrfK.toDouble) + r.cast("double")), lit(0.0))
    val wf = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("cid"))
    lex.join(vec, Seq("qid", "cid"), "full_outer")
      .withColumn("rrf", contrib(col("lex_rank")) + contrib(col("vec_rank")))
      .withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= RrfTopN)
      .select(col("qid"), col("rank"), col("cid"),
        col("lex_rank"), col("vec_rank"), col("rrf"))
      .orderBy(col("qid"), col("rank"))
  }

  val p27Sql: String =
    s"""WITH $bm25CtesSql,
      |lexr AS (
      |  SELECT qid, cid, lex_rank FROM (
      |    SELECT qid, doc_id AS cid,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
      |        AS lex_rank
      |    FROM sc)
      |  WHERE lex_rank <= $RrfDepth),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |n AS (SELECT vec_id, v,
      |        sqrt(${graft.queries.Vectors.dotSql("v", "v")}) nrm FROM e),
      |vsc AS (
      |  SELECT q.vec_id qid, c.vec_id cid,
      |    ${graft.queries.Vectors.dotSql("q.v", "c.v")} / (q.nrm * c.nrm) cosine
      |  FROM n q JOIN n c ON q.vec_id < 3 AND q.vec_id <> c.vec_id),
      |vecr AS (
      |  SELECT qid, cid, vec_rank FROM (
      |    SELECT qid, cid,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid)
      |        AS vec_rank
      |    FROM vsc)
      |  WHERE vec_rank <= $RrfDepth),
      |f AS (
      |  SELECT COALESCE(l.qid, v.qid) AS qid, COALESCE(l.cid, v.cid) AS cid,
      |    l.lex_rank, v.vec_rank,
      |    COALESCE(1.0 / (CAST($RrfK AS DOUBLE) + CAST(l.lex_rank AS DOUBLE)), 0.0)
      |      + COALESCE(1.0 / (CAST($RrfK AS DOUBLE) + CAST(v.vec_rank AS DOUBLE)), 0.0)
      |      AS rrf
      |  FROM lexr l FULL JOIN vecr v ON l.qid = v.qid AND l.cid = v.cid),
      |r AS (SELECT qid, cid, lex_rank, vec_rank, rrf,
      |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, cid) AS rank
      |      FROM f)
      |SELECT qid, rank, cid, lex_rank, vec_rank, rrf FROM r WHERE rank <= $RrfTopN
      |ORDER BY qid, rank""".stripMargin

  /** p15: deterministic mid-epoch RESUME — the crash-recovery read a
    * trainer's loader does against p10's epoch shuffle. Because a doc's
    * (shard, position) is a pure function of (epoch, doc_id), the
    * global step of every doc is `shard-offset + position − 1`, and
    * "resume from step S" is a FILTER, not a replay: no state file
    * beyond the step counter, reproducible under any partitioning.
    *
    * The report is the per-shard resume manifest for a planted S (40%
    * through epoch 1, derived from the corpus-size scalar so the query
    * is SF-free): total/consumed/remaining docs and the first
    * still-pending in-shard position (NULL for fully-consumed shards —
    * they appear, not vanish). Shard offsets are an exclusive prefix
    * sum over the ShardCount-row size frame (tiny global window);
    * per-row membership is a flag, so ONE corpus agg produces the
    * manifest — no join-back, no second pass.
    */
  def p15ResumeSlice(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("key"), col("doc_id"))
    val positioned = docs(spark, dir)
      .select(col("doc_id"))
      .withColumn("key", H.md5NumberBigEndian(
        concat(lit("ep:1:"), col("doc_id").cast("string"))))
      .withColumn("shard", pmod(col("key"), lit(ShardCount.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
    val sizes = positioned.groupBy(col("shard")).agg(count(lit(1)).as("n"))
    val offs = sizes
      .withColumn("off", coalesce(sum(col("n")).over(
        Window.orderBy(col("shard")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("total", sum(col("n")).over(Window.partitionBy(lit(1))))
    positioned.join(broadcast(offs), "shard")
      .withColumn("gstep", col("off") + col("pos") - 1)
      .withColumn("cut", expr("total * 2 DIV 5"))
      .withColumn("rem", (col("gstep") >= col("cut")).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_total"),
        sum(col("rem")).as("n_remaining"),
        min(when(col("rem") === 1, col("pos"))).as("first_remaining_pos"),
        max(col("cut")).as("resume_step"))
      .select(col("shard"), col("n_total"),
        (col("n_total") - col("n_remaining")).as("n_consumed"),
        col("n_remaining"), col("first_remaining_pos"), col("resume_step"))
      .orderBy(col("shard"))
  }

  val p15Sql: String = {
    val h = graft.queries.Documents.signedBeMd5Sql(
      "'ep:1:' || CAST(doc_id AS VARCHAR)")
    s"""WITH k AS (SELECT doc_id, $h AS key FROM documents),
      |s AS (SELECT doc_id, key,
      |        ((key % $ShardCount) + $ShardCount) % $ShardCount AS shard FROM k),
      |p AS (SELECT shard, doc_id, key,
      |        ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key, doc_id) AS pos
      |      FROM s),
      |sz AS (SELECT shard, COUNT(*) AS n FROM p GROUP BY shard),
      |o AS (SELECT shard, n,
      |        COALESCE(SUM(n) OVER (ORDER BY shard
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off,
      |        SUM(n) OVER () AS total
      |      FROM sz),
      |f AS (SELECT p.shard, p.pos, o.off + p.pos - 1 AS gstep,
      |        o.total * 2 // 5 AS cut
      |      FROM p JOIN o ON p.shard = o.shard)
      |SELECT shard, COUNT(*) AS n_total,
      |  CAST(COUNT(*) - SUM(CASE WHEN gstep >= cut THEN 1 ELSE 0 END) AS BIGINT) AS n_consumed,
      |  CAST(SUM(CASE WHEN gstep >= cut THEN 1 ELSE 0 END) AS BIGINT) AS n_remaining,
      |  MIN(CASE WHEN gstep >= cut THEN pos END) AS first_remaining_pos,
      |  CAST(MAX(cut) AS BIGINT) AS resume_step
      |FROM f GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** p16: the DATASET CARD — the long-format (section, metric, value)
    * report shipped alongside a training corpus (datasheets/data cards;
    * every serious release publishes one): corpus totals, per-language
    * and per-source composition, exact- and near-duplication rates, and
    * integer-rule quality-gate counts, in ONE query a release pipeline
    * runs last.
    *
    * Scale shape: composition and totals come from ONE grouping-sets
    * pass (q27's machinery serving the card: (lang) + (source) + ()
    * grains in a single Expand + hash agg), with the quality flags
    * computed per doc BELOW the agg so every grain could report them;
    * exact-dup groups are one d1-style hash agg; near-dup counts
    * re-read d6's persisted pair table (zero extra index). The gates
    * are integer cross-multiplied (short: < 40 tokens; low-stopword:
    * 20·stopwords < tokens, i.e. ratio < 5%) so the card is
    * engine-exact. Output is the ~30-row long table, tiny at any SF.
    */
  def p16DatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val stop = T.stopwords.map(w => s"'$w'").mkString(", ")
    val per = docs(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        T.tokens(coalesce(col("text"), lit(""))).as("toks"))
      .select(col("lang"), col("source"), col("n_chars"),
        size(col("toks")).cast("long").as("n_tok"),
        expr(s"CAST(size(filter(toks, w -> w IN ($stop))) AS LONG)").as("n_stop"))
      .select(col("lang"), col("source"), col("n_chars"), col("n_tok"),
        (col("n_tok") < 40L).cast("long").as("short_flag"),
        (col("n_stop") * 20L < col("n_tok")).cast("long").as("lowsw_flag"))
    val gs = per.groupingSets(
        Seq(Seq(col("lang")), Seq(col("source")), Seq()),
        col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("tok"),
        sum(col("n_chars")).as("ch"), sum(col("short_flag")).as("short"),
        sum(col("lowsw_flag")).as("lowsw"),
        (grouping(col("lang")) * 2 + grouping(col("source"))).as("gid"))
      .localCheckpoint(false) // tiny grid, read by three sections below
    val corpus = gs.filter(col("gid") === 3)
      .selectExpr("stack(6, " +
        "'corpus', 'n_docs', n, " +
        "'corpus', 'n_tokens', tok, " +
        "'corpus', 'n_chars', ch, " +
        "'corpus', 'mean_doc_tokens', tok DIV n, " +
        "'quality', 'n_short_docs', short, " +
        "'quality', 'n_low_stopword_docs', lowsw) AS (section, metric, value)")
    val langs = gs.filter(col("gid") === 1)
      .select(lit("lang").as("section"), col("lang").as("metric"), col("n").as("value"))
    val sources = gs.filter(col("gid") === 2)
      .select(lit("source").as("section"), col("source").as("metric"), col("n").as("value"))
    val dup = docs(spark, dir)
      .groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("c"))
      .agg(sum(when(col("c") > 1, 1L).otherwise(0L)).as("g"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("d"))
      .selectExpr("stack(2, " +
        "'dedup', 'n_exact_dup_groups', g, " +
        "'dedup', 'n_exact_dup_docs', d) AS (section, metric, value)")
    val near = graft.queries.Documents.d6MinhashLsh(spark, dir)
      .agg(count(lit(1)).as("np"),
        count_distinct(col("da")).as("nda"))
      .selectExpr("stack(2, " +
        "'dedup', 'n_near_dup_pairs', np, " +
        "'dedup', 'n_near_dup_left_docs', nda) AS (section, metric, value)")
    corpus.unionByName(langs).unionByName(sources).unionByName(dup)
      .unionByName(near)
      .orderBy(col("section"), col("metric"))
  }

  val p16Sql: String = {
    val stop = T.stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH per AS (
      |  SELECT lang, source, n_chars,
      |    len(string_split(COALESCE(text, ''), ' ')) AS n_tok,
      |    len(list_filter(string_split(COALESCE(text, ''), ' '),
      |                    w -> w IN ($stop))) AS n_stop
      |  FROM documents),
      |f AS (SELECT lang, source, n_chars, n_tok,
      |        CASE WHEN n_tok < 40 THEN 1 ELSE 0 END AS short_flag,
      |        CASE WHEN n_stop * 20 < n_tok THEN 1 ELSE 0 END AS lowsw_flag
      |      FROM per),
      |gs AS (SELECT lang, source, COUNT(*) n, SUM(n_tok) tok, SUM(n_chars) ch,
      |         SUM(short_flag) short, SUM(lowsw_flag) lowsw,
      |         GROUPING(lang) * 2 + GROUPING(source) AS gid
      |       FROM f GROUP BY GROUPING SETS ((lang), (source), ())),
      |${graft.queries.Documents.minhashCtesSql},
      |np AS (SELECT COUNT(*) np, COUNT(DISTINCT da) nda
      |       FROM est WHERE est_jaccard >= 0.5),
      |dup AS (SELECT SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) g,
      |          SUM(CASE WHEN c > 1 THEN c ELSE 0 END) d
      |        FROM (SELECT md5(text) h, COUNT(*) c FROM documents GROUP BY 1)),
      |long AS (
      |  SELECT 'corpus' section, 'n_docs' metric, n AS value FROM gs WHERE gid = 3
      |  UNION ALL SELECT 'corpus', 'n_tokens', tok FROM gs WHERE gid = 3
      |  UNION ALL SELECT 'corpus', 'n_chars', ch FROM gs WHERE gid = 3
      |  UNION ALL SELECT 'corpus', 'mean_doc_tokens', tok // n FROM gs WHERE gid = 3
      |  UNION ALL SELECT 'quality', 'n_short_docs', short FROM gs WHERE gid = 3
      |  UNION ALL SELECT 'quality', 'n_low_stopword_docs', lowsw FROM gs WHERE gid = 3
      |  UNION ALL SELECT 'lang', lang, n FROM gs WHERE gid = 1
      |  UNION ALL SELECT 'source', source, n FROM gs WHERE gid = 2
      |  UNION ALL SELECT 'dedup', 'n_exact_dup_groups', COALESCE(g, 0) FROM dup
      |  UNION ALL SELECT 'dedup', 'n_exact_dup_docs', COALESCE(d, 0) FROM dup
      |  UNION ALL SELECT 'dedup', 'n_near_dup_pairs', np FROM np
      |  UNION ALL SELECT 'dedup', 'n_near_dup_left_docs', nda FROM np)
      |SELECT section, metric, CAST(value AS BIGINT) AS value
      |FROM long ORDER BY section, metric""".stripMargin
  }

  /** p17: PACKING-WASTE PROFILE — the efficiency report behind p6's
    * greedy lane packing (every GPU-hour burned on pad tokens is this
    * number): per fill band (<50%, 50–75%, 75–<100%, ≥100% — the
    * boundary-crossing bins p6's prefix rule deliberately lets overflow),
    * bin count, docs, used tokens, and the integer mean fill — the
    * histogram that decides whether the budget or the lane count is
    * mis-sized before a training run commits to the layout.
    *
    * Scale shape: rolls up p6's OWN (lane, bin) frame — one extra
    * 4-row hash agg on top of p6's single window exchange; the corpus
    * is not touched again.
    */
  def p17PackingWaste(spark: SparkSession, dir: String): DataFrame = {
    p6PackBudget(spark, dir)
      // integer DIV, not double `/`: a quotient rounding up across an
      // integer boundary would disagree with the oracle's floor
      .withColumn("fill_ppm", expr(s"bin_tokens * 1000000L DIV $PackBudget"))
      .withColumn("band",
        when(col("fill_ppm") < 500000L, 0L)
          .when(col("fill_ppm") < 750000L, 1L)
          .when(col("fill_ppm") < 1000000L, 2L)
          .otherwise(3L))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_bins"), sum(col("n_docs")).as("n_docs"),
        sum(col("bin_tokens")).as("used_tokens"),
        expr("SUM(fill_ppm) DIV COUNT(*)").as("mean_fill_ppm"))
      .orderBy(col("band"))
  }

  val p17Sql: String =
    s"""WITH bins AS ($p6Sql),
      |f AS (SELECT *, CAST(bin_tokens * 1000000 // $PackBudget AS BIGINT) AS fill_ppm
      |      FROM bins),
      |b AS (SELECT *, CASE WHEN fill_ppm < 500000 THEN 0
      |                     WHEN fill_ppm < 750000 THEN 1
      |                     WHEN fill_ppm < 1000000 THEN 2 ELSE 3 END AS band
      |      FROM f)
      |SELECT CAST(band AS BIGINT) AS band, COUNT(*) AS n_bins,
      |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
      |  CAST(SUM(bin_tokens) AS BIGINT) AS used_tokens,
      |  CAST(SUM(fill_ppm) // COUNT(*) AS BIGINT) AS mean_fill_ppm
      |FROM b GROUP BY band ORDER BY band""".stripMargin

  /** Per-source token supply — the ONE definition both mixing-family
    * allocators (p18's repeat plan, p20's waterfill) draw from, so they
    * can never disagree about a source's supply. NULL-text docs
    * contribute NOTHING here (NULL tokens → NULL size, skipped by the
    * sum), a DELIBERATE divergence from p24's slot apportionment, whose
    * coalesce(text, '') counts a NULL doc as 1 token: supply is about
    * trainable tokens (a NULL doc has none), while p24 apportions SLOTS
    * and a NULL doc still occupies one. Both conventions are pinned by
    * their own oracles.
    */
  private def perSourceTokens(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("source"), size(T.tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("supply_tokens"))

  /** p18: REPEAT-FACTOR (epochs-per-source) PLAN — the data-constrained
    * scaling readout: given a training budget of half the corpus's
    * tokens and a UNIFORM per-source target (the deliberately simple
    * policy; d22's temperature mix is the smooth one), how many times
    * over must each source be repeated (ppm, i.e. 1e6 = exactly one
    * epoch)? Sources below target repeat >1×; the cap at 4 epochs is
    * the published point where repetition stops buying loss. All
    * integer DIV arithmetic, so the compare is exact.
    *
    * Scale shape: one map-side-combined hash agg to per-source token
    * counts (|sources| rows), a broadcast 1-row total, and pure
    * projection — the corpus is touched once, output is |sources|.
    * At 100 TB, total*1e6 approaches Long range; production widens the
    * ppm step to DECIMAL(38,0) — same formula, same truncation.
    */
  def p18RepeatFactor(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = perSourceTokens(spark, dir)
      .withColumnRenamed("supply_tokens", "n_tokens")
    val tot = perSrc.agg(sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        expr("total_tokens DIV 2 DIV n_sources").as("target_tokens"),
        expr("least((total_tokens DIV 2 DIV n_sources) * 1000000L DIV n_tokens," +
          " 4000000L)").as("repeat_ppm"))
      .withColumn("shortfall_tokens",
        expr("greatest(target_tokens - (repeat_ppm * n_tokens DIV 1000000L), 0L)"))
      .orderBy(col("source"))
  }

  val p18Sql: String =
    """WITH s AS (
      |  SELECT source, SUM(len(string_split(text, ' '))) AS n_tokens
      |  FROM documents GROUP BY source),
      |t AS (SELECT SUM(n_tokens) AS total_tokens, COUNT(*) AS n_sources FROM s)
      |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(total_tokens // 2 // n_sources AS BIGINT) AS target_tokens,
      |  CAST(LEAST((total_tokens // 2 // n_sources) * 1000000 // n_tokens,
      |    4000000) AS BIGINT) AS repeat_ppm,
      |  CAST(GREATEST(total_tokens // 2 // n_sources -
      |    (LEAST((total_tokens // 2 // n_sources) * 1000000 // n_tokens,
      |      4000000) * n_tokens // 1000000), 0) AS BIGINT) AS shortfall_tokens
      |FROM s, t ORDER BY source""".stripMargin

  /** p20: TOKEN-BUDGET WATERFILLING — allocate a training budget B
    * (90% of the corpus here; SF-free) across sources max-min fairly:
    * every source gets up to the common waterline L, a source with less
    * supply than L is taken whole ("capped"). The allocator behind
    * balanced data mixes when supplies are skewed — uniform targets
    * (p18) overdraw small sources; waterfilling is the standard fix.
    *
    * NOT an iterative driver loop: with supplies sorted ascending, the
    * capped set is a PREFIX — source k is capped iff taking it whole
    * still leaves >= s_k for everyone after (prefix_{k-1} + s_k*(n-k+1)
    * <= B), a monotone predicate — so K = count(capped) and
    * L = (B - prefix_K) DIV (n - K) come from ONE window pass over the
    * |sources|-row frame (the deliberate tiny single-partition window,
    * p15's class). Integer throughout; the DIV remainder is reported as
    * `unallocated` rather than smeared, so conservation
    * (sum(alloc) + unallocated = B) is exact and asserted in the spec.
    *
    * Scale shape: the corpus pays p18's ONE source-token agg; everything
    * after runs on |sources| rows.
    */
  def p20BudgetWaterfill(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = perSourceTokens(spark, dir)
    val w = Window.orderBy(col("supply_tokens"), col("source"))
    val all = Window.partitionBy(lit(1))
    perSrc
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("prefix", sum(col("supply_tokens")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(all))
      // B = 90% of the corpus — a near-full epoch budget, chosen so the
      // fixture exercises BOTH branches (its two smallest sources cap)
      .withColumn("budget", expr("sum(supply_tokens) OVER () * 9 DIV 10"))
      // capped iff taking this source whole still leaves >= its supply
      // for every larger source: prefix_{k-1} + s_k * (n - k + 1) <= B
      .withColumn("capped",
        (col("prefix") - col("supply_tokens")
          + col("supply_tokens") * (col("n") - col("rn") + 1)
          <= col("budget")).cast("long"))
      .withColumn("k", sum(col("capped")).over(all))
      .withColumn("prefix_k",
        coalesce(max(when(col("capped") === 1, col("prefix"))).over(all),
          lit(0L)))
      .withColumn("waterline", when(col("k") === col("n"), lit(null))
        .otherwise(expr("(budget - prefix_k) DIV (n - k)")))
      .withColumn("alloc_tokens", when(col("capped") === 1,
        col("supply_tokens")).otherwise(col("waterline")))
      .withColumn("unallocated",
        col("budget") - sum(col("alloc_tokens")).over(all))
      .select(col("source"), col("supply_tokens"), col("alloc_tokens"),
        col("capped"), col("waterline"), col("unallocated"))
      .orderBy(col("source"))
  }

  val p20Sql: String =
    """WITH s AS (
      |  SELECT source, SUM(len(string_split(text, ' '))) AS supply_tokens
      |  FROM documents GROUP BY source),
      |r AS (
      |  SELECT source, supply_tokens,
      |    ROW_NUMBER() OVER (ORDER BY supply_tokens, source) AS rn,
      |    SUM(supply_tokens) OVER (ORDER BY supply_tokens, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
      |    COUNT(*) OVER () AS n,
      |    SUM(supply_tokens) OVER () * 9 // 10 AS budget
      |  FROM s),
      |c AS (
      |  SELECT *, CASE WHEN prefix - supply_tokens
      |      + supply_tokens * (n - rn + 1) <= budget
      |    THEN 1 ELSE 0 END AS capped
      |  FROM r),
      |g AS (
      |  SELECT *, SUM(capped) OVER () AS k,
      |    COALESCE(MAX(CASE WHEN capped = 1 THEN prefix END) OVER (), 0)
      |      AS prefix_k
      |  FROM c),
      |a AS (
      |  SELECT *, CASE WHEN k = n THEN NULL
      |      ELSE (budget - prefix_k) // (n - k) END AS waterline,
      |    CASE WHEN capped = 1 THEN supply_tokens
      |      ELSE CASE WHEN k = n THEN NULL
      |        ELSE (budget - prefix_k) // (n - k) END END AS alloc_tokens
      |  FROM g)
      |SELECT source, CAST(supply_tokens AS BIGINT) AS supply_tokens,
      |  CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
      |  CAST(capped AS BIGINT) AS capped,
      |  CAST(waterline AS BIGINT) AS waterline,
      |  CAST(budget - SUM(alloc_tokens) OVER () AS BIGINT) AS unallocated
      |FROM a ORDER BY source""".stripMargin

  /** p19: CCNet PERPLEXITY BUCKETS — the head/middle/tail split CCNet
    * cuts every language shard into by LM perplexity (Wenzek et al.;
    * the head feeds training, the tail is dropped, the middle is
    * judgment). The score is d31's integer bigram likelihood (shared
    * helper — the buckets and the worst-25 report describe the SAME
    * model by construction); the cut is NTILE(3) per language over
    * (likelihood DESC, doc_id) — a deterministic rank split, not an
    * interpolated threshold, so both engines bucket identically
    * including ties and remainders. Per (lang, bucket): doc count,
    * bigram mass, and the score range — the table that says what
    * "head" actually means for each language before a mixing run
    * commits to it.
    *
    * Scale shape: d31's scoring chain (one corpus repartition, tiny
    * broadcast model sides) + ONE per-lang rank window over the
    * |docs|-row scored frame + the 3|langs|-row rollup and sort.
    * The window partitions by lang — the natural shard key a per-lang
    * corpus is already laid out on.
    */
  def p19PerplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("mean_lik_ppm").desc, col("doc_id"))
    graft.queries.Documents.lmScored(spark, dir)
      .withColumn("nt", ntile(3).over(w))
      .withColumn("bucket", when(col("nt") === 1, "0_head")
        .when(col("nt") === 2, "1_middle").otherwise("2_tail"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("total_bigrams"),
        min(col("mean_lik_ppm")).as("min_lik_ppm"),
        max(col("mean_lik_ppm")).as("max_lik_ppm"))
      .orderBy(col("lang"), col("bucket"))
  }

  val p19Sql: String =
    s"""WITH ${graft.queries.Documents.lmScoreCtes},
      |n AS (SELECT scored.*,
      |        NTILE(3) OVER (PARTITION BY lang
      |          ORDER BY mean_lik_ppm DESC, doc_id) AS nt
      |      FROM scored)
      |SELECT lang,
      |  CASE WHEN nt = 1 THEN '0_head' WHEN nt = 2 THEN '1_middle'
      |       ELSE '2_tail' END AS bucket,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams,
      |  CAST(MIN(mean_lik_ppm) AS BIGINT) AS min_lik_ppm,
      |  CAST(MAX(mean_lik_ppm) AS BIGINT) AS max_lik_ppm
      |FROM n GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin

  /** p21: MIXTURE DRIFT MONITOR — the composition diff between two
    * corpus snapshots every recurring ingestion runs before a training
    * refresh ("did the crawl's source/language mix move?"). Snapshot A =
    * even doc_ids, B = odd (SF-free stand-ins for consecutive dumps; a
    * real caller filters by ingestion date). Per (source, lang) cell:
    * doc counts and corpus-share ppm in each snapshot and the absolute
    * share drift; plus the rolled-up total-variation distance
    * TV = sum(|shareA - shareB|) / 2 — the single scalar a drift alarm
    * thresholds on — repeated on every row (q22's global-next-to-grain
    * convention). All-integer ppm so both engines agree bitwise.
    *
    * Scale shape: ONE corpus aggregation to |sources × langs| cells
    * (two conditional counts in the same pass — no second scan, no
    * join of two half-corpus aggs); the share/TV math is a closed-form
    * window over the bounded cell frame (p15's deliberate tiny
    * single-partition class).
    */
  def p21MixtureDrift(spark: SparkSession, dir: String): DataFrame = {
    val cells = docs(spark, dir)
      .groupBy(col("source"), col("lang"))
      .agg(
        sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("n_b"))
    cells
      .withColumn("share_a_ppm",
        expr("n_a * 1000000L DIV sum(n_a) OVER ()"))
      .withColumn("share_b_ppm",
        expr("n_b * 1000000L DIV sum(n_b) OVER ()"))
      .withColumn("drift_ppm",
        abs(col("share_a_ppm") - col("share_b_ppm")))
      .withColumn("tv_ppm", expr("sum(drift_ppm) OVER () DIV 2"))
      .select(col("source"), col("lang"), col("n_a"), col("n_b"),
        col("share_a_ppm"), col("share_b_ppm"), col("drift_ppm"),
        col("tv_ppm"))
      .orderBy(col("source"), col("lang"))
  }

  val p21Sql: String =
    """WITH c AS (
      |  SELECT source, lang,
      |    SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
      |    SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS n_b
      |  FROM documents GROUP BY source, lang),
      |s AS (
      |  SELECT source, lang, n_a, n_b,
      |    n_a * 1000000 // SUM(n_a) OVER () AS share_a_ppm,
      |    n_b * 1000000 // SUM(n_b) OVER () AS share_b_ppm
      |  FROM c),
      |d AS (SELECT *, abs(share_a_ppm - share_b_ppm) AS drift_ppm FROM s)
      |SELECT source, lang, CAST(n_a AS BIGINT) AS n_a,
      |  CAST(n_b AS BIGINT) AS n_b,
      |  CAST(share_a_ppm AS BIGINT) AS share_a_ppm,
      |  CAST(share_b_ppm AS BIGINT) AS share_b_ppm,
      |  CAST(drift_ppm AS BIGINT) AS drift_ppm,
      |  CAST(SUM(drift_ppm) OVER () // 2 AS BIGINT) AS tv_ppm
      |FROM d ORDER BY source, lang""".stripMargin

  /** Cap on p22's single-partition prefix frame: the bucket-total table
    * the global running sum runs over never exceeds this many rows. */
  private val CurriculumPrefixBuckets = 4096L

  /** p22: CURRICULUM BATCHES — order the corpus easy-to-hard by a
    * difficulty proxy (mean token length, ppm — short-word docs first)
    * and cut it into fixed-size training batches; the report is one row
    * per batch (size, min/max/mean difficulty), the thing a curriculum-
    * learning run logs to confirm the schedule is actually monotone.
    *
    * Scale shape: a GLOBAL rank with no global window — r14's two-level
    * discipline applied to ordering. Per-doc scores fold to a
    * |distinct scores| group table; the exclusive prefix over that table
    * is computed in TWO levels (r15): scores quantize into at most
    * [[CurriculumPrefixBuckets]] equal-width range buckets off the
    * score min/max (a 1-row broadcast), the within-bucket prefix is a
    * window PARTITIONED by bucket (parallel across buckets), and the
    * only single-partition pass left is the prefix over the <= 4096
    * bucket totals — a PROVABLE cap, independent of corpus size and of
    * score granularity (the previous single-level prefix ran over all
    * distinct scores, whose cardinality grows with the corpus). Each
    * doc then gets rank = bucket base + within-bucket offset (broadcast
    * back) + row_number INSIDE its score group (a window partitioned by
    * score, parallel across groups; ties are doc_id-broken and tie
    * groups are tiny because the score is near-continuous). Batch
    * assignment and the per-batch rollup are plain hash aggs. A naive
    * `row_number() OVER (ORDER BY score)` funnels the entire corpus
    * through ONE partition — the exact anti-pattern this shape exists
    * to avoid.
    */
  def p22CurriculumBatches(spark: SparkSession, dir: String): DataFrame = {
    val batchSize = 32L
    val sRaw = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), T.tokens(coalesce(col("text"), lit(""))).as("w"))
      .select(col("doc_id"),
        expr("aggregate(w, CAST(0 AS BIGINT), (acc, x) -> acc + length(x))" +
          " * 1000000L DIV size(w)").as("score"))
    // barrier: the score frame feeds the group fold AND the rank join;
    // size-gated — the per-doc score frame is corpus-sized, so above
    // the gate both consumers recompute from lineage instead of
    // pinning it executor-local (§5)
    val s = graft.operators.Spread.reuse(spark, sRaw,
      s"$dir/documents.parquet")
    val grouped = s.groupBy(col("score")).agg(count(lit(1)).as("c"))
    // equal-width quantization over the observed score range: monotone
    // in score (bucket boundaries are range cuts), so bucket-base +
    // within-bucket prefix == the flat prefix, provably
    val bounds = grouped.agg(min(col("score")).as("lo"),
      (max(col("score")) - min(col("score")) + 1).as("span"))
    val bucketed = grouped.crossJoin(broadcast(bounds))
      .withColumn("bkt",
        expr(s"(score - lo) * $CurriculumPrefixBuckets DIV span"))
    // reuse point: inBucket feeds BOTH the bucket-base fold and the
    // offsets join — without it each consumer replans the group agg,
    // the min/max scalar, and the in-bucket window (the whole two-level
    // ladder ran twice; measured in the r15 plan dump). Size-gated like
    // every corpus-derived checkpoint (the frame is |distinct scores|-
    // sized — tiny in practice, unbounded in principle).
    val inBucket = graft.operators.Spread.reuse(spark, bucketed
      .withColumn("ioff", coalesce(sum(col("c")).over(
        Window.partitionBy(col("bkt")).orderBy(col("score"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))),
      s"$dir/documents.parquet")
    val bases = inBucket.groupBy(col("bkt")).agg(sum(col("c")).as("bc"))
      // the ONE single-partition frame left: <= CurriculumPrefixBuckets
      // rows by construction, at any corpus size
      .withColumn("base", coalesce(sum(col("bc")).over(
        Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("base"))
    val offsets = inBucket.join(broadcast(bases), "bkt")
      .select(col("score"), (col("base") + col("ioff")).as("off"))
    s.join(broadcast(offsets), "score")
      .withColumn("rank", col("off") +
        row_number().over(
          Window.partitionBy(col("score")).orderBy(col("doc_id"))))
      .groupBy(expr(s"(rank - 1) DIV $batchSize").as("batch_idx"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("score")).as("min_difficulty_ppm"),
        max(col("score")).as("max_difficulty_ppm"),
        sum(col("score")).as("sum_score"))
      .select(col("batch_idx"), col("n_docs"),
        col("min_difficulty_ppm"), col("max_difficulty_ppm"),
        expr("sum_score DIV n_docs").as("mean_difficulty_ppm"))
      .orderBy(col("batch_idx"))
  }

  val p22Sql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    list_sum(list_transform(w, x -> CAST(length(x) AS BIGINT)))
      |      * 1000000 // len(w) AS score
      |  FROM (SELECT doc_id, string_split(COALESCE(text, ''), ' ') w
      |        FROM documents)),
      |r AS (SELECT score,
      |        ROW_NUMBER() OVER (ORDER BY score, doc_id) AS rank FROM s)
      |SELECT CAST((rank - 1) // 32 AS BIGINT) AS batch_idx,
      |  COUNT(*) AS n_docs,
      |  CAST(MIN(score) AS BIGINT) AS min_difficulty_ppm,
      |  CAST(MAX(score) AS BIGINT) AS max_difficulty_ppm,
      |  CAST(SUM(score) // COUNT(*) AS BIGINT) AS mean_difficulty_ppm
      |FROM r GROUP BY 1 ORDER BY batch_idx""".stripMargin

  /** p24: SLOT APPORTIONMENT — the integer scheduling step downstream
    * of the mixing family: given per-source token mass (the weights
    * p14/p18/p20 produce), split an epoch of N batch slots across
    * sources by the LARGEST-REMAINDER method (floor quotas, then the
    * leftover slots go to the largest remainders — Hamilton
    * apportionment): every slot is assigned, no source drifts from its
    * ideal share by more than one slot, and the schedule is fully
    * deterministic (remainder ties break on source name). Reported for
    * three epoch sizes with each source's signed drift from ideal
    * (ppm) — the table a training-loader config is generated from.
    *
    * Scale shape: ONE corpus fold to |sources| rows; every window after
    * it (epoch totals, remainder rank) runs on the |sources| x
    * |epochs| frame. Remainders are exact integers ((tokens x N) mod
    * total — no float apportionment), safe to 1e13-token sources.
    */
  def p24SlotApportionment(spark: SparkSession, dir: String): DataFrame = {
    val epochs = Seq(100, 1000, 10000)
    val toks = Tables.load(spark, dir, "documents")
      .select(col("source"), T.tokens(coalesce(col("text"), lit(""))).as("w"))
      .groupBy(col("source"))
      .agg(sum(size(col("w")).cast("long")).as("tokens"))
      .withColumn("total", expr("sum(tokens) OVER ()"))
    val we = Window.partitionBy(col("epoch_size"))
    toks
      .select(col("source"), col("tokens"), col("total"),
        explode(lit(epochs.map(_.toLong).toArray)).as("epoch_size"))
      .withColumn("quota", expr("tokens * epoch_size DIV total"))
      .withColumn("rem", expr("(tokens * epoch_size) % total"))
      .withColumn("leftover",
        col("epoch_size") - sum(col("quota")).over(we))
      .withColumn("rrank", row_number().over(
        we.orderBy(col("rem").desc, col("source"))))
      .withColumn("alloc",
        col("quota") + when(col("rrank") <= col("leftover"), 1L).otherwise(0L))
      .select(col("epoch_size"), col("source"), col("tokens"), col("alloc"),
        expr("alloc * 1000000L DIV epoch_size - tokens * 1000000L DIV total")
          .as("drift_ppm"))
      .orderBy(col("epoch_size"), col("source"))
  }

  val p24Sql: String =
    """WITH t AS (
      |  SELECT source,
      |    SUM(len(string_split(COALESCE(text, ''), ' '))) AS tokens
      |  FROM documents GROUP BY source),
      |tt AS (SELECT source, tokens, SUM(tokens) OVER () AS total FROM t),
      |e AS (SELECT unnest([100, 1000, 10000]) AS epoch_size),
      |q AS (
      |  SELECT source, tokens, total, epoch_size,
      |    tokens * epoch_size // total AS quota,
      |    (tokens * epoch_size) % total AS rem
      |  FROM tt, e),
      |l AS (
      |  SELECT *, epoch_size - SUM(quota) OVER (PARTITION BY epoch_size)
      |      AS leftover,
      |    ROW_NUMBER() OVER (PARTITION BY epoch_size
      |      ORDER BY rem DESC, source) AS rrank
      |  FROM q)
      |SELECT CAST(epoch_size AS BIGINT) AS epoch_size, source,
      |  CAST(tokens AS BIGINT) AS tokens,
      |  CAST(quota + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END
      |    AS BIGINT) AS alloc,
      |  CAST((quota + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END)
      |      * 1000000 // epoch_size
      |    - tokens * 1000000 // total AS BIGINT) AS drift_ppm
      |FROM l ORDER BY epoch_size, source""".stripMargin

  /** p25: CHUNK-OVERLAP INFLATION AUDIT — p1's sliding context windows
    * (size 64, stride 48) deliberately re-emit the 16-token overlap of
    * adjacent chunks; this query quantifies what that costs: per
    * chunk-count band, how many tokens the corpus holds vs how many the
    * chunked delivery actually EMITS, and the inflation ppm — the
    * token-budget overhead a training run pays for windowed context
    * (p17 reports the padding waste of packing; p25 reports the
    * duplication waste of overlap — the two sides of delivery
    * overhead). Chunk lengths come from the same slice arithmetic p1
    * uses, so the numbers describe the real delivery, not an estimate.
    *
    * Scale shape: the per-doc explode is |chunks|-sized (p1's own
    * fan-out) and folds immediately to one row per doc on the
    * repartition's key; the band rollup is a 3-row hash agg.
    */
  def p25OverlapAudit(spark: SparkSession, dir: String): DataFrame = {
    val len = size(col("w"))
    val nChunks = nChunksCol(len) // shared with p1: the audit and the
                                  // delivery use ONE chunk-count rule
    val per = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), T.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 1) // one tokenize (r12 review)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), len.cast("long").as("n_tokens"),
        explode(sequence(lit(0), nChunks - 1)).as("k"))
      .select(col("doc_id"), col("n_tokens"),
        least(lit(ChunkSize.toLong),
          col("n_tokens") - col("k") * ChunkStride).as("clen"))
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("clen")).as("emitted"))
    val band = when(col("n_chunks") === 1, "0_single")
      .when(col("n_chunks") <= 4, "1_2_to_4").otherwise("2_5_plus")
    per.groupBy(band.as("chunk_band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("corpus_tokens"),
        sum(col("emitted")).as("emitted_tokens"))
      .select(col("chunk_band"), col("n_docs"), col("corpus_tokens"),
        col("emitted_tokens"),
        expr("(emitted_tokens - corpus_tokens) * 1000000 DIV corpus_tokens")
          .as("overhead_ppm"))
      .orderBy(col("chunk_band"))
  }

  val p25Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents
      |  WHERE len(string_split(text, ' ')) >= 1),
      |c AS (
      |  SELECT doc_id, n,
      |    least($ChunkSize, n - k * $ChunkStride) AS clen
      |  FROM d, LATERAL (SELECT unnest(generate_series(0,
      |    CAST(ceil(greatest(n - $ChunkSize, 0) / $ChunkStride.0) AS INT))) AS k)),
      |p AS (SELECT doc_id, n, COUNT(*) AS n_chunks, SUM(clen) AS emitted
      |      FROM c GROUP BY 1, 2),
      |g AS (
      |  SELECT CASE WHEN n_chunks = 1 THEN '0_single'
      |       WHEN n_chunks <= 4 THEN '1_2_to_4'
      |       ELSE '2_5_plus' END AS chunk_band,
      |    COUNT(*) AS n_docs, SUM(n) AS corpus_tokens,
      |    SUM(emitted) AS emitted_tokens
      |  FROM p GROUP BY 1)
      |SELECT chunk_band, n_docs,
      |  CAST(corpus_tokens AS BIGINT) AS corpus_tokens,
      |  CAST(emitted_tokens AS BIGINT) AS emitted_tokens,
      |  CAST((emitted_tokens - corpus_tokens) * 1000000 // corpus_tokens
      |    AS BIGINT) AS overhead_ppm
      |FROM g ORDER BY chunk_band""".stripMargin

  /** p26: RENDEZVOUS SHARDING — highest-random-weight placement of
    * documents onto shards, and the ELASTICITY audit that is the whole
    * point of choosing rendezvous over mod-N: growing 8 → 9 shards,
    * ONLY documents whose new-shard weight wins move (arrivals land
    * exclusively on the new shard, departures are ~1/9 spread evenly) —
    * vs mod-N where nearly everything reshuffles. Per shard: docs
    * before, docs after, arrivals, departures. This is the placement
    * primitive a 100 TB ingest tier actually uses for stable
    * doc-to-worker assignment under scaling.
    *
    * Scale shape: both assignments are ONE projection (an argmax fold
    * over 9 md5 weights per doc — no explode, no shuffle); the corpus
    * folds once into the <= 81-row (before, after) cell grid and every
    * report column derives from that grid.
    */
  def p26RendezvousShards(spark: SparkSession, dir: String): DataFrame = {
    def assign(n: Int): org.apache.spark.sql.Column = expr(
      s"""aggregate(sequence(0, ${n - 1}),
         |  struct(CAST(-1 AS BIGINT) AS w, -1 AS s),
         |  (acc, s) -> CASE WHEN CAST(conv(substring(md5(
         |        concat('shard:', CAST(s AS STRING), ':',
         |               CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)
         |      > acc.w
         |    THEN struct(CAST(conv(substring(md5(
         |        concat('shard:', CAST(s AS STRING), ':',
         |               CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)
         |        AS w, s AS s)
         |    ELSE acc END,
         |  acc -> acc.s)""".stripMargin)
    val cells = Tables.load(spark, dir, "documents")
      .select(col("doc_id"))
      .select(assign(8).as("a8"), assign(9).as("a9"))
      .groupBy(col("a8"), col("a9")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // the four report columns all fold from it
    val before = cells.groupBy(col("a8").cast("long").as("shard"))
      .agg(sum(col("c")).as("n_before"),
        sum(when(col("a8") =!= col("a9"), col("c")).otherwise(0L))
          .as("n_departed"))
    val after = cells.groupBy(col("a9").cast("long").as("shard"))
      .agg(sum(col("c")).as("n_after"),
        sum(when(col("a8") =!= col("a9"), col("c")).otherwise(0L))
          .as("n_arrived"))
    // enumerate the shard spine 0..8 explicitly (as the oracle does):
    // a shard that received zero docs under BOTH assignments must still
    // report its all-zero row — deriving rows from the data alone would
    // silently drop it on a small-enough corpus (r12 review finding)
    spark.range(9).select(col("id").as("shard"))
      .join(before.join(after, Seq("shard"), "full_outer"), Seq("shard"), "left")
      .select(col("shard"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("n_arrived"), lit(0L)).as("n_arrived"),
        coalesce(col("n_departed"), lit(0L)).as("n_departed"))
      .orderBy(col("shard"))
  }

  val p26Sql: String =
    """WITH w AS (
      |  SELECT doc_id, s,
      |    CAST('0x' || substring(md5('shard:' || CAST(s AS VARCHAR) || ':'
      |      || CAST(doc_id AS VARCHAR)), 1, 15) AS UBIGINT) AS wt
      |  FROM documents, (SELECT unnest(generate_series(0, 8)) s)),
      |a8 AS (SELECT doc_id, s AS a8 FROM (
      |        SELECT doc_id, s, ROW_NUMBER() OVER (
      |          PARTITION BY doc_id ORDER BY wt DESC, s) rn
      |        FROM w WHERE s < 8) WHERE rn = 1),
      |a9 AS (SELECT doc_id, s AS a9 FROM (
      |        SELECT doc_id, s, ROW_NUMBER() OVER (
      |          PARTITION BY doc_id ORDER BY wt DESC, s) rn
      |        FROM w) WHERE rn = 1),
      |j AS (SELECT a8.a8, a9.a9 FROM a8 JOIN a9 USING (doc_id)),
      |sh AS (SELECT unnest(generate_series(0, 8)) AS shard)
      |SELECT CAST(sh.shard AS BIGINT) AS shard,
      |  CAST(COALESCE(SUM(CASE WHEN j.a8 = sh.shard THEN 1 END), 0)
      |    AS BIGINT) AS n_before,
      |  CAST(COALESCE(SUM(CASE WHEN j.a9 = sh.shard THEN 1 END), 0)
      |    AS BIGINT) AS n_after,
      |  CAST(COALESCE(SUM(CASE WHEN j.a9 = sh.shard AND j.a8 <> j.a9
      |    THEN 1 END), 0) AS BIGINT) AS n_arrived,
      |  CAST(COALESCE(SUM(CASE WHEN j.a8 = sh.shard AND j.a8 <> j.a9
      |    THEN 1 END), 0) AS BIGINT) AS n_departed
      |FROM sh LEFT JOIN j ON j.a8 = sh.shard OR j.a9 = sh.shard
      |GROUP BY sh.shard ORDER BY shard""".stripMargin

  /** Picks per source for p28. */
  private val WsK = 5

  /** p28: DETERMINISTIC weighted sampling without replacement — the
    * reproducible "pick k docs per source, longer docs more likely"
    * selection a mixture builder runs when it wants weighted
    * representation WITHOUT a mutable reservoir: every doc gets a
    * priority from a hash-derived uniform and its weight, the k lowest
    * priorities per source win. The Efraimidis–Spirakis one-pass shape
    * (priority-keyed weighted sampling, trivially distributed and
    * restart-reproducible because priority is a pure row function), with
    * the u^(1/w) key replaced by the division surrogate u/w: pow/ln
    * differ in the last ULP across libms (the BM25 rational-idf lesson)
    * while one int→double conversion and one IEEE division are
    * bit-identical in both engines. The surrogate changes the inclusion
    * law (it is NOT exactly P ∝ w) but keeps the properties a pipeline
    * actually relies on — determinism, one pass, weight-monotone odds
    * (u/w strictly falls as w rises for fixed u) — and the exactness
    * makes the oracle able to falsify the whole pipeline.
    *
    * Scale shape: priority is a projection; the only exchange is the
    * per-source top-k window, and the rank ≤ k filter lets Spark's
    * WindowGroupLimit pre-prune each map partition to its own top-k
    * before the shuffle (the d14 discipline) — the exchange carries
    * O(partitions × k) rows per source, not the corpus.
    */
  def p28WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("priority"), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("source"),
        greatest(coalesce(col("n_chars"), lit(0L)), lit(1L)).as("wt"))
      .withColumn("u", pmod(H.md5NumberBigEndian(
        concat(lit("ws:"), col("doc_id").cast("string"))), lit(1L << 62)))
      .withColumn("priority", col("u").cast("double") / col("wt").cast("double"))
      .withColumn("pick", row_number().over(w).cast("long"))
      .filter(col("pick") <= WsK)
      .select(col("source"), col("pick"), col("doc_id"), col("wt"), col("priority"))
      .orderBy(col("source"), col("pick"))
  }

  val p28Sql: String = {
    val h = graft.queries.Documents.signedBeMd5Sql(
      "'ws:' || CAST(doc_id AS VARCHAR)")
    val c = 1L << 62
    s"""WITH k AS (
      |  SELECT doc_id, source,
      |    GREATEST(COALESCE(n_chars, 0), 1) AS wt,
      |    (($h % $c) + $c) % $c AS u
      |  FROM documents),
      |p AS (SELECT source, doc_id, wt,
      |        CAST(u AS DOUBLE) / CAST(wt AS DOUBLE) AS priority FROM k),
      |r AS (SELECT source, doc_id, wt, priority,
      |        ROW_NUMBER() OVER (PARTITION BY source
      |          ORDER BY priority, doc_id) AS pick
      |      FROM p)
      |SELECT source, CAST(pick AS BIGINT) AS pick, doc_id, wt, priority
      |FROM r WHERE pick <= $WsK ORDER BY source, pick""".stripMargin
  }

  val defs: Map[String, Q] = Map(
    "p28_weighted_sample" -> (p28WeightedSample _),
    "p27_rank_fusion" -> (p27RankFusion _),
    "p26_rendezvous_shards" -> (p26RendezvousShards _),
    "p25_overlap_audit" -> (p25OverlapAudit _),
    "p24_slot_apportionment" -> (p24SlotApportionment _),
    "p22_curriculum_batches" -> (p22CurriculumBatches _),
    "p21_mixture_drift" -> (p21MixtureDrift _),
    "p20_budget_waterfill" -> (p20BudgetWaterfill _),
    "p19_perplexity_buckets" -> (p19PerplexityBuckets _),
    "p18_repeat_factor" -> (p18RepeatFactor _),
    "p17_packing_waste" -> (p17PackingWaste _),
    "p16_dataset_card" -> (p16DatasetCard _),
    "p15_resume_slice" -> (p15ResumeSlice _),
    "p13_bm25_retrieve" -> (p13Bm25Retrieve _),
    "p12_delivery_e2e" -> (p12DeliveryE2e _),
    "p11_length_buckets" -> (p11LengthBuckets _),
    "p10_epoch_shuffle" -> (p10EpochShuffle _),
    "p9_bloom_decontaminate" -> (p9BloomDecontaminate _),
    "p7_profile" -> (p7Profile _),
    "p6_pack_budget" -> (p6PackBudget _),
    "p5_pipeline_e2e" -> (p5PipelineE2e _),
    "p1_chunking" -> (p1Chunking _),
    "p2_split_assign" -> (p2SplitAssign _),
    "p3_decontaminate" -> (p3Decontaminate _),
    "p4_tfidf" -> (p4Tfidf _))

  val oracles: Map[String, String] = Map(
    "p28_weighted_sample" -> p28Sql,
    "p27_rank_fusion" -> p27Sql,
    "p26_rendezvous_shards" -> p26Sql,
    "p25_overlap_audit" -> p25Sql,
    "p24_slot_apportionment" -> p24Sql,
    "p22_curriculum_batches" -> p22Sql,
    "p21_mixture_drift" -> p21Sql,
    "p20_budget_waterfill" -> p20Sql,
    "p19_perplexity_buckets" -> p19Sql,
    "p18_repeat_factor" -> p18Sql,
    "p17_packing_waste" -> p17Sql,
    "p16_dataset_card" -> p16Sql,
    "p15_resume_slice" -> p15Sql,
    "p13_bm25_retrieve" -> p13Sql,
    "p12_delivery_e2e" -> p12Sql,
    "p11_length_buckets" -> p11Sql,
    "p10_epoch_shuffle" -> p10Sql,
    "p9_bloom_decontaminate" -> p9Sql,
    "p7_profile" -> p7Sql,
    "p6_pack_budget" -> p6Sql,
    "p5_pipeline_e2e" -> p5Sql,
    "p1_chunking" -> p1Sql,
    "p2_split_assign" -> p2Sql,
    "p3_decontaminate" -> p3Sql,
    "p4_tfidf" -> p4Sql)
}
