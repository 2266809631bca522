package graft

import graft.operators.BlockedSelfJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BlockedSelfJoin must emit exactly the pair set of a naive self-join,
  * for any chunk size — including chunk sizes that force multi-chunk
  * buckets on a heavily skewed fixture.
  */
class BlockedSelfJoinSpec extends SparkSpec {

  private def naivePairs(df: DataFrame, keys: Seq[String], ord: String): DataFrame = {
    val cond = keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
      col(s"x.$ord") < col(s"y.$ord")
    df.as("x").join(df.as("y"), cond)
      .select(col(s"x.$ord").as("ia"), col(s"y.$ord").as("ib"))
  }

  private def skewed = {
    import spark.implicits._
    // one hot bucket of 200 rows, several mid buckets, a singleton tail;
    // ids interleaved so chunk order != insertion order
    val rows =
      (1 to 200).map(i => ("hot", 0, i * 7 % 1000 * 1000 + i)) ++
        (1 to 17).map(i => ("mid", 1, i)) ++
        (1 to 17).map(i => ("mid", 2, i + 100)) ++
        (1 to 3).map(i => (s"tail$i", i, i))
    rows.toDF("k1", "k2", "id").withColumn("payload", col("id") * 2)
  }

  test("pair set equals the naive self-join for every chunking regime") {
    val df = skewed
    val expected = naivePairs(df, Seq("k1", "k2"), "id")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(expected.size === 200 * 199 / 2 + 2 * 17 * 16 / 2)

    for (chunk <- Seq(1, 7, 64, 100000)) {
      val got = BlockedSelfJoin.pairs(df, Seq("k1", "k2"), "id", chunk)
        .select(col("a.id"), col("b.id"))
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      assert(got === expected, s"chunkSize=$chunk")
    }
  }

  test("pairs carry full payload on both sides, a.ord < b.ord") {
    val got = BlockedSelfJoin.pairs(skewed, Seq("k1", "k2"), "id", 16)
      .select(col("a.id").as("ia"), col("a.payload").as("pa"),
        col("b.id").as("ib"), col("b.payload").as("pb"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getInt(0) < r.getInt(2))
      assert(r.getInt(1) === r.getInt(0) * 2 && r.getInt(3) === r.getInt(2) * 2)
    }
  }

  test("maxBucket drops over-capacity buckets wholesale (df-cap)") {
    val df = skewed
    val got = BlockedSelfJoin.pairs(df, Seq("k1", "k2"), "id", 16, maxBucket = Some(50))
      .select(col("a.k1")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(got === Set("mid")) // hot capped out, singletons cannot pair
    val capped = BlockedSelfJoin.pairs(df, Seq("k1", "k2"), "id", 16, maxBucket = Some(50)).count()
    assert(capped === 2 * 17 * 16 / 2)
  }

  test("d6 MinHash LSH survives a pathological single-bucket corpus") {
    // 600 identical documents: every doc lands in the SAME (band, sig)
    // bucket in all 4 bands — the exact shape that OOM'd the old
    // collect_list expansion. With chunkSize=256 the bucket splits into
    // 3 chunks; the full quadratic pair set must still come out, once.
    import spark.implicits._
    val dir = tempDir("d6skew")
    val text = (1 to 30).map(i => s"tok$i").mkString(" ")
    (1 to 600).map(i => (i.toLong, text)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = graft.queries.Documents.d6MinhashLsh(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length === 600 * 599 / 2) // every unordered pair exactly once
    assert(out.forall(_._3 === 1.0))     // identical docs: est jaccard 1
    assert(out.toSet.size === out.length)
  }

  test("pairsPersisted: identical pair set, zero exchanges on the re-read expansion") {
    val df = skewed
    val expected = BlockedSelfJoin.pairs(df, Seq("k1", "k2"), "id", 16)
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // DisableUnnecessaryBucketedScan only recognizes exact-key joins as
    // "interesting"; the (keys, chunk) superset join needs the bucketed
    // layout kept on both sides
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    // co-partitioning on the bucket keys (a subset of the join keys —
    // chunk only exists to split buckets) is exactly what we want here;
    // Spark's conservative default demands the full key set
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try {
      val persisted = BlockedSelfJoin.pairsPersisted(
        spark, df, Seq("k1", "k2"), "id", 16, table = "bsj_sig", numBuckets = 4)
      val got = persisted.select(col("a.id"), col("b.id"))
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      assert(got === expected)
      // the payoff: both sides read co-located buckets of the signature
      // table — HashPartitioning(keys) satisfies the (keys, chunk) join's
      // distribution, so the expansion itself never shuffles
      val plan = persisted.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"persisted-signature expansion should be exchange-free:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
      graft.operators.ReplicaTable.dropTableAndLocation(spark, "bsj_sig")
    }
  }

  test("d5/d6/d7: persisted-signature default matches the in-query form") {
    val dir = "/root/testdata/sf0.001"
    def run(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, dir).collect().map(_.toString).sorted.toSeq
    val names = Seq("d5_ngram_jaccard", "d6_minhash_lsh", "d7_simhash")
    try {
      val persisted = names.map(n => n -> run(n)).toMap // default path
      spark.conf.set("graft.neardup.persistPairs", "false")
      names.foreach { n =>
        assert(run(n) === persisted(n), s"$n differs between persisted and in-query")
        assert(persisted(n).nonEmpty, s"$n comparison is vacuous")
      }
    } finally {
      spark.conf.unset("graft.neardup.persistPairs")
      Seq("d5", "d6", "d7").foreach(t =>
        graft.operators.PersistedIndex.dropAll(spark, s"graft_sig_$t"))
    }
  }

  test("empty input and all-singleton input produce no pairs") {
    import spark.implicits._
    val singletons = (1 to 10).map(i => (s"k$i", i)).toDF("k", "id")
    assert(BlockedSelfJoin.pairs(singletons, Seq("k"), "id", 8).count() === 0)
    assert(BlockedSelfJoin.pairs(singletons.limit(0), Seq("k"), "id", 8).count() === 0)
  }
}
