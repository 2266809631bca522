package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Co-located storage for repeated equi-joins: write both sides bucketed
  * (hash-partitioned into files) and sorted on the join key, and every
  * subsequent join/aggregation on that key runs with ZERO shuffle — the
  * sort-merge join reads matching buckets pairwise. At 100 TB this is the
  * difference between re-shuffling the fact table on every pipeline run
  * and shuffling it once at ingest: the replica tables this engine
  * maintains (SURVEY §2.2) are written once and joined by every
  * downstream query, the textbook bucketing case.
  *
  * Contract for the shuffle-free plan (all asserted in BucketingSpec):
  *  - both sides bucketed with the SAME bucket count on the join key;
  *  - bucket count chosen for target-scale task size (≈ table bytes /
  *    128 MB), NOT the session's shuffle partitions;
  *  - `sortBy` on the key so the merge join needs no per-task sort.
  */
object Bucketing {

  /** Bucket count for the engine's persisted index/signature tables,
    * sized to the session's core count instead of a constant
    * (optimization guide §2.2/§6): a bucketed re-read joins with zero
    * exchanges but its parallelism IS the bucket count — the former
    * fixed 8 capped every expansion join at 8 of 32 local cores
    * (measured on d7, OPTIMIZATION_r14.md), and at cluster scale a
    * constant is wronger still.
    */
  def indexBuckets(spark: org.apache.spark.sql.SparkSession): Int =
    spark.sparkContext.defaultParallelism

  /** Bucket-aligned write chain for the index/signature tables: the
    * repartition and the bucket spec are built from ONE [[indexBuckets]]
    * evaluation, so the task partitioning cannot desync from the bucket
    * count and silently reintroduce the partitions x buckets small-file
    * explosion the alignment removes (ADVICE r14). HashPartitioning and
    * the bucket spec share the Murmur3-pmod placement over the same key
    * list, so each task holds exactly one bucket: numBuckets files per
    * write. Sorted by `sortKeys` when non-empty; caller finishes the
    * chain with `.saveAsTable`.
    */
  def alignedBucketed(
      df: DataFrame,
      keys: Seq[String],
      sortKeys: Seq[String] = Nil,
      append: Boolean = false)
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    require(keys.nonEmpty, "bucket keys must be non-empty")
    val n = indexBuckets(df.sparkSession)
    val w0 = df
      .repartition(n, keys.map(org.apache.spark.sql.functions.col): _*)
      .write.format("parquet")
    val w1 = if (append) w0.mode(SaveMode.Append) else w0
    val w2 = w1.bucketBy(n, keys.head, keys.tail: _*)
    if (sortKeys.nonEmpty) w2.sortBy(sortKeys.head, sortKeys.tail: _*) else w2
  }

  /** Writes `df` as a bucketed+sorted managed parquet table. Clears an
    * ORPHANED location first: the in-memory catalog forgets tables at
    * JVM exit while their warehouse dirs survive, and saveAsTable's
    * Overwrite only overwrites tables the CURRENT catalog knows — a
    * re-run in a fresh session would otherwise die with
    * LOCATION_ALREADY_EXISTS on its own previous output.
    */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int,
      key: String): Unit = {
    ReplicaTable.dropTableAndLocation(df.sparkSession, table)
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, key).sortBy(key)
      .saveAsTable(table)
  }

  /** Joins two same-bucketed tables on their bucket key — plans as a
    * merge join over co-located buckets, no exchange on either side.
    */
  def coLocatedJoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)
}
