package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table access (driver parquet, see TESTDATA.md / FIXTURES.md §B).
  * In production these would be DataSource-V2 connectors to live
  * ArangoDB/ClickHouse; the operator layer only ever sees DataFrames, so
  * swapping the edge does not touch operator code (SURVEY §7.1).
  */
object Tables {
  import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Post-load contract: `events.ts` is session-zoned TimestampType regardless
    * of how the fixture generation encoded it. Generations seen so far:
    * TIMESTAMP(NANOS) (readable only as long via the legacy conf) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ; the
    * session TZ is pinned UTC by every entry point, so a plain cast matches
    * DuckDB's interpretation bit-for-bit). Dispatch on the loaded schema so a
    * fixture regeneration can never silently break the catalog again.
    */
  /** ts-type probe results per path: the probe is its own full schema
    * inference (file listing + footer parse), the result never changes
    * within a run, and the catalog loads events hundreds of times per
    * Verify/Bench sweep — memoized, the probe runs once per path.
    * (FixtureCanarySpec still catches an in-place regeneration: it runs
    * in a fresh JVM.)
    */
  private val tsTypes = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.DataType]()

  /** Inferred file schemas per path, memoized for the JVM lifetime
    * (r15): `spark.read.parquet(path)` with NO schema runs a 1-task
    * footer-inference JOB on every call, and the catalog constructs
    * thousands of loads per Verify/Bench sweep — `Probe profile` showed the
    * verbatim-SQL queries spending ~0.7 s per construction on ten such
    * jobs inside registerAll alone. With the memoized schema passed
    * explicitly, the reader plans with zero jobs. Staleness contract is
    * tsTypes' (an in-place fixture regeneration mid-JVM keeps the old
    * schema; FixtureCanarySpec runs in a fresh JVM and catches it).
    */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  private def memoSchema(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType =
    schemas.computeIfAbsent(path, _ => spark.read.parquet(path).schema)

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      val path = s"$dir/$name.parquet"
      val tsType = tsTypes.computeIfAbsent(path, _ => scala.util
        .Try(spark.read.parquet(path).schema("ts").dataType)
        .getOrElse {
          // Schema inference itself rejects TIMESTAMP(NANOS) unless the
          // legacy conf is on; the conf only affects NANOS columns, so it is
          // safe to leave set for the rest of a legacy-fixture session.
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          spark.read.parquet(path).schema("ts").dataType
        })
      // The memo is keyed by path but the legacy conf lives on the SESSION
      // that ran the probe: a second session in the same JVM hits the cache,
      // skips the conf-set, and the read below would throw on a NANOS
      // fixture (ADVICE r13) — re-assert the conf whenever the cached type
      // says this fixture needs it.
      if (tsType == LongType)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.schema(memoSchema(spark, path)).parquet(path)
      tsType match {
        case TimestampType    => df
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case LongType         => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case other => throw new IllegalStateException(
          s"events.ts has unsupported fixture type $other at $path")
      }
    } else {
      val path = s"$dir/$name.parquet"
      spark.read.schema(memoSchema(spark, path)).parquet(path)
    }

  /** [[load]] + [[graft.operators.Spread.scanSpread]]: the fact-table
    * load for queries whose scan-side compute must land on every core —
    * a no-op above the spread threshold (see Spread's scaladoc), so at
    * production scale this is exactly [[load]].
    */
  def loadSpread(
      spark: SparkSession, dir: String, name: String, key: String): DataFrame =
    graft.operators.Spread.scanSpread(
      spark, load(spark, dir, name), s"$dir/$name.parquet",
      org.apache.spark.sql.functions.col(key))

  /** Register every fixture table as a temp view for spark.sql queries.
    * Views stay bare [[load]]s, deliberately: spreading the fact views
    * was measured NET NEGATIVE for the SQL queries (q28 1.12 -> 1.98 s,
    * q31-style multi-consumer scans re-pay the spread exchange per
    * consumer; q20/q29 +0.1-0.3 s) — scan spread only pays where a
    * single consumer's scan-side compute dominates, which is a per-query
    * call, not a view property (OPTIMIZATION_r14.md).
    */
  /** One registration per (session, dir): the views are pure functions
    * of the dir, every verbatim-SQL query calls this on construction,
    * and re-registering replans ten loads each time (r15). A dir CHANGE
    * on the same session re-registers (the bench warms at sf0.001 and
    * times at sf0.1). Sessions are weakly held.
    */
  private val registeredDir = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  def registerAll(spark: SparkSession, dir: String): Unit =
    if (registeredDir.get(spark) != dir) {
      all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
      registeredDir.put(spark, dir)
    }
}
