package graft

import org.apache.spark.sql.types._

/** Fixture canary: round 5 lost 26 driver-green queries because the events
  * fixture was regenerated with a different `ts` physical type and nothing
  * in `sbt test` probed the REAL fixtures' schemas (specs asserted against
  * cached expectations; the catalog sweep died on the first exception, so
  * the blast radius was invisible). This spec is the cheap tripwire:
  *
  *   (a) load every fixture through [[Tables.load]] and assert the
  *       post-load column contract the operator layer depends on;
  *   (b) force analysis + physical planning for EVERY catalog entry at
  *       sf0.001, collecting all failures into one readable report
  *       instead of stopping at the first.
  *
  * Seconds of runtime; a fixture regeneration now fails here with the
  * full list of affected queries, not in the driver a round later.
  */
class FixtureCanarySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("every fixture loads and honors the post-load column contract") {
    // the columns operators actually dereference, with the types they assume
    val contract: Map[String, Map[String, DataType]] = Map(
      "region"   -> Map("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation"   -> Map("n_nationkey" -> IntegerType, "n_regionkey" -> IntegerType),
      "customer" -> Map("c_custkey" -> LongType, "c_acctbal" -> DoubleType,
                        "c_mktsegment" -> StringType),
      "supplier" -> Map("s_suppkey" -> LongType, "s_nationkey" -> IntegerType),
      "part"     -> Map("p_partkey" -> LongType, "p_retailprice" -> DoubleType),
      "orders"   -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
                        "o_orderdate" -> TimestampNTZType, "o_totalprice" -> DoubleType),
      "lineitem" -> Map("l_orderkey" -> LongType, "l_partkey" -> LongType,
                        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
                        "l_discount" -> DoubleType, "l_shipdate" -> TimestampNTZType),
      // ts MUST come out session-zoned TimestampType no matter which
      // fixture generation is on disk — the whole point of Tables.load's
      // schema dispatch (r5 verdict item 1)
      "events"     -> Map("event_id" -> LongType, "ts" -> TimestampType,
                          "user_id" -> LongType, "event_type" -> StringType,
                          "value" -> DoubleType, "props" -> StringType),
      "documents"  -> Map("doc_id" -> LongType, "text" -> StringType,
                          "lang" -> StringType, "source" -> StringType),
      "embeddings" -> Map("vec_id" -> LongType, "label" -> IntegerType,
                          "embedding" -> ArrayType(FloatType, containsNull = true)),
    )
    val problems = Tables.all.flatMap { name =>
      scala.util.Try(Tables.load(spark, dir, name).schema) match {
        case scala.util.Failure(e) => Seq(s"$name: load failed: ${e.getMessage}")
        case scala.util.Success(schema) =>
          val byName = schema.fields.map(f => f.name -> f.dataType).toMap
          contract.getOrElse(name, Map.empty).flatMap { case (col, want) =>
            byName.get(col) match {
              case None        => Some(s"$name.$col: column missing (have ${byName.keys.mkString(", ")})")
              case Some(got) if got != want => Some(s"$name.$col: expected $want, fixture loads as $got")
              case _           => None
            }
          }
      }
    }
    assert(problems.isEmpty, s"fixture contract violations:\n  ${problems.mkString("\n  ")}")
  }

  test("documents.doc_id is contiguous 0..n-1 (d37's quartile-arithmetic invariant)") {
    // d37VocabGrowth's prefix quartiles are integer arithmetic on doc_id
    // (`doc_id * 4 DIV n`), valid only while doc_id is dense and
    // zero-based. The query, its oracle, and its replay test all share
    // the formula, so a gapped regeneration would stay hash-green while
    // the '25/50/75/100% prefix' labels silently distorted (ADVICE r6).
    // Check it on the data instead of assuming it.
    import org.apache.spark.sql.functions._
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val r = Tables.load(spark, s"/root/testdata/$sf", "documents")
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("lo"),
          max(col("doc_id")).as("hi"))
        .collect()(0)
      val (n, lo, hi) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(lo == 0L && hi == n - 1,
        s"$sf documents.doc_id not contiguous 0..n-1: n=$n min=$lo max=$hi — " +
          "d37's prefix-quartile arithmetic (and its oracle) no longer mean " +
          "'% of corpus'")
    }
  }

  test("the loader rejects an unknown events.ts encoding loudly, not silently") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("broken_fixture").toString
    // a fixture generation nobody planned for: ts written as STRING
    spark.range(3).select(col("id").as("event_id"),
        lit("2024-01-01T00:00:00").as("ts"), col("id").as("user_id"),
        lit("click").as("event_type"), lit(1.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.load(spark, dir, "events"))
    assert(e.getMessage.contains("unsupported fixture type"),
      s"wrong failure mode: ${e.getMessage}")
  }

  test("every catalog query analyzes and plans against the real fixtures") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      scala.util.Try(fn(spark, dir).queryExecution.executedPlan) match {
        case scala.util.Failure(e) =>
          Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage.linesIterator.take(3).mkString(" | ")}")
        case scala.util.Success(_) => None
      }
    }
    assert(failures.isEmpty,
      s"${failures.size}/${SparkEntry.queries.size} catalog queries fail to plan:\n  ${failures.mkString("\n  ")}")
  }
}
