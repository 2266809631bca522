package graft

import graft.config.{ColumnSpec, TableConfig}
import graft.operators.ReplicaTable

/** Transparent ReplacingMergeTree-FINAL semantics: a table created through
  * the DDL path is read — by PLAIN SQL over its raw name, with no view
  * registration — as its latest-version-wins, tombstone-free state
  * (graft.plans.ReplicaFinalRule via GraftExtensions).
  */
class ReplicaFinalRuleSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = TableConfig("rfr_replica", Seq(
    ColumnSpec("Id", Seq("int"), primaryKey = true),
    ColumnSpec("Name", Seq("str"))))

  private def withReplica[A](body: => A): A =
    try {
      spark.sql(s"DROP TABLE IF EXISTS ${cfg.name}")
      ReplicaTable.createTable(spark, cfg, numBuckets = 4)
      val b1 = Seq((1L, "a-v1", 1L, 0), (2L, "b-v1", 1L, 0), (3L, "c-v1", 1L, 0))
        .toDF("Id", "Name", "_ver", "_deleted")
      val b2 = Seq((1L, "a-v2", 2L, 0), (2L, "b-tomb", 2L, 1), (3L, "c-v1", 1L, 0))
        .toDF("Id", "Name", "_ver", "_deleted") // replays (3, v1): idempotent
      ReplicaTable.appendBatch(b1, cfg, numBuckets = 4)
      ReplicaTable.appendBatch(b2, cfg, numBuckets = 4)
      body
    } finally spark.sql(s"DROP TABLE IF EXISTS ${cfg.name}")

  test("plain SQL over the raw table name returns the merged FINAL state") {
    withReplica {
      val got = spark.sql(s"SELECT Id, Name FROM ${cfg.name} ORDER BY Id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got === Seq((1L, "a-v2"), (3L, "c-v1"))) // Id=2 tombstoned
    }
  }

  test("the rewrite injects ArgMaxRow and stays exchange-free on the bucketed PK") {
    withReplica {
      val df = spark.sql(s"SELECT Id, Name FROM ${cfg.name}")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("arg_max_row"),
        s"replica scan should carry the injected argmax aggregate:\n$optimized")
      df.collect()
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("ObjectHashAggregate"),
        s"argmax must plan hash-based, not sort-based:\n$physical")
      assert(!physical.contains("Exchange"),
        s"FINAL view over the PK-bucketed replica must not shuffle:\n$physical")
    }
  }

  test("re-analysis of a plan embedding a rewritten scan does not stack a second merge") {
    withReplica {
      spark.table(cfg.name).createOrReplaceTempView("rfr_view")
      try {
        val df = spark.sql("SELECT Id, Name FROM rfr_view WHERE Id > 0")
        val aggs = df.queryExecution.optimizedPlan.collect {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        }
        assert(aggs.size === 1, s"expected exactly one injected aggregate:\n${df.queryExecution.optimizedPlan}")
        assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
      } finally spark.catalog.dropTempView("rfr_view")
    }
  }

  test("self-join of a replica table resolves (both sides independently merged)") {
    withReplica {
      val n = spark.sql(
        s"SELECT COUNT(*) FROM ${cfg.name} a JOIN ${cfg.name} b ON a.Id = b.Id")
        .head().getLong(0)
      assert(n === 2) // two live keys join 1:1 with themselves
    }
  }

  test("a primary-key point predicate pushes through the merge into the scan") {
    withReplica {
      // the grouping keys pass through the injected aggregate as their
      // original attributes, so `WHERE pk = x` must land in the parquet
      // scan's PushedFilters (file/row-group pruning) instead of
      // filtering AFTER a whole-table aggregate — the difference between
      // a point lookup and a full merge at 100 TB. The explicit
      // DataFrame read over the same raw storage shares the plan builder
      // and must push the key just the same
      val location = spark.sql(s"DESCRIBE TABLE EXTENDED ${cfg.name}")
        .collect().find(_.getString(0) == "Location").get.getString(1)
      val inputs = Seq(
        "transparent SQL" -> spark.sql(s"SELECT Id, Name FROM ${cfg.name} WHERE Id = 1"),
        "currentView" -> graft.streaming.CdcStream
          .currentView(spark, location.stripPrefix("file:"), Seq("Id"))
          .filter(org.apache.spark.sql.functions.col("Id") === 1)
          .select("Id", "Name"))
      for ((path, df) <- inputs) {
        val physical = df.queryExecution.executedPlan.toString
        assert(physical.contains("PushedFilters: [IsNotNull(Id), EqualTo(Id,1)]") ||
          physical.contains("PushedFilters: [EqualTo(Id,1)"),
          s"$path: key predicate did not reach the scan:\n$physical")
        assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
          === Seq((1L, "a-v2")), path)
      }
    }
  }

  test("ties on (key, ver) break deterministically via the tiebreak property") {
    val tcfg = TableConfig("rfr_tie", Seq(
      ColumnSpec("Id", Seq("int"), primaryKey = true),
      ColumnSpec("Name", Seq("str"))))
    try {
      spark.sql(s"DROP TABLE IF EXISTS ${tcfg.name}")
      ReplicaTable.createTable(spark, tcfg, numBuckets = 4,
        tieBreak = Seq("Name"))
      // two DISTINCT payloads share (Id=1, _ver=1): without a tiebreak
      // the winner is arrival-order-dependent; with tieBreak=Name the
      // max (ver, Name) tuple — "z-dup" — must win on every run
      ReplicaTable.appendBatch(
        Seq((1L, "z-dup", 1L, 0), (1L, "a-dup", 1L, 0))
          .toDF("Id", "Name", "_ver", "_deleted"), tcfg, numBuckets = 4)
      val got = (1 to 3).map(_ =>
        spark.sql(s"SELECT Name FROM ${tcfg.name}").head().getString(0))
      assert(got.forall(_ == "z-dup"),
        s"tie-broken read must be deterministic, got $got")
    } finally spark.sql(s"DROP TABLE IF EXISTS ${tcfg.name}")
  }

  test("transparent and explicit reads agree bit-identically on tied (key, _ver) rows") {
    // the CONSISTENCY CONTRACT in ReplicaTable.latest's scaladoc,
    // executed instead of documented: for the same stored rows and the
    // same tie-break list, plain SQL over the raw table name (the
    // transparent-FINAL rewrite) and the explicit ReplicaTable API must
    // return identical rows. Two regimes: WITHOUT tiebreak columns,
    // ties may only come from exact replays (the documented requirement
    // for tiebreak-less tables — identical payloads make the winner
    // irrelevant); WITH a tiebreak, DISTINCT payloads on a tied
    // (key, _ver) must resolve to the max (ver, tieBreak...) tuple on
    // both paths.
    val cases = Seq(
      ("rfr_agree0", Seq.empty[String], Seq(
        (1L, "a-v1", 1L, 0), (1L, "a-v1", 1L, 0), // exact-replay tie
        (1L, "a-v2", 2L, 0),
        (2L, "b-v1", 1L, 0), (2L, "b-v1", 1L, 0),
        (3L, "t-v1", 1L, 0), (3L, "t-v2", 2L, 1)), // tombstoned key
        Seq((1L, "a-v2"), (2L, "b-v1"))),
      ("rfr_agree1", Seq("Name"), Seq(
        (1L, "z-dup", 1L, 0), (1L, "a-dup", 1L, 0), // distinct payloads
        (2L, "m-dup", 3L, 0), (2L, "q-dup", 3L, 0), // tied at _ver
        (3L, "x-v1", 1L, 0), (3L, "x-v2", 2L, 1)),
        Seq((1L, "z-dup"), (2L, "q-dup"))))
    for ((name, tb, rows, want) <- cases) {
      val tcfg = TableConfig(name, Seq(
        ColumnSpec("Id", Seq("int"), primaryKey = true),
        ColumnSpec("Name", Seq("str"))))
      try {
        spark.sql(s"DROP TABLE IF EXISTS $name")
        ReplicaTable.createTable(spark, tcfg, numBuckets = 4, tieBreak = tb)
        ReplicaTable.appendBatch(
          rows.toDF("Id", "Name", "_ver", "_deleted"), tcfg, numBuckets = 4)
        val transparent = spark.sql(
            s"SELECT Id, Name, _ver, _deleted FROM $name ORDER BY Id")
          .collect().map(_.toSeq).toSeq
        // the explicit path reads the RAW storage (going through the
        // table name would re-enter the rewrite) and must pass the SAME
        // tie-break list the DDL declared
        val location = spark.sql(s"DESCRIBE TABLE EXTENDED $name")
          .collect().find(_.getString(0) == "Location").get.getString(1)
        val raw = spark.read.parquet(location.stripPrefix("file:"))
        val explicit = ReplicaTable
          .current(raw, Seq("Id"), "_ver", "_deleted", tb)
          .select("Id", "Name", "_ver", "_deleted").orderBy("Id")
          .collect().map(_.toSeq).toSeq
        assert(transparent === explicit,
          s"$name: transparent vs explicit reads diverged (tieBreak=$tb)")
        assert(transparent.map(r => (r(0), r(1))) === want,
          s"$name: tie resolution picked the wrong winner (tieBreak=$tb)")
      } finally spark.sql(s"DROP TABLE IF EXISTS $name")
    }
  }

  test("a NULL soft-delete flag is rejected loudly at append time") {
    withReplica {
      val bad = Seq((9L, "x", 5L)).toDF("Id", "Name", "_ver")
        .withColumn("_deleted",
          org.apache.spark.sql.functions.lit(null).cast("int"))
      val e = intercept[Exception] {
        ReplicaTable.appendBatch(bad, cfg, numBuckets = 4)
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("NULL _deleted")),
        s"append of a NULL soft-delete flag must name the hazard: $e")
    }
  }

  test("the append path still writes raw versioned rows (storage untouched by the rewrite)") {
    withReplica {
      val location = spark.sql(s"DESCRIBE TABLE EXTENDED ${cfg.name}")
        .collect().find(_.getString(0) == "Location").get.getString(1)
      val raw = spark.read.parquet(location.stripPrefix("file:"))
      assert(raw.count() === 6, "all six appended rows, duplicates and tombstones included")
      assert(spark.table(cfg.name).count() === 2, "reader sees the merged view")
    }
  }
}
