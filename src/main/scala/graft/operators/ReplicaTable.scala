package graft.operators

import graft.functions.ArgMaxRow
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, Cast, CreateStruct, EqualTo, Expression, GetStructField, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.DatasetShim

/** Latest-version-wins replica semantics: the Spark-native equivalent of
  * ClickHouse `ReplacingMergeTree(_ver)` + `_deleted` soft deletes — the
  * single most load-bearing semantic of the reference
  * (readme.md:89-91, tables/test.yaml:10-13).
  *
  * Storage is append-only (duplicates and tombstones included); reads go
  * through [[latest]]/[[current]], which collapse each key to its
  * highest-version row. Because the dedup is by (key, max version) it is
  * ORDER-INDEPENDENT: at-least-once replay, multi-partition Kafka, and
  * out-of-order batches all converge to the same table — which is what lets
  * the Spark engine use N shuffle partitions where the reference was pinned
  * to 1 Kafka partition per topic for ordering.
  *
  * Scale notes:
  *  - [[latest]] aggregates with the custom [[graft.functions.ArgMaxRow]]
  *    rather than a window `row_number()` (per-partition sort + skew from
  *    giant key partitions) or the built-in `max_by` (whose struct-typed
  *    buffer silently degrades HashAggregate to SortAggregate — a full
  *    sort on both partial and final stages). ArgMaxRow runs on
  *    ObjectHashAggregateExec: one shuffle on the key, map-side partial
  *    aggregation, hash grouping, sort only as memory-pressure fallback.
  *  - Ties on the version are broken by the tie-break columns so results
  *    are deterministic under replay (duplicate (key, _ver) rows collapse
  *    to one winner).
  */
object ReplicaTable {

  /** Collapse `df` to one row per key: the row with the maximal
    * (version, tieBreak...) tuple. Equivalent to ClickHouse `FINAL` on a
    * `ReplacingMergeTree(ver)`.
    *
    * CONSISTENCY CONTRACT: for a table created with
    * [[createTable]]`(..., tieBreak = ...)`, the transparent read path
    * (the recommended one — plain SQL over the table name) resolves the
    * tie-break list from TBLPROPERTIES; a caller reaching for THIS
    * explicit API on the same data must pass the SAME list, or tied
    * (key, ver) rows can resolve differently between the two paths.
    */
  def latest(df: DataFrame, keys: Seq[String], ver: String, tieBreak: Seq[String] = Nil): DataFrame =
    read(df, keys, ver, tieBreak, deleted = None)

  /** Read view: latest version per key, tombstones dropped — what a
    * ClickHouse reader sees after `OPTIMIZE FINAL` + `WHERE _deleted = 0`.
    */
  def current(
      df: DataFrame,
      keys: Seq[String],
      ver: String = "_ver",
      deleted: String = "_deleted",
      tieBreak: Seq[String] = Nil): DataFrame =
    read(df, keys, ver, tieBreak, Some(deleted))

  /** [[latestPlan]] over `df`'s analyzed plan, columns named as in `df`. */
  private def read(df: DataFrame, keys: Seq[String], ver: String,
      tieBreak: Seq[String], deleted: Option[String]): DataFrame = {
    val child = df.queryExecution.analyzed
    val resolver = df.sparkSession.sessionState.conf.resolver
    def attr(name: String): Attribute =
      child.output.find(a => resolver(a.name, name)).getOrElse(
        throw new IllegalArgumentException(
          s"column '$name' is not among ${child.output.map(_.name).mkString(", ")}"))
    DatasetShim.ofRows(df.sparkSession,
      latestPlan(child, keys.map(attr), attr(ver), tieBreak.map(attr), deleted.map(attr)))
  }

  /** The latest-version plan over `child` — the one shape every replica
    * read is planned with, explicit ([[latest]]/[[current]]) or
    * transparent ([[graft.plans.ReplicaFinalRule]]):
    *
    *  - grouped by `keys`, which pass through the aggregate as THEMSELVES:
    *    a key predicate above the read then references only grouping
    *    attributes, so the optimizer pushes it through the aggregate into
    *    the scan — `WHERE pk = x` prunes files instead of merging the
    *    whole table;
    *  - `ArgMaxRow(struct(ver, tieBreak...), struct(non-key columns))`:
    *    the grouping key already travels with every buffer row, and
    *    nested pruning can't reach inside a TypedImperativeAggregate's
    *    payload, so duplicating wide keys there would be pure buffer and
    *    spill overhead in the engine's hottest operator;
    *  - the winner unwraps in `child`'s column order, each column under
    *    its `child` attribute id, so references above a replaced scan
    *    (self-joins included) stay valid;
    *  - with `deleted`, rows whose flag is not 0 drop out ([[current]]).
    *    A flag doubling as a key is degenerate but legal; it rides the
    *    grouping output then.
    */
  def latestPlan(
      child: LogicalPlan,
      keys: Seq[Attribute],
      ver: Attribute,
      tieBreak: Seq[Attribute],
      deleted: Option[Attribute]): LogicalPlan = {
    val keySet = AttributeSet(keys)
    val payload = child.output.filterNot(keySet.contains)
    val row = Alias(ArgMaxRow(CreateStruct(ver +: tieBreak), CreateStruct(payload))
      .toAggregateExpression(), "_row")()
    def value(a: Attribute): Expression =
      if (keySet.contains(a)) a
      else GetStructField(row.toAttribute, payload.indexWhere(_.exprId == a.exprId), Some(a.name))
    val agg = Aggregate(keys, keys :+ row, child)
    val live = deleted.fold[LogicalPlan](agg)(d =>
      Filter(EqualTo(value(d), Cast(Literal(0), d.dataType)), agg))
    Project(child.output.map(a =>
      if (keySet.contains(a)) a
      else Alias(value(a), a.name)(exprId = a.exprId, qualifier = a.qualifier)), live)
  }

  /** Merge a change batch into a base snapshot. Both sides append-union and
    * collapse; idempotent (replaying `changes` is a no-op) — the engine's
    * version of the reference's at-least-once + idempotent-sink contract
    * (SURVEY §2.10).
    */
  def applyChanges(
      base: DataFrame,
      changes: DataFrame,
      keys: Seq[String],
      ver: String = "_ver",
      tieBreak: Seq[String] = Nil): DataFrame =
    latest(base.unionByName(changes), keys, ver, tieBreak)

  /** Drop `name` from the catalog AND clear its storage location.
    * In-memory catalogs forget tables across sessions while their
    * directories survive, so a bare `DROP TABLE IF EXISTS` in a fresh
    * session leaves orphan files that fail the next create with
    * LOCATION_ALREADY_EXISTS — the DDL path must be re-runnable.
    *
    * The location comes from the catalog when the table exists (a table
    * created with an explicit/external LOCATION does not live at the
    * default managed path — deleting the default path would destroy an
    * unrelated directory and leave the real data behind); the
    * default-path fallback covers only the orphan-directory case where
    * the catalog has already forgotten the table.
    */
  def dropTableAndLocation(spark: org.apache.spark.sql.SparkSession, name: String): Unit = {
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(name)
    val catalog = spark.sessionState.catalog
    val loc = new org.apache.hadoop.fs.Path(
      if (catalog.tableExists(ident)) catalog.getTableMetadata(ident).location
      else catalog.defaultTablePath(ident))
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Materialize the replica's storage from its declarative config — the
    * engine's DDL path (reference: the literal `table` DDL block in each
    * tables/<name>.yaml, executed against ClickHouse). Spark-natively that
    * means: target schema from the config's cast chain, plus the
    * `_ver`/`_deleted` bookkeeping columns, as a managed parquet table
    * BUCKETED on the primary key — so every [[latest]]/[[current]] read
    * over it plans with zero exchanges (see BucketingSpec) and appends
    * from any number of writers co-locate by key. Bucket count is a
    * capacity decision (≈ table bytes / 128 MB at target scale), not the
    * session's shuffle-partition setting.
    */
  def createTable(
      spark: org.apache.spark.sql.SparkSession,
      config: graft.config.TableConfig,
      numBuckets: Int,
      tieBreak: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.types._
    require(config.primaryKeys.nonEmpty,
      s"table ${config.name} has no primary key to bucket by")
    // CREATE OR REPLACE: the reference re-runs its DDL freely
    // (clickhouse/connect.py drop/create); orphan locations must not wedge it
    dropTableAndLocation(spark, config.name)
    val schema = StructType(
      config.structType.fields.toSeq ++ Seq(
        StructField(config.versionColumn, LongType),
        StructField(config.deletedColumn, IntegerType)))
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      .write.format("parquet")
      .bucketBy(numBuckets, config.primaryKeys.head, config.primaryKeys.tail: _*)
      .sortBy(config.primaryKeys.head, config.primaryKeys.tail: _*)
      .saveAsTable(config.name)
    // declare the replica contract in the catalog: with GraftExtensions
    // installed, every scan of this table is transparently rewritten into
    // current() — the table IS a ReplacingMergeTree to its readers
    // (graft.plans.ReplicaFinalRule; reference readme.md:89-91)
    import graft.plans.ReplicaFinalRule._
    // validate tie-break names HERE, at DDL time: a typo written into
    // TBLPROPERTIES would otherwise brick every later read of the table
    // (the rule's attr() lookup throws at analysis) — and quote-unsafe
    // characters would corrupt the generated ALTER statement
    val declared = (config.structType.fieldNames.toSeq ++
      Seq(config.versionColumn, config.deletedColumn))
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val badTb = tieBreak.filterNot(t =>
      declared.contains(t.toLowerCase(java.util.Locale.ROOT)))
    require(badTb.isEmpty,
      s"table ${config.name}: tieBreak columns ${badTb.mkString(", ")} " +
        "not in the table schema")
    // EVERY name spliced into the single-quoted properties needs the
    // quote/comma guard, not just tieBreak: a primary key named "a,b"
    // (ConfigYaml happily parses quoted keys) would split into two attrs
    // at read time and brick every scan at analysis, and a ' corrupts
    // the ALTER statement itself
    val spliced = (config.primaryKeys :+ config.versionColumn :+
      config.deletedColumn) ++ tieBreak
    require(spliced.forall(t => !t.contains("'") && !t.contains(",")),
      s"table ${config.name}: column names written to table properties " +
        s"(keys, version, deleted, tieBreak) must not contain ' or , — got " +
        spliced.filter(t => t.contains("'") || t.contains(",")).mkString(", "))
    val tieBreakProp =
      if (tieBreak.isEmpty) ""
      else s",'$TieBreakProp'='${tieBreak.mkString(",")}'"
    spark.sql(
      s"ALTER TABLE `${config.name}` SET TBLPROPERTIES (" +
        s"'$KeysProp'='${config.primaryKeys.mkString(",")}'," +
        s"'$VerProp'='${config.versionColumn}'," +
        s"'$DeletedProp'='${config.deletedColumn}'$tieBreakProp)")
  }

  /** Append a (schema-transformed) batch into the bucketed replica table.
    * Storage stays append-only; readers collapse via [[current]]. The
    * writer must re-declare the table's bucketing (Spark rejects a
    * mismatched spec rather than silently de-bucketing — the guarantee
    * the exchange-free read depends on), so the bucket count travels
    * with the call.
    */
  def appendBatch(df: DataFrame, config: graft.config.TableConfig,
      numBuckets: Int): Unit = {
    // loud write-path guard: a NULL soft-delete flag would silently
    // vanish its key from every read (the = 0 filter evaluates UNKNOWN)
    // — reject it at append time, per row, codegen-cheap. ClickHouse
    // parity too: the reference's _deleted is a non-nullable UInt8.
    val d = config.deletedColumn
    val guarded = df.withColumn(d,
      when(col(d).isNull, raise_error(lit(
        s"replica ${config.name}: NULL $d in append batch — the " +
          "soft-delete flag must be 0 or 1 (a NULL row would be " +
          "invisible to every versioned read)")).cast("int"))
        .otherwise(col(d)))
    guarded
      // bucket-aligned append: repartition by the bucket keys into
      // exactly numBuckets partitions (same Murmur3-pmod formula both
      // sides) so each append adds numBuckets files, not
      // partitions × buckets — unaligned appends accumulate thousands
      // of tiny files that dominate every re-read (guide §6; see
      // BlockedSelfJoin.persistChunked and OPTIMIZATION_r14.md)
      .repartition(numBuckets, config.primaryKeys.map(col): _*)
      .write.mode("append").format("parquet")
      .bucketBy(numBuckets, config.primaryKeys.head, config.primaryKeys.tail: _*)
      .sortBy(config.primaryKeys.head, config.primaryKeys.tail: _*)
      .saveAsTable(config.name)
  }

  /** Register `current` as a temp view so `spark.sql` users transparently
    * get ReplacingMergeTree-FINAL semantics (SURVEY §4 custom-work item 1).
    */
  def registerView(
      df: DataFrame,
      viewName: String,
      keys: Seq[String],
      ver: String = "_ver",
      deleted: String = "_deleted"): Unit =
    current(df, keys, ver, deleted).createOrReplaceTempView(viewName)

  /** Source↔replica CHECKSUM RECONCILIATION — the nightly audit read a
    * replication operator runs to prove the replica still equals the
    * source without shipping either table (pt-table-checksum's shape):
    * rows hash to 64-bit digests, digests fold per KEY-RANGE BUCKET with
    * bit_xor — order-independent AND overflow-free (a wrapping sum would
    * trip ANSI arithmetic), so any engine computes the identical bucket
    * fingerprint over any partitioning — and only the BUCKET×(count,
    * checksum) grids travel. A mismatched bucket pinpoints where to
    * re-sync; the full-outer join keeps a bucket that exists on one side
    * only visible instead of silently dropping it.
    *
    * The digest deliberately covers typed columns cast to STRING only
    * for integer/string types — float columns don't belong in a
    * cross-engine checksum (formatting differs); key + version identify
    * a row's content under the CDC contract anyway.
    *
    * The per-row encoding is INJECTIVE, which an audit digest must be:
    * a bare `concat_ws` SKIPS NULLs (so (1, NULL, '5') and (1, '5',
    * NULL) hash identically) and a raw '|' inside a value shifts every
    * later column (('a','b') collides with ('a|b', NULL)) — exactly the
    * divergences the audit exists to catch reporting is_match=1.
    * Each value escapes '~' to '~~' and '|' to '~|', and NULL encodes
    * as '~0' — unreachable after escaping (a real '~' is always
    * followed by '~' or '|'), so the unescaped '|' only ever separates
    * columns and every distinct row tuple gets a distinct string
    * (pt-table-checksum's ISNULL-bitmap idea, as pure string algebra
    * every SQL engine can replay).
    */
  def checksumAudit(
      source: DataFrame,
      replica: DataFrame,
      keyCol: String,
      cols: Seq[String],
      nBuckets: Int): DataFrame = {
    def digestCol(name: String): Column = {
      val escaped = call_function("replace",
        call_function("replace", col(name).cast("string"),
          lit("~"), lit("~~")),
        lit("|"), lit("~|"))
      coalesce(escaped, lit("~0"))
    }
    def side(df: DataFrame, pfx: String): DataFrame =
      df.select(
          pmod(col(keyCol), lit(nBuckets.toLong)).as("bucket"),
          graft.functions.HashFunctions.md5NumberBigEndian(
            concat_ws("|", cols.map(digestCol): _*)).as("h"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as(s"n_rows_$pfx"),
          expr("bit_xor(h)").as(s"checksum_$pfx"))
    side(source, "src").join(side(replica, "rep"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_rows_src"), lit(0L)).as("n_rows_src"),
        coalesce(col("n_rows_rep"), lit(0L)).as("n_rows_rep"),
        coalesce(col("checksum_src"), lit(0L)).as("checksum_src"),
        coalesce(col("checksum_rep"), lit(0L)).as("checksum_rep"))
      .withColumn("is_match",
        (col("n_rows_src") === col("n_rows_rep") &&
          col("checksum_src") === col("checksum_rep")).cast("long"))
      .orderBy(col("bucket"))
  }
}
