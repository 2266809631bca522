package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** JDBC sink edge for live analytical stores (ClickHouse in the
  * reference's deployment): batched appends per micro-batch — the
  * reference's `bulk_dict_doc_insert` (clickhouse/connect.py:28-49)
  * becomes `df.write.jdbc` with `batchsize`, and idempotence comes from
  * the target being a `ReplacingMergeTree(_ver)` table (duplicate
  * replays collapse server-side exactly as in the reference).
  *
  * Executes for real in this environment: JdbcSinkSpec round-trips
  * micro-batches into an embedded Derby database and proves replay
  * duplicates collapse in the versioned read view. The operator layer is
  * transport-agnostic, so this sink and the parquet append sink in
  * [[CdcStream.startReplication]] are interchangeable.
  */
object JdbcSink {

  /** Continuous replication into a JDBC table. `batchSize` mirrors the
    * reference's insert chunking (10k consumer / 100k snapshot).
    */
  def start(
      changes: DataFrame,
      url: String,
      table: String,
      user: String,
      password: String,
      checkpointDir: String,
      batchSize: Int = 10000,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write
          .format("jdbc")
          .option("url", url)
          .option("dbtable", table)
          .option("user", user)
          .option("password", password)
          .option("batchsize", batchSize)
          .mode("append")
          .save()
      }
      .start()

  /** Keyed-upsert (MERGE) replication — the engine-side idempotent
    * option for JDBC stores WITHOUT ReplacingMergeTree semantics. The
    * reference's own division of labor ships duplicates and lets the
    * table engine collapse them (`clickhouse/connect.py:28-49` +
    * ReplacingMergeTree FINAL); [[start]] mirrors that. Against a plain
    * relational target that contract leaks duplicates to every reader,
    * so this mode makes the SINK idempotent instead, mirroring the
    * parquet path's per-batch ledger:
    *
    *  1. the micro-batch collapses to its latest row per key (two rows
    *     of one key in one batch would also be an illegal double-match
    *     for MERGE);
    *  2. executors bulk-load it into `<table>_stage` (the distributed
    *     leg — all data moves in parallel JDBC appends, exactly like
    *     [[start]]);
    *  3. the driver issues ONE set-based `MERGE INTO` from stage to
    *     target — update when the incoming version advances the key,
    *     insert when the key is new (the driver moves SQL text only,
    *     never rows; the merge itself runs inside the store, which is
    *     where a warehouse wants it).
    *
    * Idempotence: a redelivered batch re-merges the same stage rows —
    * versions don't advance, keys all match — so the raw table does NOT
    * grow, unlike append mode where every crash-replay doubles storage
    * until the read view collapses it. Stale replays (version <= stored)
    * are ignored row-wise, the same latest-wins law as [[ReplicaTable]].
    *
    * The target table is created from the stage schema on first batch
    * (`CREATE TABLE .. AS .. WITH NO DATA`). Identifiers are quoted, so
    * `_ver`-style column names survive the store's case folding.
    *
    * PRE-EXISTING TARGETS: quoting makes the MERGE exact-case, which is
    * self-consistent when this sink created the table (stage-derived,
    * Spark-quoted) but INVERTS for a table a user pre-created with
    * UNQUOTED DDL on a case-folding store — `CREATE TABLE t(user_id ..)`
    * stores `USER_ID` on Derby/Oracle/H2, and `t."user_id"` then fails
    * column resolution on every batch. Pre-created targets must use
    * quoted DDL with column spellings matching the stream's exactly (or
    * let this sink create the table).
    */
  def startUpsert(
      changes: DataFrame,
      url: String,
      table: String,
      keys: Seq[String],
      verCol: String,
      user: String,
      password: String,
      checkpointDir: String,
      batchSize: Int = 10000,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery = {
    require(keys.nonEmpty, "upsert mode needs at least one key column")
    val cols = changes.columns.toSeq
    require(keys.forall(cols.contains),
      s"key columns ${keys.filterNot(cols.contains).mkString(", ")} not in the stream")
    require(cols.contains(verCol), s"version column $verCol not in the stream")
    require(!keys.contains(verCol),
      s"version column $verCol cannot also be a key — the MERGE's " +
        "latest-wins condition compares it across versions of one key")
    require(cols.exists(c => !keys.contains(c)),
      "upsert mode needs at least one non-key column to SET — with every " +
        "column a key the MERGE's UPDATE list would be empty (malformed SQL)")
    // stage name is PER QUERY, not per target: two concurrent upsert
    // queries on one target (blue/green overlap, two apps) sharing a
    // fixed '<table>_stage' would clobber each other between the
    // bulk-load and the MERGE, silently losing one side's updates; the
    // stage is also dropped after each merge so readers of the store
    // never see half a batch of transient rows. The per-query suffix is
    // DERIVED FROM THE CHECKPOINT DIR (the query's identity), not
    // random: a crash between bulk-load and DROP strands the stage, and
    // a random-named restart would leak one table per unclean shutdown
    // forever — the stable name makes the restarted query overwrite and
    // then drop its own orphan.
    // canonicalize the checkpoint spelling before hashing: a restart
    // that writes the same location differently (trailing slash,
    // duplicate separators, `.` segments) must derive the SAME stage
    // identity, or the prior incarnation's crash-stranded stage table
    // is never overwritten-and-dropped
    val canonicalCkpt =
      new org.apache.hadoop.fs.Path(checkpointDir).toUri.normalize().toString
    val stage = s"${table}_stage_" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(canonicalCkpt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(6).map(b => f"$b%02x").mkString
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // one evaluation of the micro-batch lineage per trigger: isEmpty
        // alone would re-scan the source once for the check and once for
        // the stage write
        val persisted = batch.persist()
        try if (!persisted.isEmpty) {
          graft.operators.ReplicaTable.latest(persisted, keys, verCol)
            .write.format("jdbc")
            .option("url", url)
            .option("dbtable", stage)
            .option("user", user)
            .option("password", password)
            .option("batchsize", batchSize)
            .mode("overwrite")
            .save()
          def q(c: String) = "\"" + c + "\""
          // NULL-SAFE key match: plain `t.k = s.k` evaluates UNKNOWN for
          // NULL keys, so a NULL-keyed row would be WHEN NOT MATCHED on
          // every redelivery and re-inserted without bound — the exact
          // failure upsert mode exists to prevent. SQL's portable
          // null-safe form (MERGE accepts no <=> operator) is the OR'd
          // IS NULL pair.
          val on = keys.map(k =>
            s"(t.${q(k)} = s.${q(k)} OR (t.${q(k)} IS NULL AND s.${q(k)} IS NULL))")
            .mkString(" AND ")
          val sets = cols.filterNot(keys.contains)
            .map(c => s"${q(c)} = s.${q(c)}").mkString(", ")
          val conn = java.sql.DriverManager.getConnection(url, user, password)
          try {
            // existence probe by QUERY, not catalog metadata: identifier
            // folding is store-specific (Derby folds unquoted names to
            // upper case, PostgreSQL to lower), and `_` in a JDBC
            // getTables pattern is a single-char wildcard — both make a
            // metadata lookup wrong somewhere. A zero-row SELECT is
            // portable and wildcard-free.
            val exists = {
              val probe = conn.createStatement()
              try {
                probe.executeQuery(s"SELECT 1 FROM $table WHERE 1=0").close()
                true
              } catch {
                // only UNDEFINED-TABLE states mean "absent" (Derby
                // 42X05/42Y07, H2/MySQL 42S02, PostgreSQL 42P01): a
                // transient connection blip or revoked SELECT must
                // surface as ITSELF, not trigger a spurious CREATE TABLE
                // whose 'already exists' error masks the real cause
                case e: java.sql.SQLException
                    if Set("42X05", "42Y07", "42S02", "42P01")
                      .contains(e.getSQLState) => false
              } finally probe.close()
            }
            val st = conn.createStatement()
            try {
              if (!exists)
                st.executeUpdate(
                  s"CREATE TABLE $table AS SELECT * FROM $stage WITH NO DATA")
              st.executeUpdate(
                s"MERGE INTO $table t USING $stage s ON $on " +
                  s"WHEN MATCHED AND s.${q(verCol)} > t.${q(verCol)} " +
                  s"THEN UPDATE SET $sets " +
                  s"WHEN NOT MATCHED THEN INSERT (${cols.map(q).mkString(", ")}) " +
                  s"VALUES (${cols.map(c => s"s.${q(c)}").mkString(", ")})")
              // the stage served its one MERGE — leaving it live would
              // expose a batch of transient rows to every reader and
              // strand one table per query lifetime
              st.executeUpdate(s"DROP TABLE $stage")
            } finally st.close()
          } finally conn.close()
        } finally persisted.unpersist()
        ()
      }
      .start()
  }
}
