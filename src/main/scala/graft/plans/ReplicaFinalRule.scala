package graft.plans

import graft.operators.ReplicaTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Transparent ReplacingMergeTree-FINAL semantics (SURVEY §4 custom-work
  * item 1): every catalog scan of a table registered as a replica is
  * rewritten — during analysis — into its latest-version-wins, tombstone-
  * free read view. A user writes `SELECT ... FROM my_replica` and gets
  * exactly what a ClickHouse user gets from `ReplacingMergeTree(_ver)`
  * background merges + `FINAL` + `WHERE _deleted = 0`
  * (reference readme.md:89-91, tables/test.yaml:10-13) — no view
  * registration, no window predicate, no knowledge that versions exist.
  *
  * Registration is a catalog fact, not session state: [[ReplicaFinalRule]]
  * recognizes tables whose TBLPROPERTIES carry the replica contract
  * ([[ReplicaFinalRule.KeysProp]] etc.), which
  * [[graft.operators.ReplicaTable.createTable]] writes at DDL time. The
  * rewrite therefore survives session restarts and applies to every
  * reader of the catalog, exactly like a table engine would.
  *
  * Scale/physical notes:
  *  - The injected plan is [[graft.operators.ReplicaTable.latestPlan]],
  *    the same one the explicit [[graft.operators.ReplicaTable.current]]
  *    API builds: one shuffle on the key at worst, map-side partial
  *    aggregation, and ZERO exchanges when the table is bucketed on its
  *    primary key (which `createTable` guarantees) — see
  *    ReplicaFinalRuleSpec.
  *  - The rewrite happens at analysis (post-hoc resolution), so the full
  *    optimizer — column pruning through the payload struct, filter
  *    pushdown into the scan, AQE — runs over the rewritten plan.
  *  - Writes are untouched: by the time this rule runs, `INSERT`s have
  *    already been converted to write commands whose target is not a
  *    `LogicalRelation` scan, so the append path keeps writing raw
  *    versioned rows (storage stays append-only).
  *
  * Attribute identity: the replacement plan re-exposes the ORIGINAL
  * relation output attribute ids, so references anywhere above the scan
  * — including self-joins, which the analyzer de-duplicates before this
  * rule runs — stay valid.
  */
object ReplicaFinalRule {
  /** Comma-separated primary-key column list; presence marks the table. */
  val KeysProp = "graft.replica.keys"
  /** Version column name (default `_ver`). */
  val VerProp = "graft.replica.ver"
  /** Soft-delete column name (default `_deleted`). */
  val DeletedProp = "graft.replica.deleted"
  /** Optional comma-separated tie-break column list: appended to the
    * version in the argmax ordering so reads stay DETERMINISTIC when
    * distinct payloads share (key, ver) — the same knob
    * [[graft.operators.ReplicaTable.latest]] exposes as `tieBreak`.
    */
  val TieBreakProp = "graft.replica.tiebreak"

  /** Marks relations this rule already rewrote (the copy placed under the
    * injected aggregate), so re-analysis of a plan that embeds a rewritten
    * subtree (views, cached frames unioned into new queries) does not
    * stack a second — semantically idempotent but wasteful — aggregate.
    */
  private[plans] val SkipTag = new TreeNodeTag[Unit]("graft.replicaFinal.done")
}

case class ReplicaFinalRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import ReplicaFinalRule._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case rel: LogicalRelation
        if rel.catalogTable.exists(_.properties.contains(KeysProp)) &&
          rel.getTagValue(SkipTag).isEmpty && !rel.isStreaming =>
      rewrite(rel)
  }

  private def rewrite(rel: LogicalRelation): LogicalPlan = {
    val props = rel.catalogTable.get.properties
    val table = rel.catalogTable.get.identifier.unquotedString
    val out = rel.output
    val resolver = spark.sessionState.conf.resolver
    def attr(name: String): AttributeReference =
      out.find(a => resolver(a.name, name)).getOrElse(throw new IllegalStateException(
        s"replica table $table declares column '$name' in its TBLPROPERTIES " +
          s"but the relation output is ${out.map(_.name).mkString(", ")}"))
    val keys = props(KeysProp).split(",").map(n => attr(n.trim)).toSeq
    val ver = attr(props.getOrElse(VerProp, "_ver"))
    val deleted = attr(props.getOrElse(DeletedProp, "_deleted"))
    val tieBreaks = props.get(TieBreakProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).map(attr)

    // the scan copy that lives under the injected aggregate; tagged so a
    // later pass over the same (sub)plan leaves it alone. It keeps the
    // relation's attribute ids, which the built plan re-exposes
    val inner = rel.copy()
    inner.setTagValue(SkipTag, ())
    ReplicaTable.latestPlan(inner, keys, ver, tieBreaks, Some(deleted))
  }
}
