package graft.operators

import graft.config.{CastRegistry, TableConfig}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Result of a schema transform: valid rows in the target schema, plus the
  * dead-letter channel of rejected source rows with their reasons.
  *
  * Reference: the per-row try/except that drops bad documents and logs
  * `(doc, traceback)` to the DOCUMENT-level error log
  * (replication/consumer/loader.py:40-49, replicator/store.py:66-77,
  * logger/helper.py:1-16). Here the error channel is a DataFrame, the
  * analytics-friendly upgrade of a rotating log file.
  */
final case class TransformResult(valid: DataFrame, errors: DataFrame)

/** The reference's core operator P1: schema-mapping transform
  * (replication/consumer/transformer.py:63-96 —
  * `convert_to_ch_dict_using_schema`).
  *
  * For each configured column: source via `ref` rename, enforce
  * primary-key-present and `required`, apply `default`, cast via the
  * registry's ordered fallback chain, emit a fixed-column row; unknown
  * source fields are dropped (the projection iterates schema columns, not
  * input columns — transformer.py:65-67).
  *
  * Design: the whole transform is ONE generated `select` of Column
  * expressions plus a validity predicate — no per-row code. Catalyst prunes
  * unused source columns down to the parquet scan and the entire operator
  * stays inside whole-stage codegen, so at 100 TB it runs at scan
  * throughput with zero shuffles.
  */
object SchemaTransform {

  private val ErrCol = "_errors"

  /** Build (castExpr, errorExprs) for one column over the source frame. */
  private def columnExprs(df: DataFrame, spec: graft.config.ColumnSpec): (Column, Seq[Column]) = {
    // presence matches CASE-INSENSITIVELY, like Spark's own default
    // resolver: an exact-case contains() would declare a present column
    // ('Amount' vs ref 'amount') missing and dead-letter EVERY row for
    // required/key columns — even though col(ref) resolves fine
    val hasField = df.columns.exists(_.equalsIgnoreCase(spec.sourceField))
    val src: Column = if (hasField) col(spec.sourceField) else lit(null)
    val casted = CastRegistry.chain(spec.types)(src)

    val withDefault = spec.default match {
      case Some(d) => coalesce(casted, lit(d))
      case None    => casted
    }

    val errs = Seq.newBuilder[Column]
    if (spec.primaryKey)
      errs += when(src.isNull, lit(s"missing primary key: ${spec.name}"))
    if (spec.required)
      errs += when(src.isNull, lit(s"missing required field: ${spec.name}"))
    // Present in the source but no cast in the chain succeeded -> the
    // reference raises per-row (transformer.py:84-96); we reject the row.
    errs += when(src.isNotNull && casted.isNull, lit(s"cast failed: ${spec.name}"))

    (withDefault.as(spec.name), errs.result())
  }

  /** Over the staged frame (see [[split]]): true for a rejected row. */
  private[graft] val rejected: Column = size(col(ErrCol)) > 0

  /** Apply `config` to `df`, splitting valid rows from rejects.
    *
    * `keep` optionally carries source columns (e.g. the Kafka offset)
    * through to the output unchanged.
    */
  def apply(df: DataFrame, config: TableConfig, keep: Seq[String] = Nil): TransformResult =
    split(df, config, keep)(identity)

  /** [[apply]] with `tap` applied to the staged frame — the source
    * columns plus the error array, before the valid/reject filter. That
    * is the one frame both halves read, so an observation placed there
    * by `tap` counts the rejects ([[rejected]]) during whichever half is
    * written first.
    */
  private[graft] def split(df: DataFrame, config: TableConfig, keep: Seq[String])(
      tap: DataFrame => DataFrame): TransformResult = {
    val built = config.columns.map(c => columnExprs(df, c))
    val outCols = keep.map(col) ++ built.map(_._1)
    val errExprs = built.flatMap(_._2)

    // array of non-null error strings; empty <=> row valid
    val errArray = filter(array(errExprs: _*), e => e.isNotNull)
    val staged = tap(df.withColumn(ErrCol, errArray))

    val valid = staged.filter(size(col(ErrCol)) === 0).select(outCols: _*)
    val errors = staged
      .filter(rejected)
      .select(
        to_json(struct(df.columns.map(col): _*)).as("document"),
        array_join(col(ErrCol), "; ").as("error"))
    TransformResult(valid, errors)
  }
}
