package graft.config

import scala.jdk.CollectionConverters._

import org.snakeyaml.engine.v2.api.{Load, LoadSettings}
import org.snakeyaml.engine.v2.exceptions.YamlEngineException
import org.snakeyaml.engine.v2.schema.CoreSchema

/** YAML table-config loader: parses the reference's `tables/<name>.yaml`
  * shape (reference: tables/test.yaml, readme.md:115-142, loaded by
  * replication/schema/helper.py:13-38) into a [[TableConfig]], so a user
  * can declare a replicated table without recompiling — the reference's
  * central operating model.
  *
  * Recognized keys, mirroring the reference loader:
  *  - `table_name` -> [[TableConfig.name]]
  *  - `schema.properties.<Col>.{type, ref, default, required, ch_type}`
  *    -> one [[ColumnSpec]] each (in declaration order); `type` may be a
  *    scalar or a list, flow or block style (the ordered cast-fallback
  *    chain)
  *  - `schema.primary_key` (scalar or list) -> `primaryKey` flags
  *  - `table` (DDL text), `buffer`, `topic_config`: parsed and retained in
  *    the raw tree but not used — DDL/buffering/topics are ClickHouse/Kafka
  *    deployment concerns the Spark engine replaces (buffer tables are
  *    subsumed by micro-batch triggers, topics by checkpoints)
  *  - properties named `_ver`/`_deleted` are dropped: the engine
  *    synthesizes them in the envelope step ([[graft.operators.Envelope]]);
  *    declaring them as transform columns would double-emit
  *
  * Parsing goes through snakeyaml-engine (`org.snakeyaml.engine.v2`,
  * shipped in Spark's jars) with the YAML 1.2 core schema and duplicate
  * keys rejected. The core schema types plain scalars as the configs
  * mean them: `true`/`false`, `null`/`~`, integers and floats; every
  * other scalar stays a string. YAML 1.1 (SnakeYAML's and PyYAML's
  * default) would also turn `yes`/`no`/`on`/`off` and dates into new
  * types, changing what an existing config says. Rejecting duplicates
  * keeps a key declared twice (a property, or `primary_key`) from
  * silently becoming two columns or resolving to one of its values.
  */
object ConfigYaml {

  /** Ordered key-value tree: values are String | Long | Double | Boolean |
    * Vector[Any] | Node | null.
    */
  final case class Node(fields: Vector[(String, Any)]) {
    def get(key: String): Option[Any] = fields.collectFirst { case (`key`, v) => v }
    def obj(key: String): Node = get(key) match {
      case Some(n: Node) => n
      case other => throw new IllegalArgumentException(s"expected mapping at '$key', got $other")
    }
  }

  private val loadSettings = LoadSettings.builder()
    .setSchema(new CoreSchema())
    .setAllowDuplicateKeys(false)
    .setLabel("table yaml")
    .build()

  /** Load one YAML document whose root is a mapping (an empty document
    * is an empty mapping). Syntax errors, duplicate keys and a non-mapping
    * root throw IllegalArgumentException; the loader's messages carry the
    * line and column.
    */
  def parse(text: String): Node = {
    val root =
      try new Load(loadSettings).loadFromString(text)
      catch { case e: YamlEngineException => throw new IllegalArgumentException(e.getMessage, e) }
    fromYaml(root) match {
      case null    => Node(Vector.empty)
      case n: Node => n
      case other   => throw new IllegalArgumentException(s"expected a mapping at the top level, got $other")
    }
  }

  /** The loader's Java tree -> [[Node]] / Vector / Long; an integer past
    * Long's range becomes a Double, other scalars (String, Double,
    * Boolean, null) pass through.
    */
  private def fromYaml(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      Node(m.asScala.iterator.map { case (k, x) => String.valueOf(k) -> fromYaml(x) }.toVector)
    case xs: java.util.List[_]   => xs.asScala.iterator.map(fromYaml).toVector
    case i: java.lang.Integer    => i.longValue
    case b: java.math.BigInteger => b.doubleValue
    case other                   => other
  }

  /** Parse one `tables/<name>.yaml` document into a TableConfig. */
  def tableConfig(
      yaml: String,
      versionColumn: String = "_ver",
      deletedColumn: String = "_deleted"): TableConfig = {
    val root = parse(yaml)
    val name = root.get("table_name") match {
      case Some(s: String) => s
      case other => throw new IllegalArgumentException(s"table_name missing or not a string: $other")
    }
    val schema = root.obj("schema")
    val pks: Set[String] = schema.get("primary_key") match {
      case Some(xs: Vector[_]) => xs.map(_.toString).toSet
      case Some(null) | None   => Set.empty
      // any scalar (a numeric column name parses as Long) is a key name
      case Some(other)         => Set(other.toString)
    }
    // validate NOW, against the declared properties: a typo'd key name
    // would otherwise mark no column primaryKey at all — silently
    // disabling key enforcement (SchemaTransform stops dead-lettering
    // key-less rows) with the failure surfacing, if ever, far away in
    // table DDL
    val declared = schema.obj("properties").fields.map(_._1).toSet
    val unknownPks = pks.diff(declared)
    require(unknownPks.isEmpty,
      s"schema.primary_key names ${unknownPks.mkString(", ")} are not " +
        s"declared properties (declared: ${declared.toSeq.sorted.mkString(", ")})")
    val columns = schema.obj("properties").fields
      .filterNot { case (n, _) => n == versionColumn || n == deletedColumn }
      .map {
        case (colName, spec: Node) =>
          val types = spec.get("type") match {
            case Some(s: String)     => Seq(s)
            case Some(xs: Vector[_]) => xs.map(_.toString)
            case _                   => Seq("str")
          }
          ColumnSpec(
            name = colName,
            types = types,
            ref = spec.get("ref").map(_.toString),
            default = spec.get("default").map(defaultValue),
            required = spec.get("required").contains(true),
            primaryKey = pks(colName),
            chType = spec.get("ch_type").map(_.toString))
        case (colName, other) =>
          throw new IllegalArgumentException(s"property '$colName' is not a mapping: $other")
      }
    TableConfig(name, columns, versionColumn, deletedColumn)
  }

  /** YAML default -> the literal SchemaTransform feeds to `lit`. Lists
    * become arrays (Spark literals don't take Scala collections of unknown
    * element type; the reference's only list default is `[ ]`).
    */
  private def defaultValue(v: Any): Any = v match {
    case xs: Vector[_] => xs.map(_.toString).toArray
    case other         => other
  }
}
