package graft

import graft.config.{ColumnSpec, ConfigYaml, TableConfig}
import graft.operators.SchemaTransform

/** YAML table-config loading: the reference's tables/test.yaml shape must
  * produce the same TableConfig (and the same transform behavior) as the
  * hand-built Scala equivalent.
  */
class ConfigYamlSpec extends SparkSpec {

  // structurally equivalent to the reference's tables/test.yaml
  // (readme.md:115-142): DDL literal block, buffer block (ignored),
  // properties with ref/required/default/custom transform, primary_key
  private val yaml =
    """---
      |table: |
      |  CREATE TABLE Test
      |  (
      |      `Id`   Int64,
      |      `Name` String
      |  ) ENGINE = ReplacingMergeTree(_ver)
      |        PRIMARY KEY (Id, Name)
      |
      |table_name: Test
      |
      |buffer:
      |  num_layers: 1
      |  min_time: 15
      |  max_rows: 2000
      |
      |schema:
      |  properties:
      |    Id:
      |      type: int
      |      ref: _key # arango column name
      |      ch_type: Int64
      |    Name:
      |      type: str
      |      ref: name
      |      required: true
      |    Answers:
      |      type: to_array # custom transform function
      |      default: [ ]
      |    SubmittedOn:
      |      type: from_datetime
      |      ref: submitted_on
      |    Score:
      |      type: [ int, str ]
      |      default: '0'
      |    _rev:
      |      type: str
      |      default: ''
      |    _ver:
      |      type: int
      |      default: 1
      |    _deleted:
      |      type: int
      |      default: 0
      |  primary_key: Id
      |""".stripMargin

  test("parses the reference YAML shape into a TableConfig") {
    val cfg = ConfigYaml.tableConfig(yaml)
    assert(cfg.name === "Test")
    // _ver/_deleted are engine-synthesized, not transform columns
    assert(cfg.columns.map(_.name) ===
      Seq("Id", "Name", "Answers", "SubmittedOn", "Score", "_rev"))

    val id = cfg.columns.head
    assert(id === ColumnSpec("Id", Seq("int"), ref = Some("_key"),
      primaryKey = true, chType = Some("Int64")))
    assert(cfg.primaryKeys === Seq("Id"))
    assert(cfg.primaryKeyChType === Some("Int64"))

    val name = cfg.columns(1)
    assert(name.required && name.ref === Some("name"))

    val answers = cfg.columns(2)
    assert(answers.types === Seq("to_array"))
    assert(answers.default.get.asInstanceOf[Array[String]].toSeq === Nil)

    assert(cfg.columns(3).types === Seq("from_datetime"))
    // inline list = ordered multi-type fallback chain
    assert(cfg.columns(4).types === Seq("int", "str"))
    assert(cfg.columns(4).default === Some("0"))
    assert(cfg.columns(5).default === Some(""))
  }

  test("yaml-loaded config transforms identically to the code-built config") {
    import spark.implicits._
    val docs = Seq(
      ("10", Some("alice"), Some("a,b"), Some("2024-01-02 03:04:05"), Some("7")),
      ("11", None, None, None, None)) // missing required name -> reject
      .toDF("_key", "name", "answers_csv", "submitted_on", "score")
      .withColumnRenamed("answers_csv", "Answers")
      .withColumnRenamed("score", "Score")

    val fromYaml = ConfigYaml.tableConfig(yaml)
    val handBuilt = TableConfig("Test", Seq(
      ColumnSpec("Id", Seq("int"), ref = Some("_key"), primaryKey = true, chType = Some("Int64")),
      ColumnSpec("Name", Seq("str"), ref = Some("name"), required = true),
      ColumnSpec("Answers", Seq("to_array"), default = Some(Array.empty[String])),
      ColumnSpec("SubmittedOn", Seq("from_datetime"), ref = Some("submitted_on")),
      ColumnSpec("Score", Seq("int", "str"), default = Some("0")),
      ColumnSpec("_rev", Seq("str"), default = Some(""))))
    assert(fromYaml.columns.map(_.name) === handBuilt.columns.map(_.name))

    val a = SchemaTransform(docs, fromYaml)
    val b = SchemaTransform(docs, handBuilt)
    assert(a.valid.collect().toSeq === b.valid.collect().toSeq)
    assert(a.valid.count() === 1 && a.errors.count() === 1)
    val row = a.valid.head
    assert(row.getLong(row.fieldIndex("Id")) === 10L)
    assert(row.getSeq[String](row.fieldIndex("Answers")) === Seq("a", "b"))
  }

  test("parser handles literal blocks, comments, and inline lists") {
    val n = ConfigYaml.parse(yaml)
    val ddl = n.get("table").get.asInstanceOf[String]
    assert(ddl.startsWith("CREATE TABLE Test") && ddl.contains("PRIMARY KEY (Id, Name)"))
    val buffer = n.obj("buffer")
    assert(buffer.get("min_time") === Some(15L))
    assert(n.obj("schema").get("primary_key") === Some("Id"))
  }

  test("r8's second config table parses with datetime/custom-array/fallback/default rows") {
    val cfg = ConfigYaml.tableConfig(graft.queries.Replication.r8Yaml)
    assert(cfg.name === "event_profile")
    assert(cfg.columns.map(_.name) === Seq("Id", "At", "Tags", "KV", "Chan"))
    assert(cfg.primaryKeys === Seq("Id"))
    assert(cfg.columns(1).types === Seq("from_datetime"))
    assert(cfg.columns(2).types === Seq("to_array")) // custom transformer
    assert(cfg.columns(3).types === Seq("float", "str")) // ordered fallback
    assert(cfg.columns(4).default === Some("unknown"))
    // fallback chain: numeric strings take the float branch (re-cast to the
    // final str type), non-numeric fall through unchanged
    import org.apache.spark.sql.functions.lit
    val chain = graft.config.CastRegistry.chain(Seq("float", "str")) _
    val row = spark.range(1).select(
      chain(lit("87")).as("num"), chain(lit("view")).as("txt")).head()
    assert(row.getString(0) === "87.0" && row.getString(1) === "view")
  }

  test("a primary_key naming no declared property fails loudly") {
    // a typo'd key would otherwise mark NO column primaryKey — silently
    // disabling key enforcement until table-DDL time, if ever
    val bad = yaml.replace("primary_key: Id", "primary_key: Idd")
    val e = intercept[IllegalArgumentException] {
      ConfigYaml.tableConfig(bad)
    }
    assert(e.getMessage.contains("Idd") && e.getMessage.contains("not"))
    // a NUMERIC scalar key name is a name like any other — validated,
    // not silently dropped to "no keys" (it parses as Long)
    val num = intercept[IllegalArgumentException] {
      ConfigYaml.tableConfig(yaml.replace("primary_key: Id", "primary_key: 123"))
    }
    assert(num.getMessage.contains("123"))
  }

  test("inline lists respect quoted commas and reject unterminated quotes") {
    val n = ConfigYaml.parse("vals: ['a, b', c, \"d,e\"]\n")
    assert(n.get("vals") === Some(Vector("a, b", "c", "d,e")))
    val e = intercept[IllegalArgumentException] {
      ConfigYaml.parse("bad: ['a, b]\n")
    }
    assert(e.getMessage.contains("quoted scalar"))
  }

  test("an apostrophe inside an unquoted scalar does not swallow the comment") {
    // YAML: a single-quoted string only STARTS at a token boundary; the
    // apostrophe in user's_team is literal — treating it as a quote
    // opener made the trailing comment part of the value (silent config
    // corruption)
    val n = ConfigYaml.parse("default: user's_team # owner group\n")
    assert(n.get("default") === Some("user's_team"))
    // genuinely quoted values still protect their hash
    val q = ConfigYaml.parse("v: 'a # not a comment' # real comment\n")
    assert(q.get("v") === Some("a # not a comment"))
  }

  test("quotes opening after '{' and '-' still protect their hash") {
    // ADVICE r9: the token-start set omitted '{', so a flow-mapping
    // value like {'a #b': 1} had its quote read as a literal apostrophe
    // and the ` #b': 1}` tail stripped as a comment — silent corruption.
    // The quoted key keeps its hash and the flow mapping loads as one.
    val m = ConfigYaml.parse("v: {'a #b': 1} # trailing comment\n")
    assert(m.get("v") === Some(ConfigYaml.Node(Vector("a #b" -> 1L))))
    // `-'x` is a plain scalar, not a quote opener, so ` #y', c] ...` is
    // a comment and the flow sequence never closes: rejected, as a YAML
    // loader (PyYAML included) rejects it
    intercept[IllegalArgumentException] {
      ConfigYaml.parse("vals: [-'x #y', c] # comment\n")
    }
    // ...but a '-' MID-SCALAR is not a token start: the apostrophe in
    // `ops-'til` is literal, and the trailing comment must still strip
    // (the review-caught regression of the first '-' rule)
    val s = ConfigYaml.parse("team: ops-'til-close # after hours\n")
    assert(s.get("team") === Some("ops-'til-close"))
    // ADVICE r10: a dash at a plain-scalar token start (space before it)
    // is STILL not a quote opener — only flow-sequence context ('[' or
    // ',' before the dash) counts; the prior rule opened quote state
    // here and swallowed the comment into the value
    val g = ConfigYaml.parse("note: rock -'n roll # genre\n")
    assert(g.get("note") === Some("rock -'n roll"))
    // the spaced form ([ -'x #y']) is the same plain scalar
    intercept[IllegalArgumentException] {
      ConfigYaml.parse("vals: [ -'x #y', c] # comment\n")
    }
  }

  test("a block-style type list is the same fallback chain as a flow list") {
    val block = yaml.replace("      type: [ int, str ]\n", "      type:\n        - int\n        - str\n")
    assert(block !== yaml)
    assert(ConfigYaml.tableConfig(block).columns(4) === ConfigYaml.tableConfig(yaml).columns(4))
  }

  test("a key declared twice is rejected, naming the key") {
    // a duplicated property would otherwise become two columns named the
    // same, and a duplicated top-level key would resolve to one value
    val dupProperty = yaml.replace("    Name:\n", "    Id:\n      type: str\n    Name:\n")
    val e = intercept[IllegalArgumentException] {
      ConfigYaml.tableConfig(dupProperty)
    }
    assert(e.getMessage.contains("duplicate key Id"))
    val dupTop = intercept[IllegalArgumentException] {
      ConfigYaml.tableConfig(yaml + "table_name: Other\n")
    }
    assert(dupTop.getMessage.contains("duplicate key table_name"))
  }
}
