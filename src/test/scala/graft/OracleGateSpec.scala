package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.sys.process._

/** The correctness gate the v8 incident showed was missing (ADVICE r3 #2):
  * PlanAuditSpec proves every query HAS an oracle, but nothing proved the
  * oracle SQL EXECUTES — a binder error in the SQL only surfaced when the
  * driver ran DuckDB, one full round later, and the query landed
  * oracle-unverified.
  *
  * Two ratchets:
  *  1. every `SparkEntry.oracleSql` entry is executed against DuckDB over
  *     the sf0.001 fixtures at test time (execution only — value parity
  *     is `tools/verify_local.py` / the driver's job);
  *  2. the newest driver-written `CORRECTNESS_r*.json` must contain no
  *     errored or hash-mismatched rows for queries still in the catalog,
  *     minus an explicit, shrinking waiver list for entries fixed since
  *     that round.
  *
  * DuckDB lives in the driver's python environment, not on this JVM's
  * classpath — the test shells out, and cancels (not passes) when the
  * interpreter is unavailable so the gate can't silently rot.
  */
class OracleGateSpec extends AnyFunSuite with TempDirs {

  private val fixtures = "/root/testdata/sf0.001"

  /** Queries whose oracle was REWRITTEN after the latest driver round:
    * their stale CORRECTNESS rows don't describe the current catalog.
    * Every entry must disappear once a newer CORRECTNESS file lands.
    */
  private val waived: Set[String] = Set(
    "v8_ivf_nprobe" // r3 oracle had an ambiguous ORDER BY; fixed in r4
  )

  private def duckdbAvailable: Boolean =
    scala.util.Try(
      Process(Seq("python3", "-c", "import duckdb")).!(ProcessLogger(_ => ())) == 0
    ).getOrElse(false)

  test("every catalog oracle executes against DuckDB (sf0.001)") {
    assume(duckdbAvailable, "python3+duckdb unavailable — gate cannot run here")
    assume(Files.isDirectory(Paths.get(fixtures)), s"fixtures missing: $fixtures")
    val dir = tempDir("oracle_gate")
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      Files.writeString(dir.resolve(s"$name.sql"), sql)
    }
    val script =
      s"""import duckdb, glob, os, sys
         |con = duckdb.connect()
         |for t in ["region","nation","customer","supplier","part","orders",
         |          "lineitem","events","documents","embeddings"]:
         |    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '$fixtures/{t}.parquet'")
         |files = sorted(glob.glob("${dir.toString}/*.sql"))
         |bad = 0
         |for f in files:
         |    name = os.path.basename(f)[:-4]
         |    try:
         |        con.sql(open(f).read()).fetchall()
         |    except Exception as e:
         |        bad += 1
         |        print(f"ORACLE-FAIL {name}: {type(e).__name__}: {e}")
         |print(f"ORACLE-OK {len(files) - bad}")
         |sys.exit(1 if bad else 0)
         |""".stripMargin
    val py = dir.resolve("gate.py")
    Files.writeString(py, script)
    val out = new StringBuilder
    val code = Process(Seq("python3", py.toString))
      .!(ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    assert(code == 0, s"oracle SQL failed to execute:\n$out")
  }

  test("latest driver CORRECTNESS report has no failing catalog queries") {
    val latest = Files.list(Paths.get(".")).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("CORRECTNESS_r") && n.endsWith(".json"))
      .toSeq.sorted.lastOption
    assume(latest.isDefined, "no CORRECTNESS_r*.json present")
    val text = Files.readString(Path.of(latest.get))
    // flat {"name": {flat fields...}} structure — regex-parse per block
    val block = """"(\w+)":\s*\{([^}]*)\}""".r
    val inCatalog = SparkEntry.queries.keySet
    val failures = block.findAllMatchIn(text).flatMap { m =>
      val (name, body) = (m.group(1), m.group(2))
      if (!inCatalog(name) || waived(name)) None
      else {
        val err = """"err":\s*(null)""".r.findFirstIn(body).isEmpty
        val hashFalse = """"hash_match":\s*false""".r.findFirstIn(body).isDefined
        val rowsFalse = """"rows_match":\s*false""".r.findFirstIn(body).isDefined
        if (err) Some(s"$name: oracle errored in ${latest.get}")
        else if (hashFalse || rowsFalse) Some(s"$name: mismatch in ${latest.get}")
        else None
      }
    }.toSeq
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
