package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One session definition and one measurement tool: every session the
  * code builds is [[GraftSession]]'s, and each [[Probe]] mode runs.
  */
class ProbeSpec extends SparkSpec {

  test("every Spark session in main and test code comes from GraftSession.builder") {
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { d =>
      val root = Paths.get(d)
      assert(Files.isDirectory(root), s"run from the repository root: $root")
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val hits = sources
      .filter(_.getFileName.toString != "GraftSession.scala")
      .filter(p => builder.findFirstIn(Files.readString(p)).nonEmpty)
    assert(hits.isEmpty, s"sessions built outside GraftSession.builder: ${hits.mkString(", ")}")
  }

  test("every Probe mode runs over q1 and prints its line") {
    val q = "q1_pricing_summary"
    val dir = "/root/testdata/sf0.001"
    def out(args: String*): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(buf)(Probe.run(spark, args))
      buf.toString("UTF-8")
    }

    val timed = out("time", q, dir)
    assert(timed.contains(s"TIME pass2 $q="), timed)
    assert(timed.contains(s""""queries":{"$q":"""), timed)

    val conf = "spark.sql.adaptive.coalescePartitions.enabled"
    val confBefore = spark.conf.getOption(conf)
    val ab = out("ab", s"$conf=true|false", q, dir)
    assert(ab.contains(s"AB round3 $conf=false $q "), ab)
    assert(ab.contains(s"""ABMIN $conf=true {"$q":"""), ab)
    assert(ab.contains(s"""ABMIN $conf=false {"$q":"""), ab)
    assert(spark.conf.getOption(conf) === confBefore, "ab must restore the conf it varies")

    val profiled = out("profile", q, dir)
    assert(profiled.contains(s"PROFILE $q pass2 "), profiled)
    assert(profiled.contains("  JOB ") && profiled.contains("  STAGE "), profiled)

    val planDir = tempDir("probe_plans")
    val planned = out("plan", q, dir, planDir.toString)
    assert(planned.contains(s"PLAN $q -> "), planned)
    assert(Files.readString(planDir.resolve(s"$q.txt")).contains("== Physical Plan =="))

    val shown = out("show", q, dir)
    assert(shown.contains(s"ROWS $q "), shown)

    val fingerprint = out("fingerprint", dir)
    assert(fingerprint.startsWith(s"FIXTURE $dir "), fingerprint)
  }
}
