package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The engine's `graft.*` session keys: the set main code reads is pinned
  * (a new key is a new engine switch, and each one is a parse path to get
  * right), and a malformed value fails naming the key.
  */
class ConfKeysSpec extends SparkSpec {

  /** Every `graft.*` key main code reads through a `conf.get*` call,
    * with the key as a string literal or a `val` holding one in the same
    * file. A read whose key is neither fails the scan. */
  private def graftKeysRead(): Set[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val read = """conf\.get\w*\(\s*([^,)\s]+)""".r
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { (p: Path) =>
        val text = Files.readString(p)
        read.findAllMatchIn(text).map(_.group(1)).map { arg =>
          if (arg.startsWith("\"")) arg.stripPrefix("\"").stripSuffix("\"")
          else s"""val\\s+${java.util.regex.Pattern.quote(arg)}\\s*(?::\\s*String)?\\s*=\\s*"([^"]+)"""".r
            .findFirstMatchIn(text).map(_.group(1))
            .getOrElse(fail(s"$p: conf key `$arg` is not a string literal or a val holding one"))
        }
      }
      .filter(_.startsWith("graft."))
      .toSet
  }

  test("main code reads exactly the three kept graft.* session keys") {
    assert(graftKeysRead() === Set(
      "graft.neardup.persistPairs",
      "graft.substring.persistIndex",
      "graft.reuse.maxSourceBytes"))
  }

  test("a malformed graft.reuse.maxSourceBytes fails naming the key") {
    val df = spark.range(1).toDF()
    for (bad <- Seq("abc", "-1")) {
      spark.conf.set("graft.reuse.maxSourceBytes", bad)
      try {
        val e = intercept[IllegalArgumentException] {
          graft.operators.Spread.reuse(spark, df, "/nonexistent")
        }
        assert(e.getMessage.contains("graft.reuse.maxSourceBytes"), e.getMessage)
      } finally spark.conf.unset("graft.reuse.maxSourceBytes")
    }
  }
}
