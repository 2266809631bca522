package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The one measurement tool for catalog queries, on the session Bench
  * runs (`GraftSession.builder(SPARK_GRAFT_CPUS)`), so what it measures
  * is the engine Bench and Verify see. Test scope; never part of the
  * driver contract.
  *
  * `sbt "Test/runMain graft.Probe <mode> ..."`, where `<names>` is a
  * comma list of catalog queries (or `all`) and `[dir]` a fixture dir
  * (default `/root/testdata/sf0.1`; `sf1` is [[ScalingCorpus]]'s
  * 50,000-doc corpus, documents-backed queries only):
  *  - `time <names> [dir]`: Bench's method (noop sink, warmup at
  *    sf0.001, min over 2 passes): one line per pass, then one JSON line
  *    with each query's minimum;
  *  - `ab <conf>=<a>|<b> <names> [dir]`: the two values of a session
  *    conf interleaved over 3 rounds in one JVM, so a co-tenant stall
  *    cannot bias one arm; per-arm minima;
  *  - `profile <names> [dir]`: per query and pass, the wall time, the
  *    codegen compiles, and every job (construction-time ones included)
  *    and stage it ran;
  *  - `plan <names> [dir] [outDir]`: the formatted physical plan, to
  *    stdout or to `<outDir>/<name>.txt`;
  *  - `show <names> [dir]`: the first 20 rows and the row count;
  *  - `fingerprint [dirs]`: each fixture dir's
  *    [[graft.operators.PersistedIndex.sourceFingerprint]], the stamp
  *    correctness claims carry.
  */
object Probe {

  private val WarmDir = "/root/testdata/sf0.001"
  private val Passes = 2
  private val AbRounds = 3

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args.toSeq) finally spark.stop()
  }

  def run(spark: SparkSession, args: Seq[String]): Unit = args match {
    case Seq("time", names, rest @ _*) =>
      time(spark, queryNames(names), fixture(spark, rest))
    case Seq("ab", arms, names, rest @ _*) =>
      ab(spark, arms, queryNames(names), fixture(spark, rest))
    case Seq("profile", names, rest @ _*) =>
      profile(spark, queryNames(names), fixture(spark, rest))
    case Seq("plan", names, rest @ _*) =>
      plan(spark, queryNames(names), fixture(spark, rest.take(1)), rest.lift(1))
    case Seq("show", names, rest @ _*) =>
      show(spark, queryNames(names), fixture(spark, rest))
    case Seq("fingerprint", dirs @ _*) =>
      val ds = if (dirs.nonEmpty) dirs
        else Seq("sf0.001", "sf0.01", "sf0.1").map(s => s"/root/testdata/$s")
      ds.foreach { d =>
        println(s"FIXTURE $d ${graft.operators.PersistedIndex.sourceFingerprint(spark, Seq(d))}")
      }
    case _ => throw new IllegalArgumentException(
      s"usage: Probe time|ab|profile|plan|show|fingerprint ...; got ${args.mkString(" ")}")
  }

  private def queryNames(arg: String): Seq[String] =
    if (arg == "all") SparkEntry.queries.keys.toSeq.sorted
    else arg.split(",").toSeq

  private def fixture(spark: SparkSession, rest: Seq[String]): String =
    rest.headOption match {
      case Some("sf1") => ScalingCorpus.ensure(spark, 50000L)
      case Some(dir) => dir
      case None => "/root/testdata/sf0.1"
    }

  private def query(spark: SparkSession, name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** Seconds to construct `name` over `dir` and drain it into the noop
    * sink, or None (reported on stderr) if it failed: a failed run never
    * enters a minimum as a fast one. */
  private def noop(spark: SparkSession, name: String, dir: String): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      query(spark, name, dir).write.format("noop").mode("overwrite").save()
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case e: Exception =>
      System.err.println(s"[probe] $name over $dir failed: $e")
      None
    }
  }

  /** Bench's warmup: each query once at the smallest fixture, so codegen
    * and JIT are paid before anything is timed. */
  private def warm(spark: SparkSession, names: Seq[String]): Unit =
    names.foreach(noop(spark, _, WarmDir))

  private def f3(t: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))

  private def json(times: Iterable[(String, Double)]): String =
    times.map { case (n, t) => s""""$n":${f3(t)}""" }.mkString("{", ",", "}")

  private def time(spark: SparkSession, names: Seq[String], dir: String): Unit = {
    warm(spark, names)
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (pass <- 1 to Passes) {
      val times = names.flatMap(n => noop(spark, n, dir).map(n -> _))
      times.foreach { case (n, t) => best(n) = math.min(best.getOrElse(n, t), t) }
      println(s"TIME pass$pass " + times.map { case (n, t) => s"$n=${f3(t)}" }.mkString(" "))
    }
    println(s"""{"master":"${spark.sparkContext.master}","dir":"$dir","queries":${json(best)}}""")
  }

  private def ab(spark: SparkSession, arms: String, names: Seq[String], dir: String): Unit = {
    val (conf, values) = arms.split("=", 2) match {
      case Array(k, vs) => (k, vs.split("\\|", -1).toSeq)
      case _ => (arms, Nil)
    }
    require(values.length == 2, s"ab wants <conf>=<a>|<b>, got $arms")
    warm(spark, names)
    val before = spark.conf.getOption(conf)
    val best = scala.collection.mutable.Map.empty[(String, String), Double]
    try for (round <- 1 to AbRounds; v <- values; n <- names) {
      spark.conf.set(conf, v)
      noop(spark, n, dir).foreach { t =>
        best((v, n)) = math.min(best.getOrElse((v, n), t), t)
        println(s"AB round$round $conf=$v $n ${f3(t)}")
      }
    } finally before.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
    for (v <- values)
      println(s"ABMIN $conf=$v " +
        json(names.flatMap(n => best.get((v, n)).map(n -> _))))
  }

  /** Every job and stage is logged by one listener as it ends; the log is
    * printed after each run once the listener bus has drained, so no
    * event of that run is missed and none of the next one leaks in. */
  private def profile(spark: SparkSession, names: Seq[String], dir: String): Unit = {
    warm(spark, names)
    val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()
    val log = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.lastOption.map(_.name))
          .getOrElse("?")
        jobStarts.put(js.jobId, (js.time, desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(jobStarts.remove(je.jobId)).foreach { case (t0, desc) =>
          log.add(f"  JOB ${je.jobId}%5d ${(je.time - t0) / 1e3}%7.2f s  $desc")
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s)
          .getOrElse(0L)
        log.add(f"  STAGE ${si.stageId}%5d ${wall / 1e3}%7.2f s tasks=${si.numTasks}%4d " +
          f"run=${m.executorRunTime / 1e3}%6.2f cpu=${m.executorCpuTime / 1e9}%6.2f " +
          f"shr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%7.1fMB " +
          f"shw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%7.1fMB " +
          f"spill=${(m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6}%7.1fMB ${si.name.take(60)}")
      }
    }
    org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext) // no warmup events
    spark.sparkContext.addSparkListener(listener)
    try for (pass <- 1 to Passes; n <- names) {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t = noop(spark, n, dir)
      org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      println(s"PROFILE $n pass$pass ${t.fold("failed")(f3(_) + " s")} compiles=$compiles")
      while (!log.isEmpty) println(log.poll())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def plan(spark: SparkSession, names: Seq[String], dir: String,
      outDir: Option[String]): Unit = {
    outDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    names.foreach { n =>
      try {
        val text = query(spark, n, dir).queryExecution.explainString(FormattedMode)
        outDir match {
          case Some(d) =>
            val p = java.nio.file.Paths.get(d, s"$n.txt")
            java.nio.file.Files.write(p, text.getBytes("UTF-8"))
            println(s"PLAN $n -> $p")
          case None =>
            println(s"PLAN $n\n$text")
        }
      } catch { case e: Exception => System.err.println(s"[probe] plan $n failed: $e") }
    }
  }

  private def show(spark: SparkSession, names: Seq[String], dir: String): Unit =
    names.foreach { n =>
      val t0 = System.nanoTime()
      val df = query(spark, n, dir)
      df.show(20, truncate = false)
      println(s"ROWS $n ${df.count()} in ${f3((System.nanoTime() - t0) / 1e9)} s")
    }
}
