package graft

import java.nio.file.{Files, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** Scratch directories that live as long as their suite. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  // deleteOnExit only removes EMPTY dirs, and these fill with tables, WAL
  // chunks and checkpoints — delete recursively after the suite
  private val tempDirs = scala.collection.mutable.ListBuffer.empty[Path]

  /** A fresh directory under the system temp dir, deleted with its
    * contents once the suite has run.
    */
  protected def tempDir(prefix: String): Path = tempDirs.synchronized {
    val p = Files.createTempDirectory(prefix)
    tempDirs += p
    p
  }

  override def afterAll(): Unit = {
    import scala.jdk.CollectionConverters._
    try tempDirs.synchronized {
      tempDirs.foreach { root =>
        if (Files.exists(root)) {
          val walk = Files.walk(root)
          try walk.iterator().asScala.toSeq.reverseIterator.foreach(Files.deleteIfExists)
          finally walk.close()
        }
      }
      tempDirs.clear()
    } finally super.afterAll()
  }
}

/** Shared local session for specs (one per suite, lazy): Bench's and
  * Verify's session at 4 cores, so specs test the engine they run. */
trait SparkSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  /** Run `f` and return, with its result, one entry per Spark job started
    * meanwhile: the job's (`spark.jobGroup.id`, `streaming.sql.batchId`)
    * local properties, null where unset. Read after the listener bus has
    * drained, so no job is missed.
    */
  protected def jobsDuring[A](f: => A): (A, Seq[(String, String)]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new java.util.Properties)
        jobs.add((p.getProperty("spark.jobGroup.id"), p.getProperty("streaming.sql.batchId")))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (out, jobs.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
