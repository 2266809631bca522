package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import graft.streaming.Supervisor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Restart policy (reference replication/consumer/task.py:123-152 +
  * settings.yaml consumer block): <= maxRestarts rapid failures within the
  * min-uptime window, restartDelay between attempts, reset after a long
  * uptime.
  */
class SupervisorSpec extends SparkSpec {

  /** A query that fails its first micro-batch. */
  private def failingQuery(): StreamingQuery = {
    val dir = tempDir("sup-src")
    Files.write(dir.resolve("one.json"), """{"x": 1}""".getBytes)
    spark.readStream
      .schema("x LONG")
      .json(dir.toString)
      .writeStream
      .option("checkpointLocation", tempDir("sup-ck").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (_: DataFrame, _: Long) =>
        throw new RuntimeException("induced failure")
      }
      .start()
  }

  /** A query that drains cleanly. */
  private def cleanQuery(): StreamingQuery = {
    val dir = tempDir("sup-src")
    Files.write(dir.resolve("one.json"), """{"x": 1}""".getBytes)
    spark.readStream
      .schema("x LONG")
      .json(dir.toString)
      .writeStream
      .format("noop")
      .option("checkpointLocation", tempDir("sup-ck").toString)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  test("rapid failures restart at most maxRestarts-1 times, then give up") {
    val starts = new AtomicInteger(0)
    val sleeps = Vector.newBuilder[Long]
    var t = 0L
    val sup = new Supervisor(
      start = () => { starts.incrementAndGet(); failingQuery() },
      maxRestarts = 3, minUptimeMillis = 60000L, restartDelayMillis = 30000L,
      now = () => { t += 1000L; t }, // every failure 1s after the previous
      sleep = d => sleeps += d)

    assert(!sup.runBlocking()) // budget exhausted
    assert(starts.get() === 3) // initial start + 2 restarts
    assert(sup.totalFailures === 3 && sup.rapidFailures === 3)
    assert(sleeps.result() === Vector(30000L, 30000L))
    assert(sup.lastError.exists(_.contains("induced failure")))
  }

  test("a long uptime resets the rapid-failure window") {
    val starts = new AtomicInteger(0)
    var t = 0L
    val sup = new Supervisor(
      start = () => {
        if (starts.incrementAndGet() <= 4) failingQuery() else cleanQuery()
      },
      maxRestarts = 3, minUptimeMillis = 60000L, restartDelayMillis = 0L,
      now = () => { t += 120000L; t }, // each failure 2min apart: fresh window
      sleep = _ => ())

    assert(sup.runBlocking()) // never trips the budget, finally completes
    assert(starts.get() === 5)
    assert(sup.totalFailures === 4 && sup.rapidFailures === 1)
  }

  test("a clean run needs no restarts") {
    val sup = new Supervisor(start = () => cleanQuery(), restartDelayMillis = 0L)
    assert(sup.runBlocking())
    assert(sup.totalFailures === 0 && sup.lastError.isEmpty)
  }
}
