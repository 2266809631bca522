package graft

import graft.streaming.TaskControl
import org.apache.spark.sql.streaming.Trigger

/** The reference's task RPC surface (task.py:77-107) over real streaming
  * queries: verbs drive query lifecycle, replies land on the exact
  * `{name}:task:<verb>` topics with the reference's status names.
  */
class TaskControlSpec extends SparkSpec {

  private def harness() = {
    val replies = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val ckptRoot = tempDir("tc")
    var n = 0
    val starter = () => {
      n += 1
      spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .writeStream.format("noop")
        .option("checkpointLocation", s"$ckptRoot/c$n")
        .trigger(Trigger.ProcessingTime("1 second"))
        .start()
    }
    val tc = new TaskControl(Map("orders" -> starter),
      (topic, msg) => replies += (topic -> msg))
    (tc, replies)
  }

  test("PING replies OK; INFO reports NOT_STARTED before any start") {
    val (tc, replies) = harness()
    tc.onMessage("orders", "PING")
    tc.onMessage("orders", "INFO")
    assert(replies.head === ("orders:task:ping" -> "OK"))
    assert(replies(1)._1 === "orders:task:info")
    assert(replies(1)._2.contains(""""status": "NOT_STARTED""""))
  }

  test("ACTIVE starts, INACTIVE stops, RESTARTING cycles, COMPLETE finishes") {
    val (tc, replies) = harness()
    try {
      tc.onMessage("orders", "ACTIVE")
      assert(replies.last === ("orders:task:start" -> "ACTIVE"))
      assert(tc.status("orders") === "ACTIVE")

      tc.onMessage("orders", "INACTIVE")
      assert(replies.last === ("orders:task:stop" -> "INACTIVE"))

      tc.onMessage("orders", "RESTARTING")
      assert(replies.last === ("orders:task:restart" -> "ACTIVE"))

      tc.onMessage("orders", "COMPLETE")
      assert(replies.last === ("orders:task:finish" -> "COMPLETE"))
      assert(tc.status("orders") === "COMPLETE")
    } finally spark.streams.active.foreach(_.stop())
  }

  test("an acknowledged final status outranks a stale failure") {
    val ckpt = tempDir("tcfail")
    val starter = () =>
      spark.readStream.format("rate").option("rowsPerSecond", "100").load()
        .writeStream
        .option("checkpointLocation", s"$ckpt/c")
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new RuntimeException("boom")
        }
        .trigger(Trigger.ProcessingTime("0 seconds"))
        .start()
    val tc = new TaskControl(Map("orders" -> starter), (_, _) => ())
    tc.onMessage("orders", "ACTIVE")
    val deadline = System.currentTimeMillis() + 30000
    while (tc.status("orders") == "ACTIVE" && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(tc.status("orders") === "ERROR")
    // a ROUTINE stop acknowledged against the already-dead query must NOT
    // absorb the crash: a scheduled INACTIVE landing after a failure would
    // make the crash indistinguishable from a clean stop in monitoring
    // (ADVICE r13) — ERROR stays visible until a deliberate COMPLETE
    tc.onMessage("orders", "INACTIVE")
    assert(tc.status("orders") === "ERROR",
      "a routine INACTIVE on a crashed query must keep ERROR visible")
    // the operator acknowledges and finishes the task; previously the
    // stale exception shadowed the accepted final status forever
    tc.onMessage("orders", "COMPLETE")
    assert(tc.status("orders") === "COMPLETE",
      "the acknowledged COMPLETE must outrank the stale exception")
  }

  test("unknown task and unknown verb fail loudly") {
    val (tc, _) = harness()
    intercept[IllegalArgumentException] { tc.onMessage("nope", "ACTIVE") }
    intercept[IllegalArgumentException] { tc.onMessage("orders", "FROB") }
  }

  test("concurrent ACTIVE commands start exactly one query") {
    // check-then-act regression: two transport threads racing ACTIVE must
    // not both observe "not active" and invoke the starter twice — the
    // loser's query would run unreferenced and double-process forever
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val ckptRoot = tempDir("tc_race")
    val gate = new java.util.concurrent.CountDownLatch(1)
    val starter = () => {
      started.incrementAndGet()
      spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .writeStream.format("noop")
        .option("checkpointLocation", s"$ckptRoot/c${started.get()}")
        .trigger(Trigger.ProcessingTime("1 second"))
        .start()
    }
    val tc = new TaskControl(Map("orders" -> starter), (_, _) => ())
    try {
      val threads = (1 to 4).map(_ => new Thread(() => {
        gate.await()
        tc.onMessage("orders", "ACTIVE")
      }))
      threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
      assert(started.get() === 1,
        s"racing ACTIVEs started ${started.get()} queries")
    } finally spark.streams.active.foreach(_.stop())
  }

  test("INFO's failure-message escape yields valid JSON for multi-line errors") {
    // StreamingQueryException messages are multi-line by construction
    // (they embed the '=== Streaming Query ===' block) — the reply must
    // escape them, not just swap quote characters
    val tc = new TaskControl(Map.empty, (_, _) => ())
    val escaped = tc.jsonEscape(
      "line one\n=== Streaming Query ===\r\"quoted\"\tand\u0001ctl\\path")
    assert(!escaped.exists(_ < ' '), s"raw control chars survive: $escaped")
    assert(escaped ===
      """line one\n=== Streaming Query ===\r\"quoted\"\tand""" +
        "\\u0001" + """ctl\\path""")
  }
}
