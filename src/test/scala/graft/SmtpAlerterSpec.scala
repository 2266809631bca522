package graft

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets

import graft.streaming.{QueryMonitor, SmtpAlerter}

/** The E3 alerting edge against a REAL SMTP conversation: an in-process
  * RFC 5321 server (the Derby move applied to mail — no external
  * dependency, a real protocol exchange) records exactly what a mail
  * host would receive. What must hold: envelope sender/recipients are
  * the configured ones, the subject carries the query name, the body
  * carries the error, dot-stuffing protects a body line that is a lone
  * '.', a dead mail host degrades to `false` instead of an exception
  * (alerting must never take down replication), and the whole chain
  * fires from a REAL failing streaming query through QueryMonitor's
  * onQueryTerminated — not just from a direct call.
  */
class SmtpAlerterSpec extends SparkSpec {

  /** One-connection SMTP server; returns (port, transcript-future). */
  private def miniSmtpServer(): (Int, ServerSocket, () => Seq[String]) = {
    val server = new ServerSocket(0)
    @volatile var transcript = Vector.empty[String]
    val t = new Thread(() => {
      val s = server.accept()
      val in = new BufferedReader(new InputStreamReader(
        s.getInputStream, StandardCharsets.US_ASCII))
      val out = new BufferedWriter(new OutputStreamWriter(
        s.getOutputStream, StandardCharsets.US_ASCII))
      def reply(l: String): Unit = { out.write(l); out.write("\r\n"); out.flush() }
      reply("220 mini ESMTP")
      var inData = false
      var line = in.readLine()
      while (line != null) {
        transcript :+= line
        if (inData) {
          if (line == ".") { inData = false; reply("250 OK") }
        } else line.takeWhile(_ != ' ').takeWhile(_ != ':') match {
          case "EHLO" => reply("250-mini"); reply("250 SIZE 1000000")
          case "MAIL" | "RCPT" => reply("250 OK")
          case "DATA" => inData = true; reply("354 go")
          case "QUIT" => reply("221 bye"); s.close(); line = null
          case _ => reply("500 what")
        }
        if (line != null) line = in.readLine()
      }
    })
    t.setDaemon(true)
    t.start()
    (server.getLocalPort, server, () => { t.join(5000); transcript.toSeq })
  }

  test("a failure mail round-trips the mini SMTP server with exact envelope and body") {
    val (port, server, transcript) = miniSmtpServer()
    try {
      val alerter = new SmtpAlerter("127.0.0.1", port, "graft@local",
        Seq("oncall@local", "owner@local"))
      alerter.sendFailure("replication_events",
        "java.lang.IllegalStateException: sink gone\n.\ntrailing context")
      val lines = transcript()
      assert(lines.contains("MAIL FROM:<graft@local>"))
      assert(lines.contains("RCPT TO:<oncall@local>"))
      assert(lines.contains("RCPT TO:<owner@local>"))
      assert(lines.exists(_ ==
        "Subject: [graft] replication query failed: replication_events"))
      assert(lines.exists(_.contains("IllegalStateException: sink gone")))
      // dot-stuffing: the body's lone '.' line arrives as '..' so only
      // the terminator ends DATA — exactly one bare '.' in the transcript
      assert(lines.contains(".."), "body '.' line was not dot-stuffed")
      assert(lines.count(_ == ".") === 1, "DATA terminated early")
      assert(lines.last === "QUIT")
    } finally server.close()
  }

  test("CR/LF in query name or addresses cannot inject SMTP commands or headers") {
    val (port, server, transcript) = miniSmtpServer()
    try {
      val alerter = new SmtpAlerter("127.0.0.1", port,
        "graft@local\r\nMAIL FROM:<evil@local>", Seq("oncall@local"))
      alerter.sendFailure("q\r\nX-Injected: header", "boom")
      val lines = transcript()
      // the envelope saw exactly one MAIL FROM, with the newline flattened
      assert(lines.count(_.startsWith("MAIL FROM:")) === 1)
      assert(lines.contains("MAIL FROM:<graft@local MAIL FROM:<evil@local>>"))
      // the subject is one header line; no free-standing injected header
      assert(lines.exists(_ ==
        "Subject: [graft] replication query failed: q X-Injected: header"))
      assert(!lines.contains("X-Injected: header"))
    } finally server.close()
  }

  test("a dead mail host degrades quietly — alerting never cascades") {
    val dead = new ServerSocket(0)
    val port = dead.getLocalPort
    dead.close() // nothing listens here anymore
    val alerter = new SmtpAlerter("127.0.0.1", port, "graft@local",
      Seq("oncall@local"), timeoutMs = 500)
    assert(!alerter.sendQuietly("q", "boom"))
  }

  test("a real failing streaming query mails through QueryMonitor -> SmtpAlerter") {
    import java.nio.file.Files
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val (port, server, transcript) = miniSmtpServer()
    val mailed = new java.util.concurrent.CountDownLatch(1)
    val alerter = new SmtpAlerter("127.0.0.1", port, "graft@local",
      Seq("oncall@local"))
    val monitor = new QueryMonitor(onFailure = (id, err) => {
      alerter.sendQuietly(id, err); mailed.countDown()
    })
    spark.streams.addListener(monitor)
    try {
      val dir = tempDir("smtp-src")
      Files.write(dir.resolve("one.json"), """{"x": 1}""".getBytes)
      val q = spark.readStream.schema("x LONG").json(dir.toString)
        .writeStream
        .queryName("replication_smtp_probe")
        .option("checkpointLocation",
          tempDir("smtp-ck").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (_: DataFrame, _: Long) =>
          throw new RuntimeException("induced sink failure")
        }
        .start()
      intercept[Exception](q.awaitTermination())
      // listener events are delivered asynchronously
      assert(mailed.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "onQueryTerminated never fired the mail hook")
      val lines = transcript()
      assert(lines.exists(_.contains("induced sink failure")),
        s"mail body missing the failure:\n${lines.mkString("\n")}")
      // the subject names the query, not its UUID
      assert(lines.contains(
        "Subject: [graft] replication query failed: replication_smtp_probe"),
        s"subject does not name the query:\n${lines.mkString("\n")}")
    } finally {
      spark.streams.removeListener(monitor)
      server.close()
    }
  }
}
