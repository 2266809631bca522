package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Shuffle accounting for the plan goldens: `count` walks a physical
  * plan (descending through AQE wrappers and subqueries) counting
  * ShuffleExchange nodes; the `main` prints the count for every catalog
  * query so PlanAuditSpec's golden map can be regenerated after an
  * intentional plan change:
  * `sbt "Test/runMain graft.ShuffleGolden"`. */
object ShuffleGolden {
  def count(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    var n = 0
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeExec => n += 1
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    n
  }

  def main(args: Array[String]): Unit = {
    // SparkSpec's session: the goldens are the counts PlanAuditSpec sees
    val spark = GraftSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        println(s"GOLDEN $name ${count(df.queryExecution.executedPlan)}")
      } catch { case e: Throwable => println(s"GOLDEN $name ERR ${e.getMessage}") }
    }
    spark.stop()
  }
}
