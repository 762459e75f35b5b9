package graft
/** Dev tool: for each named query, run it at sf0.001 under the plan-gate
  * session and print its exchange count and its whole AQE-final executed
  * plan (what PlanAudit.shapeOf counts), so stage reuse is visible.
  *
  * Usage: sbt "runMain graft.Explain <query> [<query> …]" */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.gate()
    val dir = "/root/testdata/sf0.001"
    for (name <- args) {
      println(s"########## $name")
      val df = SparkEntry.queries(name)(spark, dir)
      df.queryExecution.executedPlan.execute().foreach(_ => ())
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p => p.toString
      }
      println("exchanges: " + "Exchange".r.findAllIn(plan).length)
      println(plan)
    }
    spark.stop()
  }
}
