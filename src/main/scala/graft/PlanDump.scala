package graft

import java.nio.file.{Files, Paths}

/** Dev tool (round-18 optimization): capture the `.explain("formatted")`
  * output AND the AQE-final executed plan for named queries, under the
  * exact session configuration [[Bench]] times them with, plus a
  * noop-sink wall measurement (median of reps) for local attribution.
  *
  * Usage: runMain graft.PlanDump <suffix> <query>[,<query>...]
  * Writes <plansDir>/<query>_<suffix>.txt; suffix is "before"/"after".
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (all cores),
  * SPARK_GRAFT_PLANDUMP_REPS (3), SPARK_GRAFT_PLANS_DIR (default
  * plans/r19 — the current round's evidence directory).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <suffix> <q1>[,<q2>...]")
    val suffix = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PLANDUMP_REPS", "3").toInt
    val spark = GraftSession()
    val cpus = spark.sparkContext.defaultParallelism
    import org.apache.spark.sql.functions.expr
    spark.range(100000).selectExpr("id", "id * 2 as x")
      .groupBy(expr("id % 7")).count()
      .write.format("noop").mode("overwrite").save()
    val plansDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r19")
    Files.createDirectories(Paths.get(plansDir))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    for (name <- names) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val df = fn(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // time with a FRESH DataFrame per rep through the noop sink — the
      // bench's exact shape. Re-executing one physical plan instance
      // would silently reuse its shuffle map outputs (stages skip) and
      // report near-zero times.
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        t
      }
      // drive the captured instance once so its AQE-final plan is real
      df.queryExecution.executedPlan.execute().foreach(_ => ())
      val finalPlan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p => p.toString
      }
      val wall = median(times)
      val out =
        s"""# $name @ $sfDir  (local[$cpus], bench session config)
           |# wall (median of $reps, this box, plan-execute path): ${f"$wall%.2f"} s
           |
           |== explain("formatted") ==
           |$formatted
           |== AQE-final executed plan ==
           |$finalPlan
           |""".stripMargin
      Files.writeString(Paths.get(s"$plansDir/${name}_$suffix.txt"), out)
      println(f"[plandump] $name%-28s $wall%6.2f s -> $plansDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
