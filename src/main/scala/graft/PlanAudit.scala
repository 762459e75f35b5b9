package graft

import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Dev tool: walk every registered query, summarize its physical plan
  * (exchange count, broadcasts, parquet pushdown, whole-stage codegen
  * spans) into PLANS.md — the at-a-glance audit of the shuffle/pushdown
  * discipline each query claims in its scaladoc.
  */
object PlanAudit {

  /** Structural summary of an executed (AQE-final) physical plan — the
    * shuffle/broadcast/pushdown facts each query's scaladoc claims.
    * Shared by the PLANS.md generator below and PlanShapeSpec's
    * regression gate (which diffs these against PLAN_EXPECTATIONS.tsv).
    */
  final case class Shape(hashExch: Int, rangeExch: Int, bcasts: Int,
      pushed: Boolean, codegen: Int) {
    def tsv: String = s"$hashExch\t$rangeExch\t$bcasts\t" +
      s"${if (pushed) "yes" else "no"}\t$codegen"
  }

  /** Execute the frame and summarize its AQE-final plan. */
  def shapeOf(df: org.apache.spark.sql.DataFrame): Shape = {
    // drive THIS query execution's physical plan to completion (a
    // .write/.count would build a separate QueryExecution and leave
    // this one un-executed — AQE would report a placeholder plan
    // with no final exchanges/codegen stages to count)
    df.queryExecution.executedPlan.execute().foreach(_ => ())
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString // final plan only (toString repeats initial+final)
      case p => p.toString
    }
    // count DISTINCT plan ids: a cached subtree's plan is printed
    // again under every InMemoryTableScan that reads it, so a raw
    // occurrence count double-books shared (cached) exchanges
    def distinctOps(marker: String): Int = {
      val withId = (java.util.regex.Pattern.quote(marker) +
        "[^\n]*?plan_id=(\\d+)").r
      val ids = withId.findAllMatchIn(plan).map(_.group(1)).toSet
      val bare = marker.r.findAllIn(plan).length
      if (ids.nonEmpty) ids.size else bare
    }
    Shape(
      hashExch = distinctOps("Exchange hashpartitioning"),
      rangeExch = distinctOps("Exchange rangepartitioning"),
      bcasts = distinctOps("BroadcastExchange"),
      pushed = "PushedFilters: \\[[^\\]]".r.findAllIn(plan).nonEmpty,
      // codegen'd stages print with a "*(n)" prefix in the final plan
      codegen = "\\*\\(\\d+\\)".r.findAllIn(plan).map(_.toString).toSet.size)
  }

  /** The shape pass shared by PLANS.md and PlanShapeSpec: every
    * registered query in name order, starting from cold session
    * artifacts ([[SessionArtifacts.invalidateAll]]), with the catalog
    * cache cleared before each query. A checkpoint-backed memo built
    * earlier in the session substitutes a checkpoint scan for a cold
    * run's full subplan, and a prior `.cache()` whose analyzed plan
    * matches a subtree substitutes an InMemoryRelation; either would make
    * the shapes depend on what ran before instead of on the code.
    */
  def shapes(spark: SparkSession, dir: String): Seq[(String, Try[Shape])] = {
    SessionArtifacts.invalidateAll(spark)
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      spark.catalog.clearCache()
      name -> Try(shapeOf(fn(spark, dir)))
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.gate()

    val rows = shapes(spark, dir).map {
      case (name, Success(s)) =>
        s"| $name | ${s.hashExch} | ${s.rangeExch} | ${s.bcasts} | " +
          s"${if (s.pushed) "yes" else "—"} | ${s.codegen} |"
      case (name, Failure(e)) =>
        s"| $name | — | — | — | — | plan failed: ${e.getMessage.take(60)} |"
    }
    val header =
      s"""# PLANS — physical-plan audit (generated by graft.PlanAudit at sf0.001)
         |
         |Per registered query: hash-partition exchanges (the shuffles),
         |range exchanges (global sorts — all are the oracle-determinism
         |ORDER BY on final output; none where a bounded aggregate sorts in one
         |task, see `functions.BoundedSort`; under `functions.FinalSort` it sits
         |on the scan and also serves the keyed stage), broadcast exchanges
         |(dimension/query ships), whether parquet filter pushdown is active
         |("—" = the scan has no filter to push), and the number of codegen'd operators
         |(the `*(n)` stages), all read from the executed (AQE-final) plan.
         |Regenerate with `sbt "runMain graft.PlanAudit [sfDir]"`.
         |
         |""".stripMargin
    val md = header +
      "| query | hash-exch | range-exch (sort) | broadcasts | pushdown | codegen ops |\n" +
      "|---|---|---|---|---|---|\n" + rows.mkString("\n") + "\n"
    Files.writeString(Paths.get("PLANS.md"), md)
    println(s"wrote PLANS.md (${rows.length} queries)")
    spark.stop()
  }
}
