package graft

/** Global plan lint over EVERY registered query: structural anti-patterns
  * that would be scale-killers at 100 TB fail the suite, no matter which
  * operator introduces them.
  *
  *  - `CartesianProductExec`: an all-pairs join that slipped past the
  *    blocking/broadcast discipline (broadcast nested-loop joins of tiny
  *    sides are fine and print differently).
  *  - `Exchange SinglePartition`: the whole dataset funneled into ONE
  *    task — what an un-partitioned window, a global non-top-k limit, or
  *    a stray repartition(1) plans to. One shape is allowed:
  *    a SinglePartition exchange whose immediate child is a PARTIAL
  *    aggregate (`HashAggregate(... functions=[partial_...`) — that is a
  *    global scalar aggregate moving one pre-aggregated row per map
  *    partition (x06's corpus count, x25's single-pass profile — Hash or Sort flavor), not a
  *    data funnel.
  *  - a single-partition `Coalesce`: what a stray coalesce(1) plans to —
  *    no exchange, but every partition of its input runs in one task.
  *    One shape is allowed: a coalesce over a FINAL aggregate (through
  *    Projects, Filters and codegen wrappers), which is
  *    `functions.BoundedSort` — the task reads the aggregate's shuffled
  *    partial rows, not data.
  */
class PlanLintSpec extends SparkSpec {

  import org.apache.spark.sql.execution.SparkPlan

  private def finalPlan(df: org.apache.spark.sql.DataFrame): SparkPlan = {
    df.queryExecution.executedPlan.execute().foreach(_ => ())
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
  }

  /** Tree closure that descends through AQE stage wrappers and reused
    * exchanges (their subplans are not `children`). */
  private def closure(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        Seq(r.child)
      case _ => p.children
    }
    p +: kids.flatMap(closure)
  }

  /** Empty-partitionSpec windows whose input is NOT bounded by a
    * limit/top-k operator (round-17 advice item 2: the harness silences
    * WindowExec's all-rows-to-one-partition WARN, so this lint is what
    * keeps a NEW genuinely unbounded global window from hiding — a
    * global window is only ever legitimate over a row-bounded frame,
    * like x156's over the K=20 TakeOrdered survivors). */
  private def unboundedGlobalWindows(plan: SparkPlan): Seq[String] =
    closure(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty &&
            !closure(w.child).exists {
              case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
              case _: org.apache.spark.sql.execution.LocalLimitExec => true
              case _: org.apache.spark.sql.execution.GlobalLimitExec => true
              case _: org.apache.spark.sql.execution.CollectLimitExec => true
              case _ => false
            } =>
        s"unbounded global Window: ${w.nodeName} over ${w.child.nodeName}"
    }

  /** SinglePartition exchanges whose immediate child is NOT a partial
    * aggregate (see object doc).
    */
  private def dataFunnels(plan: String): Seq[String] = {
    val lines = plan.linesIterator.toVector
    lines.zipWithIndex
      .filter(_._1.contains("Exchange SinglePartition"))
      // a ReusedExchange line only REFERENCES an exchange checked at its
      // original site — reuse is plan-sharing, not a second funnel
      .filterNot(_._1.contains("ReusedExchange"))
      .collect { case (line, i)
        if !(i + 1 < lines.length &&
          lines(i + 1).contains("Aggregate") && // Hash/Sort/ObjectHash
          lines(i + 1).contains("partial_")) => line.trim }
  }

  /** Single-partition coalesces that are not directly over a final
    * aggregate (see object doc). A final (or complete) aggregate is the
    * one that requires its child distributed by its grouping keys, i.e.
    * it sits on the shuffle read; partial aggregates require nothing.
    */
  private def coalesceFunnels(plan: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def overFinalAggregate(p: SparkPlan): Boolean = p match {
      case w: WholeStageCodegenExec => overFinalAggregate(w.child)
      case i: InputAdapter => overFinalAggregate(i.child)
      case p: ProjectExec => overFinalAggregate(p.child)
      case f: FilterExec => overFinalAggregate(f.child)
      case a: BaseAggregateExec => a.requiredChildDistributionExpressions.isDefined
      case _ => false
    }
    closure(plan).collect {
      case c: CoalesceExec if c.numPartitions == 1 && !overFinalAggregate(c.child) =>
        s"single-partition Coalesce over ${c.child.nodeName}"
    }
  }

  test("no registered query plans a cartesian product, a single-task " +
    "funnel, or an unbounded global window") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val node = finalPlan(fn(spark, sfDir))
      val plan = node.toString
      val cart =
        if (plan.contains("CartesianProduct")) Seq("CartesianProduct") else Nil
      (cart ++ dataFunnels(plan) ++ coalesceFunnels(node) ++
        unboundedGlobalWindows(node))
        .map(o => s"$name: $o")
    }
    assert(offenders.isEmpty,
      s"scale-killer plan shapes:\n${offenders.mkString("\n")}")
  }

  test("the coalesce lint flags a stray coalesce(1) and passes BoundedSort") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    assert(coalesceFunnels(finalPlan(li.coalesce(1))).nonEmpty)
    assert(coalesceFunnels(finalPlan(
      li.filter($"l_quantity" > 10).coalesce(1).orderBy($"l_orderkey"))).nonEmpty)
    assert(coalesceFunnels(finalPlan(graft.functions.BoundedSort.orderBy(
      li.groupBy($"l_returnflag").count())($"l_returnflag"))).isEmpty)
  }
}
