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
  *  - a range exchange over a hash exchange on a prefix of its own sort
  *    keys, with only Window, Project, Filter or Sort between them: the
  *    range sampler recomputes the keyed stage, and the hash exchange is
  *    one the sort does not need (`functions.FinalSort.keyed` plans one
  *    range exchange for both). Exceptions are `sharedExchangeAllowed`.
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

  private val partialTopK =
    "per-key top-k: the partial WindowGroupLimit under the hash exchange bounds the shuffle"
  private def overAggregate(agg: String) = s"window over $agg; the window input is not a scan"

  /** Queries whose range exchange may sit over a hash exchange on its
    * sort-key prefix, one reason each. All are x* queries, whose audit
    * against `functions.FinalSort` is still open. */
  private val sharedExchangeAllowed: Map[String, String] = Map(
    "x10_text_quality" ->
      "deliberate hash repartition fanning out the one-split text scan; a FinalSort.rowwise candidate",
    "x130_distinctive_terms" -> s"$partialTopK (over a join)",
    "x14_ann_lsh_topk" -> partialTopK,
    "x151_ann_ivfpq_sym_topk" -> partialTopK,
    "x166_ivf_lloyd_topk" -> partialTopK,
    "x16_langid_ngram" -> s"$partialTopK (over an n-gram score aggregate)",
    "x173_pq_lloyd_topk" -> partialTopK,
    "x178_ivfpq_topk" -> partialTopK,
    "x179_ivfpq_persisted_topk" -> partialTopK,
    "x181_ivfpq_adaptive_topk" ->
      "adaptive per-query top-k over a candidate join; the window input is not a scan",
    "x183_index_versions" -> s"$partialTopK (both index versions)",
    "x184_index_alias_probe" -> partialTopK,
    "x185_index_compaction" -> partialTopK,
    "x186_artifact_retention" -> overAggregate("a per-root size aggregate"),
    "x187_graceful_retention" -> overAggregate("a per-root size aggregate"),
    "x19_ann_ivf_topk" -> partialTopK,
    "x21_ann_multiprobe" -> partialTopK,
    "x29_quality_quota" -> s"$partialTopK (over a repartitioned text scan)",
    "x31_ann_pq_topk" -> partialTopK,
    "x39_cohort_retention" -> overAggregate("a count(distinct) aggregate"),
    "x40_event_transitions" -> overAggregate("a transition-count aggregate"),
    "x42_epoch_shuffle" -> "the window key (an md5 shard) is computed, not a plain scan column",
    "x51_hard_negatives" -> partialTopK,
    "x68_bm25_topk" -> partialTopK,
    "x69_hybrid_rrf" -> s"$partialTopK (over a full outer join)",
    "x74_exact_k_sample" -> partialTopK,
    "x79_ann_ivfpq_topk" -> partialTopK)

  /** Range exchanges that sit over a hash exchange on a prefix of their
    * own sort keys, through Window, Project, Filter and Sort only (see
    * object doc).
    */
  private def rangeOverKeyedHash(plan: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def hashesBelow(p: SparkPlan): Seq[HashPartitioning] = p match {
      case q: QueryStageExec => hashesBelow(q.plan)
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning => Seq(h)
        case _ => Nil
      }
      case _: AQEShuffleReadExec | _: WholeStageCodegenExec | _: InputAdapter |
          _: WindowExec | _: WindowGroupLimitExec | _: ProjectExec | _: FilterExec |
          _: SortExec => p.children.flatMap(hashesBelow)
      case _ => Nil
    }
    closure(plan).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] =>
        val sortKeys = e.outputPartitioning.asInstanceOf[RangePartitioning].ordering.map(_.child)
        hashesBelow(e.child).filter { h =>
          val prefix = sortKeys.take(h.expressions.length)
          prefix.length == h.expressions.length &&
            prefix.forall(k => h.expressions.exists(_.semanticEquals(k))) &&
            h.expressions.forall(k => prefix.exists(_.semanticEquals(k)))
        }.map(h => s"range exchange over ${h.sql}, a prefix of its sort keys")
    }.flatten
  }

  // the range-over-keyed-hash lint (object doc) runs in this loop too
  test("no registered query plans a cartesian product, a single-task " +
    "funnel, or an unbounded global window") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val node = finalPlan(fn(spark, sfDir))
      val plan = node.toString
      val cart =
        if (plan.contains("CartesianProduct")) Seq("CartesianProduct") else Nil
      val shared = if (sharedExchangeAllowed.contains(name)) Nil else rangeOverKeyedHash(node)
      (cart ++ dataFunnels(plan) ++ coalesceFunnels(node) ++
        unboundedGlobalWindows(node) ++ shared)
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

  test("the shared-exchange lint flags an orderBy over a window and passes FinalSort.keyed") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    import spark.implicits._
    val cust = Tables.customer(spark, sfDir)
    val w = Window.partitionBy($"c_nationkey").orderBy($"c_acctbal".desc, $"c_custkey")
    val ranked: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.withColumn("rn", row_number().over(w))
    assert(rangeOverKeyedHash(finalPlan(
      ranked(cust).orderBy($"c_nationkey", $"rn"))).nonEmpty)
    assert(rangeOverKeyedHash(finalPlan(graft.functions.FinalSort.keyed(cust, $"c_nationkey")(
      ranked)($"c_nationkey", $"rn"))).isEmpty)
  }
}
