package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Attribute, ExpressionSet, SortOrder}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Collect, Median, PercentileBase, PercentileCont}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LeafNode, LogicalPlan, Project, RepartitionByExpression, Sort, SubqueryAlias, Window}

/** Final ORDER BY of a scan's expensive per-key or per-row stage, planned
  * so that the stage runs once.
  *
  * A global `orderBy` plans `Exchange rangepartitioning`, and its
  * `RangePartitioner` runs a sampling job that recomputes the whole stage
  * below the exchange (the shared cause behind [[BoundedSort]]). When that
  * stage is a window, an exact percentile, `from_json` or scalar math, it
  * runs twice per query, and a keyed stage also pays a hash exchange the
  * sort does not need. Two checked forms move the range exchange down to
  * the scan, so the sampler rereads only the scan:
  *
  *  - [[keyed]] range-partitions the scan once on `keys`.
  *    `RangePartitioning(keys)` satisfies both `ClusteredDistribution(keys)`
  *    (a window partitioned by `keys`, an aggregate grouped by them) and
  *    `OrderedDistribution(keys ++ rest)`, so the keyed stage needs no hash
  *    exchange and the final sort is local. The stage must be keyed
  *    Windows and Aggregates (under Projects/Filters). An aggregate
  *    straight over the exchange must keep every input value in its
  *    buffer (exact percentiles, `collect_*`): its map-side partials would
  *    not shrink the shuffle, so losing them costs nothing. An aggregate
  *    above a keyed window runs after the exchange either way.
  *  - [[rowwise]] sorts the scan's raw columns, then applies the per-row
  *    projections above the sort, in the sort stage's tasks. The sort keys
  *    must be plain input columns.
  *
  * Both forms take a scan (a leaf relation under Projects/Filters) as
  * input; over a join or an aggregate the sampler would recompute that
  * instead. Output rows and their order equal the plain `orderBy` form:
  * the converted sorts are total orders.
  *
  * Audit of every `b*` query that ends in a range exchange:
  *
  * | query | verdict | reason |
  * |---|---|---|
  * | b12_window_ranking | keyed (c_nationkey) | ranking window |
  * | b12b_window_distribution | keyed (c_nationkey) | distribution window |
  * | b13_window_analytic | keyed (o_custkey) | lag/lead/running-total windows |
  * | b17_dedup_first_per_key | keyed (o_custkey, o_orderstatus) | row_number window |
  * | b32_window_range_frame | keyed (user_id) | range-frame windows |
  * | b37_scd2_history | keyed (o_custkey) | stacked windows, aggregate between them |
  * | b38_ntile_buckets | keyed (o_custkey) | ntile window, aggregate above it |
  * | b39_percentile_cont | keyed (event_type) | exact percentiles |
  * | b50_time_weighted_avg | keyed (user_id) | lead window, aggregate above it |
  * | b18a_scalar_string | rowwise | string functions |
  * | b18b_scalar_date | rowwise | date functions |
  * | b18c_scalar_math_conditional | rowwise | math; its hash `repartition` is gone |
  * | b20_map_json | rowwise | `from_json` |
  * | b01, b02, b14 | refused | nothing is computed above the scan |
  * | b19_array_hof | refused | projections shrink each row (embedding array to scalars); the raw sort would shuffle the arrays |
  * | b03, b04, b05, b07, b54 | refused | aggregate over a join; its partials shrink the shuffle |
  * | b05b, b06, b08, b30, b31, b35, b46, b49 | refused | join frame |
  * | b09_agg_pricing_summary | refused | decimal-sum and `countDistinct` partials shrink the shuffle |
  * | b11_approx_distinct | refused | HLL partials over a distinct pre-aggregate shrink the shuffle |
  * | b16_set_ops, b34_set_ops_all | refused | union of set operations |
  * | b21_sliding_window, b22_session_window | refused | time-window aggregates whose partials shrink the shuffle |
  * | b26_asof_join | refused | the sort (event_id) does not start with the window key |
  * | b27_pivot | refused | pivot partials shrink the shuffle |
  * | b36, b47, b53 | refused | the window's input is an aggregate the sampler would recompute |
  * | b41_fuzzy_join | refused | union of joins over a `localCheckpoint` with four consumers; without it warm CPU rose from 0.51 to 0.66 s |
  * | b42_resample_ffill | refused | the window's input is a join (day grid ⋈ observations) |
  * | b43_rolling_distinct | refused | `count(distinct)` aggregate over a join |
  * | b44_repeat_suppress | refused | window keys (user_id, event_type) are not a prefix of the sort (event_type) |
  * | b51_robust_mad | refused | the percentile's input is a join with the medians |
  * | b52_grouped_mode | refused | aggregate over a count aggregate; partials shrink the shuffle |
  * | b56_grouped_topk | refused | its partial top-k bounds the shuffle |
  * | b58_incremental_scd2 | refused | union of a checkpointed base and a delta |
  */
object FinalSort {

  /** `stage(input range-partitioned on keys).orderBy(order)`, where
    * `order` starts with `keys` and `stage` is keyed on them. */
  def keyed(input: DataFrame, keys: Column*)(stage: DataFrame => DataFrame)(
      order: Column*): DataFrame = {
    requireScan(input)
    require(keys.nonEmpty, "FinalSort.keyed needs keys")
    val ranged = input.repartitionByRange(keys: _*)
    val range = ranged.queryExecution.analyzed
    val keyOrder = range match {
      case r: RepartitionByExpression => r.partitionExpressions.collect { case s: SortOrder => s }
      case other => sys.error(s"unexpected range partitioning plan:\n$other")
    }
    require(keyOrder.forall(s => isInputColumn(s, input)),
      s"FinalSort.keyed keys must be plain input columns, got: ${keyOrder.mkString(", ")}")
    val staged = stage(ranged)
    require(keyedStage(staged.queryExecution.analyzed, range, ExpressionSet(keyOrder.map(_.child))),
      "FinalSort.keyed needs Windows partitioned by exactly the keys, or Aggregates " +
        "grouped by them (straight over the scan only when they keep every value), " +
        s"under Projects/Filters, got:\n${staged.queryExecution.analyzed}")
    val sorted = staged.orderBy(order: _*)
    val sortOrder = globalSortOrder(sorted)
    require(sortOrder.length >= keyOrder.length &&
      sortOrder.zip(keyOrder).forall { case (o, k) =>
        o.child.semanticEquals(k.child) && o.direction == k.direction &&
          o.nullOrdering == k.nullOrdering
      },
      s"FinalSort.keyed order (${sortOrder.mkString(", ")}) must start with the keys " +
        s"(${keyOrder.mkString(", ")})")
    sorted
  }

  /** `project(input.orderBy(order))`, where `order` names plain input
    * columns and `project` adds only per-row projections. */
  def rowwise(input: DataFrame)(order: Column*)(project: DataFrame => DataFrame): DataFrame = {
    requireScan(input)
    val sorted = input.orderBy(order: _*)
    val sortOrder = globalSortOrder(sorted)
    require(sortOrder.forall(isInputColumn(_, input)),
      s"FinalSort.rowwise sort keys must be plain input columns, got: ${sortOrder.mkString(", ")}")
    val out = project(sorted)
    val sort = sorted.queryExecution.analyzed
    def projectsOverSort(p: LogicalPlan): Boolean = p match {
      case Project(_, child) => projectsOverSort(child)
      case s => s == sort
    }
    require(projectsOverSort(out.queryExecution.analyzed),
      s"FinalSort.rowwise projections must be Projects over the sort, got:\n" +
        out.queryExecution.analyzed)
    out
  }

  private def requireScan(input: DataFrame): Unit = {
    def scan(p: LogicalPlan): Boolean = p match {
      case Project(_, child) => scan(child)
      case Filter(_, child) => scan(child)
      case SubqueryAlias(_, child) => scan(child)
      case _: LeafNode => true
      case _ => false
    }
    require(scan(input.queryExecution.analyzed),
      s"FinalSort needs a scan (a leaf under Projects/Filters), got:\n${input.queryExecution.analyzed}")
  }

  private def isInputColumn(s: SortOrder, input: DataFrame): Boolean = s.child match {
    case a: Attribute => input.queryExecution.analyzed.outputSet.contains(a)
    case _ => false
  }

  private def globalSortOrder(df: DataFrame): Seq[SortOrder] = df.queryExecution.analyzed match {
    case Sort(order, true, _, _) => order
    case other => sys.error(s"expected a global Sort, got:\n$other")
  }

  /** True when `plan` reaches `range` through Projects, Filters, Windows
    * partitioned by exactly `keys` and Aggregates grouped by them, with at
    * least one keyed operator; an Aggregate with no keyed operator below
    * it must keep every input value. */
  private def keyedStage(plan: LogicalPlan, range: LogicalPlan, keys: ExpressionSet): Boolean = {
    // Some(keyed operators below p) when p reaches the range exchange
    def walk(p: LogicalPlan): Option[Int] = p match {
      case _ if p == range => Some(0)
      case Project(_, child) => walk(child)
      case Filter(_, child) => walk(child)
      case w: Window if w.partitionSpec.length == keys.size && w.partitionSpec.forall(keys.contains) =>
        walk(w.child).map(_ + 1)
      case a: Aggregate if keys.forall(ExpressionSet(a.groupingExpressions).contains) =>
        walk(a.child).filter(n => n > 0 || keepsEveryValue(a)).map(_ + 1)
      case _ => None
    }
    walk(plan).exists(_ > 0)
  }

  /** An aggregate whose buffers hold every input value. */
  private def keepsEveryValue(a: Aggregate): Boolean =
    a.aggregateExpressions.exists(_.exists {
      case _: PercentileBase | _: PercentileCont | _: Median | _: Collect[_] => true
      case _ => false
    })
}
