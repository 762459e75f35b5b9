package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, WithCTE}

/** Final ORDER BY of a grouped aggregate whose result is bounded by a
  * small static key domain, planned without a range exchange.
  *
  * A global `orderBy` plans `Exchange rangepartitioning`: a
  * `RangePartitioner` sampling job that recomputes the stage below, then
  * one more shuffle stage to sort a handful of rows. `agg.coalesce(1)`
  * reports `SinglePartition`, which already satisfies the sort's ordering
  * requirement, so the final aggregate, the coalesce and the sort run in
  * one task of the aggregate's own stage — no sampling job, no extra
  * stage. The coalesce is narrow: it stops at the aggregate's shuffle, so
  * every stage below keeps its parallelism.
  *
  * The shared cause is the sampling job: it recomputes the whole stage
  * below a range exchange. [[FinalSort]] removes the same recomputation
  * for final sorts that stay range-partitioned: keyed windows, exact
  * percentiles and per-row projections of a scan.
  *
  * That single task reads at most (groups × map tasks) partial rows, so
  * the helper is only for aggregates whose grouping keys come from a small
  * static domain and whose buffers are bounded (count, sum, avg, min, max,
  * stddev, sketch merges, fixed-slot typed aggregators). Exact percentiles,
  * `collect_*` and row-per-fact outputs keep their range sort. The
  * `require` below keeps a window or join stage from being squeezed into
  * one task: the frame must be a grouped `Aggregate`, optionally under
  * Projects or Filters (and, for SQL-built frames, a `WITH` clause).
  *
  * Converted queries (group bound = rows the single task can emit):
  *
  * | query | grouping keys | group bound | aggregates |
  * |---|---|---|---|
  * | b10_agg_rollup | rollup(o_orderstatus, o_orderpriority) | 3 × 5 + 3 + 1 | count, decimal sum |
  * | b10b_agg_cube | cube(p_brand, size_bucket) | 26 × 7 | count, decimal avg |
  * | b10c_agg_grouping_sets | (o_orderstatus, o_orderpriority), (o_orderstatus), () | 3 × 5 + 3 + 1 | count, decimal sum |
  * | b24_udaf_secondmax | l_returnflag × l_linestatus | 3 × 2 | max, SecondMax (2 slots) |
  * | b28_salted_skew_join | flag_desc | 3 | count, decimal sum |
  * | b29_deterministic_sample | o_orderpriority | 5 | count, decimal sum |
  * | b40_interval_join | event_type | 5 | count, sum |
  * | b45_integrity_audit | relationship | 5 declared foreign keys | count, sums |
  * | b48_last_touch_attribution | touch_type | 3 (view, click, organic) | count, decimal sum, sum |
  * | b55_bloom_prune_semi | l_returnflag | 3 | count, decimal sum |
  *
  * Not converted although grouped by a small domain: b09 (its
  * `countDistinct` partial rows grow with the distinct order keys) and
  * b39 (exact percentiles keep every value in the buffer; it is a
  * `FinalSort.keyed` query).
  *
  * Output rows and their order equal the plain `orderBy` form: the sort
  * keys are the grouping keys, so there are no ties to order differently.
  */
object BoundedSort {

  def orderBy(agg: DataFrame)(cols: Column*): DataFrame = {
    val plan = agg.queryExecution.analyzed
    require(isGroupedAggregate(plan),
      s"BoundedSort needs a grouped Aggregate (under Projects/Filters), got:\n$plan")
    agg.coalesce(1).orderBy(cols: _*)
  }

  private def isGroupedAggregate(plan: LogicalPlan): Boolean = plan match {
    case p: Project => isGroupedAggregate(p.child)
    case f: Filter => isGroupedAggregate(f.child)
    case w: WithCTE => isGroupedAggregate(w.plan)
    case a: Aggregate => a.groupingExpressions.nonEmpty
    case _ => false
  }
}
