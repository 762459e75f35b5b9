package graft

import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanFrame

import graft.functions.BoundedSort

/** `BoundedSort`: the converted queries keep their rows and order, plan no
  * range exchange, and the helper refuses frames that are not a grouped
  * aggregate.
  */
class BoundedSortSpec extends SparkSpec {

  private val converted = Seq("b10_agg_rollup", "b10b_agg_cube",
    "b10c_agg_grouping_sets", "b24_udaf_secondmax", "b28_salted_skew_join",
    "b29_deterministic_sample",
    "b40_interval_join", "b45_integrity_audit", "b48_last_touch_attribution",
    "b55_bloom_prune_semi")

  converted.foreach { name =>
    test(s"$name: same rows in the same order as the plain orderBy, no range exchange") {
      val df = SparkEntry.queries(name)(spark, sfDir)
      // the plain form: the same sort straight over the aggregate
      val plain = df.queryExecution.analyzed match {
        case s @ Sort(_, true, Repartition(1, false, agg), _) =>
          PlanFrame.of(df, s.copy(child = agg))
        case other => fail(s"$name is not a BoundedSort frame:\n$other")
      }
      val got = df.collect().toSeq
      assert(got.nonEmpty)
      assert(got == plain.collect().toSeq)
      assert(PlanAudit.shapeOf(SparkEntry.queries(name)(spark, sfDir)).rangeExch == 0)
      assert(PlanAudit.shapeOf(plain).rangeExch == 1)
    }
  }

  test("rejects a window frame and a join frame") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    val windowed = li.withColumn("rn",
      row_number().over(Window.partitionBy($"l_returnflag").orderBy($"l_orderkey")))
    val joined = li.join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
    val ungrouped = li.agg(count(lit(1)).as("n"))
    Seq(windowed, joined, ungrouped, li).foreach { df =>
      intercept[IllegalArgumentException](BoundedSort.orderBy(df)($"l_returnflag"))
    }
    // a grouped aggregate under a join is still a join frame
    val aggJoined = li.groupBy($"l_orderkey").count()
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
    intercept[IllegalArgumentException](BoundedSort.orderBy(aggJoined)($"l_orderkey"))
  }
}
