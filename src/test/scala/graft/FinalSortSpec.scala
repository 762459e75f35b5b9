package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, RepartitionByExpression, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanFrame

import graft.functions.FinalSort

/** `FinalSort`: the converted queries keep their rows and order, the keyed
  * form plans one range exchange and no hash exchange, the rowwise form
  * sorts raw scan columns, and the helper refuses what it cannot prove.
  */
class FinalSortSpec extends SparkSpec {

  private val keyed = Seq("b12_window_ranking", "b12b_window_distribution",
    "b13_window_analytic", "b17_dedup_first_per_key", "b32_window_range_frame",
    "b37_scd2_history", "b38_ntile_buckets", "b39_percentile_cont",
    "b50_time_weighted_avg")

  private val rowwise = Seq("b18a_scalar_string", "b18b_scalar_date",
    "b18c_scalar_math_conditional", "b20_map_json")

  /** The plain form of a keyed query: the same plan without its range
    * repartition, so the sort plans its own range exchange. */
  private def plainKeyed(df: DataFrame): DataFrame = {
    var removed = 0
    val plain = df.queryExecution.analyzed.transformDown {
      case r: RepartitionByExpression if r.partitionExpressions.forall(_.isInstanceOf[SortOrder]) =>
        removed += 1
        r.child
    }
    assert(removed == 1, s"not a FinalSort.keyed frame:\n${df.queryExecution.analyzed}")
    PlanFrame.of(df, plain)
  }

  /** The plain form of a rowwise query: the projections first, the sort
    * on top. */
  private def plainRowwise(df: DataFrame): DataFrame = {
    def split(p: LogicalPlan): (Seq[Project], Sort) = p match {
      case pr: Project => val (ps, s) = split(pr.child); (pr +: ps, s)
      case s: Sort => (Nil, s)
      case other => fail(s"not a FinalSort.rowwise frame:\n$other")
    }
    val (projects, sort) = split(df.queryExecution.analyzed)
    val projected = projects.foldRight(sort.child: LogicalPlan)((p, c) => p.copy(child = c))
    PlanFrame.of(df, sort.copy(child = projected))
  }

  private def finalPlan(df: DataFrame): SparkPlan = {
    df.queryExecution.executedPlan.execute().foreach(_ => ())
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def closure(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case q: QueryStageExec => Seq(q.plan)
    case _ => p.children
  }).flatMap(closure)

  private def sameRowsAndOrder(name: String, df: DataFrame, plain: DataFrame): Unit = {
    val got = df.collect().toSeq
    assert(got.nonEmpty, name)
    assert(got == plain.collect().toSeq, name)
    assert(PlanAudit.shapeOf(plain).rangeExch == 1, name)
  }

  keyed.foreach { name =>
    test(s"$name: same rows in the same order as the plain orderBy; one range exchange, no hash exchange") {
      val df = SparkEntry.queries(name)(spark, sfDir)
      sameRowsAndOrder(name, df, plainKeyed(df))
      val shape = PlanAudit.shapeOf(SparkEntry.queries(name)(spark, sfDir))
      assert(shape.hashExch == 0 && shape.rangeExch == 1, s"$name: $shape")
    }
  }

  rowwise.foreach { name =>
    test(s"$name: same rows in the same order as the plain orderBy; only raw scan columns under the range exchange") {
      val df = SparkEntry.queries(name)(spark, sfDir)
      sameRowsAndOrder(name, df, plainRowwise(df))
      val ranges = closure(finalPlan(SparkEntry.queries(name)(spark, sfDir))).collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
      assert(ranges.size == 1, name)
      val below = closure(ranges.head.child)
      val odd = below.filterNot {
        case _: FileSourceScanExec | _: ColumnarToRowExec | _: FilterExec => true
        case _: WholeStageCodegenExec | _: InputAdapter | _: AQEShuffleReadExec => true
        case p: ProjectExec => p.projectList.forall(_.isInstanceOf[Attribute])
        case _ => false
      }
      assert(odd.isEmpty, s"$name computes under its range exchange:\n${ranges.head}")
      val text = ranges.head.toString
      Seq("from_json", "SQRT", "LOG", "POWER", "upper(", "year(").foreach { f =>
        assert(!text.contains(f), s"$name: $f under the range exchange")
      }
    }
  }

  test("keyed rejects an order that does not start with the keys") {
    import spark.implicits._
    val cust = Tables.customer(spark, sfDir)
    val w = Window.partitionBy($"c_nationkey").orderBy($"c_acctbal".desc, $"c_custkey")
    val ranked: DataFrame => DataFrame = _.withColumn("rn", row_number().over(w))
    intercept[IllegalArgumentException](
      FinalSort.keyed(cust, $"c_nationkey")(ranked)($"c_custkey"))
    intercept[IllegalArgumentException](
      FinalSort.keyed(cust, $"c_nationkey")(ranked)($"c_nationkey".desc, $"rn"))
    // the accepted form, for contrast
    FinalSort.keyed(cust, $"c_nationkey")(ranked)($"c_nationkey", $"rn")
  }

  test("keyed rejects a join frame, a stage keyed elsewhere and shrinking partials over the scan") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    val orders = Tables.orders(spark, sfDir)
    val joined = li.join(orders, $"l_orderkey" === $"o_orderkey")
    val w = Window.partitionBy($"l_orderkey").orderBy($"l_linenumber")
    intercept[IllegalArgumentException](
      FinalSort.keyed(joined, $"l_orderkey")(_.withColumn("rn", row_number().over(w)))(
        $"l_orderkey", $"rn"))
    intercept[IllegalArgumentException](
      FinalSort.keyed(li, $"l_orderkey")(_.join(orders, $"l_orderkey" === $"o_orderkey"))(
        $"l_orderkey"))
    intercept[IllegalArgumentException](
      FinalSort.keyed(li, $"l_orderkey")(_.withColumn("rn", row_number().over(
        Window.partitionBy($"l_suppkey").orderBy($"l_linenumber"))))($"l_orderkey"))
    intercept[IllegalArgumentException](
      FinalSort.keyed(li, $"l_returnflag")(_.groupBy($"l_returnflag").count())($"l_returnflag"))
  }

  test("rowwise rejects a computed sort key and a non-projection above the sort") {
    import spark.implicits._
    val part = Tables.part(spark, sfDir)
    intercept[IllegalArgumentException](
      FinalSort.rowwise(part)(length($"p_name"))(_.select($"p_partkey")))
    intercept[IllegalArgumentException](
      FinalSort.rowwise(part)(upper($"p_name"), $"p_partkey")(_.select($"p_partkey")))
    intercept[IllegalArgumentException](
      FinalSort.rowwise(part)($"p_partkey")(_.filter($"p_size" > 10)))
    intercept[IllegalArgumentException](
      FinalSort.rowwise(part.join(Tables.lineitem(spark, sfDir), $"p_partkey" === $"l_partkey"))(
        $"p_partkey")(
        _.select($"p_partkey")))
  }
}
