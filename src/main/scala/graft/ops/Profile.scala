package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.FinalSort

/** X25 — table profiling: per-column data-quality statistics (row count,
  * null count, exact distinct count, min/max) over `lineitem`, one row
  * per profiled column — the ingest-validation step a training pipeline
  * runs before trusting a new data drop (the engine-side core of tools
  * like Deequ/GE: the checks are aggregates; the rules engine is a
  * consumer).
  *
  * Plan shape: one independent aggregation BRANCH per profiled column,
  * unioned. Each branch is a column-PRUNED parquet scan (over columnar
  * storage the union reads each column chunk once — the same total I/O
  * as a single full-width scan) feeding Spark's single-distinct
  * two-phase aggregate: partial dedup + partial metrics map-side, one
  * narrow shuffle of (column-value) groups. The branches are
  * independent DAG stages, so they run concurrently across the
  * cluster. The alternative single-pass form — one agg with N
  * `count(DISTINCT …)` — plans an Expand that multiplies every row by
  * the profiled-column count and funnels all of it through ONE
  * aggregation (measured ~4× slower here, and the 10.2 s worst entry of
  * the round-6 driver bench); at 100 TB swap `countDistinct` for
  * `approx_count_distinct` per branch and each branch's shuffle
  * collapses to HLL sketch state.
  *
  * Parity discipline: min/max are emitted only for binary-ordered types
  * (integers, dates, strings — both engines compare and render them
  * identically); float columns get counts only, because float→string
  * rendering differs across engines (the same hazard
  * functions/Hashing.scala quantizes around elsewhere).
  */
object Profile {

  // (column, emit min/max?) — the double columns (quantity, price,
  // discount, tax) get counts only
  private val cols: Seq[(String, Boolean)] = Seq(
    "l_orderkey" -> true, "l_partkey" -> true, "l_suppkey" -> true,
    "l_linenumber" -> true, "l_quantity" -> false,
    "l_extendedprice" -> false, "l_discount" -> false, "l_tax" -> false,
    "l_returnflag" -> true, "l_linestatus" -> true, "l_shipdate" -> true)

  def dataProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // no repartition fan-out here: each branch's partial (dedup+metrics)
    // aggregation runs inside its own pruned scan tasks, and the branches
    // themselves are the parallelism — adding a round-robin shuffle ahead
    // of them measured 4× SLOWER locally (11 full-row shuffles bought
    // nothing the concurrent branches didn't already provide)
    val base = Tables.lineitem(spark, dir)
      .select(cols.map(c => col(c._1)): _*)
    val branches = cols.map { case (c, minmax) =>
      base.select(col(c).as("v"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when($"v".isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct($"v").as("n_distinct"),
          (if (minmax) min($"v").cast("string")
           else lit(null).cast("string")).as("min_val"),
          (if (minmax) max($"v").cast("string")
           else lit(null).cast("string")).as("max_val"))
        .select(lit(c).as("col_name"), $"n_rows", $"n_nulls",
          $"n_distinct", $"min_val", $"max_val")
    }
    branches.reduce(_.unionByName(_)).orderBy($"col_name")
  }

  val dataProfileSql: String = {
    val branches = cols.map { case (c, minmax) =>
      val minExpr = if (minmax) s"CAST(min($c) AS VARCHAR)" else "NULL"
      val maxExpr = if (minmax) s"CAST(max($c) AS VARCHAR)" else "NULL"
      s"""SELECT '$c' AS col_name,
         |       count(*) AS n_rows,
         |       count(*) - count($c) AS n_nulls,
         |       count(DISTINCT $c) AS n_distinct,
         |       $minExpr AS min_val,
         |       $maxExpr AS max_val
         |FROM lineitem""".stripMargin
    }
    branches.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** X34 — percentile profile: exact order-statistic percentiles of the
    * event value distribution per event_type (the latency/size
    * distribution check a pipeline runs per data drop). PERCENTILE_DISC
    * picks an EXISTING value — an order statistic, never interpolated —
    * so double outputs are bit-identical in both engines (the same
    * reason min/max of doubles are parity-safe while avg is not).
    *
    * Scale note: exact percentiles aggregate per-group value
    * multiplicity maps — fine for bounded per-group cardinality; at
    * open scale swap `percentile_disc` for `approx_percentile` (KLL
    * sketch, mergeable partial state) in the same plan shape. The
    * group-by is one narrow shuffle of (event_type, value) partials.
    */
  private val pcts = Seq("p10" -> 0.10, "p50" -> 0.50, "p90" -> 0.90,
    "p99" -> 0.99)

  def percentileProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        (min($"value").as("min_val") +:
          pcts.map { case (name, q) =>
            expr(s"percentile_disc($q) WITHIN GROUP (ORDER BY value)").as(name)
          }) :+ max($"value").as("max_val"): _*)
      .orderBy($"event_type")
  }

  val percentileProfileSql: String = {
    val ps = pcts.map { case (name, q) =>
      s"percentile_disc($q) WITHIN GROUP (ORDER BY value) AS $name"
    }.mkString(",\n       ")
    s"""SELECT event_type, count(*) AS n_events,
       |       min(value) AS min_val,
       |       $ps,
       |       max(value) AS max_val
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin
  }

  /** B39 — interpolated percentiles: PERCENTILE_CONT over the same
    * per-type distributions as X34's PERCENTILE_DISC. CONT interpolates
    * `v_lo + frac·(v_hi − v_lo)` at rank (n−1)·q. The two engines pick
    * the SAME two order statistics with the same frac, but sequence the
    * interpolation arithmetic differently — the 10× gate caught a
    * last-ulp (2.8e-14) p99 divergence (round-14) — so each percentile
    * is round6'd ON BOTH SIDES. That round is boundary-safe here, not a
    * tolerance: `value` is 2-decimal data and frac is k/100, so every
    * exact interpolation rational has ≤ 4 decimals; the computed
    * doubles sit within ~1e-12 of those rationals, never within 5e-7
    * of a 6-decimal rounding boundary — both engines must land on the
    * identical 6-decimal value. Same scale shape and approx_percentile
    * swap as X34, except that the one shuffle is `FinalSort.keyed`'s
    * range exchange on event_type, which the final sort reuses (exact
    * percentile partials would not shrink it).
    */
  def percentileCont(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FinalSort.keyed(Tables.events(spark, dir), $"event_type")(
      _.groupBy($"event_type")
        .agg(
          count(lit(1)).as("n_events"),
          pcts.map { case (name, q) =>
            round(expr(s"percentile_cont($q) WITHIN GROUP (ORDER BY value)"),
              6).as(name)
          }: _*))(
      $"event_type")
  }

  val percentileContSql: String = {
    val ps = pcts.map { case (name, q) =>
      s"round(percentile_cont($q) WITHIN GROUP (ORDER BY value), 6) AS $name"
    }.mkString(",\n       ")
    s"""SELECT event_type, count(*) AS n_events,
       |       $ps
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin
  }

  /** X37 — heavy hitters: the top-[[TopK]] most frequent values of each
    * profiled key column, with counts and frequency share — the skew
    * diagnosis that decides whether a join needs salting (b28) or AQE
    * skew handling, run per data drop alongside x25/x34.
    *
    * Plan shape: per column, a two-phase count aggregate (map-side
    * partials shrink the shuffle to distinct values) followed by
    * TakeOrderedAndProject — a per-partition top-k merge on the driver
    * of K rows per partition, never a global sort and never a window
    * over the un-partitioned value set. Branches union like x25's.
    * Ties break deterministically by value string, so the result is
    * total-order stable across engines and partition counts.
    */
  val TopK = 5

  private val hitterCols = Seq("l_partkey", "l_suppkey", "l_returnflag",
    "l_shipdate")

  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    // total row count as an in-plan one-row broadcast (never a driver
    // action): each branch cross-joins the same tiny aggregate
    val totals = li.agg(count(lit(1)).as("total"))
    val branches = hitterCols.map { c =>
      li.select(col(c).cast("string").as("val"))
        .groupBy($"val").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"val".asc)
        .limit(TopK)
        .crossJoin(broadcast(totals))
        .select(lit(c).as("col_name"), $"val", $"cnt",
          ($"cnt".cast("double") / $"total").as("share"))
    }
    branches.reduce(_.unionByName(_))
      .orderBy($"col_name", $"cnt".desc, $"val".asc)
  }

  val heavyHittersSql: String = {
    val branches = hitterCols.map { c =>
      s"""(SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS val,
         |       count(*) AS cnt,
         |       CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM lineitem) AS share
         |FROM lineitem
         |GROUP BY 2
         |ORDER BY cnt DESC, val ASC
         |LIMIT $TopK)""".stripMargin
    }
    branches.mkString("", "\nUNION ALL\n",
      "\nORDER BY col_name, cnt DESC, val ASC")
  }

  /** B51 — grouped robust location/scale: per-event-type median and
    * median absolute deviation (MAD) — the outlier-resistant profile a
    * telemetry monitor reads where mean/stddev (b39/x25) are poisoned
    * by the very outliers being hunted.
    *
    * Two chained percentile_disc aggregates: group medians first (two-
    * phase, |types| rows), BROADCAST back onto the stream for the
    * row-local |value − med| deviation, then the deviation median per
    * group. Fact rows shuffle once per aggregate on event_type — the
    * same bounded shape as x34; the approx_percentile swap documented
    * there applies to both stages. Parity: percentile_disc picks an
    * actual order statistic (no interpolation) and deviations are
    * identical IEEE subtractions, so every output is bit-exact; med/n
    * are group constants carried through min().
    */
  def robustMad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select($"event_type", $"value")
    val med = ev.groupBy($"event_type")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
        .as("med"), count(lit(1)).as("n"))
    ev.join(broadcast(med), "event_type")
      .withColumn("dev", abs($"value" - $"med"))
      .groupBy($"event_type")
      .agg(min($"n").as("n_events"),
        min($"med").as("median_value"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)").as("mad"))
      .orderBy($"event_type")
  }

  val robustMadSql: String =
    """WITH med AS (
      |  SELECT event_type,
      |         percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med,
      |         count(*) AS n
      |  FROM events GROUP BY 1),
      |d AS (
      |  SELECT e.event_type, m.n, m.med,
      |         abs(e.value - m.med) AS dev
      |  FROM events e JOIN med m USING (event_type))
      |SELECT event_type,
      |       CAST(min(n) AS BIGINT) AS n_events,
      |       min(med) AS median_value,
      |       percentile_disc(0.5) WITHIN GROUP (ORDER BY dev) AS mad
      |FROM d
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x25_data_profile" -> dataProfile _,
    "x34_percentile_profile" -> percentileProfile _,
    "b39_percentile_cont" -> percentileCont _,
    "x37_heavy_hitters" -> heavyHitters _,
    "b51_robust_mad" -> robustMad _)

  val oracles: Map[String, String] = Map(
    "x25_data_profile" -> dataProfileSql,
    "x34_percentile_profile" -> percentileProfileSql,
    "b39_percentile_cont" -> percentileContSql,
    "x37_heavy_hitters" -> heavyHittersSql,
    "b51_robust_mad" -> robustMadSql)
}
