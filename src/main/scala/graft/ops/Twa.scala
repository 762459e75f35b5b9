package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.FinalSort

/** B50 — time-weighted average over an irregular event series: per
  * user, the piecewise-constant integral of `value` over the user's
  * timeline divided by its span (each reading holds until the next
  * one) — the standard downsampling/billing/telemetry aggregate for
  * irregular samples, where a plain avg() over-weights bursts.
  *
  * One user-keyed window (lead on the (µs, event_id) total order)
  * derives each interval; the rest is a per-user groupBy — per-user
  * state only, embarrassingly parallel across users. The window, the
  * groupBy and the final sort share one user-keyed range exchange
  * (`FinalSort.keyed`).
  *
  * Parity is EXACT-INTEGER, not decimal: `value` carries 2 decimal
  * digits (telemetry schema), so `round(value·100)` is an exact i64
  * and each interval contributes `q · Δt_µs` — pure i64 products
  * summed associatively (headroom: max per-user sum at sf0.1 is
  * 2.2e16, 400× under i64.max). A double·decimal path here would NOT
  * be engine-stable: the products reach ~1e13, where Spark's
  * double→decimal cast (shortest-repr BigDecimal) and DuckDB's
  * (exact binary) round differently — measured 3e-2 abs divergence.
  * The emitted doubles (`weighted_sum` in value·µs, `twa`) are each
  * ONE division of identical i64 operands → IEEE-identical. Users
  * with a single event have no interval and drop out.
  */
object Twa {

  def timeWeightedAvg(spark: SparkSession, dir: String): DataFrame =
    timeWeightedAvgOf(Tables.events(spark, dir))

  /** B50 over any events-shaped frame — ScaleBench seam. */
  private[graft] def timeWeightedAvgOf(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val intervals = ev.select($"user_id", unix_micros($"ts").as("us"), $"event_id",
      round($"value" * 100).cast("long").as("q"))
    FinalSort.keyed(intervals, $"user_id")(
      _.withColumn("next_us", lead($"us", 1).over(w))
        .filter($"next_us".isNotNull)
        .groupBy($"user_id")
        .agg(
          count(lit(1)).as("n_intervals"),
          sum($"next_us" - $"us").as("span_us"),
          sum($"q" * ($"next_us" - $"us")).as("wq"))
        .select($"user_id", $"n_intervals", $"span_us",
          ($"wq".cast("double") / 100.0).as("weighted_sum"),
          ($"wq".cast("double") / (lit(100.0) * $"span_us".cast("double")))
            .as("twa")))(
      $"user_id")
  }

  val timeWeightedAvgSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, epoch_us(ts) AS us, event_id,
       |         CAST(round(value * 100) AS BIGINT) AS q
       |  FROM events
       |), iv AS (
       |  SELECT user_id, us, q,
       |         lead(us) OVER (PARTITION BY user_id
       |                        ORDER BY us, event_id) AS next_us
       |  FROM ev
       |)
       |SELECT user_id, count(*) AS n_intervals,
       |       CAST(sum(next_us - us) AS BIGINT) AS span_us,
       |       CAST(CAST(sum(q * (next_us - us)) AS BIGINT) AS DOUBLE) / 100.0
       |         AS weighted_sum,
       |       CAST(CAST(sum(q * (next_us - us)) AS BIGINT) AS DOUBLE)
       |         / (100.0 * CAST(CAST(sum(next_us - us) AS BIGINT) AS DOUBLE))
       |         AS twa
       |FROM iv
       |WHERE next_us IS NOT NULL
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b50_time_weighted_avg" -> timeWeightedAvg _)

  val oracles: Map[String, String] = Map(
    "b50_time_weighted_avg" -> timeWeightedAvgSql)
}
