package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{BoundedSort, OracleSafe}

/** B48 — last-touch conversion attribution: every purchase is credited
  * to the user's most recent preceding touch event (view/click) within
  * a 7-day lookback, or to 'organic' when none exists — the marketing
  * attribution query every event warehouse runs, and the credit-
  * assignment completion of x38's funnel (which measures progression,
  * not credit).
  *
  * One user-keyed window does all the work: events sort once per user
  * by (µs, event_id) — a TOTAL order, ties broken by the unique id —
  * and the carried touch is `last(…, ignoreNulls)` over the frame
  * [unbounded, 1 PRECEDING] of touch-only-marked columns (strictly
  * before the purchase; the same frame on both engines). The carried
  * type and timestamp ride as two IGNORE-NULLS columns null-marked by
  * the same predicate, so they always come from the same touch row.
  * No self-join: the textbook purchases×touches join shuffles the
  * event table twice and blows up on hot users; the window shape is
  * one exchange + one sort, and the rollup reuses nothing heavier
  * than ≤ |types|+1 rows.
  *
  * Parity: the lookback test runs on exact µs integers; value sums go
  * through DECIMAL(27,6) (OracleSafe); mean seconds-to-convert is one
  * division of an exact i64 µs sum.
  */
object Attribution {

  private val lookbackUs = 7L * 24 * 3600 * 1000000L

  def lastTouch(spark: SparkSession, dir: String): DataFrame =
    lastTouchOf(Tables.events(spark, dir))

  /** Core of B48 over any events-shaped frame (ScaleBench seam). */
  private[graft] def lastTouchOf(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events
      .select($"user_id", $"event_type", $"value", $"event_id",
        unix_micros($"ts").as("us"))

    val isTouch = $"event_type" === "view" || $"event_type" === "click"
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val attributed = ev
      .withColumn("t_type",
        last(when(isTouch, $"event_type"), ignoreNulls = true).over(w))
      .withColumn("t_us",
        last(when(isTouch, $"us"), ignoreNulls = true).over(w))
      .where($"event_type" === "purchase")
      .select(
        when($"t_us".isNotNull && $"us" - $"t_us" <= lookbackUs, $"t_type")
          .otherwise("organic").as("touch_type"),
        $"value",
        when($"t_us".isNotNull && $"us" - $"t_us" <= lookbackUs,
          $"us" - $"t_us").as("gap_us"))

    BoundedSort.orderBy(attributed.groupBy($"touch_type")
      .agg(count(lit(1)).as("n_conversions"),
        OracleSafe.dsum($"value").as("attributed_value"),
        sum($"gap_us").as("sum_gap_us"),
        count($"gap_us").as("n_attributed"))
      .select($"touch_type", $"n_conversions", $"attributed_value",
        (coalesce($"sum_gap_us", lit(0L)).cast("double") /
          (lit(1000000.0) *
            when($"n_attributed" === 0L, 1L).otherwise($"n_attributed")))
          .as("mean_gap_sec")))($"touch_type")
  }

  val lastTouchSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_type, value, event_id,
       |         epoch_us(ts) AS us
       |  FROM events
       |), marked AS (
       |  SELECT *,
       |         LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
       |                         THEN event_type END IGNORE NULLS)
       |           OVER (PARTITION BY user_id ORDER BY us, event_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |           AS t_type,
       |         LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
       |                         THEN us END IGNORE NULLS)
       |           OVER (PARTITION BY user_id ORDER BY us, event_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |           AS t_us
       |  FROM ev
       |), attributed AS (
       |  SELECT CASE WHEN t_us IS NOT NULL AND us - t_us <= $lookbackUs
       |              THEN t_type ELSE 'organic' END AS touch_type,
       |         value,
       |         CASE WHEN t_us IS NOT NULL AND us - t_us <= $lookbackUs
       |              THEN us - t_us END AS gap_us
       |  FROM marked
       |  WHERE event_type = 'purchase'
       |)
       |SELECT touch_type, count(*) AS n_conversions,
       |       ${OracleSafe.sqlSum("value")} AS attributed_value,
       |       CAST(coalesce(sum(gap_us), 0) AS DOUBLE)
       |         / (1000000.0 * CASE WHEN count(gap_us) = 0 THEN 1
       |                             ELSE count(gap_us) END)
       |         AS mean_gap_sec
       |FROM attributed
       |GROUP BY touch_type
       |ORDER BY touch_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b48_last_touch_attribution" -> lastTouch _)

  val oracles: Map[String, String] = Map(
    "b48_last_touch_attribution" -> lastTouchSql)
}
