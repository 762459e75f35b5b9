package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.BoundedSort

/** B40 — interval-overlap join between two DERIVED interval sets, both of
  * which grow with the data (so neither side may be broadcast, unlike the
  * 4-literal-row tier table of b07): per-user daily purchase windows
  * [first purchase µs, last purchase µs] joined against per-event-type
  * hourly activity windows, keeping pairs whose intervals overlap.
  *
  * Spark has no native interval join — the naive form is a theta join
  * (`a.lo <= b.hi AND b.lo <= a.hi`), which Spark can only execute as a
  * nested-loop over every (a, b) pair: quadratic, and the textbook 100 TB
  * killer. The engine's plan is the standard time-bucketed rewrite:
  *
  *  - each interval explodes into the 6-hour bucket ids it spans
  *    (`sequence(lo div W, hi div W)` — exact i64 arithmetic, and the
  *    fan-out is bounded by interval-length / W, ≤ 5 for a daily window);
  *  - candidates come ONLY from the bucket equi-join (a hash join that
  *    partitions by time — work per bucket is bounded by the activity
  *    density in that 6 hours, not by table size);
  *  - the true `overlap` predicate filters the candidates;
  *  - duplicate hits (a pair sharing several buckets) are eliminated
  *    WITHOUT a distinct shuffle: a pair is emitted only in the first
  *    bucket both intervals occupy (`greatest(a.lo, b.lo) div W = bucket`)
  *    — every other shared bucket drops the row at the filter, so the
  *    join output needs no dedup pass.
  *
  * Parity: all interval endpoints are exact i64 microseconds
  * (`unix_micros` ↔ DuckDB `epoch_us`), overlap durations are i64
  * differences summed as BIGINT — the oracle is the pure quadratic theta
  * join, so the hash gate proves the bucketed plan computes exactly the
  * brute-force answer.
  */
object Intervals {

  /** 6-hour bucket width in microseconds. */
  val BucketUs: Long = 6L * 3600 * 1000000

  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    BoundedSort.orderBy(overlapPairs(Tables.events(spark, dir))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(least($"a_hi", $"b_hi") - greatest($"a_lo", $"b_lo")).as("overlap_us")))(
      $"event_type")
  }

  /** Pair-level core of B40 over any events-shaped frame (test seam):
    * one row per overlapping (user-day purchase window, type-hour
    * activity window) pair, produced by the bucketed plan described in
    * the object doc.
    */
  def overlapPairs(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events
      .select($"user_id", $"event_type", $"ts", unix_micros($"ts").as("us"))

    // side A: per-user-per-day purchase window (scales with users × days)
    val purchases = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(min($"us").as("a_lo"), max($"us").as("a_hi"))

    // side B: per-type-per-hour activity window (scales with types × hours)
    val activity = ev
      .groupBy($"event_type", expr("us div 3600000000").as("hour_id"))
      .agg(min($"us").as("b_lo"), max($"us").as("b_hi"))

    val w = BucketUs
    val a = purchases.withColumn("bucket",
      explode(expr(s"sequence(a_lo div ${w}L, a_hi div ${w}L)")))
    val b = activity.withColumn("bucket",
      explode(expr(s"sequence(b_lo div ${w}L, b_hi div ${w}L)")))

    a.join(b, Seq("bucket"))
      .filter($"a_lo" <= $"b_hi" && $"b_lo" <= $"a_hi")
      // emit each overlapping pair exactly once: in the first shared bucket
      .filter(expr(s"greatest(a_lo, b_lo) div ${w}L") === $"bucket")
  }

  val intervalJoinSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |a AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |         min(us) AS a_lo, max(us) AS a_hi
      |  FROM ev WHERE event_type = 'purchase'
      |  GROUP BY 1, 2),
      |b AS (
      |  SELECT event_type, us // 3600000000 AS hour_id,
      |         min(us) AS b_lo, max(us) AS b_hi
      |  FROM ev
      |  GROUP BY 1, 2)
      |SELECT event_type,
      |       count(*) AS n_pairs,
      |       CAST(sum(least(a_hi, b_hi) - greatest(a_lo, b_lo)) AS BIGINT) AS overlap_us
      |FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b40_interval_join" -> intervalJoin _)

  val oracles: Map[String, String] = Map(
    "b40_interval_join" -> intervalJoinSql)
}
