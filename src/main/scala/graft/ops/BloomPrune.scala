package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{GraftFunctions, Tables}
import graft.functions.{BoundedSort, OracleSafe}

/** B55 — Bloom-pruned semi-join: revenue of lineitems belonging to
  * high-value orders, with the fact scan pre-filtered by a Bloom
  * filter of the qualifying order keys BEFORE any exchange — the
  * runtime-filter technique (Spark's own `BloomFilterAggregate` +
  * `BloomFilterMightContain` machinery, which `InjectRuntimeFilter`
  * applies behind cost thresholds; here it is explicit and
  * deterministic, surfaced through the GraftFunctions SQL
  * registrations). At 100 TB this is the semi-join shape that
  * survives: the build side collapses to one scalar-subquery row of
  * bits broadcast into the probe-side filter, non-qualifying facts
  * drop AT THE SCAN (no shuffle of rows that cannot match — the
  * non-partition-key analog of DPP), and the exact semi-join
  * afterwards only pays for survivors.
  *
  * Correctness does not depend on the filter: a Bloom pass admits a
  * superset of the true matches (false positives only — never a false
  * negative), and the exact semi-join behind it removes them, so the
  * DuckDB oracle is the PLAIN semi-join and the hash gate proves the
  * pruned plan lossless (the x62/x63 "oracle is the brute force"
  * argument applied to an optimization). Revenue goes through
  * OracleSafe decimal sums.
  */
object BloomPrune {

  /** Orders qualify above this total price (splits the fixture). */
  val PriceFloor = 150000.0

  def bloomPrunedSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    // The scalar-subquery + scan-pushed predicate shape needs SQL over
    // views, but catalog names are SESSION state — a fixed name would
    // couple interleaved calls from two dirs (ADVICE r9). Scope the
    // views per dir (stable hash suffix → idempotent re-registration
    // for the same dir, distinct names across dirs).
    val tag = java.lang.Integer.toHexString(dir.hashCode) // String.hashCode is spec-stable
    val ordersView = s"b55_orders_$tag"
    val lineitemView = s"b55_lineitem_$tag"
    Tables.orders(spark, dir).createOrReplaceTempView(ordersView)
    Tables.lineitem(spark, dir).createOrReplaceTempView(lineitemView)
    BoundedSort.orderBy(spark.sql(
      s"""WITH hot AS (
         |  SELECT o_orderkey FROM $ordersView
         |  WHERE o_totalprice > $PriceFloor)
         |SELECT l.l_returnflag,
         |       count(*) AS n_items,
         |       ${OracleSafe.sqlSum("l.l_extendedprice * (1.0 - l.l_discount)")}
         |         AS revenue_q
         |FROM $lineitemView l
         |WHERE might_contain(
         |        (SELECT bloom_filter_agg(xxhash64(o_orderkey),
         |                CAST(100000 AS BIGINT), CAST(800000 AS BIGINT))
         |         FROM hot),
         |        xxhash64(l.l_orderkey))
         |  AND l.l_orderkey IN (SELECT o_orderkey FROM hot)
         |GROUP BY l.l_returnflag""".stripMargin))(col("l_returnflag"))
  }

  /** The plain semi-join — the Bloom pass is a lossless optimization,
    * so the oracle needs no filter analog at all.
    */
  val bloomPrunedSemiJoinSql: String =
    s"""SELECT l.l_returnflag,
      |       count(*) AS n_items,
      |       ${OracleSafe.sqlSum("l.l_extendedprice * (1.0 - l.l_discount)")}
      |         AS revenue_q
      |FROM lineitem l
      |WHERE l.l_orderkey IN (
      |  SELECT o_orderkey FROM orders WHERE o_totalprice > $PriceFloor)
      |GROUP BY l.l_returnflag
      |ORDER BY l.l_returnflag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b55_bloom_prune_semi" -> bloomPrunedSemiJoin _)

  val oracles: Map[String, String] = Map(
    "b55_bloom_prune_semi" -> bloomPrunedSemiJoinSql)
}
