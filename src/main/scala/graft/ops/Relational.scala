package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{BoundedSort, FinalSort}
import graft.functions.OracleSafe._

/** The relational core (SURVEY.md §2.4, ids B1-B20): one named query per
  * operator family over the TPC-H-ish testdata. The reference delegates
  * all of this to Spark (it implements no relational operators of its
  * own, `/root/reference/Processing&Storing/spark_processor.py` uses only
  * select/groupBy/agg), so these are the engine-baseline capabilities
  * re-expressed as declarative DataFrame plans Catalyst can optimize.
  *
  * Scale discipline applied throughout:
  *  - dimension sides of joins are explicitly `broadcast()` (region,
  *    nation, supplier, tier tables) — no shuffle for the big side;
  *  - fact-fact joins (lineitem ⋈ orders) stay as shuffle joins keyed on
  *    the join column so AQE can pick SMJ/skew-handling at runtime;
  *  - aggregates are map-side partial by construction (hash aggregate);
  *  - every query carries a stable ORDER BY so results are deterministic
  *    for the oracle hash-compare (ties broken by a unique key).
  */
object Relational {

  /** B1 — projection+filter scan; predicate and column pruning must reach
    * the parquet reader (verified in RelationalSpec via the plan's
    * PushedFilters).
    */
  def scanPushdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1995-06-01").cast("timestamp") &&
        $"l_shipdate" < lit("1995-09-01").cast("timestamp"))
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_shipdate".cast("timestamp_ntz").as("l_shipdate"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val scanPushdownSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_shipdate < TIMESTAMP '1995-09-01'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** B2 — predicate families: IN, BETWEEN, null-safe conjunctions. */
  def filterPredicates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .filter($"o_orderstatus".isin("F", "P") &&
        $"o_totalprice".between(1000.0, 200000.0) &&
        $"o_orderpriority".isNotNull &&
        !$"o_orderpriority".startsWith("5"))
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice", $"o_orderpriority")
      .orderBy($"o_orderkey")
  }

  val filterPredicatesSql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_orderstatus IN ('F','P')
      |  AND o_totalprice BETWEEN 1000.0 AND 200000.0
      |  AND o_orderpriority IS NOT NULL
      |  AND o_orderpriority NOT LIKE '5%'
      |ORDER BY o_orderkey""".stripMargin

  /** B3 — star join with explicitly broadcast dimensions:
    * customer ⋈ nation ⋈ region, revenue rollup per region/nation.
    * At 100 TB the fact side streams; nation/region (25/5 rows) ship to
    * every executor once.
    */
  def joinBroadcastStar(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val customer = Tables.customer(spark, dir)
    val nation = broadcast(Tables.nation(spark, dir))
    val region = broadcast(Tables.region(spark, dir))
    customer
      .join(nation, $"c_nationkey" === $"n_nationkey")
      .join(region, $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(
        count(lit(1)).as("n_customers"),
        dsum($"c_acctbal").as("sum_acctbal"),
        davg($"c_acctbal").as("avg_acctbal"))
      .orderBy($"r_name", $"n_name")
  }

  val joinBroadcastStarSql: String =
    s"""SELECT r_name, n_name,
       |       count(*) AS n_customers,
       |       ${sqlSum("c_acctbal")} AS sum_acctbal,
       |       ${sqlAvg("c_acctbal")} AS avg_acctbal
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name
       |ORDER BY r_name, n_name""".stripMargin

  /** B4 — fact-fact equi-join (shuffle/sort-merge side): lineitem ⋈
    * orders on orderkey, order-priority shipping stats. Left as a keyed
    * shuffle join so AQE picks the physical strategy (and skew handling)
    * at runtime.
    */
  def joinFactFact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"o_orderpriority")
  }

  val joinFactFactSql: String =
    s"""SELECT o_orderpriority,
       |       count(*) AS n_lines,
       |       ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** B5 — left outer join preserving customers with no orders. */
  def joinLeftOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey", $"c_name")
      .agg(
        count($"o_orderkey").as("n_orders"),
        dsum(coalesce($"o_totalprice", lit(0.0))).as("sum_totalprice"))
      .orderBy($"c_custkey")
  }

  val joinLeftOuterSql: String =
    s"""SELECT c_custkey, c_name,
       |       count(o_orderkey) AS n_orders,
       |       ${sqlSum("coalesce(o_totalprice, 0.0)")} AS sum_totalprice
       |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       |GROUP BY c_custkey, c_name
       |ORDER BY c_custkey""".stripMargin

  /** B5b — full outer join of per-nation customer vs supplier counts. */
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val custPerNation = Tables.customer(spark, dir)
      .groupBy($"c_nationkey".as("nationkey")).agg(count(lit(1)).as("n_customers"))
    val suppPerNation = Tables.supplier(spark, dir)
      .groupBy($"s_nationkey".as("nationkey")).agg(count(lit(1)).as("n_suppliers"))
    custPerNation.as("c")
      .join(suppPerNation.as("s"), $"c.nationkey" === $"s.nationkey", "full")
      .select(
        coalesce($"c.nationkey", $"s.nationkey").as("nationkey"),
        coalesce($"n_customers", lit(0L)).as("n_customers"),
        coalesce($"n_suppliers", lit(0L)).as("n_suppliers"))
      .orderBy($"nationkey")
  }

  val joinFullOuterSql: String =
    """SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
      |       coalesce(n_customers, 0) AS n_customers,
      |       coalesce(n_suppliers, 0) AS n_suppliers
      |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_customers FROM customer GROUP BY 1) c
      |FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers FROM supplier GROUP BY 1) s
      |  ON c.nationkey = s.nationkey
      |ORDER BY nationkey""".stripMargin

  /** B6 — left-semi and left-anti joins: customers with at least one
    * urgent order, minus those who also have a low-priority order.
    */
  def joinSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
    val urgent = orders.filter($"o_orderpriority" === "1-URGENT")
    val low = orders.filter($"o_orderpriority" === "5-LOW")
    Tables.customer(spark, dir)
      .join(urgent, $"c_custkey" === urgent("o_custkey"), "left_semi")
      .join(low, $"c_custkey" === low("o_custkey"), "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  val joinSemiAntiSql: String =
    // NOT EXISTS, not NOT IN: a single null o_custkey would make NOT IN
    // return zero rows while left_anti keeps non-matches — EXISTS forms
    // share left_semi/left_anti's null semantics exactly
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |                AND o.o_orderpriority = '1-URGENT')
      |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderpriority = '5-LOW')
      |ORDER BY c_custkey""".stripMargin

  /** B7 — non-equi (range) join: price-tier table joined on a BETWEEN
    * predicate. The tier side is 4 literal rows, so the broadcast
    * nested-loop join this produces is the *right* physical plan — the
    * big side never shuffles.
    */
  def joinRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tiers = Seq(
      ("t1_small", 0.0, 50000.0),
      ("t2_medium", 50000.0, 150000.0),
      ("t3_large", 150000.0, 300000.0),
      ("t4_jumbo", 300000.0, 1e18)).toDF("tier", "lo", "hi")
    Tables.orders(spark, dir)
      .join(broadcast(tiers), $"o_totalprice" >= $"lo" && $"o_totalprice" < $"hi")
      .groupBy($"tier")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"tier")
  }

  val joinRangeSql: String =
    s"""SELECT tier, count(*) AS n_orders, ${sqlSum("o_totalprice")} AS sum_price
       |FROM orders
       |JOIN (VALUES ('t1_small', 0.0, 50000.0),
       |             ('t2_medium', 50000.0, 150000.0),
       |             ('t3_large', 150000.0, 300000.0),
       |             ('t4_jumbo', 300000.0, 1e18)) tiers(tier, lo, hi)
       |  ON o_totalprice >= lo AND o_totalprice < hi
       |GROUP BY tier
       |ORDER BY tier""".stripMargin

  /** B8 — cross join (two tiny dimensions; anything larger must be
    * blocked — see Vector.pairwiseSimilarity for the blocked pattern).
    */
  def crossJoinDims(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.region(spark, dir).crossJoin(Tables.nation(spark, dir))
      .select($"r_name", $"n_name", ($"r_regionkey" === $"n_regionkey").as("same_region"))
      .orderBy($"r_name", $"n_name")
  }

  val crossJoinDimsSql: String =
    """SELECT r_name, n_name, (r_regionkey = n_regionkey) AS same_region
      |FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin

  /** B9 — multi-key hash aggregate with count(distinct): the TPC-H Q1
    * shape (the canonical map-side-partial aggregation benchmark).
    *
    * The discounted/charged sums run in EXACT DECIMAL from the raw
    * 2-decimal columns — (12,2)·(5,2)·(5,2) stays ≤ scale-6 exact in
    * both engines — not as dsum over a computed double term: the 10×
    * gate caught the double path (round-14) with a one-decimal-ulp
    * drift, because Spark's double→decimal cast goes through the
    * SHORTEST decimal string while DuckDB rounds the binary expansion —
    * for a product sitting within string-shortening distance of a
    * .0000005 boundary the two round opposite ways (a cousin of the
    * x158 FMA lesson: never hand a COMPUTED double to a cross-engine
    * rounding boundary when the exact rational is available).
    */
  def aggPricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val priceD = $"l_extendedprice".cast("decimal(12,2)")
    val discD = lit(1.0).cast("decimal(4,2)") -
      $"l_discount".cast("decimal(4,2)")
    val taxD = lit(1.0).cast("decimal(4,2)") +
      $"l_tax".cast("decimal(4,2)")
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= lit("1998-09-01").cast("timestamp"))
      // the local single-row-group parquet yields ONE input split, so the
      // decimal partial aggregation would run on one core; the keyed
      // exchange fans the map-side pass across all of them (after the
      // pushed filter, so pushdown is intact). Hash on l_orderkey, not
      // round-robin: a keyless repartition first pays a defensive local
      // sort of its whole input partition (sortBeforeRepartition,
      // SPARK-23207 — single-threaded here by construction), and the
      // deterministic key also removes the retry hazard the sort guards
      // against (guide §2.5). At cluster scale the scan's natural splits
      // provide this parallelism and the exchange is one cheap hop.
      .repartition(spark.sparkContext.defaultParallelism, $"l_orderkey")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        decQ6ToDouble(sum((priceD * discD).cast("decimal(27,6)")))
          .as("sum_disc_price"),
        decQ6ToDouble(sum((priceD * discD * taxD).cast("decimal(27,6)")))
          .as("sum_charge"),
        davg($"l_quantity").as("avg_qty"),
        davg($"l_extendedprice").as("avg_price"),
        davg($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"),
        countDistinct($"l_orderkey").as("n_orders"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val aggPricingSummarySql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |       ${sqlSum("l_quantity")} AS sum_qty,
       |       ${sqlSum("l_extendedprice")} AS sum_base_price,
       |       ${sqlDecQ6ToDouble("sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(27,6)))")} AS sum_disc_price,
       |       ${sqlDecQ6ToDouble("sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1.0 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2))) AS DECIMAL(27,6)))")} AS sum_charge,
       |       ${sqlAvg("l_quantity")} AS avg_qty,
       |       ${sqlAvg("l_extendedprice")} AS avg_price,
       |       ${sqlAvg("l_discount")} AS avg_disc,
       |       count(*) AS count_order,
       |       count(DISTINCT l_orderkey) AS n_orders
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** B10 — rollup (grouping sets): order counts by status × priority with
    * subtotals. Grouping-null keys are coalesced to 'ALL' so the output
    * (and its sort) is null-free and engine-portable.
    */
  def aggRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    BoundedSort.orderBy(Tables.orders(spark, dir)
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(
        grouping_id($"o_orderstatus", $"o_orderpriority").cast("long").as("gid"),
        count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
      .select(
        $"gid",
        coalesce($"o_orderstatus", lit("ALL")).as("o_orderstatus"),
        coalesce($"o_orderpriority", lit("ALL")).as("o_orderpriority"),
        $"n_orders", $"sum_price"))($"gid", $"o_orderstatus", $"o_orderpriority")
  }

  val aggRollupSql: String =
    s"""SELECT CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
       |       coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
       |       coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       |       count(*) AS n_orders,
       |       ${sqlSum("o_totalprice")} AS sum_price
       |FROM orders
       |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
       |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin

  /** B10b — cube over part brand × size-bucket. */
  def aggCube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    BoundedSort.orderBy(Tables.part(spark, dir)
      // floor, not cast: DuckDB's double→int cast rounds, Spark's truncates
      .withColumn("size_bucket", floor($"p_size" / 10) * 10)
      .cube($"p_brand", $"size_bucket")
      .agg(
        grouping_id($"p_brand", $"size_bucket").cast("long").as("gid"),
        count(lit(1)).as("n_parts"), davg($"p_retailprice").as("avg_price"))
      .select(
        $"gid",
        coalesce($"p_brand", lit("ALL")).as("p_brand"),
        coalesce($"size_bucket", lit(-1L)).as("size_bucket"),
        $"n_parts", $"avg_price"))($"gid", $"p_brand", $"size_bucket")
  }

  val aggCubeSql: String =
    s"""SELECT CAST(grouping(p_brand) * 2 + grouping(size_bucket) AS BIGINT) AS gid,
       |       coalesce(p_brand, 'ALL') AS p_brand,
       |       coalesce(size_bucket, -1) AS size_bucket,
       |       count(*) AS n_parts,
       |       ${sqlAvg("p_retailprice")} AS avg_price
       |FROM (SELECT *, CAST(floor(p_size / 10) AS BIGINT) * 10 AS size_bucket FROM part)
       |GROUP BY CUBE (p_brand, size_bucket)
       |ORDER BY gid, p_brand, size_bucket""".stripMargin

  /** B10c — explicit GROUPING SETS (the general form rollup/cube are
    * sugar for): (status, priority) detail + per-status subtotal + grand
    * total, with the grouping_id disambiguating real NULL keys from
    * subtotal rows. Same single-shuffle Expand plan as rollup/cube.
    */
  def aggGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    BoundedSort.orderBy(Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq($"o_orderstatus", $"o_orderpriority"), Seq($"o_orderstatus"), Seq()),
        $"o_orderstatus", $"o_orderpriority")
      .agg(
        grouping_id($"o_orderstatus", $"o_orderpriority").cast("long").as("gid"),
        count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
      .select(
        $"gid",
        coalesce($"o_orderstatus", lit("ALL")).as("o_orderstatus"),
        coalesce($"o_orderpriority", lit("ALL")).as("o_orderpriority"),
        $"n_orders", $"sum_price"))($"gid", $"o_orderstatus", $"o_orderpriority")
  }

  val aggGroupingSetsSql: String =
    s"""SELECT CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
       |       coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
       |       coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       |       count(*) AS n_orders,
       |       ${sqlSum("o_totalprice")} AS sum_price
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
       |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin

  /** B12 — ranking window functions: top-3 customers per nation by
    * account balance (ties broken by key so ranks are deterministic).
    */
  def windowRanking(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".desc, $"c_custkey".asc)
    FinalSort.keyed(Tables.customer(spark, dir), $"c_nationkey")(
      _.withColumn("rn", row_number().over(w))
        .withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .filter($"rn" <= 3)
        .select($"c_nationkey", $"rn", $"rnk", $"drnk", $"c_custkey", $"c_acctbal"))(
      $"c_nationkey", $"rn")
  }

  val windowRankingSql: String =
    """SELECT c_nationkey, rn, rnk, drnk, c_custkey, c_acctbal
      |FROM (SELECT c_nationkey, c_custkey, c_acctbal,
      |             row_number() OVER w AS rn,
      |             rank() OVER w AS rnk,
      |             dense_rank() OVER w AS drnk
      |      FROM customer
      |      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC))
      |WHERE rn <= 3
      |ORDER BY c_nationkey, rn""".stripMargin

  /** B12b — distribution window functions: ntile quartiles plus the
    * percent_rank/cume_dist positions per nation. The window's ORDER BY
    * is a total order (balance, then key), so every rank — and therefore
    * every distribution value, each one a single IEEE division of exact
    * integers — is engine-deterministic.
    */
  def windowDistribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".desc, $"c_custkey".asc)
    FinalSort.keyed(
      Tables.customer(spark, dir).select($"c_nationkey", $"c_custkey", $"c_acctbal"),
      $"c_nationkey")(
      _.withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w)))(
      $"c_nationkey", $"c_acctbal".desc, $"c_custkey")
  }

  val windowDistributionSql: String =
    """SELECT c_nationkey, c_custkey, c_acctbal,
      |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |       percent_rank() OVER w AS pr,
      |       cume_dist() OVER w AS cd
      |FROM customer
      |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
      |ORDER BY c_nationkey, c_acctbal DESC, c_custkey""".stripMargin

  /** B13 — analytic window functions: per-customer order timeline with
    * lag/lead and a running (decimal-exact) total.
    */
  def windowAnalytic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    FinalSort.keyed(Tables.orders(spark, dir), $"o_custkey")(
      _.withColumn("prev_price", lag($"o_totalprice", 1).over(w))
        .withColumn("next_price", lead($"o_totalprice", 1).over(w))
        .withColumn("running_total",
          sum($"o_totalprice".cast("decimal(27,6)")).over(wRun).cast("double"))
        .select($"o_custkey", $"o_orderkey",
          $"o_orderdate".cast("timestamp_ntz").as("o_orderdate"),
          $"o_totalprice", $"prev_price", $"next_price", $"running_total"))(
      $"o_custkey", $"o_orderdate", $"o_orderkey")
  }

  val windowAnalyticSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |       lag(o_totalprice, 1) OVER w AS prev_price,
      |       lead(o_totalprice, 1) OVER w AS next_price,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) OVER
      |            (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** B14 — global multi-column sort (total-order range exchange). */
  def sortGlobal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"l_quantity")
      .orderBy($"l_returnflag".desc, $"l_orderkey".asc, $"l_linenumber".asc)
  }

  val sortGlobalSql: String =
    """SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity
      |FROM lineitem
      |ORDER BY l_returnflag DESC, l_orderkey ASC, l_linenumber ASC""".stripMargin

  /** B15 — top-k: orderBy+limit compiles to TakeOrderedAndProject (per-
    * partition heaps + driver merge of k rows — no global sort at scale).
    */
  def topK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(25)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
  }

  val topKSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 25""".stripMargin

  /** B16 — set operations: union / intersect / except on key sets. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val urgentCust = Tables.orders(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT").select($"o_custkey".as("custkey"))
    val highCust = Tables.orders(spark, dir)
      .filter($"o_orderpriority" === "2-HIGH").select($"o_custkey".as("custkey"))
    val bothSets = urgentCust.intersect(highCust).withColumn("set_op", lit("intersect"))
    val urgentOnly = urgentCust.except(highCust).withColumn("set_op", lit("except"))
    val unioned = urgentCust.union(highCust).distinct().withColumn("set_op", lit("union"))
    bothSets.union(urgentOnly).union(unioned)
      .select($"set_op", $"custkey")
      .orderBy($"set_op", $"custkey")
  }

  val setOpsSql: String =
    """WITH u AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
      |     h AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '2-HIGH')
      |SELECT 'intersect' AS set_op, custkey FROM (SELECT custkey FROM u INTERSECT SELECT custkey FROM h)
      |UNION ALL
      |SELECT 'except' AS set_op, custkey FROM (SELECT custkey FROM u EXCEPT SELECT custkey FROM h)
      |UNION ALL
      |SELECT 'union' AS set_op, custkey FROM (SELECT DISTINCT custkey FROM (SELECT custkey FROM u UNION ALL SELECT custkey FROM h))
      |ORDER BY set_op, custkey""".stripMargin

  /** B17 — deduplication, deterministic form: first row per key under an
    * explicit total order (row_number = 1), not `dropDuplicates` whose
    * survivor is partition-order-dependent.
    */
  def dedupFirstPerKey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey", $"o_orderstatus")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    FinalSort.keyed(Tables.orders(spark, dir), $"o_custkey", $"o_orderstatus")(
      _.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"o_custkey", $"o_orderstatus", $"o_orderkey",
          $"o_orderdate".cast("timestamp_ntz").as("o_orderdate")))(
      $"o_custkey", $"o_orderstatus")
  }

  val dedupFirstPerKeySql: String =
    """SELECT o_custkey, o_orderstatus, o_orderkey, o_orderdate
      |FROM (SELECT o_custkey, o_orderstatus, o_orderkey, o_orderdate,
      |             row_number() OVER (PARTITION BY o_custkey, o_orderstatus
      |                                ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
      |      FROM orders)
      |WHERE rn = 1
      |ORDER BY o_custkey, o_orderstatus""".stripMargin

  /** B18a — string function family. */
  def scalarString(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FinalSort.rowwise(Tables.part(spark, dir))($"p_partkey")(
      _.select(
        $"p_partkey",
        upper($"p_name").as("name_upper"),
        lower($"p_brand").as("brand_lower"),
        length($"p_name").cast("long").as("name_len"),
        substring($"p_type", 1, 5).as("type_prefix"),
        trim(concat($"p_brand", lit("  "))).as("brand_trimmed"),
        concat_ws("|", $"p_brand", $"p_type").as("brand_type"),
        regexp_replace($"p_name", "[aeiou]", "_").as("name_devoweled"),
        split($"p_type", " ").getItem(0).as("type_first_word"),
        $"p_name".like("%gold%").as("has_gold")))
  }

  val scalarStringSql: String =
    """SELECT p_partkey,
      |       upper(p_name) AS name_upper,
      |       lower(p_brand) AS brand_lower,
      |       CAST(length(p_name) AS BIGINT) AS name_len,
      |       substring(p_type, 1, 5) AS type_prefix,
      |       trim(p_brand || '  ') AS brand_trimmed,
      |       concat_ws('|', p_brand, p_type) AS brand_type,
      |       regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_devoweled,
      |       string_split(p_type, ' ')[1] AS type_first_word,
      |       (p_name LIKE '%gold%') AS has_gold
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  /** B18b — date/time function family (engine-portable forms: DuckDB's
    * dayofweek is 0-based Sunday, Spark's is 1-based, handled in the
    * oracle SQL).
    */
  def scalarDate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FinalSort.rowwise(Tables.orders(spark, dir))($"o_orderkey")(
      _.select(
        $"o_orderkey",
        year($"o_orderdate").as("order_year"),
        month($"o_orderdate").as("order_month"),
        dayofweek($"o_orderdate").as("order_dow"),
        date_trunc("month", $"o_orderdate").cast("timestamp_ntz").as("month_start"),
        datediff(lit("1998-12-31").cast("date"), $"o_orderdate".cast("date")).as("days_to_eoy"),
        unix_timestamp($"o_orderdate").as("epoch_s")))
  }

  val scalarDateSql: String =
    """SELECT o_orderkey,
      |       CAST(year(o_orderdate) AS INTEGER) AS order_year,
      |       CAST(month(o_orderdate) AS INTEGER) AS order_month,
      |       CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS order_dow,
      |       date_trunc('month', o_orderdate) AS month_start,
      |       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INTEGER) AS days_to_eoy,
      |       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** B18c — math + conditional families (last-ULP libm differences are
    * absorbed by round(…, 6)).
    */
  def scalarMathConditional(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FinalSort.rowwise(Tables.lineitem(spark, dir))($"l_orderkey", $"l_linenumber")(
      _.select(
        $"l_orderkey", $"l_linenumber",
        abs($"l_quantity" - lit(25.0)).as("qty_dev"),
        ceil($"l_extendedprice").cast("long").as("price_ceil"),
        floor($"l_extendedprice").cast("long").as("price_floor"),
        round(sqrt($"l_extendedprice"), 6).as("price_sqrt"),
        round(log($"l_extendedprice" + lit(1.0)), 6).as("price_ln"),
        round(pow($"l_discount", lit(2.0)), 6).as("disc_sq"),
        when($"l_quantity" > 40, "high").when($"l_quantity" > 15, "mid")
          .otherwise("low").as("qty_band"),
        coalesce(nullif($"l_returnflag", lit("N")), lit("none")).as("flag_or_none")))
  }

  val scalarMathConditionalSql: String =
    """SELECT l_orderkey, l_linenumber,
      |       abs(l_quantity - 25.0) AS qty_dev,
      |       CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
      |       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
      |       round(sqrt(l_extendedprice), 6) AS price_sqrt,
      |       round(ln(l_extendedprice + 1.0), 6) AS price_ln,
      |       round(pow(l_discount, 2.0), 6) AS disc_sq,
      |       CASE WHEN l_quantity > 40 THEN 'high' WHEN l_quantity > 15 THEN 'mid' ELSE 'low' END AS qty_band,
      |       coalesce(nullif(l_returnflag, 'N'), 'none') AS flag_or_none
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** B11 — approximate distinct (HLL++). No exact oracle by nature; the
    * driver records a rows-only check and RelationalSpec asserts the
    * estimate lands within 5× the configured rsd of the exact count.
    *
    * Both aggregates run over one shared dedup pass, NOT together in one
    * `agg`: mixing approx with countDistinct makes Spark's
    * distinct-rewrite key the *partial HLL buffers* by
    * (group, distinct-value) — 150k × 128 KB sketches at sf0.1, a ~50 s
    * memory blow-up. Instead: dedup to (group, value) first (a plain
    * two-phase hash aggregate), then count exactly and sketch
    * approximately over the deduped rows — HLL registers are insensitive
    * to duplicates, so the estimate is bit-identical to sketching the
    * raw multiset, with one scan and one big shuffle.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_orderkey").agg(count(lit(1)))
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_orderkey", 0.01).as("approx_orders"),
        count(lit(1)).as("exact_orders"))
      .orderBy($"l_returnflag")
  }

  /** B24 — the typed-Aggregator (UDAF) surface: second-largest distinct
    * quantity per (returnflag, linestatus) via graft.functions.SecondMax,
    * next to the built-in max for contrast. See SecondMax's scaladoc for
    * why its merge is scale-correct; the oracle derives the same value
    * independently (row_number over distinct values).
    */
  def udafSecondMax(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val secondMax = udaf(graft.functions.SecondMax)
    BoundedSort.orderBy(Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        max($"l_quantity").as("max_qty"),
        secondMax($"l_quantity").as("second_max_qty")))(
      $"l_returnflag", $"l_linestatus")
  }

  val udafSecondMaxSql: String =
    """WITH d AS (SELECT DISTINCT l_returnflag, l_linestatus, l_quantity FROM lineitem),
      |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag, l_linestatus
      |                                   ORDER BY l_quantity DESC) AS rn
      |      FROM d)
      |SELECT l_returnflag, l_linestatus,
      |       max(CASE WHEN rn = 1 THEN l_quantity END) AS max_qty,
      |       max(CASE WHEN rn = 2 THEN l_quantity END) AS second_max_qty
      |FROM r
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** B28 — salted skew join: lineitem ⋈ a per-returnflag dimension.
    * The natural key has 3 values (extreme skew: every row of a 100 TB
    * fact lands on 3 reducers). Salting fans each fact row to one of 16
    * synthetic sub-keys — deterministically, from a hash of its unique
    * key, never rand() — and replicates the tiny dimension across all 16,
    * so the shuffle spreads evenly; join semantics are unchanged, which
    * is exactly what the oracle checks (plain unsalted join in DuckDB).
    * (With AQE on, skew-join splitting handles moderate skew
    * automatically; explicit salting is the pattern for when one key
    * dominates a whole stage, and this query keeps it oracle-pinned.)
    */
  def saltedSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nSalts = 16
    val flagInfo = Seq(
      ("A", "accepted"), ("N", "none"), ("R", "returned"))
      .toDF("flag", "flag_desc")
    val saltedDim = flagInfo.crossJoin(
      spark.range(nSalts).select($"id".cast("int").as("salt")))
    val saltedFact = Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(hash($"l_orderkey", $"l_linenumber"), lit(nSalts)))
    BoundedSort.orderBy(saltedFact
      .join(saltedDim,
        $"l_returnflag" === $"flag" && saltedFact("salt") === saltedDim("salt"))
      .groupBy($"flag_desc")
      .agg(count(lit(1)).as("n_lines"), dsum($"l_quantity").as("sum_qty")))(
      $"flag_desc")
  }

  val saltedSkewJoinSql: String =
    s"""SELECT flag_desc, count(*) AS n_lines, ${sqlSum("l_quantity")} AS sum_qty
       |FROM lineitem
       |JOIN (VALUES ('A', 'accepted'), ('N', 'none'), ('R', 'returned'))
       |     flags(flag, flag_desc)
       |  ON l_returnflag = flag
       |GROUP BY flag_desc
       |ORDER BY flag_desc""".stripMargin

  /** B29 — deterministic (hash-systematic) sampling: keep a row iff
    * md5Long40(key) mod 100 < pct. Unlike `df.sample()` (whose output
    * depends on partition layout) or rand() (non-reproducible), the
    * sample is a pure function of the key — re-runnable, joinable across
    * tables sampled on the same key, and exactly mirrored by the oracle.
    * Stratification is free: the predicate is uniform within any stratum,
    * shown here with per-priority sampled counts next to the sample.
    */
  def deterministicSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Hashing.md5Long40
    BoundedSort.orderBy(Tables.orders(spark, dir)
      .filter(pmod(md5Long40($"o_orderkey".cast("string")), lit(100L)) < 10)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_sampled"),
        dsum($"o_totalprice").as("sum_sampled_price")))($"o_orderpriority")
  }

  val deterministicSampleSql: String = {
    import graft.functions.Hashing.sqlMd5Long40
    s"""SELECT o_orderpriority, count(*) AS n_sampled,
       |       ${sqlSum("o_totalprice")} AS sum_sampled_price
       |FROM orders
       |WHERE ${sqlMd5Long40("CAST(o_orderkey AS VARCHAR)")} % 100 < 10
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin
  }

  /** B30 — CDC-style merge/upsert: apply a change stream (insert /
    * update / delete ops) to a base table with deterministic conflict
    * resolution. The change set is synthesized from orders (op chosen by
    * the portable key hash; latest-order-wins within a key via
    * row_number) and applied as pure relational algebra: deletes
    * anti-join, updates overwrite via coalesce on a full outer join,
    * inserts flow through — the exact shape a foreachBatch MERGE runs at
    * scale (one keyed shuffle; Delta/Iceberg sinks swap in for the final
    * join without changing the plan above it).
    */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Hashing.md5Long40
    val base = Tables.customer(spark, dir)
      .select($"c_custkey".as("key"), $"c_acctbal".as("balance"))
    // change stream: latest order per customer decides; op = hash(key)%3
    val latest = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
    val changes = Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(latest))
      .filter($"rn" === 1)
      .withColumn("h", pmod(md5Long40($"o_custkey".cast("string")), lit(3L)))
      .select(
        when($"h" === 0, lit("D")).when($"h" === 1, lit("U"))
          .otherwise(lit("I")).as("op"),
        // inserts target fresh keys (key-space shifted); U/D hit the base
        when($"h" === 2, $"o_custkey" + 100000L).otherwise($"o_custkey").as("key"),
        $"o_totalprice".as("new_balance"))
    val deletes = changes.filter($"op" === "D").select($"key")
    val upserts = changes.filter($"op" =!= "D")
      .select($"key", $"new_balance")
    base
      .join(deletes, Seq("key"), "left_anti")
      .join(upserts, Seq("key"), "full_outer")
      .select($"key",
        coalesce($"new_balance", $"balance").as("balance"),
        when($"new_balance".isNotNull && $"balance".isNotNull, "updated")
          .when($"new_balance".isNotNull, "inserted")
          .otherwise("kept").as("row_state"))
      .orderBy($"key")
  }

  val mergeUpsertSql: String = {
    import graft.functions.Hashing.sqlMd5Long40
    val h = sqlMd5Long40("CAST(o_custkey AS VARCHAR)")
    s"""WITH base AS (SELECT c_custkey AS key, c_acctbal AS balance FROM customer),
       |latest AS (
       |  SELECT * FROM (
       |    SELECT o_custkey, o_totalprice,
       |           row_number() OVER (PARTITION BY o_custkey
       |                              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
       |           $h % 3 AS h
       |    FROM orders)
       |  WHERE rn = 1),
       |changes AS (
       |  SELECT CASE WHEN h = 0 THEN 'D' WHEN h = 1 THEN 'U' ELSE 'I' END AS op,
       |         CASE WHEN h = 2 THEN o_custkey + 100000 ELSE o_custkey END AS key,
       |         o_totalprice AS new_balance
       |  FROM latest),
       |kept AS (
       |  SELECT key, balance FROM base
       |  WHERE key NOT IN (SELECT key FROM changes WHERE op = 'D')),
       |ups AS (SELECT key, new_balance FROM changes WHERE op <> 'D')
       |SELECT coalesce(k.key, u.key) AS key,
       |       coalesce(u.new_balance, k.balance) AS balance,
       |       CASE WHEN u.new_balance IS NOT NULL AND k.balance IS NOT NULL THEN 'updated'
       |            WHEN u.new_balance IS NOT NULL THEN 'inserted'
       |            ELSE 'kept' END AS row_state
       |FROM kept k FULL JOIN ups u ON k.key = u.key
       |ORDER BY key""".stripMargin
  }

  /** B31 — correlated scalar subquery: customers whose order count
    * exceeds the average order count among their nation's customers,
    * written AS a correlated subquery (`spark.sql` over temp views) to
    * exercise Catalyst's DECORRELATION: the per-row subquery rewrites
    * into an aggregate + join, never a subquery execution per outer row
    * (pinned in RelationalSpec — the executed plan must contain the
    * decorrelated join and no per-row subquery node).
    *
    * Parity: the average divides an i64 order-count sum by an i64
    * customer count — identical IEEE operands in both engines.
    */
  def correlatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("b31_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("b31_orders")
    spark.sql(
      """WITH oc AS (
        |  SELECT o_custkey, count(*) AS cnt
        |  FROM b31_orders GROUP BY o_custkey),
        |c AS (
        |  SELECT c_custkey, c_nationkey, coalesce(cnt, 0) AS cnt
        |  FROM b31_customer LEFT JOIN oc ON c_custkey = o_custkey)
        |SELECT c_custkey, c_nationkey, cnt
        |FROM c c1
        |WHERE cnt > (SELECT avg(cnt) FROM c c2
        |             WHERE c2.c_nationkey = c1.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  val correlatedSubquerySql: String =
    """WITH oc AS (
      |  SELECT o_custkey, count(*) AS cnt
      |  FROM orders GROUP BY o_custkey),
      |c AS (
      |  SELECT c_custkey, c_nationkey, coalesce(cnt, 0) AS cnt
      |  FROM customer LEFT JOIN oc ON c_custkey = o_custkey)
      |SELECT c_custkey, c_nationkey, cnt
      |FROM c c1
      |WHERE cnt > (SELECT avg(cnt) FROM c c2
      |             WHERE c2.c_nationkey = c1.c_nationkey)
      |ORDER BY c_custkey""".stripMargin

  /** B32 — time-RANGE window frame: per event, the count and exact sum
    * of event values over the SAME USER's trailing 7 days — the
    * value-based frame (`RANGE BETWEEN`), where the window edge is a
    * timestamp bound, not a row offset; peers with equal timestamps
    * share one frame in both engines by definition. The ordering key is
    * `unix_micros(ts)` so the frame arithmetic is exact i64 µs (7 d =
    * 604_800_000_000 µs) — DuckDB's `RANGE INTERVAL 7 DAY PRECEDING`
    * over its µs timestamps computes the identical bound.
    *
    * Scale shape: one range exchange on user_id + per-user sort, shared
    * by the windows and the final sort (`FinalSort.keyed`); the frame sum
    * goes through decimal(27,6) (OracleSafe) so it is order-independent. Spark's WindowExec evaluates sliding
    * frames by re-accumulating from the frame start when the lower
    * bound moves (no retract path) — O(n·w) worst-case per hot user; at
    * open scale a skewed user stream would pre-aggregate to day buckets
    * first (the b21-style shrink) before windowing, trading frame
    * precision for a bounded w.
    */
  def windowRangeFrame(spark: SparkSession, dir: String): DataFrame =
    rangeFrameOf(Tables.events(spark, dir))

  /** Core of B32 over any (event_id, user_id, ts, value) frame; test
    * seam for the frame-boundary semantics. */
  private[graft] def rangeFrameOf(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val SevenDaysMicros = 7L * 24 * 3600 * 1000000
    val w = Window.partitionBy($"user_id").orderBy(unix_micros($"ts"))
      .rangeBetween(-SevenDaysMicros, Window.currentRow)
    FinalSort.keyed(events, $"user_id")(
      _.withColumn("n_7d", count(lit(1)).over(w))
        .withColumn("sum_7d",
          sum($"value".cast("decimal(27,6)")).over(w).cast("double"))
        .select($"event_id", $"user_id",
          $"ts".cast("timestamp_ntz").as("ts"), $"value", $"n_7d", $"sum_7d"))(
      $"user_id", $"ts", $"event_id")
  }

  val windowRangeFrameSql: String =
    """SELECT event_id, user_id, ts, value,
      |       CAST(count(*) OVER w AS BIGINT) AS n_7d,
      |       CAST(sum(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE) AS sum_7d
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts
      |             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, ts, event_id""".stripMargin

  /** B34 — multiset (ALL) set operations: `INTERSECT ALL` / `EXCEPT ALL`
    * keep duplicate MULTIPLICITY (min / truncated difference of per-key
    * counts), unlike B16's distinct forms. Spark plans them as
    * aggregate-rewrites (count both sides, replicate min/diff times) —
    * no row-by-row matching; the output is compressed to (op, key, n)
    * so the gate proves the multiplicities themselves.
    */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val a = li.filter($"l_quantity" > 30).select($"l_orderkey")
    val b = li.filter($"l_returnflag" === "R").select($"l_orderkey")
    val inter = a.intersectAll(b).withColumn("op", lit("intersect_all"))
    val exc = a.exceptAll(b).withColumn("op", lit("except_all"))
    inter.union(exc)
      .groupBy($"op", $"l_orderkey").agg(count(lit(1)).as("n"))
      .orderBy($"op", $"l_orderkey")
  }

  val setOpsAllSql: String =
    """WITH a AS (SELECT l_orderkey FROM lineitem WHERE l_quantity > 30),
      |b AS (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'),
      |i AS (SELECT 'intersect_all' AS op, l_orderkey
      |      FROM (SELECT l_orderkey FROM a INTERSECT ALL SELECT l_orderkey FROM b)),
      |e AS (SELECT 'except_all' AS op, l_orderkey
      |      FROM (SELECT l_orderkey FROM a EXCEPT ALL SELECT l_orderkey FROM b))
      |SELECT op, l_orderkey, count(*) AS n
      |FROM (SELECT * FROM i UNION ALL SELECT * FROM e)
      |GROUP BY op, l_orderkey
      |ORDER BY op, l_orderkey""".stripMargin

  /** B35 — null semantics end to end: a derived nullable key (the
    * testdata ships null-free, so `nullif` plants them) flows through
    * a null-grouping aggregate (null IS a group), a NULL-SAFE
    * equi-join (`<=>` / IS NOT DISTINCT FROM — the null group must
    * match itself, where `=` would drop it), `count(*)` vs `count(k)`
    * (null-skipping), and an explicit NULLS FIRST sort (Spark defaults
    * nulls-first ASC, DuckDB nulls-LAST — relying on either default
    * breaks parity). Invariant the gate proves: n_matched == n_rows for
    * EVERY group including the null one.
    *
    * Scale note: `<=>` hashes all null keys to one partition — a
    * null-heavy key column makes that the hot partition; the idiom at
    * scale is filter-nulls + plain join + union the null slice.
    */
  def nullSemantics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
      .select($"c_custkey",
        when($"c_nationkey" % 5 === 0, lit(null))
          .otherwise($"c_nationkey" % 5).as("k"))
    val grp = c.groupBy($"k")
      .agg(count(lit(1)).as("n_rows"), count($"k").as("n_nonnull"))
    val matched = c.as("l").join(grp.as("r"), col("l.k") <=> col("r.k"))
      .groupBy(col("r.k")).agg(count(lit(1)).as("n_matched"))
      .withColumnRenamed("k", "mk")
    grp.join(matched, grp("k") <=> matched("mk"))
      .select($"k", $"n_rows", $"n_nonnull", $"n_matched")
      .orderBy($"k".asc_nulls_first)
  }

  val nullSemanticsSql: String =
    """WITH c AS (
      |  SELECT c_custkey, nullif(c_nationkey % 5, 0) AS k FROM customer),
      |g AS (
      |  SELECT k, count(*) AS n_rows, count(k) AS n_nonnull
      |  FROM c GROUP BY k),
      |m AS (
      |  SELECT g.k AS mk, count(*) AS n_matched
      |  FROM c JOIN g ON c.k IS NOT DISTINCT FROM g.k GROUP BY g.k)
      |SELECT g.k, g.n_rows, g.n_nonnull, m.n_matched
      |FROM g JOIN m ON g.k IS NOT DISTINCT FROM m.mk
      |ORDER BY g.k ASC NULLS FIRST""".stripMargin

  /** B36 — gaps and islands: each user's contiguous runs of active
    * days (an event on every consecutive day; a gap starts a new
    * island) — the classic hard analytic pattern behind streaks,
    * uptime intervals, and SCD validity ranges. The standard
    * O(n log n) trick: rank active days per user, subtract the rank
    * from the day — consecutive days share the constant `day − rank`,
    * so islands fall out of a plain groupBy. All date arithmetic is
    * exact integer day math in both engines.
    *
    * Scale shape: the distinct (user, day) aggregate partial-combines
    * map-side (events per user-day collapse before the shuffle); the
    * rank window and the island groupBy both cluster by user, reusing
    * one exchange.
    */
  def gapsIslands(spark: SparkSession, dir: String): DataFrame =
    islandsOf(Tables.events(spark, dir))

  /** Core of B36 over any (user_id, ts) frame; test seam. */
  private[graft] def islandsOf(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val days = events
      .select($"user_id", to_date($"ts").as("day")).distinct()
    days
      .withColumn("rn", row_number().over(
        Window.partitionBy($"user_id").orderBy($"day".asc)))
      .withColumn("grp", date_sub($"day", $"rn"))
      .groupBy($"user_id", $"grp")
      .agg(min($"day").as("island_start"), max($"day").as("island_end"),
        count(lit(1)).as("n_days"))
      .select($"user_id", $"island_start", $"island_end", $"n_days")
      .orderBy($"user_id", $"island_start")
  }

  val gapsIslandsSql: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |r AS (
      |  SELECT user_id, day,
      |         row_number() OVER (PARTITION BY user_id ORDER BY day ASC) AS rn
      |  FROM d)
      |SELECT user_id,
      |       min(day) AS island_start,
      |       max(day) AS island_end,
      |       CAST(count(*) AS BIGINT) AS n_days
      |FROM r
      |GROUP BY user_id, day - CAST(rn AS INTEGER)
      |ORDER BY user_id, island_start""".stripMargin

  /** B37 — SCD2 history build: collapse each customer's order-priority
    * stream into slowly-changing-dimension VERSION intervals
    * [valid_from, valid_to) — the warehouse pattern for "what was the
    * attribute at time t". Change detection is lag-compare (a change
    * or the first row opens a version), version ids are a running sum
    * of change flags, and valid_to is the NEXT version's start via
    * lead (null = current version). Everything chains on ONE
    * customer-keyed exchange: two stacked windows + the version
    * groupBy + the closing lead all cluster by o_custkey (the X38
    * stacked-window shape), and the final sort reuses that exchange
    * (`FinalSort.keyed`). Dates and counts are exact.
    */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FinalSort.keyed(Tables.orders(spark, dir), $"o_custkey")(
      scd2IntervalsOf(_)
        .select($"o_custkey", $"version", $"o_orderpriority",
          $"valid_from".cast("timestamp_ntz").as("valid_from"),
          $"valid_to".cast("timestamp_ntz").as("valid_to"), $"n_orders"))(
      $"o_custkey", $"version")
  }

  /** The unsorted, uncast version-interval frame behind B37 (and B54's
    * point-in-time lookup), over any orders-shaped frame:
    * `(o_custkey, version, o_orderpriority, valid_from DATE, valid_to DATE
    * nullable, n_orders)` where per customer the intervals
    * [valid_from, valid_to) partition time from the first order onward
    * (valid_to null = current version).
    */
  private[graft] def scd2IntervalsOf(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    val versioned = orders
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_orderpriority")
      .withColumn("chg",
        when(lag($"o_orderpriority", 1).over(w).isNull ||
          lag($"o_orderpriority", 1).over(w) =!= $"o_orderpriority", 1L)
          .otherwise(0L))
      .withColumn("version",
        sum($"chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    versioned
      .groupBy($"o_custkey", $"version", $"o_orderpriority")
      .agg(min($"o_orderdate").as("valid_from"),
        count(lit(1)).as("n_orders"))
      .withColumn("valid_to", lead($"valid_from", 1).over(
        Window.partitionBy($"o_custkey").orderBy($"version".asc)))
  }

  val scd2HistorySql: String =
    """WITH v AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
      |         CASE WHEN lag(o_orderpriority, 1) OVER w IS NULL
      |                OR lag(o_orderpriority, 1) OVER w <> o_orderpriority
      |              THEN 1 ELSE 0 END AS chg
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey
      |               ORDER BY o_orderdate ASC, o_orderkey ASC)),
      |r AS (
      |  SELECT o_custkey, o_orderpriority,
      |         sum(chg) OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate ASC, o_orderkey ASC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version,
      |         o_orderdate
      |  FROM v),
      |g AS (
      |  SELECT o_custkey, version, o_orderpriority,
      |         min(o_orderdate) AS valid_from,
      |         CAST(count(*) AS BIGINT) AS n_orders
      |  FROM r GROUP BY 1, 2, 3)
      |SELECT o_custkey, CAST(version AS BIGINT) AS version, o_orderpriority,
      |       valid_from,
      |       lead(valid_from, 1) OVER (PARTITION BY o_custkey
      |         ORDER BY version ASC) AS valid_to,
      |       n_orders
      |FROM g
      |ORDER BY o_custkey, version""".stripMargin

  /** B38 — ntile bucketing: each customer's orders split into
    * [[NtileBuckets]] equal-ish spend quartiles (ntile assigns floor/
    * ceil bucket sizes deterministically given a TOTAL order — ties
    * broken by o_orderkey), rolled up to per-(customer, quartile)
    * count + decimal-exact spend. The partitioned form of quantile
    * bucketing: ntile over a per-KEY window scales (each customer
    * sorts its own orders on one exchange); a GLOBAL ntile would be
    * the SinglePartition funnel the plan lint rejects — the global
    * analogue is b12b's percent_rank or x34's percentiles.
    */
  val NtileBuckets = 4

  def ntileBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    FinalSort.keyed(Tables.orders(spark, dir), $"o_custkey")(
      _.withColumn("quartile", ntile(NtileBuckets).over(w))
        .groupBy($"o_custkey", $"quartile")
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("spend")))(
      $"o_custkey", $"quartile")
  }

  val ntileBucketsSql: String =
    s"""WITH t AS (
       |  SELECT o_custkey,
       |         ntile($NtileBuckets) OVER (PARTITION BY o_custkey
       |           ORDER BY o_totalprice DESC, o_orderkey ASC) AS quartile,
       |         o_totalprice
       |  FROM orders)
       |SELECT o_custkey, quartile,
       |       CAST(count(*) AS BIGINT) AS n_orders,
       |       ${sqlSum("o_totalprice")} AS spend
       |FROM t
       |GROUP BY o_custkey, quartile
       |ORDER BY o_custkey, quartile""".stripMargin

  /** All relational queries + oracles, keyed by their SparkEntry names. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b01_scan_pushdown" -> scanPushdown _,
    "b02_filter_predicates" -> filterPredicates _,
    "b03_join_broadcast_star" -> joinBroadcastStar _,
    "b04_join_fact_fact" -> joinFactFact _,
    "b05_join_left_outer" -> joinLeftOuter _,
    "b05b_join_full_outer" -> joinFullOuter _,
    "b06_join_semi_anti" -> joinSemiAnti _,
    "b07_join_range" -> joinRange _,
    "b08_cross_join_dims" -> crossJoinDims _,
    "b09_agg_pricing_summary" -> aggPricingSummary _,
    "b10_agg_rollup" -> aggRollup _,
    "b10b_agg_cube" -> aggCube _,
    "b10c_agg_grouping_sets" -> aggGroupingSets _,
    "b11_approx_distinct" -> approxDistinct _,
    "b12_window_ranking" -> windowRanking _,
    "b12b_window_distribution" -> windowDistribution _,
    "b13_window_analytic" -> windowAnalytic _,
    "b14_sort_global" -> sortGlobal _,
    "b15_topk" -> topK _,
    "b16_set_ops" -> setOps _,
    "b17_dedup_first_per_key" -> dedupFirstPerKey _,
    "b18a_scalar_string" -> scalarString _,
    "b18b_scalar_date" -> scalarDate _,
    "b18c_scalar_math_conditional" -> scalarMathConditional _,
    "b24_udaf_secondmax" -> udafSecondMax _,
    "b28_salted_skew_join" -> saltedSkewJoin _,
    "b29_deterministic_sample" -> deterministicSample _,
    "b30_merge_upsert" -> mergeUpsert _,
    "b31_correlated_subquery" -> correlatedSubquery _,
    "b32_window_range_frame" -> windowRangeFrame _,
    "b34_set_ops_all" -> setOpsAll _,
    "b35_null_semantics" -> nullSemantics _,
    "b36_gaps_islands" -> gapsIslands _,
    "b37_scd2_history" -> scd2History _,
    "b38_ntile_buckets" -> ntileBuckets _)

  val oracles: Map[String, String] = Map(
    "b01_scan_pushdown" -> scanPushdownSql,
    "b02_filter_predicates" -> filterPredicatesSql,
    "b03_join_broadcast_star" -> joinBroadcastStarSql,
    "b04_join_fact_fact" -> joinFactFactSql,
    "b05_join_left_outer" -> joinLeftOuterSql,
    "b05b_join_full_outer" -> joinFullOuterSql,
    "b06_join_semi_anti" -> joinSemiAntiSql,
    "b07_join_range" -> joinRangeSql,
    "b08_cross_join_dims" -> crossJoinDimsSql,
    "b09_agg_pricing_summary" -> aggPricingSummarySql,
    "b10_agg_rollup" -> aggRollupSql,
    "b10b_agg_cube" -> aggCubeSql,
    "b10c_agg_grouping_sets" -> aggGroupingSetsSql,
    // b11_approx_distinct: no exact oracle (HLL estimate) — rows-only
    "b12_window_ranking" -> windowRankingSql,
    "b12b_window_distribution" -> windowDistributionSql,
    "b13_window_analytic" -> windowAnalyticSql,
    "b14_sort_global" -> sortGlobalSql,
    "b15_topk" -> topKSql,
    "b16_set_ops" -> setOpsSql,
    "b17_dedup_first_per_key" -> dedupFirstPerKeySql,
    "b18a_scalar_string" -> scalarStringSql,
    "b18b_scalar_date" -> scalarDateSql,
    "b18c_scalar_math_conditional" -> scalarMathConditionalSql,
    "b24_udaf_secondmax" -> udafSecondMaxSql,
    "b28_salted_skew_join" -> saltedSkewJoinSql,
    "b29_deterministic_sample" -> deterministicSampleSql,
    "b30_merge_upsert" -> mergeUpsertSql,
    "b31_correlated_subquery" -> correlatedSubquerySql,
    "b32_window_range_frame" -> windowRangeFrameSql,
    "b34_set_ops_all" -> setOpsAllSql,
    "b35_null_semantics" -> nullSemanticsSql,
    "b36_gaps_islands" -> gapsIslandsSql,
    "b37_scd2_history" -> scd2HistorySql,
    "b38_ntile_buckets" -> ntileBucketsSql)
}
