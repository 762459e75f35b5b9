package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MapType, StringType}

import graft.Tables
import graft.functions.FinalSort
import graft.functions.OracleSafe._

/** Batch analytics over the `events` table — the reference's analytical
  * core (tumbling event-time window + avg/max/stddev aggregates,
  * `/root/reference/Processing&Storing/spark_processor.py:147-165`)
  * re-expressed as declarative DataFrame plans, plus the event-stream
  * extensions: sliding windows (B21), session windows (B22), JSON props
  * decode / map functions (X8+B20), array HOFs (B19) and gap
  * sessionization (X9).
  *
  * Scale notes: every query here is a single hash-aggregate or window over
  * a partition-pruned parquet scan; the groupBy keys (window bucket,
  * event_type, user_id) are high-cardinality enough to parallelize across
  * 1000 executors and all aggregation is map-side partial first. The
  * per-user windows (X9, B22) shuffle once on user_id — the natural
  * sessionization partitioning at any scale.
  */
object Events {

  /** Flagship — the reference's windowed aggregation as a batch query:
    * 5-minute tumbling event-time windows × event_type with avg/max/stddev
    * (mirrors `spark_processor.py:150-165`; window op R19, aggs R20-R22).
    */
  def windowAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "5 minutes").as("w"), $"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        davg($"value").as("avg_value"),
        max($"value").as("max_value"),
        // decimal-exact two-pass stddev, not round(stddev_samp, 4): the
        // builtin's double sums are partition-order-dependent and the
        // round guard can flip at .00005 boundaries (ADVICE r1)
        dstddev($"value").as("stddev_value"))
      .select(
        // NTZ so the dumped parquet carries the same logical type DuckDB
        // produces for naive timestamps (session TZ is UTC, so no shift)
        $"w.start".cast("timestamp_ntz").as("window_start"),
        $"event_type", $"n_events", $"avg_value", $"max_value",
        $"stddev_value")
      .orderBy($"window_start", $"event_type")
  }

  private[graft] val windowAggSql: String =
    s"""SELECT CAST(time_bucket(INTERVAL 5 MINUTE, ts) AS TIMESTAMP) AS window_start,
       |       event_type,
       |       count(*) AS n_events,
       |       ${sqlAvg("value")} AS avg_value,
       |       max(value) AS max_value,
       |       ${sqlStddev("value")} AS stddev_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** B21 — sliding event-time windows (10 min length, 5 min slide): each
    * event lands in two overlapping windows. Same single-shuffle hash
    * aggregate as the tumbling form; the fan-out factor is length/slide.
    */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "10 minutes", "5 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"), davg($"value").as("avg_value"))
      .select(
        $"w.start".cast("timestamp_ntz").as("window_start"),
        $"event_type", $"n_events", $"avg_value")
      .orderBy($"window_start", $"event_type")
  }

  private[graft] val slidingWindowSql: String =
    s"""WITH e AS (
       |  SELECT CAST(time_bucket(INTERVAL 5 MINUTE, ts) AS TIMESTAMP) AS b,
       |         event_type, value
       |  FROM events),
       |x AS (
       |  SELECT unnest([b, b - INTERVAL 5 MINUTE]) AS window_start,
       |         event_type, value
       |  FROM e)
       |SELECT window_start, event_type,
       |       count(*) AS n_events,
       |       ${sqlAvg("value")} AS avg_value
       |FROM x
       |GROUP BY window_start, event_type
       |ORDER BY window_start, event_type""".stripMargin

  /** B22 — session windows (30-minute gap) per user, via Spark's native
    * `session_window` (batch mode; the streaming form reuses the same
    * expression — see graft.stream.Pipeline). The oracle mirrors the
    * semantics with the lag+cumsum island form: window end = last event
    * + gap.
    */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(session_window($"ts", "30 minutes").as("sw"), $"user_id")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .select(
        $"user_id",
        $"sw.start".cast("timestamp_ntz").as("session_start"),
        $"sw.end".cast("timestamp_ntz").as("session_end"),
        $"n_events", $"sum_value")
      .orderBy($"user_id", $"session_start")
  }

  private[graft] val sessionWindowSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
       |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events),
       |g AS (
       |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
       |                   OR us - lag(us) OVER w >= 1800000000
       |                 THEN 1 ELSE 0 END AS new_sess
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (
       |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
       |  FROM g)
       |SELECT user_id,
       |       min(ts) AS session_start,
       |       max(ts) + INTERVAL 30 MINUTE AS session_end,
       |       count(*) AS n_events,
       |       ${sqlSum("value")} AS sum_value
       |FROM s
       |GROUP BY user_id, sid
       |ORDER BY user_id, session_start""".stripMargin

  /** X9 — gap-based sessionization via composable window functions (the
    * lag + cumulative-sum island trick): a new session starts after a
    * ≥ 30-minute silence. Yields an explicit session_id, which
    * `session_window` does not expose — useful as a join key downstream.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("us", unix_micros($"ts"))
      .withColumn("prev_us", lag($"us", 1).over(byUser))
      .withColumn("new_sess",
        when($"prev_us".isNull || $"us" - $"prev_us" >= 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"new_sess").over(running))
      .groupBy($"user_id", $"session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min($"ts").as("session_start"),
        max($"ts").as("session_end"),
        dsum($"value").as("sum_value"))
      .select($"user_id", $"session_id", $"n_events",
        $"session_start".cast("timestamp_ntz").as("session_start"),
        $"session_end".cast("timestamp_ntz").as("session_end"),
        $"sum_value")
      .orderBy($"user_id", $"session_id")
  }

  private[graft] val sessionizeSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
       |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events),
       |g AS (
       |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
       |                   OR us - lag(us) OVER w >= 1800000000
       |                 THEN 1 ELSE 0 END AS new_sess
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (
       |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM g)
       |SELECT user_id, session_id,
       |       count(*) AS n_events,
       |       min(ts) AS session_start,
       |       max(ts) AS session_end,
       |       ${sqlSum("value")} AS sum_value
       |FROM s
       |GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  /** X8 + B20 — multimodal/metadata columns: decode the JSON `props`
    * string with ONE `from_json` into a typed map and derive every output
    * (path lookup, key census) from the parsed map — parsing is the whole
    * cost of this query, so parse once per row, not once per output
    * column. The `get_json_object` path-extraction surface is pinned
    * equivalent to the map lookup in EventsSpec. Row-local, no shuffle.
    *
    * DATA-SHAPE PRECONDITION (pinned on this corpus in EventsSpec): every
    * `props` value is strictly `map<string,int>`-shaped JSON. The oracle
    * extracts each path independently (`json_extract` per column), while
    * this plan parses the whole object once — a single non-integer value
    * would null the ENTIRE `from_json` map (PERMISSIVE mode) and so null
    * `n_keys`/`keys_csv` where the per-path oracle would still return
    * them. On mixed-typed props, parse to `map<string,string>` and cast
    * per output instead.
    */
  def propsDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("pm", from_json($"props", MapType(StringType, IntegerType)))
      .select(
        $"event_id",
        element_at($"pm", "k").as("k_json"),
        element_at($"pm", "k").as("k_map"),
        size(map_keys($"pm")).as("n_keys"),
        array_join(map_keys($"pm"), ",").as("keys_csv"))
      .orderBy($"event_id")
  }

  private[graft] val propsDecodeSql: String =
    """SELECT event_id,
      |       CAST(json_extract(props, '$.k') AS INTEGER) AS k_json,
      |       CAST(json_extract(props, '$.k') AS INTEGER) AS k_map,
      |       CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
      |       array_to_string(json_keys(props), ',') AS keys_csv
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** B20 — map/JSON function family as its own oracle-checked row (it
    * previously rode on x08, which exercises `from_json`/`element_at`/
    * `map_keys` but left `json_tuple`/`get_json_object`/`map_values`
    * spec-only). Path extraction twice — `get_json_object` (one path) and
    * `json_tuple` (generator form, the multi-path variant) — plus the
    * map-side family over the parsed map: `map_values`, `element_at` on
    * the value array, `map_contains_key`. All row-local projections:
    * map-only plan, no shuffle, scales linearly.
    *
    * The map parses as `map<string,string>` — the typed twin of the
    * oracle's `json_extract_string` — so a non-integer props value
    * (string, float, nested) renders identically in both engines
    * instead of silently nulling out of a `map<string,int>` parse and
    * being dropped by `array_join` while the oracle still prints it.
    * (x08 keeps the int-map parse deliberately: its outputs are the
    * int-typed path lookups, and its all-int precondition is pinned in
    * EventsSpec.)
    */
  def mapJsonFunctions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Round-18 optimization: ONE Jackson parse per row. The previous
    // form parsed `props` three times — from_json for the map columns,
    // get_json_object for `k_get`, and json_tuple (a Generate node,
    // breaking whole-stage codegen) for `k_tuple`. Both path lookups
    // are exactly the parsed map's `element_at` on this column class
    // (flat object, scalar values — the same rendering-equality the
    // `values_csv` column already relies on; the oracle computes both
    // via json_extract_string, unchanged). The map-function surface
    // B20 exercises (from_json / map_values / element_at /
    // map_contains_key) is intact; json_tuple/get_json_object remain
    // covered by EventsSpec's b20 parity case, which pins this form
    // equal to the three-parse original.
    FinalSort.rowwise(Tables.events(spark, dir))($"event_id")(
      _.withColumn("pm", from_json($"props", MapType(StringType, StringType)))
        .select(
          $"event_id",
          element_at($"pm", "k").as("k_get"),
          element_at($"pm", "k").as("k_tuple"),
          array_join(map_values($"pm"), ",").as("values_csv"),
          element_at(map_values($"pm"), 1).as("first_value"),
          map_contains_key($"pm", "k").as("has_k")))
  }

  private[graft] val mapJsonFunctionsSql: String =
    """SELECT event_id,
      |       json_extract_string(props, '$.k') AS k_get,
      |       json_extract_string(props, '$.k') AS k_tuple,
      |       array_to_string(list_transform(json_keys(props),
      |         k -> json_extract_string(props, '$.' || k)), ',') AS values_csv,
      |       json_extract_string(props, '$.' || json_keys(props)[1])
      |         AS first_value,
      |       list_contains(json_keys(props), 'k') AS has_k
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** B19 — array function family over the embedding vectors: size, min,
    * max, the positive-count and quantized-L1 folds, slice. The folds are
    * the native codegen expressions CountPositive/QuantizedAbsL1
    * (graft.functions.expr.ArrayQuant — the HOF-lambda equivalents
    * evaluate interpreted and kick the stage out of whole-stage codegen;
    * EventsSpec pins bit-equality between the two forms).
    *
    * `head3` ships as a JSON string of the i64-quantized prefix, not a raw
    * array column: the driver's pandas compare cannot sort array cells
    * (unhashable ndarray), and float-to-string rendering differs across
    * engines — quantize-to-long then `to_json` is deterministic in both.
    */
  def arrayHof(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Hashing.{countPos, l1Q}
    Tables.embeddings(spark, dir)
      .select(
        $"vec_id",
        size($"embedding").as("n_dims"),
        array_max($"embedding").as("max_val"),
        array_min($"embedding").as("min_val"),
        countPos($"embedding").as("n_pos"),
        l1Q($"embedding").as("l1_q"),
        // explicit element_at composition, not transform(...): the lambda
        // HOF is CodegenFallback and would push this projection back out
        // of whole-stage codegen — the exact cost the native folds above
        // exist to avoid. Fixed 64-dim vectors make the unrolled form safe.
        to_json(array((1 to 3).map(i =>
          floor(element_at($"embedding", i).cast("double") * lit(1e7))
            .cast("long")): _*)).as("head3"))
      .orderBy($"vec_id")
  }

  private[graft] val arrayHofSql: String =
    """SELECT vec_id,
      |       CAST(len(embedding) AS INTEGER) AS n_dims,
      |       list_max(embedding) AS max_val,
      |       list_min(embedding) AS min_val,
      |       CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
      |       CAST(list_sum(list_transform(embedding,
      |            x -> CAST(floor(abs(CAST(x AS DOUBLE)) * 1e7) AS BIGINT))) AS BIGINT) AS l1_q,
      |       to_json(list_transform(embedding[1:3],
      |            x -> CAST(floor(CAST(x AS DOUBLE) * 1e7) AS BIGINT))) AS head3
      |FROM embeddings
      |ORDER BY vec_id""".stripMargin

  /** B27 — pivot: per-user event-type counts as columns. The pivot value
    * list is explicit (the 5 known types), which keeps the output schema
    * static — the scalable form: a discovery pivot (`pivot(col)` without
    * values) needs an extra distinct pass and makes the schema
    * data-dependent. Zero-fill so the result is null-free. The inverse
    * (unpivot/melt) is pinned in EventsSpec as a round-trip.
    */
  def pivotEventCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(spark, dir)
      .groupBy($"user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .orderBy($"user_id")
  }

  private[graft] val pivotEventCountsSql: String =
    """SELECT user_id,
      |       count(*) FILTER (event_type = 'click') AS click,
      |       count(*) FILTER (event_type = 'error') AS error,
      |       count(*) FILTER (event_type = 'purchase') AS purchase,
      |       count(*) FILTER (event_type = 'signup') AS signup,
      |       count(*) FILTER (event_type = 'view') AS view
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b27_pivot" -> pivotEventCounts _,
    "q_events_window_agg" -> windowAgg _,
    "b19_array_hof" -> arrayHof _,
    "b21_sliding_window" -> slidingWindow _,
    "b22_session_window" -> sessionWindow _,
    "b20_map_json" -> mapJsonFunctions _,
    "x08_props_decode" -> propsDecode _,
    "x09_sessionization" -> sessionize _)

  val oracles: Map[String, String] = Map(
    "b27_pivot" -> pivotEventCountsSql,
    "q_events_window_agg" -> windowAggSql,
    "b19_array_hof" -> arrayHofSql,
    "b21_sliding_window" -> slidingWindowSql,
    "b22_session_window" -> sessionWindowSql,
    "b20_map_json" -> mapJsonFunctionsSql,
    "x08_props_decode" -> propsDecodeSql,
    "x09_sessionization" -> sessionizeSql)
}
