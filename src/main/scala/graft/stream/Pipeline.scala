package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.ops.Weather

/** Per-key session accumulator for [[Pipeline.closedSessions]]. */
case class SessionState(startMs: Long, endMs: Long, n: Long)

/** A closed session emitted exactly once by [[Pipeline.closedSessions]]. */
case class ClosedSession(
    key: String,
    session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp,
    n_events: Long)

/** The streaming pipeline — the reference's actual program
  * (`/root/reference/Processing&Storing/spark_processor.py`), re-expressed
  * as Structured Streaming building blocks:
  *
  *  - R1  Kafka source (`spark_processor.py:47-69`) — [[kafkaSource]];
  *    config comes from the environment, never hard-coded credentials
  *    (the reference embeds secrets in source, §4 anti-pattern)
  *  - R2  Kafka sink (`weather-producer.py:19-28,224`) — [[kafkaSink]]
  *  - R3  console diagnostic (`basic_consumer.py`) — [[consoleSink]]
  *  - R7-R11 parse/flatten — shared with the batch replica
  *    (graft.ops.Weather.flatten), one projection for both modes
  *  - R18 2-minute watermark (`spark_processor.py:149`),
  *    R19-R22 5-minute window + avg/max/stddev (`:150-165`) —
  *    [[windowedAgg]], alias-for-alias including the `total_precipitation_mm`
  *    avg-named-total quirk (SURVEY §2.3)
  *  - R5  foreachBatch external sink (`:167-197`) — [[lineProtocolSink]],
  *    but partition-parallel from executors: the reference `collect()`s
  *    every batch onto the driver and writes synchronously, which is the
  *    definitive 100 TB anti-pattern; here each partition encodes its rows
  *    to line protocol and hands them to a (serializable) writer
  *  - R6  checkpoint + blocking run (`:206-210`) — [[start]]/[[run]];
  *    a restart resumes with the state-partition count its checkpoint's
  *    offset log recorded, so a checkpoint written under another layout
  *    keeps it
  *  - R23 update output mode (`:204`), run on one state partition with no
  *    input-free micro-batches ([[startSingleState]]): the window is the
  *    only grouping key, so at most a few keys are live and the final
  *    aggregate receives at most (input partitions × live windows) partial
  *    rows; and an input-free batch, which Spark otherwise runs after each
  *    watermark move, emits nothing in update mode. Expired windows are
  *    evicted on the next data batch instead, and late rows are still
  *    dropped against the watermark the previous data batch set
  *  - B23 streaming dedup within watermark — [[dedupedEvents]]
  *  - custom keyed state (mapGroupsWithState surface) — [[runningCounts]]
  *
  * Tests drive all of this through MemoryStream + processAllAvailable
  * (StreamingSpec) — the environment is zero-egress, so the Kafka wiring
  * is constructed and asserted but never connected.
  */
object Pipeline {

  /** R1 — Kafka streaming source, SASL_SSL/SCRAM-SHA-256 like the
    * reference's (`spark_processor.py:50-68`), parameters from env/caller.
    */
  def kafkaSource(
      spark: SparkSession,
      bootstrap: String,
      topic: String,
      security: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
    security.foldLeft(reader) { case (r, (k, v)) => r.option(s"kafka.$k", v) }
      .load()
  }

  /** Reference security option block (values injected, not embedded). */
  def scramSecurity(user: String, password: String, truststorePem: String): Map[String, String] = Map(
    "security.protocol" -> "SASL_SSL",
    "sasl.mechanism" -> "SCRAM-SHA-256",
    "sasl.jaas.config" ->
      ("org.apache.kafka.common.security.scram.ScramLoginModule required " +
        s"""username="$user" password="$password";"""),
    "ssl.truststore.type" -> "PEM",
    "ssl.truststore.location" -> truststorePem)

  /** R7-R11 — decode the wire `value` into the flat analytic record
    * (delegates to the shared batch/stream projection).
    */
  def flattened(wire: DataFrame): DataFrame =
    Weather.flatten(wire, col("value"))

  /** R18-R22 — watermark + 5-minute tumbling window with the reference's
    * aggregate list and aliases (`spark_processor.py:147-165`), including
    * `total_precipitation_mm` whose semantics are avg (the reference's own
    * naming quirk, preserved deliberately).
    */
  def windowedAgg(flat: DataFrame): DataFrame =
    flat
      .withWatermark("event_time", "2 minutes")
      .groupBy(window(col("event_time"), "5 minutes").as("window"))
      .agg(
        avg("temperature_c").as("avg_temperature_c"),
        avg("apparent_temperature_c").as("avg_apparent_temperature_c"),
        stddev_samp(col("temperature_c")).as("temperature_stddev"),
        avg("wind_speed_kmph").as("avg_wind_speed_kmph"),
        max("wind_gust_kmph").as("max_wind_gust_kmph"),
        avg("pressure_hpa").as("avg_pressure_hpa"),
        avg("humidity_pct").as("avg_humidity_pct"),
        avg("precipitation_mm").as("total_precipitation_mm"))

  /** Row → line-protocol record for the windowed aggregate (measurement/
    * tags per `spark_processor.py:174-190`; timestamp = window end, ns).
    */
  def aggRowToLine(row: Row): Option[String] = {
    val window = row.getStruct(row.fieldIndex("window"))
    val endTs = window.getTimestamp(1)
    def metric(name: String): (String, Any) =
      name -> (if (row.isNullAt(row.fieldIndex(name))) null else row.getDouble(row.fieldIndex(name)))
    LineProtocol.encode(
      measurement = "weather_metrics_5m",
      tags = Seq("location" -> "Bucharest", "window" -> "5m"),
      fields = Seq(
        metric("avg_temperature_c"),
        metric("avg_apparent_temperature_c"),
        metric("temperature_stddev"),
        metric("avg_wind_speed_kmph"),
        metric("max_wind_gust_kmph"),
        metric("avg_pressure_hpa"),
        metric("avg_humidity_pct"),
        metric("total_precipitation_mm")),
      timestampNs = endTs.getTime * 1000000L)
  }

  /** R5 — foreachBatch sink writing line protocol from the *executors*:
    * one writer call per partition with that partition's encoded lines.
    * `writer` must be serializable (it ships to executors).
    */
  def lineProtocolSink(writer: Iterator[String] => Unit)(batch: DataFrame, batchId: Long): Unit =
    batch.foreachPartition { rows: Iterator[Row] =>
      writer(rows.flatMap(aggRowToLine))
    }

  /** R5+R6+R23 — assemble and start the full job: source → flatten →
    * window agg → update-mode foreachBatch line-protocol sink, with a
    * checkpoint for offsets+state, in [[startSingleState]]'s layout.
    */
  def start(
      wire: DataFrame,
      writer: Iterator[String] => Unit,
      checkpointDir: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None): StreamingQuery =
    startSingleState(windowedAgg(flattened(wire))) { w =>
      val base = w
        .outputMode(OutputMode.Update())
        .foreachBatch(lineProtocolSink(writer) _)
        .option("checkpointLocation", checkpointDir)
      // default trigger = ASAP micro-batches, the reference's behavior
      // (spark_processor.py sets none); callers pass ProcessingTime /
      // AvailableNow for paced or drain-and-stop runs
      trigger.fold(base)(base.trigger)
    }

  /** Session values the windowed aggregate's query is started with: one
    * state partition, and no micro-batch that only moves the watermark.
    * Without input-free batches, Spark's default late-row filter (the
    * watermark of the batch before, kept for chains of stateful operators)
    * would lag one data batch behind, and a row the watermark had passed
    * could still revise a window; the single-operator watermark filters
    * against the current batch's watermark, which is what the input-free
    * batch used to provide.
    */
  private val SingleStateConf = Seq(
    "spark.sql.shuffle.partitions" -> "1",
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
    "spark.sql.streaming.statefulOperator.allowMultiple" -> "false")

  /** Starts the query `sink` configures on `agg.writeStream` with
    * [[SingleStateConf]]. `start()` clones the session into the query, so
    * the values are set on `agg`'s session only around that call and the
    * caller's own values (or their absence) are put back afterwards, also
    * when `start()` throws; another thread's query on the same session
    * planned in that interval would see them too. A restart from an
    * existing checkpoint keeps the partition count its offset log holds.
    */
  private[graft] def startSingleState(agg: DataFrame)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    val conf = agg.sparkSession.conf
    // getAll holds only the values set on the session, not defaults
    val set = conf.getAll
    val saved = SingleStateConf.map { case (k, _) => k -> set.get(k) }
    SingleStateConf.foreach { case (k, v) => conf.set(k, v) }
    try sink(agg.writeStream).start()
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** R6 — the reference blocks on the query (`spark_processor.py:210`). */
  def run(query: StreamingQuery): Unit = query.awaitTermination()

  /** R2 — Kafka producer sink for a streaming DataFrame: envelope → JSON
    * bytes on `value` (the producer's serializer, `weather-producer.py:21`).
    */
  def kafkaSink(
      df: DataFrame,
      bootstrap: String,
      topic: String,
      checkpointDir: String,
      security: Map[String, String] = Map.empty) = {
    val writer = df.selectExpr("to_json(struct(*)) AS value")
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)
    security.foldLeft(writer) { case (w, (k, v)) => w.option(s"kafka.$k", v) }
  }

  /** R3 — console diagnostic tail (the basic_consumer replica). */
  def consoleSink(df: DataFrame) =
    df.writeStream.format("console").outputMode(OutputMode.Append())

  /** Stream-stream inner join with event-time bounds: readings joined to
    * a second stream (e.g. alerts) on key within ±1 minute. Both sides
    * carry watermarks and the join condition bounds event time in both
    * directions, so Spark can evict join state — the requirement for an
    * unbounded-stream join to run with bounded memory.
    */
  def correlatedJoin(
      flat: DataFrame, alerts: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val readings = flat
      .withWatermark("event_time", "2 minutes")
      .select(col("weather_code").cast("int").as("r_key"),
        col("event_time").as("r_time"), col("temperature_c"))
    val alertsWm = alerts
      .withWatermark("a_time", "2 minutes")
    // outer variants emit the null-padded row only once the watermark
    // proves no match can still arrive — the state-eviction point
    readings.join(alertsWm,
      expr("""r_key = a_key AND
              r_time >= a_time - INTERVAL 1 MINUTE AND
              r_time <= a_time + INTERVAL 1 MINUTE"""),
      joinType)
      .select(col("r_key").as("key"), col("r_time"), col("a_time"),
        col("temperature_c"), col("alert_level"))
  }

  /** Stream-static enrichment join: the streaming side joins a broadcast
    * static dimension with no state at all — the cheap path whenever the
    * right side is a table, not a stream.
    */
  def enrich(flat: DataFrame, dim: DataFrame): DataFrame =
    flat.join(broadcast(dim),
      flat("weather_code").cast("int") === dim("code"))
      .select(col("event_time"), col("temperature_c"), col("code_desc"))

  /** B23 — stateful streaming dedup bounded by the watermark: exactly the
    * engine's answer to at-least-once sources (duplicate wire records
    * within the lateness horizon collapse to one).
    */
  def dedupedEvents(flat: DataFrame): DataFrame =
    flat
      .withWatermark("event_time", "2 minutes")
      .dropDuplicatesWithinWatermark("event_time", "iteration")

  /** B22 (streaming form) — native session windows over the event-time
    * stream: sessions close and emit once the watermark passes their end
    * (append mode). Same expression as the batch query
    * (graft.ops.Events.sessionWindow); Spark's incremental planner adds
    * the session-merge state store.
    */
  def sessionWindowStream(flat: DataFrame, gap: String = "5 minutes"): DataFrame =
    flat
      .withWatermark("event_time", "2 minutes")
      // sessions are per key: streaming session_window requires a grouping
      // key (global session aggregation is unsupported by design — state
      // would be a single unbounded partition)
      .groupBy(col("weather_code").cast("int").as("key"),
        session_window(col("event_time"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        avg("temperature_c").as("avg_temperature_c"))
      .select(col("key"),
        col("sw.start").as("session_start"),
        col("sw.end").as("session_end"),
        col("n_events"), col("avg_temperature_c"))

  /** Custom keyed state via flatMapGroupsWithState: gap-based streaming
    * sessionization with event-time timeouts — the stateful twin of the
    * batch X9 op, and the surface for session semantics `session_window`
    * can't express (e.g. emitting an explicit closed-session record with
    * its own schema exactly once, when the watermark passes start of
    * session + gap). State per key is O(1) (start/end/count), evicted on
    * emission — bounded regardless of stream length.
    */
  def closedSessions(flat: DataFrame, gapMinutes: Int = 30): Dataset[ClosedSession] = {
    val spark = flat.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    flat
      .withWatermark("event_time", "2 minutes")
      .select(col("weather_code").cast("int").cast("string").as("key"),
        col("event_time"))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(key,
              new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.endMs), s.n))
          } else {
            val times = rows.map(_._2.getTime).toSeq
            val prev = state.getOption
            val merged = SessionState(
              startMs = (times ++ prev.map(_.startMs)).min,
              endMs = (times ++ prev.map(_.endMs)).max,
              n = prev.map(_.n).getOrElse(0L) + times.size)
            state.update(merged)
            // close when the watermark passes last-event + gap
            state.setTimeoutTimestamp(merged.endMs + gapMs)
            Iterator.empty
          }
      }
  }

  /** Custom keyed state via mapGroupsWithState: a running per-key record
    * count surviving across micro-batches (the
    * KeyValueGroupedDataset surface for state Spark's built-in aggs can't
    * express). Update-mode compatible; state never times out (callers
    * bound keys).
    */
  def runningCounts(flat: DataFrame): Dataset[(String, Long)] = {
    val spark = flat.sparkSession
    import spark.implicits._
    flat
      // weather_code is double-declared (schema narrowing, R14) — int-cast
      // first so keys read "7", not "7.0"
      .select(col("weather_code").cast("int").cast("string").as("key"))
      .as[String]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[String], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          (key, total)
      }
  }
}
