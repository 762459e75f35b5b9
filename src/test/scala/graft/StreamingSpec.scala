package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.stream.Pipeline

/** Collects executor-written line-protocol records; an object so the
  * foreachPartition closure serializes (local mode shares the JVM).
  */
object CollectedLines {
  val queue = new ConcurrentLinkedQueue[String]()
  def write(lines: Iterator[String]): Unit = lines.foreach(queue.add)
}

/** Streaming goldens (SURVEY.md §5.3) driven by MemoryStream — the
  * reference's runtime semantics that no batch oracle can check:
  * watermark late-drop (R18), update-mode re-emission (R23), the
  * partition-parallel foreachBatch line-protocol sink (R5) with null-safe
  * encoding, checkpointing (R6), stateful dedup (B23), and custom keyed
  * state via mapGroupsWithState.
  */
class StreamingSpec extends SparkSpec {

  /** Minimal wire envelope with the fields the aggregation consumes. */
  private def env(time: String, temp: Double, code: Int = 1, iter: Int = 1): String =
    s"""{"timestamp":"2026-08-12T$time",""" +
      s""""current_conditions":{"temperature":{"value":$temp,"apparent":${temp + 2}},""" +
      s""""humidity":{"value":50.0},"wind":{"speed":10.0,"gusts":15.0},""" +
      s""""precipitation":{"total":0.5},"atmosphere":{"pressure_msl":1000.0},""" +
      s""""weather_code":$code},"metadata":{"iteration":$iter}}"""

  test("R18+R23: watermark drops late events; update mode re-emits changed windows") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val query = Pipeline.windowedAgg(Pipeline.flattened(input.toDF()))
      .writeStream.outputMode("update")
      .format("memory").queryName("weather_updates").start()
    try {
      // batch 1: two events in the 10:00 window, one in 10:10
      input.addData(env("10:00:30", 10.0), env("10:01:30", 20.0), env("10:10:00", 30.0))
      query.processAllAvailable() // watermark advances to 10:08
      // batch 2: a late event (10:02 < watermark) and an on-time update
      input.addData(env("10:02:00", 99.0), env("10:11:00", 40.0))
      query.processAllAvailable()

      // operational surface: the query reports its event-time watermark
      val progress = query.lastProgress
      assert(progress.eventTime.containsKey("watermark"),
        s"no watermark in progress: $progress")
      assert(progress.eventTime.get("watermark").startsWith("2026-08-12T10:09"),
        s"watermark = last batch max event time (10:11) - 2 min: ${progress.eventTime}")

      val rows = spark.table("weather_updates").collect().map { r =>
        val w = r.getStruct(r.fieldIndex("window"))
        (w.getTimestamp(0).toString, r.getAs[Double]("avg_temperature_c"))
      }
      val w1000 = rows.filter(_._1.startsWith("2026-08-12 10:00"))
      val w1010 = rows.filter(_._1.startsWith("2026-08-12 10:10"))
      // late 99.0 dropped: the 10:00 window was emitted once, avg 15, never revised
      assert(w1000.toSeq == Seq(("2026-08-12 10:00:00.0", 15.0)), s"got ${w1000.toSeq}")
      // on-time 40.0 merged: 10:10 window emitted in both batches (update mode)
      assert(w1010.map(_._2).sorted.toSeq == Seq(30.0, 35.0), s"got ${w1010.toSeq}")
    } finally query.stop()
  }

  test("state-store surface: windowed-agg state is bounded — eviction follows the watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    // append mode: a window's state lives until the watermark passes its
    // end, then emits once and is REMOVED — the property that bounds
    // state-store memory at any scale (update mode keeps re-emitting but
    // evicts on the same schedule)
    val query = Pipeline.windowedAgg(Pipeline.flattened(input.toDF()))
      .writeStream.outputMode("append")
      .format("memory").queryName("state_metrics").start()
    try {
      input.addData(env("10:00:30", 10.0), env("10:01:00", 12.0))
      query.processAllAvailable()
      input.addData(env("10:30:00", 20.0)) // watermark sails past 10:05
      query.processAllAvailable()
      input.addData(env("11:00:00", 30.0)) // and past 10:35 — evicts again
      query.processAllAvailable()
      val ops = query.recentProgress.toSeq
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      assert(ops.nonEmpty, "no state operator metrics reported")
      assert(ops.exists(_.numRowsUpdated > 0), s"no state updates seen: $ops")
      assert(ops.exists(_.numRowsRemoved > 0),
        "the watermark must evict closed-window state (unbounded state otherwise)")
      val last = query.lastProgress.stateOperators.head
      assert(last.numRowsTotal <= 2,
        s"state must hold only still-open windows, got ${last.numRowsTotal}")
      assert(last.memoryUsedBytes > 0, "state sizing must be observable")
    } finally query.stop()
  }

  test("R5+R6: foreachBatch sink writes line protocol from executors, null-safe") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    CollectedLines.queue.clear()
    val input = MemoryStream[String]
    val checkpoint = Files.createTempDirectory("graft-ckpt-").toString
    val query = Pipeline.start(input.toDF(), CollectedLines.write _, checkpoint)
    try {
      input.addData(env("10:00:30", 21.5)) // single-record window → null stddev
      query.processAllAvailable()
      val lines = CollectedLines.queue.toArray(Array.empty[String])
      assert(lines.length == 1, s"expected one record, got ${lines.toSeq}")
      val line = lines(0)
      assert(line.startsWith("weather_metrics_5m,location=Bucharest,window=5m "))
      assert(line.contains("avg_temperature_c=21.5"))
      assert(!line.contains("temperature_stddev"),
        s"null stddev must be dropped (reference bug), got: $line")
      // timestamp = window end (10:05) in ns
      assert(line.endsWith(" " + java.sql.Timestamp.valueOf("2026-08-12 10:05:00").getTime * 1000000L))
      // R6: the checkpoint recorded offsets/state
      assert(Files.list(java.nio.file.Paths.get(checkpoint)).count() > 0)
    } finally query.stop()
  }

  test("B23: dropDuplicatesWithinWatermark collapses wire duplicates") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val query = Pipeline.dedupedEvents(Pipeline.flattened(input.toDF()))
      .select("event_time", "iteration")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      input.addData(
        env("10:00:30", 10.0, iter = 1),
        env("10:00:30", 10.0, iter = 1), // exact duplicate
        env("10:00:31", 11.0, iter = 2))
      query.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2)
    } finally query.stop()
  }

  test("custom keyed state: running counts survive across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val query = Pipeline.runningCounts(Pipeline.flattened(input.toDF()))
      .toDF("key", "total")
      .writeStream.outputMode("update")
      .format("memory").queryName("counts_out").start()
    try {
      input.addData(env("10:00:01", 1.0, code = 7), env("10:00:02", 2.0, code = 7),
        env("10:00:03", 3.0, code = 8))
      query.processAllAvailable()
      input.addData(env("10:00:04", 4.0, code = 7))
      query.processAllAvailable()
      val byBatch = spark.table("counts_out").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      // state for key 7 accumulated 2 then 3; key 8 stayed at 1
      assert(byBatch.filter(_._1 == "7").map(_._2).sorted.toSeq == Seq(2L, 3L))
      assert(byBatch.filter(_._1 == "8").map(_._2).toSeq == Seq(1L))
    } finally query.stop()
  }

  test("B22 streaming: session_window emits closed sessions once the watermark passes") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val query = Pipeline.sessionWindowStream(Pipeline.flattened(input.toDF()))
      .writeStream.outputMode("append")
      .format("memory").queryName("session_out").start()
    try {
      // one session: 10:00:00 .. 10:01:00 (gap 5 min → ends 10:06:00)
      input.addData(env("10:00:00", 10.0), env("10:01:00", 20.0))
      query.processAllAvailable()
      // advance the watermark far past the session end, then let the
      // next trigger flush the closed session
      input.addData(env("11:00:00", 30.0))
      query.processAllAvailable()
      input.addData(env("11:30:00", 40.0))
      query.processAllAvailable()
      val rows = spark.table("session_out").collect().map { r =>
        (r.getInt(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString,
          r.getLong(3), r.getDouble(4))
      }
      assert(rows.contains(
        (1, "2026-08-12 10:00:00.0", "2026-08-12 10:06:00.0", 2L, 15.0)),
        s"expected the closed 10:00 session, got ${rows.toSeq}")
    } finally query.stop()
  }

  test("flatMapGroupsWithState: gap sessionization emits each closed session exactly once") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val query = Pipeline.closedSessions(Pipeline.flattened(input.toDF()), gapMinutes = 5)
      .writeStream.outputMode("append")
      .format("memory").queryName("closed_sessions").start()
    try {
      input.addData(env("10:00:00", 10.0, code = 3), env("10:02:00", 20.0, code = 3))
      query.processAllAvailable()
      // advance watermark beyond 10:02 + 5 min; timeout fires on a later trigger
      input.addData(env("11:00:00", 30.0, code = 4))
      query.processAllAvailable()
      input.addData(env("11:30:00", 40.0, code = 4))
      query.processAllAvailable()
      val rows = spark.table("closed_sessions").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3)))
      assert(rows.toSeq == Seq(
        ("3", "2026-08-12 10:00:00.0", "2026-08-12 10:02:00.0", 2L)),
        s"expected exactly one closed session for key 3, got ${rows.toSeq}")
    } finally query.stop()
  }

  test("R6: restart from checkpoint resumes state, no reprocessing, no loss") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    CollectedLines.queue.clear()
    val input = MemoryStream[String]
    val checkpoint = Files.createTempDirectory("graft-ckpt-resume-").toString
    val q1 = Pipeline.start(input.toDF(), CollectedLines.write _, checkpoint)
    try {
      input.addData(env("10:00:30", 10.0))
      q1.processAllAvailable()
    } finally q1.stop()
    val afterFirst = CollectedLines.queue.size()
    assert(afterFirst == 1)
    // second run, same checkpoint + same source: only the NEW batch runs,
    // and the restored window state merges old and new events
    input.addData(env("10:01:30", 20.0))
    val q2 = Pipeline.start(input.toDF(), CollectedLines.write _, checkpoint)
    try {
      q2.processAllAvailable()
      val lines = CollectedLines.queue.toArray(Array.empty[String])
      assert(lines.length == 2, s"expected one new emission, got ${lines.toSeq}")
      // state restored: the re-emitted 10:00 window averages BOTH events
      assert(lines(1).contains("avg_temperature_c=15.0"),
        s"restored state must merge across restart: ${lines(1)}")
    } finally q2.stop()
  }

  /** The session values `Pipeline.start` sets around `start()`, as the
    * caller's session reads them: (key, explicitly set, value).
    */
  private def layoutConf(): Seq[(String, Boolean, Option[String])] =
    Seq("spark.sql.shuffle.partitions", "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.streaming.statefulOperator.allowMultiple")
      .map(k => (k, spark.conf.getAll.contains(k), spark.conf.getOption(k)))

  test("R23 layout: one state partition, one micro-batch per data batch, caller's conf untouched") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    CollectedLines.queue.clear()
    val input = MemoryStream[String]
    val checkpoint = Files.createTempDirectory("graft-ckpt-layout-").toString
    val before = layoutConf()
    val query = Pipeline.start(input.toDF(), CollectedLines.write _, checkpoint)
    try {
      assert(layoutConf() == before, "start() must leave the caller's session conf as it was")
      // a continuous trigger cannot run the aggregate, so this start()
      // throws; the caller's values must be back all the same
      intercept[Exception](Pipeline.start(input.toDF(), CollectedLines.write _,
        Files.createTempDirectory("graft-ckpt-layout-").toString, Some(Trigger.Continuous(1000))))
      assert(layoutConf() == before, "a throwing start() must leave the caller's session conf as it was")

      input.addData(env("10:00:30", 10.0), env("10:01:30", 20.0))
      query.processAllAvailable() // watermark → 09:59:30
      input.addData(env("10:10:00", 30.0))
      query.processAllAvailable() // watermark → 10:08, past the 10:00 window's end
      input.addData(env("10:02:00", 99.0), env("10:11:00", 40.0)) // 10:02 is late
      query.processAllAvailable()

      // an idle trigger reports progress too, but runs no batch
      val ran = query.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
      assert(ran.map(p => p.batchId -> p.numInputRows) == Seq(0L -> 2L, 1L -> 1L, 2L -> 2L),
        "one micro-batch per data batch and none without input: " +
          query.recentProgress.map(p => p.batchId -> p.numInputRows).toSeq)
      val ops = ran.map(_.stateOperators.head)
      assert(ops.forall(o => o.numShufflePartitions == 1 && o.numStateStoreInstances == 1),
        s"one state partition: ${ops.map(o => o.numShufflePartitions -> o.numStateStoreInstances)}")
      // the expired 10:00 window is evicted on the next data batch, and
      // the late 99.0 is dropped: 10:00 is emitted once, avg 15
      assert(ops.last.numRowsRemoved == 1 && ops.last.numRowsTotal == 1, s"${ops.last}")
      assert(ops.last.numRowsDroppedByWatermark == 1, s"${ops.last}")
      val lines = CollectedLines.queue.toArray(Array.empty[String]).toSeq
      assert(lines.length == 3, s"got $lines")
      assert(lines.count(_.contains("avg_temperature_c=15.0")) == 1, s"got $lines")
      assert(lines.count(_.contains("avg_temperature_c=30.0")) == 1, s"got $lines")
      assert(lines.count(_.contains("avg_temperature_c=35.0")) == 1, s"got $lines")
    } finally query.stop()
  }

  test("R6: a checkpoint written with the session's partition count resumes with it") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    CollectedLines.queue.clear()
    val input = MemoryStream[String]
    val checkpoint = Files.createTempDirectory("graft-ckpt-oldlayout-").toString
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val q1 = Pipeline.windowedAgg(Pipeline.flattened(input.toDF()))
      .writeStream.outputMode("update")
      .foreachBatch(Pipeline.lineProtocolSink(CollectedLines.write _) _)
      .option("checkpointLocation", checkpoint)
      .start()
    try {
      input.addData(env("10:00:30", 10.0))
      q1.processAllAvailable()
      assert(q1.lastProgress.stateOperators.head.numShufflePartitions == partitions)
    } finally q1.stop()
    assert(CollectedLines.queue.size() == 1)
    input.addData(env("10:01:30", 20.0))
    val q2 = Pipeline.start(input.toDF(), CollectedLines.write _, checkpoint)
    try {
      q2.processAllAvailable()
      val op = q2.lastProgress.stateOperators.head
      assert(op.numShufflePartitions == partitions && op.numStateStoreInstances == partitions,
        s"the checkpoint's $partitions state partitions must be kept: $op")
      val lines = CollectedLines.queue.toArray(Array.empty[String])
      assert(lines.length == 2, s"expected one new emission, got ${lines.toSeq}")
      assert(lines(1).contains("avg_temperature_c=15.0"),
        s"restored state must merge across restart: ${lines(1)}")
    } finally q2.stop()
  }

  test("file streaming source: the flagship aggregation over a parquet stream matches batch") {
    // readStream over the testdata directory (events.parquet selected by
    // glob) — the file-source path of R1's source abstraction
    val batch = Tables.events(spark, sfDir)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // declared schema: the file holds ts as TIMESTAMP(MICROS, NTZ); this
    // query never reads ts (the scan prunes it), so its BIGINT here is
    // never checked against the file
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .format("parquet")
      .load(sfDir)
      .groupBy(org.apache.spark.sql.functions.col("event_type"))
      .count()
    val query = stream.writeStream.outputMode("complete")
      .format("memory").queryName("file_stream_counts").start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("file_stream_counts").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch)
    } finally query.stop()
  }

  test("stream-stream join: time-bounded correlation with watermarked state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val readings = MemoryStream[String]
    val alerts = MemoryStream[(Int, java.sql.Timestamp, String)]
    val alertsDf = alerts.toDF().toDF("a_key", "a_time", "alert_level")
    val query = Pipeline.correlatedJoin(Pipeline.flattened(readings.toDF()), alertsDf)
      .writeStream.outputMode("append")
      .format("memory").queryName("corr_join").start()
    try {
      readings.addData(env("10:00:30", 21.0, code = 7), env("10:20:00", 30.0, code = 7))
      alerts.addData(
        (7, java.sql.Timestamp.valueOf("2026-08-12 10:01:00"), "high"), // within ±1 min of 10:00:30
        (7, java.sql.Timestamp.valueOf("2026-08-12 10:05:00"), "low"),  // matches nothing
        (9, java.sql.Timestamp.valueOf("2026-08-12 10:00:40"), "high")) // wrong key
      query.processAllAvailable()
      val rows = spark.table("corr_join").collect()
        .map(r => (r.getAs[Int]("key"), r.getAs[Double]("temperature_c"),
          r.getAs[String]("alert_level")))
      assert(rows.toSeq == Seq((7, 21.0, "high")), s"got ${rows.toSeq}")
    } finally query.stop()
  }

  test("stream-stream LEFT OUTER join: unmatched rows emit null-padded after the watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val readings = MemoryStream[String]
    val alerts = MemoryStream[(Int, java.sql.Timestamp, String)]
    val alertsDf = alerts.toDF().toDF("a_key", "a_time", "alert_level")
    val query = Pipeline.correlatedJoin(
      Pipeline.flattened(readings.toDF()), alertsDf, "left_outer")
      .writeStream.outputMode("append")
      .format("memory").queryName("outer_join").start()
    try {
      readings.addData(env("10:00:30", 21.0, code = 7)) // will never match
      alerts.addData((7, java.sql.Timestamp.valueOf("2026-08-12 10:10:00"), "far")) // outside ±1 min
      query.processAllAvailable()
      // no emission yet: a match could still arrive within the bound
      assert(spark.table("outer_join").isEmpty)
      // advance both watermarks far past the reading's match horizon
      readings.addData(env("11:00:00", 30.0, code = 8))
      alerts.addData((8, java.sql.Timestamp.valueOf("2026-08-12 11:30:00"), "late"))
      query.processAllAvailable()
      readings.addData(env("11:40:00", 31.0, code = 8))
      alerts.addData((8, java.sql.Timestamp.valueOf("2026-08-12 11:50:00"), "later"))
      query.processAllAvailable()
      val unmatched = spark.table("outer_join").collect()
        .filter(r => r.getAs[Int]("key") == 7)
      assert(unmatched.length == 1, s"expected one null-padded emission, got ${unmatched.toSeq}")
      assert(unmatched(0).isNullAt(unmatched(0).fieldIndex("alert_level")),
        "unmatched left row must carry null right-side fields")
    } finally query.stop()
  }

  test("stream-static join: broadcast enrichment, no streaming state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val dim = Seq((1, "clear"), (2, "cloudy")).toDF("code", "code_desc")
    val query = Pipeline.enrich(Pipeline.flattened(input.toDF()), dim)
      .writeStream.outputMode("append")
      .format("memory").queryName("enriched").start()
    try {
      input.addData(env("10:00:30", 21.0, code = 1), env("10:00:31", 22.0, code = 5))
      query.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getAs[Double]("temperature_c"), r.getAs[String]("code_desc")))
      assert(rows.toSeq == Seq((21.0, "clear")), s"got ${rows.toSeq}") // code 5: no dim row
    } finally query.stop()
  }

  test("R1/R2: Kafka source/sink wiring carries the reference's config (not run)") {
    // zero-egress environment (no kafka connector jar): assert the config
    // construction and that the wiring reaches Spark's source resolution
    val security = Pipeline.scramSecurity("user", "pass", "/tmp/ca.pem")
    assert(security("security.protocol") == "SASL_SSL")
    assert(security("sasl.mechanism") == "SCRAM-SHA-256")
    assert(security("sasl.jaas.config").contains("ScramLoginModule"))
    val e = intercept[Exception] {
      Pipeline.kafkaSource(spark, "broker:9093", "sensor_data", security)
    }
    assert(e.getMessage.toLowerCase.contains("kafka"),
      s"expected missing-kafka-source resolution error, got: ${e.getMessage}")
  }
}
