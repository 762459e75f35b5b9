package perfbench

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.util.Locale
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.stream.Pipeline

/** Seeded wire envelopes in the reference producer's format. Message i
  * carries event time 2026-01-01 00:00:00 + i seconds, shifted by up to
  * ±30 s: out of order, but always inside the pipeline's 2-minute
  * watermark, so no record is late enough to drop.
  */
final class WeatherGen(seed: Long) {
  private val rng = new java.util.Random(seed)
  private var i = 0L
  private val baseMicros = LocalDateTime.of(2026, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L

  private def f(x: Double) = String.format(Locale.ROOT, "%.2f", Double.box(x))

  def next(): String = {
    val micros = baseMicros + i * 1000000L + (rng.nextDouble() * 60e6 - 30e6).toLong
    val ts = LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000).toInt, ZoneOffset.UTC)
    val temp = 20.0 + math.sin((i % 6283) * 0.1) * 5.0 + rng.nextGaussian() * 0.5
    val hum = math.min(100.0, math.max(0.0, 55.0 + rng.nextGaussian() * 15.0))
    val wind = math.max(0.0, 12.0 + rng.nextGaussian() * 6.0)
    val rain = math.max(0.0, rng.nextGaussian() * 0.5)
    val press = 1013.0 + rng.nextGaussian() * 4.0
    val s = "{\"timestamp\":\"" + WeatherGen.TsFormat.format(ts) + "\"," +
      "\"location\":{\"latitude\":44.4274689,\"longitude\":26.1028208," +
      "\"timezone\":\"Europe/Bucharest\",\"timezone_abbreviation\":\"EET\"}," +
      "\"current_conditions\":{\"temperature\":{\"value\":" + f(temp) + ",\"unit\":\"celsius\"," +
      "\"apparent\":" + f(temp + 2.5) + "},\"humidity\":{\"value\":" + f(hum) +
      ",\"unit\":\"percent\"},\"wind\":{\"speed\":" + f(wind) + ",\"direction\":" + (i % 360) +
      ".0,\"gusts\":" + f(wind * 1.6) + ",\"unit\":\"km/h\"},\"precipitation\":{\"total\":" +
      f(rain) + ",\"rain\":" + f(rain) + ",\"showers\":0.0,\"snowfall\":0.0,\"unit\":\"mm\"}," +
      "\"atmosphere\":{\"cloud_cover\":" + f(hum * 0.8) + ",\"pressure_msl\":" + f(press) +
      ",\"surface_pressure\":" + f(press - 10.5) + ",\"unit_pressure\":\"hPa\"}," +
      "\"weather_code\":" + (i % 4) + ",\"is_day\":true},\"metadata\":{\"iteration\":" + i +
      ",\"last_api_update\":\"2026-01-01T00:00:00\",\"simulation_mode\":\"oscillating\"}}"
    i += 1
    s
  }

  def take(n: Int): Seq[String] = Seq.fill(n)(next())
}

object WeatherGen {
  val TsFormat: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
}

/** What the benchmark's line-protocol writer received, kept in the JVM
  * (local mode runs the executor-side writer in this process).
  */
object LineSink {
  final case class Receipt(startMs: Double, endMs: Double, lines: Vector[String])
  private val receipts = new ConcurrentLinkedQueue[Receipt]()
  def add(r: Receipt): Unit = receipts.add(r)
  def all: Seq[Receipt] = receipts.asScala.toSeq
  def clear(): Unit = receipts.clear()
}

/** The writer handed to `Pipeline.start`: pulls the partition's encoded
  * lines (which drives the encoding) and records when it had them all.
  */
final class RecordingWriter extends (Iterator[String] => Unit) with Serializable {
  override def apply(lines: Iterator[String]): Unit = {
    val t0 = Clock.nowMs
    val v = lines.toVector
    if (v.nonEmpty) LineSink.add(LineSink.Receipt(t0, Clock.nowMs, v))
  }
}

/** The `weather_stream` workload: the reference's own program, wire
  * envelopes → `Pipeline.start` (parse/flatten, 2-minute watermark,
  * 5-minute window) → the benchmark's line-protocol writer, fed through a
  * MemoryStream.
  *
  *  - phase (a): a backlog in fixed-size micro-batches of `BatchMsgs`
  *    messages, one `addData` + `processAllAvailable` each. The query's
  *    start plus its first batch is the cold pass; each later batch is a
  *    warm pass, for `PhaseAShare` of `--seconds` (at least
  *    `MinWarmBatches`). Pass figures come from the later half.
  *  - phase (b): an open-loop generator offers messages at one fixed rate
  *    for the rest of `--seconds`; latency runs from the scheduled creation of the
  *    newest message in a batch to the writer holding that batch's lines.
  *  - check: the last record emitted per window must equal a batch
  *    computation over the same messages, and no row may be dropped.
  */
object StreamWorkload {
  val BatchMsgs = 2000
  val MinWarmBatches = 5
  val PhaseAShare = 2.0 / 3
  val RateMsgsPerS = 500
  val PeriodMs = 50.0

  private def progressStart(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble

  private def triggerMs(p: StreamingQueryProgress): Double =
    Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)

  private def endOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset)).map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty).map(_.toLong).getOrElse(-1L)

  private def fieldsOf(line: String): (String, Map[String, Double]) = {
    val parts = line.split(" ")
    val fields = parts(1).split(",").map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> v.toDouble
    }.toMap
    parts(2) -> fields
  }

  private def sameValue(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def run(cfg: Cfg): ListMap[String, Any] = {
    // the engine's part of set-up: the pipeline's parse, flatten, watermark
    // and window over one envelope, analysed but not run
    val (spark, setupTimes, setupCpu) = Session.setUp(cfg) { s =>
      import s.implicits._
      Pipeline.windowedAgg(Pipeline.flattened(new WeatherGen(cfg.seed).take(1).toDF("value"))).schema
    }
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    val trace = if (cfg.trace) Some(new Trace(spark)) else None
    val gen = new WeatherGen(cfg.seed)
    val all = mutable.ArrayBuffer.empty[String]
    val input = MemoryStream[String]
    // offer index → (scheduled creation time, messages); one per addData
    val offers = mutable.ArrayBuffer.empty[(Double, Int)]
    def offer(msgs: Seq[String], at: Double): Unit = {
      all ++= msgs
      input.addData(msgs)
      offers += at -> msgs.size
    }
    LineSink.clear()
    var query: StreamingQuery = null
    // one micro-batch of BatchMsgs messages; generating them is the
    // producer's work, done before the clock starts
    val jvmCpu = mutable.ArrayBuffer.empty[Double]
    def batch(): (Double, Double) = {
      val msgs = gen.take(BatchMsgs)
      val c0 = Clock.cpuS
      val j0 = Clock.jvmCpuS
      val t0 = Clock.nowMs
      offer(msgs, t0)
      query.processAllAvailable()
      jvmCpu += Clock.jvmCpuS - j0
      ((Clock.nowMs - t0) / 1000.0, Clock.cpuS - c0)
    }

    trace.foreach(_.attach())
    val startC0 = Clock.cpuS
    val startJ0 = Clock.jvmCpuS
    val startT0 = Clock.nowMs
    query = Pipeline.start(input.toDF(), new RecordingWriter, s"${cfg.work}/checkpoint")
    val buildS = (Clock.nowMs - startT0) / 1000.0
    val coldStart = Clock.nowMs
    val cold = batch()._1 + buildS
    val coldCpu = Clock.cpuS - startC0
    val coldJvmCpu = Clock.jvmCpuS - startJ0
    jvmCpu.clear()
    val coldEnd = Clock.nowMs
    val warm = mutable.ArrayBuffer.empty[Double]
    val warmCpu = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    val tracedSpans = mutable.ArrayBuffer.empty[(Double, Double)]
    val t0 = Clock.nowMs
    trace match {
      case Some(t) =>
        // batches alternate untraced and traced, so neither side is always
        // the later one
        t.detach()
        for (k <- 0 until 2 * MinWarmBatches) {
          if (k % 2 == 0) untraced += batch()._1
          else {
            t.attach()
            val s0 = Clock.nowMs
            val (w, c) = batch()
            warm += w
            warmCpu += c
            tracedSpans += s0 -> Clock.nowMs
            t.detach()
          }
        }
        t.attach()
      case None =>
        do { val (w, c) = batch(); warm += w; warmCpu += c }
        while (warm.size < MinWarmBatches || (Clock.nowMs - t0) / 1000.0 < cfg.seconds * PhaseAShare)
    }

    // phase (b): open loop at a fixed offered rate
    val perOffer = (RateMsgsPerS * PeriodMs / 1000.0).toInt
    val nOffers = math.max(1, (cfg.seconds * (1 - PhaseAShare) * 1000.0 / PeriodMs).toInt)
    val paced = Seq.fill(nOffers)(gen.take(perOffer))
    val firstPaced = offers.size
    val lastBatchBefore = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
    val bStart = Clock.nowMs + PeriodMs
    val actual = mutable.ArrayBuffer.empty[Double]
    for (k <- 0 until nOffers) {
      val due = OpenLoop.slot(bStart, PeriodMs, k)
      val wait = due - Clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait - wait.toLong) * 1e6).toInt)
      actual += Clock.nowMs
      offer(paced(k), due)
    }
    query.processAllAvailable()
    trace.foreach(_.drain())
    query.stop()
    val retained = Session.retainedMiB(spark)

    val progress = query.recentProgress.toSeq
    val receipts = LineSink.all
    val phaseB = progress.filter(p => p.batchId > lastBatchBefore && p.numInputRows > 0)
    val latencies = phaseB.flatMap { p =>
      val s = progressStart(p) - 2
      val e = s + triggerMs(p) + 4
      val got = receipts.filter(r => r.endMs >= s && r.endMs <= e)
      val off = endOffset(p).toInt
      if (got.isEmpty || off < firstPaced || off >= offers.size) None
      else Some(got.map(_.endMs).max - offers(off)._1)
    }
    val late = OpenLoop.lateness(bStart, PeriodMs, actual.toSeq)
    val pacedOffers = offers.drop(firstPaced).toSeq
    val backlogs = phaseB.map { p =>
      val taken = offers.take(endOffset(p).toInt + 1).drop(firstPaced).map(_._2.toLong).sum
      OpenLoop.backlog(pacedOffers, progressStart(p) + triggerMs(p), taken)
    }
    val dropped = progress.flatMap(_.stateOperators.headOption).map(_.numRowsDroppedByWatermark).sum

    // check: the last record per window against a batch computation
    val expected = Pipeline.windowedAgg(Pipeline.flattened(all.toSeq.toDF("value")))
      .collect().flatMap(Pipeline.aggRowToLine).map(fieldsOf).toMap
    val emitted = receipts.sortBy(_.endMs).flatMap(_.lines).map(fieldsOf)
      .foldLeft(Map.empty[String, Map[String, Double]])(_ + _)
    val wrongWindows = (expected.keySet ++ emitted.keySet).toSeq.count { w =>
      (expected.get(w), emitted.get(w)) match {
        case (Some(a), Some(b)) => a.keySet != b.keySet || a.exists { case (k, v) => !sameValue(v, b(k)) }
        case _ => true
      }
    }
    val attempted = progress.count(_.numInputRows > 0) + expected.size
    val failed = wrongWindows + (if (dropped > 0) 1 else 0)
    val errors = (if (wrongWindows > 0) Seq(s"$wrongWindows windows differ from the batch computation") else Nil) ++
      (if (dropped > 0) Seq(s"$dropped rows dropped by the watermark") else Nil)

    def durMedian(key: String, ps: Seq[StreamingQueryProgress]): Double =
      if (ps.isEmpty) 0.0
      else Stats.median(ps.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)))
    val withData = progress.filter(_.numInputRows > 0)
    val ops = withData.flatMap(_.stateOperators.headOption)
    val wmLag = withData.flatMap { p =>
      val et = p.eventTime
      for (mx <- Option(et.get("max")); wm <- Option(et.get("watermark")))
        yield (Instant.parse(mx).toEpochMilli - Instant.parse(wm).toEpochMilli).toDouble
    }
    val streamLayers = ListMap[String, Double](
      "stream.Pipeline.batches" -> withData.size.toDouble,
      "stream.Pipeline.batch_ms" -> durMedian("triggerExecution", withData),
      "stream.Pipeline.add_batch_ms" -> durMedian("addBatch", withData),
      "stream.Pipeline.planning_ms" -> durMedian("queryPlanning", withData),
      "stream.Pipeline.wal_commit_ms" -> durMedian("walCommit", withData),
      "stream.Pipeline.state_commit_ms" -> (if (ops.isEmpty) 0.0 else Stats.median(ops.map(_.commitTimeMs.toDouble))),
      "stream.Pipeline.state_rows" -> (if (ops.isEmpty) 0.0 else ops.map(_.numRowsTotal).max.toDouble),
      "stream.Pipeline.state_mb" -> (if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes).max / 1048576.0),
      "stream.Pipeline.watermark_lag_ms" -> (if (wmLag.isEmpty) 0.0 else Stats.median(wmLag)),
      "stream.Pipeline.rows_dropped" -> dropped.toDouble,
      "stream.LineProtocol.lines" -> receipts.map(_.lines.size).sum.toDouble,
      "stream.LineProtocol.sink_busy_s" -> receipts.map(r => r.endMs - r.startMs).sum / 1000.0,
      "gen.late_ms" -> (if (late.isEmpty) 0.0 else Stats.median(late)),
      "gen.late_max_ms" -> (if (late.isEmpty) 0.0 else late.max),
      "gen.backlog_msgs" -> (if (backlogs.isEmpty) 0.0 else backlogs.max.toDouble))

    val steadyWall = Stats.steady(warm.toSeq)
    val passS = Stats.median(steadyWall)
    val passMinS = steadyWall.min
    val passCpuS = Stats.median(Stats.steady(warmCpu.toSeq))
    val p90 = Stats.tail(latencies)
    val metrics = mutable.LinkedHashMap[String, Double](
      "setup_s" -> Stats.median(setupCpu),
      "cold_pass_cpu_s" -> coldCpu,
      "pass_cpu_s" -> passCpuS)
    val detail = mutable.LinkedHashMap[String, Any](
      "setup_s" -> Stats.median(setupCpu),
      "setup_wall_s" -> Stats.median(setupTimes),
      "setup_runs_wall_s" -> setupTimes,
      "setup_runs_cpu_s" -> setupCpu,
      "cold_pass_s" -> cold,
      "pass_s" -> passS,
      "pass_min_s" -> passMinS,
      "warm_passes_s" -> warm,
      "warm_passes_cpu_s" -> warmCpu,
      "warm_passes_jvm_cpu_s" -> (if (trace.isEmpty) jvmCpu else Nil),
      "cold_pass_cpu_s" -> coldCpu,
      "cold_pass_jvm_cpu_s" -> coldJvmCpu,
      "pass_cpu_s" -> passCpuS,
      // falls when a change adds waiting, which the CPU figures miss
      "pass_busy_share" -> passCpuS / (passS * cfg.cores),
      "warm_passes" -> warm.size,
      "query_p50_s" -> None,
      "query_p90_s" -> None,
      "stream_msgs_per_s" -> BatchMsgs / passS,
      "stream_latency_p50_ms" -> (if (latencies.isEmpty) None else Some(Stats.median(latencies))),
      "stream_latency_p90_ms" -> p90.filter(_._1 >= 0.9).map(_._2),
      "stream_latency_tail" -> p90.map { case (l, v) => ListMap[String, Any]("level" -> l, "ms" -> v) },
      "latency_samples" -> latencies.size,
      "offered_msgs_per_s" -> RateMsgsPerS,
      "retained_mb" -> retained,
      "windows_checked" -> expected.size)
    detail ++= streamLayers

    var traceOut: Option[ListMap[String, Any]] = None
    trace.foreach { t =>
      t.detach()
      def batchOps(from: Double, to: Double, kind: String) = t.progressSnapshot
        .filter(p => p.numInputRows > 0 && progressStart(p) >= from - 1 && progressStart(p) <= to)
        .map(p => OpSpan(s"stream:${p.batchId}", s"batch${p.batchId}", kind,
          progressStart(p), progressStart(p), progressStart(p) + triggerMs(p), ok = true))
      val coldOps = batchOps(coldStart, coldEnd, "cold")
      val warmOps = tracedSpans.toSeq.flatMap { case (a, b) => batchOps(a, b, "warm") }
      val (binaries, unattributed) =
        Layers.largeBinaries(t, coldOps ++ warmOps ++ batchOps(bStart, Clock.nowMs, "paced"))
      val warmTotal = Layers.total(warmOps.map(o => Layers.row(t, o)))
      val coldTotal = Layers.total(coldOps.map(o => Layers.row(t, o)))
      val layer = mutable.LinkedHashMap[String, Double]()
      layer ++= warmTotal.removed("wall_s")
      layer("SparkEntry.build_s") = buildS
      layer("spark.exec.busy_share") = warmTotal("spark.exec.task_run_s") / (warm.sum * cfg.cores)
      layer("functions.codegen_compile_s") = coldTotal("functions.codegen_compile_s")
      layer("functions.codegen_classes") = coldTotal("functions.codegen_classes")
      layer("ops.artifact_build_s") = math.max(0.0, cold - passS)
      layer("trace.overhead_ratio") = warm.sum / untraced.sum
      layer("retained_mb") = retained
      layer ++= streamLayers
      metrics ++= layer.map { case (k, v) => s"layer:$k" -> v }
      traceOut = Some(ListMap[String, Any]("workload" -> cfg.workload, "seed" -> cfg.seed,
        "large_task_binaries" -> binaries,
        "unattributed_large_task_binaries" -> unattributed,
        "spans" -> (coldOps ++ warmOps).map(o => Layers.spans(t, o))))
    }
    Session.stop(spark)
    ListMap[String, Any](
      "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
      "metrics" -> metrics, "detail" -> detail, "per_query" -> None,
      "check_queries" -> Nil, "attempted" -> attempted, "failed" -> failed,
      "errors" -> errors, "cores" -> cfg.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "trace_detail" -> traceOut)
  }
}
