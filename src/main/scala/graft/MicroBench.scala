package graft

import java.nio.file.Files

import scala.math.BigDecimal.RoundingMode

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.ops.{ContaminationMatrix, LloydIvfPq, Mixing, Repetition, Weather}
import graft.stream._

/** Streaming-throughput and operator micro-benchmarks, one table of cases.
  *
  * Usage: `sbt "runMain graft.MicroBench <case>[,<case>…] [n]"`. `n` sizes
  * the input of every named case (each case has its own default); each
  * case prints one JSON line. `SPARK_GRAFT_SF_DIR` names the testdata of
  * the two cases that read it (`repetition_counts`, `stream_index_ingest`).
  *
  * A [[Drain]] case generates its source and writes it as parquet (set-up,
  * not timed), then times an AvailableNow drain of its query over that
  * source into the noop sink from a fresh checkpoint. `state_rows` is the
  * last `stateOperators.numRowsTotal` the engine reports: the measured form
  * of each streaming operator's bounded-state claim (state holds a keyed
  * summary, so it is bounded by key cardinality, never by stream length).
  *
  * An [[AB]] case freezes its input with a local checkpoint, so neither
  * side pays the build, and measures two forms of one operator in the
  * same warm session: one untimed warm-up each, then alternating reps and
  * the median of each side, so warm-vs-fresh skew and slow drift hit both
  * sides equally.
  */
object MicroBench {

  /** What a case sees at set-up: the session, its input size, and the
    * testdata directory for a case that reads one (given its default). */
  final case class Ctx(spark: SparkSession, n: Long, sfDir: String => String)

  sealed trait Case {
    def name: String
    /** The name its JSON line carries (under "metric", or "bench" for an
      * [[AB]]), the one BASELINE.md quotes. */
    def metric: String
    def defaultN: Long
    def run(ctx: Ctx): String
  }

  /** A streaming case. Its metric is `<name>_<unit>_per_sec`; `rows` maps n
    * to the rows generated; `query` builds its static side from the
    * written source (read as a batch) at set-up and returns the streaming
    * transform; `tail` renders the fields after `seconds` from the
    * measured state rows; `state` is the expected state_rows as a closed
    * form of the generated rows, where there is one. `reps` > 1 reports
    * the median drain, each from an empty checkpoint. */
  final case class Drain(
      name: String, defaultN: Long, unit: String, countKey: String,
      source: Ctx => DataFrame,
      query: (Ctx, DataFrame) => DataFrame => DataFrame,
      mode: String,
      state: Option[Long => Long],
      tail: Long => Seq[(String, Any)],
      rows: Long => Long = identity,
      reps: Int = 1,
      start: (DataFrame, DataStreamWriter[Row] => DataStreamWriter[Row]) =>
        StreamingQuery = (df, sink) => sink(df.writeStream).start())
      extends Case {

    def metric: String = s"${name}_${unit}_per_sec"

    def run(at: Ctx): String = {
      val ctx = at.copy(n = rows(at.n))
      val spark = ctx.spark
      val work = Files.createTempDirectory(s"graft-microbench-$name-")
      try {
        val dir = s"$work/source"
        val src = source(ctx)
        src.repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(dir)
        val transform = query(ctx, spark.read.parquet(dir))
        val drains = (1 to reps).map { rep =>
          val stream = spark.readStream.schema(src.schema).parquet(dir)
          val t0 = System.nanoTime()
          val q = start(transform(stream), _.outputMode(mode).format("noop")
            .option("checkpointLocation", s"$work/ckpt-$rep")
            .trigger(Trigger.AvailableNow()))
          q.awaitTermination()
          ((System.nanoTime() - t0) / 1e9, stateRows(q))
        }
        val sec = median(drains.map(_._1))
        line(Seq("metric" -> metric,
          "value" -> fixed(ctx.n / sec, 0), "unit" -> s"$unit/sec",
          countKey -> ctx.n, "seconds" -> fixed(sec, 2)) ++
          tail(drains.last._2))
      } finally {
        spark.catalog.clearCache()
        FileUtils.deleteDirectory(work.toFile)
      }
    }
  }

  /** A batch A/B of two forms of one operator over the same frozen input.
    * `size` renders the fields after `bench` from the input's row count;
    * the line ends with each form's median seconds and `b / a` under
    * `speedup`. */
  final case class AB(
      name: String, defaultN: Long,
      source: Ctx => DataFrame,
      size: Long => Seq[(String, Any)],
      a: (String, DataFrame => DataFrame),
      b: (String, DataFrame => DataFrame),
      speedup: String) extends Case {

    def metric: String = name

    def run(ctx: Ctx): String = {
      val spark = ctx.spark
      val in = source(ctx).repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
      val count = in.count()
      def time(form: DataFrame => DataFrame): Double = {
        val t0 = System.nanoTime()
        form(in).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      time(a._2); time(b._2)
      val (ta, tb) = (1 to ABReps).map(_ => (time(a._2), time(b._2))).unzip
      val (ma, mb) = (median(ta), median(tb))
      line(Seq("bench" -> metric) ++ size(count) ++ Seq("reps" -> ABReps,
        s"${a._1}_sec" -> fixed(ma, 3), s"${b._1}_sec" -> fixed(mb, 3),
        speedup -> fixed(mb / ma, 3)))
    }
  }

  val ABReps = 5
  /** Drains of the near-dup stage: single-VM runs vary ±20-30%. */
  private val DedupReps =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt

  /** The last state operator's row count in the query's last progress;
    * 0 when it has no state operator, -1 when it reported no progress. */
  private def stateRows(q: StreamingQuery): Long = {
    val progress = q.recentProgress
    if (progress.isEmpty) -1L
    else progress.flatMap(p => Option(p.stateOperators).toSeq.flatten
      .map(_.numRowsTotal)).lastOption.getOrElse(0L)
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  private def fixed(v: Double, scale: Int): BigDecimal =
    BigDecimal(v).setScale(scale, RoundingMode.HALF_UP)

  private def line(fields: Seq[(String, Any)]): String =
    fields.map {
      case (k, v: String) => s""""$k":"$v""""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")

  private def monitor(expected: Long): Long => Seq[(String, Any)] =
    s => Seq("state_rows" -> s, "expected_state" -> expected)

  private def id = col("id")
  private def range(ctx: Ctx) = ctx.spark.range(ctx.n)

  // X88 keyed metrics: type derives from id DIV Users (not id mod
  // anything — Types divides Users, so any linear residue would collapse
  // each user onto a single type and the key space to |Users|): each user
  // sees every type across the sweep → exactly Users × Types keys
  private val Users = 10000L
  private val Types = 5L
  // X111 CUSUM: user = fast index, day = slow index → every user sees
  // every day; within a day events spread over the day's seconds
  private val CusumUsers = 50000L
  private val Days = 10L
  private val Base = 1704067200000L // 2024-01-01 UTC
  private val MsPerDay = 86400000L
  // monitors: source and label populations, embedding width
  private val Sources = 20L
  private val Labels = 10L
  private val EntropyUsers = 100000L
  private val Dims = 64
  private val Cells = Sources * ContaminationMatrix.EvalSets.length

  /** Documents-shaped stream (X152/X167). */
  private def docs(ctx: Ctx) = range(ctx).select(
    concat(lit("src"), id % Sources).as("source"), id.as("doc_id"),
    (id * 31L % 2000L + 20L).as("n_chars"))

  /** Documents WITH text (X174/X175/X177): 12 words from a 50-word vocab,
    * so 6-grams exist and some hit the eval-gram sets. */
  private def textDocs(ctx: Ctx) = range(ctx).select(
    id.as("doc_id"), concat(lit("src"), id % Sources).as("source"),
    concat_ws(" ", (0 until 12).map(i =>
      concat(lit("w"), (id * 7L + i * 3L) % 50L)): _*).as("text"))

  /** Eval-gram sets pinned from a 100k batch slice with the standard
    * residues. */
  private def evalSets(batch: DataFrame): DataFrame =
    settled(StreamDecontam.evalGramSets(batch.limit(100000)))

  /** Cache `ref` and settle it at set-up, outside the timed drain. */
  private def settled(ref: DataFrame): DataFrame = {
    val r = ref.cache(); r.count(); r
  }

  /** One 64-dim vector per row at 1/16 of n (the per-row payload is 64
    * floats, so this is ≈ n in field count), at least 10k rows. */
  private def vecRows(n: Long): Long = math.max(n / 16L, 10000L)

  val Cases: Seq[Case] = Seq(
    // R1: the reference's pipeline — wire envelopes → parse/flatten →
    // watermark + 5-min window aggregate — in the state layout
    // Pipeline.start uses. Envelope generation is the producer's job and
    // is not timed; the reference's own ingest ceiling is 1 msg/s by
    // design (synchronous send+flush per record, BASELINE.md).
    Drain("stream", 500000L, "msgs", "messages",
      source = ctx => Weather.generateWire(ctx.spark, ctx.n),
      query = (_, _) => wire => Pipeline.windowedAgg(Pipeline.flattened(wire)),
      mode = "update", state = None, tail = _ => Nil,
      start = (agg, sink) => Pipeline.startSingleState(agg)(sink)),
    // X23 near-dup stage: 20 pseudo-random tokens per doc from a 211-word
    // vocabulary, every 5th doc a copy of its predecessor (~20% of
    // arrivals hit a populated bucket); fingerprint → bucket fan-out →
    // keyed-state matching
    Drain("stream_dedup", 200000L, "docs", "docs",
      source = ctx => {
        val seed = when(id % 5 === 1, id - 1).otherwise(id)
        range(ctx).select(id.as("doc_id"), concat_ws(" ", (0 until 20).map(p =>
          concat(lit("w"), pmod(seed * 2654435761L + lit(p * 40503), lit(211)))): _*)
          .as("text"))
      },
      query = (_, _) => StreamDedup.nearDupCandidates(_).toDF(),
      mode = "append", state = None,
      tail = _ => Seq("reps" -> DedupReps, "stat" -> "median"), reps = DedupReps),
    // X88 keyed metrics, value in exact cents: state == |keys|
    Drain("stream_metrics", 1000000L, "events", "events",
      source = ctx => range(ctx).select((id % Users).as("user_id"),
        concat(lit("t"), (id / Users).cast("long") % Types).as("event_type"),
        ((id * 37L % 100000L).cast("decimal(27,6)") / 100).cast("double")
          .as("value")),
      query = (_, _) => StreamMetrics.keyedMetrics,
      mode = "update", state = Some(n => math.min(n, Users * Types)),
      tail = s => Seq("state_rows" -> s, "distinct_keys" -> Users * Types)),
    // X111 CUSUM: the chart is Markov, so state per user is O(1) however
    // many days the stream spans — state == |users|
    Drain("stream_cusum", 1000000L, "events", "events",
      source = ctx => range(ctx).select((id % CusumUsers).as("user_id"),
        timestamp_millis(lit(Base) + (expr(s"id div ${CusumUsers}L") % Days) *
          MsPerDay + (id * 1009L % 86400L) * 1000L).as("ts")),
      query = (_, _) => StreamCusum.chartRows(_).toDF(),
      mode = "append", state = Some(n => math.min(n, CusumUsers)),
      tail = s => Seq("state_rows" -> s, "distinct_users" -> CusumUsers,
        "days" -> Days)),
    // X119 space-saving shards over heavy-tailed keys: ~50% of events hit
    // id%512 (hot head), the rest spread over 100k cold keys, so eviction
    // (the algorithm's cost center) runs; state == |shards| at any
    // cardinality
    Drain("stream_topk", 1000000L, "events", "events",
      source = ctx => range(ctx).select(
        when(id % 2 === 0, id % 512L).otherwise(id * 2654435761L % 100000L)
          .as("user_id"),
        timestamp_micros(id * 1000L + 1577836800000000L).as("ts"),
        id.as("event_id")),
      query = (_, _) => StreamTopK.userTopK(_).toDF(),
      mode = "update", state = Some(n => math.min(n, StreamTopK.Shards.toLong)),
      tail = s => Seq("state_rows" -> s, "shards" -> StreamTopK.Shards,
        "counters_per_shard" -> StreamTopK.K)),
    // X152 drift: bounded reservoir per source; reference = shifted lengths
    Drain("stream_drift", 1000000L, "rows", "rows", docs,
      query = (_, batch) => {
        val ref = settled(StreamDrift.refSamples(batch.limit(100000)
          .withColumn("n_chars", col("n_chars") + 7L)))
        StreamDrift.driftMonitor(_, ref)
      },
      mode = "complete", state = Some(n => math.min(n, Sources)),
      tail = monitor(Sources)),
    // X167 PSI: band counts in plain SUM state (the cheapest monitor)
    Drain("stream_psi", 1000000L, "rows", "rows", docs,
      query = (_, batch) => {
        val ref = settled(StreamPsi.refBands(batch.limit(100000)
          .withColumn("n_chars", col("n_chars") + 150L)))
        StreamPsi.psiMonitor(_, ref)
      },
      mode = "complete", state = Some(n => math.min(n, Sources)),
      tail = monitor(Sources)),
    // X161 AMS: 32 linear counters per source
    Drain("stream_ams", 1000000L, "rows", "rows",
      source = ctx => range(ctx).select(
        concat(lit("src"), id % Sources).as("grp"),
        concat(lit("content-"), id * 17L % 250000L).as("v")),
      query = (_, batch) => {
        val ref = settled(StreamAms.refSketch(batch.limit(100000)))
        StreamAms.amsMonitor(_, ref)
      },
      mode = "complete", state = Some(n => math.min(n, Sources)),
      tail = monitor(Sources)),
    // X168 entropy: a keyed-count buffer per user (the sharded axis)
    Drain("stream_entropy", 1000000L, "rows", "rows",
      source = ctx => range(ctx).select((id % EntropyUsers).as("user_id"),
        concat(lit("type"), id * 13L % 12L).as("event_type")),
      query = (_, _) => StreamQuality.entropyMonitor,
      mode = "complete", state = Some(n => math.min(n, EntropyUsers)),
      tail = monitor(EntropyUsers)),
    // X169 FD: one cell-count buffer row per dependency
    Drain("stream_fd", 1000000L, "rows", "rows",
      source = ctx => range(ctx).select(id.as("doc_id"),
        concat(lit("src"), id % Sources).as("source"),
        concat(lit("l"), id * 7L % 12L).as("lang")),
      query = (_, _) => StreamQuality.fdMonitor,
      mode = "complete", state = Some(_ => StreamQuality.StreamDeps.length.toLong),
      tail = monitor(StreamQuality.StreamDeps.length.toLong)),
    // X174 decontamination guard: stateless, append mode
    Drain("stream_decontam_guard", 1000000L, "rows", "rows", textDocs,
      query = (_, batch) => {
        val sets = evalSets(batch)
        StreamDecontam.decontamGuard(_, sets)
      },
      mode = "append", state = Some(_ => 0L), tail = monitor(0L)),
    // X175 contamination rates: plain SUM state per (source, eval set)
    Drain("stream_decontam_rates", 1000000L, "rows", "rows", textDocs,
      query = (_, batch) => {
        val sets = evalSets(batch)
        StreamDecontam.contaminationMonitor(_, sets)
      },
      mode = "complete",
      state = Some(n => math.min(n, Sources) * ContaminationMatrix.EvalSets.length),
      tail = monitor(Cells)),
    // X177 shared-gram KMV: one ≤K-slot buffer per LEAKY cell, so state is
    // at most the cell count (which cells leak depends on the text)
    Drain("stream_decontam_kmv", 1000000L, "rows", "rows", textDocs,
      query = (_, batch) => {
        val sets = evalSets(batch)
        StreamDecontam.sharedGramKmv(_, sets)
      },
      mode = "complete", state = None, tail = monitor(Cells)),
    // X180 index ingest: encode arrivals against the frozen trained-index
    // tables (stateless: one bounded parameter row each; append mode)
    Drain("stream_index_ingest", 1000000L, "rows", "rows",
      source = ctx => range(ctx).select(id.as("vec_id"),
        expr(s"transform(sequence(1, $Dims), d -> " +
          "CAST(CAST(pmod(id * 37 + d * 101, 2000) AS DOUBLE) / 1000.0 " +
          "- 1.0 AS FLOAT))").as("embedding")),
      query = (ctx, _) => {
        val idx = LloydIvfPq.ivfPqIndex(ctx.spark, ctx.sfDir("/root/testdata/sf0.01"))
        val centRow = settled(StreamIndexIngest.centroidRow(idx.centroids))
        val cbRow = settled(StreamIndexIngest.codebookFlatRow(idx.codebooks))
        StreamIndexIngest.encodeArrivals(_, centRow, cbRow)
      },
      mode = "append", state = Some(_ => 0L), tail = monitor(0L), rows = vecRows),
    // X162 centroids: one [n, s₀…s_D] buffer per label
    Drain("stream_centroid", 1000000L, "rows", "rows",
      source = ctx => range(ctx).select((id % Labels).as("label"),
        expr(s"transform(sequence(1, $Dims), d -> " +
          "CAST(pmod(id * 37 + d * 101, 2000) AS FLOAT) / 1000.0 - 1.0)")
          .as("embedding")),
      query = (_, batch) => {
        val ref = settled(StreamCentroid.refCentroids(batch.limit(20000)))
        StreamCentroid.centroidMonitor(_, ref)
      },
      mode = "complete", state = Some(n => math.min(n, Labels)),
      tail = monitor(Labels), rows = vecRows),
    // X29 quota: the shipped single window (Spark's WindowGroupLimit
    // pushdown) against the hand-rolled salted two-phase top-N, on ONE
    // stratum holding every row (the worst case: the naive plan funnels
    // it through one task); deterministic pseudo-random scores
    AB("quality_quota", 4000000L,
      source = ctx => range(ctx).select(id.as("doc_id"), lit("en").as("lang"),
        (pmod(functions.Hashing.md5Long40(id.cast("string")), lit(1000000L))
          .cast("double") / 1e6).as("quality_score")),
      size = rows => Seq("rows" -> rows, "strata" -> 1),
      a = "shipped_window" -> (Mixing.quotaOfScored(_, Mixing.QuotaN)),
      b = "two_phase" ->
        (Mixing.quotaTwoPhaseScored(_, Mixing.QuotaN, Mixing.QuotaSalts)),
      speedup = "shipped_speedup"),
    // X27: the fused RepetitionCounts expression against the interpreted
    // lambda form, on n documents replicated from the testdata documents
    // with doc_id offsets (a row-local operator, so replication is a
    // faithful scale-up; 10 blocks of sf0.1 by default)
    AB("repetition_counts", 50000L,
      source = ctx => {
        val base = Tables.documents(ctx.spark, ctx.sfDir("/root/testdata/sf0.1"))
          .select(col("doc_id"), col("text"))
        val perBlock = base.count()
        val blocks = ((ctx.n + perBlock - 1) / perBlock).toInt
        (0 until blocks).map(k =>
          base.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"), col("text")))
          .reduce(_ unionByName _).limit(ctx.n.toInt)
      },
      size = docs => Seq("docs" -> docs),
      a = "native" -> (Repetition.repetitionOf _),
      b = "lambda" -> (Repetition.repetitionOfLambda _),
      speedup = "speedup"))

  def main(args: Array[String]): Unit = {
    val usage = "usage: MicroBench <case>[,<case>…] [n]; cases: " +
      Cases.map(_.name).mkString(", ")
    require(args.nonEmpty, usage)
    val picked = args(0).split(",").map(_.trim).map(name =>
      Cases.find(_.name == name).getOrElse(throw new IllegalArgumentException(usage)))
    val n = args.lift(1).map(_.toLong)
    val spark = GraftSession()
    picked.foreach(c => println(c.run(Ctx(spark, n.getOrElse(c.defaultN),
      default => sys.env.getOrElse("SPARK_GRAFT_SF_DIR", default)))))
    spark.stop()
  }
}
