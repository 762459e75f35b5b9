package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** The `relational` and `near_dup` workloads: a fixed list of registered
  * queries, each built through `SparkEntry.queries(name)(spark, dir)` and
  * executed in a closed loop from one client thread. The seed permutes
  * the order of every pass.
  *
  *  - cold pass: the first pass in a fresh session. Each result is written
  *    to parquet, which run.py fingerprints after the JVM exits.
  *  - warm passes: noop writes, repeated until `--seconds` have passed
  *    (at least `MinWarmPasses`). Pass figures come from the later half.
  *  - traced run: the cold pass is traced, and the warm pass runs each
  *    query once traced and once untraced, for the tracing overhead.
  */
object BatchWorkload {

  val MinWarmPasses = 4

  /** One pass over the query list: its operations, wall, Java-thread CPU
    * (`Clock.cpuS`) and whole-JVM CPU seconds.
    */
  final case class Pass(ops: Seq[OpSpan], wallS: Double, cpuS: Double, jvmCpuS: Double)

  val nearDup: Seq[String] = Seq(
    "x01_exact_dedup", "x02_minhash_lsh", "x04_pairwise_similarity",
    "x11_doc_fingerprint", "x14_ann_lsh_topk", "x20_embedding_near_dup",
    "x62_setsim_prefix_join", "x63_containment_join", "x105_sorted_neighborhood",
    "x125_winnowing_match", "x137_theta_overlap", "x145_semdedup",
    "x151_ann_ivfpq_sym_topk", "x179_ivfpq_persisted_topk")

  def allRelational: Seq[String] =
    SparkEntry.queries.keys.filter(_.matches("b[0-9]+[a-z]?_.*")).toSeq.sorted

  /** The 15 `b*` queries a relational run executes unless `--full 1`, so
    * that a run fits the time a benchmark run has. One query from each
    * group of four in the 60 ranked by measured warm latency, chosen so
    * that the 15 match the 60 per query: warm and cold latency, JVM and
    * task CPU, jobs, AQE updates, eager build jobs and residual share.
    * README.md has the comparison.
    */
  val relationalDefault: Seq[String] = Seq(
    "b12_window_ranking", "b15_topk", "b18c_scalar_math_conditional", "b20_map_json",
    "b24_udaf_secondmax", "b29_deterministic_sample", "b31_correlated_subquery",
    "b32_window_range_frame", "b39_percentile_cont", "b40_interval_join", "b41_fuzzy_join",
    "b45_integrity_audit", "b48_last_touch_attribution", "b55_bloom_prune_semi",
    "b56_grouped_topk")

  def queryNames(workload: String, full: Boolean): Seq[String] = workload match {
    case "relational" => if (full) allRelational else relationalDefault
    case "near_dup" => nearDup
  }

  /** Builds the relations a workload reads (file listing, footers). The
    * first call also initialises the engine's query registry.
    */
  def loadTables(workload: String)(spark: SparkSession, dir: String): Unit = {
    require(SparkEntry.queries.nonEmpty)
    val tables = workload match {
      case "near_dup" => Seq(Tables.documents _, Tables.embeddings _)
      case _ => Seq(Tables.region _, Tables.nation _, Tables.customer _, Tables.supplier _,
        Tables.part _, Tables.orders _, Tables.lineitem _, Tables.events _)
    }
    tables.foreach(t => t(spark, dir).schema)
  }

  def run(cfg: Cfg): ListMap[String, Any] = {
    val (spark, setupTimes, setupCpu) = Session.setUp(cfg)(s => loadTables(cfg.workload)(s, cfg.data))
    val names = queryNames(cfg.workload, cfg.full)
    val registry = SparkEntry.queries
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"queries not registered: ${missing.mkString(",")}")
    val rng = new Random(cfg.seed)
    val trace = if (cfg.trace) Some(new Trace(spark)) else None
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0

    var traced = false
    def exec(name: String, kind: String, write: DataFrame => Unit): OpSpan = {
      val id = s"${Trace.OpPrefix}$kind:$attempted:$name"
      attempted += 1
      spark.sparkContext.setJobGroup(id, id, interruptOnCancel = false)
      val c0 = Clock.cpuS
      val t0 = Clock.nowMs
      var built = t0
      var ok = true
      try {
        val df = registry(name)(spark, cfg.data)
        built = Clock.nowMs
        if (traced) trace.foreach(_.addPhases(df.queryExecution))
        write(df)
      } catch {
        case e: Throwable =>
          ok = false
          if (built == t0) built = Clock.nowMs
          errors += s"$kind $name: $e"
          System.err.println(s"[perfbench] $kind $name failed: $e")
      }
      val t1 = Clock.nowMs
      spark.sparkContext.clearJobGroup()
      spark.catalog.clearCache()
      OpSpan(id, name, kind, t0, built, t1, ok, Clock.cpuS - c0)
    }
    val noop: String => DataFrame => Unit =
      _ => _.write.format("noop").mode("overwrite").save()
    val toParquet: String => DataFrame => Unit =
      name => _.write.mode("overwrite").parquet(s"${cfg.checkDir}/$name")
    def pass(kind: String, write: String => DataFrame => Unit): Pass = {
      val t0 = Clock.nowMs
      val c0 = Clock.cpuS
      val j0 = Clock.jvmCpuS
      val ops = rng.shuffle(names).map(n => exec(n, kind, write(n)))
      Pass(ops, (Clock.nowMs - t0) / 1000.0, Clock.cpuS - c0, Clock.jvmCpuS - j0)
    }

    def withTrace[T](body: => T): T = trace match {
      case Some(t) =>
        t.attach(); traced = true
        try body finally { traced = false; t.detach() }
      case None => body
    }
    val coldPass = withTrace(pass("cold", toParquet))
    val cold = coldPass.ops
    val warm = mutable.ArrayBuffer.empty[Pass]
    var untracedWarm = Option.empty[Double]
    if (trace.isDefined) {
      // each query runs once traced and once untraced, in alternating
      // order, so neither side is always the warmer second run
      val both = rng.shuffle(names).zipWithIndex.map { case (n, i) =>
        def tr() = withTrace(exec(n, "warm", noop(n)))
        def un() = exec(n, "untraced", noop(n))
        if (i % 2 == 0) { val u = un(); (tr(), u) } else { val t = tr(); (t, un()) }
      }
      val tr = both.map(_._1)
      warm += Pass(tr, tr.map(_.wallS).sum, tr.map(_.cpuS).sum, Double.NaN)
      untracedWarm = Some(both.map(_._2.wallS).sum)
    } else {
      val t0 = Clock.nowMs
      do warm += pass("warm", noop)
      while (warm.size < MinWarmPasses || (Clock.nowMs - t0) / 1000.0 < cfg.seconds)
    }
    val retained = Session.retainedMiB(spark)

    val warmOps = warm.flatMap(_.ops).toSeq
    val warmByQuery = warmOps.groupBy(_.name).map { case (n, ops) => n -> Stats.median(ops.map(_.wallS)) }
    val coldByQuery = cold.map(o => o.name -> o.wallS).toMap
    val artifact = names.map(n => n -> math.max(0.0, coldByQuery(n) - warmByQuery(n))).toMap
    val latencies = warmOps.map(_.wallS)
    val steady = Stats.steady(warm.toSeq)
    val passS = Stats.median(steady.map(_.wallS))
    val passMinS = steady.map(_.wallS).min
    val passCpuS = Stats.median(steady.map(_.cpuS))
    val p90 = Stats.tail(latencies)

    val metrics = mutable.LinkedHashMap[String, Double](
      "setup_s" -> Stats.median(setupCpu),
      "cold_pass_cpu_s" -> coldPass.cpuS,
      "pass_cpu_s" -> passCpuS)

    val detail = mutable.LinkedHashMap[String, Any](
      "setup_s" -> Stats.median(setupCpu),
      "setup_wall_s" -> Stats.median(setupTimes),
      "setup_runs_wall_s" -> setupTimes,
      "setup_runs_cpu_s" -> setupCpu,
      "cold_pass_s" -> coldPass.wallS,
      "pass_s" -> passS,
      "pass_min_s" -> passMinS,
      "warm_passes_s" -> warm.map(_.wallS),
      "warm_passes_cpu_s" -> warm.map(_.cpuS),
      "warm_passes_jvm_cpu_s" -> warm.map(_.jvmCpuS).filterNot(_.isNaN),
      "cold_pass_cpu_s" -> coldPass.cpuS,
      "cold_pass_jvm_cpu_s" -> coldPass.jvmCpuS,
      "pass_cpu_s" -> passCpuS,
      // falls when a change adds waiting, which the CPU figures miss
      "pass_busy_share" -> passCpuS / (passS * cfg.cores),
      "query_cpu_p50_ms" -> Stats.median(warmOps.map(_.cpuS)) * 1000.0,
      "warm_passes" -> warm.size,
      "query_p50_s" -> Stats.median(latencies),
      "query_p90_s" -> p90.filter(_._1 >= 0.9).map(_._2),
      "query_tail" -> p90.map { case (l, v) => ListMap[String, Any]("level" -> l, "s" -> v) },
      "query_samples" -> latencies.size,
      "stream_msgs_per_s" -> None,
      "stream_latency_p50_ms" -> None,
      "stream_latency_p90_ms" -> None,
      "retained_mb" -> retained,
      "ops.artifact_build_s" -> artifact.values.sum)

    val perQuery = mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, Any]]()
    names.foreach { n =>
      perQuery(n) = mutable.LinkedHashMap("cold_s" -> coldByQuery(n), "warm_s" -> warmByQuery(n),
        "warm_cpu_s" -> Stats.median(warmOps.filter(_.name == n).map(_.cpuS)),
        "ops.artifact_build_s" -> artifact(n))
    }

    var traceOut: Option[ListMap[String, Any]] = None
    trace.foreach { t =>
      val coldRows = cold.map(o => o.name -> Layers.row(t, o)).toMap
      val tracedWarm = warm.last.ops
      val warmRows = tracedWarm.map(o => o.name -> Layers.row(t, o)).toMap
      val warmTotal = Layers.total(warmRows.values.toSeq)
      val coldTotal = Layers.total(coldRows.values.toSeq)
      val tracedWall = warm.last.wallS
      names.foreach { n =>
        val q = perQuery(n)
        q ++= warmRows(n)
        q("functions.codegen_compile_s") = coldRows(n)("functions.codegen_compile_s")
        q("functions.codegen_classes") = coldRows(n)("functions.codegen_classes")
        q("cold_s") = coldRows(n)("wall_s")
        q("ops.artifact_build_s") = math.max(0.0, coldRows(n)("wall_s") - warmRows(n)("wall_s"))
      }
      val layer = mutable.LinkedHashMap[String, Double]()
      layer ++= warmTotal.removed("wall_s")
      layer("spark.exec.busy_share") = warmTotal("spark.exec.task_run_s") / (tracedWall * cfg.cores)
      layer("functions.codegen_compile_s") = coldTotal("functions.codegen_compile_s")
      layer("functions.codegen_classes") = coldTotal("functions.codegen_classes")
      layer("ops.artifact_build_s") = names.map(n => perQuery(n)("ops.artifact_build_s").asInstanceOf[Double]).sum
      layer("trace.overhead_ratio") = tracedWall / untracedWarm.get
      layer("retained_mb") = retained
      metrics ++= layer.map { case (k, v) => s"layer:$k" -> v }
      val (binaries, unattributed) = Layers.largeBinaries(t, cold ++ tracedWarm)
      traceOut = Some(ListMap[String, Any](
        "workload" -> cfg.workload, "seed" -> cfg.seed,
        "large_task_binaries" -> binaries,
        "unattributed_large_task_binaries" -> unattributed,
        "spans" -> (cold ++ tracedWarm).map(o => Layers.spans(t, o))))
    }

    Session.stop(spark)
    ListMap[String, Any](
      "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
      "metrics" -> metrics, "detail" -> detail, "per_query" -> perQuery,
      "check_queries" -> names, "attempted" -> attempted, "failed" -> errors.size,
      "errors" -> errors, "cores" -> cfg.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "trace_detail" -> traceOut)
  }
}
