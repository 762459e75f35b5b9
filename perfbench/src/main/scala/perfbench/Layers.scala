package perfbench

import scala.collection.immutable.ListMap

/** Turns a trace into per-operation layer rows and span trees, and sums
  * rows over a pass. Layer names follow the engine's modules (`Tables`,
  * `SparkEntry`, `functions`, `ops`, `stream`) and Spark's phases.
  */
object Layers {

  private def ms2s(ms: Double): Double = ms / 1000.0

  /** Children of an operation's span: the build, the plan phases and the
    * jobs. What they leave uncovered is the residual.
    */
  private def childIntervals(t: Trace, op: OpSpan): Seq[(Double, Double)] = {
    val js = t.jobsOf(op)
    ((op.start, op.buildEnd) +:
      t.phasesIn(op.start, op.end).map(p => (p.start.toDouble, p.end.toDouble))) ++
      js.map(j => (j.start.toDouble, if (j.end > 0) j.end.toDouble else op.end))
  }

  def row(t: Trace, op: OpSpan): ListMap[String, Double] = {
    val js = t.jobsOf(op)
    val ss = t.stagesOf(js)
    val ph = t.phasesIn(op.start, op.end)
    def phase(n: String) = ms2s(ph.filter(_.name == n).map(p => (p.end - p.start).toDouble).sum)
    val cg = t.codegenIn(op.start, op.end)
    val lbs = t.largeBinariesOf(ss.map(_.id).toSet)
    val wall = op.end - op.start
    ListMap(
      "wall_s" -> ms2s(wall),
      "SparkEntry.build_s" -> ms2s(op.buildEnd - op.start),
      "SparkEntry.build_jobs" -> js.count(_.start <= op.buildEnd).toDouble,
      "spark.plan.analysis_s" -> phase("analysis"),
      "spark.plan.optimization_s" -> phase("optimization"),
      "spark.plan.planning_s" -> phase("planning"),
      "spark.plan.aqe_updates" -> t.aqeUpdatesOf(js).toDouble,
      "spark.exec.jobs" -> js.size.toDouble,
      "spark.exec.stages" -> ss.size.toDouble,
      "spark.exec.tasks" -> ss.map(_.tasks).sum.toDouble,
      "spark.exec.task_run_s" -> ms2s(ss.map(_.runMs).sum.toDouble),
      "spark.exec.task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "spark.exec.gc_s" -> ms2s(ss.map(_.gcMs).sum.toDouble),
      "spark.shuffle.write_bytes" -> ss.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.shuffle.read_bytes" -> ss.map(_.shuffleReadBytes).sum.toDouble,
      "spark.shuffle.records" -> ss.map(_.shuffleWriteRecords).sum.toDouble,
      "spark.shuffle.fetch_wait_s" -> ms2s(ss.map(_.fetchWaitMs).sum.toDouble),
      "spark.exec.spill_bytes" -> ss.map(_.spillBytes).sum.toDouble,
      "spark.exec.peak_exec_mem_mb" -> (if (ss.isEmpty) 0.0 else ss.map(_.peakExecMem).max / 1048576.0),
      "spark.exec.large_task_binaries" -> lbs.size.toDouble,
      "spark.exec.max_task_binary_mb" -> (if (lbs.isEmpty) 0.0 else lbs.map(_.mib).max),
      "functions.codegen_compile_s" -> ms2s(cg.sum),
      "functions.codegen_classes" -> cg.size.toDouble,
      "Tables.bytes_read" -> ss.map(_.inputBytes).sum.toDouble,
      "Tables.rows_read" -> ss.map(_.inputRecords).sum.toDouble,
      "query.residual_share" ->
        (if (wall <= 0) 0.0 else Stats.selfTime((op.start, op.end), childIntervals(t, op)) / wall))
  }

  private val maxed = Set("spark.exec.peak_exec_mem_mb", "spark.exec.max_task_binary_mb")

  /** Pass totals: sums, except maxima for the peak columns and the median
    * for the residual share.
    */
  def total(rows: Seq[ListMap[String, Double]]): ListMap[String, Double] =
    if (rows.isEmpty) ListMap.empty
    else ListMap(rows.head.keys.toSeq.map { k =>
      val xs = rows.map(_(k))
      k -> (if (maxed(k)) xs.max else if (k == "query.residual_share") Stats.median(xs) else xs.sum)
    }: _*)

  /** Each "Broadcasting large task binary" warning with the operation and
    * stage it belongs to, and the number tied to no operation.
    */
  def largeBinaries(t: Trace, ops: Seq[OpSpan]): (Seq[ListMap[String, Any]], Int) = {
    val owner = ops.flatMap(o => t.stagesOf(t.jobsOf(o)).map(_.id -> o)).toMap
    val rows = t.largeBinaries.toSeq.map { b =>
      val o = b.stageId.flatMap(owner.get)
      ListMap[String, Any]("query" -> o.map(_.name), "pass" -> o.map(_.kind), "stage" -> b.stageId, "mib" -> b.mib)
    }
    (rows, t.unattributedBinaries(owner.keySet).size)
  }

  /** query → SparkEntry build → plan phases → jobs → stages. */
  def spans(t: Trace, op: OpSpan): ListMap[String, Any] = {
    val js = t.jobsOf(op)
    ListMap[String, Any](
      "span" -> "query", "name" -> op.name, "kind" -> op.kind, "ok" -> op.ok,
      "start" -> op.start, "end" -> op.end,
      "children" -> ((
        ListMap[String, Any]("span" -> "build", "start" -> op.start, "end" -> op.buildEnd) +:
          t.phasesIn(op.start, op.end).map(p =>
            ListMap[String, Any]("span" -> s"phase.${p.name}", "start" -> p.start, "end" -> p.end))) ++
        js.map { j =>
          ListMap[String, Any]("span" -> "job", "id" -> j.id, "start" -> j.start, "end" -> j.end,
            "stages" -> t.stagesOf(Seq(j)).map(s => ListMap[String, Any](
              "span" -> "stage", "id" -> s.id, "name" -> s.name, "start" -> s.submit,
              "end" -> s.complete, "tasks" -> s.tasks, "task_run_ms" -> s.runMs,
              "shuffle_write_bytes" -> s.shuffleWriteBytes,
              "large_task_binary_mb" -> t.largeBinariesOf(Set(s.id)).map(_.mib))))
        }))
  }
}
