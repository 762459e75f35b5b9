package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Run settings, parsed from `--key value` pairs (see run.py). */
final case class Cfg(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    data: String,
    work: String,
    cores: Int,
    full: Boolean) {
  def checkDir: String = s"$work/check"
}

object Cfg {
  def parse(args: Array[String]): Cfg = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Cfg(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("data"), get("work"), get("cores").toInt, kv.get("full").contains("1"))
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as the times Spark stamps on its events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds all threads of this JVM have used since it started, JIT
    * compiler and GC threads included.
    */
  def jvmCpuS: Double = os.getProcessCpuTime / 1e9

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private var seen = Map.empty[Long, Long]
  private var threadNs = 0L

  /** CPU seconds the JVM's Java threads have used: the client thread,
    * Spark's task, scheduler, broadcast and listener threads. JIT compiler
    * and GC threads are hidden from the thread MXBean and so left out;
    * their CPU follows compilation order and heap state more than the
    * engine's work. A thread's CPU is added up at each call, so a thread that ends
    * between two calls loses what it used since the first. The guest
    * kernel leaves out time the hypervisor gave to other machines, which
    * wall time cannot.
    */
  def cpuS: Double = synchronized {
    val ids = threads.getAllThreadIds
    val ns = threads.getThreadCpuTime(ids)
    val now = ids.indices.collect { case i if ns(i) >= 0 => ids(i) -> ns(i) }.toMap
    threadNs += now.iterator.map { case (id, n) => n - seen.getOrElse(id, 0L) }.sum
    seen = now
    threadNs / 1e9
  }
}

/** The benchmark's Spark session: local[cores] with one client thread,
  * the shuffle and AQE settings `graft.Bench` uses, and every scratch
  * directory inside the run's work directory.
  */
object Session {
  def build(cfg: Cfg): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.HarnessLog.quietCheckpointWarns()
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Retained block-manager storage (memos, checkpoints, broadcasts). */
  def retainedMiB(s: SparkSession): Double =
    s.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1048576.0

  /** A small shuffle query through the noop sink: loads the codegen
    * compiler, the shuffle machinery and the sink.
    */
  def warmUp(s: SparkSession): Unit =
    s.range(100000).selectExpr("id", "id * 2 as x")
      .groupBy(org.apache.spark.sql.functions.expr("id % 7")).count()
      .write.format("noop").mode("overwrite").save()

  /** Set-ups per run. The first alone pays for JVM start and for loading
    * Spark's and the engine's classes (the engine's query registry and
    * pipeline objects are first touched by `load`), so the median of three
    * measures set-up in a warm JVM: a new session, the workload's engine
    * relations and the warm-up.
    */
  val Setups = 3

  /** Sets up `Setups` times and keeps the last session. The first set-up
    * is timed from JVM start. Returns the wall and the CPU seconds of each.
    */
  def setUp(cfg: Cfg)(load: SparkSession => Unit): (SparkSession, Seq[Double], Seq[Double]) = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var times = Vector.empty[Double]
    var cpu = Vector.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to Setups) {
      if (spark != null) stop(spark)
      val c0 = if (i == 1) 0.0 else Clock.cpuS
      val t0 = if (i == 1) jvmStart else Clock.nowMs
      spark = build(cfg)
      val t1 = Clock.nowMs
      load(spark)
      val t2 = Clock.nowMs
      warmUp(spark)
      val t3 = Clock.nowMs
      System.err.println(f"[perfbench] set-up $i: session ${(t1 - t0) / 1000}%.2f s, " +
        f"relations ${(t2 - t1) / 1000}%.2f s, warm-up ${(t3 - t2) / 1000}%.2f s")
      times :+= (t3 - t0) / 1000.0
      cpu :+= Clock.cpuS - c0
    }
    (spark, times, cpu)
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val cfg = Cfg.parse(args)
    Files.createDirectories(Paths.get(cfg.work))
    val result = cfg.workload match {
      case "relational" | "near_dup" => BatchWorkload.run(cfg)
      case "weather_stream" => StreamWorkload.run(cfg)
      case "oracle_sql" =>
        val names = BatchWorkload.queryNames("relational", full = true) ++ BatchWorkload.nearDup
        ListMap[String, Any](names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)): _*)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result)
    Files.writeString(Paths.get(s"${cfg.work}/result.json"), json + "\n")
    println("[perfbench] result written")
  }
}
