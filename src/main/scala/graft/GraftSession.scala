package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built (the reference builds its single
  * session in one place too, `spark_processor.py:35-43`). Two profiles:
  * [[apply]] for the bench, verify, sweep and micro-bench mains, and
  * [[gate]] for the plan gate: the test suite, PlanAudit and Explain.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS` if set, otherwise every core the JVM
    * sees. */
  private def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The bench/verify profile: `local[cores]`, one shuffle partition per
    * core, AQE coalescing toward a 1 MiB advisory size, UTC, µs parquet
    * timestamps, no UI, WARN with the expected checkpoint warnings
    * silenced ([[HarnessLog.quietCheckpointWarns]]). */
  def apply(): SparkSession = build(cores,
    // Let AQE coalesce post-shuffle partitions toward the advisory size
    // instead of preserving parallelism: at bench SF most shuffles carry
    // KBs, where 32 half-empty reducers are pure scheduling overhead —
    // and at 100 TB this is the production-recommended setting too (task
    // count tracks data volume, not a fixed multiplier of cores).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    // 1 MiB advisory at bench SF: KB-sized shuffles (candidate joins,
    // final ORDER BYs) collapse to one reducer while CPU-dense multi-MB
    // stages keep enough partitions to stay parallel. At cluster scale
    // the advisory goes back to the 64 MiB default — the setting scales
    // with data, the principle (task count tracks bytes) does not change.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
    // plain µs timestamps in written parquet (not INT96), so Verify's
    // dumps carry the same logical type DuckDB produces
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

  /** The plan-gate profile: `local[4]`, 4 shuffle partitions, UTC, no UI
    * and Spark's default AQE (partition coalescing keeps parallelism
    * first, 64 MiB advisory); WARN, checkpoint warnings silenced.
    * PLAN_EXPECTATIONS.tsv was pinned under it: exchange and codegen
    * counts depend on the partition count and the AQE coalesce settings,
    * so PlanShapeSpec (through the test suite's shared session),
    * PlanAudit's PLANS.md and Explain's plans agree only while all three
    * build their session here. */
  def gate(): SparkSession = build(4)

  /** What both profiles share, plus a profile's own settings. */
  private def build(threads: Int, conf: (String, String)*): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf.toMap)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    HarnessLog.quietCheckpointWarns()
    s
  }
}
