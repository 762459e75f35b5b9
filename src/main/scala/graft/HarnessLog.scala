package graft

/** Harness-scoped log hygiene (round-16 verdict item 4: the cache-
  * hygiene sweep traded the WindowExec warning wall for a
  * localCheckpoint one — 12 consecutive `MapPartitionsRDD: RDD … was
  * locally checkpointed, its lineage has been truncated and cannot be
  * recomputed after unpersisting` WARNs in the bench tail, plus
  * recurring `DAGScheduler: Failed to cancel job group` teardown noise
  * in the test log).
  *
  * These are EXPECTED lines: every op that materializes a bounded
  * artifact frame via localCheckpoint emits the first at unpersist
  * time by design, and the second is the shared test session's
  * job-group cancel racing suite teardown. Silencing them at the
  * harness keeps the one warning that matters readable. Deliberately
  * NOT engine configuration — only [[GraftSession]] (for every harness
  * main and the test base) and perfbench call this, and BASELINE.md
  * §log-hygiene documents the two suppressed loggers so a future
  * regression in either isn't masked silently.
  */
object HarnessLog {

  /** Silence the expected localCheckpoint-lifecycle WARN (emitted on
    * the logger of the concrete RDD class, MapPartitionsRDD) and the
    * expected bounded-frame WindowExec warning (x156 ranks its K = 20
    * TakeOrdered survivors with an empty partitionSpec — the honest
    * plan; round 16's vec_id % 1 partition key suppressed the warning
    * by construction and was retired in round 17). Called by
    * [[GraftSession]] after session setup. */
  def quietCheckpointWarns(): Unit = {
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
  }

  /** Additionally silence the suite-teardown job-group-cancel WARN —
    * test harness only (the bench keeps DAGScheduler at WARN: its
    * other warnings are real signals there). */
  def quietSuiteTeardown(): Unit = {
    quietCheckpointWarns()
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.DAGScheduler",
      org.apache.logging.log4j.Level.ERROR)
  }
}
