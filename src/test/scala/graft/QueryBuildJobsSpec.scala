package graft

import org.apache.spark.sql.graft.JobCount

/** Building a query's DataFrame is planning, not execution: in a cold
  * session (after [[SessionArtifacts.invalidateAll]]) constructing each
  * `b*` query without running it starts no Spark job. The exceptions are
  * the queries whose build runs an eager `localCheckpoint`, each pinned
  * at its measured job count, so a new hidden job at build time, or a
  * lost eager one, fails here.
  */
class QueryBuildJobsSpec extends SparkSpec {

  private val eagerBuilds = Map(
    "b41_fuzzy_join" -> 2,        // the part-name frame both block joins read
    "b58_incremental_scd2" -> 7)  // the rebuilt history and the delta versions

  test("building each b* query in a cold session starts only its pinned jobs") {
    val built = SparkEntry.queries.toSeq.filter(_._1.startsWith("b")).sortBy(_._1)
      .map { case (name, q) =>
        SessionArtifacts.invalidateAll(spark)
        name -> JobCount.of(spark)(q(spark, sfDir))._2
      }
    assert(built.size >= 60)
    val withJobs = built.filter(_._2 != 0).toMap
    assert(withJobs == eagerBuilds,
      s"queries that ran jobs while being built: $withJobs")
  }
}
