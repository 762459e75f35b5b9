package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one forked test JVM;
  * getOrCreate reuses the session across suites, so no per-suite
  * start/stop cost), built by [[GraftSession.gate]]: the plan gate's
  * expectations were pinned under this session.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.gate()
    // expected-WARN hygiene (round-16 verdict item 4): the
    // localCheckpoint lifecycle line and the suite-teardown job-group
    // cancel are both known-benign here — see HarnessLog's scaladoc
    // and BASELINE.md §log-hygiene
    HarnessLog.quietSuiteTeardown()
    s
  }

  /** Smallest driver-generated testdata; read-only. Env-overridable so
    * a machine with a different testdata root runs the suites unchanged
    * (suites needing sibling SFs derive them from this path).
    */
  val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
}
