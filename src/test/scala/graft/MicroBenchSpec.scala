package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** Every [[MicroBench]] case at a small n on the shared test session: one
  * JSON line under the metric name BASELINE.md quotes, and where a case
  * states its state rows as a closed form of n, the measured state_rows
  * equal to it (0 for the stateless cases). These are the bounded-state
  * claims of BASELINE.md's streaming table, checked at fixture scale.
  */
class MicroBenchSpec extends SparkSpec {

  private val N = 2000L
  private val json = new ObjectMapper()

  test("MicroBench: every case keeps the metric name of its BASELINE.md row") {
    assert(MicroBench.Cases.map(_.metric) == Seq(
      "stream_msgs_per_sec", "stream_dedup_docs_per_sec",
      "stream_metrics_events_per_sec", "stream_cusum_events_per_sec",
      "stream_topk_events_per_sec", "stream_drift_rows_per_sec",
      "stream_psi_rows_per_sec", "stream_ams_rows_per_sec",
      "stream_entropy_rows_per_sec", "stream_fd_rows_per_sec",
      "stream_decontam_guard_rows_per_sec",
      "stream_decontam_rates_rows_per_sec",
      "stream_decontam_kmv_rows_per_sec",
      "stream_index_ingest_rows_per_sec", "stream_centroid_rows_per_sec",
      "quality_quota", "repetition_counts"))
  }

  MicroBench.Cases.foreach { c =>
    test(s"MicroBench ${c.name}: one JSON line; state_rows as stated") {
      val line = c.run(MicroBench.Ctx(spark, N, _ => sfDir))
      assert(!line.contains('\n'), line)
      val out = json.readTree(line)
      c match {
        case d: MicroBench.Drain =>
          assert(out.get("metric").asText == d.metric, line)
          assert(out.get(d.countKey).asLong == d.rows(N), line)
          assert(out.get("value").asDouble > 0, line)
          d.state.foreach { expected =>
            assert(out.get("state_rows").asLong == expected(d.rows(N)), line)
          }
        case ab: MicroBench.AB =>
          assert(out.get("bench").asText == ab.metric, line)
          assert(out.get("reps").asInt == MicroBench.ABReps, line)
          assert(out.get(ab.speedup).asDouble > 0, line)
      }
    }
  }
}
