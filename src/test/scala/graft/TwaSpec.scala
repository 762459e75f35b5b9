package graft

import graft.ops.Twa

/** B50 — time-weighted average over an irregular series: must equal a
  * driver-side exact piecewise-constant integral, drop single-event
  * users, and keep the one-exchange user-keyed window shape.
  */
class TwaSpec extends SparkSpec {

  private def exact(): Map[Long, (Long, Long, Long)] = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("us"),
        r.getAs[Long]("event_id"), r.getAs[Double]("value")))
    rows.groupBy(_._1).collect { case (u, es) if es.length > 1 =>
      val sorted = es.sortBy(e => (e._2, e._3))
      // exact i64 fold mirroring the op: q = round(value·100), Σ q·Δt_µs
      val ivs = sorted.zip(sorted.tail).map { case (a, b) =>
        (b._2 - a._2, math.round(a._4 * 100) * (b._2 - a._2))
      }
      u -> (ivs.length.toLong, ivs.map(_._1).sum, ivs.map(_._2).sum)
    }
  }

  test("B50: TWA equals a driver-side exact integral") {
    val got = Twa.timeWeightedAvg(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("user_id"),
        (r.getAs[Long]("n_intervals"), r.getAs[Long]("span_us"),
          r.getAs[Double]("weighted_sum"),
          r.getAs[Double]("twa")))).toMap
    val want = exact()
    assert(got.nonEmpty && got.keySet == want.keySet)
    want.foreach { case (u, (n, span, wq)) =>
      val (gn, gspan, gws, gtwa) = got(u)
      assert(gn == n, s"user $u interval count")
      assert(gspan == span, s"user $u span")
      // exact i64 fold → the emitted doubles are single divisions of
      // identical operands: bit-equality, no tolerance
      assert(gws == wq.toDouble / 100.0, s"user $u weighted sum")
      assert(gtwa == wq.toDouble / (100.0 * span.toDouble), s"user $u twa")
    }
  }

  test("B50: single-event users drop out; partitioning is irrelevant") {
    import spark.implicits._
    val df = Twa.timeWeightedAvg(spark, sfDir)
    val multi = Tables.events(spark, sfDir)
      .groupBy($"user_id").count().filter($"count" > 1).count()
    assert(df.count() == multi)
    val a = df.collect().toSeq
    val b = Twa.timeWeightedAvg(spark, sfDir).repartition(5)
      .orderBy("user_id").collect().toSeq
    assert(a == b)
  }

  test("B50: one user-keyed exchange feeds window and aggregate") {
    val plan = Twa.timeWeightedAvg(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the window, the groupBy(user_id) and the final ORDER BY all reuse
    // one user-keyed range exchange (FinalSort.keyed) — no other exchange
    val exchanges = "Exchange ".r.findAllIn(plan).length
    val userRange = "Exchange rangepartitioning\\(user_id#\\d+L ASC NULLS FIRST, ".r
      .findAllIn(plan).length
    assert(exchanges == 1 && userRange == 1,
      s"expected one user-keyed exchange (window+agg co-partitioned):\n$plan")
  }
}
