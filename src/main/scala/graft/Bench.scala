package graft
import org.apache.spark.sql.functions.expr
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // per-query repetitions; the median absorbs the ±20-30% single-VM
    // run-to-run noise documented in BASELINE.md (GC/contention), which a
    // single pass cannot distinguish from a real regression
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession()
    // the cores the run had: round-over-round claims compare only runs
    // with the same count (BASELINE.md)
    val cpus = spark.sparkContext.defaultParallelism
    // warm the session (codegen compiler, shuffle machinery, noop sink)
    // so the first timed query isn't charged for JVM start-up
    spark.range(100000).selectExpr("id", "id * 2 as x")
      .groupBy(expr("id % 7")).count()
      .write.format("noop").mode("overwrite").save()
    // Reading the numbers: ~0.08-0.21 s of EVERY query's wall at this
    // SF is session fixed overhead (planning + AQE barriers +
    // scheduling — measured shape-by-shape in BASELINE.md §"Per-query
    // fixed overhead"), so sub-0.1 s drift across many cheap queries
    // is scheduler noise, not engine regression; check the sentinel.
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // optional comma-separated query filter for local iteration
    // (unset in the driver environment → full suite)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    // Contention sentinel: a fixed cheap query (b15 — TakeOrderedAndProject,
    // ~0.1 s floor, zero exchanges) executed once immediately BEFORE each
    // timed query. Its code never changes between rounds, so any drift in
    // its per-slot time measures the BOX (GC, co-tenant load, thermal) at
    // that moment, not the engine — the in-bench control that three rounds
    // of "driver contention" explanations lacked. A regressed query whose
    // slot sentinel also drifted is contention; one under a quiet sentinel
    // is a real regression.
    val sentinelFn = SparkEntry.queries.get("b15_topk")
    def runSentinel(): Double = sentinelFn.map { fn =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] sentinel failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
      (System.nanoTime() - t0) / 1e9
    }.getOrElse(0.0)
    // prime the sentinel's own plan/codegen once so slot 0 isn't charged
    // for its compilation
    runSentinel()
    val sentinelSlots = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val results = selected.map { case (name, fn) =>
      sentinelSlots += name -> runSentinel()
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // noop sink: fully executes the plan (incl. sorts/projections that
        // Catalyst would elide under a bare count()) without write-path cost
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        val t = (System.nanoTime() - t0) / 1e9
        // clear BETWEEN reps too: a query's internal .cache() must be
        // rebuilt each rep, so the median reports the full plan cost (and
        // heap pressure never bleeds into later measurements)
        spark.catalog.clearCache()
        t
      }
      name -> median(times)
    }
    sentinelSlots += "END" -> runSentinel()
    // Compact rendering: the driver captures only the LAST 2000 chars of
    // output and JSON-parses the bench line from that tail — a full-
    // precision 58-query line overflowed it (BENCH_r05 parsed:null while
    // the shorter r04 line parsed), and at 91 queries even 2-decimal
    // FULL names overflow (2373 chars measured). The queries dict
    // therefore keys by the unique id PREFIX of each query name (the
    // token before the first underscore: b05b, x44, q, r — PLANS.md maps
    // ids to full names). 2 decimals ≈ the measurement floor here anyway
    // (±20-30% run-to-run noise, BASELINE.md).
    def sec(v: Double): String = // Locale.ROOT: "." decimal point always
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def shortId(name: String): String = name.split("_")(0)
    require(results.keysIterator.map(shortId).toSet.size == results.size,
      "query id prefixes must stay unique — bench keys would collide")
    val qs = results.map { case (k, v) => s"\"" + shortId(k) + "\":" + sec(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Per-slot sentinel detail goes to a FILE (the driver's end-of-round
    // commit picks it up) — the driver only captures the LAST 2000 chars
    // of stdout and the 131-query line is already ~1850 of them, so the
    // JSON line carries just the 3-number summary: sentinel median, max,
    // and how many slots ran ≥1.5× the median ("hot" = box was busy).
    val sentTimes = sentinelSlots.map(_._2).toSeq
    val sentMed = if (sentTimes.nonEmpty) median(sentTimes) else 0.0
    val sentMax = if (sentTimes.nonEmpty) sentTimes.max else 0.0
    val hot = sentinelSlots.filter(_._2 >= sentMed * 1.5)
    val slotJson = sentinelSlots
      .map { case (k, v) => "\"" + shortId(k) + "\":" + sec(v) }
      .mkString("{", ",", "}")
    val sentFile = sys.env.getOrElse("SPARK_GRAFT_SENTINEL_OUT",
      "BENCH_SENTINEL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(sentFile),
      s"""{"sentinel":"b15_topk","med":${sec(sentMed)},"max":${sec(sentMax)},""" +
        s""""hot_slots":[${hot.map("\"" + _._1 + "\"").mkString(",")}],""" +
        s""""slots":$slotJson,"sf":"$sfDir","reps":$reps}""" + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] sentinel dump failed: ${e.getMessage}")
    }
    // The driver captures only the LAST 2000 chars of stdout and JSON-
    // parses the bench line from that tail. At 188 queries even the
    // short-id 2-decimal per-query dict overflows it — BENCH_r10.json
    // recorded parsed:null because the tail window started MID-line.
    // So the per-query map (and the full per-slot sentinel detail)
    // always goes to a FILE the driver's end-of-round commit picks up,
    // and the LAST stdout line is guaranteed to fit: it inlines the
    // query map only when the whole line stays under the capture, and
    // otherwise carries just the totals + sentinel summary + the
    // detail file's name.
    val hotJson = hot.map { case (k, v) => "\"" + shortId(k) + "\":" + sec(v) }
      .mkString("{", ",", "}")
    val detailFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL_OUT",
      "BENCH_QUERIES.json")
    val detailJson =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","n":${results.size},"reps":$reps,"cpus":$cpus,"stat":"med","sent":{"med":${sec(sentMed)},"max":${sec(sentMax)},"nhot":${hot.size},"hot":$hotJson},"queries":$qs,"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(detailFile), detailJson + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail dump failed: ${e.getMessage}")
    }
    // Round-frozen copy of the SAME detail: BENCH_QUERIES.json is
    // overwritten by every run, so per-query history needs a named copy
    // (BENCH_QUERIES_rN.json) that round-over-round diffs can read even
    // though the 2000-char stdout tail cannot carry 229 entries. The name
    // must come from SPARK_GRAFT_BENCH_FROZEN_OUT: a built-in default
    // would let the next round's run overwrite an earlier round's file.
    // Pure duplicate write; no timing change.
    val frozenFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_FROZEN_OUT", "")
    if (frozenFile.isEmpty)
      System.err.println("[bench] no round-frozen copy: set " +
        "SPARK_GRAFT_BENCH_FROZEN_OUT=BENCH_QUERIES_rN.json to write one")
    else if (frozenFile != detailFile)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(frozenFile), detailJson + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] frozen dump failed: ${e.getMessage}")
      }
    val inlined =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","n":${results.size},"reps":$reps,"cpus":$cpus,"stat":"med","sent":{"med":${sec(sentMed)},"max":${sec(sentMax)},"nhot":${hot.size},"hot":$hotJson},"detail":"$detailFile","queries":$qs,"sf":"$sfDir"}"""
    val compact =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","n":${results.size},"reps":$reps,"cpus":$cpus,"stat":"med","sent":{"med":${sec(sentMed)},"max":${sec(sentMax)},"nhot":${hot.size}},"detail":"$detailFile","sf":"$sfDir"}"""
    println(if (inlined.length <= 1900) inlined else compact)
    spark.stop()
  }
}
