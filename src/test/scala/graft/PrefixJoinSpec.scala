package graft

import graft.ops.{CorpusIndex, Dedup, PrefixJoin}

/** X62 — prefix-filtered set-similarity join: the pruned plan must
  * equal an in-test all-pairs brute force (losslessness), contain every
  * X2-verified pair (LSH can only miss, never the exact join), and keep
  * its windows doc-partitioned (the df side is groupBy + join, never a
  * PARTITION BY sh window).
  */
class PrefixJoinSpec extends SparkSpec {

  private def shingleSets(): Map[Long, Set[String]] =
    Dedup.shinglesOf(Tables.documents(spark, sfDir)).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  test("X62: equals the all-pairs brute force at tau = 1/2") {
    val sets = shingleSets()
    val ids = sets.keys.toSeq.sorted
    val expected = (for {
      (a, ia) <- ids.zipWithIndex; b <- ids.drop(ia + 1)
      i = (sets(a) & sets(b)).size
      u = sets(a).size + sets(b).size - i
      if 2 * i >= u
    } yield (a, b, sets(a).size.toLong, sets(b).size.toLong, i.toLong))
      .toSet

    val got = PrefixJoin.prefixSimJoin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == expected, s"got ${got.size}, expected ${expected.size}")
    assert(expected.nonEmpty, "fixture has at least one qualifying pair")
  }

  test("X62: contains every X2 LSH-verified pair") {
    val lsh = Dedup.minhashLsh(spark, sfDir).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = PrefixJoin.prefixSimJoin(spark, sfDir)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH pairs missing from exact join: " +
      s"${(lsh -- exact).take(5)}")
  }

  test("X62: threshold boundary — J = 1/2 exactly is IN, just below is OUT") {
    import spark.implicits._
    // doc 1/2: 4 shared + 2 unique each → J = 4/8 = 1/2 (boundary, in)
    // doc 3/4: 3 shared + 2/3 unique → J = 3/8 < 1/2 (out)
    // doc 5: two words → 0 shingles (absent entirely)
    def text(shingleWords: Seq[String]) = shingleWords.mkString(" ")
    val docs = Seq(
      (1L, text(Seq("a", "b", "c", "d", "e", "f", "p", "q"))),
      (2L, text(Seq("a", "b", "c", "d", "e", "f", "x", "y"))),
      (3L, text(Seq("k", "l", "m", "n", "o", "u", "v"))),
      (4L, text(Seq("k", "l", "m", "n", "o", "w", "x", "z"))),
      (5L, "too short")
    ).toDF("doc_id", "text")
    val got = graft.ops.PrefixJoin.prefixSimJoinOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    // recompute the truth from the same shingling
    val sets = graft.ops.Dedup.shinglesOf(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = (for {
      a <- sets.keys.toSeq; b <- sets.keys.toSeq if a < b
      i = (sets(a) & sets(b)).size
      u = sets(a).size + sets(b).size - i if 2 * i >= u
    } yield (a, b)).toSet
    assert(got.map(x => (x._1, x._2)).toSet == expected)
    assert(expected.contains((1L, 2L)), "boundary pair included")
    assert(!expected.contains((3L, 4L)), "sub-threshold pair excluded")
    assert(!sets.contains(5L), "two-word doc has no shingles")
    got.foreach(x => assert(x._3 >= 0.5))
  }

  test("X62: candidate-budget cap — off/above-max-df ≡ lossless; tiny cap " +
    "drops exactly the hot-only-overlap pairs") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val lossless = PrefixJoin.prefixSimJoinOf(docs).collect().toSeq
    // a finite cap above the corpus max df keeps the filter IN the plan
    // yet must stay bit-equal to the lossless join
    val maxDf = Dedup.shinglesOf(docs).groupBy("sh").count()
      .agg(org.apache.spark.sql.functions.max("count")).collect()(0).getLong(0)
    val capped = PrefixJoin.prefixSimJoinOf(docs, maxDf).collect().toSeq
    assert(capped == lossless)

    // crafted corpus: (1,2) share 4 rare shingles (df = 2); docs 10..13
    // are identical boilerplate, so every pair among them overlaps ONLY
    // on shingles with df = 4 — a cap of 2 must drop exactly those
    def text(ws: String*) = ws.mkString(" ")
    val crafted = (Seq(
      (1L, text("a", "b", "c", "d", "e", "f", "p", "q")),
      (2L, text("a", "b", "c", "d", "e", "f", "x", "y"))) ++
      (10L to 13L).map(i => (i, text("h1", "h2", "h3", "h4", "h5", "h6"))))
      .toDF("doc_id", "text")
    val full = PrefixJoin.prefixSimJoinOf(crafted)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tiny = PrefixJoin.prefixSimJoinOf(crafted, 2L)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tiny.subsetOf(full), "capped result must be a subset")
    assert(tiny == Set((1L, 2L)), s"rare-overlap pair survives the cap: $tiny")
    assert(full.contains((10L, 11L)), "hot-only pairs exist uncapped")
  }

  test("X62: plan — doc-partitioned windows only, no cartesian") {
    val df = PrefixJoin.prefixSimJoin(spark, sfDir)
    df.queryExecution.executedPlan.execute().foreach(_ => ())
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
    assert(!plan.contains("CartesianProduct"))
    // window discipline lives in the prefix-index subtree, which the
    // registered query materializes via localCheckpoint (round-18
    // optimization) — pin it on the pre-checkpoint seam
    val ix = PrefixJoin.prefixIndexSh(
      CorpusIndex.shingles(spark, sfDir), Long.MaxValue)
    ix.queryExecution.executedPlan.execute().foreach(_ => ())
    val ixPlan = ix.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
    val windows = "(?m)^.*Window .*$".r.findAllIn(ixPlan).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("doc_id")),
      windows.mkString("\n"))
  }

  test("X62: shingles hotter than VerifyHotDf are counted — equals the brute force") {
    import spark.implicits._
    // 80 docs share a boilerplate opening (2 shingles of df 80, over the
    // verify's hot split); docs 2k and 2k+1 also share a body (4 rare
    // shingles). A pair's J = 6/8 only with the hot shingles counted.
    val n = 80
    assert(n > PrefixJoin.VerifyHotDf)
    val docs = (0 until n).map { i =>
      val k = i / 2
      (i.toLong, s"copyright all rights reserved b$k c$k d$k e$k x$i")
    }.toDF("doc_id", "text")
    val sets = Dedup.shinglesOf(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = (for {
      a <- sets.keys.toSeq; b <- sets.keys.toSeq if a < b
      i = (sets(a) & sets(b)).size
      u = sets(a).size + sets(b).size - i if 2 * i >= u
    } yield (a, b, i.toLong)).toSet
    val got = PrefixJoin.prefixSimJoinOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(got == expected)
    assert(expected.size == n / 2 && expected.forall(_._3 == 6L))
  }
}
