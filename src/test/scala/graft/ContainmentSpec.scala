package graft

import graft.ops.{Containment, CorpusIndex, Dedup}

/** X63 — containment join: the asymmetrically-pruned plan must equal
  * an in-test all-pairs brute force, emit DIRECTED pairs (mutual
  * containment appears twice), and respect the min-inner-shingle
  * floor. Windows stay doc-partitioned.
  */
class ContainmentSpec extends SparkSpec {

  private def sets(): Map[Long, Set[String]] =
    Dedup.shinglesOf(Tables.documents(spark, sfDir)).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  test("X63: equals the all-pairs brute force at tau = 3/4") {
    val s = sets()
    val expected = (for {
      a <- s.keys.toSeq; b <- s.keys.toSeq if a != b
      na = s(a).size if na >= Containment.minInnerShingles
      i = (s(a) & s(b)).size if 4 * i >= 3 * na
    } yield (a, b, na.toLong, s(b).size.toLong, i.toLong)).toSet

    val got = Containment.containmentJoin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == expected, s"got ${got.size}, expected ${expected.size}")
    assert(expected.nonEmpty, "fixture has at least one containment")
  }

  test("X63: directed — identical shingle sets emit both orientations") {
    val s = sets()
    val got = Containment.containmentJoin(spark, sfDir)
      .select("doc_inner", "doc_outer").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mutual = for {
      (a, b) <- got
      if s(a) == s(b) && s(a).size >= Containment.minInnerShingles
    } yield (b, a)
    mutual.foreach(p => assert(got(p), s"missing reverse of $p"))
  }

  test("X63: boundary fixtures — full quote, exact 3/4, below, and floor") {
    import spark.implicits._
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val docs = Seq(
      // full containment: doc1's 5 shingles all appear in doc2
      (1L, (words("a", 7)).mkString(" ")),
      (2L, ("z" +: "y" +: words("a", 7) :+ "w").mkString(" ")),
      // exact 3/4: doc3 has 8 shingles, 6 shared with doc4
      (3L, words("m", 10).mkString(" ")),
      (4L, (words("m", 8) ++ words("t", 4)).mkString(" ")),
      // below threshold: doc5 has 8 shingles, 5 shared with doc6
      (5L, words("n", 10).mkString(" ")),
      (6L, (words("n", 7) ++ words("u", 5)).mkString(" ")),
      // floor: doc7 has 4 shingles (< 5), fully inside doc8
      (7L, words("f", 6).mkString(" ")),
      (8L, (words("f", 6) ++ words("g", 4)).mkString(" "))
    ).toDF("doc_id", "text")
    val got = graft.ops.Containment.containmentJoinOf(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(5))).toMap
    assert(got.contains((1L, 2L)), "full quote found")
    assert(java.lang.Double.compare(got((1L, 2L)), 1.0) == 0)
    assert(got.contains((3L, 4L)), "exact 3/4 boundary is IN")
    assert(java.lang.Double.compare(got((3L, 4L)), 0.75) == 0)
    assert(!got.contains((4L, 3L)), "reverse direction below threshold")
    assert(!got.contains((5L, 6L)), "5/8 containment is OUT")
    assert(!got.contains((7L, 8L)), "inner below 5-shingle floor excluded")
  }

  test("X63: candidate-budget cap — above-max-df ≡ lossless; tiny cap " +
    "drops exactly the hot-only containments") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val lossless = Containment.containmentJoinOf(docs).collect().toSeq
    val maxDf = Dedup.shinglesOf(docs).groupBy("sh").count()
      .agg(org.apache.spark.sql.functions.max("count")).collect()(0).getLong(0)
    val capped = Containment.containmentJoinOf(docs, maxDf).collect().toSeq
    assert(capped == lossless)

    // crafted: doc 1 (5 rare shingles) quoted inside doc 2 — df ≤ 2 —
    // while docs 10..13 are identical 7-shingle boilerplate (df = 4);
    // a cap of 2 keeps the rare quote, drops the boilerplate cluster
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val crafted = (Seq(
      (1L, words("a", 7).mkString(" ")),
      (2L, ("z" +: "y" +: words("a", 7) :+ "w").mkString(" "))) ++
      (10L to 13L).map(i => (i, words("h", 9).mkString(" "))))
      .toDF("doc_id", "text")
    val full = Containment.containmentJoinOf(crafted)
      .select("doc_inner", "doc_outer").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val tiny = Containment.containmentJoinOf(crafted, 2L)
      .select("doc_inner", "doc_outer").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tiny.subsetOf(full), "capped result must be a subset")
    assert(tiny == Set((1L, 2L)), s"rare quote survives the cap: $tiny")
    assert(full.contains((10L, 11L)), "hot-only containments exist uncapped")
  }

  test("X63: plan — doc-partitioned windows, no cartesian") {
    val df = Containment.containmentJoin(spark, sfDir)
    df.queryExecution.executedPlan.execute().foreach(_ => ())
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
    assert(!plan.contains("CartesianProduct"))
    // window discipline lives in the ranked-index subtree, which the
    // registered query materializes via localCheckpoint (round-18
    // optimization) — pin it on the pre-checkpoint seam
    val ix = Containment.rankedIndexSh(
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

  test("X63: shingles hotter than VerifyHotDf are counted — equals the brute force") {
    import spark.implicits._
    // 80 docs share a boilerplate opening (2 shingles of df 80, over the
    // verify's hot split); docs 2k and 2k+1 also share a body (4 rare
    // shingles). Containment is 6/7 only with the hot shingles counted.
    val n = 80
    assert(n > graft.ops.PrefixJoin.VerifyHotDf)
    val docs = (0 until n).map { i =>
      val k = i / 2
      (i.toLong, s"copyright all rights reserved b$k c$k d$k e$k x$i")
    }.toDF("doc_id", "text")
    val s = Dedup.shinglesOf(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = (for {
      a <- s.keys.toSeq; b <- s.keys.toSeq if a != b
      na = s(a).size if na >= Containment.minInnerShingles
      i = (s(a) & s(b)).size if 4 * i >= 3 * na
    } yield (a, b, i.toLong)).toSet
    val got = Containment.containmentJoinOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(got == expected)
    assert(expected.size == n && expected.forall(_._3 == 6L))
  }
}
