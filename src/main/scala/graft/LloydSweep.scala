package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing.{cosQ, dotQ}
import graft.ops.{LloydIvf, Vector}

/** x166-vs-x19 recall sweep: does the INTEGER-EXACT Lloyd quantizer
  * (oracle-checkable training, |labels| = 10 cells) give up recall
  * against MLlib's float KMeans (x19, 16 cells) at the same nprobe
  * dials? For each nprobe: recall@5 vs the brute-force top-5 and the
  * candidate count actually scanned, for both indexes, on the same
  * corpus and query band. Results committed in ANN_SWEEP.md §x166.
  *
  * Usage: sbt "runMain graft.LloydSweep [sfDir]"
  */
object LloydSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession()
    import spark.implicits._

    val e = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding",
        dotQ($"embedding", $"embedding").as("nq"))
    val q = e.filter($"vec_id" < LloydIvf.NQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"),
        $"nq".as("qnq"))
    val byQ = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"c".desc, $"vec_id".asc)
    val brute = e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosQ(dotQ($"embedding", $"qe"), $"nq", $"qnq").as("c"))
      .withColumn("rnk", row_number().over(byQ)).filter($"rnk" <= 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val lloyd = LloydIvf.lloydIndex(spark, sfDir)
    val mllib = Vector.ivfIndex(spark, sfDir)
    val n = e.count()
    println(s"corpus=$n vectors, ${LloydIvf.NQueries} queries, k=5 ($sfDir)")
    println("| nprobe | x166 recall@5 | x166 cands | x19 recall@5 | x19 cands |")
    println("|---|---|---|---|---|")
    Seq(1, 2, 4, 8).foreach { np =>
      def recallOf(got: Set[(Long, Long)]) =
        (got & brute).size.toDouble / brute.size
      val gl = LloydIvf.probe(lloyd, np).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
      val cl = LloydIvf.candidates(lloyd, np).count()
      val gm = Vector.ivfProbe(mllib, np).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
      val cm = Vector.ivfCandidateCount(mllib, np)
      println(f"| $np | ${recallOf(gl)}%.2f | $cl | ${recallOf(gm)}%.2f | $cm |")
    }

    // x173-vs-x31: do the INTEGER-EXACT per-subspace codebooks (x173 —
    // oracle-checkable training) give up ADC recall against the seeded
    // MLlib codebooks (x31) at the same candK rerank budget?
    val lpq = ops.LloydPq.pqLloydIndex(spark, sfDir)
    val mpq = Vector.pqIndex(spark, sfDir)
    println()
    println("| candK | x173 recall@5 | x31 recall@5 |")
    println("|---|---|---|")
    Seq(12, 24, 48, 96).foreach { ck =>
      def recallOf(got: Set[(Long, Long)]) =
        (got & brute).size.toDouble / brute.size
      val gl = ops.LloydPq.probe(lpq, ck).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
      val gm = Vector.pqProbe(mpq, ck).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
      println(f"| $ck | ${recallOf(gl)}%.2f | ${recallOf(gm)}%.2f |")
    }

    // x178 (IVFADC): does the residual-PQ ADC cut cost recall below
    // x166's exact scan of the SAME probed cells (the coarse-pruning
    // ceiling) at each (nprobe, candK) dial? "scan" counts the rows the
    // ADC reads (code bytes) vs the rows exact rerank pays for.
    val ivfpq = ops.LloydIvfPq.ivfPqIndex(spark, sfDir)
    println()
    println("| nprobe | candK | x178 recall@5 | x181 (adaptive) recall@5 | x166 recall@5 (ceiling) | codes scanned | reranked |")
    println("|---|---|---|---|---|---|---|")
    // "x181 recall@5" = the adaptive dial (candK = max(CandK, pop/6))
    // at the same nprobe — the production form whose recall must sit at
    // the coarse ceiling at ANY corpus size (round-16 verdict item 1)
    Seq(1, 2, 4).foreach { np =>
      val ceiling = LloydIvf.probe(lloyd, np).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
      // per-query candidate populations (not just the total): queries
      // whose probed cells hold fewer than candK candidates rerank only
      // that many, so the reported rerank cost is Σ_q min(candK, pop_q)
      // — a total-level cap overcounts whenever populations are skewed
      // (round-15 advice item 3)
      val perQ = LloydIvf.candidates(lloyd, np)
        .groupBy(col("query_id")).count().collect().map(_.getLong(1))
      val scanned = perQ.sum
      val ga = ops.LloydIvfPq.probeAdaptive(ivfpq, np).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
      Seq(24, 48, 96).foreach { ck =>
        def recallOf(got: Set[(Long, Long)]) =
          (got & brute).size.toDouble / brute.size
        val gp = ops.LloydIvfPq.probe(ivfpq, np, ck).collect()
          .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
        val reranked = perQ.map(p => math.min(ck.toLong, p)).sum
        println(f"| $np | $ck | ${recallOf(gp)}%.2f | ${recallOf(ga)}%.2f | ${recallOf(ceiling)}%.2f | $scanned | $reranked |")
      }
    }
    spark.stop()
  }
}
