package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Hashing.{cosQ, dotQ}
import graft.ops.Vector

/** Unified ANN recall-vs-cost sweep across the three index families
  * (round-8 verdict item 6: IVF_SWEEP.md covered x19 only; LSH
  * multi-probe x21 and PQ x31 must be comparable on one table):
  *
  *  - LSH (x14/x21): nprobes ∈ {1, 2, 4} buckets per query (1 = x14's
  *    single bucket, 2 = x21's registered flip-probe form); cost =
  *    candidates admitted to exact rerank.
  *  - IVF (x19): nprobe ∈ {1, 2, 4, 8} probed cells of 16; cost = the
  *    probed inverted-list sizes.
  *  - PQ (x31): candK ∈ {16, 48, 128} exact-rerank rows per query (48 =
  *    the registered form); the ADC pass itself always scans every
  *    row's M=8 code bytes — its "candidates" below are the float rows
  *    reranked, the per-query exact-distance work, which is the axis
  *    comparable with LSH/IVF candidate counts.
  *
  * Corpora: any sf dir, plus an optional rotated 10× replica (`10x`
  * third arg): block b keeps block 0's vectors rotated left by 7·b dims
  * with vec_id += b·10⁷ — same norms, near-zero cross-block cosines on
  * this near-uniform corpus, so the replica adds 9× decoys around the
  * original neighborhoods (queries are vec_id < 3, block 0). Ground
  * truth is always the brute-force exact-cosine top-5 over the WHOLE
  * corpus being probed.
  *
  * Results are committed in ANN_SWEEP.md; recall floors and
  * monotonicity are pinned in TextVectorSpec.
  *
  * Usage: sbt "runMain graft.AnnSweep [sfDir] [10x]"
  */
object AnnSweep {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val make10x = args.lift(1).contains("10x")
    val spark = GraftSession()

    val dir =
      if (!make10x) sfDir
      else {
        val out = "target/ann_corpus_10x"
        rotatedReplica(spark, sfDir, blocks = 10)
          .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
        out
      }
    sweep(spark, dir, if (make10x) s"$sfDir x10 rotated" else sfDir)
    spark.stop()
  }

  /** Rotated replica: block 0 verbatim; block b>0 = embeddings rotated
    * left by (7·b mod 64) dims, vec_id shifted by b·10⁷. Rotation
    * preserves norms and, on near-uniform vectors, makes cross-block
    * cosines background noise — decoys, not structure.
    */
  private[graft] def rotatedReplica(spark: SparkSession, sfDir: String,
      blocks: Int): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir)
      .crossJoin(spark.range(blocks).toDF("block"))
      .select(
        ($"vec_id" + $"block" * 10000000L).as("vec_id"),
        $"label",
        concat(
          slice($"embedding", ($"block" * 7 % 64) + 1,
            lit(64) - ($"block" * 7 % 64)),
          slice($"embedding", lit(1), $"block" * 7 % 64)).as("embedding"))
  }

  private def sweep(spark: SparkSession, dir: String, title: String): Unit = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding",
        dotQ($"embedding", $"embedding").as("nq"))
    val q = e.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nq".as("qnq"))
    val byQ = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"c".desc, $"vec_id".asc)
    val brute = e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosQ(dotQ($"embedding", $"qe"), $"nq", $"qnq").as("c"))
      .withColumn("rnk", row_number().over(byQ)).filter($"rnk" <= 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = e.count()
    println(s"== ANN sweep: $title — corpus=$n vectors, 3 queries, k=5 ==")
    println("| family | dial | recall@5 | rerank candidates | % of brute |")
    println("|---|---|---|---|---|")

    def row(family: String, dial: String, top5: Set[(Long, Long)],
        cands: Long): Unit = {
      val recall = (top5 & brute).size.toDouble / brute.size
      println(f"| $family | $dial | $recall%.2f | $cands%d " +
        f"| ${100.0 * cands / (3 * n)}%.1f%% |")
    }
    def top5Of(df: DataFrame): Set[(Long, Long)] =
      df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet

    Seq(1, 2, 4).foreach { np =>
      val cands = Vector.lshCandidates(spark, dir, np)
      val note = if (np == 1) " (=x14)" else if (np == 2) " (=x21)" else ""
      row("LSH", s"probes=$np$note",
        top5Of(Vector.rerankTop5(cands)), cands.count())
    }
    val ivf = Vector.ivfIndex(spark, dir)
    Seq(1, 2, 4, 8).foreach { np =>
      val note = if (np == 2) " (=x19)" else ""
      row("IVF", s"nprobe=$np$note", top5Of(Vector.ivfProbe(ivf, np)),
        Vector.ivfCandidateCount(ivf, np))
    }
    val pq = Vector.pqIndex(spark, dir)
    Seq(16, 48, 128).foreach { ck =>
      val note = if (ck == Vector.PqCandK) " (=x31)" else ""
      row("PQ", s"candK=$ck$note", top5Of(Vector.pqProbe(pq, ck)),
        3L * math.min(ck, n - 1))
    }
    Seq((2, 48), (4, 48), (8, 128)).foreach { case (np, ck) =>
      val note =
        if (np == Vector.IvfPqNprobe && ck == Vector.IvfPqCandK) " (=x79)"
        else ""
      row("IVF-PQ", s"nprobe=$np,candK=$ck$note",
        top5Of(Vector.ivfPqProbe(ivf, pq, np, ck)),
        Vector.ivfPqCandidates(ivf, pq, np, ck).count())
    }
    // round-11 stretch: reverse-probe symmetrized IVF-PQ — does the
    // X87 un-squared-reciprocity argument buy recall at half the
    // nprobe? (adoption decision recorded in ANN_SWEEP.md)
    Seq((2, 48), (4, 48), (8, 128)).foreach { case (np, ck) =>
      row("IVF-PQ-sym", s"nprobe=$np,candK=$ck",
        top5Of(Vector.ivfPqProbeSym(ivf, pq, np, ck)),
        Vector.ivfPqCandidatesSym(ivf, pq, np, ck).count())
    }
  }
}
