package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing.{cosQ, dotQ}
import graft.ops.Vector

/** Reproducible IVF recall-vs-cost sweep (SURVEY §8 item 1): for each
  * nprobe, recall@5 of [[graft.ops.Vector.ivfProbe]] against the
  * brute-force top-5, plus the candidate count actually scanned — the two
  * axes of the ANN trade. Results are committed in IVF_SWEEP.md.
  *
  * Usage: sbt "runMain graft.IvfSweep [sfDir]"
  */
object IvfSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession()
    import spark.implicits._

    val index = Vector.ivfIndex(spark, sfDir)
    val e = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", dotQ($"embedding", $"embedding").as("nq"))
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
    println(s"corpus=$n vectors, 16 cells, 3 queries, k=5 ($sfDir)")
    Seq(1, 2, 4, 8).foreach { np =>
      val t0 = System.nanoTime()
      val got = Vector.ivfProbe(index, np).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
      val sec = (System.nanoTime() - t0) / 1e9
      val cands = Vector.ivfCandidateCount(index, np)
      val recall = (got & brute).size.toDouble / brute.size
      println(f"nprobe=$np%d  recall@5=$recall%.2f  candidates=$cands%d " +
        f"(${100.0 * cands / (3 * n)}%.1f%% of brute force)  probe_sec=$sec%.2f")
    }
    spark.stop()
  }
}
