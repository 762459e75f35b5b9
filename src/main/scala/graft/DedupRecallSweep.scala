package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, DedupRecall}

/** X146 density-dial measurement (round-17 verdict item 6): the audit's
  * cost dial is the probe-slice modulus — cost ≈ 1/mod × the full
  * shared-shingle join — and the claim a deployment relies on is that
  * the PER-BAND RECALL ESTIMATE is density-independent (the slice is
  * hash-arbitrary in doc_id, so thinning it loses precision, never
  * bias). This harness measures both halves: per-band recall and wall
  * at mods {11, 31, 101} × factors {1×, 10×, 30×} over the established
  * disjoint-vocab replicas.
  *
  * Usage: `sbt "runMain graft.DedupRecallSweep [baseSfDir] [outDir]"` →
  * one JSON line per (factor, mod, band) plus a wall line per
  * (factor, mod); aggregate written to X146_DIAL.json.
  */
object DedupRecallSweep {

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("target/x146_dial")
    val spark = GraftSession()
    import spark.implicits._

    // the established disjoint-vocab replica (ScaleVerify/CandGrowth)
    def replicaDocs(blocks: Int): DataFrame = {
      if (blocks == 1) return Tables.documents(spark, baseDir)
      val path = s"$outDir/x$blocks/documents.parquet"
      if (!Files.exists(Paths.get(path))) {
        Tables.documents(spark, baseDir)
          .crossJoin(spark.range(blocks).toDF("block"))
          .select(
            ($"doc_id" + $"block" * 10000000L).as("doc_id"),
            array_join(transform(split(trim(lower($"text")), "\\s+"),
              w => concat(w, lit("_"), $"block")), " ").as("text"),
            $"lang", $"source")
          .withColumn("n_chars", length($"text"))
          .repartition(8 * blocks)
          .write.mode("overwrite").parquet(path)
      }
      spark.read.parquet(path)
    }

    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    def emit(line: String): Unit = { println(line); rows += line }

    for (factor <- Seq(1, 10, 30)) {
      val sh = Dedup.shinglesOf(replicaDocs(factor)).cache()
      sh.count()
      val sig = Dedup.minhashSignatures(sh).localCheckpoint()
      for (mod <- Seq(11L, 31L, 101L)) {
        val t0 = System.nanoTime()
        val bands = DedupRecall.recallAt(sh, sig, mod).collect()
        val wall = (System.nanoTime() - t0) / 1e9
        bands.foreach { r =>
          emit(f"""{"factor":$factor,"mod":$mod,""" +
            f""""band_lo":${r.getAs[Double]("band_lo")}%.2f,""" +
            f""""n_truth":${r.getAs[Long]("n_truth")},""" +
            f""""n_found":${r.getAs[Long]("n_found")},""" +
            f""""recall":${r.getAs[Double]("recall")}%.4f,""" +
            f""""wall_sec":$wall%.2f}""")
        }
      }
      sh.unpersist()
      spark.catalog.clearCache()
    }

    Files.writeString(Paths.get("X146_DIAL.json"),
      rows.mkString("[", ",\n ", "]\n"))
    spark.stop()
  }
}
