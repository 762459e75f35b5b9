package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Containment, Dedup, PrefixJoin, SemDedup, Winnowing}

/** Candidate-pair growth evidence for the near-dup join family's scale
  * posture (round-10 verdict item 2): measure, per scale factor, the
  * cardinality of the CANDIDATE streams — the frames whose size IS the
  * x62/x63/x125 scale cost — plus end-to-end wall, with the caps in
  * their deployed posture (maxCandDf = 1000 via the [[ops.ScaleCaps]]
  * seam for x62/x63; x125's built-in MaxDf = 64). Lossless counts are
  * also recorded where the factor keeps them tractable, so the table
  * shows both what the capped posture costs AND what it protects
  * against.
  *
  * Replicas are the established disjoint-vocab construction
  * (ScaleVerify/ScaleBench): each block re-suffixes every word, so the
  * corpus grows with NEW content and the vocabulary grows with it —
  * the "organic growth" model. Under it candidate counts must grow
  * LINEARLY in the factor for the design to hold; superlinear growth
  * here would mean the blocking discipline itself is wrong.
  *
  * Usage: `sbt "runMain graft.CandGrowth [baseSfDir] [outDir]"` →
  * prints one JSON line per (factor, query) and writes the aggregate
  * to CAND_GROWTH.json. Factors: 1, 10, 30.
  */
object CandGrowth {

  val Cap = 1000L

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("target/cand_growth")
    val spark = GraftSession()
    import spark.implicits._

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

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    def record(factor: Int, q: String, mode: String, nCand: Long,
        nResult: Long, wall: Double): Unit = {
      val line = f"""{"factor":$factor,"query":"$q","mode":"$mode",""" +
        f""""n_cand":$nCand,"n_result":$nResult,"wall_sec":$wall%.2f}"""
      println(line)
      rows += line
    }

    for (factor <- Seq(1, 10, 30)) {
      val docs = replicaDocs(factor)
      val tok = Dedup.shinglesOf(docs).cache()
      tok.count() // materialize the shared shingle index once per factor

      // x62 / x63 — capped posture, plus lossless where tractable
      val modes: Seq[(String, Long)] =
        Seq("capped" -> Cap) ++
          (if (factor <= 10) Seq("lossless" -> Long.MaxValue) else Nil)
      for ((mode, cap) <- modes) {
        val (nc62, _) = timed(PrefixJoin.candidatesSh(tok, cap).count())
        val (nr62, w62) = timed(
          PrefixJoin.prefixSimJoinSh(tok, cap).count())
        record(factor, "x62_setsim_prefix_join", mode, nc62, nr62, w62)
        val (nc63, _) = timed(Containment.candidatesSh(tok, cap).count())
        val (nr63, w63) = timed(
          Containment.containmentJoinSh(tok, cap).count())
        record(factor, "x63_containment_join", mode, nc63, nr63, w63)
        // round-19 fused verify: the shared-shingle enumeration over
        // candidate docs replaced the candidate×shingles re-expansion —
        // record ITS volume per factor (n_cand field = enumerated rows)
        // so the new verify's growth curve sits beside the candidate
        // counts it is bounded by
        val ranked = graft.ops.CorpusIndex.rankedShinglesOf(tok)
          .localCheckpoint()
        val c62 = PrefixJoin.candidatesRanked(ranked, cap).localCheckpoint()
        val (ne62, we62) = timed(
          PrefixJoin.sharedEnumRanked(ranked, c62).count())
        record(factor, "x62_setsim_prefix_join", s"$mode-verify-enum",
          ne62, -1, we62)
        c62.unpersist()
        val c63 = Containment.candidatesRanked(ranked, cap).localCheckpoint()
        val (ne63, we63) = timed(
          Containment.sharedEnumRanked(ranked, c63).count())
        record(factor, "x63_containment_join", s"$mode-verify-enum",
          ne63, -1, we63)
        c63.unpersist()
        ranked.unpersist()
      }

      // x02 — the LSH banding IS its candidate bound (band-bucket
      // joins admit only same-bucket pairs); round-16 verdict item 5:
      // the family's third scale point, candidates + verified pairs
      val sig = Dedup.minhashSignatures(tok).localCheckpoint()
      val (nc02, _) = timed(Dedup.minhashCandidates(sig).count())
      val (nr02, w02) = timed(Dedup.minhashVerified(tok, sig)
        .filter($"jaccard" >= 0.5).count())
      record(factor, "x02_minhash_lsh", "banded", nc02, nr02, w02)
      tok.unpersist()

      // x125 — MaxDf = 64 is the operator's built-in (always-on) cap;
      // matchFromFp reuses the SAME cached fingerprint frame the
      // candidate count just materialized, so w125 is a warm-cache
      // number comparable to the candidate timing
      val fp = Winnowing.keptFingerprintsOf(docs)
      val (nc125, _) = timed(Winnowing.candidatePairsFromFp(fp).count())
      val (nr125, w125) = timed(Winnowing.matchFromFp(fp).count())
      record(factor, "x125_winnowing_match", "capped", nc125, nr125, w125)
      fp.unpersist()
      spark.catalog.clearCache()
    }

    // 100× fourth decade — candidate COUNTS only (round-17 verdict
    // item 7: the 100 TB claim rests on the caps holding one more
    // decade; counts are box-independent where walls are not, so the
    // curvature evidence is the candidate cardinality per factor).
    // Lossless is out of reach by design at this factor — the capped /
    // banded postures ARE the deployment dials being certified.
    {
      val factor = 100
      val docs = replicaDocs(factor)
      val tok = Dedup.shinglesOf(docs).cache()
      tok.count()
      val (nc62, w62) = timed(PrefixJoin.candidatesSh(tok, Cap).count())
      record(factor, "x62_setsim_prefix_join", "capped-counts", nc62, -1, w62)
      val (nc63, w63) = timed(Containment.candidatesSh(tok, Cap).count())
      record(factor, "x63_containment_join", "capped-counts", nc63, -1, w63)
      locally {
        // at this factor the pinned frames (tok cache + ranked ckpt +
        // candidate ckpts) crowd execution memory — release each as
        // soon as its count lands
        val ranked = graft.ops.CorpusIndex.rankedShinglesOf(tok)
          .localCheckpoint()
        val c62 = PrefixJoin.candidatesRanked(ranked, Cap).localCheckpoint()
        val (ne62, we62) = timed(
          PrefixJoin.sharedEnumRanked(ranked, c62).count())
        record(factor, "x62_setsim_prefix_join", "capped-verify-enum",
          ne62, -1, we62)
        c62.unpersist()
        val c63 = Containment.candidatesRanked(ranked, Cap).localCheckpoint()
        val (ne63, we63) = timed(
          Containment.sharedEnumRanked(ranked, c63).count())
        record(factor, "x63_containment_join", "capped-verify-enum",
          ne63, -1, we63)
        c63.unpersist()
        ranked.unpersist()
      }
      val sig = Dedup.minhashSignatures(tok).localCheckpoint()
      val (nc02, w02) = timed(Dedup.minhashCandidates(sig).count())
      record(factor, "x02_minhash_lsh", "banded-counts", nc02, -1, w02)
      tok.unpersist()
      val fp = Winnowing.keptFingerprintsOf(docs)
      val (nc125, w125) = timed(Winnowing.candidatePairsFromFp(fp).count())
      record(factor, "x125_winnowing_match", "capped-counts", nc125, -1, w125)
      fp.unpersist()
      spark.catalog.clearCache()
    }

    // Boilerplate-hot corpus (ScaleBench's recall protocol): the
    // corpus-wide phrase every document shares (df = |corpus| — the
    // naive superlinear term, which the PREFIX FILTER itself turns out
    // to neutralize: rare-half indexing never admits it), plus the
    // df = 1200 injected small-doc cluster at 10×/30× whose C(1200,2)
    // pair clique has nothing but hot shingles in its prefixes — THE
    // mid-frequency pathology the cap exists for. Lossless runs
    // through 10× so the capped-vs-lossless delta exhibits the clique
    // being dropped exactly; at 30× only the capped posture runs (a
    // production-sized clique squares — the measured point stands in
    // for it).
    val hotPhrase = " the quick brown fox jumps over it"
    def hotDocs(factor: Int): DataFrame = {
      val organic = replicaDocs(factor)
        .select($"doc_id", concat($"text", lit(hotPhrase)).as("text"))
      if (factor == 1) organic
      else organic.unionByName(spark.range(1200L).select(
        ($"id" + 900000000L).as("doc_id"),
        concat(lit("uniq"), $"id",
          lit(" lorem ipsum dolor sit amet consectetur adipiscing"))
          .as("text")))
    }
    for (factor <- Seq(1, 10, 30)) {
      val tok = Dedup.shinglesOf(hotDocs(factor)).cache()
      tok.count()
      val modes: Seq[(String, Long)] =
        Seq("hot-capped" -> Cap) ++
          (if (factor <= 10) Seq("hot-lossless" -> Long.MaxValue) else Nil)
      for ((mode, cap) <- modes) {
        val (nc62, _) = timed(PrefixJoin.candidatesSh(tok, cap).count())
        val (nr62, w62) = timed(
          PrefixJoin.prefixSimJoinSh(tok, cap).count())
        record(factor, "x62_setsim_prefix_join", mode, nc62, nr62, w62)
        val (nc63, _) = timed(Containment.candidatesSh(tok, cap).count())
        val (nr63, w63) = timed(
          Containment.containmentJoinSh(tok, cap).count())
        record(factor, "x63_containment_join", mode, nc63, nr63, w63)
      }
      tok.unpersist()
      val fp = Winnowing.keptFingerprintsOf(hotDocs(factor))
      val (nc125, _) = timed(Winnowing.candidatePairsFromFp(fp).count())
      val (nr125, w125) = timed(Winnowing.matchFromFp(fp).count())
      record(factor, "x125_winnowing_match", "hot-capped",
        nc125, nr125, w125)
      fp.unpersist()
      spark.catalog.clearCache()
    }

    // x145 SemDeDup — the round-12 verdict's named pathology: the
    // oracle pins label-seeded cells whose COUNT is fixed, so the
    // lossless within-cell pair volume grows QUADRATICALLY in the
    // factor (each cell's population multiplies, pairs square). The
    // replica keeps vec_ids fresh and the label/embedding distribution
    // intact — exactly how a corpus grows under a fixed clustering.
    // Capped posture: SPARK_GRAFT_MAX_CELL_SIZE=200 (the base cell
    // size), under which pair volume must turn LINEAR in the factor.
    val CellCap = 200L
    def replicaEmb(blocks: Int): DataFrame = {
      if (blocks == 1) return Tables.embeddings(spark, baseDir)
      val path = s"$outDir/emb_x$blocks/embeddings.parquet"
      if (!Files.exists(Paths.get(path))) {
        Tables.embeddings(spark, baseDir)
          .crossJoin(spark.range(blocks).toDF("block"))
          .select(($"vec_id" + $"block" * 10000000L).as("vec_id"),
            $"embedding", $"label")
          .repartition(8 * blocks)
          .write.mode("overwrite").parquet(path)
      }
      spark.read.parquet(path)
    }
    for (factor <- Seq(1, 10, 30)) {
      val e = replicaEmb(factor)
      val best = SemDedup.bestOf(e).cache()
      best.count()
      val modes: Seq[(String, Long)] =
        Seq("capped" -> CellCap) ++
          (if (factor <= 10) Seq("lossless" -> Long.MaxValue) else Nil)
      for ((mode, cap) <- modes) {
        val (nc, _) = timed(SemDedup.candidatePairsOf(best, cap).count())
        val (nr, w) = timed(SemDedup.semOf(e, cap).count())
        record(factor, "x145_semdedup", mode, nc, nr, w)
      }
      best.unpersist()
      spark.catalog.clearCache()
    }

    Files.writeString(Paths.get("CAND_GROWTH.json"),
      rows.mkString("[", ",\n ", "]\n"))
    spark.stop()
  }
}
