package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashing.{md5Long40, sqlMd5Long40}

/** X137 — theta-sketch pairwise source overlap: estimated
  * |A ∩ B|, |A ∪ B|, and Jaccard for EVERY source pair, computed from
  * per-source bottom-K sketches alone — the "which sources duplicate
  * each other" planning matrix (X60 computes the exact doc-level
  * version with a cross-source join; X53 compares term DISTRIBUTIONS)
  * at K rows of state per source regardless of corpus size. Items are
  * the per-source DISTINCT word-3-gram shingle hashes (the X2/X62
  * corpus vocabulary, via the shared [[CorpusIndex]] tokenization), so
  * overlap reads as content affinity, not whole-doc equality.
  *
  * The theta-sketch algebra (Dasgupta et al. 2016, the open-source
  * Theta Sketch Framework): per source keep the K smallest distinct
  * hashes and θ_g = h₍K₎ (or the full hash space H = 2⁴⁰ below
  * capacity — the sketch is then the whole set). For a pair,
  * θ = min(θ_a, θ_b); every hash of either set below θ is — by the
  * bottom-k property — present in the corresponding sketch, so the
  * pair SAMPLE {h < θ} is computed exactly from the two sketches:
  * est_inter = |both < θ|·H/θ, est_union = |either < θ|·H/θ,
  * est_jaccard = both/either (the ratio estimator — θ cancels).
  * ORACLE-CHECKABLE like X134/X135/X136: θ and the counts are integer
  * order statistics, each estimate is ONE double division of exact-i64
  * operands (counts ≤ 2K, ·2⁴⁰ < 2⁵³ — exactly representable), and
  * below capacity on both sides θ = H makes every estimate EXACT (the
  * family's losslessness convention). `either` is always ≥ 1: θ is
  * some source's Kth-or-max hash, so at least that source has hashes
  * strictly below it (K ≥ 2) — the Jaccard division never sees 0/0.
  *
  * MERGEABLE twice over: the per-source sketch is the X134/X135
  * bottom-k union algebra across shards, and ONE sketch per source
  * answers all |S|² pair queries, set EXPRESSIONS included — the
  * reason warehouses ship theta sketches instead of pairwise joins.
  * The registered query carries exact_inter/exact_union alongside
  * (X100 audit pattern; the exact branch is the cross-source join the
  * sketch exists to avoid, dropped in production).
  *
  * Scale shape: one distinct over (source, shingle-hash) — map-side
  * combined, 40-bit keys; per-source bottom-K via the X139 bounded
  * KmvSketch Aggregator (≤K-slot partial buffers, map-side combined —
  * no per-source window sort; see [[sketchOf]]); everything pairwise
  * runs on ≤ K·|S| sketch rows + |S|² pair rows. Output is C(|S|,2)
  * rows.
  *
  * Reference scope: no sketches in the reference; engine extension
  * (SURVEY §2.5, the B11/X45/X134–X136 sketch family).
  */
object ThetaOverlap {

  val K = 256
  /** Hash-space size of md5Long40. */
  val H = 1L << 40

  def thetaOverlap(spark: SparkSession, dir: String): DataFrame =
    pairsOf(itemsOf(spark, dir))

  /** The item universe: per-source DISTINCT shingle hashes. Test seam. */
  private[graft] def itemsOf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val srcOf = Tables.documents(spark, dir).select($"doc_id", $"source")
    CorpusIndex.shingles(spark, dir)
      .join(srcOf, Seq("doc_id"))
      .select($"source".as("grp"), md5Long40($"sh").as("h"))
      .distinct()
  }

  /** Per-source sketch rows (grp, h, nd) limited to the K smallest,
    * plus per-source meta (grp, nd, theta). Test seam.
    *
    * Round-17 rewrite from the rank-window form: the old shape stacked
    * row_number + count(*) windows over the same (grp) spec — the nd
    * count defeats WindowGroupLimit's map-side cut, so EVERY distinct
    * hash shuffled to its source's partition and was sorted in ONE
    * task per source (the x158/x109 scale-weak class the round-14
    * rewrites eliminated), and the whole chain re-executed once per
    * downstream consumer (observed 4+ copies in the executed plan).
    * Now it is ONE hash aggregate: the X139 bounded KmvSketch
    * Aggregator (≤K-slot partial buffers, map-side combined — each
    * task ships at most K hashes per (source, partition)) plus
    * count(*) over the pre-distincted items for the exact nd; the
    * |S|-row result is localCheckpointed so the pair-stage consumers
    * read settled rows instead of re-running the corpus pass. Same
    * (grp, h, nd) set, same meta — the unchanged window-form oracle
    * certifies the aggregator's distinct-bottom-k law cross-engine
    * (the X139 argument, here load-bearing for the pair estimates). */
  private[graft] def sketchOf(items: DataFrame):
      (DataFrame, DataFrame) = {
    val spark = items.sparkSession
    import spark.implicits._
    val kmv = udaf(new graft.functions.KmvSketch(K))
    val agg = items.groupBy($"grp")
      .agg(count(lit(1)).as("nd"), kmv($"h").as("ks"))
      .localCheckpoint()
    val meta = agg.select($"grp", $"nd",
      when($"nd" >= K, element_at($"ks", K)).otherwise(lit(H))
        .as("theta"))
    val sketch = agg.select($"grp", explode($"ks").as("h"), $"nd")
    (sketch, meta)
  }

  /** Core of X137 over any DISTINCT (grp, h) frame. */
  private[graft] def pairsOf(items0: DataFrame): DataFrame = {
    val spark = items0.sparkSession
    import spark.implicits._
    // Materialize the distinct item universe ONCE (round-18
    // optimization): `items` feeds the sketch aggregate AND both sides
    // of the exact-intersection self-join — un-checkpointed, the
    // join-source distinct chain (shingle join + md5 + DISTINCT, the
    // corpus pass) re-executed once per reference.
    val items = items0.localCheckpoint()
    val (sketch, meta) = sketchOf(items)
    // the |S|-row meta self-join is pure-non-equi (grp_a < grp_b); the
    // checkpointed source hides size stats from the planner, which
    // would otherwise fall back to CartesianProduct — the hint pins
    // the |sources|-bounded side (BROADCAST_INVENTORY class `types`)
    val pairs = meta.select($"grp".as("grp_a"), $"nd".as("nd_a"),
        $"theta".as("ta"))
      .join(broadcast(meta.select($"grp".as("grp_b"), $"nd".as("nd_b"),
        $"theta".as("tb"))), $"grp_a" < $"grp_b")
      .select($"grp_a", $"grp_b", $"nd_a", $"nd_b",
        least($"ta", $"tb").as("theta"))
    // Every other join has a side bounded by the source count: the
    // sketch (≤ K rows per source) or a per-pair aggregate (≤ |S|² rows).
    // Hinted, they plan as broadcast joins up front. Left to AQE, each
    // became a broadcast join at run time only after racing the other
    // side's shuffle, so the final plan varied from run to run.
    def below(side: String): DataFrame =
      pairs.join(broadcast(sketch),
          sketch("grp") === pairs(s"grp_$side") &&
            sketch("h") < pairs("theta"))
        .groupBy($"grp_a", $"grp_b")
        .agg(count(lit(1)).as(s"${side}_below"))
    val both = pairs.join(
        broadcast(sketch.select($"grp".as("ga"), $"h")), $"ga" === $"grp_a")
      .join(broadcast(sketch.select($"grp".as("gb"), $"h".as("hb"))),
        $"gb" === $"grp_b" && $"hb" === $"h")
      .filter($"h" < $"theta")
      .groupBy($"grp_a", $"grp_b").agg(count(lit(1)).as("both_below"))
    val exact = items.select($"grp".as("ga"), $"h")
      .join(items.select($"grp".as("gb"), $"h".as("hb")),
        $"ga" < $"gb" && $"h" === $"hb")
      .groupBy($"ga", $"gb").agg(count(lit(1)).as("exact_inter"))
    pairs
      .join(broadcast(below("a")), Seq("grp_a", "grp_b"), "left")
      .join(broadcast(below("b")), Seq("grp_a", "grp_b"), "left")
      .join(broadcast(both), Seq("grp_a", "grp_b"), "left")
      .join(broadcast(exact), $"grp_a" === $"ga" && $"grp_b" === $"gb", "left")
      .withColumn("both_below", coalesce($"both_below", lit(0L)))
      .withColumn("either_below",
        coalesce($"a_below", lit(0L)) + coalesce($"b_below", lit(0L)) -
          $"both_below")
      .withColumn("exact_inter", coalesce($"exact_inter", lit(0L)))
      .select($"grp_a", $"grp_b", $"nd_a", $"nd_b", $"theta",
        $"both_below", $"either_below",
        ($"both_below".cast("double") / $"either_below".cast("double"))
          .as("est_jaccard"),
        (($"both_below" * lit(H)).cast("double") /
          $"theta".cast("double")).as("est_inter"),
        (($"either_below" * lit(H)).cast("double") /
          $"theta".cast("double")).as("est_union"),
        $"exact_inter",
        ($"nd_a" + $"nd_b" - $"exact_inter").as("exact_union"))
      .orderBy($"grp_a", $"grp_b")
  }

  val thetaOverlapSql: String = {
    val h = sqlMd5Long40("s.sh")
    s"""WITH ${Dedup.shinglesSqlFrom("documents")},
       |items AS MATERIALIZED (
       |  SELECT DISTINCT d.source AS grp, $h AS h
       |  FROM sh s JOIN documents d USING (doc_id)),
       |r AS (
       |  SELECT grp, h,
       |         row_number() OVER (PARTITION BY grp ORDER BY h) AS rn,
       |         count(*) OVER (PARTITION BY grp) AS nd
       |  FROM items),
       |sk AS (SELECT grp, h, nd FROM r WHERE rn <= $K),
       |meta AS (
       |  SELECT grp, max(nd) AS nd,
       |         CASE WHEN max(nd) >= $K THEN max(h) ELSE $H END AS theta
       |  FROM sk GROUP BY grp),
       |pairs AS (
       |  SELECT a.grp AS grp_a, b.grp AS grp_b, a.nd AS nd_a,
       |         b.nd AS nd_b, least(a.theta, b.theta) AS theta
       |  FROM meta a JOIN meta b ON a.grp < b.grp),
       |ab AS (
       |  SELECT p.grp_a, p.grp_b, count(*) AS a_below
       |  FROM pairs p JOIN sk ON sk.grp = p.grp_a AND sk.h < p.theta
       |  GROUP BY 1, 2),
       |bb AS (
       |  SELECT p.grp_a, p.grp_b, count(*) AS b_below
       |  FROM pairs p JOIN sk ON sk.grp = p.grp_b AND sk.h < p.theta
       |  GROUP BY 1, 2),
       |ib AS (
       |  SELECT p.grp_a, p.grp_b, count(*) AS both_below
       |  FROM pairs p
       |       JOIN sk x ON x.grp = p.grp_a AND x.h < p.theta
       |       JOIN sk y ON y.grp = p.grp_b AND y.h = x.h
       |  GROUP BY 1, 2),
       |exact AS (
       |  SELECT x.grp AS grp_a, y.grp AS grp_b, count(*) AS exact_inter
       |  FROM items x JOIN items y ON x.grp < y.grp AND x.h = y.h
       |  GROUP BY 1, 2)
       |SELECT p.grp_a, p.grp_b,
       |       CAST(nd_a AS BIGINT) AS nd_a, CAST(nd_b AS BIGINT) AS nd_b,
       |       CAST(p.theta AS BIGINT) AS theta,
       |       CAST(coalesce(both_below, 0) AS BIGINT) AS both_below,
       |       CAST(coalesce(a_below, 0) + coalesce(b_below, 0)
       |              - coalesce(both_below, 0) AS BIGINT)
       |         AS either_below,
       |       CAST(coalesce(both_below, 0) AS DOUBLE)
       |         / CAST(coalesce(a_below, 0) + coalesce(b_below, 0)
       |                  - coalesce(both_below, 0) AS DOUBLE)
       |         AS est_jaccard,
       |       CAST(coalesce(both_below, 0) * $H AS DOUBLE)
       |         / CAST(p.theta AS DOUBLE) AS est_inter,
       |       CAST((coalesce(a_below, 0) + coalesce(b_below, 0)
       |              - coalesce(both_below, 0)) * $H AS DOUBLE)
       |         / CAST(p.theta AS DOUBLE) AS est_union,
       |       CAST(coalesce(exact_inter, 0) AS BIGINT) AS exact_inter,
       |       CAST(nd_a + nd_b - coalesce(exact_inter, 0) AS BIGINT)
       |         AS exact_union
       |FROM pairs p
       |     LEFT JOIN ab USING (grp_a, grp_b)
       |     LEFT JOIN bb USING (grp_a, grp_b)
       |     LEFT JOIN ib USING (grp_a, grp_b)
       |     LEFT JOIN exact USING (grp_a, grp_b)
       |ORDER BY p.grp_a, p.grp_b""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x137_theta_overlap" -> thetaOverlap _)

  val oracles: Map[String, String] = Map(
    "x137_theta_overlap" -> thetaOverlapSql)
}
