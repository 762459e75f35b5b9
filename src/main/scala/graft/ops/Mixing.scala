package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashing

/** X28/X29 — data-mixture construction: the two samplers a training-data
  * build runs after curation to hit a target language/source mixture.
  *
  * X28 `stratifiedSample` — rate-based stratified sampling. Each stratum
  * (language) keeps a configured fraction of its documents, decided by a
  * DETERMINISTIC hash bucket of the document id (`md5Long40(doc_id||salt)
  * % denom < num`), not by `rand()`: the sample is reproducible across
  * runs/retries/engines, documents keep or drop independently of
  * partitioning, and upsampling a stratum later only ADDS documents
  * (bucket < num is monotone in num). Scale shape: completely row-local —
  * a filter inside the scan, no shuffle, no state; the rate table is a
  * CASE expression (a broadcast map in the general case).
  *
  * X29 `qualityQuota` — per-stratum quality quota: the N highest-quality
  * documents per language (the "take the best N per bucket" mixture
  * rule). The scale hazard of `row_number() OVER (PARTITION BY lang) …
  * <= N` is that a stratum is tens of terabytes at 100 TB — but Spark
  * already defuses it: `InferWindowGroupLimit` plans a
  * `WindowGroupLimit … Partial` BELOW the exchange (each map partition
  * keeps only its own top N per stratum before shuffling) and a `Final`
  * above it, so the shuffle carries ≤ N rows per stratum per map
  * partition and the per-stratum task sorts ≤ N·P rows — never the
  * stratum. MixingSpec pins that plan shape so a regression to a
  * full-stratum shuffle fails the suite.
  *
  * A hand-rolled salted two-phase top-N (S parallel pre-windows per
  * stratum — a lossless prefilter, since any global top-N row is in its
  * salt group's top N — then the exact window over bounded input) is
  * kept as [[quotaTwoPhaseScored]] for the equality pin and the
  * measurement: it re-implements what WindowGroupLimit already does,
  * and the shipped single window measured ~1.5× FASTER than it
  * (MicroBench `quality_quota`, 4M single-stratum rows, local[32],
  * alternating medians of 5: 0.49 s vs 0.74 s) — the extra salt shuffle
  * and second sort buy nothing. "Let Catalyst optimize" wins here; the
  * two-phase form remains the documented fallback for engines without
  * rank-limit pushdown.
  *
  * Ordering ties are broken by doc_id, so the selected set and ranks are
  * total-order deterministic; quality_score is Text.qualityOf's double
  * (bit-identical in both engines, proven by the X10 gate).
  */
object Mixing {

  /** X28 rates: numerators over [[SampleDenom]], per language. */
  val SampleDenom = 8
  private def rateNum(lang: org.apache.spark.sql.Column) =
    when(lang === "en", 4).when(lang === "zh", 1).otherwise(2)

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("bucket",
        Hashing.md5Long40(concat($"doc_id".cast("string"), lit(":mix")))
          % SampleDenom)
      .filter($"bucket" < rateNum($"lang"))
      .select($"doc_id", $"lang", $"source", $"bucket")
      .orderBy($"doc_id")
  }

  val stratifiedSampleSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, lang, source,
       |         ${Hashing.sqlMd5Long40("CAST(doc_id AS VARCHAR) || ':mix'")}
       |           % $SampleDenom AS bucket
       |  FROM documents)
       |SELECT doc_id, lang, source, bucket
       |FROM b
       |WHERE bucket < CASE WHEN lang = 'en' THEN 4
       |                    WHEN lang = 'zh' THEN 1
       |                    ELSE 2 END
       |ORDER BY doc_id""".stripMargin

  /** X29 quota; QuotaSalts is the reference two-phase form's fan-out. */
  val QuotaN = 30
  val QuotaSalts = 8

  def qualityQuota(spark: SparkSession, dir: String): DataFrame =
    qualityQuotaOf(Tables.documents(spark, dir), QuotaN)

  private[graft] def qualityQuotaOf(docs: DataFrame, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    quotaOfScored(
      Text.qualityOf(docs).select($"doc_id", $"lang", $"quality_score"), n)
  }

  /** The window stage alone, over any (doc_id, lang, quality_score)
    * frame: the single per-stratum window, relying on Spark's
    * WindowGroupLimit rank-limit pushdown for the map-side top-N (plan
    * shape pinned in MixingSpec; see the object doc).
    */
  private[graft] def quotaOfScored(scored: DataFrame, n: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val finW = Window.partitionBy($"lang")
      .orderBy($"quality_score".desc, $"doc_id".asc)
    scored
      .withColumn("rk", row_number().over(finW))
      .filter($"rk" <= n)
      .select($"doc_id", $"lang", $"quality_score", $"rk")
      .orderBy($"lang", $"rk")
  }

  /** Hand-rolled salted two-phase reference form (see the object doc:
    * measured SLOWER than [[quotaOfScored]] because WindowGroupLimit
    * already does the map-side cap; kept for the MixingSpec equality pin
    * and as the documented fallback shape for engines without rank-limit
    * pushdown).
    */
  private[graft] def quotaTwoPhaseScored(scored: DataFrame, n: Int, salts: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    // phase 1: lossless salted prefilter — caps phase 2 at salts·n rows
    // per stratum regardless of corpus size
    val salted = scored.withColumn("salt",
      Hashing.md5Long40($"doc_id".cast("string")) % salts)
    val preW = Window.partitionBy($"lang", $"salt")
      .orderBy($"quality_score".desc, $"doc_id".asc)
    val pre = salted
      .withColumn("prn", row_number().over(preW))
      .filter($"prn" <= n)
      .drop("salt", "prn")
    // phase 2: the exact per-stratum window, now over bounded input
    val finW = Window.partitionBy($"lang")
      .orderBy($"quality_score".desc, $"doc_id".asc)
    pre
      .withColumn("rk", row_number().over(finW))
      .filter($"rk" <= n)
      .select($"doc_id", $"lang", $"quality_score", $"rk")
      .orderBy($"lang", $"rk")
  }

  val qualityQuotaSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, text,
       |         string_split_regex(trim(lower(text)), '\\s+') AS words
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, lang,
       |         CAST(len(words) AS BIGINT) AS n_tokens,
       |         CAST(len(list_filter(words, w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop,
       |         CAST(length(regexp_replace(lower(text), '\\s+', '', 'g')) AS BIGINT) AS swc
       |  FROM t),
       |q AS (
       |  SELECT doc_id, lang,
       |         least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.5
       |           + (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.3
       |           + least(1.0, (CAST(swc AS DOUBLE) / CAST(n_tokens AS DOUBLE)) / 8.0) * 0.2
       |           AS quality_score
       |  FROM m),
       |r AS (
       |  SELECT doc_id, lang, quality_score,
       |         row_number() OVER (PARTITION BY lang
       |           ORDER BY quality_score DESC, doc_id ASC) AS rk
       |  FROM q)
       |SELECT doc_id, lang, quality_score, rk
       |FROM r
       |WHERE rk <= $QuotaN
       |ORDER BY lang, rk""".stripMargin

  /** X46 — temperature-scaled mixture weights: the per-stratum sampling
    * weights `w_i = n_i^α / Σ n_j^α` (α = [[TempAlpha]] < 1 flattens the
    * head, upweights the tail — the standard multilingual/multi-source
    * rebalance), plus the exact raw share and the expected draw count
    * from a [[DrawBudget]]-sample epoch.
    *
    * Scale shape: one partial-aggregated groupBy to |strata| rows, then
    * everything downstream (totals, ratios) is arithmetic over that
    * tiny aggregate riding an in-plan one-row broadcast — the corpus is
    * scanned exactly once regardless of size.
    *
    * Parity: n^α goes through libm pow, so it is immediately quantized
    * to decimal(27,6) in BOTH engines (the transcendental-absorption
    * rule); the weight then divides two bit-identical doubles, and
    * expected draws floor another identical product — no further
    * rounding anywhere.
    */
  val TempAlpha = 0.7
  val DrawBudget = 1000000L

  def mixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // |strata| rows; cached because it feeds both the totals and the
    // final ratios — without it the corpus would scan twice
    val counts = Tables.documents(spark, dir)
      .groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("p6", pow($"n_docs", lit(TempAlpha)).cast("decimal(27,6)"))
      .localCheckpoint()
    val totals = counts.agg(sum($"n_docs").as("n_total"),
      sum($"p6").as("p_total"))
    counts.crossJoin(broadcast(totals))
      .select($"lang", $"n_docs",
        ($"n_docs".cast("double") / $"n_total".cast("double")).as("share"),
        ($"p6".cast("double") / $"p_total".cast("double")).as("alpha_weight"),
        floor($"p6".cast("double") / $"p_total".cast("double")
          * DrawBudget).cast("long").as("expected_draws"))
      .orderBy($"lang")
  }

  /** Shared oracle CTE chain for the temperature-mixture weight table:
    * per-lang counts + p^α in DECIMAL(27,6), one-row totals. Used by the
    * x46 and x73 oracles (no drift between them). */
  private val mixtureCtes: String =
    s"""c AS (
       |  SELECT lang, count(*) AS n_docs,
       |         CAST(pow(count(*), $TempAlpha) AS DECIMAL(27,6)) AS p6
       |  FROM documents GROUP BY 1),
       |t AS (
       |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
       |         sum(p6) AS p_total
       |  FROM c)""".stripMargin

  val mixtureWeightsSql: String =
    s"""WITH $mixtureCtes
       |SELECT lang, n_docs,
       |       CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
       |       CAST(p6 AS DOUBLE) / CAST(p_total AS DOUBLE) AS alpha_weight,
       |       CAST(floor(CAST(p6 AS DOUBLE) / CAST(p_total AS DOUBLE)
       |         * $DrawBudget) AS BIGINT) AS expected_draws
       |FROM c, t
       |ORDER BY lang""".stripMargin

  /** X73 — largest-remainder (Hamilton) token-budget apportionment: the
    * step a training job runs right after x46's mixture weights — turn
    * fractional weights into INTEGER per-stratum budgets that sum to the
    * global budget exactly. floor(weight·B) under-allocates by
    * residual < |strata| tokens; each stratum's fractional remainder is
    * ranked (frac DESC, lang ASC — total, tie-free) and the top
    * `residual` strata get +1.
    *
    * Scale shape: the weight ledger is ≤ |strata| rows, so everything
    * after the one corpus aggregate is broadcast arithmetic; the
    * remainder rank is a broadcast nested-loop beat-count over the
    * ledger (|strata|² comparisons, constant) — NOT a global window,
    * which would plan the SinglePartition funnel the lint rejects.
    * Parity: weights are the identical DECIMAL→double divisions as x46;
    * frac = raw − CAST(floor AS DOUBLE) on identical doubles; the rank
    * compares identical doubles with the lang tiebreak.
    */
  def tokenApportion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, dir)
      .groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("p6", pow($"n_docs", lit(TempAlpha)).cast("decimal(27,6)"))
      .localCheckpoint()
    val totals = counts.agg(sum($"p6").as("p_total"))
    val w = counts.crossJoin(broadcast(totals))
      .withColumn("raw",
        $"p6".cast("double") / $"p_total".cast("double") * DrawBudget)
      .withColumn("alloc_floor", floor($"raw").cast("long"))
      .withColumn("frac", $"raw" - $"alloc_floor".cast("double"))
      .select($"lang", $"n_docs", $"alloc_floor", $"frac")
    val floorTotal = w.agg(sum($"alloc_floor").as("floor_total"))
    val beaters = w.select($"lang".as("b_lang"), $"frac".as("b_frac"))
    w.join(broadcast(beaters),
        $"b_frac" > $"frac" ||
          ($"b_frac" === $"frac" && $"b_lang" < $"lang"), "left")
      .groupBy($"lang", $"n_docs", $"alloc_floor", $"frac")
      .agg(count($"b_lang").as("n_beat"))
      .crossJoin(broadcast(floorTotal))
      .select($"lang", $"n_docs", $"alloc_floor",
        ($"n_beat" + 1L).as("frac_rank"),
        ($"alloc_floor" +
          when($"n_beat" + 1L <= lit(DrawBudget) - $"floor_total", 1L)
            .otherwise(0L)).as("alloc"))
      .orderBy($"lang")
  }

  val tokenApportionSql: String =
    s"""WITH $mixtureCtes,
       |w AS (
       |  SELECT lang, n_docs,
       |         CAST(floor(CAST(p6 AS DOUBLE) / CAST(p_total AS DOUBLE)
       |           * $DrawBudget) AS BIGINT) AS alloc_floor,
       |         CAST(p6 AS DOUBLE) / CAST(p_total AS DOUBLE) * $DrawBudget
       |           - CAST(CAST(floor(CAST(p6 AS DOUBLE) / CAST(p_total AS DOUBLE)
       |               * $DrawBudget) AS BIGINT) AS DOUBLE) AS frac
       |  FROM c, t),
       |ft AS (SELECT CAST(sum(alloc_floor) AS BIGINT) AS floor_total FROM w),
       |rk AS (
       |  SELECT a.lang, a.n_docs, a.alloc_floor, a.frac,
       |         CAST(count(b.lang) AS BIGINT) AS n_beat
       |  FROM w a LEFT JOIN w b
       |    ON b.frac > a.frac OR (b.frac = a.frac AND b.lang < a.lang)
       |  GROUP BY 1, 2, 3, 4)
       |SELECT lang, n_docs, alloc_floor,
       |       n_beat + 1 AS frac_rank,
       |       alloc_floor + (CASE WHEN n_beat + 1 <= $DrawBudget - floor_total
       |                           THEN 1 ELSE 0 END) AS alloc
       |FROM rk, ft
       |ORDER BY lang""".stripMargin

  /** X74 — exact-k per-stratum sample: the FIXED-SIZE counterpart to
    * x28's rate sampler — exactly [[EvalK]] documents per language
    * (fewer only when the stratum is smaller), selected by ranking a
    * deterministic salted hash of the document id. The contract an eval
    * split needs: same k every run, reproducible across engines and
    * retries, and adding corpus documents only rotates selections that
    * hash-collide (no rate drift).
    *
    * Scale shape: identical to x29's quota — `row_number() OVER
    * (PARTITION BY lang ORDER BY hash, doc_id) <= k` gets Spark's
    * WindowGroupLimit pushdown (each map partition pre-keeps its own
    * top k per stratum below the exchange), so the shuffle carries
    * ≤ k rows per stratum per map partition, never the stratum
    * (MixingSpec pins that plan for the quota; the same rule fires
    * here). The hash order is a total order ((h, doc_id) — md5Long40
    * collisions broken by id), so ranks are engine-deterministic.
    */
  val EvalK = 20

  def exactKSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"lang").orderBy($"h", $"doc_id")
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang",
        Hashing.md5Long40(
          concat($"doc_id".cast("string"), lit(":evalk"))).as("h"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= EvalK)
      .select($"lang", $"rk", $"doc_id", $"h")
      .orderBy($"lang", $"rk")
  }

  val exactKSampleSql: String = {
    val h = Hashing.sqlMd5Long40("CAST(doc_id AS VARCHAR) || ':evalk'")
    s"""WITH h AS (
       |  SELECT doc_id, lang, $h AS h FROM documents),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY lang
       |                               ORDER BY h, doc_id) AS rk
       |  FROM h)
       |SELECT lang, rk, doc_id, h
       |FROM r WHERE rk <= $EvalK
       |ORDER BY lang, rk""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x28_stratified_sample" -> stratifiedSample _,
    "x29_quality_quota" -> qualityQuota _,
    "x46_mixture_weights" -> mixtureWeights _,
    "x73_token_apportion" -> tokenApportion _,
    "x74_exact_k_sample" -> exactKSample _)

  val oracles: Map[String, String] = Map(
    "x28_stratified_sample" -> stratifiedSampleSql,
    "x29_quality_quota" -> qualityQuotaSql,
    "x46_mixture_weights" -> mixtureWeightsSql,
    "x73_token_apportion" -> tokenApportionSql,
    "x74_exact_k_sample" -> exactKSampleSql)
}
