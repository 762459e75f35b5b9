package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashing._

/** X182 — index-staleness audit: the retrain signal that closes the
  * ANN lifecycle loop (build x166/x173/x178 → persist X179 → probe →
  * ingest X180 → **decide when to retrain**). X180 ingests arrivals
  * against a FROZEN artifact — correct until the arrival distribution
  * drifts away from the training distribution, at which point the
  * frozen coarse cells stop fitting (rising coarse quantization error)
  * and the frozen residual codebooks stop fitting (rising per-vector
  * ADC error). This operator measures both, PER CELL, for a
  * post-training batch against the artifact's own training corpus:
  *
  *  - `adc_err` — the exact i64 residual quantization error the frozen
  *    index commits on a vector: Σ over subspaces of the MINIMUM
  *    squared distance from the vector's residual slice to that
  *    subspace's codebook (the assigned code's distance, since
  *    encoding is the argmin);
  *  - `coarse_d2` — the exact i64 squared distance on the shared
  *    quantization grid from the vector to its assigned cell centroid
  *    (what remains for the residual layer to explain).
  *
  * Per (cell, split) the audit aggregates n / Σ adc_err / Σ coarse_d2,
  * joins arrivals against training, and emits the mean-error ratios
  * plus an alarm when the arrival batch's mean ADC error exceeds
  * [[AlarmRatio]]× the training mean — X160's drift mechanics turned
  * on the X179 artifact tables. The training corpus re-audited against
  * its own artifact has every ratio ≡ 1 (the fixpoint law), so the
  * builder's no-false-alarm case is exact (IndexStalenessSpec pins it;
  * the registered query audits a deterministically DRIFTED batch —
  * every vector doubled, the norm drift an upstream encoder swap
  * produces — which the oracle recomputes).
  *
  * Exactness: both error measures are pure i64 on the floor(v·1e6)
  * grid (no float sum anywhere); cell assignment is the index's own
  * argmin chain (three exact quantized dots combined left-to-right in
  * double — identical operands, identical IEEE results); the per-cell
  * sums are i64; the emitted means and ratios are single identically-
  * sequenced double divisions. The DuckDB oracle replays x178's
  * training chain and both encode passes CTE-for-CTE.
  *
  * Plan shape at 100 TB: the artifact tables collapse to ONE broadcast
  * parameter row each (X180's mechanism — ≤|cells| and M·K structs);
  * both audit passes are then map-only per-row expressions followed by
  * one mergeable (cell, split) partial aggregate collapsed to ≤|cells|
  * rows — no shuffle wider than the ≤|cells| aggregate, no state, no
  * refit. The audit reads each vector once: exactly the scan a
  * scheduled staleness check pays next to the nightly ingest.
  *
  * Reference scope: no vector search in the reference; engine
  * extension (SURVEY §2.5, the ANN family's lifecycle closure).
  */
object IndexStaleness {

  private val M = LloydIvfPq.M
  private val Sub = LloydIvfPq.Sub
  private val T = LloydIvfPq.T
  private val NQueries = LloydIvfPq.NQueries
  private val Scale = Centroids.Scale

  /** Alarm when the arrival batch's per-cell mean ADC error exceeds
    * this multiple of the training mean. The registered ×2 norm drift
    * lands far above it (measured err_ratio ≈ 4.8–5.0 per cell at
    * sf0.01); the training corpus itself sits at exactly 1.0, and a
    * distribution-preserving perturbation (sign flips on this
    * near-uniform corpus) at ≈ 1.1–1.2 — the dial separates genuine
    * shift from resampling noise with a decade of margin each way. */
  val AlarmRatio = 2.0

  /** The deterministic drifted batch the registered query audits:
    * every vector scaled by 2 — the norm drift a swapped or retrained
    * upstream encoder produces, which the frozen centroids and
    * codebooks were never trained on (doubling is exact in FLOAT, so
    * both engines quantize the identical drifted values). A sign-flip
    * perturbation was measured NOT to alarm here: flipped near-uniform
    * vectors are distributed like the originals (err_ratio ≈ 1.1–1.2),
    * which is the right answer — the audit alarms on genuine
    * distribution shift, not on resampling noise. */
  private[graft] def driftedArrivals(vecs: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.select($"vec_id",
      transform($"embedding",
        x => (x * lit(2.0f)).cast("float")).as("embedding"))
  }

  /** Row-local per-vector audit against the frozen parameter rows:
    * (vec_id, cell, adc_err, coarse_d2). Shares X180's broadcast
    * one-row layout ([[graft.stream.StreamIndexIngest.centroidRow]] /
    * codebookRow); everything after the two broadcasts is row-local. */
  private[graft] def encodeStats(vecs: DataFrame, centRow: DataFrame,
      cbRow: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.graft.SparkBridge
    // Native codegen audit kernel (round-18 optimization): one fused
    // primitive loop per vector — the HOF form below ([[encodeStatsHof]],
    // kept as the parity reference IndexStalenessSpec pins bit-equal)
    // interprets ~|cells|·dims + M·K·Sub lambda frames per vector, twice
    // per audit (training + arrivals). Same exactness contract: see
    // [[graft.functions.expr.IvfPqAudit]].
    val st = SparkBridge.column(graft.functions.expr.IvfPqAudit(
      SparkBridge.expression($"embedding"),
      SparkBridge.expression($"cents"),
      SparkBridge.expression($"cbs"), M, Sub, Scale))
    vecs
      .crossJoin(broadcast(centRow))
      .crossJoin(broadcast(cbRow))
      .withColumn("st", st)
      .select($"vec_id", $"st.cell".as("cell"),
        $"st.adc_err".as("adc_err"), $"st.coarse_d2".as("coarse_d2"))
  }

  /** HOF reference form of [[encodeStats]] (interpreted lambdas; kept
    * for the parity pin). */
  private[graft] def encodeStatsHof(vecs: DataFrame, centRow: DataFrame,
      cbRow: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val nq = dotQ($"embedding", $"embedding")
    // the index's own coarse argmin key (dist, cell) — X180's form
    val best = array_min(transform($"cents", c =>
      struct(
        ($"nq" - lit(2.0) * dotQ($"embedding", c.getField("c"))
          + dotQ(c.getField("c"), c.getField("c"))).as("dist"),
        c.getField("cell").as("cell"),
        c.getField("c").as("c"))))
    // exact i64 residual on the shared grid
    val qd = zip_with($"embedding", $"best.c", (x, y) =>
      floor(x.cast("double") * Scale).cast("long")
        - floor(y.cast("double") * Scale).cast("long"))
    // Σ over dims of residual² — the coarse quantization error
    val coarseD2 = aggregate($"qd", lit(0L), (acc, t) => acc + t * t)
    // Σ over subspaces of the minimum codebook distance — the ADC
    // error the frozen encoder commits (encoding IS this argmin)
    val adcErr: Column = (0 until M).map { j =>
      val qs = slice($"qd", j * Sub + 1, Sub)
      array_min(transform(
        filter($"cbs", b => b.getField("sub") === lit(j.toLong)),
        b => aggregate(
          zip_with(qs, b.getField("qc"), (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, t) => acc + t)))
    }.reduce(_ + _)
    vecs
      .crossJoin(broadcast(centRow))
      .crossJoin(broadcast(cbRow))
      .withColumn("nq", nq)
      .withColumn("best", best)
      .withColumn("qd", qd)
      .select($"vec_id", $"best.cell".as("cell"),
        adcErr.as("adc_err"), coarseD2.as("coarse_d2"))
  }

  /** ≤|cells| rows of (cell, n, sum_err, sum_d2) — exact i64 sums. */
  private def cellStats(stats: DataFrame): DataFrame = {
    val spark = stats.sparkSession
    import spark.implicits._
    stats.groupBy($"cell")
      .agg(count(lit(1)).as("n"), sum($"adc_err").as("sum_err"),
        sum($"coarse_d2").as("sum_d2"))
  }

  /** The audit over an arbitrary arrival frame vs the artifact's
    * training corpus (test seam — the spec feeds the corpus itself to
    * pin the no-false-alarm case). */
  private[graft] def auditOf(spark: SparkSession, dir: String,
      arrivals: DataFrame): DataFrame = {
    import spark.implicits._
    val index = IndexStore.readIvfPq(spark,
      IndexStore.ensureRoot(spark, dir))
    val centRow = graft.stream.StreamIndexIngest.centroidRow(index.centroids)
    val cbRow = graft.stream.StreamIndexIngest.codebookRow(index.codebooks)
    val corpus = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val train = cellStats(encodeStats(corpus, centRow, cbRow))
      .select($"cell", $"n".as("train_n"), $"sum_err".as("train_sum_err"),
        $"sum_d2".as("train_sum_d2"))
    val arr = cellStats(encodeStats(arrivals, centRow, cbRow))
      .select($"cell", $"n".as("arr_n"), $"sum_err".as("arr_sum_err"),
        $"sum_d2".as("arr_sum_d2"))
    val errRatio =
      when($"arr_n".isNull || $"train_sum_err" === 0L, lit(null))
        .otherwise(($"arr_sum_err".cast("double") / $"arr_n")
          / ($"train_sum_err".cast("double") / $"train_n"))
    val d2Ratio =
      when($"arr_n".isNull || $"train_sum_d2" === 0L, lit(null))
        .otherwise(($"arr_sum_d2".cast("double") / $"arr_n")
          / ($"train_sum_d2".cast("double") / $"train_n"))
    train.join(arr, Seq("cell"), "left")
      .withColumn("err_ratio", errRatio)
      .withColumn("d2_ratio", d2Ratio)
      .select($"cell", $"train_n", $"train_sum_err", $"train_sum_d2",
        coalesce($"arr_n", lit(0L)).as("arr_n"),
        coalesce($"arr_sum_err", lit(0L)).as("arr_sum_err"),
        coalesce($"arr_sum_d2", lit(0L)).as("arr_sum_d2"),
        $"err_ratio", $"d2_ratio",
        coalesce($"err_ratio" > AlarmRatio, lit(false)).as("alarm"))
      .orderBy($"cell")
  }

  /** The registered query: audit the deterministically drifted batch
    * against the persisted artifact. */
  def indexStaleness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    auditOf(spark, dir, driftedArrivals(
      Tables.embeddings(spark, dir).select($"vec_id", $"embedding")))
  }

  /** Per-split stat CTEs over a (vec_id, embedding) source CTE: coarse
    * argmin vs cent$T, residual vs cq, ADC error vs pcb$T — all on the
    * shared grid. `p` prefixes the split's CTE names. */
  private[graft] def statCtes(p: String, src: String): String = {
    val dvv = sqlDotQ("s.embedding", "s.embedding")
    val dvc = sqlDotQ("s.embedding", "c.c")
    val dcc = sqlDotQ("c.c", "c.c")
    s"""${p}a AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT s.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY s.vec_id ORDER BY
       |             $dvv - 2.0 * $dvc + $dcc ASC, c.cell ASC) AS rk
       |    FROM $src s CROSS JOIN cent$T c)
       |  WHERE rk = 1),
       |${p}vq AS (
       |  SELECT vec_id, u.i - 1 AS dim,
       |         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * $Scale)
       |           AS BIGINT) AS q
       |  FROM $src,
       |       LATERAL unnest(generate_series(1, ${M * Sub})) AS u(i)),
       |${p}rsl AS MATERIALIZED (
       |  SELECT v.vec_id, CAST(v.dim // $Sub AS BIGINT) AS sub,
       |         CAST(v.dim % $Sub AS BIGINT) AS dim, v.q - cq.qc AS q
       |  FROM ${p}vq v
       |  JOIN ${p}a a ON v.vec_id = a.vec_id
       |  JOIN cq ON a.cell = cq.cell AND v.dim = cq.dim),
       |${p}err AS (
       |  SELECT vec_id, CAST(sum(md) AS BIGINT) AS adc_err FROM (
       |    SELECT vec_id, sub, min(d) AS md FROM (
       |      SELECT s.vec_id, s.sub, c.code,
       |             CAST(sum((s.q - c.qc) * (s.q - c.qc)) AS BIGINT) AS d
       |      FROM ${p}rsl s JOIN pcb$T c ON s.sub = c.sub AND s.dim = c.dim
       |      GROUP BY 1, 2, 3)
       |    GROUP BY 1, 2)
       |  GROUP BY 1),
       |${p}d2 AS (
       |  SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS coarse_d2
       |  FROM ${p}rsl GROUP BY 1),
       |${p}stat AS (
       |  SELECT a.cell, count(*) AS n,
       |         CAST(sum(e.adc_err) AS BIGINT) AS sum_err,
       |         CAST(sum(d.coarse_d2) AS BIGINT) AS sum_d2
       |  FROM ${p}a a
       |  JOIN ${p}err e USING (vec_id)
       |  JOIN ${p}d2 d USING (vec_id)
       |  GROUP BY 1)""".stripMargin
  }

  /** The oracle: x178's training chain, then BOTH encode-audit passes
    * (training corpus and the drifted batch) replayed CTE-for-CTE, the
    * per-cell join, and the ratio/alarm projection. */
  val indexStalenessSql: String =
    s"""${LloydIvfPq.trainPrefixSql},
       |arre AS MATERIALIZED (
       |  SELECT vec_id,
       |         list(CAST(embedding[u.i] * CAST(2.0 AS FLOAT) AS FLOAT)
       |              ORDER BY u.i) AS embedding
       |  FROM embeddings,
       |       LATERAL unnest(generate_series(1, len(embedding))) AS u(i)
       |  GROUP BY vec_id),
       |${statCtes("t", "embeddings")},
       |${statCtes("r", "arre")}
       |SELECT cell, train_n, train_sum_err, train_sum_d2,
       |       arr_n, arr_sum_err, arr_sum_d2, err_ratio, d2_ratio,
       |       coalesce(err_ratio > $AlarmRatio, FALSE) AS alarm
       |FROM (
       |  SELECT t.cell, t.n AS train_n, t.sum_err AS train_sum_err,
       |         t.sum_d2 AS train_sum_d2,
       |         coalesce(r.n, CAST(0 AS BIGINT)) AS arr_n,
       |         coalesce(r.sum_err, CAST(0 AS BIGINT)) AS arr_sum_err,
       |         coalesce(r.sum_d2, CAST(0 AS BIGINT)) AS arr_sum_d2,
       |         CASE WHEN r.n IS NULL OR t.sum_err = 0 THEN NULL
       |              ELSE (CAST(r.sum_err AS DOUBLE) / r.n)
       |                   / (CAST(t.sum_err AS DOUBLE) / t.n) END
       |           AS err_ratio,
       |         CASE WHEN r.n IS NULL OR t.sum_d2 = 0 THEN NULL
       |              ELSE (CAST(r.sum_d2 AS DOUBLE) / r.n)
       |                   / (CAST(t.sum_d2 AS DOUBLE) / t.n) END
       |           AS d2_ratio
       |  FROM tstat t LEFT JOIN rstat r USING (cell))
       |ORDER BY cell""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x182_index_staleness" -> indexStaleness _)

  val oracles: Map[String, String] = Map(
    "x182_index_staleness" -> indexStalenessSql)
}
