package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashing._

/** X178 — IVF-PQ over RESIDUALS (the IVFADC structure of Jégou,
  * Douze & Schmid 2011, "Product Quantization for Nearest Neighbor
  * Search"): the composition of the two trained indexes the repo just
  * hash-greened — x166's integer-exact Lloyd coarse quantizer and
  * x173's integer-exact per-subspace PQ — into the canonical
  * billion-scale ANN layout, with BOTH trainings inside the oracle
  * hash. An IVF alone (x166) prunes the corpus but pays exact-vector
  * scans inside probed cells; a PQ alone (x173) compresses the scan
  * but reads the whole corpus; IVFADC prunes with the coarse index AND
  * scans the survivors at one byte per subspace — encoding each
  * vector's residual v − c(cell), whose variance is what remains after
  * the coarse quantizer explains the cluster structure, which is why
  * the same M×K codebook budget buys materially more precision than
  * PQ on raw vectors (the paper's central observation).
  *
  * Exactness — every training and probe step is integer or
  * identically-sequenced, chaining the proofs x166 and x173 hold:
  *  - coarse training is x166's T Lloyd rounds VERBATIM (label-seeded,
  *    quantized-dot distances, total argmin keys);
  *  - residuals live on the shared i64 grid: qr = floor(v·1e6) −
  *    floor(c·1e6) — a difference of two exact i64 quantizations
  *    (|qr| ≲ 4·10⁶), so the residual table is bit-identical across
  *    engines by construction;
  *  - PQ training on the residual slices is x173's rounds VERBATIM
  *    (pure-i64 Σ(q_a − q_b)² distances — per-subspace sums ≤
  *    8·(8·10⁶)² ≈ 5·10¹⁴, no float sum, no FMA shape — re-quantized
  *    float means, (vec_id + sub) mod K seed);
  *  - the probe's ADC is per-(query, probed-cell): the QUERY residual
  *    w.r.t. that cell's centroid is quantized on the same grid, the
  *    lut is M·K exact-i64 entries per (query, cell), and the
  *    approximate distance is a sum of M i64 lookups — order-free;
  *  - the candidate cut (approx_d2, vec_id) and the exact-cosine
  *    rerank (cos_sim desc, vec_id) are total orders.
  * The DuckDB oracle unrolls coarse rounds, residual derivation, PQ
  * rounds, per-cell luts, ADC, and rerank as one CTE chain — the hash
  * certifies the ENTIRE index, both trainings included, at 1× and 10×.
  *
  * Dials: [[T]] = 5 rounds for both quantizers, nprobe = [[NProbe]] =
  * x166's, CandK = [[CandK]] = x31/x173's, the fixed `vec_id < 3`
  * query band, top-5.
  *
  * Plan shape at 100 TB: training is the once-per-corpus INDEX BUILD
  * ([[ivfPqIndex]], memoized per session+dir, sharing x166's memoized
  * coarse index; each round materialized via localCheckpoint — the
  * local stand-in for the persisted index artifact): the coarse rounds
  * are x166's broadcast-centroid map-only passes, the residual derive
  * is ONE broadcast join (≤|cells| centroid rows) + a row-local
  * zip_with, the PQ rounds are x173's ≤ M·K·Sub = 1024-row broadcast
  * aggregates. The probe never refits: |queries|·nprobe luts of M·K
  * i64 entries broadcast against ONLY the probed cells' inverted
  * lists (the join key is the cell — the corpus outside the probed
  * cells is never read, x166's pruning), the ADC scan reads each
  * candidate's M code bytes row-locally (never the floats), and exact
  * cosine pays for CandK rows per query.
  *
  * Reference scope: no vector search in the reference; engine
  * extension (SURVEY §2.5, the X19/X31/X70/X71/X92/X100/X166/X173 ANN
  * family — its capstone).
  */
object LloydIvfPq {

  /** Fixed Lloyd rounds for BOTH quantizers — code constants mirrored
    * by the oracle's unrolled CTE chains. */
  val T = 5

  val M = LloydPq.M
  val Sub = LloydPq.Sub
  val K = LloydPq.K
  val CandK = LloydPq.CandK
  val NProbe = LloydIvf.NProbe
  val NQueries = LloydIvf.NQueries

  /** X181's dial: candK = max(CandK, probed_population / AdaptiveDiv).
    * ANN_SWEEP §x178 measured candK ≈ probed/6 as the recovery point
    * where the ADC cut stops costing recall below the coarse ceiling
    * at EVERY nprobe and corpus size — this constant is that dial. */
  val AdaptiveDiv = 6

  private val Scale = Centroids.Scale

  /** encoded: one row per vector — cell, M code bytes, floats + norm
    * for the rerank; centroids: the coarse table (c_cell, c);
    * codebooks: the residual PQ table (sub, c_code, qc). */
  final case class IvfPqIndex(encoded: DataFrame, centroids: DataFrame,
      codebooks: DataFrame)

  private val indexes = graft.SessionArtifacts.Slot[IvfPqIndex]("LloydIvfPq.index")

  private[graft] def ivfPqIndex(spark: SparkSession, dir: String): IvfPqIndex =
    indexes(spark, dir)(buildFromIvf(LloydIvf.lloydIndex(spark, dir), T))

  /** Quantized residuals of `asg` (vec_id, cell, embedding) against
    * the centroid table: one row per vector with the full M·Sub-dim
    * residual — qr = floor(v·1e6) − floor(c·1e6), exact by
    * construction; row-local after one broadcast join. */
  private[graft] def residualQd(asg: DataFrame, cent: DataFrame): DataFrame = {
    val spark = asg.sparkSession
    import spark.implicits._
    asg.join(broadcast(cent), $"cell" === $"c_cell")
      .select($"vec_id", zip_with($"embedding", $"c", (x, y) =>
        floor(x.cast("double") * Scale).cast("long")
          - floor(y.cast("double") * Scale).cast("long")).as("qd"))
  }

  private[graft] def buildIvfPqIndexOf(e: DataFrame, ivfRounds: Int,
      pqRounds: Int): IvfPqIndex =
    buildFromIvf(LloydIvf.buildLloydIndexOf(e, ivfRounds), pqRounds)

  /** The PQ-on-residuals build over a trained coarse index; test seam
    * (exposes the PQ round budget — the spec varies it). */
  private[graft] def buildFromIvf(ivf: LloydIvf.LloydIndex,
      pqRounds: Int): IvfPqIndex = {
    require(pqRounds >= 1,
      s"PQ training needs at least one round (got $pqRounds) — " +
        "with zero rounds there is no residual codebook to encode against")
    val spark = ivf.assigned.sparkSession
    import spark.implicits._
    val (codes, cb) = LloydPq.trainPqWide(
      residualQd(ivf.assigned, ivf.centroids), pqRounds)
    IvfPqIndex(
      ivf.assigned.join(codes, Seq("vec_id")).localCheckpoint(),
      ivf.centroids, cb)
  }

  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame =
    probe(ivfPqIndex(spark, dir))

  /** X181 — the production candK dial: the rerank budget TRACKS the
    * probed-cell population instead of staying a constant. ANN_SWEEP
    * §x178-at-10× measured the failure this fixes: the coarse ceiling
    * survives 10× (0.53 → 0.47) but a fixed candK = 48 is 48 of
    * ~12,000 probed rows instead of 48 of ~300, and recall decays to
    * 0.33; the 1× sweep's recovery point (candK ≈ probed/6) restores
    * the ceiling at every nprobe. The dial is a deterministic function
    * of the data — pop = the query's ADC candidate count, candK =
    * greatest(CandK, pop div AdaptiveDiv) — so the DuckDB oracle
    * recomputes it in the same CTE chain and the hash gate still
    * certifies the whole index. At 100 TB the probed population is
    * known per cell before the scan (inverted-list lengths are index
    * metadata), so the dial costs nothing extra; here it rides the
    * same window pass that ranks the ADC scores. */
  def ivfPqAdaptiveTopK(spark: SparkSession, dir: String): DataFrame =
    probeAdaptive(ivfPqIndex(spark, dir))

  private[graft] def probe(index: IvfPqIndex, nprobe: Int = NProbe,
      candK: Int = CandK): DataFrame =
    Vector.rerankTop5(candidates(index, nprobe, candK))

  private[graft] def probeAdaptive(index: IvfPqIndex,
      nprobe: Int = NProbe, minCandK: Int = CandK): DataFrame =
    Vector.rerankTop5(candidatesAdaptive(index, nprobe, minCandK))

  private[graft] def probeSym(index: IvfPqIndex, nprobe: Int,
      candK: Int): DataFrame =
    Vector.rerankTop5(candidatesSym(index, nprobe, candK))

  /** The forward probe assignment: each query's `nprobe` nearest cells
    * by the quantized-dot distance chain — (query_id, cell). */
  private[graft] def probedCells(index: IvfPqIndex, nprobe: Int): DataFrame = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    val q = index.encoded.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"),
        $"nq".as("qnq"))
    val byDist = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"dist_q".asc, $"c_cell".asc)
    q.crossJoin(broadcast(index.centroids))
      .withColumn("dist_q",
        $"qnq" - lit(2.0) * dotQ($"qe", $"c") + dotQ($"c", $"c"))
      .withColumn("rn", row_number().over(byDist))
      .filter($"rn" <= nprobe)
      .select($"query_id", $"c_cell".as("cell"))
  }

  /** Per-(query, cell) i64 luts keyed sub·K + code for an ARBITRARY
    * (query_id, cell) demand set: the exact squared distance from the
    * query's RESIDUAL (w.r.t. that cell's centroid) slice to each
    * residual codebook entry — x173's map form (survivor-set safe)
    * with the cell in the key set. The plain probe demands the forward
    * probed cells; the symmetrized probe (x151) also demands the home
    * cells of its reverse candidates. */
  private[graft] def lutsFor(index: IvfPqIndex, qcells: DataFrame): DataFrame = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    val q = index.encoded.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"),
        $"nq".as("qnq"))
    qcells
      .join(broadcast(q), Seq("query_id"))
      .join(broadcast(index.centroids), $"cell" === $"c_cell")
      .withColumn("qd", zip_with($"qe", $"c", (x, y) =>
        floor(x.cast("double") * Scale).cast("long")
          - floor(y.cast("double") * Scale).cast("long")))
      .select($"query_id", $"cell", $"qe", $"qnq", posexplode(expr(
        s"transform(sequence(0, ${M - 1}), j -> slice(qd, j * $Sub + 1, $Sub))"))
        .as(Seq("sub", "qs")))
      .select($"query_id", $"cell", $"qe", $"qnq",
        $"sub".cast("long").as("sub"), $"qs")
      .join(broadcast(index.codebooks), Seq("sub"))
      .withColumn("d2", LloydPq.dist2Q($"qs", $"qc"))
      .groupBy($"query_id", $"cell", $"qe", $"qnq")
      .agg(map_from_entries(collect_list(
        struct(($"sub" * K + $"c_code").cast("int").as("k"),
          $"d2".as("v")))).as("lut"))
  }

  private[graft] def pqLuts(index: IvfPqIndex, nprobe: Int): DataFrame =
    lutsFor(index, probedCells(index, nprobe))

  /** Approximate distance: M exact-i64 code lookups in the broadcast
    * per-(query, cell) lut — row-local, codegen'd. */
  private def adcExpr = (0 until M)
    .map(j => element_at(col("lut"),
      (col("codes")(j) + lit(j.toLong * K)).cast("int")))
    .reduce(_ + _)

  /** ADC over the probed cells only: the scan joins the inverted lists
    * on the CELL key (corpus outside the probed cells never read) and
    * sums M exact-i64 code lookups per candidate. */
  private[graft] def candidates(index: IvfPqIndex, nprobe: Int,
      candK: Int): DataFrame = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    val byAdc = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"approx_d2".asc, $"vec_id".asc)
    index.encoded
      .join(broadcast(pqLuts(index, nprobe)), Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .withColumn("approx_d2", adcExpr)
      .withColumn("arn", row_number().over(byAdc))
      .filter($"arn" <= candK)
      .select($"query_id", $"vec_id",
        cosQ(dotQ($"embedding", $"qe"), $"nq", $"qnq").as("cos_sim"))
  }

  /** [[candidates]] with the X181 dial: the per-query population rides
    * the same (query_id)-partitioned window pass as the ADC rank, so
    * the adaptive cut costs no extra exchange. */
  private[graft] def candidatesAdaptive(index: IvfPqIndex, nprobe: Int,
      minCandK: Int): DataFrame = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
    val byAdc = w.orderBy($"approx_d2".asc, $"vec_id".asc)
    index.encoded
      .join(broadcast(pqLuts(index, nprobe)), Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .withColumn("approx_d2", adcExpr)
      .withColumn("arn", row_number().over(byAdc))
      .withColumn("pop", count(lit(1)).over(w))
      .filter($"arn" <= greatest(lit(minCandK.toLong),
        expr(s"pop div $AdaptiveDiv")))
      .select($"query_id", $"vec_id",
        cosQ(dotQ($"embedding", $"qe"), $"nq", $"qnq").as("cos_sim"))
  }

  /** X151 re-pointed (round-15 verdict item 2): the reverse-probe
    * symmetrization on the integer-exact IVFADC index, so the sym
    * probe gets an oracle too. A vector enters a query's pool if the
    * query probes the vector's home cell (forward) OR the query's own
    * home cell is among the VECTOR's `nprobe` nearest cells (reverse)
    * — the un-squared reciprocity argument of the MLlib-era x151,
    * unchanged. The reverse lists are map-only here: the ≤|cells|
    * centroid table collapses to ONE broadcast row and each vector's
    * `nprobe` nearest cells fall out of a row-local
    * slice(array_sort(...)) — the index-side multi-assignment layout
    * a production build materializes next to the inverted lists. ADC
    * needs a lut per (query, candidate-cell), so the demand set is
    * the forward cells ∪ the reverse candidates' home cells
    * ([[lutsFor]]'s whole reason to exist). */
  private[graft] def candidatesSym(index: IvfPqIndex, nprobe: Int,
      candK: Int): DataFrame = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    // forward: the query probes the vector's home cell
    val fwd = index.encoded.select($"vec_id", $"cell")
      .join(broadcast(probedCells(index, nprobe)), Seq("cell"))
      .select($"query_id", $"vec_id")
    // reverse: the vector's nprobe nearest cells include the query's
    // home cell — per-vector lists via one broadcast centroid row and
    // a row-local sorted slice (dist chain identical to the probe's)
    val centRow = index.centroids.agg(array_sort(collect_list(
      struct($"c_cell".as("cell"), $"c"))).as("cents"))
    val nearCells = slice(
      array_sort(transform($"cents", c => struct(
        (dotQ($"embedding", $"embedding")
          - lit(2.0) * dotQ($"embedding", c.getField("c"))
          + dotQ(c.getField("c"), c.getField("c"))).as("dist"),
        c.getField("cell").as("cell")))),
      1, nprobe)
    val vtop = index.encoded.select($"vec_id", $"embedding")
      .crossJoin(broadcast(centRow))
      .select($"vec_id", explode(nearCells).as("pc"))
      .select($"vec_id", $"pc.cell".as("cell"))
    val qhome = index.encoded.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"cell")
    val rev = vtop.join(broadcast(qhome), Seq("cell"))
      .select($"query_id", $"vec_id")
    // the admitted pool, re-keyed by the candidate's own cell for ADC
    val pool = fwd.union(rev).distinct()
      .filter($"vec_id" =!= $"query_id")
      .join(index.encoded, Seq("vec_id"))
    val luts = lutsFor(index,
      pool.select($"query_id", $"cell").distinct())
    val byAdc = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"approx_d2".asc, $"vec_id".asc)
    pool
      .join(broadcast(luts), Seq("query_id", "cell"))
      .withColumn("approx_d2", adcExpr)
      .withColumn("arn", row_number().over(byAdc))
      .filter($"arn" <= candK)
      .select($"query_id", $"vec_id",
        cosQ(dotQ($"embedding", $"qe"), $"nq", $"qnq").as("cos_sim"))
  }

  /** The oracle training chain shared by every probe variant —
    * x166's unrolled coarse rounds, the residual grid derivation,
    * x173's unrolled PQ rounds over the residual slices, and the query
    * band — every intermediate an exact integer or an identically-
    * rounded scalar. PARAMETERIZED (round 16, for x183's versioned
    * retrain): `p` prefixes every CTE name and `src` is the
    * (vec_id, label, embedding) source relation, so two chains (the
    * shipped index and its retrain over a grown corpus) can coexist in
    * ONE oracle. `trainCtesFor("", "embeddings")` is byte-identical to
    * the pre-refactor text, so the x178/x179/x181 oracles are
    * unchanged. */
  private[graft] def trainCtesFor(p: String, src: String): String = {
    val dvv = sqlDotQ("e.embedding", "e.embedding")
    val dvc = sqlDotQ("e.embedding", "c.c")
    val dcc = sqlDotQ("c.c", "c.c")
    val ivfRounds = (1 to T).map { t =>
      s"""${p}ex$t AS (
         |  SELECT a.cell, u.i - 1 AS dim,
         |         CAST(floor(CAST(e.embedding[u.i] AS DOUBLE)
         |           * $Scale) AS BIGINT) AS q
         |  FROM ${p}asg${t - 1} a JOIN $src e USING (vec_id),
         |       LATERAL unnest(generate_series(1, len(e.embedding)))
         |         AS u(i)),
         |${p}cent$t AS MATERIALIZED (
         |  SELECT cell,
         |         list(CAST(CAST(s AS DOUBLE) / n / $Scale
         |           AS FLOAT) ORDER BY dim) AS c
         |  FROM (SELECT cell, dim, count(*) AS n,
         |               CAST(sum(q) AS BIGINT) AS s
         |        FROM ${p}ex$t GROUP BY 1, 2)
         |  GROUP BY cell),
         |${p}asg$t AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |             $dvv - 2.0 * $dvc + $dcc ASC, c.cell ASC) AS rk
         |    FROM $src e CROSS JOIN ${p}cent$t c)
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val pqRounds = (1 to T).map { t =>
      s"""${p}pcb$t AS MATERIALIZED (
         |  SELECT sub, code, dim,
         |         CAST(floor(CAST(CAST(CAST(s AS DOUBLE) / n / $Scale
         |           AS FLOAT) AS DOUBLE) * $Scale) AS BIGINT) AS qc
         |  FROM (SELECT a.sub, a.code, s.dim, count(*) AS n,
         |               CAST(sum(s.q) AS BIGINT) AS s
         |        FROM ${p}pasg${t - 1} a
         |        JOIN ${p}rsl s ON a.vec_id = s.vec_id AND a.sub = s.sub
         |        GROUP BY 1, 2, 3)),
         |${p}pd$t AS (
         |  SELECT s.vec_id, s.sub, c.code,
         |         CAST(sum((s.q - c.qc) * (s.q - c.qc)) AS BIGINT) AS dist
         |  FROM ${p}rsl s JOIN ${p}pcb$t c ON s.sub = c.sub AND s.dim = c.dim
         |  GROUP BY 1, 2, 3),
         |${p}pasg$t AS MATERIALIZED (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |           row_number() OVER (PARTITION BY vec_id, sub
         |                              ORDER BY dist ASC, code ASC) AS rk
         |    FROM ${p}pd$t)
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""${p}asg0 AS MATERIALIZED (
       |  SELECT vec_id, CAST(label AS BIGINT) AS cell FROM $src),
       |$ivfRounds,
       |${p}vq AS MATERIALIZED (
       |  SELECT vec_id, u.i - 1 AS dim,
       |         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * $Scale)
       |           AS BIGINT) AS q
       |  FROM $src,
       |       LATERAL unnest(generate_series(1, ${M * Sub})) AS u(i)),
       |${p}cq AS MATERIALIZED (
       |  SELECT cell, u.i - 1 AS dim,
       |         CAST(floor(CAST(c[u.i] AS DOUBLE) * $Scale) AS BIGINT)
       |           AS qc
       |  FROM ${p}cent$T, LATERAL unnest(generate_series(1, len(c))) AS u(i)),
       |${p}rsl AS MATERIALIZED (
       |  SELECT v.vec_id, CAST(v.dim // $Sub AS BIGINT) AS sub,
       |         CAST(v.dim % $Sub AS BIGINT) AS dim, v.q - cq.qc AS q
       |  FROM ${p}vq v
       |  JOIN ${p}asg$T a ON v.vec_id = a.vec_id
       |  JOIN ${p}cq cq ON a.cell = cq.cell AND v.dim = cq.dim),
       |${p}pasg0 AS MATERIALIZED (
       |  SELECT DISTINCT vec_id, sub, (vec_id + sub) % $K AS code FROM ${p}rsl),
       |$pqRounds,
       |${p}q AS MATERIALIZED (
       |  SELECT vec_id AS query_id, embedding AS qe,
       |         ${sqlDotQ("embedding", "embedding")} AS qnq
       |  FROM $src WHERE vec_id < $NQueries)""".stripMargin
  }

  private[graft] val trainPrefixSql: String =
    "WITH " + trainCtesFor("", "embeddings")

  /** The lut chain over a (query_id, cell) demand-set CTE. */
  private[graft] def lutSqlFor(p: String, srcCte: String): String =
    s"""${p}qres AS (
       |  SELECT pp.query_id, pp.cell, CAST(v.dim // $Sub AS BIGINT) AS sub,
       |         CAST(v.dim % $Sub AS BIGINT) AS dim, v.q - cq.qc AS q
       |  FROM $srcCte pp
       |  JOIN ${p}vq v ON pp.query_id = v.vec_id
       |  JOIN ${p}cq cq ON pp.cell = cq.cell AND v.dim = cq.dim),
       |${p}lut AS (
       |  SELECT r.query_id, r.cell, r.sub, b.code,
       |         CAST(sum((r.q - b.qc) * (r.q - b.qc)) AS BIGINT) AS d2
       |  FROM ${p}qres r JOIN ${p}pcb$T b ON r.sub = b.sub AND r.dim = b.dim
       |  GROUP BY 1, 2, 3, 4)""".stripMargin

  private def lutSql(srcCte: String): String = lutSqlFor("", srcCte)

  /** The exact-cosine rerank CTE over a ${p}cand candidate set. */
  private[graft] def rerankCteFor(p: String, src: String): String = {
    val dq = sqlDotQ("e.embedding", "q.qe")
    val nq = sqlDotQ("e.embedding", "e.embedding")
    s"""${p}reranked AS (
       |  SELECT c.query_id, c.vec_id,
       |         ${sqlCosQ(dq, nq, "q.qnq")} AS cos_sim
       |  FROM ${p}cand c
       |  JOIN $src e ON c.vec_id = e.vec_id
       |  JOIN ${p}q q ON c.query_id = q.query_id)""".stripMargin
  }

  private def rerankSql: String =
    s"""${rerankCteFor("", "embeddings")}
       |SELECT query_id, rnk, vec_id, cos_sim
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |                                   ORDER BY cos_sim DESC, vec_id ASC) AS rnk
       |      FROM reranked)
       |WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin

  private[graft] def prSqlFor(p: String, nprobe: Int): String = {
    val dqc = sqlDotQ("q.qe", "c.c")
    val dcc2 = sqlDotQ("c.c", "c.c")
    s"""${p}pr AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.cell,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY
       |             q.qnq - 2.0 * $dqc + $dcc2 ASC, c.cell ASC) AS rn
       |    FROM ${p}q q CROSS JOIN ${p}cent$T c)
       |  WHERE rn <= $nprobe)""".stripMargin
  }

  private def prSql(nprobe: Int): String = prSqlFor("", nprobe)

  /** The ADC + candidate-cut CTEs of the plain probe. */
  private[graft] def adcCandSqlFor(p: String, candK: Int,
      adaptive: Boolean): String = {
    val candWhere =
      if (adaptive) s"arn <= greatest($candK, pop // $AdaptiveDiv)"
      else s"arn <= $candK"
    val popCol =
      if (adaptive) ",\n           count(*) OVER (PARTITION BY query_id) AS pop"
      else ""
    s"""${p}adc AS (
       |  SELECT l.query_id, pa.vec_id,
       |         CAST(sum(l.d2) AS BIGINT) AS approx_d2
       |  FROM ${p}pasg$T pa
       |  JOIN ${p}asg$T a ON pa.vec_id = a.vec_id
       |  JOIN ${p}lut l ON a.cell = l.cell AND pa.sub = l.sub
       |            AND pa.code = l.code
       |  WHERE pa.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |${p}cand AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY approx_d2 ASC, vec_id ASC)
       |             AS arn$popCol
       |    FROM ${p}adc)
       |  WHERE $candWhere)""".stripMargin
  }

  /** The full plain-probe chain (training + probe CTEs, no final
    * select) for an arbitrary prefix/source — x183 composes two. */
  private[graft] def probeChainFor(p: String, src: String, nprobe: Int,
      candK: Int): String =
    s"""${trainCtesFor(p, src)},
       |${prSqlFor(p, nprobe)},
       |${lutSqlFor(p, s"${p}pr")},
       |${adcCandSqlFor(p, candK, adaptive = false)},
       |${rerankCteFor(p, src)}""".stripMargin

  /** The plain / adaptive probe oracle: forward probed cells, per-cell
    * luts, ADC over the probed inverted lists, candK (fixed or
    * population-tracking) cut, exact rerank. */
  private[graft] def probeSqlPlain(nprobe: Int = NProbe,
      candK: Int = CandK, adaptive: Boolean = false): String =
    s"""$trainPrefixSql,
       |${prSql(nprobe)},
       |${lutSql("pr")},
       |${adcCandSqlFor("", candK, adaptive)},
       |$rerankSql""".stripMargin

  /** The symmetrized probe oracle (x151): forward pool ∪ reverse pool
    * (per-vector nprobe-nearest cells vs the query's home cell), luts
    * over the pool's (query, cell) demand set, ADC, candK cut, rerank. */
  private[graft] def probeSqlSym(nprobe: Int, candK: Int): String = {
    val dvv = sqlDotQ("e.embedding", "e.embedding")
    val dvc = sqlDotQ("e.embedding", "c.c")
    val dcc = sqlDotQ("c.c", "c.c")
    s"""$trainPrefixSql,
       |${prSql(nprobe)},
       |fwd AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM asg$T a JOIN pr p ON a.cell = p.cell),
       |vpr AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             $dvv - 2.0 * $dvc + $dcc ASC, c.cell ASC) AS rk
       |    FROM embeddings e CROSS JOIN cent$T c)
       |  WHERE rk <= $nprobe),
       |qh AS (
       |  SELECT vec_id AS query_id, cell FROM asg$T
       |  WHERE vec_id < $NQueries),
       |rev AS (
       |  SELECT h.query_id, v.vec_id
       |  FROM vpr v JOIN qh h ON v.cell = h.cell),
       |pool AS MATERIALIZED (
       |  SELECT s.query_id, s.vec_id, a.cell
       |  FROM (SELECT query_id, vec_id FROM fwd
       |        UNION SELECT query_id, vec_id FROM rev) s
       |  JOIN asg$T a ON s.vec_id = a.vec_id
       |  WHERE s.vec_id <> s.query_id),
       |qcells AS (SELECT DISTINCT query_id, cell FROM pool),
       |${lutSql("qcells")},
       |adc AS (
       |  SELECT p.query_id, p.vec_id,
       |         CAST(sum(l.d2) AS BIGINT) AS approx_d2
       |  FROM pool p
       |  JOIN pasg$T pa ON p.vec_id = pa.vec_id
       |  JOIN lut l ON p.query_id = l.query_id AND p.cell = l.cell
       |            AND pa.sub = l.sub AND pa.code = l.code
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY approx_d2 ASC, vec_id ASC)
       |             AS arn
       |    FROM adc)
       |  WHERE arn <= $candK),
       |$rerankSql""".stripMargin
  }

  val ivfPqTopKSql: String = probeSqlPlain()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x178_ivfpq_topk" -> ivfPqTopK _,
    "x181_ivfpq_adaptive_topk" -> ivfPqAdaptiveTopK _)

  val oracles: Map[String, String] = Map(
    "x178_ivfpq_topk" -> ivfPqTopKSql,
    "x181_ivfpq_adaptive_topk" -> probeSqlPlain(adaptive = true))
}
