package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashing._

/** X173 — product quantization with INTEGER-EXACT Lloyd-trained
  * codebooks: x166's mechanism applied to the product quantizer
  * (round-14 verdict item 1). x31/x79/x151 are rows-only solely because
  * their M=8 per-subspace K=16 codebooks come from seeded MLlib KMeans
  * (float reduction order); here the same per-subspace training runs
  * [[T]] fixed Lloyd rounds in cross-engine-exact arithmetic, so the
  * DuckDB oracle can unroll the rounds as CTEs and the hash gate
  * certifies codebooks + encoding + ADC probe + exact rerank END TO END
  * — the first hash-green trained PQ. The x31/x79/x151 contracts stay
  * untouched (the x151/x166 discipline: new id, stable family).
  *
  * Exactness — every step is integer or identically-sequenced:
  *  - per-dim quantization floor(v·1e6) is exact i64 (the X36 chain);
  *  - per-subspace distances are Σ(q_a − q_b)² — PURE i64 (≤ 8·(2·1e6)²
  *    ≈ 3.2e13 per subspace), so there is no float sum and no a·b − c·d
  *    FMA shape anywhere in training OR probe;
  *  - centroid means CAST(s AS DOUBLE)/n/1e6 → FLOAT are one rational
  *    per dim, identically rounded, then RE-QUANTIZED floor(m·1e6) back
  *    to i64 for the next round's distances (float→double widening is
  *    exact in both engines);
  *  - the E-step argmin key (dist, code) is total, so ties cannot
  *    drift; the M=8 subspace problems are independent but run in ONE
  *    keyed frame (no per-subspace pass);
  *  - the ADC approximate distance is a sum of M i64 lut entries —
  *    exact integers, so accumulation order is irrelevant (the oracle
  *    group-sums where Spark folds a fixed-order expression);
  *  - the candidate cut (approx_d2, vec_id) and final rerank
  *    (cos_sim desc, vec_id) are total orders; the rerank is the shared
  *    quantized-cosine chain ([[Vector.rerankTop5]]).
  * Label seeding (x166) does not apply — codes have no label — so round
  * 0 assigns code (vec_id + sub) mod K: deterministic, balanced, and
  * identical in both engines.
  *
  * Query path = x31's registered ADC shape at the same dials (CandK =
  * 48, top-5, the fixed `vec_id < 3` query band): per query one flat
  * 128-entry i64 lut ordered by (sub, code), broadcast; the corpus scan
  * reads only each vector's M=8 code bytes (element_at lookups inside
  * whole-stage codegen — never the floats); exact cosine pays for CandK
  * rows per query.
  *
  * Plan shape at 100 TB: training is the once-per-corpus INDEX BUILD
  * ([[pqLloydIndex]], memoized per session+dir, each round materialized
  * via localCheckpoint — the local stand-in for the persisted codebook
  * artifact): per round one mergeable (sub, code, dim) partial
  * aggregate collapsed to ≤ M·K·Sub = 1024 scalar rows, BROADCAST back,
  * and a map-only argmin pass over the (vec, sub) slice rows — no
  * per-vector window, no second shuffle. The probe never refits: the
  * lut table is |queries|·M·K broadcast rows, the ADC scan is row-local
  * over codes, the rank filter gets Spark's map-side WindowGroupLimit.
  *
  * Reference scope: no vector search in the reference; engine extension
  * (SURVEY §2.5, the X19/X31/X70/X71/X92/X100/X166 ANN family).
  */
object LloydPq {

  /** Fixed Lloyd rounds per subspace — a CODE constant mirrored by the
    * oracle's unrolled CTE chain (x166's T: the gate proves engines
    * agree AT T rounds, whatever T). */
  val T = 5

  val M = Vector.PqM // 8 subspaces
  val Sub = Vector.PqSub // 8 dims per subspace
  val K = Vector.PqK // 16 codes per subspace
  val CandK = Vector.PqCandK // ADC candidates entering exact rerank
  val NQueries = 3

  private val Scale = Centroids.Scale // 1e6 — the shared i64 grid

  final case class PqLloydIndex(encoded: DataFrame, codebooks: DataFrame)

  private val indexes = graft.SessionArtifacts.Slot[PqLloydIndex]("LloydPq.index")

  private[graft] def pqLloydIndex(spark: SparkSession, dir: String): PqLloydIndex =
    indexes(spark, dir)(buildPqLloydIndex(spark, dir))

  /** SQL fragment: the M quantized-i64 subspace slices of an embedding
    * column, as array<array<bigint>> (Spark side of the shared grid). */
  private def qSlicesExpr(embCol: String): String =
    s"transform(sequence(0, ${M - 1}), j -> " +
      s"transform(slice($embCol, j * $Sub + 1, $Sub), " +
      s"x -> CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT)))"

  /** Exact i64 squared distance between two array<bigint> columns. */
  private[graft] def dist2Q(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, t) => acc + t)

  /** M-step: ≤ M·K codebook rows (sub, code, qc: array<bigint>) — exact
    * i64 dim sums → one identically-rounded float mean per dim →
    * re-quantized to the i64 grid for the next round's distances. */
  private[graft] def codebooksOf(asg: DataFrame): DataFrame = {
    val spark = asg.sparkSession
    import spark.implicits._
    asg.select($"sub", $"code", posexplode($"qs").as(Seq("dim", "q")))
      .groupBy($"sub", $"code", $"dim")
      .agg(count(lit(1)).as("n"), sum($"q").as("s"))
      .withColumn("qc",
        floor(($"s".cast("double") / $"n" / Scale).cast("float")
          .cast("double") * Scale).cast("long"))
      .groupBy($"sub", $"code")
      .agg(array_sort(collect_list(struct($"dim", $"qc"))).as("dq"))
      .select($"sub", $"code".as("c_code"),
        expr("transform(dq, x -> x.qc)").as("qc"))
  }

  /** E-step: total argmin over the broadcast codebooks, carrying the
    * quantized slice through the struct min (the X70/X71 trick — no
    * second corpus join). */
  private[graft] def assignTo(asg: DataFrame, cb: DataFrame): DataFrame = {
    val spark = asg.sparkSession
    import spark.implicits._
    asg.join(broadcast(cb), Seq("sub"))
      .select($"vec_id", $"sub", $"qs", $"c_code",
        dist2Q($"qs", $"qc").as("dist"))
      .groupBy($"vec_id", $"sub")
      .agg(min(struct($"dist", $"c_code", $"qs")).as("best"))
      .select($"vec_id", $"sub", $"best.c_code".as("code"), $"best.qs".as("qs"))
  }

  private[graft] def buildPqLloydIndex(spark: SparkSession, dir: String): PqLloydIndex =
    buildPqLloydIndexOf(Tables.embeddings(spark, dir), T)

  /** The residual/raw codebook table as ONE flat row in [[
    * graft.functions.expr.PqEncode]]'s layout: keys(e) = sub·K + code
    * sorted ascending, qcs = the entries' dims flattened in the same
    * order (survivor-set safe — a dropped code has no key entry). */
  private[graft] def codebookFlat(cb: DataFrame): DataFrame = {
    val spark = cb.sparkSession
    import spark.implicits._
    cb.select(($"sub" * K + $"c_code").as("key"), $"qc")
      .agg(array_sort(collect_list(struct($"key", $"qc"))).as("ent"))
      .select(
        expr("transform(ent, x -> x.key)").as("keys"),
        flatten(expr("transform(ent, x -> x.qc)")).as("qcs"))
  }

  /** The T-round wide trainer over a (vec_id, qd: array<bigint> of
    * M·Sub quantized dims) frame — the X180 mechanism turned on the
    * trainer: the M-step stays the mergeable (sub, code, dim)
    * aggregate ([[codebooksOf]] over a ROW-LOCALLY exploded frame),
    * and the E-step is the native [[graft.functions.expr.PqEncode]]
    * map-only pass over the one-row flat codebook broadcast — the same
    * (dist, code) total key as [[assignTo]] (sorted keys + strict `<`
    * keep the smallest code on ties), so assignments are bit-identical
    * while the per-round (vec, sub)-keyed exchange disappears. Returns
    * (codes frame (vec_id, codes), final codebook table). */
  private[graft] def trainPqWide(qdFrame: DataFrame, rounds: Int):
      (DataFrame, DataFrame) = {
    require(rounds >= 1,
      s"Lloyd training needs at least one round (got $rounds) — " +
        "with zero rounds there is no codebook table to encode against")
    val spark = qdFrame.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.graft.SparkBridge
    var codesDf = qdFrame.withColumn("codes",
      expr(s"transform(sequence(0, ${M - 1}), j -> (vec_id + j) % $K)"))
    var cb: DataFrame = null
    for (_ <- 1 to rounds) {
      val exploded = codesDf
        .select($"vec_id", $"qd", posexplode($"codes").as(Seq("sub", "code")))
        .select($"vec_id", $"sub".cast("long").as("sub"), $"code",
          slice($"qd", $"sub" * Sub + 1, lit(Sub)).as("qs"))
      cb = codebooksOf(exploded).localCheckpoint()
      val encode = SparkBridge.column(graft.functions.expr.PqEncode(
        SparkBridge.expression($"qd"),
        SparkBridge.expression($"keys"),
        SparkBridge.expression($"qcs"), M, Sub, K))
      codesDf = codesDf.drop("codes")
        .crossJoin(broadcast(codebookFlat(cb)))
        .withColumn("codes", encode)
        .drop("keys", "qcs")
        .localCheckpoint()
    }
    (codesDf.select($"vec_id", $"codes"), cb)
  }

  /** The build over any (vec_id, embedding) frame; test seam (also
    * exposes the round budget — the spec varies it). */
  private[graft] def buildPqLloydIndexOf(e: DataFrame, rounds: Int): PqLloydIndex = {
    val spark = e.sparkSession
    import spark.implicits._
    val qdFrame = e.select($"vec_id",
      expr(s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) " +
        s"* $Scale) AS BIGINT))").as("qd"))
    val (codes, cb) = trainPqWide(qdFrame, rounds)
    val emb = e.select($"vec_id", $"embedding",
      dotQ($"embedding", $"embedding").as("nq"))
    PqLloydIndex(
      emb.join(codes, Seq("vec_id")).localCheckpoint(),
      cb)
  }

  /** Per-query i64 lut keyed by sub·K + code: the exact squared distance
    * from the query's slice to that codebook centroid (x31's pqLuts with
    * integers instead of doubles). An explicit MAP, not a positional
    * array: Lloyd codes CAN lose every member and drop out of the
    * codebook table, which would silently shift flat-array positions —
    * the map lookup stays correct at any survivor set.
    */
  private[graft] def pqLuts(index: PqLloydIndex): DataFrame = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    index.encoded.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"),
        $"nq".as("qnq"), expr(qSlicesExpr("embedding")).as("qsl"))
      .crossJoin(broadcast(index.codebooks))
      .withColumn("d2",
        dist2Q(element_at($"qsl", ($"sub" + lit(1L)).cast("int")), $"qc"))
      .groupBy($"query_id", $"qe", $"qnq")
      .agg(map_from_entries(collect_list(
        struct(($"sub" * K + $"c_code").cast("int").as("k"),
          $"d2".as("v")))).as("lut"))
  }

  /** Approximate distance: M exact-i64 code lookups (row-local,
    * codegen'd — the scan never touches the floats). */
  private def adcExpr: Column = (0 until M)
    .map(j => element_at(col("lut"),
      (col("codes")(j) + lit(j.toLong * K)).cast("int")))
    .reduce(_ + _)

  /** The scored exact-rerank candidate set the ADC probe admits (the
    * cost axis of the recall/cost sweep — graft.LloydSweep). */
  private[graft] def candidates(index: PqLloydIndex, candK: Int): DataFrame = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    val byAdc = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"approx_d2".asc, $"vec_id".asc)
    index.encoded.crossJoin(broadcast(pqLuts(index)))
      .filter($"vec_id" =!= $"query_id")
      .withColumn("approx_d2", adcExpr)
      .withColumn("arn", row_number().over(byAdc))
      .filter($"arn" <= candK)
      .select($"query_id", $"vec_id",
        cosQ(dotQ($"embedding", $"qe"), $"nq", $"qnq").as("cos_sim"))
  }

  private[graft] def probe(index: PqLloydIndex,
      candK: Int = CandK): DataFrame =
    Vector.rerankTop5(candidates(index, candK))

  def pqLloydTopK(spark: SparkSession, dir: String): DataFrame =
    probe(pqLloydIndex(spark, dir))

  /** The T unrolled oracle rounds (the X84/x166 discipline): asg0 seeds
    * (vec_id + sub) mod K; round t computes cb{t} from asg{t-1} (exact
    * i64 dim sums → float means → re-quantized i64) and asg{t} as the
    * pure-i64 distance argmin; the probe replays the lut + ADC + rerank
    * over asg{T}/cb{T}. Every intermediate is an exact integer, so the
    * oracle's group-sums and Spark's fixed-order folds cannot differ.
    */
  val pqLloydTopKSql: String = {
    val rounds = (1 to T).map { t =>
      s"""cb$t AS (
         |  SELECT sub, code, dim,
         |         CAST(floor(CAST(CAST(CAST(s AS DOUBLE) / n / $Scale
         |           AS FLOAT) AS DOUBLE) * $Scale) AS BIGINT) AS qc
         |  FROM (SELECT a.sub, a.code, s.dim, count(*) AS n,
         |               CAST(sum(s.q) AS BIGINT) AS s
         |        FROM asg${t - 1} a
         |        JOIN sl s ON a.vec_id = s.vec_id AND a.sub = s.sub
         |        GROUP BY 1, 2, 3)),
         |d$t AS (
         |  SELECT s.vec_id, s.sub, c.code,
         |         CAST(sum((s.q - c.qc) * (s.q - c.qc)) AS BIGINT) AS dist
         |  FROM sl s JOIN cb$t c ON s.sub = c.sub AND s.dim = c.dim
         |  GROUP BY 1, 2, 3),
         |asg$t AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |           row_number() OVER (PARTITION BY vec_id, sub
         |                              ORDER BY dist ASC, code ASC) AS rk
         |    FROM d$t)
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val dq = sqlDotQ("e.embedding", "q.qe")
    val nq = sqlDotQ("e.embedding", "e.embedding")
    s"""WITH sl AS (
       |  SELECT vec_id, CAST((u.i - 1) // $Sub AS BIGINT) AS sub,
       |         CAST((u.i - 1) % $Sub AS BIGINT) AS dim,
       |         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * $Scale)
       |           AS BIGINT) AS q
       |  FROM embeddings,
       |       LATERAL unnest(generate_series(1, ${M * Sub})) AS u(i)),
       |asg0 AS (
       |  SELECT DISTINCT vec_id, sub, (vec_id + sub) % $K AS code FROM sl),
       |$rounds,
       |lut AS (
       |  SELECT s.vec_id AS query_id, s.sub, c.code,
       |         CAST(sum((s.q - c.qc) * (s.q - c.qc)) AS BIGINT) AS d2
       |  FROM sl s JOIN cb$T c ON s.sub = c.sub AND s.dim = c.dim
       |  WHERE s.vec_id < $NQueries
       |  GROUP BY 1, 2, 3),
       |adc AS (
       |  SELECT l.query_id, a.vec_id, CAST(sum(l.d2) AS BIGINT) AS approx_d2
       |  FROM asg$T a JOIN lut l ON a.sub = l.sub AND a.code = l.code
       |  WHERE a.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY approx_d2 ASC, vec_id ASC)
       |             AS arn
       |    FROM adc)
       |  WHERE arn <= $CandK),
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS qe,
       |         ${sqlDotQ("embedding", "embedding")} AS qnq
       |  FROM embeddings WHERE vec_id < $NQueries),
       |reranked AS (
       |  SELECT c.query_id, c.vec_id,
       |         ${sqlCosQ(dq, nq, "q.qnq")} AS cos_sim
       |  FROM cand c
       |  JOIN embeddings e ON c.vec_id = e.vec_id
       |  JOIN q ON c.query_id = q.query_id)
       |SELECT query_id, rnk, vec_id, cos_sim
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |                                   ORDER BY cos_sim DESC, vec_id ASC) AS rnk
       |      FROM reranked)
       |WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x173_pq_lloyd_topk" -> pqLloydTopK _)

  val oracles: Map[String, String] = Map(
    "x173_pq_lloyd_topk" -> pqLloydTopKSql)
}
