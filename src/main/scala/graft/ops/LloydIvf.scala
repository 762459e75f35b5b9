package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashing._

/** X166 — IVF ANN with an INTEGER-EXACT Lloyd-trained coarse quantizer:
  * the trained-index counterpart of x19 whose trained cells are
  * bit-identical across engines, making the whole query — training
  * included — oracle-checkable (round-13 verdict item 2: x19/x31/x79/
  * x151 are rows-only solely because MLlib's k-means accumulates floats
  * in reduction order; this operator closes that asymmetry without
  * touching their contracts).
  *
  * The mechanism chains three proofs the repo already holds piecewise:
  * X70 hash-greens ONE nearest-centroid E-step (quantized distances,
  * total argmin), X71 hash-greens ONE M-step (i64 dim sums → the exact
  * rational mean), and X84 hash-greens an ITERATED fixpoint by
  * unrolling integer-exact rounds in the oracle. Here: [[T]] fixed
  * Lloyd rounds (Lloyd 1982), label-seeded. Every step is
  * cross-engine-deterministic —
  *  - per-dim quantization floor(v·1e6) is exact i64;
  *  - centroid means CAST(s AS DOUBLE)/n/1e6 → FLOAT are one rational
  *    per dim, identically rounded (the X36 chain);
  *  - distances decompose as dotQ(v,v) − 2·dotQ(v,c) + dotQ(c,c) —
  *    three exact i64 quantized dots combined left-to-right in double
  *    (identical operands ⇒ identical IEEE results);
  *  - the argmin key (dist_q, cell) is total, so ties cannot drift.
  * The DuckDB oracle unrolls the T rounds as CTEs and replays the
  * probe; the hash gate therefore certifies the TRAINED index, not
  * just the probe. Cells that lose every member simply drop out of the
  * centroid table (both engines: an aggregate over an empty group
  * emits no row).
  *
  * Query path = x19's shape at the same dials (nprobe = 2, top-5 per
  * query, the fixed `vec_id < 3` query band): rank the trained cells
  * by the same quantized distance, probe the nearest [[NProbe]]
  * inverted lists, exact-cosine rerank.
  *
  * Plan shape at 100 TB: training is the once-per-corpus INDEX BUILD
  * stage ([[lloydIndex]], memoized per session+dir, each round
  * materialized via localCheckpoint — the local stand-in for the
  * persisted index artifact a production build writes): per round, one
  * mergeable (cell, dim) partial aggregate collapsed to ≤|cells| rows
  * and BROADCAST, then a map-only argmin pass (the X70 shape — no
  * per-vector window, no second shuffle). The probe never refits:
  * ranking is |queries|×|cells| broadcast rows, candidates one keyed
  * join against the inverted lists, rerank top-5.
  *
  * Reference scope: no vector search in the reference; engine
  * extension (SURVEY §2.5, the X19/X70/X71/X92/X100 ANN family).
  */
object LloydIvf {

  /** Fixed Lloyd rounds — a CODE constant mirrored by the oracle's
    * unrolled CTE chain (T is the training budget, not a tolerance:
    * the gate proves engines agree AT T rounds, whatever T). */
  val T = 5

  val NProbe = 2
  val NQueries = 3

  final case class LloydIndex(assigned: DataFrame, centroids: DataFrame)

  private val indexes = graft.SessionArtifacts.Slot[LloydIndex]("LloydIvf.index")

  private[graft] def lloydIndex(spark: SparkSession, dir: String): LloydIndex =
    indexes(spark, dir)(buildLloydIndex(spark, dir))

  /** ≤|cells| rows of (c_cell, c: array<float>) — X71's M-step keyed by
    * the current assignment (exact i64 dim sums → one rational per dim).
    */
  private def centroidsOf(asg: DataFrame): DataFrame = {
    val spark = asg.sparkSession
    import spark.implicits._
    asg.select($"cell", posexplode($"embedding").as(Seq("dim", "v")))
      .select($"cell", $"dim",
        floor($"v".cast("double") * Centroids.Scale).cast("long").as("q"))
      .groupBy($"cell", $"dim")
      .agg(count(lit(1)).as("n"), sum($"q").as("s"))
      .withColumn("m",
        ($"s".cast("double") / $"n" / Centroids.Scale).cast("float"))
      .groupBy($"cell")
      .agg(array_sort(collect_list(struct($"dim", $"m"))).as("dm"))
      .select($"cell".as("c_cell"),
        expr("transform(dm, x -> x.m)").as("c"))
  }

  /** X70's E-step: total argmin over the broadcast centroid table,
    * carrying the embedding through the struct min (no second corpus
    * join — the X71 trick). Kept as the reference form; the training
    * loop runs [[assignRowLocal]], which is hash-identical with ZERO
    * exchanges. */
  private[graft] def assignTo(asg: DataFrame, cent: DataFrame): DataFrame = {
    val spark = asg.sparkSession
    import spark.implicits._
    asg.crossJoin(broadcast(cent))
      .select($"vec_id", $"embedding", $"c_cell",
        (dotQ($"embedding", $"embedding")
          - lit(2.0) * dotQ($"embedding", $"c")
          + dotQ($"c", $"c")).as("dist_q"))
      .groupBy($"vec_id")
      .agg(min(struct($"dist_q", $"c_cell", $"embedding")).as("best"))
      .select($"vec_id", $"best.c_cell".as("cell"),
        $"best.embedding".as("embedding"))
  }

  /** The E-step as a MAP-ONLY pass (the X180 mechanism turned on the
    * trainer): the ≤|cells| centroid table collapses to ONE broadcast
    * row and the argmin runs row-locally as array_min over
    * struct(dist, cell, c) — the same (dist_q, c_cell) total key as
    * [[assignTo]] (struct ordering is field-by-field; the trailing c
    * is unreachable, cells are unique), so the assignment is
    * bit-identical while the per-round (vec_id)-keyed exchange
    * disappears: each training round is one mergeable M-step aggregate
    * plus map-only work. */
  private[graft] def assignRowLocal(asg: DataFrame, cent: DataFrame): DataFrame = {
    val spark = asg.sparkSession
    import spark.implicits._
    val centRow = cent.agg(array_sort(collect_list(
      struct($"c_cell".as("cell"), $"c"))).as("cents"))
    val best = array_min(transform($"cents", c =>
      struct(
        (dotQ($"embedding", $"embedding")
          - lit(2.0) * dotQ($"embedding", c.getField("c"))
          + dotQ(c.getField("c"), c.getField("c"))).as("dist"),
        c.getField("cell").as("cell"),
        c.getField("c").as("c"))))
    asg.crossJoin(broadcast(centRow))
      .withColumn("best", best)
      .select($"vec_id", $"best.cell".as("cell"), $"embedding")
  }

  /** Index build: label-seeded cells, T integer-exact Lloyd rounds,
    * each round's state materialized (localCheckpoint) so the training
    * lineage never re-executes under the probe. */
  private[graft] def buildLloydIndex(spark: SparkSession, dir: String): LloydIndex =
    buildLloydIndexOf(Tables.embeddings(spark, dir), T)

  /** The build over any (vec_id, label, embedding) frame; test seam
    * (also exposes the round count — the spec pins convergence by
    * comparing fits at different budgets). */
  private[graft] def buildLloydIndexOf(e: DataFrame, rounds: Int): LloydIndex = {
    require(rounds >= 1,
      s"Lloyd training needs at least one round (got $rounds) — " +
        "with zero rounds there is no centroid table to probe")
    val spark = e.sparkSession
    import spark.implicits._
    var asg = e
      .select($"vec_id", $"label".cast("long").as("cell"), $"embedding")
    var cent: DataFrame = null
    for (_ <- 1 to rounds) {
      cent = centroidsOf(asg).localCheckpoint()
      asg = assignRowLocal(asg, cent).localCheckpoint()
    }
    val assigned = asg
      .withColumn("nq", dotQ($"embedding", $"embedding"))
    LloydIndex(assigned, cent)
  }

  def ivfLloydTopK(spark: SparkSession, dir: String): DataFrame =
    probe(lloydIndex(spark, dir))

  /** Probe-only query path over the trained index (x19's shape at the
    * registered dials, every distance on the quantized-dot chain). */
  private[graft] def probe(index: LloydIndex,
      nprobe: Int = NProbe): DataFrame =
    Vector.rerankTop5(candidates(index, nprobe))

  /** The scored candidate set a probe scans (the cost axis of the
    * recall/cost sweep — graft.LloydSweep / ANN_SWEEP.md). */
  private[graft] def candidates(index: LloydIndex, nprobe: Int): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val q = index.assigned.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"),
        $"nq".as("qnq"))
    val byDist = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"dist_q".asc, $"c_cell".asc)
    val probed = q.crossJoin(broadcast(index.centroids))
      .withColumn("dist_q",
        $"qnq" - lit(2.0) * dotQ($"qe", $"c") + dotQ($"c", $"c"))
      .withColumn("rn", row_number().over(byDist))
      .filter($"rn" <= nprobe)
      .select($"c_cell".as("cell"), $"query_id", $"qe", $"qnq")
    index.assigned
      .join(broadcast(probed), Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosQ(dotQ($"embedding", $"qe"), $"nq", $"qnq").as("cos_sim"))
  }

  /** The T unrolled oracle rounds (the X84 discipline): asg0 seeds from
    * labels; round t computes cent{t} from asg{t-1} (exact i64 dim sums
    * → FLOAT means) and asg{t} as the quantized-distance argmin. */
  val ivfLloydTopKSql: String = {
    val dvv = sqlDotQ("e.embedding", "e.embedding")
    val dvc = sqlDotQ("e.embedding", "c.c")
    val dcc = sqlDotQ("c.c", "c.c")
    val rounds = (1 to T).map { t =>
      s"""ex$t AS (
         |  SELECT a.cell, u.i - 1 AS dim,
         |         CAST(floor(CAST(e.embedding[u.i] AS DOUBLE)
         |           * ${Centroids.Scale}) AS BIGINT) AS q
         |  FROM asg${t - 1} a JOIN embeddings e USING (vec_id),
         |       LATERAL unnest(generate_series(1, len(e.embedding)))
         |         AS u(i)),
         |cent$t AS (
         |  SELECT cell,
         |         list(CAST(CAST(s AS DOUBLE) / n / ${Centroids.Scale}
         |           AS FLOAT) ORDER BY dim) AS c
         |  FROM (SELECT cell, dim, count(*) AS n,
         |               CAST(sum(q) AS BIGINT) AS s
         |        FROM ex$t GROUP BY 1, 2)
         |  GROUP BY cell),
         |asg$t AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |             $dvv - 2.0 * $dvc + $dcc ASC, c.cell ASC) AS rk
         |    FROM embeddings e CROSS JOIN cent$t c)
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val dqc = sqlDotQ("q.qe", "c.c")
    val dcc2 = sqlDotQ("c.c", "c.c")
    val dq = sqlDotQ("e.embedding", "p.qe")
    val nq = sqlDotQ("e.embedding", "e.embedding")
    s"""WITH asg0 AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS cell FROM embeddings),
       |$rounds,
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS qe,
       |         ${sqlDotQ("embedding", "embedding")} AS qnq
       |  FROM embeddings WHERE vec_id < $NQueries),
       |pr AS (
       |  SELECT query_id, cell, qe, qnq FROM (
       |    SELECT q.query_id, c.cell, q.qe, q.qnq,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY
       |             q.qnq - 2.0 * $dqc + $dcc2 ASC, c.cell ASC) AS rn
       |    FROM q CROSS JOIN cent$T c)
       |  WHERE rn <= $NProbe),
       |reranked AS (
       |  SELECT p.query_id, a.vec_id,
       |         ${sqlCosQ(dq, nq, "p.qnq")} AS cos_sim
       |  FROM asg$T a
       |  JOIN embeddings e USING (vec_id)
       |  JOIN pr p ON a.cell = p.cell AND a.vec_id <> p.query_id)
       |SELECT query_id, rnk, vec_id, cos_sim
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |                                   ORDER BY cos_sim DESC, vec_id ASC) AS rnk
       |      FROM reranked)
       |WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x166_ivf_lloyd_topk" -> ivfLloydTopK _)

  val oracles: Map[String, String] = Map(
    "x166_ivf_lloyd_topk" -> ivfLloydTopKSql)
}
