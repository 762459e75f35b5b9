package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashing._

/** X102 — dimension-truncation (matryoshka) recall sweep: how much
  * retrieval quality survives when vectors are truncated to their first
  * D dimensions? For each prefix width in [[Dims]], rank the corpus by
  * exact cosine over the TRUNCATED prefix and score its top-5 against
  * the full-width top-5 — the curve that decides how few dimensions an
  * index can ship (matryoshka-style embeddings front-load information
  * precisely so this truncation is cheap; the sweep MEASURES what a
  * given corpus actually loses at each width, instead of trusting the
  * training claim). X100 audits an INDEX against ground truth; X102
  * audits the REPRESENTATION — same harness discipline, orthogonal
  * axis. Full width appears in the output as its own row (recall 1 by
  * construction) — the visible sanity anchor of the curve.
  *
  * Exactness: truncation is `slice(embedding, 1, D)` — list prefixes
  * both engines take identically — and every cosine is the exact
  * i64-quantized dotQ over identical operands; rankings use the total
  * (cos DESC, vec_id ASC) order, so both lists, the overlap join, and
  * the recall ratio are bit-reproducible in DuckDB.
  *
  * Scale shape: ONE corpus × |Q| pass computes all |Dims| prefix
  * cosines per pair row-locally (explode of a 4-struct array — no
  * re-scan per width), then a (dim, query)-keyed top-5 window over
  * |Dims|·|Q| partitions and one overlap join. Same sampled-query-band
  * contract as X100: |Q| fixed, cost linear in corpus.
  *
  * Reference scope: no vector ops in the reference; engine extension
  * (SURVEY §2.5 similarity-search family).
  */
object Matryoshka {

  val Dims: Seq[Int] = Seq(8, 16, 32, 64)
  val FullDim = 64

  def matryoshkaRecall(spark: SparkSession, dir: String): DataFrame =
    matryoshkaRecallOf(Tables.embeddings(spark, dir))

  /** Core over any embeddings-shaped frame; test/scale seam. */
  private[graft] def matryoshkaRecallOf(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val q = e.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    def cosAt(d: Int) = cosQ(
      dotQ(slice($"embedding", 1, d), slice($"qe", 1, d)),
      dotQ(slice($"embedding", 1, d), slice($"embedding", 1, d)),
      dotQ(slice($"qe", 1, d), slice($"qe", 1, d)))
    val byDim = e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        explode(array(Dims.map(d =>
          struct(lit(d.toLong).as("dim"), cosAt(d).as("cos"))): _*)).as("s"))
      .select($"query_id", $"vec_id", $"s.dim".as("dim"), $"s.cos".as("cos_sim"))
    val ranked = byDim
      .withColumn("rnk", row_number().over(Window
        .partitionBy($"dim", $"query_id")
        .orderBy($"cos_sim".desc, $"vec_id".asc)))
      .filter($"rnk" <= 5)
    val ref = ranked.filter($"dim" === FullDim.toLong)
      .select($"query_id", $"vec_id", lit(1L).as("hit"))
    // ref is ≤ 5 rows per query: broadcast up front, or AQE converts the
    // join only if ref's shuffle wins the race with ranked's
    ranked.join(broadcast(ref), Seq("query_id", "vec_id"), "left")
      .groupBy($"dim", $"query_id")
      .agg(count(lit(1)).as("n_top"),
        sum(coalesce($"hit", lit(0L))).as("n_hit"))
      .select($"dim", $"query_id", $"n_top", $"n_hit",
        ($"n_hit".cast("double") / $"n_top".cast("double")).as("recall"))
      .orderBy($"dim", $"query_id")
  }

  val matryoshkaRecallSql: String = {
    val perDim = Dims.map { d =>
      val ce = s"c.embedding[1:$d]"
      val qe = s"q.qe[1:$d]"
      s"""  SELECT CAST($d AS BIGINT) AS dim, q.query_id, c.vec_id,
         |         ${sqlCosQ(sqlDotQ(ce, qe), sqlDotQ(ce, ce), sqlDotQ(qe, qe))}
         |           AS cos_sim
         |  FROM embeddings c JOIN q ON c.vec_id <> q.query_id""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qe
       |  FROM embeddings WHERE vec_id < 3),
       |d AS (
       |$perDim),
       |rk AS (
       |  SELECT dim, query_id, vec_id FROM (
       |    SELECT dim, query_id, vec_id, row_number() OVER (
       |      PARTITION BY dim, query_id
       |      ORDER BY cos_sim DESC, vec_id ASC) AS rnk
       |    FROM d)
       |  WHERE rnk <= 5),
       |ref AS (SELECT query_id, vec_id FROM rk WHERE dim = $FullDim)
       |SELECT k.dim, k.query_id,
       |       CAST(count(*) AS BIGINT) AS n_top,
       |       CAST(sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_hit,
       |       CAST(sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |         AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
       |FROM rk k LEFT JOIN ref r
       |  ON k.query_id = r.query_id AND k.vec_id = r.vec_id
       |GROUP BY k.dim, k.query_id
       |ORDER BY k.dim, k.query_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x102_matryoshka_recall" -> matryoshkaRecall _)

  val oracles: Map[String, String] = Map(
    "x102_matryoshka_recall" -> matryoshkaRecallSql)
}
