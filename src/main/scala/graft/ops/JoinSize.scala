package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashing.sqlMd5Long40

/** X159 — AMS join-size estimation: for EVERY source pair, the
  * estimated row count of the content-equality join A ⋈_text B
  * (Σ_v c_A(v)·c_B(v)) from the per-source AMS sign-sum sketches ALONE
  * — the inner-product form of Alon–Gibbons–Matias–Szegedy 1999, the
  * classical "how big would this join be" planning primitive. X136
  * prices the SELF-join (F2 = the sketch's inner product with itself);
  * X159 completes the algebra: the SAME R=32 signed counters answer
  * every cross join too, so one linear pass per source prices all
  * C(|S|,2) cross-source duplicate-volume joins — the query-planning
  * counterpart of X137's distinct-overlap matrix (theta answers
  * |A∩B| on SETS; AMS answers the join SIZE with multiplicities,
  * which is what an executor actually materializes).
  *
  * Exactness: integer-only end to end, like X136 — counters are exact
  * i64 sign sums over the engine-portable md5Long40, the estimate is
  * (Σ_r X_r(A)·X_r(B)) div R (E[X_r(A)·X_r(B)] = Σ_v c_A c_B exactly;
  * floor division both engines agree on; the estimator is SIGNED — a
  * near-empty join can estimate negative, which the audit columns
  * expose rather than clamp away). Exact join sizes ride alongside
  * (X100 pattern; the exact branch is the content join the sketch
  * avoids — dropped at deployment).
  *
  * Scale shape: one map-side-combined groupBy(source) pass builds all
  * sketches (X136's [[AmsF2.sketchOf]], reused verbatim); the pair
  * matrix is a |sources|²-row broadcast self-join over 33-long rows —
  * types-bounded, corpus-free. The exact audit joins the (source,
  * content) count tables — the one corpus-sized join, deployment-dropped.
  *
  * Reference scope: no sketches in the reference; engine extension
  * (SURVEY §2.5, the X136/X137/X60 family joint).
  */
object JoinSize {

  val R = AmsF2.R

  def joinSizeAms(spark: SparkSession, dir: String): DataFrame =
    joinSizeOf(Tables.documents(spark, dir).select(
      col("source").as("grp"), col("text").as("v")))

  /** Core of X159 over any (grp, v) frame. */
  private[graft] def joinSizeOf(rows: DataFrame): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val sk = AmsF2.sketchOf(rows)
    val est = sk.as("a").join(broadcast(sk.as("b")),
        col("a.grp") < col("b.grp"))
      .select(col("a.grp").as("src_a"), col("b.grp").as("src_b"),
        col("a.n_rows").as("n_a"), col("b.n_rows").as("n_b"),
        expr(s"(${(0 until R).map(r => s"a.x$r * b.x$r")
          .mkString(" + ")}) div $R").as("est_join"))
    // exact audit: the content join the sketch avoids
    val cnt = rows.groupBy($"grp", $"v")
      .agg(count(lit(1)).cast("long").as("c"))
    val exact = cnt.as("ca").join(cnt.as("cb"),
        col("ca.v") === col("cb.v") && col("ca.grp") < col("cb.grp"))
      .groupBy(col("ca.grp").as("src_a"), col("cb.grp").as("src_b"))
      .agg(sum(col("ca.c") * col("cb.c")).as("exact_join"))
    // exact is ≤ |sources|² rows: broadcast up front, or whether est gets
    // a shuffle depends on which side AQE sees finish first
    est.join(broadcast(exact), Seq("src_a", "src_b"), "left")
      .select($"src_a", $"src_b", $"n_a", $"n_b", $"est_join",
        coalesce($"exact_join", lit(0L)).as("exact_join"))
      .orderBy($"src_a", $"src_b")
  }

  val joinSizeAmsSql: String = {
    val h = sqlMd5Long40("v")
    val xs = (0 until R).map { r =>
      s"CAST(sum(CASE WHEN (h // ${1L << r}) % 2 = 1 THEN 1 ELSE -1 " +
        s"END) AS BIGINT) AS x$r"
    }.mkString(",\n       |         ")
    val dot = (0 until R).map(r => s"a.x$r * b.x$r").mkString(" + ")
    s"""WITH signed AS (
       |  SELECT grp, $h AS h
       |  FROM (SELECT source AS grp, text AS v FROM documents)),
       |sk AS (
       |  SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
       |         $xs
       |  FROM signed GROUP BY grp),
       |cnt AS (
       |  SELECT source AS grp, text AS v, CAST(count(*) AS BIGINT) AS c
       |  FROM documents GROUP BY 1, 2),
       |exact AS (
       |  SELECT ca.grp AS src_a, cb.grp AS src_b,
       |         CAST(sum(ca.c * cb.c) AS BIGINT) AS exact_join
       |  FROM cnt ca JOIN cnt cb
       |    ON ca.v = cb.v AND ca.grp < cb.grp
       |  GROUP BY 1, 2)
       |SELECT a.grp AS src_a, b.grp AS src_b,
       |       a.n_rows AS n_a, b.n_rows AS n_b,
       |       ($dot) // $R AS est_join,
       |       coalesce(exact.exact_join, 0) AS exact_join
       |FROM sk a JOIN sk b ON a.grp < b.grp
       |LEFT JOIN exact ON exact.src_a = a.grp AND exact.src_b = b.grp
       |ORDER BY src_a, src_b""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x159_join_size_ams" -> joinSizeAms _)

  val oracles: Map[String, String] = Map(
    "x159_join_size_ams" -> joinSizeAmsSql)
}
