package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** X183 — versioned index retrain: the step x182's alarm CALLS FOR,
  * registered. The lifecycle so far: build (x166/x173/x178) → persist
  * (X179) → probe → ingest (X180) → staleness alarm (X182). This
  * operator performs the retrain and keeps BOTH versions queryable —
  * X179's scaladoc claim ("yesterday's codebooks stay queryable while
  * tonight's build runs") made load-bearing:
  *
  *  - **v1** is the shipped index — x178's memoized build on the
  *    training corpus;
  *  - **v2** retrains from scratch on the GROWN corpus: the training
  *    vectors plus the ingested batch (x182's registered ×2 norm-drift
  *    arrivals), with each arrival SEEDED from the cell the frozen v1
  *    artifact assigned it at ingest time (X180's encode) — exactly
  *    how a production nightly retrain starts from the current
  *    inverted-list assignment rather than from nothing.
  *
  * The registered query probes BOTH versions for the fixed query band
  * and emits the union tagged by version — the side-by-side view an
  * operator reads before swapping the alias: did the retrain move the
  * neighbors, and for which queries? Every step is the proven exact
  * chain (two full trainings, both seeded deterministically; ingest
  * assignment on the dotQ argmin; probes on the registered dials), so
  * the DuckDB oracle unrolls BOTH training chains — the shipped one
  * and the retrain — in one CTE graph and the hash certifies the
  * whole versioned lifecycle end to end.
  *
  * Plan shape at 100 TB: v2's build is the same once-per-corpus
  * training stage as x178's (per-round broadcast parameter tables +
  * map-only E-steps) over corpus + arrivals; the ingest-seed is ONE
  * map-only encode pass against the frozen v1 parameter rows (X180's
  * layout); both probes are the standard broadcast-lut ADC scans.
  * Nothing about versioning adds a shuffle — versions are separate
  * artifact roots (the spec persists both and probes the reloads).
  *
  * Reference scope: no vector search in the reference; engine
  * extension (SURVEY §2.5, the ANN family's lifecycle closure —
  * x182's successor edge).
  */
object IndexVersions {

  private val T = LloydIvfPq.T
  private val NProbe = LloydIvfPq.NProbe
  private val CandK = LloydIvfPq.CandK

  /** Arrival ids live above every corpus/replica id. vec_id is a
    * long; replica ids are base + block·10^7, so any replica count
    * below 10^5 blocks stays under 10^12 (round-16 advice: the old
    * 10^8 collided with replica ids from block 10 up — ScaleBench's
    * 30× corpora were already past it). */
  val ArrivalOffset = 1000000000000L

  private val retrained =
    graft.SessionArtifacts.Slot[LloydIvfPq.IvfPqIndex]("IndexVersions.retrained")

  /** The ingested batch as (vec_id, label, embedding) training rows:
    * x182's drifted arrivals, offset ids, seed label = the cell the
    * FROZEN v1 artifact assigns at ingest (X180's encode pass). */
  private[graft] def ingestedSeedRows(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val v1 = LloydIvfPq.ivfPqIndex(spark, dir)
    val corpus = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
    val ingested = graft.stream.StreamIndexIngest.encodeArrivals(
      IndexStaleness.driftedArrivals(corpus),
      graft.stream.StreamIndexIngest.centroidRow(v1.centroids),
      graft.stream.StreamIndexIngest.codebookFlatRow(v1.codebooks))
    ingested.select(($"vec_id" + ArrivalOffset).as("vec_id"),
      $"cell".as("label"), $"embedding")
  }

  /** v2 — the retrain over corpus ∪ ingested batch. */
  private[graft] def retrainedIndex(spark: SparkSession,
      dir: String): LloydIvfPq.IvfPqIndex =
    retrained(spark, dir) {
      import spark.implicits._
      val grown = Tables.embeddings(spark, dir)
        .select($"vec_id", $"label".cast("long").as("label"), $"embedding")
        .unionByName(ingestedSeedRows(spark, dir))
      LloydIvfPq.buildIvfPqIndexOf(grown, T, T)
    }

  /** The registered query: both versions' probes at the registered
    * dials, tagged and unioned — the pre-swap comparison view. */
  def indexVersionsTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v1 = LloydIvfPq.probe(LloydIvfPq.ivfPqIndex(spark, dir))
      .withColumn("version", lit("v1"))
    val v2 = LloydIvfPq.probe(retrainedIndex(spark, dir))
      .withColumn("version", lit("v2"))
    v1.unionByName(v2)
      .select($"version", $"query_id", $"rnk", $"vec_id", $"cos_sim")
      .orderBy($"version", $"query_id", $"rnk")
  }

  /** The grown-source CTEs shared by x183 and X184's oracle: drifted
    * arrivals (`arre`), the frozen-v1 ingest-seed assignment (`ra` —
    * coarse argmin vs the v1 chain's cent$T), and the retrain source
    * `src2` = corpus ∪ offset-id arrivals. Assumes the UNPREFIXED v1
    * training chain is already in scope. */
  private[graft] def grownSrcCtes: String = {
    val dvv = graft.functions.Hashing.sqlDotQ("e.embedding", "e.embedding")
    val dvc = graft.functions.Hashing.sqlDotQ("e.embedding", "c.c")
    val dcc = graft.functions.Hashing.sqlDotQ("c.c", "c.c")
    s"""arre AS MATERIALIZED (
       |  SELECT vec_id,
       |         list(CAST(embedding[u.i] * CAST(2.0 AS FLOAT) AS FLOAT)
       |              ORDER BY u.i) AS embedding
       |  FROM embeddings,
       |       LATERAL unnest(generate_series(1, len(embedding))) AS u(i)
       |  GROUP BY vec_id),
       |ra AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             $dvv - 2.0 * $dvc + $dcc ASC, c.cell ASC) AS rk
       |    FROM arre e CROSS JOIN cent$T c)
       |  WHERE rk = 1),
       |src2 AS MATERIALIZED (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label, embedding
       |  FROM embeddings
       |  UNION ALL
       |  SELECT a.vec_id + $ArrivalOffset, r.cell, a.embedding
       |  FROM arre a JOIN ra r USING (vec_id))""".stripMargin
  }

  /** The oracle: v1's full chain (x178's, unprefixed), the ingest-seed
    * derivation (drifted arrivals + frozen-v1 coarse argmin), the
    * grown source, v2's full chain (r-prefixed) — both probe tails —
    * and the tagged union. */
  val indexVersionsTopKSql: String = {
    s"""WITH ${LloydIvfPq.trainCtesFor("", "embeddings")},
       |${LloydIvfPq.prSqlFor("", NProbe)},
       |${LloydIvfPq.lutSqlFor("", "pr")},
       |${LloydIvfPq.adcCandSqlFor("", CandK, adaptive = false)},
       |${LloydIvfPq.rerankCteFor("", "embeddings")},
       |$grownSrcCtes,
       |${LloydIvfPq.trainCtesFor("r", "src2")},
       |${LloydIvfPq.prSqlFor("r", NProbe)},
       |${LloydIvfPq.lutSqlFor("r", "rpr")},
       |${LloydIvfPq.adcCandSqlFor("r", CandK, adaptive = false)},
       |${LloydIvfPq.rerankCteFor("r", "src2")}
       |SELECT version, query_id, rnk, vec_id, cos_sim FROM (
       |  SELECT 'v1' AS version, query_id, vec_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, vec_id ASC) AS rnk
       |  FROM reranked
       |  UNION ALL
       |  SELECT 'v2' AS version, query_id, vec_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, vec_id ASC) AS rnk
       |  FROM rreranked)
       |WHERE rnk <= 5
       |ORDER BY version, query_id, rnk""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x183_index_versions" -> indexVersionsTopK _)

  val oracles: Map[String, String] = Map(
    "x183_index_versions" -> indexVersionsTopKSql)
}
