package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashing._

/** Similarity search over the `embeddings` table (64-dim `array<float>`,
  * SURVEY.md §2.5 X3/X4). The reference has no vector operations; these are
  * the north-star ANN/similarity extensions.
  *
  * All cosine math goes through the fixed-point `dotQ` quantization
  * (graft.functions.Hashing) so Spark and the DuckDB oracle agree
  * bit-for-bit regardless of accumulation order — see Hashing's scaladoc.
  *
  * Scale discipline:
  *  - top-k against a single query vector is a broadcast of the query +
  *    a TakeOrderedAndProject (per-partition heaps, k rows to the driver) —
  *    no shuffle of the embedding corpus;
  *  - the pairwise join is *blocked* on `label` (never an unblocked
  *    cross-join): each block self-joins independently, so work is
  *    Σ|block|², parallel across blocks, and AQE handles skewed blocks.
  *    At 100 TB the same shape holds with any coarse quantizer (IVF cell,
  *    LSH bucket) as the blocking key — see `annLshTopK` for that path.
  */
object Vector {

  /** X3 — brute-force cosine top-k against one query vector (vec_id 0),
    * the exactness baseline for ANN. The query row is broadcast; the scan
    * side computes one fused row-local expression per vector.
    */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qe"))
    e.crossJoin(broadcast(q))
      .select($"vec_id", $"label",
        cosQ(
          dotQ($"embedding", $"qe"),
          dotQ($"embedding", $"embedding"),
          dotQ($"qe", $"qe")).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id".asc)
      .limit(20)
  }

  val cosineTopKSql: String = {
    val dq = sqlDotQ("embedding", "qe")
    val na = sqlDotQ("embedding", "embedding")
    val nq = sqlDotQ("qe", "qe")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, label, ${sqlCosQ(dq, na, nq)} AS cos_sim
       |FROM embeddings, q
       |ORDER BY cos_sim DESC, vec_id ASC
       |LIMIT 20""".stripMargin
  }

  /** X4 — pairwise similarity join, blocked by `label`: all pairs within a
    * block with cosine ≥ τ. τ = 0.35 is set for the testdata distribution
    * (max within-block cosine ≈ 0.47); the threshold compares
    * deterministically because both engines compute identical doubles.
    */
  def pairwiseSimilarity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // shared memoized pair stream (x20's clustering reads the same
    // frame); this query is the deterministic sort over it
    CorpusIndex.embPairs(spark, dir)
      .orderBy($"label", $"vec_a", $"vec_b")
  }

  /** The unsorted core behind X4 — the frame [[CorpusIndex.embPairs]]
    * memoizes (sorting belongs to the registered output, not to the
    * graph consumers).
    */
  private[graft] def pairwiseSimilarityUnsorted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", $"embedding",
        dotQ($"embedding", $"embedding").as("nq"))
    val a = e.select($"vec_id".as("vec_a"), $"label",
      $"embedding".as("emb_a"), $"nq".as("nq_a"))
    val b = e.select($"vec_id".as("vec_b"), $"label".as("label_b"),
      $"embedding".as("emb_b"), $"nq".as("nq_b"))
    a.join(b, $"label" === $"label_b" && $"vec_a" < $"vec_b")
      .select($"label", $"vec_a", $"vec_b",
        cosQ(dotQ($"emb_a", $"emb_b"), $"nq_a", $"nq_b").as("cos_sim"))
      .filter($"cos_sim" >= 0.35)
  }

  val pairwiseSimilaritySql: String = {
    val dq = sqlDotQ("a.embedding", "b.embedding")
    s"""WITH e AS (SELECT vec_id, label, embedding,
       |                  ${sqlDotQ("embedding", "embedding")} AS nq
       |           FROM embeddings)
       |SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |       ${sqlCosQ(dq, "a.nq", "b.nq")} AS cos_sim
       |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE ${sqlCosQ(dq, "a.nq", "b.nq")} >= 0.35
       |ORDER BY label, vec_a, vec_b""".stripMargin
  }

  private val nPlanes = 8
  private val hashRange = 1099511627776.0 // 2^40, md5Long40's range

  /** X3 scale path — LSH-bucketed approximate nearest neighbors via random
    * hyperplanes: 8 deterministic md5-derived planes give every vector an
    * 8-bit sign bucket; candidates for a query are only the vectors in its
    * bucket (1/256 of the corpus in expectation), reranked by exact
    * cosine, top-5 per query.
    *
    * This is the shape that survives 100 TB where brute force (X3) cannot:
    * bucketing is one keyed aggregation over (vector × plane) partial
    * dots, the candidate join is keyed on the bucket id — work scales with
    * bucket sizes, never |corpus|². (Recall tuning = more/fewer planes or
    * multi-probe; the bucket join shape is unchanged.)
    *
    * Determinism for the oracle: plane coefficients derive from
    * md5Long40("plane_p_d") (engine-portable), partial dots go through the
    * same i64 quantization as every cosine, and the rerank breaks ties on
    * vec_id.
    */
  /** Shared LSH state: per-vector signed projections against the 8
    * deterministic hyperplanes, and the derived bucket + self-norm table.
    * Returns (proj = (vec_id, p, dotq), indexed = (vec_id, label,
    * embedding, bucket, nq)).
    */
  private def lshState(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    // deterministic hyperplanes: coef(p, d) ∈ [-0.5, 0.5)
    val planes = spark.range(0, nPlanes * 64L).select(
      (($"id" / 64).cast("int")).as("p"),
      ($"id" % 64).cast("int").as("d"),
      (md5Long40(concat_ws("_", lit("plane"), ($"id" / 64).cast("int"), ($"id" % 64).cast("int")))
        .cast("double") / hashRange - 0.5).as("coef"))
    val dims = e.select($"vec_id", posexplode($"embedding").as(Seq("d", "x")))
    val proj = dims.join(broadcast(planes), "d")
      .groupBy($"vec_id", $"p")
      .agg(sum(floor($"x".cast("double") * $"coef" * 1e15).cast("long")).as("dotq"))
    val buckets = proj.groupBy($"vec_id")
      .agg(sum(when($"dotq" > 0, expr("shiftleft(CAST(1 AS BIGINT), p)"))
        .otherwise(0L)).as("bucket"))
    val indexed = e.join(buckets, "vec_id")
      .select($"vec_id", $"label", $"embedding", $"bucket",
        dotQ($"embedding", $"embedding").as("nq"))
    (proj, indexed)
  }

  /** Exact-cosine rerank of (query × candidate) rows to top-5 per query. */
  private[graft] def rerankTop5(cands: DataFrame): DataFrame = {
    import cands.sparkSession.implicits._
    val byQuery = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id".asc)
    cands
      .withColumn("rnk", row_number().over(byQuery))
      .filter($"rnk" <= 5)
      .select($"query_id", $"rnk", $"vec_id", $"cos_sim")
      .orderBy($"query_id", $"rnk")
  }

  /** Generalized multi-probe LSH candidate set (the sweep axis behind
    * x14/x21 — see graft.AnnSweep / ANN_SWEEP.md): each query probes its
    * own bucket plus the buckets across its `nprobes - 1` least-confident
    * hyperplanes (smallest |dotq|, ties on plane index — deterministic).
    * nprobes = 1 is exactly x14's candidate set; nprobes = 2 is x21's;
    * each step adds a bucket, so candidates grow as a strict superset and
    * recall is monotone in nprobes (pinned in TextVectorSpec).
    */
  private[graft] def lshCandidates(spark: SparkSession, dir: String,
      nprobes: Int): DataFrame = {
    import spark.implicits._
    val (proj, indexed) = lshState(spark, dir)
    val byConfidence = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy(abs($"dotq").asc, $"p".asc)
    val flips = proj
      .withColumn("rn", row_number().over(byConfidence))
      .filter($"rn" <= nprobes - 1)
      .groupBy($"vec_id")
      .agg(collect_list(struct($"rn", $"p")).as("flips"))
      .select($"vec_id",
        transform(array_sort($"flips"), f => f.getField("p")).as("pflips"))
    val q = indexed.filter($"vec_id" < 3)
      .join(flips, Seq("vec_id"), "left")
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nq".as("qnq"),
        explode(concat(array($"bucket"),
          transform(coalesce($"pflips", array()),
            // 1L << p for p < 8 — exact in double
            p => $"bucket".bitwiseXOR(
              pow(lit(2.0), p.cast("double")).cast("long")))))
          .as("probe"))
    indexed.join(broadcast(q),
        $"bucket" === $"probe" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosQ(dotQ($"embedding", $"qe"), $"nq", $"qnq").as("cos_sim"))
  }

  def annLshTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, indexed) = lshState(spark, dir)
    // 3 fixed query vectors → same-bucket candidates → exact-cosine rerank
    val q = indexed.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"),
        $"bucket".as("qbucket"), $"nq".as("qnq"))
    rerankTop5(indexed.join(broadcast(q),
      $"bucket" === $"qbucket" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosQ(dotQ($"embedding", $"qe"), $"nq", $"qnq").as("cos_sim")))
  }

  /** X-multiprobe — multi-probe LSH: each query probes its own bucket AND
    * the bucket across its least-confident hyperplane (the plane with the
    * smallest |projection| — the boundary the vector most nearly
    * straddles, where a true neighbor most likely landed on the other
    * side). Doubles candidate recall for one extra keyed lookup, with the
    * probe choice fully deterministic (|dotq| is exact i64; ties break on
    * plane index) so the oracle reproduces it bit-for-bit.
    */
  def annMultiProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (proj, indexed) = lshState(spark, dir)
    val byConfidence = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy(abs($"dotq").asc, $"p".asc)
    val flipBit = proj
      .withColumn("rn", row_number().over(byConfidence))
      .filter($"rn" === 1)
      .select($"vec_id", $"p".as("pstar"))
    val q = indexed.filter($"vec_id" < 3)
      .join(flipBit, "vec_id")
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nq".as("qnq"),
        explode(array($"bucket",
          $"bucket".bitwiseXOR(expr("shiftleft(CAST(1 AS BIGINT), pstar)"))))
          .as("probe"))
    rerankTop5(indexed.join(broadcast(q),
      $"bucket" === $"probe" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosQ(dotQ($"embedding", $"qe"), $"nq", $"qnq").as("cos_sim")))
  }

  /** Shared LSH CTE chain (planes → projections → buckets → indexed). */
  private val lshCtes: String = {
    val planeHash = sqlMd5Long40("concat_ws('_', 'plane', CAST(i // 64 AS INT), CAST(i % 64 AS INT))")
    s"""planes AS (
       |  SELECT CAST(i // 64 AS INT) AS p, CAST(i % 64 AS INT) AS d,
       |         $planeHash / 1099511627776.0 - 0.5 AS coef
       |  FROM range(0, ${nPlanes * 64}) t(i)),
       |dims AS (
       |  SELECT vec_id, CAST(u.d AS INT) AS d,
       |         CAST(embedding[u.d + 1] AS DOUBLE) AS x
       |  FROM embeddings, LATERAL unnest(generate_series(0, 63)) AS u(d)),
       |proj AS (
       |  SELECT vec_id, p,
       |         CAST(sum(CAST(floor(x * coef * 1e15) AS BIGINT)) AS BIGINT) AS dotq
       |  FROM dims JOIN planes USING (d)
       |  GROUP BY vec_id, p),
       |buckets AS (
       |  SELECT vec_id,
       |         CAST(sum(CASE WHEN dotq > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id),
       |e AS (
       |  SELECT emb.vec_id, emb.embedding, b.bucket,
       |         ${sqlDotQ("emb.embedding", "emb.embedding")} AS nq
       |  FROM embeddings emb JOIN buckets b ON emb.vec_id = b.vec_id)""".stripMargin
  }

  private val rerankSql: String =
    """SELECT query_id, rnk, vec_id, cos_sim
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |                                   ORDER BY cos_sim DESC, vec_id ASC) AS rnk
      |      FROM reranked)
      |WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin

  val annLshTopKSql: String = {
    val dq = sqlDotQ("c.embedding", "q.embedding")
    s"""WITH $lshCtes,
       |reranked AS (
       |  SELECT q.vec_id AS query_id, c.vec_id,
       |         ${sqlCosQ(dq, "c.nq", "q.nq")} AS cos_sim
       |  FROM e c JOIN e q
       |    ON c.bucket = q.bucket AND q.vec_id < 3 AND c.vec_id <> q.vec_id)
       |$rerankSql""".stripMargin
  }

  val annMultiProbeSql: String = {
    val dq = sqlDotQ("c.embedding", "q.embedding")
    s"""WITH $lshCtes,
       |flip AS (
       |  SELECT vec_id, p AS pstar
       |  FROM (SELECT vec_id, p,
       |               row_number() OVER (PARTITION BY vec_id
       |                                  ORDER BY abs(dotq) ASC, p ASC) AS rn
       |        FROM proj)
       |  WHERE rn = 1),
       |q AS (
       |  SELECT e.vec_id AS query_id, e.embedding AS qe, e.nq AS qnq,
       |         unnest([e.bucket, xor(e.bucket, CAST(1 << pstar AS BIGINT))]) AS probe
       |  FROM e JOIN flip ON e.vec_id = flip.vec_id
       |  WHERE e.vec_id < 3),
       |reranked AS (
       |  SELECT q.query_id, c.vec_id,
       |         ${sqlCosQ(sqlDotQ("c.embedding", "q.qe"), "c.nq", "q.qnq")} AS cos_sim
       |  FROM e c JOIN q
       |    ON c.bucket = q.probe AND c.vec_id <> q.query_id)
       |$rerankSql""".stripMargin
  }

  /** X-ann-ivf — the other standard ANN scale path: an IVF (inverted
    * file) index with an MLlib KMeans coarse quantizer. Vectors are
    * assigned to their nearest of 16 centroids at INDEX BUILD — a
    * separate, once-per-corpus stage ([[buildIvfIndex]], memoized per
    * session+dir and materialized via localCheckpoint, the local stand-in
    * for a persisted index artifact). The QUERY path ([[ivfProbe]]) never
    * refits or re-derives assignments: it ranks cells by exact centroid
    * distance, probes the nearest `nprobe` inverted lists, and reranks
    * candidates by exact cosine. Same bucket-join shape as the LSH
    * variant (x14) with a learned partition instead of a random one.
    *
    * nprobe trades candidates for recall (monotone by construction — more
    * probed cells is a candidate superset). The measured sweep on this
    * corpus is committed in ANN_SWEEP.md; the registered query uses
    * nprobe=2 (recall plateau at ~2× the nprobe=1 candidate cost).
    *
    * No DuckDB oracle: k-means centroids depend on float reduction order
    * (treeAggregate), so cross-engine bit-parity is not meaningful —
    * VectorSpec instead asserts recall against the brute-force top-k
    * (the correct acceptance test for an ANN index), and the driver
    * records the rows-only check.
    */
  final case class IvfIndex(assigned: DataFrame, centroids: DataFrame)

  private val ivfIndexes = graft.SessionArtifacts.Slot[IvfIndex]("Vector.ivfIndex")

  /** Build-once accessor: the index for (session, dir), fitting only on
    * first use — index construction is charged to the build, not to every
    * probe (round-3 verdict item 6).
    */
  private[graft] def ivfIndex(spark: SparkSession, dir: String): IvfIndex =
    ivfIndexes(spark, dir)(buildIvfIndex(spark, dir))

  /** IVF index build: KMeans fit + nearest-centroid assignment,
    * materialized (localCheckpoint) so no probe re-executes the fit
    * lineage; plus the 16-row centroid table the probe ranks against.
    */
  private[graft] def buildIvfIndex(spark: SparkSession, dir: String): IvfIndex = {
    import spark.implicits._
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val e = Tables.embeddings(spark, dir)
      .withColumn("features", array_to_vector($"embedding"))
    val model = new KMeans()
      .setK(16).setSeed(42L).setMaxIter(5).setFeaturesCol("features")
      .fit(e)
    val assigned = model.transform(e)
      .select($"vec_id", $"label", $"embedding",
        $"prediction".as("cell"),
        dotQ($"embedding", $"embedding").as("nq"))
      .localCheckpoint()
    val centroids = model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray) }
      .toDF("cell", "centroid")
    IvfIndex(assigned, centroids)
  }

  /** Probe-only query path: rank cells by exact squared centroid distance
    * (3 queries × 16 centroids — the HOF lambda cost is irrelevant at
    * this width), take the nearest `nprobe`, join candidates from those
    * inverted lists keyed on the cell id, rerank by exact cosine, top-5
    * per query. Each vector lives in exactly one cell and the probed
    * cells per query are distinct, so no candidate dedup is needed.
    */
  private[graft] def ivfProbe(index: IvfIndex, nprobe: Int): DataFrame =
    rerankTop5(ivfCandidates(index, nprobe))

  /** The scored candidate set a probe scans (the cost axis of the
    * recall/cost sweep — see graft.AnnSweep / ANN_SWEEP.md).
    */
  private[graft] def ivfCandidates(index: IvfIndex, nprobe: Int): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.assigned
      .join(broadcast(ivfProbedCells(index, nprobe)), Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosQ(dotQ($"embedding", $"qe"), $"nq", $"qnq").as("cos_sim"))
  }

  /** The probed (cell, query) assignment: each query's `nprobe` nearest
    * cells by exact centroid distance (3 queries × 16 centroids — tiny).
    * Shared by the plain IVF probe and the composed IVF-PQ probe (x79).
    */
  private[graft] def ivfProbedCells(index: IvfIndex, nprobe: Int): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val q = index.assigned.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nq".as("qnq"))
    val byDist = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"dist2".asc, $"cell".asc)
    q.crossJoin(broadcast(index.centroids))
      .withColumn("dist2", aggregate(
        zip_with($"qe", $"centroid", (x, c) => {
          val d = x.cast("double") - c; d * d
        }),
        lit(0.0), (acc, t) => acc + t))
      .withColumn("rn", row_number().over(byDist))
      .filter($"rn" <= nprobe)
      .select($"cell", $"query_id", $"qe", $"qnq")
  }

  private[graft] def ivfCandidateCount(index: IvfIndex, nprobe: Int): Long =
    ivfCandidates(index, nprobe).count()

  /** X19's registered form, re-pointed at the INTEGER-EXACT Lloyd
    * coarse quantizer (round-15 verdict item 2): same probe shape,
    * same dials (nprobe = 2, top-5, the `vec_id < 3` query band), same
    * output schema — but the trained cells are now bit-identical
    * cross-engine, so the query gets x166's full training-included
    * DuckDB oracle instead of the rows-only record the MLlib fit
    * forced. The MLlib index ([[ivfIndex]]/[[ivfProbe]]) stays a
    * sweep-only seam — graft.LloydSweep still measures exact-vs-MLlib
    * recall parity per dial (ANN_SWEEP.md §x166). */
  def annIvfTopK(spark: SparkSession, dir: String): DataFrame =
    LloydIvf.probe(LloydIvf.lloydIndex(spark, dir), nprobe = 2)

  /** X-embedding-near-dup — embedding-cosine near-duplicate *clusters*:
    * the X4 threshold pairs fed through the same distributed
    * connected-components used for text near-dups (Dedup.dupClusters),
    * labeling every vector with its duplicate-cluster representative.
    * Demonstrates the modality-agnostic dedup decision stage: any
    * pair-producer (text Jaccard, embedding cosine, LSH) plugs into the
    * same clustering.
    */
  def embeddingNearDupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // shared memoized X4 pair stream (unsorted — CC symmetrizes anyway)
    val pairs = CorpusIndex.embPairs(spark, dir)
      .select($"vec_a".as("doc_a"), $"vec_b".as("doc_b"))
    // rename the CC label: embeddings has its own `label` (class) column
    val labels = Dedup.connectedComponents(pairs)
      .select($"doc", $"label".as("cc_label"))
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id")
    Tables.embeddings(spark, dir)
      .join(labels, $"vec_id" === $"doc", "left")
      .select($"vec_id", $"label".as("emb_label"),
        coalesce($"cc_label", $"vec_id").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(byCluster))
      .orderBy($"vec_id")
  }

  val embeddingNearDupClustersSql: String = {
    val dq = sqlDotQ("a.embedding", "b.embedding")
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, label, embedding,
       |         ${sqlDotQ("embedding", "embedding")} AS nq
       |  FROM embeddings),
       |pairs AS (
       |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE ${sqlCosQ(dq, "a.nq", "b.nq")} >= 0.35),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION
       |  SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
       |comp AS (
       |  SELECT a AS doc, least(a, min(b)) AS cluster_id
       |  FROM reach GROUP BY a)
       |SELECT emb.vec_id, emb.label AS emb_label,
       |       coalesce(c.cluster_id, emb.vec_id) AS cluster_id,
       |       count(*) OVER (PARTITION BY coalesce(c.cluster_id, emb.vec_id)) AS cluster_size
       |FROM embeddings emb LEFT JOIN comp c ON emb.vec_id = c.doc
       |ORDER BY emb.vec_id""".stripMargin
  }

  /** X-ann-pq — product quantization, the memory-side ANN scale trick:
    * split the D=64-dim space into M=8 subspaces of 8 dims, learn a
    * K=16-centroid codebook per subspace (seeded MLlib KMeans on the
    * slices), and store every vector as M one-byte codes — a 64-float
    * vector becomes 8 small ints, a ~32× footprint cut, which is what
    * makes billion-vector indexes fit a cluster's memory at 100 TB.
    *
    * Query path (asymmetric distance computation, ADC): per query, the
    * exact squared distance from the query's slice to EVERY centroid of
    * every subspace forms a tiny M×K lookup table (built distributed via
    * a broadcast cross join + ordered array_sort fold — never a driver
    * collect); approximate distance to a stored vector is then the sum of
    * M table lookups on its codes — row-local, codegen'd, touching only
    * the codes, never the original floats. The nearest `CandK` by ADC
    * are reranked by exact cosine (same [[rerankTop5]] seam as
    * LSH/IVF). The rank filter gets Spark's map-side WindowGroupLimit.
    *
    * Index build is once-per-(session, dir), memoized and materialized
    * exactly like the IVF index ([[pqIndex]]); the codebook table is
    * M×K rows of 8-dim arrays — broadcastable at any corpus size.
    *
    * No DuckDB oracle (k-means float-order nondeterminism, as X19);
    * VectorSpec asserts recall vs the brute-force top-5 and the driver
    * records the rows-only check.
    */
  val PqM = 8 // subspaces
  val PqSub = 8 // dims per subspace (M * Sub = 64)
  val PqK = 16 // centroids per subspace codebook
  val PqCandK = 48 // ADC candidates entering exact rerank, per query

  final case class PqIndex(encoded: DataFrame, codebooks: DataFrame)

  private val pqIndexes = graft.SessionArtifacts.Slot[PqIndex]("Vector.pqIndex")

  private[graft] def pqIndex(spark: SparkSession, dir: String): PqIndex =
    pqIndexes(spark, dir)(buildPqIndex(spark, dir))

  /** PQ index build: M seeded KMeans fits on the 8-dim slices, vectors
    * encoded to their per-subspace nearest-centroid codes, materialized
    * via localCheckpoint; plus the M×K codebook table.
    */
  private[graft] def buildPqIndex(spark: SparkSession, dir: String): PqIndex = {
    import spark.implicits._
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val e = Tables.embeddings(spark, dir)
    val sliced = (0 until PqM).foldLeft(e) { (df, j) =>
      df.withColumn(s"f_$j",
        array_to_vector(slice($"embedding", j * PqSub + 1, PqSub)))
    }
    val models = (0 until PqM).map { j =>
      new KMeans().setK(PqK).setSeed(42L + j).setMaxIter(5)
        .setFeaturesCol(s"f_$j").setPredictionCol(s"code_$j")
        .fit(sliced)
    }
    val encoded = models.zipWithIndex
      .foldLeft(sliced) { case (df, (m, _)) => m.transform(df) }
      .select(Seq($"vec_id", $"embedding",
        dotQ($"embedding", $"embedding").as("nq")) ++
        (0 until PqM).map(j => col(s"code_$j")): _*)
      .localCheckpoint()
    val codebooks = models.zipWithIndex.flatMap { case (m, j) =>
      m.clusterCenters.zipWithIndex.map { case (c, k) => (j, k, c.toArray) }
    }.toDF("sub", "code", "centroid")
    PqIndex(encoded, codebooks)
  }

  /** ADC probe: broadcast M×K lookup tables per query, approximate
    * distance = sum of M code lookups, top-`candK` by ADC, exact
    * cosine rerank, top-5. `candK` (default [[PqCandK]], the registered
    * form) is PQ's recall/cost dial — the number of exact-float rows the
    * rerank touches per query; the ADC scan itself always reads every
    * row's M bytes of codes, never the floats (see graft.AnnSweep).
    */
  private[graft] def pqProbe(index: PqIndex,
      candK: Int = PqCandK): DataFrame =
    rerankTop5(pqCandidates(index, candK))

  /** Per-query ADC lookup tables, ordered by (sub, code) into one flat
    * array so a code lookup is element_at(lut, sub*K + code + 1).
    * Shared by the plain PQ probe and the composed IVF-PQ probe (x79).
    */
  private[graft] def pqLuts(index: PqIndex): DataFrame = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    index.encoded.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nq".as("qnq"))
      .crossJoin(broadcast(index.codebooks))
      .withColumn("d2", aggregate(
        zip_with(slice($"qe", $"sub" * PqSub + 1, lit(PqSub)), $"centroid",
          (x, c) => { val d = x.cast("double") - c; d * d }),
        lit(0.0), (acc, t) => acc + t))
      .groupBy($"query_id", $"qe", $"qnq")
      .agg(transform(
        array_sort(collect_list(struct($"sub", $"code", $"d2"))),
        s => s.getField("d2")).as("lut"))
  }

  /** Approximate squared distance: sum of M code lookups in the lut. */
  private def adcExpr = (0 until PqM)
    .map(j => element_at(col("lut"), col(s"code_$j") + lit(j * PqK + 1)))
    .reduce(_ + _)

  /** The scored exact-rerank candidate set an ADC probe admits (the cost
    * axis of the PQ recall/cost sweep — graft.AnnSweep / ANN_SWEEP.md).
    */
  private[graft] def pqCandidates(index: PqIndex, candK: Int): DataFrame = {
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

  /** X31's registered form, re-pointed at the INTEGER-EXACT Lloyd
    * codebooks (round-15 verdict item 2): same ADC probe shape, same
    * dials (candK = 48, top-5, the `vec_id < 3` band), same output
    * schema — trained codebooks now bit-identical cross-engine, so the
    * query gets x173's training-included oracle. The MLlib index
    * ([[pqIndex]]/[[pqProbe]]) stays a sweep-only seam (PqSeedSweep /
    * LloydSweep recall parity, ANN_SWEEP.md §x173). */
  def annPqTopK(spark: SparkSession, dir: String): DataFrame =
    LloydPq.probe(LloydPq.pqLloydIndex(spark, dir))

  /** X79 — composed IVF-PQ (the production billion-vector layout): IVF
    * bounds the candidate set to the query's `nprobe` nearest cells (a
    * keyed join, ~nprobe/16 of the corpus), the ADC pass ranks ONLY
    * those members by their M=8 code bytes (never touching floats), and
    * exact-cosine rerank pays for just `candK` rows per query. Cell
    * filter, code scan, and rerank each bound a different resource —
    * scan I/O, memory bandwidth, exact-distance CPU — which is why the
    * composition is the standard at open scale.
    *
    * What it does and does not fix (measured, ANN_SWEEP.md): the cell
    * bound cuts the decoy pool ADC ranks against by a CONSTANT factor
    * (16/nprobe) — at equal recall the composition reranks ~1/3 the
    * rows of flat PQ on the 500-vector corpus — but the pool still
    * GROWS with the corpus, so a fixed candK degrades at 10× exactly as
    * flat PQ does on these near-uniform vectors (margins ≪ ADC noise,
    * the quantizer's worst regime). The operational rule stands either
    * way: candK tracks the probed-cell population (a per-partition
    * fraction, trivial in the cell-partitioned layout), not a constant.
    *
    * Both stages reuse the memoized per-(session, dir) indexes and the
    * factored seams ([[ivfProbedCells]], [[pqLuts]]); in production the
    * codes live cell-partitioned next to the IVF lists, so the
    * codes-join below disappears into the index layout. No DuckDB
    * oracle (two k-means fits — x19/x31's declared reason); recall and
    * the candidate-containment contract are pinned in TextVectorSpec.
    */
  val IvfPqNprobe = 4
  val IvfPqCandK = 48

  /** X79's registered form, re-pointed at the INTEGER-EXACT IVFADC
    * index (round-15 verdict item 2): the same composed shape at the
    * same dials (nprobe = 4, candK = 48), now against x178's
    * residual-PQ index whose two trainings are both inside the oracle
    * hash. The MLlib composition ([[ivfPqProbe]]) stays a sweep-only
    * seam. */
  def annIvfPqTopK(spark: SparkSession, dir: String): DataFrame =
    LloydIvfPq.probe(LloydIvfPq.ivfPqIndex(spark, dir),
      IvfPqNprobe, IvfPqCandK)

  private[graft] def ivfPqProbe(ivf: IvfIndex, pq: PqIndex,
      nprobe: Int, candK: Int): DataFrame =
    rerankTop5(ivfPqCandidates(ivf, pq, nprobe, candK))

  private[graft] def ivfPqCandidates(ivf: IvfIndex, pq: PqIndex,
      nprobe: Int, candK: Int): DataFrame = {
    val spark = ivf.assigned.sparkSession
    import spark.implicits._
    val luts = ivfProbedCells(ivf, nprobe).drop("qe", "qnq")
      .join(pqLuts(pq), Seq("query_id"))
    val byAdc = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"approx_d2".asc, $"vec_id".asc)
    ivf.assigned.select($"vec_id", $"cell")
      .join(pq.encoded, Seq("vec_id"))
      .join(broadcast(luts), Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .withColumn("approx_d2", adcExpr)
      .withColumn("arn", row_number().over(byAdc))
      .filter($"arn" <= candK)
      .select($"query_id", $"vec_id",
        cosQ(dotQ($"embedding", $"qe"), $"nq", $"qnq").as("cos_sim"))
  }

  /** Round-11 stretch (verdict item 6): X87's residual symmetrization
    * applied to X79's candidate stage. A vector enters a query's pool
    * if the query probes the vector's cell (forward — the plain form)
    * OR the query's own home cell is among the VECTOR's `nprobe`
    * nearest cells (reverse). Near a cell boundary the two criteria
    * disagree — forward misses v exactly when v's cell is outside the
    * query's probe list even though v itself sits close to the
    * query's cell — so the union loses a neighbor only when BOTH
    * directions miss, the same un-squared reciprocity argument as
    * [[ivfDirectedKnnSym]].
    *
    * Cost shape at scale: the reverse lists (each vector's `nprobe`
    * nearest cells) are an index-side artifact — the standard
    * multi-probe-assignment layout, built once per corpus by the same
    * distance pass that assigns home cells — so probe time pays one
    * extra keyed join of those lists against the query's single home
    * cell plus a distinct on the unioned pair stream; the ADC scan and
    * the exact rerank stay candK-bounded per query exactly as in the
    * plain form. Measured (ANN_SWEEP.md): never worse than plain at
    * any of the nine measured dials, up to +0.14 recall@5 at the same
    * rerank budget (sf0.01 nprobe=2: 0.33 → 0.47; sf0.1 nprobe=4:
    * 0.47 → 0.60) — but sym at nprobe=4 does NOT reach plain
    * nprobe=8 (0.73 vs 0.93 at sf0.01), so the reverse pool is a
    * cheap recall supplement, not a probe-halving substitute. The
    * registered x79 stays the plain form (its probed-cell containment
    * contract is part of its pinned semantics); the sym form is
    * REGISTERED as its own query, x151 (round-12 verdict item 3 —
    * leave no measured win unregistered), rows-only for x79's exact
    * trained-cells reason, with the superset-pool / candK-bound /
    * never-worse-recall contracts pinned in TextVectorSpec.
    */
  /** X151 — the symmetrized IVF-PQ probe at x79's registered dial,
    * re-pointed at the integer-exact IVFADC index (round-15 verdict
    * item 2) so the reverse-probe pool gets an oracle too — see
    * [[LloydIvfPq.candidatesSym]] for the exact-index mechanics (the
    * reverse lists are map-only there). The MLlib composition
    * ([[ivfPqProbeSym]]) stays a sweep-only seam. */
  def annIvfPqSymTopK(spark: SparkSession, dir: String): DataFrame =
    LloydIvfPq.probeSym(LloydIvfPq.ivfPqIndex(spark, dir),
      IvfPqNprobe, IvfPqCandK)

  private[graft] def ivfPqProbeSym(ivf: IvfIndex, pq: PqIndex,
      nprobe: Int, candK: Int): DataFrame =
    rerankTop5(ivfPqCandidatesSym(ivf, pq, nprobe, candK))

  private[graft] def ivfPqCandidatesSym(ivf: IvfIndex, pq: PqIndex,
      nprobe: Int, candK: Int): DataFrame = {
    val spark = ivf.assigned.sparkSession
    import spark.implicits._
    // forward: the query probes the vector's home cell
    val fwd = ivf.assigned.select($"vec_id", $"cell")
      .join(broadcast(ivfProbedCells(ivf, nprobe)
        .select($"cell", $"query_id")), Seq("cell"))
      .select($"query_id", $"vec_id")
    // reverse: the vector's nprobe nearest cells include the query's
    // home cell (index-side multi-assignment lists in production)
    val byDist = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"dist2".asc, $"cell".asc)
    val vprobes = ivf.assigned.select($"vec_id", $"embedding")
      .crossJoin(broadcast(ivf.centroids))
      .withColumn("dist2", aggregate(
        zip_with($"embedding", $"centroid", (x, c) => {
          val d = x.cast("double") - c; d * d
        }),
        lit(0.0), (acc, t) => acc + t))
      .withColumn("rn", row_number().over(byDist))
      .filter($"rn" <= nprobe)
      .select($"vec_id", $"cell")
    val qhome = ivf.assigned.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"cell")
    val rev = vprobes.join(broadcast(qhome), Seq("cell"))
      .select($"query_id", $"vec_id")
    val byAdc = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"approx_d2".asc, $"vec_id".asc)
    fwd.union(rev).distinct()
      .filter($"vec_id" =!= $"query_id")
      .join(pq.encoded, Seq("vec_id"))
      .join(broadcast(pqLuts(pq)), Seq("query_id"))
      .withColumn("approx_d2", adcExpr)
      .withColumn("arn", row_number().over(byAdc))
      .filter($"arn" <= candK)
      .select($"query_id", $"vec_id",
        cosQ(dotQ($"embedding", $"qe"), $"nq", $"qnq").as("cos_sim"))
  }

  /** X51 — hard-negative mining: for each query vector, the [[NegK]]
    * most-similar vectors with a DIFFERENT label — the contrastive-
    * training data build (hard negatives are what make the loss
    * informative; random negatives are trivially separable). Queries
    * are the vec_id < [[NegQueries]] slice; candidates are the whole
    * corpus minus the query's own label.
    *
    * Scale shape: the query slice broadcasts (a non-equi label-filter
    * join — BroadcastNestedLoopJoin of a bounded side, the allowed
    * form); per-query top-K is a window over q_id with the map-side
    * WindowGroupLimit cap. Brute force is the exact baseline at this
    * corpus size — at open scale the candidate stream comes from the
    * X19/X21 ANN prefilter instead, same downstream shape. Cosines are
    * the quantized-dot form — bit-identical cross-engine.
    */
  val NegK = 3
  val NegQueries = 50

  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", $"embedding",
        dotQ($"embedding", $"embedding").as("nrm"))
    val q = e.filter($"vec_id" < NegQueries)
      .select($"vec_id".as("q_id"), $"label".as("q_label"),
        $"embedding".as("qe"), $"nrm".as("qn"))
    val ranked = e.join(broadcast(q), $"label" =!= $"q_label")
      .select($"q_id", $"vec_id".as("neg_id"),
        cosQ(dotQ($"embedding", $"qe"), $"nrm", $"qn").as("cos_sim"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"q_id").orderBy($"cos_sim".desc, $"neg_id".asc)))
      .filter($"rk" <= NegK)
    ranked.select($"q_id", $"rk".cast("long").as("rk"), $"neg_id", $"cos_sim")
      .orderBy($"q_id", $"rk")
  }

  val hardNegativesSql: String = {
    val dq = sqlDotQ("e.embedding", "q.qe")
    val ne = sqlDotQ("e.embedding", "e.embedding")
    val nq = sqlDotQ("q.qe", "q.qe")
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, label AS q_label, embedding AS qe
       |  FROM embeddings WHERE vec_id < $NegQueries),
       |c AS (
       |  SELECT q.q_id, e.vec_id AS neg_id,
       |         ${sqlCosQ(dq, ne, nq)} AS cos_sim
       |  FROM embeddings e, q
       |  WHERE e.label <> q.q_label),
       |r AS (
       |  SELECT q_id, neg_id, cos_sim,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY cos_sim DESC, neg_id ASC) AS rk
       |  FROM c)
       |SELECT q_id, CAST(rk AS BIGINT) AS rk, neg_id, cos_sim
       |FROM r WHERE rk <= $NegK
       |ORDER BY q_id, rk""".stripMargin
  }

  /** X87 — mutual k-NN graph: pairs (a, b) where b is in a's
    * [[MutualK]]-nearest list AND a is in b's — the reciprocity filter
    * that turns a directed neighbor list into the graph behind coreset
    * selection, diversity sampling, and density-based outlier screens
    * (a point whose neighbors don't reciprocate sits on a cluster
    * boundary; a mutual pair is inside one). Directed lists are exact
    * per-label-block top-k (the X4 blocking); the mutual step is ONE
    * self-join of k-bounded lists — |corpus|·k rows, never pairs².
    *
    * Scale shape: [[mutualFromDirected]] is the seam — at open scale
    * the directed list comes from the X14/X19/X21 ANN index instead of
    * the exact block join, and the reciprocity join shape is unchanged
    * (corpus·k vs corpus·k, keyed on the pair). Per-vector top-k is a
    * window over vec_a with the map-side WindowGroupLimit cap (the
    * x29/x51 idiom). Cosines are the quantized-dot form; ranks break
    * ties on vec_id — bit-identical cross-engine.
    */
  val MutualK = 5

  def mutualKnn(spark: SparkSession, dir: String): DataFrame =
    mutualKnnOf(Tables.embeddings(spark, dir), MutualK)

  /** Core of X87 over any (vec_id, label, embedding) frame; test seam. */
  private[graft] def mutualKnnOf(emb: DataFrame, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = emb.select($"vec_id", $"label", $"embedding",
      dotQ($"embedding", $"embedding").as("nq"))
    val a = e.select($"vec_id".as("vec_a"), $"label",
      $"embedding".as("emb_a"), $"nq".as("nq_a"))
    val b = e.select($"vec_id".as("vec_b"), $"label".as("label_b"),
      $"embedding".as("emb_b"), $"nq".as("nq_b"))
    val directed = a.join(b, $"label" === $"label_b" && $"vec_a" =!= $"vec_b")
      .select($"label", $"vec_a", $"vec_b",
        cosQ(dotQ($"emb_a", $"emb_b"), $"nq_a", $"nq_b").as("cos_sim"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"vec_a").orderBy($"cos_sim".desc, $"vec_b".asc)))
      .filter($"rk" <= k)
    mutualFromDirected(directed)
  }

  /** Reciprocity join over ANY directed k-NN list `(label, vec_a,
    * vec_b, cos_sim, rk)` — the scale seam: feed an ANN candidate list
    * (X14/X19/X21) instead of the exact block join and the shape holds.
    */
  private[graft] def mutualFromDirected(directed: DataFrame): DataFrame = {
    val spark = directed.sparkSession
    import spark.implicits._
    val fwd = directed.select($"label", $"vec_a", $"vec_b", $"cos_sim", $"rk")
    val back = directed.select($"vec_a".as("rb"), $"vec_b".as("ra"),
      $"rk".as("rk_back"))
    fwd.join(back, $"vec_a" === $"ra" && $"vec_b" === $"rb")
      .filter($"vec_a" < $"vec_b")
      .select($"label", $"vec_a", $"vec_b", $"cos_sim",
        $"rk".cast("long").as("rank_ab"),
        $"rk_back".cast("long").as("rank_ba"))
      .orderBy($"label", $"vec_a", $"vec_b")
  }

  /** Directed per-vector top-k from the IVF index — the production
    * directed-list producer for X87 at scale: each vector ranks the
    * members of its `nprobe` nearest cells (per-VECTOR probe, unlike
    * the fixed-query probes of x19). Work is corpus · (nprobe/16) of
    * the corpus per row instead of per-label blocks. Recall vs the
    * exact GLOBAL mutual graph is measured in MutualKnnSpec: on these
    * near-uniform vectors the reciprocity requirement squares the
    * directed-list miss rate (both endpoints must survive the cell
    * cut), so mutual recall needs a deeper probe than top-k recall —
    * 0.33/0.49/0.80 at nprobe 2/4/8 — mirroring the ANN_SWEEP finding
    * that cell pruning on near-uniform vectors is recall-expensive;
    * clustered production embeddings align cells with neighborhoods.
    */
  private[graft] def ivfDirectedKnn(index: IvfIndex, nprobe: Int, k: Int): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    rankTopK(ivfCandidateEdges(index, nprobe)
      .select($"la".as("label"), $"vec_a", $"vec_b", $"cos_sim"), k)
  }

  /** The per-vector probed candidate edges behind [[ivfDirectedKnn]]:
    * (la, lb, vec_a, vec_b, cos_sim) for every b in a's `nprobe`
    * nearest cells — exact cosines, no rank cut yet. Carries BOTH
    * endpoints' labels so the symmetrized variant can re-key reversed
    * edges.
    */
  private[graft] def ivfCandidateEdges(index: IvfIndex, nprobe: Int): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val byDist = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_a").orderBy($"dist2".asc, $"cell".asc)
    val vcells = index.assigned
      .select($"vec_id".as("vec_a"), $"embedding".as("ea"),
        $"nq".as("na"), $"label".as("la"))
      .crossJoin(broadcast(index.centroids))
      .withColumn("dist2", aggregate(
        zip_with($"ea", $"centroid", (x, c) => {
          val d = x.cast("double") - c; d * d
        }),
        lit(0.0), (acc, t) => acc + t))
      .withColumn("rn", row_number().over(byDist))
      .filter($"rn" <= nprobe)
      .select($"cell", $"vec_a", $"ea", $"na", $"la")
    // each candidate lives in exactly one cell, so no dedup is needed
    val members = index.assigned.select($"cell", $"vec_id".as("vec_b"),
      $"embedding".as("eb"), $"nq".as("nb"), $"label".as("lb"))
    vcells.join(members, Seq("cell")).filter($"vec_a" =!= $"vec_b")
      .select($"la", $"lb", $"vec_a", $"vec_b",
        cosQ(dotQ($"ea", $"eb"), $"na", $"nb").as("cos_sim"))
  }

  /** Round-10 (verdict item 6): residual-symmetrized directed lists — a
    * candidate pair discovered in EITHER direction enters BOTH
    * endpoints' exact-rerank pools before the top-k cut. The mutual
    * graph loses a pair only when BOTH probes miss the other's cell
    * (≈ miss² instead of 1-(1-miss)² ≈ 2·miss — the reciprocity
    * penalty un-squared), for at most 2× the rank-stage rows and zero
    * extra cosine work (quantized cosines are symmetric, so reversed
    * edges reuse the computed score; the one new exchange is the
    * distinct on the symmetrized edge set).
    */
  private[graft] def ivfDirectedKnnSym(index: IvfIndex, nprobe: Int, k: Int): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val cand = ivfCandidateEdges(index, nprobe)
    val sym = cand.select(explode(array(
        struct($"la".as("label"), $"vec_a", $"vec_b", $"cos_sim"),
        struct($"lb".as("label"), $"vec_b".as("vec_a"),
          $"vec_a".as("vec_b"), $"cos_sim"))).as("e"))
      .select($"e.label", $"e.vec_a", $"e.vec_b", $"e.cos_sim")
      .distinct()
    rankTopK(sym, k)
  }

  /** Per-vector top-k cut over a (label, vec_a, vec_b, cos_sim) edge
    * stream (map-side WindowGroupLimit; ties on vec_b).
    */
  private def rankTopK(edges: DataFrame, k: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"vec_a").orderBy($"cos_sim".desc, $"vec_b".asc)))
      .filter($"rk" <= k)
  }

  val mutualKnnSql: String = {
    val dq = sqlDotQ("a.embedding", "b.embedding")
    s"""WITH e AS (SELECT vec_id, label, embedding,
       |                  ${sqlDotQ("embedding", "embedding")} AS nq
       |           FROM embeddings),
       |c AS (
       |  SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |         ${sqlCosQ(dq, "a.nq", "b.nq")} AS cos_sim
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
       |d AS (
       |  SELECT label, vec_a, vec_b, cos_sim,
       |         row_number() OVER (PARTITION BY vec_a
       |           ORDER BY cos_sim DESC, vec_b ASC) AS rk
       |  FROM c),
       |k AS (SELECT * FROM d WHERE rk <= $MutualK)
       |SELECT f.label, f.vec_a, f.vec_b, f.cos_sim,
       |       CAST(f.rk AS BIGINT) AS rank_ab,
       |       CAST(r.rk AS BIGINT) AS rank_ba
       |FROM k f JOIN k r ON f.vec_a = r.vec_b AND f.vec_b = r.vec_a
       |WHERE f.vec_a < f.vec_b
       |ORDER BY f.label, f.vec_a, f.vec_b""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x03_cosine_topk" -> cosineTopK _,
    "x04_pairwise_similarity" -> pairwiseSimilarity _,
    "x14_ann_lsh_topk" -> annLshTopK _,
    "x19_ann_ivf_topk" -> annIvfTopK _,
    "x20_embedding_near_dup" -> embeddingNearDupClusters _,
    "x21_ann_multiprobe" -> annMultiProbe _,
    "x31_ann_pq_topk" -> annPqTopK _,
    "x51_hard_negatives" -> hardNegatives _,
    "x79_ann_ivfpq_topk" -> annIvfPqTopK _,
    "x87_mutual_knn" -> mutualKnn _,
    "x151_ann_ivfpq_sym_topk" -> annIvfPqSymTopK _)

  val oracles: Map[String, String] = Map(
    "x03_cosine_topk" -> cosineTopKSql,
    "x04_pairwise_similarity" -> pairwiseSimilaritySql,
    "x14_ann_lsh_topk" -> annLshTopKSql,
    // round-16: the trained-index probes point at the integer-exact
    // indexes, so each gets its training-included oracle (x19 shares
    // x166's chain, x31 shares x173's; x79/x151 parameterize x178's)
    "x19_ann_ivf_topk" -> LloydIvf.ivfLloydTopKSql,
    "x20_embedding_near_dup" -> embeddingNearDupClustersSql,
    "x21_ann_multiprobe" -> annMultiProbeSql,
    "x31_ann_pq_topk" -> LloydPq.pqLloydTopKSql,
    "x51_hard_negatives" -> hardNegativesSql,
    "x79_ann_ivfpq_topk" ->
      LloydIvfPq.probeSqlPlain(IvfPqNprobe, IvfPqCandK),
    "x87_mutual_knn" -> mutualKnnSql,
    "x151_ann_ivfpq_sym_topk" ->
      LloydIvfPq.probeSqlSym(IvfPqNprobe, IvfPqCandK))
}
