package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashing._

/** Near-duplicate detection over `documents` (SURVEY.md §2.5 X2 plus the
  * north-star fingerprinting set): MinHash+LSH, k-min document
  * fingerprints, and SimHash — all as pure built-in expression pipelines
  * (no UDFs/UDAFs needed: the MinHash signature is `min()` aggregates over
  * affine transforms of one shared 40-bit shingle hash).
  *
  * Every hash step uses the engine-portable `md5Long40` (see
  * graft.functions.Hashing) and exact i64 arithmetic, so the whole
  * pipeline — signatures, band buckets, candidate set, Jaccard scores —
  * is bit-identical in Spark and the DuckDB oracle.
  *
  * Scale discipline (the 100 TB contract for near-dup):
  *  - NEVER all-pairs: candidates come only from LSH band-bucket
  *    collisions (shuffle keyed on (band_idx, band_key); bucket sizes are
  *    the only quadratic term and stay tiny under a decent hash);
  *  - the signature build is one explode + one hash-agg keyed on doc_id —
  *    map-side partial mins, no intermediate materialization;
  *  - verification joins the (small) candidate set against the shingle
  *    table by doc_id — candidate-side broadcastable in practice.
  *
  * LSH calibration: 16 hashes as 8 bands × 2 rows ⇒ s-curve midpoint
  * (1/8)^(1/2) ≈ 0.35, so Jaccard ≥ 0.8 pairs are caught with
  * P ≈ 1-(1-0.64)^8 ≈ 0.9997 while the sub-0.2 background mostly stays
  * out; exact-Jaccard verification with τ = 0.5 then removes false
  * positives deterministically.
  */
object Dedup {

  private[graft] val P = 1099511627689L // ~2^40 modulus for the affine rehashes
  // fixed odd multipliers/offsets for the 16 affine hash functions
  // (a*h < 2^21 * 2^40 < 2^62 — no i64 overflow before the mod)
  private[graft] val A = Array(740041L, 1366889L, 599479L, 1026061L, 1287787L,
    442793L, 897473L, 1610011L, 325249L, 1442987L, 769627L, 1064981L,
    522373L, 1931141L, 678481L, 1204147L)
  private[graft] val B = Array(433493L, 882377L, 1742269L, 266177L, 618439L,
    1470691L, 990151L, 366103L, 1616617L, 810343L, 1206647L, 95089L,
    1883519L, 574297L, 1317121L, 752789L)

  private[graft] val nHashes = 16
  private[graft] val nBands = 8 // × 2 rows per band

  /** Word 3-gram shingle set per document (distinct), as (doc_id, sh).
    *
    * The scan is repartitioned by doc_id before the CPU-heavy shingle
    * expansion: locally the documents table arrives as a single parquet
    * row group (one task — the whole pipeline would run on one core), and
    * the keyed exchange both spreads the expansion across all cores and
    * pre-partitions for every downstream groupBy(doc_id), which then needs
    * no further shuffle. At cluster scale the same exchange is one cheap
    * shuffle of raw text that buys hash-aligned aggregation of the ~50×
    * larger shingle set.
    */
  private def shingles(spark: SparkSession, dir: String): DataFrame =
    CorpusIndex.shingles(spark, dir)

  /** Shingle-set construction over any (doc_id, text) frame (test seam).
    *
    * Lambda-free: zip three shifted slices of the word array and explode.
    * The obvious transform(sequence(…), i => element_at(…)) form is ~7×
    * slower — higher-order-function lambdas evaluate interpreted, one
    * boxed call per element, outside whole-stage codegen.
    * slice/arrays_zip/explode stay codegen'd. trim() before split: no
    * empty tokens, matching the oracle's list_filter(…, w -> w <> '').
    */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame = ngramsOf(docs, 3)

  /** Distinct word n-grams per document, as (doc_id, sh) — the general
    * form of [[shinglesOf]] (X24 decontamination matches on longer
    * n-grams than the 3-gram near-dup shingles). Same lambda-free
    * zip-of-shifted-slices construction at any n.
    */
  private[graft] def ngramsOf(docs: DataFrame, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = split(trim(lower($"text")), "\\s+")
    val len = greatest(size($"words") - (n - 1), lit(0)) // short docs → none
    docs
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .withColumn("words", words)
      .select($"doc_id", explode(arrays_zip(
        (0 until n).map(j => slice($"words", lit(j + 1), len)): _*)).as("z"))
      .select($"doc_id",
        concat_ws(" ", (0 until n).map(j => col(s"z.$j")): _*).as("sh"))
      .distinct()
  }

  /** Shingle CTE over an arbitrary (doc_id, text) relation `src` — the
    * oracle twin of [[shinglesOf]] (x22 shingles only its curation
    * survivors, not the whole corpus).
    */
  private[graft] def shinglesSqlFrom(src: String): String =
    s"""sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS sh
       |  FROM (SELECT doc_id,
       |               list_filter(string_split_regex(lower(text), '\\s+'),
       |                           w -> w <> '') AS words
       |        FROM $src),
       |       LATERAL unnest(generate_series(1, len(words) - 2)) AS u(i))""".stripMargin

  private val shinglesSql: String = shinglesSqlFrom("documents")

  /** Inline (non-hoisted) form of the documents shingle CTE, for chains
    * nested inside an outer MATERIALIZED CTE (see lshCandidateCtesWith).
    */
  private val shinglesSqlInline: String =
    shinglesSqlFrom("documents").replace("sh AS MATERIALIZED (", "sh AS (")

  /** X2 — MinHash signatures → LSH band buckets → candidate pairs →
    * exact-Jaccard verification at τ = 0.5. Reads the shared
    * [[CorpusIndex]] frames — the signature aggregation runs once per
    * (session, dir), not once per family member.
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // shared memoized verify output (one candidate join + exact verify
    // per (session, dir) across x02/x60/x65/x75) — this query is the
    // threshold + deterministic sort over it
    CorpusIndex.minhashScores(spark, dir)
      .filter($"jaccard" >= 0.5)
      .orderBy($"doc_a", $"doc_b")
  }

  /** MinHash signature table (doc_id, n_sh, m0..m15) over a shingle
    * frame — one hash-agg of affine-transformed 40-bit shingle hashes
    * (order-independent mins, so partition layout never matters). Shared
    * by X2 and the streaming near-dup's parity spec.
    */
  private[graft] def minhashSignatures(shingleSet: DataFrame): DataFrame = {
    val spark = shingleSet.sparkSession
    import spark.implicits._
    shingleSet.select($"doc_id", md5Long40($"sh").as("h"))
      .groupBy($"doc_id").agg(
        count(lit(1)).as("n_sh"),
        (0 until nHashes).map(j =>
          min(($"h" * A(j) + B(j)) % P).as(s"m$j")): _*)
  }

  /** LSH band-bucket candidate pairs from a signature table — the
    * only pair producer in X2 (never all-pairs).
    */
  /** (doc_id, band_idx, band_key) LSH band rows from a signature table —
    * the bucket keys every candidate join (symmetric X2, asymmetric X56
    * ingest) equi-joins on.
    */
  private[graft] def bandsOf(sig: DataFrame): DataFrame = {
    val spark = sig.sparkSession
    import spark.implicits._
    val bandArr = array((0 until nBands).map(b =>
      struct(lit(b).as("band_idx"),
        concat_ws("_", col(s"m${2 * b}"), col(s"m${2 * b + 1}")).as("band_key"))): _*)
    sig.select($"doc_id", explode(bandArr).as("bs"))
      .select($"doc_id", $"bs.band_idx".as("band_idx"), $"bs.band_key".as("band_key"))
  }

  private[graft] def minhashCandidates(sig: DataFrame): DataFrame = {
    val spark = sig.sparkSession
    import spark.implicits._
    val bands = bandsOf(sig)
    bands.as("ba")
      .join(bands.as("bb"),
        col("ba.band_idx") === col("bb.band_idx") &&
          col("ba.band_key") === col("bb.band_key") &&
          col("ba.doc_id") < col("bb.doc_id"))
      .select(col("ba.doc_id").as("doc_a"), col("bb.doc_id").as("doc_b"))
      .distinct()
  }

  /** Core of X2 over any (doc_id, sh) shingle-set frame (test seam). */
  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs
    * against a shingle frame: intersection counts via the keyed join,
    * sizes via the (doc_id, n_sh) lookup, jaccard = |∩| / |∪|. The
    * shared VERIFY stage behind X2 (LSH candidates), X17 (rare-shingle
    * candidates), and the X23 stream's emitted candidates when a batch
    * consumer verifies them exactly (pinned end-to-end in
    * StreamDedupSpec). Unfiltered and unsorted — callers threshold.
    */
  private[graft] def exactJaccard(
      cand: DataFrame, sh: DataFrame, sizes: DataFrame): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    // Round-18 optimization note: a per-doc set-ARRAY verify
    // (sort_array(collect_list) + native sorted-merge intersect count)
    // was prototyped here and MEASURED SLOWER than this expanded join
    // at bench scale (x62 verify 3.3 s vs 2.4 s; x146 6.1 s vs 4.7 s)
    // — attaching ~2 KB set arrays to every candidate row through two
    // joins outweighs the expansion it avoids while every join side
    // still broadcasts. Kept in the expanded form deliberately; the
    // candidate producers (x62/x63 prefix indexes, x146's fused truth
    // count) carry the round's real wins.
    cand
      .join(sh.as("sa"), $"doc_a" === col("sa.doc_id"))
      .join(sh.as("sb"), $"doc_b" === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.as("za"), $"doc_a" === col("za.doc_id"))
      .join(sizes.as("zb"), $"doc_b" === col("zb.doc_id"))
      .select($"doc_a", $"doc_b",
        col("za.n_sh").as("n_sh_a"), col("zb.n_sh").as("n_sh_b"), $"n_common",
        ($"n_common".cast("double") /
          (col("za.n_sh") + col("zb.n_sh") - $"n_common").cast("double"))
          .as("jaccard"))
  }

  private[graft] def minhashPairs(shingleSet: DataFrame): DataFrame = {
    val sh = shingleSet.localCheckpoint()
    // sig feeds both the band explode and the size lookup — materialized
    // (localCheckpoint, the Heaps pattern) so the 16-min aggregation runs
    // once (one row per doc; tiny) without a session-lifetime cache
    minhashVerified(sh, minhashSignatures(sh).localCheckpoint())
  }

  /** X2's verify core over pre-materialized shingle + signature frames
    * (the [[CorpusIndex]] path; [[minhashPairs]] is the self-caching
    * test/ScaleBench seam over an arbitrary shingle frame).
    */
  private[graft] def minhashVerified(sh: DataFrame, sig: DataFrame): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    exactJaccard(minhashCandidates(sig), sh, sig.select($"doc_id", $"n_sh"))
      .filter($"jaccard" >= 0.5)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Shared CTE chain shingles → signatures → bands → candidates →
    * intersection counts; suffixed by X2's verify-select and X65's
    * calibration rollup (single source, no SQL drift between them).
    */
  private[graft] val lshCandidateCtes: String = lshCandidateCtesWith(true)

  /** Same chain with the MATERIALIZED hints toggled: the Manifest (x91)
    * oracle nests this whole chain inside its own MATERIALIZED `mh`
    * CTE, where inner MATERIALIZED names would be HOISTED by DuckDB and
    * collide with the outer verdict chain's `sh` — inline-inside-one-
    * materialization is the collision-free form there (the chain still
    * evaluates once, because `mh` itself materializes).
    */
  private[graft] def lshCandidateCtesWith(mat: Boolean): String = {
    val M = if (mat) " MATERIALIZED" else ""
    val hashExpr = sqlMd5Long40("sh")
    val minCols = (0 until nHashes)
      .map(j => s"min((h * ${A(j)} + ${B(j)}) % $P) AS m$j").mkString(",\n         ")
    val bandSelects = (0 until nBands)
      .map(b => s"SELECT doc_id, $b AS band_idx, m${2 * b} || '_' || m${2 * b + 1} AS band_key FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH ${if (mat) shinglesSql else shinglesSqlInline},
       |hashed AS$M (SELECT doc_id, $hashExpr AS h FROM sh),
       |sig AS$M (
       |  SELECT doc_id, count(*) AS n_sh,
       |         $minCols
       |  FROM hashed GROUP BY doc_id),
       |bands AS$M (
       |  $bandSelects),
       |cand AS$M (
       |  SELECT DISTINCT ba.doc_id AS doc_a, bb.doc_id AS doc_b
       |  FROM bands ba JOIN bands bb
       |    ON ba.band_idx = bb.band_idx AND ba.band_key = bb.band_key
       |   AND ba.doc_id < bb.doc_id),
       |inter AS$M (
       |  SELECT doc_a, doc_b, count(*) AS n_common
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = doc_a
       |  JOIN sh sb ON sb.doc_id = doc_b AND sa.sh = sb.sh
       |  GROUP BY doc_a, doc_b)""".stripMargin
  }

  val minhashLshSql: String = minhashLshSqlWith(true)

  /** Inline-hint form for nesting inside an outer MATERIALIZED CTE
    * (the x91 manifest oracle) — see [[lshCandidateCtesWith]].
    */
  private[graft] def minhashLshSqlWith(mat: Boolean): String = {
    s"""${lshCandidateCtesWith(mat)}
       |SELECT doc_a, doc_b, za.n_sh AS n_sh_a, zb.n_sh AS n_sh_b, n_common,
       |       CAST(n_common AS DOUBLE)
       |         / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sig za ON za.doc_id = doc_a
       |JOIN sig zb ON zb.doc_id = doc_b
       |WHERE CAST(n_common AS DOUBLE)
       |        / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** X-fingerprint — winnowing-style document fingerprint: the 4 smallest
    * shingle hashes per doc (a k-min sketch; equal-hash docs are exact or
    * near-exact duplicates). One explode + one agg, no shuffle beyond the
    * doc_id hash-partition. The sketch ships as a JSON string (`[h1,…,h4]`
    * — both engines render bigint lists identically), because the driver's
    * pandas compare cannot sort raw array cells.
    */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    shingles(spark, dir)
      .select($"doc_id", md5Long40($"sh").as("h"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        to_json(slice(array_sort(collect_list($"h")), 1, 4)).as("sketch"))
      .orderBy($"doc_id")
  }

  val docFingerprintSql: String = {
    val hashExpr = sqlMd5Long40("sh")
    s"""WITH $shinglesSql
       |SELECT doc_id, count(*) AS n_shingles,
       |       to_json(list_sort(list($hashExpr))[1:4]) AS sketch
       |FROM sh
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** X-simhash — 16-bit SimHash over the distinct-token set: bit p is the
    * sign of Σ_tokens (±1 by bit p of the token hash). Same shape as the
    * MinHash agg: explode + one hash aggregate per doc.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", explode(split(lower($"text"), "\\s+")).as("tok"))
      .filter($"tok" =!= "").distinct()
      .select($"doc_id", md5Long40($"tok").as("h"))
    val sums = toks.groupBy($"doc_id").agg(
      count(lit(1)).as("n_tokens"),
      (0 until 16).map(p =>
        sum(when(shiftright($"h", p).bitwiseAND(1) === 1, 1L).otherwise(-1L))
          .as(s"s$p")): _*)
    val bits = (0 until 16).map(p =>
      when(col(s"s$p") > 0, lit(1L << p)).otherwise(lit(0L)))
    sums.select($"doc_id", $"n_tokens",
      bits.reduce(_ + _).as("simhash"))
      .orderBy($"doc_id")
  }

  val simhashSql: String = {
    val hashExpr = sqlMd5Long40("tok")
    val sums = (0 until 16)
      .map(p => s"CAST(sum(CASE WHEN (h >> $p) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s$p")
      .mkString(",\n         ")
    val bits = (0 until 16)
      .map(p => s"CASE WHEN s$p > 0 THEN ${1L << p} ELSE 0 END")
      .mkString(" + ")
    raw"""WITH toks AS (
       |  SELECT DISTINCT doc_id, tok
       |  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
       |        FROM documents)
       |  WHERE tok <> ''),
       |hashed AS (SELECT doc_id, $hashExpr AS h FROM toks),
       |sums AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |         $sums
       |  FROM hashed GROUP BY doc_id)
       |SELECT doc_id, n_tokens, $bits AS simhash
       |FROM sums
       |ORDER BY doc_id""".stripMargin
  }

  /** X-ngram-jaccard — *exact* n-gram Jaccard near-dup via an
    * inverted-index join: pairs are generated only through shared rare
    * shingles (doc-frequency ≤ 5), then scored exactly. The standard
    * prefix-filtering trade: dropping hot shingles from the *candidate
    * index* bounds the quadratic term (a shingle with df=d contributes
    * d² candidate pairs) without costing recall at τ = 0.5 — near-dup
    * pairs share many shingles, almost all of them rare. Compare X2:
    * same verification, LSH candidate generation instead; this exact
    * path wins when the corpus fits one index, LSH wins at open scale.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // shared memoized pair stream (one rare-shingle candidate join +
    // verify per (session, dir) across x17/x18/x67/x78/x83)
    CorpusIndex.ngramPairs(spark, dir).orderBy($"doc_a", $"doc_b")
  }

  /** Core of X17 over any (doc_id, sh) shingle frame — x22 feeds it only
    * its curation survivors. Materializes the input via localCheckpoint
    * (it feeds five subplans);
    * [[ngramJaccardFrom]] is the no-cache twin for frames that are
    * already materialized (the [[CorpusIndex]] checkpoint).
    */
  private[graft] def ngramJaccardOf(shingleSet: DataFrame): DataFrame =
    ngramJaccardFrom(shingleSet.localCheckpoint())

  private[graft] def ngramJaccardFrom(sh: DataFrame): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    ngramPairsFrom(sh).orderBy($"doc_a", $"doc_b")
  }

  /** The unsorted verified-pair core behind [[ngramJaccardFrom]] — the
    * frame [[CorpusIndex.ngramPairs]] memoizes (sorting belongs to the
    * registered x17 output, not to graph consumers).
    */
  private[graft] def ngramPairsFrom(sh: DataFrame): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    // document frequency as groupBy+join, NOT count(*) OVER (PARTITION BY
    // sh): the window form funnels every (doc, shingle) row of a hot
    // shingle through one task with no map-side partial aggregation — the
    // exact anti-pattern the tf-idf scaladoc warns about, and a scale
    // killer on skewed corpora. The aggregate shrinks to one row per
    // distinct shingle before the join, and the join back to `sh` shuffles
    // on the same key the aggregate produced (no extra exchange on the
    // rare side; most shingles are rare, so this side is NOT broadcast).
    val rareShingles = sh.groupBy($"sh")
      .agg(count(lit(1)).as("df"))
      .filter($"df" <= 5)
      .select($"sh")
    val rare = sh.join(rareShingles, "sh")
      .select($"doc_id", $"sh")
    val cand = rare.as("a")
      .join(rare.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    exactJaccard(cand, sh, sizes)
      .select($"doc_a", $"doc_b", $"n_common", $"jaccard")
      .filter($"jaccard" >= 0.5)
  }

  /** Shared CTE chain: shingle sets → rare-shingle candidates → exact
    * intersection counts — the body the x17/x18/x22 oracles build on,
    * parameterized by the (doc_id, text) source relation.
    */
  private[graft] def ngramPairCtesFrom(src: String): String =
    ngramPairCtesFromWith(src, mat = true)

  /** `mat = false` nests the chain without MATERIALIZED hints — required
    * inside [[Curation.verdictCtes]], where hints on this subchain trip
    * DuckDB's recursive-CTE planner ("Recursive CTE scan found without
    * recursive CTE node"); every top-level use keeps the hints (the
    * multiply-referenced `sh` would otherwise re-shingle per reference).
    */
  private[graft] def ngramPairCtesFromWith(src: String, mat: Boolean): String = {
    val M = if (mat) " MATERIALIZED" else ""
    s"""${if (mat) shinglesSqlFrom(src)
          else shinglesSqlFrom(src).replace("sh AS MATERIALIZED (", "sh AS (")},
       |rare AS$M (
       |  SELECT doc_id, sh
       |  FROM (SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh)
       |  WHERE df <= 5),
       |cand AS$M (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id),
       |sizes AS$M (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS$M (
       |  SELECT doc_a, doc_b, count(*) AS n_common
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = doc_a
       |  JOIN sh sb ON sb.doc_id = doc_b AND sa.sh = sb.sh
       |  GROUP BY doc_a, doc_b),
       |scored AS$M (
       |  SELECT doc_a, doc_b, n_common,
       |         CAST(n_common AS DOUBLE)
       |           / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) AS jaccard
       |  FROM inter
       |  JOIN sizes za ON za.doc_id = doc_a
       |  JOIN sizes zb ON zb.doc_id = doc_b)""".stripMargin
  }

  private val ngramPairCtes: String = ngramPairCtesFrom("documents")

  val ngramJaccardSql: String =
    s"""WITH $ngramPairCtes
       |SELECT doc_a, doc_b, n_common, jaccard
       |FROM scored
       |WHERE jaccard >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** X-clusters — duplicate-cluster resolution: connected components over
    * the near-dup pair graph (x17's exact pairs), labeling every document
    * with its cluster representative (min doc_id in the component) and
    * marking the canonical survivor. This is the stage that turns
    * pairwise similarity into a dedup *decision* at corpus scale.
    *
    * Algorithm: iterative min-label propagation to fixpoint — each round
    * is one distributed join+aggregate keyed on the vertex; the driver
    * only checks the scalar convergence count (no data ever leaves the
    * executors) and `localCheckpoint` cuts lineage growth per round.
    * Rounds needed = component diameter (near-dup clusters are tiny
    * cliques, so 1-2 in practice; the same loop is the standard
    * large-graph CC shape). The oracle derives components independently
    * via a recursive-CTE transitive closure.
    */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // shared memoized fixpoint result (one CC loop per (session, dir)
    // across x18/x67/x83 — the persisted-cluster-artifact shape)
    val labels = CorpusIndex.ccLabels(spark, dir)
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id")
    Tables.documents(spark, dir)
      .join(labels, $"doc_id" === $"doc", "left")
      .select($"doc_id",
        coalesce($"label", $"doc_id").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(byCluster))
      .withColumn("is_canonical", $"doc_id" === $"cluster_id")
      .orderBy($"doc_id")
  }

  /** Min-label propagation to fixpoint over an undirected (doc_a, doc_b)
    * edge list; returns (doc, label = min doc_id in component). Test seam
    * for [[dupClusters]].
    */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame =
    connectedComponentsWithRounds(pairs)._1

  /** [[connectedComponents]] + the number of propagation rounds it ran
    * (excluding the fused init aggregate) — the measurement seam behind
    * SCALE.md's O(log diameter) convergence rows; identical plan and
    * result, the round counter was always tracked internally.
    */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    // diff of the persistent-RDD set around a localCheckpoint = the RDD
    // that checkpoint pinned; lets a round release its predecessor once
    // superseded (queries here run sequentially per session, so the diff
    // is not racing another materialization)
    def pinned(body: => DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      // strip the checkpoint's inherited origin stats (round-19 fix):
      // inside this fixpoint loop they COMPOUND — each round's
      // size-only join estimates multiply the previous round's, the
      // checkpoint stores the product, and the estimate's bit-length
      // grows geometrically until the driver spends hours multiplying
      // BigInts to plan a vertex-cardinality query (observed live at
      // hop 4; latent at any hop depth / high diameter). Same RDD,
      // same partitioning/ordering — see SparkBridge.
      val df = org.apache.spark.sql.graft.SparkBridge
        .withoutOriginStats(body)
      (df, (sc.getPersistentRDDs.keySet -- before).toSet)
    }
    def release(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    // symmetrize in ONE pass: a union of the pair subplan with its swap
    // would execute the (expensive) pair-producing subplan twice; explode
    // emits both directions from a single scan. localCheckpoint (not
    // cache) materializes it exactly once, eagerly — every loop round
    // then reads the blocks with no plan-matching or columnar encode.
    val (edges, edgeIds) = pinned {
      pairs
        .select(explode(array(
          struct($"doc_a", $"doc_b"),
          struct($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))).as("e"))
        .select($"e.doc_a", $"e.doc_b")
        // partition AND sort by the propagation join key BEFORE the
        // checkpoint (round-18 optimization): every loop round sort-
        // merge-joins edges on doc_b, and a LogicalRDD checkpoint
        // carries its partitioning and ordering — so the rounds pay
        // zero exchange and zero sort on the EDGE side (the big side
        // at scale; labels is vertex-cardinality). Establish the
        // layout once, reuse it every round (guide §2.4).
        .repartition($"doc_b")
        .sortWithinPartitions($"doc_b")
        .localCheckpoint()
    }
    // initial labels FUSE the first propagation round: label(v) =
    // min(v, neighbors(v)) is exactly what one join+agg round over
    // self-labels produces, at the cost of a plain agg over the edge
    // list. Near-dup components are tiny cliques (diameter 1), so this
    // usually leaves a single confirming loop round.
    var (labels, labelIds) = pinned {
      edges.groupBy($"doc_a".as("doc"))
        .agg(min(least($"doc_a", $"doc_b")).as("label"))
        .localCheckpoint()
    }
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      // carry each vertex's previous label through the aggregation (as the
      // min over a column that is null on neighbor rows), and collect the
      // changed-count as an OBSERVED metric of the same execution — the
      // eager localCheckpoint is then the round's ONLY distributed job;
      // convergence costs no second action, and only that one scalar
      // reaches the driver.
      //
      // Round-19 rework of the propagation arms, after measuring the
      // round-18 pointer-doubling on adversarial id layouts: the two
      // acceleration mechanisms have COMPLEMENTARY worst cases, so the
      // round folds in both.
      //  - rep-pooled neighbor arm: the per-vertex neighbor minimum
      //    (the one edge-volume join, zero-exchange on the pre-sorted
      //    edge side) is pooled per CURRENT LABEL and broadcast back
      //    to every vertex of that label — vertices sharing a rep
      //    exchange frontier information in one hop, so rep-space
      //    distances shrink geometrically on id-RANDOM graphs (the
      //    contraction effect, without materializing a contracted
      //    edge list; three extra vertex-cardinality joins per round,
      //    no second edge-volume pass). Plain per-vertex propagation
      //    is O(diameter): a permuted-id 300-path did NOT converge in
      //    50 rounds under round-18's arms (and silently returned a
      //    2-component labeling — the cap bug fixed below); rep
      //    pooling converges it in 8.
      //  - pointer-jump arm label⁴(v): three chained self-joins of
      //    the checkpointed vertex-cardinality label table — the
      //    accumulated map composed with itself squares reach on
      //    id-ORDERED graphs (where rep pooling alone contracts by a
      //    constant per round); an ordered 300-path converges in 6.
      // Same fixpoint (min doc_id per component): every arm's value
      // is the label of a vertex of v's own component, min() stays
      // monotone, and at the fixpoint every arm returns label(v) so
      // the changed-count observes 0. x145's sf0.1 pair graph:
      // 11 rounds (round-18 arms) → 5; 30× capped replica: 9 → 4.
      val nbMin = edges
        .join(labels, $"doc_b" === $"doc")
        .groupBy($"doc_a").agg(min($"label").as("nvmin"))
      val repMin = labels.join(nbMin, $"doc" === $"doc_a")
        .groupBy($"label".as("rep")).agg(min($"nvmin").as("nbmin"))
      val viaRep = labels.join(repMin, $"label" === $"rep")
        .select($"doc", $"nbmin".as("label"),
          when(lit(false), $"nbmin").as("prev"))
      val viaJump = labels.as("l1")
        .join(labels.as("l2"), col("l1.label") === col("l2.doc"))
        .join(labels.as("l3"), col("l2.label") === col("l3.doc"))
        .join(labels.as("l4"), col("l3.label") === col("l4.doc"))
        .select(col("l1.doc").as("doc"), col("l4.label").as("label"),
          when(lit(false), col("l4.label")).as("prev"))
      val obs = org.apache.spark.sql.Observation(s"cc_round_$rounds")
      val (next, nextIds) = pinned {
        labels.select($"doc", $"label", $"label".as("prev"))
          .unionByName(viaRep)
          .unionByName(viaJump)
          .groupBy($"doc")
          .agg(min($"label").as("label"), min($"prev").as("prev"))
          .observe(obs,
            sum(when($"label" =!= $"prev", 1L).otherwise(0L)).as("changed"))
          .localCheckpoint()
      }
      // sum over ZERO vertices observes null (an empty edge list) — treat
      // as converged rather than relying on null-unboxing
      converged = Option(obs.get("changed")).forall(_.asInstanceOf[Long] == 0L)
      release(labelIds) // superseded round — stop pinning its blocks
      labels = next.select($"doc", $"label")
      labelIds = nextIds
      rounds += 1
    }
    // Round-19 fix: the cap used to RETURN the non-converged labels —
    // a silently-wrong partition of the graph (observed live: a
    // permuted-id 300-path under the round-18 arms exhausted 50
    // rounds and labeled one component as two). With the rep-pooled +
    // pointer-jump arms convergence is ~log-shaped (≤ 8 rounds on
    // every measured graph incl. adversarial layouts), so the cap is
    // pure safety margin — and hitting it must FAIL the query, never
    // hand a wrong component labeling to the seven consumers whose
    // oracle gates assume the true fixpoint.
    require(converged,
      s"connectedComponents did not converge within $rounds rounds — " +
        "refusing to return a partial (wrong) component labeling")
    // the result is checkpoint-backed; it no longer references the edges
    release(edgeIds)
    (labels, rounds)
  }

  /** CC label CTE chain (x17 pairs → edges → transitive closure →
    * `comp(doc, cluster_id)`); prefixed by WITH RECURSIVE at the call
    * site. Shared by the x18 and x67 oracles.
    */
  private[graft] val ccLabelCtes: String =
    s"""$ngramPairCtes,
       |pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION
       |  SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (
       |  SELECT a AS doc, least(a, min(b)) AS cluster_id
       |  FROM reach GROUP BY a)""".stripMargin

  val dupClustersSql: String =
    s"""WITH RECURSIVE $ccLabelCtes
       |SELECT doc_id,
       |       coalesce(c.cluster_id, doc_id) AS cluster_id,
       |       count(*) OVER (PARTITION BY coalesce(c.cluster_id, doc_id)) AS cluster_size,
       |       (doc_id = coalesce(c.cluster_id, doc_id)) AS is_canonical
       |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc
       |ORDER BY doc_id""".stripMargin

  /** X75 — duplication degree histogram: per near-dup-graph degree, how
    * many documents carry it (degree 0 = clean docs) — the concentration
    * diagnosis read before choosing a dedup strategy: a fat degree-0 bar
    * with a short tail says canonical-select (x67) suffices; a heavy
    * tail says boilerplate/template explosion and argues for span-level
    * (x54) or cascade (x72) treatment first. Complements x18 (who is in
    * which cluster) with the distributional view.
    *
    * Shape: X2's verified pair stream (bucketed LSH + exact verify, the
    * measured family producer), both endpoints unioned → per-doc degree
    * (two-phase count), left join back onto the corpus for the zeros
    * (doc-keyed equi-join), then a ≤ max-degree-row histogram aggregate.
    * Every stage partial-aggregates; nothing exceeds pair volume, which
    * the family already bounds.
    */
  def dupDegreeHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val pairs = CorpusIndex.minhashScores(spark, dir)
      .filter($"jaccard" >= 0.5)
    val deg = pairs.select($"doc_a".as("doc_id"))
      .unionAll(pairs.select($"doc_b".as("doc_id")))
      .groupBy($"doc_id").agg(count(lit(1)).as("degree"))
    docs.select($"doc_id")
      .join(deg, Seq("doc_id"), "left")
      .select(coalesce($"degree", lit(0L)).as("degree"))
      .groupBy($"degree").agg(count(lit(1)).as("n_docs"))
      .orderBy($"degree")
  }

  val dupDegreeHistogramSql: String =
    s"""$lshCandidateCtes,
       |pairs AS (
       |  SELECT doc_a, doc_b
       |  FROM inter
       |  JOIN sig za ON za.doc_id = doc_a
       |  JOIN sig zb ON zb.doc_id = doc_b
       |  WHERE CAST(n_common AS DOUBLE)
       |          / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) >= 0.5),
       |deg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
       |  FROM (SELECT doc_a AS doc_id FROM pairs
       |        UNION ALL SELECT doc_b FROM pairs)
       |  GROUP BY 1),
       |alldeg AS (
       |  SELECT d.doc_id, coalesce(g.degree, 0) AS degree
       |  FROM documents d LEFT JOIN deg g USING (doc_id))
       |SELECT degree, count(*) AS n_docs
       |FROM alldeg GROUP BY degree
       |ORDER BY degree""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x02_minhash_lsh" -> minhashLsh _,
    "x11_doc_fingerprint" -> docFingerprint _,
    "x12_simhash" -> simhash _,
    "x17_ngram_jaccard" -> ngramJaccard _,
    "x18_dup_clusters" -> dupClusters _,
    "x75_dup_degree_histogram" -> dupDegreeHistogram _)

  val oracles: Map[String, String] = Map(
    "x02_minhash_lsh" -> minhashLshSql,
    "x11_doc_fingerprint" -> docFingerprintSql,
    "x12_simhash" -> simhashSql,
    "x17_ngram_jaccard" -> ngramJaccardSql,
    "x18_dup_clusters" -> dupClustersSql,
    "x75_dup_degree_histogram" -> dupDegreeHistogramSql)
}
