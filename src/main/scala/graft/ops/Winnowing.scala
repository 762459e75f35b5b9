package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashing._

/** X125 — winnowing fingerprint match (Schleimer–Wilkerson–Aiken 2003,
  * the MOSS algorithm): select a position-robust subset of each
  * document's k-gram hashes — the window minima — and match documents
  * on shared fingerprints. The guarantee the simpler schemes lack: any
  * shared substring of length ≥ w+k−1 yields at least one SHARED
  * fingerprint (every length-w window of a common run selects the same
  * minimum), while the fingerprint density stays ~2/(w+1) of positions
  * — X11 fingerprints whole docs, X54/X58 chunk by content; winnowing
  * is the local-overlap detector that catches partial plagiarism /
  * quotation between otherwise-different documents.
  *
  * Determinism — the rightmost-minimum rule as pure integer order:
  * each position packs into `key = h·2²¹ + (2²¹−1−p)` (h is the
  * engine-portable 40-bit md5Long40 — product < 2⁶¹), so the window
  * `min(key)` IS "smallest hash, rightmost position", bit-equal in
  * both engines; the selected set is the distinct decoded positions
  * over all full windows. Doc position caps at 2²¹−1 chars (filtered,
  * and far above this corpus); k = 8 char-grams over the
  * whitespace-collapsed lowercase text, w = 4.
  *
  * Scale shape: gram hashing and packing are row-local on exploded
  * positions (doc-keyed repartition parallelizes the explode, the X6
  * shape); the window min is per-DOC (partitioned, never global); the
  * match join is hash-on-fingerprint — candidates only where docs
  * truly share a selected gram (the X2/X118 generate-bucket-verify
  * discipline; never all-pairs), then one (a, b)-keyed count gated by
  * a CONTAINMENT floor (2·shared ≥ min fingerprints — see matchOf; a
  * raw count floor goes quadratic on template-heavy corpora). Before
  * the join, MOSS-style common-code elimination drops fingerprints
  * with document frequency > MaxDf — boilerplate is not overlap
  * evidence, and it is what makes the candidate pair stream LINEAR in
  * corpus size (one hash shared by d docs is d² pairs; see MaxDf).
  *
  * Reference scope: no dedup in the reference; engine extension
  * (SURVEY §2.5, the X2/X11/X54/X58 dedup family).
  */
object Winnowing {

  val K = 8        // char-gram length
  val W = 4        // winnowing window (selection guarantee: w+k−1 = 11)
  val PosBits = 21 // position packing width
  /** MOSS-style common-code elimination: a fingerprint appearing in
    * more than MaxDf documents is boilerplate, not overlap evidence —
    * it leaves the match entirely (kept set AND the containment
    * denominators). This is also what keeps the PAIR STREAM linear:
    * without it one template hash shared by d docs contributes d²
    * candidate pairs — measured as a 100+ GB DuckDB oracle explosion
    * at the 10× replica before the cap existed.
    */
  val MaxDf = 64L

  def winnowingMatch(spark: SparkSession, dir: String): DataFrame =
    matchOf(Tables.documents(spark, dir))

  /** The selected window-minimum keys (doc_id, mk) over all full
    * windows, pre-distinct — the shared core behind [[fingerprintsOf]]
    * (which decodes (pos, h) for the position-carrying contract) and
    * [[keptFingerprintsOf]] (which only needs the distinct h set and
    * skips the intermediate (pos, h) distinct — round-18 optimization:
    * the old chain distinct-ed (doc_id, pos, h) and then distinct-ed
    * (doc_id, h) AGAIN, two full exchanges over the selection stream).
    */
  private def selectedKeysOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val posCap = (1 << PosBits) - 1
    val grams = docs
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id",
        regexp_replace(lower($"text"), "\\s+", " ").as("t"))
      // sequence(1, 0) would generate DESCENDING — too-short docs have
      // no gram and must leave before the explode
      .filter(length($"t") >= K)
      .select($"doc_id", $"t",
        explode(sequence(lit(1), length($"t") - lit(K - 1))).as("p"))
      .filter($"p" <= posCap)
      .select($"doc_id", $"p",
        md5Long40($"t".substr($"p", lit(K))).as("h"))
    val key = $"h" * lit(1L << PosBits) +
      (lit((1L << PosBits) - 1) - $"p")
    val win = Window.partitionBy($"doc_id").orderBy($"p")
      .rowsBetween(-(W - 1), Window.currentRow)
    grams
      .withColumn("mk", min(key).over(win))
      .withColumn("full", $"p" >= W) // only full windows select
      .filter($"full")
      .select($"doc_id", $"mk")
  }

  /** Fingerprints (doc_id, pos, h) of any (doc_id, text) frame. */
  private[graft] def fingerprintsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    selectedKeysOf(docs)
      .select($"doc_id",
        (lit((1L << PosBits) - 1) - pmod($"mk", lit(1L << PosBits)))
          .as("pos"),
        // exact i64 unpack (a double divide would round past 2^53)
        expr(s"(mk - pmod(mk, ${1L << PosBits})) div ${1L << PosBits}")
          .as("h"))
      .distinct()
  }

  /** Core of X125: doc pairs whose shared fingerprints COVER at least
    * half of the smaller doc's fingerprint set (2·shared ≥ min(nf) — an
    * integer comparison, the directed-containment stance of X63: a raw
    * shared-count floor drowns in any template-heavy corpus, where
    * nearly every pair shares a few boilerplate grams), with a ≥ 2
    * absolute floor against single-collision noise.
    */
  private[graft] def matchOf(docs: DataFrame): DataFrame =
    matchFromFp(keptFingerprintsOf(docs))

  /** [[matchOf]] from an already-materialized kept-fingerprint frame —
    * the seam CandGrowth times so the match reuses the cached
    * fingerprints instead of re-paying fingerprinting (which would make
    * w125 incomparable to the warm-cache candidate timing).
    */
  private[graft] def matchFromFp(fp: DataFrame): DataFrame = {
    val spark = fp.sparkSession
    import spark.implicits._
    val perDoc = fp.groupBy($"doc_id").agg(count(lit(1)).as("nf"))
    candidatePairsFromFp(fp)
      // perDoc is DOC-cardinality (one row per document) — never hint
      // broadcast on it: at 100× it is the whole corpus's doc list on
      // the driver. Unhinted, AQE broadcasts at toy scale and shuffles
      // at real scale; the pair stream is already keyed by doc_a/doc_b.
      .join(perDoc.select($"doc_id".as("doc_a"),
        $"nf".as("nf_a")), "doc_a")
      .join(perDoc.select($"doc_id".as("doc_b"),
        $"nf".as("nf_b")), "doc_b")
      .filter($"n_shared" >= 2 &&
        $"n_shared" * 2 >= least($"nf_a", $"nf_b"))
      .select($"doc_a", $"doc_b", $"n_shared", $"nf_a", $"nf_b")
      .orderBy($"doc_a", $"doc_b")
  }

  /** Post-MaxDf fingerprint set (doc_id, h), cached — the match join's
    * build input.
    */
  private[graft] def keptFingerprintsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Materialized BEFORE the df branch (round-19): fpAll feeds both
    // the df aggregate and the join's probe side, and without the
    // checkpoint the whole selection stream ran twice per execution
    // (guide §2.4).
    val fpAll = fpAllOf(docs).localCheckpoint()
    val rare = fpAll.groupBy($"h").agg(count(lit(1)).as("df"))
      .filter($"df" <= MaxDf)
    fpAll.join(rare.select($"h"), Seq("h")).localCheckpoint()
  }

  /** The distinct selected-fingerprint set (doc_id, h) via the native
    * [[graft.functions.expr.WinnowKeys]] kernel (round-19 optimization,
    * the IvfPqAudit precedent): gram hashing, the packed-key window
    * minimum and the per-doc distinct run as ONE fused primitive loop
    * per document — map-only, where the column form explodes ~n rows
    * per doc, shuffles them into a doc-partitioned sort for a 4-element
    * trailing min, and distinct-s the survivors (two exchanges + a
    * sort). The doc-keyed repartition stays: it spreads the per-doc
    * md5 loops across cores regardless of scan split count (the X6
    * explode-parallelism shape). WinnowingSpec pins this frame
    * set-equal to [[fpAllColumnOf]] on the full corpus.
    */
  private[graft] def fpAllOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.graft.SparkBridge
    val keys = SparkBridge.column(graft.functions.expr.WinnowKeys(
      SparkBridge.expression(
        regexp_replace(lower($"text"), "\\s+", " ")), K, W, PosBits))
    docs
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id", explode(keys).as("h"))
  }

  /** Column-form reference of [[fpAllOf]] — ONE distinct over the
    * decoded hash (identical set to distinct(pos, h) → project h →
    * distinct, since the (pos, h) decode of mk is bijective; the match
    * never reads positions). Kept as the parity-spec twin of the
    * native kernel.
    */
  private[graft] def fpAllColumnOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    selectedKeysOf(docs)
      .select($"doc_id",
        expr(s"(mk - pmod(mk, ${1L << PosBits})) div ${1L << PosBits}")
          .as("h"))
      .distinct()
  }

  /** The candidate pair stream of [[matchOf]] — cardinality bounded by
    * MaxDf²·|distinct kept h| (the MOSS common-code elimination is what
    * keeps it linear in corpus size). Factored out for the pair-count
    * growth evidence (graft.CandGrowth → SCALE.md).
    */
  private[graft] def candidatePairsFromFp(fp: DataFrame): DataFrame =
    fp.as("a").join(fp.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))

  val winnowingMatchSql: String = {
    val h = sqlMd5Long40(s"substr(t, CAST(p AS INTEGER), $K)")
    val pb = 1L << PosBits
    s"""WITH c AS (
       |  SELECT doc_id,
       |         regexp_replace(lower(text), '\\s+', ' ', 'g') AS t
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, CAST(u.p AS BIGINT) AS p, $h AS h
       |  FROM c, LATERAL (SELECT unnest(generate_series(
       |    1, length(t) - ${K - 1})) AS p) u
       |  WHERE length(t) >= $K AND u.p <= ${pb - 1}),
       |k AS (
       |  SELECT doc_id, p,
       |         min(h * $pb + (${pb - 1} - p)) OVER (
       |           PARTITION BY doc_id ORDER BY p
       |           ROWS BETWEEN ${W - 1} PRECEDING AND CURRENT ROW) AS mk
       |  FROM g),
       |fp0 AS (
       |  SELECT DISTINCT doc_id,
       |         (mk - ((mk % $pb) + $pb) % $pb) // $pb AS h
       |  FROM k WHERE p >= $W),
       |fp AS (
       |  SELECT fp0.doc_id, fp0.h
       |  FROM fp0 JOIN (SELECT h, count(*) AS df FROM fp0 GROUP BY h) d
       |    ON fp0.h = d.h
       |  WHERE d.df <= $MaxDf),
       |perdoc AS (SELECT doc_id, count(*) AS nf FROM fp GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         count(*) AS n_shared
       |  FROM fp a JOIN fp b
       |    ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
       |       CAST(pa.nf AS BIGINT) AS nf_a, CAST(pb.nf AS BIGINT) AS nf_b
       |FROM pairs
       |JOIN perdoc pa ON doc_a = pa.doc_id
       |JOIN perdoc pb ON doc_b = pb.doc_id
       |WHERE n_shared >= 2 AND n_shared * 2 >= least(pa.nf, pb.nf)
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x125_winnowing_match" -> winnowingMatch _)

  val oracles: Map[String, String] = Map(
    "x125_winnowing_match" -> winnowingMatchSql)
}
