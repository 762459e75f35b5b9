package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** X62 — prefix-filtered exact set-similarity self-join (the
  * AllPairs/PPJoin candidate rule): every document pair with shingle
  * Jaccard ≥ τ = 1/2, found WITHOUT all-pairs comparison and WITHOUT
  * loss. Completes the near-dup join family: X2 is probabilistic
  * (MinHash banding can miss), x17 bounds recall by a declared
  * rare-shingle boundary (df ≤ 5), x32 is lossless but for Hamming
  * distance on fixed-width fingerprints — this one is lossless at an
  * exact Jaccard threshold on the raw sets.
  *
  * The filter: order the universe by a fixed global total order —
  * (corpus df ascending, shingle) = rarest first — and keep each
  * document's first `p = n − ⌈τ·n⌉ + 1` shingles. For any pair with
  * J ≥ τ, the intersection has `i ≥ ⌈τ·max(n_a,n_b)⌉` elements
  * (J = i/u and u ≥ max), so the SMALLEST common shingle sits within
  * position `n − i + 1 ≤ p` of BOTH sets — some prefix shingle is
  * shared, and the prefix equi-join finds every qualifying pair
  * (pigeonhole; no loss). Rarest-first is what makes the candidate
  * join sparse: prefix df² drives its size, and hot shingles fall out
  * of every prefix. τ = 1/2 keeps all bounds exact-integer:
  * ⌈n/2⌉ = (n+1) div 2, the size filter is n_a ≤ 2·n_b ∧ n_b ≤ 2·n_a,
  * and the verify is 2·i ≥ n_a + n_b − i. No float ever decides.
  *
  * Scale shape: df is a groupBy + token-keyed join (never a PARTITION
  * BY sh window — the x17 hot-key lesson); position/size windows are
  * doc-partitioned; candidates and the two verify joins move candidate
  * cardinality, not the corpus. The DuckDB oracle is the pure
  * quadratic brute force — the driver's hash gate literally proves
  * the pruned plan equals all-pairs.
  */
object PrefixJoin {

  def prefixSimJoin(spark: SparkSession, dir: String): DataFrame =
    prefixSimJoinRanked(CorpusIndex.rankedShingles(spark, dir),
      ScaleCaps.maxCandDf)

  /** Core of X62 over any (doc_id, text, …) frame; test/scale seam. */
  def prefixSimJoinOf(docs: DataFrame): DataFrame =
    prefixSimJoinOf(docs, Long.MaxValue)

  /** X62 with the candidate-budget escape hatch engaged.
    *
    * `maxCandDf` bounds CANDIDATE GENERATION (x43's map-side-cap
    * pattern, applied to the prefix index): shingles whose corpus df
    * exceeds it are dropped from the prefix index — never from the
    * verify joins, which stay exact on every surviving candidate. The
    * candidate join is then ≤ maxCandDf² pairs per distinct shingle,
    * LINEAR in vocabulary size no matter how df distributions shift at
    * 100× — the declared-recall degradation mode for open-scale runs.
    * A qualifying pair is missed only when EVERY prefix shingle it
    * shares is hotter than the cap; at τ = 1/2 near-dup pairs share
    * many predominantly-rare shingles, so the loss concentrates on
    * pairs whose entire overlap is boilerplate. `Long.MaxValue` (the
    * 1-arg form) keeps the filter out of the plan entirely — bit-equal
    * to the lossless join, which the driver's brute-force oracle and
    * PrefixJoinSpec pin.
    */
  def prefixSimJoinOf(docs: DataFrame, maxCandDf: Long): DataFrame =
    prefixSimJoinSh(Dedup.shinglesOf(docs).cache(), maxCandDf)

  /** X62 over a pre-materialized (doc_id, sh) shingle frame; the `Of`
    * seams above self-cache for arbitrary inputs.
    */
  private[graft] def prefixSimJoinSh(tok: DataFrame, maxCandDf: Long): DataFrame =
    prefixSimJoinRanked(
      CorpusIndex.rankedShinglesOf(tok).localCheckpoint(), maxCandDf)

  /** Core of X62 over the materialized ranked index (doc_id, sh, n,
    * pos, df) — the registered query reads the [[CorpusIndex]] memo
    * (the rarest-first index is a corpus artifact, built once for the
    * whole lossless-join family).
    *
    * Fused verify (round-19 optimization, the x146 lesson): the old
    * chain re-expanded every candidate pair through ALL of doc_a's
    * shingles (cand ⋈ tok on doc_a, then ⋈ tok on (doc_b, sh)) — 8.8M
    * intermediate rows at sf0.1 for 125k candidates. The shared-shingle
    * self-join over the corpus PRUNED to candidate docs (left-semi,
    * guide §3.2/§6) enumerates each common shingle of each overlapping
    * pair exactly once — 1.3M rows, 6.9× less — and one count
    * aggregate over it IS n_common; the candidate frame then just
    * equi-joins on the pair. Hot shingles (df > [[VerifyHotDf]]) are
    * enumerated by the expansion form instead — the shared join is
    * quadratic in df on boilerplate shingles, the expansion is
    * candidate-bounded; the df split keeps BOTH sides linear (see
    * VerifyHotDf). Both enumerations feed ONE count aggregate and ONE
    * inner join (two per-side aggregates and two left joins cost 1.5×
    * the wall on x63 at sf0.1, where no shingle is hot). Lossless: every
    * candidate pair shares ≥ 1 prefix shingle, rare or hot, so the
    * inner join drops nothing.
    * CAND_GROWTH.json carries the measured volumes across four SF
    * decades, organic and hot-corpus modes. (The round-18 set-array
    * alternative stays rejected — see Dedup.exactJaccard.)
    */
  private[graft] def prefixSimJoinRanked(ranked: DataFrame,
      maxCandDf: Long): DataFrame = {
    val spark = ranked.sparkSession
    import spark.implicits._
    // candidates feed the doc-prune AND the final pair join — two
    // consumers, so materialize once (guide §2.4)
    val cand = candidatesRanked(ranked, maxCandDf).localCheckpoint()
    // df-split verify: n_common counts the common shingles with
    // df ≤ VerifyHotDf (enumerated by the pruned shared-shingle join)
    // plus those with df > VerifyHotDf (enumerated by the expansion form
    // restricted to the few hot shingles) in one aggregate. The split is
    // an exact partition of the shingle universe — see [[VerifyHotDf]]
    // for why neither form alone is safe.
    val rare = sharedEnumRanked(ranked, cand)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val tokHot = ranked.where($"df" > VerifyHotDf).select($"doc_id", $"sh")
    val hot = cand.select($"doc_a", $"doc_b")
      .join(tokHot.select($"doc_id".as("doc_a"), $"sh"), Seq("doc_a"))
      .join(tokHot.select($"doc_id".as("doc_b"), $"sh"), Seq("doc_b", "sh"))
      .select($"doc_a", $"doc_b")
    val common = rare.unionByName(hot)
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_common"))
    cand.join(common, Seq("doc_a", "doc_b"))
      .where(lit(2) * $"n_common" >= $"n_sh_a" + $"n_sh_b" - $"n_common")
      .select($"doc_a", $"doc_b", $"n_sh_a", $"n_sh_b", $"n_common",
        ($"n_common".cast("double") /
          ($"n_sh_a" + $"n_sh_b" - $"n_common").cast("double"))
          .as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** df split point of the fused verify: shingles with corpus df at or
    * below this go through the shared-shingle count join (cost
    * Σ C(df, 2) ≤ |tok|·VerifyHotDf/2 — linear in the corpus); hotter
    * shingles go through the candidate-expansion count (cost
    * |cand| × hot-shingles-per-doc — and at most |tok|/VerifyHotDf
    * DISTINCT shingles can be hot, so that factor is small by
    * construction). Neither form alone is scale-safe: the pure fused
    * join is quadratic in df on ONE boilerplate shingle shared by d
    * candidate docs (measured: the hot-corpus CandGrowth protocol's
    * corpus-wide phrase turned the capped 10× run from 43 s into
    * 25+ min before this split), and the pure expansion re-reads every
    * candidate's full shingle set (6.9× the rows at sf0.1). The value
    * only partitions WORK — any value yields identical results (the
    * counts add exactly; the brute-force oracle and PrefixJoinSpec gate
    * it), so it is a constant, not a results-affecting dial.
    */
  private[graft] val VerifyHotDf = 64L

  /** The verified-candidate stream of [[prefixSimJoinSh]] — the frame
    * whose cardinality IS the join's scale cost (Σ_sh df_prefix²
    * lossless, ≤ maxCandDf² per shingle capped). Factored out so the
    * pair-count-vs-SF growth evidence (graft.CandGrowth → SCALE.md)
    * measures exactly what the registered query executes.
    */
  private[graft] def candidatesSh(tok: DataFrame, maxCandDf: Long): DataFrame =
    candidatesRanked(
      CorpusIndex.rankedShinglesOf(tok).localCheckpoint(), maxCandDf)

  /** The fused verify's rare-side enumeration stream — one row per
    * common df ≤ [[VerifyHotDf]] shingle of each overlapping pair
    * among CANDIDATE docs (corpus pruned to them via left-semi, then
    * the shared-shingle self-join). Its cardinality IS the fused
    * verify's dominant cost (Σ_{df≤H} C(df_cand(sh), 2)); factored out
    * so CandGrowth records it per factor alongside the candidate
    * counts.
    */
  private[graft] def sharedEnumRanked(ranked: DataFrame,
      cand: DataFrame): DataFrame = {
    val spark = ranked.sparkSession
    import spark.implicits._
    val tok = ranked.where($"df" <= VerifyHotDf).select($"doc_id", $"sh")
    val candDocs = cand
      .select(explode(array($"doc_a", $"doc_b")).as("doc_id"))
      .distinct()
    val tokC = tok.join(candDocs, Seq("doc_id"), "left_semi")
    tokC.as("a").join(tokC.as("b"),
      col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id"))
  }

  /** [[candidatesSh]] over the materialized ranked index. The prefix
    * budget and the cap filter apply HERE (candidate generation only —
    * the fused verify counts over the uncapped index), so the memoized
    * frame stays cap-independent.
    */
  private[graft] def candidatesRanked(ranked: DataFrame,
      maxCandDf: Long): DataFrame = {
    val spark = ranked.sparkSession
    import spark.implicits._
    val inBudget = ranked
      .where($"pos" <= expr("n - ((n + 1) div 2) + 1"))
    val prefix =
      (if (maxCandDf == Long.MaxValue) inBudget
       else inBudget.where($"df" <= maxCandDf))
        .select($"doc_id", $"sh", $"n", $"pos")

    // positional upper bound (PPJoin): a pair with J ≥ τ needs overlap
    // α = ⌈(n_a+n_b)/3⌉ (τ = 1/2); common shingles all sit at/after the
    // matched positions, so overlap ≤ min(n_a−pos_a, n_b−pos_b)+1 — the
    // smallest common shingle always passes when J ≥ τ (lossless), and
    // most spurious prefix collisions die before the verify joins
    prefix.select($"doc_id".as("doc_a"), $"sh",
        $"n".as("n_sh_a"), $"pos".as("pos_a"))
      .join(prefix.select($"doc_id".as("doc_b"), $"sh",
        $"n".as("n_sh_b"), $"pos".as("pos_b")), Seq("sh"))
      .where($"doc_a" < $"doc_b" &&
        $"n_sh_a" <= $"n_sh_b" * 2 && $"n_sh_b" <= $"n_sh_a" * 2 &&
        (least($"n_sh_a" - $"pos_a", $"n_sh_b" - $"pos_b") + 1) * 3 >=
          $"n_sh_a" + $"n_sh_b")
      .select($"doc_a", $"doc_b", $"n_sh_a", $"n_sh_b").distinct()
  }

  /** The un-checkpointed prefix index (doc_id, sh, n, pos) behind
    * [[candidatesSh]]: corpus df (groupBy + token-keyed join — never a
    * PARTITION BY sh window), doc-partitioned size/position windows,
    * the τ = 1/2 prefix budget, and the candidate-df cap when engaged.
    * Factored out so PrefixJoinSpec can pin the window discipline on
    * the frame the checkpoint materializes.
    */
  private[graft] def prefixIndexSh(tok: DataFrame, maxCandDf: Long): DataFrame = {
    val spark = tok.sparkSession
    import spark.implicits._
    val inBudget = CorpusIndex.rankedShinglesOf(tok)
      .where($"pos" <= expr("n - ((n + 1) div 2) + 1"))
    (if (maxCandDf == Long.MaxValue) inBudget
     else inBudget.where($"df" <= maxCandDf))
      .select($"doc_id", $"sh", $"n", $"pos")
  }

  /** Pure all-pairs brute force — proving the prefix filter lossless. */
  val prefixSimJoinSql: String =
    s"""WITH ${Dedup.shinglesSqlFrom("documents")},
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b, sa.n AS n_sh_a, sb.n AS n_sh_b, n_common,
       |       CAST(n_common AS DOUBLE)
       |         / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
       |FROM cand
       |JOIN sz sa ON doc_a = sa.doc_id
       |JOIN sz sb ON doc_b = sb.doc_id
       |WHERE 2 * n_common >= sa.n + sb.n - n_common
       |ORDER BY doc_a, doc_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x62_setsim_prefix_join" -> prefixSimJoin _)

  val oracles: Map[String, String] = Map(
    "x62_setsim_prefix_join" -> prefixSimJoinSql)
}
