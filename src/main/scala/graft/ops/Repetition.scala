package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** X27 — intra-document repetition statistics (Gopher-style quality
  * signals): per document, how much of its own content a document
  * repeats. Heavily repetitive documents (boilerplate, keyword stuffing,
  * template spam) are a standard pre-training removal class, flagged by
  * duplicate word/n-gram mass, NOT by cross-document comparison.
  *
  * Scale shape: every metric is computed ROW-LOCALLY from the document's
  * own token array (array HOFs — no explode, no shuffle, no state), so
  * the operator is embarrassingly parallel: at 100 TB it is a single
  * mapper pass whose cost is linear in corpus bytes. The final ORDER BY
  * exists only for the deterministic oracle compare.
  *
  * Metrics (all exact integer counts, so both engines agree bit-for-bit;
  * the single fraction is one IEEE division of two exact longs):
  *  - n_tokens / n_distinct_words — duplicate word mass;
  *  - n_grams{2,3} / n_distinct_grams{2,3} — duplicate word-bigram and
  *    word-trigram mass (the Gopher "duplicate n-gram fraction" family);
  *  - dup_gram2_frac — (n_grams2 - n_distinct_grams2) / n_grams2;
  *  - repetitive — 1 when >20% duplicate bigram mass OR >50% duplicate
  *    word mass, decided in INTEGER arithmetic (5·dups > total), so the
  *    flag never rides float rounding.
  */
object Repetition {

  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    repetitionOf(Tables.documents(spark, dir))

  private[graft] def repetitionOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // one fused pass for all six counts (native RepetitionCounts);
    // repetitionOfLambda is the built-in reference form the spec pins
    // this bit-equal against
    val c = graft.functions.Hashing.repetitionCounts($"words")
    docs
      .select($"doc_id", split(trim(lower($"text")), "\\s+").as("words"))
      .withColumn("rc", c)
      .select(
        $"doc_id",
        element_at($"rc", 1).as("n_tokens"),
        element_at($"rc", 2).as("n_distinct_words"),
        element_at($"rc", 3).as("n_grams2"),
        element_at($"rc", 4).as("n_distinct_grams2"),
        element_at($"rc", 5).as("n_grams3"),
        element_at($"rc", 6).as("n_distinct_grams3"))
      .transform(deriveSignals)
  }

  /** Built-in reference form of [[repetitionOf]] (interpreted HOF
    * lambdas + array_distinct; for the RepetitionSpec parity pin and
    * MicroBench `repetition_counts` comparison).
    */
  private[graft] def repetitionOfLambda(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // n-grams as joined strings via a 1-based index sequence; sequence()
    // must be guarded: Spark's sequence(1, n-1) with n=1 yields the
    // DESCENDING [1, 0], not an empty array
    def grams(n: Int): Column =
      when(size($"words") >= n,
        transform(sequence(lit(1), size($"words") - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at($"words", i + k)): _*)))
        .otherwise(array().cast("array<string>"))
    docs
      .select($"doc_id", split(trim(lower($"text")), "\\s+").as("words"))
      .withColumn("grams2", grams(2))
      .withColumn("grams3", grams(3))
      .select(
        $"doc_id",
        size($"words").cast("long").as("n_tokens"),
        size(array_distinct($"words")).cast("long").as("n_distinct_words"),
        size($"grams2").cast("long").as("n_grams2"),
        size(array_distinct($"grams2")).cast("long").as("n_distinct_grams2"),
        size($"grams3").cast("long").as("n_grams3"),
        size(array_distinct($"grams3")).cast("long").as("n_distinct_grams3"))
      .transform(deriveSignals)
  }

  /** The derived fraction/flag columns + the deterministic output order,
    * shared by the native and reference forms.
    */
  private def deriveSignals(counted: DataFrame): DataFrame = {
    val spark = counted.sparkSession
    import spark.implicits._
    counted
      .withColumn("dup_gram2_frac",
        when($"n_grams2" > 0,
          ($"n_grams2" - $"n_distinct_grams2").cast("double") / $"n_grams2".cast("double"))
          .otherwise(lit(0.0)))
      // integer-arithmetic thresholds: 5·dup2 > n2 (>20%), 2·dupw > nw (>50%)
      .withColumn("repetitive",
        (($"n_grams2" - $"n_distinct_grams2") * 5 > $"n_grams2" ||
          ($"n_tokens" - $"n_distinct_words") * 2 > $"n_tokens").cast("int"))
      .orderBy($"doc_id")
  }

  val repetitionStatsSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS words
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, words,
      |         list_transform(range(1, len(words)),
      |           i -> words[i] || ' ' || words[i+1]) AS grams2,
      |         list_transform(range(1, len(words) - 1),
      |           i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS grams3
      |  FROM w),
      |m AS (
      |  SELECT doc_id,
      |         CAST(len(words) AS BIGINT) AS n_tokens,
      |         CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct_words,
      |         CAST(len(grams2) AS BIGINT) AS n_grams2,
      |         CAST(len(list_distinct(grams2)) AS BIGINT) AS n_distinct_grams2,
      |         CAST(len(grams3) AS BIGINT) AS n_grams3,
      |         CAST(len(list_distinct(grams3)) AS BIGINT) AS n_distinct_grams3
      |  FROM g)
      |SELECT doc_id, n_tokens, n_distinct_words, n_grams2, n_distinct_grams2,
      |       n_grams3, n_distinct_grams3,
      |       CASE WHEN n_grams2 > 0
      |            THEN CAST(n_grams2 - n_distinct_grams2 AS DOUBLE)
      |                   / CAST(n_grams2 AS DOUBLE)
      |            ELSE 0.0 END AS dup_gram2_frac,
      |       CAST((n_grams2 - n_distinct_grams2) * 5 > n_grams2
      |            OR (n_tokens - n_distinct_words) * 2 > n_tokens AS INT)
      |         AS repetitive
      |FROM m
      |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x27_repetition_stats" -> repetitionStats _)

  val oracles: Map[String, String] = Map(
    "x27_repetition_stats" -> repetitionStatsSql)
}
