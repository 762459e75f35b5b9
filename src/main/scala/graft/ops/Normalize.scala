package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashing

/** X52 — Unicode canonicalization pass: NFC-normalize every document and
  * report, per source, how much text changed plus an exact content
  * fingerprint of the normalized corpus.
  *
  * Why this exists: mixed-provenance corpora carry the same glyphs in
  * both precomposed (U+00E9 "é") and decomposed (e + U+0301) byte forms;
  * every byte-level stage downstream — exact dedup (x01), MinHash
  * shingles (x02), SimHash (x12/x32), inverted-index terms (x43) —
  * treats the two as distinct unless canonicalized first, silently
  * halving dedup recall on accented text. Spark has no normalization
  * builtin, so this runs on the engine's native
  * [[graft.functions.expr.NfcNormalize]] codegen expression (the one
  * case in the suite where a custom Expression is the first rung, not an
  * optimization — see its scaladoc).
  *
  * The synthetic corpus is pure ASCII, where NFC is the identity — so the
  * query appends a deterministic decomposed-Unicode suffix to each doc
  * before normalizing, making the pass do real work on every row, and
  * the oracle (DuckDB's `nfc_normalize`, the same UAX#15 algorithm from
  * a different implementation) independently recomputes it. Parity is
  * pinned content-exactly: `content_hash` sums the 40-bit md5 of every
  * normalized document (exact i64 sum, order-independent), so a single
  * differing byte anywhere in the corpus flips the gate.
  *
  * Scale shape: map-only per row (scan → normalize → hash) feeding one
  * partial-aggregated groupBy(source); no joins, no windows, one
  * exchange of |sources| groups. The NFC fast path costs one
  * non-allocating scan on already-normalized rows.
  */
object Normalize {

  /** Decomposed suffix: " cafe" + combining acute, "nai" + combining
    * diaeresis + "ve" — NFC composes both marks, shortening the string
    * by 2 code points.
    */
  val DecomposedSuffix = " cafe\u0301 nai\u0308ve"

  def nfc(c: Column): Column = {
    import org.apache.spark.sql.graft.SparkBridge
    SparkBridge.column(
      graft.functions.expr.NfcNormalize(SparkBridge.expression(c)))
  }

  def normalizeText(spark: SparkSession, dir: String): DataFrame =
    normalizeOf(Tables.documents(spark, dir))

  /** Core of X52 over any (source, text) frame; test/scale seam. */
  def normalizeOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"source",
        concat($"text", lit(DecomposedSuffix)).as("raw"))
      .withColumn("norm", nfc($"raw"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"norm" =!= $"raw", 1L).otherwise(0L)).as("n_changed"),
        sum(length($"raw") - length($"norm")).as("chars_composed"),
        sum(Hashing.md5Long40($"norm")).as("content_hash"))
      .orderBy($"source")
  }

  val normalizeTextSql: String =
    s"""WITH d AS (
       |  SELECT source, text || '$DecomposedSuffix' AS raw
       |  FROM documents),
       |n AS (SELECT source, raw, nfc_normalize(raw) AS norm FROM d)
       |SELECT source,
       |       count(*) AS n_docs,
       |       CAST(sum(CASE WHEN norm <> raw THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |       CAST(sum(length(raw) - length(norm)) AS BIGINT) AS chars_composed,
       |       CAST(sum(${Hashing.sqlMd5Long40("norm")}) AS BIGINT) AS content_hash
       |FROM n
       |GROUP BY source
       |ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x52_normalize_text" -> normalizeText _)

  val oracles: Map[String, String] = Map(
    "x52_normalize_text" -> normalizeTextSql)
}
