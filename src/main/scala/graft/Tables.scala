package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Every operator in the engine takes its inputs through these, so scans
  * stay declarative parquet reads that Catalyst can push filters into and
  * prune columns from. At cluster scale the same call sites would point at
  * a partitioned table root instead of a single file — nothing else
  * changes, which is the point of keeping IO behind one seam.
  */
object Tables {

  // Memoized relations per (session, path): building a parquet relation
  // lists the path and reads footers, and the engine's query suite hits
  // the same handful of tables from every query — a catalog would
  // amortize that, so this seam does too.
  private val relations = SessionArtifacts.Slot[DataFrame]("Tables.relations")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    relations(spark, s"$dir/$name.parquet") {
      spark.read.parquet(s"$dir/$name.parquet")
    }

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** `events.ts` has shipped under two parquet annotations across
    * driver testdata generations: TIMESTAMP(MICROS, isAdjustedToUTC
    * =false) — which Spark infers as TIMESTAMP_NTZ — and
    * TIMESTAMP(NANOS), which Spark has no native type for
    * ([PARQUET_TYPE_ILLEGAL] on schema inference). Sniff via normal
    * inference first: an NTZ micros column casts to the session
    * TimestampType (all engine entry points run UTC, so the wall-clock
    * reading is unchanged and matches DuckDB's naive read); only if
    * inference itself rejects the file fall back to the explicit
    * nanos-long schema — exactly what `spark.sql.legacy.parquet
    * .nanosAsLong` would infer — floor-divided to microseconds to
    * match DuckDB's ns→µs truncating CAST. Both mappings are scoped to
    * THIS read instead of mutating session-global config for every
    * other table and query (round-1 ADVICE).
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    relations(spark, s"$dir/events.parquet") {
      val path = s"$dir/events.parquet"
      try {
        val df = spark.read.parquet(path)
        df.schema("ts").dataType match {
          case org.apache.spark.sql.types.TimestampNTZType =>
            df.withColumn("ts",
              expr("ts").cast(org.apache.spark.sql.types.TimestampType))
          case org.apache.spark.sql.types.TimestampType => df
          case other =>
            // A regen writing ts as e.g. un-annotated INT64 would infer
            // LongType and silently leave a raw long flowing into every
            // ts consumer (only the test-time canary would notice). The
            // known annotations are handled above/below; anything else
            // must fail loudly at first read, naming what arrived.
            throw new IllegalStateException(
              s"unexpected events.ts parquet type $other at $path — " +
                "known shapes: TIMESTAMP(MICROS,NTZ), TIMESTAMP(NANOS) " +
                "(inference failure -> nanos fallback). Testdata regen " +
                "changed the annotation again; extend Tables.events.")
        }
      } catch {
        case _: org.apache.spark.sql.AnalysisException =>
          val schema = org.apache.spark.sql.types.StructType.fromDDL(
            "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, " +
              "value DOUBLE, props STRING")
          spark.read.schema(schema)
            .parquet(path)
            .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      }
    }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
