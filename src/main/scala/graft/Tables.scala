package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
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

  // Memoized relations per (session, path): every query of a session
  // reads the same handful of tables, so each relation is resolved once
  // per session (one footer read and one listing, see `open`) and its
  // analysed plan is shared, as a catalog would share it.
  private val relations = SessionArtifacts.Slot[DataFrame]("Tables.relations")

  /** Opens a parquet file or table root as Spark's parquet reader does,
    * without the Spark job that reader's schema inference starts. The
    * data schema comes from one footer, read here on the driver from the
    * first data file (`path` itself, or the first one depth-first under
    * it in name order, skipping the `_`/`.` names Spark's listing skips),
    * and is converted by the converter Spark's own inference uses, under
    * this session's conf. So TIMESTAMP_NTZ inference, the Spark schema
    * engine-written files carry in their metadata and the
    * [PARQUET_TYPE_ILLEGAL] `AnalysisException` for TIMESTAMP(NANOS) all
    * stay as they were; partition columns are still discovered from the
    * directory names by the reader. Like Spark's default (`mergeSchema`
    * off), it assumes every file shares the schema of the one it reads.
    * A path with no data file fails here.
    */
  def open(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val file = firstDataFile(fs, fs.getFileStatus(root)).getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under $path"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.schema(schema).parquet(path)
  }

  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (!st.isDirectory) Some(st)
    else fs.listStatus(st.getPath).sortBy(_.getPath.getName).iterator
      .filterNot { c =>
        val n = c.getPath.getName
        n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
      }
      .flatMap(firstDataFile(fs, _)).nextOption()

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    relations(spark, s"$dir/$name.parquet")(open(spark, s"$dir/$name.parquet"))

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
    * ([PARQUET_TYPE_ILLEGAL] on schema inference). Sniff via [[open]]
    * (Spark's own footer conversion) first: an NTZ micros column casts
    * to the session TimestampType (all engine entry points run UTC, so
    * the wall-clock reading is unchanged and matches DuckDB's naive
    * read); only if the conversion itself rejects the file fall back to
    * the explicit nanos-long schema — exactly what `spark.sql.legacy
    * .parquet.nanosAsLong` would infer — floor-divided to microseconds
    * to match DuckDB's ns→µs truncating CAST. Both mappings are scoped to
    * THIS read instead of mutating session-global config for every
    * other table and query (round-1 ADVICE).
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    relations(spark, s"$dir/events.parquet") {
      val path = s"$dir/events.parquet"
      try {
        val df = open(spark, path)
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
