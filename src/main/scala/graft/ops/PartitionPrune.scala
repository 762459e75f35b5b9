package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** B33 — partition pruning over a partitioned lake layout: the
  * directory-level data skipping that makes a 100 TB fact table
  * queryable. Two forms, both pinned in PartitionPruneSpec (no DuckDB
  * oracle — the subject is the SCAN behavior, not the row values):
  *
  *   - STATIC pruning: a literal predicate on the partition column
  *     never touches non-matching directories — the FileScan's
  *     `PartitionFilters` carries the predicate and its partition
  *     count drops before execution.
  *   - DYNAMIC pruning (DPP): when the partition predicate only
  *     exists on the OTHER side of a join (fact ⋈ filtered dim on the
  *     partition key), Catalyst injects a `dynamicpruning#…` subquery
  *     into the fact scan: the dim side runs first, its keys broadcast,
  *     and the fact scan skips every directory whose partition value
  *     isn't in the dim result — the star-schema scan killer.
  *
  * The testdata ships as single unpartitioned files (the driver's
  * choice), so [[partitionedWrite]] is the write-side seam that lays a
  * frame out as `path/col=value/…` directories — at open scale this is
  * the ingest step that buys every later query the pruning above.
  */
object PartitionPrune {

  /** Write-side seam: hash-free directory layout by a low-cardinality
    * column. One directory per value; within a directory the rows keep
    * their scan order (repartition by the column first so each
    * directory is written by one task, not fragmented P ways).
    */
  def partitionedWrite(df: DataFrame, partCol: String, outPath: String): Unit =
    df.repartition(col(partCol))
      .write.mode("overwrite")
      .partitionBy(partCol)
      .parquet(outPath)

  /** A static-pruned scan of a [[partitionedWrite]] layout. */
  def staticPruned(spark: SparkSession, factPath: String, partCol: String,
                   value: String): DataFrame =
    Tables.open(spark, factPath).filter(col(partCol) === value)

  /** A DPP-shaped join: the fact's partition predicate lives only on
    * the dim side. `dim` must expose a column named like `partCol`.
    */
  def dppJoin(spark: SparkSession, factPath: String, partCol: String,
              dim: DataFrame): DataFrame =
    Tables.open(spark, factPath)
      .join(broadcast(dim), Seq(partCol))
}
