package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** The engine's one bridge to Spark's private[sql] API. It lives under
  * org.apache.spark.sql.* solely for the access qualifier and contains
  * no logic beyond the conversions and the re-wrap below.
  */
object SparkBridge {

  /** Column↔Expression converters: the supported way (short of
    * registering a FunctionBuilder per session) to expose a custom
    * Catalyst expression like [[graft.functions.expr.QuantizedDot]]
    * through the public Column API.
    */
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Strips the inherited origin statistics from a checkpoint-backed
    * frame (round-19 fix).
    *
    * `Dataset.localCheckpoint` truncates the logical plan to a
    * [[LogicalRDD]] but passes the ORIGIN plan's computed `Statistics`
    * along (so the optimizer keeps size information across the
    * checkpoint). Inside an iterative fixpoint — connected components'
    * label loop — that inheritance COMPOUNDS: round N's plan joins
    * round N−1's checkpoint k+1 times, the size-only stats visitor
    * estimates every inner join as the PRODUCT of its children's
    * sizeInBytes, and the checkpoint stores that product as round N's
    * origin stats. The estimate's bit-length multiplies by ~(k+1) every
    * round; by round ~10 of a label⁴ loop the "statistic" is a BigInt
    * with hundreds of millions of bits, and the planner burns hours
    * inside BigInteger.multiply on a 1239-row query
    * (observed live: ToomCook3 frames under
    * SizeInBytesOnlyStatsPlanVisitor.visitJoin). The same compounding is
    * latent at ANY hop depth — label² merely doubles the bit-length per
    * round, so high-diameter graphs hit the identical wall later.
    *
    * The fix: rebuild the same LogicalRDD — same RDD (no recompute, the
    * checkpointed blocks stay pinned), same output attributes, same
    * partitioning and ordering — with `originStats = None`, so each
    * round's stats start from the size-estimation defaults instead of
    * the previous round's product. Join-strategy quality is unaffected:
    * AQE re-plans every exchange from RUNTIME sizes, which is where the
    * loop's broadcast decisions actually come from. Constraints are
    * carried over (they do not compound). Needs the private[sql]
    * Dataset.ofRows and classic session.
    */
  def withoutOriginStats(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    qe.logical match {
      case l: LogicalRDD =>
        org.apache.spark.sql.classic.Dataset.ofRows(
          qe.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          new LogicalRDD(l.output, l.rdd, l.outputPartitioning,
            l.outputOrdering, l.isStreaming, l.stream)(
            qe.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
            None, Some(l.constraints)))
      case _ => df
    }
  }
}
