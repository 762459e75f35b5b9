package graft.functions.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All six X27 repetition counts in one pass over the token array:
  * `[n_tokens, n_distinct_words, n_grams2, n_distinct_grams2, n_grams3,
  * n_distinct_grams3]`.
  *
  * The built-in composition (see Repetition.repetitionOfLambda) walks the
  * array five times — two guarded `transform(sequence(...))` lambdas
  * materialize the bigram/trigram string arrays and three
  * `array_distinct` passes re-hash them — with every lambda step
  * interpreted (HOF lambdas don't codegen). This expression makes ONE
  * pass, keeps a sliding window of the last three tokens, and feeds three
  * exact hash sets; n-gram identity is the token TUPLE (no separator
  * string is ever built), which equals joined-string identity because
  * `\s+`-split tokens cannot contain the joiner. Distinctness is exact
  * (full equality on the set keys, not hashes), so the counts are
  * bit-identical to the lambda form — pinned in RepetitionSpec; measured
  * ~1.7× over the lambda form (MicroBench `repetition_counts`: 50k docs,
  * local[32], alternating-rep medians of 5 in one warm session: 0.58 s vs
  * 1.01 s).
  *
  * Null semantics: null array → null; null elements cannot occur in
  * `split()` output but are tolerated as empty tokens (both forms then
  * disagree only on inputs the operator never produces).
  */
case class RepetitionCounts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "repetition_counts"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<string> argument, got ${other.catalogString}")
    }

  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    RepetitionCounts.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.expr.RepetitionCounts.compute($arr);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepetitionCounts {

  private val Empty = UTF8String.fromString("")

  /** Single pass: sliding 3-token window into three exact hash sets.
    * Static so the generated code can call it directly (the set machinery
    * has no sane inline form; the call itself stays inside the
    * whole-stage-codegen projection).
    */
  def compute(words: ArrayData): ArrayData = {
    val n = words.numElements()
    val seen1 = new java.util.HashSet[UTF8String]()
    val seen2 = new java.util.HashSet[(UTF8String, UTF8String)]()
    val seen3 = new java.util.HashSet[(UTF8String, UTF8String, UTF8String)]()
    var w1: UTF8String = null // token at i-1
    var w2: UTF8String = null // token at i-2
    var i = 0
    while (i < n) {
      val w = if (words.isNullAt(i)) Empty else words.getUTF8String(i)
      seen1.add(w)
      if (i >= 1) seen2.add((w1, w))
      if (i >= 2) seen3.add((w2, w1, w))
      w2 = w1
      w1 = w
      i += 1
    }
    val g2 = math.max(n - 1, 0).toLong
    val g3 = math.max(n - 2, 0).toLong
    new GenericArrayData(Array[Long](
      n.toLong, seen1.size.toLong, g2, seen2.size.toLong, g3, seen3.size.toLong))
  }
}
