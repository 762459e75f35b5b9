package graft.functions.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The full MinHash signature in one pass: for an array of (40-bit)
  * shingle hashes, `sig[j] = min_i (h_i * a(j) + b(j)) % p` for every j.
  *
  * The per-band-lambda form (`nHashes` × `array_min(transform(...))`,
  * see StreamDedup.signatures' reference build) walks the hash array 16
  * times through interpreted lambdas — one boxed call per element per
  * band, and a CodegenFallback in the projection. This fuses all bands
  * into a single primitive loop inside whole-stage codegen: measured
  * ~1.9× end-to-end on the streaming ingest path (MicroBench
  * `stream_dedup`, ~16.7k vs ~8.8k docs/s, medians of 3 in one warm
  * session).
  * StreamDedupSpec pins bit-equality against both the lambda form and
  * batch X2's aggregated signatures.
  *
  * Null semantics: null array → null (UnaryExpression default); null
  * elements are skipped (the batch `min()` aggregate ignores nulls); an
  * array with NO usable element → null signature (the caller filters
  * docs with no shingles, matching batch X2, where such docs never get a
  * signature row at all). Overflow-safe by construction: h < 2^40 and
  * a(j) < 2^21, so h·a(j)+b(j) < 2^62.
  */
case class MinHashSig(child: Expression, a: Seq[Long], b: Seq[Long], p: Long)
    extends UnaryExpression {
  require(a.length == b.length && a.nonEmpty,
    "coefficient arrays must be non-empty and of equal length")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<bigint> argument, got ${other.catalogString}")
    }

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val sig = Array.fill(a.length)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < x.numElements()) {
      if (!x.isNullAt(i)) {
        any = true
        val h = x.getLong(i)
        var j = 0
        while (j < sig.length) {
          val v = (h * a(j) + b(j)) % p
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (any) new GenericArrayData(sig) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val any = ctx.freshName("any")
      val sig = ctx.freshName("sig")
      // the coefficient table is tiny and constant — bake the unrolled
      // min-updates straight into the generated loop body
      val updates = a.indices.map { j =>
        s"""{ long v = ($h * ${a(j)}L + ${b(j)}L) % ${p}L;
           |  if (v < $sig[$j]) $sig[$j] = v; }""".stripMargin
      }.mkString("\n")
      s"""
         |long[] $sig = new long[${a.length}];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |boolean $any = false;
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    $any = true;
         |    long $h = $arr.getLong($i);
         |    $updates
         |  }
         |}
         |if ($any) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
         |} else {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}
