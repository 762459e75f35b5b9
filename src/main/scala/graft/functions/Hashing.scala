package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable hashing and vector quantization.
  *
  * The driver hash-compares our results against DuckDB bit-for-bit, so any
  * hash or floating-point reduction we use inside a query must produce the
  * exact same bits in both engines:
  *
  *  - `md5Long40` — a 40-bit integer hash of a string that both engines can
  *    compute: Spark takes hex chars 17..26 of `md5()` (= bytes 8..12 of the
  *    digest) assembled little-endian via `conv`; DuckDB gets the same value
  *    as `md5_number_lower(x) % 2^40` (md5_number_lower is the little-endian
  *    uint64 of digest bytes 8..15). 40 bits keeps every subsequent
  *    `a*h + b` MinHash-style affine step inside exact i64/f64 range.
  *  - `dotQ` — dot product of two float vectors through a fixed-point
  *    quantization: each term is `floor(x*y * 1e15)` as i64, summed exactly.
  *    IEEE multiply and floor are deterministic, and the integer sum is
  *    order-independent, so Spark's sequential `aggregate` fold and DuckDB's
  *    `list_sum` agree bit-for-bit — unlike a raw double sum, whose value
  *    depends on accumulation order. For unit-ish embeddings the sum is
  *    ≤ ~1e15 < 2^53, so it also survives DuckDB's double-typed list_sum
  *    exactly. Quantization error is ~1e-15 per term — far below any
  *    similarity threshold anyone sets.
  *
  * Scale note: both are pure codegen-friendly expressions (no UDFs), so they
  * stay inside whole-stage codegen on the executor hot path.
  */
object Hashing {

  /** 40-bit md5-derived hash of a string column; see object doc. Backed
    * by the native codegen expression [[graft.functions.expr.Md5Long40]];
    * [[md5Long40Builtin]] is the built-in composition it replaces (kept
    * for the parity spec).
    */
  def md5Long40(c: Column): Column = {
    import org.apache.spark.sql.graft.SparkBridge
    SparkBridge.column(
      graft.functions.expr.Md5Long40(SparkBridge.expression(c)))
  }

  /** Built-in reference form of [[md5Long40]] (bit-identical). */
  def md5Long40Builtin(c: Column): Column = {
    val h = md5(c)
    conv(
      concat(
        substring(h, 25, 2), substring(h, 23, 2), substring(h, 21, 2),
        substring(h, 19, 2), substring(h, 17, 2)),
      16, 10).cast("long")
  }

  /** DuckDB fragment computing the same value as [[md5Long40]]. */
  def sqlMd5Long40(expr: String): String =
    s"CAST(md5_number_lower($expr) % 1099511627776 AS BIGINT)"

  /** Quantized dot product of two float-array columns, as double.
    * The 1e15 scale cancels in cosine ratios, so use dotQ consistently for
    * numerator and norms and never mix with unquantized dots.
    *
    * Backed by the native codegen expression
    * [[graft.functions.expr.QuantizedDot]]; [[dotQHof]] is the built-in
    * HOF reference form it replaces (interpreted lambdas — ~25× slower on
    * the similarity-join hot path; kept for the parity spec).
    */
  def dotQ(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.SparkBridge
    SparkBridge.column(graft.functions.expr.QuantizedDot(
      SparkBridge.expression(a),
      SparkBridge.expression(b))).cast("double")
  }

  /** Reference HOF form of [[dotQ]] (bit-identical result on null-free
    * equal-length arrays; see QuantizedDot's scaladoc for the edge-case
    * differences).
    */
  def dotQHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        floor(x.cast("double") * y.cast("double") * lit(1e15)).cast("long")),
      lit(0L),
      (acc, t) => acc + t).cast("double")

  /** DuckDB fragment computing the same value as [[dotQ]]. */
  def sqlDotQ(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), " +
      "p -> CAST(floor(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)*1e15) AS BIGINT))) AS DOUBLE)"

  /** Quantized L1 norm Σ floor(|xᵢ|·1e7) of a float-array column, as long.
    * Native codegen ([[graft.functions.expr.QuantizedAbsL1]]), used on the
    * b19 hot path; [[l1QHof]] is the lambda reference form EventsSpec pins
    * it bit-equal against.
    */
  def l1Q(c: Column): Column = {
    import org.apache.spark.sql.graft.SparkBridge
    SparkBridge.column(
      graft.functions.expr.QuantizedAbsL1(SparkBridge.expression(c)))
  }

  /** Reference HOF form of [[l1Q]] (interpreted lambda; kept for the
    * parity pin). Null elements contribute 0 via the coalesce — matching
    * the native expression's skip and DuckDB's null-ignoring `list_sum`;
    * a PLAIN `acc + floor(…)` fold would instead null the whole total on
    * one null element.
    */
  def l1QHof(c: Column): Column =
    aggregate(c, lit(0L), (acc, x) =>
      acc + coalesce(floor(abs(x.cast("double")) * lit(1e7)).cast("long"), lit(0L)))

  /** Count of positive elements of a float-array column (Spark SQL float
    * ordering: NaN > 0), as int. Native codegen
    * ([[graft.functions.expr.CountPositive]]), used on the b19 hot path;
    * [[countPosHof]] is the lambda reference form EventsSpec pins it
    * bit-equal against.
    */
  def countPos(c: Column): Column = {
    import org.apache.spark.sql.graft.SparkBridge
    SparkBridge.column(
      graft.functions.expr.CountPositive(SparkBridge.expression(c)))
  }

  /** Reference HOF form of [[countPos]] (interpreted lambda; kept for the
    * parity pin). The filter drops null elements (null predicate ≠ true)
    * and keeps NaN (Spark's float comparison orders NaN above all) —
    * identical semantics to the native loop.
    */
  def countPosHof(c: Column): Column =
    size(filter(c, x => x > lit(0f)))

  /** Count of array<string> elements in a literal set, as int. Native
    * codegen ([[graft.functions.expr.CountInSet]]) — the x10 stopword
    * counter without the interpreted filter lambda; [[countInSetHof]] is
    * the lambda reference form TextVectorSpec pins it equal against.
    */
  def countInSet(c: Column, values: Seq[String]): Column = {
    import org.apache.spark.sql.graft.SparkBridge
    SparkBridge.column(
      graft.functions.expr.CountInSet(SparkBridge.expression(c), values))
  }

  /** Reference HOF form of [[countInSet]] (interpreted lambda; for the
    * parity pin).
    */
  def countInSetHof(c: Column, values: Seq[String]): Column =
    size(filter(c, w => values.map(v => w === lit(v)).reduce(_ || _)))

  /** Full MinHash signature of a long-array column in one fused pass
    * (`sig[j] = min_i (h_i·a(j)+b(j)) % p`). Native codegen
    * ([[graft.functions.expr.MinHashSig]]), used on the streaming ingest
    * path; [[minHashSigHof]] is the per-band lambda reference form
    * StreamDedupSpec pins it bit-equal against (on non-empty arrays —
    * the lambda form yields an array of per-band nulls on an empty
    * input where the native form yields one null signature).
    */
  def minHashSig(c: Column, a: Seq[Long], b: Seq[Long], p: Long): Column = {
    import org.apache.spark.sql.graft.SparkBridge
    SparkBridge.column(
      graft.functions.expr.MinHashSig(SparkBridge.expression(c), a, b, p))
  }

  /** Reference per-band HOF form of [[minHashSig]] (interpreted lambdas;
    * for the parity pin): nHashes separate `array_min(transform(...))`
    * walks of the hash array.
    */
  def minHashSigHof(c: Column, a: Seq[Long], b: Seq[Long], p: Long): Column =
    array(a.indices.map { j =>
      array_min(transform(c, h => (h * lit(a(j)) + lit(b(j))) % lit(p)))
    }: _*)

  /** All six X27 repetition counts of an array<string> column in one
    * fused pass: `[n_tokens, n_distinct_words, n_grams2,
    * n_distinct_grams2, n_grams3, n_distinct_grams3]`. Native
    * ([[graft.functions.expr.RepetitionCounts]]) — replaces two guarded
    * interpreted transform(sequence(...)) gram builds plus three
    * array_distinct walks; Repetition.repetitionOfLambda is the
    * reference form RepetitionSpec pins it equal against.
    */
  def repetitionCounts(c: Column): Column = {
    import org.apache.spark.sql.graft.SparkBridge
    SparkBridge.column(
      graft.functions.expr.RepetitionCounts(SparkBridge.expression(c)))
  }

  /** Skip-gram pair strings of an array<string> column in one fused
    * pass: token i × positions i+1…i+window as `"a b"`, canonically
    * ordered when `canonical` (X44) or stream-ordered (X49 bigrams at
    * window=1). Native codegen
    * ([[graft.functions.expr.SkipGramPairs]]); [[skipGramPairsHof]] is
    * the nested-lambda reference form the specs pin it equal against.
    */
  def skipGramPairs(c: Column, window: Int, canonical: Boolean): Column = {
    import org.apache.spark.sql.graft.SparkBridge
    SparkBridge.column(graft.functions.expr.SkipGramPairs(
      SparkBridge.expression(c), window, canonical))
  }

  /** Reference HOF form of [[skipGramPairs]] (interpreted lambdas; for
    * the parity pins).
    */
  def skipGramPairsHof(c: Column, window: Int, canonical: Boolean): Column =
    flatten(transform(c, (x, i) =>
      transform(slice(c, i + lit(2), lit(window)), y =>
        if (canonical) concat(least(x, y), lit(" "), greatest(x, y))
        else concat(x, lit(" "), y))))

  /** Quantized cosine similarity given two dotQ'd norms; both engines
    * evaluate `dq / (sqrt(na)*sqrt(nb))` on identical doubles.
    */
  def cosQ(dq: Column, na: Column, nb: Column): Column =
    dq / (sqrt(na) * sqrt(nb))

  def sqlCosQ(dq: String, na: String, nb: String): String =
    s"$dq / (sqrt($na) * sqrt($nb))"
}
