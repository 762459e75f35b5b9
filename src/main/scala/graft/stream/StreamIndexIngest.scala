package graft.stream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing.dotQ
import graft.ops.{Centroids, IndexAlias, LloydIvfPq, LloydPq}

/** X180 — streaming index ingestion: encode ARRIVING vectors against a
  * FROZEN persisted index (X179's artifact) — the way a production IVF
  * index absorbs inserts between retrains (Jégou et al. 2011 §V: the
  * coarse quantizer and codebooks are fixed at build time; new vectors
  * are assigned and appended to their inverted list, and the nightly
  * build retrains). This closes the family's production loop: build
  * (x166/x173/x178) → persist (X179) → probe → INGEST (X180) →
  * retrain.
  *
  * Statelessness is the whole design: the batch encoder's E-step is a
  * groupBy(vec_id).argmin — on a stream that is a KEYED AGGREGATION
  * with one state row per vector, i.e. unbounded state for a pure
  * enrichment. Instead the parameter tables collapse to ONE static row
  * each ([[centroidRow]]/[[codebookRow]] — ≤ |cells| and M·K structs,
  * the eval-gram-sets pattern), broadcast into the stream, and both
  * argmins run ROW-LOCALLY as array HOFs: array_min over
  * struct(dist, cell, c) replays the batch (dist_q, c_cell) total
  * argmin key (struct ordering is field-by-field; the trailing c is
  * unreachable — cell is unique), and per subspace array_min over
  * struct(dist, code) replays the PQ E-step. Append mode, no
  * watermark, zero state rows at any arrival rate.
  *
  * Exactness: the emitted (cell, codes) are the SAME argmins the
  * trained index stores — the build's final assignment is the argmin
  * fixpoint of its final parameter tables (LloydIvfSpec/LloydIvfPqSpec
  * pin this), so re-encoding the corpus through the frozen artifact
  * reproduces the index's own encoded table BIT-EQUAL
  * (StreamIndexIngestSpec) — the append really is "the same index,
  * grown". The residual grid, dotQ distance chain, and i64 subspace
  * distances are the build's expressions verbatim.
  *
  * Scale shape at 100 TB: the ingest path touches each arrival once
  * (row-local expressions inside whole-stage codegen), ships nothing
  * but the arrival row, and appends (vec_id, cell, codes, nq) — the
  * inverted-list row — to the artifact partitioned by cell; no
  * shuffle, no state, no refit.
  */
object StreamIndexIngest {

  private val M = LloydIvfPq.M
  private val Sub = LloydIvfPq.Sub
  private val K = LloydIvfPq.K
  private val Scale = Centroids.Scale

  /** The coarse table as ONE static row: cents = array<struct<cell,c>>,
    * sorted by cell for determinism. */
  def centroidRow(centroids: DataFrame): DataFrame = {
    val spark = centroids.sparkSession
    import spark.implicits._
    centroids.agg(array_sort(collect_list(
      struct($"c_cell".as("cell"), $"c"))).as("cents"))
  }

  /** The residual codebooks as ONE static row: cbs =
    * array<struct<sub,code,qc>>, sorted by (sub, code) — the HOF
    * reference layout. */
  def codebookRow(codebooks: DataFrame): DataFrame = {
    val spark = codebooks.sparkSession
    import spark.implicits._
    codebooks.agg(array_sort(collect_list(
      struct($"sub", $"c_code".as("code"), $"qc"))).as("cbs"))
  }

  /** The residual codebooks as ONE static row in the native encoder's
    * flat layout: keys(e) = sub·K + code sorted ascending, qcs = the
    * entries' quantized dims flattened in the same order ([[
    * graft.functions.expr.PqEncode]]'s contract — survivor-set safe:
    * a dropped code has no key entry). */
  def codebookFlatRow(codebooks: DataFrame): DataFrame =
    LloydPq.codebookFlat(codebooks)

  private def quantDiff(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) =>
      floor(x.cast("double") * Scale).cast("long")
        - floor(y.cast("double") * Scale).cast("long"))

  /** Encode a (streaming or batch) frame of (vec_id, embedding)
    * arrivals against the frozen parameter rows: emits (vec_id, cell,
    * embedding, nq, codes) — the inverted-list row the artifact
    * appends, in IvfPqIndex.encoded's exact column order so the
    * combined artifact keeps ONE schema layout even for positional
    * consumers (round-15 advice: parquet resolves by name, but a
    * union-by-position or CSV-style sink of the appended files would
    * silently mis-bind otherwise). Fully stateless (see object doc).
    * The PQ scan runs the native [[graft.functions.expr.PqEncode]]
    * codegen loop; the coarse argmin stays a HOF over the cell-count
    * centroid array (tens of elements whose inner product is already
    * the native QuantizedDot).
    */
  def encodeArrivals(vecs: DataFrame, centRow: DataFrame,
      cbFlatRow: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.graft.SparkBridge
    val nq = dotQ($"embedding", $"embedding")
    val best = array_min(transform($"cents", c =>
      struct(
        ($"nq" - lit(2.0) * dotQ($"embedding", c.getField("c"))
          + dotQ(c.getField("c"), c.getField("c"))).as("dist"),
        c.getField("cell").as("cell"),
        c.getField("c").as("c"))))
    val codes = SparkBridge.column(graft.functions.expr.PqEncode(
      SparkBridge.expression($"qd"),
      SparkBridge.expression($"keys"),
      SparkBridge.expression($"qcs"), M, Sub, K))
    vecs
      .crossJoin(broadcast(centRow))
      .crossJoin(broadcast(cbFlatRow))
      .withColumn("nq", nq)
      .withColumn("best", best)
      .withColumn("cell", $"best.cell")
      .withColumn("qd", quantDiff($"embedding", $"best.c"))
      .withColumn("codes", codes)
      .select($"vec_id", $"cell", $"embedding", $"nq", $"codes")
  }

  /** The alias-FOLLOWING ingest sink (round-17 verdict item 4): the
    * plain encode path resolves its frozen artifact once at stream
    * start, so after an X184 cutover arrivals kept encoding against the
    * retired version until restart. This foreachBatch writer re-reads
    * the SERVING alias at EVERY micro-batch — one tiny driver-side file
    * read per trigger; the alias is built to be read hot (X184's
    * atomic-rename pointer) — loads the named root's parameter tables
    * (memoized per root: one bounded row each, [[centroidRow]]/
    * [[codebookFlatRow]]), encodes the batch against them, and appends
    * into THAT root's inverted lists.
    *
    * Batch-boundary semantics (pinned in StreamIndexIngestSpec): the
    * alias is read once per batch, so a batch straddling a flip encodes
    * WHOLLY against the version the alias named when the batch started
    * — arrivals never split within a batch, and within one trigger
    * interval every writer follows the new version. That interval is
    * exactly the grace period [[graft.ops.IndexCompaction]]'s post-flip
    * straggler sweep assumes before declaring the old root quiescent.
    */
  def aliasFollowingBatchWriter(aliasPath: java.nio.file.Path)
      : (DataFrame, Long) => Unit = {
    val params =
      scala.collection.concurrent.TrieMap.empty[String, (DataFrame, DataFrame)]
    (batch: DataFrame, _: Long) => {
      val serving = IndexAlias.readAlias(aliasPath)
      val spark = batch.sparkSession
      val (centRow, cbRow) = params.getOrElseUpdate(serving.root, {
        // materialized once per followed root — the artifact tables are
        // immutable (write-once roots), so the memo can never go stale
        (centroidRow(spark.read.parquet(s"${serving.root}/centroids"))
          .localCheckpoint(),
          codebookFlatRow(spark.read.parquet(s"${serving.root}/codebooks"))
            .localCheckpoint())
      })
      encodeArrivals(batch, centRow, cbRow)
        .write.partitionBy("cell").mode("append")
        .parquet(s"${serving.root}/encoded")
    }
  }

  /** The built-in HOF reference form of [[encodeArrivals]] (bit-equal
    * output; kept for the parity spec — the dotQHof discipline). */
  private[graft] def encodeArrivalsHof(vecs: DataFrame, centRow: DataFrame,
      cbRow: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val nq = dotQ($"embedding", $"embedding")
    // coarse argmin on the batch key (dist_q, cell): dist decomposes as
    // nq - 2*dot(v,c) + dot(c,c), identical IEEE sequencing
    val best = array_min(transform($"cents", c =>
      struct(
        ($"nq" - lit(2.0) * dotQ($"embedding", c.getField("c"))
          + dotQ(c.getField("c"), c.getField("c"))).as("dist"),
        c.getField("cell").as("cell"),
        c.getField("c").as("c"))))
    // per-subspace PQ argmin on the batch key (dist, code), over the
    // frozen codebooks filtered to this subspace — all i64
    val codes = transform(sequence(lit(0), lit(M - 1)), j => {
      val qs = slice($"qd", j * Sub + 1, lit(Sub))
      array_min(transform(
        filter($"cbs", b => b.getField("sub") === j.cast("long")),
        b => struct(
          aggregate(
            zip_with(qs, b.getField("qc"), (x, y) => (x - y) * (x - y)),
            lit(0L), (acc, t) => acc + t).as("dist"),
          b.getField("code").as("code")))).getField("code")
    })
    vecs
      .crossJoin(broadcast(centRow))
      .crossJoin(broadcast(cbRow))
      .withColumn("nq", nq)
      .withColumn("best", best)
      .withColumn("cell", $"best.cell")
      .withColumn("qd", quantDiff($"embedding", $"best.c"))
      .withColumn("codes", codes)
      .select($"vec_id", $"cell", $"embedding", $"nq", $"codes")
  }
}
