package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** X185 — inverted-list compaction: the maintenance edge the X180
  * ingest story implies. Between retrains, every streamed arrival
  * APPENDS a file into its inverted list's partition directory
  * (`cell=<k>/part-*`, the X179 v3 layout) — after a day of
  * micro-batches a hot cell holds thousands of tiny files, and probe
  * scan cost shifts from bytes to file opens (the classic small-file
  * problem, here concentrated by the index's own partitioning). The
  * maintenance job rewrites each inverted list into size-targeted
  * files — ONE shuffle keyed by cell, each list written independently
  * (embarrassingly parallel at any cell count) — into a NEW root via
  * the shared write-once atomic-rename protocol ([[ArtifactStore]]),
  * so probes never see a half-compacted artifact and the fragmented
  * root stays intact for rollback (the X184 alias can flip between
  * them).
  *
  * Compaction must be INVISIBLE to the probe — that is its contract,
  * and the registered query certifies it cross-engine: probe the
  * compacted reload of the shipped artifact; oracle = x178's training
  * chain, shared verbatim with x178/x179 (one training chain, three
  * query paths — build, persisted, compacted). The fragmented-by-
  * ingest case the op exists for is pinned in IndexCompactionSpec:
  * arrivals appended (X180's encode), per-cell file counts collapse
  * to the target, per-cell rows preserved, and the grown probe —
  * including the arrival's rank — is bit-equal before and after.
  *
  * The planner half ([[fragmentation]]) is b47's shape against the
  * index layout: per-cell file count + bytes + a needs_compaction
  * verdict — driver-side listing of index METADATA (|cells|
  * directories; at production scale, the object-store listing the
  * maintenance scheduler already holds).
  *
  * Compacting a LIVE root — one X180 is still appending to — adds the
  * round-17 seam: an arrival landing between the snapshot read and the
  * X184 alias flip would be absent from the serving artifact. The
  * sequenced handoff ([[compactAndCutover]]) closes it: snapshot →
  * compact → reconcile the listing delta per cell → verify per-cell
  * counts live ≡ compacted → publish (atomic rename) → alias flip →
  * one post-flip straggler sweep for writers that raced the flip
  * (bounded by one trigger interval — X180 re-resolves the alias per
  * micro-batch). Every step is file-listing metadata plus per-cell
  * appends; nothing scales with the corpus beyond the delta itself.
  *
  * Reference scope: no vector search in the reference; engine
  * extension (SURVEY §2.5 — the ANN lifecycle's maintenance edge,
  * following X179 persist / X180 ingest / X184 cutover).
  */
object IndexCompaction {

  /** Version tag of the compacted artifact root under IndexStore's
    * key scheme. */
  val CompactTag = "_c1"

  /** Per-cell fragmentation report over a persisted artifact root:
    * (cell, n_files, n_bytes, needs_compaction). Test/planner seam —
    * file layout is invisible to a SQL oracle, so this is spec-pinned
    * rather than registered. */
  private[graft] def fragmentation(root: String,
      targetFilesPerCell: Int = 1): Seq[(Long, Int, Long, Boolean)] = {
    val enc = new java.io.File(s"$root/encoded")
    val cellDirs = Option(enc.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    cellDirs.map { d =>
      val parts = d.listFiles().filter(f =>
        f.isFile && f.getName.startsWith("part-"))
      (d.getName.stripPrefix("cell=").toLong, parts.length,
        parts.map(_.length()).sum, parts.length > targetFilesPerCell)
    }.sortBy(_._1).toSeq
  }

  /** Rewrite an artifact with each inverted list compacted to one
    * file: one shuffle keyed by cell (each cell lands whole in one
    * task, so partitionBy emits exactly one file per list), parameter
    * tables copied. Probe-invariant by construction — certified by
    * the registered query's shared oracle. */
  private[graft] def writeCompacted(index: LloydIvfPq.IvfPqIndex,
      root: String): Unit = {
    index.encoded.repartition(col("cell")).write.partitionBy("cell")
      .mode("overwrite").parquet(s"$root/encoded")
    index.centroids.write.mode("overwrite").parquet(s"$root/centroids")
    index.codebooks.write.mode("overwrite").parquet(s"$root/codebooks")
  }

  /** Compact an arbitrary source root into `dstRoot`, atomically. */
  private[graft] def compactTo(spark: SparkSession, srcRoot: String,
      dstRoot: String): String =
    ArtifactStore.ensureDirAt(dstRoot)(tmp =>
      writeCompacted(IndexStore.readIvfPq(spark, srcRoot), tmp))

  // ----- ingest-during-compaction safety (round-17 verdict item 1) ----
  //
  // compactTo reads a SNAPSHOT of the fragmented root; X180 keeps
  // appending to it. An arrival landing between the snapshot read and
  // the X184 alias flip would be silently absent from the serving
  // artifact. The sequenced handoff below closes the seam:
  //   snapshot → compact → RECONCILE (re-list the live root, append the
  //   delta files into their cells — per-cell, metadata-bounded) →
  //   VERIFY per-cell counts live ≡ compacted → atomic rename → alias
  //   FLIP → one post-flip sweep for arrivals that raced the flip (an
  //   X180 writer resolves the alias once per micro-batch, so after at
  //   most one trigger interval every writer follows the new root —
  //   the sweep runs after that grace period and is the last word on
  //   the old root).

  /** Relative encoded part-file listing of a root ("cell=<k>/<file>") —
    * the snapshot/reconcile unit. Driver-side metadata walk, |files|
    * entries: at production scale this is the object-store listing the
    * maintenance scheduler already holds. */
  private[graft] def encodedFiles(root: String): Set[String] = {
    val enc = new java.io.File(s"$root/encoded")
    Option(enc.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(d => d.isDirectory && d.getName.startsWith("cell="))
      .flatMap(d => d.listFiles()
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .map(f => d.getName + "/" + f.getName))
      .toSet
  }

  /** Read exactly `files` from a root's encoded layout, partition
    * column restored (basePath keeps `cell=` directory inference) and
    * the canonical column order/types re-established. */
  private[graft] def readEncodedFiles(spark: SparkSession, root: String,
      files: Set[String]): DataFrame = {
    import spark.implicits._
    spark.read.option("basePath", s"$root/encoded")
      .parquet(files.toSeq.sorted.map(f => s"$root/encoded/$f"): _*)
      .select($"vec_id", $"cell".cast("long").as("cell"),
        $"embedding", $"nq", $"codes")
  }

  /** Per-cell row counts of an encoded layout restricted to `files` —
    * parquet count() resolves from row-group footers, so the verify
    * step reads index METADATA, not vectors. */
  private def cellCounts(spark: SparkSession, root: String,
      files: Set[String]): Map[Long, Long] =
    if (files.isEmpty) Map.empty
    else readEncodedFiles(spark, root, files)
      .groupBy(col("cell")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def compactedCounts(spark: SparkSession,
      encodedDir: String): Map[Long, Long] = {
    import spark.implicits._
    spark.read.parquet(encodedDir)
      .groupBy($"cell".cast("long")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Compact a LIVE (possibly mid-ingest) root into `dstRoot` with the
    * reconcile loop: after the snapshot compacts, re-list the live root
    * and append any new inverted-list files into their cells in the
    * temp copy, repeating until a listing shows no delta AND the
    * per-cell counts of everything seen match the compacted copy —
    * only then does the atomic rename publish the root. On a quiesced
    * root this degenerates to compactTo plus one empty re-list (the
    * registered query's path — its oracle stays x178's chain). Returns
    * (root, files reconciled beyond the snapshot). The spec seams fire
    * between the protocol's steps to pin the race deterministically.
    *
    * The loop terminates when ingest pauses or falls below compaction
    * throughput for one round — a production scheduler that can't get
    * there isn't compaction-bound, it's retrain-bound (X183).
    *
    * Returns (root, files reconciled beyond the snapshot, the exact
    * file set the published artifact covers — the baseline the
    * post-flip straggler sweep diffs against). */
  private[graft] def compactReconciled(spark: SparkSession,
      srcRoot: String, dstRoot: String,
      afterSnapshot: () => Unit = () => (),
      beforeVerify: () => Unit = () => ()): (String, Int, Set[String]) = {
    var reconciled = 0
    var seen = Set.empty[String]
    val root = ArtifactStore.ensureDirAt(dstRoot) { tmp =>
      seen = encodedFiles(srcRoot)
      readEncodedFiles(spark, srcRoot, seen)
        .repartition(col("cell")).write.partitionBy("cell")
        .mode("overwrite").parquet(s"$tmp/encoded")
      spark.read.parquet(s"$srcRoot/centroids")
        .write.mode("overwrite").parquet(s"$tmp/centroids")
      spark.read.parquet(s"$srcRoot/codebooks")
        .write.mode("overwrite").parquet(s"$tmp/codebooks")
      afterSnapshot()
      var published = false
      while (!published) {
        val delta = encodedFiles(srcRoot) -- seen
        if (delta.nonEmpty) {
          readEncodedFiles(spark, srcRoot, delta)
            .write.partitionBy("cell").mode("append")
            .parquet(s"$tmp/encoded")
          seen ++= delta
          reconciled += delta.size
        } else {
          beforeVerify()
          // one more listing inside the verify window: an arrival may
          // have landed between the empty delta and here
          if ((encodedFiles(srcRoot) -- seen).isEmpty) {
            val live = cellCounts(spark, srcRoot, seen)
            val comp = compactedCounts(spark, s"$tmp/encoded")
            require(live == comp,
              s"compaction verify failed: live per-cell counts $live " +
                s"!= compacted $comp — refusing to publish $dstRoot")
            published = true
          }
        }
      }
    }
    (root, reconciled, seen)
  }

  /** Outcome of [[compactAndCutover]] (test/observability seam). */
  final case class Handoff(root: String, reconciled: Int, stragglers: Int)

  /** The full sequenced handoff over an explicit alias: reconcile-
    * compact the live root, FLIP the alias to the compacted root
    * (X184's atomic-rename pointer discipline), then run the post-flip
    * straggler sweep — a writer that resolved the alias before the flip
    * may land one more append in the old root after it (X180 re-reads
    * the alias each micro-batch, so one trigger interval bounds the
    * race); those files are appended into the now-serving root, after
    * which the old root is quiescent by construction and stays on disk
    * as the X184 rollback sibling. `afterFlip` is the spec's seam for
    * injecting a flip-racer deterministically (production interposes a
    * grace period ≥ one trigger interval there). */
  private[graft] def compactAndCutover(spark: SparkSession,
      aliasPath: java.nio.file.Path, version: String,
      srcRoot: String, dstRoot: String,
      afterSnapshot: () => Unit = () => (),
      beforeVerify: () => Unit = () => (),
      afterFlip: () => Unit = () => ()): Handoff = {
    require(!java.nio.file.Files.exists(java.nio.file.Paths.get(dstRoot)),
      s"compactAndCutover needs a fresh destination root, $dstRoot " +
        "exists — write-once roots cannot absorb a second snapshot")
    val (root, reconciled, seen) = compactReconciled(spark, srcRoot,
      dstRoot, afterSnapshot = afterSnapshot, beforeVerify = beforeVerify)
    IndexAlias.writeAlias(aliasPath, IndexAlias.Serving(version, root))
    afterFlip()
    val stragglers = encodedFiles(srcRoot) -- seen
    if (stragglers.nonEmpty)
      readEncodedFiles(spark, srcRoot, stragglers)
        .write.partitionBy("cell").mode("append").parquet(s"$root/encoded")
    Handoff(root, reconciled, stragglers.size)
  }

  private val ensured = graft.SessionArtifacts.Slot[String]("IndexCompaction.root")

  // the reconcile form: on the registered query's quiesced root it
  // degenerates to the plain snapshot compact (one empty re-list +
  // the per-cell count verify), so the oracle chain is untouched
  // while Verify/Bench exercise the production protocol
  private[graft] def ensureCompactedRoot(spark: SparkSession,
      dir: String): String =
    ensured(spark, dir)(
      compactReconciled(spark, IndexStore.ensureRoot(spark, dir),
        IndexStore.defaultRoot(dir, CompactTag))._1)

  /** The registered query: persist (x179's ensure), COMPACT into a new
    * root, reload the compacted artifact, probe. Oracle = x178's
    * training chain, shared with x178/x179 — a hash match proves the
    * compaction rewrite is invisible to the probe. */
  def compactedProbe(spark: SparkSession, dir: String): DataFrame =
    LloydIvfPq.probe(
      IndexStore.readIvfPq(spark, ensureCompactedRoot(spark, dir)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x185_index_compaction" -> compactedProbe _)

  val oracles: Map[String, String] = Map(
    "x185_index_compaction" -> LloydIvfPq.ivfPqTopKSql)
}
