package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** X179 — the PERSISTED index artifact: every trained-index scaladoc in
  * the ANN family (x166/x173/x178) calls its localCheckpoint "the local
  * stand-in for the persisted index artifact a production build
  * writes"; this operator makes that claim load-bearing. The x178
  * IVFADC index — the family's capstone — round-trips through parquet
  * (encoded inverted lists + coarse centroids + residual codebooks as
  * three column-pruned tables) and the registered query probes the
  * RELOADED artifact; its oracle is x178's training chain, so the hash
  * certifies that persistence preserves every bit the probe consumes:
  * the float vectors and norms (parquet FLOAT/DOUBLE is lossless), the
  * i64 residual codebooks, the code bytes, and the cell keys.
  *
  * This is the production shape at 100 TB: the index builds ONCE (a
  * scheduled job), lands on object storage, and every probe — batch
  * rerank, online ANN service, eval harness — reads the artifact
  * instead of refitting. Build-probe separation is also what makes the
  * index VERSIONABLE (yesterday's codebooks stay queryable while
  * tonight's build runs) and what bounds probe-side planning: the
  * loaded tables are plain parquet relations, so the probe inherits
  * column pruning (the ADC scan reads cell + codes, never the floats —
  * visible in the scan's ReadSchema) and, in a cell-partitioned
  * production layout, partition pruning down to the probed cells.
  *
  * Write layout under one root: `encoded/` (vec_id, cell, embedding,
  * nq, codes — the inverted lists), `centroids/` (c_cell, c),
  * `codebooks/` (sub, c_code, qc). All three are the exact frames the
  * in-session index holds; read() reassembles an [[LloydIvfPq
  * .IvfPqIndex]] whose probe is indistinguishable from the built one
  * (IndexStoreSpec pins bit-equality; the oracle row certifies it
  * cross-engine).
  *
  * Reference scope: no vector search in the reference; engine
  * extension (SURVEY §2.5, the ANN family's persistence closure).
  */
object IndexStore {

  /** Default artifact root for a registered query — per-sfDir so
    * concurrent harnesses (Verify at sf0.01, ScaleVerify at 10×) never
    * collide on one path. Keyed by an MD5 digest of the absolute path
    * (round-15 advice: String.hashCode is 32 bits — two dirs colliding
    * would silently share one artifact root) PLUS the source-data
    * fingerprint (round-16 advice: regenerating the dataset in place
    * must invalidate the write-once artifact — see
    * [[ArtifactStore.fingerprint]]). `tag` distinguishes versions
    * built from the same source (X184's retrained "v2"). */
  private[graft] def defaultRoot(dir: String, tag: String = ""): String =
    // the layout version participates in the key: write-once reuse
    // (ensureRoot) must never hand a probe an artifact written by an
    // older layout — bump when the three-table schema changes
    // (v3 = cell-partitioned encoded table)
    s"target/index_store/ivfpq_v3_${ArtifactStore.pathKey(dir)}_" +
      s"${ArtifactStore.fingerprint(dir, "embeddings.parquet")}$tag"

  /** Persist a trained IVFADC index as three parquet tables. The
    * encoded inverted lists are PARTITIONED BY CELL — the production
    * layout every probe scaladoc in the family refers to: a probe
    * touches nprobe of |cells| partition directories, so the corpus
    * outside the probed cells is pruned at the FILE level (not merely
    * joined away), and an X180 ingest appends each arrival straight
    * into its inverted list's directory. */
  def writeIvfPq(index: LloydIvfPq.IvfPqIndex, root: String): Unit = {
    index.encoded.write.partitionBy("cell")
      .mode("overwrite").parquet(s"$root/encoded")
    index.centroids.write.mode("overwrite").parquet(s"$root/centroids")
    index.codebooks.write.mode("overwrite").parquet(s"$root/codebooks")
  }

  // roots this session has already ensured — the registered queries
  // write once per (session, dir) instead of overwriting per invocation
  // (round-15 advice: a concurrent reader of the same dir could race
  // the overwrite's file deletion)
  private val ensured = graft.SessionArtifacts.Slot[String]("IndexStore.root")

  /** The disk half of the build-once protocol, session-free — the
    * shared [[ArtifactStore.ensureDirAt]] temp-dir + atomic-rename
    * discipline with the index build as the writer. */
  private[graft] def ensureAt(root: String,
      build: () => LloydIvfPq.IvfPqIndex): String = {
    // store-open janitor (round-17 verdict item 3): SIGKILL-orphaned
    // .tmp-* siblings from crashed writers are swept once per process
    Option(java.nio.file.Paths.get(root).toAbsolutePath.getParent)
      .foreach(p => ArtifactStore.sweepAtOpen(p.toString))
    ArtifactStore.ensureDirAt(root)(tmp => writeIvfPq(build(), tmp))
  }

  /** The build-once artifact root for (session, dir, tag): memoizes
    * [[ensureAt]] per session so the registered queries write once per
    * (session, dir) instead of re-statting per invocation. `tag` ""
    * is the shipped x178 build; X184 ensures the retrained version
    * under tag [[RetrainTag]] with [[IndexVersions.retrainedIndex]]. */
  private[graft] def ensureRootOf(spark: SparkSession, dir: String,
      tag: String, build: () => LloydIvfPq.IvfPqIndex): String =
    ensured(spark, dir + "\t" + tag)(ensureAt(defaultRoot(dir, tag), build))

  private[graft] def ensureRoot(spark: SparkSession, dir: String): String =
    ensureRootOf(spark, dir, "",
      () => LloydIvfPq.ivfPqIndex(spark, dir))

  /** Load a persisted IVFADC index; the result probes exactly like the
    * in-session build it was written from. The partition column comes
    * back LAST and type-inferred from the directory names, so the read
    * restores the canonical column order and the exact LongType the
    * probe contract carries. */
  def readIvfPq(spark: SparkSession, root: String): LloydIvfPq.IvfPqIndex = {
    import spark.implicits._
    LloydIvfPq.IvfPqIndex(
      Tables.open(spark, s"$root/encoded")
        .select($"vec_id", $"cell".cast("long").as("cell"),
          $"embedding", $"nq", $"codes"),
      Tables.open(spark, s"$root/centroids"),
      Tables.open(spark, s"$root/codebooks"))
  }

  /** The registered query: build (memoized, x178's build), persist
    * (once per session+dir, atomically — [[ensureRoot]]), RELOAD,
    * probe the loaded artifact. Oracle = x178's unrolled training
    * chain — a hash match proves the parquet roundtrip is invisible
    * to the probe.
    *
    * Probe planning collects the ≤ NQueries·nprobe probed cell ids
    * (index METADATA — the same few longs partition pruning itself
    * materializes) and pushes them as a LITERAL partition filter, so
    * the scan reads ONLY the probed inverted-list directories — the
    * "corpus outside the probed cells is never read" claim made
    * file-system-literal. Semantically a no-op: the ADC join admits
    * only probed-cell rows anyway, and every query's own home cell is
    * its rank-1 nearest (the fixpoint law), so the query band
    * survives the filter. Spark's own DPP plans the same pruning but
    * may elide it under the broadcast-reuse heuristics (observed
    * `dynamicpruningexpression(true)` at local scale) — an index
    * probe should not gamble its I/O bound on an optimizer
    * heuristic. */
  def ivfPqPersistedTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val index = readIvfPq(spark, ensureRoot(spark, dir))
    val cells = LloydIvfPq.probedCells(index, LloydIvfPq.NProbe)
      .select($"cell").distinct().collect().map(_.getLong(0)).sorted
    LloydIvfPq.probe(
      index.copy(encoded = index.encoded.filter($"cell".isin(cells: _*))))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x179_ivfpq_persisted_topk" -> ivfPqPersistedTopK _)

  val oracles: Map[String, String] = Map(
    "x179_ivfpq_persisted_topk" -> LloydIvfPq.ivfPqTopKSql)
}
