package graft.stream

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ops.Dedup
import graft.functions.Hashing.md5Long40

/** Streaming incremental near-duplicate detection — the continuous-
  * ingestion complement of the batch X2 path: as documents arrive, each
  * is fingerprinted (MinHash) and checked against everything already seen
  * in its LSH buckets, emitting candidate near-dup pairs the moment the
  * second member of a pair arrives. A training-data feed uses this to
  * reject boilerplate at ingest time instead of re-running batch dedup
  * over the whole corpus.
  *
  * Design, in Spark streaming terms:
  *  - the signature build is ROW-LOCAL column expressions (no shuffle,
  *    no streaming agg): word-trigram shingle array → 40-bit md5 hashes →
  *    16 affine min-hashes → 8 two-row band keys. Same constants and the
  *    same [[graft.functions.Hashing.md5Long40]] expression as batch X2,
  *    so signatures are bit-identical by construction (pinned in
  *    StreamDedupSpec against [[Dedup.minhashSignatures]]);
  *  - each doc fans out to its 8 band buckets (explode — row-local);
  *  - per-bucket state via flatMapGroupsWithState holds the signatures
  *    seen in that bucket; a new arrival pairs against the held members
  *    and is appended. This is genuinely imperative keyed state — the
  *    documented last-resort case — because "compare against all prior
  *    members, then join them" has no incremental built-in;
  *  - state per bucket is BOUNDED: `maxPerBucket` newest members are
  *    retained (bucket population is the same quantity batch X2's
  *    quadratic term depends on — tiny under a decent hash; the cap turns
  *    a pathological hot bucket into bounded memory + bounded recall
  *    loss instead of an OOM). At 100 TB the same topology runs with
  *    state in RocksDB and the bucket key sharded across executors.
  *
  * Emitted pairs carry the signature-agreement estimate of Jaccard
  * similarity (`n_agree`/16), NOT an exact verification — the streaming
  * stage is the candidate generator; exact verification joins the pair
  * stream against a shingle store downstream (same split as batch X2's
  * candidates → verify). A pair sharing several bands is emitted once per
  * shared bucket; consumers dedup on (doc_a, doc_b) — kept that way so
  * the operator never needs cross-bucket state.
  */
object StreamDedup {

  /** One per-bucket retained fingerprint. */
  final case class DocSig(docId: Long, sig: Array[Long])

  /** Keyed state: newest-first members of one LSH bucket. */
  final case class BucketState(members: List[DocSig])

  /** A candidate near-dup pair (doc_a < doc_b), with the number of equal
    * signature components and the Jaccard estimate it implies.
    */
  final case class StreamPair(
      doc_a: Long, doc_b: Long, n_agree: Int, est_jaccard: Double)

  /** Row-local signature construction over a (doc_id, text) frame
    * (streaming or batch): (doc_id, sig: array[16 long], bands:
    * array[8 struct(band_idx, band_key)]). Docs too short to shingle
    * (< 3 words) are dropped, exactly as batch X2 never sees them.
    *
    * The signature is the fused native MinHashSig expression (one
    * primitive loop over the hash array, all 16 bands per element).
    * Measured on MicroBench `stream_dedup` (200k docs, median of 3 in one warm
    * session): ~16.7k docs/s vs ~8.8k for the 16 interpreted
    * `array_min(transform(...))` walks it replaced — ~1.9× end-to-end.
    * The lambda form is kept as
    * [[graft.functions.Hashing.minHashSigHof]] for the parity pin. The
    * shingle build's own lambdas remain interpreted — secondary at these
    * rates.
    */
  private[graft] def signatures(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n = greatest(size($"words") - 2, lit(0))
    val sigCols = graft.functions.Hashing.minHashSig(
      $"hs", Dedup.A.toSeq, Dedup.B.toSeq, Dedup.P)
    val bandArr = array((0 until Dedup.nBands).map { b =>
      struct(lit(b).as("band_idx"),
        concat_ws("_",
          element_at($"sig", 2 * b + 1),
          element_at($"sig", 2 * b + 2)).as("band_key"))
    }: _*)
    docs
      .withColumn("words", split(trim(lower($"text")), "\\s+"))
      .withColumn("shs", array_distinct(transform(
        arrays_zip(
          slice($"words", lit(1), n),
          slice($"words", lit(2), n),
          slice($"words", lit(3), n)),
        (z: Column) => concat_ws(" ",
          z.getField("0"), z.getField("1"), z.getField("2")))))
      .filter(size($"shs") > 0)
      .withColumn("hs", transform($"shs", (sh: Column) => md5Long40(sh)))
      .withColumn("sig", sigCols)
      .withColumn("bands", bandArr)
      .select($"doc_id", $"sig", $"bands")
  }

  /** The streaming operator: candidate near-dup pairs, emitted as soon as
    * both members have arrived (possibly in different micro-batches).
    */
  def nearDupCandidates(docs: DataFrame, maxPerBucket: Int = 64): Dataset[StreamPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    signatures(docs)
      .select($"doc_id", $"sig", explode($"bands").as("b"))
      .select(
        concat_ws("|", $"b.band_idx", $"b.band_key").as("bucket"),
        $"doc_id", $"sig")
      .as[(String, Long, Array[Long])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[BucketState, StreamPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, rows, state: GroupState[BucketState]) =>
          var members = state.getOption.map(_.members).getOrElse(Nil)
          val out = List.newBuilder[StreamPair]
          // deterministic within a micro-batch: ingest in doc_id order
          rows.toSeq.sortBy(_._2).foreach { case (_, docId, sig) =>
            if (!members.exists(_.docId == docId)) {
              members.foreach { m =>
                val agree = sig.indices.count(i => sig(i) == m.sig(i))
                out += StreamPair(
                  math.min(docId, m.docId), math.max(docId, m.docId),
                  agree, agree.toDouble / Dedup.nHashes)
              }
              members ::= DocSig(docId, sig)
              if (members.length > maxPerBucket)
                members = members.take(maxPerBucket)
            }
          }
          state.update(BucketState(members))
          out.result().iterator
      }
  }
}
