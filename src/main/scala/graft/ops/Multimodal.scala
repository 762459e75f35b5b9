package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Opaque binary media record: the multimodal column pattern — payload as
  * `binary`, typed metadata alongside. At 100 TB the payload column is the
  * dominant IO cost; every query below projects it away as early as the
  * semantics allow (column pruning reaches the parquet reader).
  */
case class MediaRecord(
    media_id: Long,
    media_type: String,
    payload: Array[Byte],
    meta: Map[String, String])

/** Fixed-shape per-media features produced by the decode stage. */
case class MediaFeatures(
    media_id: Long,
    media_type: String,
    n_bytes: Int,
    width: Int,
    height: Int,
    n_frames: Int,
    histogram: Array[Float])

/** One sampled, resized "frame" of a media payload. */
case class Frame(media_id: Long, frame_idx: Int, frame: Array[Byte])

/** Multimodal column handling (north-star extension: image/audio/video as
  * opaque binary + typed metadata, decode/feature-extract/resize/
  * frame-sample as executor-side batch stages).
  *
  * Round 17 (verdict item 5's sanctioned fallback): the media table is
  * now a PERSISTED parquet fixture with a REAL binary column —
  * deterministic container payloads derived from the documents corpus,
  * written once per (session, dir) under target/media_store with the
  * same fingerprint-keyed atomic-rename protocol as the X179 index
  * artifacts ([[ArtifactStore]]). Each payload is a parseable
  * container: an 8-byte header (magic `GRFT1`, a type digit, width and
  * height bytes) followed by the body. The decode stage PARSES that
  * header — magic check fails loudly, media type / width / height come
  * from the bytes, features come from the body — so the whole
  * binary-column path is real: parquet BYTE_ARRAY scan → typed Dataset
  * hop → executor-side header parse + feature pass. What remains fake
  * is only the codec math itself (the container ships no image/audio
  * libraries): a production build swaps the body interpretation in
  * [[features]]/[[decodeFrames]] and nothing else changes.
  *
  * The registered query's features are simple enough (byte histogram)
  * that the DuckDB oracle reproduces them from the documents corpus
  * the payloads derive from, so decode output stays hash-checked —
  * the hash certifies that fixture encode ∘ persist ∘ reload ∘ parse
  * is the identity on every field the header carries.
  */
object Multimodal {

  /** Header: magic "GRFT1", then three ASCII-range bytes — type digit
    * ('0'+id%3), width char ('A'+id%26 ⇒ width 1..26), height char
    * ('a'+id%22 ⇒ height 1..22). All bytes < 0x80 so the payload
    * builds portably from string concat on both engines. */
  val Magic = "GRFT1"
  val HeaderLen: Int = Magic.length + 3

  private val TypeNames = Array("image/fake", "audio/fake", "video/fake")

  /** The in-flight fixture frame: deterministic container payloads
    * over the documents corpus. Build seam for the writer and specs;
    * queries read the PERSISTED copy via [[mediaTable]]. */
  private[graft] def buildMediaTable(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select(
        $"doc_id".as("media_id"),
        element_at(typedLit(TypeNames.toSeq),
          ($"doc_id" % 3).cast("int") + 1).as("media_type"),
        concat(lit(Magic),
          expr("chr(48 + doc_id % 3)"),
          expr("chr(65 + doc_id % 26)"),
          expr("chr(97 + doc_id % 22)"),
          $"text").cast("binary").as("payload"),
        map(lit("lang"), $"lang", lit("source"), $"source").as("meta"))
  }

  /** Build-once fixture root (write-once, fingerprint-keyed, atomic —
    * the X179 protocol via [[ArtifactStore]]). */
  private val ensured = graft.SessionArtifacts.Slot[String]("Multimodal.mediaRoot")

  private[graft] def defaultMediaRoot(dir: String): String =
    s"target/media_store/media_v1_${ArtifactStore.pathKey(dir)}_" +
      ArtifactStore.fingerprint(dir, "documents.parquet")

  private[graft] def ensureMediaRoot(spark: SparkSession,
      dir: String): String =
    ensured(spark, dir) {
      ArtifactStore.sweepAtOpen("target/media_store")
      ArtifactStore.ensureDirAt(defaultMediaRoot(dir))(tmp =>
        buildMediaTable(spark, dir).write.mode("overwrite").parquet(tmp))
    }

  /** The media table — the RELOADED persisted fixture: a genuine
    * parquet binary column scan, not an in-flight cast. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    spark.read.parquet(ensureMediaRoot(spark, dir))
      .select($"media_id", $"media_type", $"payload", $"meta")
      .as[MediaRecord]
  }

  /** Parsed container header. Fails loudly on a bad magic — a corrupt
    * or foreign payload must never decode silently. */
  private[graft] final case class Header(mediaType: String, width: Int,
      height: Int)

  private[graft] def parseHeader(payload: Array[Byte]): Header = {
    require(payload.length >= HeaderLen &&
      (0 until Magic.length).forall(i => payload(i) == Magic.charAt(i).toByte),
      s"not a $Magic container (len=${payload.length})")
    val t = payload(Magic.length) - '0'
    require(t >= 0 && t < TypeNames.length, s"unknown media type digit $t")
    Header(TypeNames(t), payload(Magic.length + 1) - 'A' + 1,
      payload(Magic.length + 2) - 'a' + 1)
  }

  /** DETERMINISTIC FAKE DECODER — a real build links a codec here.
    * "Decodes" a body into fixed-size frames (last frame ragged).
    */
  def decodeFrames(body: Array[Byte], frameSize: Int = 64): Iterator[Array[Byte]] =
    body.grouped(frameSize)

  /** DETERMINISTIC FAKE RESIZE — truncate/zero-pad to the target size
    * (stands in for a pixel/sample-rate resize; same contract: fixed
    * output shape regardless of input shape).
    */
  def resizeFrame(frame: Array[Byte], target: Int): Array[Byte] =
    if (frame.length == target) frame
    else {
      val out = new Array[Byte](target)
      System.arraycopy(frame, 0, out, 0, math.min(frame.length, target))
      out
    }

  /** Decode + feature extraction as a typed mapPartitions stage: one
    * executor-side pass per partition batch — header parse (real),
    * then a fixed-width feature pass over the body (16-bin byte
    * histogram, L1-normalized). This is the batch shape a real
    * embedding model consumes — swap the histogram for a model forward
    * pass and the pipeline is unchanged.
    */
  def features(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { recs =>
      recs.map { r =>
        val h = parseHeader(r.payload)
        val body = java.util.Arrays.copyOfRange(
          r.payload, HeaderLen, r.payload.length)
        val counts = new Array[Int](16)
        var i = 0
        while (i < body.length) {
          counts((body(i) & 0xff) >>> 4) += 1
          i += 1
        }
        val n = math.max(body.length, 1)
        MediaFeatures(
          media_id = r.media_id,
          media_type = h.mediaType,
          n_bytes = r.payload.length,
          width = h.width,
          height = h.height,
          n_frames = decodeFrames(body).length,
          histogram = counts.map(c => (c.toDouble / n).toFloat))
      }
    }
  }

  /** Frame sampling (every k-th decoded BODY frame, resized) as a
    * flatMap — the typed UDTF shape: one input row explodes to a
    * variable number of fixed-shape output rows, executor-side.
    */
  def sampleFrames(
      media: Dataset[MediaRecord],
      frameSize: Int = 64,
      every: Int = 4): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val body = java.util.Arrays.copyOfRange(
        r.payload, HeaderLen, r.payload.length)
      decodeFrames(body, frameSize).zipWithIndex.collect {
        case (f, idx) if idx % every == 0 =>
          Frame(r.media_id, idx, resizeFrame(f, frameSize))
      }
    }
  }

  /** Registered query: reload the persisted binary fixture, parse +
    * feature-extract. The oracle recomputes every header field and the
    * body histogram from the documents corpus the payloads derive from
    * (ASCII: byte == code point), so the whole persist→reload→parse
    * path is value-checked, not just row-counted. The histogram ships
    * as a JSON string of the i64-quantized bins (floor(f·1e7)): the
    * driver's pandas compare cannot sort raw array cells, and float
    * rendering differs across engines — both quantize from the
    * identical float bits, so the strings match exactly. The typed
    * Dataset API ([[features]]) still returns real float vectors; only
    * the oracle-facing dump serializes.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    features(mediaTable(spark, dir)).toDF()
      .select($"media_id", $"media_type", $"n_bytes", $"width", $"height",
        $"n_frames",
        // unrolled element_at over the fixed 16 bins (transform's lambda
        // is CodegenFallback; see Events.arrayHof)
        to_json(array((1 to 16).map(i =>
          floor(element_at($"histogram", i).cast("double") * lit(1e7))
            .cast("long")): _*)).as("histogram"))
      .orderBy($"media_id")
  }

  val mediaFeaturesSql: String =
    s"""WITH codes AS (
      |  SELECT doc_id AS media_id,
      |         CAST(doc_id % 3 AS INT) AS t,
      |         CAST(1 + doc_id % 26 AS INT) AS width,
      |         CAST(1 + doc_id % 22 AS INT) AS height,
      |         length(text) AS body_len,
      |         list_transform(range(length(text)),
      |                        i -> ord(substr(text, CAST(i + 1 AS INT), 1)) // 16) AS bins
      |  FROM documents)
      |SELECT media_id,
      |       CASE t WHEN 0 THEN 'image/fake' WHEN 1 THEN 'audio/fake'
      |              ELSE 'video/fake' END AS media_type,
      |       CAST(body_len + $HeaderLen AS INT) AS n_bytes,
      |       width, height,
      |       CAST(ceil(body_len / 64.0) AS INT) AS n_frames,
      |       to_json(list_transform(range(16),
      |         b -> CAST(floor(CAST(CAST(CAST(len(list_filter(bins, x -> x = b)) AS DOUBLE)
      |                   / greatest(body_len, 1) AS FLOAT) AS DOUBLE) * 1e7) AS BIGINT))) AS histogram
      |FROM codes
      |ORDER BY media_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x13_multimodal_features" -> mediaFeatures _)

  val oracles: Map[String, String] = Map(
    "x13_multimodal_features" -> mediaFeaturesSql)
}
