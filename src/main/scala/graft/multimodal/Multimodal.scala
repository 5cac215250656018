package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.Native
import graft.Tables

/** A media file as it would sit in a multimodal training table: an
  * opaque binary payload plus typed metadata columns.
  */
final case class MediaFile(doc_id: Long, content: Array[Byte], media_type: String)

/** Output of the (stubbed) image decoder. */
final case class ImageMeta(
    doc_id: Long,
    byte_len: Long,
    width: Long,
    height: Long,
    format: String)

/** One sampled frame of a (fake) video payload. */
final case class Frame(doc_id: Long, frame_idx: Long, frame_off: Long)

/** Output of the (stubbed) resize + feature-extract stage. */
final case class ResizedImage(
    doc_id: Long,
    width: Long,
    height: Long,
    rs_width: Long,
    rs_height: Long,
    feat: Double)

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns processed by partition-wise decoder functions.
  *
  * The decode itself is a clearly-marked DETERMINISTIC STUB (no media
  * libraries in this container): metadata is derived arithmetically from
  * the byte length, which is exactly what makes the Spark-side plumbing
  * testable end-to-end — schema (binary + struct), partition-wise batch
  * execution via `mapPartitions` (the Scala analog of `mapInPandas`:
  * open-decoder-once-per-partition, stream rows through), and a DuckDB
  * oracle over the same arithmetic. Swapping in a real decoder changes
  * only the function body, not the pipeline shape.
  *
  * Scale notes: decode is a narrow per-partition pass — no shuffle. The
  * binary payload never moves through a shuffle; only extracted metadata
  * does. That is the property to preserve at 100 TB: decode early, ship
  * features, never reshuffle raw media bytes.
  */
object Multimodal extends graft.Catalog {

  /** documents.text cast to binary plays the media payload. */
  def mediaFiles(spark: SparkSession, d: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables.documents(spark, d)
      .select(
        $"doc_id",
        $"text".cast("binary").as("content"),
        (when($"doc_id" % 2 === 0, "image").otherwise("video")).as("media_type"))
      .as[MediaFile]
  }

  /** STUB image decoder: deterministic metadata from the payload bytes.
    * A real implementation would parse the image header here.
    */
  def decodeImageStub(bytes: Array[Byte]): (Long, Long, String) = {
    val n = bytes.length.toLong
    val width = 64L + n % 640L
    val height = 64L + (n / 7L) % 480L
    val format = (n % 3L) match {
      case 0L => "png"
      case 1L => "jpeg"
      case _ => "webp"
    }
    (width, height, format)
  }

  /** Partition-wise decode: one decoder "session" per partition, rows
    * streamed through the iterator (never materialized per partition).
    */
  def decodeMeta(files: Dataset[MediaFile]): Dataset[ImageMeta] = {
    import files.sparkSession.implicits._
    files.mapPartitions { it =>
      // decoder init would happen here, once per partition
      it.map { f =>
        val (w, h, fmt) = decodeImageStub(f.content)
        ImageMeta(f.doc_id, f.content.length.toLong, w, h, fmt)
      }
    }
  }

  val FrameSize = 128L
  val FrameStep = 2L

  /** STUB frame sampler: every FrameStep-th FrameSize-byte "frame".
    * Frame count is ceil(len/FrameSize), so a payload that is an exact
    * multiple of FrameSize gets no phantom frame past its last byte and
    * an empty payload yields no frames.
    */
  def sampleFrames(files: Dataset[MediaFile]): Dataset[Frame] = {
    import files.sparkSession.implicits._
    files.flatMap { f =>
      val nFrames = (f.content.length + FrameSize - 1) / FrameSize
      (0L until nFrames by FrameStep).map(i => Frame(f.doc_id, i, i * FrameSize))
    }
  }

  val TargetWidth = 224L

  /** STUB resize + feature extraction, chained after decode in the same
    * partition-wise pass (decode → resize → featurize without a shuffle,
    * the shape a real preprocessing stage keeps at 100 TB). Resize
    * clamps width to TargetWidth preserving aspect (floor arithmetic —
    * integer-exact on both engines); the "feature" is a deterministic
    * scalar a real model head would replace.
    */
  def resizeStub(m: ImageMeta): ResizedImage = {
    val rw = math.min(m.width, TargetWidth)
    val rh = math.max(1L, m.height * rw / m.width)
    val feat = ((m.byte_len * 2654435761L + m.doc_id) % 1000L).toDouble / 1000.0
    ResizedImage(m.doc_id, m.width, m.height, rw, rh, feat)
  }

  def resized(files: Dataset[MediaFile]): Dataset[ResizedImage] = {
    import files.sparkSession.implicits._
    decodeMeta(files).mapPartitions(_.map(resizeStub))
  }

  def metaQuery(spark: SparkSession, d: String): DataFrame =
    decodeMeta(mediaFiles(spark, d)).toDF()

  def resizeQuery(spark: SparkSession, d: String): DataFrame =
    resized(mediaFiles(spark, d)).toDF()

  def framesQuery(spark: SparkSession, d: String): DataFrame =
    sampleFrames(mediaFiles(spark, d)).toDF()

  // ---- Perceptual-hash media near-dup (the image-dedup tier) ----

  /** Sampled byte positions per payload (the hash width). */
  val PHashSamples = 64

  /** 4 chunks of 16 bits: the pigeonhole guarantee is hamming <= 3 —
    * same candidate-completeness bound as the SimHash text tier.
    */
  val PHashMaxHamming = 3

  /** STUB perceptual hash: a real implementation would decode, resize
    * to 8x8 grayscale, and threshold DCT coefficients at the median
    * (classic pHash); the stub samples [[PHashSamples]] evenly-spaced
    * payload bytes and thresholds each at the sample mean — the same
    * shape (fixed-width content fingerprint from a decoded grid), byte
    * reads standing in for pixel reads. Bit i is set iff
    * codes(i) * N >= sum (integer-exact mean comparison). Split into
    * two 32-bit halves so the DuckDB twin never touches a signed
    * 64-bit edge (the SimHash convention).
    */
  def phashStub(bytes: Array[Byte]): (Long, Long) = {
    val n = bytes.length
    val codes = new Array[Long](PHashSamples)
    var sum = 0L
    var i = 0
    while (i < PHashSamples) {
      val pos = ((i.toLong * (n - 1)) / (PHashSamples - 1)).toInt
      codes(i) = (bytes(pos) & 0xFF).toLong
      sum += codes(i)
      i += 1
    }
    var lo = 0L
    var hi = 0L
    i = 0
    while (i < PHashSamples) {
      if (codes(i) * PHashSamples >= sum) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    (lo, hi)
  }

  /** (doc_id, ph_lo, ph_hi) — the hash pass chains in the same
    * partition-wise decode stage as the other media functions (no
    * shuffle; payload bytes never move). Registered as its own catalog
    * query: at scale the hash TABLE is the persisted artifact, pair
    * mining runs over it incrementally. (On this fixture the pair
    * query's true answer is empty — no two payloads are byte-near —
    * so the planted-twin spec, not the fixture, carries the pairing
    * evidence.)
    */
  def phashes(files: Dataset[MediaFile]): DataFrame = {
    import files.sparkSession.implicits._
    files.filter(_.content.nonEmpty)
      .mapPartitions { it =>
        it.map { f =>
          val (lo, hi) = phashStub(f.content)
          (f.doc_id, lo, hi)
        }
      }
      .toDF("doc_id", "ph_lo", "ph_hi")
  }

  /** Near-duplicate media pairs by perceptual-hash hamming distance —
    * the image-dedup pass of a multimodal pipeline, structured exactly
    * the text SimHash tier's [[graft.text.Dedup.hammingPairs]]: 16-bit
    * chunk blocking (a pair within [[PHashMaxHamming]] MUST agree on
    * some chunk), capped buckets, pairs generated only inside buckets.
    * Two exchanges (chunk group + distinct); the decode/hash pass is
    * narrow.
    */
  def phashPairs(spark: SparkSession, d: String): DataFrame =
    graft.text.Dedup.hammingPairs(
      phashes(mediaFiles(spark, d)), "ph_lo", "ph_hi", PHashMaxHamming)

  /** The shared CTE chain computing the per-doc hash halves (`ph`) —
    * composed into BOTH phash oracles so the two can never drift. Byte
    * reads replay as ascii(substr(..)): payloads are the text column,
    * whose fixture content is printable ASCII, so code point == byte
    * everywhere the stub reads. That equivalence holds ONLY for
    * pure-ASCII payloads (character-indexed substr + byte-length
    * scaling diverge on any multi-byte code point), so the `n` column
    * carries a guard: a non-ASCII row routes through a guaranteed
    * BIGINT overflow, failing the oracle run loudly instead of letting
    * the hash drift silently. (Data-dependent on purpose — a constant
    * error expression could be constant-folded and fire even on clean
    * fixtures.) SimilaritySpec also pins the fixture itself as ASCII.
    */
  private def phashCtes: String = {
    def half(lo: Int): String = (0 until 32).map { b =>
      val i = lo + b
      s"(CASE WHEN cs[${i + 1}] * $PHashSamples >= s THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH m AS (
       |  SELECT doc_id, text,
       |    CASE WHEN octet_length(encode(text)) = length(text)
       |         THEN CAST(octet_length(encode(text)) AS BIGINT)
       |         ELSE (CAST(octet_length(encode(text)) AS BIGINT) + 1)
       |              * 9223372036854775807 END AS n
       |  FROM documents WHERE octet_length(encode(text)) >= 1),
       |c AS (
       |  SELECT doc_id,
       |    list_transform(range($PHashSamples),
       |      i -> CAST(ascii(substr(text, CAST(i * (n - 1) // ${PHashSamples - 1} + 1 AS BIGINT), 1)) AS BIGINT)) AS cs
       |  FROM m),
       |cc AS (SELECT doc_id, cs, list_aggregate(cs, 'sum') AS s FROM c),
       |ph AS (
       |  SELECT doc_id,
       |    ${half(0)} AS ph_lo,
       |    ${half(32)} AS ph_hi
       |  FROM cc)""".stripMargin
  }

  /** DuckDB twin of [[phashPairs]]: the shared hash CTEs + chunk
    * blocking, caps, and the hamming filter.
    */
  private def phashOracle: String =
    s"""$phashCtes,
       |${graft.text.Dedup.hammingOracle("ph", "ph_lo", "ph_hi", PHashMaxHamming)}""".stripMargin

  /** Audio-style frame energy segmentation — the VAD-shaped pass an
    * audio curation pipeline runs (frame the waveform, energy per
    * frame, threshold into voiced/unvoiced): the payload's bytes play
    * 8-bit samples (the ASCII fixture; real PCM changes only the
    * sample expression), frames of [[FrameLen]] samples, energy =
    * Σ (sample − 96)² in exact integers, voiced iff
    * energy > [[VadAvgSq]]·n. One position explode + ONE (doc, frame)
    * aggregate — samples never reshuffle after framing, only
    * frame-level features move (the module's decode-early contract);
    * all arithmetic integer-exact on both engines.
    */
  val FrameLen = 64L
  val VadAvgSq = 900L

  def audioEnergy(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .select($"doc_id", posexplode(split($"text", "")).as(Seq("pos", "ch")))
      .filter($"ch" =!= "")
      .groupBy($"doc_id", expr(s"pos div $FrameLen").as("frame_idx"))
      .agg(
        count(lit(1)).as("n_samples"),
        sum(((ascii($"ch") - 96) * (ascii($"ch") - 96)).cast("long"))
          .as("energy"))
      .withColumn("is_voiced", $"energy" > $"n_samples" * VadAvgSq)
  }

  /** Keyframe selection by frame-energy change — the shot-boundary
    * detector of video curation (a real pipeline diffs decoded frame
    * histograms; the stub diffs the [[audioEnergy]] frame energies over
    * the same byte-payload stand-in, keeping the dataflow shape real):
    * per media item, frame deltas Δᵢ = Eᵢ − Eᵢ₋₁ via one lag window,
    * and a frame is a keyframe iff it opens the item (no predecessor)
    * or |Δᵢ|·n_Δ > Σ|Δ| — the strictly-above-mean-|Δ| test as an exact
    * integer cross-multiplication (no division, no FP anywhere).
    *
    * One (doc, frame) aggregate off the payload explode + one doc-keyed
    * window pass (lag and the per-doc Σ/count share the partition) —
    * frame counts are payload-linear, never quadratic.
    */
  def keyframes(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val frames = Tables.documents(spark, d)
      .select($"doc_id", posexplode(split($"text", "")).as(Seq("pos", "ch")))
      .filter($"ch" =!= "")
      .groupBy($"doc_id", expr(s"pos div $FrameLen").as("frame_idx"))
      .agg(sum(((ascii($"ch") - 96) * (ascii($"ch") - 96)).cast("long"))
        .as("energy"))
    val wo = Window.partitionBy($"doc_id").orderBy($"frame_idx")
    val wd = Window.partitionBy($"doc_id")
    frames
      .withColumn("delta", $"energy" - lag($"energy", 1).over(wo))
      .withColumn("n_d", count($"delta").over(wd))
      .withColumn("sum_ad", sum(abs($"delta")).over(wd))
      .select($"doc_id", $"frame_idx", $"energy", $"delta",
        ($"delta".isNull ||
          abs($"delta") * $"n_d" > $"sum_ad").as("is_keyframe"))
  }

  private def keyframesOracle: String =
    s"""WITH samples AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, length(text) + 1),
       |                          i -> (i - 1) // $FrameLen)) AS frame_idx,
       |    unnest(list_transform(range(1, length(text) + 1),
       |      i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT)))
       |      AS s
       |  FROM documents),
       |frames AS (
       |  SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       |    CAST(sum((s - 96) * (s - 96)) AS BIGINT) AS energy
       |  FROM samples GROUP BY doc_id, frame_idx),
       |dd AS (
       |  SELECT doc_id, frame_idx, energy,
       |    energy - lag(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx)
       |      AS delta
       |  FROM frames)
       |SELECT doc_id, frame_idx, energy, delta,
       |  delta IS NULL OR
       |  abs(delta) * CAST(count(delta) OVER (PARTITION BY doc_id) AS BIGINT)
       |    > CAST(sum(abs(delta)) OVER (PARTITION BY doc_id) AS BIGINT)
       |  AS is_keyframe
       |FROM dd""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_keyframes" -> (keyframes _),
    "multimodal_audio_energy" -> (audioEnergy _),
    "multimodal_meta" -> (metaQuery _),
    "multimodal_frames" -> (framesQuery _),
    "multimodal_resize" -> (resizeQuery _),
    "multimodal_phash" -> ((s: SparkSession, d: String) => phashes(mediaFiles(s, d))),
    "multimodal_phash_pairs" -> (phashPairs _))

  /** Oracle for the hash table itself: the shared CTE chain up to `ph`. */
  private def phashTableOracle: String =
    s"$phashCtes\nSELECT doc_id, ph_lo, ph_hi FROM ph"

  val oracles: Map[String, String] = Map(
    "multimodal_keyframes" -> keyframesOracle,
    "multimodal_audio_energy" ->
      s"""WITH samples AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, length(text) + 1),
         |                          i -> (i - 1) // $FrameLen)) AS frame_idx,
         |    unnest(list_transform(range(1, length(text) + 1),
         |      i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT)))
         |      AS s
         |  FROM documents)
         |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
         |  CAST(count(*) AS BIGINT) AS n_samples,
         |  CAST(sum((s - 96) * (s - 96)) AS BIGINT) AS energy,
         |  CAST(sum((s - 96) * (s - 96)) AS BIGINT)
         |    > CAST(count(*) AS BIGINT) * $VadAvgSq AS is_voiced
         |FROM samples GROUP BY doc_id, frame_idx""".stripMargin,
    "multimodal_phash" -> phashTableOracle,
    "multimodal_phash_pairs" -> phashOracle,
    "multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  64 + CAST(octet_length(encode(text)) AS BIGINT) % 640 AS width,
        |  64 + (CAST(octet_length(encode(text)) AS BIGINT) // 7) % 480 AS height,
        |  CASE CAST(octet_length(encode(text)) AS BIGINT) % 3
        |    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format
        |FROM documents""".stripMargin,
    "multimodal_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS len,
        |    64 + CAST(octet_length(encode(text)) AS BIGINT) % 640 AS width,
        |    64 + (CAST(octet_length(encode(text)) AS BIGINT) // 7) % 480 AS height
        |  FROM documents)
        |SELECT doc_id, width, height,
        |  least(width, 224) AS rs_width,
        |  greatest(1, height * least(width, 224) // width) AS rs_height,
        |  CAST((len * 2654435761 + doc_id) % 1000 AS DOUBLE) / 1000.0 AS feat
        |FROM m""".stripMargin,
    "multimodal_frames" ->
      """SELECT doc_id,
        |  CAST(f AS BIGINT) AS frame_idx,
        |  CAST(f * 128 AS BIGINT) AS frame_off
        |FROM (SELECT doc_id,
        |        unnest(range(0, (CAST(octet_length(encode(text)) AS BIGINT) + 127) // 128, 2)) AS f
        |      FROM documents) t""".stripMargin)
}
