package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (north-star extension): image/audio/
  * video as opaque `binary` columns with typed metadata, plus the
  * decode / feature-extract / resize / frame-sample operator shapes a
  * training-data pipeline needs.
  *
  * The Spark-side plumbing — schemas, partitioning, the
  * `mapPartitions` batch shape, row fan-out — is real and tested.
  * IMAGE decode is real: the JRE's built-in `javax.imageio`
  * (PNG/JPEG/GIF/BMP, zero added dependencies) runs inside the
  * partition iterator, with undecodable bytes falling back to the
  * byte-statistics digest. AUDIO decode is real too: WAV/AIFF/AU PCM
  * via the JRE's `javax.sound.sampled`, same fallback. VIDEO container
  * METADATA is real: MP4 box / Matroska-EBML structure parsed by
  * [[VideoContainers]] (duration, codec id, dimensions, track count —
  * what a pipeline filters on), with header-derived features for
  * parseable containers; only FRAME decode remains a clearly-marked
  * STUB (`fakeDecode`) — this container ships no video codec — and
  * swapping one in changes only the function body, not the
  * distributed shape: the partition iterator is exactly where a
  * JNI/FFmpeg call would batch.
  */
object Multimodal {

  /** Typed metadata carried alongside the opaque payload. */
  case class MediaMeta(format: String, width: Int, height: Int,
      channels: Int, sample_rate: Int, n_frames: Int)

  case class MediaRow(media_id: Long, kind: String,
      content: Array[Byte], meta: MediaMeta)

  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
      checksum: String, features: Array[Float])

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("kind", StringType),
    StructField("content", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("channels", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("n_frames", IntegerType))))))

  /** Deterministic media corpus synthesized from the documents table —
    * text bytes stand in for encoded payloads so every pipeline stage
    * is testable without codecs. */
  def synthesizeCorpus(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("content"),
      struct(
        lit("synthetic").as("format"),
        (col("n_chars") % 640 + 16).cast("int").as("width"),
        (col("n_chars") % 480 + 16).cast("int").as("height"),
        lit(3).as("channels"),
        lit(16000).as("sample_rate"),
        (col("n_chars") % 30 + 1).cast("int").as("n_frames"))
        .as("meta"))

  /** Upper bound on decoded pixels (64 Mpx ≈ a 256 MB ARGB raster):
    * an untrusted corpus can contain a few-KB payload whose header
    * declares gigapixel dimensions — the raster allocation, not the
    * file size, is the bomb. Checked from the header BEFORE decoding. */
  val MaxDecodePixels: Long = 64L * 1024 * 1024

  // ImageIO's default InputStream path spools through a temp FILE per
  // decode; the payload is already fully in memory, so that is a
  // create/write/delete disk round-trip per row in the hot loop
  private lazy val imageIoInit: Unit = javax.imageio.ImageIO.setUseCache(false)

  /** Real image decode via the JRE's `javax.imageio` — no added
    * dependencies. Returns None when no installed reader understands
    * the bytes (corrupt payloads, audio/video containers) or when the
    * header declares more than [[MaxDecodePixels]], letting the caller
    * fall back to [[fakeDecode]]. Dimensions come from the header via
    * the reader BEFORE the pixel decode, so an oversized payload is
    * rejected without allocating its raster. */
  def decodeImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    if (bytes == null || bytes.length < 8) return None
    imageIoInit
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None // iis still closed by the finally
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            val px = reader.getWidth(0).toLong * reader.getHeight(0).toLong
            if (px <= 0 || px > MaxDecodePixels) None
            else Option(reader.read(0))
          } finally reader.dispose()
        }
      } finally iis.close()
    } catch { case _: Exception => None }
  }

  /** 8-dim feature vector from a decoded image: normalized width /
    * height / band count, mean R/G/B, mean luma (Rec.601), and aspect
    * ratio. Deterministic in the pixel content. A full pixel pass per
    * image — at scale the codec, not this loop, dominates. */
  def imageFeatures(img: java.awt.image.BufferedImage): Array[Float] = {
    val w = img.getWidth; val h = img.getHeight
    var r = 0.0; var g = 0.0; var b = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        r += ((p >> 16) & 0xff) / 255.0
        g += ((p >> 8) & 0xff) / 255.0
        b += (p & 0xff) / 255.0
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toDouble
    val (mr, mg, mb) = (r / n, g / n, b / n)
    Array(
      w / 4096f, h / 4096f,
      img.getColorModel.getNumComponents / 4f,
      mr.toFloat, mg.toFloat, mb.toFloat,
      (0.299 * mr + 0.587 * mg + 0.114 * mb).toFloat,
      (w.toFloat / h).min(8f) / 8f)
  }

  /** 64-bit average-hash (aHash) perceptual fingerprint of a decoded
    * image: partition the frame into the 8×8 grid of cells (cell
    * boundaries by integer `8·x/w`), set bit `63 − (cy·8 + cx)` iff
    * the cell's mean luma STRICTLY exceeds the global mean. The
    * compare is cross-multiplied integer arithmetic
    * (`cellSum·totalPx > totalSum·cellPx`) — exact at any geometry,
    * no float mean — so the fingerprint is deterministic across
    * engines and resolutions: two renderings of the same content at
    * different sizes (or through different codecs) hash identically
    * as long as their cell means land on the same side of the global
    * mean.
    *
    * Luma: the raw sample for single-band rasters (no color-space
    * round trip — same contract as [[videoFrames]]); per-pixel
    * rounded Rec.601 over `getRGB` otherwise. Sums fit a Long:
    * 255 · [[MaxDecodePixels]] · totalPx < 2⁶³ at the decode bound.
    */
  def aHash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    val raster = img.getRaster
    val gray = raster.getNumBands == 1
    var y = 0
    while (y < h) {
      val cy = 8 * y / h
      var x = 0
      while (x < w) {
        val cell = cy * 8 + 8 * x / w
        val l =
          if (gray) raster.getSample(x, y, 0).toLong
          else {
            val p = img.getRGB(x, y)
            math.round(0.299 * ((p >> 16) & 0xff) +
              0.587 * ((p >> 8) & 0xff) + 0.114 * (p & 0xff))
          }
        sums(cell) += l
        cnts(cell) += 1
        x += 1
      }
      y += 1
    }
    val totalPx = w.toLong * h
    var total = 0L
    var i = 0
    while (i < 64) { total += sums(i); i += 1 }
    var bits = 0L
    i = 0
    while (i < 64) {
      if (cnts(i) > 0 && sums(i) * totalPx > total * cnts(i))
        bits |= 1L << (63 - i)
      i += 1
    }
    bits
  }

  case class AHashRow(media_id: Long, width: Option[Int],
      height: Option[Int], ahash: Option[Long])

  /** Per-image perceptual fingerprints: decode each payload with the
    * real codec stack ([[decodeImage]] — PNG/JPEG/GIF/BMP via
    * `javax.imageio`) and emit (media_id, width, height, ahash);
    * undecodable payloads emit all-null metadata rather than failing
    * (same skip-don't-fail contract as [[videoFrames]]). Map-only at
    * any corpus size — the per-row cost is the codec plus one pixel
    * pass; pair near-dup fingerprints downstream with
    * `Dedup.hamming64NearDups` (banded, never all-pairs). */
  def imageAHashes(media: DataFrame, idCol: String = "media_id",
      contentCol: String = "content"): DataFrame = {
    val sess = media.sparkSession
    import sess.implicits._
    media
      .select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        decodeImage(bytes) match {
          case Some(img) => AHashRow(id, Some(img.getWidth),
            Some(img.getHeight), Some(aHash64(img)))
          case None => AHashRow(id, None, None, None)
        }
      }).toDF("media_id", "width", "height", "ahash")
  }

  /** 64-bit average-hash fingerprint of decoded PCM audio — the time-
    * domain sibling of [[aHash64]]: partition the interleaved sample
    * sequence into 64 equal time cells (cell `64·i/n`), set bit
    * `63 − c` iff the cell's mean |amplitude| STRICTLY exceeds the
    * global mean. Amplitudes accumulate as exact integers
    * (`round(|s|·32768)` recovers the raw PCM unit — [[decodeAudio]]'s
    * `/128f` and `/32768f` normalizations are dyadic, so the float
    * round-trip is lossless) and the compare is cross-multiplied
    * (`cellSum·n > totalSum·cellCnt`), so the fingerprint is
    * deterministic and invariant across duration, bit depth, and
    * container for block-equivalent content. Overflow-safe at the
    * decode bound: cellSum·n ≤ 2¹⁵·n²/64 < 2⁶³ for n ≤
    * [[MaxDecodeSamples]]. */
  def audioHash64(samples: Array[Float]): Long = {
    val n = samples.length
    if (n == 0) return 0L
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var i = 0
    while (i < n) {
      val c = (64L * i / n).toInt
      sums(c) += math.round(math.abs(samples(i)) * 32768f).toLong
      cnts(c) += 1
      i += 1
    }
    var total = 0L
    var j = 0
    while (j < 64) { total += sums(j); j += 1 }
    var bits = 0L
    j = 0
    while (j < 64) {
      if (cnts(j) > 0 && sums(j) * n > total * cnts(j))
        bits |= 1L << (63 - j)
      j += 1
    }
    bits
  }

  case class AudioHashRow(media_id: Long, n_samples: Option[Long],
      ahash: Option[Long])

  /** Per-clip perceptual fingerprints: decode each payload with the
    * real codec stack ([[decodeAudio]] — WAV/AIFF/AU PCM via
    * `javax.sound.sampled`) and emit (media_id, n_samples, ahash);
    * undecodable payloads emit all-null rather than failing (the
    * skip-don't-fail contract of [[imageAHashes]]). Map-only at any
    * corpus size; pair near-dup fingerprints downstream with
    * `Dedup.hamming64NearDups` (banded, never all-pairs). */
  def audioHashes(media: DataFrame, idCol: String = "media_id",
      contentCol: String = "content"): DataFrame = {
    val sess = media.sparkSession
    import sess.implicits._
    media
      .select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        decodeAudio(bytes) match {
          case Some((_, samples)) => AudioHashRow(id,
            Some(samples.length.toLong), Some(audioHash64(samples)))
          case None => AudioHashRow(id, None, None)
        }
      }).toDF("media_id", "n_samples", "ahash")
  }

  /** Upper bound on decoded audio samples (64 M samples ≈ 256 MB of
    * floats): like [[MaxDecodePixels]], the header's declared frame
    * count — not the payload size — is the allocation bomb, so it is
    * checked before reading the stream. */
  val MaxDecodeSamples: Long = 64L * 1024 * 1024

  /** Real audio decode via the JRE's `javax.sound.sampled` — WAV/AIFF/
    * AU containers with 8/16-bit PCM, no added dependencies. Returns
    * the stream format plus interleaved samples normalized to [-1, 1],
    * or None when the bytes are not a supported audio container (video
    * payloads, corrupt data) or the header declares more than
    * [[MaxDecodeSamples]] — the caller falls back to [[fakeDecode]],
    * exactly like undecodable images. */
  def decodeAudio(bytes: Array[Byte])
      : Option[(javax.sound.sampled.AudioFormat, Array[Float])] = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    if (bytes == null || bytes.length < 12) return None
    try {
      val ais = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        val enc = fmt.getEncoding
        val bits = fmt.getSampleSizeInBits
        val samples = ais.getFrameLength * fmt.getChannels
        val pcmSigned = enc == AudioFormat.Encoding.PCM_SIGNED
        val pcmUnsigned = enc == AudioFormat.Encoding.PCM_UNSIGNED
        // unsigned is admitted at 8-bit only: the 16-bit branch below
        // decodes two's-complement, which would read unsigned-16
        // silence (0x8000) as full-scale −1.0 — better the stub
        // fallback than silently wrong features
        val supported = (pcmSigned && (bits == 8 || bits == 16)) ||
          (pcmUnsigned && bits == 8)
        if (!supported || samples <= 0 || samples > MaxDecodeSamples) None
        else {
          val raw = ais.readAllBytes()
          val out = new Array[Float](raw.length / (bits / 8))
          var i = 0
          while (i < out.length) {
            out(i) =
              if (bits == 8) {
                if (pcmSigned) raw(i) / 128f
                else ((raw(i) & 0xff) - 128) / 128f
              } else {
                val (hi, lo) =
                  if (fmt.isBigEndian) (raw(2 * i), raw(2 * i + 1))
                  else (raw(2 * i + 1), raw(2 * i))
                // 16-bit unsigned PCM exists in the spec but not in the
                // wild; JavaSound's WAV reader only produces signed 16
                ((hi << 8) | (lo & 0xff)).toShort / 32768f
              }
            i += 1
          }
          Some((fmt, out))
        }
      } finally ais.close()
    } catch { case _: Exception => None }
  }

  /** 8-dim feature vector from decoded PCM: normalized sample rate /
    * channel count / bit depth / duration, mean |amplitude|, RMS,
    * zero-crossing rate, peak. Deterministic in the samples — the
    * audio analogue of [[imageFeatures]]. */
  def audioFeatures(fmt: javax.sound.sampled.AudioFormat,
      samples: Array[Float]): Array[Float] = {
    var sumAbs = 0.0; var sumSq = 0.0; var peak = 0.0f; var zc = 0
    var i = 0
    while (i < samples.length) {
      val s = samples(i)
      val a = math.abs(s)
      sumAbs += a; sumSq += s.toDouble * s
      if (a > peak) peak = a
      if (i > 0 && (s >= 0) != (samples(i - 1) >= 0)) zc += 1
      i += 1
    }
    val n = samples.length.max(1).toDouble
    val frames = samples.length / fmt.getChannels.max(1)
    val durationS = frames / fmt.getSampleRate.toDouble
    Array(
      fmt.getSampleRate / 48000f,
      fmt.getChannels / 4f,
      fmt.getSampleSizeInBits / 32f,
      (durationS.min(60) / 60).toFloat,
      (sumAbs / n).toFloat,
      math.sqrt(sumSq / n).toFloat,
      (zc / n).toFloat,
      peak)
  }

  /** 8-dim feature vector from parsed video CONTAINER metadata
    * ([[VideoContainers.parse]]) plus payload size: normalized
    * duration / width / height / track count / aspect, container and
    * codec family flags, bytes-per-second. No frame is decoded — the
    * video analogue of [[imageFeatures]] at the header tier. */
  def videoFeatures(meta: VideoContainers.VideoMeta,
      nBytes: Int): Array[Float] = {
    val dur = if (meta.durationS.isNaN) 0.0 else meta.durationS
    Array(
      (dur.min(3600) / 3600).toFloat,
      meta.width / 4096f,
      meta.height / 4096f,
      meta.nTracks / 8f,
      if (meta.height > 0) (meta.width.toFloat / meta.height)
        .min(8f) / 8f else 0f,
      if (meta.container.startsWith("mp4")) 1f else 0f,
      if (meta.codec.nonEmpty) 1f else 0f,
      if (dur > 0) (nBytes / dur / 1e8).min(1).toFloat else 0f)
  }

  /** STUB — deterministic fake decode for undecodable payloads and
    * for video frames in codecs the JVM cannot decode. Video decode
    * coverage is deliberately tiered, and this is the recorded
    * decision on its limit: container metadata is parsed for real
    * ([[videoFeatures]], [[videoMetadata]]), MJPEG-in-AVI frames are
    * decoded for real ([[videoFrames]] — each frame is a baseline
    * JPEG, within `javax.imageio`'s reach), and every OTHER video
    * codec (H.264/HEVC/VP9/AV1 bitstreams…) is permanently out of
    * scope here: a zero-dependency JVM ships no inter-frame codec,
    * so real decode would mean adding a native media library, which
    * this build forbids. For those payloads this stub derives an
    * 8-dim feature vector from byte statistics — deterministic in
    * the input bytes, never a crash. */
  def fakeDecode(bytes: Array[Byte]): Array[Float] = {
    if (bytes == null || bytes.isEmpty) return Array.fill(8)(0f)
    val out = new Array[Float](8)
    var i = 0
    while (i < bytes.length) {
      out(i % 8) += (bytes(i) & 0xff) / 255.0f
      i += 1
    }
    out.map(v => v / bytes.length * 8)
  }

  /** Decode + feature extraction over partition-sized batches. Each
    * partition iterator is the real batch boundary — a production
    * codec would initialize once per partition (the `mapPartitions`
    * shape) and stream rows through it.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition init point: real codecs would open here
      rows.map { r =>
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(r.content).map("%02x".format(_)).mkString
        // image rows get the real ImageIO decode, audio rows the real
        // JavaSound PCM decode; video (and bytes no reader
        // understands) use the stub digest
        val feats = r.kind match {
          case "image" => decodeImage(r.content).map(imageFeatures)
            .getOrElse(fakeDecode(r.content))
          case "audio" => decodeAudio(r.content)
            .map { case (fmt, samples) => audioFeatures(fmt, samples) }
            .getOrElse(fakeDecode(r.content))
          case "video" => VideoContainers.parse(r.content)
            .map(m => videoFeatures(m, r.content.length))
            .getOrElse(fakeDecode(r.content))
          case _ => fakeDecode(r.content)
        }
        MediaFeatures(r.media_id, r.kind, r.content.length, digest, feats)
      }
    }
  }

  /** One row per video payload: parsed container metadata as typed,
    * filterable columns — all-null metadata marks an unparseable
    * payload (kept, not dropped: a pipeline filters on the nulls). */
  case class VideoMetaRow(media_id: Long, container: Option[String],
      duration_s: Option[Double], codec: Option[String],
      width: Option[Int], height: Option[Int], n_tracks: Option[Int])

  /** Typed video-metadata column extraction — the operator a
    * multimodal training pipeline filters on (`duration_s BETWEEN …`,
    * `codec IN …`, `width >= …`) without decoding a frame: MP4 box /
    * Matroska EBML structure parsed per row inside the partition
    * iterator ([[VideoContainers]]), map-only at any corpus size. */
  def videoMetadata(media: DataFrame): DataFrame = {
    val sess = media.sparkSession
    import sess.implicits._
    media.filter(col("kind") === "video")
      .select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        VideoContainers.parse(bytes) match {
          case Some(m) => VideoMetaRow(id, Some(m.container),
            Option(m.durationS).filterNot(_.isNaN), Some(m.codec),
            Some(m.width), Some(m.height), Some(m.nTracks))
          case None =>
            VideoMetaRow(id, None, None, None, None, None, None)
        }
      }).toDF()
  }

  /** One row per decoded video FRAME. */
  case class VideoFrameRow(media_id: Long, frame_idx: Int,
      width: Int, height: Int, mean_luma: Double)

  /** REAL video frame decode for the one codec a zero-dependency JVM
    * can handle: MJPEG in AVI, where every `##dc` chunk is a
    * standalone baseline JPEG ([[VideoContainers.aviFrames]] →
    * `javax.imageio`). Emits (media_id, frame_idx, width, height,
    * mean_luma) per decodable frame; non-AVI containers and non-JPEG
    * frame payloads (e.g. an AVI whose handler is a real inter-frame
    * codec) emit nothing — same skip-don't-fail contract as
    * [[decodeImage]]. Map-only at any corpus size; the per-row work
    * is the codec itself.
    *
    * Mean luma is the exact integer sample sum over the gray band
    * (band 0 of a single-band raster; Rec.601 over getRGB otherwise)
    * divided once — deterministic, oracle-comparable (q102). Frames
    * whose header exceeds [[MaxDecodePixels]] are skipped like any
    * undecodable payload. */
  def videoFrames(media: DataFrame): Dataset[VideoFrameRow] = {
    val sess = media.sparkSession
    import sess.implicits._
    media.filter(col("kind") === "video")
      .select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        VideoContainers.aviFrames(bytes).getOrElse(Vector.empty)
          .iterator.zipWithIndex.flatMap { case (fb, i) =>
            decodeImage(fb).map { img =>
              val w = img.getWidth; val h = img.getHeight
              val raster = img.getRaster
              var sum = 0L
              if (raster.getNumBands == 1) {
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
                  y += 1
                }
              } else {
                // color MJPEG: Rec.601 luma, rounded per pixel
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) {
                    val p = img.getRGB(x, y)
                    sum += math.round(0.299 * ((p >> 16) & 0xff) +
                      0.587 * ((p >> 8) & 0xff) + 0.114 * (p & 0xff))
                    x += 1
                  }
                  y += 1
                }
              }
              VideoFrameRow(id, i, w, h, sum.toDouble / (w.toLong * h))
            }
          }
      }
  }

  case class VideoFrameAHashRow(media_id: Long, frame_idx: Int,
      ahash: Long)

  /** Per-FRAME perceptual fingerprints for MJPEG-in-AVI video: the
    * same real decode path as [[videoFrames]]
    * ([[VideoContainers.aviFrames]] → `javax.imageio`), each decoded
    * frame hashed with [[aHash64]] — the temporal sibling of
    * [[imageAHashes]], and the building block of video-level
    * near-dup (pair per-frame hashes downstream with
    * `Dedup.hamming64NearDups`, or min-hash the frame-hash sequence).
    * Non-AVI containers and undecodable frame payloads emit nothing
    * (skip-don't-fail, same contract as [[videoFrames]]). Map-only at
    * any corpus size. */
  def videoFrameAHashes(media: DataFrame): Dataset[VideoFrameAHashRow] = {
    val sess = media.sparkSession
    import sess.implicits._
    media.filter(col("kind") === "video")
      .select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        VideoContainers.aviFrames(bytes).getOrElse(Vector.empty)
          .iterator.zipWithIndex.flatMap { case (fb, i) =>
            decodeImage(fb).map(img =>
              VideoFrameAHashRow(id, i, aHash64(img)))
          }
      }
  }

  /** Video near-duplicate pairs by frame-fingerprint SET overlap:
    * two videos are scored by the exact Jaccard of their distinct
    * per-frame [[aHash64]] sets — the re-encode detector. The hash
    * is resolution- and codec-invariant for content whose aHash
    * cells land on the same side of the frame mean, so a re-encoded
    * / upscaled copy of a video carries the identical fingerprint
    * set and pairs at jaccard 1.0; unrelated videos meet only
    * through degenerate shared frames (e.g. two uniform frames both
    * hash 0 — visible in the output as low-jaccard pairs a caller
    * thresholds away).
    *
    * Scale shape: decode is map-only ([[videoFrameAHashes]]); pairs
    * come from an equi-join on the 64-bit hash value (candidate
    * volume = Σ df² over hash values, the q19 inverted-index shape —
    * never all-pairs over videos); sizes and intersections both
    * count DISTINCT hashes so the jaccard is set-semantics exact.
    * Returns (id_a, id_b, inter, size_a, size_b, jaccard),
    * id_a < id_b. */
  def videoNearDups(media: DataFrame): DataFrame = {
    // consumed three times (sizes + both self-join sides) —
    // checkpoint-materialize so the dominant cost (payload decode +
    // per-frame hashing) runs once, not once per consumer (the
    // semDedup discipline)
    val fh = graft.util.Lineage.materialize(
      videoFrameAHashes(media).toDF()
        .select(col("media_id"), col("ahash")).distinct())
    val sizes = fh.groupBy("media_id")
      .agg(count(lit(1)).as("set_size"))
    val pairs = fh.select(col("media_id").as("id_a"), col("ahash"))
      .join(fh.select(col("media_id").as("id_b"), col("ahash")),
        Seq("ahash"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("media_id").as("id_a"),
        col("set_size").as("size_a")), Seq("id_a"))
      .join(sizes.select(col("media_id").as("id_b"),
        col("set_size").as("size_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("inter"),
        col("size_a"), col("size_b"),
        (col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")).cast("double"))
          .as("jaccard"))
  }

  /** STUB resize — metadata-only transform (a real implementation
    * would transcode `content`); the plumbing (schema evolution,
    * null-safety) is real. */
  def resize(media: DataFrame, width: Int, height: Int): DataFrame =
    media.withColumn("meta", struct(
      col("meta.format"),
      lit(width).as("width"), lit(height).as("height"),
      col("meta.channels"), col("meta.sample_rate"),
      col("meta.n_frames")))

  /** Frame sampling: fan each video row out to every `stride`-th frame
    * index — the row-explosion shape of real frame extraction. */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("media_id"),
        explode(sequence(lit(0), col("meta.n_frames") - 1,
          lit(stride))).as("frame_idx"))
}
