package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed metadata carried alongside an opaque media payload. */
case class MediaMeta(
    format: String,
    width: Int,
    height: Int,
    durationMs: Long)

/** One media row: opaque bytes + typed metadata (the pattern for
  * image/audio/video columns in a training-data lake). */
case class MediaRecord(
    doc_id: Long,
    media_type: String,
    payload: Array[Byte],
    meta: MediaMeta)

/** Feature row produced by the (stubbed) decoder. `byte_sum` is kept
  * alongside the derived `byte_mean` so downstream aggregates can stay
  * in exact integer arithmetic. */
case class MediaFeatures(
    doc_id: Long,
    media_type: String,
    n_bytes: Long,
    byte_sum: Long,
    byte_mean: Double,
    histogram: Array[Long])

/** Raster stats from a REAL image decode ([[Multimodal.decodePng]]):
  * dimensions from the decoded image header, pixel stats from its
  * raster — exact integers plus one exact ratio. */
case class DecodedImage(
    doc_id: Long,
    width: Int,
    height: Int,
    n_pixels: Long,
    pixel_sum: Long,
    mean_px: Double)

/** Per-video stats from a REAL frame-by-frame decode
  * ([[Multimodal.decodeVideo]]): frame count from the container walk,
  * pixel stats summed over every decoded frame raster. */
case class DecodedVideo(
    doc_id: Long,
    n_frames: Long,
    n_pixels: Long,
    pixel_sum: Long,
    mean_px: Double)

/** Waveform stats from a REAL audio decode ([[Multimodal.decodeWav]]):
  * frame count and rate from the decoded header, sample stats from
  * the decoded PCM stream. */
case class DecodedAudio(
    doc_id: Long,
    n_frames: Long,
    sample_rate: Int,
    sample_sum: Long,
    mean_sample: Double)

/** Multimodal-column plumbing — media as opaque `binary` columns with
  * typed metadata structs, plus decode / feature-extract / resize /
  * frame-sample operators (north-star surface; the reference itself
  * has no media path).
  *
  * All three media types decode GENUINELY with JDK-only codecs:
  * images through `javax.imageio` PNG ([[decodePng]]), audio through
  * `javax.sound.sampled` WAV ([[decodeWav]]), and video as a REAL
  * RIFF-AVI container walked and decoded frame-by-frame
  * ([[decodeVideo]]) under either the MPNG (PNG-per-frame, lossless
  * — the oracle-checked fixture codec) or MJPG (Motion-JPEG, lossy
  * — the standard-ecosystem codec) frame coder; the JDK ships no
  * video BITSTREAM codec, so these two per-frame codecs are exactly
  * what `javax.imageio` can encode AND decode. The
  * byte-histogram [[decodeStub]] remains only as the codec-agnostic
  * featurizer seam; the surrounding plumbing — schema,
  * `Dataset[MediaRecord]` encoders, partition-wise batch iteration
  * via `mapPartitions`, binary slicing via built-in expressions — is
  * the real Spark shape a production decoder (ffmpeg behind JNI)
  * would drop into.
  *
  * Scale notes: payload bytes never leave their input split until the
  * final projection — decode/featurize are narrow `mapPartitions`
  * (one JVM-side pass, no shuffle); frame-sample and resize are
  * codegen'd `substring`/`concat` on BinaryType. Keep payloads under
  * the parquet page size by storing media >1 MB out-of-line (a path
  * column) — here the synthetic payloads are tiny.
  */
object Multimodal {

  /** Synthesize the media table from `documents`: payload = UTF-8
    * bytes of the text (a deterministic fake "media file"), media_type
    * and metadata derived from (doc_id, source). This is the binary
    * ingestion boundary — a real pipeline would `spark.read.format
    * ("binaryFile")` instead. */
  def mediaFromDocuments(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val mt = element_at(
      array(lit("image"), lit("audio"), lit("video")),
      (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
    d.select(
      col("doc_id"),
      mt.as("media_type"),
      col("text").cast("binary").as("payload"),
      struct(
        when(mt === "image", "png").when(mt === "audio", "wav")
          .otherwise("mp4").as("format"),
        (pmod(col("doc_id"), lit(8)) * 160 + 320).cast("int").as("width"),
        (pmod(col("doc_id"), lit(8)) * 90 + 180).cast("int").as("height"),
        (col("n_chars") * 100).cast("long").as("durationMs")).as("meta"))
  }

  /** The real binary ingestion boundary: read a directory of media
    * files as (path, modificationTime, length, content) via Spark's
    * `binaryFile` source — one row per file, content as BinaryType,
    * partition-parallel over files. `pathGlobFilter` restricts to a
    * media extension; `mediaTypeOf` derives the type column the
    * synthetic path fakes with doc_id arithmetic. Files above
    * `spark.sql.sources.binaryFile.maxLength` fail fast rather than
    * truncate — at 100 TB, media >~100 MB belongs out-of-line (a
    * path column) exactly as the object-store pattern prescribes. */
  def readBinaryDir(spark: SparkSession, dir: String,
      glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(col("path"), col("length"),
        mediaTypeOf(col("path")).as("media_type"),
        col("content").as("payload"))

  /** File extension → media type ('other' fallback). */
  def mediaTypeOf(path: org.apache.spark.sql.Column):
      org.apache.spark.sql.Column = {
    val ext = lower(regexp_extract(path, "\\.([A-Za-z0-9]+)$", 1))
    when(ext.isin("png", "jpg", "jpeg", "gif", "bmp"), "image")
      .when(ext.isin("wav", "mp3", "flac", "ogg"), "audio")
      .when(ext.isin("mp4", "avi", "mkv", "webm"), "video")
      .otherwise("other")
  }

  /** DECODE STUB — stands in for the codec call. Deterministic: a
    * 16-bin byte histogram + byte mean per payload, computed
    * partition-wise over the typed Dataset (the exact seam where a
    * real decoder would batch-process payloads). */
  def decodeStub(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val hist = new Array[Long](16)
        var sum = 0L
        var i = 0
        val p = if (r.payload == null) Array.empty[Byte] else r.payload
        while (i < p.length) {
          val b = p(i) & 0xFF
          hist(b >> 4) += 1
          sum += b
          i += 1
        }
        MediaFeatures(r.doc_id, r.media_type, p.length.toLong, sum,
          if (p.length == 0) 0.0 else sum.toDouble / p.length, hist)
      }
    }
  }

  /** ImageIO defaults to DISK-backed stream caches — every
    * encode/decode round-trips a temp file, which on a 32-task
    * executor serializes on filesystem traffic. Memory-backed caches
    * are the right mode for byte-array payloads; set once per JVM. */
  private lazy val imageIoMemCached: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Render raw bytes as a `width`-wide 8-bit GRAYSCALE image
    * (row-major, last row zero-padded) and encode it as a real PNG
    * via the JDK's `javax.imageio` — no external codec needed. Gray
    * PNG is lossless, so the decoded raster reproduces the input
    * bytes exactly; that reversibility is what lets the REAL codec
    * path below be hash-checked by a relational oracle. */
  def pngFromBytes(bytes: Array[Byte], width: Int): Array[Byte] =
    encodeGray(bytes, width, "png")

  /** The JPEG twin of [[pngFromBytes]] — same gray raster, the JDK's
    * `javax.imageio` JPEG encoder. JPEG is LOSSY: decoded samples
    * only approximate the input bytes, so JPEG-framed media verifies
    * by geometry + bounded error, never by exact byte stats. */
  def jpegFromBytes(bytes: Array[Byte], width: Int): Array[Byte] =
    encodeGray(bytes, width, "jpg")

  private def encodeGray(bytes: Array[Byte], width: Int,
      format: String): Array[Byte] = {
    imageIoMemCached
    val h = math.max(1, (bytes.length + width - 1) / width)
    val img = new java.awt.image.BufferedImage(width, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var i = 0
    while (i < width * h) {
      raster.setSample(i % width, i / width, 0,
        if (i < bytes.length) bytes(i) & 0xFF else 0)
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  /** REAL PNG decode (the round-6 stub made genuine for images; also
    * the per-frame codec behind [[decodeVideo]]). Reads dimensions
    * from the decoded
    * header and pixel stats straight off the raster — no color-space
    * conversion (getRGB would gamma-map gray), so gray samples come
    * back bit-exact. Returns None for undecodable bytes — the
    * drop-malformed posture every other lenient path here takes. */
  def decodePng(docId: Long, png: Array[Byte]): Option[DecodedImage] = try {
    imageIoMemCached
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    if (img == null) None
    else {
      val r = img.getRaster
      val (w, h) = (img.getWidth, img.getHeight)
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { sum += r.getSample(x, y, 0); x += 1 }
        y += 1
      }
      val n = w.toLong * h
      Some(DecodedImage(docId, w, h, n, sum, sum.toDouble / n))
    }
  } catch {
    // recognized-but-corrupt bytes make ImageIO.read THROW rather
    // than return null — and JDK plugin readers surface malformed
    // chunks as RuntimeExceptions (negative array sizes, index
    // bounds), not just IIOException — all the same drop-malformed
    // outcome here
    case scala.util.control.NonFatal(_) => None
  }

  /** Wrap raw bytes as 8 kHz mono 8-bit UNSIGNED PCM and encode a
    * real WAV container via the JDK's `javax.sound.sampled` — the
    * audio twin of [[pngFromBytes]]. PCM is uncompressed, so the
    * decoded sample stream reproduces the input bytes exactly. */
  def wavFromBytes(bytes: Array[Byte]): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_UNSIGNED,
      8000f, 8, 1, 1, 8000f, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, bytes.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL WAV decode — with [[decodePng]] and [[decodeVideo]], all
    * three media types decode genuinely.
    * Frame count and rate come from the decoded header,
    * sample stats from the decoded PCM stream; None for undecodable
    * bytes (drop-malformed). */
  def decodeWav(docId: Long, wav: Array[Byte]): Option[DecodedAudio] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val fmt = ais.getFormat
      val buf = new Array[Byte](8192)
      var sum = 0L
      var n = 0L
      var read = ais.read(buf)
      while (read > 0) {
        var i = 0
        while (i < read) { sum += buf(i) & 0xFF; i += 1 }
        n += read
        read = ais.read(buf)
      }
      Some(DecodedAudio(docId, n, fmt.getSampleRate.toInt, sum,
        if (n == 0) 0.0 else sum.toDouble / n))
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
    }

  /** Frame payload size for the synthetic video container: each
    * 64-byte slice of the source bytes becomes one 16×4 grayscale
    * frame. */
  private[graft] val videoFrameBytes = 64

  /** RIFF little-endian helpers for the AVI writer. */
  private def le32(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xFF); out.write((v >>> 8) & 0xFF)
    out.write((v >>> 16) & 0xFF); out.write((v >>> 24) & 0xFF)
  }
  private def fourcc(out: java.io.ByteArrayOutputStream, s: String): Unit =
    out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))

  /** Encode raw bytes as a REAL RIFF-AVI video — a genuine,
    * ffmpeg-readable container built from JDK-only parts: the payload
    * is sliced into [[videoFrameBytes]]-byte chunks (≥ 1 — an empty
    * payload is one empty frame), each chunk rendered and encoded per
    * frame, and the frames are laid out as `00dc` chunks in a `movi`
    * LIST under the standard `hdrl` (avih + strh 'vids' + strf
    * BITMAPINFOHEADER) headers. Two codecs, both with JDK frame
    * coders: `MPNG` (PNG per frame — LOSSLESS, so the video stays
    * relationally verifiable; the oracle-checked default) and `MJPG`
    * (Motion-JPEG, the standard-codec AVI the wider tool ecosystem
    * reads — LOSSY, verified by geometry + bounded pixel error in
    * [[graft.MultimodalSpec]]). */
  def videoFromBytes(bytes: Array[Byte],
      frameBytes: Int = videoFrameBytes, width: Int = 16,
      codec: String = "MPNG"): Array[Byte] = {
    require(codec == "MPNG" || codec == "MJPG", s"unsupported codec $codec")
    val encode: Array[Byte] => Array[Byte] =
      if (codec == "MJPG") jpegFromBytes(_, width) else pngFromBytes(_, width)
    val nFrames = math.max(1, (bytes.length + frameBytes - 1) / frameBytes)
    val frames = (0 until nFrames).map { f =>
      val from = f * frameBytes
      val until = math.min(from + frameBytes, bytes.length)
      encode(java.util.Arrays.copyOfRange(bytes, from, until))
    }
    val height = math.max(1, (math.min(frameBytes, math.max(bytes.length, 1))
      + width - 1) / width)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      fourcc(o, id); le32(o, body.length); o.write(body)
      if (body.length % 2 == 1) o.write(0) // RIFF chunks pad to even
      o.toByteArray
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      fourcc(o, "LIST"); le32(o, body.length + 4); fourcc(o, kind)
      o.write(body)
      o.toByteArray
    }
    val avih = { // main header: 56-byte AVIMAINHEADER body
      val o = new java.io.ByteArrayOutputStream()
      le32(o, 100000); le32(o, 0); le32(o, 0); le32(o, 0x10) // µs/frame, rate, pad, HASINDEX off
      le32(o, nFrames); le32(o, 0); le32(o, 1); le32(o, 0)   // frames, initial, streams, bufsize
      le32(o, width); le32(o, height); (0 until 4).foreach(_ => le32(o, 0))
      chunk("avih", o.toByteArray)
    }
    val strh = { // stream header: 'vids' handled by the frame codec
      val o = new java.io.ByteArrayOutputStream()
      fourcc(o, "vids"); fourcc(o, codec)
      le32(o, 0); le32(o, 0); le32(o, 0)      // flags, prio+lang, initial
      le32(o, 1); le32(o, 10)                 // scale, rate → 10 fps
      le32(o, 0); le32(o, nFrames); le32(o, 0) // start, length, bufsize
      le32(o, -1); le32(o, 0)                 // quality, samplesize
      le32(o, 0); le32(o, (height << 16) | width) // rcFrame
      chunk("strh", o.toByteArray)
    }
    val strf = { // BITMAPINFOHEADER with biCompression = the codec
      val o = new java.io.ByteArrayOutputStream()
      le32(o, 40); le32(o, width); le32(o, height)
      le32(o, (8 << 16) | 1) // planes=1, bitcount=8
      fourcc(o, codec)
      le32(o, width * height); le32(o, 0); le32(o, 0); le32(o, 0); le32(o, 0)
      chunk("strf", o.toByteArray)
    }
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
    val movi = list("movi",
      frames.map(png => chunk("00dc", png)).reduce(_ ++ _))
    val riffBody = hdrl ++ movi
    val o = new java.io.ByteArrayOutputStream()
    fourcc(o, "RIFF"); le32(o, riffBody.length + 4); fourcc(o, "AVI ")
    o.write(riffBody)
    o.toByteArray
  }

  private def rdLe32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)
  private def isFourcc(b: Array[Byte], off: Int, s: String): Boolean =
    s.indices.forall(i => b(off + i) == s.charAt(i).toByte)

  /** REAL video decode — walks the RIFF-AVI structure (header check,
    * LIST traversal to `movi`, per-`00dc`-chunk iteration with RIFF
    * even-padding) and decodes every frame through [[decodePng]] —
    * whose `ImageIO.read` sniffs the frame CONTENT, so both MPNG
    * (PNG) and MJPG (JPEG) frames decode genuinely — accumulating
    * frame count and raster stats. Truncated or malformed containers, trailing junk past
    * the declared RIFF size, or any undecodable frame → None
    * (drop-malformed, like the image/audio paths — a video with one
    * bad frame is a bad video, not a partial one). */
  def decodeVideo(docId: Long, avi: Array[Byte]): Option[DecodedVideo] = {
    if (avi.length < 12 || !isFourcc(avi, 0, "RIFF")
      || !isFourcc(avi, 8, "AVI ")) return None
    val riffSize = rdLe32(avi, 4)
    if (riffSize < 4 || 8 + riffSize != avi.length) return None
    var off = 12
    var frames = 0L
    var pixels = 0L
    var sum = 0L
    var sawMovi = false
    while (off + 8 <= avi.length) {
      val size = rdLe32(avi, off + 4)
      // Long arithmetic: a corrupt size near Int.MaxValue must fail the
      // bound, not wrap negative and index past the array.
      if (size < 0 || off.toLong + 8L + size > avi.length) return None
      if (isFourcc(avi, off, "LIST")) {
        if (size < 4) return None
        if (isFourcc(avi, off + 8, "movi")) {
          sawMovi = true
          var p = off + 12
          val end = off + 8 + size
          while (p + 8 <= end) {
            val fsize = rdLe32(avi, p + 4)
            if (fsize < 0 || p.toLong + 8L + fsize > end) return None
            if (isFourcc(avi, p, "00dc")) {
              decodePng(docId,
                java.util.Arrays.copyOfRange(avi, p + 8, p + 8 + fsize))
                match {
                case Some(img) =>
                  frames += 1
                  pixels += img.n_pixels
                  sum += img.pixel_sum
                case None => return None
              }
            }
            p += 8 + fsize + (fsize & 1) // RIFF even padding
          }
          if (p != end) return None
        }
      }
      off += 8 + size + (size & 1)
    }
    if (off != avi.length || !sawMovi || frames == 0) None
    else Some(DecodedVideo(docId, frames, pixels, sum,
      if (pixels == 0) 0.0 else sum.toDouble / pixels))
  }

  /** Resize stub: normalize every payload to exactly `n` bytes —
    * truncate long payloads, pad short ones with 0x2E (binary rpad) —
    * the binary analogue of resizing an image to a fixed input shape.
    * Codegen'd substring/rpad, no UDF. */
  def resizeStub(payload: org.apache.spark.sql.Column,
      n: Int): org.apache.spark.sql.Column =
    rpad(substring(payload, 1, n), n, Array[Byte](0x2E))

  // ------------------------------------------------------------ queries

  /** Metadata extraction over the binary column: byte length + sha256
    * checksum + typed meta fields. Pure codegen'd projection. */
  def qMediaMeta(spark: SparkSession, sfDir: String): DataFrame =
    mediaFromDocuments(spark, sfDir).select(
        col("doc_id"), col("media_type"),
        length(col("payload")).cast("long").as("n_bytes"),
        sha2(col("payload"), 256).as("sha"),
        col("meta.format").as("fmt"),
        col("meta.width").as("width"),
        col("meta.height").as("height"),
        col("meta.durationMs").as("duration_ms"))
      .orderBy(col("doc_id"))

  /** Frame-sampling query: first/middle/last 8-byte windows of each
    * payload, hex-encoded. Exercises binary slicing end-to-end. */
  def qMediaFrames(spark: SparkSession, sfDir: String): DataFrame = {
    val m = mediaFromDocuments(spark, sfDir)
    val n = length(col("payload"))
    def win(pos: org.apache.spark.sql.Column) =
      hex(substring(col("payload"), pos, lit(8)))
    m.select(col("doc_id"),
        win(lit(1)).as("f_first"),
        win(greatest((n / 2).cast("int"), lit(1))).as("f_mid"),
        win(greatest(n - 7, lit(1))).as("f_last"))
      .orderBy(col("doc_id"))
  }

  /** Resize to a fixed 32-byte shape: every row's payload becomes
    * exactly 32 bytes (truncate/zero-pad), checksummed. */
  def qMediaResize(spark: SparkSession, sfDir: String): DataFrame = {
    val m = mediaFromDocuments(spark, sfDir)
    m.select(col("doc_id"),
        length(resizeStub(col("payload"), 32)).cast("long").as("n_bytes"),
        hex(resizeStub(col("payload"), 32)).as("resized_hex"))
      .orderBy(col("doc_id"))
  }

  /** REAL image-codec round-trip over the image-typed rows: each
    * payload is rendered into a 16-wide grayscale image, encoded to
    * an actual PNG and decoded BACK through `javax.imageio` — both
    * directions genuine codec work, partition-local inside one
    * `mapPartitions` (payload bytes never shuffle). Because gray PNG
    * is lossless, the decoded raster stats equal the payload byte
    * stats, so this real-codec path hash-checks against a DuckDB
    * oracle that recomputes them relationally from the text — the
    * decode is verified, not stubbed. */
  def qMediaDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = mediaFromDocuments(spark, sfDir).as[MediaRecord]
    media.filter(_.media_type == "image").mapPartitions { it =>
      it.flatMap { r =>
        val p = if (r.payload == null) Array.empty[Byte] else r.payload
        decodePng(r.doc_id, pngFromBytes(p, width = 16))
      }
    }.toDF().orderBy("doc_id")
  }

  /** REAL audio-codec round-trip over the audio-typed rows — the WAV
    * twin of [[qMediaDecode]]: payload bytes wrapped as 8-bit PCM,
    * encoded to an actual WAV container and decoded back through
    * `javax.sound.sampled`, partition-local in one `mapPartitions`.
    * PCM is uncompressed, so decoded sample stats ≡ payload byte
    * stats and the real decode hash-checks relationally. */
  def qMediaWav(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = mediaFromDocuments(spark, sfDir).as[MediaRecord]
    media.filter(_.media_type == "audio").mapPartitions { it =>
      it.flatMap { r =>
        val p = if (r.payload == null) Array.empty[Byte] else r.payload
        decodeWav(r.doc_id, wavFromBytes(p))
      }
    }.toDF().orderBy("doc_id")
  }

  /** REAL video-codec round-trip over the video-typed rows — the
    * third media type made genuine: [[videoFromBytes]] builds an
    * actual RIFF-AVI/MPNG file and [[decodeVideo]] walks the RIFF
    * structure and PNG-decodes every `00dc` frame, partition-local
    * in one mapPartitions. Per-frame gray-PNG losslessness makes the
    * container stats a pure function of the payload bytes, so the
    * decode hash-checks against a relational oracle: pixel_sum ≡
    * payload byte sum and n_pixels follows from the frame/row
    * geometry alone. */
  def qMediaVideo(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = mediaFromDocuments(spark, sfDir).as[MediaRecord]
    media.filter(_.media_type == "video").mapPartitions { it =>
      it.flatMap { r =>
        val p = if (r.payload == null) Array.empty[Byte] else r.payload
        decodeVideo(r.doc_id, videoFromBytes(p))
      }
    }.toDF().orderBy("doc_id")
  }

  /** Feature extraction through the decode stub: typed Dataset →
    * mapPartitions → features, then a relational tail (per-media-type
    * aggregate) to prove the seam composes with Catalyst. All
    * aggregates are exact integers (plus one exact-integer-ratio
    * double), so the result hash-matches a DuckDB oracle that
    * recomputes byte stats with `ord()` over the (pure-ASCII)
    * payloads. */
  /** aHash (average-hash) of a gray raster as 4 × 16-bit chunks: the
    * image is average-pooled onto an 8×8 grid (cell (i,j) spans rows
    * [⌊i·h/8⌋, ⌊(i+1)·h/8⌋) × cols [⌊j·w/8⌋, ⌊(j+1)·w/8⌋)) and bit
    * (i·8+j) is set iff the cell mean EXCEEDS the global pixel mean —
    * compared by integer cross-multiplication (cellSum·nPixels >
    * totalSum·cellArea), so there is no division and the oracle
    * reproduces every bit exactly. Degenerate cells (h < 8 rows →
    * zero-row cells) get bit 0 via the strict inequality. Chunked
    * 16-bit (not one packed 64-bit value) because the pigeonhole
    * pair join keys on chunks anyway and bit 63 would overflow a
    * signed BIGINT shift in the oracle. */
  private[graft] def ahashChunks(px: Array[Int], w: Int, h: Int)
      : Array[Int] = {
    var total = 0L
    var t = 0
    while (t < px.length) { total += px(t); t += 1 }
    val np = w.toLong * h
    val chunks = new Array[Int](4)
    var i = 0
    while (i < 8) {
      val r0 = i * h / 8; val r1 = (i + 1) * h / 8
      var j = 0
      while (j < 8) {
        val c0 = j * w / 8; val c1 = (j + 1) * w / 8
        var s = 0L
        var rr = r0
        while (rr < r1) {
          var cc = c0
          while (cc < c1) { s += px(rr * w + cc); cc += 1 }
          rr += 1
        }
        val area = (r1 - r0).toLong * (c1 - c0)
        if (s * np > total * area) {
          val idx = i * 8 + j
          chunks(idx / 16) |= (1 << (idx % 16))
        }
        j += 1
      }
      i += 1
    }
    chunks
  }

  /** Full-raster REAL decode — the pixel-array sibling of
    * [[decodePng]] (which returns stats only), same drop-malformed
    * posture. */
  private def decodePixels(png: Array[Byte])
      : Option[(Array[Int], Int, Int)] = try {
    imageIoMemCached
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    if (img == null) None
    else {
      val r = img.getRaster
      val (w, h) = (img.getWidth, img.getHeight)
      val px = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { px(y * w + x) = r.getSample(x, y, 0); x += 1 }
        y += 1
      }
      Some((px, w, h))
    }
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-image perceptual hash over the REAL codec round-trip: encode
    * the payload as an actual 16-wide gray PNG, decode it back, and
    * aHash the decoded raster ([[ahashChunks]]). One zero-shuffle
    * `mapPartitions` pass — payload bytes never leave their split. */
  def qMediaPhash(spark: SparkSession, sfDir: String): DataFrame =
    phashFrame(spark, sfDir).orderBy(col("doc_id"))

  // memoized INSIDE the frame builder so the hash dump and the pairs
  // query share one codec-round-trip pass per session — the encode +
  // decode walk is the expensive per-row work in this family
  private def phashFrame(spark: SparkSession, sfDir: String): DataFrame =
    SessionMemo.frames(spark, s"phash|$sfDir", eager = true) {
      import spark.implicits._
      mediaFromDocuments(spark, sfDir).as[MediaRecord]
        .filter(_.media_type == "image")
        .mapPartitions(_.flatMap { r =>
          val p = if (r.payload == null) Array.empty[Byte] else r.payload
          decodePixels(pngFromBytes(p, width = 16)).map { case (px, w, h) =>
            val c = ahashChunks(px, w, h)
            (r.doc_id, c(0), c(1), c(2), c(3))
          }
        })
        .toDF("doc_id", "c0", "c1", "c2", "c3")
    }

  /** Energy-envelope fingerprint of a 1-D sample stream as 4 × 16-bit
    * chunks — the audio analog of [[ahashChunks]]: 64 contiguous
    * windows (window w spans samples [⌊w·n/64⌋, ⌊(w+1)·n/64⌋)), bit w
    * set iff the window mean EXCEEDS the global mean, compared by
    * integer cross-multiplication. Loudness-profile shaped: two
    * clips with the same energy envelope at different gains hash
    * close (the mean comparison is scale-covariant), which is what
    * an audio DEDUP pass wants. */
  private[graft] def afpChunks(samples: Array[Int]): Array[Int] = {
    val n = samples.length
    var total = 0L
    var t = 0
    while (t < n) { total += samples(t); t += 1 }
    val chunks = new Array[Int](4)
    var w = 0
    while (w < 64) {
      val a = w * n / 64; val b = (w + 1) * n / 64
      var s = 0L
      var i = a
      while (i < b) { s += samples(i); i += 1 }
      if (s * n > total * (b - a)) chunks(w / 16) |= (1 << (w % 16))
      w += 1
    }
    chunks
  }

  /** Full-sample REAL WAV decode — the sample-array sibling of
    * [[decodeWav]] (which returns stats only). */
  private def decodeWavSamples(wav: Array[Byte]): Option[Array[Int]] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val out = new scala.collection.mutable.ArrayBuffer[Int]()
      val buf = new Array[Byte](8192)
      var read = ais.read(buf)
      while (read > 0) {
        var i = 0
        while (i < read) { out += (buf(i) & 0xFF); i += 1 }
        read = ais.read(buf)
      }
      Some(out.toArray)
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
    }

  /** Per-clip audio fingerprint over the REAL codec round-trip:
    * payload bytes wrapped as 8-bit PCM, encoded to an actual WAV,
    * decoded back, envelope-hashed ([[afpChunks]]). Split-local, one
    * `mapPartitions`. */
  def qMediaAfp(spark: SparkSession, sfDir: String): DataFrame =
    afpFrame(spark, sfDir).orderBy(col("doc_id"))

  // memoized for the same hash-dump/pairs sharing as [[phashFrame]]
  private def afpFrame(spark: SparkSession, sfDir: String): DataFrame =
    SessionMemo.frames(spark, s"afp|$sfDir", eager = true) {
      import spark.implicits._
      mediaFromDocuments(spark, sfDir).as[MediaRecord]
        .filter(_.media_type == "audio")
        .mapPartitions(_.flatMap { r =>
          val p = if (r.payload == null) Array.empty[Byte] else r.payload
          decodeWavSamples(wavFromBytes(p)).map { s =>
            val c = afpChunks(s)
            (r.doc_id, c(0), c(1), c(2), c(3))
          }
        })
        .toDF("doc_id", "c0", "c1", "c2", "c3")
    }

  /** Audio near-dup via the envelope fingerprint — completing the
    * per-modality dedup family (text MinHash/SimHash, embedding
    * LSH, image aHash): the same pigeonhole candidate join + exact
    * Hamming ≤ 3 verification as [[qMediaPhashPairs]]. */
  def qMediaAfpPairs(spark: SparkSession, sfDir: String): DataFrame =
    chunkHammingPairs(afpFrame(spark, sfDir))

  /** Shared pigeonhole-plus-verify over a (doc_id, c0..c3) chunked
    * 64-bit hash frame: hamming ≤ 3 ⇒ at least one chunk equal, so
    * candidates come from a plain equi-join on (chunk index, value)
    * and the exact Hamming filter runs only on candidates. */
  private def chunkHammingPairs(ph: DataFrame): DataFrame = {
    val ex = ph.select(col("doc_id"), posexplode(
      array(col("c0"), col("c1"), col("c2"), col("c3"))).as(Seq("ck", "cv")))
    val cand = ex.as("a").join(ex.as("b"),
        col("a.ck") === col("b.ck") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .distinct()
    val l = ph.select(col("doc_id").as("ida"), col("c0").as("a0"),
      col("c1").as("a1"), col("c2").as("a2"), col("c3").as("a3"))
    val r = ph.select(col("doc_id").as("idb"), col("c0").as("b0"),
      col("c1").as("b1"), col("c2").as("b2"), col("c3").as("b3"))
    val hamming = (0 until 4)
      .map(k => expr(s"bit_count(a$k ^ b$k)"))
      .reduce(_ + _)
    cand.join(l, Seq("ida")).join(r, Seq("idb"))
      .select(col("ida"), col("idb"), hamming.cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy(col("ida"), col("idb"))
  }

  /** Image near-dup via perceptual hash — the multimodal member of
    * the dedup family: candidates from a SimHash-style pigeonhole
    * (hamming ≤ 3 over 64 bits ⇒ at least one of the 4 chunks equal
    * — a plain equi-join on (chunk index, chunk value), never a
    * cross join), then exact Hamming verification over the full
    * hash. Catches byte-identical images at distance 0 and
    * brightness/padding-level perturbations within the bit budget —
    * the image analog of [[Dedup.qSimhashPairs]], sharing its scale
    * shape: per-image hashing is split-local, the join carries
    * 20-byte rows, hot chunk values (blank images) are AQE
    * skew-join targets. */
  def qMediaPhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    chunkHammingPairs(phashFrame(spark, sfDir))

  def qMediaFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = mediaFromDocuments(spark, sfDir).as[MediaRecord]
    val histCols = (0 until 16).map(i =>
      sum(element_at(col("histogram"), i + 1)).as(s"h$i"))
    val aggs = Seq(
      count(lit(1)).as("n"),
      sum(col("n_bytes")).as("total_bytes"),
      sum(col("byte_sum")).as("sum_bytes"),
      (sum(col("byte_sum")).cast("double") / sum(col("n_bytes")))
        .as("mean_byte")) ++ histCols
    decodeStub(media).toDF()
      .groupBy(col("media_type"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("media_type"))
  }
}
