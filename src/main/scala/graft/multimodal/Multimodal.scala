package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support: image/audio/video payloads ride through
  * the engine as opaque `binary` columns next to a typed metadata
  * struct; per-modality kernels (decode, feature-extract, resize,
  * frame-sample) run as batched partition-local functions.
  *
  * ALL THREE modality paths are REAL end-to-end: image payloads are
  * genuine PNG files (encoded in-engine with `javax.imageio` — in the
  * JDK, no external jar) decoded with `ImageIO.read`; audio payloads
  * are genuine WAV files (encoded with `javax.sound.sampled` — also
  * in the JDK) decoded with `AudioSystem`; video payloads are a
  * length-prefixed concatenation of per-frame PNGs (`vpng` — the JDK
  * has no mp4/webm codec, so the fixture CONTAINER is ours, but every
  * frame decode is genuine `ImageIO` work). All kernels emit exact
  * integer histograms of the DECODED content; because pixel/sample
  * content is a deterministic integer formula of (doc_id, [frame,]
  * index) and PNG/PCM are lossless, DuckDB oracles recompute the
  * decoded histograms from the formulas alone — the whole
  * encode→shuffle→decode path is hash-verified for all three
  * modalities.
  *
  * At cluster scale the binary column stays columnar parquet (never
  * materialized on the driver), kernels are embarrassingly parallel
  * per partition — decode cost is linear in pixels with zero shuffle
  * — and `maxPartitionBytes` governs batch memory, exactly as with a
  * Pandas-UDF pipeline.
  */
object Multimodal {

  // ImageIO's default scratch-file cache would put a disk write in
  // the per-row decode path; in-memory streams only.
  ImageIO.setUseCache(false)

  /** Typed metadata carried beside every payload. */
  val metaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false)))

  /** media table schema: (doc_id, kind, payload, meta). */
  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("meta", metaSchema, nullable = false)))

  case class MediaMeta(format: String, width: Int, height: Int,
                       n_frames: Int)
  case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte],
                      meta: MediaMeta)

  /** Deterministic gray-8 pixel value at flat index `i` (row-major)
    * of image `docId` — the shared fixture formula. Exact integer
    * arithmetic, so the DuckDB oracle reproduces it verbatim:
    * `(doc_id*31 + i*7 + (i*i) % 101) % 256`. */
  def pixelAt(docId: Long, i: Long): Int =
    ((docId * 31L + i * 7L + (i * i) % 101L) % 256L).toInt

  /** Image dims derive from `n_chars`; kept small (≤ 31×23) so the
    * per-round bench prices the kernel, not the fixture — the decode
    * cost is linear in pixels either way. */
  def imgWidth(nChars: Long): Int = (nChars % 28 + 4).toInt
  def imgHeight(nChars: Long): Int = (nChars % 20 + 4).toInt

  /** Deterministic signed 16-bit PCM sample at index `i` of audio
    * clip `docId` — the audio twin of [[pixelAt]]. Exact integer
    * arithmetic, reproduced verbatim by the DuckDB oracle:
    * `((doc_id*37 + i*11 + (i*i) % 251) % 65536) - 32768`. */
  def sampleAt(docId: Long, i: Long): Int =
    (((docId * 37L + i * 11L + (i * i) % 251L) % 65536L) - 32768L).toInt

  /** Audio clip length in samples, from `n_chars` (≤ 511 — the bench
    * prices the codec path, not the fixture). */
  def nSamples(nChars: Long): Int = (nChars % 480 + 32).toInt

  /** Canonical fixture format: 8 kHz mono PCM_SIGNED 16-bit
    * little-endian — the plain-WAV layout every decoder handles. */
  private val WavFormat =
    new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)

  /** Encode the formula clip for `docId` as a REAL WAV file via
    * `javax.sound.sampled` (in the JDK, no external jar — the same
    * "no audio libraries" premise-check that made the PNG path real).
    * PCM is lossless: decoded samples equal [[sampleAt]] exactly. */
  def encodeWav(docId: Long, n: Int): Array[Byte] =
    pcmToWav(Array.tabulate(n)(i => sampleAt(docId, i.toLong)))

  /** Wrap signed 16-bit PCM samples in a real WAV container. */
  def pcmToWav(samples: Array[Int]): Array[Byte] = {
    val n = samples.length
    val bytes = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = samples(i)
      bytes(2 * i) = (s & 0xFF).toByte
      bytes(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new ByteArrayInputStream(bytes), WavFormat, n.toLong)
    val bos = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  // ------------------------------------------------ planted band cohort

  /** Per-band amplitude of the PLANTED band-structured audio cohort
    * (`q_audio_dedup`): the natural [[sampleAt]] sawtooth is
    * fingerprint-DEGENERATE — its id term is a constant offset under
    * the mod, so band-energy profiles collide for most clip pairs
    * (probed: 10k of 17k pairs within hamming 3) — so the dedup
    * cohort plants clips whose band structure genuinely varies by id
    * (the `q_lsh_curve` convention: midrange structure the fixture
    * lacks is planted deterministically). The inner mod 100003 wraps
    * many times even for small doc_ids and the multiplier varies per
    * band, so profiles carry no shared shape across ids (a plain
    * `(id·c + f(b)) mod k` profile is just one base curve shifted —
    * probed to collide in the hundreds). Exact integer arithmetic,
    * reproduced verbatim by the DuckDB oracle. */
  def plantedAmp(docId: Long, b: Int): Int =
    (1L + ((docId * (48271L + b) + b.toLong * b * 7919L) % 100003L)
      % 97L).toInt

  /** Number of time bands in the planted clips / the band hash. */
  val AudioBands = 16

  /** Encode the planted clip for `docId`: [[AudioBands]] time bands,
    * band `b` an alternating square wave of amplitude
    * `plantedAmp(docId, b) * 256 >> gainShift` — `gainShift` models a
    * re-encode at lower volume (the perceptual-twin transform: scaling
    * every sample by the same power of two preserves the band-ratio
    * profile exactly). */
  def encodeBandWav(docId: Long, n: Int, gainShift: Int): Array[Byte] = {
    require(n >= AudioBands, s"clip too short for $AudioBands bands: $n")
    pcmToWav(Array.tabulate(n) { i =>
      val b = (i * AudioBands / n).min(AudioBands - 1)
      val amp = (plantedAmp(docId, b) * 256) >> gainShift
      if (i % 2 == 0) amp else -amp
    })
  }

  /** 64-bit GAIN-INVARIANT audio fingerprint over genuinely decoded
    * samples: decode the WAV, take each of the [[AudioBands]] time
    * bands' peak |amplitude|, normalize by the loudest band, quantize
    * to a nibble (`(peak * 15) div max` — integer floor, so a uniform
    * gain k cancels exactly: floor(15·k·a / (k·max)) = floor(15·a /
    * max)), and pack the 16 nibbles. Volume-shifted re-encodes land
    * at hamming 0; unrelated clips differ in many nibbles. */
  def audioBandHash(docId: Long, payload: Array[Byte]): Long = {
    val samples = decodeWav(docId, payload)
    val n = samples.length
    require(n >= AudioBands,
      s"clip too short to band-hash for doc_id=$docId: $n samples")
    val peak = new Array[Long](AudioBands)
    var i = 0
    while (i < n) {
      val b = (i * AudioBands / n).min(AudioBands - 1)
      val a = math.abs(samples(i).toLong)
      if (a > peak(b)) peak(b) = a
      i += 1
    }
    val mx = peak.max.max(1L)
    var h = 0L
    var b = 0
    while (b < AudioBands) {
      h |= ((peak(b) * 15L) / mx) << (b * 4)
      b += 1
    }
    h
  }

  /** Decode a WAV payload to its PCM samples. Fails LOUDLY on
    * corrupt/truncated/non-WAV bytes and on any format other than
    * 16-bit mono PCM — the [[decodePng]] contract for audio. */
  def decodeWav(docId: Long, payload: Array[Byte]): Array[Int] = {
    val ais =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(payload))
      catch { case e: Exception =>
        throw new IllegalArgumentException(
          s"undecodable audio payload for doc_id=$docId: ${e.getMessage}")
      }
    val fmt = ais.getFormat
    if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
        fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1)
      throw new IllegalArgumentException(
        s"unexpected audio format for doc_id=$docId: $fmt")
    val raw = ais.readAllBytes()
    val n = raw.length / 2
    val out = new Array[Int](n)
    val bigEndian = fmt.isBigEndian
    var i = 0
    while (i < n) {
      val b0 = raw(2 * i)
      val b1 = raw(2 * i + 1)
      out(i) =
        if (bigEndian) (b0.toInt << 8) | (b1 & 0xFF)
        else (b1.toInt << 8) | (b0 & 0xFF)
      i += 1
    }
    out
  }

  /** Encode a gray-8 PNG whose flat-index pixels come from `px`. */
  private def encodeGray(w: Int, h: Int, px: Long => Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val data = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferByte].getData
    var i = 0
    while (i < w * h) { data(i) = px(i.toLong).toByte; i += 1 }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Encode the formula image for `docId` as a real PNG (gray-8,
    * lossless — decoded samples equal [[pixelAt]] exactly). */
  def encodePng(docId: Long, w: Int, h: Int): Array[Byte] =
    encodeGray(w, h, i => pixelAt(docId, i))

  /** 64-bit perceptual AVERAGE-HASH (aHash) of a decoded gray-8
    * image: nearest-neighbor-sample an 8×8 grid (the [[resamplePng]]
    * mapping `src = (y·h div 8)·w + (x·w div 8)`), take the integer
    * mean of the 64 samples, and set bit i = y·8+x iff sample > mean.
    * Brightness-INVARIANT by construction — a uniform +δ shifts every
    * sample and the mean together, so bits only move where clamping
    * bites (the property `q_media_dedup`'s planted twins certify).
    * All integer arithmetic; the DuckDB oracle replays it from the
    * pixel formula. */
  def aHash(docId: Long, payload: Array[Byte]): Long = {
    val (w, h, src) = decodePng(docId, payload)
    val samp = new Array[Int](64)
    var i = 0
    while (i < 64) {
      samp(i) = src((i / 8 * h / 8) * w + (i % 8 * w / 8))
      i += 1
    }
    var sum = 0L
    i = 0
    while (i < 64) { sum += samp(i); i += 1 }
    val mean = sum / 64
    var hash = 0L
    i = 0
    while (i < 64) { if (samp(i) > mean) hash |= (1L << i); i += 1 }
    hash
  }

  /** Decode → add `delta` to every pixel (clamped to [0, 255] at BOTH
    * ends — a negative delta must saturate at black, not wrap the
    * pixel byte) → re-encode: the deterministic brightness edit
    * `q_media_dedup` plants its near-duplicate twins with. */
  def brightnessShift(docId: Long, payload: Array[Byte],
                      delta: Int): Array[Byte] = {
    val (w, h, src) = decodePng(docId, payload)
    encodeGray(w, h, i => math.min(math.max(src(i.toInt) + delta, 0), 255))
  }

  /** Deterministic gray-8 pixel at flat index `i` of FRAME `f` of
    * video `docId` — [[pixelAt]] plus a per-frame term, reproduced
    * verbatim by the DuckDB oracle:
    * `(doc_id*31 + f*13 + i*7 + (i*i) % 101) % 256` (frame 0 of video
    * d is exactly image d). */
  def framePixelAt(docId: Long, f: Long, i: Long): Int =
    ((docId * 31L + f * 13L + i * 7L + (i * i) % 101L) % 256L).toInt

  /** Encode the formula video for `docId` in the `vpng` fixture
    * container: `n` frames, each a REAL gray-8 PNG of [[framePixelAt]]
    * pixels, concatenated with a 4-byte big-endian length prefix per
    * frame. The JDK ships no mp4/webm codec, so the CONTAINER is ours
    * to define — but each frame decode is genuine `ImageIO` work and
    * PNG is lossless, so decoded frames are oracle-able from the
    * formula exactly like still images. */
  def encodeVideo(docId: Long, w: Int, h: Int, n: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    var f = 0
    while (f < n) {
      val png = encodeGray(w, h, i => framePixelAt(docId, f.toLong, i))
      bos.write(png.length >>> 24); bos.write((png.length >>> 16) & 0xFF)
      bos.write((png.length >>> 8) & 0xFF); bos.write(png.length & 0xFF)
      bos.write(png)
      f += 1
    }
    bos.toByteArray
  }

  /** Split a `vpng` payload into its per-frame PNG byte arrays. Fails
    * LOUDLY on truncation or a corrupt length prefix — the
    * [[decodePng]] contract for video containers (each frame's PNG is
    * still validated by its own decode downstream). */
  def splitVideoFrames(docId: Long, payload: Array[Byte]): Array[Array[Byte]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var pos = 0
    while (pos < payload.length) {
      if (pos + 4 > payload.length)
        throw new IllegalArgumentException(
          s"undecodable video payload for doc_id=$docId: truncated length prefix at byte $pos")
      val len = ((payload(pos) & 0xFF) << 24) | ((payload(pos + 1) & 0xFF) << 16) |
        ((payload(pos + 2) & 0xFF) << 8) | (payload(pos + 3) & 0xFF)
      if (len <= 0 || pos + 4 + len > payload.length)
        throw new IllegalArgumentException(
          s"undecodable video payload for doc_id=$docId: frame length $len at byte $pos overruns payload")
      out += java.util.Arrays.copyOfRange(payload, pos + 4, pos + 4 + len)
      pos += 4 + len
    }
    out.toArray
  }

  /** Decode a PNG payload to (width, height, row-major gray samples).
    * Fails LOUDLY on an undecodable payload (corrupt bytes, truncated
    * file, wrong format) — a silent skip would undercount downstream
    * histograms. */
  def decodePng(docId: Long, payload: Array[Byte]): (Int, Int, Array[Int]) = {
    val img =
      try ImageIO.read(new ByteArrayInputStream(payload))
      catch { case e: Exception =>
        throw new IllegalArgumentException(
          s"undecodable image payload for doc_id=$docId: ${e.getMessage}")
      }
    if (img == null)
      throw new IllegalArgumentException(
        s"undecodable image payload for doc_id=$docId: not a known image format")
    val w = img.getWidth
    val h = img.getHeight
    (w, h, img.getRaster.getSamples(0, 0, w, h, 0, new Array[Int](w * h)))
  }

  /** Generator row: [[MediaRow]] minus the payload (all three payloads
    * are encoded in the partition kernel) plus the `n_chars` the
    * encoders key off. Public — Catalyst's generated encoder class
    * lives outside this package and must see the constructor. */
  case class MediaGen(doc_id: Long, kind: String, meta: MediaMeta,
                      n_chars: Long)

  /** Deterministic synthetic media table derived from `documents`:
    * image rows (doc_id ≡ 0 mod 3) carry a REAL PNG payload encoded
    * from the pixel formula, audio rows (≡ 1) a REAL WAV encoded from
    * the sample formula, video rows (≡ 2) a REAL `vpng` container of
    * `n_frames` per-frame PNGs from the frame-pixel formula. Metadata
    * is truthful for images and video (frame dims match
    * `meta.width/height`, frame count matches `meta.n_frames`); audio
    * length lives in-band in the WAV header.
    *
    * `kinds`: restrict generation to the named kinds. The PAYLOAD
    * encoders live behind a typed mapPartitions barrier, so a
    * downstream `kind` filter cannot be pushed beneath them — a query
    * that wants only images would still pay every video's per-frame
    * PNG encode. The kind column is declarative BEFORE the barrier,
    * so this filter prunes at generation: single-kind consumers
    * (q_resize_pixels) must pass it rather than filter after. */
  def mediaFromDocuments(docs: DataFrame,
                         kinds: Seq[String] = Seq("image", "audio", "video"))
      : DataFrame = {
    import docs.sparkSession.implicits._
    val base0 = docs.select(
      col("doc_id"),
      element_at(typedlit(Seq("image", "audio", "video")),
        (col("doc_id") % 3 + 1).cast(IntegerType)).as("kind"),
      struct(
        element_at(typedlit(Seq("png", "wav", "vpng")),
          (col("doc_id") % 3 + 1).cast(IntegerType)).as("format"),
        (col("n_chars") % 28 + 4).cast(IntegerType).as("width"),
        (col("n_chars") % 20 + 4).cast(IntegerType).as("height"),
        (col("n_chars") % 24 + 1).cast(IntegerType).as("n_frames")).as("meta"),
      col("n_chars"))
    val base =
      if (kinds.toSet == Set("image", "audio", "video")) base0
      else base0.filter(col("kind").isin(kinds: _*))
    base.as[MediaGen].mapPartitions { it =>
      it.map { r =>
        val payload = r.kind match {
          case "image" => encodePng(r.doc_id, r.meta.width, r.meta.height)
          case "audio" => encodeWav(r.doc_id, nSamples(r.n_chars))
          case _       => encodeVideo(r.doc_id, r.meta.width, r.meta.height,
            r.meta.n_frames)
        }
        MediaRow(r.doc_id, r.kind, payload, r.meta)
      }
    }.toDF()
  }

  /** Feature row emitted by [[extractFeatures]]: `n_units` counted
    * units (pixels for images, payload bytes otherwise) and their
    * exact 16-bin integer histogram (Σbins = n_units). */
  case class MediaFeatures(doc_id: Long, kind: String, n_bytes: Int,
                           n_units: Long, bins: Array[Long])

  val FeatureDim = 16

  /** === REAL kernel (video) ===
    * Split the `vpng` container, `ImageIO.read` EVERY frame's PNG,
    * histogram all decoded gray samples across frames into 16 value
    * buckets (bin = sample ≫ 4 — the image bucketing, applied
    * per-frame). */
  def videoBins(docId: Long, payload: Array[Byte]): Array[Long] = {
    val bins = new Array[Long](FeatureDim)
    splitVideoFrames(docId, payload).foreach { png =>
      val (_, _, px) = decodePng(docId, png)
      var i = 0
      while (i < px.length) { bins(px(i) >> 4) += 1L; i += 1 }
    }
    bins
  }

  /** === REAL kernel (images) ===
    * `ImageIO.read` the PNG payload, histogram the decoded gray
    * samples into 16 value buckets (bin = sample ≫ 4). */
  def imageBins(docId: Long, payload: Array[Byte]): Array[Long] = {
    val (_, _, px) = decodePng(docId, payload)
    val bins = new Array[Long](FeatureDim)
    var i = 0
    while (i < px.length) { bins(px(i) >> 4) += 1L; i += 1 }
    bins
  }

  /** === REAL kernel (audio) ===
    * `AudioSystem` decodes the WAV payload; histogram of the decoded
    * signed 16-bit samples into 16 amplitude buckets
    * (bin = (sample + 32768) ≫ 12). */
  def audioBins(docId: Long, payload: Array[Byte]): Array[Long] = {
    val samples = decodeWav(docId, payload)
    val bins = new Array[Long](FeatureDim)
    var i = 0
    while (i < samples.length) { bins((samples(i) + 32768) >> 12) += 1L; i += 1 }
    bins
  }

  /** Batched per-partition feature extraction: the Scala analog of a
    * `mapInPandas` kernel — one iterator pass per partition, no
    * per-row lambda dispatch, constant memory. All three kinds take
    * real codec paths. */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.select("doc_id", "kind", "payload").as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, payload) =>
          val bins = kind match {
            case "image" => imageBins(id, payload)
            case "audio" => audioBins(id, payload)
            case _       => videoBins(id, payload)
          }
          MediaFeatures(id, kind, payload.length, bins.sum, bins)
        }
      }
  }

  /** Media CURATION gate — the per-doc admit/reject decision a
    * multimodal training pipeline runs after joining captions to
    * payloads: admit when the DECODED media meets minimum-size
    * bounds. Decisions come from the real decode (actual PNG dims,
    * actual PCM sample count, actual frame count — never trusted
    * metadata), so an invalid payload fails loudly rather than
    * passing the gate; the bounds themselves are recomputable from
    * the fixture formulas, which keeps the gate DuckDB-oracle-able.
    * One scan, scan-proportional decode work, (doc_id, media_ok)
    * out. */
  def curationGate(media: DataFrame, minPixels: Int = 100,
                   minSamples: Int = 100, minFrames: Int = 2): DataFrame = {
    import media.sparkSession.implicits._
    media.select("doc_id", "kind", "payload").as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, kind, payload) =>
        val ok = kind match {
          case "image" =>
            val (w, h, _) = decodePng(id, payload)
            w * h >= minPixels
          case "audio" => decodeWav(id, payload).length >= minSamples
          case _ =>
            val frames = splitVideoFrames(id, payload)
            frames.foreach(decodePng(id, _)) // every frame must decode
            frames.length >= minFrames
        }
        (id, ok)
      }).toDF("doc_id", "media_ok")
  }

  /** Frame sampling for `video` payloads: the `vpng` container is
    * split into its REAL per-frame PNGs and every `stride`-th frame
    * (anchored at frame 0) is emitted as its own row — each
    * `frame_bytes` is a decodable PNG. Explode happens executor-side
    * via flatMap — output rows ≈ |videos|·frames/stride, never
    * driver-materialized. */
  case class Frame(doc_id: Long, frame_idx: Int, frame_bytes: Array[Byte])

  def sampleFrames(media: DataFrame, stride: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(col("kind") === "video")
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          val frames = splitVideoFrames(id, payload)
          (0 until frames.length by stride).iterator.map { f =>
            Frame(id, f, frames(f))
          }
        }
      }
  }

  /** Resize: REAL nearest-neighbor pixel resample for images and for
    * EVERY video frame (decode → sample map `src = dst·srcDim div
    * dstDim` → re-encode PNG / re-assemble `vpng`); metadata-level
    * for audio, whose width/height are vestigial. The sample map is
    * exact integer arithmetic, so resized-pixel histograms stay
    * DuckDB-oracle-able via [[pixelAt]] / [[framePixelAt]].
    *
    * CALLERS MUST PRE-FILTER `kind` BEFORE calling: the typed
    * mapPartitions kernel below is an optimizer barrier, so Catalyst
    * CANNOT push a post-resize `kind` filter beneath it — a
    * `resize(media).filter(kind === "image")` pays full per-frame
    * video decode/resample/re-encode for rows it then discards
    * (measured 4.1x at sf0.1; the round-10 q_resize_pixels
    * regression). Filter first; resize is row-wise, so the result on
    * the filtered subset is identical. */
  def resize(media: DataFrame, maxDim: Int): DataFrame = {
    import media.sparkSession.implicits._
    val scale = least(
      lit(maxDim) / col("meta.width").cast(DoubleType),
      lit(maxDim) / col("meta.height").cast(DoubleType), lit(1.0))
    val scaled = media.withColumn("meta", struct(
      col("meta.format").as("format"),
      floor(col("meta.width") * scale).cast(IntegerType).as("width"),
      floor(col("meta.height") * scale).cast(IntegerType).as("height"),
      col("meta.n_frames").as("n_frames")))
    scaled.as[MediaRow].mapPartitions { it =>
      it.map { r =>
        r.kind match {
          case "image" =>
            r.copy(payload = resamplePng(r.doc_id, r.payload,
              r.meta.width, r.meta.height))
          case "video" =>
            val bos = new ByteArrayOutputStream()
            splitVideoFrames(r.doc_id, r.payload).foreach { png =>
              val out = resamplePng(r.doc_id, png, r.meta.width, r.meta.height)
              bos.write(out.length >>> 24); bos.write((out.length >>> 16) & 0xFF)
              bos.write((out.length >>> 8) & 0xFF); bos.write(out.length & 0xFF)
              bos.write(out)
            }
            r.copy(payload = bos.toByteArray)
          case _ => r
        }
      }
    }.toDF()
  }

  /** Decode, nearest-neighbor-resample to (newW, newH), re-encode. */
  def resamplePng(docId: Long, payload: Array[Byte],
                  newW: Int, newH: Int): Array[Byte] = {
    // src dims are recovered from the image itself, not trusted metadata
    val (w, h, src) = decodePng(docId, payload)
    val out = new BufferedImage(newW, newH, BufferedImage.TYPE_BYTE_GRAY)
    val data = out.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferByte].getData
    var y = 0
    while (y < newH) {
      val sy = y * h / newH
      var x = 0
      while (x < newW) {
        data(y * newW + x) = src(sy * w + x * w / newW).toByte
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(out, "png", bos)
    bos.toByteArray
  }
}
