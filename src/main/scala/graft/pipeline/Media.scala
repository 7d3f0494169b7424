package graft.pipeline

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed multimodal pipeline: opaque binary media columns with typed
  * metadata, batched decode / feature-extract / resize / frame-sample.
  *
  * Generalizes the reference's image path → bytes → tensor chain
  * (S2+M3+M4, `/root/reference/java/PredictBatchMapperCluster.java:51-60`,
  * `python/predict_batch_threaded_local.py:78-118`) to a media-agnostic
  * `Dataset[MediaObject]` stage.
  *
  * === CODEC BOUNDARY ===
  * IMAGE decode is REAL: [[Media.decodeImage]] runs `javax.imageio`
  * (ships in the JVM — JPEG/PNG/BMP/GIF readers, no ML runtime needed),
  * mirroring the reference's `Image.open(path).convert("RGB")`
  * (`/root/reference/python/predict_batch_threaded_local.py:102`) —
  * actual pixel dimensions, channel count, and mean-luminance byte
  * stats; an undecodable payload throws and lands on the same sentinel
  * row the reference's per-image try/except produces (`:100-108`).
  * Image FEATURES are real too: a 16-bin luminance histogram
  * ([[Media.imageFeatures]]).
  * WAV/PCM audio decode is REAL as well: [[Media.decodeAudio]] runs
  * `javax.sound.sampled.AudioSystem` (also JVM-native) — actual sample
  * rate, channel count, frame count, duration, and RMS amplitude, with
  * a 16-segment energy-envelope feature vector
  * ([[Media.audioFeatures]]). A RIFF/WAVE payload that fails to parse
  * lands on the sentinel, same policy as images.
  * FLAC decode is REAL too (round-16 verdict task 6): [[Flac]] is the
  * engine's own pure-JVM decoder for the public FLAC bitstream —
  * lossless, so its PCM surfaces through [[decodeSamples]] in the same
  * canonical 16-bit form as WAV and every downstream consumer is
  * codec-blind (`FlacSpec` pins golden round-trips + WAV equality).
  * LOSSY audio (mp3/ogg) and VIDEO codecs aren't in this container —
  * and a lossy decoder is a DSP stack, not a bitstream parser — so
  * those kinds keep the clearly-marked deterministic fakes
  * ([[Media.decodeStub]], [[Media.featureStub]]); the
  * surrounding plumbing — binary source, schema, per-partition decoder
  * init, batch shape (`grouped(batchSize)`), failure sentinel — is
  * identical for all kinds.
  *
  * Scale posture: content bytes stay inside one `mapPartitions` stage —
  * decode output (small typed rows + fixed-width feature vectors) is what
  * flows on; binary blobs are never shuffled. Partition sizing comes from
  * the source (`binaryFile` splits by file; parquet by row group).
  */
object Media {

  final case class MediaObject(path: String, kind: String, content: Array[Byte])

  /** `channels`/`avgLuma` are real decoded pixel stats for image kind;
    * for WAV audio `channels`/`sampleRate`/`durationSec` are real
    * decoded stream facts and `avgLuma` carries the mean signal level
    * of that modality — RMS amplitude on a 0–1 scale (vs 0–255 mean
    * luminance for images). Zeros / -1.0 mark the still-stubbed
    * compressed-audio/video kinds and the failure sentinel. */
  final case class MediaMeta(path: String, kind: String, nBytes: Long,
      width: Int, height: Int, nFrames: Int, channels: Int,
      avgLuma: Double, sampleRate: Int, durationSec: Double, ok: Boolean)

  final case class MediaFeatures(path: String, kind: String,
      features: Array[Float])

  val FeatureDim = 16
  val DefaultBatchSize = 32

  /** Read a directory of opaque media files via Spark's `binaryFile`
    * source — the native analog of the reference's per-row HDFS fetch
    * (S2), but with split planning and predicate pushdown on metadata. */
  def binaryObjects(spark: SparkSession, path: String): Dataset[MediaObject] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .map { r =>
        val p = r.getString(0)
        MediaObject(p, kindOf(p), r.getAs[Array[Byte]](1))
      }
  }

  /** STREAMING twin of [[binaryObjects]]: watch a directory as a
    * `binaryFile` stream — newly-landed media files become micro-batches
    * of [[MediaObject]] rows, and the SAME typed stages
    * ([[decodeAll]]/[[extractFeatures]]) run on them unchanged (they are
    * `mapPartitions` over a Dataset; batch vs streaming is the engine's
    * concern, not theirs). This is the media-ingest production shape:
    * crawler drops files, the pipeline decodes/fingerprints them
    * incrementally with the file-source's checkpointable offsets.
    * `binaryFile` streaming requires an explicit schema — it is fixed
    * (path/modificationTime/length/content), declared here. */
  def binaryObjectStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 8): Dataset[MediaObject] = {
    import spark.implicits._
    spark.readStream
      .format("binaryFile")
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(path)
      .select(col("path"), col("content"))
      .map { r =>
        val p = r.getString(0)
        MediaObject(p, kindOf(p), r.getAs[Array[Byte]](1))
      }
  }

  /** Manifest-driven S2: fetch each manifest-addressed blob lazily INSIDE
    * the task via the Hadoop `FileSystem` API — the reference's exact
    * access pattern (`fs.copyToLocalFile` per manifest row,
    * `/root/reference/java/PredictBatchMapperCluster.java:51-60`), for
    * when the manifest is a subset of the store and a directory scan
    * ([[binaryObjects]]) would read blobs nobody asked for.
    *
    * Error policy mirrors the reference: a missing/unreadable blob fails
    * the task (`copyToLocalFile` throws uncaught). `strict = false` is
    * the at-scale upgrade — skip and count, so one lost object out of a
    * billion doesn't kill the job.
    *
    * Scale posture: fetches are per-partition sequential with the
    * `FileSystem` handle cache doing connection reuse; blobs land
    * directly in task memory and are consumed by the same stage
    * ([[decodeAll]]/[[extractFeatures]]) — never shuffled. */
  def fetchByManifest(manifest: Dataset[String], strict: Boolean = true,
      missing: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[MediaObject] = {
    val spark = manifest.sparkSession
    import spark.implicits._
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    manifest.mapPartitions { it =>
      val conf = confB.value.value
      it.flatMap { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        try {
          val fs = path.getFileSystem(conf) // per-scheme handle cache
          val len = fs.getFileStatus(path).getLen
          require(len <= Int.MaxValue, s"blob too large for one buffer: $p")
          val buf = new Array[Byte](len.toInt)
          val in = fs.open(path)
          try in.readFully(0, buf) finally in.close()
          Some(MediaObject(p, kindOf(p), buf))
        } catch {
          case _: java.io.IOException if !strict =>
            missing.foreach(_.add(1))
            None
        }
      }
    }
  }

  /** File-extension modality sniff (the real version adds magic bytes). */
  def kindOf(path: String): String = {
    val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
    ext match {
      case "jpg" | "jpeg" | "png" | "bmp" | "tiff" | "webp" => "image"
      case "wav" | "mp3" | "flac" | "ogg"                   => "audio"
      case "mp4" | "mkv" | "avi" | "webm"                   => "video"
      case _                                                => "binary"
    }
  }

  // ==================================================================
  // REAL image codec: javax.imageio (JPEG/PNG/BMP/GIF in any JVM).
  // ==================================================================

  /** Decoded image facts: pixel dims, color channel count, and the mean
    * luminance ((r+g+b)/3 averaged over all pixels, 0-255 scale) after
    * RGB conversion — the reference's `convert("RGB")` step. */
  final case class ImageMeta(width: Int, height: Int, channels: Int,
      avgLuma: Double)

  /** REAL image decode via `javax.imageio.ImageIO` — the JVM twin of the
    * reference's `Image.open(BytesIO).convert("RGB")`
    * (`/root/reference/python/predict_batch_threaded_local.py:100-108`).
    * Undecodable bytes (ImageIO returns null) or empty content throw;
    * [[decodeAll]] maps that to the sentinel row, exactly the
    * reference's per-image try/except policy. */
  /** Decode + bulk sRGB pixel fetch. One `getRGB(0,0,w,h,…)` call per
    * image — per-pixel `getRGB(x, y)` pays bounds checks, color-model
    * conversion dispatch, and a virtual call PER PIXEL (~12M calls on a
    * 12 MP photo); the bulk form converts the whole raster in one
    * native-backed pass. getRGB yields sRGB regardless of the source
    * color model (palette PNG, grayscale JPEG, CMYK…), so downstream
    * stats see converted pixels — the reference's `convert("RGB")`. */
  private def decodeRgb(content: Array[Byte]): (java.awt.image.BufferedImage, Array[Int]) = {
    if (content.isEmpty) throw new IllegalArgumentException("empty media object")
    // An explicit in-memory stream: `ImageIO.read(InputStream)` honours
    // the JVM-global `useCache` (default on) and spools every image
    // through a temp file in `java.io.tmpdir`.
    val img = javax.imageio.ImageIO.read(
      new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(content)))
    if (img == null) throw new IllegalArgumentException("undecodable image")
    (img, img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth))
  }

  def decodeImage(content: Array[Byte]): ImageMeta = {
    val (img, px) = decodeRgb(content)
    var sum = 0L
    var i = 0
    while (i < px.length) {
      val rgb = px(i)
      sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
      i += 1
    }
    ImageMeta(img.getWidth, img.getHeight, img.getColorModel.getNumComponents,
      sum.toDouble / (3.0 * px.length))
  }

  /** REAL image feature vector: a [[FeatureDim]]-bin luminance histogram
    * over the RGB-converted pixels, L1-normalized — an actual
    * (model-free) feature extractor; a learned embedding would replace
    * this function and nothing else. */
  def imageFeatures(content: Array[Byte]): Array[Float] = {
    val (_, px) = decodeRgb(content)
    val bins = new Array[Long](FeatureDim)
    var i = 0
    while (i < px.length) {
      val rgb = px(i)
      val luma = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
      bins(luma * FeatureDim / 256) += 1
      i += 1
    }
    bins.map(_ / px.length.toFloat)
  }

  // ==================================================================
  // REAL audio codec: javax.sound.sampled (WAV/PCM in any JVM).
  // ==================================================================

  /** Decoded audio facts: sample rate, channel count, frame count,
    * duration, and RMS amplitude (0–1 scale) over all samples. */
  final case class AudioMeta(sampleRate: Int, channels: Int, nFrames: Long,
      durationSec: Double, rms: Double)

  /** RIFF/WAVE magic sniff — the dispatch line between the REAL WAV
    * decoder and the stub kept for compressed formats (mp3/flac/ogg)
    * the JVM has no service provider for. A payload that CLAIMS to be
    * WAV but fails to parse is corrupt media → sentinel, not stub. */
  def isWav(content: Array[Byte]): Boolean =
    content.length >= 12 &&
      content(0) == 'R' && content(1) == 'I' && content(2) == 'F' &&
      content(3) == 'F' && content(8) == 'W' && content(9) == 'A' &&
      content(10) == 'V' && content(11) == 'E'

  /** The REAL-decode dispatch for audio payloads: RIFF/WAVE through
    * `AudioSystem`, FLAC through the engine's own pure-JVM [[Flac]]
    * decoder (round-16 verdict task 6 — the compressed-codec fence
    * narrowed to lossy formats). mp3/ogg/video stay on the fenced
    * stub: lossy DSP stacks are not in this container. */
  def isRealAudio(content: Array[Byte]): Boolean =
    isWav(content) || Flac.isFlac(content)

  /** Decode a WAV payload to normalized PCM_SIGNED 16-bit samples plus
    * its stream format. `AudioSystem` converts whatever PCM flavor the
    * file carries (8-bit unsigned, float, a/u-law, big-endian) to the
    * canonical 16-bit little-endian form, so sample math downstream is
    * uniform — the audio analog of [[decodeRgb]]'s sRGB conversion. */
  private def decodeSamples(content: Array[Byte]): (javax.sound.sampled.AudioFormat, Long, Array[Short]) = {
    if (content.isEmpty) throw new IllegalArgumentException("empty media object")
    if (Flac.isFlac(content)) {
      // Lossless FLAC through the engine's own decoder, surfaced in the
      // same canonical 16-bit interleaved form as the WAV path — every
      // downstream consumer (meta, RMS envelope, fingerprint) is
      // codec-blind.
      val a = Flac.decode(content)
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        a.sampleRate.toFloat, 16, a.channels, a.channels * 2,
        a.sampleRate.toFloat, false)
      val frames =
        a.channelData.headOption.map(_.length.toLong).getOrElse(0L)
      return (fmt, frames, Flac.toPcm16(a))
    }
    val in0 = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(content))
    val base = in0.getFormat
    val canonical = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      base.getSampleRate, 16, base.getChannels, base.getChannels * 2,
      base.getSampleRate, false)
    val in =
      if (base.matches(canonical)) in0
      else javax.sound.sampled.AudioSystem.getAudioInputStream(canonical, in0)
    val bytes = try in.readAllBytes() finally in.close()
    val samples = new Array[Short](bytes.length / 2)
    var i = 0
    while (i < samples.length) {
      samples(i) = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort
      i += 1
    }
    (base, in0.getFrameLength, samples)
  }

  /** REAL WAV decode via `javax.sound.sampled.AudioSystem` — actual
    * stream facts, not hash-derived fakes. An unparsable RIFF payload
    * throws (`UnsupportedAudioFileException`); [[decodeAll]] maps that
    * to the sentinel row, the same per-object try/except policy the
    * reference applies to images
    * (`/root/reference/python/predict_batch_threaded_local.py:100-108`). */
  def decodeAudio(content: Array[Byte]): AudioMeta = {
    val (fmt, frames, samples) = decodeSamples(content)
    var sumSq = 0.0
    var i = 0
    while (i < samples.length) {
      val v = samples(i) / 32768.0
      sumSq += v * v
      i += 1
    }
    val rms = if (samples.length == 0) 0.0 else math.sqrt(sumSq / samples.length)
    AudioMeta(fmt.getSampleRate.toInt, fmt.getChannels, frames,
      if (fmt.getSampleRate > 0) frames / fmt.getSampleRate.toDouble else 0.0,
      rms)
  }

  /** REAL audio feature vector: a [[FeatureDim]]-segment RMS energy
    * envelope over the decoded samples, L1-normalized — the model-free
    * stand-in shape for a mel-spectrogram; a learned audio embedding
    * would replace this function and nothing else (the same contract
    * as [[imageFeatures]]). */
  def audioFeatures(content: Array[Byte]): Array[Float] = {
    val (_, _, samples) = decodeSamples(content)
    val seg = new Array[Double](FeatureDim)
    val cnt = new Array[Long](FeatureDim)
    var i = 0
    while (i < samples.length) {
      val b = (i.toLong * FeatureDim / samples.length).toInt
      val v = samples(i) / 32768.0
      seg(b) += v * v
      cnt(b) += 1
      i += 1
    }
    val env = Array.tabulate(FeatureDim)(b =>
      if (cnt(b) == 0) 0.0 else math.sqrt(seg(b) / cnt(b)))
    val sum = env.sum
    if (sum == 0.0) new Array[Float](FeatureDim)
    else env.map(v => (v / sum).toFloat)
  }

  // ==================================================================
  // STUB: deterministic fakes standing in for the compressed-audio and
  // video codec calls this container can't run.
  // ==================================================================

  /** STUB for `Image.open(...).size` / probe: hash-derived dimensions.
    * Deterministic and cross-run stable; throws on empty content — the
    * "undecodable media" path, handled by the sentinel in [[decodeAll]]. */
  def decodeStub(content: Array[Byte]): (Int, Int, Int) = {
    if (content.isEmpty) throw new IllegalArgumentException("empty media object")
    val d = MessageDigest.getInstance("MD5").digest(content)
    def u32(off: Int): Long =
      ((d(off) & 0xffL) << 24) | ((d(off + 1) & 0xffL) << 16) |
        ((d(off + 2) & 0xffL) << 8) | (d(off + 3) & 0xffL)
    val width = (u32(0) % 1920L + 1L).toInt
    val height = (u32(4) % 1080L + 1L).toInt
    val frames = (u32(8) % 240L + 1L).toInt
    (width, height, frames)
  }

  /** STUB for a feature extractor (CLIP/mel-spectrogram/…): a fixed-width
    * float vector folded from the content bytes. Real replacement returns
    * the model's embedding; shape contract (fixed [[FeatureDim]]) holds. */
  def featureStub(content: Array[Byte]): Array[Float] = {
    val acc = new Array[Float](FeatureDim)
    var i = 0
    while (i < content.length) {
      acc(i % FeatureDim) += (content(i) & 0xff) / 255.0f
      i += 1
    }
    acc
  }

  /** STUB for resize: the real version re-encodes pixels; the stub keeps
    * the contract `content → content` with a deterministic marker prefix
    * so tests can assert the batch plumbing ran. */
  def resizeStub(content: Array[Byte], w: Int, h: Int): Array[Byte] =
    s"resized:${w}x$h:".getBytes("UTF-8") ++ content

  /** Frame sampling for video-kind objects: every k-th slice of the byte
    * stream stands in for every k-th decoded frame. */
  def frameSample(content: Array[Byte], every: Int): Seq[Array[Byte]] = {
    require(every > 0)
    content.grouped(math.max(1, content.length / math.max(1, every)))
      .take(every).toSeq
  }

  // ==================================================================
  // Real Spark plumbing (tested; codec-independent).
  // ==================================================================

  /** Batched metadata decode: per-partition decoder init, `grouped`
    * batches (the production shape for a vectorized codec), per-item
    * failure → `ok=false` sentinel row with zeroed dimensions — the
    * reference's M3 error policy generalized.
    *
    * Image kind runs the REAL [[decodeImage]]; WAV-magic audio kind the
    * REAL [[decodeAudio]]; compressed-audio/video/binary kinds fall to
    * the deterministic [[decodeStub]] (no codecs in this container). A
    * corrupt object — bytes that sniff as image/WAV but don't decode —
    * yields the sentinel, the reference's per-image try/except
    * (`predict_batch_threaded_local.py:100-108`). */
  def decodeAll(objects: Dataset[MediaObject],
      batchSize: Int = DefaultBatchSize): Dataset[MediaMeta] = {
    import objects.sparkSession.implicits._
    objects.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { m =>
          try {
            if (m.kind == "image") {
              val im = decodeImage(m.content)
              MediaMeta(m.path, m.kind, m.content.length.toLong,
                im.width, im.height, 1, im.channels, im.avgLuma,
                0, 0.0, ok = true)
            } else if (m.kind == "audio" && isRealAudio(m.content)) {
              val au = decodeAudio(m.content)
              val frames = math.min(au.nFrames, Int.MaxValue.toLong).toInt
              MediaMeta(m.path, m.kind, m.content.length.toLong, 0, 0,
                frames, au.channels, au.rms, au.sampleRate,
                au.durationSec, ok = true)
            } else {
              val (w, h, f) = decodeStub(m.content)
              val frames = if (m.kind == "video") f else 1
              MediaMeta(m.path, m.kind, m.content.length.toLong, w, h,
                frames, 0, -1.0, 0, 0.0, ok = true)
            }
          } catch {
            case _: Exception =>
              MediaMeta(m.path, m.kind, m.content.length.toLong, 0, 0, 0,
                0, -1.0, 0, 0.0, ok = false)
          }
        }
      }
    }
  }

  /** Floors for [[mediaDecisions]] — the multimodal analog of the text
    * gate's `QualityMinTokens`: thumbnails/tracking pixels and sub-100ms
    * audio blips carry no trainable signal. */
  val MinImageDim = 2
  val MinAudioSec = 0.01

  /** MEDIA ADMISSION GATE — per-object ADMIT/REJECT decisions with
    * first-failing-gate attribution, the multimodal twin of
    * [[graft.operators.TextAnalysis.qualityDecisions]]: `corrupt`
    * (decode failed — the sentinel row), `too_small` (image under
    * [[MinImageDim]] px a side), `too_short` (audio under
    * [[MinAudioSec]] s). Stateless per-row expressions over the decoded
    * metadata, so the SAME gate runs unchanged on a batch scan or on
    * [[binaryObjectStream]] micro-batches (stream/batch parity by
    * construction — `MediaSpec` pins it end-to-end through the file
    * stream), and at 100 TB it is a scan-position filter: decisions
    * derive from [[decodeAll]]'s narrow metadata rows, the blobs
    * themselves are already out of the plan. */
  def mediaDecisions(metas: Dataset[MediaMeta]): org.apache.spark.sql.DataFrame =
    metas.toDF()
      .withColumn("reason",
        when(!col("ok"), lit("corrupt"))
          .when(col("kind") === "image" &&
            (col("width") < MinImageDim || col("height") < MinImageDim),
            lit("too_small"))
          // sampleRate > 0 ⇔ a REAL decode produced the duration; the
          // fenced stub path (compressed audio, no JVM codec) reports 0
          // and must not be rejected on a duration it never measured.
          .when(col("kind") === "audio" && col("sampleRate") > 0 &&
            col("durationSec") < MinAudioSec, lit("too_short"))
          .otherwise(lit("admit")))
      .withColumn("admit", col("reason") === "admit")
      .select(col("path"), col("kind"), col("admit"), col("reason"))

  /** Batched feature extraction — same stage shape as [[decodeAll]];
    * output is the fixed-width vector column similarity search consumes
    * ([[graft.operators.Similarity]]). Image kind gets the REAL
    * luminance histogram ([[imageFeatures]]); WAV-magic audio the REAL
    * energy envelope ([[audioFeatures]]); other kinds the byte-fold
    * stub. Undecodable objects are dropped (count them upstream via
    * [[decodeAll]]'s sentinel if the loss rate matters). */
  def extractFeatures(objects: Dataset[MediaObject],
      batchSize: Int = DefaultBatchSize): Dataset[MediaFeatures] = {
    import objects.sparkSession.implicits._
    objects.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.flatMap { m =>
          try {
            val f =
              if (m.kind == "image") imageFeatures(m.content)
              else if (m.kind == "audio" && isRealAudio(m.content))
                audioFeatures(m.content)
              else featureStub(m.content)
            Some(MediaFeatures(m.path, m.kind, f))
          } catch { case _: Exception => None }
        }
      }
    }
  }

  // ==================================================================
  // REAL perceptual hash (pHash, DCT-based) — image near-duplicates.
  // ==================================================================

  /** pHash grid size and the retained low-frequency block. */
  val PhashGrid = 32
  val PhashBlock = 8
  /** Bands for the hash-banded candidate join: b bands of 64/b bits
    * catch EVERY pair within Hamming distance b−1 (pigeonhole — at
    * most b−1 differing bits cannot dirty all b bands), the same
    * guarantee structure as MinHash banding but deterministic. */
  val PhashBands = 8
  val PhashMaxHamming = PhashBands - 1

  /** DCT perceptual hash: decode → luma → exact box-average downsample
    * to [[PhashGrid]]² (pure integer accumulation — no Graphics2D
    * scaler, so the hash is bit-reproducible across JVMs) → 2D DCT-II
    * → the top-left [[PhashBlock]]² low-frequency block, DC excluded,
    * thresholded at its median → 64-bit hash. Robust to re-encoding
    * and resizing (the hash reads the image's coarse structure, which
    * survives both), which is exactly the near-dup class byte
    * fingerprints (q45) and pixel histograms ([[imageFeatures]])
    * structurally miss. */
  def phash(content: Array[Byte]): Long = {
    val (img, px) = decodeRgb(content)
    val (w, h) = (img.getWidth, img.getHeight)
    val g = PhashGrid
    // Exact box-average: each source pixel lands in one grid cell.
    val sums = new Array[Long](g * g)
    val cnts = new Array[Long](g * g)
    var i = 0
    while (i < px.length) {
      val x = i % w; val y = i / w
      val cell = (y * g / h) * g + (x * g / w)
      val rgb = px(i)
      sums(cell) += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
        (rgb & 0xff)) / 3
      cnts(cell) += 1
      i += 1
    }
    val luma = Array.tabulate(g * g)(c =>
      if (cnts(c) == 0) 0.0 else sums(c).toDouble / cnts(c))
    // 2D DCT-II, computed only for the low-frequency block we keep.
    val cos = Array.tabulate(g, g)((k, n) =>
      math.cos((2 * n + 1) * k * math.Pi / (2.0 * g)))
    val b = PhashBlock
    val coefs = new Array[Double](b * b)
    var u = 0
    while (u < b) {
      var v = 0
      while (v < b) {
        var s = 0.0
        var y = 0
        while (y < g) {
          var x = 0
          while (x < g) {
            s += luma(y * g + x) * cos(u)(y) * cos(v)(x)
            x += 1
          }
          y += 1
        }
        coefs(u * b + v) = s
        v += 1
      }
      u += 1
    }
    // Median threshold over the 63 AC coefficients (DC excluded: it is
    // overall brightness, which re-encoding shifts freely).
    val ac = coefs.drop(1)
    val sorted = ac.sorted
    val median = sorted(ac.length / 2)
    var hash = 0L
    var k = 1
    while (k < b * b) {
      if (coefs(k) > median) hash |= 1L << (k - 1)
      k += 1
    }
    hash
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Banded 64-bit-fingerprint pair scan, shared by the image and
    * audio near-dup paths: [[PhashBands]]-band bucket join (q35's
    * banding shape; the pigeonhole guarantee makes it EXACT for
    * Hamming ≤ [[PhashMaxHamming]], not probabilistic), then the exact
    * Hamming verify. `hashes` is a (path, ph) frame — only 8-byte
    * fingerprints ever shuffle. Returns (path_a, path_b, hamming),
    * path_a < path_b. */
  def bandedHashPairs(hashes: DataFrame,
      maxHamming: Int = PhashMaxHamming): DataFrame = {
    require(maxHamming <= PhashMaxHamming,
      s"banding with $PhashBands bands only guarantees Hamming <= $PhashMaxHamming")
    val bandBits = 64 / PhashBands
    val banded = hashes.select(col("path"), col("ph"),
      explode(array((0 until PhashBands).map(bnd =>
        struct(lit(bnd).as("band"),
          shiftrightunsigned(col("ph"), bnd * bandBits)
            .bitwiseAND(lit((1L << bandBits) - 1)).as("key"))): _*))
        .as("bk"))
      .select(col("path"), col("ph"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val a = banded.toDF("path_a", "ph_a", "band", "key")
    val bnd = banded.toDF("path_b", "ph_b", "band", "key")
    a.join(bnd, Seq("band", "key"))
      .filter(col("path_a") < col("path_b"))
      .select(col("path_a"), col("path_b"), col("ph_a"), col("ph_b"))
      .distinct()
      .withColumn("hamming",
        call_function("bit_count",
          col("ph_a").bitwiseXOR(col("ph_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("path_a"), col("path_b"), col("hamming"))
  }

  /** The image fingerprint STAGE alone: (path, ph) from per-partition
    * pHash — decode cost rides the scan, blobs never shuffle, and
    * undecodable objects drop silently (the X2 policy). Separated from
    * [[imageNearDupPairs]] so the scale harness can time decode and
    * the 8-byte pair scan independently. */
  def imageHashes(objects: Dataset[MediaObject]): DataFrame = {
    import objects.sparkSession.implicits._
    objects.mapPartitions(_.flatMap { m =>
      try Some((m.path, phash(m.content)))
      catch { case _: Exception => None }
    }).toDF("path", "ph")
  }

  /** Distributed image near-dup pairs over a `(path, content)` frame:
    * per-partition pHash (decode cost rides the scan, blobs never
    * shuffle) into the shared [[bandedHashPairs]] scan. */
  def imageNearDupPairs(objects: Dataset[MediaObject],
      maxHamming: Int = PhashMaxHamming): DataFrame =
    bandedHashPairs(imageHashes(objects), maxHamming)

  /** Audio perceptual fingerprint: decoded PCM → 65-segment RMS energy
    * envelope → 64 bits of CONSECUTIVE-SEGMENT COMPARISONS
    * (bit i = rms[i+1] > rms[i]) — the sign-of-delta recipe the audio
    * fingerprinting literature uses per band (Haitsma–Kalker 2002),
    * collapsed to the time axis here (no FFT dependency in this
    * container). Comparisons are invariant to GAIN by construction
    * (scaling every sample scales every segment RMS identically) and
    * read the clip's coarse energy structure, which byte fingerprints
    * and exact sample hashes both miss across re-masterings. */
  def audioFingerprint(content: Array[Byte]): Long = {
    val (_, _, samples) = decodeSamples(content)
    val segs = 65
    val e = new Array[Double](segs)
    val c = new Array[Long](segs)
    var i = 0
    while (i < samples.length) {
      val b = (i.toLong * segs / samples.length).toInt
      val v = samples(i).toDouble
      e(b) += v * v
      c(b) += 1
      i += 1
    }
    val rms = Array.tabulate(segs)(b =>
      if (c(b) == 0) 0.0 else math.sqrt(e(b) / c(b)))
    var hash = 0L
    var k = 0
    while (k < 64) {
      if (rms(k + 1) > rms(k)) hash |= 1L << k
      k += 1
    }
    hash
  }

  /** The audio fingerprint STAGE alone: (path, ph) — [[imageHashes]]'
    * shape for WAV clips. */
  def audioHashes(objects: Dataset[MediaObject]): DataFrame = {
    import objects.sparkSession.implicits._
    objects.mapPartitions(_.flatMap { m =>
      try Some((m.path, audioFingerprint(m.content)))
      catch { case _: Exception => None }
    }).toDF("path", "ph")
  }

  /** Distributed audio near-dup pairs: per-partition fingerprint into
    * the shared [[bandedHashPairs]] scan — re-mastered (re-gained)
    * copies pair at Hamming 0 without any waveform ever shuffling. */
  def audioNearDupPairs(objects: Dataset[MediaObject],
      maxHamming: Int = PhashMaxHamming): DataFrame =
    bandedHashPairs(audioHashes(objects), maxHamming)
}
