package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing — extension tier.
  *
  * Media (image/audio/video) is carried through the pipeline as an opaque
  * `binary` payload column; decode/feature extraction runs per-partition
  * over iterators, so codec init happens once per partition. Every codec
  * below is a real JDK one (ImageIO PNG, the javax.sound WAV SPI, a
  * pure-JDK AVI/RIFF container), and each decoded statistic is
  * replayable by integer SQL from the generator formulas.
  *
  * Scale posture: payloads stay distributed (never collected); decode is
  * `mapPartitions` so per-record library-init cost amortizes across a
  * partition (the same shape a Python pipeline gets from mapInPandas);
  * feature output is narrow so downstream shuffles don't carry bytes.
  */
object Multimodal {

  // ------------------------------------------------------------------
  // REAL image path: javax.imageio (ships in the JDK, zero external
  // codecs). Images are generated deterministically — pixel (x,y) of
  // doc d is a pure integer function of (d, x, y) — then PNG-encoded
  // with ImageIO. Because PNG is lossless, `ImageIO.read` must return
  // exactly the generated pixels, so a SQL oracle can replay every
  // decoded statistic arithmetically without any image library: the
  // only way Spark matches the oracle hash is if the real encode →
  // decode roundtrip is bit-exact. The video-container path uses the
  // same proof shape over uncompressed AVI/RIFF (see the section at
  // the bottom of this file).
  // ------------------------------------------------------------------

  /** PNG-encoded payload row. */
  case class ImageRow(doc_id: Long, payload: Array[Byte])

  /** Per-image decoded statistics (all oracle-replayable). */
  case class ImageStats(doc_id: Long, width: Int, height: Int,
                        sum_r: Long, sum_g: Long, sum_b: Long)

  /** Generator dims: small (8–31 × 8–23 px) so encode cost stays
    * per-row-trivial while still exercising non-square, per-doc-varying
    * shapes. */
  def genWidth(id: Long): Int = (id % 24 + 8).toInt
  def genHeight(id: Long): Int = (id % 16 + 8).toInt
  /** Deterministic channel values; mirrored verbatim in the oracle SQL. */
  @inline def pixR(id: Long, x: Int, y: Int): Int = ((id * 31 + x * 7 + y * 13) % 256).toInt
  @inline def pixG(id: Long, x: Int, y: Int): Int = ((id * 17 + x * 11 + y * 5) % 256).toInt
  @inline def pixB(id: Long, x: Int, y: Int): Int = ((id * 23 + x * 3 + y * 19) % 256).toInt

  private def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(1024)
    if (!javax.imageio.ImageIO.write(img, "png", bos))
      throw new IllegalStateException("no PNG writer available in this JRE")
    bos.toByteArray
  }

  /** Distributed PNG corpus: one real ImageIO-encoded image per doc_id.
    * Payloads are generated inside the partition (never collected). */
  def pngMediaTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // no temp-file cache per image
      it.map { id =>
        // the generator formulas (and their oracle-SQL mirrors) assume a
        // non-negative id: Scala % on a negative id yields negative
        // channel values that setRGB masks to 8 bits while the oracle
        // keeps the formula value — pin the contract loudly
        require(id >= 0, s"media generator ids must be >= 0, got $id")
        val w = genWidth(id); val h = genHeight(id)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y,
              (pixR(id, x, y) << 16) | (pixG(id, x, y) << 8) | pixB(id, x, y))
            x += 1
          }
          y += 1
        }
        ImageRow(id, encodePng(img))
      }
    }.toDF()
  }

  /** REAL decoder: `ImageIO.read` over the PNG payload, per-channel
    * pixel sums. One `setUseCache(false)` init per partition, then the
    * iterator streams. */
  def decodePng(spark: SparkSession, media: DataFrame): Dataset[ImageStats] = {
    import spark.implicits._
    media.as[ImageRow].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        if (img == null)
          throw new IllegalStateException(s"undecodable payload for doc ${r.doc_id}")
        val w = img.getWidth; val h = img.getHeight
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
            x += 1
          }
          y += 1
        }
        ImageStats(r.doc_id, w, h, sr, sg, sb)
      }
    }
  }

  /** REAL resize: decode PNG, nearest-neighbor resample to
    * (max(1,w/2), max(1,h/2)), re-encode PNG. The resample is an
    * explicit source-index loop (`src = dst * srcDim / dstDim`, integer
    * floor) rather than Graphics2D so the pixel mapping is exactly
    * reproducible by integer SQL — Java2D's filtering pipeline is not
    * contractually deterministic across JVMs. */
  def resizePngHalf(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.as[ImageRow].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        if (src == null)
          throw new IllegalStateException(s"undecodable payload for doc ${r.doc_id}")
        val w = src.getWidth; val h = src.getHeight
        val w2 = math.max(1, w / 2); val h2 = math.max(1, h / 2)
        val dst = new java.awt.image.BufferedImage(
          w2, h2, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y2 = 0
        while (y2 < h2) {
          val sy = y2 * h / h2
          var x2 = 0
          while (x2 < w2) {
            dst.setRGB(x2, y2, src.getRGB(x2 * w / w2, sy))
            x2 += 1
          }
          y2 += 1
        }
        ImageRow(r.doc_id, encodePng(dst))
      }
    }.toDF()
  }

  case class ImageSobel(doc_id: Long, width: Int, height: Int,
                        n_interior: Long, energy: Long)

  /** Sobel gradient energy over a REALLY-decoded image — the edge/
    * texture signal image-quality filters rank on (blurry or flat
    * synthetic frames score near zero): 3×3 Sobel Gx/Gy over
    * gray = r+g+b, summed as Σ(|gx|+|gy|) across interior pixels. The
    * L1 magnitude keeps everything in exact integers, so the oracle
    * replays the convolution arithmetically from the generator
    * formulas — the hash matches only if decode returned the exact
    * pixels AND the kernel arithmetic agrees. Per-row kernel,
    * embarrassingly parallel; payloads never leave the executor. */
  def sobelPng(spark: SparkSession, media: DataFrame): Dataset[ImageSobel] = {
    import spark.implicits._
    media.as[ImageRow].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        if (img == null)
          throw new IllegalStateException(s"undecodable payload for doc ${r.doc_id}")
        val w = img.getWidth; val h = img.getHeight
        val g = Array.ofDim[Int](h, w)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            g(y)(x) = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        var energy = 0L; var n = 0L
        var yy = 1
        while (yy < h - 1) {
          var xx = 1
          while (xx < w - 1) {
            val gx = (g(yy - 1)(xx + 1) + 2 * g(yy)(xx + 1) + g(yy + 1)(xx + 1)) -
              (g(yy - 1)(xx - 1) + 2 * g(yy)(xx - 1) + g(yy + 1)(xx - 1))
            val gy = (g(yy + 1)(xx - 1) + 2 * g(yy + 1)(xx) + g(yy + 1)(xx + 1)) -
              (g(yy - 1)(xx - 1) + 2 * g(yy - 1)(xx) + g(yy - 1)(xx + 1))
            energy += math.abs(gx) + math.abs(gy)
            n += 1
            xx += 1
          }
          yy += 1
        }
        ImageSobel(r.doc_id, w, h, n, energy)
      }
    }
  }

  case class ImageHash(doc_id: Long, dhash: Long)

  /** 60-bit difference hash (dHash — the standard perceptual image
    * fingerprint) over a REALLY-decoded image: NN-resample the decoded
    * pixels to an 11×6 grayscale grid with the same contractual
    * integer mapping as [[resizePngHalf]] (`src = dst * srcDim /
    * dstDim`, floor), then one bit per horizontal neighbor comparison
    * (10 × 6 = 60 bits; gray = r+g+b, monotone-equivalent to luminance
    * for comparisons and division-free). 60 bits rather than the
    * classic 64 so the hash is a positive BIGINT in every engine and
    * splits into 4 × 15-bit chunks — the same pigeonhole blocking
    * (lossless for Hamming ≤ 3) the SimHash path uses, so near-dup
    * image pairs come from a chunk equi-join, never an all-pairs
    * product. Per-row, embarrassingly parallel; payloads never leave
    * the executor. */
  def dhashPng(spark: SparkSession, media: DataFrame): Dataset[ImageHash] = {
    import spark.implicits._
    media.as[ImageRow].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        if (img == null)
          throw new IllegalStateException(s"undecodable payload for doc ${r.doc_id}")
        val w = img.getWidth; val h = img.getHeight
        require(w >= 8 && h >= 6, s"dhash needs >= 8x6 source, got ${w}x$h")
        var hash = 0L
        val g = new Array[Long](11)
        var y = 0
        while (y < 6) {
          val sy = y * h / 6
          var x = 0
          while (x < 11) {
            val rgb = img.getRGB(x * w / 11, sy)
            g(x) = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            x += 1
          }
          var i = 0
          while (i < 10) {
            hash = (hash << 1) | (if (g(i) > g(i + 1)) 1L else 0L)
            i += 1
          }
          y += 1
        }
        ImageHash(r.doc_id, hash)
      }
    }
  }

  case class Strip(doc_id: Long, strip_idx: Int, strip_sum: Long)

  /** Strip sampler over REALLY-decoded pixels: split each decoded image
    * into horizontal strips of `stripH` rows, emit every `everyK`-th
    * strip as its own row with the strip's (r+g+b) pixel sum — the 1:N
    * explode a frame-sampling video pipeline produces, but backed by an
    * actual ImageIO decode. Trailing partial strips are dropped (the
    * undecodable-tail contract). */
  def stripSample(spark: SparkSession, media: DataFrame,
                  stripH: Int = 4, everyK: Int = 2): Dataset[Strip] = {
    require(stripH > 0 && everyK > 0, "stripH and everyK must be positive")
    import spark.implicits._
    media.as[ImageRow].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { r =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        if (img == null)
          throw new IllegalStateException(s"undecodable payload for doc ${r.doc_id}")
        val w = img.getWidth
        val nStrips = img.getHeight / stripH
        (0 until nStrips by everyK).iterator.map { s =>
          var sum = 0L
          var y = s * stripH
          val end = y + stripH
          while (y < end) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              x += 1
            }
            y += 1
          }
          Strip(r.doc_id, s, sum)
        }
      }
    }
  }

  // ------------------------------------------------------------------
  // REAL audio path: javax.sound.sampled (JDK-built-in WAV codec, no
  // external libraries, works headless — file-format conversion never
  // touches a sound device). Same proof shape as the PNG path: samples
  // are a pure integer function of (doc_id, i), the WAV container is
  // lossless 16-bit PCM, so `AudioSystem.getAudioInputStream` must
  // return exactly the generated samples and a SQL oracle replays every
  // decoded statistic arithmetically.
  // ------------------------------------------------------------------

  /** Per-doc sample count (100–499) and deterministic 16-bit sample
    * values; mirrored verbatim in the oracle SQL. */
  def genSamples(id: Long): Int = (id % 400 + 100).toInt
  @inline def sampleAt(id: Long, i: Int): Int =
    (((id * 7919L + i * 2654435761L) % 65536L) - 32768L).toInt

  private val WavRate = 8000f
  private def pcmFormat = new javax.sound.sampled.AudioFormat(
    WavRate, 16, 1, true, false) // 16-bit signed mono little-endian

  /** The JDK WAV codec, loaded ONCE per partition through the public
    * `javax.sound.sampled.spi` ServiceLoader interface. Calling the
    * `AudioSystem` facade per row instead re-runs its synchronized
    * provider lookup on EVERY call — measured on this host: 0.11 ms
    * per clip with ZERO thread scaling (32 threads as slow as 1; the
    * 100× scale step caught it as a 311× super-linear ratio), vs
    * 8 µs/clip and linear scaling with the provider cached. Same
    * provider AudioSystem would select; only the lookup is hoisted.
    *
    * Selection is by CAPABILITY, not class name: the JDK registers
    * several WAVE readers (plain PCM / float / extensible) and
    * ServiceLoader order is not contractual, so each candidate is
    * probed against a real 16-bit PCM clip and the first that decodes
    * it wins — a name match could land on a reader that throws
    * UnsupportedAudioFileException on every actual payload. */
  private def wavReaderSpi(): javax.sound.sampled.spi.AudioFileReader = {
    import scala.jdk.CollectionConverters._
    val probe = {
      val pcm = Array[Byte](0, 1, 2, 3) // 2 samples, any values
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), pcmFormat, 2L)
      val bos = new java.io.ByteArrayOutputStream(128)
      wavWriterSpi().write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala.find { r =>
        try { r.getAudioInputStream(new java.io.ByteArrayInputStream(probe)).close(); true }
        catch { case _: Exception => false }
      }
      .getOrElse(throw new IllegalStateException(
        "no SPI reader decodes 16-bit PCM WAV in this JRE"))
  }
  private def wavWriterSpi(): javax.sound.sampled.spi.AudioFileWriter = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .asScala
      .find(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
      .getOrElse(throw new IllegalStateException("no WAV writer SPI in this JRE"))
  }

  /** Distributed WAV corpus: one real JDK-codec-encoded clip per
    * doc_id (payloads generated inside the partition, never
    * collected). */
  def wavMediaTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      val writer = wavWriterSpi() // codec init once per partition
      it.map { id =>
        // same non-negative-id contract as pngMediaTable (oracle mirrors
        // the % formulas, which diverge from Scala % on negative ids)
        require(id >= 0, s"media generator ids must be >= 0, got $id")
        val n = genSamples(id)
        val pcm = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val s = sampleAt(id, i)
          pcm(2 * i) = (s & 0xff).toByte        // little-endian lo
          pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), pcmFormat, n.toLong)
        val bos = new java.io.ByteArrayOutputStream(n * 2 + 64)
        writer.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        ImageRow(id, bos.toByteArray) // same (doc_id, payload) shape
      }
    }.toDF()
  }

  /** Per-clip decoded statistics (all oracle-replayable). */
  case class AudioStats(doc_id: Long, n_samples: Long, sum_amp: Long,
                        sum_abs_amp: Long, peak: Long)

  /** REAL decoder: `AudioSystem.getAudioInputStream` over the WAV
    * payload, 16-bit little-endian PCM reassembled to integer samples,
    * reduced to amplitude statistics. */
  def decodeWav(spark: SparkSession, media: DataFrame): Dataset[AudioStats] = {
    import spark.implicits._
    media.as[ImageRow].mapPartitions { it =>
      val reader = wavReaderSpi() // codec init once per partition
      it.map { r =>
        val ais = reader.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val f = ais.getFormat
        if (f.getSampleSizeInBits != 16 || f.isBigEndian || f.getChannels != 1)
          throw new IllegalStateException(
            s"unexpected decoded format $f for doc ${r.doc_id}")
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        var sum = 0L; var sumAbs = 0L; var peak = 0L
        var i = 0
        while (i < n) {
          val s = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toInt
          sum += s; val a = math.abs(s.toLong)
          sumAbs += a; if (a > peak) peak = a
          i += 1
        }
        AudioStats(r.doc_id, n.toLong, sum, sumAbs, peak)
      }
    }
  }

  case class AudioFrame(doc_id: Long, frame_idx: Int, energy: Long, zcr: Long)

  /** Frame-level audio features over the REAL decode path: each clip is
    * decoded through the cached SPI WAV codec (same as [[decodeWav]]),
    * split into fixed `frameLen`-sample frames (trailing partial frame
    * dropped, as real front-ends drop undecodable tails), and reduced to
    * the two classic integer-exact descriptors — frame ENERGY (Σ s², the
    * VAD/loudness signal) and ZERO-CROSSING RATE (adjacent sign flips,
    * the cheap voiced/unvoiced proxy). Both are pure integer arithmetic
    * on lossless 16-bit PCM, so the oracle replays every frame's
    * features from the generator formula — the hash matches only if the
    * real encode→decode roundtrip returned the exact samples.
    *
    * Scale shape: embarrassingly parallel 1:N explode (clip → frames);
    * payloads never leave their partition, nothing shuffles. */
  def wavFrameFeatures(spark: SparkSession, media: DataFrame,
                       frameLen: Int = 160): Dataset[AudioFrame] = {
    require(frameLen >= 2, s"need frameLen >= 2, got $frameLen")
    import spark.implicits._
    media.as[ImageRow].mapPartitions { it =>
      val reader = wavReaderSpi() // codec init once per partition
      it.flatMap { r =>
        val ais = reader.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val f = ais.getFormat
        if (f.getSampleSizeInBits != 16 || f.isBigEndian || f.getChannels != 1)
          throw new IllegalStateException(
            s"unexpected decoded format $f for doc ${r.doc_id}")
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        @inline def s(i: Int): Int =
          ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toInt
        (0 until n / frameLen).iterator.map { fi =>
          var energy = 0L; var zcr = 0L
          var j = fi * frameLen
          val end = j + frameLen
          var prev = s(j)
          energy += prev.toLong * prev
          j += 1
          while (j < end) {
            val cur = s(j)
            energy += cur.toLong * cur
            if (prev.toLong * cur < 0) zcr += 1
            prev = cur; j += 1
          }
          AudioFrame(r.doc_id, fi, energy, zcr)
        }
      }
    }
  }

  // ------------------------------------------------------------------
  // REAL video path: uncompressed AVI/RIFF. The JDK ships no video
  // CODEC, but it doesn't need one for this container: AVI with BI_RGB
  // DIB frames stores raw 24-bit pixels, and both the writer and the
  // reader below are pure-JDK implementations of the public RIFF/AVI
  // layout (RIFF → LIST hdrl {avih, LIST strl {strh, strf}} → LIST
  // movi {00db…}). Same proof shape as PNG/WAV: pixel (f,x,y) of doc d
  // is a pure integer function of (d,f,x,y), the container is
  // lossless, so the SQL oracle replays every sampled frame's channel
  // sums — the hash can only match if the real container parse
  // returned the exact frames.
  // ------------------------------------------------------------------

  /** Frames per video (2–7) and per-frame deterministic channel values
    * (frame index shears the image formulas); mirrored verbatim in the
    * oracle SQL. Frame dims reuse genWidth/genHeight. */
  def genFrames(id: Long): Int = (id % 6 + 2).toInt
  @inline def vidR(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 31 + f * 41 + x * 7 + y * 13) % 256).toInt
  @inline def vidG(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 17 + f * 43 + x * 11 + y * 5) % 256).toInt
  @inline def vidB(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 23 + f * 47 + x * 3 + y * 19) % 256).toInt

  /** One complete AVI file: RIFF header, hdrl (avih + one 'vids'/'DIB '
    * stream with a 24bpp BI_RGB BITMAPINFOHEADER), movi with one
    * '00db' chunk per frame. DIB frames are bottom-up BGR rows padded
    * to a 4-byte stride — the standard layout every AVI consumer
    * expects, so the payloads are real playable files, not a private
    * serialization. */
  def encodeAvi(id: Long): Array[Byte] = {
    val w = genWidth(id); val h = genHeight(id); val nf = genFrames(id)
    val stride = (w * 3 + 3) & ~3
    val frameSize = stride * h
    val strlSize = 4 + (8 + 56) + (8 + 40) // 'strl' + strh + strf
    val hdrlSize = 4 + (8 + 56) + (8 + strlSize) // 'hdrl' + avih + LIST strl
    val moviSize = 4 + nf * (8 + frameSize)
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    val buf = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fcc(s: String): Unit = buf.put(s.getBytes("US-ASCII"))
    fcc("RIFF"); buf.putInt(riffSize); fcc("AVI ")
    fcc("LIST"); buf.putInt(hdrlSize); fcc("hdrl")
    fcc("avih"); buf.putInt(56)
    buf.putInt(100000)          // dwMicroSecPerFrame (10 fps)
    buf.putInt(frameSize * 10)  // dwMaxBytesPerSec
    buf.putInt(0)               // dwPaddingGranularity
    buf.putInt(0)               // dwFlags (no index; movi is self-describing)
    buf.putInt(nf)              // dwTotalFrames
    buf.putInt(0)               // dwInitialFrames
    buf.putInt(1)               // dwStreams
    buf.putInt(frameSize)       // dwSuggestedBufferSize
    buf.putInt(w); buf.putInt(h)
    buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0) // dwReserved
    fcc("LIST"); buf.putInt(strlSize); fcc("strl")
    fcc("strh"); buf.putInt(56)
    fcc("vids"); fcc("DIB ")
    buf.putInt(0)                       // dwFlags
    buf.putShort(0); buf.putShort(0)    // wPriority, wLanguage
    buf.putInt(0)                       // dwInitialFrames
    buf.putInt(1); buf.putInt(10)       // dwScale/dwRate = 10 fps
    buf.putInt(0)                       // dwStart
    buf.putInt(nf)                      // dwLength (frames)
    buf.putInt(frameSize)               // dwSuggestedBufferSize
    buf.putInt(-1)                      // dwQuality (default)
    buf.putInt(0)                       // dwSampleSize (0 = one sample/chunk)
    buf.putShort(0); buf.putShort(0)    // rcFrame
    buf.putShort(w.toShort); buf.putShort(h.toShort)
    fcc("strf"); buf.putInt(40)         // BITMAPINFOHEADER
    buf.putInt(40); buf.putInt(w); buf.putInt(h)
    buf.putShort(1); buf.putShort(24)   // biPlanes, biBitCount
    buf.putInt(0)                       // biCompression = BI_RGB
    buf.putInt(frameSize)               // biSizeImage
    buf.putInt(0); buf.putInt(0)        // pels/meter
    buf.putInt(0); buf.putInt(0)        // clrUsed/Important
    fcc("LIST"); buf.putInt(moviSize); fcc("movi")
    var f = 0
    while (f < nf) {
      fcc("00db"); buf.putInt(frameSize)
      var y = h - 1 // DIB rows are stored bottom-up
      while (y >= 0) {
        var x = 0
        while (x < w) {
          buf.put(vidB(id, f, x, y).toByte)
          buf.put(vidG(id, f, x, y).toByte)
          buf.put(vidR(id, f, x, y).toByte)
          x += 1
        }
        var p = w * 3
        while (p < stride) { buf.put(0.toByte); p += 1 }
        y -= 1
      }
      f += 1
    }
    buf.array()
  }

  /** Distributed AVI corpus: one real container-encoded clip per
    * doc_id (payloads generated inside the partition, never
    * collected). */
  def aviMediaTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        require(id >= 0, s"media generator ids must be >= 0, got $id")
        ImageRow(id, encodeAvi(id))
      }
    }.toDF()
  }

  /** Per-sampled-frame decoded statistics (all oracle-replayable). */
  case class VideoFrame(doc_id: Long, frame_idx: Int,
                        sum_r: Long, sum_g: Long, sum_b: Long)

  /** Generic RIFF chunk walk (descends into hdrl/strl/movi LISTs, skips
    * unknown chunks by their declared size + odd-size pad byte — the
    * part that makes this a parser, not an offset table), reading the
    * stream format from strf (BITMAPINFOHEADER: dims, 24bpp, BI_RGB)
    * and collecting each '00db' frame chunk's payload offset in movi
    * order. */
  private def parseAvi(payload: Array[Byte]): (Int, Int, Seq[Int]) = {
    val bb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fcc(): String = {
      val a = new Array[Byte](4); bb.get(a); new String(a, "US-ASCII")
    }
    if (fcc() != "RIFF") throw new IllegalStateException("not a RIFF file")
    bb.getInt // riff size; bounds come from the buffer limit
    if (fcc() != "AVI ") throw new IllegalStateException("not an AVI file")
    var width = -1; var height = -1
    val frameOffsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def walk(end: Int): Unit = {
      while (bb.position() + 8 <= end) {
        val id = fcc(); val size = bb.getInt
        val next = bb.position() + size + (size & 1) // RIFF word alignment
        id match {
          case "LIST" =>
            val listType = fcc()
            if (listType == "hdrl" || listType == "strl" || listType == "movi")
              walk(bb.position() + size - 4)
          case "strf" =>
            if (size < 40) throw new IllegalStateException("short strf")
            bb.getInt // biSize
            width = bb.getInt; height = bb.getInt
            bb.getShort // biPlanes
            val bits = bb.getShort; val comp = bb.getInt
            if (bits != 24 || comp != 0)
              throw new IllegalStateException(
                s"unsupported frame format: ${bits}bpp compression $comp")
          case "00db" =>
            if (width <= 0) throw new IllegalStateException("frame before strf")
            val stride = (width * 3 + 3) & ~3
            if (size != stride * height)
              throw new IllegalStateException(
                s"frame chunk $size bytes, expected ${stride * height}")
            frameOffsets += bb.position()
          case _ => () // unknown chunk (e.g. idx1, JUNK): skip by size
        }
        bb.position(next)
      }
    }
    walk(payload.length)
    if (width <= 0 || height <= 0)
      throw new IllegalStateException("no strf stream format found")
    (width, height, frameOffsets.toSeq)
  }

  /** REAL video frame sampler: parse the AVI container, take every
    * `everyK`-th frame, decode its DIB pixels (bottom-up BGR, padded
    * stride) and reduce to per-channel sums — the 1:N explode a video
    * pipeline produces, backed by an actual container parse. */
  def sampleAviFrames(spark: SparkSession, media: DataFrame,
                      everyK: Int = 2): Dataset[VideoFrame] = {
    require(everyK > 0, "everyK must be positive")
    import spark.implicits._
    media.as[ImageRow].mapPartitions { it =>
      it.flatMap { r =>
        val (w, h, offsets) = parseAvi(r.payload)
        val stride = (w * 3 + 3) & ~3
        (0 until offsets.size by everyK).iterator.map { f =>
          val base = offsets(f)
          var sr = 0L; var sg = 0L; var sb = 0L
          var y = 0
          while (y < h) {
            var rowOff = base + (h - 1 - y) * stride // bottom-up rows
            var x = 0
            while (x < w) {
              sb += r.payload(rowOff) & 0xff
              sg += r.payload(rowOff + 1) & 0xff
              sr += r.payload(rowOff + 2) & 0xff
              rowOff += 3; x += 1
            }
            y += 1
          }
          VideoFrame(r.doc_id, f, sr, sg, sb)
        }
      }
    }
  }
}
