package graft.multimodal

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal columns for the LLM-data-pipeline surface: image/audio/video
  * travel as opaque `binary` columns with typed metadata, processed by
  * per-partition kernels (the JVM port of the `mapInPandas` batch shape:
  * one iterator of rows in, one iterator of rows out, no driver collect).
  *
  * Image decoding is REAL ([[ImageIoCodec]], `javax.imageio`), audio is
  * REAL ([[SoundCodec]], `javax.sound.sampled` WAV), and motion pictures
  * are REAL for two containers: multi-frame animated GIF ([[GifCodec]])
  * and MJPEG-in-AVI ([[AviMjpegCodec]] — hand-parsed RIFF container,
  * per-frame JPEG decode via `javax.imageio`). Inter-frame-compressed
  * video (H.264/VP9/...) has no in-JDK entropy decoder and stays behind
  * [[StubCodec]], which produces deterministic fake decodes.
  * Everything Spark-side is real and tested either way: schemas, binary
  * handling, partitioning, kernel signatures, batch shapes. Swapping
  * [[StubCodec]] for a JNI/ffmpeg-backed codec changes no plumbing.
  *
  * Scale notes: blobs stay in executors end-to-end; `repartition` by blob
  * size budget (not row count) keeps partitions within executor memory at
  * 100 TB — see [[Multimodal.repartitionBySize]].
  */
object Multimodal {

  // ImageIO's DEFAULT stream cache is disk-backed: every
  // read/createImageInputStream/createImageOutputStream over an
  // in-memory image creates (and deletes) a temp FILE in java.io.tmpdir
  // — per image, per task. Under 32 codec threads that serializes on
  // the filesystem and made identical codec queries swing 1.2 → 16 s
  // run-to-run (measured r13; GC was <0.5 s total, so allocation was
  // not the cause). Every stream this module touches is a byte array,
  // so the memory cache is strictly better; the flag is JVM-global and
  // set on first use of the object on each executor.
  javax.imageio.ImageIO.setUseCache(false)

  case class MediaMeta(kind: String, format: String, width: Int, height: Int,
      durationMs: Long, sizeBytes: Long)

  case class DecodedMedia(media_id: Long, meta: MediaMeta, features: Array[Float])

  case class Frame(media_id: Long, frame_idx: Int, frame: Array[Byte])

  case class FrameFeature(media_id: Long, frame_idx: Int,
      frame_w: Int, frame_h: Int, frame_phash: Long)

  /** ======= STUB: deterministic fake codec (no media libs available) =====
    * Every value is a pure function of the bytes, so tests are exact and
    * the pipeline is reproducible. A real deployment implements this trait
    * with actual decoders; the operators below are codec-agnostic.
    */
  trait Codec extends Serializable {
    def sniffFormat(bytes: Array[Byte]): String
    def decodeMeta(kind: String, bytes: Array[Byte]): MediaMeta
    def extractFeatures(bytes: Array[Byte], dim: Int): Array[Float]
    def sampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]]
    /** 64-bit perceptual fingerprint (near-dup key; see
      * [[phashCandidates]]). Stub = md5 head of the raw bytes; a real
      * codec hashes decoded CONTENT so re-encodes/minor edits stay close
      * in Hamming distance. */
    def phash64(bytes: Array[Byte]): Long

    /** Per-sampled-frame features WITHOUT re-encoding the frame:
      * (frame_idx, width, height, phash64 of the decoded raster). The
      * default derives them from [[sampleFrames]] output (each frame a
      * standalone container); multi-frame codecs override to read each
      * raster once — the r7 bench's single biggest line was
      * [[sampleFrames]]'s per-frame PNG re-encode, which this path
      * skips entirely (PNG frame extraction stays available via
      * [[sampleFrames]] when the frame BYTES are the product).
      */
    def sampleFrameFeatures(bytes: Array[Byte], n: Int): Seq[(Int, Int, Int, Long)] =
      sampleFrames(bytes, n).zipWithIndex.map { case (f, i) =>
        val m = decodeMeta("image", f)
        (i, m.width, m.height, phash64(f))
      }
  }

  object StubCodec extends Codec {
    private def h(bytes: Array[Byte], salt: Int): Long = {
      var acc = 1125899906842597L + salt
      var i = 0
      while (i < bytes.length) { acc = 31 * acc + bytes(i); i += 1 }
      acc & 0x7fffffffffffffffL
    }
    def sniffFormat(bytes: Array[Byte]): String =
      Seq("png", "jpeg", "wav", "mp4")((h(bytes, 0) % 4).toInt)
    def decodeMeta(kind: String, bytes: Array[Byte]): MediaMeta =
      MediaMeta(kind, sniffFormat(bytes),
        width = 160 + (h(bytes, 1) % 8).toInt * 160,
        height = 90 + (h(bytes, 2) % 8).toInt * 90,
        durationMs = if (kind == "image") 0L else 1000L + h(bytes, 3) % 600000L,
        sizeBytes = bytes.length.toLong)
    def extractFeatures(bytes: Array[Byte], dim: Int): Array[Float] =
      Array.tabulate(dim)(i => ((h(bytes, 100 + i) % 2000L) - 1000L) / 1000.0f)
    def sampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] = {
      val step = math.max(1, bytes.length / math.max(n, 1))
      (0 until math.min(n, bytes.length)).map { i =>
        bytes.slice(i * step, math.min(i * step + step, bytes.length))
      }
    }
    def phash64(bytes: Array[Byte]): Long = {
      // md5 head (first 8 bytes big-endian) — bit-identical to the SQL
      // projection in [[phashCandidates]], so stub and expression paths
      // produce the same fingerprints.
      val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
  }
  // ======= end stub ======================================================

  /** Real image codec over the JDK's built-in `javax.imageio` readers
    * (PNG/JPEG/GIF/BMP ship with every JRE — no external libs). The
    * audio/video kinds still need [[StubCodec]] in this environment, but
    * the image half of the multimodal surface decodes REAL pixel data:
    * metadata from the actual bitstream, features and the perceptual
    * hash from the decoded raster.
    *
    * All pixel reductions use explicit integer area-averaging (each
    * source pixel assigned to one grid cell, integer luminance sums) —
    * no Graphics2D rescaling — so results are bit-identical across JVMs
    * and re-runs, matching the engine's determinism contract.
    */
  object ImageIoCodec extends Codec {
    private def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, "bytes are not a decodable image")
      img
    }

    def sniffFormat(bytes: Array[Byte]): String = {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (readers.hasNext) readers.next().getFormatName.toLowerCase else "bin"
      } finally iis.close()
    }

    def decodeMeta(kind: String, bytes: Array[Byte]): MediaMeta = {
      val img = readImage(bytes)
      MediaMeta(kind, sniffFormat(bytes), img.getWidth, img.getHeight,
        durationMs = 0L, sizeBytes = bytes.length.toLong)
    }

    /** g×g area-average luminance grid (row-major, 0-255 per cell). */
    private[multimodal] def lumaGrid(img: java.awt.image.BufferedImage, g: Int): Array[Double] = {
      val w = img.getWidth; val h = img.getHeight
      val sums = new Array[Long](g * g)
      val cnts = new Array[Long](g * g)
      var y = 0
      while (y < h) {
        val gy = math.min(g - 1, (y.toLong * g / h).toInt)
        var x = 0
        while (x < w) {
          val gx = math.min(g - 1, (x.toLong * g / w).toInt)
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          sums(gy * g + gx) += lum
          cnts(gy * g + gx) += 1
          x += 1
        }
        y += 1
      }
      Array.tabulate(g * g)(i =>
        if (cnts(i) == 0) 0.0 else sums(i).toDouble / cnts(i))
    }

    def extractFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
      val g = math.max(1, math.ceil(math.sqrt(dim.toDouble)).toInt)
      val grid = lumaGrid(readImage(bytes), g)
      Array.tabulate(dim)(i => (grid(i % grid.length) / 127.5 - 1.0).toFloat)
    }

    /** A still image is its own single frame. */
    def sampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] =
      if (n <= 0) Nil else Seq(bytes)

    /** Average hash (aHash): 8×8 luminance grid, bit i set iff cell i ≥
      * grid mean — the classic 64-bit perceptual hash; identical CONTENT
      * (even re-encoded) collides, small edits move few bits.
      */
    def phash64(bytes: Array[Byte]): Long = {
      val grid = lumaGrid(readImage(bytes), 8)
      val mean = grid.sum / grid.length
      var acc = 0L
      var i = 0
      while (i < 64) {
        if (grid(i) >= mean) acc |= 1L << (63 - i)
        i += 1
      }
      acc
    }
  }

  /** Real MOTION codec over the JDK's built-in multi-frame GIF support
    * (`javax.imageio` reads and writes animated GIF — still no external
    * libs): true frame-by-frame decode of a moving-picture container.
    * Compressed video (H.264 etc.) has no in-JDK decoder and would stay
    * behind [[StubCodec]] in this environment, but every video OPERATOR
    * (frame sampling, per-frame features, perceptual hashing, metadata)
    * runs here against genuinely decoded frames.
    *
    * Frame durations come from real GraphicControlExtension metadata
    * ([[frameDelaysCs]]); a delay of 0 or an absent GCE renders at the
    * nominal 10 cs = 100 ms (the standard browser/viewer convention,
    * and what the metadata-less fixtures get).
    */
  object GifCodec extends Codec {
    private def reader(bytes: Array[Byte]) = {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val rs = javax.imageio.ImageIO.getImageReaders(iis)
      require(rs.hasNext, "bytes are not a decodable image container")
      val r = rs.next()
      r.setInput(iis)
      r
    }

    def sniffFormat(bytes: Array[Byte]): String = {
      val r = reader(bytes)
      try r.getFormatName.toLowerCase finally r.dispose()
    }

    /** Per-frame GraphicControlExtension `delayTime` in centiseconds,
      * with 0/absent normalized to the nominal 10 cs. */
    def frameDelaysCs(bytes: Array[Byte]): Seq[Int] = {
      val r = reader(bytes)
      try (0 until r.getNumImages(true)).map(i => delayCs(r, i))
      finally r.dispose()
    }

    private def delayCs(r: javax.imageio.ImageReader, idx: Int): Int = {
      val d = try {
        val md = r.getImageMetadata(idx)
        val tree = md.getAsTree("javax_imageio_gif_image_1.0")
          .asInstanceOf[org.w3c.dom.Element]
        val gces = tree.getElementsByTagName("GraphicControlExtension")
        if (gces.getLength == 0) 0
        else gces.item(0).asInstanceOf[org.w3c.dom.Element]
          .getAttribute("delayTime").toInt
      } catch { case NonFatal(_) => 0 }
      if (d <= 0) 10 else d
    }

    def decodeMeta(kind: String, bytes: Array[Byte]): MediaMeta = {
      val r = reader(bytes)
      try {
        val n = r.getNumImages(true)
        val dur = (0 until n).map(i => delayCs(r, i).toLong * 10L).sum
        MediaMeta(kind, r.getFormatName.toLowerCase,
          r.getWidth(0), r.getHeight(0),
          durationMs = dur, sizeBytes = bytes.length.toLong)
      } finally r.dispose()
    }

    /** Luminance-grid features of the FIRST decoded frame (the standard
      * thumbnail-features convention). */
    def extractFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
      val r = reader(bytes)
      val img = try r.read(0) finally r.dispose()
      val g = math.max(1, math.ceil(math.sqrt(dim.toDouble)).toInt)
      val grid = ImageIoCodec.lumaGrid(img, g)
      Array.tabulate(dim)(i => (grid(i % grid.length) / 127.5 - 1.0).toFloat)
    }

    /** Up to `n` frames evenly strided across the container, each decoded
      * and re-encoded as standalone PNG — real frame extraction. Use
      * [[sampleFrameFeatures]] when only per-frame features are needed:
      * the PNG re-encode is the expensive half of this kernel. */
    def sampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] = {
      val r = reader(bytes)
      try {
        val total = r.getNumImages(true)
        if (n <= 0 || total == 0) Nil
        else {
          val k = math.min(n, total)
          (0 until k).map { i =>
            val idx = (i.toLong * total / k).toInt
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(r.read(idx), "png", bos)
            bos.toByteArray
          }
        }
      } finally r.dispose()
    }

    /** Per-frame (idx, width, height, aHash) read straight off each
      * decoded raster — one decode per sampled frame, no re-encode. */
    override def sampleFrameFeatures(bytes: Array[Byte], n: Int): Seq[(Int, Int, Int, Long)] = {
      val r = reader(bytes)
      try {
        val total = r.getNumImages(true)
        if (n <= 0 || total == 0) Nil
        else {
          val k = math.min(n, total)
          (0 until k).map { i =>
            val idx = (i.toLong * total / k).toInt
            val img = r.read(idx)
            val grid = ImageIoCodec.lumaGrid(img, 8)
            val mean = grid.sum / grid.length
            var acc = 0L
            var j = 0
            while (j < 64) {
              if (grid(j) >= mean) acc |= 1L << (63 - j)
              j += 1
            }
            (i, img.getWidth, img.getHeight, acc)
          }
        }
      } finally r.dispose()
    }

    /** aHash of the first decoded frame. */
    def phash64(bytes: Array[Byte]): Long = {
      val r = reader(bytes)
      val img = try r.read(0) finally r.dispose()
      val grid = ImageIoCodec.lumaGrid(img, 8)
      val mean = grid.sum / grid.length
      var acc = 0L
      var i = 0
      while (i < 64) {
        if (grid(i) >= mean) acc |= 1L << (63 - i)
        i += 1
      }
      acc
    }
  }

  /** Deterministic fixture animated GIF: `fixtureVideoFrames(id)` frames
    * of the [[fixturePng]] pattern family (pattern key shifted per
    * frame), written as one multi-frame GIF by the JDK writer — the
    * motion analog of [[fixturePng]]/[[fixtureWav]].
    */
  def fixtureVideoFrames(id: Long, patternMod: Long = 50L): Int =
    2 + ((id % patternMod) % 4).toInt
  def fixtureGif(id: Long, patternMod: Long = 50L): Array[Byte] = {
    val p = id % patternMod
    val w = fixtureWidth(id, patternMod)
    val h = fixtureHeight(id, patternMod)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    (0 until fixtureVideoFrames(id, patternMod)).foreach { f =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = (((p + f) * 7 + x * 31 + y * 17) % 256).toInt
          img.setRGB(x, y, (v << 16) | (((v * 3) % 256) << 8) | ((v * 5) % 256))
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(
        new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  /** Deterministic fixture MJPEG AVI: the same pattern family as
    * [[fixtureGif]] (one raster per frame, pattern key shifted per
    * frame), each frame JPEG-encoded by the JDK writer and wrapped in a
    * hand-assembled RIFF/AVI container ([[AviMjpeg.write]]) at 25 fps —
    * the compressed-video analog of [[fixtureGif]]. JPEG is lossy, so
    * oracles check container metadata and decoded DIMENSIONS (exact),
    * not pixel values; raster fidelity is spec-covered via aHash
    * proximity in AviCodecSpec.
    */
  val fixtureAviUsPerFrame: Long = 40000L // 25 fps
  def fixtureAvi(id: Long, patternMod: Long = 50L): Array[Byte] = {
    val p = id % patternMod
    val w = fixtureWidth(id, patternMod)
    val h = fixtureHeight(id, patternMod)
    val jpegs = (0 until fixtureVideoFrames(id, patternMod)).map { f =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = (((p + f) * 7 + x * 31 + y * 17) % 256).toInt
          img.setRGB(x, y, (v << 16) | (((v * 3) % 256) << 8) | ((v * 5) % 256))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    AviMjpeg.write(jpegs, w, h, fixtureAviUsPerFrame)
  }

  /** Deterministic fixture MP4: the [[fixtureGif]]/[[fixtureAvi]] dims
    * and frame-count formulas packed as an ISO-BMFF container
    * ([[Mp4.write]]) whose SAMPLES are opaque deterministic bytes (no
    * in-JDK H.264 encoder — the one documented stub), while the
    * container metadata around them — brand, codec id rotating through
    * the stub family avc1/hev1/vp09, tkhd/stsd dims, mvhd duration,
    * stts timing, stsz sizes — is real and byte-exact, so oracles check
    * everything [[Mp4.parseMeta]] extracts without any frame decode.
    */
  val fixtureMp4MsPerSample: Long = 40L // 25 fps, matching the AVI fixture
  def fixtureMp4(id: Long, patternMod: Long = 50L): Array[Byte] = {
    val pk = (id % patternMod).toInt
    val codec = Seq("avc1", "hev1", "vp09")(pk % 3)
    val samples = (0 until fixtureVideoFrames(id, patternMod)).map { i =>
      val sz = 100 + ((pk * 31 + i * 17) % 50)
      Array.tabulate(sz)(j => ((pk + i * 7 + j) % 256).toByte)
    }
    Mp4.write(samples, fixtureWidth(id, patternMod),
      fixtureHeight(id, patternMod), codec, fixtureMp4MsPerSample)
  }

  /** REAL video transcode kernel: multi-frame GIF container → MJPEG AVI.
    * Every frame is genuinely decoded from the GIF bitstream, JPEG
    * re-encoded (JDK writer), and packed into a hand-assembled RIFF/AVI
    * container ([[AviMjpeg.write]]) at fixed `usPerFrame` timing — the
    * decode→re-encode→remux shape of a production transcoding stage,
    * runnable per-partition with blobs never leaving the executors.
    */
  def transcodeGifToAvi(media: DataFrame,
      usPerFrame: Long = fixtureAviUsPerFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, gif) =>
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(gif))
        val rs = javax.imageio.ImageIO.getImageReaders(iis)
        require(rs.hasNext, "bytes are not a decodable image container")
        val r = rs.next()
        r.setInput(iis)
        try {
          val n = r.getNumImages(true)
          val (w, h) = (r.getWidth(0), r.getHeight(0))
          val jpegs = (0 until n).map { i =>
            // the JDK JPEG writer declines alpha-bearing rasters (common
            // for transparent GIFs) — render onto opaque RGB first, and
            // fail loudly if the encoder still refuses (a silent false
            // would drop the frame as a zero-byte chunk)
            val src = r.read(i)
            val img =
              if (src.getType == java.awt.image.BufferedImage.TYPE_INT_RGB) src
              else {
                val rgb = new java.awt.image.BufferedImage(
                  src.getWidth, src.getHeight,
                  java.awt.image.BufferedImage.TYPE_INT_RGB)
                val g = rgb.createGraphics()
                try g.drawImage(src, 0, 0, java.awt.Color.BLACK, null)
                finally g.dispose()
                rgb
              }
            val bos = new java.io.ByteArrayOutputStream()
            require(javax.imageio.ImageIO.write(img, "jpg", bos),
              s"JPEG encoder refused frame $i")
            bos.toByteArray
          }
          (id, AviMjpeg.write(jpegs, w, h, usPerFrame))
        } finally { r.dispose(); iis.close() }
      })
      .toDF("media_id", "bytes")
  }

  /** Real audio codec over the JDK's built-in `javax.sound.sampled` WAV
    * reader (in-JRE like `javax.imageio` — no external libs): the audio
    * half of the multimodal surface decodes REAL PCM data.
    *
    * [[MediaMeta]] field mapping for audio (it has no raster): `width`
    * carries the sample rate in Hz and `height` the channel count, so the
    * codec-agnostic kernels keep one schema; [[decodeAudio]] emits the
    * properly-named audio fields for the oracle-checked query.
    *
    * All sample reductions are explicit integer/array loops over the
    * decoded 16-bit PCM — deterministic across JVMs and re-runs.
    */
  object SoundCodec extends Codec {
    import javax.sound.sampled.AudioSystem

    private def stream(bytes: Array[Byte]) =
      AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))

    def sniffFormat(bytes: Array[Byte]): String = {
      val ff = AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(bytes))
      ff.getType.getExtension.toLowerCase
    }

    /** Fully READS and decodes the PCM stream to [-1, 1) doubles,
      * channel-interleaved — metadata derives from decoded bytes, not
      * just the header. */
    private def pcm(bytes: Array[Byte]): (javax.sound.sampled.AudioFormat, Array[Double]) = {
      val in = stream(bytes)
      try {
        val fmt = in.getFormat
        require(fmt.getSampleSizeInBits == 16,
          s"SoundCodec expects 16-bit PCM, got ${fmt.getSampleSizeInBits}")
        val raw = in.readAllBytes()
        val n = raw.length / 2
        val out = new Array[Double](n)
        var i = 0
        while (i < n) {
          val (b0, b1) = (raw(2 * i) & 0xff, raw(2 * i + 1) & 0xff)
          val v = if (fmt.isBigEndian) (b0 << 8) | b1 else (b1 << 8) | b0
          out(i) = v.toShort / 32768.0
          i += 1
        }
        (fmt, out)
      } finally in.close()
    }

    def decodeMeta(kind: String, bytes: Array[Byte]): MediaMeta = {
      val (fmt, samples) = pcm(bytes)
      val frames = samples.length / fmt.getChannels
      MediaMeta(kind, sniffFormat(bytes),
        width = fmt.getSampleRate.toInt, height = fmt.getChannels,
        durationMs = frames.toLong * 1000L / fmt.getSampleRate.toInt,
        sizeBytes = bytes.length.toLong)
    }

    /** `dim` equal windows over the interleaved samples, mean |amplitude|
      * per window — the envelope feature vector. */
    def extractFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
      val (_, s) = pcm(bytes)
      Array.tabulate(dim) { w =>
        val from = (w.toLong * s.length / dim).toInt
        val until = ((w + 1).toLong * s.length / dim).toInt
        if (until <= from) 0f
        else {
          var acc = 0.0
          var i = from
          while (i < until) { acc += math.abs(s(i)); i += 1 }
          (acc / (until - from)).toFloat
        }
      }
    }

    /** Up to `n` equal chunks of the DECODED raw PCM byte stream (header
      * stripped) — same slicing semantics as [[StubCodec]]. */
    def sampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] = {
      val in = stream(bytes)
      val raw = try in.readAllBytes() finally in.close()
      if (n <= 0 || raw.isEmpty) Nil
      else {
        val step = math.max(1, raw.length / math.max(n, 1))
        (0 until math.min(n, raw.length)).map { i =>
          raw.slice(i * step, math.min(i * step + step, raw.length))
        }
      }
    }

    /** Windowed audio features off the decoded 16-bit PCM, in EXACT
      * integer arithmetic so an oracle replays them bit-for-bit: per
      * `window`-frame hop, (win_idx, frames_in_win, Σ sample², channel-0
      * zero crossings). Σ sample² is the energy (RMS = √(ssq/(n·ch))/2¹⁵
      * derives from it); zero crossings are the classic cheap
      * pitch/voicing proxy. Integer sums, not float means — the one
      * representation two engines can agree on byte-for-byte.
      */
    def windowFeatures(bytes: Array[Byte], window: Int): Seq[(Int, Int, Long, Int)] = {
      require(window >= 2, s"window must be >= 2, got $window")
      val in = stream(bytes)
      try {
        val fmt = in.getFormat
        require(fmt.getSampleSizeInBits == 16,
          s"SoundCodec expects 16-bit PCM, got ${fmt.getSampleSizeInBits}")
        val raw = in.readAllBytes()
        val ch = fmt.getChannels
        val frames = raw.length / 2 / ch
        def s(i: Int): Int = {
          val b0 = raw(2 * i) & 0xff
          val b1 = raw(2 * i + 1) & 0xff
          (if (fmt.isBigEndian) (b0 << 8) | b1 else (b1 << 8) | b0).toShort.toInt
        }
        val nw = (frames + window - 1) / window
        (0 until nw).map { w =>
          val start = w * window
          val end = math.min(start + window, frames)
          var ssq = 0L
          var zc = 0
          var f = start
          while (f < end) {
            var c = 0
            while (c < ch) {
              val v = s(f * ch + c)
              ssq += v.toLong * v
              c += 1
            }
            // crossing between consecutive channel-0 frames, within-window
            if (f > start && ((s((f - 1) * ch) < 0) != (s(f * ch) < 0))) zc += 1
            f += 1
          }
          (w, end - start, ssq, zc)
        }
      } finally in.close()
    }

    /** Integer-exact spectral bins per window over channel-0 PCM: the
      * three DFT bins whose basis functions are integer-valued — DC
      * (k=0, basis 1,1,1,1…), quarter band (k=N/4, cos basis 1,0,−1,0…/
      * sin basis 0,1,0,−1…) and Nyquist (k=N/2, basis 1,−1,1,−1…) — so
      * power = re²+im² stays in exact Long arithmetic (|re| ≤ 160·2¹⁴,
      * square ≪ 2⁵³) and an independent engine replays it bit-for-bit
      * from the waveform. A coarse but REAL spectrum: DC offset vs
      * mid-band vs top-band energy splits hum from sawtooth from hiss.
      *
      * @return per window (win, n_frames, p_dc, p_quarter, p_nyquist).
      */
    def spectralFeatures(bytes: Array[Byte], window: Int): Seq[(Int, Int, Long, Long, Long)] = {
      require(window >= 4, s"window must be >= 4, got $window")
      val in = stream(bytes)
      try {
        val fmt = in.getFormat
        require(fmt.getSampleSizeInBits == 16,
          s"SoundCodec expects 16-bit PCM, got ${fmt.getSampleSizeInBits}")
        val raw = in.readAllBytes()
        val ch = fmt.getChannels
        val frames = raw.length / 2 / ch
        def s0(f: Int): Int = { // channel-0 sample at frame f
          val i = f * ch
          val b0 = raw(2 * i) & 0xff
          val b1 = raw(2 * i + 1) & 0xff
          (if (fmt.isBigEndian) (b0 << 8) | b1 else (b1 << 8) | b0).toShort.toInt
        }
        val nw = (frames + window - 1) / window
        (0 until nw).map { w =>
          val start = w * window
          val end = math.min(start + window, frames)
          var dc = 0L; var reQ = 0L; var imQ = 0L; var reN = 0L
          var f = start
          while (f < end) {
            val v = s0(f).toLong
            val n = f - start
            dc += v
            (n & 3) match { // cos(πn/2), sin(πn/2) cycle 1,0,−1,0 / 0,1,0,−1
              case 0 => reQ += v
              case 1 => imQ += v
              case 2 => reQ -= v
              case 3 => imQ -= v
            }
            if ((n & 1) == 0) reN += v else reN -= v
            f += 1
          }
          (w, end - start, dc * dc, reQ * reQ + imQ * imQ, reN * reN)
        }
      } finally in.close()
    }

    /** Envelope aHash: 64 windows, bit set iff the window's mean
      * |amplitude| ≥ the overall mean — re-encodes of the same audio
      * collide; localized edits move few bits. */
    def phash64(bytes: Array[Byte]): Long = {
      val e = extractFeatures(bytes, 64)
      val mean = e.map(_.toDouble).sum / e.length
      var acc = 0L
      var i = 0
      while (i < 64) {
        if (e(i) >= mean) acc |= 1L << (63 - i)
        i += 1
      }
      acc
    }
  }

  /** Audio metadata with properly-named fields (the [[MediaMeta]] raster
    * slots carry rate/channels only inside the codec-agnostic kernels). */
  case class AudioMeta(media_id: Long, format: String, sample_rate: Int,
      channels: Int, n_frames: Long, duration_ms: Long, size_bytes: Long)

  /** Decode audio metadata per blob by fully reading the PCM stream —
    * frame count from decoded bytes / frame size, duration from frames
    * and rate. Per-partition kernel; blobs never leave the executors.
    */
  def decodeAudio(media: DataFrame): Dataset[AudioMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val fmtName = SoundCodec.sniffFormat(bytes)
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val fmt = in.getFormat
          val raw = in.readAllBytes()
          val frames = raw.length.toLong / fmt.getFrameSize
          AudioMeta(id, fmtName, fmt.getSampleRate.toInt, fmt.getChannels,
            frames, frames * 1000L / fmt.getSampleRate.toInt,
            bytes.length.toLong)
        } finally in.close()
      })
  }

  case class AudioWindow(media_id: Long, win: Int, n_frames: Int,
      ssq: Long, zero_crossings: Int)

  /** Windowed audio features per blob (1:N generator kernel over
    * [[SoundCodec.windowFeatures]]): exact-integer energy + zero
    * crossings per `window`-frame hop of genuinely decoded PCM.
    */
  def audioWindowFeatures(media: DataFrame, window: Int): Dataset[AudioWindow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        SoundCodec.windowFeatures(bytes, window).map {
          case (w, n, ssq, zc) => AudioWindow(id, w, n, ssq, zc)
        }
      })
  }

  case class AudioSpectral(media_id: Long, win: Int, n_frames: Int,
      p_dc: Long, p_quarter: Long, p_nyquist: Long)

  /** Windowed integer-exact spectral bins per blob (1:N kernel over
    * [[SoundCodec.spectralFeatures]]): DC / quarter-band / Nyquist DFT
    * power per `window`-frame hop of genuinely decoded channel-0 PCM.
    */
  def audioSpectralFeatures(media: DataFrame, window: Int): Dataset[AudioSpectral] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        SoundCodec.spectralFeatures(bytes, window).map {
          case (w, n, pdc, pq, pn) => AudioSpectral(id, w, n, pdc, pq, pn)
        }
      })
  }

  /** Deterministic fixture WAV: a REAL encoded RIFF/WAVE file (JDK WAV
    * writer) whose rate/channels/frame-count and integer-sawtooth PCM
    * pattern are pure functions of `id` — the audio analog of
    * [[fixturePng]], giving the oracle closed-form expected metadata.
    */
  def fixtureSampleRate(id: Long, patternMod: Long = 50L): Int =
    Seq(8000, 11025, 16000, 22050)(((id % patternMod) % 4).toInt)
  def fixtureChannels(id: Long, patternMod: Long = 50L): Int =
    1 + ((id % patternMod) % 2).toInt
  def fixtureFrames(id: Long, patternMod: Long = 50L): Int =
    400 + (id % patternMod).toInt * 8
  def fixtureWav(id: Long, patternMod: Long = 50L): Array[Byte] = {
    val p = (id % patternMod).toInt
    val rate = fixtureSampleRate(id, patternMod)
    val ch = fixtureChannels(id, patternMod)
    val frames = fixtureFrames(id, patternMod)
    val raw = new Array[Byte](frames * ch * 2)
    var f = 0
    while (f < frames) {
      var c = 0
      while (c < ch) {
        // integer sawtooth keyed by the pattern — no trig, bit-identical
        val v = (((f * (p + 3) + c * 97) % 2048) - 1024) * 16
        val idx = (f * ch + c) * 2
        raw(idx) = (v & 0xff).toByte // little-endian 16-bit signed
        raw(idx + 1) = ((v >> 8) & 0xff).toByte
        c += 1
      }
      f += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, ch, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Deterministic fixture PNG: a REAL encoded image (JDK PNG writer)
    * whose dimensions and pixel pattern are pure functions of `id` —
    * ids congruent mod `patternMod` render identical content, giving
    * known-duplicate pairs for the perceptual-hash path.
    */
  def fixtureWidth(id: Long, patternMod: Long = 50L): Int =
    8 + ((id % patternMod) % 5).toInt * 4
  def fixtureHeight(id: Long, patternMod: Long = 50L): Int =
    8 + ((id % patternMod) % 3).toInt * 4
  def fixturePng(id: Long, patternMod: Long = 50L): Array[Byte] = {
    val p = id % patternMod
    val w = fixtureWidth(id, patternMod)
    val h = fixtureHeight(id, patternMod)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = ((p * 7 + x * 31 + y * 17) % 256).toInt
        img.setRGB(x, y, (v << 16) | (((v * 3) % 256) << 8) | ((v * 5) % 256))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Decode metadata + features per blob. Kernel shape: one partition in,
    * one partition out; the codec never sees the driver.
    */
  def decode(media: DataFrame, kind: String, featureDim: Int = 16,
      codec: Codec = StubCodec): Dataset[DecodedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          DecodedMedia(id, codec.decodeMeta(kind, bytes),
            codec.extractFeatures(bytes, featureDim))
        }
      }
  }

  /** Sample up to `n` frames per video blob (1:N generator kernel). */
  def sampleFrames(media: DataFrame, n: Int,
      codec: Codec = StubCodec): Dataset[Frame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          codec.sampleFrames(bytes, n).zipWithIndex.map {
            case (f, i) => Frame(id, i, f)
          }
        }
      }
  }

  case class LumaCell(media_id: Long, cell: Int, luma: Double)

  /** g×g area-average luminance grid per image blob — the downsample /
    * thumbnail-features kernel over REAL decoded pixels, in fully
    * integer arithmetic (integer per-pixel luma, integer cell sums; the
    * one division per cell is exact-integer-over-integer), so an oracle
    * that knows the source pixels replays every cell bit-for-bit.
    * 1:g² generator kernel; blobs never leave the executors.
    */
  def imageLumaGrid(media: DataFrame, g: Int): Dataset[LumaCell] = {
    require(g >= 1, s"grid must be >= 1, got $g")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        require(img != null, "bytes are not a decodable image")
        ImageIoCodec.lumaGrid(img, g).zipWithIndex.map {
          case (l, i) => LumaCell(id, i, l)
        }
      })
  }

  /** Per-frame features (dims + perceptual hash) without materializing
    * frame bytes — the cheap form of [[sampleFrames]] for feature/dedup
    * pipelines where the extracted frame itself is not the product.
    */
  def sampleFrameFeatures(media: DataFrame, n: Int,
      codec: Codec = StubCodec): Dataset[FrameFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          codec.sampleFrameFeatures(bytes, n).map {
            case (i, w, h, ph) => FrameFeature(id, i, w, h, ph)
          }
        }
      }
  }

  /** Partition blobs so each task carries ≈`budgetBytes` of binary data —
    * row-count partitioning breaks when blob sizes are skewed.
    */
  def repartitionBySize(media: DataFrame, budgetBytes: Long): DataFrame = {
    val stats = media.agg(sum(length(col("bytes")))).head()
    val total = if (stats.isNullAt(0)) 0L else stats.getLong(0)
    val parts = math.max(1, (total / math.max(budgetBytes, 1L)).toInt)
    media.repartition(parts)
  }

  /** Perceptual-hash near-dup candidates over opaque media blobs: a
    * 64-bit fingerprint per blob, banded into 4×16-bit LSH blocks —
    * pairs colliding on any band are candidates, verified by full
    * Hamming distance. This is image-dedup's standard shape (pHash +
    * multi-index hashing); per the codec-stub convention the fingerprint
    * here is the blob's md5 head (deterministic, oracle-replayable)
    * standing in for a real DCT pHash — swapping in a real codec changes
    * ONE projection, none of the banding/join/verify plumbing.
    *
    * Scale shape: 4 band rows per blob (bounded fan-out), candidate
    * generation is a partial-deduped self-join on the 16-bit band
    * key — colliding pairs only, never all-pairs; the Hamming verify is
    * a narrow bitwise expression over the two 32-bit halves. Top-k by
    * (distance, pair) is TakeOrderedAndProject.
    */
  def phashCandidates(media: DataFrame, topK: Int,
      idCol: String = "media_id", bytesCol: String = "bytes"): DataFrame =
    bandedPhashCandidates(media.select(col(idCol).as("media_id"),
      conv(substring(md5(col(bytesCol)), 1, 8), 16, 10).cast("long").as("hi"),
      conv(substring(md5(col(bytesCol)), 9, 8), 16, 10).cast("long").as("lo")),
      topK)

  /** Codec-backed fingerprint frame for [[bandedPhashCandidates]]: one
    * (media_id, hi, lo) row per blob from `codec.phash64` (real pixel
    * aHash under [[ImageIoCodec]]). Per-partition kernel — blobs never
    * leave the executors.
    */
  def imagePhashBits(media: DataFrame, codec: Codec = ImageIoCodec,
      idCol: String = "media_id", bytesCol: String = "bytes"): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol), col(bytesCol)).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val p = codec.phash64(bytes)
        (id, p >>> 32, p & 0xffffffffL)
      })
      .toDF("media_id", "hi", "lo")
  }

  /** The banding / collision-join / Hamming-verify plumbing shared by the
    * expression fingerprint ([[phashCandidates]]) and codec fingerprints
    * ([[imagePhashBits]]): `bits` is (media_id, hi: long, lo: long) — the
    * two 32-bit halves of a 64-bit fingerprint.
    */
  def bandedPhashCandidates(bitsIn: DataFrame, topK: Int): DataFrame = {
    val bits = bitsIn
      .localCheckpoint() // fingerprint once; banding + both verify sides reuse it
    val bands = bits.select(col("media_id"), col("hi"), col("lo"),
      posexplode(array(
        shiftright(col("hi"), 16), col("hi").bitwiseAND(lit(65535L)),
        shiftright(col("lo"), 16), col("lo").bitwiseAND(lit(65535L))))
        .as(Seq("band_idx", "band_val")))
    val cand = bands.select(col("band_idx"), col("band_val"), col("media_id").as("a"))
      .join(bands.select(col("band_idx"), col("band_val"), col("media_id").as("b")),
        Seq("band_idx", "band_val"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    cand
      .join(bits.select(col("media_id").as("a"),
        col("hi").as("hi_a"), col("lo").as("lo_a")), "a")
      .join(bits.select(col("media_id").as("b"),
        col("hi").as("hi_b"), col("lo").as("lo_b")), "b")
      .select(col("a"), col("b"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).as("hamming"))
      .orderBy(col("hamming").asc, col("a"), col("b"))
      .limit(topK)
  }
}
