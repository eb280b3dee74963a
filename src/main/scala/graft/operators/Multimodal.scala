package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed in partition-sized batches.
  *
  * The IMAGE decode path is REAL: `ImageIoDecoder` decodes actual image
  * bytes with the JDK's built-in `javax.imageio` codecs (PNG/BMP/GIF/JPEG
  * ship with every JVM — no external library), and `syntheticImages`
  * generates a deterministic PNG/BMP corpus so the encode→decode
  * round-trip is exercised end-to-end (oracle-gated: q_multimodal_decode
  * checks the MEASURED dimensions against the generator's arithmetic).
  * Formats the JVM lacks (video containers, audio) still go through
  * `StubDecoder` — deterministic features derived from the bytes. The
  * Spark-side plumbing is shared and is the part that matters at scale:
  *  - the schema contract (binary payload + metadata struct),
  *  - `mapPartitions` batch shape (one decoder instance per partition, the
  *    same shape a Pandas-UDF/`mapInPandas` kernel has in PySpark: the
  *    expensive per-process init is amortized across the partition),
  *  - partition sizing: decode is CPU-heavy per row, so repartition to
  *    many small partitions BEFORE the decode stage — the parquet scan's
  *    partitioning (size-based) is wrong for a compute-bound stage.
  */
object Multimodal {

  /** A media row: opaque payload + envelope metadata. */
  case class MediaRow(id: Long, kind: String, payload: Array[Byte])

  /** Decoded (stub) features. A real decoder would fill width/height/frames
    * from the codec; the stub derives them deterministically from bytes. */
  case class MediaFeatures(id: Long, kind: String, byteLen: Long, sha: String,
                           width: Int, height: Int, frames: Int)

  /** Decode kernel contract: one instance per partition, called per batch. */
  trait Decoder extends Serializable {
    def decode(row: MediaRow): MediaFeatures
  }

  /** Deterministic stand-in for the codec-backed decoder. */
  object StubDecoder extends Decoder {
    def decode(r: MediaRow): MediaFeatures = {
      val n = r.payload.length
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(r.payload).map("%02x".format(_)).mkString
      MediaFeatures(r.id, r.kind, n.toLong, sha, n % 640, n % 480, n % 16 + 1)
    }
  }

  /** REAL image decoder on the JDK's `javax.imageio` codecs: measures
    * width/height from the decoded raster. Bytes that no installed codec
    * accepts (video/audio/corrupt) fall back to the deterministic stub —
    * per row, so one mixed-media partition needs no format dispatch
    * upstream. One instance per partition via `decodeFeatures`, matching
    * the expensive-init contract real codec pools have. */
  object ImageIoDecoder extends Decoder {
    /** `ImageIO.read` scans the codec registry and allocates a fresh
      * reader PER CALL — ~2 ms of setup that dwarfs the raster work on
      * thumbnail-sized images (measured: the decode stage halved when
      * readers became reusable). Readers are stateful and not
      * thread-safe, so each executor thread holds its own PNG/BMP
      * reader keyed by the payload's magic bytes; anything else falls
      * back to the registry path, preserving the accept-any-codec
      * contract. */
    private val readers = new ThreadLocal[java.util.HashMap[String, javax.imageio.ImageReader]] {
      override def initialValue() = new java.util.HashMap[String, javax.imageio.ImageReader]()
    }

    private def readerFor(fmt: String): javax.imageio.ImageReader = {
      val m = readers.get()
      var r = m.get(fmt)
      if (r == null) {
        r = javax.imageio.ImageIO.getImageReadersByFormatName(fmt).next()
        m.put(fmt, r)
      }
      r
    }

    private def magicFormat(b: Array[Byte]): String =
      if (b.length > 3 && (b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
      else if (b.length > 1 && b(0) == 'B' && b(1) == 'M') "bmp"
      else null

    /** Decode to a raster via the reusable readers; null when no codec
      * accepts the bytes. Shared with the pixel-consuming kernels
      * (aHash) that need the image, not the feature envelope. */
    def readImage(payload: Array[Byte]): java.awt.image.BufferedImage =
      try {
        val fmt = magicFormat(payload)
        if (fmt == null)
          javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        else {
          val rd = readerFor(fmt)
          val in = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(payload))
          try { rd.setInput(in); rd.read(0) } finally in.close()
        }
      } catch { case NonFatal(_) => null }

    def decode(r: MediaRow): MediaFeatures = {
      val img = readImage(r.payload)
      if (img == null) StubDecoder.decode(r)
      else {
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(r.payload).map("%02x".format(_)).mkString
        MediaFeatures(r.id, r.kind, r.payload.length.toLong, sha,
          img.getWidth, img.getHeight, 1)
      }
    }
  }

  /** Generator contract for the synthetic image corpus: dimensions are a
    * pure function of the id, so an oracle can predict what the decoder
    * must measure. */
  def imageDims(id: Long): (Int, Int) = ((16 + id % 32).toInt, (16 + id % 24).toInt)

  /** Deterministic real image bytes: a `imageDims(id)`-sized RGB raster
    * with an id-seeded pixel pattern, encoded by the JDK's own PNG or BMP
    * writer. */
  def encodeImage(id: Long, fmt: String): Array[Byte] = {
    val (w, h) = imageDims(id)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, ((id * 2654435761L) + x * 31 + y * 17).toInt & 0xFFFFFF)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  /** Synthetic real-image corpus keyed by the documents table: even ids
    * encode as PNG, odd as BMP — two distinct container formats through
    * the same decode path. Generated inside the executors (mapPartitions
    * shape), never collected. */
  /** Memoized per session and dir like Tables.memo: the encode stage is
    * INGEST-TIME work (a real pipeline stores media bytes once; queries
    * decode them), and returning the same Dataset object per call is
    * what lets the bench pin the encoded corpus via CacheManager
    * substitution — typed `map` plans embed the closure instance, so
    * only object-identical datasets substitute reliably. */
  def syntheticImages(s: SparkSession, sfDir: String): Dataset[MediaRow] =
    graft.ArtifactStore(s, ("synthetic_images", sfDir)) {
      import s.implicits._
      graft.Tables.documents(s, sfDir)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val fmt = if (id % 2 == 0) "png" else "bmp"
          MediaRow(id, fmt, encodeImage(id, fmt))
        }
    }

  /** Decoded audio envelope: what a feature pipeline reads off a clip
    * before any DSP (sample rate, channels, bit depth, frame count). */
  case class AudioFeatures(id: Long, sample_rate: Int, channels: Int,
                           bits: Int, frames: Long)

  /** Generator contract for the synthetic WAV corpus (oracle-predictable,
    * like imageDims). */
  def wavFrames(id: Long): Int = 800 + (id % 800).toInt

  /** Deterministic real WAV bytes: 16-bit mono PCM at 8 kHz, an id-seeded
    * sine, RIFF-containered by the JDK's own `javax.sound.sampled` writer
    * — audio's analogue of encodeImage, no external codec. */
  def encodeWav(id: Long): Array[Byte] = {
    val rate = 8000
    val n = wavFrames(id)
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = (math.sin(2 * math.Pi * (220.0 + (id % 100)) * i / rate) * 16384).toInt.toShort
      data(2 * i) = (v & 0xFF).toByte
      data(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Synthetic real-audio corpus keyed by the documents table; generated
    * inside the executors, never collected. Memoized like
    * [[syntheticImages]] — same ingest-time contract. */
  def syntheticWavs(s: SparkSession, sfDir: String): Dataset[MediaRow] =
    graft.ArtifactStore(s, ("synthetic_wavs", sfDir)) {
      import s.implicits._
      graft.Tables.documents(s, sfDir)
        .select(col("doc_id")).as[Long]
        .map(id => MediaRow(id, "wav", encodeWav(id)))
    }

  /** REAL audio decode on the JDK's RIFF/WAV parser: measures the format
    * envelope from the container, not from metadata columns. Strict by
    * design — undecodable bytes throw (a collector-validated feed fails
    * loudly rather than fabricating features; route lenient feeds through
    * a try/Option wrapper at the call site). */
  /** The JDK's audio provider registry, loaded once per thread —
    * `AudioSystem.getAudioInputStream` re-scans the ServiceLoader per
    * call, the same per-call setup tax the image path pays without
    * reader reuse. Same providers, same strict semantics: the first
    * reader that accepts the bytes parses them; none accepting throws. */
  private val audioReaders =
    new ThreadLocal[Array[javax.sound.sampled.spi.AudioFileReader]] {
      override def initialValue(): Array[javax.sound.sampled.spi.AudioFileReader] = {
        val it = java.util.ServiceLoader
          .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
        val buf = scala.collection.mutable.ArrayBuffer[javax.sound.sampled.spi.AudioFileReader]()
        while (it.hasNext) buf += it.next()
        buf.toArray
      }
    }

  private def openAudio(payload: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    val rs = audioReaders.get()
    var i = 0
    while (i < rs.length) {
      try {
        val ais = rs(i).getAudioInputStream(new java.io.ByteArrayInputStream(payload))
        // move-to-front: a homogeneous feed (one container format) pays
        // the reject-exception tax of the earlier providers ONCE per
        // thread, not per clip — rejection is an exception throw, and
        // fillInStackTrace costs more than the actual header parse.
        // ASSUMPTION (ADVICE r13): providers accept DISJOINT container
        // formats — true of every stock JDK reader (wav/aiff/au/snd), so
        // reordering cannot change WHICH provider parses a payload. A
        // deployment adding third-party audio SPI jars whose accept sets
        // overlap a stock reader's must drop this reorder (keep registry
        // order, cache the array only) or decode order becomes
        // history-dependent, unlike AudioSystem.getAudioInputStream.
        if (i > 0) { val r = rs(i); rs(i) = rs(0); rs(0) = r }
        return ais
      } catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
      i += 1
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "no installed provider accepts the payload")
  }

  def decodeAudioFeatures(rows: Dataset[MediaRow],
                          decodeParallelism: Int): Dataset[AudioFeatures] = {
    import rows.sparkSession.implicits._
    rows.repartition(decodeParallelism).mapPartitions(_.map { r =>
      val ais = openAudio(r.payload)
      val f = ais.getFormat
      AudioFeatures(r.id, f.getSampleRate.toInt, f.getChannels,
        f.getSampleSizeInBits, ais.getFrameLength)
    })
  }

  /** The batch decode stage: partition-parallel, decoder instantiated once
    * per partition. `decodeParallelism` controls the repartition ahead of
    * the compute-bound stage. */
  def decodeFeatures(rows: Dataset[MediaRow], decoder: Decoder,
                     decodeParallelism: Int): Dataset[MediaFeatures] = {
    import rows.sparkSession.implicits._
    rows.repartition(decodeParallelism)
      .mapPartitions(it => it.map(decoder.decode))
  }

  /** Exact-integer average-hash (aHash) of a decoded raster: 8×8 block
    * grid, each block's bit set when its mean gray exceeds the image
    * mean — compared as the integer cross-product sb·N > S·cb so no
    * division ever happens. gray = (r+g+b) div 3, blocks bx = x·8 div w.
    * Returns the 64 bits as a '0'/'1' string in pos = by·8+bx order plus
    * the popcount. Pure integer math end-to-end, so an oracle that knows
    * the pixel generator can predict the hash without decoding — which
    * is exactly how q_multimodal_phash pins the REAL decode path. */
  def aHash64(img: java.awt.image.BufferedImage): (String, Long) = {
    val w = img.getWidth; val h = img.getHeight
    val bsum = new Array[Long](64); val bcnt = new Array[Long](64)
    var y = 0
    while (y < h) {
      val by = y * 8 / h
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        val gray = (((p >> 16) & 255) + ((p >> 8) & 255) + (p & 255)) / 3
        val k = by * 8 + x * 8 / w
        bsum(k) += gray; bcnt(k) += 1
        x += 1
      }
      y += 1
    }
    val s = bsum.sum; val n = w.toLong * h
    val sb = new StringBuilder(64)
    var nbits = 0L
    var k = 0
    while (k < 64) {
      val bit = bsum(k) * n > s * bcnt(k)
      if (bit) nbits += 1
      sb.append(if (bit) '1' else '0')
      k += 1
    }
    (sb.toString, nbits)
  }

  /** Frame sampling stage: every `step`-th frame index per media row, each
    * with a deterministic per-frame fingerprint (decode-stub analogue of
    * hashing the decoded frame). Runs AFTER decode as a pure projection +
    * generator — the explode multiplies rows before any shuffle, so the
    * downstream per-frame pipeline parallelizes over frames, not videos
    * (one 2-hour video ≠ one task). */
  def sampleFrames(features: Dataset[MediaFeatures], step: Int): DataFrame =
    features.toDF()
      .select(col("id"), col("sha"),
        explode(expr(s"sequence(0, frames - 1, $step)")).as("frame_idx"))
      .withColumn("frame_sha", sha2(concat_ws(":", col("sha"), col("frame_idx")), 256))

  /** Demo wiring over the documents table (text bytes as the payload). */
  def documentsAsMedia(s: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import s.implicits._
    graft.Tables.documents(s, sfDir)
      .select(col("doc_id").as("id"), lit("text").as("kind"),
        col("text").cast("binary").as("payload"))
      .as[MediaRow]
  }
}
