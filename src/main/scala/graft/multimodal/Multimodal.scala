package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Multimodal-column plumbing: images/audio/video travel as opaque
  * `BinaryType` payloads with a typed metadata struct, and per-item
  * processing runs batched per partition — the Scala analog of a Pandas-UDF
  * `mapInPandas` stage.
  *
  * Every synthetic media format is one [[Codec]] value: its fixture kind
  * (the build-once cache identity), its MIME string and its per-id
  * renderer. One builder ([[media]]) turns a codec into a media table,
  * and every decoder runs through one per-partition stage
  * ([[decodeStage]]) over the `(media_id, payload)` pair. The codecs are
  * real and pure-JVM: PNG and JPEG through `javax.imageio`, PCM WAV
  * through `javax.sound.sampled`, animated GIF (multi-frame temporal)
  * through the GIF ImageReader, MJPEG-in-AVI through a RIFF demux plus
  * the JPEG codec, IMA ADPCM through a from-the-spec block decoder, and
  * baseline I_PCM H.264 through an Annex-B demux and Exp-Golomb entropy
  * decode. Each `q_media_*` query is oracle-gated on facts DuckDB derives
  * from the closed-form renderer formulas, never decoding a byte. The
  * `decodeStub` seam remains for what a pure JVM cannot reasonably
  * express — H.264 residual coding (CAVLC/CABAC + prediction), AAC, VP9.
  *
  * Scale notes: payloads stay columnar (parquet binary) end-to-end; the
  * per-partition iterator processes items one batch at a time without
  * materializing a partition in memory; repartition before decode spreads
  * large media evenly; feature vectors come back as fixed-width arrays so
  * downstream ANN (graft.operators.Similarity) consumes them directly.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed cache: every ImageIO.read/write on a
  // stream spills through a temp FILE, serializing thousands of tiny
  // 16x16 codec round-trips on filesystem churn. The payloads here are a
  // few hundred bytes — cache in memory.
  javax.imageio.ImageIO.setUseCache(false)

  /** One synthetic media format: the fixture kind (its FixtureCache
    * identity — a change to the rendered bytes must mint a new kind, or
    * cached payloads from the old renderer would be served), the MIME
    * string the table's `meta.format` carries, and the renderer run on
    * executors for each document id. */
  private[multimodal] final case class Codec(kind: String, mime: String,
      render: Long => Array[Byte])

  /** The synthetic media table for `codec`: one payload per document,
    * rendered per-partition on executors — payload bytes never pass
    * through the driver — and served from a build-once fixture cache.
    * Rendering is fixture SETUP, not the operator under test: the decode
    * queries time the DECODE stage, not a re-render inside every
    * execution. The first caller writes the rendered table to a
    * write-once-read-many parquet dir under java.io.tmpdir (see
    * graft.sources.FixtureCache for the concurrency contract); later
    * callers scan it. Payload bytes round-trip parquet binary unchanged.
    * Both sides are fanned: local testdata arrives as ONE split, the
    * cached files are tiny, and codec work is per-row-dominant — without
    * the fan 500 encode/decode round-trips run on a single core. */
  private[multimodal] def media(spark: SparkSession, dir: String,
      codec: Codec): DataFrame = {
    val base = graft.sources.FixtureCache.buildOnce(
      spark, s"graft_media_${codec.kind}", dir, "documents") { stage =>
      import spark.implicits._
      val render = codec.render
      graft.operators.Star.fan(spark,
          graft.operators.Star.table(spark, dir, "documents").select("doc_id"),
          "doc_id")
        .as[Long]
        .mapPartitions(_.map(id => (id, render(id))))
        .toDF("media_id", "payload")
        .select(col("media_id"), col("payload"),
          struct(
            lit(codec.mime).as("format"),
            length(col("payload")).cast("long").as("byte_len"),
            lit("synthetic").as("source")).as("meta"))
        .write.mode("overwrite").parquet(
          new org.apache.hadoop.fs.Path(stage, "data").toString)
    }
    graft.operators.Star.fan(spark,
      spark.read.parquet(new org.apache.hadoop.fs.Path(base, "data").toString),
      "media_id")
  }

  /** The one batched per-partition decode stage over `(media_id,
    * payload)` — the mapInPandas-shaped step. The by-name `row` is
    * evaluated once per partition, so state it sets up before returning
    * the row function (the audio decoders' hoisted reader) is
    * per-partition. Runs on executors; payload bytes never pass through
    * the driver. */
  private def decodeStage[T <: Product : TypeTag](media: DataFrame)(
      row: => (Long, Array[Byte]) => T): Dataset[T] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val f = row
        it.map { case (id, payload) => f(id, payload) }
      }(Encoders.product[T])
  }

  /** Wrap a documents table into a media table: payload = utf-8 bytes of
    * `text` (deterministic stand-in for real media bytes). */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("payload"),
      struct(
        lit("text/plain").as("format"),
        length(col("text").cast("binary")).cast("long").as("byte_len"),
        col("source").as("source")).as("meta"))

  /** INTENTIONALLY-KEPT test seam for exactly the codecs a pure JVM
    * cannot express (H.264 residual coding, AAC, VP9): a production
    * deployment swaps this one function for a JNI/foreign decoder and
    * everything around it — schema, batch shape, partitioning,
    * null-safety, feature plumbing — is already real and tested. Every
    * codec pure-JVM code CAN express is a real [[Codec]] in this file.
    * The body is a deterministic byte-hash featurizer so the seam stays
    * exercised end-to-end by [[extractFeatures]] (the streaming demo and
    * the specs). */
  def decodeStub(payload: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 1125899906842597L // FNV-ish seed
    var i = 0
    while (i < payload.length) { h = h * 31 + (payload(i) & 0xff); i += 1 }
    var j = 0
    while (j < dim) {
      val x = h ^ (j.toLong * 0x9e3779b97f4a7c15L)
      val mixed = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
      out(j) = ((mixed >>> 11).toDouble / (1L << 53).toDouble).toFloat
      j += 1
    }
    out
  }

  final case class MediaFeatures(media_id: Long, byte_len: Long,
                                 features: Array[Float])

  /** Decode+featurize through the [[decodeStub]] seam; null payloads
    * featurize as empty. */
  def extractFeatures(media: DataFrame, dim: Int): Dataset[MediaFeatures] =
    decodeStage(media) { (id, payload) =>
      val bytes = if (payload == null) Array.emptyByteArray else payload
      MediaFeatures(id, bytes.length.toLong, decodeStub(bytes, dim))
    }

  /** Frame-sampling invariants as an oracle-checked query: per media item,
    * the number of fixed-size frames its payload shards into and the total
    * bytes across frames (which must reassemble to the payload length).
    * The byte math is SQL-expressible (octet_length over the UTF-8 text
    * stand-in), so the multimodal chunking plumbing sits in the DuckDB
    * correctness gate, not just in tests. */
  def mediaFrames(spark: SparkSession, dir: String): DataFrame = {
    val media = fromDocuments(
      graft.operators.Star.table(spark, dir, "documents"))
    sampleFrames(media, 256)
      .groupBy("media_id")
      .agg(
        max(col("byte_len")).as("byte_len"),
        count(lit(1)).as("n_frames"),
        sum(length(col("frame_payload")).cast("long")).as("frame_bytes"),
        max(col("frame_idx")).cast("long").as("last_idx"))
      .orderBy("media_id")
  }

  private val mediaFramesSql =
    """SELECT doc_id AS media_id,
      |  CAST(strlen(text) AS BIGINT) AS byte_len,
      |  CAST((strlen(text) + 255) // 256 AS BIGINT) AS n_frames,
      |  CAST(strlen(text) AS BIGINT) AS frame_bytes,
      |  CAST((strlen(text) - 1) // 256 AS BIGINT) AS last_idx
      |FROM documents WHERE strlen(text) > 0
      |ORDER BY media_id""".stripMargin

  // ------------------------------------------------- real image codec path

  /** Pixel value formulas shared by the renderers and the SQL oracle: each
    * channel at (x, y) of frame `f` for media `id` is a closed-form
    * integer, so the decoded-pixel aggregates are computable from first
    * principles by an engine that never sees the encoded bytes. Still
    * images are frame 0. */
  private final val W = 16
  private final val H = 16

  @inline private def rgb(id: Long, f: Int, x: Int, y: Int): Int = {
    val r = ((id * 31 + f * 19 + x * 7 + y * 13) % 256).toInt
    val g = ((id * 17 + f * 23 + x * 5 + y * 11) % 256).toInt
    val b = ((id * 13 + f * 29 + x * 3 + y * 29) % 256).toInt
    (r << 16) | (g << 8) | b
  }

  /** Encode the W x H RGB raster `px(x, y)` through javax.imageio as
    * `format` ("png" is lossless; "jpg" is lossy). Runs on executors. */
  private def encodeRaster(format: String)(px: (Int, Int) => Int)
      : Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      W, H, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < H) {
      var x = 0
      while (x < W) { img.setRGB(x, y, px(x, y)); x += 1 }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, baos)
    baos.toByteArray
  }

  private def readImage(payload: Array[Byte]): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))

  /** Total absolute channel error of a decoded raster against the
    * closed-form source pixels `want(x, y)` — the measured lossy-codec
    * distortion. */
  private def rasterErr(img: java.awt.image.BufferedImage,
      want: (Int, Int) => Int): Long = {
    var err = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val got = img.getRGB(x, y)
        val w = want(x, y)
        err += math.abs(((got >> 16) & 0xff) - ((w >> 16) & 0xff))
        err += math.abs(((got >> 8) & 0xff) - ((w >> 8) & 0xff))
        err += math.abs((got & 0xff) - (w & 0xff))
        x += 1
      }
      y += 1
    }
    err
  }

  /** The deterministic W x H RGB image for `id` as a real PNG (lossless —
    * decode returns the exact channel values). */
  def renderPng(id: Long): Array[Byte] = encodeRaster("png")(rgb(id, 0, _, _))

  private[multimodal] val png = Codec("png", "image/png", renderPng)

  def pngMedia(spark: SparkSession, dir: String): DataFrame =
    media(spark, dir, png)

  final case class ImageFeatures(media_id: Long, width: Long, height: Long,
                                 sum_r: Long, sum_g: Long, sum_b: Long)

  /** REAL image decode: javax.imageio parses each payload, and the
    * per-channel pixel sums come off the decoded raster downsampled by
    * nearest neighbor with stride `k` (output pixel (x, y) = source pixel
    * (kx, ky) — exact pixel picks, no interpolation, so the result is
    * bit-deterministic and SQL-derivable). `width`/`height` are the
    * output dims; stride 1 is the full raster. */
  def decodeImageFeatures(media: DataFrame, k: Int = 1)
      : Dataset[ImageFeatures] =
    decodeStage(media) { (id, payload) =>
      val img = readImage(payload)
      val (wo, ho) = (img.getWidth / k, img.getHeight / k)
      var (sr, sg, sb) = (0L, 0L, 0L)
      var y = 0
      while (y < ho) {
        var x = 0
        while (x < wo) {
          val px = img.getRGB(x * k, y * k)
          sr += (px >> 16) & 0xff
          sg += (px >> 8) & 0xff
          sb += px & 0xff
          x += 1
        }
        y += 1
      }
      ImageFeatures(id, wo.toLong, ho.toLong, sr, sg, sb)
    }

  /** Decoded-image features through the REAL codec, oracle-gated: the PNG
    * round-trip is lossless, so the per-channel sums equal the closed-form
    * pixel formulas DuckDB evaluates directly. */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    decodeImageFeatures(pngMedia(spark, dir)).toDF()
      .orderBy("media_id")

  /** The multimodal RESIZE stage in the gate: 16x16 -> 4x4 decoded +
    * downsampled channel sums, oracle-computed from the closed-form
    * pixels at the sampled source coordinates. */
  def mediaResize(spark: SparkSession, dir: String): DataFrame =
    decodeImageFeatures(pngMedia(spark, dir), 4)
      .toDF("media_id", "w_out", "h_out", "sum_r", "sum_g", "sum_b")
      .orderBy("media_id")

  private val mediaResizeSql =
    s"""SELECT doc_id AS media_id,
       |  CAST(4 AS BIGINT) AS w_out, CAST(4 AS BIGINT) AS h_out,
       |  CAST(SUM((doc_id*31 + x.x*4*7 + y.y*4*13) % 256) AS BIGINT)
       |    AS sum_r,
       |  CAST(SUM((doc_id*17 + x.x*4*5 + y.y*4*11) % 256) AS BIGINT)
       |    AS sum_g,
       |  CAST(SUM((doc_id*13 + x.x*4*3 + y.y*4*29) % 256) AS BIGINT)
       |    AS sum_b
       |FROM documents, range(4) x(x), range(4) y(y)
       |GROUP BY doc_id ORDER BY media_id""".stripMargin

  // ------------------------------------------------- real JPEG codec path

  /** The same image as [[renderPng]] as a real JPEG. JPEG is LOSSY —
    * decoded channel values are NOT bit-equal to the formula — so the
    * hash-oracled columns are the exact container/raster facts
    * (dimensions, pixel count) while pixel fidelity (mean abs channel
    * error under the default-quality quantization tables) is asserted by
    * MultimodalSpec. */
  def renderJpeg(id: Long): Array[Byte] = encodeRaster("jpg")(rgb(id, 0, _, _))

  private[multimodal] val jpeg = Codec("jpeg", "image/jpeg", renderJpeg)

  def jpegMedia(spark: SparkSession, dir: String): DataFrame =
    media(spark, dir, jpeg)

  final case class JpegFeatures(media_id: Long, width: Long, height: Long,
                                n_pixels: Long, sum_err: Long)

  /** REAL JPEG decode: javax.imageio parses each payload (huffman tables,
    * DCT blocks, chroma subsampling); emits the decoded raster facts plus
    * the total absolute channel error vs the closed-form source pixels. */
  def decodeJpegFeatures(media: DataFrame): Dataset[JpegFeatures] =
    decodeStage(media) { (id, payload) =>
      val img = readImage(payload)
      JpegFeatures(id, img.getWidth.toLong, img.getHeight.toLong,
        img.getWidth.toLong * img.getHeight, rasterErr(img, rgb(id, 0, _, _)))
    }

  /** JPEG decode through the REAL codec in the gate: hash-oracled on the
    * exact decoded-raster facts (dimensions, pixel count — JPEG loss
    * cannot change these); the lossy `sum_err` column stays engine-side
    * (dropped here), gated by MultimodalSpec's distortion bound instead. */
  def mediaJpeg(spark: SparkSession, dir: String): DataFrame =
    decodeJpegFeatures(jpegMedia(spark, dir)).toDF()
      .select("media_id", "width", "height", "n_pixels")
      .orderBy("media_id")

  private val mediaJpegSql =
    s"""SELECT doc_id AS media_id,
       |  CAST($W AS BIGINT) AS width, CAST($H AS BIGINT) AS height,
       |  CAST(${W * H} AS BIGINT) AS n_pixels
       |FROM documents ORDER BY media_id""".stripMargin

  // ------------------------------------------------- real audio codec path

  /** Closed-form 16-bit sample for media `id` at position `t` — shared by
    * the PCM renderer and the SQL oracle (fits a signed short: +-16384). */
  private final val NSamples = 256
  @inline private def sample(id: Long, t: Int): Int =
    (((id * 31 + t * 17) % 2048 - 1024) * 16).toInt

  /** Encode the 16-bit samples `s(t)`, t < NSamples, as a real WAV
    * container via javax.sound.sampled (little-endian signed mono,
    * 8 kHz). Runs on executors. */
  private def encodeWav(s: Int => Int): Array[Byte] = {
    import javax.sound.sampled._
    val pcm = new Array[Byte](NSamples * 2)
    var t = 0
    while (t < NSamples) {
      val v = s(t)
      pcm(2 * t) = (v & 0xff).toByte
      pcm(2 * t + 1) = ((v >> 8) & 0xff).toByte
      t += 1
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, NSamples.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** The deterministic PCM signal for `id` as a real WAV. */
  def renderWav(id: Long): Array[Byte] = encodeWav(sample(id, _))

  private[multimodal] val wav = Codec("wav", "audio/wav", renderWav)

  def wavMedia(spark: SparkSession, dir: String): DataFrame =
    media(spark, dir, wav)

  final case class AudioFeatures(media_id: Long, n_samples: Long,
                                 sum_s: Long, min_s: Long, max_s: Long)

  /** Resolve the payload's AudioFileReader ONCE (public SPI +
    * ServiceLoader — the same JDK provider `AudioSystem` routes to),
    * dispatching exactly like AudioSystem: first provider that accepts
    * the stream wins, none → loud failure. Hoisted per PARTITION (r16,
    * guide §1.2 per-task work): `AudioSystem.getAudioInputStream` runs
    * every call through `JDK13Services.getProviders`, a class-global
    * SYNCHRONIZED ServiceLoader re-scan — measured (OPTIMIZATION_r16.md
    * item 9) at ~79 µs/clip single-threaded AND zero parallel speedup
    * (8 threads × 2000 clips: 1.47 s, the registry lock serializes all
    * cores); the hoisted reader decodes the same clips at 6.5 µs/clip
    * and scales (8×2000 in 0.021 s). The reader instance is stateless — every call
    * parses only its argument stream — so per-partition reuse is safe. */
  private[multimodal] def resolveAudioReader(
      probe: Array[Byte]): javax.sound.sampled.spi.AudioFileReader = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala
      .find { r =>
        try { r.getAudioInputStream(
          new java.io.ByteArrayInputStream(probe)); true }
        catch { case _: Exception => false }
      }
      .getOrElse(throw new javax.sound.sampled.UnsupportedAudioFileException(
        "no installed AudioFileReader accepts the payload"))
  }

  /** Decode via the partition-cached reader, falling back to a fresh
    * per-payload resolution when the cached provider rejects THIS row
    * (r17, closing the r16 advice item: a partition mixing container
    * formats — or a provider accepting only some payloads — must keep
    * AudioSystem's per-call provider-iteration semantics, not fail on
    * the first format change). Returns the stream plus the reader that
    * produced it so the caller re-caches the winning provider for the
    * following rows. */
  private[multimodal] def readAudio(
      reader: javax.sound.sampled.spi.AudioFileReader, payload: Array[Byte])
      : (javax.sound.sampled.AudioInputStream,
         javax.sound.sampled.spi.AudioFileReader) =
    try (reader.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload)), reader)
    catch { case _: Exception =>
      val r = resolveAudioReader(payload)
      (r.getAudioInputStream(new java.io.ByteArrayInputStream(payload)), r)
    }

  /** [[decodeStage]] over WAV payloads, handing `row` the decoded 16-bit
    * samples. The AudioFileReader is resolved once per partition (see
    * [[resolveAudioReader]]) and re-resolved per row by [[readAudio]]
    * when it rejects one. */
  private def decodePcm[T <: Product : TypeTag](media: DataFrame)(
      row: (Long, Array[Short]) => T): Dataset[T] =
    decodeStage(media) {
      var reader: javax.sound.sampled.spi.AudioFileReader = null
      (id, payload) => {
        if (reader == null) reader = resolveAudioReader(payload)
        val (ais, r) = readAudio(reader, payload)
        reader = r
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
          s"unexpected decoded format $fmt")
        val bytes = ais.readAllBytes()
        val s = new Array[Short](bytes.length / 2)
        var t = 0
        while (t < s.length) {
          s(t) = ((bytes(2 * t) & 0xff) | (bytes(2 * t + 1) << 8)).toShort
          t += 1
        }
        row(id, s)
      }
    }

  /** REAL audio decode: javax.sound.sampled parses each WAV container
    * (header, format, frame stream) and the sample statistics come off
    * the decoded PCM frames. */
  def decodeAudioFeatures(media: DataFrame): Dataset[AudioFeatures] =
    decodePcm(media) { (id, s) =>
      var (sum, mn, mx) = (0L, Long.MaxValue, Long.MinValue)
      var t = 0
      while (t < s.length) {
        val v = s(t).toLong
        sum += v; if (v < mn) mn = v; if (v > mx) mx = v
        t += 1
      }
      AudioFeatures(id, s.length.toLong, sum, mn, mx)
    }

  /** Decoded-audio features through the REAL codec, oracle-gated like the
    * PNG path: WAV PCM is lossless, so the decoded sample stats equal the
    * closed-form formula DuckDB evaluates directly. */
  def mediaAudio(spark: SparkSession, dir: String): DataFrame =
    decodeAudioFeatures(wavMedia(spark, dir)).toDF()
      .orderBy("media_id")

  private val mediaAudioSql =
    s"""SELECT doc_id AS media_id, CAST($NSamples AS BIGINT) AS n_samples,
       |  CAST(SUM(((doc_id*31 + t.t*17) % 2048 - 1024) * 16) AS BIGINT)
       |    AS sum_s,
       |  CAST(MIN(((doc_id*31 + t.t*17) % 2048 - 1024) * 16) AS BIGINT)
       |    AS min_s,
       |  CAST(MAX(((doc_id*31 + t.t*17) % 2048 - 1024) * 16) AS BIGINT)
       |    AS max_s
       |FROM documents, range($NSamples) t(t)
       |GROUP BY doc_id ORDER BY media_id""".stripMargin

  // ------------------------------------------------- real video codec path

  /** Video through a REAL multi-frame temporal codec: animated GIF — the
    * one video-shaped container the JVM decodes natively
    * (javax.imageio's GIF ImageReader exposes the frame sequence via
    * getNumImages/read(i)). Frames are 256-gray palette images, and GIF
    * LZW is lossless, so the decoded rasters equal the closed-form pixel
    * formula exactly. The `decodeStub` seam stays for codecs the JVM
    * lacks (H.264 etc.); this path exercises the real thing: container
    * parse, frame iteration, temporal sampling. */
  private final val VFrames = 8
  private final val VSample = 2 // decode every 2nd frame

  @inline private def gray(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 31 + f * 7 + x * 3 + y * 5) % 256).toInt

  /** Render the deterministic VFrames-frame grayscale animation for `id`
    * as a real animated GIF. Runs on executors. */
  def renderGif(id: Long): Array[Byte] = {
    import javax.imageio._
    val baos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(baos)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    // identity 256-gray INDEXED palette: TYPE_BYTE_GRAY would round-trip
    // through a linear-gray <-> sRGB conversion and skew the values; an
    // IndexColorModel stores the sample verbatim and GIF is indexed
    // natively, so encode->decode is the identity on the gray value
    val grays = Array.tabulate(256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    var f = 0
    while (f < VFrames) {
      val img = new java.awt.image.BufferedImage(
        W, H, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      var y = 0
      while (y < H) {
        var x = 0
        while (x < W) {
          img.getRaster.setSample(x, y, 0, gray(id, f, x, y))
          x += 1
        }
        y += 1
      }
      val meta = writer.getDefaultImageMetadata(
        new ImageTypeSpecifier(img), writer.getDefaultWriteParam)
      writer.writeToSequence(new IIOImage(img, null, meta),
        writer.getDefaultWriteParam)
      f += 1
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    baos.toByteArray
  }

  private[multimodal] val gif = Codec("gif", "image/gif", renderGif)

  private[multimodal] final case class VideoFeatures(media_id: Long,
      n_frames: Long, n_sampled: Long, sum_gray: Long)

  /** REAL video decode: the GIF ImageReader parses the container, reports
    * the frame count, and decodes only the TEMPORALLY SAMPLED frames
    * (every VSample-th) — the frame-sampling stage a real video
    * featurizer runs, with an actual multi-frame decoder behind it. */
  private[multimodal] def decodeVideoFeatures(media: DataFrame)
      : Dataset[VideoFeatures] =
    decodeStage(media) { (id, payload) =>
      val reader = javax.imageio.ImageIO
        .getImageReadersByFormatName("gif").next()
      reader.setInput(javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload)))
      val n = reader.getNumImages(true)
      var (sampled, sum) = (0L, 0L)
      var f = 0
      while (f < n) {
        if (f % VSample == 0) {
          val img = reader.read(f)
          sampled += 1
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              sum += img.getRGB(x, y) & 0xff
              x += 1
            }
            y += 1
          }
        }
        f += 1
      }
      reader.dispose()
      VideoFeatures(id, n.toLong, sampled, sum)
    }

  /** Frame-sampled decoded-video features through the REAL codec,
    * oracle-gated: the gray palette round-trips losslessly, so the
    * sampled-frame pixel sums equal the closed-form formula. */
  def mediaVideo(spark: SparkSession, dir: String): DataFrame =
    decodeVideoFeatures(media(spark, dir, gif)).toDF()
      .orderBy("media_id")

  private val mediaVideoSql =
    s"""SELECT doc_id AS media_id, CAST($VFrames AS BIGINT) AS n_frames,
       |  CAST(${VFrames / VSample} AS BIGINT) AS n_sampled,
       |  CAST(SUM((doc_id*31 + fs.fs*$VSample*7 + x.x*3 + y.y*5) % 256)
       |    AS BIGINT) AS sum_gray
       |FROM documents, range(${VFrames / VSample}) fs(fs),
       |  range($W) x(x), range($H) y(y)
       |GROUP BY doc_id ORDER BY media_id""".stripMargin

  private val mediaFeaturesSql =
    s"""SELECT doc_id AS media_id,
       |  CAST($W AS BIGINT) AS width, CAST($H AS BIGINT) AS height,
       |  CAST(SUM((doc_id*31 + x.x*7 + y.y*13) % 256) AS BIGINT) AS sum_r,
       |  CAST(SUM((doc_id*17 + x.x*5 + y.y*11) % 256) AS BIGINT) AS sum_g,
       |  CAST(SUM((doc_id*13 + x.x*3 + y.y*29) % 256) AS BIGINT) AS sum_b
       |FROM documents, range($W) x(x), range($H) y(y)
       |GROUP BY doc_id ORDER BY media_id""".stripMargin

  // ------------------- real container codecs: MJPEG-in-AVI + IMA ADPCM
  //
  // A REAL video container path (RIFF/AVI demux + real lossy JPEG
  // intra-frame decode — the MJPEG format, public spec) and a REAL
  // compressed-audio path (IMA ADPCM 4-bit blocks in WAV, public spec,
  // implemented from the specification here — javax.sound reads only
  // PCM).

  private final val AF = 6 // frames per AVI fixture

  /** Little-endian RIFF builder (AVI and WAV are both RIFF). */
  private final class Le {
    private val bos = new java.io.ByteArrayOutputStream()
    def u32(v: Long): Le = { var i = 0
      while (i < 4) { bos.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }; this }
    def u16(v: Int): Le =
      { bos.write(v & 0xff); bos.write((v >> 8) & 0xff); this }
    def cc(s: String): Le = { bos.write(s.getBytes("US-ASCII")); this }
    def raw(b: Array[Byte]): Le = { bos.write(b); this }
    def chunk(fourcc: String, body: Array[Byte]): Le = {
      cc(fourcc); u32(body.length.toLong); raw(body)
      if ((body.length & 1) == 1) bos.write(0) // RIFF chunks are even-sized
      this
    }
    def list(kind: String, body: Array[Byte]): Le =
      chunk("LIST", kind.getBytes("US-ASCII") ++ body)
    def toArray: Array[Byte] = bos.toByteArray
  }

  /** Mux `AF` real JPEG frames into a spec-shaped AVI: RIFF('AVI ') →
    * LIST(hdrl){avih, LIST(strl){strh 'vids'/'MJPG', strf BITMAPINFO}}
    * → LIST(movi){'00dc' frames} → idx1 (one keyframe entry per frame,
    * offsets relative to the 'movi' fourcc). Runs on executors. */
  def renderAviMjpeg(id: Long): Array[Byte] = {
    val frames = (0 until AF).map(f => encodeRaster("jpg")(rgb(id, f, _, _)))
    val avih = new Le()
      .u32(100000L).u32(0L).u32(0L).u32(0x10L /* HASINDEX */)
      .u32(AF.toLong).u32(0L).u32(1L).u32(0L)
      .u32(W.toLong).u32(H.toLong).u32(0L).u32(0L).u32(0L).u32(0L)
      .toArray
    val strh = new Le()
      .cc("vids").cc("MJPG").u32(0L).u16(0).u16(0).u32(0L)
      .u32(1L).u32(10L).u32(0L).u32(AF.toLong).u32(0L).u32(10000L).u32(0L)
      .u16(0).u16(0).u16(W).u16(H)
      .toArray
    val strf = new Le()
      .u32(40L).u32(W.toLong).u32(H.toLong).u16(1).u16(24).cc("MJPG")
      .u32((W * H * 3).toLong).u32(0L).u32(0L).u32(0L).u32(0L)
      .toArray
    val strl = new Le().chunk("strh", strh).chunk("strf", strf).toArray
    val hdrl = new Le().chunk("avih", avih).list("strl", strl).toArray
    val moviBody = new Le()
    val idx = new Le()
    var off = 4L // first '00dc' fourcc sits right after the 'movi' kind
    frames.foreach { jpg =>
      moviBody.chunk("00dc", jpg)
      idx.cc("00dc").u32(0x10L /* KEYFRAME */).u32(off).u32(jpg.length.toLong)
      off += 8 + jpg.length + (jpg.length & 1)
    }
    val body = new Le()
      .list("hdrl", hdrl)
      .list("movi", moviBody.toArray)
      .chunk("idx1", idx.toArray)
      .toArray
    new Le().chunk("RIFF", "AVI ".getBytes("US-ASCII") ++ body).toArray
  }

  private def leU32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  private def fourccAt(b: Array[Byte], o: Int): String =
    new String(b, o, 4, "US-ASCII")

  final case class MjpegVideo(
      declaredFrames: Long, idxEntries: Long,
      frames: Seq[java.awt.image.BufferedImage])

  /** REAL AVI demux: walk the RIFF chunk tree, pull every '00dc' chunk
    * out of LIST(movi), decode each through the real JPEG codec, read
    * avih's declared frame count and the idx1 entry count for the
    * cross-checks the spec pins. No library — the container spec is
    * public and the parse is ~30 lines. */
  def decodeAviMjpeg(payload: Array[Byte]): MjpegVideo = {
    require(fourccAt(payload, 0) == "RIFF" && fourccAt(payload, 8) == "AVI ",
      "not an AVI")
    var declared = -1L
    var idxEntries = -1L
    val frames = Seq.newBuilder[java.awt.image.BufferedImage]
    var o = 12
    while (o + 8 <= payload.length) {
      val cc = fourccAt(payload, o)
      val sz = leU32(payload, o + 4).toInt
      cc match {
        case "LIST" =>
          fourccAt(payload, o + 8) match {
            case "hdrl" =>
              // avih is hdrl's first child; dwTotalFrames is u32 #4
              require(fourccAt(payload, o + 12) == "avih", "hdrl sans avih")
              declared = leU32(payload, o + 20 + 16)
            case "movi" =>
              var p = o + 12
              val end = o + 8 + sz
              while (p + 8 <= end) {
                val fsz = leU32(payload, p + 4).toInt
                if (fourccAt(payload, p) == "00dc")
                  frames += javax.imageio.ImageIO.read(
                    new java.io.ByteArrayInputStream(payload, p + 8, fsz))
                p += 8 + fsz + (fsz & 1)
              }
            case _ => ()
          }
        case "idx1" => idxEntries = sz / 16L
        case _ => ()
      }
      o += 8 + sz + (sz & 1)
    }
    MjpegVideo(declared, idxEntries, frames.result())
  }

  private[multimodal] val aviMjpeg =
    Codec("avi_mjpeg", "video/x-msvideo", renderAviMjpeg)

  def aviMedia(spark: SparkSession, dir: String): DataFrame =
    media(spark, dir, aviMjpeg)

  final case class MjpegFeatures(media_id: Long, n_frames: Long,
      declared_frames: Long, idx_entries: Long,
      width: Long, height: Long, n_pixels: Long, sum_err: Long)

  /** REAL demux + decode of every frame. `sum_err` is the total abs
    * channel error vs the closed-form source pixels — the measured MJPEG
    * distortion, spec-bounded (JPEG loss can't change the structural
    * facts, which are the hash-oracled columns). */
  def decodeMjpegFeatures(media: DataFrame): Dataset[MjpegFeatures] =
    decodeStage(media) { (id, payload) =>
      val v = decodeAviMjpeg(payload)
      val err = v.frames.zipWithIndex.map { case (img, f) =>
        rasterErr(img, rgb(id, f, _, _))
      }.sum
      val w = v.frames.head.getWidth.toLong
      val h = v.frames.head.getHeight.toLong
      MjpegFeatures(id, v.frames.size.toLong, v.declaredFrames,
        v.idxEntries, w, h, v.frames.size * w * h, err)
    }

  /** MJPEG-in-AVI through the REAL demux + codec in the gate: the
    * hash-oracled columns are the exact structural facts (demuxed frame
    * count == avih's declared count == idx1 entries, decoded raster
    * dims, total pixels); lossy distortion is spec-bounded. */
  def mediaMjpeg(spark: SparkSession, dir: String): DataFrame =
    decodeMjpegFeatures(aviMedia(spark, dir)).toDF()
      .select("media_id", "n_frames", "declared_frames", "idx_entries",
        "width", "height", "n_pixels")
      .orderBy("media_id")

  private val mediaMjpegSql =
    s"""SELECT doc_id AS media_id, CAST($AF AS BIGINT) AS n_frames,
       |  CAST($AF AS BIGINT) AS declared_frames,
       |  CAST($AF AS BIGINT) AS idx_entries,
       |  CAST($W AS BIGINT) AS width, CAST($H AS BIGINT) AS height,
       |  CAST(${AF * W * H} AS BIGINT) AS n_pixels
       |FROM documents ORDER BY media_id""".stripMargin

  // IMA ADPCM (public spec): 4-bit differential coding, step-size table
  // adaptation, independently decodable blocks with a (predictor, index)
  // header. Both directions implemented here — javax.sound decodes only
  // PCM WAV.
  private val imaStep = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
  private val imaIndex =
    Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  private final val AdpcmBlockAlign = 128 // 4-byte header + 124 data bytes
  private final val AdpcmSamplesPerBlock = 1 + (AdpcmBlockAlign - 4) * 2
  private final val AdpcmBlocks = 3
  private final val AdpcmSamples = AdpcmBlocks * AdpcmSamplesPerBlock

  /** Slope-bounded triangle source signal (id-dependent period): IMA
    * ADPCM is differential, so bounded slopes keep quantization error
    * small and spec-boundable. */
  @inline private def adpcmSrc(id: Long, t: Int): Int = {
    val period = (256 + (id % 13) * 32).toInt
    val half = period / 2
    val phase = t % period
    val tri = if (phase < half) phase else period - phase
    tri * 16384 / half - 8192
  }

  @inline private def imaQuantize(diff0: Int, step: Int): Int = {
    var diff = diff0
    var nib = if (diff < 0) { diff = -diff; 8 } else 0
    if (diff >= step) { nib |= 4; diff -= step }
    if (diff >= step / 2) { nib |= 2; diff -= step / 2 }
    if (diff >= step / 4) nib |= 1
    nib
  }

  @inline private def imaDequantize(nib: Int, step: Int): Int = {
    var d = step >> 3
    if ((nib & 4) != 0) d += step
    if ((nib & 2) != 0) d += step >> 1
    if ((nib & 1) != 0) d += step >> 2
    if ((nib & 8) != 0) -d else d
  }

  /** Encode the closed-form signal for `id` as a REAL IMA-ADPCM WAV:
    * fmt tag 0x11 with samplesPerBlock extension, fact chunk with the
    * true sample count, block-aligned data. Runs on executors. */
  def renderWavAdpcm(id: Long): Array[Byte] = {
    val data = new Le()
    var index = 0
    var b = 0
    while (b < AdpcmBlocks) {
      val base = b * AdpcmSamplesPerBlock
      var pred = adpcmSrc(id, base)
      data.u16(pred & 0xffff).u16(index & 0xff) // predictor, index, reserved
      var k = 1
      while (k < AdpcmSamplesPerBlock) {
        val step = imaStep(index)
        val lo = imaQuantize(adpcmSrc(id, base + k) - pred, step)
        pred = math.max(-32768,
          math.min(32767, pred + imaDequantize(lo, step)))
        index = math.max(0, math.min(88, index + imaIndex(lo)))
        val step2 = imaStep(index)
        val hi = imaQuantize(adpcmSrc(id, base + k + 1) - pred, step2)
        pred = math.max(-32768,
          math.min(32767, pred + imaDequantize(hi, step2)))
        index = math.max(0, math.min(88, index + imaIndex(hi)))
        data.raw(Array(((hi << 4) | lo).toByte))
        k += 2
      }
      b += 1
    }
    val byteRate = 8000L * AdpcmBlockAlign / AdpcmSamplesPerBlock
    val fmt = new Le()
      .u16(0x11).u16(1).u32(8000L).u32(byteRate)
      .u16(AdpcmBlockAlign).u16(4).u16(2).u16(AdpcmSamplesPerBlock)
      .toArray
    val fact = new Le().u32(AdpcmSamples.toLong).toArray
    val body = new Le()
      .chunk("fmt ", fmt).chunk("fact", fact).chunk("data", data.toArray)
      .toArray
    new Le().chunk("RIFF", "WAVE".getBytes("US-ASCII") ++ body).toArray
  }

  final case class AdpcmAudio(nSamples: Int, nBlocks: Int,
      samples: Array[Int])

  /** REAL IMA-ADPCM WAV decode from the container up: parse the RIFF
    * chunks, require fmt tag 0x11, decode each block's nibble stream
    * through the step-adaptive state machine, truncate to the fact
    * chunk's sample count. */
  def decodeWavAdpcm(payload: Array[Byte]): AdpcmAudio = {
    require(fourccAt(payload, 0) == "RIFF" && fourccAt(payload, 8) == "WAVE",
      "not a WAV")
    var blockAlign = 0
    var samplesPerBlock = 0
    var total = -1
    var out: Array[Int] = null
    var nBlocks = 0
    var o = 12
    while (o + 8 <= payload.length) {
      val sz = leU32(payload, o + 4).toInt
      fourccAt(payload, o) match {
        case "fmt " =>
          require((leU32(payload, o + 8) & 0xffff) == 0x11,
            "not IMA ADPCM")
          blockAlign = (leU32(payload, o + 20) & 0xffff).toInt
          samplesPerBlock = (leU32(payload, o + 26) & 0xffff).toInt
        case "fact" => total = leU32(payload, o + 8).toInt
        case "data" =>
          nBlocks = sz / blockAlign
          out = new Array[Int](nBlocks * samplesPerBlock)
          var b = 0
          while (b < nBlocks) {
            val base = o + 8 + b * blockAlign
            var pred = ((payload(base) & 0xff) |
              (payload(base + 1) << 8)).toShort.toInt
            var index = payload(base + 2) & 0xff
            var w = b * samplesPerBlock
            out(w) = pred; w += 1
            var p = base + 4
            while (p < base + blockAlign) {
              val byte = payload(p) & 0xff
              var n = 0
              while (n < 2) {
                val nib = if (n == 0) byte & 0xf else byte >> 4
                val step = imaStep(index)
                pred = math.max(-32768,
                  math.min(32767, pred + imaDequantize(nib, step)))
                index = math.max(0, math.min(88, index + imaIndex(nib)))
                out(w) = pred; w += 1
                n += 1
              }
              p += 1
            }
            b += 1
          }
        case _ => ()
      }
      o += 8 + sz + (sz & 1)
    }
    AdpcmAudio(total, nBlocks, if (total >= 0) out.take(total) else out)
  }

  private[multimodal] val wavAdpcm =
    Codec("wav_adpcm", "audio/x-adpcm", renderWavAdpcm)

  def adpcmMedia(spark: SparkSession, dir: String): DataFrame =
    media(spark, dir, wavAdpcm)

  final case class AdpcmFeatures(media_id: Long, n_samples: Long,
      n_blocks: Long, byte_len: Long, sum_err: Long)

  /** REAL ADPCM decode; `sum_err` is the total abs sample error vs the
    * closed-form source — the measured codec distortion, spec-bounded. */
  def decodeAdpcmFeatures(media: DataFrame): Dataset[AdpcmFeatures] =
    decodeStage(media) { (id, payload) =>
      val a = decodeWavAdpcm(payload)
      var err = 0L
      var t = 0
      while (t < a.samples.length) {
        err += math.abs(a.samples(t) - adpcmSrc(id, t))
        t += 1
      }
      AdpcmFeatures(id, a.samples.length.toLong, a.nBlocks.toLong,
        payload.length.toLong, err)
    }

  /** IMA-ADPCM through the REAL codec in the gate: hash-oracled on the
    * exact stream facts (decoded sample count, block count, container
    * byte length — all deterministic functions of the public container
    * spec); lossy sample fidelity is spec-bounded. */
  def mediaAdpcm(spark: SparkSession, dir: String): DataFrame =
    decodeAdpcmFeatures(adpcmMedia(spark, dir)).toDF()
      .select("media_id", "n_samples", "n_blocks", "byte_len")
      .orderBy("media_id")

  private val mediaAdpcmSql = {
    // container byte length is closed-form: 12 (RIFF/WAVE) + 8+20 (fmt)
    // + 8+4 (fact) + 8 + blocks*blockAlign (data)
    val bytes = 12 + 28 + 12 + 8 + AdpcmBlocks * AdpcmBlockAlign
    s"""SELECT doc_id AS media_id,
       |  CAST($AdpcmSamples AS BIGINT) AS n_samples,
       |  CAST($AdpcmBlocks AS BIGINT) AS n_blocks,
       |  CAST($bytes AS BIGINT) AS byte_len
       |FROM documents ORDER BY media_id""".stripMargin
  }

  // ------------------- real H.264: baseline I_PCM IDR streams
  //
  // VERDICT item carried since r10: a pure-JVM H.264 path, MJPEG/ADPCM
  // pattern (real demux + real entropy decode, oracled on structural
  // facts), no faking. The subset implemented is BASELINE-PROFILE
  // I_PCM-ONLY streams (ITU-T H.264 §7.3/§8.3, mb_type 25 in I slices):
  // every layer of real H.264 machinery below the residual coder is
  // exercised for real —
  //   - Annex-B byte-stream demux (start-code scan, 3- and 4-byte),
  //   - RBSP extraction (emulation-prevention 0x03 stripping — the PCM
  //     payload genuinely produces 00 00 0x runs, so EP is load-bearing,
  //     spec-pinned),
  //   - Exp-Golomb entropy decode (ue/se) of every SPS/PPS/slice-header
  //     syntax element and of each mb_type,
  //   - SPS geometry (pic_width_in_mbs, frame_mbs_only), PPS id wiring,
  //     IDR slice headers (frame_num at SPS-declared bit width,
  //     idr_pic_id, dec_ref_pic_marking), macroblock raster scan with
  //     PCM alignment, 4:2:0 sample planes.
  // I_PCM is lossless, so unlike the MJPEG path the pixel facts are
  // EXACT — the oracle recomputes the closed-form planes bit-for-bit.
  // What is NOT implemented stays honestly out: CAVLC/CABAC residuals,
  // intra prediction, inter frames — `decodeStub` remains the seam for
  // those (and AAC/VP9); any conformant H.264 decoder plays the streams
  // rendered here.

  private final val XW = 32 // frame dims: 2×2 macroblocks
  private final val XH = 32
  private final val XMbs = (XW / 16) * (XH / 16)
  private final val XF = 2 // IDR frames per stream

  /** First three luma samples of every stream are PLANTED as 0,0,1 —
    * a literal start-code prefix inside the PCM payload, so emulation
    * prevention is load-bearing for every fixture row (the structured
    * gradient's strides never produce two consecutive zero bytes on
    * their own): a decoder that failed to strip the 0x03 would see a
    * phantom NAL boundary and mis-decode everything after it. */
  @inline private def h264Y(id: Long, f: Int, x: Int, y: Int): Int =
    if (f == 0 && y == 0 && x < 3) (if (x < 2) 0 else 1)
    else ((id * 31 + f * 19 + x * 7 + y * 13) % 256).toInt
  @inline private def h264Cb(id: Long, f: Int, cx: Int, cy: Int): Int =
    ((id * 17 + f * 23 + cx * 5 + cy * 11) % 256).toInt
  @inline private def h264Cr(id: Long, f: Int, cx: Int, cy: Int): Int =
    ((id * 13 + f * 29 + cx * 3 + cy * 29) % 256).toInt

  /** MSB-first RBSP bit writer with the H.264 entropy codes: ue(v) /
    * se(v) Exp-Golomb and fixed-width u(n). private[multimodal]: the
    * spec round-trips the entropy codes and the EP transform directly,
    * not only through whole streams. */
  private[multimodal] final class BitWriter {
    private val bos = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nbits = 0
    def bit(b: Int): BitWriter = {
      cur = (cur << 1) | (b & 1); nbits += 1
      if (nbits == 8) { bos.write(cur); cur = 0; nbits = 0 }
      this
    }
    def u(v: Long, n: Int): BitWriter = {
      var i = n - 1
      while (i >= 0) { bit(((v >> i) & 1L).toInt); i -= 1 }
      this
    }
    def ue(v: Long): BitWriter = {
      val k = v + 1
      val n = 64 - java.lang.Long.numberOfLeadingZeros(k)
      u(0L, n - 1); u(k, n)
    }
    def se(v: Long): BitWriter = ue(if (v > 0) 2 * v - 1 else -2 * v)
    def alignZero(): BitWriter = { while (nbits != 0) bit(0); this }
    def rbspTrailing(): BitWriter = { bit(1); alignZero() }
    def byteAligned(b: Int): BitWriter = {
      require(nbits == 0, "PCM samples must start byte-aligned")
      bos.write(b); this
    }
    def toArray: Array[Byte] = { require(nbits == 0); bos.toByteArray }
  }

  /** RBSP → EBSP: insert emulation-prevention 0x03 before any byte
    * ≤ 0x03 that would follow two zero bytes (§7.4.1.1). */
  private[multimodal] def ebspOf(rbsp: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(rbsp.length + 8)
    var zeros = 0
    rbsp.foreach { b =>
      if (zeros >= 2 && (b & 0xff) <= 3) { out.write(3); zeros = 0 }
      out.write(b.toInt)
      if (b == 0) zeros += 1 else zeros = 0
    }
    out.toByteArray
  }

  private def nalUnit(refIdc: Int, nalType: Int,
      rbsp: Array[Byte]): Array[Byte] =
    Array[Byte](0, 0, 0, 1, ((refIdc << 5) | nalType).toByte) ++ ebspOf(rbsp)

  /** Render one Annex-B baseline I_PCM stream: SPS + PPS + XF IDR
    * frames of XMbs PCM macroblocks each. Runs on executors. */
  def renderH264(id: Long): Array[Byte] = {
    val sps = new BitWriter()
      .u(66, 8) // profile_idc: baseline
      .u(0, 8) // constraint flags + reserved
      .u(10, 8) // level_idc 1.0
      .ue(0) // seq_parameter_set_id
      .ue(0) // log2_max_frame_num_minus4 → frame_num is u(4)
      .ue(2) // pic_order_cnt_type 2: order = decode order, no fields
      .ue(0) // max_num_ref_frames (I_PCM IDR only: none)
      .bit(0) // gaps_in_frame_num_value_allowed_flag
      .ue(XW / 16 - 1) // pic_width_in_mbs_minus1
      .ue(XH / 16 - 1) // pic_height_in_map_units_minus1
      .bit(1) // frame_mbs_only_flag
      .bit(0) // direct_8x8_inference_flag
      .bit(0) // frame_cropping_flag
      .bit(0) // vui_parameters_present_flag
      .rbspTrailing().toArray
    val pps = new BitWriter()
      .ue(0).ue(0) // pps id, sps id
      .bit(0) // entropy_coding_mode_flag: CAVLC
      .bit(0) // bottom_field_pic_order_in_frame_present_flag
      .ue(0) // num_slice_groups_minus1
      .ue(0).ue(0) // num_ref_idx_l{0,1}_default_active_minus1
      .bit(0).u(0, 2) // weighted_pred_flag, weighted_bipred_idc
      .se(0).se(0) // pic_init_qp_minus26, pic_init_qs_minus26
      .se(0) // chroma_qp_index_offset
      .bit(0) // deblocking_filter_control_present_flag
      .bit(0) // constrained_intra_pred_flag
      .bit(0) // redundant_pic_cnt_present_flag
      .rbspTrailing().toArray
    val frames = (0 until XF).map { f =>
      val w = new BitWriter()
        .ue(0) // first_mb_in_slice
        .ue(7) // slice_type: I (all slices of the picture)
        .ue(0) // pic_parameter_set_id
        .u(0, 4) // frame_num (IDR ⇒ 0) at the SPS-declared width
        .ue(f) // idr_pic_id — distinguishes consecutive IDRs
      // dec_ref_pic_marking comes BEFORE slice_qp_delta (§7.3.3 —
      // nal_ref_idc != 0); the first cut had them swapped, which a
      // round-trip test cannot catch (decoder mirrored the bug) but a
      // conformant decoder would desync on
      w.bit(0) // no_output_of_prior_pics_flag
      w.bit(0) // long_term_reference_flag
      w.se(0) // slice_qp_delta
      var mb = 0
      while (mb < XMbs) {
        val mbX = (mb % (XW / 16)) * 16
        val mbY = (mb / (XW / 16)) * 16
        w.ue(25) // mb_type: I_PCM
        w.alignZero() // pcm_alignment_zero_bit
        var i = 0
        while (i < 256) {
          w.byteAligned(h264Y(id, f, mbX + i % 16, mbY + i / 16))
          i += 1
        }
        i = 0
        while (i < 64) {
          w.byteAligned(h264Cb(id, f, mbX / 2 + i % 8, mbY / 2 + i / 8))
          i += 1
        }
        i = 0
        while (i < 64) {
          w.byteAligned(h264Cr(id, f, mbX / 2 + i % 8, mbY / 2 + i / 8))
          i += 1
        }
        mb += 1
      }
      w.rbspTrailing().toArray
    }
    (nalUnit(3, 7, sps) +: nalUnit(3, 8, pps) +:
      frames.map(nalUnit(3, 5, _))).reduce(_ ++ _)
  }

  /** MSB-first RBSP bit reader — the decode half of [[BitWriter]]. */
  private[multimodal] final class BitReader(b: Array[Byte]) {
    private var pos = 0
    private var off = 0
    def u1(): Int = {
      val v = (b(pos) >> (7 - off)) & 1
      off += 1; if (off == 8) { off = 0; pos += 1 }
      v
    }
    def u(n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v = (v << 1) | u1(); i += 1 }
      v
    }
    def ue(): Long = {
      var z = 0
      while (u1() == 0) z += 1
      (1L << z) - 1 + u(z)
    }
    def se(): Long = {
      val k = ue()
      if ((k & 1) == 1) (k + 1) / 2 else -(k / 2)
    }
    def align(): Unit = if (off != 0) { off = 0; pos += 1 }
    def byteAligned(): Int = {
      require(off == 0); val v = b(pos) & 0xff; pos += 1; v
    }
  }

  /** EBSP → RBSP: strip emulation-prevention bytes (00 00 03 → 00 00). */
  private[multimodal] def rbspOf(ebsp: Array[Byte], from: Int,
      to: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(to - from)
    var zeros = 0
    var i = from
    while (i < to) {
      val b = ebsp(i) & 0xff
      if (zeros >= 2 && b == 3) zeros = 0 // EP byte: drop
      else {
        out.write(b)
        if (b == 0) zeros += 1 else zeros = 0
      }
      i += 1
    }
    out.toByteArray
  }

  final case class H264Video(media_id: Long, profileIdc: Long,
      width: Long, height: Long, nNals: Long, nFrames: Long, nMbs: Long,
      lumaSum: Long, chromaSum: Long)

  /** REAL Annex-B decode of a baseline I_PCM stream: start-code scan →
    * per-NAL RBSP extraction → Exp-Golomb parse of SPS geometry, PPS,
    * and each IDR slice down to the PCM sample planes. Throws on
    * anything outside the implemented subset (an entropy-coded MB here
    * would be a fixture bug, not a soft skip). The facts are EXACT
    * (I_PCM is lossless), so the oracle recomputes the pixel planes
    * closed-form — no tolerance anywhere. */
  def decodeH264(payload: Array[Byte], mediaId: Long = 0L): H264Video = {
    // start-code scan: offsets of every NAL's header byte
    val starts = Seq.newBuilder[Int]
    var i = 0
    while (i + 3 < payload.length) {
      if (payload(i) == 0 && payload(i + 1) == 0 && payload(i + 2) == 1)
        starts += i + 3
      i += 1
    }
    val nals = starts.result()
    require(nals.nonEmpty, "no Annex-B start codes")
    var profile = -1L
    var widthMbs = 0L
    var heightMbs = 0L
    var frameNumBits = 4
    var nFrames = 0L
    var nMbs = 0L
    var lumaSum = 0L
    var chromaSum = 0L
    var lastIdrPicId = -1L
    nals.zipWithIndex.foreach { case (s, k) =>
      val end = if (k + 1 < nals.length) {
        // back off over the next start code (3- or 4-byte form)
        val n = nals(k + 1) - 3
        if (n > 0 && payload(n - 1) == 0) n - 1 else n
      } else payload.length
      val header = payload(s) & 0xff
      require((header & 0x80) == 0, "forbidden_zero_bit set")
      val nalType = header & 0x1f
      val r = new BitReader(rbspOf(payload, s + 1, end))
      nalType match {
        case 7 => // SPS
          profile = r.u(8)
          r.u(8); r.u(8) // constraints, level
          r.ue() // sps id
          frameNumBits = (r.ue() + 4).toInt
          val poc = r.ue()
          require(poc == 2, s"pic_order_cnt_type $poc outside the subset")
          r.ue() // max_num_ref_frames
          r.u1() // gaps allowed
          widthMbs = r.ue() + 1
          heightMbs = r.ue() + 1
          require(r.u1() == 1, "frame_mbs_only_flag=0 outside the subset")
        case 8 => // PPS
          r.ue(); r.ue()
          require(r.u1() == 0, "CABAC outside the subset")
        case 5 => // IDR slice
          require(r.ue() == 0, "multi-slice pictures outside the subset")
          val sliceType = r.ue()
          require(sliceType == 2 || sliceType == 7,
            s"slice_type $sliceType is not I")
          r.ue() // pps id
          require(r.u(frameNumBits) == 0, "IDR frame_num must be 0")
          val idrPicId = r.ue()
          require(idrPicId > lastIdrPicId, "idr_pic_id must advance")
          lastIdrPicId = idrPicId
          r.u1(); r.u1() // dec_ref_pic_marking (IDR form, §7.3.3 order)
          r.se() // slice_qp_delta
          val picMbs = (widthMbs * heightMbs).toInt
          var mb = 0
          while (mb < picMbs) {
            val t = r.ue()
            require(t == 25, s"mb_type $t is not I_PCM — residual " +
              "entropy decode is outside the implemented subset")
            r.align()
            var j = 0
            while (j < 256) { lumaSum += r.byteAligned(); j += 1 }
            j = 0
            while (j < 128) { chromaSum += r.byteAligned(); j += 1 }
            mb += 1
            nMbs += 1
          }
          nFrames += 1
        case _ => ()
      }
    }
    require(profile >= 0, "no SPS in stream")
    H264Video(mediaId, profile, widthMbs * 16, heightMbs * 16,
      nals.length.toLong, nFrames, nMbs, lumaSum, chromaSum)
  }

  /** The kind carries a FORMAT VERSION: the fixture is the rendered byte
    * stream, so any bitstream-syntax change (v2: dec_ref_pic_marking
    * moved before slice_qp_delta per §7.3.3) must mint a new fixture
    * identity or cached payloads from the old syntax would desync the
    * new decoder. */
  private[multimodal] val h264 = Codec("h264_ipcm_v2", "video/h264", renderH264)

  private[multimodal] def decodeH264Features(media: DataFrame)
      : Dataset[H264Video] =
    decodeStage(media)((id, payload) => decodeH264(payload, id))

  def mediaH264(spark: SparkSession, dir: String): DataFrame =
    decodeH264Features(media(spark, dir, h264))
      .select(col("media_id"), col("profileIdc").as("profile_idc"),
        col("width"), col("height"), col("nFrames").as("n_frames"),
        col("nMbs").as("n_mbs"), col("lumaSum").as("luma_sum"),
        col("chromaSum").as("chroma_sum"))
      .orderBy("media_id")

  private val mediaH264Sql =
    s"""WITH luma AS (
       |  SELECT doc_id, CAST(SUM(CASE
       |      WHEN f.f = 0 AND y.y = 0 AND x.x < 3
       |        THEN CASE WHEN x.x < 2 THEN 0 ELSE 1 END
       |      ELSE (doc_id*31 + f.f*19 + x.x*7 + y.y*13) % 256
       |    END) AS BIGINT) AS luma_sum
       |  FROM documents, range($XF) f(f), range($XW) x(x), range($XH) y(y)
       |  GROUP BY doc_id),
       |chroma AS (
       |  SELECT doc_id, CAST(SUM(
       |      (doc_id*17 + f.f*23 + cx.cx*5 + cy.cy*11) % 256
       |    + (doc_id*13 + f.f*29 + cx.cx*3 + cy.cy*29) % 256)
       |    AS BIGINT) AS chroma_sum
       |  FROM documents, range($XF) f(f),
       |    range(${XW / 2}) cx(cx), range(${XH / 2}) cy(cy)
       |  GROUP BY doc_id)
       |SELECT l.doc_id AS media_id, CAST(66 AS BIGINT) AS profile_idc,
       |  CAST($XW AS BIGINT) AS width, CAST($XH AS BIGINT) AS height,
       |  CAST($XF AS BIGINT) AS n_frames,
       |  CAST(${XF * XMbs} AS BIGINT) AS n_mbs,
       |  l.luma_sum, c.chroma_sum
       |FROM luma l JOIN chroma c ON c.doc_id = l.doc_id
       |ORDER BY media_id""".stripMargin

  // ------------------------------------- banded-hamming media dedup
  //
  // The audio and image members of the multimodal dedup chain (text
  // shingles / embeddings / image dHash / audio energy fingerprint, all
  // the same banded-LSH shape): real decode → 56-bit hash → 4×14-bit
  // bands (pigeonhole-complete for hamming ≤ 3) → banded candidate join →
  // exact hamming verify. Candidates come from band buckets, never
  // all-pairs, so the join scales with bucket density, not corpus².

  /** A 56-bit perceptual hash of one media item: the audio energy
    * fingerprint or the image difference hash. */
  private[multimodal] final case class MediaHash(media_id: Long, fp: Long)

  /** 56-bit hash → 4×14-bit band rows (media_id, fp, band_id, k) — the
    * banded layout shared by the batch dedups and the persisted serve
    * index. */
  private def bands(hashes: Dataset[MediaHash]): DataFrame =
    hashes.select(col("media_id"), col("fp"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band_id"),
          expr(s"shiftright(fp, ${b * 14}) & 16383").as("k"))): _*))
        .as("e"))
      .select(col("media_id"), col("fp"),
        col("e.band_id").as("band_id"), col("e.k").as("k"))

  /** Banded candidate join of band rows `a` × `b` on (band_id, k) with
    * a.media_id < b.media_id, then the exact verify: (id_a, id_b,
    * hamming) at hamming ≤ 3. */
  private def hammingPairs(a: DataFrame, b: DataFrame): DataFrame =
    a.as("a").join(b.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.k") === col("b.k") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        col("a.fp").as("ha"), col("b.fp").as("hb"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        expr("bit_count(ha ^ hb)").cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy("id_a", "id_b")

  /** Closed-form sample for the near-dup WAV table: an id-dependent
    * stride (17 + src % 97) AND quadratic phase (t²·(3 + src % 89)) so
    * frame-energy deltas differ per clip — the audio analog of the image
    * renderer's id-dependent gradient. A linear-only sweep collapses
    * unrelated clips onto shifted copies of the same energy profile and
    * floods the hamming gate (measured 402 pairs vs the 50 planted);
    * with the quadratic term and wide moduli a 5000-clip simulation
    * shows zero cross-clip pairs at hamming ≤ 3. */
  @inline private def sampleNear(src: Long, t: Int): Int =
    (((src * 31 + t * (17 + (src % 97)) + t.toLong * t * (3 + (src % 89)))
      % 2048 - 1024) * 16).toInt

  /** Near-dup WAV renderer: ids ending in 3 re-render the PREVIOUS id's
    * clip with the first sample nudged by one quantization step (+16) —
    * one planted near-duplicate pair per 10 ids. */
  private def renderWavNear(id: Long): Array[Byte] = {
    val src = if (id % 10 == 3) id - 1 else id
    encodeWav(t =>
      sampleNear(src, t) + (if (id % 10 == 3 && t == 0) 16 else 0))
  }

  private[multimodal] val wavNear = Codec("wav_near", "audio/wav", renderWavNear)

  /** Audio fingerprint off the REAL decoded PCM: 64 frames of 4 samples,
    * exact integer frame energy (Σ s²), one bit per adjacent-frame
    * energy comparison — the first 56 packed into a nonnegative long.
    * A one-sample edit perturbs only its own frame's energy, flipping at
    * most that frame's two adjacent comparisons. */
  private[multimodal] def decodeAudioFingerprint(media: DataFrame)
      : Dataset[MediaHash] =
    decodePcm(media) { (id, s) =>
      val energy = new Array[Long](s.length / 4)
      var t = 0
      while (t < s.length) {
        energy(t / 4) += s(t).toLong * s(t)
        t += 1
      }
      var fp = 0L
      var f = 0
      while (f < 56) {
        if (energy(f + 1) > energy(f)) fp |= 1L << f
        f += 1
      }
      MediaHash(id, fp)
    }

  /** Audio near-duplicate pairs through the real WAV codec. Hash-oracled
    * from the closed-form sample formula, no codec on the oracle side. */
  def mediaAudioDedup(spark: SparkSession, dir: String): DataFrame = {
    // pinned ONCE: the band relation self-joins below, and the decode
    // stage is opaque (mapPartitions), so without the pin BOTH join
    // sides re-ran the REAL WAV decode of the whole corpus (r16:
    // 1.93 -> ~1.2 s at sf0.1). The pin is 4 rows per clip — band keys
    // + one 64-bit fingerprint — never the payload bytes.
    val banded = graft.operators.Star.pin(
      bands(decodeAudioFingerprint(media(spark, dir, wavNear))))
    hammingPairs(banded, banded)
  }

  /** Oracle for [[mediaAudioDedup]]: identical fingerprint/band/verify
    * chain over formula-derived sample energies. */
  private val mediaAudioDedupSql =
    """WITH ids AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 10 = 3 THEN doc_id - 1 ELSE doc_id END AS src
      |  FROM documents),
      |sm AS (
      |  SELECT media_id, t.t // 4 AS f,
      |    ((src * 31 + t.t * (17 + src % 97)
      |      + t.t * t.t * (3 + src % 89)) % 2048 - 1024) * 16
      |    + CASE WHEN media_id % 10 = 3 AND t.t = 0 THEN 16 ELSE 0 END AS s
      |  FROM ids, range(256) t(t)),
      |en AS (
      |  SELECT media_id, f, CAST(SUM(s * s) AS BIGINT) AS e
      |  FROM sm GROUP BY 1, 2),
      |bits AS (
      |  SELECT a.media_id, a.f,
      |    CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
      |  FROM en a JOIN en b ON b.media_id = a.media_id AND b.f = a.f + 1
      |  WHERE a.f < 56),
      |hashes AS (
      |  SELECT media_id,
      |    CAST(SUM(CAST(bit AS BIGINT) * (1::BIGINT << CAST(f AS INT)))
      |      AS BIGINT) AS fp
      |  FROM bits GROUP BY media_id),
      |bands AS (
      |  SELECT media_id, fp, b.b AS band_id,
      |    (fp >> (b.b * 14)) & 16383 AS k
      |  FROM hashes, UNNEST([0, 1, 2, 3]) b(b)),
      |cand AS (
      |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
      |    a.fp AS ha, b.fp AS hb
      |  FROM bands a JOIN bands b
      |    ON a.band_id = b.band_id AND a.k = b.k
      |    AND a.media_id < b.media_id)
      |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  /** Per-arrival audio fingerprint SERVE — the amortized form of
    * [[mediaAudioDedup]]: the base corpus (ids with no planted twin) is
    * decoded and fingerprinted ONCE into a persisted banded index
    * ([[graft.sources.IndexStore]] bucketed on the probe join's
    * (band_id, k) keys, build-once across processes); each serve run
    * decodes ONLY the arriving shard (ids % 10 == 3 — the clips with a
    * planted base twin) and probes the index. The batch twin re-decodes
    * the whole corpus per run (e100 0.92, decode-bound ∝ corpus); here
    * the per-run codec cost is ∝ shard, the 100 TB shape. Shard docs sit
    * on the larger-id side of every candidate, mirroring
    * [[graft.operators.Dedup.dedupIncremental]]'s convention; the oracle
    * is the batch chain restricted to shard-arrival pairs. */
  def mediaFpServe(spark: SparkSession, dir: String): DataFrame = {
    val clips = media(spark, dir, wavNear)
    val isArriving = col("media_id") % 10 === 3
    val index = graft.sources.IndexStore.cachedBucketTable(
      spark, dir, "documents", "audiofp", 8,
      Seq("band_id", "k"), Seq("band_id", "k")) {
      bands(decodeAudioFingerprint(clips.filter(!isArriving)))
    }
    val shard = bands(decodeAudioFingerprint(clips.filter(isArriving)))
    hammingPairs(index.unionByName(shard), shard)
  }

  /** Oracle for [[mediaFpServe]]: the batch fingerprint chain restricted
    * to pairs whose larger id is an arriving-shard clip. */
  private val mediaFpServeSql = mediaAudioDedupSql.replace(
    "WHERE bit_count(xor(ha, hb)) <= 3",
    "WHERE bit_count(xor(ha, hb)) <= 3 AND id_b % 10 = 3")

  // ------------------------------------- perceptual-hash image dedup

  /** Renderer for the near-dup PNG variant: ids ending in 7 render the
    * PREVIOUS id's image with a single-pixel perturbation (the (0,0) red
    * channel +1 mod 256) — one planted near-duplicate pair per 10 ids;
    * every other id renders its own formula image. Same closed-form
    * pixel math as [[renderPng]], so the oracle derives every raster
    * without the codec. */
  private def renderPngNear(id: Long): Array[Byte] = {
    val src = if (id % 10 == 7) id - 1 else id
    encodeRaster("png") { (x, y) =>
      // quadratic cross-term mixing (unlike renderPng's linear ramps):
      // adjacent-pixel luma differences vary per (id, x, y), so dHash
      // bits are near-random across unrelated images — a linear ramp
      // makes every image's hash collapse onto the same few patterns
      // and floods hamming<=3 with structural false positives
      var r = ((src * 31 + (x * 7 + y * 13 + x * x * 3 + y * y * 5 +
        x * y * 11) * (1 + src % 7)) % 256).toInt
      val g = ((src * 17 + (x * 5 + y * 11 + x * x * 7 + y * y * 3 +
        x * y * 19) * (1 + src % 11)) % 256).toInt
      val b = ((src * 13 + (x * 3 + y * 29 + x * x * 5 + y * y * 7 +
        x * y * 23) * (1 + src % 13)) % 256).toInt
      if (id % 10 == 7 && x == 0 && y == 0) r = (r + 1) % 256
      (r << 16) | (g << 8) | b
    }
  }

  private[multimodal] val pngNear = Codec("png_near", "image/png", renderPngNear)

  /** Difference-hash off the REAL decoded raster: an 8×8 luma grid
    * sampled at every other pixel (integer luma 299r+587g+114b — exact,
    * no float), one bit per horizontal neighbor comparison (7 per row ×
    * 8 rows = 56 bits packed into a nonnegative long). A one-pixel edit
    * flips at most its own grid cell's two adjacent comparisons, so
    * planted near-copies land within hamming 2 of their source while
    * unrelated images differ in ~28 bits. */
  private[multimodal] def decodeDhash(media: DataFrame): Dataset[MediaHash] =
    decodeStage(media) { (id, payload) =>
      val img = readImage(payload)
      def luma(px: Int, py: Int): Long = {
        val rgb = img.getRGB(px, py)
        299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
          114L * (rgb & 0xff)
      }
      var hash = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 7) {
          if (luma(2 * (x + 1), 2 * y) > luma(2 * x, 2 * y))
            hash |= 1L << (y * 7 + x)
          x += 1
        }
        y += 1
      }
      MediaHash(id, hash)
    }

  /** Image near-duplicate pairs through the real PNG codec — the
    * image-side twin of the text SimHash pipeline. Hash-oracled: DuckDB
    * derives every raster from the closed-form pixel formulas (never
    * decoding a byte) and must land on identical pairs. */
  def mediaPhashDedup(spark: SparkSession, dir: String): DataFrame = {
    // deliberately NOT pinned (unlike mediaAudioDedup): the r16 A/B
    // measured the localCheckpoint variant WORSE here (0.61 -> 0.72 s at
    // sf0.1) — decoding the tiny 16x16 PNGs twice is cheaper than the
    // pin's materialization job; honest negative recorded
    val banded = bands(decodeDhash(media(spark, dir, pngNear)))
    hammingPairs(banded, banded)
  }

  /** Oracle for [[mediaPhashDedup]]: the identical dHash/band/verify
    * chain over formula-derived rasters. */
  private val mediaPhashDedupSql =
    """WITH ids AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 10 = 7 THEN doc_id - 1 ELSE doc_id END AS src
      |  FROM documents),
      |lum AS (
      |  SELECT media_id, x.x AS x, y.y AS y,
      |    299 * ((src * 31 + ((2*x.x) * 7 + (2*y.y) * 13
      |            + (2*x.x) * (2*x.x) * 3 + (2*y.y) * (2*y.y) * 5
      |            + (2*x.x) * (2*y.y) * 11) * (1 + src % 7)
      |            + CASE WHEN media_id % 10 = 7 AND x.x = 0 AND y.y = 0
      |                   THEN 1 ELSE 0 END) % 256)
      |    + 587 * ((src * 17 + ((2*x.x) * 5 + (2*y.y) * 11
      |            + (2*x.x) * (2*x.x) * 7 + (2*y.y) * (2*y.y) * 3
      |            + (2*x.x) * (2*y.y) * 19) * (1 + src % 11)) % 256)
      |    + 114 * ((src * 13 + ((2*x.x) * 3 + (2*y.y) * 29
      |            + (2*x.x) * (2*x.x) * 5 + (2*y.y) * (2*y.y) * 7
      |            + (2*x.x) * (2*y.y) * 23) * (1 + src % 13)) % 256)
      |      AS luma
      |  FROM ids, UNNEST(range(0, 8)) x(x), UNNEST(range(0, 8)) y(y)),
      |bits AS (
      |  SELECT a.media_id, a.y, a.x,
      |    CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit
      |  FROM lum a JOIN lum b ON b.media_id = a.media_id AND b.y = a.y
      |    AND b.x = a.x + 1
      |  WHERE a.x < 7),
      |hashes AS (
      |  SELECT media_id,
      |    CAST(SUM(CAST(bit AS BIGINT) * (1::BIGINT << (y * 7 + x)))
      |      AS BIGINT) AS dhash
      |  FROM bits GROUP BY media_id),
      |bands AS (
      |  SELECT media_id, dhash, b.b AS band_id,
      |    (dhash >> (b.b * 14)) & 16383 AS k
      |  FROM hashes, UNNEST([0, 1, 2, 3]) b(b)),
      |cand AS (
      |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
      |    a.dhash AS ha, b.dhash AS hb
      |  FROM bands a JOIN bands b
      |    ON a.band_id = b.band_id AND a.k = b.k
      |    AND a.media_id < b.media_id)
      |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  /** Every synthetic media format; each kind is a FixtureCache identity. */
  private[multimodal] val codecs: Seq[Codec] =
    Seq(png, jpeg, wav, gif, aviMjpeg, wavAdpcm, h264, wavNear, pngNear)

  val defs: Seq[graft.QueryDef] = Seq(
    graft.QueryDef("q_media_frames", mediaFrames, Some(mediaFramesSql)),
    graft.QueryDef("q_media_features", mediaFeatures, Some(mediaFeaturesSql)),
    graft.QueryDef("q_media_audio", mediaAudio, Some(mediaAudioSql)),
    graft.QueryDef("q_media_resize", mediaResize, Some(mediaResizeSql)),
    graft.QueryDef("q_media_video", mediaVideo, Some(mediaVideoSql)),
    graft.QueryDef("q_media_jpeg", mediaJpeg, Some(mediaJpegSql)),
    graft.QueryDef("q_media_mjpeg", mediaMjpeg, Some(mediaMjpegSql)),
    graft.QueryDef("q_media_adpcm", mediaAdpcm, Some(mediaAdpcmSql)),
    // baseline I_PCM H.264: real Annex-B demux + Exp-Golomb entropy
    // decode; lossless, so the pixel oracle is exact
    graft.QueryDef("q_media_h264", mediaH264, Some(mediaH264Sql)),
    graft.QueryDef("q_media_phash_dedup", mediaPhashDedup,
      Some(mediaPhashDedupSql)),
    graft.QueryDef("q_media_audio_dedup", mediaAudioDedup,
      Some(mediaAudioDedupSql)),
    graft.QueryDef("q_media_fp_serve", mediaFpServe,
      Some(mediaFpServeSql)),
  )

  /** Frame-sampling plumbing for variable-length media: explode a payload
    * into fixed-size chunk "frames" with indices (pure column exprs — the
    * chunking pattern used to shard large media across tasks). Zero-byte
    * or null-length media yield zero frames (sequence(0, -1) would flip to
    * a DESCENDING sequence, emitting phantom frames — guarded). */
  def sampleFrames(media: DataFrame, frameBytes: Int): DataFrame =
    media
      .select(col("media_id"), col("meta.byte_len").as("byte_len"),
        posexplode(expr(
          s"CASE WHEN coalesce(meta.byte_len, 0) > 0 THEN " +
            s"transform(sequence(0, CAST((meta.byte_len - 1) DIV $frameBytes AS INT)), " +
            s"i -> substring(payload, i * $frameBytes + 1, $frameBytes)) " +
            s"ELSE CAST(array() AS ARRAY<BINARY>) END")))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "frame_payload")
}
