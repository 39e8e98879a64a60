package graft.operators

import java.awt.image.BufferedImage

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media are opaque `binary` columns plus a typed metadata struct, and the
  * codecs are REAL, all JDK-builtin: PNG and animated GIF through
  * `javax.imageio`, WAV through `javax.sound.sampled`, and MJPEG-style
  * clips of PNG frames. Every codec is lossless, which is what makes the
  * oracles exact: decoded values equal the generation formula, so DuckDB
  * restates the expected statistics from the formula alone while the
  * Spark side exercises the actual codec.
  *
  * Every builder and decoder is one skeleton around three shared pieces:
  *  1. one partition loop (`perRow`): the output schema, its encoder, the
  *     `mapPartitions` batch pass (the Scala analogue of arrow-batched
  *     Pandas UDFs: amortized per-partition setup, no per-row interpreter
  *     crossings) and `ImageIO.setUseCache(false)` once per partition. The
  *     four `*MediaTable` builders reach it through `mediaTable` (input
  *     `id`), the eight decoders through `decoder` (input
  *     `media_id, blob`);
  *  2. one corrupt-media policy, inside that loop: strict streams a blob's
  *     rows lazily and fails the job loudly; `lenient` materializes them
  *     first and skips the whole blob on any non-fatal failure;
  *  3. one image read and one pixel reducer: `readImage` turns ImageIO's
  *     null into an IOException, and `rgbSums` / `absDiffSums` are the only
  *     code that reads pixels.
  * An operator only says how one blob becomes rows. The codec bodies and
  * the GIF reader stay outside the skeleton. Partition sizing
  * ([[repartitionForMedia]]) keeps a partition of blobs inside executor
  * memory at any corpus size.
  */
object Multimodal {

  /** Deterministic image dimensions/pixels for id — the shared contract
    * between the executor-side PNG fixture and the DuckDB oracle
    * restatement (all integer arithmetic, SQL-expressible):
    *   w = 8 + id % 9, h = 8 + (id * 7) % 9    (8..16 per side)
    *   r(x,y) = (id*31 + x*7  + y*13) % 256
    *   g(x,y) = (id*17 + x*3  + y*5 ) % 256
    *   b(x,y) = (id*13 + x*11 + y*3 ) % 256
    * Requires 0 <= id < 2^57 (doc ids are): the largest multiplier is
    * 31, and id*31 must not overflow Long or the executor formula and
    * any non-overflowing oracle restatement diverge. */
  @inline def imgW(id: Long): Int = (8 + id % 9).toInt
  @inline def imgH(id: Long): Int = (8 + (id * 7) % 9).toInt
  @inline def pxR(id: Long, x: Int, y: Int): Int = ((id * 31 + x * 7 + y * 13) % 256).toInt
  @inline def pxG(id: Long, x: Int, y: Int): Int = ((id * 17 + x * 3 + y * 5) % 256).toInt
  @inline def pxB(id: Long, x: Int, y: Int): Int = ((id * 13 + x * 11 + y * 3) % 256).toInt

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("blob", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType),
      StructField("n_bytes", LongType))))))

  /** Wrap a text table as a media table: blob = utf-8 bytes (the stand-in
    * for real image/audio payloads), typed metadata alongside. */
  def asMediaTable(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(
      col(idCol).as("media_id"),
      to_binary(col(payloadCol), lit("utf-8")).as("blob"),
      struct(
        lit("application/octet-stream").as("mime"),
        octet_length(col(payloadCol)).cast(LongType).as("n_bytes")).as("meta"))

  // ------------------------------------------------------ the skeleton

  private def fields(t: DataType, names: String*): Seq[StructField] =
    names.map(StructField(_, t))

  /** The one partition loop. `rows` turns one input row into its output
    * rows; the corrupt-media policy decides what a failure does:
    *  - strict (`lenient = false`): rows stream lazily, and a failure
    *    fails the job loudly;
    *  - lenient: at corpus scale SOME blobs are corrupt, and one bad
    *    container must not kill a 1000-executor job. An input row's output
    *    is materialized BEFORE it is emitted (a lazy iterator would emit a
    *    clip's early frames and then throw on a later corrupt one), and
    *    the whole row is skipped on any non-fatal failure. Rejects are
    *    recoverable relationally: anti-join input media_ids against the
    *    output. */
  private def perRow(in: DataFrame, out: Seq[StructField], lenient: Boolean)(
      rows: Row => Iterator[Row]): DataFrame =
    in.mapPartitions { part =>
      javax.imageio.ImageIO.setUseCache(false) // no temp-file cache per read
      part.flatMap { r =>
        if (!lenient) rows(r)
        else try rows(r).toVector.iterator
        catch { case NonFatal(_) => Iterator.empty }
      }
    }(RowEncoder.encoderFor(StructType(out)))

  /** Media table of executor-encoded blobs, one per row of `df` keyed by
    * the non-negative long `idCol`. Only the blob bytes ever sit in a row;
    * `meta` is (mime, n_bytes) followed by the integer `extra` fields,
    * valued by `extraOf(id)`. */
  private def mediaTable(df: DataFrame, idCol: String, mime: String, extra: String*)(
      encode: Long => Array[Byte], extraOf: Long => Seq[Int]): DataFrame = {
    val meta = StructType(
      fields(StringType, "mime") ++ fields(LongType, "n_bytes") ++ fields(IntegerType, extra: _*))
    val out = fields(LongType, "media_id") ++ fields(BinaryType, "blob") :+ StructField("meta", meta)
    perRow(df.select(col(idCol).cast(LongType)), out, lenient = false) { r =>
      val id = r.getLong(0)
      val blob = encode(id)
      Iterator.single(Row(id, blob, Row.fromSeq(Seq(mime, blob.length.toLong) ++ extraOf(id))))
    }
  }

  /** Decoder over `(media_id, blob)`: `out` lists the output columns after
    * the leading `media_id`, and `blobRows(id, blob)` yields one blob's
    * full output rows. */
  private def decoder(media: DataFrame, out: Seq[StructField], lenient: Boolean = false)(
      blobRows: (Long, Array[Byte]) => Iterator[Row]): DataFrame =
    perRow(media.select(col("media_id"), col("blob")),
      fields(LongType, "media_id") ++ out, lenient) { r =>
      blobRows(r.getLong(0), r.getAs[Array[Byte]](1))
    }

  /** `ImageIO.read`, except that unrecognizable bytes raise an IOException
    * naming `what`: ImageIO returns null for them, not an exception. */
  private def readImage(bytes: Array[Byte], what: => String): BufferedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) throw new java.io.IOException(s"undecodable $what")
    img
  }

  /** Per-channel (r, g, b) pixel sums over a decoded raster. */
  private def rgbSums(img: BufferedImage): (Long, Long, Long) = {
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val v = img.getRGB(x, y)
        sr += (v >> 16) & 0xFF
        sg += (v >> 8) & 0xFF
        sb += v & 0xFF
        x += 1
      }
      y += 1
    }
    (sr, sg, sb)
  }

  /** Per-channel sums of absolute pixel differences between two decoded
    * frames of the same size. */
  private def absDiffSums(cur: BufferedImage, prev: BufferedImage): (Long, Long, Long) = {
    var (dr, dg, db) = (0L, 0L, 0L)
    var y = 0
    while (y < cur.getHeight) {
      var x = 0
      while (x < cur.getWidth) {
        val a = cur.getRGB(x, y)
        val b = prev.getRGB(x, y)
        dr += math.abs(((a >> 16) & 0xFF) - ((b >> 16) & 0xFF))
        dg += math.abs(((a >> 8) & 0xFF) - ((b >> 8) & 0xFF))
        db += math.abs((a & 0xFF) - (b & 0xFF))
        x += 1
      }
      y += 1
    }
    (dr, dg, db)
  }

  // ------------------------------------------------------------- image

  /** Executor-side PNG encode of the deterministic raster for `id` —
    * a real `javax.imageio` compress, not a fake payload. */
  private def encodePng(id: Long): Array[Byte] =
    pngOf(imgW(id), imgH(id), (x, y) =>
      (pxR(id, x, y) << 16) | (pxG(id, x, y) << 8) | pxB(id, x, y))

  /** Media table of real PNG blobs, one image per row of `df` keyed by a
    * non-negative long `idCol`. Encoding runs distributed in
    * mapPartitions; only the ~0.5 KB PNG bytes ever sit in a row. */
  def pngMediaTable(spark: SparkSession, df: DataFrame, idCol: String): DataFrame =
    mediaTable(df, idCol, "image/png", "width", "height")(
      encodePng, id => Seq(imgW(id), imgH(id)))

  /** REAL decode + feature extraction: `ImageIO.read` over the PNG bytes,
    * then per-channel pixel sums over the decoded raster.
    *
    * `lenient = false` (default): an undecodable blob fails the job
    * loudly. `lenient = true`: corrupt rows are skipped (the shared
    * corrupt-media policy); rejects = input media_ids anti-joined against
    * the output. */
  def decodeFeatures(spark: SparkSession, media: DataFrame,
                     lenient: Boolean = false): DataFrame =
    decoder(media, fields(IntegerType, "width", "height") ++
      fields(LongType, "n_px", "sum_r", "sum_g", "sum_b"), lenient) { (id, blob) =>
      val img = readImage(blob, s"image blob $id")
      val (w, h) = (img.getWidth, img.getHeight)
      val (sr, sg, sb) = rgbSums(img)
      Iterator.single(Row(id, w, h, w.toLong * h, sr, sg, sb))
    }

  /** REAL resize: decode the PNG, nearest-neighbor-downsample the decoded
    * raster by integer `factor` (out(x,y) = in(factor*x, factor*y) — the
    * one resampling kernel with an exact relational restatement), then
    * RE-encode to PNG and decode AGAIN before computing the output pixel
    * sums, so the emitted values prove a full encode->decode->resize->
    * encode->decode round trip through the codec. The downsample copies
    * raw pixels within the decoded image's own color model, so it is
    * exact for every pixel format the reader returns. */
  def decodeResize(spark: SparkSession, media: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    decoder(media, fields(IntegerType, "out_w", "out_h") ++
      fields(LongType, "sum_r", "sum_g", "sum_b")) { (id, blob) =>
      val img = readImage(blob, s"image blob $id")
      val ow = math.max(1, img.getWidth / factor)
      val oh = math.max(1, img.getHeight / factor)
      val src = img.getRaster
      val dst = src.createCompatibleWritableRaster(ow, oh)
      var px: AnyRef = null
      for (y <- 0 until oh; x <- 0 until ow) {
        px = src.getDataElements(x * factor, y * factor, px)
        dst.setDataElements(x, y, px)
      }
      val small = new BufferedImage(img.getColorModel, dst, img.isAlphaPremultiplied, null)
      val bos = new java.io.ByteArrayOutputStream(512)
      javax.imageio.ImageIO.write(small, "png", bos)
      val (sr, sg, sb) = rgbSums(readImage(bos.toByteArray, s"resized image $id"))
      Iterator.single(Row(id, ow, oh, sr, sg, sb))
    }
  }

  // ------------------------------------------------------------- audio

  /** Deterministic PCM16 waveform for id — integer-only (no
    * transcendentals, so the DuckDB oracle restates it bit-exactly):
    *   n_samples = 800 + (id % 5) * 200          (800..1600)
    *   s(t) = ((id*31 + t*t*7 + t*13) % 65536) - 32768
    * Requires 0 <= id < 2^57 (see the image contract's overflow note). */
  @inline def audioN(id: Long): Int = (800 + (id % 5) * 200).toInt
  @inline def audioSample(id: Long, t: Int): Int =
    (((id * 31 + t.toLong * t * 7 + t * 13L) % 65536L) - 32768L).toInt

  private val AudioRate = 8000f
  private def audioFormat = new javax.sound.sampled.AudioFormat(
    AudioRate, 16, 1, true /*signed*/, false /*little-endian*/)

  /** Real WAV encode of PCM16 samples via JDK `javax.sound.sampled`. */
  private[graft] def encodeWav(samples: Array[Int]): Array[Byte] = {
    val pcm = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(s => pcm.putShort(s.toShort))
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm.array()), audioFormat,
      samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream(samples.length * 2 + 64)
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Real WAV decode back to PCM16 samples. Throws on unparsable bytes
    * (javax.sound raises UnsupportedAudioFileException). */
  private[graft] def decodeWav(wav: Array[Byte]): Array[Int] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val bytes = ais.readAllBytes()
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.tabulate(bytes.length / 2)(i => bb.getShort(i * 2).toInt)
  }

  /** Media table of real WAV blobs (PCM16 mono, 8 kHz), one clip per row
    * of `df` keyed by non-negative long `idCol`. */
  def wavMediaTable(spark: SparkSession, df: DataFrame, idCol: String): DataFrame =
    mediaTable(df, idCol, "audio/wav", "n_samples")(
      id => encodeWav(Array.tabulate(audioN(id))(audioSample(id, _))), id => Seq(audioN(id)))

  /** REAL audio decode + feature extraction: WAV bytes -> PCM samples ->
    * integer-exact clip statistics (abs-sum, energy, zero crossings —
    * the standard VAD/loudness primitives). PCM16-in-WAV is lossless, so
    * the oracle restates the waveform formula relationally.
    *
    * `lenient`: the shared corrupt-media policy — unparsable clips skip
    * instead of failing the job. */
  def decodeAudioFeatures(spark: SparkSession, media: DataFrame,
                          lenient: Boolean = false): DataFrame =
    decoder(media, fields(LongType, "n_samples", "sum_abs", "sum_sq", "zero_cross"),
      lenient) { (id, blob) =>
      val s = decodeWav(blob)
      var (sa, sq, zc) = (0L, 0L, 0L)
      var i = 0
      while (i < s.length) {
        sa += math.abs(s(i))
        sq += s(i).toLong * s(i)
        if (i > 0 && (s(i) < 0) != (s(i - 1) < 0)) zc += 1
        i += 1
      }
      Iterator.single(Row(id, s.length.toLong, sa, sq, zc))
    }

  /** REAL audio downsample: decode, keep every `factor`-th sample
    * (out(k) = in(factor*k) — exactly restatable), RE-encode to WAV and
    * decode AGAIN before computing output statistics, so emitted values
    * survived two codec round trips (same discipline as [[decodeResize]]). */
  def decodeAudioDownsample(spark: SparkSession, media: DataFrame,
                            factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    decoder(media, fields(LongType, "n_out", "sum_abs", "sum_sq")) { (id, blob) =>
      val s = decodeWav(blob)
      val nOut = math.max(1, s.length / factor)
      val back = decodeWav(encodeWav(Array.tabulate(nOut)(k => s(k * factor))))
      Iterator.single(Row(id, back.length.toLong,
        back.map(v => math.abs(v).toLong).sum, back.map(v => v.toLong * v).sum))
    }
  }

  // ------------------------------------------------------------- video

  /** Deterministic video clip for id — the shared contract between the
    * executor-side fixture and the DuckDB oracle restatement (integer
    * arithmetic only, SQL-expressible). Frame dims are constant per clip;
    * the pixel formula varies by frame index `f`:
    *   n_frames = 3 + id % 4                (3..6)
    *   w = 6 + id % 3, h = 6 + (id * 5) % 3 (6..8 per side)
    *   r(f,x,y) = (id*31 + f*19 + x*7  + y*13) % 256
    *   g(f,x,y) = (id*17 + f*23 + x*3  + y*5 ) % 256
    *   b(f,x,y) = (id*13 + f*29 + x*11 + y*3 ) % 256
    * Requires 0 <= id < 2^57 (see the image contract's overflow note). */
  @inline def vidFrames(id: Long): Int = (3 + id % 4).toInt
  @inline def vidW(id: Long): Int = (6 + id % 3).toInt
  @inline def vidH(id: Long): Int = (6 + (id * 5) % 3).toInt
  @inline def vpxR(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 31 + f * 19 + x * 7 + y * 13) % 256).toInt
  @inline def vpxG(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 17 + f * 23 + x * 3 + y * 5) % 256).toInt
  @inline def vpxB(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 13 + f * 29 + x * 11 + y * 3) % 256).toInt

  /** PNG-encode one raster given per-pixel packed RGB. */
  private[graft] def pngOf(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb(x, y)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream(1024)
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** MJPEG-style container framing: the JDK ships no video container
    * parser (AVI/MP4), so clips use a minimal length-prefixed framing —
    * 4-byte big-endian frame count, then per frame a 4-byte big-endian
    * length followed by real PNG bytes. The per-frame codec work (PNG
    * encode/decode via `javax.imageio`) is real; only the container is
    * this custom framing, exactly the seat an AVI/MJPEG parser takes. */
  private def encodeVideo(id: Long): Array[Byte] = {
    val (nf, w, h) = (vidFrames(id), vidW(id), vidH(id))
    val frames = Array.tabulate(nf) { f =>
      pngOf(w, h, (x, y) =>
        (vpxR(id, f, x, y) << 16) | (vpxG(id, f, x, y) << 8) | vpxB(id, f, x, y))
    }
    val bb = java.nio.ByteBuffer.allocate(4 + frames.map(_.length + 4).sum)
    bb.putInt(nf)
    frames.foreach { p => bb.putInt(p.length); bb.put(p) }
    bb.array()
  }

  /** Parse the container into per-frame PNG byte slices.
    *
    * Length prefixes are UNTRUSTED input: a corrupt blob whose frame
    * count or frame length decodes to a huge positive int would drive
    * Array.fill / new Array[Byte] into an OutOfMemoryError — an Error
    * NonFatal does NOT catch, so the lenient corrupt-media policy
    * ("one bad container must not kill a 1000-executor job") would
    * still kill executors on that corruption class. Every prefix is
    * therefore validated against the bytes actually remaining (a frame
    * costs at least its 4-byte length prefix) and violations throw
    * IOException, which the lenient catch handles like any other
    * corruption (round-15 advice #1). */
  private[graft] def videoFrameBytes(blob: Array[Byte]): Array[Array[Byte]] = {
    val bb = java.nio.ByteBuffer.wrap(blob)
    if (bb.remaining() < 4)
      throw new java.io.IOException("truncated container: no frame count")
    val n = bb.getInt()
    if (n < 0 || n > bb.remaining() / 4)
      throw new java.io.IOException(
        s"corrupt frame count $n for ${bb.remaining()} payload bytes")
    Array.fill(n) {
      if (bb.remaining() < 4)
        throw new java.io.IOException("truncated container: no frame length")
      val len = bb.getInt()
      if (len < 0 || len > bb.remaining())
        throw new java.io.IOException(
          s"corrupt frame length $len with ${bb.remaining()} bytes left")
      val p = new Array[Byte](len); bb.get(p); p
    }
  }

  /** Decode every frame of a clip, IOException (not an opaque NPE) on
    * undecodable bytes — shared by the whole-clip decode family so the
    * corrupt-media policy is uniform (round-15 advice #2). */
  private def decodeAllFrames(id: Long, blob: Array[Byte]): Array[BufferedImage] =
    videoFrameBytes(blob).zipWithIndex.map { case (p, f) =>
      readImage(p, s"frame $f of clip $id")
    }

  /** (frame_idx, width, height): the leading columns of every per-frame
    * decoder. */
  private val frameCols = fields(IntegerType, "frame_idx", "width", "height")

  // -------------------------------------------------------- animated GIF

  /** 256-entry grayscale palette: exactly the value set of [[vpxR]], so
    * GIF's indexed color encodes these rasters LOSSLESSLY — the same
    * exact-oracle premise PNG gives the RGB paths. */
  private lazy val gray256: java.awt.image.IndexColorModel = {
    val ramp = Array.tabulate(256)(_.toByte)
    new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
  }

  /** Encode the deterministic clip as a STANDARD animated GIF (multi-
    * frame, via the JDK's GIF ImageWriter write-sequence API) — the
    * real-container seat the custom MJPEG-style framing cannot fill.
    * Frames are full-size 256-gray rasters with gray(f,x,y) = [[vpxR]];
    * the explicit [[gray256]] IndexColorModel becomes the GIF color
    * table verbatim, so no writer-side quantization can occur. */
  private[graft] def encodeGif(id: Long): Array[Byte] = {
    val (nf, w, h) = (vidFrames(id), vidW(id), vidH(id))
    encodeGifGray(nf, w, h, (f, x, y) => vpxR(id, f, x, y))
  }

  /** Animated-GIF encode of `nf` full-size gray frames (value function
    * in [0,255]) — content-generic so the codec round-trip property can
    * pin losslessness for ARBITRARY gray content, not just the fixture
    * formula. */
  private[graft] def encodeGifGray(nf: Int, w: Int, h: Int,
                                   gray: (Int, Int, Int) => Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(1024)
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      // The JDK GIF writer defaults to INTERLACED frames; disable it —
      // the row-reorder buys nothing for full-frame reads and the
      // row-0-only probe below showed interlaced tiny frames decode
      // wrong on the read side (row 1 lost on a 1x2 raster).
      val wp = writer.getDefaultWriteParam
      wp.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
      var f = 0
      while (f < nf) {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, gray256)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { raster.setSample(x, y, 0, gray(f, x, y)); x += 1 }
          y += 1
        }
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), wp)
        f += 1
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Decode ALL frames of a standard multi-frame image container (GIF)
    * through the JDK's format-detecting reader — `getNumImages` /
    * `read(i)`, no custom framing anywhere on the read path. Returns
    * the decoded gray rasters. IOException (never null/NPE) on
    * undecodable bytes, per the shared corrupt-media policy. */
  private[graft] def readGifFrames(id: Long,
                                   blob: Array[Byte]): Array[java.awt.image.BufferedImage] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(blob))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext)
        throw new java.io.IOException(s"unrecognized container for clip $id")
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        if (n <= 0)
          throw new java.io.IOException(s"no frames in clip $id")
        Array.tabulate(n)(reader.read(_))
      } finally reader.dispose()
    } finally iis.close()
  }

  /** Media table of STANDARD animated GIFs (one clip per row of `df`,
    * keyed by non-negative long `idCol`), encoded distributed via the
    * JDK GIF writer. Same clip geometry as [[videoMediaTable]]. */
  def gifMediaTable(spark: SparkSession, df: DataFrame, idCol: String): DataFrame =
    mediaTable(df, idCol, "image/gif", "n_frames", "width", "height")(
      encodeGif, id => Seq(vidFrames(id), vidW(id), vidH(id)))

  /** REAL standard-container video decode: ImageIO's multi-frame GIF
    * reader parses the container (no custom framing), every frame is
    * decoded and reduced to a gray pixel sum. Output one row per frame:
    * (media_id, frame_idx, width, height, sum_v). `lenient` skips a
    * corrupt clip atomically (the shared policy). */
  def decodeGifFrames(spark: SparkSession, media: DataFrame,
                      lenient: Boolean = false): DataFrame =
    decoder(media, frameCols ++ fields(LongType, "sum_v"), lenient) { (id, blob) =>
      val frames = readGifFrames(id, blob)
      Iterator.range(0, frames.length).map { f =>
        val img = frames(f)
        // gray raster: all three channels carry the same value
        Row(id, f, img.getWidth, img.getHeight, rgbSums(img)._1)
      }
    }

  /** Media table of MJPEG-style clips of real PNG frames, one clip per
    * row of `df` keyed by non-negative long `idCol`. Encoding runs
    * distributed; a clip is a few KB of PNG bytes. */
  def videoMediaTable(spark: SparkSession, df: DataFrame, idCol: String): DataFrame =
    mediaTable(df, idCol, "video/x-mjpeg-png", "n_frames", "width", "height")(
      encodeVideo, id => Seq(vidFrames(id), vidW(id), vidH(id)))

  /** REAL frame sampling + decode + feature extraction: parse the
    * container, ImageIO-decode every `stride`-th frame, reduce each to
    * per-channel pixel sums — the canonical video-pipeline primitive
    * (sample 1-in-k frames, featurize each). One output row per KEPT
    * frame; skipped frames are never decoded, which is the point of
    * sampling at 100 TB (decode cost scales with kept frames, I/O with
    * clip bytes).
    *
    * `lenient = false` (default): any unparsable container or
    * undecodable frame fails the job loudly. `lenient = true`: a corrupt
    * clip is skipped ATOMICALLY (no partial frames emitted) — the shared
    * corrupt-media policy; rejects = input media_ids anti-joined against
    * the output. */
  def decodeVideoFrames(spark: SparkSession, media: DataFrame,
                        stride: Int = 1, lenient: Boolean = false): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    decoder(media, frameCols ++ fields(LongType, "sum_r", "sum_g", "sum_b"),
      lenient) { (id, blob) =>
      val frames = videoFrameBytes(blob)
      Iterator.range(0, frames.length, stride).map { f =>
        val img = readImage(frames(f), s"frame $f of clip $id")
        val (sr, sg, sb) = rgbSums(img)
        Row(id, f, img.getWidth, img.getHeight, sr, sg, sb)
      }
    }
  }

  /** REAL temporal feature: decode ALL frames of each clip and sum the
    * absolute per-pixel differences between consecutive DECODED frames
    * per channel — the motion/scene-change primitive. Integer-exact over
    * lossless PNG frames, so the oracle restates it from the formula.
    * `lenient` skips a corrupt clip atomically (the shared policy). */
  def decodeVideoMotion(spark: SparkSession, media: DataFrame,
                        lenient: Boolean = false): DataFrame =
    decoder(media, fields(LongType, "n_frames", "motion_r", "motion_g", "motion_b"),
      lenient) { (id, blob) =>
      val frames = decodeAllFrames(id, blob)
      var (mr, mg, mb) = (0L, 0L, 0L)
      for (f <- 1 until frames.length) {
        val (dr, dg, db) = absDiffSums(frames(f), frames(f - 1))
        mr += dr
        mg += dg
        mb += db
      }
      Iterator.single(Row(id, frames.length.toLong, mr, mg, mb))
    }

  /** REAL per-pair temporal diffs: decode ALL frames and emit one row per
    * consecutive frame pair — (media_id, frame_idx of the LATER frame,
    * frame dims, per-channel abs pixel-diff sums). The keyframe /
    * scene-change primitive: a downstream relational filter on the diff
    * magnitude picks the frames where content moved, without any
    * driver-side logic. Integer-exact over lossless PNG frames.
    * `lenient` skips a corrupt clip atomically (the shared policy). */
  def decodeVideoFrameDiffs(spark: SparkSession, media: DataFrame,
                            lenient: Boolean = false): DataFrame =
    decoder(media, frameCols ++ fields(LongType, "diff_r", "diff_g", "diff_b"),
      lenient) { (id, blob) =>
      val frames = decodeAllFrames(id, blob)
      Iterator.range(1, frames.length).map { f =>
        val (dr, dg, db) = absDiffSums(frames(f), frames(f - 1))
        Row(id, f, frames(f).getWidth, frames(f).getHeight, dr, dg, db)
      }
    }

  /** Partition sizing for blob tables: compute total payload bytes (one
    * aggregate pass) and repartition so each partition holds roughly
    * `targetPartitionBytes` — the knob that keeps a media partition
    * inside executor memory at any corpus size. */
  def repartitionForMedia(media: DataFrame,
                          targetPartitionBytes: Long = 128L << 20): DataFrame = {
    val total = media.agg(sum(octet_length(col("blob")).cast(LongType)))
      .collect()(0).getLong(0)
    val parts = math.max(1, math.ceil(total.toDouble / targetPartitionBytes).toInt)
    media.repartition(parts)
  }

  /** Deterministic frame/chunk sampling: split a blob into fixed-size
    * chunks and keep every `stride`-th — the shape of video frame
    * sampling, as pure array expressions. */
  def sampleChunks(media: DataFrame, chunkBytes: Int = 64,
                   stride: Int = 4): DataFrame = {
    val nChunks = ceil(octet_length(col("blob")) / lit(chunkBytes.toDouble))
      .cast(IntegerType)
    media.select(
      col("media_id"),
      filter(sequence(lit(0), greatest(nChunks - 1, lit(0))),
        i => i % stride === 0).as("kept_chunks"),
      nChunks.as("n_chunks"))
  }
}
