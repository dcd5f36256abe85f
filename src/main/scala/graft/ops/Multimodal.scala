package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.control.NonFatal

/** Multimodal column handling (SURVEY.md §2 H5 + the training-pipeline
  * mandate): image/audio/video travel as opaque `binary` columns with a
  * typed metadata struct; decode / feature-extract run per-partition so a
  * 100 TB corpus streams through executors in bounded batches.
  *
  * IMAGE decode is REAL (r8): pure-JDK `javax.imageio` reads PNG / JPEG
  * / BMP / GIF with no native codecs, so [[decodeImage]] extracts actual
  * width / height / channel count, and [[resize]] really rescales and
  * re-encodes decodable images. AUDIO header parse is REAL (r9):
  * [[decodeWav]] walks the RIFF/WAVE container byte-by-byte (pure JVM,
  * headless) for sample rate / channels / bit depth / frame count /
  * integer-exact duration. VIDEO demux is REAL for AVI (r12 — the last
  * stub retired): [[decodeAvi]] walks the RIFF/AVI container (hdrl
  * headers + movi frame chunks), [[aviFrameGray8]] reconstructs
  * uncompressed-DIB rasters losslessly, and [[aviFrameImage]] decodes
  * MJPG frames through the JDK JPEG codec. Bytes no parser recognizes
  * (e.g. MP4/MKV — their demux genuinely has no pure-JDK path) fall
  * back to the deterministic [[decodeStub]]/[[audioStub]]/byte-window
  * frames, flagged `decoded = false` so downstream consumers can tell
  * real measurements from fakes. Everything around the codec — schema,
  * partition-parallel execution shape, batch iteration, null handling —
  * is identical on both paths.
  */
object Multimodal {

  /** Canonical multimodal record schema. `meta.decoded` says whether
    * width/height/channels came from a real codec (true) or the
    * deterministic fallback (false, channels 0).
    */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("n_bytes", IntegerType, nullable = false),
      StructField("magic_hex", StringType, nullable = true),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false),
      StructField("decoded", BooleanType, nullable = false))),
      nullable = true)))

  // ImageIO's default scratch-file cache would have every executor
  // thread writing temp files per decode; decode in-memory.
  javax.imageio.ImageIO.setUseCache(false)

  /** REAL image decode via the JDK's registered ImageIO readers
    * (PNG/JPEG/BMP/GIF out of the box): (width, height, channels), or
    * None when no reader recognizes the bytes. Per-partition callers
    * amortize nothing here — ImageIO reader instances are produced per
    * call — but the JVM-wide reader registry is initialized once.
    */
  def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Int)] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else Some((img.getWidth, img.getHeight, img.getRaster.getNumBands))
    } catch { case NonFatal(_) => None }

  /** FALLBACK decode for undecodable bytes (and the only path for
    * audio/video — no JDK demuxer): a rolling byte hash seeds
    * deterministic fake "dimensions", so the fan-out/sizing plumbing
    * still exercises plausible numbers.
    */
  def decodeStub(bytes: Array[Byte]): (Int, Int) = {
    var h = 17L
    var i = 0
    while (i < math.min(bytes.length, 256)) { h = h * 31 + (bytes(i) & 0xff); i += 1 }
    val w = 64 + (math.abs(h) % 960).toInt // fake 64..1023 px
    val ht = 64 + (math.abs(h / 1024) % 960).toInt
    (w, ht)
  }

  /** Wrap a (id, binary) DataFrame into the canonical media schema,
    * running the decoder once per row, partition-parallel — the Scala
    * analogue of a mapInPandas batch UDF. Real codec first, stub
    * fallback, `meta.decoded` records which.
    */
  def extractFeatures(df: DataFrame, idCol: String, binCol: String,
                      mediaType: String): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    df.select(col(idCol).cast(LongType), col(binCol))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          if (bytes == null) Row(id, mediaType, null, null)
          else {
            val magic = bytes.take(4).map("%02X".format(_)).mkString
            val meta = decodeImage(bytes) match {
              case Some((w, h, ch)) => Row(bytes.length, magic, w, h, ch, true)
              case None =>
                val (w, h) = decodeStub(bytes)
                Row(bytes.length, magic, w, h, 0, false)
            }
            Row(id, mediaType, bytes, meta)
          }
        }
      }(enc)
  }

  /** REAL image resize: decode, scale to targetW x targetH
    * (bilinear), re-encode as PNG — all pure JDK. Returns
    * (pngBytes, channels), or None when the bytes aren't a decodable
    * image.
    */
  def resizeImage(bytes: Array[Byte], targetW: Int,
                  targetH: Int): Option[(Array[Byte], Int)] =
    try {
      val src = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (src == null) None
      else {
        // Normalize to RGB/gray: PNG encode of exotic band layouts can
        // fail, and a fixed type keeps the output deterministic.
        val outType =
          if (src.getRaster.getNumBands == 1)
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY
          else java.awt.image.BufferedImage.TYPE_3BYTE_BGR
        val dst = new java.awt.image.BufferedImage(targetW, targetH, outType)
        val g = dst.createGraphics()
        try {
          g.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(src, 0, 0, targetW, targetH, null)
        } finally g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(dst, "png", bos)
        Some((bos.toByteArray, dst.getRaster.getNumBands))
      }
    } catch { case NonFatal(_) => None }

  /** FALLBACK resize for undecodable bytes: output = a
    * rolling-hash-seeded prefix whose length scales with the target
    * pixel count (so downstream sizing logic — maxPartitionBytes math,
    * batch shaping — exercises real numbers).
    */
  def resizeStub(bytes: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
    val outLen = math.max(16, math.min(bytes.length,
      (targetW.toLong * targetH / 64).toInt))
    val out = new Array[Byte](outLen)
    var h = 1469598103934665603L
    var i = 0
    while (i < outLen) {
      h = (h ^ bytes(i % bytes.length)) * 1099511628211L
      out(i) = (h >>> 24).toByte
      i += 1
    }
    out
  }

  /** Resize pass over the canonical media schema: one row in, one row
    * out, content replaced by the re-encoded bytes and meta updated to
    * the target dimensions. Decodable images really rescale
    * ([[resizeImage]]); everything else takes the deterministic stub,
    * flagged `decoded = false`. Partition-parallel, null-safe.
    */
  def resize(media: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    media.mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
        if (bytes == null) r
        else {
          val (out, ch, real) = resizeImage(bytes, targetW, targetH) match {
            case Some((png, ch)) => (png, ch, true)
            case None => (resizeStub(bytes, targetW, targetH), 0, false)
          }
          val magic = out.take(4).map("%02X".format(_)).mkString
          Row(r.getLong(0), r.getString(1), out,
            Row(out.length, magic, targetW, targetH, ch, real))
        }
      }
    }(enc)
  }

  /** Canonical audio record schema ([[extractAudioFeatures]]).
    * `meta.decoded` true = fields parsed from a real RIFF/WAVE header,
    * false = the deterministic stub (sample_rate 0).
    */
  val audioSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("n_bytes", IntegerType, nullable = false),
      StructField("magic_hex", StringType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false),
      StructField("bits_per_sample", IntegerType, nullable = false),
      StructField("n_frames", LongType, nullable = false),
      StructField("duration_ms", LongType, nullable = false),
      StructField("decoded", BooleanType, nullable = false))),
      nullable = true)))

  /** REAL audio header parse (r9 — shrinks the stub surface the way r8's
    * `javax.imageio` did for images): pure-JVM RIFF/WAVE container walk.
    * Returns (sampleRate, channels, bitsPerSample, nFrames) from the
    * `fmt ` and `data` chunks, or None for anything that is not a
    * well-formed WAV (those fall to [[audioStub]]). Canonical layout per
    * the public RIFF spec: little-endian chunk sizes, word-aligned
    * chunks (odd sizes carry a pad byte), frames = data bytes /
    * block-align. No JDK sound classes — a byte walk works headless on
    * any JVM and never touches javax.sound's provider registry.
    */
  def decodeWav(bytes: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def u16(o: Int): Int =
      (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u32(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    def tag(o: Int): String =
      new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    try {
      if (bytes.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE")
        return None
      var off = 12
      var fmt: Option[(Int, Int, Int, Int)] = None // rate, ch, bits, blockAlign
      var dataSize = -1L
      while (off + 8 <= bytes.length && (fmt.isEmpty || dataSize < 0)) {
        val id = tag(off)
        val size = u32(off + 4)
        val payload = off + 8
        if (id == "fmt " && size >= 16 && payload + 16 <= bytes.length)
          fmt = Some((u32(payload + 4).toInt, u16(payload + 2),
            u16(payload + 14), u16(payload + 12)))
        else if (id == "data")
          // size may legitimately exceed the buffer for a truncated
          // capture; frames come from the declared size, clamped.
          dataSize = math.min(size, (bytes.length - payload).toLong)
        // advance in Long space: a size >= 2^31 would wrap negative
        // through toInt and stall or reverse the walk (a crafted
        // 0xFFFFFFF8 size loops forever) — clamp past the buffer end
        // instead, which terminates the loop.
        off = math.min(payload.toLong + size + (size & 1L),
          bytes.length.toLong).toInt
      }
      fmt match {
        case Some((rate, ch, bits, block))
            if rate > 0 && ch > 0 && block > 0 && dataSize >= 0 =>
          Some((rate, ch, bits, dataSize / block))
        case _ => None
      }
    } catch { case NonFatal(_) => None }
  }

  /** FALLBACK audio metadata for non-WAV bytes: rolling-hash-seeded
    * deterministic fakes (sample_rate 0 + decoded=false mark it fake).
    */
  def audioStub(bytes: Array[Byte]): (Int, Long) = {
    val (w, h) = decodeStub(bytes)
    (w % 2 + 1, (h.toLong * 16)) // fake channels 1..2, fake frame count
  }

  /** Audio twin of [[extractFeatures]]: (id, binary) rows → canonical
    * audio schema, real RIFF/WAVE parse first, stub fallback, partition-
    * parallel. duration_ms is integer-exact: frames * 1000 / rate.
    */
  def extractAudioFeatures(df: DataFrame, idCol: String,
                           binCol: String): DataFrame = {
    val enc = RowEncoder.encoderFor(audioSchema)
    df.select(col(idCol).cast(LongType), col(binCol))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          if (bytes == null) Row(id, null, null)
          else {
            val magic = bytes.take(4).map("%02X".format(_)).mkString
            val meta = decodeWav(bytes) match {
              case Some((rate, ch, bits, frames)) =>
                Row(bytes.length, magic, rate, ch, bits, frames,
                  frames * 1000L / rate, true)
              case None =>
                val (ch, frames) = audioStub(bytes)
                Row(bytes.length, magic, 0, ch, 0, frames, 0L, false)
            }
            Row(id, bytes, meta)
          }
        }
      }(enc)
  }

  // ------------------------------------------------------------------
  // VIDEO: real pure-JDK AVI demux (r12 — retires the last media stub).
  // AVI is RIFF (the container family decodeWav already walks); frames
  // live in the 'movi' LIST as '00db' (uncompressed DIB) or '00dc'
  // (compressed, e.g. MJPG = per-frame JPEG, which ImageIO decodes).
  // Uncompressed 8-bit DIB is lossless, which is what lets a synthetic
  // corpus be oracle-checked at the pixel contract; the MJPG path is
  // the real-world codec route (JDK JPEG decoder), exercised by spec.

  /** Parsed AVI stream facts: frame grid, declared frame count, and the
    * video stream's compression fourcc ("DIB " for biCompression=0,
    * else the fourcc bytes, e.g. "MJPG").
    */
  final case class VideoMeta(width: Int, height: Int, nFrames: Int,
                             bitCount: Int, fourcc: String)

  /** REAL AVI container parse: RIFF walk → 'hdrl' (avih + strf headers)
    * → 'movi' (frame chunks '00db'/'00dc' in stream order). Returns the
    * stream meta + every frame's raw payload, or None for anything that
    * is not a well-formed single-video-stream AVI. Pure byte walk, no
    * JDK media classes — headless on any JVM.
    */
  def decodeAvi(bytes: Array[Byte]): Option[(VideoMeta, Vector[Array[Byte]])] = {
    def u16(o: Int): Int =
      (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u32(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    def tag(o: Int): String =
      new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    try {
      if (bytes.length < 12 || tag(0) != "RIFF" || tag(8) != "AVI ")
        return None
      var w, h, nf, bits = -1
      var fourcc: String = null
      // stream type of the strl being walked ('vids'/'auds'/...), set by
      // each strh: an audio-first AVI's WAVEFORMATEXTENSIBLE strf is 40
      // bytes and would otherwise be misread as the BITMAPINFOHEADER.
      var strType: String = null
      val frames = Vector.newBuilder[Array[Byte]]
      // walk the chunks of [from, until); LISTs recurse one level at a
      // time — the same word-aligned walk as decodeWav.
      def walk(from: Int, until: Int): Unit = {
        var off = from
        while (off + 8 <= until) {
          val id = tag(off)
          // size stays a Long: a declared size >= 2^31 wraps negative
          // through toInt and stalls/reverses the walk (0xFFFFFFF8
          // loops forever); any chunk that cannot fit the buffer is
          // malformed — bail to the None fallback.
          val sizeL = u32(off + 4)
          if (sizeL > (bytes.length - (off + 8)).toLong)
            throw new IllegalArgumentException(s"chunk $id overruns buffer")
          val size = sizeL.toInt
          val payload = off + 8
          val end = math.min(until, payload + size)
          if (id == "LIST" && payload + 4 <= until) {
            val listType = tag(payload)
            if (listType == "hdrl" || listType == "strl" ||
              listType == "movi") walk(payload + 4, end)
          } else if (id == "avih" && size >= 40) {
            nf = u32(payload + 16).toInt
            w = u32(payload + 32).toInt
            h = u32(payload + 36).toInt
          } else if (id == "strh" && size >= 4) {
            strType = tag(payload)
          } else if (id == "strf" && size >= 40 && strType == "vids") {
            // BITMAPINFOHEADER of the (first) video stream
            if (bits < 0) {
              bits = u16(payload + 14)
              val comp = u32(payload + 16)
              fourcc =
                if (comp == 0L) "DIB "
                else new String(Array(
                  (comp & 0xff).toByte, ((comp >> 8) & 0xff).toByte,
                  ((comp >> 16) & 0xff).toByte, ((comp >> 24) & 0xff).toByte),
                  java.nio.charset.StandardCharsets.US_ASCII)
            }
          } else if (id == "00db" || id == "00dc") {
            frames += java.util.Arrays.copyOfRange(bytes, payload,
              payload + size)
          }
          off = payload + size + (size & 1) // word alignment
        }
      }
      walk(12, bytes.length)
      val fs = frames.result()
      if (w <= 0 || h <= 0 || bits <= 0 || fs.isEmpty) None
      else Some((VideoMeta(w, h, if (nf > 0) nf else fs.size, bits, fourcc),
        fs))
    } catch { case NonFatal(_) => None }
  }

  /** Top-down gray raster [y][x] of one UNCOMPRESSED 8-bit DIB frame
    * payload (bottom-up rows, 4-byte-aligned stride, palette-indexed —
    * the canonical gray palette maps index i to luminance i, so the
    * payload byte IS the luminance). None when the payload doesn't fit
    * the declared grid.
    */
  def aviFrameGray8(meta: VideoMeta,
                    payload: Array[Byte]): Option[Array[Array[Int]]] = {
    val stride = (meta.width + 3) & ~3
    if (meta.bitCount != 8 || meta.fourcc != "DIB " ||
      payload.length < stride * meta.height) None
    else Some(Array.tabulate(meta.height, meta.width) { (y, x) =>
      payload((meta.height - 1 - y) * stride + x) & 0xff // bottom-up
    })
  }

  /** One MJPG frame through the REAL JDK JPEG decoder: the '00dc'
    * payload of an MJPG stream is a standalone JPEG image.
    */
  def aviFrameImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload)))
    catch { case NonFatal(_) => None }

  /** REAL AVI encode (the synthesis twin of [[decodeAvi]], and the only
    * pure-JDK way to MAKE a test video): gray rasters → 8-bit
    * palette-DIB frames in a canonical RIFF layout (avih + one 'vids'
    * strl with a 256-gray palette, '00db' chunks, no idx1). Every byte
    * is written by this method — writing the container is how the
    * parser gets an honest corpus to parse.
    */
  def encodeAviGray8(frames: Seq[Array[Array[Int]]]): Array[Byte] = {
    require(frames.nonEmpty, "at least one frame")
    val h = frames.head.length
    val w = frames.head.head.length
    val stride = (w + 3) & ~3
    val bos = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    def u32(v: Long): Unit =
      (0 until 4).foreach(i => bos.write(((v >> (8 * i)) & 0xff).toInt))
    def u16(v: Int): Unit =
      (0 until 2).foreach(i => bos.write((v >> (8 * i)) & 0xff))
    val frameBytes = stride * h
    val strfSize = 40 + 256 * 4                    // header + palette
    val strlSize = 4 + 8 + 56 + 8 + strfSize       // 'strl' + strh + strf
    val hdrlSize = 4 + 8 + 56 + 8 + strlSize       // 'hdrl' + avih + LIST strl
    val moviSize = 4 + frames.size * (8 + frameBytes)
    val riffSize = 4 + 8 + hdrlSize + 8 + moviSize
    ascii("RIFF"); u32(riffSize); ascii("AVI ")
    ascii("LIST"); u32(hdrlSize); ascii("hdrl")
    ascii("avih"); u32(56)
    u32(40000)                 // usec/frame (25 fps)
    u32(frameBytes * 25L); u32(0); u32(0)
    u32(frames.size)           // dwTotalFrames
    u32(0); u32(1)             // one stream
    u32(frameBytes); u32(w); u32(h)
    (0 until 4).foreach(_ => u32(0))
    ascii("LIST"); u32(strlSize); ascii("strl")
    ascii("strh"); u32(56)
    ascii("vids"); ascii("DIB ")
    u32(0); u16(0); u16(0); u32(0)
    u32(1); u32(25)            // scale/rate = 25 fps
    u32(0); u32(frames.size)
    u32(frameBytes); u32(0xFFFFFFFFL); u32(0)
    u16(0); u16(0); u16(w); u16(h)
    ascii("strf"); u32(strfSize)
    u32(40); u32(w); u32(h); u16(1); u16(8)
    u32(0)                     // BI_RGB
    u32(frameBytes); u32(0); u32(0); u32(256); u32(0)
    (0 until 256).foreach(i => u32((i | (i << 8) | (i << 16)).toLong))
    ascii("LIST"); u32(moviSize); ascii("movi")
    frames.foreach { f =>
      ascii("00db"); u32(frameBytes)
      var y = h - 1              // bottom-up rows
      while (y >= 0) {
        var x = 0
        while (x < stride) {
          bos.write(if (x < w) f(y)(x) & 0xff else 0)
          x += 1
        }
        y -= 1
      }
    }
    bos.toByteArray
  }

  /** One sampled frame of a video blob ([[sampleFrames]]' row shape).
    * `decoded` says whether the frame payload came out of a REAL AVI
    * demux (true) or the byte-window stub (false).
    */
  val frameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("frame", BinaryType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("decoded", BooleanType, nullable = false)))

  /** FALLBACK frame count for bytes [[decodeAvi]] rejects (non-AVI
    * containers — no pure-JDK demuxer exists for MP4/MKV).
    * Deterministic fake: 1 frame per 64 bytes, 1..256.
    */
  def frameCountStub(bytes: Array[Byte]): Int =
    math.max(1, math.min(256, bytes.length / 64))

  /** Frame sampling: every `everyNth` frame of each video row is emitted
    * as its own row — the 1-to-N fan-out shape (flatMap inside
    * mapPartitions, so the decoder amortizes per partition and a single
    * huge video streams frames without materializing them all). AVI
    * bytes go through the REAL demux ([[decodeAvi]] — true frame count
    * from the container, true frame payloads, `decoded = true`); other
    * containers fall back to the deterministic byte-window stub flagged
    * `decoded = false`. Null or empty content yields no rows. At
    * 100 TB: the fan-out multiplies ROWS, not bytes read — each emitted
    * frame is a slice, and the output is typically written partitioned
    * by media_id range so one video's frames stay co-located for the
    * training shuffle.
    */
  def sampleFrames(media: DataFrame, everyNth: Int): DataFrame = {
    require(everyNth >= 1, "everyNth must be >= 1")
    val enc = RowEncoder.encoderFor(frameSchema)
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
        if (bytes == null || bytes.isEmpty) Iterator.empty
        else {
          val id = r.getLong(0)
          decodeAvi(bytes) match {
            case Some((meta, frames)) =>
              (0 until frames.size by everyNth).iterator.map { f =>
                Row(id, f, frames(f), frames.size, true)
              }
            case None =>
              val n = frameCountStub(bytes)
              // fake payload: the byte window "belonging" to the frame
              (0 until n by everyNth).iterator.map { f =>
                val from = (f.toLong * bytes.length / n).toInt
                val until = ((f + 1).toLong * bytes.length / n).toInt
                Row(id, f, java.util.Arrays.copyOfRange(bytes, from,
                  math.max(from + 1, until)), n, false)
              }
          }
        }
      }
    }(enc)
  }
}

/** Declared multimodal queries — the oracle-checkable subset (pure SQL
  * byte plumbing; the mapPartitions path is covered by ScalaTest).
  */
object MultimodalQueries {
  import graft.{QueryDef, Tables}

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_multimodal_meta",
      "Binary-column plumbing: treat document text bytes as an opaque " +
        "blob; compute byte length, magic-prefix hex, and a deterministic " +
        "fake media type (decode itself is stubbed — no codecs here).",
      (s, dir) => {
        Tables.t(s, dir, "documents")
          .withColumn("blob", col("text").cast(BinaryType))
          .select(
            col("doc_id"),
            octet_length(col("text")).as("n_bytes"),
            upper(substring(hex(col("blob")), 1, 8)).as("magic_hex"),
            element_at(
              array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
              (col("doc_id") % 3 + 1).cast(IntegerType)).as("fake_media_type"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             |  upper(substr(hex(encode(text)), 1, 8)) AS magic_hex,
             |  (['image/png','audio/wav','video/mp4'])[CAST(doc_id % 3 AS INT) + 1]
             |    AS fake_media_type
             |FROM documents ORDER BY doc_id""".stripMargin)
    )
  )
}
