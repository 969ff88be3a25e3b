package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (binary) column plumbing.
  *
  * Media payloads are opaque `binary` columns with typed metadata. The
  * decode/feature-extract step runs as a partition-wise batch operator
  * (`mapPartitions`) — rows stream through the decoder per partition
  * exactly as they would through a Pandas-UDF batch in PySpark; no shuffle,
  * no driver collection, so the operator scales linearly with partitions.
  *
  * Two decode tiers, both real:
  *   - header tier ([[decode]]/[[extractFeatures]]): pure-JVM magic-byte
  *     sniff plus width×height from PNG IHDR, JPEG SOFn, GIF logical
  *     screen, and BMP DIB headers — no pixel work, scan-speed;
  *   - pixel tier ([[ImageIoCodec]]/[[GifFrameSampler]]/[[pixelStats]]):
  *     full raster decode, bilinear resample, GIF frame demux with
  *     compositing, all on the JDK's headless `javax.imageio` +
  *     `java.awt.image` — no external codec jars.
  *
  * The near-dup matchers (image aHash/pHash, audio, both video forms)
  * share one shape: decode once, collapse identical hashes (or frame-hash
  * sequences) to a min-id representative with one window, then one
  * [[bandedHammingPairs]] run pass ([[Dedup.runPass]]) pairs the
  * representatives inside their band buckets and passes the collapsed
  * members through as star edges. No matcher self-joins or deduplicates
  * its candidates; the pass holds one band bucket in memory at a time and
  * checks its pairs, O(bucket²), the per-bucket work of the band
  * self-join it replaced.
  */
object Multimodal {

  final case class BinaryFeatures(byteLen: Long, contentMd5: String,
      headHex: String, format: String, width: Option[Int], height: Option[Int])

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  /** Magic-byte format sniff (the usual signatures; no library). */
  def sniffFormat(b: Array[Byte]): String =
    if (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N'
        && b(3) == 'G') "png"
    else if (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8)
      "jpeg"
    else if (b.length >= 6 && b.startsWith("GIF8".getBytes)) "gif"
    else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') "bmp"
    else if (b.length >= 12 && b.startsWith("RIFF".getBytes)
        && new String(b.slice(8, 12)) == "WAVE") "wav"
    else "unknown"

  /** Offset of the first SOFn marker's 0xff byte (C0–CF minus C4/C8/CC),
    * walking the segment chain past APPn/COM/fill bytes; [[dimensions]]
    * reads h/w at +5/+7 past it. */
  private def jpegSofOffset(b: Array[Byte]): Option[Int] =
    try {
      var i = 2
      while (i + 9 < b.length) {
        if ((b(i) & 0xff) != 0xff) return None
        // any number of 0xFF fill bytes may pad before a marker; consume
        // them one at a time or the real marker byte is read as a length
        if ((b(i + 1) & 0xff) == 0xff) i += 1
        else {
          val marker = b(i + 1) & 0xff
          if (marker >= 0xc0 && marker <= 0xcf &&
              marker != 0xc4 && marker != 0xc8 && marker != 0xcc)
            return Some(i)
          else if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd9))
            i += 2 // standalone markers carry no length
          else i += 2 + be16(b, i + 2)
        }
      }
      None
    } catch { case _: IndexOutOfBoundsException => None }

  /** Header-only dimension extraction.
    *
    *   - PNG: IHDR width/height, big-endian u32 at offsets 16/20;
    *   - JPEG: walk the segment chain to the first SOFn (C0–CF minus
    *     C4/C8/CC), height/width big-endian u16 at +3/+5 past the length;
    *   - GIF: logical-screen u16 LE at 6/8;
    *   - BMP: DIB i32 LE at 18/22.
    */
  def dimensions(b: Array[Byte]): (Option[Int], Option[Int]) =
    try sniffFormat(b) match {
      case "png" if b.length >= 24 &&
          new String(b.slice(12, 16)) == "IHDR" =>
        (Some(be32(b, 16)), Some(be32(b, 20)))
      // the walker only returns offsets with 10 readable bytes
      case "jpeg" => jpegSofOffset(b) match {
        case Some(i) => (Some(be16(b, i + 7)), Some(be16(b, i + 5)))
        case None => (None, None)
      }
      case "gif" if b.length >= 10 => (Some(le16(b, 6)), Some(le16(b, 8)))
      case "bmp" if b.length >= 26 => (Some(le32(b, 18)), Some(le32(b, 22)))
      case _ => (None, None)
    } catch { case _: IndexOutOfBoundsException => (None, None) }

  /** Decode one payload: byte-level features + format + dimensions. */
  def decode(bytes: Array[Byte]): BinaryFeatures = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val md5hex = md.digest(bytes).map("%02x".format(_)).mkString
    val head = bytes.take(8).map("%02X".format(_)).mkString
    val (w, h) = dimensions(bytes)
    BinaryFeatures(bytes.length.toLong, md5hex, head, sniffFormat(bytes), w, h)
  }

  // ---- resize -------------------------------------------------------------

  /** Pixel-level codec seam. The default implementation is the real
    * JDK codec below ([[ImageIoCodec]] — `javax.imageio` decode,
    * Java2D bilinear resample, same-format re-encode); the trait stays
    * the drop-in point for codecs with wider format support. */
  trait ImageCodec extends Serializable {
    /** Return the payload re-encoded at `w`×`h`. */
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte]
  }

  /** Real still-image codec on the JDK's built-in readers/writers
    * (PNG/JPEG/GIF/BMP, headless): decode the payload, bilinear-resample
    * onto a `w`×`h` raster via Java2D, re-encode in the SAME container
    * format. Payloads ImageIO can't decode (unknown magic, corrupt
    * stream) pass through unchanged — resize is best-effort on opaque
    * media columns, like the reference's binary passthrough
    * (core/dbio/iop/datatype.go:927-932 never fakes payloads).
    *
    * Animated GIFs collapse to their first frame here by ImageIO.read
    * semantics — frame-level work goes through [[frameSample]]. */
  object ImageIoCodec extends ImageCodec {
    javax.imageio.ImageIO.setUseCache(false) // in-memory streams, no tmp files
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
      import java.awt.image.BufferedImage
      val fmt = sniffFormat(payload)
      if (fmt != "png" && fmt != "jpeg" && fmt != "gif" && fmt != "bmp")
        return payload
      val src =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case _: Exception => null }
      if (src == null) return payload
      // JPEG/BMP writers reject alpha rasters; keep ARGB only where the
      // source had it and the container can carry it
      val imgType =
        if ((fmt == "png" || fmt == "gif") && src.getColorModel.hasAlpha)
          BufferedImage.TYPE_INT_ARGB
        else BufferedImage.TYPE_INT_RGB
      val dst = new BufferedImage(w, h, imgType)
      val g = dst.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(src, 0, 0, w, h, null)
      g.dispose()
      val out = new java.io.ByteArrayOutputStream()
      val written = javax.imageio.ImageIO.write(dst,
        if (fmt == "jpeg") "jpg" else fmt, out)
      if (written) out.toByteArray else payload
    }
  }

  /** Resize every payload in `binaryCol` to `w`×`h` via the codec —
    * partition-wise batch operator, one pass, no shuffle (the Scala
    * analogue of a Pandas-UDF batch). The column is replaced in place;
    * everything else flows through untouched. */
  def resize(df: DataFrame, binaryCol: String, w: Int, h: Int,
      codec: ImageCodec = ImageIoCodec): DataFrame = {
    val idx = df.schema.fieldIndex(binaryCol)
    val enc = ExpressionEncoder(RowEncoder.encoderFor(df.schema))
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        val vals = r.toSeq.toArray
        if (bytes != null) vals(idx) = codec.resize(bytes, w, h)
        Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
      }
    }(enc)
  }

  // ---- frame sampling -------------------------------------------------------

  /** Frame-extraction seam for video/animation payloads. The demux is a
    * sequential pass (how real demuxers deliver frames), so the seam is
    * a streaming method: decode the container once, emit every
    * `every`-th frame. The default [[GifFrameSampler]] is a real GIF
    * demuxer on the JDK's ImageIO reader; a video demuxer with external
    * codecs drops in behind the same trait. */
  trait FrameSampler extends Serializable {
    /** Demux `payload`, emitting `(frameIdx, ptsMs, frameBytes)` for
      * every `every`-th frame (0, every, 2·every, …). Undecodable
      * payloads emit nothing. */
    def frames(payload: Array[Byte], every: Int): Seq[(Int, Long, Array[Byte])]
  }

  /** Real GIF demuxer via the JDK's ImageIO GIF reader: walks the frame
    * sequence once, composites each frame onto the logical-screen canvas
    * (honoring per-frame left/top offsets and `none` /
    * `restoreToBackgroundColor` disposal — GIF frames are often partial
    * patches), reads per-frame delays from the GraphicControlExtension,
    * and emits sampled frames re-encoded as standalone PNGs (lossless,
    * self-contained). `ptsMs` is the sum of the delays of all preceding
    * frames. Still images (png/jpeg/bmp) demux as a single frame 0 —
    * the payload itself, unchanged. Anything else emits nothing.
    *
    * Sampled frames for ONE payload are materialized (resource-safe
    * reader lifecycle); only one clip is resident per task at a time. */
  object GifFrameSampler extends FrameSampler {
    javax.imageio.ImageIO.setUseCache(false)

    private def attr(meta: javax.imageio.metadata.IIOMetadata,
        tag: String, name: String, dflt: String): String = {
      val root = meta.getAsTree(meta.getNativeMetadataFormatName)
        .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      val nodes = root.getElementsByTagName(tag)
      if (nodes.getLength == 0) dflt
      else {
        val v = nodes.item(0).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
          .getAttribute(name)
        if (v == null || v.isEmpty) dflt else v
      }
    }

    def frames(payload: Array[Byte], every: Int): Seq[(Int, Long, Array[Byte])] =
      sniffFormat(payload) match {
        case "gif" => demuxGif(payload, every)
        case "png" | "jpeg" | "bmp" => Seq((0, 0L, payload))
        case _ => Seq.empty
      }

    private def demuxGif(payload: Array[Byte],
        every: Int): Seq[(Int, Long, Array[Byte])] = {
      import java.awt.image.BufferedImage
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        reader.setInput(iis, false, false)
        val n = reader.getNumImages(true)
        if (n <= 0) return Seq.empty
        // logical screen from the header (the canvas all frames patch)
        val (sw, sh) = dimensions(payload) match {
          case (Some(w), Some(h)) if w > 0 && h > 0 => (w, h)
          case _ => val f0 = reader.read(0); (f0.getWidth, f0.getHeight)
        }
        val canvas = new BufferedImage(sw, sh, BufferedImage.TYPE_INT_ARGB)
        val g = canvas.createGraphics()
        val out = Seq.newBuilder[(Int, Long, Array[Byte])]
        var ptsMs = 0L
        var i = 0
        while (i < n) {
          val img = reader.read(i)
          val meta = reader.getImageMetadata(i)
          val left = attr(meta, "ImageDescriptor", "imageLeftPosition", "0").toInt
          val top = attr(meta, "ImageDescriptor", "imageTopPosition", "0").toInt
          val delayCs =
            attr(meta, "GraphicControlExtension", "delayTime", "0").toInt
          val disposal = attr(meta, "GraphicControlExtension",
            "disposalMethod", "none")
          // restoreToPrevious (disposal 3): the canvas must revert to
          // its pre-frame state after this frame displays — snapshot it
          // BEFORE compositing or later frames carry stale patch pixels
          val prev =
            if (disposal == "restoreToPrevious") {
              val c = new BufferedImage(sw, sh, BufferedImage.TYPE_INT_ARGB)
              val cg = c.createGraphics()
              cg.drawImage(canvas, 0, 0, null)
              cg.dispose()
              c
            } else null
          g.drawImage(img, left, top, null)
          if (i % every == 0) {
            val copy = new BufferedImage(sw, sh, BufferedImage.TYPE_INT_ARGB)
            val cg = copy.createGraphics()
            cg.drawImage(canvas, 0, 0, null)
            cg.dispose()
            val bo = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(copy, "png", bo)
            out += ((i, ptsMs, bo.toByteArray))
          }
          if (disposal == "restoreToBackgroundColor") {
            val comp = g.getComposite
            g.setComposite(java.awt.AlphaComposite.Clear)
            g.fillRect(left, top, img.getWidth, img.getHeight)
            g.setComposite(comp)
          } else if (prev != null) {
            // Src replaces every canvas pixel (alpha included) with the
            // pre-frame snapshot
            val comp = g.getComposite
            g.setComposite(java.awt.AlphaComposite.Src)
            g.drawImage(prev, 0, 0, null)
            g.setComposite(comp)
          }
          ptsMs += delayCs * 10L
          i += 1
        }
        g.dispose()
        out.result()
      } catch {
        case _: Exception => Seq.empty // corrupt stream: nothing to demux
      } finally {
        reader.dispose()
        iis.close()
      }
    }
  }

  /** Sample every `every`-th frame of each payload: one OUTPUT ROW per
    * sampled frame (`frame_idx`, `pts_ms`, `frame`), original columns
    * carried through. flatMap-shaped partition-wise operator — the fan-out
    * happens executor-side with no shuffle, so a 100×-frames clip costs
    * its own partition only. */
  def frameSample(df: DataFrame, binaryCol: String, every: Int = 1,
      sampler: FrameSampler = GifFrameSampler): DataFrame = {
    require(every >= 1, s"every must be >= 1, got $every")
    val idx = df.schema.fieldIndex(binaryCol)
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("frame_idx", IntegerType),
      StructField("pts_ms", LongType),
      StructField("frame", BinaryType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    df.mapPartitions { it =>
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        if (bytes == null) Iterator.empty
        else sampler.frames(bytes, every).iterator.map { case (f, pts, fb) =>
          Row.fromSeq(r.toSeq ++ Seq(f, pts, fb))
        }
      }
    }(enc)
  }

  // ---- decode-and-append scaffold --------------------------------------------

  /** Shared shape of every decode-and-append operator (extractFeatures /
    * pixelStats / audioFeatures): ONE partition-wise pass mapping
    * `binaryCol`'s bytes through `decode` and appending `fields`;
    * `nullRow` is emitted for null payloads. Decoders must box values to
    * each field's exact type (return Seq[Any] — a bare Seq(Int, Long)
    * harmonizes the Ints to Long, which INT columns reject). */
  private def appendDecoded(df: DataFrame, binaryCol: String,
      fields: Seq[StructField], nullRow: Seq[Any])(
      decode: Array[Byte] => Seq[Any]): DataFrame = {
    val idx = df.schema.fieldIndex(binaryCol)
    val outSchema = StructType(df.schema.fields ++ fields)
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        Row.fromSeq(r.toSeq ++ (if (bytes == null) nullRow else decode(bytes)))
      }
    }(enc)
  }

  // ---- decoded pixel statistics --------------------------------------------

  /** Per-payload raster statistics, from a REAL pixel decode
    * (`javax.imageio`): decoded width/height and integer mean of each
    * channel over every pixel. Unlike [[extractFeatures]] (header-only),
    * this decodes the raster — a payload whose header claims one size
    * but whose pixel data is another decodes at the TRUE size, so
    * downstream checks can't be fooled by header rewrites. Undecodable
    * payloads yield nulls. */
  final case class PixelStats(width: Int, height: Int,
      meanR: Int, meanG: Int, meanB: Int)

  def decodePixelStats(bytes: Array[Byte]): Option[PixelStats] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
    else {
      // bulk row reads into a reused buffer: per-pixel getRGB(x, y) is
      // the slowest access path (a ColorModel call per pixel) and this
      // runs per ROW of a media table
      val w = img.getWidth
      val h = img.getHeight
      val buf = new Array[Int](w)
      var (sr, sg, sb) = (0L, 0L, 0L)
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, buf, 0, w)
        var x = 0
        while (x < w) {
          val p = buf(x)
          sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
          x += 1
        }
        y += 1
      }
      val np = w.toLong * h
      Some(PixelStats(w, h,
        (sr / np).toInt, (sg / np).toInt, (sb / np).toInt))
    }
  }

  /** Attach decoded-raster stats from `binaryCol`: `decoded_width`,
    * `decoded_height`, `mean_r`, `mean_g`, `mean_b` (nulls when the
    * payload doesn't decode). Partition-wise, one pass, no shuffle. */
  def pixelStats(df: DataFrame, binaryCol: String): DataFrame = {
    val nulls = Seq.fill[Any](5)(null)
    appendDecoded(df, binaryCol, Seq(
      StructField("decoded_width", IntegerType),
      StructField("decoded_height", IntegerType),
      StructField("mean_r", IntegerType),
      StructField("mean_g", IntegerType),
      StructField("mean_b", IntegerType)), nulls) { bytes =>
      decodePixelStats(bytes) match {
        case Some(p) => Seq[Any](p.width, p.height, p.meanR, p.meanG, p.meanB)
        case None => nulls
      }
    }
  }

  // ---- perceptual hashing ---------------------------------------------------

  /** 64-bit average hash (aHash) of a decoded raster: bilinear-resample
    * to 8×8 (skipped when the source already is 8×8, keeping planted
    * fixtures integer-exact), integer grayscale (r+g+b)/3 per cell, and
    * bit r·8+c set when the cell sits strictly above the mean — tested
    * as `px·64 > sum` so the comparison is exact integer arithmetic
    * with no division rounding (replayable in any engine). None for
    * undecodable payloads.
    */
  def aHash64(payload: Array[Byte]): Option[Long] = {
    import java.awt.image.BufferedImage
    val fmt = sniffFormat(payload)
    if (fmt != "png" && fmt != "jpeg" && fmt != "gif" && fmt != "bmp")
      return None
    val src =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (src == null) return None
    val small =
      if (src.getWidth == 8 && src.getHeight == 8) src
      else {
        val dst = new BufferedImage(8, 8, BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(src, 0, 0, 8, 8, null)
        g.dispose()
        dst
      }
    val px = new Array[Int](64)
    var sum = 0L
    var i = 0
    while (i < 64) {
      val rgb = small.getRGB(i % 8, i / 8)
      px(i) = (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3
      sum += px(i)
      i += 1
    }
    var hash = 0L
    i = 0
    while (i < 64) {
      if (px(i) * 64L > sum) hash |= (1L << i)
      i += 1
    }
    Some(hash)
  }

  /** Q14 integer DCT-II basis for [[pHash64]]: T(k)(x) =
    * floor(cos(π(2x+1)k/64)·2^14 + 0.5), k = 0..7 output frequencies
    * over 32 samples. Quantizing the cosines to integers makes every
    * downstream coefficient an EXACT 64-bit integer — fold order and
    * engine cannot flip a bit — and the quantization itself is safe to
    * recompute anywhere: the closest any cos(π(2x+1)k/64)·2^14 comes to
    * a .5 rounding boundary is ~0.0105 (checked over all 256 entries),
    * ten orders of magnitude above libm's ulp differences. */
  private lazy val DctT: Array[Array[Long]] =
    Array.tabulate(8, 32) { (k, x) =>
      math.floor(math.cos(math.Pi * (2 * x + 1) * k / 64) * 16384 + 0.5).toLong
    }

  /** 64-bit perceptual DCT hash (the public pHash construction: 32×32
    * grayscale → 2D DCT-II → the 8×8 low-frequency block → sign-of-
    * median bits). Robust to monotonic brightness/gamma shifts that
    * break [[aHash64]]: aHash thresholds raw pixels against their mean,
    * so a nonlinear tone curve moves pixels across the mean, while the
    * low-frequency DCT STRUCTURE (which regions are brighter than
    * others) survives the curve — the spec plants gamma-shifted copies
    * that pHash pairs within Hamming 3 and aHash misses at 8.
    *
    * Deterministic/engine-replayable by construction, unlike the
    * classical float pipeline: nearest-neighbor resample to 32×32
    * (src = floor(x·W/32) — no interpolation arithmetic to diverge),
    * integer grayscale (r+g+b)/3, the Q14 integer basis [[DctT]]
    * (separable: vertical pass then horizontal, every partial ≤ 2^47 so
    * all sums are exact longs), median = the 32nd-smallest (lower
    * median) of the 64 block coefficients, bit k·8+l set iff
    * C(k)(l) > median. None for undecodable payloads.
    *
    * The DC coefficient (k=l=0, bit 0) is DELIBERATELY included in both
    * the median and the output bits, where the classical construction
    * excludes it: keeping it makes the hash a total function of the
    * 8×8 block with no special-cased index, at the cost that a uniform
    * brightness shift can flip bit 0 and nudge the median — so
    * brightness invariance is approximate (within the banded-Hamming
    * budget, as the gamma-curve fixture pins), not exact. The DuckDB
    * oracle replays the same inclusion, so engine/oracle parity is
    * unaffected either way.
    */
  def pHash64(payload: Array[Byte]): Option[Long] = {
    val fmt = sniffFormat(payload)
    if (fmt != "png" && fmt != "jpeg" && fmt != "gif" && fmt != "bmp")
      return None
    val src =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (src == null) return None
    val (w, h) = (src.getWidth, src.getHeight)
    val g32 = Array.ofDim[Long](32, 32)
    var y = 0
    while (y < 32) {
      var x = 0
      while (x < 32) {
        val rgb = src.getRGB(x * w / 32, y * h / 32)
        g32(y)(x) =
          ((((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3).toLong
        x += 1
      }
      y += 1
    }
    // separable DCT: tmp(k)(x) = Σ_y T(k)(y)·g32(y)(x), then
    // C(k)(l) = Σ_x tmp(k)(x)·T(l)(x)
    val tmp = Array.ofDim[Long](8, 32)
    var k = 0
    while (k < 8) {
      var x = 0
      while (x < 32) {
        var s = 0L
        var yy = 0
        while (yy < 32) { s += DctT(k)(yy) * g32(yy)(x); yy += 1 }
        tmp(k)(x) = s
        x += 1
      }
      k += 1
    }
    val coef = new Array[Long](64)
    k = 0
    while (k < 8) {
      var l = 0
      while (l < 8) {
        var s = 0L
        var x = 0
        while (x < 32) { s += tmp(k)(x) * DctT(l)(x); x += 1 }
        coef(k * 8 + l) = s
        l += 1
      }
      k += 1
    }
    val med = { val sorted = coef.clone(); java.util.Arrays.sort(sorted); sorted(31) }
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (coef(i) > med) hash |= (1L << i)
      i += 1
    }
    Some(hash)
  }

  /** Append `phash: long` (null for undecodable payloads) —
    * partition-wise map over the scan, no shuffle. */
  def imagePHash(df: DataFrame, binaryCol: String): DataFrame =
    appendDecoded(df, binaryCol, Seq(StructField("phash", LongType)),
      Seq(null)) { bytes =>
      Seq(pHash64(bytes).map(Long.box).orNull)
    }

  /** [[imageNearDupPairs]] with the DCT hash: same identical-hash
    * representative collapse and banded-Hamming run pass, keyed
    * on [[pHash64]] — catches brightness/gamma-shifted near-copies the
    * aHash matcher misses. Output: (id_a, id_b, hamming), id_a < id_b.
    */
  def imageNearDupPairsPhash(df: DataFrame, idCol: String, binaryCol: String,
      maxHamming: Int = 3, nBands: Int = 4): DataFrame =
    collapsedHashPairs(imagePHash(df, binaryCol), idCol, "phash",
      maxHamming, nBands)

  /** Shared tail of the single-hash near-dup operators (aHash, pHash,
    * audio fingerprint): collapse identical hashes to min-id
    * representatives ([[Dedup.collapseByKey]]) and hand the tagged rows to
    * [[bandedHammingPairs]], which drops undecodable payloads (NULL
    * hashes), pairs the representatives and emits the members' star
    * edges. The decode has that one reader, so it runs once per payload
    * without a checkpoint.
    * One implementation so a band-policy fix can never land in one
    * matcher and miss another. */
  private def collapsedHashPairs(hashed: DataFrame, idCol: String,
      hashCol: String, maxHamming: Int, nBands: Int): DataFrame =
    bandedHammingPairs(Dedup.collapseByKey(hashed.select(col(idCol).as("__id"),
      col(hashCol).as("__hash")), "__hash"), maxHamming, nBands)

  /** Append `ahash: long` (null for undecodable payloads) — partition-wise
    * map over the scan, no shuffle. */
  def imageHash(df: DataFrame, binaryCol: String): DataFrame =
    appendDecoded(df, binaryCol, Seq(StructField("ahash", LongType)),
      Seq(null)) { bytes =>
      Seq(aHash64(bytes).map(Long.box).orNull)
    }

  /** Image near-duplicate pairs by perceptual hash: aHash per payload,
    * the 64-bit hash split into `nBands` contiguous bands, one run pass
    * keyed on (band index, band value), and an exact Hamming filter.
    * Pigeonhole guarantee: any pair with Hamming distance < nBands
    * shares at least one untouched band, so recall on pairs within
    * `maxHamming` <= nBands−1 is COMPLETE; pairwise work is bounded by
    * band-bucket sizes, never all-pairs.
    *
    * Identical-hash groups are collapsed to their min-id REPRESENTATIVE
    * before the band pass ([[Dedup.collapseByKey]]): web-scale corpora carry
    * huge exact-duplicate groups (every blank/solid-color image aHashes
    * to the same 64 bits), and emitting all C(N,2) intra-group pairs
    * would be quadratic OUTPUT — a million identical thumbnails is
    * 5·10¹¹ pairs. Instead each group emits N−1 star edges
    * (rep, member, 0) and only representatives enter the band runs, so
    * both candidate and output rows are linear in group size while
    * connected components over the edge list — the downstream keep/drop
    * decision — is unchanged (a star spans exactly what the clique
    * spanned, and the rep carries the group's cross-group edges).
    * Output: (id_a, id_b, hamming), id_a < id_b.
    */
  def imageNearDupPairs(df: DataFrame, idCol: String, binaryCol: String,
      maxHamming: Int = 3, nBands: Int = 4): DataFrame =
    collapsedHashPairs(imageHash(df, binaryCol), idCol, "ahash",
      maxHamming, nBands)

  /** The banded-Hamming candidate engine behind [[imageNearDupPairs]],
    * [[audioNearDupPairs]] and both video matchers, over
    * [[Dedup.collapseByKey]]-tagged (`__id`, `__rep`, `__hash`
    * [, align cols] [, carry cols]) rows. Pigeonhole: Hamming < nBands ⟹
    * at least one untouched band, so recall within `maxHamming` <=
    * nBands−1 is complete.
    *
    * One [[Dedup.runPass]]: each representative row emits one row per
    * band, keyed on (band index, band value, `alignCols`), and each pair
    * of rows of a run (two different ids) is kept when its Hamming
    * distance is at most `maxHamming` and this band is the FIRST band the
    * two hashes share, so a pair that shares several bands is emitted
    * once, with no `dropDuplicates`. A member row (`__id <> __rep`)
    * passes through as the star edge (rep, member, 0) with its own align
    * and carry values on both sides. Rows with a NULL id, hash or align
    * value take no part. The pass holds one band bucket at a time and
    * checks all of its pairs, O(bucket²), as the per-bucket work of a
    * band self-join was.
    *
    * Output: (id_a, id_b, hamming, align cols, `<c>_a`, `<c>_b` per carry
    * col), id_a < id_b. `alignCols` come from side a (they are equal);
    * `carryCols` come from both sides without constraining the key — the
    * video matchers read frame indices and frame counts from them. Ids
    * are unique by contract; two rows with one id never pair with each
    * other, and a repeated id with unequal hashes pairs once per row (the
    * self-join's `dropDuplicates` kept one arbitrary row of each pair of
    * ids and align/carry values). */
  private[graft] def bandedHammingPairs(tagged: DataFrame,
      maxHamming: Int, nBands: Int,
      alignCols: Seq[String] = Nil,
      carryCols: Seq[String] = Nil): DataFrame = {
    require(nBands > 0 && 64 % nBands == 0, s"nBands must divide 64: $nBands")
    require(maxHamming < nBands,
      s"complete recall needs maxHamming < nBands ($maxHamming >= $nBands)")
    val width = 64 / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val rows = Dedup.keyRows(
      tagged.filter((Seq("__id", "__hash") ++ alignCols).map(col(_).isNotNull).reduce(_ && _)),
      array((0 until nBands).map(k =>
        shiftrightunsigned(col("__hash"), k * width).bitwiseAND(lit(mask))): _*),
      (Seq("__id", "__rep", "__hash") ++ alignCols ++ carryCols).map(col): _*)
    // row layout: id, rep, hash, align..., carry..., band index, band value
    val align = 3 until 3 + alignCols.size
    val carry = align.end until align.end + carryCols.size
    def band(h: Long, k: Int): Long = (h >>> (k * width)) & mask
    def edge(a: Row, b: Row, idA: Any, idB: Any, hamming: Int): Row =
      Row.fromSeq(Seq(idA, idB, hamming) ++ align.map(a.get) ++
        carry.flatMap(c => Seq(a.get(c), b.get(c))))
    val out = StructType(Dedup.pairSchema(tagged, "hamming", IntegerType).fields ++
      alignCols.map(tagged.schema(_)) ++ carryCols.flatMap(c =>
        Seq("_a", "_b").map(side => tagged.schema(c).copy(name = c + side))))
    Dedup.runPass(rows, Dedup.widenTarget(tagged), "__kv" +: "__ki" +: alignCols,
        Seq("__id"), out) { run =>
      val k = run(0).getInt(carry.end)
      if (k < 0) run.iterator.map(r => edge(r, r, r.get(1), r.get(0), 0))
      else for {
        i <- run.indices.iterator
        j <- (i + 1 until run.size).iterator if run(i).get(0) != run(j).get(0)
        (hi, hj) = (run(i).getLong(2), run(j).getLong(2))
        hamming = java.lang.Long.bitCount(hi ^ hj)
        if hamming <= maxHamming && (0 until k).forall(c => band(hi, c) != band(hj, c))
      } yield edge(run(i), run(j), run(i).get(0), run(j).get(0), hamming)
    }
  }

  /** Append `afp: long` (the energy-envelope fingerprint; null for
    * undecodable payloads) — partition-wise map, no shuffle. */
  def audioHash(df: DataFrame, binaryCol: String): DataFrame =
    appendDecoded(df, binaryCol, Seq(StructField("afp", LongType)),
      Seq(null)) { bytes =>
      Seq(audioFingerprint64(bytes).map(Long.box).orNull)
    }

  /** Audio near-duplicate pairs by envelope fingerprint — the audio
    * member of the perceptual-dedup family, same banded run pass,
    * recall guarantee, and identical-hash representative collapse as
    * [[imageNearDupPairs]] (star edges at hamming 0, O(N) output per
    * identical group). Output: (id_a, id_b, hamming), id_a < id_b. */
  def audioNearDupPairs(df: DataFrame, idCol: String, binaryCol: String,
      maxHamming: Int = 3, nBands: Int = 4): DataFrame =
    collapsedHashPairs(audioHash(df, binaryCol), idCol, "afp",
      maxHamming, nBands)

  /** Video near-duplicate pairs: demux every `every`-th frame
    * ([[frameSample]]'s executor-side fan-out), aHash each frame, run
    * the banded-Hamming pass PER ALIGNED FRAME INDEX, and keep
    * video pairs where at least `minMatchFrac` of the smaller side's
    * sampled frames match. Frame-index alignment makes this robust to
    * re-encodes and palette shifts but not to trimming — the standard
    * fixed-stride video fingerprint. Every stage is partition-wise or
    * band-bucket-bounded; the per-pair aggregation is keyed on the
    * candidate pairs only. Videos with IDENTICAL frame-hash sequences
    * collapse to a min-id representative before the band pass
    * ([[videoFrames]]; star edges at full match — the video analogue of
    * [[imageNearDupPairs]]'s identical-hash collapse), so N identical
    * clips cost O(N) output rows, not C(N,2). Every frame row carries its
    * video's frame count, so `frames_a`/`frames_b` come out of the pass
    * and a member's star frames count up to its full match in the same
    * aggregate. Output:
    * (id_a, id_b, matched_frames, frames_a, frames_b), id_a < id_b.
    */
  def videoNearDupPairs(df: DataFrame, idCol: String, binaryCol: String,
      every: Int = 1, maxHamming: Int = 3, nBands: Int = 4,
      minMatchFrac: Double = 0.5): DataFrame = {
    require(minMatchFrac > 0 && minMatchFrac <= 1,
      s"minMatchFrac must be in (0, 1], got $minMatchFrac")
    bandedHammingPairs(videoFrames(df, idCol, binaryCol, every), maxHamming,
        nBands, alignCols = Seq("__fi"), carryCols = Seq("__nf"))
      .groupBy("id_a", "id_b", "__nf_a", "__nf_b")
      .agg(count(lit(1)).as("matched_frames"))
      .filter(col("matched_frames") >=
        least(col("__nf_a"), col("__nf_b")) * lit(minMatchFrac))
      .select(col("id_a"), col("id_b"), col("matched_frames"),
        col("__nf_a").as("frames_a"), col("__nf_b").as("frames_b"))
  }

  /** Shared demux → per-frame aHash → identical-SEQUENCE collapse stage
    * behind both video matchers (the video analogue of
    * [[collapsedHashPairs]]): videos whose full ordered frame-hash
    * sequences are equal form one group with a min-id representative.
    * Without it N identical clips put N copies of every frame hash in each
    * band bucket — C(N,2) candidate AND output pairs; with it only the
    * representative's frames enter the band runs, and each member's
    * frames pass through as its star edge. The sequence key is frames·12
    * bytes per video, shuffled once; one aggregate builds it (its size is
    * the frame count), and one window names the representative. Residual
    * hazard (documented, not handled): videos sharing SOME frames — e.g. a
    * common intro — still meet in those frames' buckets, which is the
    * genuine candidate set, bounded per bucket.
    *
    * Returns [[bandedHammingPairs]] input: per-frame (__id, __rep, __nf
    * frame count, __fi, __hash) rows, read back out of the sequence, so
    * the demux and hash run once with no checkpoint. */
  private def videoFrames(df: DataFrame, idCol: String,
      binaryCol: String, every: Int): DataFrame = {
    val frames = frameSample(df.select(col(idCol), col(binaryCol)),
      binaryCol, every)
      // drop the full video payload between the two opaque row-level
      // stages — mapPartitions hides column usage from Catalyst, so
      // without this every per-frame row would carry the whole clip
      // through the hash stage
      .select(col(idCol), col("frame_idx"), col("frame"))
    val sigs = imageHash(frames, "frame").filter(col("ahash").isNotNull)
      .groupBy(col(idCol).as("__id")).agg(
        sort_array(collect_list(struct(col("frame_idx").as("__fi"),
          col("ahash").as("__hash")))).as("__seq"))
    Dedup.collapseByKey(sigs, "__seq").select(col("__id"), col("__rep"),
      size(col("__seq")).cast("long").as("__nf"), inline(col("__seq")))
  }

  /** Trim-robust video near-duplicate pairs: the fixed-stride aligned
    * matcher ([[videoNearDupPairs]]) misses clips that were trimmed or
    * offset, because frame j is only compared to frame j. This variant
    * is OFFSET-INVARIANT: candidate frame pairs come from the same
    * banded-Hamming pass but WITHOUT the frame-index key; each
    * matching frame pair (fa, fb) votes for offset fb−fa, the
    * best-supported offset wins per video pair (ties to the smallest
    * offset), and the pair is kept when the winning offset's vote count
    * covers `minMatchFrac` of the smaller side's frames — so a clip
    * trimmed by k frames still matches its source at offset −k with
    * every remaining frame voting.
    *
    * Scale shape: identical to the aligned matcher plus one extra keyed
    * aggregation (the offset vote, keyed on candidate pairs). Dropping
    * the frame-index key widens each band bucket by the
    * repeated-hash-across-time factor, not by corpus size — candidates
    * stay bucket-bounded and the identical-sequence collapse still caps
    * exact-duplicate groups at O(N). Output: (id_a, id_b, best_offset,
    * matched_frames, frames_a, frames_b), id_a < id_b; collapsed
    * members report offset 0 at full match (each star frame votes 0).
    */
  def videoNearDupPairsOffset(df: DataFrame, idCol: String, binaryCol: String,
      every: Int = 1, maxHamming: Int = 3, nBands: Int = 4,
      minMatchFrac: Double = 0.5): DataFrame = {
    require(minMatchFrac > 0 && minMatchFrac <= 1,
      s"minMatchFrac must be in (0, 1], got $minMatchFrac")
    val votes = bandedHammingPairs(videoFrames(df, idCol, binaryCol, every),
        maxHamming, nBands, carryCols = Seq("__fi", "__nf"))
      .groupBy(col("id_a"), col("id_b"),
        (col("__fi_b") - col("__fi_a")).as("best_offset"),
        col("__nf_a").as("frames_a"), col("__nf_b").as("frames_b"))
      .agg(count(lit(1)).as("matched_frames"))
    votes.withColumn("__rk", row_number().over(Window
          .partitionBy("id_a", "id_b")
          .orderBy(col("matched_frames").desc, col("best_offset"))))
      .filter(col("__rk") === 1 && col("matched_frames") >=
        least(col("frames_a"), col("frames_b")) * lit(minMatchFrac))
      .select("id_a", "id_b", "best_offset", "matched_frames",
        "frames_a", "frames_b")
  }

  /** Encode an 8×8 grayscale raster (row-major `values`, 0-255) as a
    * real `fmt` container — the integer-exact fixture for
    * [[aHash64]]-family oracles (lossless containers return the planted
    * bytes verbatim and the 8×8 input skips resampling). */
  def encodeGray8x8(fmt: String, values: Seq[Int]): Array[Byte] = {
    import java.awt.image.BufferedImage
    require(values.length == 64, s"need 64 values, got ${values.length}")
    val img = new BufferedImage(8, 8, BufferedImage.TYPE_INT_RGB)
    values.zipWithIndex.foreach { case (v, i) =>
      val c = v & 0xFF
      img.setRGB(i % 8, i / 8, (c << 16) | (c << 8) | c)
    }
    val out = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, fmt, out), s"no writer for $fmt")
    out.toByteArray
  }

  // ---- deterministic raster synthesis ---------------------------------------

  /** Encode a `w`×`h` solid-`rgb` raster in `fmt` (png/gif/bmp/jpg) via
    * ImageIO — real container bytes with real pixel data. Fixture and
    * spec helper: solid fills make resample-invariant expectations
    * (any correct resampler of a constant image is that constant). */
  def encodeSolid(fmt: String, w: Int, h: Int, rgb: (Int, Int, Int)): Array[Byte] = {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(rgb._1, rgb._2, rgb._3))
    g.fillRect(0, 0, w, h)
    g.dispose()
    val out = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, fmt, out), s"no writer for $fmt")
    out.toByteArray
  }

  /** Encode an animated GIF of solid gray frames (one per entry of
    * `grays`) at `delayCs` centiseconds each — a real multi-frame
    * container with real GraphicControlExtension timing, via the JDK's
    * GIF sequence writer. */
  def encodeAnimatedGif(w: Int, h: Int, grays: Seq[Int],
      delayCs: Int = 4): Array[Byte] =
    encodeAnimatedGifRasters(w, h,
      grays.map(gr => Seq.fill(w * h)(gr)), delayCs)

  /** Encode an animated GIF from per-frame gray RASTERS (row-major
    * w·h values each) — the fixture for per-frame perceptual-hash
    * oracles, where solid frames won't do (a solid frame's aHash is 0).
    * Grays stay exact through the GIF palette for <= 256 distinct
    * values. */
  def encodeAnimatedGifRasters(w: Int, h: Int, frames: Seq[Seq[Int]],
      delayCs: Int = 4): Array[Byte] = {
    import java.awt.image.BufferedImage
    import javax.imageio.metadata.IIOMetadataNode
    require(frames.forall(_.length == w * h), s"each frame needs ${w * h} values")
    // the old solid-gray writer threw from java.awt.Color on bad values;
    // setRGB would silently mask instead — keep the loud failure
    require(frames.forall(_.forall(v => v >= 0 && v <= 255)),
      "gray values must be 0..255")
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bo = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bo)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { vals =>
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        vals.zipWithIndex.foreach { case (v, i) =>
          val c = v & 0xFF
          img.setRGB(i % w, i / w, (c << 16) | (c << 8) | c)
        }
        val meta = writer.getDefaultImageMetadata(
          new javax.imageio.ImageTypeSpecifier(img), writer.getDefaultWriteParam)
        val fmt = meta.getNativeMetadataFormatName
        val root = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
        val gce = {
          var found: IIOMetadataNode = null
          var i = 0
          while (i < root.getLength && found == null) {
            if (root.item(i).getNodeName == "GraphicControlExtension")
              found = root.item(i).asInstanceOf[IIOMetadataNode]
            i += 1
          }
          if (found == null) {
            val n = new IIOMetadataNode("GraphicControlExtension")
            root.appendChild(n); n
          } else found
        }
        gce.setAttribute("disposalMethod", "none")
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("delayTime", delayCs.toString)
        gce.setAttribute("transparentColorIndex", "0")
        meta.setFromTree(fmt, root)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, meta), null)
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    bo.toByteArray
  }

  // ---- audio (WAV/PCM) ------------------------------------------------------

  /** Decoded audio features from a RIFF/WAVE payload: format chunk
    * fields plus SAMPLE-LEVEL statistics (every frame is decoded — rms
    * and peak come from the actual waveform, not the header), in NATIVE
    * sample units: integer amplitudes for PCM (8-bit after removing the
    * unsigned 128 offset, 16/24/32-bit signed), [-1,1] for IEEE float. */
  final case class AudioFeatures(sampleRate: Int, channels: Int,
      frames: Long, durationMs: Long, rms: Double, peak: Double,
      bits: Int, codec: String)

  /** Parsed WAV layout: codec (1 = PCM, 3 = IEEE float), channel count,
    * rate, bit depth, and the data chunk's extent. */
  private final case class WavLayout(codec: Int, channels: Int, rate: Int,
      bits: Int, dataOff: Int, dataLen: Int) {
    def bytesPer: Int = bits / 8
    def samples: Int = dataLen / bytesPer
  }

  /** Chunk-walk a RIFF/WAVE payload to its fmt + data layout, with the
    * hostile-header guards (negative/overlong declared sizes, fmt
    * shorter than its 16 mandatory bytes). None for anything that
    * isn't a supported PCM 8/16/24/32 or float32 WAV. */
  private def parseWav(b: Array[Byte]): Option[WavLayout] = {
    if (sniffFormat(b) != "wav") return None
    var i = 12 // past RIFF<size>WAVE
    var rate = 0; var channels = 0; var bits = 0; var codec = 0
    var dataOff = -1; var dataLen = 0
    while (i + 8 <= b.length) {
      val id = new String(b.slice(i, i + 4), "US-ASCII")
      val len = le32(b, i + 4)
      // chunk sizes are unsigned on the wire but le32 is signed: a
      // negative read means a corrupt/hostile header — without this
      // guard the advance below could be zero (or wrap on a huge
      // positive len) and the walk would spin forever on one bad row;
      // any declared size past the payload also bails (nothing left
      // to walk, and Int overflow in the advance becomes impossible)
      if (len < 0 || len > b.length - (i + 8)) return None
      // the fmt fields live inside the chunk's DECLARED extent: a
      // malformed fmt with len < 16 must reject, not read codec/rate/
      // bits out of whatever chunk happens to follow
      if (id == "fmt ") {
        if (len < 16 || i + 24 > b.length) return None
        codec = le16(b, i + 8)
        channels = le16(b, i + 10)
        rate = le32(b, i + 12)
        bits = le16(b, i + 22)
      } else if (id == "data") {
        dataOff = i + 8
        dataLen = len // the guard above already rejected truncation
      }
      i += 8 + len + (len & 1) // chunks are word-aligned
    }
    val supported =
      (codec == 1 && (bits == 8 || bits == 16 || bits == 24 || bits == 32)) ||
        (codec == 3 && bits == 32)
    if (rate <= 0 || channels <= 0 || !supported || dataOff < 0) None
    else Some(WavLayout(codec, channels, rate, bits, dataOff, dataLen))
  }

  /** Sample j of a parsed payload, in native units. */
  private def wavSample(b: Array[Byte], w: WavLayout, j: Int): Double = {
    val off = w.dataOff + j * w.bytesPer
    if (w.codec == 3) java.lang.Float.intBitsToFloat(le32(b, off)).toDouble
    else w.bits match {
      case 8 => ((b(off) & 0xff) - 128).toDouble // unsigned, 128 offset
      case 16 => ((le16(b, off) << 16) >> 16).toDouble // sign-extend
      case 24 => ((b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
        (b(off + 2) << 16)).toDouble // high byte carries the sign
      case _ => le32(b, off).toDouble
    }
  }

  /** Decode a RIFF/WAVE payload to its audio features: every
    * little-endian sample folds into rms/peak. Accepts PCM (format 1)
    * at 8/16/24/32 bits and IEEE float (format 3) at 32. None for
    * non-WAV / compressed / truncated payloads — a data chunk whose
    * declared size runs past the payload means the file was cut, and a
    * confidently-wrong partial rms is worse than a null. */
  def decodeAudio(b: Array[Byte]): Option[AudioFeatures] =
    try parseWav(b).map { w =>
      val n = w.samples
      var sumSq = 0.0
      var peak = 0.0
      var j = 0
      while (j < n) {
        val s = wavSample(b, w, j)
        sumSq += s * s
        val a = math.abs(s)
        if (a > peak) peak = a
        j += 1
      }
      val frames = n.toLong / w.channels
      AudioFeatures(w.rate, w.channels, frames,
        frames * 1000L / w.rate,
        if (n == 0) 0.0 else math.sqrt(sumSq / n), peak,
        w.bits, if (w.codec == 3) "float" else "pcm")
    } catch { case _: IndexOutOfBoundsException => None }

  /** 64-bit energy-envelope fingerprint of a decoded WAV: the sample
    * stream cut into 64 contiguous windows (boundary k·n/64), bit k set
    * when the window's mean |sample| sits strictly above the overall
    * mean. For integer PCM the |sample| sums accumulate in Long (window
    * sums stay far under 2^63 for any real payload) and the
    * cross-multiplied comparison `sum_k·n > total·len_k` runs in BigInt
    * — EXACT at every payload length, so a replay engine using true
    * integer arithmetic always agrees (a double cross-product would
    * start flipping boundary bits past ~4M samples). Float WAVs use the
    * double path (their samples aren't integers to begin with). The
    * audio analogue of [[aHash64]]: amplitude-envelope shape, robust to
    * level-preserving re-encodes. None for undecodable payloads or
    * fewer than 64 samples. */
  def audioFingerprint64(b: Array[Byte]): Option[Long] =
    try parseWav(b).flatMap { w =>
      val n = w.samples
      if (n < 64) return None
      val isInt = w.codec == 1
      val sumsL = new Array[Long](64)
      val sumsD = new Array[Double](64)
      var totalL = 0L
      var totalD = 0.0
      var k = 0
      while (k < 64) {
        val lo = (k.toLong * n / 64).toInt
        val hi = ((k + 1).toLong * n / 64).toInt
        var j = lo
        if (isInt) {
          var s = 0L
          while (j < hi) { s += math.abs(wavSample(b, w, j)).toLong; j += 1 }
          sumsL(k) = s; totalL += s
        } else {
          var s = 0.0
          while (j < hi) { s += math.abs(wavSample(b, w, j)); j += 1 }
          sumsD(k) = s; totalD += s
        }
        k += 1
      }
      var hash = 0L
      k = 0
      while (k < 64) {
        val len = ((k + 1).toLong * n / 64) - (k.toLong * n / 64)
        val above =
          if (isInt) BigInt(sumsL(k)) * n > BigInt(totalL) * len
          else sumsD(k) * n > totalD * len
        if (above) hash |= (1L << k)
        k += 1
      }
      Some(hash)
    } catch { case _: IndexOutOfBoundsException => None }

  /** Attach decoded audio features from `binaryCol`: `sample_rate`,
    * `channels`, `frames`, `duration_ms`, `rms`, `peak` (nulls when the
    * payload isn't decodable PCM WAV). Partition-wise, one pass, no
    * shuffle — the audio leg of the media column family. */
  def audioFeatures(df: DataFrame, binaryCol: String): DataFrame = {
    val nulls = Seq.fill[Any](8)(null)
    appendDecoded(df, binaryCol, Seq(
      StructField("sample_rate", IntegerType),
      StructField("channels", IntegerType),
      StructField("frames", LongType),
      StructField("duration_ms", LongType),
      StructField("rms", DoubleType),
      StructField("peak", DoubleType),
      StructField("bits", IntegerType),
      StructField("codec", StringType)), nulls) { bytes =>
      decodeAudio(bytes) match {
        case Some(a) => Seq[Any](a.sampleRate, a.channels, a.frames,
          a.durationMs, a.rms, a.peak, a.bits, a.codec)
        case None => nulls
      }
    }
  }

  /** Encode a PCM WAV of `frames` frames at `rate` Hz and `bits` depth
    * (8/16/24/32): a ±`amplitude` square wave alternating per frame,
    * identical on every channel — every sample's square is amplitude²,
    * so RMS == |amplitude| exactly and oracles can compute it
    * arithmetically. 8-bit stores the standard unsigned 128-offset form.
    * Fixture/spec helper. */
  def encodeWavPcm(rate: Int, channels: Int, frames: Int,
      amplitude: Int, bits: Int): Array[Byte] = {
    val lim = bits match {
      case 8 => 127L; case 16 => 32767L; case 24 => 8388607L
      case 32 => Int.MaxValue.toLong
      case other => throw new IllegalArgumentException(s"pcm bits: $other")
    }
    require(math.abs(amplitude.toLong) <= lim, s"pcm$bits amplitude: $amplitude")
    val bp = bits / 8
    val dataLen = frames * channels * bp
    val bo = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bo.put("RIFF".getBytes); bo.putInt(36 + dataLen); bo.put("WAVE".getBytes)
    bo.put("fmt ".getBytes); bo.putInt(16)
    bo.putShort(1) // PCM
    bo.putShort(channels.toShort)
    bo.putInt(rate)
    bo.putInt(rate * channels * bp) // byte rate
    bo.putShort((channels * bp).toShort) // block align
    bo.putShort(bits.toShort)
    bo.put("data".getBytes); bo.putInt(dataLen)
    var f = 0
    while (f < frames) {
      val v = if (f % 2 == 0) amplitude else -amplitude
      var c = 0
      while (c < channels) {
        bits match {
          case 8 => bo.put((v + 128).toByte)
          case 16 => bo.putShort(v.toShort)
          case 24 =>
            bo.put((v & 0xff).toByte); bo.put(((v >> 8) & 0xff).toByte)
            bo.put(((v >> 16) & 0xff).toByte)
          case _ => bo.putInt(v)
        }
        c += 1
      }
      f += 1
    }
    bo.array()
  }

  def encodeWavPcm16(rate: Int, channels: Int, frames: Int,
      amplitude: Int): Array[Byte] =
    encodeWavPcm(rate, channels, frames, amplitude, 16)

  /** Encode a mono PCM16 WAV whose amplitude steps per window:
    * `framesPerWindow` frames of a ±amps(k) square wave for each k.
    * Every sample's |value| inside window k is exactly amps(k), so
    * [[audioFingerprint64]] bits reduce to the pure integer predicate
    * amps(k)·64 > Σamps (equal windows) — the arithmetic fixture for
    * envelope-hash oracles. */
  def encodeWavPcm16Amps(rate: Int, framesPerWindow: Int,
      amps: Seq[Int]): Array[Byte] = {
    // the documented bit arithmetic assumes windows align 1:1 with the
    // fingerprint's 64 cuts — any other count silently de-aligns them
    require(amps.length == 64, s"need exactly 64 amps, got ${amps.length}")
    require(amps.forall(a => a >= 0 && a <= 32767), "amps must be 0..32767")
    val frames = framesPerWindow * amps.length
    val dataLen = frames * 2
    val bo = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bo.put("RIFF".getBytes); bo.putInt(36 + dataLen); bo.put("WAVE".getBytes)
    bo.put("fmt ".getBytes); bo.putInt(16)
    bo.putShort(1); bo.putShort(1) // PCM, mono
    bo.putInt(rate); bo.putInt(rate * 2); bo.putShort(2); bo.putShort(16)
    bo.put("data".getBytes); bo.putInt(dataLen)
    var f = 0
    while (f < frames) {
      val a = amps(f / framesPerWindow)
      bo.putShort((if (f % 2 == 0) a else -a).toShort)
      f += 1
    }
    bo.array()
  }

  /** Encode an IEEE-float (format 3) WAV square wave. Written with the
    * canonical fmt extension (len 18, cbSize 0) plus a `fact` chunk —
    * the shape real float WAVs carry — so decoders must walk chunks,
    * not assume the 44-byte PCM layout. */
  def encodeWavFloat32(rate: Int, channels: Int, frames: Int,
      amplitude: Float): Array[Byte] = {
    val dataLen = frames * channels * 4
    val bo = java.nio.ByteBuffer.allocate(12 + 26 + 12 + 8 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bo.put("RIFF".getBytes); bo.putInt(4 + 26 + 12 + 8 + dataLen)
    bo.put("WAVE".getBytes)
    bo.put("fmt ".getBytes); bo.putInt(18)
    bo.putShort(3) // IEEE float
    bo.putShort(channels.toShort)
    bo.putInt(rate)
    bo.putInt(rate * channels * 4)
    bo.putShort((channels * 4).toShort)
    bo.putShort(32)
    bo.putShort(0) // cbSize
    bo.put("fact".getBytes); bo.putInt(4); bo.putInt(frames)
    bo.put("data".getBytes); bo.putInt(dataLen)
    var f = 0
    while (f < frames) {
      val v = if (f % 2 == 0) amplitude else -amplitude
      var c = 0
      while (c < channels) { bo.putFloat(v); c += 1 }
      f += 1
    }
    bo.array()
  }

  /** Attach features extracted from `binaryCol` via the batch decoder.
    * One pass, no shuffle. Null payloads keep their historical shape
    * (byte_len 0, format "unknown") — byte-level features are total. */
  def extractFeatures(df: DataFrame, binaryCol: String): DataFrame = {
    def rowOf(f: BinaryFeatures): Seq[Any] =
      Seq[Any](f.byteLen, f.contentMd5, f.headHex, f.format,
        f.width.map(Int.box).orNull, f.height.map(Int.box).orNull)
    appendDecoded(df, binaryCol, Seq(
      StructField("byte_len", LongType),
      StructField("content_md5", StringType),
      StructField("head_hex", StringType),
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType)),
      rowOf(BinaryFeatures(0L, null, null, "unknown", None, None))) { bytes =>
      rowOf(decode(bytes))
    }
  }
}
