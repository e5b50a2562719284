package graft.operators

import org.apache.spark.sql.Dataset

/** Media decode: opaque `binary` members → per-member curation
  * stats, decoded inside the partition iterator (the JVM analog of a
  * Pandas-UDF/mapInPandas batch: codecs set up per partition, payload
  * bytes never shuffled).
  *
  * Every parser reads only the bytes and returns one [[MediaStats]]
  * row — ok=false under its best-effort container on any wire
  * failure, never an exception — and [[decodeAll]] is the one batch
  * entry that runs any of them over a `Dataset[Media]`. The codecs:
  *  - BMP pixel rows and PCM WAV samples by direct byte walk
  *    ([[parsePayload]]; [[parseHeader]] reads the header fields);
  *  - PNG/JPEG through javax.imageio ([[parseImage]]);
  *  - G.711 µ-law/a-law WAV through javax.sound.sampled
  *    ([[parseAudio]]);
  *  - AVI video — MJPEG, raw DIB and the inter-frame MS-RLE8 —
  *    by RIFF walk plus per-frame codec ([[parseVideo]]);
  *  - animated GIF through javax.imageio ([[parseGif]]);
  *  - FLAC and IMA ADPCM through the pure-JVM [[FlacCodec]] and
  *    [[AdpcmCodec]].
  * [[parseAny]] routes a mixed corpus by magic bytes. Each codec has
  * a `planted*Bytes` builder for the closed-form wires the mm queries
  * round-trip. Perceptual audio (Opus/AAC) and entropy-coded
  * inter-frame video (H.264/VP9) are not decoded; [[decodeBatch]] is
  * the byte-length stub that stands for them.
  */
object MediaDecode {

  // The JDK codecs default to many-large-files assumptions that are
  // pure overhead for millions of small in-memory members: ImageIO's
  // ImageInputStream cache is DISK-backed (a temp file per encode/
  // decode call), and getImageWritersByFormatName is an SPI registry
  // scan per call. One static switch and a per-thread writer remove
  // both from the per-row path.
  javax.imageio.ImageIO.setUseCache(false)

  // javax.sound's AudioSystem front door performs a SYNCHRONIZED
  // global provider lookup PER CALL (JDK13Services), four times per
  // G.711 member here (file-reader scan, two conversion-provider
  // scans, writer scan) — once the id-spread parallelized the codec
  // stages, 32 concurrent tasks serialized on that static lock
  // (measured: mm14 wall time FLAT vs its single-task form despite
  // 32× tasks). The providers are the JDK's own stateless SPI
  // singletons; resolving them once per JVM through the public
  // ServiceLoader seam keeps the genuine codec and takes the lock
  // out of the per-row path (guide §4.5: heavyweight lookup once,
  // not per row).
  private def soundProviders[T](c: Class[T]): Vector[T] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(c).iterator().asScala.toVector
  }
  private lazy val audioReaders =
    soundProviders(classOf[javax.sound.sampled.spi.AudioFileReader])
  private lazy val audioConverters =
    soundProviders(classOf[javax.sound.sampled.spi.FormatConversionProvider])
  private lazy val audioWriters =
    soundProviders(classOf[javax.sound.sampled.spi.AudioFileWriter])
  /** AudioSystem.getAudioInputStream(stream) minus the synchronized
    * registry: try each JDK reader, resetting the (mark-at-0)
    * byte-array stream between attempts — the same trial order and
    * failure contract as the front door. */
  private def audioRead(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    val in = new java.io.ByteArrayInputStream(bytes)
    val it = audioReaders.iterator
    while (it.hasNext) {
      val r = it.next()
      try return r.getAudioInputStream(in)
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => in.reset()
      }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "no JDK reader recognises the member")
  }
  /** AudioSystem.getAudioInputStream(target, source) minus the
    * synchronized registry (same identity short-circuit). */
  private def audioConvert(dst: javax.sound.sampled.AudioFormat,
                           src: javax.sound.sampled.AudioInputStream)
      : javax.sound.sampled.AudioInputStream = {
    if (src.getFormat.matches(dst)) return src
    val it = audioConverters.iterator
    while (it.hasNext) {
      val p = it.next()
      if (p.isConversionSupported(dst, src.getFormat))
        return p.getAudioInputStream(dst, src)
    }
    throw new IllegalArgumentException(s"unsupported audio conversion to $dst")
  }
  /** AudioSystem.write(stream, WAVE, out) minus the synchronized
    * registry. */
  private def audioWriteWav(src: javax.sound.sampled.AudioInputStream,
                            out: java.io.OutputStream): Unit = {
    val t = javax.sound.sampled.AudioFileFormat.Type.WAVE
    val it = audioWriters.iterator
    while (it.hasNext) {
      val w = it.next()
      if (w.isFileTypeSupported(t, src)) { w.write(src, t, out); return }
    }
    throw new IllegalArgumentException("no JDK WAVE writer")
  }

  private val jpegWriter = ThreadLocal.withInitial[javax.imageio.ImageWriter](
    () => javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next())

  // per-thread GIF codec pair, `reset()` between members, so no
  // member pays an ImageIO registry scan
  private val gifReader = ThreadLocal.withInitial[javax.imageio.ImageReader](
    () => javax.imageio.ImageIO.getImageReadersByFormatName("gif").next())
  private val gifWriter = ThreadLocal.withInitial[javax.imageio.ImageWriter](
    () => javax.imageio.ImageIO.getImageWritersByFormatName("gif").next())

  case class Media(docId: Long, payload: Array[Byte])

  /** Dimensions and frame count of every planted image/video wire. */
  private val PlantW = 8
  private val PlantH = 2
  private val PlantFrames = 4
  case class DecodedMeta(docId: Long, nBytes: Long, width: Int, height: Int, ok: Boolean)
  case class MediaHeader(docId: Long, container: String, width: Long, height: Long,
                         sampleRate: Long, nChannels: Long, ok: Boolean)

  /** STUB decoder: byte-length-derived "dimensions". A real
    * implementation replaces only this function. */
  private def decode(payload: Array[Byte]): (Int, Int, Boolean) = {
    if (payload == null || payload.isEmpty) (0, 0, false)
    else ((payload.length * 31) % 1920, (payload.length * 17) % 1080, true)
  }

  // Little-endian and RIFF byte helpers, shared with AdpcmCodec.
  private[operators] def u16le(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8)
  private[operators] def u32le(b: Array[Byte], off: Int): Long =
    u16le(b, off) | (u16le(b, off + 2) << 16)
  private def s16le(b: Array[Byte], off: Int): Long = {
    val u = u16le(b, off); if (u >= 32768L) u - 65536L else u
  }
  private[operators] def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private[operators] def le32(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  /** One RIFF chunk, padded to an even length as the grammar requires. */
  private[operators] def riffChunk(id: String, data: Array[Byte]): Array[Byte] = {
    val pad = if (data.length % 2 != 0) Array(0.toByte) else Array.empty[Byte]
    id.getBytes("US-ASCII") ++ le32(data.length.toLong) ++ data ++ pad
  }
  /** A RIFF or LIST container: tag, size, form type, children. */
  private[operators] def riffList(listTag: String, typ: String,
                                  children: Array[Byte]): Array[Byte] =
    listTag.getBytes("US-ASCII") ++ le32(children.length + 4L) ++
      typ.getBytes("US-ASCII") ++ children
  /** True when `b` holds the ASCII string `t` at `off`. */
  private[operators] def tag(b: Array[Byte], off: Int, t: String): Boolean =
    b != null && b.length >= off + t.length &&
      t.indices.forall(i => (b(off + i) & 0xff) == t.charAt(i).toInt)

  /** Container-header parse over BMP/WAV bytes (mm11's JVM-bytes
    * twin): BMP ('BM', u32-LE DIB size 40 @14, width @18, height @22)
    * and WAV ('RIFF' @0 + 'WAVE' @8 + 'fmt ' @12, u16-LE channels
    * @22, u32-LE sample rate @24). Unknown or truncated payloads come
    * back container="unknown", ok=false — the quarantine row, never
    * an exception. */
  def parseHeader(payload: Array[Byte]): (String, Long, Long, Long, Long, Boolean) = {
    if (payload == null || payload.length < 26) ("unknown", 0L, 0L, 0L, 0L, false)
    else if (tag(payload, 0, "BM"))
      ("bmp", u32le(payload, 18), u32le(payload, 22), 0L, 0L, u32le(payload, 14) == 40L)
    else if (payload.length >= 28 && tag(payload, 0, "RIFF") && tag(payload, 8, "WAVE"))
      ("wav", 0L, 0L, u32le(payload, 24), u16le(payload, 22),
        tag(payload, 12, "fmt ") && u16le(payload, 20) == 1L)
    else ("unknown", 0L, 0L, 0L, 0L, false)
  }

  /** Per-partition batch header parse — same mapPartitions contract
    * as [[decodeBatch]], real parser inside. */
  def parseHeaderBatch(media: Dataset[Media]): Dataset[MediaHeader] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        val (c, w, h, r, ch, ok) = parseHeader(m.payload)
        MediaHeader(m.docId, c, w, h, r, ch, ok)
      }
    }
  }

  case class MediaStats(docId: Long, container: String, nUnits: Long,
                        meanSignal: Double, rms: Double, peak: Double,
                        meanR: Double, meanG: Double, meanB: Double, ok: Boolean)

  /** The quarantine row: ok=false under the container the sniff got to. */
  private def failed(container: String): MediaStats =
    MediaStats(0L, container, 0L, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, false)

  /** The still-image stats row from channel sums over n pixels:
    * per-channel means and their mean as brightness. */
  private def pixelStats(container: String, sr: Double, sg: Double,
                         sb: Double, n: Long): MediaStats = {
    val nd = n.toDouble
    MediaStats(0L, container, n, (sr + sg + sb) / (3.0 * nd), 0.0, 0.0,
      sr / nd, sg / nd, sb / nd, true)
  }

  /** The amplitude stats row over n s16-LE samples at `off`:
    * mean, RMS and peak (the silence / clipping gates). */
  private def pcmStats(container: String, b: Array[Byte], off: Int, n: Int): MediaStats = {
    var (sum, sq, pk) = (0.0, 0.0, 0.0)
    var i = 0
    while (i < n) {
      val s = s16le(b, off + i * 2).toDouble
      sum += s; sq += s * s; if (math.abs(s) > pk) pk = math.abs(s)
      i += 1
    }
    MediaStats(0L, container, n.toLong, sum / n, math.sqrt(sq / n), pk,
      0.0, 0.0, 0.0, true)
  }

  /** Payload-data stats over uncompressed BMP/WAV bytes (mm12's
    * JVM-bytes twin): for a 24bpp BMP, walk the pixel rows from the
    * header's data offset (honoring the 4-byte row padding) and fold
    * per-channel means + mean brightness; for a PCM s16 WAV, walk the
    * RIFF chunk list to the `data` chunk and fold mean/RMS/peak
    * amplitude (channels pooled). These are the stats curation
    * filters gate on (black-frame / solid-color, silence /
    * clipping). Truncated or non-conforming payloads return
    * ok=false, never throw. */
  def parsePayload(payload: Array[Byte]): MediaStats = {
    val (container, w, h, _, _, headerOk) = parseHeader(payload)
    // All size/offset fields stay Long until AFTER validation against
    // payload.length: a crafted u32 field >= 2^31 narrowed to Int turns
    // negative and either defeats the bounds guard (negative-index
    // reads) or stalls the RIFF chunk walk (p += 8 + sz never
    // advances). Every arithmetic combination below is Long; Int
    // narrowing happens only once the value is proven to index inside
    // the payload.
    if (!headerOk) failed(container)
    else if (container == "bmp") {
      val bpp = u16le(payload, 28)
      val dataOffL = u32le(payload, 10) // Long, unsigned
      // Dimension sanity BEFORE any multiplication: a valid 24bpp
      // image needs >= 3 bytes per pixel, so w*h is bounded by len/3.
      // Without this, crafted w=h=0x7FFFFFFF makes rowBytesL*h
      // (~1.4e19) wrap negative in Long, `need` passes the bounds
      // check vacuously, and the pixel loop indexes past the payload
      // — the overflow an adversarial container exploits. The guard's
      // own arithmetic cannot overflow: w,h are u32 (< 2^32), so
      // w*h < 2^64... but w,h are each first capped by lenL (< 2^31),
      // making w*h < 2^62; and once w*h <= lenL/3, rowBytesL*h
      // <= 3*w*h + 4*h stays well inside Long.
      val lenL = payload.length.toLong
      val dimsOk = w > 0 && h > 0 && w <= lenL && h <= lenL &&
        w * h <= lenL / 3
      val rowBytesL = if (dimsOk) (w * 3 + 3) / 4 * 4 else 0L
      val need = dataOffL + rowBytesL * h
      if (bpp != 24L || !dimsOk || dataOffL < 14L ||
          dataOffL > lenL || need > lenL)
        failed("bmp")
      else {
        val dataOff = dataOffL.toInt; val rowBytes = rowBytesL.toInt
        val wi = w.toInt; val hi = h.toInt
        var (sr, sg, sb) = (0.0, 0.0, 0.0)
        var y = 0
        while (y < hi) {
          var x = 0
          while (x < wi) {
            val off = dataOff + y * rowBytes + x * 3
            sb += (payload(off) & 0xff); sg += (payload(off + 1) & 0xff)
            sr += (payload(off + 2) & 0xff)
            x += 1
          }
          y += 1
        }
        pixelStats("bmp", sr, sg, sb, w * h)
      }
    } else { // wav, headerOk ⇒ PCM fmt
      // walk RIFF chunks from offset 12 to the `data` chunk; p strictly
      // increases each step (sz >= 0 as unsigned Long), so the walk
      // terminates on any input
      var p = 12L
      var dataOffL = -1L; var dataLenL = 0L
      while (dataOffL < 0 && p + 8 <= payload.length) {
        val pi = p.toInt
        val id = new String(payload.slice(pi, pi + 4), "US-ASCII")
        val sz = u32le(payload, pi + 4) // Long, 0 .. 2^32-1
        if (id == "data") { dataOffL = p + 8; dataLenL = sz }
        else p += 8 + sz + (sz & 1)
      }
      if (dataOffL < 0 || dataOffL + dataLenL > payload.length.toLong || dataLenL < 2)
        failed("wav")
      else pcmStats("wav", payload, dataOffL.toInt, (dataLenL / 2).toInt)
    }
  }

  /** The one batch entry for every [[MediaStats]] parser: `parse`
    * runs inside the partition iterator over each member's bytes and
    * the row keeps the member's docId. A map pass — payload bytes
    * never shuffle. */
  def decodeAll(media: Dataset[Media])(parse: Array[Byte] => MediaStats): Dataset[MediaStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(m => parse(m.payload).copy(docId = m.docId)))
  }

  /** Per-partition batch decode: expensive per-partition setup happens
    * once (here trivially; a codec would allocate decoders/buffers). */
  def decodeBatch(media: Dataset[Media]): Dataset[DecodedMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition codec setup would go here
      rows.map { m =>
        val (w, h, ok) = decode(m.payload)
        DecodedMeta(m.docId, if (m.payload == null) 0L else m.payload.length.toLong, w, h, ok)
      }
    }
  }

  // --- PNG/JPEG through the JDK-bundled javax.imageio ---------------

  /** Planted-pixel 8×2 image ENCODED through a genuine codec: PNG
    * (DEFLATE — lossless) or JPEG (DCT + quantization + 4:2:0 chroma
    * subsampling at quality 0.95 — lossy by design). Pixel channels
    * follow mm12's plant formulas over j = y·8+x:
    * r=(id·3+j·53)%256, g=(id·11+j·29)%256, b=(id·7+j·13)%256 — the
    * worst case for a transform codec (uncorrelated noise), which is
    * what makes the measured JPEG mean-error bound (≤2.44 per channel
    * over 10k images; mm13 accepts ≤8) an honest acceptance band. */
  def plantedImageBytes(docId: Long, jpeg: Boolean): Array[Byte] = {
    val img = plantedFrame(docId, 0)
    if (!jpeg) {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    } else encodeJpeg(img)
  }

  /** Planted pixel j (= y·8+x) of frame f as packed 0xRRGGBB:
    * r=(id·3+f·17+j·53)%256, g=(id·11+f·19+j·29)%256,
    * b=(id·7+f·23+j·13)%256 — frame 0 is the still image. */
  private def plantedRgb(docId: Long, f: Int, j: Int): Int = {
    val r = java.lang.Math.floorMod(docId * 3 + f * 17 + j * 53, 256L).toInt
    val g = java.lang.Math.floorMod(docId * 11 + f * 19 + j * 29, 256L).toInt
    val b = java.lang.Math.floorMod(docId * 7 + f * 23 + j * 13, 256L).toInt
    (r << 16) | (g << 8) | b
  }

  /** Frame f of the planted 8×2 image/video as an RGB image. */
  private def plantedFrame(docId: Long, f: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      PlantW, PlantH, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var j = 0
    while (j < PlantW * PlantH) {
      img.setRGB(j % PlantW, j / PlantW, plantedRgb(docId, f, j))
      j += 1
    }
    img
  }

  /** One frame/image through the JDK JPEG writer at quality 0.95 —
    * shared by [[plantedImageBytes]] and the MJPEG frames of
    * [[plantedVideoBytes]]. */
  private def encodeJpeg(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val wr = jpegWriter.get() // per-thread, reused across rows
    val p = wr.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(0.95f)
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    wr.setOutput(ios)
    wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.close()
    bos.toByteArray
  }

  /** Decode a compressed image payload through ImageIO and fold the
    * SAME per-channel means + brightness [[parsePayload]] emits for
    * uncompressed BMPs (black-frame / solid-color gates). Container
    * is sniffed from magic bytes FIRST (PNG \x89PNG, JPEG ff d8 ff)
    * so a truncated or corrupt member quarantines under its declared
    * type: ok=false, never an exception. */
  /** "png" or "jpeg" from the magic bytes (\x89PNG, ff d8 ff), else
    * "unknown"; needs 4 bytes. */
  private def imageContainer(b: Array[Byte]): String =
    if ((b(0) & 0xff) == 0x89 && tag(b, 1, "PNG")) "png"
    else if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
             (b(2) & 0xff) == 0xff) "jpeg"
    else "unknown"

  /** Integer channel sums and pixel count over a decoded image — the
    * one getRGB fold; each caller divides. */
  private def rgbSums(img: java.awt.image.BufferedImage): (Long, Long, Long, Long) = {
    val (w, h) = (img.getWidth, img.getHeight)
    var (sr, sg, sb) = (0L, 0L, 0L)
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
    (sr, sg, sb, w.toLong * h)
  }

  def parseImage(payload: Array[Byte]): MediaStats = {
    if (payload == null || payload.length < 4) failed("unknown")
    else {
      val container = imageContainer(payload)
      if (container == "unknown") failed(container)
      else try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        if (img == null) failed(container)
        else {
          val (sr, sg, sb, n) = rgbSums(img)
          pixelStats(container, sr.toDouble, sg.toDouble, sb.toDouble, n)
        }
      } catch { case _: Exception => failed(container) }
    }
  }

  // --- G.711 µ-law/a-law WAV through the JDK-bundled javax.sound ----

  /** G.711 µ-law decode, closed form — spec-pinned equal to the JDK
    * codec's output for all 256 codes (PipelineSpec); the mm14 oracle
    * embeds the same integer arithmetic wire-free. */
  def g711UlawDecode(code: Int): Int = {
    val u = ~code & 0xff
    val mag = ((((u & 0x0f) << 1) + 33) << ((u >> 4) & 7)) - 33
    if ((u & 0x80) != 0) -(mag << 2) else mag << 2
  }

  /** G.711 a-law decode, closed form — spec-pinned like
    * [[g711UlawDecode]]. Note the inverted sign convention: a set
    * sign bit (after the 0x55 toggle) means POSITIVE. */
  def g711AlawDecode(code: Int): Int = {
    val a = code ^ 0x55
    val e = (a >> 4) & 7
    val v = if (e == 0) ((a & 0x0f) << 4) + 8
            else (((a & 0x0f) << 4) + 264) << (e - 1)
    if ((a & 0x80) != 0) v else -v
  }

  /** Planted-sample audio ENCODED through a genuine G.711 codec into
    * a compressed WAV (µ-law fmt 7 / a-law fmt 6). The 16 PCM samples
    * are the codec's own decode-table values for codes
    * (docId·5 + j·31) mod 256 — every planted value is exactly
    * representable, so (unlike JPEG's acceptance band) the LOSSY
    * codec's round trip is bit-exact and the oracle recomputes the
    * decoded stats wire-free from the G.711 closed form. */
  def plantedAudioBytes(docId: Long, alaw: Boolean): Array[Byte] = {
    import javax.sound.sampled._
    val pcm = new Array[Byte](32)
    var j = 0
    while (j < 16) {
      val code = java.lang.Math.floorMod(docId * 5 + j * 31, 256L).toInt
      val v = if (alaw) g711AlawDecode(code) else g711UlawDecode(code)
      pcm(2 * j) = (v & 0xff).toByte
      pcm(2 * j + 1) = ((v >> 8) & 0xff).toByte
      j += 1
    }
    val src = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, false)
    val in = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), src, 16)
    val enc = if (alaw) AudioFormat.Encoding.ALAW else AudioFormat.Encoding.ULAW
    val dst = new AudioFormat(enc, 8000f, 8, 1, 1, 8000f, false)
    val conv = audioConvert(dst, in)
    val bos = new java.io.ByteArrayOutputStream()
    audioWriteWav(conv, bos)
    bos.toByteArray
  }

  /** Decode a compressed (G.711) WAV through javax.sound.sampled and
    * fold the SAME mean/RMS/peak [[parsePayload]] emits for PCM WAVs
    * (silence / clipping gates). Container is sniffed from the RIFF
    * magic + fmt code FIRST so a truncated or corrupt member
    * quarantines under its declared type: ok=false, never an
    * exception. */
  def parseAudio(payload: Array[Byte]): MediaStats = {
    if (payload == null || payload.length < 28 || !(tag(payload, 0, "RIFF") &&
        tag(payload, 8, "WAVE") && tag(payload, 12, "fmt "))) failed("unknown")
    else {
      val container = u16le(payload, 20) match {
        case 7L => "ulaw"
        case 6L => "alaw"
        case _  => "unknown"
      }
      if (container == "unknown") failed(container)
      else try {
        import javax.sound.sampled._
        val in = audioRead(payload)
        val f = in.getFormat
        val pcmF = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
          f.getSampleRate, 16, f.getChannels, 2 * f.getChannels,
          f.getSampleRate, false)
        val bytes = audioConvert(pcmF, in).readAllBytes()
        val n = bytes.length / 2
        if (n == 0) failed(container) else pcmStats(container, bytes, 0, n)
      } catch { case _: Exception => failed(container) }
    }
  }

  // --- AVI video: MJPEG, raw-DIB and MS-RLE8 frames -------------------
  // AVI is RIFF, the chunk grammar parsePayload walks for WAV; MJPEG
  // frames are JPEGs through javax.imageio, raw DIB and MS-RLE8
  // frames decode by direct byte walk.

  /** BITMAPINFOHEADER of a planted 8×2 frame (one plane). */
  private def bitmapInfo(bitCount: Int, compression: Long, sizeImage: Long,
                         clrUsed: Long): Array[Byte] =
    le32(40L) ++ le32(PlantW.toLong) ++ le32(PlantH.toLong) ++ le16(1) ++
      le16(bitCount) ++ le32(compression) ++ le32(sizeImage) ++
      le32(0L) ++ le32(0L) ++ le32(clrUsed) ++ le32(0L)

  /** A complete 8×2, 25 fps AVI around `frames`: avih
    * (dwTotalFrames @16), one 'vids' stream whose strh names
    * `handler` and whose strf is `strf`, the frames as `ckId` chunks
    * in movi (RIFF even-byte padding), and an idx1 index whose
    * offsets count from the 'movi' fourcc. Every frame is a keyframe
    * except in the inter-frame MS-RLE8 stream ('MRLE'), where only
    * frame 0 is. */
  private def aviBytes(handler: String, strf: Array[Byte], ckId: String,
                       frames: Seq[Array[Byte]]): Array[Byte] = {
    val nFrames = frames.length.toLong
    val maxFrame = frames.map(_.length).max.toLong
    val avih = le32(40000L) ++ le32(0L) ++ le32(0L) ++ le32(0x10L) ++
      le32(nFrames) ++ le32(0L) ++ le32(1L) ++ le32(maxFrame) ++
      le32(PlantW.toLong) ++ le32(PlantH.toLong) ++
      le32(0L) ++ le32(0L) ++ le32(0L) ++ le32(0L)
    val strh = "vids".getBytes("US-ASCII") ++ handler.getBytes("US-ASCII") ++
      le32(0L) ++ le16(0) ++ le16(0) ++ le32(0L) ++ le32(1L) ++ le32(25L) ++
      le32(0L) ++ le32(nFrames) ++ le32(maxFrame) ++
      le32(0xffffffffL) ++ le32(0L) ++ le16(0) ++ le16(0) ++
      le16(PlantW) ++ le16(PlantH)
    val strl = riffList("LIST", "strl",
      riffChunk("strh", strh) ++ riffChunk("strf", strf))
    val hdrl = riffList("LIST", "hdrl", riffChunk("avih", avih) ++ strl)
    val moviChunks = frames.map(riffChunk(ckId, _))
    val movi = riffList("LIST", "movi", moviChunks.reduce(_ ++ _))
    val offsets = moviChunks.scanLeft(4L)((acc, c) => acc + c.length)
    val idx1 = riffChunk("idx1", frames.indices.map { i =>
      val key = i == 0 || handler != "MRLE" // AVIIF_KEYFRAME
      ckId.getBytes("US-ASCII") ++ le32(if (key) 0x10L else 0L) ++
        le32(offsets(i)) ++ le32(frames(i).length.toLong)
    }.reduce(_ ++ _))
    riffList("RIFF", "AVI ", hdrl ++ movi ++ idx1)
  }

  /** Planted-pixel 4-frame 8×2 video in a GENUINE AVI container:
    * even ids → MJPEG (each '00dc' chunk is a real JPEG through
    * [[encodeJpeg]] — lossy, acceptance-banded like mm13's JPEG),
    * odd ids → raw bottom-up BGR DIB frames in '00db' chunks
    * (BI_RGB — lossless, exact plant equality). The wire is a
    * complete standard AVI: avih (totalFrames@16), strl with
    * 'vids' strh (handler MJPG / 'DIB ') + BITMAPINFOHEADER strf,
    * movi frame chunks with RIFF even-byte padding, and an idx1
    * keyframe index — a real media player could open it. Pixel
    * channels extend mm12/mm13's plant formulas with a per-frame
    * term over j = y·8+x, f = frame:
    * r=(id·3+f·17+j·53)%256, g=(id·11+f·19+j·29)%256,
    * b=(id·7+f·23+j·13)%256. */
  def plantedVideoBytes(docId: Long, mjpeg: Boolean): Array[Byte] = {
    val (w, h) = (PlantW, PlantH)
    val frames = (0 until PlantFrames).map { f =>
      if (mjpeg) encodeJpeg(plantedFrame(docId, f))
      else {
        // bottom-up BGR rows, the DIB layout parsePayload walks for
        // BMP (stride 8·3 = 24 is already 4-aligned, no row padding)
        val out = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            // pixel stored at bottom-up row y
            val c = plantedRgb(docId, f, (h - 1 - y) * w + x)
            val o = (y * w + x) * 3
            out(o) = c.toByte; out(o + 1) = (c >> 8).toByte; out(o + 2) = (c >> 16).toByte
            x += 1
          }
          y += 1
        }
        out
      }
    }
    val (handler, compression, ckId) =
      if (mjpeg) ("MJPG", 0x47504a4dL /* 'MJPG' LE */, "00dc") else ("DIB ", 0L, "00db")
    aviBytes(handler, bitmapInfo(24, compression, w * h * 3, 0L), ckId, frames)
  }

  /** Decode an AVI through a RIFF chunk walk + per-frame codec —
    * ImageIO for '00dc' MJPEG frames, a direct bottom-up DIB pixel
    * walk for '00db' raw frames, and a STATEFUL MS-RLE8 decode for
    * BI_RLE8 streams (mm18 — the INTER-frame class: delta frames'
    * skip/delta escapes leave pixels from the PREVIOUS frame in
    * place, so the decoder carries a frame buffer across chunks —
    * temporal prediction, the thing intra-frame codecs don't have) —
    * and fold the frame-level curation stats a video QA pass gates
    * on: across-frame channel means (meanR/G/B — solid-color /
    * black-video gates) and the peak inter-frame change of any
    * per-frame channel mean (peak — the static-video / scene-cut
    * gate). nUnits = decoded frames; ok requires every frame decoded
    * AND the count matching avih's declared dwTotalFrames (a
    * tampered header or truncated movi quarantines: ok=false under
    * container "avi" when the codec fourcc is unreachable, else
    * under its declared codec). */
  def parseVideo(payload: Array[Byte]): MediaStats = {
    if (payload == null || payload.length < 12 ||
        !(tag(payload, 0, "RIFF") && tag(payload, 8, "AVI "))) return failed("unknown")
    var container = "avi"
    var declared = -1L
    var frames = 0L
    var allOk = true
    val fold = new FrameFold
    // MS-RLE8 stream state: palette from strf, frame buffer of
    // palette indices carried across '00dc' chunks (delta frames
    // paint only what changed)
    var rlePal: Array[Int] = null
    var rleBuf: Array[Byte] = null
    var rleW = 0; var rleH = 0
    try {
      // one linear walk over the RIFF tree; lists recurse
      def walk(from: Int, to: Int): Unit = {
        var p = from
        while (p + 8 <= to) {
          val sz = u32le(payload, p + 4)
          if (sz > payload.length.toLong) return // corrupt size: stop the walk
          val end = math.min(to.toLong, p + 8 + sz).toInt
          if (tag(payload, p, "LIST") && p + 12 <= to) walk(p + 12, end)
          else if (tag(payload, p, "avih") && sz >= 20) declared = u32le(payload, p + 8 + 16)
          else if (tag(payload, p, "strf") && sz >= 20) {
            container = u32le(payload, p + 8 + 16) match {
              case 0x47504a4dL => "mjpeg"
              case 0L          => "rawvideo"
              case 1L          => "msrle"
              case _           => "avi"
            }
            if (container == "msrle") {
              val w = u32le(payload, p + 8 + 4); val h = u32le(payload, p + 8 + 8)
              val nColors = u32le(payload, p + 8 + 32) match {
                case 0L => 256L
                case c  => c
              }
              // dims sane and the full RGBQUAD table inside the chunk
              if (w <= 0 || h <= 0 || w * h > 1000000L ||
                  sz < 40L + nColors * 4) { allOk = false }
              else {
                rleW = w.toInt; rleH = h.toInt
                rleBuf = new Array[Byte](rleW * rleH)
                rlePal = new Array[Int](256)
                var i = 0
                while (i < nColors.toInt && i < 256) {
                  val o = p + 8 + 40 + i * 4 // RGBQUAD: b, g, r, reserved
                  rlePal(i) = ((payload(o + 2) & 0xff) << 16) |
                    ((payload(o + 1) & 0xff) << 8) | (payload(o) & 0xff)
                  i += 1
                }
              }
            }
          } else if ((tag(payload, p, "00dc") || tag(payload, p, "00db")) &&
                     end <= payload.length) {
            frames += 1
            val data = java.util.Arrays.copyOfRange(payload, p + 8, end)
            val m =
              if (container == "msrle") {
                if (rleBuf == null) None
                else decodeRleFrame(data, rleBuf, rleW, rleH).map { _ =>
                  var (fr2, fg2, fb2) = (0L, 0L, 0L)
                  var i = 0
                  while (i < rleBuf.length) {
                    val c = rlePal(rleBuf(i) & 0xff)
                    fr2 += (c >> 16) & 0xff; fg2 += (c >> 8) & 0xff; fb2 += c & 0xff
                    i += 1
                  }
                  val n = rleBuf.length.toLong
                  (fr2.toDouble / n, fg2.toDouble / n, fb2.toDouble / n, n)
                }
              } else decodeFrame(data, tag(payload, p, "00dc"))
            m match {
              case Some((fr, fg, fb, n)) => fold.add(fr, fg, fb, n)
              case None => allOk = false
            }
          }
          p += 8 + sz.toInt + (sz.toInt & 1)
        }
      }
      walk(12, payload.length)
      val ok = allOk && frames > 0 && frames == declared && fold.nPix > 0
      if (!ok) failed(container) else fold.stats(container, frames)
    } catch { case _: Exception => failed(container) }
  }

  /** One MS-RLE8 (BI_RLE8) frame decoded IN PLACE over `buf` (w·h
    * palette indices, bottom-up rows — position (x, yUp) lives at
    * buf(yUp·w + x)). Implements the full opcode grammar: encoded
    * runs (count ≥ 1, index), absolute mode (00 n≥3, n literals,
    * word-aligned), end-of-line (00 00), end-of-bitmap (00 01) and
    * DELTA (00 02 dx dy) — the inter-frame opcode: skipped pixels
    * keep their previous-frame value. Returns None on any bounds
    * violation or missing end-of-bitmap; `buf` may then be partially
    * written, but callers treat the whole stream as failed. */
  private def decodeRleFrame(data: Array[Byte], buf: Array[Byte],
                             w: Int, h: Int): Option[Unit] = {
    var x = 0; var yUp = 0; var p = 0
    while (p + 2 <= data.length) {
      val b0 = data(p) & 0xff; val b1 = data(p + 1) & 0xff; p += 2
      if (b0 > 0) { // encoded run
        if (x + b0 > w || yUp >= h) return None
        var i = 0
        while (i < b0) { buf(yUp * w + x) = b1.toByte; x += 1; i += 1 }
      } else b1 match {
        case 0 => x = 0; yUp += 1 // end of line
        case 1 => return Some(()) // end of bitmap
        case 2 => // delta: skip right dx, up dy — previous frame shows through
          if (p + 2 > data.length) return None
          x += data(p) & 0xff; yUp += data(p + 1) & 0xff; p += 2
          if (x > w || yUp > h) return None
        case n => // absolute mode: n literal indices, word-aligned
          if (x + n > w || yUp >= h || p + n > data.length) return None
          var i = 0
          while (i < n) { buf(yUp * w + x) = data(p + i); x += 1; i += 1 }
          p += n + (n & 1)
      }
    }
    None // ran off the end without end-of-bitmap
  }

  /** Planted 4-frame 8×2 MS-RLE8 video in a GENUINE AVI (mm18 — the
    * INTER-frame codec class): strh handler 'MRLE', strf
    * biCompression = BI_RLE8 with a full 256-entry RGBQUAD palette,
    * '00dc' frame chunks, idx1 flagging ONLY frame 0 as a keyframe.
    * Frame 0 paints every pixel (absolute-mode bottom row,
    * encoded-run top row — both opcode families genuinely on the
    * wire); frames 1-3 are TRUE delta frames: one DELTA escape skips
    * the entire bottom row (those pixels survive from the previous
    * frame — temporal prediction), then only the top row is
    * repainted. Palette channels and indices are closed forms both
    * engines recompute exactly:
    * idx keyframe (x, yUp) = (id·5 + x·19 + yUp·77) % 256,
    * idx delta f  (x, top) = (id·13 + f·37 + x·23) % 256,
    * palette r(i) = (i·53+7)%256, g(i) = (i·29+3)%256,
    * b(i) = (i·11+5)%256. */
  def plantedRleVideoBytes(docId: Long): Array[Byte] = {
    val w = PlantW
    def idx0(x: Int, yUp: Int): Int =
      java.lang.Math.floorMod(docId * 5 + x * 19 + yUp * 77, 256L).toInt
    def idxDelta(f: Int, x: Int): Int =
      java.lang.Math.floorMod(docId * 13 + f * 37 + x * 23, 256L).toInt
    val frames: Seq[Array[Byte]] = (0 until PlantFrames).map { f =>
      val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
      if (f == 0) {
        // bottom row: one absolute-mode run of 8 literals
        bb += 0; bb += 8
        (0 until w).foreach(x => bb += idx0(x, 0).toByte)
        bb += 0; bb += 0 // EOL
        // top row: encoded runs of length 1 (indices all differ)
        (0 until w).foreach { x => bb += 1; bb += idx0(x, 1).toByte }
        bb += 0; bb += 0 // EOL
        bb += 0; bb += 1 // end of bitmap
      } else {
        bb += 0; bb += 2; bb += 0; bb += 1 // DELTA: skip the bottom row
        (0 until w).foreach { x => bb += 1; bb += idxDelta(f, x).toByte }
        bb += 0; bb += 0 // EOL
        bb += 0; bb += 1 // end of bitmap
      }
      bb.toArray
    }
    val pal = (0 until 256).flatMap { i =>
      Seq(((i * 11 + 5) % 256).toByte, ((i * 29 + 3) % 256).toByte,
        ((i * 53 + 7) % 256).toByte, 0.toByte) // RGBQUAD: b, g, r, 0
    }.toArray
    aviBytes("MRLE", bitmapInfo(8, 1L /* BI_RLE8 */, PlantW * PlantH, 256L) ++ pal,
      "00dc", frames)
  }

  /** Per-frame channel means over a decoded image — shared by the
    * MJPEG ('00dc') and GIF frame folds. */
  private def frameMeans(img: java.awt.image.BufferedImage): (Double, Double, Double, Long) = {
    val (sr, sg, sb, n) = rgbSums(img)
    (sr.toDouble / n, sg.toDouble / n, sb.toDouble / n, n)
  }

  /** The across-frame fold of per-frame channel means that
    * [[parseVideo]] and [[parseGif]] share: pixel-weighted channel
    * means and the peak change of any channel mean between
    * consecutive frames (the static-video / scene-cut stat). */
  private final class FrameFold {
    private var sr, sg, sb = 0.0
    private var pr, pg, pb = 0.0
    private var havePrev = false
    private var peak = 0.0
    var nPix = 0L
    def add(fr: Double, fg: Double, fb: Double, n: Long): Unit = {
      sr += fr * n; sg += fg * n; sb += fb * n; nPix += n
      if (havePrev) {
        val d = math.max(math.abs(fr - pr),
          math.max(math.abs(fg - pg), math.abs(fb - pb)))
        if (d > peak) peak = d
      }
      pr = fr; pg = fg; pb = fb; havePrev = true
    }
    def stats(container: String, frames: Long): MediaStats =
      MediaStats(0L, container, frames, 0.0, 0.0, peak,
        sr / nPix, sg / nPix, sb / nPix, true)
  }

  /** One frame → (meanR, meanG, meanB, nPixels): ImageIO for JPEG
    * ('00dc'), bottom-up 24bpp BGR DIB walk for raw ('00db'). */
  private def decodeFrame(data: Array[Byte],
                          jpeg: Boolean): Option[(Double, Double, Double, Long)] =
    if (jpeg) {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(data))
      if (img == null) None
      else Some(frameMeans(img))
    } else {
      // raw DIB frame: dimensions fixed by the stream header in a
      // real player; our walk derives them from the byte count the
      // way parsePayload does for BMP (w·h·3 with 4-aligned stride —
      // here stride 24 means data.length = h·24, w = 8)
      val (w, h) = (8, data.length / 24)
      if (h <= 0 || data.length != h * 24) None
      else {
        var (sr, sg, sb) = (0L, 0L, 0L)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val o = (y * w + x) * 3
            sb += data(o) & 0xff; sg += data(o + 1) & 0xff; sr += data(o + 2) & 0xff
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        Some((sr.toDouble / n, sg.toDouble / n, sb.toDouble / n, n))
      }
    }

  // --- Animated GIF: LZW + palette through javax.imageio ------------
  // GIF's palette quantization is lossy in general, but a frame with
  // ≤256 distinct colors gets an EXACT palette — the 16-pixel planted
  // frames always do — so the animated round trip is lossless.

  /** Planted-pixel 4-frame 8×2 ANIMATED GIF through the JDK GIF
    * sequence writer: each frame is drawn into a TYPE_BYTE_INDEXED
    * image whose IndexColorModel is exactly the frame's own distinct
    * colors (≤16 of them), so palette quantization is the identity
    * and LZW does the only compression — lossless by construction.
    * Channel formulas (f = frame, j = y·8+x):
    * r=(id·5+f·29+j·37)%256, g=(id·13+f·31+j·41)%256,
    * b=(id·9+f·43+j·11)%256. */
  def plantedGifBytes(docId: Long): Array[Byte] = {
    val (w, h) = (PlantW, PlantH)
    val bos = new java.io.ByteArrayOutputStream()
    val wr = gifWriter.get()
    // interlace OFF: the JDK pair mis-round-trips INTERLACED frames
    // shorter than 5 rows (probed: 8×2/8×3/8×4 keep only row 0 while
    // 8×5+ survive; MODE_DISABLED round-trips 16/16) — and a frame
    // stream meant for exact-equality QA has no use for progressive
    // rendering anyway
    val p = wr.getDefaultWriteParam
    p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      wr.setOutput(ios)
      wr.prepareWriteSequence(null)
      var f = 0
      while (f < PlantFrames) {
        val colors = (0 until w * h).map { j =>
          val r = java.lang.Math.floorMod(docId * 5 + f * 29 + j * 37, 256L).toInt
          val g = java.lang.Math.floorMod(docId * 13 + f * 31 + j * 41, 256L).toInt
          val b = java.lang.Math.floorMod(docId * 9 + f * 43 + j * 11, 256L).toInt
          (r << 16) | (g << 8) | b
        }
        val palette = colors.distinct
        val cm = new java.awt.image.IndexColorModel(8, palette.size,
          palette.map(c => ((c >> 16) & 0xff).toByte).toArray,
          palette.map(c => ((c >> 8) & 0xff).toByte).toArray,
          palette.map(c => (c & 0xff).toByte).toArray)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
        var j = 0
        while (j < w * h) { img.setRGB(j % w, j / w, colors(j)); j += 1 }
        wr.writeToSequence(new javax.imageio.IIOImage(img, null, null), p)
        f += 1
      }
      wr.endWriteSequence()
    } finally { ios.close(); wr.reset() }
    bos.toByteArray
  }

  /** Decode an animated GIF through the JDK reader and fold the SAME
    * frame stats [[parseVideo]] emits (across-frame channel means +
    * peak inter-frame channel change). Container is sniffed from the
    * GIF8 magic FIRST; a truncated or LZW-corrupt member quarantines
    * ok=false under "gif", never an exception. */
  def parseGif(payload: Array[Byte]): MediaStats = {
    if (payload == null || payload.length < 6 || !tag(payload, 0, "GIF8")) failed("unknown")
    else try {
      val rd = gifReader.get()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        rd.setInput(iis, false, true)
        val n = rd.getNumImages(true)
        if (n <= 0) failed("gif")
        else {
          val fold = new FrameFold
          var f = 0
          while (f < n) {
            val (fr, fg, fb, np) = frameMeans(rd.read(f))
            fold.add(fr, fg, fb, np)
            f += 1
          }
          if (fold.nPix == 0) failed("gif") else fold.stats("gif", n.toLong)
        }
      } finally { rd.reset(); iis.close() }
    } catch { case _: Exception => failed("gif") }
  }

  /** Format tag of the first "fmt " chunk in a RIFF/WAVE payload via
    * a minimal chunk walk (-1 when absent or truncated). Bounds are
    * checked in Long: a crafted u32 chunk length near 2^31 must
    * quarantine, not crash the task on a negative offset. */
  private def waveFmtTag(payload: Array[Byte]): Int = {
    var off = 12
    while (off + 8 <= payload.length) {
      val isFmt = tag(payload, off, "fmt ")
      val len = u32le(payload, off + 4)
      if (off + 8 + len > payload.length.toLong) return -1
      if (isFmt) return if (len >= 2) u16le(payload, off + 8).toInt else -1
      off += 8 + len.toInt + (len.toInt & 1)
    }
    -1
  }

  /** Sniff-and-route decode — the single entry a mixed-modality
    * corpus scan needs (p11's curate cascade): magic bytes pick the
    * parser (PNG/JPEG → [[parseImage]], RIFF-AVI → [[parseVideo]],
    * RIFF-WAVE → [[parseAudio]] for G.711 members falling back to
    * [[parsePayload]] for PCM, 'BM' → [[parsePayload]]), anything
    * else — including members truncated before their codec is
    * readable — quarantines ok=false. One branch test per payload;
    * the codecs stay inside the partition iterator. */
  def parseAny(payload: Array[Byte]): MediaStats = {
    if (payload == null || payload.length < 4) failed("unknown")
    else if (tag(payload, 0, "fLaC")) parseFlac(payload)
    else if (tag(payload, 0, "RIFF") && tag(payload, 8, "AVI ")) parseVideo(payload)
    else if (tag(payload, 0, "RIFF") && tag(payload, 8, "WAVE")) {
      // route on the fmt tag: G.711 (7/6) → javax.sound, IMA ADPCM
      // (0x11) → the pure-JVM predictive codec, else PCM. The tag is
      // located by a minimal chunk walk, not a fixed byte-20 read — a
      // conforming WAV may lead with LIST/JUNK chunks before "fmt "
      if (waveFmtTag(payload) == 0x11) {
        val ad = AdpcmCodec.parse(payload)
        MediaStats(0L, "adpcm", ad.nSamples, ad.meanSignal, ad.rms,
          ad.peak, 0.0, 0.0, 0.0, ad.ok)
      } else {
        val a = parseAudio(payload)
        if (a.container != "unknown") a else parsePayload(payload)
      }
    }
    else if (imageContainer(payload) != "unknown") parseImage(payload)
    else if (tag(payload, 0, "GIF8")) parseGif(payload)
    else if (tag(payload, 0, "BM")) parsePayload(payload)
    else failed("unknown")
  }

  /** The mixed-modality curate-corpus plant (id mod 7) — ONE
    * definition shared by the p11 batch query, its DSL facade spec,
    * the live mediaCurateStream spec, and the bench's media
    * throughput leg, so the seven-class corpus can never fork:
    * PNG / G.711 µ-law WAV / raw-DIB AVI / a truncated upload /
    * FLAC / MS-RLE8 inter-frame AVI / IMA ADPCM WAV (gain 8, so its
    * decoded RMS genuinely splits the silent gate). */
  def plantedCurateBytes(id: Long): Array[Byte] =
    (java.lang.Math.floorMod(id, 7L) match {
      case 0L => plantedImageBytes(id, jpeg = false)
      case 1L => plantedAudioBytes(id, alaw = false)
      case 2L => plantedVideoBytes(id, mjpeg = false)
      case 3L => // an upload truncated before its codec is readable
        plantedAudioBytes(id, alaw = false).take(20)
      case 4L => plantedFlacBytes(id)
      case 5L => plantedRleVideoBytes(id)
      case _  => AdpcmCodec.plantedAdpcmBytes(id, gain = 8)
    })

  // --- FLAC through the pure-JVM FlacCodec (RFC 9639) ----------------
  // A real encoder (FIXED order-2 prediction, per-partition optimal
  // rice parameters, CRC-8/CRC-16, STREAMINFO MD5) and a general subset
  // decoder (all subframe types incl. LPC, both rice methods, stereo
  // decorrelation modes, every integrity layer verified).

  /** 64 planted s16 samples: a per-doc ramp (base + slope·j) plus
    * bounded noise — closed forms both engines recompute exactly
    * (integers, |s| < 2^15). The ramp is what makes the order-2
    * fixed predictor genuinely compress: second differences cancel
    * the ramp, leaving only the small noise for the rice coder. */
  def plantedFlacSamples(docId: Long): Array[Int] = {
    val base = (java.lang.Math.floorMod(docId, 211L) * 97L - 10000L).toInt
    val slope = (java.lang.Math.floorMod(docId, 31L) - 15L).toInt
    Array.tabulate(64) { j =>
      val noise = java.lang.Math.floorMod(docId * 31L + j.toLong * j * 7L + j * 13L, 9L).toInt - 4
      base + slope * j + noise
    }
  }

  /** A complete, real FLAC stream for the planted samples — any
    * conforming player can open it; [[FlacCodec.encode]] does the
    * actual rice-coded compression. */
  def plantedFlacBytes(docId: Long): Array[Byte] =
    FlacCodec.encode(plantedFlacSamples(docId))

  /** Decode a FLAC stream and fold the SAME mean/RMS/peak stats
    * [[parsePayload]] emits for PCM WAVs (silence / clipping gates),
    * channels pooled. ok only if every integrity layer holds
    * (header CRC-8 per frame, whole-frame CRC-16, stream MD5) —
    * a truncated or bit-flipped member quarantines under "flac". */
  def parseFlac(payload: Array[Byte]): MediaStats = {
    if (!tag(payload, 0, "fLaC")) failed("unknown")
    else FlacCodec.decode(payload) match {
      case None => failed("flac")
      case Some(d) =>
        val n = d.channels.length * d.channels(0).length
        var (sum, sq, pk) = (0.0, 0.0, 0.0)
        var c = 0
        while (c < d.channels.length) {
          val ch = d.channels(c); var i = 0
          while (i < ch.length) {
            val s = ch(i).toDouble
            sum += s; sq += s * s; if (math.abs(s) > pk) pk = math.abs(s)
            i += 1
          }
          c += 1
        }
        if (n == 0) failed("flac")
        else MediaStats(0L, "flac", n.toLong, sum / n, math.sqrt(sq / n), pk,
          0.0, 0.0, 0.0, true)
    }
  }
}
