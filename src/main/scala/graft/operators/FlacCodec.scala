package graft.operators

/** A REAL FLAC codec in pure JVM code (round 13, mm17) — the format
  * the mm12/mm14 docstrings called "genuinely needs external
  * libraries" does not: FLAC is an open spec (RFC 9639) of bit-level
  * primitives the JDK already covers (MessageDigest MD5) plus ~300
  * lines of rice coding, fixed-predictor reconstruction and CRCs.
  *
  * Encoder (the plant side): mono 16-bit PCM, one frame, FIXED
  * order-2 prediction with genuine rice-coded residuals (per-partition
  * optimal parameter, 2 partitions) — a real player can open the
  * output: fLaC magic, STREAMINFO with the audio MD5, frame header
  * with CRC-8, frame footer CRC-16.
  *
  * Decoder (the engine side): a general FLAC subset reader, NOT the
  * encoder's inverse — all block-size/sample-size codes, UTF-8-coded
  * frame/sample numbers, wasted bits, CONSTANT / VERBATIM / FIXED
  * 0-4 / LPC subframes, both rice methods (4- and 5-bit parameters)
  * with escape partitions, all 8 independent-channel layouts plus the
  * three stereo decorrelation modes (left-side / right-side /
  * mid-side). Integrity is layered the way the spec intends: frame
  * header CRC-8, whole-frame CRC-16, and the STREAMINFO MD5 over the
  * decoded PCM — a single flipped byte anywhere in a frame is a burst
  * error ≤ 8 bits, which CRC-16 always detects, and a flip in the MD5
  * field itself fails the final digest compare (spec-pinned both
  * ways). Reference behavior context: watermill-kinesis marshals
  * opaque binary payloads (marshaller.go:28-71); decoding them is the
  * engine-side analytics this library adds.
  *
  * Scale shape: everything here runs inside a mapPartitions iterator
  * over the payload column — payload bytes never shuffle.
  */
object FlacCodec {

  /** MSB-first bit writer over a growable byte buffer. */
  final class BitWriter {
    private var buf = new Array[Byte](64)
    private var bitLen = 0
    private def ensure(nBits: Int): Unit = {
      val need = (bitLen + nBits + 7) / 8
      if (need > buf.length) {
        val nb = new Array[Byte](math.max(need, buf.length * 2))
        System.arraycopy(buf, 0, nb, 0, buf.length); buf = nb
      }
    }
    def writeBits(value: Long, n: Int): Unit = {
      ensure(n)
      var i = n - 1
      while (i >= 0) {
        if (((value >>> i) & 1L) != 0L)
          buf(bitLen / 8) = (buf(bitLen / 8) | (0x80 >>> (bitLen % 8))).toByte
        bitLen += 1; i -= 1
      }
    }
    /** FLAC unary: q zero bits then a one bit. */
    def writeUnary(q: Int): Unit = { var i = 0; while (i < q) { writeBits(0L, 1); i += 1 }; writeBits(1L, 1) }
    def alignByte(): Unit = if (bitLen % 8 != 0) writeBits(0L, 8 - bitLen % 8)
    def toBytes: Array[Byte] = { alignByte(); java.util.Arrays.copyOf(buf, bitLen / 8) }
  }

  /** MSB-first bit reader; throws on overrun (callers catch → ok=false). */
  final class BitReader(val bytes: Array[Byte]) {
    var bitPos: Int = 0
    def bytePos: Int = bitPos / 8
    def readBits(n: Int): Long = {
      if (bitPos + n > bytes.length * 8) throw new IndexOutOfBoundsException("flac: bit overrun")
      var v = 0L; var i = 0
      while (i < n) {
        v = (v << 1) | ((bytes(bitPos / 8) >>> (7 - bitPos % 8)) & 1L)
        bitPos += 1; i += 1
      }
      v
    }
    def readSigned(n: Int): Long = {
      val v = readBits(n)
      if (n > 0 && (v & (1L << (n - 1))) != 0L) v - (1L << n) else v
    }
    def readUnary(): Int = {
      var q = 0
      while (readBits(1) == 0L) {
        q += 1
        if (q > bytes.length * 8) throw new IndexOutOfBoundsException("flac: unary overrun")
      }
      q
    }
    def alignByte(): Unit = if (bitPos % 8 != 0) bitPos += 8 - bitPos % 8
  }

  /** CRC-8, poly x^8+x^2+x+1 (0x07), init 0 — FLAC frame header CRC. */
  def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0; var i = from
    while (i < until) {
      crc ^= (b(i) & 0xff)
      var k = 0
      while (k < 8) { crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff; k += 1 }
      i += 1
    }
    crc
  }

  /** CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0 — FLAC frame CRC. */
  def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0; var i = from
    while (i < until) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) { crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff else (crc << 1) & 0xffff; k += 1 }
      i += 1
    }
    crc
  }

  private def md5OfSamplesLE(samples: Array[Int]): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val b = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      b(i * 2) = (samples(i) & 0xff).toByte
      b(i * 2 + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    md.digest(b)
  }

  private def zigzag(e: Long): Long = (e << 1) ^ (e >> 63)
  private def unzigzag(u: Long): Long = (u >>> 1) ^ -(u & 1L)

  private def riceBits(resid: Array[Long], from: Int, until: Int, k: Int): Long = {
    var bits = 0L; var i = from
    while (i < until) { bits += (zigzag(resid(i)) >>> k) + 1 + k; i += 1 }
    bits
  }

  /** Best 4-bit rice parameter (0..14) for a residual slice. */
  private def bestRiceK(resid: Array[Long], from: Int, until: Int): Int = {
    var best = 0; var bestBits = Long.MaxValue; var k = 0
    while (k <= 14) {
      val b = riceBits(resid, from, until, k)
      if (b < bestBits) { bestBits = b; best = k }
      k += 1
    }
    best
  }

  /** Encode mono 16-bit samples as one real FLAC stream: one FIXED
    * order-2 frame, rice partition order 1 (two partitions, each with
    * its own optimal parameter). `n` must be a power of two in
    * [16, 256] so the partition split and the 8-bit block-size field
    * are both legal. */
  def encode(samples: Array[Int]): Array[Byte] = {
    val n = samples.length
    require(n >= 16 && n <= 256 && (n & (n - 1)) == 0, s"encode: n=$n")
    require(samples.forall(s => s >= -32768 && s <= 32767), "encode: not s16")
    val order = 2
    val resid = new Array[Long](n)
    var i = order
    while (i < n) { resid(i) = samples(i).toLong - 2L * samples(i - 1) + samples(i - 2); i += 1 }

    val fw = new BitWriter
    // Frame header: sync(14)=0x3FFE, reserved(1)=0, blocking(1)=0 fixed
    fw.writeBits(0x3FFEL, 14); fw.writeBits(0L, 1); fw.writeBits(0L, 1)
    fw.writeBits(0x6L, 4)  // block size: 8-bit (n-1) follows
    fw.writeBits(0x9L, 4)  // sample rate: 44.1 kHz from table
    fw.writeBits(0x0L, 4)  // channel assignment: mono
    fw.writeBits(0x4L, 3)  // sample size: 16 bits
    fw.writeBits(0L, 1)    // reserved
    fw.writeBits(0L, 8)    // coded frame number 0 (UTF-8 single byte)
    fw.writeBits((n - 1).toLong, 8)
    val headBytes = fw.toBytes // aligned: 14+1+1+4+4+4+3+1+8+8 = 48 bits
    fw.writeBits(crc8(headBytes, 0, headBytes.length).toLong, 8)
    // Subframe: pad(1)=0, type(6)=FIXED order 2 = 0b001010, wasted(1)=0
    fw.writeBits(0L, 1); fw.writeBits(0x8L | order.toLong, 6); fw.writeBits(0L, 1)
    fw.writeBits(samples(0).toLong & 0xffffL, 16)
    fw.writeBits(samples(1).toLong & 0xffffL, 16)
    // Residual: method(2)=00 rice4, partition order(4)=1
    fw.writeBits(0L, 2); fw.writeBits(1L, 4)
    val half = n / 2
    var part = 0
    while (part < 2) {
      val from = if (part == 0) order else half
      val until = if (part == 0) half else n
      val k = bestRiceK(resid, from, until)
      fw.writeBits(k.toLong, 4)
      var j = from
      while (j < until) {
        val u = zigzag(resid(j))
        fw.writeUnary((u >>> k).toInt)
        fw.writeBits(u & ((1L << k) - 1), k)
        j += 1
      }
      part += 1
    }
    fw.alignByte()
    val frameNoCrc = fw.toBytes
    fw.writeBits(crc16(frameNoCrc, 0, frameNoCrc.length).toLong, 16)
    val frame = fw.toBytes

    val sw = new BitWriter
    sw.writeBits(0x664C6143L, 32) // "fLaC"
    sw.writeBits(1L, 1)           // last metadata block
    sw.writeBits(0L, 7)           // STREAMINFO
    sw.writeBits(34L, 24)
    sw.writeBits(n.toLong, 16); sw.writeBits(n.toLong, 16)          // min/max block size
    sw.writeBits(frame.length.toLong, 24); sw.writeBits(frame.length.toLong, 24) // min/max frame size
    sw.writeBits(44100L, 20)
    sw.writeBits(0L, 3)           // channels - 1
    sw.writeBits(15L, 5)          // bps - 1
    sw.writeBits(n.toLong, 36)    // total samples
    md5OfSamplesLE(samples).foreach(b => sw.writeBits(b.toLong & 0xff, 8))
    val head = sw.toBytes
    val out = new Array[Byte](head.length + frame.length)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(frame, 0, out, head.length, frame.length)
    out
  }

  /** Decoded stream: per-channel samples plus the stream params. */
  final case class Decoded(channels: Array[Array[Int]], sampleRate: Int, bps: Int)

  private def readUtf8Coded(r: BitReader): Long = {
    val b0 = r.readBits(8)
    if ((b0 & 0x80L) == 0L) b0
    else {
      var cont = 0; var mask = 0x40L
      while ((b0 & mask) != 0L && cont < 6) { cont += 1; mask >>= 1 }
      if (cont == 0) throw new IllegalArgumentException("flac: bad utf8 lead")
      var v = b0 & (mask - 1)
      var i = 0
      while (i < cont) {
        val b = r.readBits(8)
        if ((b & 0xC0L) != 0x80L) throw new IllegalArgumentException("flac: bad utf8 cont")
        v = (v << 6) | (b & 0x3FL); i += 1
      }
      v
    }
  }

  private def readResiduals(r: BitReader, blockSize: Int, predOrder: Int): Array[Long] = {
    val method = r.readBits(2).toInt
    if (method > 1) throw new IllegalArgumentException("flac: residual method")
    val paramBits = if (method == 0) 4 else 5
    val escape = if (method == 0) 0xF else 0x1F
    val partOrder = r.readBits(4).toInt
    val nParts = 1 << partOrder
    if (blockSize % nParts != 0 || (blockSize >> partOrder) <= predOrder && nParts == 1)
      throw new IllegalArgumentException("flac: partition split")
    val out = new Array[Long](blockSize - predOrder)
    var idx = 0; var part = 0
    while (part < nParts) {
      val count = (blockSize >> partOrder) - (if (part == 0) predOrder else 0)
      if (count < 0) throw new IllegalArgumentException("flac: partition count")
      val p = r.readBits(paramBits).toInt
      if (p == escape) {
        val raw = r.readBits(5).toInt
        var i = 0
        while (i < count) { out(idx) = if (raw == 0) 0L else r.readSigned(raw); idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < count) {
          val q = r.readUnary().toLong
          out(idx) = unzigzag((q << p) | r.readBits(p)); idx += 1; i += 1
        }
      }
      part += 1
    }
    out
  }

  private def readSubframe(r: BitReader, blockSize: Int, bps: Int): Array[Int] = {
    if (r.readBits(1) != 0L) throw new IllegalArgumentException("flac: subframe pad bit")
    val typ = r.readBits(6).toInt
    val wasted = if (r.readBits(1) == 1L) r.readUnary() + 1 else 0
    val ebps = bps - wasted
    if (ebps <= 0 || ebps > 32) throw new IllegalArgumentException("flac: wasted bits")
    val out: Array[Int] =
      if (typ == 0) { // CONSTANT
        val v = r.readSigned(ebps).toInt; Array.fill(blockSize)(v)
      } else if (typ == 1) { // VERBATIM
        Array.fill(blockSize)(r.readSigned(ebps).toInt)
      } else if ((typ & 0x38) == 0x08 && (typ & 0x07) <= 4) { // FIXED 0-4
        val order = typ & 0x07
        if (order > blockSize) throw new IllegalArgumentException("flac: fixed order")
        val s = new Array[Int](blockSize)
        var i = 0
        while (i < order) { s(i) = r.readSigned(ebps).toInt; i += 1 }
        val e = readResiduals(r, blockSize, order)
        i = order
        while (i < blockSize) {
          val pred: Long = order match {
            case 0 => 0L
            case 1 => s(i - 1).toLong
            case 2 => 2L * s(i - 1) - s(i - 2)
            case 3 => 3L * s(i - 1) - 3L * s(i - 2) + s(i - 3)
            case _ => 4L * s(i - 1) - 6L * s(i - 2) + 4L * s(i - 3) - s(i - 4)
          }
          s(i) = (pred + e(i - order)).toInt; i += 1
        }
        s
      } else if ((typ & 0x20) != 0) { // LPC, order = (typ & 0x1F) + 1
        val order = (typ & 0x1F) + 1
        if (order > blockSize) throw new IllegalArgumentException("flac: lpc order")
        val s = new Array[Int](blockSize)
        var i = 0
        while (i < order) { s(i) = r.readSigned(ebps).toInt; i += 1 }
        val precision = r.readBits(4).toInt + 1
        if (precision == 16) throw new IllegalArgumentException("flac: lpc precision")
        val shift = r.readSigned(5).toInt
        if (shift < 0) throw new IllegalArgumentException("flac: negative lpc shift")
        val coefs = Array.fill(order)(r.readSigned(precision))
        val e = readResiduals(r, blockSize, order)
        i = order
        while (i < blockSize) {
          var acc = 0L; var j = 0
          while (j < order) { acc += coefs(j) * s(i - 1 - j); j += 1 }
          s(i) = ((acc >> shift) + e(i - order)).toInt; i += 1
        }
        s
      } else throw new IllegalArgumentException("flac: reserved subframe type")
    if (wasted > 0) { var i = 0; while (i < out.length) { out(i) = out(i) << wasted; i += 1 } }
    out
  }

  /** Decode a whole FLAC stream. Returns None on ANY violation —
    * magic, header CRC-8, frame CRC-16, MD5 mismatch, overrun,
    * reserved codes. */
  def decode(payload: Array[Byte]): Option[Decoded] = {
    try {
      if (payload.length < 42 || payload(0) != 'f' || payload(1) != 'L' ||
          payload(2) != 'a' || payload(3) != 'C') return None
      val r = new BitReader(payload)
      r.bitPos = 32
      // metadata blocks
      var last = false
      var sampleRate = 0; var channels = 0; var bps = 0; var totalSamples = 0L
      var md5 = new Array[Byte](16); var sawStreamInfo = false
      while (!last) {
        last = r.readBits(1) == 1L
        val typ = r.readBits(7).toInt
        val len = r.readBits(24).toInt
        if (typ == 0) {
          if (len != 34) return None
          sawStreamInfo = true
          r.readBits(16); r.readBits(16) // min/max block size
          r.readBits(24); r.readBits(24) // min/max frame size
          sampleRate = r.readBits(20).toInt
          channels = r.readBits(3).toInt + 1
          bps = r.readBits(5).toInt + 1
          totalSamples = r.readBits(36)
          md5 = Array.fill(16)(r.readBits(8).toByte)
        } else {
          r.bitPos += len * 8
          if (r.bitPos > payload.length * 8) return None
        }
      }
      if (!sawStreamInfo || sampleRate == 0 || totalSamples <= 0 ||
          totalSamples > 1000000L) return None
      val out = Array.fill(channels)(new Array[Int](totalSamples.toInt))
      var decoded = 0L
      while (decoded < totalSamples) {
        r.alignByte()
        val frameStart = r.bytePos
        if (r.readBits(14) != 0x3FFEL) return None
        if (r.readBits(1) != 0L) return None
        r.readBits(1) // blocking strategy (number semantics don't affect sample decode here)
        val bsCode = r.readBits(4).toInt
        val srCode = r.readBits(4).toInt
        val chanAssign = r.readBits(4).toInt
        val ssCode = r.readBits(3).toInt
        if (r.readBits(1) != 0L) return None
        readUtf8Coded(r)
        val blockSize = bsCode match {
          case 0 => return None
          case 1 => 192
          case c if c >= 2 && c <= 5 => 576 << (c - 2)
          case 6 => r.readBits(8).toInt + 1
          case 7 => r.readBits(16).toInt + 1
          case c => 256 << (c - 8)
        }
        srCode match { // only consume the trailing field; STREAMINFO rate is authoritative
          case 12 => r.readBits(8)
          case 13 | 14 => r.readBits(16)
          case 15 => return None
          case _ => ()
        }
        val frameBps = ssCode match {
          case 0 => bps
          case 1 => 8
          case 2 => 12
          case 4 => 16
          case 5 => 20
          case 6 => 24
          case 7 => 32
          case _ => return None
        }
        if (frameBps != bps) return None
        // CRC-8 over the header bytes read so far
        if (r.bitPos % 8 != 0) return None
        val declaredCrc8 = r.readBits(8).toInt
        if (crc8(payload, frameStart, r.bytePos - 1) != declaredCrc8) return None
        if (decoded + blockSize > totalSamples) return None
        val frameCh = chanAssign match {
          case c if c <= 7 => c + 1
          case 8 | 9 | 10 => 2
          case _ => return None
        }
        if (frameCh != channels) return None
        val subs = new Array[Array[Int]](frameCh)
        var c = 0
        while (c < frameCh) {
          val extra = chanAssign match {
            case 8 if c == 1 => 1 // left-side: side channel is bps+1
            case 9 if c == 0 => 1 // right-side: side first
            case 10 if c == 1 => 1 // mid-side: side second
            case _ => 0
          }
          subs(c) = readSubframe(r, blockSize, bps + extra)
          c += 1
        }
        r.alignByte()
        val crcEnd = r.bytePos
        val declaredCrc16 = r.readBits(16).toInt
        if (crc16(payload, frameStart, crcEnd) != declaredCrc16) return None
        // undo stereo decorrelation
        val chans: Array[Array[Int]] = chanAssign match {
          case 8 => // left, side: right = left - side
            Array(subs(0), Array.tabulate(blockSize)(i => subs(0)(i) - subs(1)(i)))
          case 9 => // side, right: left = right + side
            Array(Array.tabulate(blockSize)(i => subs(1)(i) + subs(0)(i)), subs(1))
          case 10 => // mid, side (spec: mid is the shifted sum minus side LSB)
            Array.tabulate(2) { chIdx =>
              Array.tabulate(blockSize) { i =>
                val mid = (subs(0)(i).toLong << 1) | (subs(1)(i).toLong & 1L)
                val side = subs(1)(i).toLong
                if (chIdx == 0) ((mid + side) >> 1).toInt else ((mid - side) >> 1).toInt
              }
            }
          case _ => subs
        }
        c = 0
        while (c < channels) {
          System.arraycopy(chans(c), 0, out(c), decoded.toInt, blockSize); c += 1
        }
        decoded += blockSize
      }
      // MD5 over decoded PCM (interleaved LE), unless the writer left it zero
      if (md5.exists(_ != 0)) {
        val mdd = java.security.MessageDigest.getInstance("MD5")
        val bytesPer = (bps + 7) / 8
        val buf = new Array[Byte](channels * bytesPer)
        var i = 0
        while (i < totalSamples.toInt) {
          var c2 = 0
          while (c2 < channels) {
            var b2 = 0
            while (b2 < bytesPer) { buf(c2 * bytesPer + b2) = ((out(c2)(i) >> (8 * b2)) & 0xff).toByte; b2 += 1 }
            c2 += 1
          }
          mdd.update(buf); i += 1
        }
        if (!java.util.Arrays.equals(mdd.digest(), md5)) return None
      }
      Some(Decoded(out, sampleRate, bps))
    } catch { case _: RuntimeException => None }
  }
}
