package graft.operators

/** IMA ADPCM (round 13, mm20) — the compressed-audio class between
  * G.711 (mm14: table lookup, no state) and FLAC (mm17: lossless):
  * a real, standardized LOSSY predictive codec (IMA/DVI ADPCM, WAV
  * format tag 0x11, 4 bits per sample) whose decoder is a stateful
  * integer machine — each nibble updates a predictor and a step-size
  * index, so sample N depends on every nibble before it. The JDK
  * ships no ADPCM codec; this implements the public spec (the IMA
  * Digital Audio Pack algorithm, also IETF RFC 3551 §4.5.1 wire) in
  * pure JVM code: an encoder (greedy sign+magnitude quantizer
  * against the evolving step) and an exact decoder, wrapped in the
  * genuine WAV layout (fmt tag 0x11 with wSamplesPerBlock extension,
  * fact chunk, per-block 4-byte state header + packed nibbles,
  * low nibble first).
  *
  * Correctness shape: the codec is lossy, but the DECODER is an
  * exact integer function of (header predictor, header index, nibble
  * stream) — so a plant that fixes the NIBBLES has a closed-form
  * decode both engines replay step for step (the DuckDB oracle runs
  * the same state machine as a recursive CTE over the same step
  * tables). Clamping (predictor to s16, index to [0,88]) is integer
  * min/max in both.
  *
  * Reference behavior context: watermill-kinesis ships opaque binary
  * payloads (marshaller.go:28-71); this is engine-side decode of a
  * telephony/game-audio wire those payloads commonly carry.
  */
object AdpcmCodec {

  import MediaDecode.{le16, le32, riffChunk, riffList, tag, u16le, u32le}

  /** The IMA step-size table (89 entries, public spec). */
  val StepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767)

  /** Index adjustment per nibble magnitude (public spec). */
  val IndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** Decoder state: the previous output sample and step index. */
  final case class State(predictor: Int, index: Int)

  private def clampS16(v: Int): Int = math.max(-32768, math.min(32767, v))
  private def clampIdx(i: Int): Int = math.max(0, math.min(88, i))

  /** One decode step: nibble → next state (whose predictor IS the
    * output sample). Bit-exact to the spec: diff = step/8 (+step/4
    * if b0)(+step/2 if b1)(+step if b2), sign from b3, then clamp. */
  def decodeNibble(st: State, nib: Int): State = {
    val step = StepTable(st.index)
    var diff = step >> 3
    if ((nib & 1) != 0) diff += step >> 2
    if ((nib & 2) != 0) diff += step >> 1
    if ((nib & 4) != 0) diff += step
    val p = if ((nib & 8) != 0) st.predictor - diff else st.predictor + diff
    State(clampS16(p), clampIdx(st.index + IndexTable(nib & 7)))
  }

  /** One encode step: the spec's greedy quantizer — peel sign, then
    * step, step/2, step/4 — and the decoder-mirrored state update
    * (the encoder must track the DECODER's reconstruction, not the
    * input, or the error compounds). */
  def encodeNibble(st: State, sample: Int): (Int, State) = {
    val step = StepTable(st.index)
    var delta = sample - st.predictor
    var nib = 0
    if (delta < 0) { nib = 8; delta = -delta }
    if (delta >= step) { nib |= 4; delta -= step }
    if (delta >= (step >> 1)) { nib |= 2; delta -= step >> 1 }
    if (delta >= (step >> 2)) nib |= 1
    (nib, decodeNibble(st, nib))
  }

  /** One IMA block from explicit state + nibbles: 4-byte header
    * (predictor s16le, index, reserved 0) + nibbles packed two per
    * byte, LOW nibble first — the standard WAV/IMA layout. */
  def blockBytes(predictor0: Int, index0: Int, nibbles: Array[Int]): Array[Byte] = {
    require(nibbles.length % 2 == 0, "nibble count must be even")
    val out = new Array[Byte](4 + nibbles.length / 2)
    out(0) = (predictor0 & 0xff).toByte
    out(1) = ((predictor0 >> 8) & 0xff).toByte
    out(2) = index0.toByte
    out(3) = 0
    var j = 0
    while (j < nibbles.length) {
      out(4 + j / 2) = ((nibbles(j) & 0x0f) | ((nibbles(j + 1) & 0x0f) << 4)).toByte
      j += 2
    }
    out
  }

  /** Encode PCM into one IMA block (sample 0 rides in the header). */
  def encodeBlock(pcm: Array[Int], index0: Int): Array[Byte] = {
    var st = State(clampS16(pcm(0)), clampIdx(index0))
    val nibs = new Array[Int](pcm.length - 1)
    var j = 1
    while (j < pcm.length) {
      val (nib, next) = encodeNibble(st, clampS16(pcm(j)))
      nibs(j - 1) = nib
      st = next
      j += 1
    }
    blockBytes(clampS16(pcm(0)), clampIdx(index0), nibs)
  }

  /** Decode one IMA block to `nSamples` PCM values (header sample +
    * one per nibble). */
  def decodeBlock(block: Array[Byte], nSamples: Int): Array[Int] =
    decodeBlockState(block, nSamples)._1

  /** [[decodeBlock]] plus the decoder state after the last nibble —
    * [[parse]] reports its step index. */
  private def decodeBlockState(block: Array[Byte], nSamples: Int): (Array[Int], State) = {
    val pred0 = ((block(0) & 0xff) | (block(1) << 8)).toShort.toInt
    var st = State(pred0, clampIdx(block(2) & 0xff))
    val out = new Array[Int](nSamples)
    out(0) = pred0
    var j = 1
    while (j < nSamples) {
      val b = block(4 + (j - 1) / 2) & 0xff
      val nib = if ((j - 1) % 2 == 0) b & 0x0f else b >> 4
      st = decodeNibble(st, nib)
      out(j) = st.predictor
      j += 1
    }
    (out, st)
  }

  /** A complete, standards-conformant IMA-ADPCM WAV: fmt tag 0x11
    * with the cbSize=2 wSamplesPerBlock extension, a fact chunk
    * (required for compressed WAVs), and the block data. */
  def wavBytes(blocks: Array[Array[Byte]], samplesPerBlock: Int,
               sampleRate: Int = 8000): Array[Byte] = {
    val blockAlign = blocks.head.length
    val data = blocks.flatten
    val avgBytes = (sampleRate.toLong * blockAlign / samplesPerBlock).toInt
    val fmt = le16(0x11) ++ le16(1) ++ le32(sampleRate.toLong) ++
      le32(avgBytes.toLong) ++ le16(blockAlign) ++ le16(4) ++
      le16(2) ++ le16(samplesPerBlock)
    val fact = le32(samplesPerBlock.toLong * blocks.length)
    riffList("RIFF", "WAVE",
      riffChunk("fmt ", fmt) ++ riffChunk("fact", fact) ++ riffChunk("data", data))
  }

  /** One decoded ADPCM stream's stats row. */
  final case class AdpcmStats(docId: Long, container: String, nSamples: Long,
                              meanSignal: Double, rms: Double, peak: Double,
                              firstSample: Long, lastSample: Long,
                              endIndex: Long, ok: Boolean)

  /** Decode an IMA-ADPCM WAV trusting only the bytes: RIFF/WAVE
    * grammar, fmt tag 0x11, block-align vs samples-per-block
    * consistency (the declared count must fit the block's nibbles),
    * whole blocks only. Anything off quarantines as ok=false. */
  def parse(payload: Array[Byte]): AdpcmStats = {
    val none = AdpcmStats(0L, "unknown", 0L, 0.0, 0.0, 0.0, 0L, 0L, 0L, false)
    if (payload == null || payload.length < 12 ||
        !(tag(payload, 0, "RIFF") && tag(payload, 8, "WAVE"))) return none
    // chunk walk
    var off = 12
    var fmtOff = -1; var fmtLen = 0; var dataOff = -1; var dataLen = 0
    while (off + 8 <= payload.length) {
      val id = new String(payload.slice(off, off + 4), "US-ASCII")
      // bounds check in Long: a crafted u32 length near 2^31 would
      // overflow an Int sum to negative, pass the check, and crash the
      // task on a negative offset instead of quarantining
      val lenL = u32le(payload, off + 4)
      if (off + 8 + lenL > payload.length.toLong)
        return none.copy(container = "adpcm") // truncated chunk
      val len = lenL.toInt
      if (id == "fmt ") { fmtOff = off + 8; fmtLen = len }
      if (id == "data") { dataOff = off + 8; dataLen = len }
      off += 8 + len + (len & 1)
    }
    if (fmtOff < 0 || fmtLen < 20 || dataOff < 0) return none
    if (u16le(payload, fmtOff) != 0x11) return none // not IMA ADPCM
    val channels = u16le(payload, fmtOff + 2)
    val blockAlign = u16le(payload, fmtOff + 12).toInt
    val samplesPerBlock = u16le(payload, fmtOff + 18).toInt
    // the declared per-block sample count must fit the block: header
    // sample + 2 nibbles per data byte
    if (channels != 1 || blockAlign < 5 ||
        samplesPerBlock > 1 + (blockAlign - 4) * 2 || samplesPerBlock < 1 ||
        dataLen % blockAlign != 0 || dataLen == 0)
      return none.copy(container = "adpcm")
    var (sum, sq, pk) = (0.0, 0.0, 0.0)
    var n = 0L
    var first = 0L; var last = 0L; var endIdx = 0L
    var b = 0
    while (b < dataLen / blockAlign) {
      val block = payload.slice(dataOff + b * blockAlign,
        dataOff + (b + 1) * blockAlign)
      if ((block(2) & 0xff) > 88) return none.copy(container = "adpcm")
      val (pcm, end) = decodeBlockState(block, samplesPerBlock)
      var j = 0
      while (j < pcm.length) {
        val s = pcm(j).toDouble
        sum += s; sq += s * s; if (math.abs(s) > pk) pk = math.abs(s)
        j += 1
      }
      if (b == 0) first = pcm(0).toLong
      n += pcm.length
      last = pcm(pcm.length - 1).toLong
      endIdx = end.index.toLong
      b += 1
    }
    AdpcmStats(0L, "adpcm", n, sum / n, math.sqrt(sq / n), pk, first, last,
      endIdx, true)
  }

  /** The planted stream for doc `docId`: one block whose header state
    * and 24 nibbles are closed forms of the id — predictor₀ =
    * (id·73) mod 4096 − 2048, index₀ = id mod 40, nib_j =
    * (id·7 + j·3) mod 16 (gcd(3,16)=1, so all 16 nibble codes occur
    * across the block). The decode is then a pure integer state
    * machine both engines replay exactly. */
  def plantedAdpcmBytes(docId: Long, gain: Int = 1): Array[Byte] = {
    val pred0 =
      ((java.lang.Math.floorMod(docId * 73L, 4096L) - 2048L) * gain).toInt
    val idx0 = java.lang.Math.floorMod(docId, 40L).toInt
    val nibs = Array.tabulate(24)(j =>
      java.lang.Math.floorMod(docId * 7L + j * 3L, 16L).toInt)
    wavBytes(Array(blockBytes(pred0, idx0, nibs)), samplesPerBlock = 25)
  }
}
