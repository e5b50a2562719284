package org.apache.spark.sql.graftvec

import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text hashing kernels for the dedup family.
  *
  * The composed pipeline (posexplode words → window `lead` shingles →
  * md5 per shingle row → groupBy(doc) with k min aggs) computes the
  * right thing but shuffles ~n_tokens rows per document twice. These
  * kernels produce the same values in a single map-side pass per
  * document — no explode, no window, no shuffle — so a minhash over
  * 100 TB of documents is embarrassingly parallel and its only shuffle
  * is the (doc_id → 16-long signature) band join that follows.
  *
  * Parity contract (bit-for-bit with the DuckDB oracle and with the
  * composed Spark pipeline they replace):
  *   - trim strips ASCII space (0x20) only — SQL TRIM, not Java trim;
  *   - tokens = java-regex split on `\s+` with limit -1 (Spark's
  *     `split` keeps leading/trailing empty tokens; empty trimmed text
  *     → zero tokens);
  *   - shingle = n consecutive tokens joined by one space;
  *   - h1/h2 = first/second 4 bytes of md5(shingle utf8) as unsigned
  *     32-bit ints (= `('0x' || substring(md5(s), 1|9, 8))::BIGINT`);
  *   - minhash component i = min over shingles of (h1 + i·h2) mod 2^32
  *     (Kirsch-Mitzenmacher double hashing);
  *   - simhash16: per-token h = first 2 bytes of md5 (4 hex chars);
  *     bit i votes +1 if (h>>i)&1 else -1; fingerprint bit i set iff
  *     vote sum > 0.
  */
object TextHashImpl {

  private val Ws = Pattern.compile("\\s+")

  private val Md5: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** SQL TRIM semantics: strip 0x20 only (Java's String.trim strips
    * all control chars <= 0x20 and would diverge on "\ntext\n"). */
  private def trimSpaces(s: String): String = {
    var lo = 0
    var hi = s.length
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    s.substring(lo, hi)
  }

  /** Tokenization identical to graft.functions.Portable.words. */
  def tokens(text: UTF8String): Array[String] = {
    val t = trimSpaces(text.toString)
    if (t.isEmpty) Array.empty[String] else Ws.split(t, -1)
  }

  /** Word n-shingle j — toks(j … j+n-1) joined by single spaces —
    * built in the caller's reused buffer. */
  private def shingle(sb: java.lang.StringBuilder, toks: Array[String],
                      j: Int, n: Int): String = {
    sb.setLength(0)
    var w = 0
    while (w < n) {
      if (w > 0) sb.append(' ')
      sb.append(toks(j + w))
      w += 1
    }
    sb.toString
  }

  /** KM minhash signature (k unsigned-32 minima) over word n-shingles;
    * null when the text has fewer than n tokens (mirrors the
    * explode+groupBy pipeline, where such docs produce no rows). */
  def kmMinHash(text: UTF8String, n: Int, k: Int): ArrayData = {
    val toks = tokens(text)
    val m = toks.length - n + 1
    if (m <= 0) return null
    val mins = Array.fill(k)(Long.MaxValue)
    val md = Md5.get()
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < m) {
      md.reset()
      val dig = md.digest(shingle(sb, toks, j, n).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h1 = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) | ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
      val h2 = ((dig(4) & 0xffL) << 24) | ((dig(5) & 0xffL) << 16) | ((dig(6) & 0xffL) << 8) | (dig(7) & 0xffL)
      var i = 0
      while (i < k) {
        val g = (h1 + i * h2) % 4294967296L
        if (g < mins(i)) mins(i) = g
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  /** Distinct word n-shingles in first-occurrence order (the set the
    * composed pipeline's collect_set produces, order irrelevant to
    * the Jaccard sizes it feeds). Empty array when < n tokens. */
  def distinctShingles(text: UTF8String, n: Int): ArrayData = {
    val toks = tokens(text)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < m) {
      seen.add(shingle(sb, toks, j, n))
      j += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  /** ALL word n-shingles in order (with duplicates — the multiset
    * the n-gram counting pipeline needs). Empty array when < n
    * tokens. */
  def allShingles(text: UTF8String, n: Int): ArrayData = {
    val toks = tokens(text)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < m) {
      out(j) = UTF8String.fromString(shingle(sb, toks, j, n))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** 16-bit simhash fingerprint; null when the text has no tokens
    * (mirrors explode+groupBy dropping the doc). Boxed Long so the
    * null channel survives the static call in generated code. */
  def simHash16(text: UTF8String): java.lang.Long = {
    val toks = tokens(text)
    if (toks.isEmpty) return null
    val votes = new Array[Int](16)
    val md = Md5.get()
    var j = 0
    while (j < toks.length) {
      md.reset()
      val dig = md.digest(toks(j).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = ((dig(0) & 0xff) << 8) | (dig(1) & 0xff)
      var i = 0
      while (i < 16) {
        if (((h >> i) & 1) == 1) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
      j += 1
    }
    var fp = 0L
    var i = 0
    while (i < 16) { if (votes(i) > 0) fp |= (1L << i); i += 1 }
    java.lang.Long.valueOf(fp)
  }

  /** Width-parameterized simhash (width ≤ 32): votes over the low
    * `width` bits of the md5 first-4-byte prefix. A wider
    * fingerprint is the knob that keeps Hamming-radius search
    * meaningful as the corpus grows — at 16 bits a few thousand
    * docs already saturate the space (measured: 12% of ALL pairs
    * within distance 3 at 5k docs; 0.65% at 32 bits). NOT
    * bit-compatible with simHash16 (which votes on the first-2-byte
    * prefix); the oracle mirrors via the 8-hex-char md5 prefix
    * (`('0x' || substring(md5(tok), 1, 8))::BIGINT`) voting on bits
    * below `width`.
    */
  def simHashW(text: UTF8String, width: Int): java.lang.Long = {
    val toks = tokens(text)
    if (toks.isEmpty) return null
    val votes = new Array[Int](width)
    val md = Md5.get()
    var j = 0
    while (j < toks.length) {
      md.reset()
      val dig = md.digest(toks(j).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
        ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
      var i = 0
      while (i < width) {
        if (((h >> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
      j += 1
    }
    var fp = 0L
    var i = 0
    while (i < width) { if (votes(i) > 0) fp |= (1L << i); i += 1 }
    java.lang.Long.valueOf(fp)
  }

  /** Content-defined chunking: split the token stream at words whose
    * md5 first-4-byte prefix ≡ 0 (mod `div`) — boundaries follow the
    * CONTENT, so an insertion only reshapes the chunks it touches
    * (the rolling-hash trick of rsync/LBFS, word-granular here).
    * Returns one 60-bit fingerprint per chunk (15-hex-char md5
    * prefix — Portable.hash60 parity), in order, duplicates kept.
    * Expected chunk length ≈ div words. Empty text → empty array.
    */
  def cdcChunks(text: UTF8String, div: Int): ArrayData = {
    val toks = tokens(text)
    val out = new java.util.ArrayList[Any]()
    val md = Md5.get()
    val sb = new java.lang.StringBuilder
    def push(): Unit = {
      md.reset()
      val dig = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L
      var i = 0
      while (i < 7) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
      v = (v << 4) | ((dig(7) & 0xf0L) >> 4) // first 15 hex chars = 60 bits
      out.add(java.lang.Long.valueOf(v))
      sb.setLength(0)
    }
    var j = 0
    while (j < toks.length) {
      if (sb.length() > 0) sb.append(' ')
      sb.append(toks(j))
      md.reset()
      val dig = md.digest(toks(j).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
        ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
      if (h % div == 0) push()
      j += 1
    }
    if (sb.length() > 0) push()
    new GenericArrayData(out.toArray)
  }

  /** Stride-1 window digests over a PRE-TOKENIZED word array: element
    * j (0-based) = 16-byte md5 of words[j..j+w-1] joined by one space
    * — exactly `Portable.md5bin(array_join(slice(w, j+1, w), ' '))`,
    * computed by streaming each window's token bytes through one
    * MessageDigest (no joined string is ever built, token utf8 bytes
    * are extracted once per row). Empty array when < w words. The
    * composed transform-lambda form this replaces evaluated the
    * higher-order function INTERPRETED — ~1M window digests per
    * sf0.1 d20 run paid per-window Catalyst eval + slice/join
    * allocations (guide §4.1: prefer native codegen in hot paths). */
  def spanHashes(words: ArrayData, w: Int): ArrayData = {
    val n = words.numElements()
    val m = n - w + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val tok = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { tok(i) = words.getUTF8String(i).getBytes; i += 1 }
    val md = Md5.get()
    val sp = Array[Byte](' '.toByte)
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      md.reset()
      var k = 0
      while (k < w) {
        if (k > 0) md.update(sp)
        md.update(tok(j + k))
        k += 1
      }
      out(j) = md.digest()
      j += 1
    }
    new GenericArrayData(out)
  }
}
