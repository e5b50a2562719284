package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftvec.GraftFunctions.column

/** One-pass text-hash kernels (native codegen expressions — see
  * [[org.apache.spark.sql.graftvec.TextHashImpl]] for the parity
  * contract). These replace the posexplode → window-lead → groupBy
  * shingle pipeline: the whole minhash signature is computed map-side
  * per document, so the dedup family's only shuffle is the band join.
  */
object TextHash {
  /** k-component KM minhash signature over word n-shingles
    * (array<long>, null when the doc has fewer than n words). */
  def kmMinHash(text: Column, n: Int, k: Int): Column =
    column("km_minhash", Seq(text), n, k)

  /** Distinct word n-shingle set (array<string>). */
  def distinctShingles(text: Column, n: Int): Column =
    column("distinct_shingles", Seq(text), n)

  /** Every word n-shingle in order, duplicates kept (array<string>) —
    * the multiset form n-gram counting explodes. */
  def allShingles(text: Column, n: Int): Column =
    column("all_shingles", Seq(text), n)

  /** 16-bit simhash fingerprint (long, null when the doc has no words). */
  def simHash16(text: Column): Column = column("simhash16", Seq(text))

  /** Width-parameterized simhash (width ≤ 32) — the fingerprint-width
    * knob for Hamming-radius search (d10); see TextHashImpl.simHashW. */
  def simHashW(text: Column, width: Int): Column =
    column("simhash_w", Seq(text), width)

  /** Content-defined chunk fingerprints (array<long>, ~div words per
    * chunk) for sub-document dedup (d11); see TextHashImpl.cdcChunks. */
  def cdcChunks(text: Column, div: Int): Column =
    column("cdc_chunks", Seq(text), div)

  /** Stride-1 window digests over a pre-tokenized word array
    * (array<binary>: element j = md5 of the space-joined window
    * starting at word j+1) — the span-dedup / decontamination
    * window kernel (d20, t26, p8, p13); see TextHashImpl.spanHashes. */
  def spanHashes(words: Column, w: Int): Column =
    column("span_hashes", Seq(words), w)
}
