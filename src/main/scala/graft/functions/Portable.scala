package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable building blocks.
  *
  * Everything here is (a) deterministic across JVMs/executors — no
  * `hashCode`, no `Math.random` — and (b) reproducible in ANSI-ish SQL
  * (DuckDB) for the correctness oracle. The portable hash family is
  * md5-based: Spark `md5` and DuckDB `md5` both emit lowercase hex, so
  * lexicographic MIN over hex digests and hex-prefix→int parsing agree
  * bit-for-bit across engines.
  *
  * All helpers compose codegen'd built-ins (no UDFs) so they stay
  * inside WholeStageCodegen at 100 TB.
  */
object Portable {

  /** Lowercase md5 hex digest of a string column.
    * DuckDB: `md5(x)`. Use [[md5bin]] when the digest is a shuffle
    * key — hex doubles the key bytes; keep hex only where the digest
    * is a published OUTPUT column (e.g. t4's fingerprint). */
  def md5hex(c: Column): Column = md5(c.cast("binary"))

  /** 16-byte BINARY md5 digest — the shuffle representation. A hex
    * digest is 32 chars (40 bytes as UTF8String); the binary form is
    * 16 bytes, halving-to-quartering the dominant key width on every
    * dedup-family exchange at 100 TB. Lowercase-hex lexicographic
    * order equals unsigned-byte lexicographic order, so MIN/keeper
    * selection over [[md5bin]] picks exactly the rows [[md5hex]]
    * would (Spark binary comparison and DuckDB BLOB comparison are
    * both unsigned memcmp).
    * DuckDB: `unhex(md5(x))` */
  def md5bin(c: Column): Column = unhex(md5(c.cast("binary")))

  /** 60-bit non-negative portable hash: first 15 hex chars of md5.
    * DuckDB: `('0x' || substring(md5(x),1,15))::BIGINT` */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** 16-bit portable hash (for compact simhash fingerprints).
    * DuckDB: `('0x' || substring(md5(x),1,4))::BIGINT` */
  def hash16(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 4), 16, 10).cast("long")

  /** HLL register vector aggregate over [[hash60]] values: `2^p` int
    * registers, register b = max rho of the hashes in bucket b. A true
    * partial aggregate (one m-byte buffer per group per partition on
    * the exchange — NOT m rows); see
    * [[org.apache.spark.sql.graftvec.HllRegisters]] for the parity
    * contract the q30 oracle mirrors. */
  def hllRegisters(h: Column, p: Int): Column =
    org.apache.spark.sql.graftvec.GraftFunctions.column("hll_registers", Seq(h), p)

  /** Whitespace tokenization after trim; empty text → empty array.
    * DuckDB: `regexp_split_to_array(trim(x), '\s+')` (with the same
    * empty-string guard). */
  def words(c: Column): Column = {
    val t = trim(c)
    when(t === "", array().cast("array<string>")).otherwise(split(t, "\\s+"))
  }

  /** Word n-shingles joined by a single space; fewer than n words →
    * empty array. Pure map-side (no explode needed by callers that
    * aggregate with array_min etc.).
    * DuckDB: list_transform(generate_series(1, greatest(len(w)-n+1,0)),
    *           i -> array_to_string(w[i:i+n-1], ' ')) */
  def shingles(c: Column, n: Int): Column = {
    val w = words(c)
    when(size(w) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + lit(1), lit(n)))))
  }

  /** One minhash signature component: lexicographic min of seeded md5
    * over the doc's shingles. NULL for shingle-less docs.
    * DuckDB: `list_min(list_transform(sh, s -> md5(seed || '|' || s)))` */
  def minhash(shingleCol: Column, seed: Int): Column =
    array_min(transform(shingleCol, s => md5(concat(lit(s"$seed|"), s).cast("binary"))))

  /** Row-per-shingle form of [[shingles]]: posexplode the words and
    * stitch n-grams with window `lead`s — every step is codegen'd,
    * unlike the array `transform` lambda (which evaluates interpreted
    * and dominated the sf0.1 dedup bench). Emits (doc_id, s); one
    * shuffle on doc_id that downstream doc_id aggregations reuse.
    * Produces exactly the same shingle strings as [[shingles]]. */
  def shingleRows(docs: org.apache.spark.sql.DataFrame, n: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = docs.select(col("doc_id"), posexplode(words(col("text"))).as(Seq("pos", "tok")))
    val leads = (1 until n).map(i => lead(col("tok"), i).over(w))
    toks
      .withColumn("s", concat_ws(" ", col("tok") +: leads: _*))
      .withColumn("tail_tok", leads.last)
      .filter(col("tail_tok").isNotNull)
      .select(col("doc_id"), col("s"))
  }

  /** Normalization used before exact-dup hashing: lowercase, collapse
    * whitespace runs to single spaces, trim.
    * DuckDB: `trim(regexp_replace(lower(x), '\s+', ' ', 'g'))` */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Dot product of two double-array columns — native codegen'd
    * expression (see graft.functions.DotProduct); identical summation
    * order to DuckDB's `list_dot_product`. */
  def dotD(a: Column, b: Column): Column = Vec.dot(a, b)

  /** Cosine similarity of two double-array columns.
    * DuckDB: list_dot_product formula. Prefer precomputing norms
    * (Vec.norm) before a pairwise join; this form recomputes them. */
  def cosineD(a: Column, b: Column): Column =
    Vec.dot(a, b) / (sqrt(Vec.dot(a, a)) * sqrt(Vec.dot(b, b)))

  /** Kirsch-Mitzenmacher double hashing: two independent 32-bit hashes
    * from one md5; the k minhash "functions" are g_i = (h1 + i·h2)
    * mod 2^32 — one digest per shingle instead of k.
    * DuckDB: ('0x' || substring(md5(x), 1, 8))::BIGINT and
    *         ('0x' || substring(md5(x), 9, 8))::BIGINT */
  def h32a(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")
  def h32b(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 9, 8), 16, 10).cast("long")
  def kmHash(h1: Column, h2: Column, i: Int): Column =
    pmod(h1 + lit(i.toLong) * h2, lit(4294967296L))
}
