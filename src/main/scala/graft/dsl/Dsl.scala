package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Portable, TextHash, Vec}
import graft.operators.{AsOf, MediaDecode, Salted}
import graft.operators.MediaDecode.{Media, MediaStats}
import graft.queries.{AnnGeometry, Similarity}

/** The Column-API facade: the library's kernels and whole-operator
  * building blocks as fluent extension methods, so a user composes
  * them like built-in `org.apache.spark.sql.functions` instead of
  * calling the named query pack entries (which remain the oracle-
  * checked forms — every method here DELEGATES to the same code path
  * a pack query runs, it never re-implements).
  *
  * ```scala
  * import graft.dsl._
  * docs.select($"doc_id", $"text".minhashSig(), $"text".simhash16)
  * docs.nearDupPairs()                // d3's band-join candidates
  * fact.autoJoinSkewed(dim, "part_id") // q40's audit applied (Salted)
  * trades.joinAsOf(quotes, "id", "ts", Seq("price"))
  * ```
  *
  * Everything stays a lazy Catalyst plan: a facade expression inherits
  * the same codegen kernels, broadcast hints, and shuffle shapes the
  * pack queries are plan-audited for — DslSpec pins facade ≡ pack
  * output on the shared test tables.
  */
package object dsl {

  /** Scalar kernels as `Column` methods. */
  implicit class GraftColumnOps(private val c: Column) extends AnyVal {

    /** Whitespace-collapsed, trimmed, lower-cased text — the
      * normalization every dedup digest here starts from. */
    def normText: Column = Portable.normText(c)

    /** Whitespace word split ('' → empty array, never [""]). */
    def words: Column = Portable.words(c)

    /** Distinct n-word shingles of a text column. */
    def shingles(n: Int = 3): Column = TextHash.distinctShingles(c, n)

    /** Portable md5 hex digest (md5 over the value cast to binary —
      * matches the DuckDB oracle convention byte for byte). */
    def md5Hex: Column = Portable.md5hex(c)

    /** k-component KM (Kirsch-Mitzenmacher) minhash signature over
      * n-word shingles — one native map-side pass, `array<long>`. */
    def minhashSig(n: Int = 3, k: Int = 16): Column = TextHash.kmMinHash(c, n, k)

    /** 16-bit SimHash fingerprint from per-token md5 bits. */
    def simhash16: Column = TextHash.simHash16(c)

    /** Content-defined chunk digests (rolling-hash boundaries with
      * expected chunk length `div` bytes). */
    def cdcChunks(div: Int = 64): Column = TextHash.cdcChunks(c, div)

    /** Dot product of two `array<double>` vector columns (codegen'd
      * kernel — higher-order `aggregate` evaluates interpreted). */
    def dot(other: Column): Column = Vec.dot(c, other)

    /** Euclidean norm of an `array<double>` vector column. */
    def l2norm: Column = Vec.norm(c)

    /** Cosine similarity of two `array<double>` vector columns. */
    def cosine(other: Column): Column = Portable.cosineD(c, other)
  }

  /** Whole-operator building blocks as `DataFrame` methods. */
  implicit class GraftDataFrameOps(private val df: DataFrame) extends AnyVal {

    /** d1's exact dedup: keep the min-`idCol` row per normalized-text
      * digest. Shuffles 16-byte digests only, never text. */
    def dedupExact(idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
      val keep = queries.Dedup.exactKeepers(
          df.select(col(idCol).as("doc_id"), col(textCol).as("text")))
        .select(col("doc_id").as(idCol))
      df.join(keep, Seq(idCol), "left_semi")
    }

    /** d2's per-document minhash signature table
      * (`idCol, s0..s{k-1}`) — the shared input to [[nearDupPairs]]
      * and any signature-agreement diagnostics. */
    def minhashSignatures(idCol: String = "doc_id", textCol: String = "text"): DataFrame =
      queries.Dedup.kmSignatures(
        df.select(col(idCol).as("doc_id"), col(textCol).as("text")),
        materialize = true)
      .withColumnRenamed("doc_id", idCol)

    /** d3's LSH candidate pairs (default: the production 4 bands ×
      * 4 rows over the 16-minhash signature): docs sharing any band
      * hash, as (doc_a, doc_b) with doc_a < doc_b. The O(n²) pair
      * space never materializes. `bands`/`rowsPerBand` re-point the
      * screen at another factoring of the signature — the seam
      * d22_band_select's chosen layout is deployed through (widening
      * bands can only ADD pairs: a 4-slot band match implies both of
      * its 2-slot halves match, so pairs(4x4) ⊆ pairs(8x2) —
      * DslSpec-pinned). */
    def nearDupPairs(idCol: String = "doc_id", textCol: String = "text",
                     bands: Int = 4, rowsPerBand: Int = 4): DataFrame =
      queries.Dedup.lshPairsFrom(
        queries.Dedup.kmSignatures(
          df.select(col(idCol).as("doc_id"), col(textCol).as("text")),
          materialize = true), bands, rowsPerBand)

    /** q23's as-of join: for each left row, the latest right row at
      * or before its `ts`, matched on `key`. One user-keyed shuffle,
      * no range explosion. */
    def joinAsOf(right: DataFrame, key: String, ts: String,
                 valueCols: Seq[String]): DataFrame =
      AsOf.joinAsOf(df, right, key, ts, valueCols)

    /** q40+q31 composed (Salted.autoJoin): audit this fact's `key`
      * distribution, salt only the flagged-hot keys, leave cold keys
      * on the plain equi-join. ≡ `df.join(dim, key)` on any input. */
    def autoJoinSkewed(dim: DataFrame, key: String, minSkew: Double = 4.0): DataFrame =
      Salted.autoJoin(df, dim, key, minSkew)

    /** d20's duplicated-substring span dedup over this frame: per doc
      * with ≥1 cross-doc duplicated 10-word window, the maximal spans
      * (merged word ranges), coverage fraction, and the keep
      * decision. Catches a long passage copied INTO an
      * otherwise-distinct doc — invisible to whole-doc near-dup and
      * misaligned segment dedup. */
    def spanDedup(idCol: String = "doc_id", textCol: String = "text"): DataFrame =
      queries.Dedup.spanDedupOf(df.select(col(idCol).as("doc_id"),
        Portable.words(col(textCol)).as("w")))

    /** t26's span-level decontamination of this frame against an eval
      * corpus: per contaminated doc, the merged overlap spans,
      * coverage, and the drop_doc/redact_spans action. The eval side
      * is reduced to a DISTINCT 10-word-window digest set and
      * broadcast — the training-corpus side streams map-side against
      * a benchmark-sized hash set. */
    def decontamSpans(evalDocs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
      val evalWins = queries.Dedup.spanWindows(
        evalDocs.select(col(idCol).as("doc_id"),
          Portable.words(col(textCol)).as("w")))
        .select(col("h")).distinct()
      queries.TextOps.contamSpans(
        df.select(col(idCol).as("doc_id"), col(textCol).as("text")), evalWins)
    }

    /** q47's mergeable robust-outlier fences per group: 256-bin
      * histogram cells (the durable monitor store shape) read into
      * Tukey outer fences — (key, q25, q75, lo, hi). Rows outside
      * [lo, hi] are the alert candidates; q46's exact-median form is
      * the periodic audit. */
    def sketchFences(keyCol: String, valCol: String): DataFrame = {
      val ev = df.select(col(keyCol).as("event_type"),
        col(valCol).cast("double").as("x"))
      val stats = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("x")).as("vmin"),
          max(col("x")).as("vmax"))
      queries.Analytics.fencesFromCells(
          queries.Analytics.histCells(ev, stats), stats)
        .withColumnRenamed("event_type", keyCol)
    }

    /** t27's contamination provenance of this frame against an eval
      * corpus: one row per (doc, eval doc) pair sharing a 10-word
      * window — who leaked what, for remediation and eval-set
      * hygiene. Self-pairs (same id on both sides) are excluded; the
      * eval side reduces to a broadcast (eval_id, window-digest) set. */
    def contamProvenance(evalDocs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame =
      queries.TextOps.contamProvenance(
        df.select(col(idCol).as("doc_id"), Portable.words(col(textCol)).as("w")),
        evalDocs.select(col(idCol).as("eval_id"),
          Portable.words(col(textCol)).as("ew")))

    /** p10's snapshot diff: this frame (the current release) against
      * `next` (the candidate), by id + normalized content digest —
      * added / removed / changed / unchanged counts with the
      * character-budget delta. Shuffles 16-byte digests + lengths,
      * never text. */
    def snapshotDiff(next: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
      def docs(f: DataFrame) = f.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      queries.Pipeline.snapshotDiff(docs(df), docs(next))
    }

    /** t25's code-vs-prose signals + verdict on every row of this
      * frame (semi/brace densities, keyword and symbol ratios, the
      * folded score, is_code) — all map-side, caller columns intact. */
    def codeSignals(idCol: String = "doc_id", textCol: String = "text"): DataFrame =
      queries.TextOps.codeSignals(
        df.select(col(idCol).as("doc_id"), col(textCol).as("text")))
        .drop("n_chars", "w")

    /** d19's bloom filter over this frame's normalized-text digests:
      * a ≤1024-row bit-position set. Filters from disjoint slices
      * union (`unionByName(...).distinct()`) into the fleet filter —
      * bitwise OR, the bounded-size alternative to a growing digest
      * store. */
    def bloomFilter(textCol: String = "text"): DataFrame =
      queries.Dedup.bloomOf(df.select(
        Portable.md5hex(Portable.normText(col(textCol))).as("h")))

    /** d19's membership probe against a [[bloomFilter]]: adds
      * `n_hits` and `predicted_dup` to EVERY row of this frame, all
      * caller columns intact (true = all k bits set — possibly a
      * false positive, NEVER a false negative). The verdict is
      * computed on the (id, digest) projection and joined back by
      * `idCol`, so the caller's text never rides the probe shuffle. */
    def bloomProbe(bloom: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
      val verdicts = queries.Dedup.bloomProbe(
        df.select(col(idCol).as("doc_id"),
          Portable.md5hex(Portable.normText(col(textCol))).as("h")),
        bloom)
        .select(col("doc_id").as(idCol), col("n_hits"), col("predicted_dup"))
      df.join(verdicts, Seq(idCol))
    }

    /** a18's offline index build over a vector frame: coarse cells +
      * PQ codes + centroids + codebook, each one corpus pass. The
      * returned [[graft.queries.Similarity.IvfPqIndex]] is the
      * versioned/published unit — serve batches or streams through it
      * with [[GraftIndexOps.serve]], absorb arrivals without
      * retraining via [[GraftIndexOps.absorb]]. */
    def ivfPqIndex(idCol: String = "vec_id", embCol: String = "embedding",
                   geo: AnnGeometry = AnnGeometry(),
                   m: Int = 8, subDim: Int = 8): Similarity.IvfPqIndex =
      Similarity.ivfPqIndexOf(normVecs(df, idCol, embCol), geo, m, subDim)

    /** a30's serve-cost drift over a vector frame: per probe, the
      * scan bill against the base-only index vs the delta-grown one,
      * joined with a22's compaction policy for its routed cells — the
      * between-retrains capacity read. `isDelta` marks post-build
      * arrivals (rows where it is false trained the frozen geometry)
      * and is evaluated over the normalized `vec_id` column. */
    def serveDrift(isDelta: Column, idCol: String = "vec_id",
                   embCol: String = "embedding",
                   geo: AnnGeometry = AnnGeometry()): DataFrame =
      Similarity.serveDriftOf(normVecs(df, idCol, embCol), isDelta, geo)

    /** mm13's compressed-image decode over a binary payload column:
      * genuine PNG/JPEG members through the JDK ImageIO batch path →
      * per-image curation stats (container, pixel count, per-channel
      * means, brightness); truncated members quarantine ok=false
      * under their declared container, non-images as "unknown". */
    def imageStats(idCol: String = "doc_id",
                   payloadCol: String = "payload"): DataFrame =
      decodeMedia(df, idCol, payloadCol, MediaDecode.parseImage)
        .select(col("docId").as(idCol) +: ImageCols: _*)

    /** mm14's compressed-audio decode over a binary payload column:
      * genuine G.711 µ-law/a-law WAV members (fmt codes 7/6) through
      * the JDK javax.sound batch path → per-clip curation stats
      * (container, sample count, mean/RMS/peak amplitude — the
      * silence/clipping gates); truncated members quarantine
      * ok=false under their declared container, non-audio as
      * "unknown". */
    def audioStats(idCol: String = "doc_id",
                   payloadCol: String = "payload"): DataFrame =
      decodeMedia(df, idCol, payloadCol, MediaDecode.parseAudio)
        .select(col("docId").as(idCol) +: AudioCols: _*)

    /** mm15's video decode over a binary payload column: genuine AVI
      * members (MJPEG '00dc' frames through the JDK JPEG codec, raw
      * BGR DIB '00db' frames by direct byte walk) → per-clip frame
      * stats (container, frame count, across-frame channel means —
      * solid-color/black-video gates — and peak inter-frame channel
      * change, the static-video/scene-cut gate); a tampered frame
      * count, truncated movi, or non-AVI payload quarantines
      * ok=false under its declared container / "unknown". */
    def videoStats(idCol: String = "doc_id",
                   payloadCol: String = "payload"): DataFrame =
      decodeMedia(df, idCol, payloadCol, MediaDecode.parseVideo)
        .select(col("docId").as(idCol) +: FrameCols: _*)

    /** mm16's animated-GIF decode over a binary payload column:
      * genuine multi-frame GIF members through the JDK LZW/palette
      * codec → the same per-clip frame stats as [[videoStats]]
      * (frame count, across-frame channel means, peak inter-frame
      * channel change); truncated or corrupt members quarantine
      * ok=false under "gif", non-GIF as "unknown". */
    def gifStats(idCol: String = "doc_id",
                 payloadCol: String = "payload"): DataFrame =
      decodeMedia(df, idCol, payloadCol, MediaDecode.parseGif)
        .select(col("docId").as(idCol) +: FrameCols: _*)

    /** mm17's FLAC decode over a binary payload column: genuine FLAC
      * streams through the pure-JVM graft codec (all subframe types,
      * CRC-8 + CRC-16 + stream-MD5 verified) → the same per-clip
      * amplitude stats as [[audioStats]] (sample count, mean/RMS/
      * peak — the silence/clipping gates); a truncated or
      * bit-flipped member quarantines ok=false under "flac",
      * non-FLAC as "unknown". */
    def flacStats(idCol: String = "doc_id",
                  payloadCol: String = "payload"): DataFrame =
      decodeMedia(df, idCol, payloadCol, MediaDecode.parseFlac)
        .select(col("docId").as(idCol) +: AudioCols: _*)

    /** p11's media curate cascade over a mixed-modality binary
      * column: magic-byte routing (the sniff IS the router — no
      * trusted metadata), real-codec decode (PNG/JPEG images,
      * G.711/PCM WAV audio, MJPEG/raw-DIB AVI video, BMP), then the
      * QA gates a production media pipeline runs. disposition =
      * decode_fail | dark | silent | clipped | static | keep — the
      * FIRST catching gate, p7's cascade rule. */
    def mediaCurate(idCol: String = "doc_id",
                    payloadCol: String = "payload",
                    darkBrightness: Double = 120.0,
                    silentRms: Double = 8000.0,
                    clippedPeak: Double = 31000.0,
                    staticMotion: Double = 18.0): DataFrame =
      queries.Pipeline.mediaDisposition(
        decodeMedia(df, idCol, payloadCol, MediaDecode.parseAny), idCol,
        darkBrightness, silentRms, clippedPeak, staticMotion)

    /** t29's per-source boilerplate template mining over (id, text,
      * source): segments hash map-side on t21's shared window
      * grammar, a segment is a template in its source when its
      * document-frequency share clears `minShare` — the inventory a
      * template-removal pass consumes (rights banners, cookie
      * notices, nav chrome). Returns (source, seg_hash, df,
      * n_src_docs, share). */
    def boilerplateTemplates(minShare: Double = 0.3,
                             idCol: String = "doc_id",
                             textCol: String = "text",
                             sourceCol: String = "source"): DataFrame =
      queries.TextOps.templateShares(df.select(col(idCol).as("doc_id"),
        col(textCol).as("text"), col(sourceCol).as("source")), minShare)

    /** Template REMOVAL over this corpus frame (t32's kernel): mine
      * the [[boilerplateTemplates]] inventory at `minShare`, broadcast
      * it as one hash array per source, and strip each doc's template
      * segments in a single map-side pass. Returns the input plus
      * kept_text / n_segs / n_tpl_segs / n_words / n_words_kept —
      * feed kept_text to the quality and language gates template
      * chrome would otherwise distort. */
    def stripTemplates(minShare: Double = 0.3,
                       idCol: String = "doc_id",
                       textCol: String = "text",
                       sourceCol: String = "source"): DataFrame =
      graft.queries.TextOps.stripTemplates(
        df.select(col(idCol).as("doc_id"),
          col(textCol).as("text"), col(sourceCol).as("source")), minShare)

    /** p12's re-index work order over this frame's (id, embedding)
      * vectors: `reEmbedded` carries the changed ids' NEW embeddings
      * (same column names), `isBase` — a predicate over the
      * normalized `vec_id` column — names the vectors the served
      * centroids were trained on. Both old and new vectors route
      * through the same centroid derivation and assignment kernel
      * the served index uses; returns the per-cell
      * (n_stay, n_out, n_in, net_moved, touched) maintenance bill —
      * a cell move is a tombstone plus an insert. */
    def reindexMoves(reEmbedded: DataFrame, isBase: Column,
                     nCentroids: Int = 10, idCol: String = "vec_id",
                     embCol: String = "embedding"): DataFrame = {
      val v = normVecs(df, idCol, embCol)
      val cents = graft.queries.Similarity
        .hashTopK(v.filter(isBase), "cent", nCentroids)
        .select(col("vec_id").as("cell"), col("emb").as("c_emb"),
          col("nrm").as("c_nrm"))
      val newV = normVecs(reEmbedded, idCol, embCol)
      queries.Pipeline.reindexBill(cents,
        v.join(newV.select(col("vec_id")), Seq("vec_id"), "left_semi"), newV)
    }

    /** q43's gaps-and-islands sessionization: events more than
      * `gapUs` apart (per `keyCol`, ordered by `tsCol`, ties broken
      * by `tieCol`) start a new session. Adds `session_idx`
      * (1-based per key). One key-partitioned window, no self-join. */
    def sessionize(keyCol: String, tsCol: String, tieCol: String,
                   gapUs: Long = queries.Analytics.SessionGapUs): DataFrame =
      queries.Analytics.sessionize(df, keyCol, tsCol, tieCol, gapUs)
  }

  /** Serve/maintain a published [[Similarity.IvfPqIndex]]. */
  implicit class GraftIndexOps(private val ix: Similarity.IvfPqIndex) extends AnyVal {

    /** Serve a probe batch (or one micro-batch of a live stream)
      * through the frozen index — route to nProbe cells, rank
      * routed candidates by the asymmetric ADC distance. Probes are
      * sliced at the index's own PQ geometry, read from its codebook. */
    def serve(probes: DataFrame, idCol: String = "vec_id",
              embCol: String = "embedding", geo: AnnGeometry = AnnGeometry(),
              k: Int = 3): DataFrame =
      Similarity.ivfPqServeProbes(ix,
        normVecs(probes, idCol, embCol)
          .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"),
            col("nrm").as("p_nrm")),
        geo, k)

    /** Absorb new vectors into the frozen index WITHOUT retraining —
      * nearest existing cell, nearest existing code words (the
      * between-retrains insert path; a22's policy says when the
      * accumulated delta forces a real rebuild). Each absorb stacks a
      * NEW delta generation by default (`Similarity.AutoSeg` = max
      * existing segment + 1), so repeated absorbs between retrains
      * stay individually countable; pass `seg` to pin one. The PQ
      * geometry is NOT a parameter: arrivals are coded against the
      * index's own frozen codebook, whose (m, subDim) the library
      * derives from the artifact itself — a caller-supplied
      * mismatch could only ever corrupt (r18 ADVICE #1). */
    def absorb(newVecs: DataFrame, idCol: String = "vec_id",
               embCol: String = "embedding",
               seg: Int = Similarity.AutoSeg): Similarity.IvfPqIndex =
      Similarity.ivfPqIndexDelta(ix, normVecs(newVecs, idCol, embCol), seg)

    /** Execute a compaction policy (a22's `(cell, action)` table) on
      * the index: `compact` cells' delta segments fold into base,
      * everything else passes through — geometry untouched, so
      * serving is unchanged row-for-row. Republish with
      * `saveIvfPqIndex(..., ivfPqIndexVersion(srcDir) + 1)`. */
    def compact(policy: DataFrame): Similarity.IvfPqIndex =
      Similarity.compactIndex(ix, policy)

    /** Execute a policy's `rebuild` arm: a15's Lloyd retrain scoped
      * to the flagged cells' members — new centroids for those cells
      * only, members re-dispatched among them, their posting lists
      * folded to a fresh base segment. `vectors` is the raw corpus
      * relation (codes are lossy; a retrain reads the base store).
      * Codes/codebook are unchanged — a property of the raw-vector
      * PQ layout this artifact stores (a residual layout would
      * re-code the retrained cells). Republish with
      * `saveIvfPqIndex(..., ivfPqIndexVersion(srcDir) + 1)`. */
    def rebuild(policy: DataFrame, vectors: DataFrame,
                idCol: String = "vec_id", embCol: String = "embedding",
                iters: Int = 1): Similarity.IvfPqIndex =
      Similarity.rebuildCells(ix, policy, normVecs(vectors, idCol, embCol), iters)

    /** FULL retrain with codebook RE-SEED — the index-wide
      * maintenance class (`rebuild` retrains flagged cells under a
      * FROZEN codebook; this re-centers every cell from the current
      * corpus, re-seeds the PQ codebook from the population the
      * index serves today, and re-codes every member). `vectors` is
      * the full raw corpus relation — the conservation guard aborts
      * if it does not cover every indexed member exactly once.
      * Republish with `saveIvfPqIndex(..., ivfPqIndexVersion(srcDir)
      * + 1)`. */
    def retrain(vectors: DataFrame, idCol: String = "vec_id",
                embCol: String = "embedding",
                iters: Int = 1): Similarity.IvfPqIndex =
      Similarity.retrainIndex(ix, normVecs(vectors, idCol, embCol), iters)
  }

  /** The decode facades' shared body: (idCol, payloadCol) →
    * `parse`'s MediaStats rows keyed `docId`. Lives OUTSIDE the
    * AnyVal wrapper because Encoder derivation synthesizes a nested
    * class, which value classes disallow. */
  private def decodeMedia(df: DataFrame, idCol: String, payloadCol: String,
                          parse: Array[Byte] => MediaStats): DataFrame = {
    import df.sparkSession.implicits._
    MediaDecode.decodeAll(df.select(col(idCol).cast("long").as("docId"),
        col(payloadCol).as("payload")).as[Media])(parse)
      .toDF()
  }

  /** Output columns (after the id) of the still-image, amplitude and
    * frame-stats decode facades. */
  private val ImageCols = Seq(col("container"), col("nUnits").as("n_units"),
    col("meanSignal").as("mean_signal"), col("meanR").as("mean_r"),
    col("meanG").as("mean_g"), col("meanB").as("mean_b"), col("ok"))
  private val AudioCols = Seq(col("container"), col("nUnits").as("n_units"),
    col("meanSignal").as("mean_signal"), col("rms"), col("peak"), col("ok"))
  private val FrameCols = Seq(col("container"), col("nUnits").as("n_frames"),
    col("meanR").as("mean_r"), col("meanG").as("mean_g"),
    col("meanB").as("mean_b"), col("peak").as("peak_motion"), col("ok"))

  /** (id, embedding) in any numeric array type → the (vec_id, emb,
    * nrm) frame every similarity kernel reads: one map-side cast +
    * norm, the float→double widening a native array cast. */
  private def normVecs(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.select(col(idCol).as("vec_id"),
        col(embCol).cast("array<double>").as("emb"))
      .withColumn("nrm", Vec.norm(col("emb")))
}
