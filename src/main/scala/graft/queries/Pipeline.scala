package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Portable

/** Composed training-data-prep pipeline (SURVEY.md §2.G): the
  * operators are not just standalone queries — this chains exact
  * dedup → quality scoring → token accounting into the single plan a
  * real corpus-prep job runs. One scan feeds the dedup digests; only
  * survivors pay the feature computation (filter first, then score).
  */
object Pipeline extends QueryPack {

  /** The pipeline's quality features over a `text` column — shared by
    * the batch query (p1) and the streaming curation path
    * (graft.streaming.DataPrep), so both filter on the same score. */
  def withQuality(df: DataFrame): DataFrame =
    df.withColumn("w", Portable.words(col("text")))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("stop_ratio",
        when(col("n_words") === 0, 0.0).otherwise(
          size(filter(col("w"), w =>
            array_contains(array(Seq("the", "a", "of", "and", "to").map(lit): _*), w)))
            .cast("double") / col("n_words")))
      .withColumn("punct_ratio",
        (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
          .cast("double") / length(col("text")))
      .withColumn("quality",
        col("stop_ratio") * 0.4 +
          least(col("n_words").cast("double") / 100.0, lit(1.0)) * 0.4 +
          (lit(1.0) - col("punct_ratio")) * 0.2)
      .drop("w")

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // documents ∪ synthetic exact copies → survivors (min doc_id per
    // normalized digest) → quality features → keep quality ≥ 0.5 →
    // token counts. The dedup shuffle carries 16-byte digests; the
    // feature stage is map-side on survivors only.
    "p1_dataprep" -> { (s, d) =>
      val corpus = Dedup.withExactDupes(Tables.documents(s, d))
      val surv = Dedup.exactKeepers(corpus).select(col("doc_id").as("keep_id"))
      withQuality(corpus.join(surv, corpus("doc_id") === surv("keep_id"), "left_semi"))
        .filter(col("quality") >= 0.5)
        .select(col("doc_id"), col("n_words"), col("quality"),
          Portable.hash60(Portable.normText(col("text"))).as("fp60"))
        .orderBy(col("doc_id"))
    },

    // Attrition funnel: the per-stage accounting a corpus-prep run
    // reports — raw → after exact dedup → after quality filter →
    // after repetition filter, plus the surviving token budget. Every
    // doc carries its stage FLAGS instead of being filtered, so ONE
    // scan + one digest-sized dedup shuffle + one global aggregate
    // produce the whole funnel (running the stages as separate
    // filtered queries would scan the corpus four times). The corpus
    // unions BOTH failure modes — exact copies (caught by dedup) and
    // doubled-text repeats (caught by the repetition rule) — so each
    // stage visibly drops rows.
    "p2_funnel" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = Dedup.withExactDupes(docs)
        .unionAll(
          docs.filter(col("doc_id") % 25 === 0)
            .withColumn("doc_id", col("doc_id") + 200000L)
            .withColumn("text", concat(col("text"), lit(" "), col("text"))))
      val keepers = Dedup.exactKeepers(corpus)
        .select(col("doc_id"), lit(true).as("is_keeper"))
      val flagged = withQuality(
          corpus.join(keepers, Seq("doc_id"), "left")
            .withColumn("pass_dedup", coalesce(col("is_keeper"), lit(false))))
        .withColumn("pass_quality", col("quality") >= 0.5)
        .withColumn("w2", Portable.words(col("text")))
        .withColumn("g2", when(size(col("w2")) >= 2,
          expr("transform(sequence(0, size(w2) - 2), i -> concat(w2[i], ' ', w2[i + 1]))"))
          .otherwise(expr("cast(array() as array<string>)")))
        .withColumn("pass_rep", when(size(col("g2")) === 0, lit(true))
          .otherwise(lit(1.0) - size(array_distinct(col("g2"))).cast("double") / size(col("g2")) <= 0.2))
      flagged.agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("pass_dedup"), 1L).otherwise(0L)).as("n_after_dedup"),
        sum(when(col("pass_dedup") && col("pass_quality"), 1L).otherwise(0L))
          .as("n_after_quality"),
        sum(when(col("pass_dedup") && col("pass_quality") && col("pass_rep"), 1L)
          .otherwise(0L)).as("n_final"),
        sum(when(col("pass_dedup") && col("pass_quality") && col("pass_rep"),
          col("n_words")).otherwise(0L)).as("final_tokens"))
    },

    // Daily-ingest curation — d13's incremental dedup disposition and
    // p1's SHARED quality score composed into the one-lineage manifest
    // an ingest run publishes: received → dup-of-corpus / dup-in-batch
    // / ingested → curated (+ surviving token budget). The corpus
    // contributes only distinct digests (broadcast); the batch carries
    // engineered re-uploads, revisions, an intra-batch double AND
    // symbol-spam docs, so every disposition and the quality gate each
    // visibly claim rows. One batch scan + a digest window + one
    // global aggregate.
    "p4_daily_ingest" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val batch = Dedup.deliveryBatch(docs)
        .unionAll(docs.filter(col("doc_id") % 41 === 0)
          .select((col("doc_id") + 620000L).as("doc_id"),
            concat(concat_ws(" ", array_repeat(lit("!?!?"), 30)),
              lit(" "), col("doc_id").cast("string")).as("text")))
      // quality features and the digest are computed MAP-SIDE and the
      // text dropped BEFORE the first-arrival window: the round-14
      // plan-discipline sweep caught this exchange carrying text# as
      // a rider column (the manual audits only ever grepped for text
      // as the shuffle KEY) — at corpus scale that shuffles every
      // byte of the batch on the digest key for no reason
      Dedup.ingestStatus(withQuality(batch
          .withColumn("h", Portable.md5bin(Portable.normText(col("text")))))
          .drop("text"), docs)
        .withColumn("curated", col("status") === "ingested" && col("quality") >= 0.5)
        .agg(
          count(lit(1)).as("n_received"),
          sum(when(col("status") === "dup_of_corpus", 1L).otherwise(0L)).as("n_dup_corpus"),
          sum(when(col("status") === "dup_in_batch", 1L).otherwise(0L)).as("n_dup_batch"),
          sum(when(col("status") === "ingested", 1L).otherwise(0L)).as("n_ingested"),
          sum(when(col("curated"), 1L).otherwise(0L)).as("n_curated"),
          sum(when(col("curated"), col("n_words")).otherwise(0L)).as("curated_tokens"))
    },

    // Retrieval-corpus build: dedup → quality gate → inverted-index
    // build STATS, all in one plan — the acceptance summary an index
    // job publishes before t14-style retrieval serves it (t13
    // materializes the posting lists themselves; this reports the
    // index shape: terms, postings, hottest document frequency).
    // Stage counts and index stats come from the same lineage, so
    // the summary can never disagree with the index it describes.
    "p3_index_build" -> { (s, d) =>
      val corpus = Dedup.withExactDupes(Tables.documents(s, d))
      val surv = Dedup.exactKeepers(corpus).select(col("doc_id").as("keep_id"))
      val kept = withQuality(
          corpus.join(surv, corpus("doc_id") === surv("keep_id"), "left_semi"))
        .filter(col("quality") >= 0.5)
      val terms = kept
        .select(col("doc_id"), explode(Portable.words(col("text"))).as("term"))
        .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))
      corpus.agg(count(lit(1)).as("n_raw"))
        .crossJoin(kept.agg(count(lit(1)).as("n_indexed")))
        .crossJoin(terms.agg(count(lit(1)).as("n_terms"),
          sum(col("df")).as("n_postings"),
          sum(col("tf_total")).as("total_tf"),
          max(col("df")).as("max_df")))
    },

    // Mixture EXECUTION — t17 plans the per-language weights; this
    // builds the corpus those weights describe and publishes the
    // realized manifest. Selection is a deterministic hash gate
    // (md5-bucket of the doc id vs weight·2^20 — the t9 reproducible-
    // sampling idiom), so the same manifest falls out of every run
    // and every cluster size: no RNG state, no driver-side sampling.
    // Two scans of (lang, toks) — one for the weight table (5 rows,
    // broadcast), one gated map-side — plus 5-row rollups; the corpus
    // text itself is never shuffled, so the plan is two map passes at
    // any scale. realized_share vs target is the acceptance check:
    // downsampled languages land on target, under-represented ones
    // (weight = 1) keep their natural share.
    "p5_mix_build" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(Portable.words(col("text"))).cast("long").as("toks"))
      val perLang = docs.groupBy(col("lang"))
        .agg(sum(col("toks")).as("tokens"))
      val total = perLang.agg(sum(col("tokens")).as("total_toks"))
      val weights = perLang.crossJoin(broadcast(total))
        .withColumn("share", col("tokens").cast("double") / col("total_toks"))
        .withColumn("target",
          element_at(typedLit(TextOps.TargetMix.toMap), col("lang")))
        .withColumn("weight", least(lit(1.0), col("target") / col("share")))
        .select(col("lang"), col("share"), col("target"), col("weight"))
      val gated = docs
        .join(broadcast(weights), "lang")
        .withColumn("bucket",
          pmod(Portable.hash60(concat(lit("mix"), col("doc_id").cast("string"))),
            lit(1048576L)))
        .withColumn("selected",
          col("bucket").cast("double") < col("weight") * 1048576.0)
      val agg = gated.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("selected"), 1L).otherwise(0L)).as("sel_docs"),
          sum(col("toks")).as("tokens"),
          sum(when(col("selected"), col("toks")).otherwise(0L)).as("sel_tokens"))
      val selTot = agg.agg(sum(col("sel_tokens")).as("total_sel"))
      agg.join(broadcast(weights.select(col("lang"), col("target"), col("weight"))), "lang")
        .crossJoin(broadcast(selTot))
        .select(col("lang"), col("n_docs"), col("sel_docs"),
          col("tokens"), col("sel_tokens"), col("target"),
          round(col("weight"), 6).as("weight"),
          round(col("sel_tokens").cast("double") / col("total_sel"), 6).as("realized_share"))
        .orderBy(col("lang"))
    },

    // Per-source quality DRIFT monitor — the ops check behind p4's
    // gate: a source whose incoming quality degrades should be caught
    // by the monitor, not discovered downstream in training. Docs map
    // onto (source, ingest_day) cells (day = doc_id % 7 — the
    // deterministic stand-in for an ingest-date column). A fixed
    // drift threshold is a trap: small cells swing wildly (at tiny SF
    // a 3-doc cell drifts ±0.14 naturally), so each cell is scored by
    // a TWO-SAMPLE Z-TEST against the rest of its own source — the
    // leave-one-cell-out mean and per-doc variance come free from the
    // same (n, Σq, Σq²) aggregate, and the standard error
    // rest_sd·√(1/n + 1/rest_n) scales the threshold to how much
    // evidence the cell actually carries. z < -3 flags. The corpus
    // plants a degraded cell — 5 symbol-spam docs per original
    // landing on (min source, day 6), z ≈ -8 — while the worst
    // natural cell sits near -2.6 at sf0.001. ONE corpus scan
    // (quality is map-side), a (sources × 7)-row aggregate, and
    // window math over that tiny table: nothing past the first agg
    // grows with the corpus.
    "p6_source_drift" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source"))
      val minSrc = docs.agg(min(col("source")).as("plant_src"))
      val plant = docs.crossJoin(broadcast(minSrc))
        .filter(col("source") === col("plant_src") && col("doc_id") % 7 === 6)
        .withColumn("k", explode(sequence(lit(0L), lit(4L))))
        .select((col("doc_id") + 700000L + col("k") * 70000L).as("doc_id"),
          concat(concat_ws(" ", array_repeat(lit("!?!?"), 30)),
            lit(" "), col("doc_id").cast("string")).as("text"),
          col("source"))
      driftFromCells(qualityCells(docs.unionByName(plant)))
    },

    // Staged dedup CASCADE — the d-family composed the way
    // a production corpus-prep run actually executes it: cheap exact
    // dedup first, LSH near-dup on the exact survivors, segment-level
    // dedup on the near survivors — so each stage's input is the
    // previous stage's output (the expensive stages never see docs a
    // cheaper stage already caught) and every doc's disposition names
    // the FIRST stage that caught it. That ordering is the scale
    // argument AND the planning table: per-stage marginal yield is
    // what answers "does the costly near-dup pass still pay after
    // exact dedup?". Plants cover all three classes — exact copies
    // (every 10th, +100000), appended-tail near copies (every 20th,
    // +200000), and 20-word COLLAGES with unique tails (every 15th,
    // +700000: >50% shared segments but whole-doc Jaccard ≈ 0.16,
    // invisible to both earlier stages). Stage shuffles carry digests
    // and 16-int signatures only; the corpus text is read from the
    // localCheckpointed union once per stage's map pass (the
    // between-stage materialization a real pipeline writes anyway).
    "p7_dedup_cascade" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      // two-step select: Spark's lateral column alias resolution would
      // otherwise bind the lambda's doc_id to the NEW alias (+700000)
      // instead of the child column, silently diverging from the oracle
      val collage = docs.filter(col("doc_id") % 15 === 0)
        .select(col("doc_id").as("orig_id"), col("text"))
        .select((col("orig_id") + 700000L).as("doc_id"),
          array_join(concat(
            slice(Portable.words(col("text")), 1, 20),
            transform(slice(Portable.words(col("text")), 21, 10),
              x => concat(x, lit("_u"), col("orig_id").cast("string")))), " ")
            .as("text"))
      val corpus = Dedup.withExactDupes(docs)
        .unionAll(docs.filter(col("doc_id") % 20 === 0)
          .withColumn("doc_id", col("doc_id") + 200000L)
          .withColumn("text", concat(col("text"), lit(" extra tail words"))))
        .unionAll(collage)
        .localCheckpoint()
      // stage 1: exact — keeper = min doc_id per normalized digest
      val keep1 = Dedup.exactKeepers(corpus)
      val drops1 = corpus.select(col("doc_id"))
        .join(keep1, Seq("doc_id"), "left_anti")
        .withColumn("disposition", lit("exact_dup")).withColumn("stage", lit(1L))
      val surv1 = corpus.join(keep1, Seq("doc_id"), "left_semi").localCheckpoint()
      // stage 2: near-dup — LSH clusters over survivors, keep min id.
      // Clustering is d9's FIXPOINT min-label propagation
      // (Components.connected), not d8's bounded two-round collapse:
      // the cascade's disposition table is the artifact a pipeline
      // acts on, and a dup CHAIN longer than diameter 2 (a-b-c-d via
      // successive band collisions) must still collapse to one keeper
      // rather than leaking "kept" rows mid-chain.
      // no repartition between the band join and the components loop:
      // Components.connected symmetrizes + distincts on its own keys
      // immediately, so a pre-shuffle on doc_a would be a pure extra
      // exchange
      // star edges, not the d3 clique join: the cascade only needs
      // connectivity, and the star form stays linear per band bucket
      // when a mega-clique (boilerplate duplicated across millions of
      // pages) lands — components are provably identical
      // (Dedup.lshStarEdges)
      val pairs = Dedup.lshStarEdges(
        Dedup.kmSignatures(surv1, materialize = true))
      val comp = graft.operators.Components.connected(
        pairs.select(col("doc_a").as("node"), col("doc_b").as("nbr")))
      val drops2 = comp.filter(col("comp_id") =!= col("node"))
        .select(col("node").as("doc_id"))
        .withColumn("disposition", lit("near_dup")).withColumn("stage", lit(2L))
      val surv2 = surv1.join(drops2.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      // stage 3: segment-level — t21's rule over the remaining corpus
      val drops3 = TextOps.segmentDupCounts(TextOps.segmentRows(surv2))
        .filter(col("n_dup_segs").cast("double") / col("n_segs") > 0.5)
        .select(col("doc_id"))
        .withColumn("disposition", lit("segment_dup")).withColumn("stage", lit(3L))
      val kept = surv2.select(col("doc_id"))
        .join(drops3.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .withColumn("disposition", lit("kept")).withColumn("stage", lit(4L))
      val dispo = drops1.unionByName(drops2).unionByName(drops3).unionByName(kept)
      val total = corpus.agg(count(lit(1)).as("n_total"))
      dispo.join(corpus.select(col("doc_id"), length(col("text")).cast("long").as("nc")),
          Seq("doc_id"))
        .groupBy(col("stage"), col("disposition"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("total_chars"))
        .crossJoin(broadcast(total))
        .select(col("stage"), col("disposition"), col("n_docs"), col("total_chars"),
          round(col("n_docs").cast("double") / col("n_total"), 6).as("doc_share"))
        .orderBy(col("stage"))
    },

    // The CORPUS CARD (round 10) — the datasheet a corpus release
    // publishes (Gebru et al.'s "Datasheets for Datasets", the model-
    // card convention applied to data): one long-form (section, key,
    // metric, value) table carrying the headline inventory (docs,
    // tokens), the per-language composition, quality central
    // tendency (mean + EXACT distributed median), the exact-dup rate,
    // and the eval-contamination exposure — every number computed by
    // the same kernels the pipeline operators use (withQuality,
    // normText digests, spanWindows vs the eval digest set,
    // Percentiles), so the published card can never disagree with
    // the engine that built the corpus. One localCheckpointed
    // feature pass feeds every leg; each leg is a tiny aggregate;
    // the contamination leg joins window digests against the
    // broadcast eval set. At 100 TB this is the cheap summary run
    // AFTER curation — every metric is one partial-combining
    // aggregate over the final corpus.
    "p8_corpus_card" -> { (s, d) => corpusCard(s, d) },

    // The RELEASE GATE (round 12) — the ship/no-ship decision layer
    // over the p8 card (the m20/a25 measure→decide pattern applied to
    // the corpus release itself): each check reads ONE card metric
    // against its threshold — exact-dup rate, eval-contamination
    // exposure, mean quality, served-index recall, and the smallest
    // language's corpus share — and `release` is the conjunction, so
    // the decision is auditable row by row rather than announced.
    // Because every input is a card row, the gate can never disagree
    // with the datasheet the release publishes; cost is the card plus
    // five 1-row aggregates.
    "p9_release_gate" -> { (s, d) => releaseGate(publishedCard(s, d)) },

    // Release SNAPSHOT DIFF (round 12) — the change manifest between
    // the current corpus and the next release candidate, by doc id +
    // content digest: added / removed / changed / unchanged, with the
    // character-budget delta per class. This is the table a release
    // review reads next to p8's card and p9's gate ("what actually
    // moved?"), and the input to incremental re-indexing (only added
    // + changed docs re-embed / re-index). The candidate is planted
    // with all three mutation classes (drops, revisions, fresh
    // ingests) so each class visibly claims rows. One digest pass per
    // snapshot + a full-outer join on doc_id carrying 16-byte digests
    // and two lengths — never text.
    "p10_snapshot_diff" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val next = docs.filter(col("doc_id") % 23 =!= 5)
        .withColumn("text", when(col("doc_id") % 17 === 3,
          concat(col("text"), lit(" revision two"))).otherwise(col("text")))
        .unionAll(docs.filter(col("doc_id") % 29 === 0)
          .select((col("doc_id") + 900000L).as("doc_id"),
            concat(lit("fresh crawl "), col("text")).as("text")))
      snapshotDiff(docs, next)
        .orderBy(col("status"))
    },

    // The MEDIA curate cascade (round 13) — p7's disposition shape
    // applied to a mixed-modality corpus, composing the round's real
    // codecs end-to-end: each doc arrives as an opaque binary member
    // (id%7: PNG image / G.711 µ-law WAV / raw-DIB AVI / a truncated
    // upload / FLAC through the pure-JVM codec / MS-RLE8 inter-frame
    // AVI / IMA ADPCM through the pure-JVM predictive codec), is
    // routed by MAGIC BYTES alone (MediaDecode.parseAny — the sniff
    // IS the router, no trusted metadata; WAVs further route on the
    // fmt tag), decoded by the matching real codec (mm13/mm14/mm15/
    // mm17/mm18/mm20's twins), and gated by the QA rules a production
    // media pipeline runs: images too dark (brightness < 120), audio
    // silent (RMS < 8000) or clipped (peak ≥ 31000 — checked after
    // silence, the p7 first-catching-stage rule), video static (peak
    // inter-frame motion < 18); undecodable members quarantine as
    // decode_fail. Disposition = the FIRST catching gate. Every gate
    // input has a wire-free closed form (lossless members, or — for
    // ADPCM — the nibble-planted state machine the oracle replays as
    // a recursive CTE), so the disposition table is exact. Scale
    // shape: one encode map pass + one sniff-route-decode map pass
    // (codecs inside the partition iterator), the only shuffle is
    // the output sort carrying (doc_id, three strings); payload
    // bytes never shuffle.
    "p11_media_curate" -> { (s, d) =>
      mediaDisposition(Multimodal.plantedDecode(s, d)(
          graft.operators.MediaDecode.plantedCurateBytes,
          graft.operators.MediaDecode.parseAny).toDF(),
          "doc_id", 120.0, 8000.0, 31000.0, 18.0)
        .orderBy(col("doc_id"))
    },

    // The RE-INDEX work order (round 13) — the loop p10's docstring
    // promises ("only added + changed docs re-embed / re-index"),
    // closed against the served IVF geometry: when a changed doc is
    // re-embedded, its new vector may route to a DIFFERENT cell of
    // the frozen index, and that move is two index mutations — a
    // tombstone in the old cell's posting list and an insert in the
    // new one — which is exactly what a maintenance window needs
    // billed per cell before it runs. p10's "changed" arithmetic
    // (id % 17 = 3) picks the re-embedded set; the new embedding is
    // a deterministic perturbation (emb[i] + 0.25·emb[(i+1) mod d] —
    // both engines compute the identical IEEE doubles); both old and
    // new vectors route through the SAME a20 centroid derivation and
    // assignment kernel the served index uses. Output per cell:
    // vectors staying in place (re-embed is an in-place value
    // update), leaving (tombstones), arriving (inserts), the net
    // posting-list growth, and whether the cell is touched at all —
    // untouched cells skip the maintenance window entirely. All
    // counts are integers: no rounding surface. Scale shape: the
    // changed set is diff-sized, centroids broadcast (a20's shape),
    // the two assignment passes are map-side over the changed
    // vectors only, and the work order is cells-sized.
    "p12_reindex_delta" -> { (s, d) =>
      val geo = AnnGeometry()
      val v = Similarity.vecs(s, d)
      val cents = Similarity.hashTopK(
          v.filter(pmod(col("vec_id"), lit(7L)) =!= 3L), "cent", geo.nCentroids)
        .select(col("vec_id").as("cell"), col("emb").as("c_emb"),
          col("nrm").as("c_nrm"))
      val changed = v.filter(pmod(col("vec_id"), lit(17L)) === 3L)
      val nd = size(col("emb"))
      val reEmb = transform(sequence(lit(0), nd - 1), j =>
        element_at(col("emb"), j.cast("int") + 1) +
          lit(0.25) * element_at(col("emb"), pmod(j + 1, nd).cast("int") + 1))
      val newSide = changed.select(col("vec_id"), reEmb.as("emb"))
        .withColumn("nrm", graft.functions.Vec.norm(col("emb")))
      reindexBill(cents, changed, newSide)
        .orderBy(col("cell"))
    },

    // The CRAWL curate cascade (round 13; deepened round 14) — the
    // full CommonCrawl-shaped ingestion this library's pieces were
    // built for, composed end-to-end over REAL wires: each doc
    // arrives as one member of a .warc.gz (mm19's genuine DEFLATE +
    // WARC/1.0 + HTTP framing, now with per-id WARC-Target-URI
    // spelling variants), the body is a genuine HTML page (t31's
    // state-machine extractor strips it — script decoys, comments,
    // entities and all) carrying its host's 10-word banner chrome.
    // The cascade runs in production order: wire integrity (bad gzip
    // CRC → decode_fail), per-host template removal (t29's miner +
    // t32's strip kernel, host = canonical URL host — the banner
    // inflates word counts past the length floor and feeds stopwords
    // to the language scorer, so gates must judge the PROSE), then
    // the gates on the stripped text: language ID (t1's stopword
    // scorer, target en → non_target_lang), length floor (< 20 words
    // → too_short; the engineered THIN class only fails it after the
    // strip), punctuation quality (t2's ratio > 0.2 → low_quality),
    // canonical-URL dedup (d7's canonicalizer over the header URI,
    // min doc wins → url_duplicate — a crawl pipeline dedups on URL
    // FIRST), exact content dedup (d1's digest of the STRIPPED text,
    // min doc wins → duplicate — host-banner chrome no longer splits
    // content groups), else keep. Disposition = FIRST catching gate
    // (p7's rule). Every class is engineered (id mod 11) so every
    // disposition fires. The oracle rebuilds the extracted text,
    // URI spellings and canonicalization closed-form and re-runs the
    // SAME arithmetic — mining, strip, gates, both dedup windows.
    // Scale shape: one encode+decode+extract map pass (markup never
    // shuffles), the share-bounded inventory broadcasts, gates are
    // map-side expressions, and the only shuffles are the miner's
    // (host, digest) aggregation, the two dedup windows' 16-byte
    // digest hash partitions, and the output sort.
    "p13_crawl_curate" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val pages = crawlDecode(Tables.docIdsSpread(s, d)
        .as[Long]
        .mapPartitions(_.map(id =>
          (id, graft.operators.Warc.plantedCrawlBytes(id)))))
        .localCheckpoint() // decoded once: feeds the miner AND the gates
      // scored is materialized once for ITS three consumers (the d21
      // lesson): the gate/dedup cascade, the eval-excerpt artifact,
      // and the decontamination window scan — without it the
      // mine-and-strip subtree re-runs per consumer. The gate
      // features' word ARRAY is dropped first: it is ~40 strings per
      // row none of the three consumers reads (n_words is already a
      // scalar; the contam scan re-words from text), and
      // materializing it would double the checkpoint.
      val scored = crawlGates(crawlStrip(pages, crawlInventory(pages)))
        .drop("w").localCheckpoint()
      val contam = crawlContam(scored, crawlEvalDigests(scored))
      val uW = Window.partitionBy(col("uh"))
      val hW = Window.partitionBy(col("h"))
      // dedup ranks over the DECONTAMINATED corpus: a dropped doc
      // never claims canonical status for its url/content group (min
      // ignores the NULLed ids), so the clean re-crawl of a leaked
      // page lands instead of the whole group orphaning — and the
      // stream's first-arrival form keeps the same survivors under
      // any arrival order (spec-proved)
      val survivorId =
        when(col("contam_action") === "drop_doc", lit(null).cast("long"))
          .otherwise(col("doc_id"))
      crawlCascade(
          scored.join(contam, Seq("doc_id"), "left")
            .withColumn("first_uid", min(survivorId).over(uW))
            .withColumn("first_id", min(survivorId).over(hW)),
          col("doc_id") =!= col("first_uid"),
          col("doc_id") =!= col("first_id"))
        .orderBy(col("doc_id"))
    }
  )

  /** p13's wire step over any (doc_id, payload) slice: .warc.gz
    * member → WARC/HTTP grammar → HTML extraction, inside the
    * partition iterator. Shared verbatim by the batch query and the
    * live [[graft.streaming.DataPrep.crawlCurateStream]], so the
    * decode can never fork between them. */
  private[graft] def crawlDecode(idPayload: org.apache.spark.sql.Dataset[(Long, Array[Byte])]): DataFrame = {
    import idPayload.sparkSession.implicits._
    idPayload.mapPartitions(_.map { case (id, wire) =>
      val doc = graft.operators.Warc.parseWarcDoc(wire)
      val text =
        if (doc.ok) graft.operators.Html.extract(doc.body).text else ""
      (id, doc.ok, doc.targetUri, text)
    }).toDF("doc_id", "ok", "target_uri", "text")
  }

  /** The page's canonical HOST (registrable site), off the
    * canonicalized URL — the `source` key the per-site template miner
    * and strip stage group by. */
  private[graft] def crawlHost(uri: Column): Column =
    regexp_extract(Dedup.urlNorm(uri), "^([^/]+)", 1)

  /** p13's per-host template inventory over the decoded corpus —
    * t29's mining (TextOps.templateInventory) with the URL host as
    * the source key, over wire-ok docs only. Published shape:
    * (source, seg_hash). Share-bounded, so broadcast-sized at any
    * corpus; the live stream consumes a published copy instead of
    * re-mining per micro-batch. */
  private[graft] def crawlInventory(decoded: DataFrame): DataFrame =
    TextOps.templateInventory(
        decoded.filter(col("ok"))
          .select(col("doc_id"), col("text"),
            crawlHost(col("target_uri")).as("source")))
      .select(col("source"), lower(hex(col("h"))).as("seg_hash"))

  /** p13's template-strip stage (t32's kernel against a given
    * inventory): gates must judge the PROSE, not the site chrome —
    * the banner inflates word counts past the length floor and
    * carries stopwords into the language scores. Returns the decoded
    * columns with `text` replaced by the stripped text. */
  private[graft] def crawlStrip(decoded: DataFrame,
                                inventory: DataFrame): DataFrame =
    TextOps.stripWithInventory(
        decoded.select(col("doc_id"), col("ok"), col("target_uri"),
          col("text"), crawlHost(col("target_uri")).as("source")),
        inventory)
      .select(col("doc_id"), col("ok"), col("target_uri"),
        col("kept_text").as("text"))

  /** p13's gate features over the (template-stripped) frame: t1's
    * language scores, the word count, t2's punctuation ratio, the
    * content digest the content-dedup stage keys on, and the
    * canonical-URL digest the url-dedup stage keys on (d7's
    * canonicalizer; 16-byte digest so the url window never shuffles
    * the string). Map-side only. */
  private[graft] def crawlGates(decoded: DataFrame): DataFrame =
    TextOps.withLangScores(decoded)
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("punct_ratio",
        when(length(col("text")) === 0, 0.0).otherwise(
          (length(col("text")) -
            length(regexp_replace(col("text"), "[.,!?;:]", "")))
            .cast("double") / length(col("text"))))
      .withColumn("h", Portable.md5bin(col("text")))
      .withColumn("uh", Portable.md5bin(Dedup.urlNorm(col("target_uri"))))

  /** p13's eval-leak artifact (round 15): the benchmark excerpt set —
    * every 13th wire-ok page's first 11 post-strip words, digested as
    * stride-1 [[Dedup.SpanW]]-word windows (t26's convention). The
    * excerpt starts at word 1, so every window carries the page's
    * identifying token ("Page u&lt;id&gt; …") and contamination stays
    * self-contained: the page itself, its content-dup blockmates, and
    * pages that PLANT the excerpt — never fabricated corpus-wide
    * matches between key-congruent filler runs. Distinct 16-byte
    * digests of a benchmark-sized suite: broadcast-sized at any
    * corpus, the same asymmetry t26 rides at 100 TB. Derived once per
    * corpus snapshot; the live stream consumes a PUBLISHED copy
    * (built-once/served-many, like the template inventory). */
  private[graft] def crawlEvalDigests(stripped: DataFrame): DataFrame = {
    val w = Dedup.SpanW
    stripped.filter(col("ok") && col("doc_id") % 13 === 0)
      .select(slice(Portable.words(col("text")), 1, 11).as("ew"))
      .filter(size(col("ew")) >= w)
      .select(explode(graft.functions.TextHash.spanHashes(col("ew"), w))
        .as("h"))
      .distinct()
  }

  /** p13's decontamination verdicts: t26's span detector
    * ([[TextOps.contamSpans]] — per-doc window digests, broadcast
    * eval join, interval merge, coverage rollup) over the
    * template-stripped text, reduced to the one column the cascade
    * consumes: (doc_id, contam_action) for contaminated docs only —
    * drop_doc past 30% coverage, redact_spans below it. Scale shape:
    * the corpus side is one map pass against the broadcast digest
    * set; only HIT rows (doc_id, window index) reach the span-merge
    * shuffle, so the clean bulk of a crawl never leaves its map
    * pass, and the left join back rides slim digest-only rows. */
  private[graft] def crawlContam(stripped: DataFrame,
                                 evalWins: DataFrame): DataFrame =
    TextOps.contamSpans(stripped.select(col("doc_id"), col("text")),
        evalWins)
      .select(col("doc_id"), col("action").as("contam_action"))

  /** p13's first-catching disposition cascade. The two duplicate
    * tests are the caller's: the batch query passes min-doc-wins over
    * the whole corpus (url group first — a re-crawl of a kept page is
    * a url duplicate no matter what it serves; content second); the
    * live stream passes first-arrival (in-batch rank + durable digest
    * stores) — equal when arrivals come in id order, group-equivalent
    * under any order. Round 15: the caller also supplies a nullable
    * `contam_action` column (t26's span detector over the stripped
    * text — [[crawlContam]]). A doc past the 30% coverage bar
    * (`drop_doc`) is dropped BEFORE the dedup gates: a leaked eval
    * passage must not land even when the page is also a re-crawl —
    * hygiene outranks canonicalization in the report. The caller's
    * dup tests must agree: a dropped doc is EXCLUDED from the dup
    * ranks (batch NULLs it out of the min windows; the stream skips
    * it in the in-batch ranks and never records its digests), so it
    * can't claim canonical status for a group whose clean re-crawl
    * should land — and batch and stream keep the same survivors
    * under any arrival order. A span-level leak (`redact_spans`)
    * ranks BELOW the dup gates: a duplicate is dropped as a
    * duplicate (nobody redacts a doc they won't keep); only a doc
    * that would otherwise be kept surfaces as decontam_redact —
    * kept, with the leaked spans cut. */
  private[graft] def crawlCascade(scored: DataFrame, isUrlDup: Column,
                                  isDup: Column): DataFrame =
    scored
      .withColumn("disposition",
        when(!col("ok"), "decode_fail")
          .when(col("pred_lang") =!= "en", "non_target_lang")
          .when(col("n_words") < 20L, "too_short")
          .when(col("punct_ratio") > 0.2, "low_quality")
          .when(col("contam_action") === "drop_doc", "decontam_drop")
          .when(isUrlDup, "url_duplicate")
          .when(isDup, "duplicate")
          .when(col("contam_action") === "redact_spans", "decontam_redact")
          .otherwise("keep"))
      .select(col("doc_id"), col("disposition"), col("n_words"),
        col("pred_lang"))

  /** The PUBLISHED card, built once per (session, corpus): p8 is the
    * builder; consumers (p9's gate) read the card the release
    * actually ships — a parquet artifact written once and re-read —
    * rather than recomputing it, the same built-once/served-many
    * shape as the ANN index artifact. Values are identical by
    * construction (publishing is pure materialization), which the
    * oracle proves by recomputing from scratch. */
  private val cardCache = new GraftCaches.Published[DataFrame]("graft_card_", _.sparkSession)
  private[graft] def publishedCard(s: SparkSession, d: String): DataFrame =
    cardCache(s, new java.io.File(d).getCanonicalPath) { dir =>
      corpusCard(s, d).write.mode("overwrite").parquet(dir)
      s.read.parquet(dir)
    }

  /** p9's decision layer over a (published) card. Each metric lookup
    * is a 1-ROW aggregate (`min` over the filtered card), never a
    * 0-or-1-row filter: a malformed card — a missing metric row, e.g.
    * servedIndexStats yielding no recall — surfaces as a NULL value
    * whose check coalesces to pass=false and therefore release=false
    * on every row (the ADVICE r12 seam: the old crossJoin of 0-row
    * frames collapsed the whole gate to an EMPTY table — no checks,
    * no verdict — exactly when the release was most broken). A gate
    * must fail loud, not vanish. */
  private[graft] def releaseGate(card: DataFrame): DataFrame = {
    def metric(sec: String, key: String, met: String, as: String) =
      broadcast(card.filter(col("section") === sec && col("key") === key &&
          col("metric") === met)
        .agg(min(col("value")).as(as)))
    val minLang = broadcast(card.filter(col("section") === "lang" &&
        col("metric") === "n_docs")
      .agg(min(col("value")).as("min_lang_docs")))
    val joined = metric("dedup", "exact", "dup_rate", "dup_rate")
      .crossJoin(metric("decontam", "eval", "contam_doc_rate", "contam_rate"))
      .crossJoin(metric("quality", "all", "mean", "mean_quality"))
      .crossJoin(metric("index", "ivfpq", "recall", "recall"))
      .crossJoin(metric("corpus", "all", "n_docs", "n_docs"))
      .crossJoin(minLang)
    def chk(cond: Column) = coalesce(cond, lit(false))
    val checks = joined.select(explode(array(
      struct(lit("contam_rate_max").as("check_name"),
        col("contam_rate").as("value"), lit(0.10).as("threshold"),
        chk(col("contam_rate") <= 0.10).as("pass")),
      struct(lit("dup_rate_max").as("check_name"),
        col("dup_rate").as("value"), lit(0.01).as("threshold"),
        chk(col("dup_rate") <= 0.01).as("pass")),
      struct(lit("index_recall_min").as("check_name"),
        col("recall").as("value"), lit(0.05).as("threshold"),
        chk(col("recall") >= 0.05).as("pass")),
      struct(lit("mean_quality_min").as("check_name"),
        col("mean_quality").as("value"), lit(0.5).as("threshold"),
        chk(col("mean_quality") >= 0.5).as("pass")),
      struct(lit("min_lang_share").as("check_name"),
        round(col("min_lang_docs") / col("n_docs"), 6).as("value"),
        lit(0.01).as("threshold"),
        chk(round(col("min_lang_docs") / col("n_docs"), 6) >= 0.01).as("pass")))).as("c"))
      .select(col("c.check_name").as("check_name"), col("c.value").as("value"),
        col("c.threshold").as("threshold"), col("c.pass").as("pass"))
    val overall = checks.agg(
      (sum(when(col("pass"), 0L).otherwise(1L)) === 0L).as("release"))
    checks.crossJoin(broadcast(overall))
      .select(col("check_name"), round(col("value"), 6).as("value"),
        col("threshold"), col("pass"), col("release"))
      .orderBy(col("check_name"))
  }

  /** p8's card builder — every metric from the kernels the pipeline
    * operators themselves run (see the p8 map entry's comment); p9
    * reads its published form ([[publishedCard]]) so the decision can
    * never disagree with the shipped datasheet. */
  private[graft] def corpusCard(s: SparkSession, d: String): DataFrame = {
      val base = withQuality(Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("lang"), col("source")))
        .withColumn("h", Portable.md5bin(Portable.normText(col("text"))))
        .select(col("doc_id"), col("lang"), col("source"), col("n_words"),
          col("quality"), col("h"), col("text"))
        .localCheckpoint()
      val tot = base.agg(count(lit(1)).as("n"), sum(col("n_words")).as("tok"),
        avg(col("quality")).as("mq"), countDistinct(col("h")).as("nh"))
      val p50 = graft.operators.Percentiles.exact(
          base.withColumn("g", lit(1)), "g", "quality", Seq("p50" -> 0.5))
        .select(col("p50"))
      val wins = Dedup.spanWindows(
        base.select(col("doc_id"), Portable.words(col("text")).as("w")))
      val evalSet = TextOps.evalWindowDigests(
        base.select(col("doc_id"), col("text")))
      val nContam = wins.join(broadcast(evalSet), "h")
        .agg(countDistinct(col("doc_id")).as("nc"))
      // one (section, key, metric, value) card row per entry
      def melt(df: DataFrame)(rows: (String, Column, String, Column)*): DataFrame =
        df.select(explode(array(rows.map { case (section, key, metric, value) =>
            struct(lit(section).as("section"), key.as("key"),
              lit(metric).as("metric"), value.as("value"))
          }: _*)).as("e"))
          .select(col("e.section").as("section"), col("e.key").as("key"),
            col("e.metric").as("metric"), col("e.value").as("value"))
      val all = lit("all")
      val corpusRows = melt(tot.crossJoin(broadcast(p50)).crossJoin(broadcast(nContam)))(
        ("corpus", all, "n_docs", col("n").cast("double")),
        ("corpus", all, "n_tokens", col("tok").cast("double")),
        ("quality", all, "mean", col("mq")),
        ("quality", all, "p50", col("p50")),
        ("dedup", lit("exact"), "dup_rate",
          lit(1.0) - col("nh").cast("double") / col("n")),
        ("decontam", lit("eval"), "contam_doc_rate",
          col("nc").cast("double") / col("n")))
      val langRows = melt(base.groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_words")).as("tok"),
            avg(col("quality")).as("mq")))(
        ("lang", col("lang"), "n_docs", col("n").cast("double")),
        ("lang", col("lang"), "n_tokens", col("tok").cast("double")),
        ("lang", col("lang"), "mean_quality", col("mq")))
      // card legs, each the SOURCE OPERATOR's own kernel so the
      // published card cannot disagree with the engine (spec-pinned
      // in PipelineSpec): per-modality inventory = mm4's
      // modalityStats; per-source dup yield = d16's sourceDupStats
      // over the raw corpus; index rows = the SERVED (persisted,
      // manifest-verified) IVF-PQ artifact's version, cell count and
      // measured recall vs brute-force truth.
      val modRows = melt(Multimodal.modalityStats(
          base.select(col("doc_id"), col("text"))))(
        ("modality", col("modality"), "n_objects", col("n_objects").cast("double")),
        ("modality", col("modality"), "total_bytes", col("total_bytes").cast("double")))
      val srcRows = melt(Dedup.sourceDupStats(base.select(col("source"), col("text"))))(
        ("source", col("source"), "n_docs", col("n_docs").cast("double")),
        ("source", col("source"), "dup_rate", col("dup_rate")))
      val ivfpq = lit("ivfpq")
      val idxRows = melt(Similarity.servedIndexStats(s, d))(
        ("index", ivfpq, "format_version", lit(Similarity.IvfPqFormatVersion.toDouble)),
        ("index", ivfpq, "n_cells", col("n_cells").cast("double")),
        ("index", ivfpq, "recall", col("recall")))
      corpusRows.unionByName(langRows).unionByName(modRows)
        .unionByName(srcRows).unionByName(idxRows)
        .select(col("section"), col("key"), col("metric"),
          round(col("value"), 6).as("value"))
        .orderBy(col("section"), col("key"), col("metric"))
  }


  /** p10's snapshot diff of two (doc_id, text) snapshots, by id +
    * normalized content digest: (status, n_docs, delta_chars) per
    * added / removed / changed / unchanged class. Shared by p10 and
    * the `snapshotDiff` DSL facade; shuffles 16-byte digests and
    * lengths, never text. */
  private[graft] def snapshotDiff(cur: DataFrame, next: DataFrame): DataFrame = {
    def digests(df: DataFrame, hName: String, cName: String) =
      df.select(col("doc_id"),
        Portable.md5bin(Portable.normText(col("text"))).as(hName),
        length(col("text")).cast("long").as(cName))
    digests(cur, "h_old", "chars_old")
      .join(digests(next, "h_new", "chars_new"), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") === col("h_new"), "unchanged")
          .otherwise("changed"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("chars_new"), lit(0L)) -
          coalesce(col("chars_old"), lit(0L))).as("delta_chars"))
  }

  /** p11's modality routing and QA gates over a parsed media frame
    * (MediaDecode's `docId, container, ok, meanR/G/B, rms, peak`
    * rows): (idCol, modality, container, disposition), where the
    * disposition is the FIRST catching gate. Shared by p11 (gates at
    * 120 / 8000 / 31000 / 18), the `mediaCurate` DSL facade and its
    * live form `streaming.DataPrep.mediaCurateStream`. */
  private[graft] def mediaDisposition(parsed: DataFrame, idCol: String,
                                      darkBrightness: Double, silentRms: Double,
                                      clippedPeak: Double,
                                      staticMotion: Double): DataFrame =
    parsed
      .select(col("docId").as(idCol), col("container"), col("ok"),
        col("meanR"), col("meanG"), col("meanB"), col("rms"), col("peak"))
      .withColumn("modality",
        when(col("container").isin("png", "jpeg", "bmp"), "image")
          .when(col("container").isin("ulaw", "alaw", "wav", "flac",
            "adpcm"), "audio")
          // "gif" routes as video: parseAny hands animated GIFs the
          // same frame-stats row the AVI codecs emit; "msrle" is the
          // inter-frame AVI class
          .when(col("container").isin("mjpeg", "rawvideo", "avi", "gif",
            "msrle"), "video")
          .otherwise("unknown"))
      .withColumn("disposition",
        when(!col("ok"), "decode_fail")
          .when(col("modality") === "image" &&
            (col("meanR") + col("meanG") + col("meanB")) / 3.0 < darkBrightness, "dark")
          .when(col("modality") === "audio" && col("rms") < silentRms, "silent")
          .when(col("modality") === "audio" && col("peak") >= clippedPeak, "clipped")
          .when(col("modality") === "video" && col("peak") < staticMotion, "static")
          .otherwise("keep"))
      .select(col(idCol), col("modality"), col("container"), col("disposition"))

  /** p12's per-cell re-index bill: the changed vectors' `oldSide`
    * and `newSide` (vec_id, emb, nrm) frames both route through
    * [[Similarity.assignCells]] against `cents` (cell, c_emb, c_nrm);
    * a cell move is a tombstone plus an insert. Returns (cell,
    * n_stay, n_out, n_in, net_moved, touched) for every centroid.
    * Shared by p12 and the `reindexMoves` DSL facade. */
  private[graft] def reindexBill(cents: DataFrame, oldSide: DataFrame,
                                 newSide: DataFrame): DataFrame = {
    val moves = Similarity.assignCells(oldSide, cents)
      .select(col("vec_id"), col("cell").as("old_cell"))
      .join(Similarity.assignCells(newSide, cents)
        .select(col("vec_id"), col("cell").as("new_cell")), "vec_id")
    val outFlow = moves.filter(col("old_cell") =!= col("new_cell"))
      .groupBy(col("old_cell").as("cell")).agg(count(lit(1)).as("n_out"))
    val inFlow = moves.filter(col("old_cell") =!= col("new_cell"))
      .groupBy(col("new_cell").as("cell")).agg(count(lit(1)).as("n_in"))
    val stay = moves.filter(col("old_cell") === col("new_cell"))
      .groupBy(col("old_cell").as("cell")).agg(count(lit(1)).as("n_stay"))
    cents.select(col("cell"))
      .join(outFlow, Seq("cell"), "left")
      .join(inFlow, Seq("cell"), "left")
      .join(stay, Seq("cell"), "left")
      .na.fill(0L, Seq("n_out", "n_in", "n_stay"))
      .withColumn("net_moved", col("n_in") - col("n_out"))
      .withColumn("touched",
        (col("n_out") + col("n_in") + col("n_stay")) > 0L)
      .select(col("cell"), col("n_stay"), col("n_out"), col("n_in"),
        col("net_moved"), col("touched"))
  }

  /** p6's per-(source, ingest_day) quality cells — (count, Σq, Σq²)
    * SUMS so they merge associatively across micro-batches (the a22
    * monitor's idiom). One map-side quality pass + a cells-sized
    * aggregate. */
  private[graft] def qualityCells(docs: DataFrame): DataFrame =
    withQuality(docs)
      .withColumn("ingest_day", pmod(col("doc_id"), lit(7L)))
      .groupBy(col("source"), col("ingest_day"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("quality")).as("s1"),
        sum(col("quality") * col("quality")).as("s2"))

  /** One live-monitor step: merge a micro-batch's quality cells into
    * the durable cells store — cells-sized forever, no corpus
    * rescan. */
  private[graft] def qualityCellsStep(store: DataFrame, batch: DataFrame): DataFrame =
    store.unionByName(qualityCells(batch))
      .groupBy(col("source"), col("ingest_day"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("s1")).as("s1"), sum(col("s2")).as("s2"))

  /** p6's decision layer: each cell's two-sample z-test against the
    * rest of its own source, derived purely from the mergeable cell
    * sums — shared verbatim by the batch query and the streaming
    * ingest monitor (StreamingSpec proves streamed ≡ batch). */
  private[graft] def driftFromCells(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
    cells
      .withColumn("rest_n", sum(col("n_docs")).over(w) - col("n_docs"))
      .withColumn("rest_mean",
        (sum(col("s1")).over(w) - col("s1")) / col("rest_n"))
      .withColumn("rest_var", greatest(
        (sum(col("s2")).over(w) - col("s2")) / col("rest_n") -
          col("rest_mean") * col("rest_mean"), lit(0.0)))
      .withColumn("mq", col("s1") / col("n_docs"))
      .withColumn("se", greatest(sqrt(col("rest_var")), lit(1e-9)) *
        sqrt(lit(1.0) / col("n_docs") + lit(1.0) / col("rest_n")))
      .withColumn("z", (col("mq") - col("rest_mean")) / col("se"))
      .select(col("source"), col("ingest_day"), col("n_docs"),
        round(col("mq"), 6).as("mean_q"),
        round(col("rest_mean"), 6).as("baseline"),
        round(col("mq") - col("rest_mean"), 6).as("drift"),
        round(col("z"), 6).as("zscore"),
        (col("z") < -3.0).as("flagged"))
      .orderBy(col("source"), col("ingest_day"))
  }

  /** p8's oracle, also embedded as a CTE by p9's release gate. */
  private lazy val CorpusCardSql: String =
      s"""WITH docs AS (SELECT doc_id, text, lang, source FROM documents),
        |idx AS (${graft.queries.Similarity.ServedIndexStatsSql}),
        |ws AS (
        |  SELECT doc_id, lang, source, text,
        |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |      ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
        |  FROM docs),
        |q AS (
        |  SELECT doc_id, lang, source, w, len(w)::BIGINT AS n_words,
        |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h,
        |    (CASE WHEN len(w) = 0 THEN 0.0
        |      ELSE len(list_filter(w, x ->
        |        list_contains(['the','a','of','and','to'], x)))::DOUBLE / len(w)
        |      END) * 0.4
        |    + least(len(w)::DOUBLE / 100.0, 1.0) * 0.4
        |    + (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
        |        / length(text)) * 0.2 AS quality
        |  FROM ws),
        |tot AS (
        |  SELECT count(*)::BIGINT AS n, CAST(sum(n_words) AS BIGINT) AS tok,
        |    avg(quality) AS mq, count(DISTINCT h) AS nh
        |  FROM q),
        |p50 AS (SELECT quantile_cont(quality, 0.5) AS p50 FROM q),
        |ev AS (
        |  SELECT w[5:25] AS ew FROM ws
        |  WHERE doc_id % 13 = 0 AND len(w[5:25]) >= 10),
        |evw AS (
        |  SELECT DISTINCT md5(array_to_string(ew[i : i + 9], ' ')) AS h
        |  FROM ev, unnest(generate_series(1, CAST(len(ew) AS INT) - 9)) AS t(i)),
        |dw AS (
        |  SELECT q.doc_id, md5(array_to_string(w[i : i + 9], ' ')) AS h
        |  FROM q, unnest(generate_series(1, CAST(n_words AS INT) - 9)) AS t(i)
        |  WHERE n_words >= 10),
        |nc AS (SELECT count(DISTINCT dw.doc_id) AS nc FROM dw JOIN evw USING (h)),
        |rows AS (
        |  SELECT 'corpus' AS section, 'all' AS key, 'n_docs' AS metric,
        |    n::DOUBLE AS value FROM tot
        |  UNION ALL SELECT 'corpus', 'all', 'n_tokens', tok::DOUBLE FROM tot
        |  UNION ALL SELECT 'quality', 'all', 'mean', mq FROM tot
        |  UNION ALL SELECT 'quality', 'all', 'p50', p50 FROM p50
        |  UNION ALL SELECT 'dedup', 'exact', 'dup_rate',
        |    1.0 - nh::DOUBLE / n FROM tot
        |  UNION ALL SELECT 'decontam', 'eval', 'contam_doc_rate',
        |    (SELECT nc FROM nc)::DOUBLE / n FROM tot
        |  UNION ALL SELECT 'lang', lang, 'n_docs', count(*)::DOUBLE FROM q GROUP BY lang
        |  UNION ALL SELECT 'lang', lang, 'n_tokens',
        |    CAST(sum(n_words) AS DOUBLE) FROM q GROUP BY lang
        |  UNION ALL SELECT 'lang', lang, 'mean_quality', avg(quality)
        |  FROM q GROUP BY lang
        |  UNION ALL SELECT 'modality',
        |    ['audio','image','text','video'][(doc_id % 4 + 1)::INTEGER],
        |    'n_objects', count(*)::DOUBLE FROM docs GROUP BY 2
        |  UNION ALL SELECT 'modality',
        |    ['audio','image','text','video'][(doc_id % 4 + 1)::INTEGER],
        |    'total_bytes', CAST(sum(octet_length(text::BLOB)) AS DOUBLE)
        |  FROM docs GROUP BY 2
        |  UNION ALL SELECT 'source', source, 'n_docs', count(*)::DOUBLE
        |  FROM q GROUP BY source
        |  UNION ALL SELECT 'source', source, 'dup_rate',
        |    round(1.0 - count(DISTINCT h)::DOUBLE / count(*), 6)
        |  FROM q GROUP BY source
        |  UNION ALL SELECT 'index', 'ivfpq', 'format_version',
        |    ${graft.queries.Similarity.IvfPqFormatVersion}.0
        |  UNION ALL SELECT 'index', 'ivfpq', 'n_cells',
        |    (SELECT n_cells FROM idx)::DOUBLE
        |  UNION ALL SELECT 'index', 'ivfpq', 'recall',
        |    (SELECT recall FROM idx))
        |SELECT section, key, metric, round(value, 6) AS value
        |FROM rows
        |ORDER BY section, key, metric""".stripMargin

  def oracle: Map[String, String] = Map(
    "p1_dataprep" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |surv AS (
        |  SELECT min(doc_id) AS keep_id
        |  FROM corpus
        |  GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))),
        |kept AS (
        |  SELECT c.doc_id, c.text,
        |    CASE WHEN trim(c.text) = '' THEN []::VARCHAR[]
        |      ELSE regexp_split_to_array(trim(c.text), '\s+') END AS w
        |  FROM corpus c JOIN surv ON c.doc_id = surv.keep_id),
        |feat AS (
        |  SELECT doc_id, text, len(w) AS n_words,
        |    CASE WHEN len(w) = 0 THEN 0.0
        |      ELSE len(list_filter(w, x -> list_contains(['the','a','of','and','to'], x)))::DOUBLE / len(w) END AS stop_ratio,
        |    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
        |      / length(text) AS punct_ratio
        |  FROM kept)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  stop_ratio * 0.4 + least(n_words::DOUBLE / 100.0, 1.0) * 0.4 +
        |    (1.0 - punct_ratio) * 0.2 AS quality,
        |  ('0x' || substring(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fp60
        |FROM feat
        |WHERE stop_ratio * 0.4 + least(n_words::DOUBLE / 100.0, 1.0) * 0.4 +
        |    (1.0 - punct_ratio) * 0.2 >= 0.5
        |ORDER BY doc_id""".stripMargin,

    "p2_funnel" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, text || ' ' || text AS text
        |  FROM documents WHERE doc_id % 25 = 0),
        |keepers AS (
        |  SELECT min(doc_id) AS doc_id
        |  FROM corpus
        |  GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))),
        |flagged AS (
        |  SELECT c.doc_id, c.text,
        |    (k.doc_id IS NOT NULL) AS pass_dedup,
        |    CASE WHEN trim(c.text) = '' THEN []::VARCHAR[]
        |      ELSE regexp_split_to_array(trim(c.text), '\s+') END AS w
        |  FROM corpus c LEFT JOIN keepers k ON c.doc_id = k.doc_id),
        |feat AS (
        |  SELECT doc_id, pass_dedup, len(w) AS n_words,
        |    (CASE WHEN len(w) = 0 THEN 0.0
        |      ELSE len(list_filter(w, x -> list_contains(['the','a','of','and','to'], x)))::DOUBLE / len(w) END) * 0.4
        |    + least(len(w)::DOUBLE / 100.0, 1.0) * 0.4
        |    + (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text)) * 0.2
        |      AS quality,
        |    CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
        |      ELSE []::VARCHAR[] END AS g2
        |  FROM flagged),
        |flags AS (
        |  SELECT pass_dedup, n_words,
        |    quality >= 0.5 AS pass_quality,
        |    CASE WHEN len(g2) = 0 THEN true
        |      ELSE 1.0 - len(list_distinct(g2))::DOUBLE / len(g2) <= 0.2 END AS pass_rep
        |  FROM feat)
        |SELECT count(*) AS n_raw,
        |  CAST(sum(CASE WHEN pass_dedup THEN 1 ELSE 0 END) AS BIGINT) AS n_after_dedup,
        |  CAST(sum(CASE WHEN pass_dedup AND pass_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_after_quality,
        |  CAST(sum(CASE WHEN pass_dedup AND pass_quality AND pass_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
        |  CAST(sum(CASE WHEN pass_dedup AND pass_quality AND pass_rep THEN n_words ELSE 0 END) AS BIGINT) AS final_tokens
        |FROM flags""".stripMargin,

    "p4_daily_ingest" ->
      """WITH docs AS (SELECT doc_id, text FROM documents),
        |batch AS (
        |  SELECT doc_id + 500000 AS doc_id, text FROM docs WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 520000 AS doc_id,
        |    text || ' fresh revision ' || doc_id::VARCHAR AS text
        |  FROM docs WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id + 600000 AS doc_id, text || ' batch special' AS text
        |  FROM docs WHERE doc_id % 31 = 0
        |  UNION ALL
        |  SELECT doc_id + 610000 AS doc_id, text || ' batch special' AS text
        |  FROM docs WHERE doc_id % 31 = 0
        |  UNION ALL
        |  SELECT doc_id + 620000 AS doc_id,
        |    trim(repeat('!?!? ', 30)) || ' ' || doc_id::VARCHAR AS text
        |  FROM docs WHERE doc_id % 41 = 0),
        |corpus_h AS (
        |  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
        |  FROM docs),
        |statused AS (
        |  SELECT b.doc_id, b.text,
        |    CASE WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
        |         WHEN row_number() OVER (
        |           PARTITION BY md5(trim(regexp_replace(lower(b.text), '\s+', ' ', 'g')))
        |           ORDER BY b.doc_id) > 1 THEN 'dup_in_batch'
        |         ELSE 'ingested' END AS status
        |  FROM batch b LEFT JOIN corpus_h c
        |    ON md5(trim(regexp_replace(lower(b.text), '\s+', ' ', 'g'))) = c.h),
        |feat AS (
        |  SELECT status, len(w) AS n_words,
        |    (CASE WHEN len(w) = 0 THEN 0.0
        |      ELSE len(list_filter(w, x -> list_contains(['the','a','of','and','to'], x)))::DOUBLE / len(w) END) * 0.4
        |    + least(len(w)::DOUBLE / 100.0, 1.0) * 0.4
        |    + (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text)) * 0.2
        |      AS quality
        |  FROM (SELECT status, text,
        |      CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |        ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |    FROM statused) t)
        |SELECT count(*) AS n_received,
        |  CAST(sum(CASE WHEN status = 'dup_of_corpus' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_corpus,
        |  CAST(sum(CASE WHEN status = 'dup_in_batch' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_batch,
        |  CAST(sum(CASE WHEN status = 'ingested' THEN 1 ELSE 0 END) AS BIGINT) AS n_ingested,
        |  CAST(sum(CASE WHEN status = 'ingested' AND quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_curated,
        |  CAST(sum(CASE WHEN status = 'ingested' AND quality >= 0.5 THEN n_words ELSE 0 END) AS BIGINT) AS curated_tokens
        |FROM feat""".stripMargin,

    "p3_index_build" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |surv AS (
        |  SELECT min(doc_id) AS keep_id
        |  FROM corpus
        |  GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))),
        |kept0 AS (
        |  SELECT c.doc_id, c.text,
        |    CASE WHEN trim(c.text) = '' THEN []::VARCHAR[]
        |      ELSE regexp_split_to_array(trim(c.text), '\s+') END AS w
        |  FROM corpus c JOIN surv ON c.doc_id = surv.keep_id),
        |kept AS (
        |  SELECT doc_id, w FROM kept0
        |  WHERE (CASE WHEN len(w) = 0 THEN 0.0
        |      ELSE len(list_filter(w, x -> list_contains(['the','a','of','and','to'], x)))::DOUBLE / len(w) END) * 0.4
        |    + least(len(w)::DOUBLE / 100.0, 1.0) * 0.4
        |    + (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text)) * 0.2
        |    >= 0.5),
        |tf AS (
        |  SELECT term, doc_id, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(w) AS term FROM kept) t
        |  GROUP BY 1, 2),
        |terms AS (
        |  SELECT term, count(*) AS df, sum(tf) AS tf_total
        |  FROM tf GROUP BY term)
        |SELECT
        |  (SELECT count(*) FROM corpus)::BIGINT AS n_raw,
        |  (SELECT count(*) FROM kept)::BIGINT AS n_indexed,
        |  count(*)::BIGINT AS n_terms,
        |  CAST(sum(df) AS BIGINT) AS n_postings,
        |  CAST(sum(tf_total) AS BIGINT) AS total_tf,
        |  CAST(max(df) AS BIGINT) AS max_df
        |FROM terms""".stripMargin,

    "p5_mix_build" -> {
      val targetSql = TextOps.TargetMix.map { case (l, t) => s"WHEN '$l' THEN $t" }
        .mkString("CASE lang ", " ", " END")
      s"""WITH docs AS (
         |  SELECT doc_id, lang,
         |    CAST(CASE WHEN trim(text) = '' THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS toks
         |  FROM documents),
         |pl AS (SELECT lang, sum(toks) AS tokens FROM docs GROUP BY lang),
         |wts AS (
         |  SELECT lang,
         |    tokens::DOUBLE / sum(tokens) OVER () AS share,
         |    $targetSql AS target
         |  FROM pl),
         |wts2 AS (
         |  SELECT lang, share, target, least(1.0, target / share) AS weight FROM wts),
         |gated AS (
         |  SELECT d.lang, d.toks, w.target, w.weight,
         |    (('0x' || substring(md5('mix' || d.doc_id::VARCHAR), 1, 15))::BIGINT
         |      % 1048576)::DOUBLE < w.weight * 1048576.0 AS selected
         |  FROM docs d JOIN wts2 w USING (lang)),
         |agg AS (
         |  SELECT lang, target, weight,
         |    count(*)::BIGINT AS n_docs,
         |    CAST(sum(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT) AS sel_docs,
         |    CAST(sum(toks) AS BIGINT) AS tokens,
         |    CAST(sum(CASE WHEN selected THEN toks ELSE 0 END) AS BIGINT) AS sel_tokens
         |  FROM gated GROUP BY lang, target, weight)
         |SELECT lang, n_docs, sel_docs, tokens, sel_tokens, target,
         |  round(weight, 6) AS weight,
         |  round(sel_tokens::DOUBLE / sum(sel_tokens) OVER (), 6) AS realized_share
         |FROM agg
         |ORDER BY lang""".stripMargin
    },

    "p6_source_drift" ->
      """WITH docs AS (SELECT doc_id, text, source FROM documents),
        |plant AS (
        |  SELECT d.doc_id + 700000 + g.k * 70000 AS doc_id,
        |    trim(repeat('!?!? ', 30)) || ' ' || d.doc_id::VARCHAR AS text,
        |    d.source
        |  FROM docs d CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS k) g
        |  WHERE d.source = (SELECT min(source) FROM docs) AND d.doc_id % 7 = 6),
        |corpus AS (SELECT * FROM docs UNION ALL SELECT * FROM plant),
        |feat AS (
        |  SELECT source, doc_id % 7 AS ingest_day,
        |    (CASE WHEN len(w) = 0 THEN 0.0
        |      ELSE len(list_filter(w, x -> list_contains(['the','a','of','and','to'], x)))::DOUBLE / len(w) END) * 0.4
        |    + least(len(w)::DOUBLE / 100.0, 1.0) * 0.4
        |    + (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text)) * 0.2
        |      AS quality
        |  FROM (SELECT source, doc_id, text,
        |      CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |        ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |    FROM corpus) t),
        |cells AS (
        |  SELECT source, CAST(ingest_day AS BIGINT) AS ingest_day,
        |    count(*)::BIGINT AS n_docs,
        |    sum(quality) AS s1, sum(quality * quality) AS s2
        |  FROM feat GROUP BY source, ingest_day),
        |based AS (
        |  SELECT source, ingest_day, n_docs, s1, s2,
        |    sum(n_docs) OVER (PARTITION BY source) - n_docs AS rest_n,
        |    (sum(s1) OVER (PARTITION BY source) - s1) AS rest_s1,
        |    (sum(s2) OVER (PARTITION BY source) - s2) AS rest_s2
        |  FROM cells),
        |scored AS (
        |  SELECT source, ingest_day, n_docs,
        |    s1 / n_docs AS mq,
        |    rest_s1 / rest_n AS rest_mean,
        |    greatest(sqrt(greatest(
        |        rest_s2 / rest_n - (rest_s1 / rest_n) * (rest_s1 / rest_n),
        |        0.0)), 1e-9)
        |      * sqrt(1.0 / n_docs + 1.0 / rest_n) AS se
        |  FROM based)
        |SELECT source, ingest_day, n_docs,
        |  round(mq, 6) AS mean_q,
        |  round(rest_mean, 6) AS baseline,
        |  round(mq - rest_mean, 6) AS drift,
        |  round((mq - rest_mean) / se, 6) AS zscore,
        |  (mq - rest_mean) / se < -3.0 AS flagged
        |FROM scored
        |ORDER BY source, ingest_day""".stripMargin,

    // The three stages mirrored sequentially: d1's exact rule, d3's
    // signatures→bands→pairs (the CTE chain shared verbatim with the
    // Dedup oracles via candChainSql) clustered by d9's recursive
    // reachability (the FIXPOINT, matching Components.connected —
    // not d8's diameter≤2 collapse), t21's segment rule — each over
    // the previous stage's survivors.
    "p7_dedup_cascade" ->
      s"""WITH RECURSIVE srcw AS (
         |  SELECT doc_id, text,
         |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         |      ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
         |  FROM documents),
         |corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000, text || ' extra tail words'
         |  FROM documents WHERE doc_id % 20 = 0
         |  UNION ALL
         |  SELECT doc_id + 700000,
         |    array_to_string(w[1:20] ||
         |      list_transform(w[21:30], x -> x || '_u' || doc_id::VARCHAR), ' ')
         |  FROM srcw WHERE doc_id % 15 = 0),
         |keep1 AS (
         |  SELECT min(doc_id) AS doc_id FROM corpus
         |  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
         |drops1 AS (
         |  SELECT doc_id FROM corpus
         |  WHERE doc_id NOT IN (SELECT doc_id FROM keep1)),
         |surv1 AS (
         |  SELECT doc_id, text FROM corpus
         |  WHERE doc_id IN (SELECT doc_id FROM keep1)),
         |${Dedup.candChainSql("SELECT doc_id, text FROM surv1")},
         |nodes AS (
         |  SELECT DISTINCT node FROM (
         |    SELECT doc_a AS node FROM cand
         |    UNION ALL SELECT doc_b AS node FROM cand) t),
         |edges AS (
         |  SELECT doc_a AS node, doc_b AS nbr FROM cand
         |  UNION ALL SELECT doc_b AS node, doc_a AS nbr FROM cand),
         |reach(node, lbl) AS (
         |  SELECT node, node AS lbl FROM nodes
         |  UNION
         |  SELECT e.node, r.lbl
         |  FROM edges e JOIN reach r ON e.nbr = r.node),
         |comp AS (SELECT node, min(lbl) AS keep_id FROM reach GROUP BY node),
         |drops2 AS (SELECT node AS doc_id FROM comp WHERE keep_id <> node),
         |surv2 AS (
         |  SELECT doc_id, text FROM surv1
         |  WHERE doc_id NOT IN (SELECT doc_id FROM drops2)),
         |w2 AS (
         |  SELECT doc_id,
         |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         |      ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
         |  FROM surv2),
         |segs AS (
         |  SELECT doc_id,
         |    md5(array_to_string(w[i*10+1 : i*10+10], ' ')) AS h
         |  FROM w2,
         |    unnest(generate_series(0, CAST(ceil(len(w) / 10.0) AS INT) - 1)) AS t(i)
         |  WHERE len(w) > 0),
         |perseg AS (SELECT h, count(DISTINCT doc_id) AS nd FROM segs GROUP BY h),
         |drops3 AS (
         |  SELECT doc_id FROM (
         |    SELECT s.doc_id,
         |      sum(CASE WHEN p.nd >= 2 THEN 1.0 ELSE 0.0 END) / count(*) AS dup_ratio
         |    FROM segs s JOIN perseg p USING (h) GROUP BY s.doc_id) t
         |  WHERE dup_ratio > 0.5),
         |kept AS (
         |  SELECT doc_id FROM surv2
         |  WHERE doc_id NOT IN (SELECT doc_id FROM drops3)),
         |dispo AS (
         |  SELECT doc_id, 'exact_dup' AS disposition, CAST(1 AS BIGINT) AS stage
         |  FROM drops1
         |  UNION ALL SELECT doc_id, 'near_dup', CAST(2 AS BIGINT) FROM drops2
         |  UNION ALL SELECT doc_id, 'segment_dup', CAST(3 AS BIGINT) FROM drops3
         |  UNION ALL SELECT doc_id, 'kept', CAST(4 AS BIGINT) FROM kept),
         |tot AS (SELECT count(*) AS n_total FROM corpus)
         |SELECT dp.stage, dp.disposition, count(*)::BIGINT AS n_docs,
         |  CAST(sum(length(c.text)) AS BIGINT) AS total_chars,
         |  round(count(*)::DOUBLE / t.n_total, 6) AS doc_share
         |FROM dispo dp JOIN corpus c USING (doc_id) CROSS JOIN tot t
         |GROUP BY dp.stage, dp.disposition, t.n_total
         |ORDER BY dp.stage""".stripMargin,

    // Every leg re-derived from the shared formulas: p1's quality
    // expression, d1's normalized digest, t26's eval excerpt and
    // window digests, quantile_cont for the exact median.
    "p8_corpus_card" -> CorpusCardSql,

    "p9_release_gate" ->
      s"""WITH card AS ($CorpusCardSql),
        |vals AS (SELECT
        |  (SELECT value FROM card WHERE section='dedup' AND metric='dup_rate') AS dup_rate,
        |  (SELECT value FROM card WHERE section='decontam' AND metric='contam_doc_rate') AS contam_rate,
        |  (SELECT value FROM card WHERE section='quality' AND "key"='all' AND metric='mean') AS mean_quality,
        |  (SELECT value FROM card WHERE section='index' AND metric='recall') AS recall,
        |  (SELECT value FROM card WHERE section='corpus' AND metric='n_docs') AS n_docs,
        |  (SELECT min(value) FROM card WHERE section='lang' AND metric='n_docs') AS min_lang),
        |checks AS (
        |  SELECT 'contam_rate_max' AS check_name, contam_rate AS value,
        |    0.10 AS threshold, contam_rate <= 0.10 AS pass FROM vals
        |  UNION ALL SELECT 'dup_rate_max', dup_rate, 0.01, dup_rate <= 0.01 FROM vals
        |  UNION ALL SELECT 'index_recall_min', recall, 0.05, recall >= 0.05 FROM vals
        |  UNION ALL SELECT 'mean_quality_min', mean_quality, 0.5, mean_quality >= 0.5 FROM vals
        |  UNION ALL SELECT 'min_lang_share', round(min_lang / n_docs, 6), 0.01,
        |    round(min_lang / n_docs, 6) >= 0.01 FROM vals)
        |SELECT check_name, round(value, 6) AS value, threshold, pass,
        |  (SELECT CASE WHEN sum(CASE WHEN pass THEN 0 ELSE 1 END) = 0
        |     THEN true ELSE false END FROM checks) AS release
        |FROM checks
        |ORDER BY check_name""".stripMargin,

    "p10_snapshot_diff" ->
      s"""WITH nxt AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 17 = 3 THEN text || ' revision two'
         |      ELSE text END AS text
         |  FROM documents WHERE doc_id % 23 <> 5
         |  UNION ALL
         |  SELECT doc_id + 900000 AS doc_id, 'fresh crawl ' || text AS text
         |  FROM documents WHERE doc_id % 29 = 0),
         |a AS (
         |  SELECT doc_id,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h_old,
         |    length(text)::BIGINT AS chars_old
         |  FROM documents),
         |b AS (
         |  SELECT doc_id,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h_new,
         |    length(text)::BIGINT AS chars_new
         |  FROM nxt)
         |SELECT
         |  CASE WHEN h_old IS NULL THEN 'added'
         |    WHEN h_new IS NULL THEN 'removed'
         |    WHEN h_old = h_new THEN 'unchanged'
         |    ELSE 'changed' END AS status,
         |  count(*)::BIGINT AS n_docs,
         |  CAST(sum(coalesce(chars_new, 0) - coalesce(chars_old, 0)) AS BIGINT)
         |    AS delta_chars
         |FROM a FULL OUTER JOIN b USING (doc_id)
         |GROUP BY 1
         |ORDER BY 1""".stripMargin,

    // p11: every member is a LOSSLESS plant (PNG / G.711
    // decode-table samples / raw-DIB AVI / FLAC ramp / MS-RLE8
    // palette), so this oracle recomputes every gate input wire-free
    // from the closed forms and derives the exact disposition table.
    // Threshold comparisons are safe cross-engine because both sides
    // compute the same IEEE doubles in the same expression order
    // (integer-valued and dyadic sums are exact; sqrt of an identical
    // double is identical).
    "p11_media_curate" ->
      """WITH RECURSIVE img AS (
        |  SELECT doc_id,
        |    (list_sum(list_transform(range(0, 16), j -> ((doc_id * 3 + j * 53) % 256)::DOUBLE)) / 16.0
        |     + list_sum(list_transform(range(0, 16), j -> ((doc_id * 11 + j * 29) % 256)::DOUBLE)) / 16.0
        |     + list_sum(list_transform(range(0, 16), j -> ((doc_id * 7 + j * 13) % 256)::DOUBLE)) / 16.0) / 3.0
        |      AS brightness
        |  FROM documents WHERE doc_id % 7 = 0),
        |aud AS (
        |  SELECT doc_id, list_transform(range(0, 16), j ->
        |    (CASE WHEN (255 - ((doc_id * 5 + j * 31) % 256)) >= 128
        |       THEN -1 ELSE 1 END *
        |     ((((255 - ((doc_id * 5 + j * 31) % 256)) % 16) * 2 + 33)
        |       * CAST(pow(2, ((255 - ((doc_id * 5 + j * 31) % 256)) // 16) % 8)
        |           AS BIGINT) - 33) * 4)::DOUBLE) AS vs
        |  FROM documents WHERE doc_id % 7 = 1),
        |aud2 AS (
        |  SELECT doc_id, sqrt(list_sum(list_transform(vs, v -> v * v)) / 16.0) AS rms,
        |    list_max(list_transform(vs, v -> abs(v))) AS pk
        |  FROM aud),
        |vid AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 4), f -> list_sum(list_transform(range(0, 16),
        |      j -> ((doc_id * 3 + f * 17 + j * 53) % 256)::DOUBLE)) / 16.0) AS fr,
        |    list_transform(range(0, 4), f -> list_sum(list_transform(range(0, 16),
        |      j -> ((doc_id * 11 + f * 19 + j * 29) % 256)::DOUBLE)) / 16.0) AS fg,
        |    list_transform(range(0, 4), f -> list_sum(list_transform(range(0, 16),
        |      j -> ((doc_id * 7 + f * 23 + j * 13) % 256)::DOUBLE)) / 16.0) AS fb
        |  FROM documents WHERE doc_id % 7 = 2),
        |vid2 AS (
        |  SELECT doc_id, list_max(list_transform(range(1, 4),
        |    f -> greatest(abs(fr[f + 1] - fr[f]), abs(fg[f + 1] - fg[f]),
        |                  abs(fb[f + 1] - fb[f])))) AS motion
        |  FROM vid),
        |flc AS (
        |  SELECT doc_id, list_transform(range(0, 64), j ->
        |      ((doc_id % 211) * 97 - 10000 + ((doc_id % 31) - 15) * j
        |        + (doc_id * 31 + j * j * 7 + j * 13) % 9 - 4)::DOUBLE) AS vs
        |  FROM documents WHERE doc_id % 7 = 4),
        |flc2 AS (
        |  SELECT doc_id, sqrt(list_sum(list_transform(vs, v -> v * v)) / 64.0) AS rms,
        |    list_max(list_transform(vs, v -> abs(v))) AS pk
        |  FROM flc),
        |rle AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 4), f ->
        |      (list_sum(list_transform(range(0, 8), x ->
        |         ((((doc_id * 5 + x * 19) % 256) * 53 + 7) % 256)::DOUBLE))
        |       + list_sum(list_transform(range(0, 8), x -> CASE WHEN f = 0
        |           THEN ((((doc_id * 5 + x * 19 + 77) % 256) * 53 + 7) % 256)::DOUBLE
        |           ELSE ((((doc_id * 13 + f * 37 + x * 23) % 256) * 53 + 7) % 256)::DOUBLE
        |         END))) / 16.0) AS fr,
        |    list_transform(range(0, 4), f ->
        |      (list_sum(list_transform(range(0, 8), x ->
        |         ((((doc_id * 5 + x * 19) % 256) * 29 + 3) % 256)::DOUBLE))
        |       + list_sum(list_transform(range(0, 8), x -> CASE WHEN f = 0
        |           THEN ((((doc_id * 5 + x * 19 + 77) % 256) * 29 + 3) % 256)::DOUBLE
        |           ELSE ((((doc_id * 13 + f * 37 + x * 23) % 256) * 29 + 3) % 256)::DOUBLE
        |         END))) / 16.0) AS fg,
        |    list_transform(range(0, 4), f ->
        |      (list_sum(list_transform(range(0, 8), x ->
        |         ((((doc_id * 5 + x * 19) % 256) * 11 + 5) % 256)::DOUBLE))
        |       + list_sum(list_transform(range(0, 8), x -> CASE WHEN f = 0
        |           THEN ((((doc_id * 5 + x * 19 + 77) % 256) * 11 + 5) % 256)::DOUBLE
        |           ELSE ((((doc_id * 13 + f * 37 + x * 23) % 256) * 11 + 5) % 256)::DOUBLE
        |         END))) / 16.0) AS fb
        |  FROM documents WHERE doc_id % 7 = 5),
        |rle2 AS (
        |  SELECT doc_id, list_max(list_transform(range(1, 4),
        |    f -> greatest(abs(fr[f + 1] - fr[f]), abs(fg[f + 1] - fg[f]),
        |                  abs(fb[f + 1] - fb[f])))) AS motion
        |  FROM rle),
        |adp(doc_id, j, pred, idx) AS (
        |  SELECT doc_id, 0,
        |    CAST(((doc_id * 73) % 4096 - 2048) * 8 AS INTEGER),
        |    CAST(doc_id % 40 AS INTEGER)
        |  FROM documents WHERE doc_id % 7 = 6
        |  UNION ALL
        |  SELECT doc_id, j + 1,
        |    greatest(-32768, least(32767,
        |      CASE WHEN nib >= 8 THEN pred - diff ELSE pred + diff END)),
        |    greatest(0, least(88, idx + list_extract([-1,-1,-1,-1,2,4,6,8], (nib % 8) + 1)))
        |  FROM (
        |    SELECT doc_id, j, pred, idx, nib,
        |      step // 8
        |        + CASE WHEN nib % 2 = 1 THEN step // 4 ELSE 0 END
        |        + CASE WHEN (nib // 2) % 2 = 1 THEN step // 2 ELSE 0 END
        |        + CASE WHEN (nib // 4) % 2 = 1 THEN step ELSE 0 END AS diff
        |    FROM (
        |      SELECT doc_id, j, pred, idx,
        |        CAST((doc_id * 7 + j * 3) % 16 AS INTEGER) AS nib,
        |        list_extract([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,
        |          34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,
        |          173,190,209,230,253,279,307,337,371,408,449,494,544,598,
        |          658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,
        |          2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,
        |          5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,
        |          15289,16818,18500,20350,22385,24623,27086,29794,32767],
        |          idx + 1) AS step
        |      FROM adp WHERE j < 24) s0) s1),
        |adp2 AS (
        |  SELECT doc_id, sqrt(sum((pred::DOUBLE) * (pred::DOUBLE)) / 25.0) AS rms,
        |    max(abs(pred::DOUBLE)) AS pk
        |  FROM adp GROUP BY doc_id),
        |rows_ AS (
        |  SELECT doc_id, 'image' AS modality, 'png' AS container,
        |    CASE WHEN brightness < 120.0 THEN 'dark' ELSE 'keep' END AS disposition
        |  FROM img
        |  UNION ALL
        |  SELECT doc_id, 'audio', 'ulaw',
        |    CASE WHEN rms < 8000.0 THEN 'silent'
        |      WHEN pk >= 31000.0 THEN 'clipped' ELSE 'keep' END
        |  FROM aud2
        |  UNION ALL
        |  SELECT doc_id, 'video', 'rawvideo',
        |    CASE WHEN motion < 18.0 THEN 'static' ELSE 'keep' END
        |  FROM vid2
        |  UNION ALL
        |  SELECT doc_id, 'audio', 'flac',
        |    CASE WHEN rms < 8000.0 THEN 'silent'
        |      WHEN pk >= 31000.0 THEN 'clipped' ELSE 'keep' END
        |  FROM flc2
        |  UNION ALL
        |  SELECT doc_id, 'video', 'msrle',
        |    CASE WHEN motion < 18.0 THEN 'static' ELSE 'keep' END
        |  FROM rle2
        |  UNION ALL
        |  SELECT doc_id, 'audio', 'adpcm',
        |    CASE WHEN rms < 8000.0 THEN 'silent'
        |      WHEN pk >= 31000.0 THEN 'clipped' ELSE 'keep' END
        |  FROM adp2
        |  UNION ALL
        |  SELECT doc_id, 'unknown', 'unknown', 'decode_fail'
        |  FROM documents WHERE doc_id % 7 = 3)
        |SELECT doc_id, modality, container, disposition
        |FROM rows_
        |ORDER BY doc_id""".stripMargin,

    // p12: the same centroid derivation and argmax-assignment the
    // a20/a22 oracles use, run twice — once over the changed vectors'
    // old embeddings, once over their deterministic re-embedding
    // (emb[i] + 0.25·emb[(i+1) mod d], identical IEEE arithmetic in
    // both engines) — then the per-cell tombstone/insert/stay flows.
    // All output columns are integers or booleans: no rounding
    // surface anywhere.
    "p12_reindex_delta" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |b AS (SELECT vec_id, emb FROM v WHERE vec_id % 7 <> 3),
        |cs AS (SELECT vec_id AS cell, emb AS c_emb
        |  FROM (SELECT * FROM b ORDER BY md5('cent|' || vec_id::VARCHAR), vec_id LIMIT 10) t),
        |ch AS (SELECT vec_id, emb FROM v WHERE vec_id % 17 = 3),
        |chn AS (SELECT vec_id, list_transform(range(1, len(emb) + 1),
        |    i -> emb[i] + 0.25 * emb[(i % len(emb)) + 1]) AS emb
        |  FROM ch),
        |olda AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT ch.vec_id, c.cell,
        |      row_number() OVER (PARTITION BY ch.vec_id ORDER BY
        |        list_dot_product(ch.emb, c.c_emb) /
        |          (sqrt(list_dot_product(ch.emb, ch.emb)) *
        |           sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
        |        c.cell) AS crank
        |    FROM ch, cs c) t WHERE crank = 1),
        |newa AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT chn.vec_id, c.cell,
        |      row_number() OVER (PARTITION BY chn.vec_id ORDER BY
        |        list_dot_product(chn.emb, c.c_emb) /
        |          (sqrt(list_dot_product(chn.emb, chn.emb)) *
        |           sqrt(list_dot_product(c.c_emb, c.c_emb))) DESC,
        |        c.cell) AS crank
        |    FROM chn, cs c) t WHERE crank = 1),
        |mv AS (
        |  SELECT o.vec_id, o.cell AS old_cell, n.cell AS new_cell
        |  FROM olda o JOIN newa n USING (vec_id)),
        |outf AS (SELECT old_cell AS cell, count(*) AS n_out
        |  FROM mv WHERE old_cell <> new_cell GROUP BY 1),
        |inf AS (SELECT new_cell AS cell, count(*) AS n_in
        |  FROM mv WHERE old_cell <> new_cell GROUP BY 1),
        |stay AS (SELECT old_cell AS cell, count(*) AS n_stay
        |  FROM mv WHERE old_cell = new_cell GROUP BY 1)
        |SELECT cs.cell,
        |  coalesce(n_stay, 0)::BIGINT AS n_stay,
        |  coalesce(n_out, 0)::BIGINT AS n_out,
        |  coalesce(n_in, 0)::BIGINT AS n_in,
        |  (coalesce(n_in, 0) - coalesce(n_out, 0))::BIGINT AS net_moved,
        |  (coalesce(n_out, 0) + coalesce(n_in, 0) + coalesce(n_stay, 0)) > 0 AS touched
        |FROM cs
        |LEFT JOIN outf USING (cell)
        |LEFT JOIN inf USING (cell)
        |LEFT JOIN stay USING (cell)
        |ORDER BY cell""".stripMargin,

    // p13: every wire transform in the chain is lossless and the
    // page is plant-built, so the oracle rebuilds the EXTRACTED text
    // closed-form (never touching gzip or HTML) and re-runs the same
    // gate arithmetic — t1's stopword scorer with its tie priority,
    // the word floor, t2's punctuation ratio, and the min-doc-wins
    // dedup window. Integer counts and exact string compares: the
    // only doubles are the two ratios, compared against constants
    // with engineered margins on both sides.
    // p13: the whole wire rebuilt closed-form — class paragraph, host
    // banner, URI spelling variant — then the SAME arithmetic re-run:
    // d7's canonicalization chain, t29's per-host template mining
    // (df share >= 0.3 over wire-ok docs), t32's strip (non-template
    // segments re-joined in position order), t1/t2 gates on the
    // stripped text, and BOTH dedup windows (canonical URL first,
    // stripped-content digest second), min doc wins.
    "p13_crawl_curate" ->
      """WITH cls AS (SELECT doc_id, doc_id % 11 AS r FROM documents),
        |pk AS (
        |  SELECT doc_id, r,
        |    CASE WHEN r = 2 THEN doc_id - 2 ELSE doc_id END AS pagekey
        |  FROM cls),
        |para AS (
        |  SELECT doc_id, r, pagekey,
        |    CASE
        |      WHEN r = 3 THEN array_to_string(list_transform(range(0, 24),
        |        j -> list_extract(['der','die','das','und','nicht'],
        |               CAST(j % 5 AS INTEGER) + 1)), ' ')
        |      WHEN r = 5 THEN 'tiny page'
        |      WHEN r = 9 THEN array_to_string(list_transform(range(0, 24),
        |        j -> 'x' || ((doc_id * 3 + j) % 10)::VARCHAR || '!!!'), ' ')
        |      WHEN r = 1 THEN 'u' || ((doc_id - 1) // 22 * 22 + 1)::VARCHAR || ' ' ||
        |        array_to_string(list_transform(range(1, 24),
        |          j -> 'c' || lpad(((((doc_id - 1) // 22 * 22 + 1) * 3 + j * 7) % 40)::VARCHAR, 2, '0')), ' ')
        |      WHEN r = 4 THEN 'u' || doc_id::VARCHAR || ' ' ||
        |        array_to_string(list_transform(range(1, 15),
        |          j -> 'c' || lpad(((doc_id * 3 + j * 7) % 40)::VARCHAR, 2, '0')), ' ')
        |      WHEN r = 8 THEN 'u' || doc_id::VARCHAR || ' ' ||
        |        array_to_string(list_transform(range(1, 15),
        |          j -> 'c' || lpad(((doc_id * 3 + j * 7) % 40)::VARCHAR, 2, '0')), ' ') ||
        |        ' Page u13 ' ||
        |        array_to_string(list_transform(range(1, 10),
        |          j -> 'c' || lpad(((13 * 3 + j * 7) % 40)::VARCHAR, 2, '0')), ' ') ||
        |        ' ' ||
        |        array_to_string(list_transform(range(15, 41),
        |          j -> 'c' || lpad(((doc_id * 3 + j * 7) % 40)::VARCHAR, 2, '0')), ' ')
        |      ELSE 'u' || doc_id::VARCHAR || ' ' ||
        |        array_to_string(list_transform(range(1, 24),
        |          j -> 'c' || lpad(((doc_id * 3 + j * 7) % 40)::VARCHAR, 2, '0')), ' ')
        |    END AS para
        |  FROM pk),
        |t AS (
        |  SELECT doc_id, r, pagekey, (r != 7) AS ok,
        |    CASE WHEN r = 7 THEN ''
        |         ELSE 'all pages on site' || (pagekey % 5)::VARCHAR ||
        |           ' are served with cookies and tracking' || chr(10) ||
        |           'Page' || chr(10) || para END AS ftext,
        |    CASE WHEN r = 7 THEN ''
        |      ELSE CASE
        |        WHEN r = 2 THEN 'HTTP://WWW.' || upper('site' ||
        |          (pagekey % 5)::VARCHAR || '.example.com/page/' ||
        |          pagekey::VARCHAR) || '/?b=2&a=1'
        |        WHEN doc_id % 4 = 0 THEN 'https://www.site' ||
        |          (pagekey % 5)::VARCHAR || '.example.com/page/' || pagekey::VARCHAR
        |        WHEN doc_id % 4 = 1 THEN 'http://site' ||
        |          (pagekey % 5)::VARCHAR || '.example.com/page/' ||
        |          pagekey::VARCHAR || '/'
        |        WHEN doc_id % 4 = 2 THEN 'HTTPS://' || upper('site' ||
        |          (pagekey % 5)::VARCHAR || '.example.com/page/' ||
        |          pagekey::VARCHAR) || '?utm_source=feed'
        |        ELSE 'https://site' || (pagekey % 5)::VARCHAR ||
        |          '.example.com/page/' || pagekey::VARCHAR || '#frag'
        |      END END AS uri
        |  FROM para),
        |u AS (
        |  SELECT *,
        |    regexp_replace(regexp_replace(regexp_replace(lower(uri),
        |      '^https?://(www\.)?', ''), '[?#].*$', ''), '/$', '') AS unorm
        |  FROM t),
        |uh AS (
        |  SELECT *, regexp_extract(unorm, '^([^/]+)', 1) AS host FROM u),
        |words AS (
        |  SELECT doc_id, host, ok,
        |    CASE WHEN trim(ftext) = '' THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(ftext), '\s+') END AS w
        |  FROM uh),
        |segs AS (
        |  SELECT doc_id, host, i,
        |    array_to_string(w[i*10+1 : i*10+10], ' ') AS seg,
        |    md5(array_to_string(w[i*10+1 : i*10+10], ' ')) AS sh
        |  FROM words,
        |    unnest(generate_series(0, CAST(ceil(len(w) / 10.0) AS INT) - 1)) AS s(i)
        |  WHERE len(w) > 0 AND ok),
        |hostdocs AS (
        |  SELECT host, count(DISTINCT doc_id) AS n_src_docs
        |  FROM uh WHERE ok GROUP BY 1),
        |tpl AS (
        |  SELECT host, sh FROM (
        |    SELECT host, sh, count(DISTINCT doc_id) AS df
        |    FROM segs GROUP BY 1, 2) d
        |  JOIN hostdocs USING (host)
        |  WHERE df::DOUBLE / n_src_docs >= 0.3),
        |stripped AS (
        |  SELECT s.doc_id,
        |    string_agg(CASE WHEN t.sh IS NULL THEN s.seg END, ' ' ORDER BY s.i)
        |      AS kept
        |  FROM segs s LEFT JOIN tpl t ON s.host = t.host AND s.sh = t.sh
        |  GROUP BY s.doc_id),
        |feat AS (
        |  SELECT u.doc_id, u.r, u.ok, u.unorm,
        |    COALESCE(st.kept, '') AS ktext,
        |    md5(COALESCE(st.kept, '')) AS h,
        |    CASE WHEN trim(COALESCE(st.kept, '')) = '' THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(COALESCE(st.kept, '')), '\s+') END AS w
        |  FROM uh u LEFT JOIN stripped st USING (doc_id)),
        |evw AS (
        |  SELECT DISTINCT array_to_string(w[i : i+9], ' ') AS win
        |  FROM feat, unnest(generate_series(1, 2)) AS g(i)
        |  WHERE ok AND doc_id % 13 = 0 AND len(w) >= 10
        |    AND i + 9 <= least(len(w), 11)),
        |chit AS (
        |  SELECT f.doc_id, len(f.w)::BIGINT AS dnw, g.i AS i
        |  FROM feat f, unnest(generate_series(1, len(f.w) - 9)) AS g(i)
        |  WHERE len(f.w) >= 10
        |    AND array_to_string(f.w[g.i : g.i+9], ' ') IN (SELECT win FROM evw)),
        |cnew AS (
        |  SELECT doc_id, dnw, i,
        |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > 10
        |         THEN 1 ELSE 0 END AS news
        |  FROM chit),
        |cgrp AS (
        |  SELECT doc_id, dnw, i,
        |    sum(news) OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |  FROM cnew),
        |cspan AS (
        |  SELECT doc_id, dnw, grp, min(i) AS s, max(i) + 9 AS e
        |  FROM cgrp GROUP BY 1, 2, 3),
        |contam AS (
        |  SELECT doc_id,
        |    -- round exactly as the Spark side (contamSpans rounds
        |    -- contam_frac to 6 dp BEFORE the > 0.3 test; an unrounded
        |    -- compare here would diverge for fractions in
        |    -- (0.3, 0.3000005] — r15 advisor)
        |    CASE WHEN round(sum(e - s + 1)::DOUBLE / dnw, 6) > 0.3
        |         THEN 'drop_doc' ELSE 'redact_spans' END AS contam_action
        |  FROM cspan GROUP BY doc_id, dnw),
        |sc AS (
        |  SELECT doc_id, r, ok, unorm, h, len(w)::BIGINT AS n_words,
        |    CASE WHEN len(w) = 0 THEN 0.0 ELSE len(list_filter(w,
        |      x -> list_contains(['the','a','of','and','to'], x)))::DOUBLE / len(w) END AS s_en,
        |    CASE WHEN len(w) = 0 THEN 0.0 ELSE len(list_filter(w,
        |      x -> list_contains(['der','die','das','und','nicht'], x)))::DOUBLE / len(w) END AS s_de,
        |    CASE WHEN len(w) = 0 THEN 0.0 ELSE len(list_filter(w,
        |      x -> list_contains(['el','los','las','y','una'], x)))::DOUBLE / len(w) END AS s_es,
        |    CASE WHEN len(w) = 0 THEN 0.0 ELSE len(list_filter(w,
        |      x -> list_contains(['le','la','et','les','des'], x)))::DOUBLE / len(w) END AS s_fr,
        |    CASE WHEN length(ktext) = 0 THEN 0.0 ELSE
        |      (length(ktext) - length(regexp_replace(ktext, '[.,!?;:]', '', 'g')))::DOUBLE
        |        / length(ktext) END AS punct_ratio
        |  FROM feat),
        |pr AS (
        |  SELECT sc.*, contam_action,
        |    CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
        |         WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
        |         WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred_lang,
        |    min(CASE WHEN contam_action = 'drop_doc' THEN NULL
        |             ELSE doc_id END) OVER (PARTITION BY unorm) AS first_uid,
        |    min(CASE WHEN contam_action = 'drop_doc' THEN NULL
        |             ELSE doc_id END) OVER (PARTITION BY h) AS first_id
        |  FROM sc LEFT JOIN contam USING (doc_id))
        |SELECT doc_id,
        |  CASE WHEN NOT ok THEN 'decode_fail'
        |       WHEN pred_lang != 'en' THEN 'non_target_lang'
        |       WHEN n_words < 20 THEN 'too_short'
        |       WHEN punct_ratio > 0.2 THEN 'low_quality'
        |       WHEN contam_action = 'drop_doc' THEN 'decontam_drop'
        |       WHEN doc_id != first_uid THEN 'url_duplicate'
        |       WHEN doc_id != first_id THEN 'duplicate'
        |       WHEN contam_action = 'redact_spans' THEN 'decontam_redact'
        |       ELSE 'keep' END AS disposition,
        |  n_words, pred_lang
        |FROM pr
        |ORDER BY doc_id""".stripMargin
  )
}
