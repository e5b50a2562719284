package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Portable

/** Text analysis family (SURVEY.md §2.E): language ID, quality
  * scoring, token counting, fingerprinting, n-gram stats. All pure
  * column expressions (map-side except the final aggregations), so
  * they run as a single scan over a 100 TB documents table.
  */
object TextOps extends QueryPack {

  /** Tiny per-language function-word lists for the n-gram heuristic. */
  private val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "es" -> Seq("el", "los", "las", "y", "una"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  /** Fraction of tokens that are in `set` (0.0 for empty docs). */
  private def hitRatio(words: Column, set: Seq[String]): Column = {
    val hits = size(filter(words, w => array_contains(array(set.map(lit): _*), w)))
    when(size(words) === 0, 0.0).otherwise(hits.cast("double") / size(words))
  }

  private def hitRatioSql(set: Seq[String]): String = {
    val lits = set.map(s => s"'$s'").mkString(", ")
    s"CASE WHEN len(w) = 0 THEN 0.0 ELSE len(list_filter(w, x -> list_contains([$lits], x)))::DOUBLE / len(w) END"
  }

  private val WordsSql =
    """SELECT doc_id, lang, text,
      |  CASE WHEN trim(text) = '' THEN []::VARCHAR[]
      |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w
      |FROM documents""".stripMargin

  /** BPE-ish tokenizer: letter runs, digit runs, single punctuation.
    * Spark SQL string literals process backslash escapes, DuckDB's
    * don't — hence two spellings of the same regex. */
  private val TokenReSpark = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]"
  private val TokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Stopword-ratio scores + argmax prediction (deterministic
    * priority order on ties: en > de > es > fr) — shared by t1
    * (per-doc report) and t11 (confusion matrix). */
  private[graft] def withLangScores(df: DataFrame): DataFrame = {
    val base = df.withColumn("w", Portable.words(col("text")))
    val scored = Stopwords.foldLeft(base) { case (acc, (l, set)) =>
      acc.withColumn(s"s_$l", hitRatio(col("w"), set))
    }
    scored.withColumn("pred_lang",
      when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
        .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
        .when(col("s_es") >= col("s_fr"), "es")
        .otherwise("fr"))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Language ID: argmax of stopword hit ratios, deterministic
    // priority order on ties (en > de > es > fr).
    "t1_lang_id" -> { (s, d) =>
      withLangScores(Tables.documents(s, d))
        .select(col("doc_id"), col("lang").as("tagged_lang"),
          col("pred_lang"), col("s_en"))
        .orderBy(col("doc_id"))
    },

    // Classifier QA for the language-ID heuristic: the tagged×predicted
    // confusion matrix plus per-cell share of the tagged class — the
    // report that says WHERE the classifier errs (which pairs confuse),
    // not just how often. One scan, map-side scoring, a tiny
    // two-key aggregate; at 100 TB this runs on the same pass that
    // tags the corpus.
    "t11_lang_confusion" -> { (s, d) =>
      val w = Window.partitionBy(col("tagged_lang"))
      withLangScores(Tables.documents(s, d))
        .select(col("lang").as("tagged_lang"), col("pred_lang"))
        .groupBy(col("tagged_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("share_of_tagged",
          col("n_docs").cast("double") / sum(col("n_docs")).over(w))
        .orderBy(col("tagged_lang"), col("pred_lang"))
    },

    // Quality score: length, stopword and punctuation features.
    "t2_quality_score" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("w", Portable.words(col("text")))
        .withColumn("n_words", size(col("w")).cast("long"))
        .withColumn("stop_ratio", hitRatio(col("w"), Stopwords.head._2))
        .withColumn("punct_ratio",
          (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
            .cast("double") / length(col("text")))
        .withColumn("avg_word_len",
          when(col("n_words") === 0, 0.0).otherwise(
            aggregate(transform(col("w"), w => length(w).cast("long")), lit(0L), _ + _)
              .cast("double") / col("n_words")))
        .withColumn("quality",
          col("stop_ratio") * 0.4 + least(col("n_words").cast("double") / 100.0, lit(1.0)) * 0.4 +
            (lit(1.0) - col("punct_ratio")) * 0.2)
        .select(col("doc_id"), col("n_words"), col("stop_ratio"),
          col("punct_ratio"), col("avg_word_len"), col("quality"))
        .orderBy(col("doc_id"))
    },

    // Token counting: whitespace vs BPE-ish regex tokenization.
    "t3_token_count" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(Portable.words(col("text"))).cast("long").as("n_ws_tokens"),
          size(expr(s"regexp_extract_all(text, '$TokenReSpark', 0)")).cast("long").as("n_re_tokens"))
        .orderBy(col("doc_id"))
    },

    // Tokenizer-fertility audit per language — the mix-planning input
    // t17's weights consume: training budgets are set in TOKENS, but
    // corpora are weighed in documents/words/bytes, and the exchange
    // rate (fertility = subword tokens per whitespace word,
    // chars_per_token) differs by language — a fixed-document mix
    // silently over-trains low-fertility languages. token_share is
    // each language's fraction of the total token budget this corpus
    // would actually consume. t3's per-doc counts rolled up: one
    // map-side tokenize pass, a langs-sized aggregate, token totals
    // vs a broadcast 1-row corpus total.
    "t23_token_fertility" -> { (s, d) =>
      val perDoc = Tables.documents(s, d)
        .select(col("lang"),
          size(Portable.words(col("text"))).cast("long").as("nw"),
          size(expr(s"regexp_extract_all(text, '$TokenReSpark', 0)")).cast("long").as("nt"),
          length(col("text")).cast("long").as("nc"))
      val perLang = perDoc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
          sum(col("nt")).as("n_tokens"), sum(col("nc")).as("n_chars"))
      perLang
        .crossJoin(broadcast(perLang.agg(sum(col("n_tokens")).as("tot_tokens"))))
        .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
          col("n_chars"),
          round(col("n_tokens").cast("double") / col("n_words"), 6).as("fertility"),
          round(col("n_chars").cast("double") / col("n_tokens"), 6).as("chars_per_token"),
          round(col("n_tokens").cast("double") / col("tot_tokens"), 6).as("token_share"))
        .orderBy(col("lang"))
    },

    // Document fingerprint: md5 of normalized text + 60-bit prefix.
    "t4_fingerprint" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          Portable.md5hex(Portable.normText(col("text"))).as("fp_hex"),
          Portable.hash60(Portable.normText(col("text"))).as("fp60"))
        .orderBy(col("doc_id"))
    },

    // Corpus-level top-20 word bigrams. The bigram multiset comes
    // from the one-pass native kernel and explodes map-side — the
    // only shuffle is the partially-combined bigram count (the old
    // posexplode + window `lead` pipeline shuffled every token row
    // first).
    "t5_ngram_topk" -> { (s, d) =>
      Tables.documents(s, d)
        .select(explode(graft.functions.TextHash.allShingles(col("text"), 2)).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)
    },

    // PII redaction: count + scrub emails/phone numbers. The corpus
    // has none, so deterministic PII is synthesized into a subset of
    // docs (same observable-contract idea as the dedup family) and
    // the redactor must find exactly that. Pure map-side regex work —
    // one scan at 100 TB; the redacted text is verified by md5, not
    // shipped to the driver.
    "t6_pii_redact" -> { (s, d) =>
      val withPii = Tables.documents(s, d)
        .withColumn("text", concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" call +1-555-"),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
            .otherwise(lit(""))))
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+1-555-[0-9]{4}"
      withPii.select(col("doc_id"),
          regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"),
          regexp_count(col("text"), lit(phoneRe)).cast("long").as("n_phones"),
          Portable.md5hex(
            regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).as("redacted_md5"))
        .orderBy(col("doc_id"))
    },

    // Repetitiveness quality signal (the duplicate-content heuristics
    // used for LLM training-data filtering): distinct-word ratio per
    // doc. Both sizes come from native kernels / codegen'd builtins,
    // so this is a zero-shuffle single scan.
    "t7_dup_words" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("n_words", size(Portable.words(col("text"))).cast("long"))
        .withColumn("n_distinct",
          size(graft.functions.TextHash.distinctShingles(col("text"), 1)).cast("long"))
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          when(col("n_words") === 0, 0.0)
            .otherwise(lit(1.0) - col("n_distinct").cast("double") / col("n_words"))
            .as("dup_ratio"))
        .orderBy(col("doc_id"))
    },

    // Sequence packing (GPT-style concat-and-chunk): a new training
    // sequence (bin) starts every `PackBudget` tokens; a doc belongs
    // to the bin its first token lands in. Bins are arbitrary
    // groupings — nothing requires ONE global stream — so docs are
    // routed to `PackParts` deterministic hash-bucket streams that
    // pack independently in doc_id order. The window is PARTITIONED
    // by bucket: one shuffle on part_id, then every bucket's running
    // sum proceeds in parallel — no single-partition sort anywhere,
    // the shape that survives 100 TB (a global-order window would
    // serialize the corpus through one task). bin_id is bucket-
    // prefixed: part_id * 2^40 + local bin — 2^40 local bins ×
    // PackBudget tokens ≈ 5.6e14 tokens per bucket before a prefix
    // collision (a 2^20 prefix would collide at ~5e8 tokens/bucket,
    // i.e. below the target scale), while part_id * 2^40 stays within
    // Long for bucket counts up to 2^23. The zero-shuffle
    // mapPartitions twin over physical partitions is
    // packSequencesPerPartition (PipelineSpec proves its invariants).
    "t8_sequence_pack" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("part_id")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select(col("doc_id"), size(Portable.words(col("text"))).cast("long").as("tokens"))
        .withColumn("part_id",
          pmod(Portable.hash60(concat(col("doc_id").cast("string"), lit("|p"))),
            lit(PackParts)))
        .withColumn("cum_before", coalesce(sum(col("tokens")).over(w), lit(0L)))
        .withColumn("bin_id",
          col("part_id") * lit(1099511627776L) + expr(s"cum_before div $PackBudget"))
        .groupBy(col("bin_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("bin_id"))
    },

    // Language-stratified sampling: per-language keep rates applied
    // via a deterministic hash bucket (reproducible across runs and
    // engines — no RNG), the mixture-rebalancing step of a training-
    // data pipeline. Map-side filter + one small agg at any scale;
    // the sampled-id checksum proves WHICH docs were kept, not just
    // how many.
    "t9_stratified_sample" -> { (s, d) =>
      val rate = SampleRates.tail.foldLeft(
        when(col("lang") === SampleRates.head._1, SampleRates.head._2)) {
        case (acc, (l, r)) => acc.when(col("lang") === l, r)
      }.otherwise(0L)
      Tables.documents(s, d)
        .withColumn("bucket",
          pmod(Portable.hash60(concat(col("doc_id").cast("string"), lit("|s"))), lit(100L)))
        .withColumn("keep", col("bucket") < rate)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
          sum(when(col("keep"), col("doc_id"))).as("sampled_id_sum"))
        .orderBy(col("lang"))
    },

    // Repetition filter (the Gopher-rules quality signal): fraction
    // of duplicated word 2-grams / 3-grams per document. The corpus
    // has low natural repetition (dup2 ≤ 0.14), so doubled-text
    // variants are unioned in (doc_id % 25, new ids ≥ 100000) — the
    // keep flag must pass the originals and reject exactly the
    // engineered repeats. One map-side pass, zero shuffle before the
    // final sort: the n-gram arrays live only inside the row.
    "t10_dup_ngrams" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = docs.unionAll(
        docs.filter(col("doc_id") % 25 === 0)
          .withColumn("doc_id", col("doc_id") + 100000L)
          .withColumn("text", concat(col("text"), lit(" "), col("text"))))
      def dupFrac(g: Column): Column =
        when(size(g) === 0, 0.0)
          .otherwise(lit(1.0) - size(array_distinct(g)).cast("double") / size(g))
      val withGrams = corpus
        .withColumn("w", Portable.words(col("text")))
        .withColumn("g2", when(size(col("w")) >= 2,
          expr("transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))"))
          .otherwise(expr("cast(array() as array<string>)")))
        .withColumn("g3", when(size(col("w")) >= 3,
          expr("transform(sequence(0, size(w) - 3), i -> concat(w[i], ' ', w[i + 1], ' ', w[i + 2]))"))
          .otherwise(expr("cast(array() as array<string>)")))
      withGrams.select(col("doc_id"),
          size(col("g2")).cast("long").as("n_2grams"),
          dupFrac(col("g2")).as("dup2_frac"),
          dupFrac(col("g3")).as("dup3_frac"))
        .withColumn("keep", col("dup2_frac") <= 0.2 && col("dup3_frac") <= 0.15)
        .orderBy(col("doc_id"))
    },

    // Benchmark decontamination — the eval-set leak check every LLM
    // training pipeline runs before a corpus ships: a training doc is
    // contaminated if it shares a word-`EvalGramN`-gram with any eval
    // passage. The eval set is synthesized deterministically (12-word
    // passages from docs with doc_id % 40 == 1 — simulating benchmark
    // items that leaked from the crawl), and engineered LEAKED docs
    // (ids ≥ 200000: an eval passage embedded in fresh padding) are
    // unioned into the corpus — the check must flag every source doc
    // AND every engineered leak, with gram counts proving the whole
    // passage matched. Scale shape:
    // eval benchmarks are tiny next to the corpus, so the eval gram
    // table is a BROADCAST; corpus grams stream map-side out of the
    // native one-pass shingle kernel; the only shuffle carries the
    // (doc_id, digest) hits — 16-byte digests, never text.
    "t12_decontaminate" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val passage = concat_ws(" ", slice(Portable.words(col("text")), 3, 12))
      val evalGrams = docs.filter(col("doc_id") % 40 === 1)
        .select(col("doc_id").as("eval_id"),
          slice(Portable.words(col("text")), 3, 12).as("pw"))
        .select(col("eval_id"), explode(
          when(size(col("pw")) >= EvalGramN,
            transform(sequence(lit(0), size(col("pw")) - EvalGramN),
              i => concat_ws(" ", slice(col("pw"), i + lit(1), lit(EvalGramN)))))
            .otherwise(array().cast("array<string>"))).as("g"))
        .select(col("eval_id"), Portable.md5bin(col("g")).as("gh"))
        .distinct()
      val corpus = docs.select(col("doc_id"), col("text")).unionAll(
        docs.filter(col("doc_id") % 40 === 1)
          .select((col("doc_id") + 200000L).as("doc_id"),
            concat(lit("pad0 pad1 "), passage, lit(" pad2 pad3")).as("text")))
      val corpusGrams = corpus
        .select(col("doc_id"),
          explode(graft.functions.TextHash.allShingles(col("text"), EvalGramN)).as("g"))
        .select(col("doc_id"), Portable.md5bin(col("g")).as("gh"))
      corpusGrams.join(broadcast(evalGrams), "gh")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("gh")).as("n_hit_grams"),
          countDistinct(col("eval_id")).as("n_eval_docs"))
        .orderBy(col("doc_id"))
    },

    // Inverted index build: term → document-frequency, total term
    // frequency, and an impact-ordered posting list (top-`PostingLen`
    // docs by tf, doc_id tiebreak) — the retrieval-index shape. The
    // (term, doc_id) tf aggregation partial-combines map-side; then
    // ONE exchange on term feeds both the full-partition df/total_tf
    // window and the rank that caps the posting list BEFORE any
    // collect — a `sort_array(collect_list(...))[1:k]` formulation
    // would buffer every posting of a hot term in one agg buffer
    // (OOM at 100 TB); here the sort-based window spills and the
    // collect buffer never exceeds the cap. The posting list ships
    // as a '|'-joined string: the correctness gate row-hashes cells
    // through pandas, which can't hash an array cell (round-5 gate
    // error) — a scalar projection keeps the column comparable on
    // both engines without changing what's computed.
    "t13_inverted_index" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val byTerm = Window.partitionBy(col("term"))
      val impact = byTerm.orderBy(col("tf").desc, col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(Portable.words(col("text"))).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("df", count(lit(1)).over(byTerm))
        .withColumn("total_tf", sum(col("tf")).over(byTerm))
        .withColumn("rn", row_number().over(impact))
        .filter(col("rn") <= PostingLen)
        .groupBy(col("term"))
        .agg(first(col("df")).as("df"),
          first(col("total_tf")).as("total_tf"),
          concat_ws("|", transform(
            sort_array(collect_list(struct(col("rn"), col("doc_id")))),
            x => x.getField("doc_id").cast("string"))).as("postings"))
        .orderBy(col("term"))
    },

    // BM25 top-k retrieval (Okapi k1/b) for a fixed query — the
    // ranked-search operator over the same corpus the index family
    // serves. Two scans: per-doc term frequencies map-side, then the
    // corpus stats (N, avgdl, df per term — one tiny 1-row aggregate)
    // come back as a BROADCAST cross join, and scoring + TopK run in
    // one codegen'd pass (TakeOrderedAndProject — no global sort).
    // Every intermediate the stats agg sums is integer-valued, so
    // n_docs/avgdl/df are bit-identical across engines; scores are
    // rounded to 6 dp on both sides.
    "t14_bm25_topk" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), Portable.words(col("text")).as("w"))
        .withColumn("dl", size(col("w")).cast("double"))
      val withTf = QueryTerms.zipWithIndex.foldLeft(docs) { case (acc, (t, i)) =>
        acc.withColumn(s"tf_$i",
          size(filter(col("w"), x => x === lit(t))).cast("double"))
      }.drop("w")
      val dfCols = QueryTerms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1.0).otherwise(0.0)).as(s"df_$i"))
      val stats = withTf.agg(
        count(lit(1)).cast("double").as("n_docs"),
        avg(col("dl")).as("avgdl") +: dfCols: _*)
      val score = QueryTerms.indices.map { i =>
        val idf = log(lit(1.0) +
          (col("n_docs") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5))
        idf * (col(s"tf_$i") * (Bm25K1 + 1.0)) /
          (col(s"tf_$i") + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))
      }.reduce(_ + _)
      withTf.crossJoin(broadcast(stats))
        .select(col("doc_id"), round(score, 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(Bm25TopK)
    },

    // LM-based quality scoring (the CCNet recipe, at the unigram
    // end): train a Laplace-smoothed unigram model on the trusted
    // corpus, then score every candidate doc by mean token
    // log-probability. Planted out-of-vocabulary gibberish docs
    // (ids ≥ 400000) hit the smoothing floor (ln(1/(N+V)) ≈ −10 vs
    // ≈ −3.4 in-distribution) and must fall below the keep threshold
    // every real doc clears. Scale shape: the LM is one
    // vocab-bounded aggregate + a 1-row (N, V) stats aggregate, both
    // BROADCAST; scoring is a map-side join over exploded tokens
    // and a doc_id rollup — the corpus is scanned twice, shuffled
    // never (token rows stay partition-local until the doc agg).
    "t15_lm_quality" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val gibberish = docs.filter(col("doc_id") % 30 === 2)
        .select((col("doc_id") + 400000L).as("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(19)),
            i => concat(lit("oov"),
              pmod(col("doc_id") + lit(400000L) + i.cast("long"), lit(97L)).cast("string"))))
            .as("text"))
      val corpus = docs.select(col("doc_id"), col("text")).unionAll(gibberish)
      lmAvgLogP(corpus, docs)
        .withColumn("keep", col("avg_logp") >= LmKeepFloor)
        .orderBy(col("doc_id"))
    },

    // Quality-score CALIBRATION (round 12) — the audit that says
    // whether the CHEAP rule-based score (p1's shared withQuality:
    // stopword/length/punctuation) tracks the EXPENSIVE statistical
    // one (t15's add-one unigram LM mean log-prob) well enough to
    // gate a 100 TB corpus with it. Docs bucket into quality deciles
    // (cut points from the exact distributed Percentiles operator —
    // no corpus-sized single-partition ntile window); per decile the
    // table reports doc count, mean cheap score, and mean LM score.
    // An operator reads it the way a release reads p8: if mean_logp
    // is flat across deciles, the cheap score is NOISE for this
    // corpus and the filter threshold is meaningless. Cost: one
    // quality pass + the t15 LM pass + a 9-cut exact percentile and
    // a 10-row rollup.
    "t28_quality_calibration" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val scored = graft.queries.Pipeline.withQuality(docs)
        .select(col("doc_id"), col("quality"))
        .join(lmAvgLogP(docs, docs).select(col("doc_id"), col("avg_logp")), "doc_id")
        .localCheckpoint()
      val cutNames = (1 to 9).map(i => s"c$i" -> i / 10.0)
      val cuts = graft.operators.Percentiles.exact(
          scored.withColumn("g", lit(1)), "g", "quality", cutNames)
        .select(cutNames.map(c => col(c._1)): _*)
      scored.crossJoin(broadcast(cuts))
        .withColumn("decile",
          (lit(1) + (1 to 9).map(i => when(col("quality") > col(s"c$i"), 1)
            .otherwise(0)).reduce(_ + _)).cast("long"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("quality")), 6).as("mean_quality"),
          round(avg(col("avg_logp")), 6).as("mean_logp"))
        .orderBy(col("decile"))
    },

    // Composite rule-based quality filter (the C4/Gopher recipe):
    // word-count bounds, mean-word-length band, alphabetic-word
    // fraction, and stopword presence, each surfaced as its own flag
    // so a pipeline can audit WHICH rule rejected a doc — a single
    // opaque keep boolean can't drive threshold tuning. All features
    // come from one map-side pass over the words array (no shuffle
    // until the final sort); planted violators (symbol spam fails
    // wordlen+alpha+stop, a 2-word stub fails nwords+stop) make every
    // rule's reject path observable rather than vacuously true.
    "t16_gopher_rules" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val spam = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"),
          concat_ws(" ", array_repeat(lit("@#$%^&*()_+"), 25)).as("text"))
      val tiny = docs.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 310000L).as("doc_id"), lit("too short").as("text"))
      docs.unionAll(spam).unionAll(tiny)
        .withColumn("w", Portable.words(col("text")))
        .withColumn("n_words", size(col("w")).cast("long"))
        .withColumn("mean_wlen", when(col("n_words") === 0, 0.0)
          .otherwise(length(concat_ws("", col("w"))).cast("double") / col("n_words")))
        .withColumn("alpha_frac", when(col("n_words") === 0, 0.0)
          .otherwise(size(filter(col("w"), x => x.rlike("[A-Za-z]"))).cast("double") / col("n_words")))
        .withColumn("stop_hits",
          size(filter(col("w"), x => x.isInCollection(AllStopwords))).cast("long"))
        .withColumn("rule_nwords", col("n_words").between(RuleMinWords, RuleMaxWords))
        .withColumn("rule_wordlen", col("mean_wlen").between(RuleMinWlen, RuleMaxWlen))
        .withColumn("rule_alpha", col("alpha_frac") >= RuleMinAlpha)
        .withColumn("rule_stop", col("stop_hits") >= 1L)
        .select(col("doc_id"), col("n_words"),
          round(col("mean_wlen"), 6).as("mean_wlen"),
          round(col("alpha_frac"), 6).as("alpha_frac"),
          col("rule_nwords"), col("rule_wordlen"), col("rule_alpha"), col("rule_stop"),
          (col("rule_nwords") && col("rule_wordlen") &&
            col("rule_alpha") && col("rule_stop")).as("keep"))
        .orderBy(col("doc_id"))
    },

    // Source-mixture rebalancing (the domain-weights step of corpus
    // assembly): per-language token counts → actual share vs a target
    // mixture → downsampling weight min(1, target/share) and the
    // effective token budget it yields. One groupBy on a 5-value key
    // plus a broadcast 1-row total — at 100 TB the scan dominates and
    // the mixture math is free. Deterministic: weights derive from
    // exact integer token counts, no sampling here (t9 is the
    // reproducible hash-bucket sampler that EXECUTES such weights).
    "t17_mix_weights" -> { (s, d) =>
      val perLang = Tables.documents(s, d)
        .select(col("lang"),
          size(Portable.words(col("text"))).cast("long").as("toks"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"))
      val total = perLang.agg(sum(col("tokens")).as("total_toks"))
      perLang.crossJoin(broadcast(total))
        .withColumn("share", col("tokens").cast("double") / col("total_toks"))
        .withColumn("target", element_at(typedLit(TargetMix.toMap), col("lang")))
        .withColumn("weight", least(lit(1.0), col("target") / col("share")))
        .withColumn("eff_tokens", floor(col("tokens") * col("weight")).cast("long"))
        .select(col("lang"), col("n_docs"), col("tokens"),
          round(col("share"), 6).as("share"), col("target"),
          round(col("weight"), 6).as("weight"), col("eff_tokens"))
        .orderBy(col("lang"))
    },

    // Unigram-entropy quality signal: H = ln(n) − (Σ c·ln c)/n over a
    // doc's token counts — templated/looping text (the failure mode
    // t7/t10 catch by ratio rules) collapses to near-zero entropy no
    // matter how long it runs, so one number flags it independent of
    // ANY rule threshold. Two partial-combining aggregations
    // ((doc, token) then doc) — the token shuffle carries counts, not
    // text. A planted 40×-repeated-word doc sits at exactly H = 0 and
    // must fail the keep floor every real doc clears.
    "t18_entropy" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val low = docs.filter(col("doc_id") % 45 === 3)
        .select((col("doc_id") + 320000L).as("doc_id"),
          concat_ws(" ", array_repeat(lit("spam"), 40)).as("text"))
      docs.unionAll(low)
        .select(col("doc_id"), explode(Portable.words(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(col("c").cast("double") * log(col("c").cast("double"))).as("clc"))
        .withColumn("entropy",
          round(log(col("n_tokens").cast("double")) - col("clc") / col("n_tokens"), 6))
        .withColumn("keep", col("entropy") >= EntropyFloor)
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          col("entropy"), col("keep"))
        .orderBy(col("doc_id"))
    },

    // Zipf/vocabulary audit — the corpus-health table read before
    // tokenizer training: token frequencies ranked, then rolled into
    // log-decade rank bands (top-1, 2-10, 11-100, tail) with type
    // counts and token-mass shares. A healthy natural corpus puts
    // most mass in the head bands; a templated or deduplicate-starved
    // one shows up immediately as a distorted tail share. Only ranks
    // ≤ 100 are individually meaningful, so the head is a
    // TakeOrderedAndProject top-100 (never a global sort of the
    // vocabulary), ranks within those 100 rows come from an
    // ordered-pair count (no window, no single-partition exchange),
    // and the tail band is totals minus the head aggregates. One
    // corpus scan builds the types table; everything after runs on
    // the checkpointed vocabulary or on ≤ 100 rows.
    "t19_zipf_audit" -> { (s, d) =>
      val counts = Tables.documents(s, d)
        .select(explode(Portable.words(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val tot = counts.agg(sum(col("n")).as("total"),
        count(lit(1)).as("types"))
      val head = counts.orderBy(col("n").desc, col("token")).limit(100)
      // rank(r) = 1 + |{r' in head : r' sorts before r}| — exact on
      // the 100-row head because (n desc, token) is a total order.
      val other = head.select(col("token").as("t2"), col("n").as("n2"))
      val ranked = head.join(broadcast(other),
          col("n2") > col("n") ||
            (col("n2") === col("n") && col("t2") < col("token")), "left")
        .groupBy(col("token"), col("n"))
        .agg((count(col("t2")) + 1).as("rank"))
      val headBands = ranked
        .withColumn("band",
          when(col("rank") === 1, "01_top1")
            .when(col("rank") <= 10, "02_top10")
            .otherwise("03_top100"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_types"), sum(col("n")).as("n_tokens"))
      val headTot = head.agg(sum(col("n")).as("head_tokens"),
        count(lit(1)).as("head_types"))
      val tail = broadcast(tot).crossJoin(broadcast(headTot))
        .select(lit("04_tail").as("band"),
          (col("types") - col("head_types")).as("n_types"),
          (col("total") - col("head_tokens")).as("n_tokens"))
        .filter(col("n_types") > 0)
      headBands.unionByName(tail)
        .crossJoin(broadcast(tot.select(col("total"))))
        .select(col("band"), col("n_types"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("total"), 6).as("token_share"))
        .orderBy(col("band"))
    },

    // BPE iteration-0 statistics: the most frequent adjacent
    // character pairs within words — the merge-candidate table a BPE
    // tokenizer trainer computes each round (t3 counts tokens, t19
    // audits the vocabulary; this is the step that BUILDS one).
    // Pure map-side expansion (a 2-char sliding window per word) into
    // a partial-combining count and a TakeOrderedAndProject top-k —
    // no global sort, one corpus scan per merge round at any scale.
    "t20_merge_pairs" -> { (s, d) =>
      Tables.documents(s, d)
        .select(explode(Portable.words(col("text"))).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    },

    // ITERATED BPE training (t20 is iteration-0's pair stats; this
    // TRAINS): k rounds of [count adjacent token pairs → take the
    // most frequent (ties → lexicographic) → merge every occurrence
    // → re-count], with per-round vocabulary and compression stats —
    // a15's iterate pattern applied to tokenizer training. It trains
    // on the WORD-FREQUENCY table, the canonical BPE-trainer shape —
    // one corpus scan folds occurrences into (word type, count), and
    // every per-round pass (pair count, merge, stats) runs over
    // TYPES weighted by count, so the counts
    // are bit-identical to per-occurrence training while per-round
    // cost scales with |vocabulary types| (Heaps' law: ~√corpus),
    // not corpus size. Token sequences ride as strings (tokens
    // double-space-joined, single space at each edge), so APPLYING a
    // merge is one codegen'd `replace(' a  b ' → ' ab ')` per round:
    // left-to-right non-overlapping — exactly BPE's greedy
    // application — because each replacement consumes one of the two
    // separator spaces and leaves the neighbor's other space intact
    // ('a a a' merges to [aa, a], never [a, aa]). Per round: one
    // pair-count scan over types (map-side combining on sum(wn)), a
    // 1-row TakeOrderedAndProject top pair broadcast into one
    // map-pass merge, one stats scan — localCheckpointed between
    // rounds so round k's plan doesn't re-run rounds 1..k-1 (at
    // 100 TB: persist, same shape). The convergence contract
    // (n_tokens strictly decreases by pair_n, pair_n non-increasing
    // in expectation, vocab grows ≤ 1/round) is spec-pinned in
    // TextSpec.
    "t24_bpe_train" -> { (s, d) =>
      val Rounds = 3
      // (word type, occurrence count) — the only corpus-sized pass;
      // " h  e  l  l  o " is the spaced form per TYPE
      val spaced = Tables.documents(s, d)
        .select(explode(Portable.words(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wn"))
        .select(regexp_replace(col("w"), "(.)", " $1 ").as("s"), col("wn"))
        .localCheckpoint()
      val base = spaced
        .select((size(split(trim(col("s")), "  ")).cast("long") * col("wn")).as("n"))
        .agg(sum(col("n")).as("base_toks"))
        .localCheckpoint()
      var cur = spaced
      var stats: DataFrame = null
      for (r <- 1 to Rounds) {
        val (merged, top1) = bpeRound(cur)
        cur = merged
        val st = cur
          .select(explode(split(trim(col("s")), "  ")).as("tok"), col("wn"))
          .agg(sum(col("wn")).as("n_tokens"),
            countDistinct(col("tok")).as("vocab_size"))
          .crossJoin(broadcast(top1))
          .select(lit(r.toLong).as("round"), col("merged_pair"), col("pair_n"),
            col("vocab_size"), col("n_tokens"))
        stats = if (stats == null) st else stats.unionAll(st)
      }
      stats.crossJoin(broadcast(base))
        .select(col("round"), col("merged_pair"), col("pair_n"),
          col("vocab_size"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("base_toks"), 6).as("compression"))
        .orderBy(col("round"))
    },

    // Count-Min heavy hitters — the FREQUENCY sketch next to q30's
    // cardinality HLL (Cormode & Muthukrishnan): token occurrences
    // hash into a d×w grid of counters (d independent md5-salted
    // rows), a token's estimate is the MIN of its d cells, and the
    // estimate can only OVERCOUNT (collisions add, never subtract) —
    // the soundness invariant the audit column verifies against the
    // exact counts for the top-k tokens. The sketch is the mergeable
    // shape: the grid is 4×512 counters regardless of corpus size
    // (per-partition grids sum cell-wise on the exchange), the exact
    // side is the t19 vocabulary rollup, and the top-k is a
    // TakeOrderedAndProject. At 100 TB the sketch is what a streaming
    // frequency monitor keeps per window; this operator is the
    // offline acceptance gate that prices its error before anyone
    // trusts it (the q41 pattern for frequencies).
    "t22_heavy_hitters" -> { (s, d) =>
      // token-frequency table first (t24's shape): grid cells and the
      // exact top-k both depend only on per-type counts, so the corpus
      // is scanned once and the 4× salted hashing runs over TYPES
      // weighted by count — bit-identical cells, hashing cost scales
      // with vocabulary size, not corpus size
      val types = Tables.documents(s, d)
        .select(explode(Portable.words(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wn"))
        .localCheckpoint()
      // each token's CmsDepth (row r, salted bucket b) cells, with
      // the `carry` columns alongside
      def cells(df: DataFrame, carry: String*): DataFrame =
        df.select(carry.map(col) :+ explode(array((0 until CmsDepth).map { r =>
            struct(lit(r).as("r"),
              pmod(Portable.hash60(concat(lit(s"cms$r|"), col("w"))),
                lit(CmsWidth.toLong)).as("b"))
          }: _*)).as("rb"): _*)
          .select(carry.map(col) ++ Seq(col("rb.r").as("r"), col("rb.b").as("b")): _*)
      val grid = cells(types, "wn")
        .groupBy(col("r"), col("b"))
        .agg(sum(col("wn")).as("bc"))
      val top = types.select(col("w"), col("wn").as("exact"))
        .orderBy(col("exact").desc, col("w")).limit(20)
      cells(top, "w", "exact")
        .join(broadcast(grid), Seq("r", "b"))
        .groupBy(col("w"), col("exact"))
        .agg(min(col("bc")).as("est"))
        .select(col("w"), col("exact"), col("est"),
          (col("est") >= col("exact")).as("sound"),
          round((col("est") - col("exact")).cast("double") / col("exact"), 6)
            .as("overcount_frac"))
        .orderBy(col("exact").desc, col("w"))
    },

    // Code-vs-prose detection (the training-mix router that decides
    // whether a crawled doc goes to the code or the NL bucket, and
    // the gate that keeps markup/code out of an NL-only corpus). The
    // corpus is pure prose, so code docs are PLANTED: every 7th doc
    // gets a mutated copy (ids ≥ 400000) whose words are rewritten
    // into statement lines (`if (w) { var w = 1; }`) — real code
    // surface shape (braces, semicolons, keywords, symbols) built
    // from the doc's own vocabulary. Four map-side signals — ';'
    // density, brace density, keyword token ratio, symbol ratio —
    // fold into one score; is_code = score > 0.3, and `correct`
    // audits the classifier against the plant (should be TRUE on
    // every row: planted lines score ≈0.8, prose ≈0.04). One scan,
    // zero shuffles before the output sort; at 100 TB this rides the
    // same pass as t2/t16's quality signals.
    "t25_code_detect" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 400000L).as("doc_id"),
          array_join(transform(Portable.words(col("text")),
            w => concat(lit("if ("), w, lit(") { var "), w, lit(" = 1; }"))),
            " ").as("text"))
      codeSignals(docs.unionAll(planted))
        .withColumn("is_planted", col("doc_id") >= 400000L)
        .withColumn("correct", col("is_code") === col("is_planted"))
        .select(col("doc_id"), col("n_chars"),
          round(col("semi_density"), 6).as("semi_density"),
          round(col("brace_density"), 6).as("brace_density"),
          round(col("kw_ratio"), 6).as("kw_ratio"),
          round(col("symbol_ratio"), 6).as("symbol_ratio"),
          col("code_score"), col("is_code"), col("is_planted"), col("correct"))
        .orderBy(col("doc_id"))
    },

    // SPAN-level decontamination (round 10) — t12 answers "is this
    // doc contaminated?" at doc granularity; this finds WHERE, so the
    // remediation can be redaction instead of wholesale deletion
    // (the GPT-3/Llama eval-overlap protocol: n-gram windows against
    // the eval set, overlapping hits merged into maximal spans). The
    // eval set is every 13th doc's words 5–25 — real benchmark
    // prompts excerpted from the crawl, so contamination is intrinsic,
    // not planted. Eval window digests are a DISTINCT set broadcast
    // to the corpus scan (eval suites are tiny by nature — the
    // asymmetry is the scale story: the 100 TB side streams map-side
    // against a benchmark-sized hash set); span merging reuses d20's
    // interval-merge (lag + running sum, windows partitioned by
    // doc_id). action: drop_doc past 30% coverage, else redact_spans.
    "t26_span_decontam" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      contamSpans(docs, evalWindowDigests(docs)).orderBy(col("doc_id"))
    },

    // Contamination PROVENANCE (round 12) — t26 says WHERE a doc is
    // contaminated; this says BY WHOM: one row per (corpus doc, eval
    // doc) pair sharing at least one 10-word window, with the shared
    // window count and the hit extent in the corpus doc's word space.
    // The remediation and eval-hygiene table: a contaminated doc
    // names the benchmark passages it leaks, and an eval doc leaking
    // into MANY corpus docs is itself crawl-derived boilerplate the
    // eval suite should drop. Self-pairs are excluded (eval passages
    // are excerpted from the corpus, so every eval doc trivially hits
    // itself). Scale shape = t26's: the (eval_id, digest) set is
    // benchmark-sized and broadcast; the corpus side is one map pass;
    // the only shuffle is the (doc_id, eval_id) rollup of hits.
    "t27_contam_provenance" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      // natural cross-doc leakage is nearly absent at test SF (the
      // eval excerpts are unique passages), so leaks are PLANTED the
      // t12 way: every third eval doc's excerpt re-embedded inside a
      // fresh doc (ids >= 800000) between pad words — each plant must
      // surface as exactly its (plant, eval) pair with the excerpt's
      // 12 shared windows, and the boundary windows that straddle pad
      // and excerpt must NOT match
      val planted = docs.filter(col("doc_id") % 39 === 0)
        .select((col("doc_id") + 800000L).as("doc_id"),
          concat_ws(" ", lit("zlkpad0 zlkpad1 zlkpad2 zlkpad3"),
            concat_ws(" ", slice(Portable.words(col("text")), 5, 21)),
            lit("zlktail0 zlktail1 zlktail2")).as("text"))
      contamProvenance(
        docs.unionAll(planted)
          .select(col("doc_id"), Portable.words(col("text")).as("w")),
        docs.filter(col("doc_id") % 13 === 0)
          .select(col("doc_id").as("eval_id"),
            slice(Portable.words(col("text")), 5, 21).as("ew")))
        .orderBy(col("doc_id"), col("eval_id"))
    },

    // Segment-level dedup (the CCNet/RefinedWeb line-dedup step at
    // fixed-window granularity — this corpus has no newlines, so the
    // unit is a 10-word window): boilerplate and wholesale copies
    // show up as segments shared across documents, and a doc whose
    // segment mass is mostly shared is dropped even when no WHOLE-doc
    // near-dup fires. The corpus plants both failure modes — a
    // 20-word boilerplate PREFIX on every 5th doc (prefix, so the
    // 10-word alignment is preserved across docs) and exact re-uploads
    // of every 10th. Each segment is hashed to a 16-byte digest
    // map-side; the shuffle carries (doc_id, digest) pairs and the
    // dup decision is one digest-keyed count + one digest-keyed join
    // — segment TEXT never shuffles, so at 100 TB this is the d1
    // digest-dedup shape fanned out ~5× (segments per doc).
    "t21_segment_dedup" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val prefixed = docs.withColumn("text",
        when(col("doc_id") % 5 === 0, concat(lit(SegBoiler + " "), col("text")))
          .otherwise(col("text")))
      val corpus = prefixed.unionAll(
        prefixed.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 330000L).as("doc_id"), col("text")))
      segmentDupCounts(segmentRows(corpus))
        .withColumn("dup_ratio",
          round(col("n_dup_segs").cast("double") / col("n_segs"), 6))
        .withColumn("keep", col("dup_ratio") <= 0.5)
        .select(col("doc_id"), col("n_segs"), col("n_dup_segs"),
          col("dup_ratio"), col("keep"))
        .orderBy(col("doc_id"))
    },

    // Per-SOURCE boilerplate TEMPLATE mining (round 13) — the
    // CCNet/RefinedWeb template-removal prerequisite, and the
    // inventory t21 does not build: t21 scores DOCS by cross-doc dup
    // ratio; t29 names the template SEGMENTS themselves, per source —
    // the rights banners, cookie notices and nav chrome a crawler
    // stamps on every page of one site (which is why the key is
    // (source, segment): a banner is boilerplate WITHIN its site, not
    // across the corpus). A segment is a template when it appears in
    // ≥ 30% of its source's docs — document-frequency SHARE, not raw
    // df, so a 10-doc source and a 10M-doc source face the same bar.
    // Planted: a 10-word per-source banner (segment-aligned, exactly
    // one window) on 2/3 of each source's docs; the corpus's natural
    // repeats surface too. Both engines filter on the UNROUNDED
    // df/n ratio (identical IEEE division) and emit it rounded.
    // Scale shape: segments hash map-side, the shuffle carries
    // (source, 16-byte digest, doc_id) only, per-source doc counts
    // are a sources-sized broadcast, and the output is bounded by
    // the share threshold — template inventories are small by
    // definition at any corpus size.
    "t29_boilerplate" -> { (s, d) =>
      templateShares(bannerPlanted(Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("source"))))
        .orderBy(col("source"), col("seg_hash"))
    },

    // Template REMOVAL (round 14) — the consumer t29's inventory was
    // missing (the exact gap t30 closed for t20/t24: an inventory
    // nobody applies prices nothing): strip each doc's template
    // segments and report what the cut costs — kept/stripped word
    // counts, the kept text's digest (proving the surviving prose
    // byte-for-byte), and the re-scored punctuation quality, because
    // template chrome distorts exactly the ratios the curate gates
    // key on. Same planted corpus as t29, so the mined inventory IS
    // t29's. Scale shape: the inventory is share-bounded (small by
    // definition), folded to ONE array row per source and broadcast;
    // the strip itself is a single map-side pass — each doc
    // re-segments with t21's grammar inside an expression, drops
    // segments whose md5 is in its source's broadcast array, and
    // emits counts + digest. No shuffle beyond the inventory build
    // and the output sort; text never leaves its row. The
    // higher-order filter/transform evaluate interpreted, but the
    // work is one md5 per 10-word window — decode-class cost, far
    // off the hot aggregate path.
    "t32_template_strip" -> { (s, d) =>
      stripTemplates(bannerPlanted(Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("source"))))
        .withColumn("punct_kept", when(length(col("kept_text")) === 0, 0.0)
          .otherwise((length(col("kept_text")) -
            length(regexp_replace(col("kept_text"), "[.,!?;:]", "")))
            .cast("double") / length(col("kept_text"))))
        .select(col("doc_id"), col("n_segs"), col("n_tpl_segs"),
          col("n_words_kept"),
          (col("n_words") - col("n_words_kept")).as("n_words_stripped"),
          when(col("n_words_kept") > 0, md5(col("kept_text").cast("binary")))
            .as("kept_md5"),
          round(col("punct_kept"), 6).as("punct_ratio_kept"))
        .orderBy(col("doc_id"))
    },

    // Tokenizer APPLY — the pass t20/t24 train FOR: the learned
    // merge rules segment the actual corpus, because a tokenizer
    // nobody applies prices nothing. The merges are re-derived by
    // t24's own round kernel (same corpus, same
    // count-then-lexicographic tie-break, 3 rounds), then applied per
    // word TYPE — the dictionary trick that makes BPE apply scale:
    // merges touch each distinct word once (vocabulary-sized work),
    // and the corpus only pays a (doc_id, word) explode + a
    // vocab-sized broadcast join to roll token counts up per doc.
    // Output per doc: words, chars, BPE tokens, fertility
    // (tokens/word — t23's exchange rate, now under the REAL learned
    // tokenizer instead of a proxy) and compression vs the char-level
    // baseline. At 100 TB the type table is what a tokenizer service
    // precomputes; the per-doc rollup is one map-side join + one
    // doc-keyed aggregation, and token counts feed t8's packer and
    // t17's mix weights directly. Empty docs stay in the table with
    // zero counts and NULL rates — dropping them would misreport the
    // corpus the packer sees.
    "t30_bpe_apply" -> { (s, d) =>
      val Rounds = 3
      val docs = Tables.documents(s, d)
      var cur = docs
        .select(explode(Portable.words(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wn"))
        .select(col("w"), col("wn"),
          regexp_replace(col("w"), "(.)", " $1 ").as("s"))
        .localCheckpoint()
      for (_ <- 1 to Rounds) cur = bpeRound(cur)._1
      val tokPerType = cur.select(col("w"),
        size(split(trim(col("s")), "  ")).cast("long").as("toks"))
      val perDoc = docs
        .select(col("doc_id"), explode(Portable.words(col("text"))).as("w"))
        .join(broadcast(tokPerType), "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("w")).cast("long")).as("n_chars"),
          sum(col("toks")).as("n_tokens"))
      docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_words", "n_chars", "n_tokens"))
        .withColumn("fertility", when(col("n_words") > 0,
          round(col("n_tokens").cast("double") / col("n_words"), 6)))
        .withColumn("compression", when(col("n_chars") > 0,
          round(col("n_tokens").cast("double") / col("n_chars"), 6)))
        .select(col("doc_id"), col("n_words"), col("n_chars"),
          col("n_tokens"), col("fertility"), col("compression"))
        .orderBy(col("doc_id"))
    },

    // HTML → text extraction (round 13) — the transform between WARC
    // ingestion (mm19) and every operator in this family: crawl
    // corpora arrive as markup, and the text pipeline starts by
    // stripping it. Each doc is a GENUINE page (doctype, head with
    // entity-bearing title, style + script whose bodies contain
    // decoy markup inside string literals, an HTML comment holding a
    // decoy block, headings, paragraphs, a quoted '>' inside an
    // attribute value, an inline <a> mid-sentence, named + decimal +
    // hex entities) pushed through operators/Html.scala's single-pass
    // state machine. The extraction has a closed form the oracle
    // rebuilds WITHOUT touching any HTML — title, block count, word
    // and char counts, and the extracted text's md5: digest equality
    // proves the whole parse (raw-text containment, comment skip,
    // quote-aware tag scan, entity decode, block segmentation,
    // whitespace collapse) byte-for-byte. Scale shape: one char walk
    // per doc inside the partition iterator; markup never shuffles —
    // the output rows carry a title, four counts, and a digest.
    "t31_html_extract" -> { (s, d) =>
      import s.implicits._
      val m = pmod(col("doc_id"), lit(7L))
      val para = concat_ws(" ", transform(
        sequence(lit(0L), lit(19L) + pmod(col("doc_id"), lit(11L))),
        j => concat(lit("v"), lpad(pmod(col("doc_id") * 5 + j * 17, lit(60L))
          .cast("string"), 2, "0"))))
      val idStr = col("doc_id").cast("string")
      val full = concat(
        lit("Doc "), idStr, lit(" & friends\nHeading "), idStr,
        lit("\n"), para, lit("\nTail <"), m.cast("string"),
        lit("> end link"), idStr, lit(" AB"))
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("Doc "), idStr, lit(" & friends")).as("p_title"),
        (lit(31L) + pmod(col("doc_id"), lit(11L))).as("p_words"),
        length(full).cast("long").as("p_chars"),
        md5(full).as("p_md5"))
      val rows = Tables.docIdsSpread(s, d).as[Long]
        .mapPartitions(_.map { id =>
          val doc = graft.operators.Html.extract(
            graft.operators.Html.plantedHtml(id))
          val words =
            if (doc.text.isEmpty) 0L
            else doc.text.split("\\s+").count(_.nonEmpty).toLong
          (id, doc.title, doc.nBlocks, words, doc.text.length.toLong,
            graft.operators.Html.md5Hex(doc.text))
        })
        .toDF("doc_id", "title", "n_blocks", "n_words", "n_chars", "text_md5")
      planted.join(rows, Seq("doc_id"))
        .withColumn("matches_plant",
          col("title") === col("p_title") && col("n_blocks") === 4L &&
            col("n_words") === col("p_words") &&
            col("n_chars") === col("p_chars") &&
            col("text_md5") === col("p_md5"))
        .select(col("doc_id"), col("title"), col("n_blocks"),
          col("n_words"), col("n_chars"), col("text_md5"),
          col("matches_plant"))
        .orderBy(col("doc_id"))
    }
  )

  /** t26: contamination window width (words, stride 1). Derived from
    * d20's [[Dedup.SpanW]], never restated: the DSL's `decontamSpans`
    * digests the eval side with `Dedup.spanWindows` (width SpanW) and
    * matches it against corpus windows hashed here — two independent
    * constants that drifted apart would silently match nothing. */
  private val ContamW = Dedup.SpanW

  /** t26's eval set: every 13th doc's words 5–25 → distinct stride-1
    * window digests. Benchmark-sized by nature; broadcast to every
    * consumer. */
  private[graft] def evalWindowDigests(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 13 === 0)
      .select(slice(Portable.words(col("text")), 5, 21).as("ew"))
      .filter(size(col("ew")) >= ContamW)
      .select(explode(graft.functions.TextHash.spanHashes(col("ew"), ContamW))
        .as("h"))
      .distinct()

  /** t26's per-doc span machinery over ANY (doc_id, text) slice —
    * shared verbatim by the batch query and the streaming ingest
    * step ([[contamStep]]): window digests, broadcast eval join,
    * interval merge, per-doc rollup with the drop/redact action.
    * STATELESS given the (static) eval set, so the streamed union of
    * per-batch results equals the batch table exactly — spec-proved. */
  private[graft] def contamSpans(docSlice: DataFrame, evalWins: DataFrame): DataFrame = {
    val wins = Dedup.spanWindows(
      docSlice.select(col("doc_id"), Portable.words(col("text")).as("w")))
    val spans = Dedup.spanRuns(wins.join(broadcast(evalWins), "h"), "doc_id", "n_words")
    spans.groupBy(col("doc_id"), col("n_words"))
      .agg(sum(col("nw")).as("n_contam_windows"),
        count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("covered_words"))
      .withColumn("contam_frac",
        round(col("covered_words").cast("double") / col("n_words"), 6))
      .withColumn("action",
        when(col("contam_frac") > 0.3, "drop_doc").otherwise("redact_spans"))
      .select(col("doc_id"), col("n_words"), col("n_contam_windows"),
        col("n_spans"), col("covered_words"), col("contam_frac"), col("action"))
  }

  /** t27's provenance kernel: corpus `docs` (doc_id, w: words) against
    * `evals` (eval_id, ew: words) → one row per (doc, eval doc) pair
    * sharing a [[ContamW]]-word window, with the shared-window count
    * and the hit extent in the doc's word space. The eval side reduces
    * to a broadcast (eval_id, digest) set; self-pairs are excluded.
    * Shared by t27 and the `contamProvenance` DSL facade. */
  private[graft] def contamProvenance(docs: DataFrame, evals: DataFrame): DataFrame = {
    val evalWins = evals
      .filter(size(col("ew")) >= ContamW)
      .select(col("eval_id"),
        explode(graft.functions.TextHash.spanHashes(col("ew"), ContamW)).as("h"))
      .distinct()
    Dedup.spanWindows(docs).join(broadcast(evalWins), "h")
      .filter(col("doc_id") =!= col("eval_id"))
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared_windows"),
        min(col("i")).as("first_i"), max(col("i")).as("last_i"))
  }

  /** t25's four map-side code-surface signals + score over any
    * (doc_id, text) slice — shared by the batch query and the live
    * curate router (streaming.DataPrep.routeStep), so streamed
    * routing is definitionally the batch classifier. */
  private[graft] def codeSignals(docs: DataFrame): DataFrame = {
    def density(stripped: Column): Column =
      when(col("n_chars") === 0, 0.0)
        .otherwise((col("n_chars") - length(stripped)).cast("double") / col("n_chars"))
    docs
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("w", Portable.words(col("text")))
      .withColumn("semi_density",
        density(regexp_replace(col("text"), ";", "")))
      .withColumn("brace_density",
        density(regexp_replace(col("text"), "[{}]", "")))
      .withColumn("kw_ratio", hitRatio(col("w"),
        Seq("if", "else", "var", "return", "function", "def")))
      .withColumn("symbol_ratio",
        density(regexp_replace(col("text"), "[^A-Za-z0-9 ]", "")))
      .withColumn("code_score", round(
        col("semi_density") * 4.0 + col("brace_density") * 3.0 +
          col("kw_ratio") + col("symbol_ratio"), 6))
      .withColumn("is_code", col("code_score") > 0.3)
  }

  /** t15's add-one-smoothed unigram LM scorer over any corpus slice,
    * trained on `train`: (doc_id, n_tokens, avg_logp). Shared by the
    * t15 gate and t28's calibration audit. The LM is a broadcast
    * (token, count) relation + a 1-row (N, V) frame; scoring is one
    * map-side pass per doc. */
  private[graft] def lmAvgLogP(corpus: DataFrame, train: DataFrame): DataFrame = {
    val trainToks = train.select(explode(Portable.words(col("text"))).as("tok"))
    val lm = trainToks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val stats = trainToks.agg(count(lit(1)).as("n"),
      countDistinct(col("tok")).as("v"))
    corpus.select(col("doc_id"), explode(Portable.words(col("text"))).as("tok"))
      .join(broadcast(lm), Seq("tok"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("lp",
        log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
          (col("n") + col("v")).cast("double")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), round(avg(col("lp")), 6).as("avg_logp"))
  }

  /** t12: decontamination n-gram width. */
  private val EvalGramN = 6
  /** t13: posting-list cap (impact-ordered). */
  private val PostingLen = 20
  /** t14: fixed query + Okapi constants. */
  private val QueryTerms = Seq("spark", "join", "window")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25TopK = 20
  /** t15: mean-log-prob keep threshold (between the ≈ −3.4
    * in-distribution plateau and the ≈ −10 OOV smoothing floor). */
  private val LmKeepFloor = -6.0

  /** t16: rule thresholds (corpus docs span 10–99 words, mean word
    * length 3.7–5.3, fully alphabetic — real docs pass; the planted
    * violators fail specific rules). */
  private val RuleMinWords = 10L
  private val RuleMaxWords = 5000L
  private val RuleMinWlen = 3.0
  private val RuleMaxWlen = 10.0
  private val RuleMinAlpha = 0.7
  private val AllStopwords: Seq[String] = Stopwords.flatMap(_._2)

  /** t17: target language mixture (must sum to 1). */
  private[queries] val TargetMix: Seq[(String, Double)] =
    Seq("en" -> 0.3, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.1)

  /** t18: keep floor between the repeated-text collapse (H = 0) and
    * the real-corpus plateau (H ≈ 3+ at 50-word docs). */
  private val EntropyFloor = 1.0

  /** Tokens per packed training sequence (t8). */
  private val PackBudget = 512

  /** t8: number of independent packing streams. 32 here (≈ the local
    * core count); thousands on a real cluster — the count only shifts
    * bin-id prefixes, never the per-bucket greedy fill. */
  private val PackParts = 32L

  /** t21's segment space: one (doc_id, h) row per 10-word window
    * (multiplicity kept), the segment text hashed to its 16-byte
    * digest MAP-SIDE so downstream dedup machinery only ever moves
    * digests. Shared by the batch audit (t21) and the incremental
    * ingest step (streaming.DataPrep.segmentDedupStep). */
  private[graft] def segmentRows(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", Portable.words(col("text")))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, cast(ceil(size(w) / $SegLen.0) as int) - 1), " +
          s"i -> concat_ws(' ', slice(w, i * $SegLen + 1, $SegLen)))")).as("seg"))
      .select(col("doc_id"), Portable.md5bin(col("seg")).as("h"))

  /** t21's per-doc segment counts over [[segmentRows]] output:
    * n_segs and n_dup_segs, a segment being dup when ≥ 2 docs carry
    * its digest. Shared by t21 and p7's segment stage; each applies
    * its own threshold. */
  private[queries] def segmentDupCounts(segRows: DataFrame): DataFrame = {
    val perSeg = segRows.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    segRows.join(perSeg, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_segs"))
  }

  /** One BPE merge round over a word-type table (`s`: the type's
    * tokens, double-space-joined with a space at each edge; `wn`: its
    * occurrence count; any other columns ride along unchanged):
    * count adjacent token pairs weighted by `wn`, take the top pair
    * (count, then lexicographic), apply it with one broadcast
    * `replace`, and localCheckpoint so round k's plan does not re-run
    * rounds 1..k-1. Returns the merged table and the 1-row top pair
    * (merged_pair, pair_n). Shared by t24 and t30. */
  private def bpeRound(cur: DataFrame): (DataFrame, DataFrame) = {
    val pairs = cur
      .select(split(trim(col("s")), "  ").as("t"), col("wn"))
      .select(explode(when(size(col("t")) > 1, expr(
        "transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
        .otherwise(array().cast("array<string>"))).as("pair"), col("wn"))
      .groupBy(col("pair")).agg(sum(col("wn")).as("n"))
    val top1 = pairs.orderBy(col("n").desc, col("pair")).limit(1)
      .select(col("pair").as("merged_pair"), col("n").as("pair_n"))
    val merge = expr(
      "replace(s, ' ' || replace(merged_pair, ' ', '  ') || ' ', ' ' || replace(merged_pair, ' ', '') || ' ')")
    val merged = cur.crossJoin(broadcast(top1))
      .select(cur.columns.toSeq.map(c => if (c == "s") merge.as("s") else col(c)): _*)
      .localCheckpoint()
    (merged, top1)
  }

  /** t29/t32's planted corpus: a 10-word (= exactly one [[SegLen]]
    * segment, so segment alignment is identical across carriers)
    * per-source banner prepended to 2/3 of each source's docs — the
    * rights-notice chrome a crawler stamps on every page of one
    * site. */
  private[graft] def bannerPlanted(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") % 3 =!= 2,
        concat(lit("official notice from "), col("source"),
          lit(" all content rights reserved worldwide daily "), col("text")))
        .otherwise(col("text")))

  /** t29's template mining core over any (doc_id, text, source)
    * frame: per-(source, segment) document frequency, kept when the
    * UNROUNDED df/n_src_docs share clears [[TplShare]] (df SHARE, not
    * raw df — a 10-doc and a 10M-doc source face the same bar).
    * Returns (source, h, df, n_src_docs); output bounded by the
    * share threshold, so template inventories are broadcast-sized at
    * any corpus size. Shared by t29 (the audit), t32 (the strip) and
    * p13's crawl cascade (per-host chrome removal). */
  private[graft] def templateInventory(base: DataFrame,
                                       minShare: Double = TplShare): DataFrame = {
    val segRows = segmentRows(base.select(col("doc_id"), col("text")))
      .join(base.select(col("doc_id"), col("source")), "doc_id")
    val srcDocs = base.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_src_docs"))
    segRows.groupBy(col("source"), col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .join(broadcast(srcDocs), "source")
      .filter(col("df").cast("double") / col("n_src_docs") >= minShare)
  }

  /** t29's published inventory: [[templateInventory]] as (source,
    * seg_hash, df, n_src_docs, share) with the share rounded to 6
    * places (the filter above compares the unrounded ratio). Shared
    * by t29 and the `boilerplateTemplates` DSL facade. */
  private[graft] def templateShares(base: DataFrame,
                                    minShare: Double = TplShare): DataFrame =
    templateInventory(base, minShare)
      .withColumn("share",
        round(col("df").cast("double") / col("n_src_docs"), 6))
      .select(col("source"), lower(hex(col("h"))).as("seg_hash"),
        col("df"), col("n_src_docs"), col("share"))

  /** t32's strip kernel over any (doc_id, text, source) frame: the
    * share-bounded inventory folds to one hash-array row per source,
    * broadcasts, and each doc drops its template segments in a single
    * map-side expression pass (text never leaves its row). Returns
    * the input columns plus kept_text / n_segs / n_tpl_segs /
    * n_words / n_words_kept. Shared by t32 (the audit form) and
    * p13's crawl cascade (per-host chrome removal before the
    * language gate). */
  private[graft] def stripTemplates(base: DataFrame,
                                    minShare: Double = TplShare): DataFrame =
    stripWithInventory(base,
      templateInventory(base, minShare)
        .select(col("source"), lower(hex(col("h"))).as("seg_hash")))

  /** The strip against a GIVEN (source, seg_hash) inventory — the
    * published-artifact form: a live ingest (crawlCurateStream)
    * consumes the inventory the last batch mining pass published,
    * exactly like the ANN index artifact, instead of re-mining per
    * micro-batch on a sample that can't see corpus-wide shares. */
  private[graft] def stripWithInventory(base: DataFrame,
                                        inventory: DataFrame): DataFrame = {
    val tplBySrc = inventory
      .groupBy(col("source"))
      .agg(collect_list(col("seg_hash")).as("tpl"))
    base
      .join(broadcast(tplBySrc), Seq("source"), "left")
      .withColumn("tpl", coalesce(col("tpl"),
        array().cast("array<string>")))
      .withColumn("w", Portable.words(col("text")))
      .withColumn("segs", when(size(col("w")) === 0,
        array().cast("array<string>")).otherwise(expr(
        s"transform(sequence(0, cast(ceil(size(w) / $SegLen.0) as int) - 1), " +
          s"i -> concat_ws(' ', slice(w, i * $SegLen + 1, $SegLen)))")))
      .withColumn("kept", expr("filter(segs, x -> NOT array_contains(tpl, md5(x)))"))
      .withColumn("kept_text", concat_ws(" ", col("kept")))
      .withColumn("n_segs", size(col("segs")).cast("long"))
      .withColumn("n_tpl_segs",
        (size(col("segs")) - size(col("kept"))).cast("long"))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("n_words_kept", when(length(col("kept_text")) === 0, 0L)
        .otherwise(size(split(col("kept_text"), " ")).cast("long")))
      .drop("tpl", "w", "segs", "kept")
  }

  /** t29/t32/p13: a segment is a template when it appears in at least
    * this share of its source's docs. */
  private[graft] val TplShare = 0.3

  /** t22: Count-Min grid geometry — depth 4 (independent salted
    * hashes) × width 512 counters; error scales as total/width per
    * row, min over rows. Constant sketch size at any corpus. */
  private val CmsDepth = 4
  private val CmsWidth = 512

  /** t21: dedup window width (words per segment) and the planted
    * 20-word boilerplate — exactly two full segments wide, prefixed
    * so segment alignment is identical across carriers. */
  private val SegLen = 10
  private val SegBoiler =
    "subscribe to our newsletter and follow our channel for daily " +
      "updates about everything we publish here online every single day"

  /** The 100 TB packing path: bins never span partitions, so packing
    * is a single mapPartitions pass — zero shuffle, no global order
    * (bins are arbitrary groupings; only their fill matters). Returns
    * one row per doc with its (part_id, bin_id) assignment. t8 is the
    * globally-ordered, oracle-checkable form of the same algorithm.
    */
  def packSequencesPerPartition(s: SparkSession, d: String,
                                budget: Long = PackBudget): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), size(Portable.words(col("text"))).cast("long").as("tokens"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId().toLong
        var cum = 0L
        it.map { case (id, t) =>
          val bin = cum / budget
          cum += t
          (pid, bin, id, t)
        }
      }
      .toDF("part_id", "bin_id", "doc_id", "tokens")
  }
  /** Per-language keep rates in percent (t9). */
  private val SampleRates: Seq[(String, Long)] =
    Seq("en" -> 50L, "de" -> 30L, "es" -> 20L, "fr" -> 10L)

  def oracle: Map[String, String] = Map(
    "t1_lang_id" ->
      s"""SELECT doc_id, lang AS tagged_lang,
         |  CASE
         |    WHEN ${hitRatioSql(Stopwords(0)._2)} >= ${hitRatioSql(Stopwords(1)._2)}
         |     AND ${hitRatioSql(Stopwords(0)._2)} >= ${hitRatioSql(Stopwords(2)._2)}
         |     AND ${hitRatioSql(Stopwords(0)._2)} >= ${hitRatioSql(Stopwords(3)._2)} THEN 'en'
         |    WHEN ${hitRatioSql(Stopwords(1)._2)} >= ${hitRatioSql(Stopwords(2)._2)}
         |     AND ${hitRatioSql(Stopwords(1)._2)} >= ${hitRatioSql(Stopwords(3)._2)} THEN 'de'
         |    WHEN ${hitRatioSql(Stopwords(2)._2)} >= ${hitRatioSql(Stopwords(3)._2)} THEN 'es'
         |    ELSE 'fr' END AS pred_lang,
         |  ${hitRatioSql(Stopwords(0)._2)} AS s_en
         |FROM ($WordsSql) t
         |ORDER BY doc_id""".stripMargin,

    "t11_lang_confusion" ->
      s"""WITH pred AS (
         |  SELECT lang AS tagged_lang,
         |    CASE
         |      WHEN ${hitRatioSql(Stopwords(0)._2)} >= ${hitRatioSql(Stopwords(1)._2)}
         |       AND ${hitRatioSql(Stopwords(0)._2)} >= ${hitRatioSql(Stopwords(2)._2)}
         |       AND ${hitRatioSql(Stopwords(0)._2)} >= ${hitRatioSql(Stopwords(3)._2)} THEN 'en'
         |      WHEN ${hitRatioSql(Stopwords(1)._2)} >= ${hitRatioSql(Stopwords(2)._2)}
         |       AND ${hitRatioSql(Stopwords(1)._2)} >= ${hitRatioSql(Stopwords(3)._2)} THEN 'de'
         |      WHEN ${hitRatioSql(Stopwords(2)._2)} >= ${hitRatioSql(Stopwords(3)._2)} THEN 'es'
         |      ELSE 'fr' END AS pred_lang
         |  FROM ($WordsSql) t),
         |m AS (
         |  SELECT tagged_lang, pred_lang, count(*) AS n_docs
         |  FROM pred GROUP BY 1, 2)
         |SELECT tagged_lang, pred_lang, n_docs,
         |  n_docs::DOUBLE / sum(n_docs) OVER (PARTITION BY tagged_lang) AS share_of_tagged
         |FROM m
         |ORDER BY tagged_lang, pred_lang""".stripMargin,

    "t2_quality_score" ->
      s"""WITH feat AS (
         |  SELECT doc_id,
         |    len(w) AS n_words,
         |    ${hitRatioSql(Stopwords.head._2)} AS stop_ratio,
         |    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
         |      / length(text) AS punct_ratio,
         |    CASE WHEN len(w) = 0 THEN 0.0
         |      ELSE list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w) END AS avg_word_len
         |  FROM ($WordsSql) t)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, stop_ratio, punct_ratio, avg_word_len,
         |  stop_ratio * 0.4 + least(n_words::DOUBLE / 100.0, 1.0) * 0.4 +
         |    (1.0 - punct_ratio) * 0.2 AS quality
         |FROM feat
         |ORDER BY doc_id""".stripMargin,

    "t3_token_count" ->
      s"""SELECT doc_id,
         |  CAST(len(w) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '$TokenRe', 0)) AS BIGINT) AS n_re_tokens
         |FROM ($WordsSql) t
         |ORDER BY doc_id""".stripMargin,

    "t23_token_fertility" ->
      s"""WITH per_doc AS (
         |  SELECT lang,
         |    CAST(len(w) AS BIGINT) AS nw,
         |    CAST(len(regexp_extract_all(text, '$TokenRe', 0)) AS BIGINT) AS nt,
         |    CAST(length(text) AS BIGINT) AS nc
         |  FROM ($WordsSql) t),
         |per_lang AS (
         |  SELECT lang, count(*)::BIGINT AS n_docs,
         |    CAST(sum(nw) AS BIGINT) AS n_words,
         |    CAST(sum(nt) AS BIGINT) AS n_tokens,
         |    CAST(sum(nc) AS BIGINT) AS n_chars
         |  FROM per_doc GROUP BY lang),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM per_lang)
         |SELECT lang, n_docs, n_words, n_tokens, n_chars,
         |  round(n_tokens::DOUBLE / n_words, 6) AS fertility,
         |  round(n_chars::DOUBLE / n_tokens, 6) AS chars_per_token,
         |  round(n_tokens::DOUBLE / tot.tot_tokens, 6) AS token_share
         |FROM per_lang, tot
         |ORDER BY lang""".stripMargin,

    "t4_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_hex,
        |  ('0x' || substring(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fp60
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "t6_pii_redact" ->
      """WITH pii AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' contact user' || doc_id::VARCHAR || '@example.com now' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(
        |        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM pii
        |ORDER BY doc_id""".stripMargin,

    "t7_dup_words" ->
      """WITH w AS (
        |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
        |  CASE WHEN len(w) = 0 THEN 0.0
        |    ELSE 1.0 - len(list_distinct(w))::DOUBLE / len(w) END AS dup_ratio
        |FROM w
        |ORDER BY doc_id""".stripMargin,

    "t5_ngram_topk" ->
      """WITH words AS (
        |  SELECT CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |bigrams AS (
        |  SELECT unnest(list_transform(
        |    generate_series(1, greatest(len(w) - 1, 0)),
        |    i -> array_to_string(w[i:i+1], ' '))) AS bigram
        |  FROM words)
        |SELECT bigram, count(*) AS n
        |FROM bigrams
        |GROUP BY bigram
        |ORDER BY n DESC, bigram
        |LIMIT 20""".stripMargin,

    "t8_sequence_pack" ->
      s"""WITH toks AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS tokens FROM ($WordsSql) t),
         |bucketed AS (
         |  SELECT doc_id, tokens,
         |    ('0x' || substring(md5(doc_id::VARCHAR || '|p'), 1, 15))::BIGINT % $PackParts
         |      AS part_id
         |  FROM toks),
         |packed AS (
         |  SELECT part_id, doc_id, tokens,
         |    COALESCE(sum(tokens) OVER (PARTITION BY part_id ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM bucketed)
         |SELECT CAST(part_id * 1099511627776 + cum_before // $PackBudget AS BIGINT) AS bin_id,
         |  count(*) AS n_docs,
         |  CAST(sum(tokens) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM packed
         |GROUP BY 1
         |ORDER BY bin_id""".stripMargin,

    "t9_stratified_sample" -> {
      val rateCase = SampleRates
        .map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |  CAST(sum(CASE WHEN keep THEN doc_id END) AS BIGINT) AS sampled_id_sum
         |FROM (
         |  SELECT lang, doc_id,
         |    ('0x' || substring(md5(doc_id::VARCHAR || '|s'), 1, 15))::BIGINT % 100 <
         |      CASE lang $rateCase ELSE 0 END AS keep
         |  FROM documents) t
         |GROUP BY lang
         |ORDER BY lang""".stripMargin
    },

    "t10_dup_ngrams" ->
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text || ' ' || text AS text
        |  FROM documents WHERE doc_id % 25 = 0),
        |w AS (
        |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM src),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)),
        |      i -> w[i] || ' ' || w[i+1]) ELSE []::VARCHAR[] END AS g2,
        |    CASE WHEN len(w) >= 3 THEN list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE []::VARCHAR[] END AS g3
        |  FROM w),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(g2) AS BIGINT) AS n_2grams,
        |    CASE WHEN len(g2) = 0 THEN 0.0
        |      ELSE 1.0 - len(list_distinct(g2))::DOUBLE / len(g2) END AS dup2_frac,
        |    CASE WHEN len(g3) = 0 THEN 0.0
        |      ELSE 1.0 - len(list_distinct(g3))::DOUBLE / len(g3) END AS dup3_frac
        |  FROM g)
        |SELECT doc_id, n_2grams, dup2_frac, dup3_frac,
        |  (dup2_frac <= 0.2 AND dup3_frac <= 0.15) AS keep
        |FROM m
        |ORDER BY doc_id""".stripMargin,

    "t12_decontaminate" -> {
      val n = EvalGramN
      s"""WITH w AS (
         |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         |    ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
         |  FROM documents),
         |ev AS (
         |  SELECT doc_id AS eval_id, w[3:14] AS pw FROM w WHERE doc_id % 40 = 1),
         |evg AS (
         |  SELECT DISTINCT eval_id, md5(array_to_string(pw[i:i+${n - 1}], ' ')) AS gh
         |  FROM ev, unnest(generate_series(1, greatest(len(pw) - ${n - 1}, 0))) AS t(i)),
         |corpus AS (
         |  SELECT doc_id, w FROM w
         |  UNION ALL
         |  SELECT eval_id + 200000 AS doc_id,
         |    regexp_split_to_array('pad0 pad1 ' || array_to_string(pw, ' ') || ' pad2 pad3', '\\s+') AS w
         |  FROM ev),
         |tg AS (
         |  SELECT doc_id, md5(array_to_string(w[i:i+${n - 1}], ' ')) AS gh
         |  FROM corpus, unnest(generate_series(1, greatest(len(w) - ${n - 1}, 0))) AS t(i))
         |SELECT doc_id,
         |  CAST(count(DISTINCT gh) AS BIGINT) AS n_hit_grams,
         |  CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_docs
         |FROM tg JOIN evg USING (gh)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    },

    "t13_inverted_index" ->
      s"""WITH w AS (
         |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         |    ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
         |  FROM documents),
         |tf AS (
         |  SELECT term, doc_id, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(w) AS term FROM w) t
         |  GROUP BY 1, 2)
         |SELECT term, CAST(count(*) AS BIGINT) AS df,
         |  CAST(sum(tf) AS BIGINT) AS total_tf,
         |  array_to_string((list(doc_id ORDER BY tf DESC, doc_id))[1:$PostingLen], '|') AS postings
         |FROM tf
         |GROUP BY term
         |ORDER BY term""".stripMargin,

    "t14_bm25_topk" -> {
      val terms = QueryTerms.zipWithIndex
      val tfSql = terms.map { case (t, i) =>
        s"len(list_filter(w, x -> x = '$t'))::DOUBLE AS tf_$i" }.mkString(",\n    ")
      val dfSql = terms.map { case (_, i) =>
        s"sum(CASE WHEN tf_$i > 0 THEN 1.0 ELSE 0.0 END) AS df_$i" }.mkString(",\n    ")
      val scoreSql = terms.map { case (_, i) =>
        s"""ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5)) *
           |    (tf_$i * ${Bm25K1 + 1.0}) /
           |    (tf_$i + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl))""".stripMargin
      }.mkString(" +\n  ")
      s"""WITH w AS (
         |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         |    ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, len(w)::DOUBLE AS dl,
         |    $tfSql
         |  FROM w),
         |s AS (
         |  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl,
         |    $dfSql
         |  FROM f)
         |SELECT doc_id, round($scoreSql, 6) AS bm25
         |FROM f CROSS JOIN s
         |ORDER BY bm25 DESC, doc_id
         |LIMIT $Bm25TopK""".stripMargin
    },

    "t15_lm_quality" ->
      s"""WITH w AS (
         |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         |    ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
         |  FROM documents),
         |corpus AS (
         |  SELECT doc_id, w FROM w
         |  UNION ALL
         |  SELECT doc_id + 400000 AS doc_id,
         |    list_transform(generate_series(0, 19),
         |      i -> 'oov' || ((doc_id + 400000 + i) % 97)::VARCHAR) AS w
         |  FROM documents WHERE doc_id % 30 = 2),
         |train_toks AS (SELECT unnest(w) AS tok FROM w),
         |lm AS (SELECT tok, count(*) AS c FROM train_toks GROUP BY tok),
         |st AS (SELECT count(*) AS n, count(DISTINCT tok) AS v FROM train_toks),
         |toks AS (SELECT doc_id, unnest(w) AS tok FROM corpus),
         |scored AS (
         |  SELECT t.doc_id,
         |    ln((coalesce(lm.c, 0) + 1)::DOUBLE / (st.n + st.v)) AS lp
         |  FROM toks t LEFT JOIN lm ON t.tok = lm.tok CROSS JOIN st)
         |SELECT doc_id, count(*) AS n_tokens,
         |  round(avg(lp), 6) AS avg_logp,
         |  (round(avg(lp), 6) >= $LmKeepFloor) AS keep
         |FROM scored
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    "t28_quality_calibration" ->
      s"""WITH ws AS (
         |  SELECT doc_id, text, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         |    ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
         |  FROM documents),
         |q AS (
         |  SELECT doc_id,
         |    (CASE WHEN len(w) = 0 THEN 0.0
         |      ELSE len(list_filter(w, x ->
         |        list_contains(['the','a','of','and','to'], x)))::DOUBLE / len(w)
         |      END) * 0.4
         |    + least(len(w)::DOUBLE / 100.0, 1.0) * 0.4
         |    + (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
         |        / length(text)) * 0.2 AS quality
         |  FROM ws),
         |train_toks AS (SELECT unnest(w) AS tok FROM ws),
         |lm AS (SELECT tok, count(*) AS c FROM train_toks GROUP BY tok),
         |st AS (SELECT count(*) AS n, count(DISTINCT tok) AS v FROM train_toks),
         |toks AS (SELECT doc_id, unnest(w) AS tok FROM ws),
         |lp AS (
         |  SELECT t.doc_id, round(avg(
         |    ln((coalesce(lm.c, 0) + 1)::DOUBLE / (st.n + st.v))), 6) AS avg_logp
         |  FROM toks t LEFT JOIN lm ON t.tok = lm.tok CROSS JOIN st
         |  GROUP BY t.doc_id),
         |cuts AS (SELECT
         |  quantile_cont(quality, 0.1) AS c1, quantile_cont(quality, 0.2) AS c2,
         |  quantile_cont(quality, 0.3) AS c3, quantile_cont(quality, 0.4) AS c4,
         |  quantile_cont(quality, 0.5) AS c5, quantile_cont(quality, 0.6) AS c6,
         |  quantile_cont(quality, 0.7) AS c7, quantile_cont(quality, 0.8) AS c8,
         |  quantile_cont(quality, 0.9) AS c9
         |  FROM q),
         |dec AS (
         |  SELECT q.doc_id, q.quality, lp.avg_logp,
         |    1 + (CASE WHEN quality > c1 THEN 1 ELSE 0 END)
         |      + (CASE WHEN quality > c2 THEN 1 ELSE 0 END)
         |      + (CASE WHEN quality > c3 THEN 1 ELSE 0 END)
         |      + (CASE WHEN quality > c4 THEN 1 ELSE 0 END)
         |      + (CASE WHEN quality > c5 THEN 1 ELSE 0 END)
         |      + (CASE WHEN quality > c6 THEN 1 ELSE 0 END)
         |      + (CASE WHEN quality > c7 THEN 1 ELSE 0 END)
         |      + (CASE WHEN quality > c8 THEN 1 ELSE 0 END)
         |      + (CASE WHEN quality > c9 THEN 1 ELSE 0 END) AS decile
         |  FROM q JOIN lp USING (doc_id) CROSS JOIN cuts)
         |SELECT CAST(decile AS BIGINT) AS decile, count(*)::BIGINT AS n_docs,
         |  round(avg(quality), 6) AS mean_quality,
         |  round(avg(avg_logp), 6) AS mean_logp
         |FROM dec
         |GROUP BY decile
         |ORDER BY decile""".stripMargin,

    "t16_gopher_rules" -> {
      val stopLits = AllStopwords.map(s => s"'$s'").mkString(", ")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 300000 AS doc_id,
         |    trim(repeat('@#$$%^&*()_+ ', 25)) AS text
         |  FROM documents WHERE doc_id % 25 = 0
         |  UNION ALL
         |  SELECT doc_id + 310000 AS doc_id, 'too short' AS text
         |  FROM documents WHERE doc_id % 40 = 0),
         |w AS (
         |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         |    ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
         |  FROM corpus),
         |f AS (
         |  SELECT doc_id, len(w)::BIGINT AS n_words,
         |    CASE WHEN len(w) = 0 THEN 0.0
         |      ELSE len(array_to_string(w, ''))::DOUBLE / len(w) END AS mean_wlen,
         |    CASE WHEN len(w) = 0 THEN 0.0
         |      ELSE len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(w) END AS alpha_frac,
         |    len(list_filter(w, x -> list_contains([$stopLits], x)))::BIGINT AS stop_hits
         |  FROM w)
         |SELECT doc_id, n_words,
         |  round(mean_wlen, 6) AS mean_wlen,
         |  round(alpha_frac, 6) AS alpha_frac,
         |  n_words BETWEEN $RuleMinWords AND $RuleMaxWords AS rule_nwords,
         |  mean_wlen BETWEEN $RuleMinWlen AND $RuleMaxWlen AS rule_wordlen,
         |  alpha_frac >= $RuleMinAlpha AS rule_alpha,
         |  stop_hits >= 1 AS rule_stop,
         |  (n_words BETWEEN $RuleMinWords AND $RuleMaxWords)
         |    AND (mean_wlen BETWEEN $RuleMinWlen AND $RuleMaxWlen)
         |    AND alpha_frac >= $RuleMinAlpha AND stop_hits >= 1 AS keep
         |FROM f
         |ORDER BY doc_id""".stripMargin
    },

    "t17_mix_weights" -> {
      val targetSql = TargetMix.map { case (l, t) => s"WHEN '$l' THEN $t" }
        .mkString("CASE lang ", " ", " END")
      s"""WITH t AS (
         |  SELECT lang, count(*)::BIGINT AS n_docs,
         |    CAST(sum(CASE WHEN trim(text) = '' THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS tokens
         |  FROM documents GROUP BY lang),
         |s AS (
         |  SELECT lang, n_docs, tokens,
         |    tokens::DOUBLE / sum(tokens) OVER () AS share,
         |    $targetSql AS target
         |  FROM t)
         |SELECT lang, n_docs, tokens,
         |  round(share, 6) AS share, target,
         |  round(least(1.0, target / share), 6) AS weight,
         |  CAST(floor(tokens * least(1.0, target / share)) AS BIGINT) AS eff_tokens
         |FROM s
         |ORDER BY lang""".stripMargin
    },

    "t18_entropy" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 320000 AS doc_id, trim(repeat('spam ', 40)) AS text
         |  FROM documents WHERE doc_id % 45 = 3),
         |w AS (
         |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         |    ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
         |  FROM corpus),
         |tc AS (
         |  SELECT doc_id, tok, count(*) AS c
         |  FROM (SELECT doc_id, unnest(w) AS tok FROM w) t
         |  GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    count(*)::BIGINT AS n_distinct,
         |    sum(c::DOUBLE * ln(c::DOUBLE)) AS clc
         |  FROM tc GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_distinct,
         |  round(ln(n_tokens::DOUBLE) - clc / n_tokens, 6) AS entropy,
         |  (round(ln(n_tokens::DOUBLE) - clc / n_tokens, 6) >= $EntropyFloor) AS keep
         |FROM agg
         |ORDER BY doc_id""".stripMargin,

    "t19_zipf_audit" ->
      """WITH w AS (
        |  SELECT CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |counts AS (
        |  SELECT tok AS token, count(*) AS n
        |  FROM (SELECT unnest(w) AS tok FROM w) t
        |  GROUP BY tok),
        |tot AS (SELECT sum(n) AS total FROM counts),
        |ranked AS (
        |  SELECT token, n,
        |    row_number() OVER (ORDER BY n DESC, token) AS rank
        |  FROM counts),
        |banded AS (
        |  SELECT CASE WHEN rank = 1 THEN '01_top1'
        |              WHEN rank <= 10 THEN '02_top10'
        |              WHEN rank <= 100 THEN '03_top100'
        |              ELSE '04_tail' END AS band, n
        |  FROM ranked)
        |SELECT band, count(*)::BIGINT AS n_types,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  round(sum(n)::DOUBLE / total, 6) AS token_share
        |FROM banded, tot
        |GROUP BY band, total
        |ORDER BY band""".stripMargin,

    "t20_merge_pairs" ->
      """WITH w AS (
        |  SELECT unnest(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(trim(text), '\s+') END) AS w
        |  FROM documents),
        |pairs AS (
        |  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
        |    i -> substring(w, i, 2))) AS pair
        |  FROM w WHERE length(w) >= 2)
        |SELECT pair, count(*)::BIGINT AS n
        |FROM pairs
        |GROUP BY pair
        |ORDER BY n DESC, pair
        |LIMIT 20""".stripMargin,

    // Three unrolled BPE rounds over the same spaced-token encoding;
    // merge application is the same non-overlapping replace().
    "t24_bpe_train" ->
      """WITH w AS (
        |  SELECT unnest(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(trim(text), '\s+') END) AS w
        |  FROM documents),
        |r0 AS (SELECT regexp_replace(w, '(.)', ' \1 ', 'g') AS s FROM w),
        |base AS (
        |  SELECT CAST(sum(len(string_split(trim(s), '  '))) AS BIGINT) AS base_toks
        |  FROM r0),
        |p1 AS (
        |  SELECT pair, count(*)::BIGINT AS n FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1])) AS pair
        |    FROM (SELECT string_split(trim(s), '  ') AS t FROM r0) t0) x
        |  GROUP BY pair ORDER BY n DESC, pair LIMIT 1),
        |r1 AS (
        |  SELECT replace(s, ' ' || replace(p.pair, ' ', '  ') || ' ',
        |    ' ' || replace(p.pair, ' ', '') || ' ') AS s
        |  FROM r0 CROSS JOIN p1 p),
        |s1 AS (
        |  SELECT 1::BIGINT AS round, (SELECT pair FROM p1) AS merged_pair,
        |    (SELECT n FROM p1) AS pair_n,
        |    CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size,
        |    count(*)::BIGINT AS n_tokens
        |  FROM (SELECT unnest(string_split(trim(s), '  ')) AS tok FROM r1) t),
        |p2 AS (
        |  SELECT pair, count(*)::BIGINT AS n FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1])) AS pair
        |    FROM (SELECT string_split(trim(s), '  ') AS t FROM r1) t1) x
        |  GROUP BY pair ORDER BY n DESC, pair LIMIT 1),
        |r2 AS (
        |  SELECT replace(s, ' ' || replace(p.pair, ' ', '  ') || ' ',
        |    ' ' || replace(p.pair, ' ', '') || ' ') AS s
        |  FROM r1 CROSS JOIN p2 p),
        |s2 AS (
        |  SELECT 2::BIGINT AS round, (SELECT pair FROM p2) AS merged_pair,
        |    (SELECT n FROM p2) AS pair_n,
        |    CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size,
        |    count(*)::BIGINT AS n_tokens
        |  FROM (SELECT unnest(string_split(trim(s), '  ')) AS tok FROM r2) t),
        |p3 AS (
        |  SELECT pair, count(*)::BIGINT AS n FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1])) AS pair
        |    FROM (SELECT string_split(trim(s), '  ') AS t FROM r2) t2) x
        |  GROUP BY pair ORDER BY n DESC, pair LIMIT 1),
        |r3 AS (
        |  SELECT replace(s, ' ' || replace(p.pair, ' ', '  ') || ' ',
        |    ' ' || replace(p.pair, ' ', '') || ' ') AS s
        |  FROM r2 CROSS JOIN p3 p),
        |s3 AS (
        |  SELECT 3::BIGINT AS round, (SELECT pair FROM p3) AS merged_pair,
        |    (SELECT n FROM p3) AS pair_n,
        |    CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size,
        |    count(*)::BIGINT AS n_tokens
        |  FROM (SELECT unnest(string_split(trim(s), '  ')) AS tok FROM r3) t)
        |SELECT round, merged_pair, pair_n, vocab_size, n_tokens,
        |  round(n_tokens::DOUBLE / (SELECT base_toks FROM base), 6) AS compression
        |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |  UNION ALL SELECT * FROM s3) u
        |ORDER BY round""".stripMargin,

    "t22_heavy_hitters" ->
      s"""WITH toks AS (
         |  SELECT unnest(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         |    ELSE regexp_split_to_array(trim(text), '\\s+') END) AS w
         |  FROM documents),
         |grid AS (
         |  SELECT r, b, count(*) AS bc FROM (
         |    SELECT x.r,
         |      ('0x' || substring(md5('cms' || x.r::VARCHAR || '|' || w), 1, 15))::BIGINT
         |        % $CmsWidth AS b
         |    FROM toks CROSS JOIN unnest(generate_series(0, ${CmsDepth - 1})) AS x(r)) g
         |  GROUP BY r, b),
         |top AS (
         |  SELECT w, count(*)::BIGINT AS exact FROM toks GROUP BY w
         |  ORDER BY exact DESC, w LIMIT 20),
         |est AS (
         |  SELECT t.w, t.exact, min(g.bc) AS est
         |  FROM top t
         |  CROSS JOIN unnest(generate_series(0, ${CmsDepth - 1})) AS x(r)
         |  JOIN grid g ON g.r = x.r
         |    AND g.b = ('0x' || substring(md5('cms' || x.r::VARCHAR || '|' || t.w), 1, 15))::BIGINT
         |      % $CmsWidth
         |  GROUP BY t.w, t.exact)
         |SELECT w, exact, CAST(est AS BIGINT) AS est,
         |  est >= exact AS sound,
         |  round((est - exact)::DOUBLE / exact, 6) AS overcount_frac
         |FROM est
         |ORDER BY exact DESC, w""".stripMargin,

    // Same planted statement lines, same four signals; replace() for
    // the literal ';' strip, regexp_replace(..., 'g') for the char
    // classes, and the shared stopword-ratio shape for keywords.
    "t25_code_detect" ->
      s"""WITH src AS (
         |  SELECT doc_id, text,
         |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         |      ELSE regexp_split_to_array(trim(text), '\\s+') END AS pw
         |  FROM documents),
         |corpus AS (
         |  SELECT doc_id, text FROM src
         |  UNION ALL
         |  SELECT doc_id + 400000,
         |    array_to_string(list_transform(pw,
         |      x -> 'if (' || x || ') { var ' || x || ' = 1; }'), ' ')
         |  FROM src WHERE doc_id % 7 = 0),
         |sig AS (
         |  SELECT doc_id, length(text)::BIGINT AS n_chars,
         |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         |      ELSE regexp_split_to_array(trim(text), '\\s+') END AS w,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE (length(text) - length(replace(text, ';', '')))::DOUBLE
         |        / length(text) END AS semi_density,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE (length(text) - length(regexp_replace(text, '[{}]', '', 'g')))::DOUBLE
         |        / length(text) END AS brace_density,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE
         |        / length(text) END AS symbol_ratio
         |  FROM corpus),
         |scored AS (
         |  SELECT doc_id, n_chars, semi_density, brace_density, symbol_ratio,
         |    ${hitRatioSql(Seq("if", "else", "var", "return", "function", "def"))} AS kw_ratio
         |  FROM sig)
         |SELECT doc_id, n_chars,
         |  round(semi_density, 6) AS semi_density,
         |  round(brace_density, 6) AS brace_density,
         |  round(kw_ratio, 6) AS kw_ratio,
         |  round(symbol_ratio, 6) AS symbol_ratio,
         |  round(semi_density * 4.0 + brace_density * 3.0 + kw_ratio + symbol_ratio,
         |    6) AS code_score,
         |  round(semi_density * 4.0 + brace_density * 3.0 + kw_ratio + symbol_ratio,
         |    6) > 0.3 AS is_code,
         |  doc_id >= 400000 AS is_planted,
         |  (round(semi_density * 4.0 + brace_density * 3.0 + kw_ratio + symbol_ratio,
         |    6) > 0.3) = (doc_id >= 400000) AS correct
         |FROM scored
         |ORDER BY doc_id""".stripMargin,

    // Same eval excerpt (words 5–25 of every 13th doc), same stride-1
    // window digests, same interval merge as the d20 oracle.
    "t26_span_decontam" ->
      s"""WITH src AS (
         |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         |    ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
         |  FROM documents),
         |sized AS (SELECT doc_id, w, len(w)::BIGINT AS n_words FROM src),
         |ev AS (
         |  SELECT w[5:25] AS ew FROM src WHERE doc_id % 13 = 0 AND len(w[5:25]) >= 10),
         |evwins AS (
         |  SELECT DISTINCT md5(array_to_string(ew[i : i + 9], ' ')) AS h
         |  FROM ev, unnest(generate_series(1, CAST(len(ew) AS INT) - 9)) AS t(i)),
         |wins AS (
         |  SELECT doc_id, n_words, i::BIGINT AS i,
         |    md5(array_to_string(w[i : i + 9], ' ')) AS h
         |  FROM sized,
         |    unnest(generate_series(1, CAST(n_words AS INT) - 9)) AS t(i)
         |  WHERE n_words >= 10),
         |dw AS (
         |  SELECT w.doc_id, w.n_words, w.i,
         |    CASE WHEN w.i - lag(w.i) OVER (PARTITION BY w.doc_id ORDER BY w.i)
         |      > 10 THEN 1 ELSE 0 END AS newspan
         |  FROM wins w JOIN evwins USING (h)),
         |isl AS (
         |  SELECT doc_id, n_words, i,
         |    sum(newspan) OVER (PARTITION BY doc_id ORDER BY i) AS grp
         |  FROM dw),
         |spans AS (
         |  SELECT doc_id, n_words, grp, min(i) AS s, max(i) + 9 AS e,
         |    count(*)::BIGINT AS nw
         |  FROM isl GROUP BY doc_id, n_words, grp)
         |SELECT doc_id, n_words,
         |  CAST(sum(nw) AS BIGINT) AS n_contam_windows,
         |  count(*)::BIGINT AS n_spans,
         |  CAST(sum(e - s + 1) AS BIGINT) AS covered_words,
         |  round(sum(e - s + 1)::DOUBLE / n_words, 6) AS contam_frac,
         |  CASE WHEN round(sum(e - s + 1)::DOUBLE / n_words, 6) > 0.3
         |    THEN 'drop_doc' ELSE 'redact_spans' END AS action
         |FROM spans
         |GROUP BY doc_id, n_words
         |ORDER BY doc_id""".stripMargin,

    "t27_contam_provenance" ->
      s"""WITH base AS (
         |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         |    ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
         |  FROM documents),
         |src AS (
         |  SELECT doc_id, w FROM base
         |  UNION ALL
         |  SELECT doc_id + 800000 AS doc_id,
         |    regexp_split_to_array(
         |      'zlkpad0 zlkpad1 zlkpad2 zlkpad3 ' || array_to_string(w[5:25], ' ')
         |        || ' zlktail0 zlktail1 zlktail2', '\\s+') AS w
         |  FROM base WHERE doc_id % 39 = 0),
         |ev AS (
         |  SELECT doc_id AS eval_id, w[5:25] AS ew FROM base
         |  WHERE doc_id % 13 = 0 AND len(w[5:25]) >= 10),
         |evw AS (
         |  SELECT DISTINCT eval_id, md5(array_to_string(ew[i : i + 9], ' ')) AS h
         |  FROM ev, unnest(generate_series(1, CAST(len(ew) AS INT) - 9)) AS t(i)),
         |dw AS (
         |  SELECT doc_id, i::BIGINT AS i, md5(array_to_string(w[i : i + 9], ' ')) AS h
         |  FROM src, unnest(generate_series(1, CAST(len(w) AS INT) - 9)) AS t(i)
         |  WHERE len(w) >= 10)
         |SELECT dw.doc_id, evw.eval_id,
         |  count(*)::BIGINT AS n_shared_windows,
         |  CAST(min(i) AS BIGINT) AS first_i, CAST(max(i) AS BIGINT) AS last_i
         |FROM dw JOIN evw USING (h)
         |WHERE dw.doc_id <> evw.eval_id
         |GROUP BY dw.doc_id, evw.eval_id
         |ORDER BY dw.doc_id, evw.eval_id""".stripMargin,

    "t21_segment_dedup" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN '$SegBoiler ' || text ELSE text END AS text
         |  FROM documents),
         |corpus AS (
         |  SELECT doc_id, text FROM base
         |  UNION ALL
         |  SELECT doc_id + 330000, text FROM base WHERE doc_id % 10 = 0),
         |words AS (
         |  SELECT doc_id,
         |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         |      ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
         |  FROM corpus),
         |segs AS (
         |  SELECT doc_id,
         |    md5(array_to_string(w[i*$SegLen+1 : i*$SegLen+$SegLen], ' ')) AS h
         |  FROM words,
         |    unnest(generate_series(0, CAST(ceil(len(w) / $SegLen.0) AS INT) - 1)) AS t(i)
         |  WHERE len(w) > 0),
         |perseg AS (SELECT h, count(DISTINCT doc_id) AS nd FROM segs GROUP BY h)
         |SELECT s.doc_id,
         |  count(*)::BIGINT AS n_segs,
         |  CAST(sum(CASE WHEN p.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
         |  round(sum(CASE WHEN p.nd >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS dup_ratio,
         |  round(sum(CASE WHEN p.nd >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) <= 0.5 AS keep
         |FROM segs s JOIN perseg p USING (h)
         |GROUP BY s.doc_id
         |ORDER BY s.doc_id""".stripMargin,

    // t29: same segment grammar as t21's oracle (the shared SegLen
    // windows), keyed per source. The filter uses the UNROUNDED
    // df/n_src_docs ratio exactly as the Spark side does — identical
    // IEEE division, so the >= 0.3 cut agrees bit-for-bit; the
    // emitted share is rounded after the cut.
    "t29_boilerplate" ->
      s"""WITH base AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 3 <> 2
         |      THEN 'official notice from ' || source ||
         |        ' all content rights reserved worldwide daily ' || text
         |      ELSE text END AS text
         |  FROM documents),
         |words AS (
         |  SELECT doc_id, source,
         |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         |      ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
         |  FROM base),
         |segs AS (
         |  SELECT doc_id, source,
         |    md5(array_to_string(w[i*$SegLen+1 : i*$SegLen+$SegLen], ' ')) AS h
         |  FROM words,
         |    unnest(generate_series(0, CAST(ceil(len(w) / $SegLen.0) AS INT) - 1)) AS t(i)
         |  WHERE len(w) > 0),
         |perseg AS (
         |  SELECT source, h, count(DISTINCT doc_id) AS df
         |  FROM segs GROUP BY 1, 2),
         |src AS (
         |  SELECT source, count(DISTINCT doc_id) AS n_src_docs
         |  FROM base GROUP BY 1)
         |SELECT source, h AS seg_hash, df::BIGINT AS df,
         |  n_src_docs::BIGINT AS n_src_docs,
         |  round(df::DOUBLE / n_src_docs, 6) AS share
         |FROM perseg JOIN src USING (source)
         |WHERE df::DOUBLE / n_src_docs >= 0.3
         |ORDER BY source, seg_hash""".stripMargin,

    // t32: t29's mining CTEs verbatim, then the strip — kept text is
    // the non-template segments re-joined in position order (ORDER BY
    // i inside string_agg; the CASE's missing ELSE yields NULLs that
    // the aggregate skips), and its md5 must equal the Spark side's
    // digest of the expression-filtered segment array. Empty and
    // fully-stripped docs come back via the LEFT JOIN with zero
    // counts and a NULL digest.
    "t32_template_strip" ->
      s"""WITH base AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 3 <> 2
         |      THEN 'official notice from ' || source ||
         |        ' all content rights reserved worldwide daily ' || text
         |      ELSE text END AS text
         |  FROM documents),
         |words AS (
         |  SELECT doc_id, source,
         |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         |      ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
         |  FROM base),
         |segs AS (
         |  SELECT doc_id, source, i,
         |    array_to_string(w[i*$SegLen+1 : i*$SegLen+$SegLen], ' ') AS seg,
         |    md5(array_to_string(w[i*$SegLen+1 : i*$SegLen+$SegLen], ' ')) AS h
         |  FROM words,
         |    unnest(generate_series(0, CAST(ceil(len(w) / $SegLen.0) AS INT) - 1)) AS t(i)
         |  WHERE len(w) > 0),
         |perseg AS (
         |  SELECT source, h, count(DISTINCT doc_id) AS df
         |  FROM segs GROUP BY 1, 2),
         |src AS (
         |  SELECT source, count(DISTINCT doc_id) AS n_src_docs
         |  FROM base GROUP BY 1),
         |tpl AS (
         |  SELECT source, h FROM perseg JOIN src USING (source)
         |  WHERE df::DOUBLE / n_src_docs >= 0.3),
         |agg AS (
         |  SELECT s.doc_id,
         |    count(*)::BIGINT AS n_segs,
         |    CAST(sum(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_tpl_segs,
         |    string_agg(CASE WHEN t.h IS NULL THEN s.seg END, ' ' ORDER BY s.i)
         |      AS kept_text
         |  FROM segs s LEFT JOIN tpl t ON s.source = t.source AND s.h = t.h
         |  GROUP BY s.doc_id)
         |SELECT w.doc_id,
         |  COALESCE(a.n_segs, 0)::BIGINT AS n_segs,
         |  COALESCE(a.n_tpl_segs, 0)::BIGINT AS n_tpl_segs,
         |  CASE WHEN a.kept_text IS NULL OR a.kept_text = '' THEN 0
         |    ELSE len(regexp_split_to_array(a.kept_text, ' ')) END::BIGINT
         |    AS n_words_kept,
         |  (len(w.w) - CASE WHEN a.kept_text IS NULL OR a.kept_text = '' THEN 0
         |    ELSE len(regexp_split_to_array(a.kept_text, ' ')) END)::BIGINT
         |    AS n_words_stripped,
         |  CASE WHEN a.kept_text IS NOT NULL AND a.kept_text <> ''
         |    THEN md5(a.kept_text) END AS kept_md5,
         |  round(CASE WHEN a.kept_text IS NULL OR a.kept_text = '' THEN 0.0
         |    ELSE (length(a.kept_text) -
         |      length(regexp_replace(a.kept_text, '[.,!?;:]', '', 'g')))::DOUBLE
         |      / length(a.kept_text) END, 6) AS punct_ratio_kept
         |FROM words w LEFT JOIN agg a USING (doc_id)
         |ORDER BY w.doc_id""".stripMargin,

    // t30: t24's oracle structure carried per occurrence with doc_id,
    // then rolled up per doc. The merge derivation is occurrence-
    // counted here and type-weighted on the Spark side — equivalent
    // sums, the same equivalence t24 already pins. Integer counts
    // divide identically in both engines; empty docs come back via
    // the LEFT JOIN with zero counts and NULL rates.
    "t30_bpe_apply" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(trim(text), '\s+') END) AS w
        |  FROM documents),
        |r0 AS (SELECT doc_id, w, regexp_replace(w, '(.)', ' \1 ', 'g') AS s FROM w),
        |p1 AS (
        |  SELECT pair FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1])) AS pair
        |    FROM (SELECT string_split(trim(s), '  ') AS t FROM r0) t0) x
        |  GROUP BY pair ORDER BY count(*) DESC, pair LIMIT 1),
        |r1 AS (
        |  SELECT doc_id, w, replace(s, ' ' || replace(p.pair, ' ', '  ') || ' ',
        |    ' ' || replace(p.pair, ' ', '') || ' ') AS s
        |  FROM r0 CROSS JOIN p1 p),
        |p2 AS (
        |  SELECT pair FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1])) AS pair
        |    FROM (SELECT string_split(trim(s), '  ') AS t FROM r1) t1) x
        |  GROUP BY pair ORDER BY count(*) DESC, pair LIMIT 1),
        |r2 AS (
        |  SELECT doc_id, w, replace(s, ' ' || replace(p.pair, ' ', '  ') || ' ',
        |    ' ' || replace(p.pair, ' ', '') || ' ') AS s
        |  FROM r1 CROSS JOIN p2 p),
        |p3 AS (
        |  SELECT pair FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1])) AS pair
        |    FROM (SELECT string_split(trim(s), '  ') AS t FROM r2) t2) x
        |  GROUP BY pair ORDER BY count(*) DESC, pair LIMIT 1),
        |r3 AS (
        |  SELECT doc_id, w, replace(s, ' ' || replace(p.pair, ' ', '  ') || ' ',
        |    ' ' || replace(p.pair, ' ', '') || ' ') AS s
        |  FROM r2 CROSS JOIN p3 p),
        |perdoc AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_words,
        |    CAST(sum(len(w)) AS BIGINT) AS n_chars,
        |    CAST(sum(len(string_split(trim(s), '  '))) AS BIGINT) AS n_tokens
        |  FROM r3 GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(p.n_words, 0) AS n_words,
        |  coalesce(p.n_chars, 0) AS n_chars, coalesce(p.n_tokens, 0) AS n_tokens,
        |  CASE WHEN p.n_words > 0 THEN round(p.n_tokens::DOUBLE / p.n_words, 6) END AS fertility,
        |  CASE WHEN p.n_chars > 0 THEN round(p.n_tokens::DOUBLE / p.n_chars, 6) END AS compression
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // t31: the extraction has a closed form (the markup is plant-
    // built around it), so this oracle rebuilds the extracted text
    // WITHOUT touching any HTML and emits its md5 — equality with
    // the Spark side's digest (computed by the real state-machine
    // extractor over the real page) proves raw-text containment,
    // comment skipping, quote-aware tag scanning, entity decoding,
    // block segmentation, and whitespace collapse byte-for-byte.
    // Counts are integers: no rounding surface.
    "t31_html_extract" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(range(0, CAST(20 + doc_id % 11 AS INTEGER)),
        |      j -> 'v' || lpad(((doc_id * 5 + j * 17) % 60)::VARCHAR, 2, '0')), ' ') AS para
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    'Doc ' || doc_id || ' & friends' AS title,
        |    'Doc ' || doc_id || ' & friends' || chr(10) ||
        |      'Heading ' || doc_id || chr(10) || para || chr(10) ||
        |      'Tail <' || (doc_id % 7) || '> end link' || doc_id || ' AB' AS ftext
        |  FROM p)
        |SELECT doc_id, title, CAST(4 AS BIGINT) AS n_blocks,
        |  CAST(31 + doc_id % 11 AS BIGINT) AS n_words,
        |  CAST(length(ftext) AS BIGINT) AS n_chars,
        |  md5(ftext) AS text_md5,
        |  true AS matches_plant
        |FROM f
        |ORDER BY doc_id""".stripMargin
  )
}
