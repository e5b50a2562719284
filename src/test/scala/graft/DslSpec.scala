package graft

import org.apache.spark.sql.functions._
import graft.dsl._

/** The Column-API facade must be a TRANSPARENT skin: every method
  * delegates to the same code path the oracle-checked pack queries
  * run, so facade compositions must reproduce pack outputs exactly
  * (not approximately) on the shared test tables. */
class DslSpec extends SparkSuite {

  test("facade sessionize + agg reproduces q43_sessionize row for row") {
    val gapUs = 30L * 60L * 1000000L
    val viaDsl = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .sessionize("user_id", "ts", "event_id", gapUs)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        (max(expr("unix_micros(ts)")) - min(expr("unix_micros(ts)"))).as("duration_us"),
        round(sum(col("value")), 6).as("session_value"))
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("duration_us"), col("session_value"))
      .orderBy(col("user_id"), col("session_idx"))
      .collect()
    val viaPack = SparkEntry.queries("q43_sessionize")(spark, sf).collect()
    assert(viaDsl.nonEmpty && viaDsl.toSeq === viaPack.toSeq)
  }

  test("dedupExact keeps exactly the min-id survivor per normalized text") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    // plant exact copies (whitespace-noised: normalization must see
    // through them) of 20 docs under fresh higher ids
    val copies = docs.orderBy(col("doc_id")).limit(20)
      .select((col("doc_id") + maxId + 1).as("doc_id"),
        concat(lit("  "), col("text"), lit(" \t")).as("text"))
    val corpus = docs.unionByName(copies)
    val kept = corpus.dedupExact()
    // every planted copy must lose to its lower-id original
    assert(kept.filter(col("doc_id") > maxId).count() === 0)
    // survivors are unique per digest and nothing else was dropped
    val distinctDigests = corpus
      .select(functions.Portable.md5hex(
        functions.Portable.normText(col("text"))).as("h")).distinct().count()
    assert(kept.count() === distinctDigests)
    // schema passes through untouched
    assert(kept.columns.toSeq === Seq("doc_id", "text"))
    // custom column names keep the same ids under the caller's schema
    val keptRenamed = corpus.select(col("doc_id").as("id"), col("text").as("body"))
      .dedupExact("id", "body")
    assert(keptRenamed.columns.toSeq === Seq("id", "body"))
    def ids(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col(c)).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(keptRenamed, "id") === ids(kept, "doc_id"))
  }

  test("nearDupPairs surfaces every planted near-identical copy") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(length(col("text")) > 50)
    val maxId = Tables.documents(spark, sf).agg(max(col("doc_id"))).head.getLong(0)
    val copies = docs.orderBy(col("doc_id")).limit(20)
      .select((col("doc_id") + maxId + 1).as("doc_id"), col("text"))
    val pairs = docs.unionByName(copies).nearDupPairs().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = docs.orderBy(col("doc_id")).limit(20)
      .select(col("doc_id")).collect().map(_.getLong(0))
      .map(id => (id, id + maxId + 1)).toSet
    // identical text ⇒ identical signature ⇒ all 4 bands agree
    assert((planted -- pairs).isEmpty,
      s"missed planted dup pairs: ${(planted -- pairs).take(3)}")
    // orientation invariant holds for everything surfaced
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("re-banded screens nest: every 4x4 candidate pair is an 8x2 candidate pair") {
    // the d22 deployment seam: a 4-slot band match implies both of
    // its 2-slot halves match, so widening the layout from 4x4 to
    // 8x2 can only ADD candidate pairs — the containment that makes
    // re-pointing the screens at a chosen layout safe to roll out
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(length(col("text")) > 50)
    val corpus = docs.unionByName(
      docs.limit(15).select((col("doc_id") + 900000L).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text")))
    val at44 = corpus.nearDupPairs().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val at82 = corpus.nearDupPairs(bands = 8, rowsPerBand = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((at44 -- at82).isEmpty,
      s"4x4 pairs missing at 8x2: ${(at44 -- at82).take(3)}")
    assert(at82.size >= at44.size)
    // explicit default args reproduce the default screen exactly
    val explicit = corpus.nearDupPairs(bands = 4, rowsPerBand = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(explicit === at44)
  }

  test("column kernels match their pack-side formulations") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).limit(100)
    // minhashSig ≡ d2's signature components
    val viaDsl = docs.select(col("doc_id"), col("text").minhashSig().as("sig"))
    val viaPack = docs.minhashSignatures()
    val joined = viaDsl.join(viaPack, "doc_id")
    val agree = joined.filter((0 until 16).map(i =>
      col("sig").getItem(i) === col(s"s$i")).reduce(_ && _)).count()
    assert(agree === joined.count() && agree > 0)
    // dot/cosine on a known pair
    val v = spark.sql(
      "SELECT array(1.0D, 2.0D, 2.0D) AS a, array(2.0D, 0.0D, 1.0D) AS b")
    val r = v.select(col("a").dot(col("b")).as("d"),
      col("a").l2norm.as("na"), col("a").cosine(col("b")).as("c")).head
    assert(r.getDouble(0) === 4.0)
    assert(math.abs(r.getDouble(1) - 3.0) < 1e-12)
    assert(math.abs(r.getDouble(2) - 4.0 / (3.0 * math.sqrt(5.0))) < 1e-12)
  }

  test("ivfPqIndex facade builds, serves, and absorbs through the a18 path") {
    import graft.queries.Similarity
    val expected = SparkEntry.queries("a18_ivf_pq_serve")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(expected.nonEmpty)

    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val ix = emb.ivfPqIndex()
    // same acceptance-gate probe set as the batch a18 query
    val probeIds = Similarity.hashTopK(Similarity.vecs(spark, sf), "probe", 5)
      .select(col("vec_id"))
    val got = ix.serve(emb.join(probeIds, "vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === expected)

    // absorb = the no-retrain insert path: geometry frozen, the
    // index's posting lists and code table grow by exactly the delta
    val base = emb.filter(col("vec_id") % 7 =!= 3L)
    val delta = emb.filter(col("vec_id") % 7 === 3L)
    val grown = base.ivfPqIndex().absorb(delta)
    assert(grown.assigned.count() === emb.count())
    assert(grown.cents.collect().toSeq ===
      base.ivfPqIndex().cents.collect().toSeq)

    // compact = the maintenance rewrite: delta segments fold away for
    // compact cells, membership untouched (delegates to compactIndex,
    // whose full contract the PipelineSpec artifact test pins)
    val policy = Similarity.compactPolicyOf(
      Similarity.vecs(spark, sf), col("vec_id") % 7 === 3L)
    val compacted = grown.compact(policy)
    assert(compacted.assigned.count() === emb.count())
    assert(compacted.assigned.filter(col("seg") =!= 0).count() <=
      grown.assigned.filter(col("seg") =!= 0).count())

    // rebuild = the retrain rewrite: delegates to rebuildCells, whose
    // full contract the PipelineSpec artifact test pins — here just
    // the facade seams: membership conserved, flagged cells folded to
    // base, codes untouched
    val rebuilt = grown.rebuild(policy, emb)
    assert(rebuilt.assigned.count() === emb.count())
    val flaggedCells = policy.filter(col("action") === "rebuild")
      .select(col("cell")).collect().map(_.getLong(0)).toSet
    if (flaggedCells.nonEmpty)
      assert(rebuilt.assigned.filter(col("cell").isInCollection(flaggedCells))
        .filter(col("seg") =!= 0).count() === 0L)
    // both directions: a rebuild that LOST code rows would keep the
    // one-way exceptAll at zero
    assert(rebuilt.codes.exceptAll(grown.codes).count() === 0L)
    assert(grown.codes.exceptAll(rebuilt.codes).count() === 0L)
  }

  test("autoJoinSkewed and joinAsOf facades delegate intact") {
    import spark.implicits._
    val fact = Seq((1L, "x"), (1L, "y"), (2L, "z")).toDF("k", "v")
    val dim = Seq((1L, "A"), (2L, "B")).toDF("k", "name")
    val got = fact.autoJoinSkewed(dim, "k")
      .select(col("k"), col("v"), col("name"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set((1L, "x", "A"), (1L, "y", "A"), (2L, "z", "B")))

    val quotes = Seq((1L, 10L, 99.0), (1L, 20L, 101.0)).toDF("id", "ts", "price")
    val trades = Seq((1L, 15L), (1L, 25L)).toDF("id", "ts")
    val asof = trades.joinAsOf(quotes, "id", "ts", Seq("price"))
      .select(col("ts"), col("asof_price"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(asof === Set((15L, 99.0), (25L, 101.0)))
  }

  test("bloomFilter/bloomProbe facades delegate to the d19 helpers intact") {
    val docs = Tables.documents(spark, sf).limit(100)
    val bloom = docs.bloomFilter()
    // identical to the pack-side construction
    val packBloom = graft.queries.Dedup.bloomOf(docs.select(
      graft.functions.Portable.md5hex(
        graft.functions.Portable.normText(col("text"))).as("h")))
    assert(bloom.exceptAll(packBloom).isEmpty && packBloom.exceptAll(bloom).isEmpty)
    // members always predicted (no false negatives through the facade)
    val probed = docs.bloomProbe(bloom)
    assert(probed.filter(!col("predicted_dup")).count() === 0)
    assert(probed.count() === docs.count())
    // the verdict is ADDED to the caller's frame — no column dropped
    assert(docs.columns.toSet.subsetOf(probed.columns.toSet))
  }

  test("spanDedup facade finds an embedded copied passage as its maximal span") {
    import spark.implicits._
    val hist = (1 to 40).map(i => s"hx$i")
    val corpus = Seq(
      (1L, hist.mkString(" ")),
      (2L, ((1 to 7).map(i => s"nv$i") ++ hist.take(30) ++
        (1 to 13).map(i => s"tl$i")).mkString(" ")),
      (3L, (1 to 45).map(i => s"pu$i").mkString(" "))).toDF("doc_id", "text")
    val got = corpus.spanDedup().collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_spans"),
        r.getAs[Long]("covered_words"), r.getAs[Boolean]("keep")))).toMap
    // batch span dedup is symmetric: BOTH sides of the shared 30
    // words flag; the novel doc does not appear at all
    assert(got(1L) === ((1L, 30L, false)))
    assert(got(2L) === ((1L, 30L, false)))
    assert(!got.contains(3L))
  }

  test("decontamSpans facade reproduces the pack t26 table against the same eval set") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // the pack's eval set: every 13th doc's words 5–25, as eval TEXTS
    val evalDocs = docs.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id"),
        array_join(slice(functions.Portable.words(col("text")), 5, 21), " ")
          .as("text"))
      .filter(size(functions.Portable.words(col("text"))) >= 10)
    val viaDsl = docs.decontamSpans(evalDocs)
      .orderBy(col("doc_id")).collect()
    val viaPack = SparkEntry.queries("t26_span_decontam")(spark, sf).collect()
    assert(viaDsl.nonEmpty && viaDsl.toSeq === viaPack.toSeq)
  }

  test("sketchFences facade equals the q47 fence columns per group") {
    val fences = Tables.events(spark, sf).sketchFences("event_type", "value")
      .select(col("event_type"), round(col("q25"), 6).as("q25"),
        round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"))
      .orderBy(col("event_type")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val pack = SparkEntry.queries("q47_sketch_outliers")(spark, sf)
      .orderBy(col("event_type")).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(4), r.getDouble(5)))
    assert(fences.nonEmpty && fences.toSeq === pack.toSeq)
  }

  test("contamProvenance facade reproduces the pack t27 table against the same eval set") {
    import graft.functions.Portable
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // the pack's corpus: docs + its planted leaks; the pack's eval
    // side: every 13th doc's words 5-25 (expressed here as documents)
    val planted = docs.filter(col("doc_id") % 39 === 0)
      .select((col("doc_id") + 800000L).as("doc_id"),
        concat_ws(" ", lit("zlkpad0 zlkpad1 zlkpad2 zlkpad3"),
          concat_ws(" ", slice(Portable.words(col("text")), 5, 21)),
          lit("zlktail0 zlktail1 zlktail2")).as("text"))
    val evalDocs = docs.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id"),
        concat_ws(" ", slice(Portable.words(col("text")), 5, 21)).as("text"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val viaDsl = docs.unionAll(planted).contamProvenance(evalDocs)
      .collect().map(key).toSet
    val viaPack = SparkEntry.queries("t27_contam_provenance")(spark, sf)
      .collect().map(key).toSet
    assert(viaDsl === viaPack)
  }

  test("snapshotDiff facade reproduces the pack p10 table for the same candidate") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val next = docs.filter(col("doc_id") % 23 =!= 5)
      .withColumn("text", when(col("doc_id") % 17 === 3,
        concat(col("text"), lit(" revision two"))).otherwise(col("text")))
      .unionAll(docs.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 900000L).as("doc_id"),
          concat(lit("fresh crawl "), col("text")).as("text")))
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2))
    val viaDsl = docs.snapshotDiff(next).collect().map(key).toSet
    val viaPack = SparkEntry.queries("p10_snapshot_diff")(spark, sf)
      .collect().map(key).toSet
    assert(viaDsl === viaPack)
  }

  test("serveDrift facade reproduces the pack a30 table on the embeddings frame") {
    val viaDsl = Tables.embeddings(spark, sf)
      .serveDrift(pmod(col("vec_id"), lit(7L)) === 3L)
      .collect().map(_.toSeq).toSet
    val viaPack = SparkEntry.queries("a30_serve_drift")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(viaDsl === viaPack && viaDsl.nonEmpty)
  }

  test("imageStats facade decodes genuine PNG/JPEG payloads via the MediaDecode batch path") {
    import spark.implicits._
    import graft.operators.MediaDecode
    val frame = Seq(
      (1L, MediaDecode.plantedImageBytes(10L, jpeg = false)),
      (2L, MediaDecode.plantedImageBytes(11L, jpeg = true)),
      (3L, "not an image".getBytes)).toDF("doc_id", "payload")
    val out = frame.imageStats().collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getBoolean(7))).toMap
    assert(out(1L) === (("png", 16L, true)))
    assert(out(2L) === (("jpeg", 16L, true)))
    assert(out(3L)._1 === "unknown" && !out(3L)._3)
    // value parity with the operator twin on the png row
    val direct = MediaDecode.parseImage(MediaDecode.plantedImageBytes(10L, jpeg = false))
    val viaDsl = frame.imageStats().filter(col("doc_id") === 1L).head
    assert(viaDsl.getDouble(4) === direct.meanR && viaDsl.getDouble(6) === direct.meanB)
  }

  test("audioStats facade decodes G.711 members and quarantines non-audio") {
    import spark.implicits._
    import graft.operators.MediaDecode
    val frame = Seq(
      (1L, MediaDecode.plantedAudioBytes(10L, alaw = false)),
      (2L, MediaDecode.plantedAudioBytes(11L, alaw = true)),
      (3L, "not audio at all, thirty bytes.".getBytes)).toDF("doc_id", "payload")
    val out = frame.audioStats().collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getBoolean(6))).toMap
    assert(out(1L) === (("ulaw", 16L, true)))
    assert(out(2L) === (("alaw", 16L, true)))
    assert(out(3L)._1 === "unknown" && !out(3L)._3)
    // value parity with the operator twin on the ulaw row
    val direct = MediaDecode.parseAudio(MediaDecode.plantedAudioBytes(10L, alaw = false))
    val viaDsl = frame.audioStats().filter(col("doc_id") === 1L).head
    assert(viaDsl.getDouble(3) === direct.meanSignal &&
      viaDsl.getDouble(4) === direct.rms && viaDsl.getDouble(5) === direct.peak)
  }

  test("videoStats facade decodes AVI members and quarantines non-video") {
    import spark.implicits._
    import graft.operators.MediaDecode
    val frame = Seq(
      (1L, MediaDecode.plantedVideoBytes(10L, mjpeg = true)),
      (2L, MediaDecode.plantedVideoBytes(11L, mjpeg = false)),
      (3L, "not a video at all, thirty-two.!".getBytes)).toDF("doc_id", "payload")
    val out = frame.videoStats().collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getBoolean(7))).toMap
    assert(out(1L) === (("mjpeg", 4L, true)))
    assert(out(2L) === (("rawvideo", 4L, true)))
    assert(out(3L)._1 === "unknown" && !out(3L)._3)
    // value parity with the operator twin on the rawvideo row
    val direct = MediaDecode.parseVideo(MediaDecode.plantedVideoBytes(11L, mjpeg = false))
    val viaDsl = frame.videoStats().filter(col("doc_id") === 2L).head
    assert(viaDsl.getDouble(3) === direct.meanR &&
      viaDsl.getDouble(5) === direct.meanB && viaDsl.getDouble(6) === direct.peak)
  }

  test("codeSignals facade matches the pack t25 verdict on the shared corpus rows") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val viaDsl = docs.codeSignals()
      .select(col("doc_id"), col("code_score"), col("is_code")).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    val viaPack = SparkEntry.queries("t25_code_detect")(spark, sf)
      .filter(col("doc_id") < 400000L).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("code_score"), r.getAs[Boolean]("is_code"))).toMap
    assert(viaDsl === viaPack)
  }
}
