package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftvec.GraftFunctions
import graft.functions.{Portable, Vec}
import graft.operators.Envelope

class FunctionsSpec extends SparkSuite {

  test("vec_dot matches the composed higher-order form and registers for SQL") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val native = df.select(Vec.dot(col("a"), col("b"))).head.getDouble(0)
    val composed = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (s, x) => s + x))
      .head.getDouble(0)
    assert(native === composed)
    assert(native === 32.0)

    GraftFunctions.register(spark)
    assert(spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head.getDouble(0) === 11.0)
  }

  test("vec_dot participates in whole-stage codegen") {
    // a literal DataFrame would constant-fold to LocalTableScan, so
    // drive it from a parquet scan like the real operators do
    val df = Tables.embeddings(spark, sf)
      .select(transform(col("embedding"), _.cast("double")).as("e"))
      .select(Vec.dot(col("e"), col("e")).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    // the `*(n)` stage prefix marks operators inside WholeStageCodegen
    assert(plan.linesIterator.exists(l => l.contains("vec_dot") && l.trim.startsWith("*")), plan)
    assert(df.head.getDouble(0) > 0.0)
  }

  test("shingleRows equals the array-transform shingles") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "x y"), (3L, ""), (4L, "p q r"))
      .toDF("doc_id", "text")
    val viaRows = Portable.shingleRows(docs, 3)
      .groupBy("doc_id").agg(sort_array(collect_list("s")).as("sh"))
    val viaArray = docs.select(col("doc_id"),
        sort_array(Portable.shingles(col("text"), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    assert(viaRows.exceptAll(viaArray).count() === 0)
    assert(viaArray.exceptAll(viaRows).count() === 0)
  }

  test("km_minhash kernel equals the composed shingle+KM pipeline") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Seq((1L, "a b c d e f"), (2L, "x y"), (3L, ""), (4L, "p q r"),
      (5L, "  leading and trailing  "), (6L, "tab\tsep\nnewline words here"))
      .toDF("doc_id", "text")
    val k = 8
    val composed = {
      val hashed = Portable.shingleRows(docs, 3).select(col("doc_id"),
        Portable.h32a(col("s")).as("h1"), Portable.h32b(col("s")).as("h2"))
      val mins = (0 until k).map(i => min(Portable.kmHash(col("h1"), col("h2"), i)).as(s"s$i"))
      hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    }
    val native = docs
      .select(col("doc_id"), graft.functions.TextHash.kmMinHash(col("text"), 3, k).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id") +: (0 until k).map(i => col("sig").getItem(i).as(s"s$i")): _*)
    assert(native.exceptAll(composed).count() === 0)
    assert(composed.exceptAll(native).count() === 0)
    assert(native.count() === 4) // docs 2 (too short) and 3 (empty) drop

    val shComposed = Portable.shingleRows(docs, 3)
      .groupBy("doc_id").agg(sort_array(collect_set("s")).as("sh"))
    val shNative = docs.select(col("doc_id"),
        sort_array(graft.functions.TextHash.distinctShingles(col("text"), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    assert(shNative.exceptAll(shComposed).count() === 0)
    assert(shComposed.exceptAll(shNative).count() === 0)

    // multiset form: every shingle with duplicates kept
    val allComposed = Portable.shingleRows(docs, 3)
      .groupBy("doc_id").agg(sort_array(collect_list("s")).as("sh"))
    val allNative = docs.select(col("doc_id"),
        sort_array(graft.functions.TextHash.allShingles(col("text"), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    assert(allNative.exceptAll(allComposed).count() === 0)
    assert(allComposed.exceptAll(allNative).count() === 0)
  }

  test("simhash16 kernel equals the explode+vote form") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma alpha"), (2L, ""), (3L, "solo"),
      (4L, "mixed\tws\ntokens")).toDF("doc_id", "text")
    val toks = docs
      .select(col("doc_id"), explode(Portable.words(col("text"))).as("tok"))
      .withColumn("h", Portable.hash16(col("tok")))
    val bitSums = (0 until 16).map { i =>
      sum(when(floor(col("h") / math.pow(2, i).toLong).cast("long") % 2 === 1, 1)
        .otherwise(-1)).as(s"b$i")
    }
    val composed = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(i => when(col(s"b$i") > 0, math.pow(2, i).toLong).otherwise(0L))
          .reduce(_ + _).as("fingerprint"))
    val native = docs.select(col("doc_id"),
        graft.functions.TextHash.simHash16(col("text")).as("fingerprint"))
      .filter(col("fingerprint").isNotNull)
    assert(native.exceptAll(composed).count() === 0)
    assert(composed.exceptAll(native).count() === 0)
  }

  test("envelope marshal/parse kernels round-trip the full headers map, match to_json bytes") {
    import spark.implicits._
    val msgs = Seq(
      ("42", "payload bytes", "click", "svc-1"),
      ("7", """quote " backslash \ newline
tab	end""", "view", "svc \"quoted\" 2"))
      .toDF("uuid", "payload_str", "event_type", "source")
      .withColumn("payload", col("payload_str").cast("binary"))
      // keys deliberately NOT in sorted order: the kernel must sort them
      .withColumn("headers", map(
        lit("source"), col("source"), lit("eventType"), col("event_type")))
    val viaToJson = msgs.select(to_json(struct(
      col("uuid").as("watermill_message_uuid"),
      base64(col("payload")).as("data"),
      struct(col("event_type").as("eventType"), col("source").as("source")).as("headers")))
      .as("env"))
    val viaNative = msgs.select(Envelope.marshalled(msgs).as("env"))
    assert(viaNative.collect().map(_.getString(0)).toSeq
      === viaToJson.collect().map(_.getString(0)).toSeq)

    // every header key survives the wire (marshaller.go:35-38)
    val back = viaNative.select(Envelope.parsed(col("env")).as("m"))
      .select(col("m.uuid"), col("m.payload").cast("string"),
        col("m.headers")("eventType"), col("m.headers")("source"))
      .as[(String, String, String, String)].collect().toSeq
    assert(back === Seq(("42", "payload bytes", "click", "svc-1"),
      ("7", "quote \" backslash \\ newline\ntab\tend", "view", "svc \"quoted\" 2")))
    // malformed input → null, like from_json
    assert(Seq("not json").toDF("env")
      .select(Envelope.parsed(col("env")))
      .head.isNullAt(0))
  }

  test("envelope parse accepts foreign producers: any field order, unknown fields, many headers") {
    import spark.implicits._
    // a non-graft producer may order fields differently, add fields the
    // reference doesn't know, and send any number of headers — the
    // unmarshaller must take all of it (marshaller.go:26-52 decodes by
    // name, and every header must land in metadata, :35-38)
    val wire = Seq(
      """{"headers":{"b":"2","a":"1","c":"3"},"data":"aGk=","watermill_message_uuid":"7","x_extra":{"ignored":true}}""",
      """{"data":"","watermill_message_uuid":"8","headers":{}}""")
      .toDF("env")
    val parsed = wire.select(Envelope.parsed(col("env")).as("m"))
      .select(col("m.uuid"), col("m.payload").cast("string"),
        col("m.headers"), size(col("m.headers")))
      .collect()
    assert(parsed(0).getString(0) === "7")
    assert(parsed(0).getString(1) === "hi")
    assert(parsed(0).getMap[String, String](2).toMap === Map("a" -> "1", "b" -> "2", "c" -> "3"))
    assert(parsed(1).getString(0) === "8")
    assert(parsed(1).getString(1) === "")
    assert(parsed(1).getInt(3) === 0)
  }

  test("binary envelope codec round-trips losslessly and rejects malformed blobs") {
    import spark.implicits._
    val msgs = Seq(
      ("42", "payload bytes", "click", "svc-1"),
      ("7", "unicode ✓ payload — ümlaut", "view", "svc \"quoted\" 2"))
      .toDF("uuid", "payload_str", "event_type", "source")
      .withColumn("payload", col("payload_str").cast("binary"))
      // keys deliberately NOT sorted: the codec must order them
      .withColumn("headers", map(
        lit("source"), col("source"), lit("eventType"), col("event_type")))
    val blob = msgs.select(col("uuid"), col("payload"), col("headers"),
      Envelope.marshalledBin(msgs).as("blob"), Envelope.marshalled(msgs).as("json"))
    val back = blob.select(Envelope.parsedBin(col("blob")).as("m"))
      .select(col("m.uuid"), col("m.payload").cast("string"),
        col("m.headers")("eventType"), col("m.headers")("source"))
      .as[(String, String, String, String)].collect().toSeq
    assert(back === Seq(("42", "payload bytes", "click", "svc-1"),
      ("7", "unicode ✓ payload — ümlaut", "view", "svc \"quoted\" 2")))
    // the TLV layout undercuts JSON+base64 on every message
    assert(blob.select(length(col("blob")) < length(col("json")))
      .collect().forall(_.getBoolean(0)))
    // a null header value survives as null (vlen = -1 on the wire)
    val withNull = Seq(("9", "x")).toDF("uuid", "payload_str")
      .withColumn("payload", col("payload_str").cast("binary"))
      .withColumn("headers", map(lit("k"), lit(null).cast("string")))
    val nb = withNull.select(Envelope.parsedBin(Envelope.marshalledBin(withNull)).as("m"))
      .select(size(col("m.headers")), col("m.headers")("k")).head
    assert(nb.getInt(0) === 1 && nb.isNullAt(1))
    // malformed inputs → null: wrong magic, empty, truncated tail
    val good = blob.select(col("blob")).head.getAs[Array[Byte]](0)
    val bad = Seq(Array[Byte](0x00, 0x01, 0x02), Array.emptyByteArray,
      good.dropRight(1), good :+ 0x00.toByte)
    assert(bad.toDF("b").select(Envelope.parsedBin(col("b")))
      .collect().forall(_.isNullAt(0)))
  }

  test("simhash_w and the binary codec register for SQL; blocked Hamming search is exact") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // SQL registration: width-parameterized simhash + binary codec round-trip
    val row = spark.sql(
      """SELECT simhash_w('a b c', 32) AS s,
        |  envelope_parse_bin(envelope_marshal_bin('7', cast('hi' as binary),
        |    map('k', 'v'))).uuid AS u""".stripMargin).head
    assert(!row.isNullAt(0) && row.getString(1) === "7")
    // simhash_w(16) over one token equals the low 16 md5-prefix bits
    // voted by that token (single token ⇒ fingerprint = its bits)
    val h32 = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest("tok".getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    assert(Seq("tok").toDF("t")
      .select(graft.functions.TextHash.simHashW(col("t"), 16)).head.getLong(0)
      === (h32 & 0xffffL))
    // pigeonhole exactness at a NON-default geometry: the blocked
    // plan equals a brute-force all-pairs scan at radius 2
    val d = "/root/testdata/sf0.001"
    val blocked = graft.queries.Dedup.hammingPairs(spark, d, maxDist = 2, nBlocks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sigs = graft.Tables.documents(spark, d).unionAll(
        graft.Tables.documents(spark, d).filter(col("doc_id") % 20 === 0)
          .withColumn("doc_id", col("doc_id") + 100000L)
          .withColumn("text", concat(col("text"), lit(" extra tail words"))))
      .select(col("doc_id"), graft.functions.TextHash.simHashW(col("text"), 32).as("sig"))
      .filter(col("sig").isNotNull)
    val brute = sigs.as("a").crossJoin(sigs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        expr("bit_count(a.sig ^ b.sig)").cast("long").as("dist"))
      .filter(col("dist") <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(blocked === brute && brute.nonEmpty)
  }

  test("cdc chunk boundaries realign after a front insertion") {
    import spark.implicits._
    // boundaries depend only on the words themselves, so prepending
    // text can only change chunks BEFORE the original first boundary
    // — every original chunk after it must reappear untouched (the
    // property fixed-offset chunking lacks)
    val doc = Tables.documents(spark, "/root/testdata/sf0.001")
      .orderBy(col("doc_id")).select(col("text")).head.getString(0)
    def fps(t: String): Seq[Long] = Seq(t).toDF("text")
      .select(graft.functions.TextHash.cdcChunks(col("text"), 8))
      .head.getSeq[Long](0)
    val orig = fps(doc)
    val shifted = fps("inserted preamble words " + doc)
    assert(orig.length > 2, s"doc too short to exercise chunking: $orig")
    assert(orig.tail.toSet.subsetOf(shifted.toSet))
    assert(orig.last === shifted.last)
  }

  test("portable hashes are stable across invocations and match known md5") {
    import spark.implicits._
    val df = Seq("abc").toDF("s")
    assert(df.select(Portable.md5hex(col("s"))).head.getString(0)
      === "900150983cd24fb0d6963f7d28e17f72")
    // first 15 hex chars of the digest, base 16
    assert(df.select(Portable.hash60(col("s"))).head.getLong(0)
      === java.lang.Long.parseLong("900150983cd24fb", 16))
  }

  test("media_stats kernel equals the interpreted HOF decode and survives adversarial wires") {
    import spark.implicits._
    def mediaStats(payload: org.apache.spark.sql.Column) =
      GraftFunctions.column("media_stats", Seq(payload))
    // the HOF reference: mm12's pre-round-12 interpreted decode over
    // the same planted hex wires (16x1 24bpp BMP / 16-sample s16 WAV)
    val idx = sequence(lit(0L), lit(15L))
    def hex2(v: org.apache.spark.sql.Column) = format_string("%02x", v.cast("int"))
    val samples = transform(idx, i =>
      pmod(col("doc_id") * 37L + i * 101L, lit(2048L)) - 1024L)
    def le16h(v: org.apache.spark.sql.Column) = concat(
      format_string("%02x", pmod(v, lit(256L)).cast("int")),
      format_string("%02x", pmod(v / 256L, lit(256L)).cast("int")))
    val wavHeader = "52494646" + "44000000" + "57415645" + "666d7420" +
      "10000000" + "0100" + "0100" + "803e0000" + "007d0000" + "0200" +
      "1000" + "64617461" + "20000000"
    val wavWire = concat(lit(wavHeader),
      array_join(transform(samples, v => le16h(pmod(v, lit(65536L)))), ""))
    val bmpHeader = "424d" + "66000000" + "00000000" + "36000000" +
      "28000000" + "10000000" + "01000000" + "0100" + "1800" + "00000000" +
      "30000000" + "00000000" + "00000000" + "00000000" + "00000000"
    val bmpWire = concat(lit(bmpHeader),
      array_join(transform(idx, j => concat(
        hex2(pmod(col("doc_id") * 7L + j * 13L, lit(256L))),
        hex2(pmod(col("doc_id") * 11L + j * 29L, lit(256L))),
        hex2(pmod(col("doc_id") * 3L + j * 53L, lit(256L))))), ""))
    val wired = spark.range(1, 41).select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(2L)) === 0L, bmpWire).otherwise(wavWire).as("wire"))
    def meanOf(arr: org.apache.spark.sql.Column) =
      aggregate(arr, lit(0.0), (a, x) => a + x.cast("double")) / 16.0
    def rmsOf(arr: org.apache.spark.sql.Column) =
      sqrt(aggregate(arr, lit(0.0), (a, x) => a + x.cast("double") * x.cast("double")) / 16.0)
    def peakOf(arr: org.apache.spark.sql.Column) =
      aggregate(arr, lit(0.0), (a, x) => greatest(a, abs(x.cast("double"))))
    val decSamples = transform(idx, i => {
      val u = conv(concat(
        substring(col("wire"), (lit(91L) + i * 4L).cast("int"), lit(2)),
        substring(col("wire"), (lit(89L) + i * 4L).cast("int"), lit(2))), 16, 10).cast("long")
      u - when(u >= 32768L, 65536L).otherwise(0L)
    })
    def px(off: Int) = transform(idx, j =>
      conv(substring(col("wire"), (lit(109L + off) + j * 6L).cast("int"), lit(2)),
        16, 10).cast("long"))
    val isBmpW = substring(col("wire"), 1, 4) === "424d"
    val hof = wired.select(col("doc_id"),
      when(isBmpW, lit("bmp")).otherwise(lit("wav")).as("container"),
      when(isBmpW, round((meanOf(px(4)) + meanOf(px(2)) + meanOf(px(0))) / 3.0, 6))
        .otherwise(round(meanOf(decSamples), 6)).as("mean_signal"),
      when(!isBmpW, round(rmsOf(decSamples), 6)).as("rms"),
      when(!isBmpW, round(peakOf(decSamples), 6)).as("peak"),
      when(isBmpW, round(meanOf(px(4)), 6)).as("mean_r"),
      when(isBmpW, round(meanOf(px(2)), 6)).as("mean_g"),
      when(isBmpW, round(meanOf(px(0)), 6)).as("mean_b"))
    val kern = wired.select(col("doc_id"),
        mediaStats(unhex(col("wire"))).as("st"))
      .select(col("doc_id"), col("st.container").as("container"),
        when(col("st.container") === "bmp",
          round((col("st.mean_r") + col("st.mean_g") + col("st.mean_b")) / 3.0, 6))
          .otherwise(round(col("st.mean_signal"), 6)).as("mean_signal"),
        when(col("st.container") === "wav", round(col("st.rms"), 6)).as("rms"),
        when(col("st.container") === "wav", round(col("st.peak"), 6)).as("peak"),
        when(col("st.container") === "bmp", round(col("st.mean_r"), 6)).as("mean_r"),
        when(col("st.container") === "bmp", round(col("st.mean_g"), 6)).as("mean_g"),
        when(col("st.container") === "bmp", round(col("st.mean_b"), 6)).as("mean_b"))
    assert(kern.exceptAll(hof).isEmpty && hof.exceptAll(kern).isEmpty)

    // the kernel runs inside whole-stage codegen when its input does:
    // the HOF-built test wires above are themselves interpreted
    // lambdas (which is the whole point of replacing them), so assert
    // the span on a parquet-driven binary column like production
    val codegenDf = Tables.documents(spark, sf)
      .select(mediaStats(col("text").cast("binary")).as("st"))
    val plan = codegenDf.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("MediaStatsImpl.stats") && l.trim.startsWith("*")), plan)

    // SQL registration
    org.apache.spark.sql.graftvec.GraftFunctions.register(spark)
    val viaSql = wired.createOrReplaceTempView("wired_media")
    assert(spark.sql(
      "SELECT count(*) AS n FROM wired_media WHERE media_stats(unhex(wire)).ok")
      .head.getLong(0) === 40L)

    // adversarial wires: truncated / overflowing-dimension payloads
    // yield ok=false rows, never throw; null payload stays null
    val bad = Seq(
      "424d",                                     // truncated header
      bmpHeader.replace("10000000" + "01000000",  // w=h=0x7FFFFFFF
        "ffffff7f" + "ffffff7f")
    ).toDF("w2")
    val badOut = bad.select(mediaStats(unhex(col("w2"))).as("st"))
      .select(col("st.ok")).collect()
    assert(badOut.forall(!_.getBoolean(0)))
    assert(Seq(Option.empty[Array[Byte]]).toDF("p")
      .select(mediaStats(col("p"))).head.isNullAt(0))
  }

  test("every registered function returns the same rows generated and interpreted") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // a 16-sample s16 WAV wire; its 30-byte prefix is a truncated one
    val wav = "52494646" + "44000000" + "57415645" + "666d7420" + "10000000" + "0100" +
      "0100" + "803e0000" + "007d0000" + "0200" + "1000" + "64617461" + "20000000" +
      "0100ff7f0080fefff0000f00" * 2 + "0102030405060708"
    val dir = tempDir("graft_fx") + "/fx"
    Seq(
      (1L, Option("a b c d e f a b"), Option("u1"), Option("hi".getBytes("UTF-8")),
        Option(Map("k" -> "v", "a" -> "b")), Option(Seq(1.0, 2.0)), Option(5L),
        Option(Seq(1, 0))),
      (2L, Option(""), Option(""), Option(Array.emptyByteArray),
        Option(Map.empty[String, String]), Option(Seq.empty[Double]), Option(0L),
        Option(Seq.empty[Int])),
      (3L, None, None, None, None, None, None, None),
      (4L, Option("  tab\tsep\nnewline  words "), Option("u4"), Option(Array[Byte](0, -1, 7)),
        Option(Map("z" -> (null: String))), Option(Seq(-0.5)), Option(1L << 59),
        Option(Seq(0))))
      .toDF("id", "t", "u", "b", "hdr", "a", "h", "c")
      .selectExpr("*",
        """CASE id WHEN 1 THEN envelope_marshal(u, b, hdr) WHEN 2 THEN 'not json'
          |  WHEN 4 THEN '{"data":"!!","watermill_message_uuid":7}' END AS env""".stripMargin,
        """CASE id WHEN 1 THEN envelope_marshal_bin(u, b, hdr) WHEN 2 THEN X'5701000000'
          |  WHEN 4 THEN substring(envelope_marshal_bin(u, b, hdr), 1, 9) END AS bin""".stripMargin,
        s"""CASE id WHEN 1 THEN unhex('$wav') WHEN 2 THEN unhex('424d')
          |  WHEN 4 THEN unhex('${wav.take(60)}') END AS media""".stripMargin)
      .write.parquet(dir)
    // read back from parquet: a local relation would fold every call
    // on the driver, interpreted, whatever the codegen settings
    spark.read.parquet(dir).createOrReplaceTempView("fx")
    def perRow(call: String) = s"SELECT id, $call AS r FROM fx ORDER BY id"
    val calls = Map(
      "vec_dot" -> perRow("vec_dot(a, a)"),
      "km_minhash" -> perRow("km_minhash(t, 2, 4)"),
      "distinct_shingles" -> perRow("distinct_shingles(t, 2)"),
      "all_shingles" -> perRow("all_shingles(t, 2)"),
      "simhash16" -> perRow("simhash16(t)"),
      "simhash_w" -> perRow("simhash_w(t, 24)"),
      "cdc_chunks" -> perRow("cdc_chunks(t, 3)"),
      "hll_registers" ->
        "SELECT id % 2 AS g, hll_registers(h, 4) AS r FROM fx GROUP BY id % 2 ORDER BY g",
      "envelope_marshal" -> perRow("envelope_marshal(u, b, hdr)"),
      "envelope_parse" -> perRow("envelope_parse(env)"),
      "envelope_marshal_bin" -> perRow("envelope_marshal_bin(u, b, hdr)"),
      "envelope_parse_bin" -> perRow("envelope_parse_bin(bin)"),
      "media_stats" -> perRow("media_stats(media)"),
      // a two-word table per sub: lut (1, 2, 1, 2) on row 1
      "pq_adc" -> perRow("pq_adc(c, concat(a, a))"))
    // every function the extension registers has a call here
    assert(calls.keySet == spark.newSession().catalog.listFunctions().collect()
      .filter(f => Option(f.className).exists(_.startsWith("org.apache.spark.sql.graftvec.")))
      .map(_.name).toSet)
    def runAll(factoryMode: String, wholeStage: Boolean): Map[String, Seq[Row]] = {
      spark.conf.set("spark.sql.codegen.factoryMode", factoryMode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
      calls.map { case (name, q) => name -> spark.sql(q).collect().toSeq }
    }
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val (generated, interpreted) =
      try (runAll("CODEGEN_ONLY", wholeStage = true), runAll("NO_CODEGEN", wholeStage = false))
      finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    calls.keys.foreach { name =>
      assert(generated(name) == interpreted(name), name)
      assert(generated(name).size == (if (name == "hll_registers") 2 else 4), name)
    }
    // the fixture reaches the null and malformed branches
    assert(generated("envelope_parse").map(_.isNullAt(1)) == Seq(false, true, true, true))
    assert(generated("envelope_parse_bin").map(_.isNullAt(1)) == Seq(false, true, true, true))
    assert(generated("media_stats").map(r => r.isNullAt(1) || !r.getStruct(1).getBoolean(8))
      == Seq(false, true, true, true))
    assert(generated("pq_adc").map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
      == Seq(Some(3.0), Some(0.0), None, Some(-0.5)))
  }
}
