package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.Envelope
import graft.streaming.{BinaryParquetTopic, JsonLinesTopic, Publisher, Subscriber}

/** The reference's live pub/sub behaviors (publisher batching,
  * checkpointed resume, ack/nack redelivery) — things the batch
  * DuckDB oracle can't observe.
  */
class StreamingSpec extends SparkSuite {

  test("publish/subscribe roundtrip delivers every message once, shard-ordered") {
    val topic = tempDir("topic")
    val ckpt = tempDir("ckpt")
    Publisher.publish(Envelope.messages(spark, sf), topic)

    val q = Subscriber.drainToMemory(Subscriber.subscribe(spark, topic), "sub_rt", ckpt)
    q.awaitTermination()

    val got = spark.table("sub_rt")
    assert(got.count() === 1000)
    assert(got.select("uuid").distinct().count() === 1000)
    // per-shard sequences are exactly 1..n (ordered, gap-free)
    val bad = got.groupBy("shard_id")
      .agg(count(lit(1)).as("n"), min("seq").as("lo"), max("seq").as("hi"))
      .filter(col("lo") =!= 1L || col("hi") =!= col("n"))
    assert(bad.count() === 0)
  }

  test("the transport seam reproduces the file subscription and maps KCL config to connector options") {
    import graft.streaming.{FileTopicSource, KinesisSource, KinesisSourceConfig, Latest}
    val topic = tempDir("topic_seam")
    val ckpt = tempDir("ckpt_seam")
    Publisher.publish(Envelope.messages(spark, sf), topic)

    // subscribe constructed THROUGH the seam: byte-identical behavior
    // to the file-dir entry point (which now delegates here)
    val q = Subscriber.drainToMemory(
      Subscriber.subscribe(spark, FileTopicSource(), topic), "sub_seam", ckpt)
    q.awaitTermination()
    assert(spark.table("sub_seam").count() === 1000)

    // the Kinesis transport's option mapping is pure and mirrors the
    // reference's worker config derivation (subscriber.go:115-124 +
    // example/cmd/subscribe/main.go:25-38): topic overwrites the
    // stream name, endpoints pass through for Localstack, the KCL
    // initial position becomes startingPosition
    val cfg = KinesisSourceConfig(
      applicationName = "graft-app", region = "us-west-2", workerId = "w-1",
      kinesisEndpoint = Some("http://127.0.0.1:4566"),
      maxRecords = 100, maxLeasesForWorker = Some(6),
      enableLeaseStealing = true, initialPosition = Latest)
    val opts = KinesisSource(cfg).options("my-stream")
    assert(opts("streamName") === "my-stream")
    assert(opts("region") === "us-west-2")
    assert(opts("consumerName") === "graft-app")
    assert(opts("workerId") === "w-1")
    assert(opts("endpointUrl") === "http://127.0.0.1:4566")
    assert(opts("maxRecordsPerFetch") === "100")
    assert(opts("maxLeasesPerWorker") === "6")
    assert(opts("leaseStealing") === "true")
    assert(opts("startingPosition") === "latest")
    // a push transport has no batch snapshot — Latest is handled at
    // the source via startingPosition, not a post-hoc cutoff
    assert(KinesisSource(cfg).snapshot(spark, "my-stream").isEmpty)
  }

  test("publisher enforces the 500-record batch cap per shard") {
    val topic = tempDir("topic")
    Publisher.publish(Envelope.messages(spark, sf), topic)
    val sizes = spark.read.parquet(topic)
      .groupBy("shard_id", "batch_id").count()
    assert(sizes.filter(col("count") > Publisher.MaxBatch).count() === 0)
    // batches are dense: batch k starts at seq k*500+1
    val misaligned = spark.read.parquet(topic)
      .groupBy("shard_id", "batch_id").agg(min("seq").as("lo"))
      .filter(col("lo") =!= col("batch_id") * Publisher.MaxBatch + 1)
    assert(misaligned.count() === 0)
  }

  test("a new subscription honors the KCL initial position") {
    import graft.streaming.{TrimHorizon, Latest, AtTimestamp}
    val topic = tempDir("topic_pos")
    val msgs = Envelope.messages(spark, sf)
    val cut = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    val early = msgs.filter(col("ts") < lit(cut))
    val late = msgs.filter(col("ts") >= lit(cut))
    val (nEarly, nLate) = (early.count(), late.count())
    assert(nEarly > 0 && nLate > 0)
    Publisher.publish(early, topic)

    // TRIM_HORIZON: everything retained on the topic
    Subscriber.drainToMemory(
      Subscriber.subscribeFrom(spark, topic, TrimHorizon), "pos_trim", tempDir("ck")
    ).awaitTermination()
    assert(spark.table("pos_trim").count() === nEarly)

    // LATEST fixes its cutoff NOW (max published ts): the already-
    // published records are skipped…
    val latest = Subscriber.subscribeFrom(spark, topic, Latest)
    Subscriber.drainToMemory(latest, "pos_latest1", tempDir("ck")).awaitTermination()
    assert(spark.table("pos_latest1").count() === 0)

    // …and records published after subscription creation flow
    Publisher.publish(late, topic)
    Subscriber.drainToMemory(latest, "pos_latest2", tempDir("ck")).awaitTermination()
    assert(spark.table("pos_latest2").count() === nLate)

    // AT_TIMESTAMP: exactly the records at/after the instant
    Subscriber.drainToMemory(
      Subscriber.subscribeFrom(spark, topic, AtTimestamp(cut)), "pos_at", tempDir("ck")
    ).awaitTermination()
    assert(spark.table("pos_at").count() === nLate)
  }

  test("checkpointed subscriber resumes after the last processed batch") {
    val topic = tempDir("topic")
    val ckpt = tempDir("ckpt")
    val outDir = tempDir("processed")
    val all = Envelope.messages(spark, sf)
    Publisher.publish(all.filter(col("event_id") < 600), topic)

    val q1 = Subscriber.drainToParquet(Subscriber.subscribe(spark, topic), outDir, ckpt)
    q1.awaitTermination()
    assert(spark.read.parquet(outDir).count() === 600)

    // a second publish to the same topic, then a NEW query run off the
    // SAME checkpoint: only the unseen messages flow (KCL resume),
    // no reprocessing of the first 600.
    Publisher.publish(all.filter(col("event_id") >= 600), topic)
    val q2 = Subscriber.drainToParquet(Subscriber.subscribe(spark, topic), outDir, ckpt)
    q2.awaitTermination()
    val processed = spark.read.parquet(outDir)
    assert(processed.count() === 1000)
    assert(processed.select("uuid").distinct().count() === 1000)
  }

  test("streaming publisher delivers every message once with capped batches") {
    val staging = tempDir("staging")
    val topic = tempDir("topic")
    val ckpt = tempDir("ckpt")
    val msgs = Envelope.messages(spark, sf)
    msgs.write.mode("overwrite").parquet(staging)

    val stream = spark.readStream.schema(msgs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(staging)
    val q = Publisher.publishStream(stream, topic, ckpt)
    q.awaitTermination()

    val published = spark.read.parquet(topic)
    assert(published.select("uuid").distinct().count() === 1000)
    assert(published.count() === 1000)
    assert(published.groupBy("shard_id", "batch_id").count()
      .filter(col("count") > Publisher.MaxBatch).count() === 0)
  }

  test("watermarked tumbling-window aggregation over a subscription") {
    val topic = tempDir("topic")
    Publisher.publish(Envelope.messages(spark, sf), topic)

    val agg = Subscriber.subscribe(spark, topic)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("winagg").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("winagg")

    // append mode emits only windows finalized by the watermark —
    // every emitted window must match the batch computation, and with
    // a month of events vs a 1h delay nearly all windows finalize.
    val batch = spark.read.parquet(topic)
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    assert(got.count() > 0)
    assert(got.exceptAll(batch).count() === 0, "streaming emitted a window batch disagrees with")
    assert(batch.count() - got.count() <= 13, "too many unfinalized windows held back")
  }

  test("per-shard windowed throughput over a subscription matches the batch accounting") {
    val topic = tempDir("topic")
    Publisher.publish(Envelope.messages(spark, sf), topic)

    // m17's streaming analog: live (shard, minute) rates with bounded
    // state — the resharding signal computed ON the stream
    val agg = Subscriber.subscribe(spark, topic)
      .withWatermark("ts", "1 hour")
      .groupBy(col("shard_id"), window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"))
      .select(col("shard_id"), col("window.start").as("ws"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("shardrate").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("shardrate")

    val batch = spark.read.parquet(topic)
      .groupBy(col("shard_id"), window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"))
      .select(col("shard_id"), col("window.start").as("ws"), col("n"))
    assert(got.count() > 0)
    assert(got.exceptAll(batch).count() === 0,
      "a streamed (shard, minute) count disagrees with the batch computation")
    // the batch m17 operator's per-shard peak bounds every live window
    val peaks = SparkEntry.queries("m17_throughput_stats")(spark, sf)
      .select(col("shard_id"), col("peak_minute")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.collect().foreach { r =>
      assert(r.getLong(2) <= peaks(r.getLong(0)),
        s"streamed window count exceeds the m17 peak: $r")
    }
  }

  test("streamed session windows match the batch sessionization") {
    val topic = tempDir("topic")
    Publisher.publish(Envelope.messages(spark, sf), topic)

    // m10's streaming analog: 30-min-gap sessions per partition key,
    // session state bounded by the watermark; append mode emits only
    // sessions the watermark has CLOSED (gap elapsed past the end)
    val agg = Subscriber.subscribe(spark, topic)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("partition_key"))
      .agg(count(lit(1)).as("n"))
      .select(col("partition_key"), col("sw.start").as("ss"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sessions")

    val batch = spark.read.parquet(topic)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("partition_key"))
      .agg(count(lit(1)).as("n"))
      .select(col("partition_key"), col("sw.start").as("ss"), col("n"))
    assert(got.count() > 0)
    // every emitted session must be a batch session, merged identically
    assert(got.exceptAll(batch).count() === 0,
      "a streamed session disagrees with the batch sessionization")
    // only each key's trailing (still-open) session may be withheld
    val nKeys = spark.read.parquet(topic).select("partition_key").distinct().count()
    assert(batch.count() - got.count() <= nKeys,
      s"${batch.count() - got.count()} sessions held back for $nKeys keys")
  }

  test("m19's measured disorder sizes a watermark that predicts streaming drops exactly") {
    import spark.implicits._
    import graft.functions.Portable
    // One shard's events with m19's exact md5-derived delay
    // distribution, replayed in ARRIVAL order. Event time is
    // COMPRESSED 3000× (a month → ~15 min) so the 0–600 s delays
    // actually reorder arrivals at this tiny SF — shard 0's raw
    // inter-event gaps (~40 min) would otherwise never produce
    // disorder and the profiler would have nothing to size.
    val raw = Envelope.messages(spark, sf)
      .select(col("event_id"), col("ts"),
        Envelope.shardId(col("partition_key")).as("shard_id"))
      .filter(col("shard_id") === 0L)
      .withColumn("ts_us", expr("unix_micros(ts)"))
      .withColumn("delay_us",
        pmod(Portable.hash60(col("event_id").cast("string")), lit(600L)) * lit(1000000L))
      .select(col("event_id"), col("ts_us"), col("delay_us"))
      .collect()
    assert(raw.length > 50)
    val tsMin = raw.map(_.getLong(1)).min
    val prof = raw.map { r =>
      val tsC = tsMin + (r.getLong(1) - tsMin) / 3000L
      (r.getLong(0), tsC, tsC + r.getLong(2))
    }.sortBy(t => (t._3, t._1))

    // m19's machinery over the replay: per-event disorder against the
    // running high-water mark of PRIOR arrivals
    case class Ev(id: Long, tsUs: Long, hwmBefore: Long)
    var hwm = Long.MinValue
    val evs = prof.map { case (id, ts, _) =>
      val e = Ev(id, ts, hwm)
      hwm = math.max(hwm, ts)
      e
    }
    val disorders = evs.map(e =>
      math.max(0L, (if (e.hwmBefore == Long.MinValue) e.tsUs else e.hwmBefore) - e.tsUs))
    // the horizon the profiler recommends: p99 observed disorder
    val sortedD = disorders.sorted
    val horizonUs = sortedD(math.min(sortedD.length * 99 / 100, sortedD.length - 1))
    assert(horizonUs > 0L, "p99 disorder must be positive on this corpus")
    val rawLate = disorders.count(_ > horizonUs)
    assert(rawLate >= 1, "the sized horizon should still mark ~1% of rows late")

    // exact drop prediction under the engine's aggregation semantics:
    // a row in micro-batch i is dropped when its 1-second window END
    // is at or below the watermark derived from batches < i
    val winUs = 1000000L
    val predictedDrop = evs.count { e =>
      e.hwmBefore != Long.MinValue &&
        (e.tsUs / winUs + 1) * winUs <= e.hwmBefore - horizonUs
    }

    // replay ONE event per micro-batch so the engine's watermark
    // advances exactly like the profiler's running high-water mark
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "400")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val agg = input.toDF().toDF("event_id", "ts")
      .withWatermark("ts", s"$horizonUs microseconds")
      .groupBy(window(col("ts"), "1 second"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("m19wm").start()
    evs.foreach { e =>
      input.addData((e.id, java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(e.tsUs / 1000000L, (e.tsUs % 1000000L) * 1000L))))
      q.processAllAvailable()
    }
    q.stop()
    val dropped = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    assert(dropped === predictedDrop.toLong,
      s"engine dropped $dropped, the profile predicted $predictedDrop (raw-late $rawLate)")
    // window rounding can only SAVE a raw-late row, never drop an
    // on-time one: engine drops are a subset of m19's late set
    assert(dropped <= rawLate.toLong)
  }

  test("streaming vectors route to the same IVF cells as the batch assignment") {
    import spark.implicits._
    import graft.queries.Similarity
    implicit val sqlCtx = spark.sqlContext
    // Index build happens OFFLINE (a15's converged centroids); serving
    // ships the cells×dims state into the map task as literals — the
    // stream needs no shuffle, no state store, and no window, which is
    // exactly how an enrichment job attaches an IVF index at 100 TB/day.
    val cents = Similarity.ivfRefineConverged(spark, sf, maxIters = 5, eps = 1e-4)
      .collect().sortBy(_.getLong(0))
    assert(cents.nonEmpty)
    def assignLit(emb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val nrm = graft.functions.Vec.norm(emb)
      // argmax by (cosine, -cell): array_max's lexicographic struct
      // order = highest cosine, ties to the SMALLEST cell — the same
      // (c_cos desc, cell asc) rank assignCells uses
      -array_max(array(cents.map { r =>
        struct(
          (graft.functions.Vec.dot(emb, typedLit(r.getSeq[Double](1))) /
            (nrm * lit(r.getDouble(2)))).as("cos"),
          lit(-r.getLong(0)).as("negcell"))
      }: _*)).getField("negcell")
    }

    val v = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", graft.functions.Vec.norm(col("emb")))
    val expected = Similarity.assignCells(v, spark.createDataFrame(
        spark.sparkContext.parallelize(cents.toSeq), cents.head.schema))
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val sample = v.select("vec_id", "emb").limit(100).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val input = MemoryStream[(Long, Seq[Double])]
    val routed = input.toDF().toDF("vec_id", "emb")
      .select(col("vec_id"), assignLit(col("emb")).as("cell"))
    val q = routed.writeStream.outputMode("append")
      .format("memory").queryName("annroute").start()
    input.addData(sample.take(50)); q.processAllAvailable()
    input.addData(sample.drop(50)); q.processAllAvailable()
    q.stop()
    val got = spark.table("annroute").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === sample.length)
    got.foreach { case (id, cell) =>
      assert(cell === expected(id),
        s"vec $id routed to cell $cell on the stream but ${expected(id)} in batch")
    }
  }

  test("stream-stream interval join matches the batch range join") {
    val topic = tempDir("topic")
    Publisher.publish(Envelope.messages(spark, sf), topic)

    val clicks = Subscriber.subscribe(spark, topic)
      .filter(col("event_type") === "click")
      .select(col("partition_key").as("c_user"), col("ts").as("click_ts"),
        col("uuid").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = Subscriber.subscribe(spark, topic)
      .filter(col("event_type") === "purchase")
      .select(col("partition_key").as("p_user"), col("ts").as("purchase_ts"),
        col("uuid").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(purchases,
      expr("""c_user = p_user AND purchase_ts > click_ts
             AND purchase_ts <= click_ts + interval 5 minutes"""))

    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin").start()
    q.processAllAvailable(); q.stop()

    val expected = SparkEntry.queries("q24_range_join")(spark, sf).count()
    assert(spark.table("ssjoin").count() === expected)
  }

  test("compaction shrinks topic file count without losing a record") {
    val topic = tempDir("topic")
    val msgs = Envelope.messages(spark, sf)
    // three publishes → many small files per shard
    Publisher.publish(msgs.filter(col("event_id") % 3 === 0), topic)
    Publisher.publish(msgs.filter(col("event_id") % 3 === 1), topic)
    Publisher.publish(msgs.filter(col("event_id") % 3 === 2), topic)
    def files(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(topic)).count(_.getName.endsWith(".parquet"))
    }
    val before = files()
    val beforeUuids = spark.read.parquet(topic).select("uuid").distinct().count()
    Publisher.compact(spark, topic)
    assert(files() < before)
    val after = spark.read.parquet(topic)
    assert(after.count() === 1000)
    assert(after.select("uuid").distinct().count() === beforeUuids)
  }

  test("JSON-lines topic roundtrips the same message stream as parquet") {
    val topic = tempDir("jtopic")
    val ckpt = tempDir("ckpt")
    Publisher.publish(Envelope.messages(spark, sf), topic, format = JsonLinesTopic)

    val q = Subscriber.drainToMemory(
      Subscriber.subscribe(spark, topic, JsonLinesTopic), "json_rt", ckpt)
    q.awaitTermination()

    val got = spark.table("json_rt")
    assert(got.count() === 1000)
    assert(got.select("uuid").distinct().count() === 1000)
    // payload bytes survive the base64+JSON wire intact
    assert(got.filter(col("payload").isNull).count() === 0)
    // per-shard sequences are exactly 1..n (ordered, gap-free)
    val bad = got.groupBy("shard_id")
      .agg(count(lit(1)).as("n"), min("seq").as("lo"), max("seq").as("hi"))
      .filter(col("lo") =!= 1L || col("hi") =!= col("n"))
    assert(bad.count() === 0)
  }

  test("binary TLV topic delivers the identical message stream as the JSON wire") {
    val topic = tempDir("btopic")
    val ckpt = tempDir("ckpt")
    Publisher.publish(Envelope.messages(spark, sf), topic, format = BinaryParquetTopic)

    val q = Subscriber.drainToMemory(
      Subscriber.subscribe(spark, topic, BinaryParquetTopic), "bin_rt", ckpt)
    q.awaitTermination()

    val got = spark.table("bin_rt")
    assert(got.count() === 1000)
    // field-for-field identical to what the JSON codec delivers: the
    // codec changed the WIRE, not the messages
    val viaJson = Envelope.messages(spark, sf)
      .select(col("uuid"), col("payload").cast("string").as("p"),
        col("event_type"), col("headers")("source").as("src"))
    val viaBin = got
      .select(col("uuid"), col("payload").cast("string").as("p"),
        col("event_type"), col("headers")("source").as("src"))
    assert(viaBin.exceptAll(viaJson).count() === 0)
    assert(viaJson.exceptAll(viaBin).count() === 0)
    // the TLV wire is genuinely binary parquet, not a stringly column
    assert(BinaryParquetTopic.readBatch(spark, topic)
      .schema("envelope").dataType === org.apache.spark.sql.types.BinaryType)
  }

  test("exactly-once consumption drops redeliveries within the watermark") {
    val topic = tempDir("topic")
    val msgs = Envelope.messages(spark, sf)
    // at-least-once transport: every 7th message is redelivered 1s later
    val redelivered = msgs.filter(col("event_id") % 7 === 0)
      .withColumn("ts", col("ts") + expr("INTERVAL 1 SECOND"))
    Publisher.publish(msgs.unionAll(redelivered), topic)

    val q = Subscriber.drainToMemory(
      Subscriber.exactlyOnce(Subscriber.subscribe(spark, topic), "10 minutes"),
      "eo_sub", tempDir("ckpt"))
    q.awaitTermination()

    val got = spark.table("eo_sub")
    assert(got.count() === 1000)                          // dupes dropped
    assert(got.select("uuid").distinct().count() === 1000) // each uuid once
  }

  test("dead-letter drain splits poison messages under one checkpoint") {
    val topic = tempDir("topic")
    val outDir = tempDir("processed")
    val dlqDir = tempDir("dlq")
    Publisher.publish(Envelope.messages(spark, sf), topic)

    // poison = attempts exhausted (same deterministic rule as m12)
    val q = Subscriber.drainWithDlq(
      Subscriber.subscribe(spark, topic), outDir, dlqDir, tempDir("ckpt"),
      isPoison = col("uuid").cast("long") % 5 + 1 > 3)
    q.awaitTermination()

    val ok = spark.read.parquet(outDir)
    val dlq = spark.read.parquet(dlqDir)
    assert(ok.count() + dlq.count() === 1000)
    assert(dlq.filter(col("uuid").cast("long") % 5 + 1 <= 3).count() === 0)
    assert(ok.filter(col("uuid").cast("long") % 5 + 1 > 3).count() === 0)
    // no uuid lands on both sides
    assert(ok.select("uuid").intersect(dlq.select("uuid")).count() === 0)
  }

  test("a second worker takes over a shard lease mid-stream without loss or duplication") {
    // The KCL lease-handover semantic (example/cmd/subscribe/main.go:36-38):
    // worker A dies mid-consumption; worker B picks up the SAME
    // checkpoint and finishes the topic. The checkpoint plus the file
    // sink's transactional metadata guarantee every message is
    // delivered exactly once across the handover.
    val topic = tempDir("topic")
    val ckpt = tempDir("ckpt")
    val outDir = tempDir("processed")
    val msgs = Envelope.messages(spark, sf)
    // several publishes → enough files that 1-file micro-batches need
    // many triggers, so stopping A mid-stream is deterministic
    Publisher.publish(msgs.filter(col("event_id") % 3 === 0), topic)
    Publisher.publish(msgs.filter(col("event_id") % 3 === 1), topic)
    Publisher.publish(msgs.filter(col("event_id") % 3 === 2), topic)

    val qA = Subscriber.drainToParquet(
      Subscriber.subscribe(spark, topic, maxFilesPerTrigger = 1), outDir, ckpt)
    // kill A after its first committed batch, well before the topic drains
    val deadline = System.currentTimeMillis() + 60000
    while (qA.recentProgress.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    qA.stop()
    val afterA = spark.read.parquet(outDir).count()
    assert(afterA < 1000, s"worker A drained everything ($afterA) before handover")

    // worker B: same checkpoint, fresh query → finishes the lease
    val qB = Subscriber.drainToParquet(
      Subscriber.subscribe(spark, topic, maxFilesPerTrigger = 8), outDir, ckpt)
    qB.awaitTermination()
    val processed = spark.read.parquet(outDir)
    assert(processed.count() === 1000)
    assert(processed.select("uuid").distinct().count() === 1000)
  }

  test("a reader concurrent with compaction never sees a partial topic") {
    val topic = tempDir("topic")
    val msgs = Envelope.messages(spark, sf)
    Publisher.publish(msgs.filter(col("event_id") % 3 === 0), topic)
    Publisher.publish(msgs.filter(col("event_id") % 3 === 1), topic)
    Publisher.publish(msgs.filter(col("event_id") % 3 === 2), topic)

    @volatile var done = false
    @volatile var badCount: Option[Long] = None
    val reader = new Thread(() => {
      while (!done && badCount.isEmpty) {
        try {
          val n = spark.read.parquet(topic).count()
          // complete-old or complete-new, never a partial file set
          if (n != 1000L) badCount = Some(n)
        } catch {
          // clean absence between the two renames, or a listing that
          // raced the deferred delete of the old tree — both surface
          // as an exception the reader retries, NEVER as a partial
          // count (the invariant under test)
          case _: Exception =>
        }
      }
    })
    reader.start()
    try Publisher.compact(spark, topic)
    finally { done = true; reader.join(30000) }
    assert(badCount.isEmpty, s"concurrent reader saw a partial topic: $badCount rows")
    assert(spark.read.parquet(topic).select("uuid").distinct().count() === 1000)
  }

  test("streaming curation dedups by content and quality-filters like the batch pipeline") {
    import graft.streaming.DataPrep
    val topic = tempDir("topic")
    val outDir = tempDir("curated")

    // documents as messages: text is the payload; every 10th doc also
    // arrives as an exact copy under a different uuid (the duplicate
    // the content dedup must drop)
    val docs = Tables.documents(spark, sf)
    def asMsgs(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id").as("event_id"),
      col("doc_id").cast("string").as("uuid"),
      (col("doc_id") % 8).cast("string").as("partition_key"),
      col("text").cast("binary").as("payload"),
      lit("doc").as("event_type"),
      lit(0.0).as("value"),
      expr("timestamp '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, doc_id)").as("ts"),
      map(lit("eventType"), lit("doc")).as("headers"))
    Publisher.publish(asMsgs(docs), topic)
    Publisher.publish(asMsgs(
      docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 100000L)), topic)

    val q = DataPrep.curate(Subscriber.subscribe(spark, topic), outDir,
      tempDir("ckpt"), minQuality = 0.5, watermarkDelay = "10 minutes")
    q.awaitTermination()
    val curated = spark.read.parquet(outDir)

    // batch expectation over the SAME corpus: distinct content hashes
    // passing the shared quality score (which duplicate of a pair
    // survives depends on arrival order, so compare hash SETS)
    val expected = graft.queries.Pipeline.withQuality(
        docs.select(col("doc_id"), col("text"))
          .withColumn("h", graft.functions.Portable.md5bin(
            graft.functions.Portable.normText(col("text")))))
      .filter(col("quality") >= 0.5)
      .select(hex(col("h")).as("h")).distinct()
      .collect().map(_.getString(0)).toSet
    // digests are 16-byte binary since round 12; compare hex-encoded
    // (Array[Byte] has reference equality, so raw sets would not match)
    val got = curated.select(hex(col("h"))).collect().map(_.getString(0))
    assert(got.length === got.distinct.length, "a content hash was curated twice")
    assert(got.toSet === expected)
    assert(curated.filter(col("quality") < 0.5).count() === 0)
  }

  test("a poison envelope is skipped, preserved in the DLQ, and consumption continues") {
    import spark.implicits._
    val topic = tempDir("topic")
    val outDir = tempDir("processed")
    val dlqDir = tempDir("pdlq")
    Publisher.publish(Envelope.messages(spark, sf), topic)
    // one corrupt byte-blob lands on the topic (producer bug / torn write)
    val poison = Seq((0L, 0L, 9999L, -1L, "poison", "0",
        "{corrupt not-an-envelope", new java.sql.Timestamp(0L)))
      .toDF("shard_id", "batch_id", "seq", "event_id", "uuid", "partition_key",
        "envelope", "ts")
    poison.write.mode("append").partitionBy("shard_id").parquet(topic)

    // plain subscribe skips the unparsable record and keeps consuming
    // (subscriber.go:57-62): N-1 messages delivered, none null
    val q1 = Subscriber.drainToMemory(
      Subscriber.subscribe(spark, topic), "poison_skip", tempDir("ckpt"))
    q1.awaitTermination()
    assert(spark.table("poison_skip").count() === 1000)
    assert(spark.table("poison_skip").filter(col("uuid").isNull).count() === 0)

    // the DLQ drain delivers the same 1000 and preserves the raw poison bytes
    val q2 = Subscriber.drainSkippingPoison(spark, topic, outDir, dlqDir, tempDir("ckpt2"))
    q2.awaitTermination()
    val ok = spark.read.parquet(outDir)
    val dlq = spark.read.parquet(dlqDir)
    assert(ok.count() === 1000)
    assert(ok.select("uuid").distinct().count() === 1000)
    assert(dlq.count() === 1)
    assert(dlq.select("envelope").head.getString(0) === "{corrupt not-an-envelope")
  }

  test("ack/nack redelivery resolves with correct retry counts across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Subscriber.Delivery]
    val resolved = Subscriber.resolveRetries(input.toDS())
    val q = resolved.writeStream.outputMode("append")
      .format("memory").queryName("retries").start()

    // batch 1: a acked immediately; b nacked twice (state must persist)
    input.addData(
      Subscriber.Delivery("a", acked = true, attempt = 0),
      Subscriber.Delivery("b", acked = false, attempt = 0),
      Subscriber.Delivery("b", acked = false, attempt = 1))
    q.processAllAvailable()
    // batch 2: b finally acked after one more nack
    input.addData(
      Subscriber.Delivery("b", acked = false, attempt = 2),
      Subscriber.Delivery("b", acked = true, attempt = 3))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("retries").as[Subscriber.Resolved].collect().sortBy(_.uuid)
    assert(out.toSeq === Seq(Subscriber.Resolved("a", 0), Subscriber.Resolved("b", 3)))
  }

  test("retry state dead-letters messages nacked past max retries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Subscriber.Delivery]
    val outcomes = Subscriber.resolveOrDeadLetter(input.toDS(), maxRetries = 3)
    val q = outcomes.writeStream.outputMode("append")
      .format("memory").queryName("dlq_outcomes").start()

    // a: acked after one nack; b: nacked twice (pending across batches)
    input.addData(
      Subscriber.Delivery("a", acked = false, attempt = 0),
      Subscriber.Delivery("a", acked = true, attempt = 1),
      Subscriber.Delivery("b", acked = false, attempt = 0),
      Subscriber.Delivery("b", acked = false, attempt = 1))
    q.processAllAvailable()
    assert(spark.table("dlq_outcomes").count() === 1) // only a resolved

    // b: two more nacks → 4 > maxRetries=3 ⇒ dlq; the late ack is ignored.
    // c stays pending (no terminal outcome emitted).
    input.addData(
      Subscriber.Delivery("b", acked = false, attempt = 2),
      Subscriber.Delivery("b", acked = false, attempt = 3),
      Subscriber.Delivery("b", acked = true, attempt = 4),
      Subscriber.Delivery("c", acked = false, attempt = 0))
    q.processAllAvailable()

    // redeliveries of RESOLVED uuids in a later micro-batch hit the
    // tombstone: no second (contradictory) outcome is emitted
    input.addData(
      Subscriber.Delivery("a", acked = false, attempt = 2),
      Subscriber.Delivery("b", acked = true, attempt = 5))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("dlq_outcomes").as[Subscriber.Outcome].collect().sortBy(_.uuid)
    assert(out.toSeq === Seq(
      Subscriber.Outcome("a", "resolved", 1),
      Subscriber.Outcome("b", "dlq", 4)))
  }

  test("a reshard closes the parent with SHARD_END and hands its keyspace to children without loss or duplication") {
    // The consumer side of Kinesis SplitShard (subscriber.go:78-88):
    // on TERMINATE the processor checkpoints SHARD_END so child shards
    // can begin. Composes m20 (the split decision), Publisher.closeShard
    // (the terminal marker), Envelope.reshardedId (the child routing)
    // and m18's order-insensitive digest (the cross-cut census).
    import graft.operators.Envelope
    val topic = tempDir("topic_reshard")
    val ckpt = tempDir("ckpt")
    val outDir = tempDir("processed")
    val msgs = Envelope.messages(spark, sf)
    val phase1 = msgs.filter(col("event_id") < 600)
    val phase2 = msgs.filter(col("event_id") >= 600)
    Publisher.publish(phase1, topic)

    // phase 1: normal consumption up to the worker's checkpoint
    Subscriber.drainToParquet(Subscriber.subscribe(spark, topic), outDir, ckpt)
      .awaitTermination()
    assert(spark.read.parquet(outDir).count() === 600)

    // the split decision comes from m20's plan over the stream
    val plan = SparkEntry.queries("m20_reshard_plan")(spark, sf).collect()
      .filter(_.getAs[String]("action") == "split")
    assert(plan.nonEmpty, "the stream must have a split-worthy hot shard")
    val hottest = plan.maxBy(_.getAs[Long]("n_events"))
    val parent = hottest.getAs[Long]("shard_id")
    val nChildren = hottest.getAs[Long]("target_shards").toInt
    assert(nChildren >= 2)
    val base = Envelope.NumShards.toLong // children are NEW shard ids

    // TERMINATE: the parent is closed, and the consumer drains it to a
    // TERMINAL checkpoint — this drain delivers exactly the SHARD_END
    // marker and durably commits it BEFORE any child record exists
    Publisher.closeShard(spark, topic, parent)
    Subscriber.drainToParquet(Subscriber.subscribe(spark, topic), outDir, ckpt)
      .awaitTermination()
    val afterClose = spark.read.parquet(outDir)
    assert(afterClose.count() === 601)
    val marker = afterClose.filter(Subscriber.isShardEnd).collect()
    assert(marker.length === 1)
    assert(marker.head.getAs[Long]("shard_id") === parent)
    val parentMax = afterClose
      .filter(col("shard_id") === parent && !Subscriber.isShardEnd)
      .agg(max("seq")).head().getLong(0)
    assert(marker.head.getAs[Long]("seq") === parentMax + 1,
      "SHARD_END must be the parent's final sequence number")

    // the post-cut traffic routes the parent's keys to the children
    Publisher.publishRouted(
      phase2.withColumn("shard_id",
        Envelope.reshardedId(col("partition_key"), parent, nChildren, base)),
      topic)
    Subscriber.drainToParquet(Subscriber.subscribe(spark, topic), outDir, ckpt)
      .awaitTermination()

    val data = spark.read.parquet(outDir).filter(!Subscriber.isShardEnd)
    // end-to-end census: every message exactly once across the reshard
    assert(data.count() === 1000)
    assert(data.select("uuid").distinct().count() === 1000)
    // the parent received NOTHING after its terminal checkpoint
    assert(data.filter(col("shard_id") === parent &&
      col("uuid").cast("long") >= 600).count() === 0)
    // the children received EXACTLY the parent's post-cut keyspace…
    val childData = data.filter(col("shard_id") >= base)
    val expectChild = phase2
      .filter(Envelope.shardId(col("partition_key")) === parent)
    assert(childData.count() === expectChild.count())
    assert(childData.count() > 0, "the hot shard's keys must keep flowing")
    // …each key on exactly ONE child, so per-key ordering survives
    assert(childData.groupBy("partition_key")
      .agg(countDistinct("shard_id").as("n")).filter(col("n") > 1).count() === 0)

    // m18-style digest across the cut: parent's delivered phase-1 ids
    // plus the children's delivered ids = the published ids of the
    // parent keyspace — no loss, no duplication
    def digest(df: org.apache.spark.sql.DataFrame,
               id: org.apache.spark.sql.Column): String =
      df.select(id.cast("long").as("x"))
        .agg(md5(concat_ws("|",
          transform(sort_array(collect_list(col("x"))),
            v => v.cast("string"))).cast("binary")).as("d"))
        .head().getString(0)
    val delivered = data.filter(col("shard_id") === parent || col("shard_id") >= base)
    val published = msgs.filter(Envelope.shardId(col("partition_key")) === parent)
    assert(digest(delivered, col("uuid")) === digest(published, col("event_id")))
  }

  test("resume from a mid-batch sequence cursor redelivers nothing before the cut and misses nothing after") {
    // KCL checkpoints a SEQUENCE NUMBER per shard; the reference's
    // subscriber.go:44-46 leaves the mid-batch case open ("TODO
    // KCL-like: skip sent messages in first batch"). subscribeAfter is
    // that precision: the re-read publish batch must deliver exactly
    // the records ABOVE the durable cursor.
    import graft.operators.Envelope
    val topic = tempDir("topic_cursor")
    val msgs = Envelope.messages(spark, sf)
    Publisher.publish(msgs, topic)
    // every shard's records sit inside publish batch 0 (well under the
    // 500 cap), so any per-shard cursor is a MID-BATCH position
    assert(spark.read.parquet(topic).agg(max("batch_id")).head().getLong(0) === 0L)

    // worker A's durable position: the median sequence per shard
    val cursor = spark.read.parquet(topic)
      .groupBy("shard_id").agg((max("seq") / 2).cast("long").as("seq"))
    val cut = cursor.withColumnRenamed("seq", "cut")
    val sent = spark.read.parquet(topic).join(cut, "shard_id")
      .filter(col("seq") <= col("cut"))
    val nSent = sent.count()
    assert(nSent > 0 && nSent < 1000)

    // worker B resumes from the cursor (fresh file-source checkpoint —
    // the lease moved; the cursor is the durable position)
    Subscriber.drainToMemory(
      Subscriber.subscribeAfter(spark, topic, cursor), "cursor_resume", tempDir("ck")
    ).awaitTermination()
    val got = spark.table("cursor_resume")
    // nothing at or below the cursor is redelivered…
    assert(got.join(cut, "shard_id").filter(col("seq") <= col("cut")).count() === 0)
    // …and everything above it arrives exactly once: A's sent set and
    // B's delivery PARTITION the topic
    assert(got.count() === 1000 - nSent)
    assert(got.select("uuid").distinct().count() === 1000 - nSent)
    assert(got.select("uuid").intersect(sent.select("uuid")).count() === 0)
    assert(got.select("uuid").unionAll(sent.select("uuid"))
      .distinct().count() === 1000)
  }

  test("streamed MIPS probes serve the identical top-k as the batch a14 answer") {
    import spark.implicits._
    import graft.queries.Similarity
    implicit val sqlCtx = spark.sqlContext
    val expected = SparkEntry.queries("a14_mips_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(expected.nonEmpty)

    // The index is built OFFLINE (one augmented+bucketed corpus pass,
    // frozen here); serving broadcasts it, so the live probe stream is
    // pure map-side — no shuffle, no state store, each micro-batch
    // served independently through the same code path as the batch
    // acceptance gate (the hyperplanes are literals in the plan).
    val index = Similarity.mipsCorpusIndex(spark, sf).localCheckpoint()
    val probes = Similarity.mipsProbeVecs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val outDir = tempDir("mips_served")
    val input = MemoryStream[(Long, Seq[Double])]
    val q = input.toDF().toDF("probe_id", "emb")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tempDir("ck"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        Similarity.mipsServeProbes(index,
            batch.withColumn("nrm", graft.functions.Vec.norm(col("emb"))),
            broadcastIndex = true)
          .write.mode("append").parquet(outDir)
      }
      .start()
    input.addData(probes.take(2)); q.processAllAvailable()
    input.addData(probes.drop(2)); q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(got === expected)
  }

  test("streamed probes served through the frozen IVF-PQ index equal the batch a18 answer") {
    import spark.implicits._
    import graft.queries.Similarity
    implicit val sqlCtx = spark.sqlContext
    val expected = SparkEntry.queries("a18_ivf_pq_serve")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(expected.nonEmpty)

    // The index (cells, codes, centroids, codebook) is built OFFLINE
    // and frozen; each micro-batch of probes is served through the
    // same ivfPqServeProbes path as the batch acceptance gate — the
    // probe side is per-batch data, the corpus index is state that
    // never changes, so serving needs no streaming state store at all.
    val ix0 = Similarity.ivfPqIndex(spark, sf)
    val ix = Similarity.IvfPqIndex(
      ix0.assigned.localCheckpoint(), ix0.codes.localCheckpoint(),
      ix0.cents.localCheckpoint(), ix0.codebook.localCheckpoint())
    val pv = Similarity.hashTopK(
        Tables.embeddings(spark, sf)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
          .withColumn("nrm", graft.functions.Vec.norm(col("emb"))), "probe", 5)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val outDir = tempDir("a18_served")
    val input = MemoryStream[(Long, Seq[Double])]
    val q = input.toDF().toDF("probe_id", "p_emb")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tempDir("ck"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        Similarity.ivfPqServeProbes(ix,
            batch.withColumn("p_nrm", graft.functions.Vec.norm(col("p_emb"))))
          .write.mode("append").parquet(outDir)
      }
      .start()
    input.addData(pv.take(2)); q.processAllAvailable()
    input.addData(pv.drop(2)); q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === expected)
  }

  test("a topic migrates wire formats (JSON lines -> binary TLV) without losing a message") {
    // the ops task the pluggable-codec seam exists for: a topic's
    // wire format changes mid-life (the reference's WithMarshaller
    // swap) by draining the old topic and republishing through the
    // new codec — every message must survive TWO different envelope
    // round-trips with payload bytes and every header intact
    val src = Envelope.messages(spark, sf)
    val topicA = tempDir("topic_json"); val topicB = tempDir("topic_bin")
    Publisher.publish(src, topicA, format = graft.streaming.JsonLinesTopic)
    val qa = Subscriber.drainToMemory(
      Subscriber.subscribe(spark, topicA, graft.streaming.JsonLinesTopic),
      "mig_a", tempDir("ck_a"))
    qa.awaitTermination()
    val drained = spark.table("mig_a")
      .select(col("uuid"), col("uuid").cast("long").as("event_id"),
        col("partition_key"), col("payload"), col("headers"), col("ts"))
    Publisher.publish(drained, topicB, format = BinaryParquetTopic)
    val qb = Subscriber.drainToMemory(
      Subscriber.subscribe(spark, topicB, BinaryParquetTopic),
      "mig_b", tempDir("ck_b"))
    qb.awaitTermination()
    def census(df: org.apache.spark.sql.DataFrame) = df
      .select(col("uuid"), md5(col("payload")).as("ph"),
        col("headers")("eventType").as("h1"), col("headers")("source").as("h2"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    val a = census(spark.table("mig_a"))
    val b = census(spark.table("mig_b"))
    assert(a.nonEmpty && a === b)
    assert(b.size === src.count())
    // the migrated topic still satisfies the layout contract:
    // per-shard gap-free sequences
    val bad = spark.table("mig_b").groupBy("shard_id")
      .agg(count(lit(1)).as("n"), min("seq").as("lo"), max("seq").as("hi"))
      .filter(col("lo") =!= 1L || col("hi") =!= col("n"))
    assert(bad.count() === 0)
  }

  test("incremental segment dedup: the digest store grows per micro-batch and later re-uploads flag against it") {
    import spark.implicits._
    import graft.streaming.DataPrep
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // the corpus's segment digests are the pre-existing store
    var store = graft.queries.TextOps.segmentRows(docs)
      .select(col("h")).distinct().localCheckpoint()
    val storeSize0 = store.count()

    val corpusText = docs.filter(col("doc_id") === 7L)
      .collect().head.getString(1)
    val freshText = (1 to 25).map(i => s"zqx$i").mkString(" ")
    val fresh2Text = (1 to 25).map(i => s"wvy$i").mkString(" ")
    // batch 1: a verbatim corpus re-upload + a genuinely novel doc;
    // batch 2: a re-upload OF THE BATCH-1 NOVEL DOC (dup only if the
    // store grew) + a second novel doc
    val b1 = Seq((900001L, corpusText), (900002L, freshText))
    val b2 = Seq((900003L, freshText), (900004L, fresh2Text))

    val reports = scala.collection.mutable.ArrayBuffer.empty[Map[Long, (Double, Boolean)]]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tempDir("ck_segdedup"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val (report, added) = DataPrep.segmentDedupStep(store, batch)
          reports += report.collect()
            .map(r => r.getLong(0) -> (r.getAs[Double]("dup_ratio"), r.getAs[Boolean]("keep"))).toMap
          store = store.unionAll(added).localCheckpoint()
        }
      }
      .start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()

    assert(reports.length === 2)
    // batch 1: the corpus re-upload is fully dup; the novel doc is clean
    assert(reports(0)(900001L) === ((1.0, false)))
    assert(reports(0)(900002L) === ((0.0, true)))
    // batch 2: the batch-1 novel doc now flags FULLY against the grown
    // store — the evidence the store actually advanced between batches
    assert(reports(1)(900003L) === ((1.0, false)))
    assert(reports(1)(900004L) === ((0.0, true)))
    // the store grew by exactly the two novel docs' distinct segments
    val novelSegs = graft.queries.TextOps.segmentRows(
        Seq((900002L, freshText), (900004L, fresh2Text)).toDF("doc_id", "text"))
      .select(col("h")).distinct().count()
    assert(store.count() === storeSize0 + novelSegs)
  }

  test("incremental span dedup flags a copied passage inside an otherwise-novel arrival") {
    import spark.implicits._
    import graft.streaming.DataPrep
    implicit val sqlCtx = spark.sqlContext
    // history: 40 unique words; later arrival: history's first 30
    // words EMBEDDED in a novel doc — invisible to whole-doc and
    // (misaligned) segment dedup, exactly the span detector's case
    val histWords = (1 to 40).map(i => s"hx$i")
    val histText = histWords.mkString(" ")
    val collageText = ((1 to 7).map(i => s"nv$i") ++ histWords.take(30) ++
      (1 to 13).map(i => s"tail$i")).mkString(" ")
    val novelText = (1 to 45).map(i => s"pure$i").mkString(" ")

    var store = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.BinaryType))))
    val reports = scala.collection.mutable.ArrayBuffer
      .empty[Map[Long, (Long, Long, Double, Boolean)]]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tempDir("ck_spandedup"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val (report, added) = DataPrep.spanDedupStep(store, batch)
          reports += report.collect().map(r => r.getLong(0) ->
            ((r.getAs[Long]("n_spans"), r.getAs[Long]("covered_words"),
              r.getAs[Double]("dup_frac"), r.getAs[Boolean]("keep")))).toMap
          store = store.unionAll(added).localCheckpoint()
        }
      }
      .start()
    input.addData(Seq((1L, histText))); q.processAllAvailable()
    input.addData(Seq((2L, collageText), (3L, novelText))); q.processAllAvailable()
    q.stop()

    assert(reports.length === 2)
    // history arrives clean
    assert(reports(0)(1L) === ((0L, 0L, 0.0, true)))
    // the collage flags ONE maximal span covering exactly the 30
    // embedded words (positions 8..37 of a 50-word doc → 0.6 → drop)
    assert(reports(1)(2L) === ((1L, 30L, 0.6, false)))
    // the novel doc stays clean against the grown store
    assert(reports(1)(3L) === ((0L, 0L, 0.0, true)))
  }

  test("both dedup steps keep the first arrival of a same-batch duplicate") {
    import spark.implicits._
    import graft.streaming.DataPrep
    // two docs with identical 24-word text in ONE batch, empty store:
    // the lower id is the first arrival and stays clean, the other
    // flags in full
    val text = (1 to 24).map(i => s"same$i").mkString(" ")
    val batch = Seq((10L, text), (11L, text)).toDF("doc_id", "text")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.BinaryType))))
    def verdicts(report: org.apache.spark.sql.DataFrame, frac: String) =
      report.collect().map(r =>
        r.getAs[Long]("doc_id") -> ((r.getAs[Double](frac), r.getAs[Boolean]("keep")))).toMap
    def digests(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getAs[Array[Byte]]("h").toSeq).toSeq

    val (segReport, segAdded) = DataPrep.segmentDedupStep(empty, batch)
    assert(verdicts(segReport, "dup_ratio") === Map(10L -> ((0.0, true)), 11L -> ((1.0, false))))
    val segDigests = digests(segAdded)
    assert(segDigests.distinct.length === segDigests.length)
    assert(segDigests.toSet === digests(
      graft.queries.TextOps.segmentRows(batch.filter(col("doc_id") === 10L))).toSet)

    val (spanReport, spanAdded) = DataPrep.spanDedupStep(empty, batch)
    assert(verdicts(spanReport, "dup_frac") === Map(10L -> ((0.0, true)), 11L -> ((1.0, false))))
    val spanDigests = digests(spanAdded)
    assert(spanDigests.distinct.length === spanDigests.length)
    assert(spanDigests.toSet === digests(graft.queries.Dedup.spanWindows(
      batch.filter(col("doc_id") === 10L)
        .select(col("doc_id"), graft.functions.Portable.words(col("text")).as("w")))).toSet)
  }

  test("the drift monitor riding the curate ingest path equals batch p6") {
    import graft.streaming.DataPrep
    val topic = tempDir("topic_cm")
    val outDir = tempDir("curated_cm")
    val cellsDir = tempDir("cells_cm")

    // the p6 corpus — originals plus the planted degraded cell —
    // published as messages with the SOURCE as partition key (the
    // producer-set provenance field curateMonitored attributes cells to)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
    val plantSrc = docs.agg(min(col("source"))).head.getString(0)
    val plant = docs
      .filter(col("source") === plantSrc && col("doc_id") % 7 === 6)
      .withColumn("k", explode(sequence(lit(0L), lit(4L))))
      .select((col("doc_id") + 700000L + col("k") * 70000L).as("doc_id"),
        concat(concat_ws(" ", array_repeat(lit("!?!?"), 30)),
          lit(" "), col("doc_id").cast("string")).as("text"),
        col("source"))
    def asMsgs(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id").as("event_id"),
      col("doc_id").cast("string").as("uuid"),
      col("source").as("partition_key"),
      col("text").cast("binary").as("payload"),
      lit("doc").as("event_type"),
      lit(0.0).as("value"),
      expr("timestamp '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, doc_id)").as("ts"),
      map(lit("eventType"), lit("doc")).as("headers"))
    Publisher.publish(asMsgs(docs), topic)
    Publisher.publish(asMsgs(plant), topic)

    val q = DataPrep.curateMonitored(
      Subscriber.subscribe(spark, topic, maxFilesPerTrigger = 3),
      outDir, cellsDir, tempDir("hstore_cm"), tempDir("ck_cm"))
    q.awaitTermination()

    // curated corpus only holds docs passing the filter; the monitor
    // saw everything — the planted spam cell must be flagged even
    // though the filter kept it out of outDir
    val curated = spark.read.parquet(outDir)
    assert(curated.filter(col("quality") < 0.5).count() === 0)
    // the digest-store dedup curated each content hash exactly once
    // even though the monitor saw every raw arrival
    assert(curated.count() === curated.select("h").distinct().count())
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getBoolean(7))
    val expected = SparkEntry.queries("p6_source_drift")(spark, sf)
      .collect().map(key).toSet
    val got = DataPrep.ingestDrift(spark, cellsDir).collect().map(key).toSet
    assert(got === expected)
    assert(got.exists(_._8), "the planted degraded cell was not flagged")
  }

  test("curateMonitored replays a crashed micro-batch instead of erasing it") {
    import graft.streaming.DataPrep
    import graft.functions.Portable
    val topic = tempDir("topic_cr")
    val outDir = tempDir("curated_cr")
    val hStore = tempDir("hstore_cr")
    val docs = Tables.documents(spark, sf).limit(50)
      .select(col("doc_id"), col("text"), lit("s").as("source"))
    Publisher.publish(docs.select(
      col("doc_id").as("event_id"), col("doc_id").cast("string").as("uuid"),
      col("source").as("partition_key"), col("text").cast("binary").as("payload"),
      lit("doc").as("event_type"), lit(0.0).as("value"),
      expr("timestamp '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, doc_id)").as("ts"),
      map(lit("eventType"), lit("doc")).as("headers")), topic)

    // simulate the crash the fix exists for: a previous attempt of
    // batch 0 already wrote its digest partition, then died before
    // the checkpoint committed — the replay must NOT anti-join
    // against its own partial write (that would empty the batch and
    // overwrite its outputs with nothing)
    docs.select(Portable.md5bin(Portable.normText(col("text"))).as("h"))
      .distinct().write.parquet(s"$hStore/micro_batch_id=0")

    val q = DataPrep.curateMonitored(
      Subscriber.subscribe(spark, topic, maxFilesPerTrigger = 64),
      outDir, tempDir("cells_cr"), hStore, tempDir("ck_cr"))
    q.awaitTermination()

    val curated = spark.read.parquet(outDir)
    val expected = graft.queries.Pipeline.withQuality(
        docs.withColumn("h", Portable.md5bin(Portable.normText(col("text")))))
      .filter(col("quality") >= 0.5).select("h").distinct().count()
    assert(curated.count() === expected,
      s"replayed batch curated ${curated.count()} docs, expected $expected")
  }

  test("curateMonitored rejects a legacy md5hex digest store by name") {
    import graft.streaming.DataPrep
    import graft.functions.Portable
    val topic = tempDir("topic_lg")
    val outDir = tempDir("curated_lg")
    val hStore = tempDir("hstore_lg")
    val docs = Tables.documents(spark, sf).limit(40)
      .select(col("doc_id"), col("text"), lit("s").as("source"))
    // a store in the legacy md5hex format: hex STRING digests for the
    // even docs (micro_batch_id=999 so the replay exclusion of the
    // current batch id can't mask the format issue)
    docs.filter(col("doc_id") % 2 === 0)
      .select(md5(Portable.normText(col("text")).cast("binary")).as("h"))
      .distinct().write.parquet(s"$hStore/micro_batch_id=999")

    Publisher.publish(docs.select(
      col("doc_id").as("event_id"), col("doc_id").cast("string").as("uuid"),
      col("source").as("partition_key"), col("text").cast("binary").as("payload"),
      lit("doc").as("event_type"), lit(0.0).as("value"),
      expr("timestamp '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, doc_id)").as("ts"),
      map(lit("eventType"), lit("doc")).as("headers")), topic)
    val q = DataPrep.curateMonitored(
      Subscriber.subscribe(spark, topic, maxFilesPerTrigger = 64),
      outDir, tempDir("cells_lg"), hStore, tempDir("ck_lg"))

    // a silent hex-vs-binary mismatch would anti-join nothing and
    // re-curate every legacy-seen doc — the dedup-loss seam — so the
    // store is rejected by name before anything is curated
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q.awaitTermination())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(m => m.contains("[graft] digest store") &&
        m.contains("expected BINARY")),
      s"no named digest-store error in: ${msgs.mkString(" | ")}")
    assert(Option(new java.io.File(outDir).listFiles).forall(_.isEmpty),
      "docs were curated against an unreadable digest store")
    // the legacy store is left as it was, neither coerced nor rewritten
    assert(spark.read.parquet(hStore).schema("h").dataType ===
      org.apache.spark.sql.types.StringType)
  }

  test("the live ingest-drift monitor converges to exactly the batch p6 table") {
    import spark.implicits._
    import graft.queries.Pipeline
    implicit val sqlCtx = spark.sqlContext
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getBoolean(7))
    val expected = SparkEntry.queries("p6_source_drift")(spark, sf)
      .collect().map(key).toSet

    // the same corpus p6 audits — originals plus the planted degraded
    // cell — arrives as a live ingest stream instead of a table
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
    val plantSrc = docs.agg(min(col("source"))).head.getString(0)
    val plant = docs
      .filter(col("source") === plantSrc && col("doc_id") % 7 === 6)
      .withColumn("k", explode(sequence(lit(0L), lit(4L))))
      .select((col("doc_id") + 700000L + col("k") * 70000L).as("doc_id"),
        concat(concat_ws(" ", array_repeat(lit("!?!?"), 30)),
          lit(" "), col("doc_id").cast("string")).as("text"),
        col("source"))
    val rows = docs.unionByName(plant)
      .as[(Long, String, String)].collect()

    var store = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ingest_day",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_docs",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s1",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("s2",
          org.apache.spark.sql.types.DoubleType))))
    val input = MemoryStream[(Long, String, String)]
    val q = input.toDF().toDF("doc_id", "text", "source")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tempDir("ck_drift"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        store = Pipeline.qualityCellsStep(store, batch).localCheckpoint()
      }
      .start()
    // uneven micro-batches that SPLIT cells across batches — the
    // mergeable-sums contract is what's under test
    input.addData(rows.take(100)); q.processAllAvailable()
    input.addData(rows.slice(100, 317)); q.processAllAvailable()
    input.addData(rows.drop(317)); q.processAllAvailable()
    q.stop()

    val got = Pipeline.driftFromCells(store).collect().map(key).toSet
    assert(got === expected)
  }

  test("the live shard-cost monitor converges to exactly the batch m23 table") {
    import spark.implicits._
    import graft.queries.Messaging
    import graft.operators.Envelope
    implicit val sqlCtx = spark.sqlContext
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
        r.getLong(5), r.getDouble(6), r.getDouble(7), r.getDouble(8), r.getString(9))
    val expected = SparkEntry.queries("m23_shard_cost")(spark, sf)
      .collect().map(key).toSet
    // at this SF the hot-key burst always fires; whether "split" also
    // appears depends on which shard the max user hashes to (it does
    // at sf0.01 — the driver-checked SF)
    assert(expected.exists(_._10 == "isolate_key"))

    // the SAME event stream m23 audits — originals plus both planted
    // bursts — arrives as live micro-batches; the monitor grows two
    // mergeable cell stores ((shard, minute) and (shard, key) counts)
    // and the decision layer reads them, never the event stream
    val ev = Tables.events(spark, sf).select(col("user_id"), col("ts"))
    val mu = ev.agg(min(col("user_id")).as("mu"))
    val hot = ev.crossJoin(broadcast(mu))
      .filter(col("user_id") === col("mu"))
      .withColumn("i", explode(sequence(lit(1), lit(30))))
      .select(col("user_id"), col("ts"))
    val base = ev.unionAll(hot)
      .select(Envelope.shardId(col("user_id").cast("string")).as("shard_id"),
        col("user_id"), col("ts"))
    val busy = ev.agg(max(col("user_id")).as("mx"))
      .select(Envelope.shardId(col("mx").cast("string")).as("busy_shard"))
    val diffuse = base.crossJoin(broadcast(busy))
      .filter(col("shard_id") === col("busy_shard"))
      .withColumn("i", explode(sequence(lit(1), lit(2))))
      .select(col("shard_id"), col("user_id"), col("ts"))
    val rows = base.unionAll(diffuse)
      .as[(Long, Long, java.sql.Timestamp)].collect()

    def emptyCells(cols: (String, org.apache.spark.sql.types.DataType)*) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(cols.map { case (n, t) =>
          org.apache.spark.sql.types.StructField(n, t) }))
    import org.apache.spark.sql.types.{LongType, TimestampType}
    var minStore = emptyCells("shard_id" -> LongType, "minute" -> TimestampType,
      "n" -> LongType)
    var keyStore = emptyCells("shard_id" -> LongType, "user_id" -> LongType,
      "n" -> LongType)
    val input = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = input.toDF().toDF("shard_id", "user_id", "ts")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tempDir("ck_cost"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val (m2, k2) = Messaging.costCellsStep(minStore, keyStore, batch)
        minStore = m2.localCheckpoint(); keyStore = k2.localCheckpoint()
      }
      .start()
    // uneven micro-batches SPLIT minutes and keys across batches —
    // the mergeable-sums contract is what's under test
    input.addData(rows.take(1000).toIndexedSeq); q.processAllAvailable()
    input.addData(rows.slice(1000, 4321).toIndexedSeq); q.processAllAvailable()
    input.addData(rows.drop(4321).toIndexedSeq); q.processAllAvailable()
    q.stop()

    val got = Messaging.shardCostFromCells(minStore, keyStore)
      .collect().map(key).toSet
    assert(got === expected)
  }

  test("the live consumer-lag monitor converges to exactly the batch m16/m21 tables") {
    import graft.queries.Messaging
    // the SAME stream the batch operators audit, as a LIVE subscription
    val topic = tempDir("topic")
    Publisher.publish(Envelope.messages(spark, sf), topic)
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val expectedLag = SparkEntry.queries("m16_consumer_lag")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val expectedEta = SparkEntry.queries("m21_drain_eta")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(expectedLag.nonEmpty && expectedEta.nonEmpty)

    // the monitor grows ONE shards-sized mergeable cell store; the
    // decision layers (shared verbatim with the batch m16/m21) read
    // only the store, never the stream
    import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}
    var store = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("shard_id", LongType),
        StructField("last_seq", LongType), StructField("ckpt_seq", LongType),
        StructField("tip_ts", TimestampType), StructField("ckpt_ts", TimestampType),
        StructField("start_ts", TimestampType))))
    // one topic file per micro-batch, so shards SPLIT across batches —
    // the mergeable max/min contract is what's under test
    val q = Subscriber.subscribe(spark, topic, maxFilesPerTrigger = 1)
      .select(col("shard_id"), col("seq"), col("ts"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", tempDir("ck_lag"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        store = Messaging.lagCellsStep(store, batch, cut).localCheckpoint()
      }
      .start()
    q.processAllAvailable(); q.stop()

    val gotLag = Messaging.lagFromCells(store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val gotEta = Messaging.drainEtaFromCells(store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(gotLag === expectedLag)
    assert(gotEta === expectedEta)
  }

  test("the live compaction monitor converges to exactly the batch a22 policy") {
    import spark.implicits._
    import graft.queries.Similarity
    implicit val sqlCtx = spark.sqlContext
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getString(5), r.getLong(6), r.getDouble(7), r.getBoolean(8))
    val expected = SparkEntry.queries("a22_compact_policy")(spark, sf)
      .collect().map(key).toSet
    assert(expected.nonEmpty)

    // freeze the index-build-time side: centroids from the base
    // corpus, plus each cell's base-population stats — the monitor
    // never rescans the base after this point
    val v = Similarity.vecs(spark, sf)
    val base = v.filter(pmod(col("vec_id"), lit(7L)) =!= 3L)
    val cents = Similarity.hashTopK(base, "cent", 10)
      .select(col("vec_id").as("cell"), col("emb").as("c_emb"), col("nrm").as("c_nrm"))
      .localCheckpoint()
    val baseStats = Similarity.baseStatsOf(base, cents).localCheckpoint()

    // the post-build arrivals (a22's 1/7 delta split) come in as a
    // LIVE stream; each micro-batch costs one broadcast assignment +
    // a cells-sized merge into the durable delta-stats store
    val delta = v.filter(pmod(col("vec_id"), lit(7L)) === 3L)
      .select(col("vec_id"), col("emb")).as[(Long, Seq[Double])].collect()
    var store = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_delta",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s_delta",
          org.apache.spark.sql.types.DoubleType))))
    val input = MemoryStream[(Long, Seq[Double])]
    val q = input.toDF().toDF("vec_id", "emb")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tempDir("ck_compact"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        store = Similarity.compactStatsStep(cents, store,
          batch.withColumn("nrm", graft.functions.Vec.norm(col("emb"))))
          .localCheckpoint()
      }
      .start()
    // three uneven micro-batches: the merge must be order-insensitive
    input.addData(delta.take(5)); q.processAllAvailable()
    input.addData(delta.slice(5, 7)); q.processAllAvailable()
    input.addData(delta.drop(7)); q.processAllAvailable()
    q.stop()

    val got = Similarity.policyOfStores(baseStats, store).collect().map(key).toSet
    assert(got === expected)

    // round 13: the serve-cost drift table reads the SAME stores —
    // the live monitor prices every probe's scan bill after each
    // micro-batch for stores-sized cost, and the table equals the
    // batch a30 exactly under this arbitrary 5/2/rest batch split
    val probes = Similarity.hashTopK(v, "probe", 5)
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"),
        col("nrm").as("p_nrm"))
    def driftKey(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6), r.getLong(7), r.getLong(8))
    val liveDrift = Similarity.serveDriftOfStores(baseStats, store, cents, probes)
      .collect().map(driftKey).toSet
    val batchDrift = Similarity.serveDriftOf(v,
        pmod(col("vec_id"), lit(7L)) === 3L)
      .collect().map(driftKey).toSet
    assert(liveDrift === batchDrift)

    // and the monitor is consultable mid-stream: a fresh store with
    // NO arrivals must report every cell keep, nothing to rebuild
    val idle = Similarity.policyOfStores(baseStats,
      store.filter(lit(false))).collect()
    assert(idle.forall(r => r.getString(5) == "keep" && !r.getBoolean(8)))
  }

  test("streamed 1-hour funnel emits every signed-up user exactly as the batch q44 stages") {
    import spark.implicits._
    import graft.streaming.Funnel
    implicit val sqlCtx = spark.sqlContext
    val hourUs = 3600L * 1000000L
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts"))
      .filter(col("event_type").isin("signup", "view", "purchase"))
    val rows = ev.as[(Long, String, java.sql.Timestamp)].collect().toSeq
    val maxTs = rows.map(_._3.getTime).max
    // a far-future no-op advances the watermark past every user's
    // 2-hour funnel window, so every pending timeout fires before the
    // stream drains — the streamed answer must then be COMPLETE, not
    // just consistent
    val sentinel = Seq((-1L, "noop",
      new java.sql.Timestamp(maxTs + 30L * 24 * 3600 * 1000)))

    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val done = Funnel.funnelStream(input.toDF().toDF("user_id", "event_type", "ts"))
    val q = done.writeStream.outputMode("append")
      .format("memory").queryName("funnel_done")
      .option("checkpointLocation", tempDir("ck_funnel"))
      .start()
    input.addData(rows); q.processAllAvailable()
    input.addData(sentinel); q.processAllAvailable()
    q.stop()
    val got = spark.table("funnel_done").as[Funnel.FunnelDone].collect()
      .map(d => (d.user_id, d.t_signup_us, d.t_view_us, d.t_purchase_us)).toSet

    // q44's three batch stages, kept per user instead of aggregated
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(expr("unix_micros(ts)")).as("t_s"))
    val vw = ev.filter(col("event_type") === "view")
      .join(su, "user_id")
      .filter(expr("unix_micros(ts)") > col("t_s") &&
        expr("unix_micros(ts)") <= col("t_s") + hourUs)
      .groupBy(col("user_id")).agg(min(expr("unix_micros(ts)")).as("t_v"))
    val pu = ev.filter(col("event_type") === "purchase")
      .join(vw, "user_id")
      .filter(expr("unix_micros(ts)") > col("t_v") &&
        expr("unix_micros(ts)") <= col("t_v") + hourUs)
      .groupBy(col("user_id")).agg(min(expr("unix_micros(ts)")).as("t_p"))
    val want = su.join(vw, Seq("user_id"), "left").join(pu, Seq("user_id"), "left")
      .select(col("user_id"), col("t_s"),
        coalesce(col("t_v"), lit(-1L)), coalesce(col("t_p"), lit(-1L)))
      .as[(Long, Long, Long, Long)].collect().toSet

    assert(want.nonEmpty)
    assert(got === want,
      s"streamed funnel diverged: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
    // the strict window must discriminate: converters AND non-converters
    assert(got.exists(_._3 >= 0) && got.exists(_._3 === -1L))
  }

  test("the live shard-integrity monitor converges to exactly the batch mm10 manifest") {
    import spark.implicits._
    import graft.queries.Multimodal
    implicit val sqlCtx = spark.sqlContext
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))
    val expected = SparkEntry.queries("mm10_shard_checksum")(spark, sf)
      .collect().map(key).toSet
    assert(expected.nonEmpty)

    // the SAME blob manifest, arriving as live micro-batches split at
    // arbitrary points — shards and modalities straddle batches, so
    // the mergeable-cells contract (sums + commutative XOR + min/max)
    // is what's under test
    val rows = Multimodal.blobManifest(spark, sf)
      .select(col("doc_id"), col("modality"), col("n_bytes"),
        col("shard_id"), col("digest"))
      .as[(Long, String, Long, Long, Long)].collect()

    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    var store = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("modality", StringType),
        StructField("shard_id", LongType), StructField("n_blobs", LongType),
        StructField("shard_bytes", LongType), StructField("checksum60", LongType),
        StructField("first_doc", LongType), StructField("last_doc", LongType))))
    val input = MemoryStream[(Long, String, Long, Long, Long)]
    val q = input.toDF().toDF("doc_id", "modality", "n_bytes", "shard_id", "digest")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tempDir("ck_mm10"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        store = Multimodal.checksumCellsStep(store, batch).localCheckpoint()
      }
      .start()
    input.addData(rows.take(123).toIndexedSeq); q.processAllAvailable()
    input.addData(rows.slice(123, 377).toIndexedSeq); q.processAllAvailable()
    input.addData(rows.drop(377).toIndexedSeq); q.processAllAvailable()
    q.stop()

    val got = store.collect().map(key).toSet
    assert(got === expected,
      s"streamed integrity manifest diverged: ${(got diff expected).take(3)}")
  }

  test("the live histogram-cell anomaly monitor converges to exactly the batch q47 fences") {
    import spark.implicits._
    import graft.queries.Analytics
    implicit val sqlCtx = spark.sqlContext
    // frozen per-type bounds — production monitors run with configured
    // histogram bounds; here they come from the same stats the batch
    // query uses so the stores are comparable
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("value").cast("double").as("x"))
    val stats = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("x")).as("vmin"), max(col("x")).as("vmax"))
      .localCheckpoint()
    val batchCells = Analytics.histCells(ev, stats)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batchFences = Analytics.fencesFromCells(Analytics.histCells(ev, stats), stats)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(batchCells.nonEmpty && batchFences.nonEmpty)

    // the same events arrive as uneven micro-batches; the store grows
    // by cell sums only — buckets and types straddle the splits
    val rows = ev.as[(String, Double)].collect()
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    var store = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("event_type", StringType),
        StructField("bucket", LongType), StructField("bn", LongType))))
    val input = MemoryStream[(String, Double)]
    val q = input.toDF().toDF("event_type", "x")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tempDir("ck_q47"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        store = Analytics.histCellsStep(store, batch, stats).localCheckpoint()
        ()
      }
      .start()
    input.addData(rows.take(1111).toIndexedSeq); q.processAllAvailable()
    input.addData(rows.slice(1111, 6000).toIndexedSeq); q.processAllAvailable()
    input.addData(rows.drop(6000).toIndexedSeq); q.processAllAvailable()
    q.stop()

    val gotCells = store.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotCells === batchCells, "streamed cells diverged from batch cells")
    val gotFences = Analytics.fencesFromCells(store, stats)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(gotFences === batchFences, "streamed fences diverged")
  }

  test("ingest-time decontamination flags exactly what the batch t26 table flags") {
    import spark.implicits._
    import graft.queries.TextOps
    implicit val sqlCtx = spark.sqlContext
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getString(6))
    val expected = SparkEntry.queries("t26_span_decontam")(spark, sf)
      .collect().map(key).toSet
    assert(expected.nonEmpty)

    // the eval digest set is static and benchmark-sized — a curator
    // loads it once and screens every arriving micro-batch with the
    // SAME shared span machinery; per-batch results union to exactly
    // the batch table because the step is stateless given the set
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val evalWins = TextOps.evalWindowDigests(docs).localCheckpoint()
    val rows = docs.as[(Long, String)].collect()
    val acc = scala.collection.mutable.Set[(Long, Long, Long, Long, Long, Double, String)]()
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tempDir("ck_t26"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        acc ++= TextOps.contamSpans(batch, evalWins).collect().map(key)
        ()
      }
      .start()
    input.addData(rows.take(77).toIndexedSeq); q.processAllAvailable()
    input.addData(rows.slice(77, 301).toIndexedSeq); q.processAllAvailable()
    input.addData(rows.drop(301).toIndexedSeq); q.processAllAvailable()
    q.stop()

    assert(acc.toSet === expected,
      s"streamed decontam diverged: ${(acc.toSet diff expected).take(3)} vs ${(expected diff acc.toSet).take(3)}")
  }

  test("live curate router: an arriving code/contaminated doc gets the batch t25/t26 disposition") {
    import spark.implicits._
    import graft.queries.TextOps
    import graft.streaming.DataPrep
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val evalWins = TextOps.evalWindowDigests(docs).localCheckpoint()
    // engineered arrivals alongside the corpus: a code-shaped doc
    // (t25's plant surface) and a doc embedding an eval passage
    // (words 5-25 of an eval doc -> must flag contaminated)
    val evalDoc = docs.filter(col("doc_id") % 13 === 0)
      .select(concat_ws(" ", slice(graft.functions.Portable.words(col("text")), 5, 21)))
      .as[String].head()
    val codeText = "if (x) { var x = 1; } if (y) { var y = 2; } return;"
    val contamText = "lead pad words " + evalDoc + " trailing pad words here"
    val arrivals = docs.as[(Long, String)].collect().toIndexedSeq ++
      Seq((900001L, codeText), (900002L, contamText))

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getString(5))
    // batch expectation: the SAME step over the whole corpus at once
    val expected = DataPrep.routeStep(
      arrivals.toDF("doc_id", "text"), evalWins).collect().map(key).toSet

    val acc = scala.collection.mutable.Set[(Long, String, Double, Long, Double, String)]()
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tempDir("ck_route"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        acc ++= DataPrep.routeStep(batch, evalWins).collect().map(key)
        ()
      }
      .start()
    input.addData(arrivals.take(150)); q.processAllAvailable()
    input.addData(arrivals.drop(150)); q.processAllAvailable()
    q.stop()

    assert(acc.toSet === expected,
      s"streamed routing diverged: ${(acc.toSet diff expected).take(3)} vs ${(expected diff acc.toSet).take(3)}")
    // and the engineered arrivals got the dispositions the batch
    // operators assign: code routed to the code bucket, the embedded
    // eval passage caught with a non-clean action
    val byId = acc.toSeq.groupBy(_._1)
    assert(byId(900001L).head._2 === "code")
    assert(byId(900002L).head._2 === "prose")
    assert(byId(900002L).head._6 !== "clean")
    assert(byId(900002L).head._4 > 0L)
  }

  test("the live media curate stream converges to exactly the batch p11 dispositions") {
    import spark.implicits._
    import graft.streaming.{BinaryParquetTopic, DataPrep}
    import graft.operators.MediaDecode
    val topic = tempDir("topic_media")
    val outDir = tempDir("media_out")
    val cellsDir = tempDir("media_cells")
    // the SAME mixed-modality members the batch p11 query plants,
    // shipped over the TLV BINARY envelope — media bytes on the wire
    // with no base64 expansion (the codec m15 proves)
    val ids = Tables.documents(spark, sf).select(col("doc_id")).as[Long].collect().toSeq
    val arrivals = ids.map(id => (id, MediaDecode.plantedCurateBytes(id)))
    Publisher.publish(arrivals.toDF("doc_id", "payload").select(
      col("doc_id").as("event_id"), col("doc_id").cast("string").as("uuid"),
      pmod(col("doc_id"), lit(4L)).cast("string").as("partition_key"),
      col("payload"),
      lit("media").as("event_type"), lit(0.0).as("value"),
      expr("timestamp '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, doc_id)").as("ts"),
      map(lit("eventType"), lit("media")).as("headers")), topic,
      format = BinaryParquetTopic)
    val q = DataPrep.mediaCurateStream(
      Subscriber.subscribe(spark, topic, BinaryParquetTopic, maxFilesPerTrigger = 2),
      outDir, cellsDir, tempDir("ck_media"))
    q.awaitTermination()
    // per-doc: streamed dispositions == the batch p11 table, row for row
    val streamed = spark.read.parquet(outDir)
      .select(col("doc_id"), col("modality"), col("container"), col("disposition"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    val batch = SparkEntry.queries("p11_media_curate")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    assert(streamed === batch)
    // the fold was exercised across real micro-batch boundaries
    assert(spark.read.parquet(cellsDir)
      .select(col("micro_batch_id")).distinct().count() > 1)
    // the folded yield table == the batch rollup, shares included
    val yld = DataPrep.mediaYield(spark, cellsDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val expected = batch.toSeq.map { case (_, (mod, _, disp)) => (mod, disp) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val modTotals = expected.toSeq.groupBy(_._1._1).view
      .mapValues(_.map(_._2).sum).toMap
    assert(yld.keySet === expected.keySet)
    expected.foreach { case (k, n) =>
      assert(yld(k)._1 === n, s"cell $k count")
      assert(yld(k)._2 ===
        BigDecimal(n.toDouble / modTotals(k._1)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble, s"cell $k share")
    }
  }

  test("the live crawl curate stream: gates exact vs batch p13, dedup group-equivalent") {
    import spark.implicits._
    import graft.streaming.{BinaryParquetTopic, DataPrep, Publisher, Subscriber}
    import graft.operators.Warc
    val topic = tempDir("topic_crawl")
    val outDir = tempDir("crawl_out")
    // deliberately NOT pre-created: the first micro-batch must take
    // the store-absent probe branch (Hadoop-FS existence check, no
    // WARN stack) — the curateMonitored specs cover the
    // exists-but-empty pre-created branch
    val hStore = tempDir("crawl_hstore") + "/nested_h"
    // the SAME .warc.gz members the batch p13 query plants (tampered
    // residue-7 members included), shipped in id order over the TLV
    // binary envelope — compressed bytes on the wire, no base64
    val ids = Tables.documents(spark, sf).select(col("doc_id")).as[Long]
      .collect().sorted.toSeq
    val arrivals = ids.map(id => (id, Warc.plantedCrawlBytes(id)))
    Publisher.publish(arrivals.toDF("doc_id", "payload").select(
      col("doc_id").as("event_id"), col("doc_id").cast("string").as("uuid"),
      pmod(col("doc_id"), lit(4L)).cast("string").as("partition_key"),
      col("payload"),
      lit("crawl").as("event_type"), lit(0.0).as("value"),
      expr("timestamp '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, doc_id)").as("ts"),
      map(lit("eventType"), lit("crawl")).as("headers")), topic,
      format = BinaryParquetTopic)
    // the template inventory the stream consumes is the PUBLISHED
    // batch artifact — mined once over the decoded corpus, exactly
    // what the batch query mines in-query
    val decoded = graft.queries.Pipeline.crawlDecode(
      arrivals.toDF("doc_id", "payload")
        .as[(Long, Array[Byte])]).localCheckpoint()
    val inventory = graft.queries.Pipeline.crawlInventory(decoded)
      .localCheckpoint()
    // the eval-excerpt digest set is likewise a PUBLISHED artifact —
    // derived once from the template-stripped corpus snapshot, the
    // same frame the batch query derives it from (a micro-batch
    // sample can't know which pages the benchmark excerpted)
    val evalDigests = graft.queries.Pipeline.crawlEvalDigests(
      graft.queries.Pipeline.crawlStrip(decoded, inventory))
      .localCheckpoint()
    val uStore = tempDir("crawl_ustore") + "/nested_u"
    val q = DataPrep.crawlCurateStream(
      Subscriber.subscribe(spark, topic, BinaryParquetTopic, maxFilesPerTrigger = 2),
      outDir, hStore, uStore, inventory, evalDigests, tempDir("ck_crawl"))
    q.awaitTermination()
    val streamed = spark.read.parquet(outDir)
      .select(col("doc_id"), col("disposition"), col("n_words"), col("pred_lang"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getString(3)))).toMap
    val batch = SparkEntry.queries("p13_crawl_curate")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getString(3)))).toMap
    // every GATE decision (decode / strip / language / length /
    // quality) and every feature is identical row for row — the
    // sharded publisher scatters ids across files, so only the dedup
    // CANONICALIZATION may differ: batch keeps the min id of a
    // url/content duplicate group, the stream keeps the first
    // arrival. Map the dedup-stage labels to a common one and the
    // tables must be equal.
    def canon(m: Map[Long, (String, Long, String)]) =
      m.view.mapValues { case (d, w, l) =>
        (if (d == "duplicate" || d == "url_duplicate" || d == "keep")
          "keep_or_dup" else d, w, l)
      }.toMap
    val diffs = (streamed.keySet ++ batch.keySet)
      .filter(k => canon(streamed).get(k) != canon(batch).get(k)).toSeq.sorted
    assert(diffs.isEmpty, s"${diffs.length} rows differ: " + diffs.take(10)
      .map(k => s"$k streamed=${streamed.get(k)} batch=${batch.get(k)}")
      .mkString("; "))
    // dedup is group-EQUIVALENT under arbitrary arrival order:
    // exactly one keeper per duplicate group (the first arrival),
    // the same groups as batch, and the same per-label totals.
    // Groups: content pairs (id ≡ 1 mod 11, same 22-block key, urls
    // distinct) and url pairs ({id, id+2} for id ≡ 0 mod 11 when the
    // re-crawl exists, content distinct) — disjoint by construction.
    val dedupIds = batch.keys.filter(id => Set("keep", "duplicate",
      "url_duplicate").contains(batch(id)._1)).toSet
    val dupGroups = dedupIds.groupBy { id =>
      if (id % 11 == 1) ("content", (id - 1) / 22 * 22 + 1)
      else if (id % 11 == 2) ("url", id - 2)
      else if (id % 11 == 0 && dedupIds.contains(id + 2)) ("url", id)
      else ("solo", id)
    }
    dupGroups.foreach { case (g, members) =>
      val kept = members.filter(id => streamed(id)._1 == "keep")
      // a decontam-DROPPED doc is excluded from the dup ranks on
      // both sides (batch NULLs it out of the min windows, the
      // stream skips it in ranks and stores), so a group whose
      // canonical member leaked still keeps its clean re-crawl —
      // exactly one keeper among the SURVIVING members, batch and
      // stream alike (dedupIds already excludes dropped docs, so
      // every group here must keep exactly one)
      val expectedKeep = members.count(id => batch(id)._1 == "keep")
      assert(expectedKeep == 1, s"group $g batch kept $expectedKeep")
      assert(kept.size == expectedKeep,
        s"group $g kept ${kept.toSeq.sorted}, batch kept $expectedKeep")
    }
    assert(dupGroups.keys.count(_._1 == "url") > 0)
    // decontam classes are STATELESS given the published eval
    // artifact, so they sit outside the canon() fold: the row-for-row
    // diff above already required them identical; here both classes
    // must also actually fire
    Seq("keep", "duplicate", "url_duplicate",
        "decontam_drop", "decontam_redact").foreach { d =>
      assert(streamed.values.count(_._1 == d) ===
        batch.values.count(_._1 == d), s"label total $d")
      assert(batch.values.count(_._1 == d) > 0, s"label $d never fired")
    }
    // both digest stores were folded across real micro-batch boundaries
    assert(spark.read.parquet(hStore)
      .select(col("micro_batch_id")).distinct().count() > 1)
    assert(spark.read.parquet(uStore)
      .select(col("micro_batch_id")).distinct().count() > 1)
  }

  test("the crawl stream rejects a digest store whose h column is not BINARY, by name") {
    import spark.implicits._
    import graft.streaming.{BinaryParquetTopic, DataPrep, Publisher, Subscriber}
    import graft.operators.Warc
    val topic = tempDir("topic_crawl_bad")
    val hStore = tempDir("crawl_hstore_bad")
    // a string-typed h partition (hex digests, say): joined against the
    // stream's md5bin digests it would never match, silently keeping
    // every re-crawled duplicate
    Seq("0123456789abcdef0123456789abcdef").toDF("h")
      .write.parquet(s"$hStore/micro_batch_id=999")
    val arrivals = (1L to 6L).map(id => (id, Warc.plantedCrawlBytes(id)))
    Publisher.publish(arrivals.toDF("doc_id", "payload").select(
      col("doc_id").as("event_id"), col("doc_id").cast("string").as("uuid"),
      lit("0").as("partition_key"), col("payload"),
      lit("crawl").as("event_type"), lit(0.0).as("value"),
      expr("timestamp '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, doc_id)").as("ts"),
      map(lit("eventType"), lit("crawl")).as("headers")), topic,
      format = BinaryParquetTopic)
    val decoded = graft.queries.Pipeline.crawlDecode(
      arrivals.toDF("doc_id", "payload").as[(Long, Array[Byte])]).localCheckpoint()
    val inventory = graft.queries.Pipeline.crawlInventory(decoded).localCheckpoint()
    val evalDigests = graft.queries.Pipeline.crawlEvalDigests(
      graft.queries.Pipeline.crawlStrip(decoded, inventory)).localCheckpoint()
    val q = DataPrep.crawlCurateStream(
      Subscriber.subscribe(spark, topic, BinaryParquetTopic),
      tempDir("crawl_out_bad"), hStore, tempDir("crawl_ustore_bad") + "/u",
      inventory, evalDigests, tempDir("ck_crawl_bad"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q.awaitTermination())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(m => m.contains("[graft] digest store") &&
        m.contains("expected BINARY")),
      s"no named digest-store error in: ${msgs.mkString(" | ")}")
  }

  test("the crawl stream replays a crashed micro-batch against its own digest partitions") {
    import spark.implicits._
    import graft.streaming.{BinaryParquetTopic, DataPrep, Publisher, Subscriber}
    import graft.operators.Warc
    import graft.queries.Pipeline
    val topic = tempDir("topic_crawl_cr")
    // ids 1..30 hold a content pair (1, 12) and a url pair (11, 13)
    val arrivals = (1L to 30L).map(id => (id, Warc.plantedCrawlBytes(id)))
    Publisher.publish(arrivals.toDF("doc_id", "payload").select(
      col("doc_id").as("event_id"), col("doc_id").cast("string").as("uuid"),
      pmod(col("doc_id"), lit(4L)).cast("string").as("partition_key"),
      col("payload"),
      lit("crawl").as("event_type"), lit(0.0).as("value"),
      expr("timestamp '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, doc_id)").as("ts"),
      map(lit("eventType"), lit("crawl")).as("headers")), topic,
      format = BinaryParquetTopic)
    val decoded = Pipeline.crawlDecode(
      arrivals.toDF("doc_id", "payload").as[(Long, Array[Byte])]).localCheckpoint()
    val inventory = Pipeline.crawlInventory(decoded).localCheckpoint()
    val evalDigests = Pipeline.crawlEvalDigests(
      Pipeline.crawlStrip(decoded, inventory)).localCheckpoint()
    // one micro-batch (batch 0) takes every arrival
    def run(tag: String, hStore: String, uStore: String): Map[Long, String] = {
      val outDir = tempDir(s"crawl_out_$tag")
      DataPrep.crawlCurateStream(
        Subscriber.subscribe(spark, topic, BinaryParquetTopic, maxFilesPerTrigger = 64),
        outDir, hStore, uStore, inventory, evalDigests, tempDir(s"ck_crawl_$tag"))
        .awaitTermination()
      val out = spark.read.parquet(outDir)
      assert(out.select("micro_batch_id").distinct().as[Int].collect().toSeq === Seq(0))
      out.select(col("doc_id"), col("disposition")).as[(Long, String)].collect().toMap
    }
    val clean = run("empty", tempDir("crawl_h_empty") + "/h", tempDir("crawl_u_empty") + "/u")

    // simulate the crash: a previous attempt of batch 0 wrote both of
    // its digest partitions, then died before the checkpoint
    // committed. Unless the replay skips its own partitions, every
    // doc meets its own url digest (url_duplicate) or content digest
    // (duplicate) and the batch keeps nothing
    val hStore = tempDir("crawl_h_cr")
    val uStore = tempDir("crawl_u_cr")
    val digests = Pipeline.crawlGates(Pipeline.crawlStrip(decoded, inventory))
    digests.select(col("h")).distinct().write.parquet(s"$hStore/micro_batch_id=0")
    digests.select(col("uh")).distinct().write.parquet(s"$uStore/micro_batch_id=0")
    val replayed = run("replay", hStore, uStore)

    assert(clean.values.count(_ == "keep") > 0)
    assert(clean.values.count(_ == "duplicate") > 0)
    assert(clean.values.count(_ == "url_duplicate") > 0)
    val diffs = (clean.keySet ++ replayed.keySet)
      .filter(k => clean.get(k) != replayed.get(k)).toSeq.sorted
    assert(diffs.isEmpty, s"${diffs.length} dispositions differ: " + diffs.take(10)
      .map(k => s"$k clean=${clean.get(k)} replayed=${replayed.get(k)}").mkString("; "))
  }

  test("the full live curate chain: dedup + quality + code routing + span decontam under one checkpoint") {
    import spark.implicits._
    import graft.streaming.DataPrep
    import graft.functions.Portable
    import graft.queries.TextOps
    val topic = tempDir("topic_full")
    val outDir = tempDir("curated_full")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val evalWins = TextOps.evalWindowDigests(docs).localCheckpoint()
    val evalDoc = docs.filter(col("doc_id") % 13 === 0)
      .select(concat_ws(" ", slice(Portable.words(col("text")), 5, 21)))
      .as[String].head()
    // engineered arrivals, one per disposition the chain must take:
    //  900001 long code doc (passes quality, routes to the code bucket)
    //  900002 mostly an eval excerpt (coverage > 30% -> drop_doc)
    //  900003 excerpt inside a long novel doc (<= 30% -> redact_spans, kept)
    //  900004 exact dup of corpus doc 7 (digest store drops it)
    //  900005 symbol spam (quality gate drops it)
    val codeText = (1 to 15).map(i => s"if (v$i) { var v$i = 1; }").mkString(" ")
    val dropText = "zp1 zp2 " + evalDoc + " zp3"
    val redactText = evalDoc + " " + (1 to 80).map(i => s"zfill$i").mkString(" ")
    val dupText = docs.filter(col("doc_id") === 7L).as[(Long, String)].head()._2
    val spamText = (1 to 30).map(_ => "!?!?").mkString(" ")
    val arrivals = docs.limit(60).as[(Long, String)].collect().toSeq ++ Seq(
      900001L -> codeText, 900002L -> dropText, 900003L -> redactText,
      900004L -> dupText, 900005L -> spamText)
    Publisher.publish(arrivals.toDF("doc_id", "text").select(
      col("doc_id").as("event_id"), col("doc_id").cast("string").as("uuid"),
      lit("s").as("partition_key"), col("text").cast("binary").as("payload"),
      lit("doc").as("event_type"), lit(0.0).as("value"),
      expr("timestamp '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, doc_id)").as("ts"),
      map(lit("eventType"), lit("doc")).as("headers")), topic)

    val q = DataPrep.curateMonitored(
      Subscriber.subscribe(spark, topic, maxFilesPerTrigger = 16),
      outDir, tempDir("cells_full"), tempDir("hstore_full"),
      tempDir("ck_full"), evalWins = Some(evalWins))
    q.awaitTermination()
    val curated = spark.read.parquet(outDir)

    val byId = curated.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(900001L).getAs[String]("bucket") === "code")
    assert(byId(900001L).getAs[String]("action") === "clean")
    assert(byId(900003L).getAs[String]("bucket") === "prose")
    assert(byId(900003L).getAs[String]("action") === "redact_spans")
    assert(!byId.contains(900002L), "a drop_doc contamination reached the corpus")
    assert(!byId.contains(900004L), "an exact dup was curated twice")
    assert(!byId.contains(900005L), "the quality gate let symbol spam through")

    // global: streamed chain == the same kernels composed in batch
    // (first arrival per digest by (ts, doc_id), quality gate, route
    // filter) — compare content-hash sets
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("ts"), col("doc_id"))
    val batchArr = arrivals.toDF("doc_id", "text")
      .withColumn("ts", expr("timestamp '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, doc_id)"))
      .withColumn("h", Portable.md5bin(Portable.normText(col("text"))))
    val firsts = graft.queries.Pipeline.withQuality(batchArr)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("quality") >= 0.5)
    val expected = firsts
      .join(DataPrep.routeStep(firsts.select(col("doc_id"), col("text")), evalWins)
        .filter(col("action") =!= "drop_doc").select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(hex(col("h"))).collect().map(_.getString(0)).toSet
    val got = curated.select(hex(col("h"))).collect().map(_.getString(0)).toSet
    assert(got === expected,
      s"chain diverged: extra=${(got diff expected).take(3)} missing=${(expected diff got).take(3)}")
  }

  test("a maintenance window executes the streamed policy on the persisted artifact: compact + rebuild between micro-batches, probe answers change only where the rebuild touched") {
    import spark.implicits._
    import graft.queries.{AnnGeometry, Similarity}
    implicit val sqlCtx = spark.sqlContext
    val geo = AnnGeometry()
    // r17 verdict #7: the policy has been a LIVE monitor
    // (compactStatsStep/policyOfStores) since round 13 but execution
    // was batch-only. This closes the loop: arrivals stream in,
    // the monitor's cells-sized store grows per micro-batch, and a
    // maintenance window BETWEEN micro-batches reads the streamed
    // policy, runs compactIndex + rebuildCells against the PERSISTED
    // artifact, republishes with the lineage bump, and the stream
    // keeps absorbing into the maintained index.
    val v = Similarity.vecs(spark, sf).localCheckpoint()

    // build + publish the artifact; freeze the monitor's base stats
    val dirV1 = tempDir("maint_v1")
    Similarity.saveIvfPqIndex(Similarity.ivfPqIndexOf(v, geo), dirV1)
    val loaded = Similarity.loadIvfPqIndex(spark, dirV1)
    val cents = loaded.cents.localCheckpoint()
    val baseStats = Similarity.baseStatsOf(v, cents).localCheckpoint()

    // arrivals: benign near-members (copies of every 3rd corpus row,
    // ids + 2e6 — delta-heavy with no cosine gap → compact verdicts)
    // plus the drifted cluster (Gram-Schmidt orthogonal to every
    // centroid + 0.05 bias to the first → a rebuild verdict)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val cArr = cents.orderBy(col("cell")).collect().map(_.getSeq[Double](1).toArray)
    var gsDir = Array.tabulate(64)(j => math.sin(j + 1.0))
    cArr.foreach { c => val p = dot(gsDir, c) / dot(c, c)
      gsDir = gsDir.zip(c).map { case (x, y) => x - p * y } }
    val dn = math.sqrt(dot(gsDir, gsDir))
    val k0 = cArr.head; val k0n = math.sqrt(dot(k0, k0))
    val driftDir = gsDir.zip(k0).map { case (x, y) => x / dn + 0.05 * y / k0n }
    val drifted = (0 until 150)
      .map(i => (1000000L + i, driftDir.map(_ * (1.0 + 0.001 * i)).toSeq))
    val benign = v.filter(pmod(col("vec_id"), lit(3L)) === 0L)
      .select(col("vec_id") + 2000000L, col("emb"))
      .as[(Long, Seq[Double])].collect().toSeq
    val (benign1, benign2) = benign.splitAt(benign.size / 2)

    // the live monitor + absorb loop: each micro-batch costs one
    // broadcast assignment (absorb) + a cells-sized store merge
    var ix = loaded
    var store = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_delta",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s_delta",
          org.apache.spark.sql.types.DoubleType))))
    val input = MemoryStream[(Long, Seq[Double])]
    val q = input.toDF().toDF("vec_id", "emb")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tempDir("ck_maint"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.withColumn("nrm", graft.functions.Vec.norm(col("emb")))
          .localCheckpoint()
        ix = Similarity.ivfPqIndexDelta(ix, b)
        store = Similarity.compactStatsStep(cents, store, b).localCheckpoint()
      }
      .start()
    input.addData(benign1); q.processAllAvailable()
    input.addData(drifted); q.processAllAvailable()

    // ---- the maintenance window (between micro-batches) ----
    // publish the grown state, read the STREAMED policy, execute both
    // verdict arms against the loaded artifact, republish v+1
    val dirGrown = tempDir("maint_grown")
    Similarity.saveIvfPqIndex(ix, dirGrown,
      Similarity.ivfPqIndexVersion(dirV1) + 1)
    val grown = Similarity.loadIvfPqIndex(spark, dirGrown)
    val policy = Similarity.policyOfStores(baseStats, store).localCheckpoint()
    val acts = policy.select(col("cell"), col("action")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rebuilt = acts.filter(_._2 == "rebuild").keySet
    assert(rebuilt.nonEmpty, "streamed policy produced no rebuild verdict")
    assert(acts.values.exists(_ == "compact"),
      "streamed policy produced no compact verdict")
    // the corpus store a production rebuild reads: base + every
    // absorbed arrival (the conservation guard enforces exactly this)
    val corpus = v.unionByName(
        (benign1 ++ drifted).toDF("vec_id", "emb")
          .withColumn("nrm", graft.functions.Vec.norm(col("emb"))))
      .localCheckpoint()
    val maintained = Similarity.rebuildCells(
      Similarity.compactIndex(grown, policy), policy, corpus)
    val dirV3 = tempDir("maint_v3")
    Similarity.saveIvfPqIndex(maintained, dirV3,
      Similarity.ivfPqIndexVersion(dirGrown) + 1)
    assert(Similarity.ivfPqIndexVersion(dirV3) === 3L)
    val served = Similarity.loadIvfPqIndex(spark, dirV3)

    // compact cells' fragments folded; rebuilt cells' lists fresh base
    val segsByCell = served.assigned.groupBy(col("cell"))
      .agg(countDistinct(col("seg")).as("segs")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    acts.foreach { case (cell, act) =>
      if (act != "keep")
        assert(segsByCell.getOrElse(cell, 1L) === 1L,
          s"$act cell $cell still fragmented after the window")
    }

    // probe answers: identical for every probe whose routes (before
    // AND after) avoid the rebuilt cells; recall on drifted probes
    // not worse. Probes = 3 honest + 2 drifted.
    val probes = Similarity.hashTopK(v, "probe", 3)
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"), col("nrm").as("p_nrm"))
      .unionByName(drifted.take(2).toDF("vec_id", "emb")
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"),
          graft.functions.Vec.norm(col("emb")).as("p_nrm")))
      .localCheckpoint()
    def routesOf(cs: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id")).orderBy(col("pc").desc, col("cell"))
      probes.crossJoin(broadcast(cs))
        .withColumn("pc", graft.functions.Vec.dot(col("p_emb"), col("c_emb")) /
          (col("p_nrm") * col("c_nrm")))
        .withColumn("r", row_number().over(w)).filter(col("r") <= geo.nProbe)
        .select(col("probe_id"), col("cell")).collect()
        .groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    }
    val rB = routesOf(grown.cents); val rA = routesOf(served.cents)
    def serveRows(i: Similarity.IvfPqIndex) =
      Similarity.ivfPqServeProbes(i, probes, geo).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .groupBy(_._1)
    val sB = serveRows(grown); val sA = serveRows(served)
    val untouched = rB.keySet.filter(p =>
      (rB(p) ++ rA(p)).intersect(rebuilt).isEmpty)
    assert(untouched.nonEmpty, "no probe avoided the rebuilt cells — the equality leg is vacuous")
    untouched.foreach { p =>
      assert(sB(p).toSet === sA(p).toSet,
        s"probe $p answers changed though its routes avoid every rebuilt cell")
    }
    // drifted probes: recall vs exact truth over the grown corpus
    val truth = corpus.crossJoin(broadcast(probes.filter(col("probe_id") >= 1000000L)))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", graft.functions.Vec.dot(col("p_emb"), col("emb")) /
        (col("p_nrm") * col("nrm")))
      .withColumn("r", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("r") <= 3)
      .select(col("probe_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(rows: Map[Long, Array[(Long, Long, Long, Double)]]): Double = {
      val got = rows.filter(_._1 >= 1000000L).values.flatten
        .map(t => (t._1, t._3)).toSet
      (got & truth).size.toDouble / truth.size
    }
    assert(recall(sA) >= recall(sB),
      f"maintenance degraded drifted recall: ${recall(sB)}%.3f -> ${recall(sA)}%.3f")

    // the stream continues into the MAINTAINED index: the next batch
    // absorbs against the republished artifact and still serves
    ix = served
    input.addData(benign2); q.processAllAvailable()
    q.stop()
    assert(ix.assigned.count() ===
      v.count() + benign.size + drifted.size)
    assert(Similarity.ivfPqServeProbes(ix, probes, geo).count() > 0L)
  }
}
