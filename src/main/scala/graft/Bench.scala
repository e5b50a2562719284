package graft
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._

/** Benchmark main: one JSON line with per-query median seconds at
  * SPARK_GRAFT_SF_DIR, read by `tools/bench_diff.py` and `tools/gate.sh`.
  *
  * One fixed protocol:
  *  1. Warm-up, untimed: one scan per table, then one execution of
  *     every selected query at the target SF. That compiles each
  *     query's whole-stage-codegen classes and JITs the hot kernels,
  *     so first-query-in-JVM compile costs don't land on whichever
  *     query alphabetically trips them (probe: d1 2.4 s with cold
  *     codegen vs 0.5 s steady-state on identical sf0.1 data).
  *  1. Timing, per selected query in name order: `RUNS` runs, each a
  *     FRESH DataFrame (full Catalyst analysis → optimization →
  *     planning → execution) materializing every output row via
  *     `queryExecution.toRdd.count()` — a plain `.count()` would let
  *     Catalyst prune all map-side work, and re-counting a cached
  *     DataFrame would reuse shuffle outputs and time only the final
  *     stage. [[cleanHeap]] runs before each run's clock starts. The
  *     query's figure is the median of its runs.
  *  1. Stream legs `stream:text`, `stream:media` and `stream:crawl`,
  *     selected by the same filter: `RUNS` runs each, median rate and
  *     median per-trigger batch ms to stderr.
  *  1. After `spark.stop()`, the line [[line]] on stdout.
  *
  * Environment: `SPARK_GRAFT_SF_DIR` (the data dir, default sf0.1),
  * `SPARK_GRAFT_ONLY` (comma-separated name substrings; a query or
  * leg runs when its name contains one; unset runs everything) and
  * `SPARK_GRAFT_RUNS` (timed runs per query and per leg, default 3).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val onlySubs = sys.env.getOrElse("SPARK_GRAFT_ONLY", "").split(',').filter(_.nonEmpty)
    def selected(name: String): Boolean =
      onlySubs.isEmpty || onlySubs.exists(name.contains)
    val Runs = sys.env.get("SPARK_GRAFT_RUNS").flatMap(_.toIntOption).getOrElse(3)
    // sampled before any Spark work, so it reflects OTHER processes
    val startLoad = loadavg()
    // The library's session profile (GraftSession.tune) plus ONE
    // bench-only override:
    val spark = GraftSession.localBuilder(appName = "graft-bench")
      // Size-based AQE coalescing (round 19, guide §2.2): with the
      // default parallelismFirst=true AQE refuses to coalesce below
      // the core count, so every tiny post-shuffle stage runs
      // one near-empty task per core — pure scheduling overhead that
      // dominates the many small exchanges in the composed queries
      // (measured: a 32-task stage over a groups-sized frame costs
      // ~60-100 ms regardless of data). false is the setting the
      // Spark docs themselves recommend; partitions then target
      // advisoryPartitionSizeInBytes (64 MB default), which is ALSO
      // the right production shape at 100 TB (guide: 100 MB-1 GB
      // post-shuffle partitions) — the knob is scale-adaptive by
      // construction, not a local-core-count tune.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .getOrCreate()
    // ERROR, not WARN: benchmark-shaped single-partition windows
    // (intentional at this SF) would otherwise bury the diagnostics
    // in WindowExec warnings.
    spark.sparkContext.setLogLevel("ERROR")
    Tables.names.foreach { n =>
      try {
        val df = if (n == "events") Tables.events(spark, sfDir) else Tables.load(spark, sfDir, n)
        df.queryExecution // force analysis
        df.foreach(_ => ())
      } catch { case _: Throwable => () }
    }
    val queries = SparkEntry.queries.toSeq.sortBy(_._1).filter(q => selected(q._1))
    queries.foreach { case (_, fn) =>
      try fn(spark, sfDir).queryExecution.toRdd.count()
      catch { case _: Throwable => () }
    }
    // A query that THROWS still records its (near-zero) wall time in the
    // line — the line has no status field — so its name is reported to
    // stderr here, and tools/bench_status.json (the known-broken list
    // tools/bench_diff.py consults) can be updated mechanically.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val results = queries.map { case (name, fn) =>
      val times = (0 until Runs).map { _ =>
        cleanHeap()
        val t0 = System.nanoTime()
        try fn(spark, sfDir).queryExecution.toRdd.count()
        catch { case _: Throwable => failed += name }
        (System.nanoTime() - t0) / 1e9
      }
      name -> median(times)
    }
    if (failed.nonEmpty)
      System.err.println(s"bench FAILED queries (times are stubs; add to tools/bench_status.json): ${failed.mkString(", ")}")
    // STREAMING throughput legs: a single-shot rate swung 1,608–8,554
    // events/s with host windows, so each leg runs `Runs` times, each
    // on a fresh topic/checkpoint, and reports medians. They run after
    // every timed query so they cannot contaminate a median; a failure
    // degrades to a labeled diagnostic, never a lost line.
    // A leg publishes its topic under `tmp` and returns the started
    // curate query; the run is timed until the query drains the topic.
    def streamLeg(leg: String)(start: String => StreamingQuery): Unit = {
      val label = s"stream:$leg"
      if (selected(label)) System.err.println {
        try {
          val runs = (0 until Runs).map { _ =>
            val tmp = java.nio.file.Files.createTempDirectory(s"graft_${leg}_bench_").toFile
            try {
              val t0 = System.nanoTime()
              val q = start(tmp.toString)
              q.awaitTermination()
              val nEvents = spark.read.parquet(s"$tmp/topic").count()
              val rate = nEvents / ((System.nanoTime() - t0) / 1e9)
              // median per-trigger duration of the batches that read input
              val durs = q.recentProgress.filter(_.numInputRows > 0)
                .map(_.durationMs.get("triggerExecution").toLong).toSeq
              (nEvents, rate, if (durs.nonEmpty) median(durs) else 0L)
            } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
          }
          f"$label bench: events=${runs.head._1}, rate_median=${median(runs.map(_._2))}%.0f events/s over $Runs runs, batch_ms_median=${median(runs.map(_._3))}"
        } catch { case e: Throwable =>
          s"$label bench FAILED: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}"
        }
      }
    }
    // the topic schema every leg publishes: doc_id as event id and
    // uuid, a fixed day of timestamps, the event type in the headers
    def envelope(df: DataFrame, eventType: String, key: Column): DataFrame =
      df.select(col("doc_id").as("event_id"),
        col("doc_id").cast("string").as("uuid"),
        key.as("partition_key"), col("payload"),
        lit(eventType).as("event_type"), lit(0.0).as("value"),
        expr("timestamp '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, event_id % 86400)").as("ts"),
        map(lit("eventType"), lit(eventType)).as("headers"))
    // text leg: publish → file-source subscribe → curateMonitored
    // (quality gate + durable digest-store dedup + drift cells under
    // one checkpoint), re-uploads included so the dedup path works
    streamLeg("text") { tmp =>
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"), col("source"))
      val msgs = envelope(docs.unionAll(docs.withColumn("doc_id", col("doc_id") + 1000000L)),
        "doc", col("source"))
      graft.streaming.Publisher.publish(msgs, s"$tmp/topic")
      graft.streaming.DataPrep.curateMonitored(
        graft.streaming.Subscriber.subscribe(spark, s"$tmp/topic", maxFilesPerTrigger = 4),
        s"$tmp/out", s"$tmp/cells", s"$tmp/hstore", s"$tmp/ck")
    }
    // media leg: sniff-route-decode-gate per micro-batch over the TLV
    // binary envelope — real codec bytes on the wire, so this rate
    // prices the codec CPU a media ingest actually pays
    streamLeg("media") { tmp =>
      import spark.implicits._
      val ids = Tables.documents(spark, sfDir).select(col("doc_id"))
      val media = ids.unionAll(ids.select((col("doc_id") + 1000000L).as("doc_id")))
        .as[Long]
        .mapPartitions(_.map { id =>
          // the p11 corpus with the truncated class swapped for GIF:
          // the throughput leg pays a real codec on EVERY member
          val payload = (id % 7) match {
            case 3 => graft.operators.MediaDecode.plantedGifBytes(id)
            case _ => graft.operators.MediaDecode.plantedCurateBytes(id)
          }
          (id, payload)
        })
        .toDF("doc_id", "payload")
      graft.streaming.Publisher.publish(
        envelope(media, "media", pmod(col("doc_id"), lit(8L)).cast("string")),
        s"$tmp/topic", format = graft.streaming.BinaryParquetTopic)
      graft.streaming.DataPrep.mediaCurateStream(
        graft.streaming.Subscriber.subscribe(spark, s"$tmp/topic",
          graft.streaming.BinaryParquetTopic, maxFilesPerTrigger = 4),
        s"$tmp/out", s"$tmp/cells", s"$tmp/ck")
    }
    // crawl leg: the full p13 live cascade — gunzip + WARC grammar +
    // HTML extraction + template strip + gates + decontam + two
    // durable-store dedups per micro-batch. The published artifacts
    // (template inventory, eval digest set) are built ONCE outside the
    // timed runs, the production built-once/served-many shape — the
    // rate prices the per-event cascade, not artifact (re)mining, so do
    // NOT read it as end-to-end ingest cost: the batch p13 timing is
    // the number that includes the build.
    lazy val crawlArtifacts = {
      import spark.implicits._
      val decoded = graft.queries.Pipeline.crawlDecode(
        Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id =>
            (id, graft.operators.Warc.plantedCrawlBytes(id)))))
        .localCheckpoint()
      val inv = graft.queries.Pipeline.crawlInventory(decoded).localCheckpoint()
      val ev = graft.queries.Pipeline.crawlEvalDigests(
        graft.queries.Pipeline.crawlStrip(decoded, inv)).localCheckpoint()
      (inv, ev)
    }
    streamLeg("crawl") { tmp =>
      import spark.implicits._
      val (inv, ev) = crawlArtifacts
      val wires = Tables.documents(spark, sfDir).select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map(id =>
          (id, graft.operators.Warc.plantedCrawlBytes(id))))
        .toDF("doc_id", "payload")
      graft.streaming.Publisher.publish(
        envelope(wires, "crawl", pmod(col("doc_id"), lit(8L)).cast("string")),
        s"$tmp/topic", format = graft.streaming.BinaryParquetTopic)
      graft.streaming.DataPrep.crawlCurateStream(
        graft.streaming.Subscriber.subscribe(spark, s"$tmp/topic",
          graft.streaming.BinaryParquetTopic, maxFilesPerTrigger = 4),
        s"$tmp/out", s"$tmp/hstore", s"$tmp/ustore", inv, ev, s"$tmp/ck")
    }
    // start_loadavg is the EXTERNAL load; end_loadavg is dominated by
    // this bench's own threads. Context only: nothing reads them.
    System.err.println(
      s"bench diagnostics: runs=$Runs, queries=${results.size}, stat=median, start_loadavg=${startLoad.mkString(",")}, end_loadavg=${loadavg().mkString(",")}")
    spark.stop()
    // Printed AFTER spark.stop() so no Spark shutdown log line can
    // land after the JSON line.
    println(line(results, sfDir))
  }

  /** The bench line: `{"metric":"total","value":V,"unit":"sec",
    * "queries":{<name>:<seconds>,…},"sf":N}` with every figure at 2
    * decimals, V the sum of the unrounded per-query figures, and N the
    * number in the data dir's name ("sf0.1" → 0.1, "sf10" → 10; 0 when
    * the name holds no number). */
  private[graft] def line(results: Seq[(String, Double)], sfDir: String): String = {
    def fmt(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => s"\"$k\":${fmt(v)}" }.mkString("{", ",", "}")
    val digits = new java.io.File(sfDir).getName.dropWhile(c => !c.isDigit && c != '.')
    val sf = scala.util.Try(BigDecimal(digits))
      .fold(_ => "0", _.bigDecimal.stripTrailingZeros.toPlainString)
    s"""{"metric":"total","value":${fmt(results.map(_._2).sum)},"unit":"sec","queries":$qs,"sf":$sf}"""
  }

  /** Force a full GC and give the async ContextCleaner a beat, so a
    * timed run does not pay for earlier runs' localCheckpoint blocks
    * and broadcast state, which release only when a GC lets the
    * cleaner see their references collected (measured on a 6-query
    * set: d21 5.24 s → 3.03, set total 12.73 → 9.54 s). Per run, not
    * per query: at sf10 four runs' accumulated checkpoint blocks
    * filled the disk. */
  private def cleanHeap(): Unit = { System.gc(); Thread.sleep(300) }

  private def median[T: Ordering](xs: Seq[T]): T = xs.sorted.apply(xs.length / 2)

  /** 1/5/15-minute load averages (the noise context for this run). */
  private def loadavg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).toSeq.map(_.toDouble)
      finally src.close()
    } catch { case _: Throwable => Seq(-1.0) }
}
