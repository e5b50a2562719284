package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Where a brand-new subscription (no checkpoint yet) begins reading —
  * KCL's `InitialPositionInStream`, part of the
  * `KinesisClientLibConfiguration` the reference's SubscriberBuilder
  * is built around (subscriber.go:91-124). Once a checkpoint exists it
  * always wins, exactly as in KCL: the position only seeds the first
  * read.
  */
sealed trait StartPosition
/** Oldest retained record (KCL TRIM_HORIZON). */
case object TrimHorizon extends StartPosition
/** Only records published after the subscription was created (KCL
  * LATEST): the cutoff is the topic's max arrival timestamp at call
  * time (an empty or absent topic delivers everything). */
case object Latest extends StartPosition
/** Records at/after a fixed instant (KCL AT_TIMESTAMP). */
final case class AtTimestamp(ts: java.sql.Timestamp) extends StartPosition

/** Spark-native Subscriber (reference subscriber.go +
  * subscriber/subscriber.go).
  *
  * The reference uses a KCL worker per topic: per-shard ordered
  * delivery, a checkpoint after each processed batch, redelivery on
  * nack. The Structured Streaming mapping:
  *
  *   - `Subscribe(ctx, topic)`      → `subscribe(spark, topicDir)`:
  *     an unbounded DataFrame over the topic's files; new publishes
  *     are picked up incrementally (file source ≈ shard iterator).
  *   - KCL DynamoDB checkpoint      → `checkpointLocation` on the
  *     running query: offsets are durably recorded per micro-batch,
  *     so a restarted consumer resumes exactly after the last batch
  *     it finished — the same at-least-once contract as
  *     `Checkpointer.Checkpoint(seq)` (subscriber.go:66-73).
  *   - ack/nack redelivery loop     → `RetryState.resolve`:
  *     `flatMapGroupsWithState` keyed by message UUID, tracking a
  *     retryCount exactly like the metadata the README suggests.
  */
object Subscriber {

  /** Schema of a published topic directory (see Publisher.publish). */
  val topicSchema: StructType = StructType(Seq(
    StructField("shard_id", LongType),
    StructField("batch_id", LongType),
    StructField("seq", LongType),
    StructField("event_id", LongType),
    StructField("uuid", StringType),
    StructField("partition_key", StringType),
    StructField("envelope", StringType),
    StructField("ts", TimestampType)))

  /** Unbounded stream of unmarshalled messages from a topic dir, with
    * the same injected metadata as the reference unmarshaller
    * (partitionKey, shardID, approximateArrivalTimestamp). Envelope
    * decode is the native codegen kernel (graftvec `envelope_parse`),
    * same as the batch path — from_json is CodegenFallback. `format`
    * is the pluggable wire codec (the reference's WithUnmarshaller
    * seam, publisher.go:48-51); `maxFilesPerTrigger` bounds each
    * micro-batch (≈ the KCL per-call record cap).
    */
  def subscribe(spark: SparkSession, topicDir: String,
                format: TopicFormat = ParquetTopic,
                maxFilesPerTrigger: Int = 8): DataFrame =
    subscribe(spark, FileTopicSource(format, maxFilesPerTrigger), topicDir)

  /** Subscribe through a transport seam ([[SourceFormat]]): the
    * file-dir methods above are this with [[FileTopicSource]]; a real
    * cluster passes [[KinesisSource]] and the same downstream code —
    * unmarshalling, ordering, state, DLQ — runs unchanged. This is
    * the reference's SubscriberBuilder split along its own seams: the
    * KCL config names the transport, WithUnmarshaller names the codec
    * (subscriber.go:96-124). */
  def subscribe(spark: SparkSession, source: SourceFormat, topic: String): DataFrame =
    unmarshalled(source.records(spark, topic), source.codec)

  /** eventType header of a shard's terminal marker (the SHARD_END
    * checkpoint of subscriber.go:78-88, published by
    * [[Publisher.closeShard]] when a reshard closes the shard). */
  val ShardEndType = "SHARD_END"

  /** True on a shard's terminal marker record. A consumer filters
    * these out of its data path but treats one as the signal that the
    * shard is drained: once the marker's micro-batch commits, the
    * parent's checkpoint is terminal and the child shards' records are
    * everything that remains. */
  def isShardEnd: org.apache.spark.sql.Column =
    col("event_type") === lit(ShardEndType)

  /** Resume a subscription from a per-shard SEQUENCE cursor — the
    * checkpoint granularity KCL actually stores (one sequence number
    * per shard), and the precision the reference leaves open at
    * subscriber.go:44-46 ("TODO KCL-like: skip sent messages in first
    * batch"): when the durable position points INSIDE a publish batch,
    * re-reading that batch must not redeliver records at or below the
    * cursor. `cursor` is a tiny (shard_id, seq) table — shards-sized,
    * broadcast to the scan; shards absent from it deliver from the
    * horizon. The filter composes with the file-source checkpoint:
    * offsets bound WHICH files replay, the cursor bounds which RECORDS
    * inside the replayed batch reach the consumer. */
  def subscribeAfter(spark: SparkSession, topicDir: String, cursor: DataFrame,
                     format: TopicFormat = ParquetTopic,
                     maxFilesPerTrigger: Int = 8): DataFrame =
    subscribe(spark, topicDir, format, maxFilesPerTrigger)
      .join(broadcast(cursor.select(col("shard_id"), col("seq").as("_cursor_seq"))),
        Seq("shard_id"), "left")
      .filter(col("_cursor_seq").isNull || col("seq") > col("_cursor_seq"))
      .drop("_cursor_seq")

  /** Subscribe starting from a KCL initial position. The position
    * filter is on the arrival timestamp — a source column — so
    * Catalyst pushes it beneath the envelope parse into the file scan
    * (`PushedFilters` on ts): positioned consumption skips data at
    * the reader, the file-source analog of a positioned shard
    * iterator. `Latest` fixes its cutoff ONCE, at subscription
    * creation, from the topic's current max arrival ts; records
    * published afterwards flow normally.
    */
  def subscribeFrom(spark: SparkSession, topicDir: String, position: StartPosition,
                    format: TopicFormat = ParquetTopic,
                    maxFilesPerTrigger: Int = 8): DataFrame =
    subscribeFrom(spark, FileTopicSource(format, maxFilesPerTrigger), topicDir, position)

  /** [[subscribeFrom]] through the transport seam. A transport with no
    * batch snapshot (a pure push source like Kinesis) handles `Latest`
    * at the source itself — `KinesisSource.options` carries
    * `startingPosition` — so the post-hoc cutoff only applies where a
    * snapshot exists. */
  def subscribeFrom(spark: SparkSession, source: SourceFormat, topic: String,
                    position: StartPosition): DataFrame = {
    val base = subscribe(spark, source, topic)
    position match {
      case TrimHorizon    => base
      case AtTimestamp(t) => base.filter(col("ts") >= lit(t))
      case Latest =>
        val cutoff = source.snapshot(spark, topic)
          .flatMap(df => Option(df.agg(max(col("ts"))).head().getTimestamp(0)))
        cutoff.fold(base)(t => base.filter(col("ts") > lit(t)))
    }
  }

  /** Decode + metadata injection. Every wire header is preserved in
    * `headers` (marshaller.go:35-38 copies all of them back into
    * message metadata); `event_type` stays a top-level column for
    * consumers. Records whose envelope fails to parse are SKIPPED and
    * consumption continues — the reference logs the unmarshal error
    * and moves to the next record (subscriber.go:57-62); use
    * `drainSkippingPoison` to preserve the raw poison records instead
    * of dropping them. */
  private def unmarshalled(records: DataFrame,
                           format: TopicFormat = ParquetTopic): DataFrame =
    messagesOf(records.withColumn("env", format.parseEnvelope(col("envelope"))))

  /** The message columns of the records whose parsed `env` is
    * non-null (the parseable ones). */
  private def messagesOf(parsed: DataFrame): DataFrame =
    parsed
      .filter(col("env").isNotNull)
      .select(
        col("env.uuid").as("uuid"),
        col("env.payload").as("payload"),
        graft.operators.Envelope.header(col("env"), "eventType").as("event_type"),
        col("env.headers").as("headers"),
        col("partition_key"), col("shard_id"), col("seq"), col("ts"))

  /** Start draining a subscription into an in-memory table (tests /
    * local smoke) with durable progress at `checkpointDir`. */
  def drainToMemory(msgs: DataFrame, queryName: String, checkpointDir: String): StreamingQuery =
    MicroBatch.start(msgs, checkpointDir)(_.format("memory").queryName(queryName))

  /** Drain into a parquet "processed" dir. Unlike the memory sink this
    * supports restart-from-checkpoint, so it's the faithful analog of a
    * KCL worker resuming its lease after the last checkpointed batch. */
  def drainToParquet(msgs: DataFrame, outDir: String, checkpointDir: String): StreamingQuery =
    MicroBatch.start(msgs, checkpointDir)(_.format("parquet").option("path", outDir))

  /** Exactly-once consumption over an at-least-once transport
    * (subscriber/subscriber.go:79-96 nack⇒redeliver): drop redelivered
    * UUIDs inside the watermark horizon. State is bounded — a UUID is
    * only tracked while a redelivery could still arrive, so this runs
    * indefinitely at topic scale (plain dropDuplicates would grow
    * state forever).
    */
  def exactlyOnce(msgs: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    msgs.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("uuid")

  /** Drain with dead-letter routing: each micro-batch splits on
    * `isPoison` — healthy rows land in `outDir`, poison rows in
    * `dlqDir` — under ONE checkpoint. Writes are idempotent per
    * micro-batch ([[MicroBatch]]), so a crash between the two writes
    * (or after them but before the checkpoint commit) replays the
    * batch onto its own partition instead of appending duplicates —
    * both sinks converge to exactly the source offsets (the terminal
    * state of the reference's nack loop once retries are exhausted).
    * Read either dir as plain parquet; the micro_batch_id partition
    * column is the provenance of each row.
    */
  def drainWithDlq(msgs: DataFrame, outDir: String, dlqDir: String,
                   checkpointDir: String, isPoison: org.apache.spark.sql.Column): StreamingQuery =
    drainSplit(msgs, outDir, dlqDir, checkpointDir, "__poison", isPoison,
      col("__poison"), _.filter(!col("__poison")).drop("__poison"))

  /** Drain a subscription, preserving raw poison records: each
    * micro-batch splits on envelope parseability — parseable records
    * unmarshal into `outDir` (same shape as `subscribe`), records
    * whose envelope fails to parse land RAW in `dlqDir` — under ONE
    * checkpoint, with the same idempotent per-batch writes as
    * `drainWithDlq`. The reference logs the unmarshal error and keeps
    * consuming (subscriber.go:57-62); preserving the poison bytes
    * beats a log line when a producer bug corrupts a topic at scale.
    */
  def drainSkippingPoison(spark: SparkSession, topicDir: String, outDir: String,
                          dlqDir: String, checkpointDir: String,
                          format: TopicFormat = ParquetTopic): StreamingQuery =
    drainSplit(format.readStream(spark, topicDir, 8), outDir, dlqDir, checkpointDir,
      "env", format.parseEnvelope(col("envelope")), col("env").isNull, messagesOf)

  /** The DLQ split of [[drainWithDlq]] and [[drainSkippingPoison]]:
    * each micro-batch gets column `markCol` = `mark` (cached, so the
    * mark is computed once for both sides); `healthy` of it lands in
    * `outDir` and its `isPoison` rows, without `markCol`, in `dlqDir`. */
  private def drainSplit(src: DataFrame, outDir: String, dlqDir: String,
                         checkpointDir: String, markCol: String,
                         mark: org.apache.spark.sql.Column,
                         isPoison: org.apache.spark.sql.Column,
                         healthy: DataFrame => DataFrame): StreamingQuery =
    MicroBatch.each(src, checkpointDir) { (batch, batchId) =>
      MicroBatch.cached(batch.withColumn(markCol, mark)) { marked =>
        MicroBatch.write(healthy(marked), outDir, batchId)
        MicroBatch.write(marked.filter(isPoison).drop(markCol), dlqDir, batchId)
      }
    }

  // -- ack/nack redelivery state --------------------------------------

  /** One delivery attempt observed by a consumer. */
  case class Delivery(uuid: String, acked: Boolean, attempt: Int)
  /** Terminal outcome once a message is finally acked. */
  case class Resolved(uuid: String, retryCount: Int)

  /** The redelivery loop of subscriber/subscriber.go:79-96 as typed
    * state: every nack re-serves the message (retryCount += 1); the
    * first ack resolves it. State is bounded by in-flight UUIDs.
    */
  def resolveRetries(deliveries: Dataset[Delivery]): Dataset[Resolved] = {
    import deliveries.sparkSession.implicits._
    deliveries
      .groupByKey(_.uuid)
      .flatMapGroupsWithState[Int, Resolved](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uuid: String, it: Iterator[Delivery], state: GroupState[Int]) =>
          var retries = state.getOption.getOrElse(0)
          var resolved: Option[Resolved] = None
          it.toSeq.sortBy(_.attempt).foreach { del =>
            if (resolved.isEmpty) {
              if (del.acked) resolved = Some(Resolved(uuid, retries))
              else retries += 1
            }
          }
          if (resolved.isDefined) state.remove() else state.update(retries)
          resolved.iterator
      }
  }

  /** Terminal message outcome: `resolved` (acked) or `dlq` (nacked
    * past maxRetries). */
  case class Outcome(uuid: String, outcome: String, retryCount: Int)

  /** Per-uuid retry state: live retry count, or a tombstone once a
    * terminal outcome was emitted. */
  case class RetryState(retries: Int, terminal: Boolean)

  /** resolveRetries with a poison bound — the complete lifecycle of
    * the reference's nack loop: a message acked within the budget
    * resolves; one nacked past `maxRetries` dead-letters immediately.
    * A terminal outcome leaves a TOMBSTONE in state, so a redelivery
    * of the same uuid in a LATER micro-batch is ignored instead of
    * re-running the lifecycle and emitting a second, contradictory
    * outcome. Tombstones are one tiny record per terminal uuid; to
    * bound them, feed this operator through `exactlyOnce` (its
    * watermark already caps how late a redelivery can arrive, so the
    * tombstone set stays within the same horizon). A processing-time
    * timeout was deliberately NOT used here: it forces the engine
    * into continuous empty micro-batches purely to fire timers,
    * thrashing the state store at trigger-0.
    */
  def resolveOrDeadLetter(deliveries: Dataset[Delivery], maxRetries: Int): Dataset[Outcome] = {
    import deliveries.sparkSession.implicits._
    deliveries
      .groupByKey(_.uuid)
      .flatMapGroupsWithState[RetryState, Outcome](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uuid: String, it: Iterator[Delivery], state: GroupState[RetryState]) =>
          val st = state.getOption.getOrElse(RetryState(0, terminal = false))
          if (st.terminal) {
            // redelivery after a terminal outcome: ignore
            Iterator.empty
          } else {
            var retries = st.retries
            var out: Option[Outcome] = None
            it.toSeq.sortBy(_.attempt).foreach { del =>
              if (out.isEmpty) {
                if (del.acked) out = Some(Outcome(uuid, "resolved", retries))
                else {
                  retries += 1
                  if (retries > maxRetries) out = Some(Outcome(uuid, "dlq", retries))
                }
              }
            }
            state.update(RetryState(retries, terminal = out.isDefined))
            out.iterator
          }
      }
  }
}
