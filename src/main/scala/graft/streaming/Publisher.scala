package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Envelope

/** Spark-native Publisher (reference publisher.go).
  *
  * The reference's `Publish(topic, messages...)` marshals each message
  * and ships ≤500-record `PutRecords` batches, routed by partition
  * key. Here the "topic" is a parquet directory laid out by shard —
  * `topicDir/shard_id=N/...` — and a publish call writes one batch of
  * messages with their envelope, shard and per-shard sequence. The
  * 500 cap becomes a property of the layout (`batch_id` groups of
  * ≤500 consecutive seqs per shard) instead of a client-side error:
  * at 100 TB the publisher is a distributed write, so the cap is
  * enforced per-shard-partition, not per driver call.
  */
object Publisher {
  val MaxBatch = 500 // publisher.go:14 maxMessages

  /** Shared topic layout: marshal (with the format's envelope codec)
    * + route + sequence + batch ids, shard-partitioned and
    * shard/seq-sorted. */
  private def layout(msgs: DataFrame, format: TopicFormat): DataFrame =
    layoutSeqd(Envelope.withShardSeq(msgs), format)

  private def layoutSeqd(seqd: DataFrame, format: TopicFormat): DataFrame =
    seqd
      .withColumn("envelope", format.marshalEnvelope(seqd))
      .withColumn("batch_id", ((col("seq") - 1L) / MaxBatch.toLong).cast("long"))
      .select(col("shard_id"), col("batch_id"), col("seq"),
        col("event_id"), col("uuid"), col("partition_key"),
        col("envelope"), col("ts"))
      .repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("seq"))

  /** Marshal + route + sequence + write one publish call's messages.
    * `format` is the pluggable wire codec (the reference's
    * WithMarshaller seam, publisher.go:48-51) — it decides both the
    * file layout AND the envelope bytes (JSON or binary TLV). */
  def publish(msgs: DataFrame, topicDir: String, mode: String = "append",
              format: TopicFormat = ParquetTopic): Unit =
    format.write(layout(msgs, format), topicDir, mode)

  /** Publish with a CALLER-provided `shard_id` routing — the
    * post-reshard path: after a split, `Envelope.reshardedId` sends a
    * closed shard's keys to its children while everything else about
    * the layout (envelope codec, per-shard sequence, 500-record batch
    * cap) stays the standard publish. */
  def publishRouted(msgs: DataFrame, topicDir: String, mode: String = "append",
                    format: TopicFormat = ParquetTopic): Unit =
    format.write(layoutSeqd(Envelope.withSeqForShard(msgs), format), topicDir, mode)

  /** Close a shard after a reshard — the producer side of the
    * SHARD_END contract (subscriber.go:78-88: the record processor
    * receives TERMINATE when "the shard is closed and all records have
    * been delivered" and must checkpoint SHARD_END so child shards can
    * begin). One terminal marker record is published at the shard's
    * next sequence number with an eventType header of
    * [[Subscriber.ShardEndType]]; no data record may follow it on this
    * shard. The marker carries the shard's max arrival ts, so a
    * watermarking consumer sees a monotone stream across the cut. */
  def closeShard(spark: SparkSession, topicDir: String, shardId: Long,
                 format: TopicFormat = ParquetTopic): Unit = {
    val tail = format.readBatch(spark, topicDir)
      .filter(col("shard_id") === shardId)
      .agg(coalesce(max(col("seq")), lit(0L)).as("mx"),
        max(col("ts")).as("mts"))
    val msg = tail.select(
      lit(s"shard-end-$shardId").as("uuid"),
      lit(Array.emptyByteArray).as("payload"),
      map(lit("eventType"), lit(Subscriber.ShardEndType)).as("headers"),
      col("mx"), col("mts"))
    val marker = msg.select(
      lit(shardId).as("shard_id"),
      (col("mx") / MaxBatch.toLong).cast("long").as("batch_id"),
      (col("mx") + 1L).as("seq"),
      lit(-1L).as("event_id"),
      col("uuid"),
      lit("").as("partition_key"),
      format.marshalEnvelope(msg).as("envelope"),
      col("mts").as("ts"))
    format.write(marker, topicDir, "append")
  }

  /** Compact a topic in place: streaming publishes accumulate many
    * small files per shard; rewrite each shard partition as few files
    * while preserving every record and the shard layout. At lake
    * scale this runs per shard-partition (no global shuffle — the
    * data is already partitioned on disk).
    *
    * The swap is two O(1) directory renames (old aside, new in) with
    * the bulk delete deferred until after the new tree is live — a
    * concurrent reader sees the complete old set or the complete new
    * set, never a half-deleted one, and never an O(files) window where
    * the topic is partially or wholly absent. A reader that lists in
    * the instant between the two renames gets a clean does-not-exist
    * and retries; it can never read a partial record set. A rename
    * that fails stops the swap: renaming the compacted tree onto a
    * topic still in place would move it INSIDE the topic, and readers
    * would see every record twice. The filesystem is the topic path's
    * own, so a topic on HDFS/S3 is swapped there, not on the default
    * FS.
    */
  def compact(spark: SparkSession, topicDir: String, filesPerShard: Int = 1): Unit = {
    val base = topicDir.stripSuffix("/")
    val tmp = new org.apache.hadoop.fs.Path(base + ".compact")
    val old = new org.apache.hadoop.fs.Path(base + ".old")
    val dst = new org.apache.hadoop.fs.Path(base)
    spark.read.parquet(topicDir)
      .repartition(filesPerShard, col("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(tmp.toString)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rename(from: org.apache.hadoop.fs.Path, to: org.apache.hadoop.fs.Path): Unit =
      if (!fs.rename(from, to))
        throw new IllegalStateException(s"[graft] topic compaction could not rename $from to $to")
    fs.delete(old, true)
    rename(dst, old)
    rename(tmp, dst)
    fs.delete(old, true)
  }

  /** Streaming publisher: each micro-batch becomes one `publish` call
    * (the reference's `Publish(topic, msgs...)` is per-call batching,
    * so per-micro-batch sequences/batch ids mirror its semantics).
    * Progress is durable at `checkpointDir` — a crashed publisher
    * resumes without re-publishing finished micro-batches.
    */
  def publishStream(msgs: DataFrame, topicDir: String, checkpointDir: String): StreamingQuery =
    MicroBatch.each(msgs, checkpointDir)((batch, _) => publish(batch, topicDir))
}
