package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Pluggable wire codec for a topic directory — the Spark analog of
  * the reference's `WithMarshaller`/`WithUnmarshaller` seam
  * (publisher.go:48-51, marshaller.go:24): a publisher/subscriber
  * pair is parameterized by HOW records hit the wire, not only where.
  *
  * The seam covers BOTH layers: the file layout (`write`/`readStream`/
  * `readBatch`) and the envelope codec (`marshalEnvelope`/
  * `parseEnvelope` + the `schema` whose envelope column type follows
  * the codec). All built-in formats carry the same record columns, so
  * a consumer switches formats without touching its message-handling
  * code. The default codec is the JSON envelope (graftvec
  * .EnvelopeJson); [[BinaryParquetTopic]] swaps in the length-prefixed
  * TLV codec (graftvec.EnvelopeBinary) — the reference's "TODO
  * Protobuf" slot (marshaller.go:24) realized end-to-end.
  */
trait TopicFormat {
  /** Record schema on the wire (envelope column type per codec). */
  def schema: StructType = Subscriber.topicSchema

  /** Wire envelope for the message columns (uuid, payload, headers). */
  def marshalEnvelope(msgs: DataFrame): Column =
    graft.operators.Envelope.marshalled(msgs)

  /** Parse of this format's envelope column; null on malformed input
    * (the subscriber's skip-and-continue contract). */
  def parseEnvelope(envelope: Column): Column =
    graft.operators.Envelope.parsed(envelope)

  /** Spark data source the topic files are written in. */
  protected def fileFormat: String

  /** Write one publish call's laid-out records under `topicDir`
    * (records arrive shard-partitioned and shard/seq-sorted). */
  def write(records: DataFrame, topicDir: String, mode: String): Unit =
    records.write.mode(mode).partitionBy("shard_id").format(fileFormat).save(topicDir)

  /** Unbounded stream of raw topic records from `topicDir`. */
  def readStream(spark: SparkSession, topicDir: String, maxFilesPerTrigger: Int): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .format(fileFormat)
      .load(topicDir)

  /** One-shot batch read of the records currently on the topic (used
    * by `Subscriber.subscribeFrom(Latest)` to fix the cutoff). */
  def readBatch(spark: SparkSession, topicDir: String): DataFrame =
    spark.read.schema(schema).format(fileFormat).load(topicDir)
}

/** Columnar topic: parquet files partitioned by shard — the default
  * lake layout (column pruning, predicate pushdown for consumers that
  * filter before unmarshalling). */
object ParquetTopic extends TopicFormat {
  protected val fileFormat = "parquet"
}

/** JSON-lines topic: one envelope per line, shard-partitioned
  * directories — the wire format itself, readable by non-Spark
  * consumers that understand the reference's `MessageData` JSON. */
object JsonLinesTopic extends TopicFormat {
  protected val fileFormat = "json"
}

/** Parquet topic carrying the length-prefixed TLV BINARY envelope
  * (graftvec.EnvelopeBinary) instead of JSON — no base64 expansion,
  * no field names on the wire. Plugs the binary codec through the
  * WHOLE publish/subscribe path: `Publisher.publish(df, dir,
  * format = BinaryParquetTopic)` marshals TLV blobs,
  * `Subscriber.subscribe(spark, dir, BinaryParquetTopic)` parses them
  * back with the same skip-on-malformed contract as the JSON path. */
object BinaryParquetTopic extends TopicFormat {
  override val schema: StructType = StructType(
    Subscriber.topicSchema.map {
      case f if f.name == "envelope" => f.copy(dataType = BinaryType)
      case f => f
    })

  override def marshalEnvelope(msgs: DataFrame): Column =
    graft.operators.Envelope.marshalledBin(msgs)

  override def parseEnvelope(envelope: Column): Column =
    graft.operators.Envelope.parsedBin(envelope)

  protected val fileFormat = "parquet"
}
