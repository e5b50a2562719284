package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

/** The micro-batch sink policy every live stream of `graft.streaming`
  * runs under — the reference's "checkpoint after each processed
  * batch, never before" (subscriber.go:66-73) as one rule:
  *
  *  - every stream is an append query under ONE checkpoint, drained
  *    to what is available now ([[start]], [[each]]);
  *  - every durable output of micro-batch N overwrites
  *    `<dir>/micro_batch_id=N` ([[write]]), so a batch replayed after
  *    a crash (its outputs written, its checkpoint not committed)
  *    rewrites its own partition instead of appending duplicates;
  *  - a digest-store read for batch N skips batch N's own partition
  *    ([[digestStore]]), so the replay cannot drop its own rows
  *    against its failed attempt's partial write.
  *
  * A replayable source plus a sink idempotent per batch id is
  * end-to-end exactly-once (Structured Streaming, SIGMOD 2018).
  */
private[streaming] object MicroBatch {

  /** Start `df` as an append query checkpointed at `checkpointDir`
    * that drains what is available now; `sink` names where the rows
    * go (a format and its options, or a batch driver via [[each]]). */
  def start(df: DataFrame, checkpointDir: String)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery =
    sink(df.writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", checkpointDir))
      .trigger(Trigger.AvailableNow())
      .start()

  /** [[start]] with `body` run on each micro-batch and its id. */
  def each(df: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    start(df, checkpointDir)(_.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      body(batch, batchId)
    })

  /** Write one micro-batch output: overwrite `<dir>/micro_batch_id=N`,
    * optionally laid out by `partitionCols` beneath it. Read the dir as
    * plain parquet; `micro_batch_id` is each row's provenance. */
  def write(df: DataFrame, dir: String, batchId: Long, partitionCols: String*): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(s"$dir/micro_batch_id=$batchId")

  /** Run `body` on `df` cached, unpersisting it afterwards whether or
    * not `body` throws. */
  def cached[T](df: DataFrame)(body: DataFrame => T): T = {
    val c = df.cache()
    try body(c) finally c.unpersist()
  }

  /** The digests a durable store holds for micro-batch `batchId`: the
    * `keyCol` column of every partition EXCEPT this batch's own — on
    * crash-replay the failed attempt's partial write is already on
    * disk, and anti-joining against it would empty the batch, which
    * the partition overwrite would then erase instead of replaying —
    * or an empty BINARY frame when no store exists yet. The existence
    * check (not just the catch) keeps Spark's FileStreamSink metadata
    * probe from logging a WARN stack trace on the first micro-batch;
    * it is Hadoop FS, not java.io.File, because the store is HDFS/S3
    * on a cluster, where a local-file check would report absent
    * forever and silently empty the store every batch. The catch
    * covers an exists-but-empty dir, which throws at schema
    * inference. A key column of any type but BINARY is a corruption,
    * named loudly: a string-vs-binary mismatch (an md5hex store, say)
    * would make every dedup join against the store silently miss,
    * re-curating every previously-seen doc. */
  def digestStore(spark: SparkSession, dir: String, keyCol: String,
                  batchId: Long): DataFrame = {
    def empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField(keyCol, BinaryType))))
    if (!pathExists(spark, dir)) empty
    else try {
      val raw = spark.read.parquet(dir).filter(col("micro_batch_id") =!= batchId)
      raw.schema(keyCol).dataType match {
        case BinaryType => raw.select(col(keyCol))
        case other => throw new IllegalStateException(
          s"[graft] digest store at $dir has $keyCol: $other; expected BINARY (md5bin)")
      }
    } catch {
      case _: org.apache.spark.sql.AnalysisException => empty
    }
  }

  /** Does `dir` exist on ITS filesystem (Hadoop FS API: local disk,
    * HDFS or S3 alike)? */
  private def pathExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
