package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftvec.GraftFunctions
import graft.Tables
import graft.functions.Portable

/** The reference's message model re-expressed as columns
  * (reference: marshaller.go:16-24, publisher.go:62-86,
  * subscriber.go:50-73).
  *
  * A Watermill message = UUID + payload bytes + string metadata; on
  * the wire it's a JSON envelope {watermill_message_uuid, data
  * (base64), headers} routed by partition key. Here a *DataFrame of
  * messages* is the unit of work — the Spark-native analog of the
  * reference's per-record loop — so marshalling is `to_json` over
  * codegen'd columns and shard routing is a hash expression, both of
  * which scale to 100 TB without a UDF in the hot path.
  */
object Envelope {
  /** Kinesis-style shard count for the batch operators. */
  val NumShards = 8

  /** events table → message-shaped DataFrame:
    * uuid (from event_id), partition_key (from user_id), payload
    * (props bytes), header columns, arrival ts.
    */
  def messages(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      col("event_id").cast("string").as("uuid"),
      col("user_id").cast("string").as("partition_key"),
      col("props").cast("binary").as("payload"),
      col("event_type"),
      col("value"),
      col("ts"),
      // Full string→string metadata map (marshaller.go:17-20): the
      // producer sets arbitrary headers; here two deterministic ones
      // so the wire format and oracle exercise the multi-header path.
      map(
        lit("eventType"), col("event_type"),
        lit("source"), concat(lit("svc-"), pmod(col("user_id"), lit(4L)).cast("string"))
      ).as("headers"))

  /** Marshalled JSON envelope (reference marshaller.go:44-70): the
    * payload travels base64'd, the FULL headers map as a nested
    * object in ascending key order. Field order is fixed, so output
    * is byte-stable — produced by the native codegen kernel
    * (graftvec `envelope_marshal`); the `to_json(struct(...))` form it
    * replaces evaluates through CodegenFallback (an interpreted
    * Jackson round-trip per row) and emits the same bytes.
    */
  def marshalled(msgs: DataFrame): Column =
    GraftFunctions.column("envelope_marshal", Seq(col("uuid"), col("payload"), col("headers")))

  /** Parsed envelope struct<uuid, payload binary, headers map>
    * (reference marshaller.go:26-52 JSONUnmarshaller — every header
    * key is preserved, marshaller.go:35-38) — native
    * streaming-Jackson kernel, null on malformed input like
    * from_json. */
  def parsed(envelope: Column): Column =
    GraftFunctions.column("envelope_parse", Seq(envelope))

  /** One header from a parsed envelope struct (the reference copies
    * each into message metadata, marshaller.go:35-38). */
  def header(env: Column, key: String): Column = env.getField("headers").getItem(key)

  /** Binary envelope (length-prefixed TLV) — the second codec behind
    * the reference's pluggable-marshaller seam (marshaller.go:24
    * "TODO Protobuf", publisher.go:48-51 WithMarshaller): same
    * message model, non-JSON bytes, no base64 expansion. */
  def marshalledBin(msgs: DataFrame): Column =
    GraftFunctions.column("envelope_marshal_bin",
      Seq(col("uuid"), col("payload"), col("headers")))

  /** Parse of the binary envelope; null on malformed input (the
    * subscriber's skip-and-continue contract, subscriber.go:57-62). */
  def parsedBin(blob: Column): Column =
    GraftFunctions.column("envelope_parse_bin", Seq(blob))

  /** Partition-key → shard routing (Kinesis hashes MD5(partitionKey)
    * into a shard's hash-key range; publisher.go:80). md5-derived so
    * the oracle reproduces it exactly.
    */
  def shardId(partitionKey: Column, nShards: Int = NumShards): Column =
    pmod(Portable.hash60(partitionKey), lit(nShards.toLong))

  /** Per-shard monotone sequence numbers (arrival order within a
    * shard — the ordering KCL guarantees, subscriber.go:50-66).
    * One shuffle on shard_id; within a 1000-executor cluster each
    * shard's sequence forms locally after that shuffle.
    */
  def withShardSeq(msgs: DataFrame, nShards: Int = NumShards): DataFrame =
    withSeqForShard(msgs.withColumn("shard_id", shardId(col("partition_key"), nShards)))

  /** Sequence numbers over a CALLER-provided `shard_id` routing — the
    * post-reshard publish path, where the router is [[reshardedId]]
    * instead of the static hash. Same one-shuffle shape as
    * [[withShardSeq]]. */
  def withSeqForShard(msgs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("shard_id")).orderBy(col("ts"), col("event_id"))
    msgs.withColumn("seq", row_number().over(w).cast("long"))
  }

  /** Shard routing after a split (Kinesis SplitShard: each child
    * receives a sub-range of the parent's hash-key range; the parent
    * stops receiving and is closed — subscriber.go:78-88 is the
    * consumer side of that cut). Keys that routed to `parent` spread
    * across `nChildren` NEW shard ids starting at `base`; every other
    * key keeps its shard. A key maps to exactly one child, so per-key
    * ordering survives the reshard. The child hash is salted so the
    * children split the parent's keyspace independently of the
    * parent-level routing. */
  def reshardedId(partitionKey: Column, parent: Long, nChildren: Int,
                  base: Long, nShards: Int = NumShards): Column = {
    val s = shardId(partitionKey, nShards)
    when(s === parent, childShardId(partitionKey, lit(nChildren.toLong), lit(base)))
      .otherwise(s)
  }

  /** The child-side hash of a split: a key of a split parent lands on
    * child `base + md5-hash % nChildren`. Salted with "child|" so the
    * children divide the parent's keyspace independently of the
    * parent-level routing (the same key bits would otherwise send
    * every key of parent p to child p % nChildren). Column-typed
    * fanout/base so a TABLE of splits can drive it ([[splitAlloc]]),
    * not just one literal parent. */
  def childShardId(partitionKey: Column, nChildren: Column, base: Column): Column =
    base + pmod(Portable.hash60(concat(lit("child|"), partitionKey)), nChildren)

  /** Child-id ALLOCATION for every `split` row of an m20-shaped plan
    * (shard_id, action, target_shards): each split parent gets a
    * contiguous block of `target_shards` NEW shard ids above the
    * existing id space, blocks ordered by parent id — the
    * deterministic analog of Kinesis assigning fresh shard ids on
    * SplitShard, reproducible by the oracle as a correlated sum.
    * Returns (parent, n_children, child_base). Cost: a shards-sized
    * broadcast self-join (the fleet plan is never corpus-sized). */
  def splitAlloc(plan: DataFrame, nShards: Int = NumShards): DataFrame = {
    val splits = plan.filter(col("action") === "split")
      .select(col("shard_id"), col("target_shards"))
    splits.as("a")
      .join(broadcast(splits.as("b")),
        col("b.shard_id") < col("a.shard_id"), "left")
      .groupBy(col("a.shard_id").as("parent"),
        col("a.target_shards").as("n_children"))
      .agg((lit(nShards.toLong) +
        coalesce(sum(col("b.target_shards")), lit(0L))).as("child_base"))
  }

  /** EXECUTE a split allocation against the message flow — the
    * decide→act arm of m20 (Kinesis SplitShard + the consumer-side
    * cut of subscriber.go:78-88): messages before `cut` ride the
    * original hash routing; at the cut every split parent CLOSES
    * (receives nothing again, ever) and its post-cut keyspace spreads
    * over its children via [[childShardId]]. Adds `shard_id` (the
    * final routing), `era` (pre/post) and `role` (closed_parent /
    * child / keep). One broadcast hash-join of the corpus against the
    * shards-sized allocation — no shuffle beyond what the caller
    * does with the routed frame. */
  def splitRouted(msgs: DataFrame, alloc: DataFrame, cut: Column,
                  nShards: Int = NumShards): DataFrame = {
    val routed = msgs
      .withColumn("parent", shardId(col("partition_key"), nShards))
      .join(broadcast(alloc), Seq("parent"), "left")
      .withColumn("era", when(col("ts") < cut, "pre").otherwise("post"))
      .withColumn("shard_id",
        when(col("era") === "pre" || col("n_children").isNull, col("parent"))
          .otherwise(childShardId(col("partition_key"),
            col("n_children"), col("child_base"))))
    routed.withColumn("role",
        when(col("shard_id") >= lit(nShards.toLong), "child")
          .when(col("n_children").isNotNull, "closed_parent")
          .otherwise("keep"))
      .drop("n_children", "child_base")
  }
}
