package org.apache.spark.sql.graftvec

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** HyperLogLog register vector as a true partial aggregate.
  *
  * `hll_registers(h, p)` consumes the engine-portable 60-bit hash
  * (graft.functions.Portable.hash60) and aggregates the classic HLL
  * state: `m = 2^p` byte registers, register `b` holding the max
  * rank rho over all hashes routed to bucket `b`.
  *
  * Parity contract (must stay bit-identical to the row-based form the
  * DuckDB oracle mirrors — see graft.queries.Analytics q30):
  *   w      = 60 - p
  *   bucket = h >>> w                    (top p bits)
  *   rest   = h & (2^w - 1)              (low w bits)
  *   rho    = rest == 0 ? w + 1 : w - bitlen(rest) + 1
  *
  * Why an aggregate instead of `groupBy(group, bucket).agg(max(rho))`:
  * the row form shuffles up to m rows per (group × map partition) —
  * at 100 TB with thousands of partitions that is the dominant
  * exchange. This buffer ships ONE m-byte blob per group per
  * partition (`ObjectHashAggregate` partials merge element-wise max),
  * so shuffle volume is independent of both input cardinality and
  * partition count granularity at the row level. The estimate
  * arithmetic stays in the DataFrame tail, fed by `posexplode` of the
  * returned register array — post-aggregation rows are
  * groups × m, negligible.
  *
  * Reference anchor: the messaging reference has no sketches; this
  * extends the family per SURVEY §2.B (q30) with the standard HLL
  * construction (Flajolet et al. 2007).
  */
case class HllRegisters(
    child: Expression,
    p: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  require(p >= 4 && p <= 18, s"hll_registers precision out of range: $p")

  private val m = 1 << p
  private val w = 60 - p
  private val restMask = (1L << w) - 1L

  override def prettyName: String = "hll_registers"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      val bucket = (h >>> w).toInt
      val rest = h & restMask
      // bitlen(rest) = 64 - nlz(rest); rho = w - bitlen + 1
      val rho = if (rest == 0L) w + 1 else w - (64 - java.lang.Long.numberOfLeadingZeros(rest)) + 1
      if (rho > buffer(bucket)) buffer(bucket) = rho.toByte
    }
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) {
      if (other(i) > buffer(i)) buffer(i) = other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: Array[Byte]): Any = {
    val out = new Array[Int](m)
    var i = 0
    while (i < m) { out(i) = buffer(i).toInt; i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storageFormat: Array[Byte]): Array[Byte] = storageFormat

  override def withNewMutableAggBufferOffset(newOffset: Int): HllRegisters =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllRegisters =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllRegisters =
    copy(child = newChild)
}
