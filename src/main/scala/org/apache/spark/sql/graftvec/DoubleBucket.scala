package org.apache.spark.sql.graftvec

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, DataType, DoubleType, IntegerType}

/** Order-preserving bucket of a double: the top 20 bits of the
  * sortable-bits transform of the IEEE-754 encoding.
  *
  * The transform (flip the sign bit of non-negatives, flip ALL bits of
  * negatives) makes unsigned comparison of the long agree with double
  * ordering, so bucket ids are monotone non-decreasing in the value:
  * every row of bucket b sorts at-or-before every row of bucket b+1.
  * That is the only property exact-percentile bucketing needs — unlike
  * an equal-width (min,max)-scaled bucket it requires NO prior pass
  * over the data to find the range, which removes one full scan plus a
  * broadcast join from graft.operators.Percentiles.
  *
  * Granularity: sign + 11 exponent bits + 8 mantissa bits = 256 buckets
  * per binade (values within one power of two), comparable to the old
  * 4096 equal-width buckets over a typical data range while staying a
  * pure per-row function. The id space is sparse (2^20); only occupied
  * buckets materialize in the (group, bucket) count cells.
  *
  * Internal only (bucket choice never affects emitted values), so no
  * DuckDB twin is needed — the oracle reproduces the percentile VALUES,
  * not the partitioning that located them.
  */
case class DoubleBucket(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "double_bucket"

  override def nullSafeEval(v: Any): Any = {
    val b = java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])
    val s = b ^ ((b >> 63) | java.lang.Long.MIN_VALUE)
    (s >>> 44).toInt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val b = ctx.freshName("b")
      s"""
         |final long $b = Double.doubleToLongBits($v);
         |${ev.value} = (int) (($b ^ (($b >> 63) | Long.MIN_VALUE)) >>> 44);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
