package org.apache.spark.sql.graftvec

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** SQL registration for the native expressions, so `spark.sql` users
  * get them too: `SELECT vec_dot(a, b)`. Lives in the sql package
  * because FunctionRegistry access is private[sql].
  */
object GraftFunctions {
  private[graftvec] def intArg(e: Expression): Int =
    e.eval(null) match {
      case i: Int  => i
      case l: Long => l.toInt
      case other   => throw new IllegalArgumentException(s"expected integer literal, got $other")
    }

  /** Every native expression as (SQL name, expression class, builder):
    * the one table both [[register]] and [[GraftExtensions]] read. */
  private[graftvec] val table: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[DotProduct], e => DotProduct(e(0), e(1))),
    ("km_minhash", classOf[KmMinHash], e => KmMinHash(e(0), intArg(e(1)), intArg(e(2)))),
    ("distinct_shingles", classOf[DistinctShingles], e => DistinctShingles(e(0), intArg(e(1)))),
    ("all_shingles", classOf[AllShingles], e => AllShingles(e(0), intArg(e(1)))),
    ("simhash16", classOf[SimHash16], e => SimHash16(e(0))),
    ("simhash_w", classOf[SimHashW], e => SimHashW(e(0), intArg(e(1)))),
    ("cdc_chunks", classOf[CdcChunks], e => CdcChunks(e(0), intArg(e(1)))),
    ("hll_registers", classOf[HllRegisters], e => HllRegisters(e(0), intArg(e(1)))),
    ("envelope_marshal", classOf[EnvelopeMarshal], e => EnvelopeMarshal(e(0), e(1), e(2))),
    ("envelope_parse", classOf[EnvelopeParse], e => EnvelopeParse(e(0))),
    ("envelope_marshal_bin", classOf[EnvelopeMarshalBin],
      e => EnvelopeMarshalBin(e(0), e(1), e(2))),
    ("envelope_parse_bin", classOf[EnvelopeParseBin], e => EnvelopeParseBin(e(0))),
    ("media_stats", classOf[MediaStatsExpr], e => MediaStatsExpr(e(0))))

  /** Registers [[table]] on a session built without [[GraftExtensions]]. */
  def register(spark: SparkSession): Unit = {
    val reg = castToImpl(spark).sessionState.functionRegistry
    table.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
