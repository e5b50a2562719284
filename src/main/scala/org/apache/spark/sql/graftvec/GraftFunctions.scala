package org.apache.spark.sql.graftvec

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.ExpressionUtils

/** SQL registration for the native expressions, so `spark.sql` users
  * get them too: `SELECT vec_dot(a, b)`, and the one Column bridge
  * the library's public faces build them through. Lives in the sql
  * package because FunctionRegistry access and ExpressionUtils are
  * private[sql].
  */
object GraftFunctions {
  private[graftvec] def intArg(e: Expression): Int =
    e.eval(null) match {
      case i: Int  => i
      case l: Long => l.toInt
      case other   => throw new IllegalArgumentException(s"expected integer literal, got $other")
    }

  /** A hand-written builder that takes exactly `n` arguments and
    * rejects any other count by name, as [[Kernel.call]] does. */
  private def arity(name: String, n: Int)(build: Seq[Expression] => Expression)
      : Seq[Expression] => Expression = e => {
    require(e.size == n, s"$name takes $n arguments")
    build(e)
  }

  /** Every native expression as (SQL name, expression class, builder):
    * the one table both [[register]] and [[GraftExtensions]] read. */
  private[graftvec] val table: Seq[(String, Class[_], Seq[Expression] => Expression)] =
    Seq(("vec_dot", classOf[DotProduct], arity("vec_dot", 2)(e => DotProduct(e(0), e(1)))),
      ("hll_registers", classOf[HllRegisters],
        arity("hll_registers", 2)(e => HllRegisters(e(0), intArg(e(1)))))) ++
      NativeKernels.registered.map(k => (k.name, classOf[KernelCall], k.call _))

  /** Builders the Column API reaches: the SQL table plus the kernels
    * SQL does not register. */
  private val builders: Map[String, Seq[Expression] => Expression] =
    (table.map { case (name, _, build) => name -> build } ++ Seq(
      "double_bucket" -> arity("double_bucket", 1)(e => DoubleBucket(e(0))),
      NativeKernels.spanHashes.name -> NativeKernels.spanHashes.call _)).toMap

  /** The native expression `name` over the columns `args` and the
    * int parameters `ints`, built as SQL builds it. */
  def column(name: String, args: Seq[Column], ints: Int*): Column =
    ExpressionUtils.column(
      builders(name)(args.map(ExpressionUtils.expression) ++ ints.map(Literal(_))) match {
        case agg: AggregateFunction => agg.toAggregateExpression()
        case e => e
      })

  /** Registers [[table]] on a session built without [[GraftExtensions]]. */
  def register(spark: SparkSession): Unit = {
    val reg = castToImpl(spark).sessionState.functionRegistry
    table.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
