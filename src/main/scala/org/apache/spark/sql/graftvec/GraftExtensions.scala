package org.apache.spark.sql.graftvec

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions registration — the cluster-friendly way to
  * ship the library's native expressions: set
  * `spark.sql.extensions=org.apache.spark.sql.graftvec.GraftExtensions`
  * (or `builder.withExtensions(new GraftExtensions)`) and every
  * session, including pure-SQL ones, gets every function in
  * [[GraftFunctions]]' table (`vec_dot`, `km_minhash`, …).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach { case (name, cls, build) =>
      e.injectFunction((new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
}
