package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftvec.GraftFunctions

/** Vector math on `array<double>` columns, backed by the native
  * codegen'd [[org.apache.spark.sql.graftvec.DotProduct]] expression
  * (~10× over composed zip_with/aggregate on the sf0.1 similarity
  * benchmarks — higher-order functions evaluate interpreted).
  */
object Vec {
  /** Codegen'd dot product; summation order matches DuckDB's
    * `list_dot_product` (element 0..n-1). */
  def dot(a: Column, b: Column): Column = GraftFunctions.column("vec_dot", Seq(a, b))

  /** L2 norm — precompute per vector once before a pairwise join so
    * each candidate pair costs a single dot. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** IVF-ADC distance of a packed posting: `codes` (array<int>, one
    * code-word position per subspace) looked up in the probe's
    * `lut` (array<double>, subspace by subspace) and summed in
    * subspace order. */
  def pqAdc(codes: Column, lut: Column): Column =
    GraftFunctions.column("pq_adc", Seq(codes, lut))
}
