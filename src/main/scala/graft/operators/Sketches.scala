package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Mergeable cardinality sketches (Apache DataSketches HLL, built into
  * Spark 3.5+).
  *
  * The 100 TB pattern for distinct counting: build one small sketch
  * per natural slice (day, source, shard), store the binary sketches,
  * and MERGE them for any rollup — no rescan of raw data, no exact
  * distinct shuffle. Estimates are within ~1-2% at lgK=12 and the
  * sketch column is a few KB regardless of cardinality.
  */
object Sketches {

  /** Per-group HLL sketches of `value` (binary column `sketch`). */
  def sketchBy(df: DataFrame, groupCol: String, value: String, lgK: Int = 12): DataFrame =
    df.groupBy(col(groupCol))
      .agg(hll_sketch_agg(col(value), lit(lgK)).as("sketch"))

  /** Merge a sketch column away (e.g., rollup day-sketches to a global
    * cardinality estimate). */
  def mergeEstimate(sketches: DataFrame): Long = {
    val row = sketches.agg(
      hll_sketch_estimate(hll_union_agg(col("sketch"))).as("estimate")).head()
    row.getLong(0)
  }

  /** Per-group estimates from stored sketches. */
  def estimates(sketches: DataFrame, groupCol: String): DataFrame =
    sketches.select(col(groupCol), hll_sketch_estimate(col("sketch")).as("estimate"))
}
