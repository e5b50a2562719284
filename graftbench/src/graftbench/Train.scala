package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The build's class-data-sharing training run: a plain Spark session
  * (no graft class is loaded) plus one small query of each kind the
  * workloads run (parquet write and read, shuffle aggregate, window,
  * join), so the archive holds engine classes only and every class of
  * the program is still loaded and verified in each measured run.
  * Nothing here is measured. */
object Train {
  def run(work: String): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("graftbench-train").getOrCreate()
    spark.range(20000).selectExpr("id", "id % 97 AS k", "cast(id AS string) AS s")
      .write.parquet(s"$work/t")
    val t = spark.read.parquet(s"$work/t")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")
    t.groupBy("k").agg(count(lit(1)).as("n"), max("s").as("m"))
      .join(t.withColumn("r", row_number().over(w)).filter(col("r") === 1), "k")
      .collect()
    spark.stop()
  }
}
