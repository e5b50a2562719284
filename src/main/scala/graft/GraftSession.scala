package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession entry point for the library.
  *
  * Local mode runs one JVM with N executor threads; shuffle
  * partitions default to the thread count (Spark's 200 default
  * over-partitions small-to-mid local workloads). On a real cluster,
  * leave `shufflePartitions` at roughly 2-3× total executor cores and
  * let AQE coalesce — every operator in this library is declarative,
  * so the same plans rescale without code changes.
  */
object GraftSession {

  /** Local executor threads: `SPARK_GRAFT_CPUS` when set, else every
    * core. The one place the library reads that variable. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int = cpus, appName: String = "graft"): SparkSession =
    localBuilder(cores, appName).getOrCreate()

  /** [[local]]'s builder before `getOrCreate`, for a caller that layers
    * its own documented setting on top of the profile. */
  def localBuilder(cores: Int = cpus, appName: String = "graft"): SparkSession.Builder =
    tune(SparkSession.builder()
        .master(s"local[$cores]")
        .appName(appName)
        .withExtensions(new org.apache.spark.sql.graftvec.GraftExtensions),
      shufflePartitions = cores)

  /** Apply the library's standard configs to any builder (cluster or
    * local). UTC session time keeps timestamp semantics engine-portable
    * (and oracle-comparable); AQE handles runtime re-planning, skew
    * joins and partition coalescing at scale.
    */
  def tune(b: SparkSession.Builder, shufflePartitions: Int = 200): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // runtime bloom filters prune the fact-side scan on selective
      // joins — free at local scale, significant against 100 TB facts
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // compiled-codegen-class cache sized for a many-operator
      // workload (static conf — applies when this builder creates the
      // JVM's first session): the 100-entry default thrashes once an
      // engine serves more than ~a dozen distinct plans, re-running
      // Janino per re-planned query (round 19, measured on the
      // 194-query bench)
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.ui.explainMode", "formatted")
}
