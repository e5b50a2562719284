package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftvec.GraftFunctions

/** Distributed exact percentiles (linear interpolation, the
  * percentile_cont contract).
  *
  * Spark's built-in exact `percentile` aggregate buffers every value
  * per group — with few groups that is a handful of single-threaded
  * multi-hundred-MB sorts, and at 100 TB it simply cannot run. This
  * operator computes the same numbers in TWO data passes:
  *
  *   1. per-(group, order-preserving-bucket) count/min/max cells — the
  *      bucket is a pure per-row function of the value's IEEE bits
  *      (graftvec.DoubleBucket), so NO prior min/max pass and NO broadcast
  *      join are needed to bucket; group stats (n, min, max) roll up
  *      from the cells for free. Cumulative offsets over the cells
  *      locate, for every requested rank, the ONE bucket containing it;
  *   2. only the rows of the needed buckets are fetched and locally
  *      ranked (parallelism = number of needed buckets), and the two
  *      straddling ranks are interpolated with the same formula the
  *      built-in uses: v_lo·(⌈p⌉−p) + v_hi·(p−⌊p⌋).
  *
  * (Until round 19 pass 1 was an equal-width bucketing that needed the
  * group's min/max first: a third full scan plus a stats broadcast
  * join per call — measurable on every percentile consumer, q21/q36/
  * q45/q46/q47/t28/a29/p8.)
  *
  * Work is O(data) map-side + O(groups × occupied buckets) + O(needed-
  * bucket rows log) — no per-group full sort, no driver collection.
  */
object Percentiles {

  /** @param qs (outputColumnName, quantile in [0,1]) pairs
    * @param minMaxCols optional (minName, maxName): also emit the
    *   group's min/max — free, the cells pass computes them anyway
    *   (callers previously re-scanned the input for them). */
  def exact(df: DataFrame, keyCol: String, valCol: String,
            qs: Seq[(String, Double)],
            minMaxCols: Option[(String, String)] = None): DataFrame = {
    val k = col(keyCol)
    val v = col(valCol).cast("double")
    val bucket = GraftFunctions.column("double_bucket", Seq(v))

    // pass 1: (group, bucket) cells. The single aggregation exchange
    // is the subtree BOTH consumers (stats rollup and cumulative
    // offsets) share, so it materializes once via ReusedExchange —
    // the old form needed an explicit repartition of a separate
    // stats aggregate to get the same sharing. isNotNull mirrors the
    // old count(v) semantics: null values never counted.
    val cells = df.filter(v.isNotNull)
      .groupBy(k.as("sk"), bucket.as("bucket"))
      .agg(count(lit(1)).as("bn"), min(v).as("bmin"), max(v).as("bmax"))

    val stats = cells.groupBy(col("sk"))
      .agg(sum(col("bn")).as("n"), min(col("bmin")).as("vmin"),
        max(col("bmax")).as("vmax"))

    val wc = Window.partitionBy(col("ck")).orderBy(col("bucket"))
    val cum = cells
      .select(col("sk").as("ck"), col("bucket"), col("bn"))
      .withColumn("cum_end", sum(col("bn")).over(wc))
      .withColumn("cum_start", col("cum_end") - col("bn"))

    // requested ranks (1-based): ⌊pos⌋+1 and its successor
    val tq = stats
      .select(col("sk"), col("n"), col("vmin"), col("vmax"),
        explode(array(qs.map { case (nm, q) =>
          struct(lit(nm).as("qname"), lit(q).as("q"))
        }: _*)).as("t"))
      .select(col("sk"), col("n"), col("vmin"), col("vmax"),
        col("t.qname").as("qname"), col("t.q").as("q"))
      .withColumn("pos", (col("n") - 1).cast("double") * col("q"))
      .withColumn("rlo", floor(col("pos")).cast("long") + 1)
      .withColumn("rhi", least(col("rlo") + 1, col("n")))

    val ranks = tq.select(col("sk").as("rk"), col("rlo").as("rank"))
      .unionAll(tq.select(col("sk").as("rk"), col("rhi").as("rank")))
      .distinct()

    // locate each rank's bucket via the cumulative offsets
    val located = ranks.join(cum,
        col("rk") === col("ck") &&
        col("rank") > col("cum_start") && col("rank") <= col("cum_end"))
      .select(col("rk"), col("rank"), col("bucket").as("lbucket"), col("cum_start"))

    // pass 2: fetch + locally rank only the needed buckets — ONE join
    // against the broadcast located table. Ranking within (group,
    // bucket, rank) slices keeps the local rank exact when two ranks
    // target the same bucket — each rank's slice holds the whole
    // bucket (ranks is distinct'd, so slices don't double).
    val wr = Window.partitionBy(col("bk"), col("bucket"), col("rank"))
      .orderBy(col("pv"))
    val rankValues = df.filter(v.isNotNull)
      .select(k.as("bk"), v.as("pv"), bucket.as("bucket"))
      .join(broadcast(located),
        col("bk") === col("rk") && col("bucket") === col("lbucket"))
      .withColumn("lr", row_number().over(wr))
      .filter(col("lr") === col("rank") - col("cum_start"))
      .select(col("bk").as("vk"), col("rank").as("vrank"), col("pv").as("rval"))

    // ONE broadcast of the rank values serves both interpolation ends:
    // per-end lo/hi projections would give the two broadcast subtrees
    // different canonical plans, so the exchange would not be reused
    // and the whole fetch pipeline would run twice per call. Joining
    // the SAME shape twice lets ReusedExchange build it once; the
    // per-end aliasing happens after each join.
    val interpolated = tq
      .join(broadcast(rankValues),
        col("sk") === col("vk") && col("rlo") === col("vrank"))
      .withColumnRenamed("rval", "lo_v").drop("vk", "vrank")
      .join(broadcast(rankValues),
        col("sk") === col("vk") && col("rhi") === col("vrank"))
      .withColumnRenamed("rval", "hi_v").drop("vk", "vrank")
      // lo + (hi - lo) * frac — algebraically the same interpolation
      // as the weighted form lo*(1-frac) + hi*frac, but the EXACT
      // operation sequence DuckDB's quantile_cont uses, so both
      // engines round identically (in particular lo == hi yields lo
      // EXACTLY, where the weighted form can land 1 ulp off — enough
      // to flip integer counts in consumers that compare values
      // against the band, e.g. q36's n_clipped).
      .withColumn("value",
        when(col("rlo") === col("rhi"), col("lo_v")).otherwise(
          col("lo_v") + (col("hi_v") - col("lo_v")) *
            (col("pos") - (col("rlo").cast("double") - 1.0))))

    val qAggs = qs.map { case (nm, _) =>
      max(when(col("qname") === nm, col("value"))).as(nm)
    }
    val mmAggs = minMaxCols.toSeq.flatMap { case (mn, mx) =>
      Seq(max(col("vmin")).as(mn), max(col("vmax")).as(mx))
    }
    val aggs = qAggs ++ mmAggs
    interpolated.groupBy(col("sk").as(keyCol)).agg(aggs.head, aggs.tail: _*)
  }
}
