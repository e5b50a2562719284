package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational analytics pack (SURVEY.md §2.B) — TPC-H-shaped operator
  * coverage over the driver tables. Every query is declarative
  * DataFrame API (Catalyst handles pushdown/pruning/join selection);
  * broadcast hints mark genuinely dim-sized sides so the same plan
  * survives a 100 TB fact table.
  */
object Analytics extends QueryPack {

  // -- shared literals -------------------------------------------------
  private val ShipCut = "1998-09-02 00:00:00"

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit(ShipCut).cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          avg(col("l_quantity")).as("avg_qty"),
          avg(col("l_extendedprice")).as("avg_price"),
          avg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    "q2_filter_project" -> { (s, d) =>
      // Filter + 2-col projection: both must reach the parquet scan
      // (PushedFilters / pruned ReadSchema).
      Tables.lineitem(s, d)
        .filter(col("l_quantity") > 45.0 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_extendedprice"))
    },

    "q3_join_agg" -> { (s, d) =>
      val cut = lit("1997-01-01 00:00:00").cast("timestamp")
      val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, d).filter(col("o_orderdate") < cut)
      val li = Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .select(col("l_orderkey"), to_date(col("o_orderdate")).as("o_date"), col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    "q4_broadcast_join" -> { (s, d) =>
      // part is dim-sized at any SF ratio → explicit broadcast kills the
      // shuffle on the fact side.
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type"))
        .agg(
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("p_type"))
    },

    "q5_multi_join" -> { (s, d) =>
      val lo = lit("1996-01-01 00:00:00").cast("timestamp")
      val hi = lit("1998-01-01 00:00:00").cast("timestamp")
      val region = Tables.region(s, d).filter(col("r_name") === "EUROPE")
      val nation = Tables.nation(s, d)
      val cust = Tables.customer(s, d)
      val supp = Tables.supplier(s, d)
      val ord = Tables.orders(s, d).filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      val li = Tables.lineitem(s, d)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    "q6_selective_agg" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24.0)
        .agg(sum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n_rows"))
    },

    "q7_topk" -> { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(15)
    },

    "q8_window_rank" -> { (s, d) =>
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("s_acctbal").desc, col("s_suppkey"))
      Tables.supplier(s, d)
        .withColumn("rk", rank().over(w))
        .filter(col("rk") <= 3)
        .select(col("s_nationkey"), col("s_suppkey"), col("s_name"), col("s_acctbal"), col("rk"))
        .orderBy(col("s_nationkey"), col("rk"), col("s_suppkey"))
    },

    "q9_window_running" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .withColumn("running_spend", sum(col("o_totalprice")).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    "q10_semi_join" -> { (s, d) =>
      val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      Tables.customer(s, d)
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    "q11_anti_join" -> { (s, d) =>
      val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      Tables.customer(s, d)
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    },

    "q12_distinct_agg" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },

    "q13_rollup" -> { (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("n_rows"))
        .orderBy(col("flag"), col("status"))
    },

    "q14_case_agg" -> { (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .agg(
          (sum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(0.0)) * 100.0 /
            sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("promo_pct"))
    },

    "q15_string_funcs" -> { (s, d) =>
      Tables.part(s, d)
        .filter(col("p_name").like("%widget%"))
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("uname"),
          substring(col("p_name"), 1, 5).as("prefix"),
          regexp_extract(col("p_brand"), "#(\\d+)", 1).cast("int").as("brand_num"),
          length(col("p_name")).as("name_len"))
        .orderBy(col("p_partkey"))
    },

    "q16_date_funcs" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(trunc(col("o_orderdate"), "month").as("month"))
        .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("total"))
        .withColumn("yr", year(col("month")))
        .withColumn("mth", month(col("month")))
        .select(col("month"), col("yr"), col("mth"), col("n_orders"), col("total"))
        .orderBy(col("month"))
    },

    "q17_subquery_agg" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val partF = Tables.part(s, d).filter(col("p_brand") === "Brand#13")
      val avgQ = li.groupBy(col("l_partkey").as("ap_partkey"))
        .agg((avg(col("l_quantity")) * 0.5).as("half_avg_qty"))
      li.join(broadcast(partF), col("l_partkey") === col("p_partkey"))
        .join(avgQ, col("l_partkey") === col("ap_partkey"))
        .filter(col("l_quantity") < col("half_avg_qty"))
        .agg((sum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
          count(lit(1)).as("n_rows"))
    },

    "q18_having" -> { (s, d) =>
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 150.0)
      big.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("o_date"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    },

    "q19_union_all" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val hiQty = li.filter(col("l_quantity") >= 48.0)
        .select(col("l_orderkey"), col("l_extendedprice"), lit("hi_qty").as("bucket"))
      val hiDisc = li.filter(col("l_discount") >= 0.09)
        .select(col("l_orderkey"), col("l_extendedprice"), lit("hi_disc").as("bucket"))
      hiQty.unionAll(hiDisc)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum(col("l_extendedprice")).as("total_price"))
        .orderBy(col("bucket"))
    },

    "q20_pivot" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .count()
        .na.fill(0L, Seq("F", "O", "P"))
        .withColumnRenamed("F", "n_f")
        .withColumnRenamed("O", "n_o")
        .withColumnRenamed("P", "n_p")
        .orderBy(col("o_orderpriority"))
    },

    "q21_percentiles" -> { (s, d) =>
      // graft.operators.Percentiles: two-phase distributed exact
      // percentile_cont — the built-in `percentile` agg buffers every
      // value per group (3 single-threaded sorts here, unrunnable at
      // 100 TB).
      val li = Tables.lineitem(s, d)
      graft.operators.Percentiles.exact(li, "l_returnflag", "l_extendedprice",
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99),
        minMaxCols = Some(("pmin", "pmax")))
        .select(col("l_returnflag"), col("p50"), col("p90"), col("p99"), col("pmin"), col("pmax"))
        .orderBy(col("l_returnflag"))
    },

    "q22_histogram" -> { (s, d) =>
      Tables.lineitem(s, d)
        .select((floor(col("l_extendedprice") / 10000.0)).cast("long").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy(col("bucket"))
    },

    "q23_asof_join" -> { (s, d) =>
      // As-of join via graft.operators.AsOf (union-window technique):
      // for each purchase event, the most recent click by the same
      // user at-or-before its timestamp.
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("click_us"))
      graft.operators.AsOf.joinAsOf(purchases, clicks, "user_id", "ts", Seq("click_us"))
        .filter(col("asof_click_us").isNotNull)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("asof_click_us").as("prev_click_us"),
          (unix_micros(col("ts")) - col("asof_click_us")).as("gap_us"))
        .orderBy(col("event_id"))
    },

    "q24_range_join" -> { (s, d) =>
      // Purchases within 5 minutes after a click by the same user.
      // Banded join: pair candidate 5-min buckets (b, b+1) so the join
      // key is (user_id, bucket) — bounded fan-out instead of a per-user
      // cross product; survives skewed users at scale.
      val bandUs = 300000000L // 5 min in micros
      val ev = Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("us").as("click_us"),
          explode(array((col("us") / bandUs).cast("long"),
            (col("us") / bandUs).cast("long") + 1)).as("bucket"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
          col("us").as("purchase_us"),
          (col("us") / bandUs).cast("long").as("p_bucket"))
      clicks.join(purchases,
          col("user_id") === col("p_user_id") && col("bucket") === col("p_bucket") &&
          col("purchase_us") > col("click_us") &&
          col("purchase_us") <= col("click_us") + bandUs)
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (col("purchase_us") - col("click_us")).as("gap_us"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    },

    // Full cube over (status, priority) with grouping flags — all four
    // aggregation levels in one pass (partial-agg map-side; Expand
    // multiplies rows 4× before one shuffle, still one scan at scale).
    "q25_cube" -> { (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("sum_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("sum_price"))
        .orderBy(col("status"), col("priority"))
    },

    // Bivariate statistics per group: correlation, sample covariance
    // and variance — single-pass streaming aggregators (no value
    // buffering), so the same plan runs at 100 TB.
    "q26_stats_agg" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          corr(col("l_quantity"), col("l_extendedprice")).as("qty_price_corr"),
          covar_samp(col("l_quantity"), col("l_extendedprice")).as("qty_price_covar"),
          stddev_samp(col("l_extendedprice")).as("price_stddev"),
          var_samp(col("l_quantity")).as("qty_var"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },

    // Neighbor navigation per customer order history: previous/next
    // order totals (lag/lead) — one shuffle on the partition key.
    "q27_lag_lead" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .filter(col("o_custkey") % 100 === 0)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // Quartile assignment within each priority class (ntile), then
    // per-quartile stats — the windowed bucketing a feature pipeline
    // uses for stratified sampling.
    "q28_ntile" -> { (s, d) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("quartile", ntile(4).over(w))
        .groupBy(col("o_orderpriority"), col("quartile"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy(col("o_orderpriority"), col("quartile"))
    },

    // Ordered string aggregation per nation (LISTAGG shape): sorted
    // supplier roster as one delimited string — deterministic via the
    // explicit sort, not collect order.
    "q29_string_agg" -> { (s, d) =>
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          array_join(array_sort(collect_list(col("s_name"))), ",").as("roster"))
        .orderBy(col("n_name"))
    },

    // Engine-portable HyperLogLog: an md5-derived HLL whose registers
    // AND estimate the SQL oracle reproduces exactly (the built-in
    // DataSketches sketch hashes with xxhash — unverifiable across
    // engines). The register state is a TRUE partial aggregate
    // (graftvec.HllRegisters): each map partition ships ONE m-byte
    // register blob per group — not m rows — so the exchange is
    // O(groups × partitions) blobs regardless of input cardinality.
    // The estimate arithmetic runs on posexploded registers AFTER the
    // aggregate (groups × m rows, negligible at any scale).
    "q30_hll_cardinality" -> ((s, d) => hllCardinality(s, d)),

    // Sketch-acceptance audit: q30's mergeable HLL estimate against
    // the exact distinct count per group, with the relative error —
    // the number an operator reads before trusting the sketch at a
    // scale where the exact count is unaffordable (the same
    // measure-before-serve pattern as a8/a11/a16/d15). The exact leg
    // is the expensive baseline by design; at 100 TB it runs on a
    // sample or a single acceptance partition.
    // Mergeable QUANTILE sketch + its acceptance audit — the scale
    // path q21's exact operator trades against (q41's est-vs-exact
    // pattern applied to quantiles, alongside q30/t22's HLL/CMS).
    // The sketch is a 256-bin equi-width histogram: one (min,max)
    // aggregate, one binning scan into 256 partial-combining counts —
    // mergeable across partitions/days/corpora by bin-wise addition,
    // while exact percentile_cont needs the full distribution
    // resident. Quantile p reads from the crossing bin by linear
    // interpolation, computed ARRAY-NATIVELY over the one-row packed
    // histogram (a window cumsum over the bins would be an
    // Exchange SinglePartition — the t8 lesson applies even to
    // 256-row frames). The audit joins q21's exact two-phase operator
    // on the same quantiles: the estimate is within-2-bins by
    // construction, and within_tol records it.
    "q45_quantile_sketch" -> { (s, d) =>
      val nb = 256
      // THREE consumers read the same 1-column projection (the stats
      // aggregate, the binning pass, and the exact-audit leg below) —
      // localCheckpoint materializes the pruned scan once so the
      // lineitem parquet is read a single time instead of three
      // (round-9 verdict item 9). At 100 TB the audit leg runs on a
      // sample anyway; sharing the scan is the steady-state shape.
      val v = Tables.lineitem(s, d)
        .select(col("l_extendedprice").cast("double").as("x"))
        .localCheckpoint()
      // 1-row corpus aggregate reused along two branches (binning and
      // estimation) — localCheckpoint cuts the lineage so the
      // aggregate runs once, not per consumer (the a21 practice)
      val stats = v.agg(count(lit(1)).as("n"),
        min(col("x")).as("vmin"), max(col("x")).as("vmax"))
        .localCheckpoint()
      val hist = v.crossJoin(broadcast(stats))
        .select(least(
          floor((col("x") - col("vmin")) / (col("vmax") - col("vmin")) * nb)
            .cast("long"),
          lit(nb - 1L)).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("bn"))
      val est = hist
        .agg(sort_array(collect_list(struct(col("bucket"), col("bn")))).as("hb"))
        .crossJoin(broadcast(stats))
        .select(col("hb"), col("n"), col("vmin"), col("vmax"),
          explode(array(lit(0.5), lit(0.9), lit(0.99))).as("p"))
        .withColumn("r", col("p") * col("n").cast("double"))
        .withColumn("w", (col("vmax") - col("vmin")) / lit(nb.toDouble))
        // walk the packed bins once: capture the interpolated value in
        // the bin where the continuous rank r crosses the cumsum
        // (cum_before < r <= cum — the same selection rule the oracle
        // states relationally)
        .withColumn("est", expr(
          """aggregate(hb,
            |  struct(CAST(0 AS BIGINT) AS cum, CAST(NULL AS DOUBLE) AS q),
            |  (acc, b) -> struct(
            |    acc.cum + b.bn AS cum,
            |    CASE WHEN acc.q IS NULL AND CAST(acc.cum AS DOUBLE) < r
            |           AND CAST(acc.cum + b.bn AS DOUBLE) >= r
            |      THEN vmin + (CAST(b.bucket AS DOUBLE) +
            |             (r - CAST(acc.cum AS DOUBLE)) / CAST(b.bn AS DOUBLE)) * w
            |      ELSE acc.q END AS q),
            |  acc -> acc.q)""".stripMargin))
      val exact = graft.operators.Percentiles.exact(
          v.withColumn("g", lit(1)), "g", "x",
          Seq("e50" -> 0.5, "e90" -> 0.9, "e99" -> 0.99))
        .select(expr("stack(3, 0.5D, e50, 0.9D, e90, 0.99D, e99) AS (p, exact)"))
      est.join(broadcast(exact), "p")
        .select(col("p"),
          round(col("est"), 6).as("est"),
          round(col("exact"), 6).as("exact"),
          round(abs(col("est") - col("exact")), 6).as("abs_err"),
          round(abs(col("est") - col("exact")) / (col("vmax") - col("vmin")), 6)
            .as("range_err"),
          (abs(col("est") - col("exact")) <= lit(2.0) * col("w")).as("within_tol"))
        .orderBy(col("p"))
    },

    // Robust per-group anomaly detection via MAD (median absolute
    // deviation): the outlier gate that survives heavy tails, where
    // mean/stddev z-scores are dragged by the very outliers they are
    // supposed to flag (Iglewicz–Hoaglin modified z-score,
    // 0.6745·|v−med|/MAD, flag > 3.5). Both medians are EXACT but
    // distributed — two Percentiles.exact passes (bucket-locate +
    // needed-buckets-only rank, no per-group full sort), each
    // yielding a groups-sized frame that broadcasts back onto the
    // rows. The 2-column events projection is localCheckpointed once
    // and feeds all three passes (median, deviation median, flagging)
    // — one parquet read, not three. At 100 TB: two O(data) map
    // passes + two tiny rank lookups; nothing per-group ever sorts.
    "q46_mad_outliers" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("value").cast("double").as("v"))
        .localCheckpoint()
      // med/mad are groups-sized but their lineages are FULL
      // Percentiles runs — without the cut, every downstream consumer
      // (the deviation pass re-reads med ~4×, the flagging pass once
      // more) re-executes the whole median computation (measured 10 s
      // vs ~2 s at sf0.1)
      val med = graft.operators.Percentiles.exact(ev, "event_type", "v",
          Seq("med" -> 0.5))
        .select(col("event_type"), col("med"))
        .localCheckpoint()
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), abs(col("v") - col("med")).as("ad"))
      val mad = graft.operators.Percentiles.exact(dev, "event_type", "ad",
          Seq("mad" -> 0.5))
        .select(col("event_type"), col("mad"))
        .localCheckpoint()
      ev.join(broadcast(med), Seq("event_type"))
        .join(broadcast(mad), Seq("event_type"))
        .withColumn("rz", when(col("mad") > 0,
          lit(0.6745) * abs(col("v") - col("med")) / col("mad")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(max(col("med")), 6).as("med"),
          round(max(col("mad")), 6).as("mad"),
          sum(when(col("rz") > 3.5, 1L).otherwise(0L)).as("n_outliers"),
          round(avg(when(col("rz") > 3.5, 1.0).otherwise(0.0)), 6).as("outlier_frac"),
          round(max(col("rz")), 6).as("max_rz"))
        .orderBy(col("event_type"))
    },

    // MERGEABLE anomaly detection (round 10) — q46's robust gate
    // re-expressed so a 1000-executor daily monitor can actually keep
    // it: exact medians don't merge across partitions/days, but
    // 256-bin histogram CELLS do (bin counts sum), and Tukey outer
    // fences (q25 − 3·IQR, q75 + 3·IQR) derived from the cells are
    // within a bin width of the exact fences. Three passes over one
    // localCheckpointed projection: per-type bounds, the binning pass
    // into (event_type, bucket) cells — THE durable monitor store —
    // and one flagging pass that counts outliers against BOTH the
    // sketch fences and the exact Percentiles fences (the q45
    // est-vs-exact acceptance pattern: n_disagree prices the sketch
    // before anyone alerts on it). The quantile read is the
    // relational crossing rule over ≤256-row per-type frames
    // (windows partition by event_type — never data-sized).
    // histCells/fencesFromCells are shared verbatim with the live
    // monitor step (StreamingSpec: streamed cells ≡ batch).
    "q47_sketch_outliers" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("value").cast("double").as("x"))
        .localCheckpoint()
      val stats = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("x")).as("vmin"), max(col("x")).as("vmax"))
        .localCheckpoint()
      val bands = fencesFromCells(histCells(ev, stats), stats)
      val exact = graft.operators.Percentiles.exact(ev, "event_type", "x",
          Seq("e25" -> 0.25, "e75" -> 0.75))
        .select(col("event_type"),
          (col("e25") - (col("e75") - col("e25")) * 3).as("xlo"),
          (col("e75") + (col("e75") - col("e25")) * 3).as("xhi"))
      ev.join(broadcast(bands), "event_type")
        .join(broadcast(exact), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(max(col("q25")), 6).as("q25_est"),
          round(max(col("q75")), 6).as("q75_est"),
          round(max(col("lo")), 6).as("lo"),
          round(max(col("hi")), 6).as("hi"),
          sum(when(col("x") < col("lo") || col("x") > col("hi"), 1L)
            .otherwise(0L)).as("n_out_est"),
          sum(when(col("x") < col("xlo") || col("x") > col("xhi"), 1L)
            .otherwise(0L)).as("n_out_exact"),
          sum(when((col("x") < col("lo") || col("x") > col("hi")) =!=
            (col("x") < col("xlo") || col("x") > col("xhi")), 1L)
            .otherwise(0L)).as("n_disagree"))
        .orderBy(col("event_type"))
    },

    // TIME-SERIES similarity search (round 10) — a different
    // similarity modality from the a-family's embedding cosine: who
    // BEHAVES like this user? Each user's activity profile is their
    // daily event-count sequence over the observed span, z-normalized
    // (the UCR convention — shape match, not volume match: a 10×
    // heavier user with the same weekly rhythm is a near neighbor),
    // and probes take their top-k nearest profiles by Euclidean
    // distance. Relational shape: (user, day) counts partial-combine
    // map-side; the dense calendar fill joins a broadcast days-sized
    // frame (never a user×user product); distances run probe-side
    // against the 5 broadcast probe vectors with the codegen'd
    // Vec.dot kernel; per-probe top-3 is a probes-partitioned window.
    // Constant-profile users (sd = 0) are excluded — z-normalization
    // is undefined for them — deterministically on both engines. At
    // 100 TB the span would be a FIXED window (e.g. trailing 90
    // days) so the vector width is a constant, not data-derived.
    "q48_series_topk" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("d0"), (datediff(col("d1"), col("d0")) + 1).as("nd"))
        .localCheckpoint()
      val counts = ev.crossJoin(broadcast(span))
        .select(col("user_id"), datediff(col("day"), col("d0")).as("idx"))
        .groupBy(col("user_id"), col("idx")).agg(count(lit(1)).as("n"))
      val cal = span.select(col("nd"),
        explode(sequence(lit(0), col("nd") - 1)).as("idx"))
      val users = counts.select(col("user_id")).distinct()
      val dense = users.join(broadcast(cal))
        .join(counts, Seq("user_id", "idx"), "left")
        .select(col("user_id"), col("idx"), col("nd"),
          coalesce(col("n"), lit(0L)).cast("double").as("x"))
      val vecs = dense.groupBy(col("user_id"), col("nd"))
        .agg(array_sort(collect_list(struct(col("idx"), col("x")))).as("pairs"))
        .select(col("user_id"), col("nd"),
          expr("transform(pairs, p -> p.x)").as("v"))
        .withColumn("mu", aggregate(col("v"), lit(0.0), _ + _) / col("nd"))
        .withColumn("sd", sqrt(
          aggregate(col("v"), lit(0.0), (a, x) => a + x * x) / col("nd") -
            col("mu") * col("mu")))
        .filter(col("sd") > 0)
        .select(col("user_id"),
          transform(col("v"), x => (x - col("mu")) / col("sd")).as("zv"))
        .localCheckpoint()
      val probes = vecs
        .orderBy(md5(concat(lit("sprobe|"), col("user_id").cast("string"))
          .cast("binary")), col("user_id"))
        .limit(5)
        .select(col("user_id").as("probe_id"), col("zv").as("pv"))
      val wRank = Window.partitionBy(col("probe_id"))
        .orderBy(col("dist"), col("user_id"))
      vecs.join(broadcast(probes), col("user_id") =!= col("probe_id"))
        .withColumn("dist",
          graft.functions.Vec.dot(col("pv"), col("pv")) -
            lit(2.0) * graft.functions.Vec.dot(col("pv"), col("zv")) +
            graft.functions.Vec.dot(col("zv"), col("zv")))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= 3)
        .select(col("probe_id"), col("rank").cast("long").as("rank"),
          col("user_id"), round(col("dist"), 6).as("dist"))
        .orderBy(col("probe_id"), col("rank"))
    },

    "q41_sketch_error" -> { (s, d) =>
      val est = hllCardinality(s, d)
        .select(col("l_returnflag"), col("est_distinct"))
      val exact = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_distinct"))
      est.join(exact, "l_returnflag")
        .select(col("l_returnflag"),
          round(col("est_distinct"), 6).as("est_distinct"),
          col("exact_distinct"),
          round(abs(col("est_distinct") - col("exact_distinct").cast("double")) /
            col("exact_distinct"), 6).as("rel_err"))
        .orderBy(col("l_returnflag"))
    },

    // Skew-safe hot-key join via operators.Salted: ~30% of the fact
    // rows share one synthetic key; in a shuffle join that hot key
    // pins one reducer, and salting spreads it across `salt`
    // reducers. Results are identical to the naive join (the oracle
    // IS the naive join) — only the exchange distribution changes.
    // (At this SF Catalyst broadcasts the tiny salted dim, which is
    // also correct; the salted path matters once the dim exceeds the
    // broadcast threshold.)
    "q31_skew_join" -> { (s, d) =>
      val fact = Tables.events(s, d)
        .withColumn("k",
          when(col("user_id") % 10 < 3, 0L).otherwise(pmod(col("user_id"), lit(100L))))
        .select(col("k"), col("value"))
      val dim = Tables.customer(s, d).filter(col("c_custkey") < 100)
        .select(col("c_custkey").as("k"), col("c_mktsegment"))
      graft.operators.Salted.joinSkewed(fact, dim, "k", salt = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"), sum(col("value")).as("sum_value"))
        .orderBy(col("c_mktsegment"))
    },

    // Semi-structured extraction: the events payload is a JSON blob;
    // pull a typed field out and aggregate it. get_json_object parses
    // per row map-side (no UDF); at 100 TB the projection prunes to
    // (props, event_type) before parsing — only the needed column is
    // read, only the needed field extracted.
    "q32_json_extract" -> { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          avg(col("k")).as("avg_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },

    // Arbitrary grouping sets — the shape rollup/cube can't express:
    // per-status totals and per-priority totals in ONE Expand pass
    // (a UNION ALL of two groupBys would scan the fact table twice).
    // grouping() flags disambiguate a genuine NULL group key from an
    // aggregated-out dimension.
    "q33_grouping_sets" -> { (s, d) =>
      Tables.orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping(col("o_orderstatus")).cast("long").as("g_status"),
          grouping(col("o_orderpriority")).cast("long").as("g_priority"),
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice")).as("sum_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("g_status"), col("g_priority"), col("n_orders"), col("sum_price"))
        .orderBy(col("status"), col("priority"))
    },

    // RANGE window frame: trailing 30-day spend per customer — frame
    // membership by ORDER-BY VALUE distance, not row count (two
    // same-day orders are always in each other's frame; a gap wider
    // than 30 days empties it). One shuffle on the partition key; the
    // frame scan is partition-local.
    "q34_range_frame" -> { (s, d) =>
      val days = datediff(to_date(col("o_orderdate")),
        lit("1992-01-01").cast("date")).cast("long")
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
        .rangeBetween(-30, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), days.as("d"), col("o_totalprice"))
        .withColumn("trail_sum", sum(col("o_totalprice")).over(w))
        .withColumn("trail_cnt", count(lit(1)).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("d"),
          col("trail_sum"), col("trail_cnt"))
        .orderBy(col("o_custkey"), col("d"), col("o_orderkey"))
    },

    // Set operators: INTERSECT / EXCEPT between two customer
    // populations (urgent-order customers vs big-spend customers),
    // each branch tagged. Both set ops are distinct-semantics
    // hash aggregations on the join key — shuffle carries only the
    // 8-byte key, and both branches prune to (custkey, predicate
    // column) at the scan.
    "q35_set_ops" -> { (s, d) =>
      val orders = Tables.orders(s, d)
      val urgent = orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val big = orders.filter(col("o_totalprice") > 450000.0)
        .select(col("o_custkey"))
      urgent.intersect(big).select(lit("both").as("pop"), col("o_custkey"))
        .unionAll(urgent.except(big).select(lit("urgent_only").as("pop"), col("o_custkey")))
        .unionAll(big.except(urgent).select(lit("big_only").as("pop"), col("o_custkey")))
        .orderBy(col("pop"), col("o_custkey"))
    },

    // Winsorized aggregation — outlier-robust statistics, the
    // data-cleaning step before a mean is trustworthy: clip each
    // group's values at its own exact [p05, p95] band and report raw
    // vs clipped means plus the clip count. The percentile pass is
    // operators.Percentiles (two-phase, no per-group value
    // buffering — the built-in exact percentile cannot run at
    // 100 TB); the tiny per-group band table broadcasts back onto
    // one clipping scan.
    "q36_winsorize" -> { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      val bands = graft.operators.Percentiles.exact(ev, "event_type", "value",
        Seq("p05" -> 0.05, "p95" -> 0.95))
        .select(col("event_type"), col("p05"), col("p95"))
      ev.join(broadcast(bands), Seq("event_type"))
        .withColumn("clipped", least(greatest(col("value"), col("p05")), col("p95")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          avg(col("value")).as("avg_raw"),
          avg(col("clipped")).as("avg_winsorized"),
          sum(when(col("value") < col("p05") || col("value") > col("p95"), 1L)
            .otherwise(0L)).as("n_clipped"))
        .orderBy(col("event_type"))
    },

    // MERGE/upsert (the CDC-apply step of any maintained table): a
    // deterministic change batch — update every 50th order, delete
    // every 97th (delete wins the overlap), insert re-keyed copies of
    // every 500th — applied to the base in ONE full-outer join on the
    // key. No driver loop, no per-row lookups: both sides shuffle
    // once on the join key and AQE absorbs the base≫changes size
    // asymmetry. Output is the per-action audit a MERGE emits.
    "q37_merge_upsert" -> { (s, d) =>
      val base = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("key"), col("o_totalprice").as("price"))
      val updates = base.filter(col("key") % 50 === 0 && col("key") % 97 =!= 0)
        .select(col("key"), (col("price") + 1000.0).as("new_price"), lit("U").as("op"))
      val deletes = base.filter(col("key") % 97 === 0)
        .select(col("key"), lit(null).cast("double").as("new_price"), lit("D").as("op"))
      // insert keys offset past the OBSERVED max key (1-row broadcast
      // agg), not a constant: o_orderkey exceeds any fixed offset at a
      // large enough SF, and a collision would silently misclassify
      // actions on both engines at once
      val mxk = base.agg(max(col("key")).as("mxk"))
      val inserts = base.filter(col("key") % 500 === 0)
        .crossJoin(broadcast(mxk))
        .select((col("key") + col("mxk") + 1L).as("key"),
          (col("price") * 0.5).as("new_price"), lit("I").as("op"))
      base.join(updates.unionAll(deletes).unionAll(inserts), Seq("key"), "full_outer")
        .withColumn("action",
          when(col("op") === "D", "delete")
            .when(col("op") === "U", "update")
            .when(col("op") === "I", "insert")
            .otherwise("unchanged"))
        .withColumn("out_price",
          when(col("action") === "delete", lit(null).cast("double"))
            .when(col("action") === "unchanged", col("price"))
            .otherwise(col("new_price")))
        .groupBy(col("action"))
        .agg(count(lit(1)).as("n"), round(sum(col("out_price")), 2).as("total_price"))
        .orderBy(col("action"))
    },

    // Time-series gap fill + LOCF — the densification step reporting
    // needs over sparse facts: a generated month calendar left-joined
    // to the observed monthly aggregates, counts zero-filled, and the
    // last observed average carried forward (nulls before the first
    // observation stay null — LOCF must not invent history). The
    // calendar derives from the DATA's own min/max (one tiny agg),
    // so the query has no hardcoded date range; the single-partition
    // window is over the calendar (≈ months), never the fact table —
    // at 100 TB the facts pre-aggregate to months before any window.
    "q38_gap_fill" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val sparse = Tables.load(s, d, "orders")
        .filter(col("o_orderkey") % 499 === 0)
        .withColumn("month", date_trunc("month", col("o_orderdate")))
      // round 6, not 2: monthly averages of 2-decimal prices are
      // multiples of 0.005 — exactly the 2-decimal rounding tie, and
      // engine accumulators differ by an ulp across it. The 1e-6
      // quantum never lands on a tie for 0.005-multiples.
      val monthly = sparse.groupBy(col("month"))
        .agg(count(lit(1)).as("n_orders"),
          round(avg(col("o_totalprice")), 6).as("avg_price"))
      val cal = sparse.agg(min(col("month")).as("lo"), max(col("month")).as("hi"))
        .select(explode(expr("sequence(lo, hi, interval 1 month)")).as("month"))
      val w = Window.orderBy(col("month"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cal.join(monthly, Seq("month"), "left")
        .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
        .withColumn("locf_avg_price",
          last(col("avg_price"), ignoreNulls = true).over(w))
        .select(date_format(col("month"), "yyyy-MM").as("month"),
          col("n_orders"), col("avg_price"), col("locf_avg_price"))
        .orderBy(col("month"))
    },

    // SCD2 temporal-validity join: facts joined to the dimension
    // VERSION that was valid at fact time (synthesized 3-version
    // segment history per customer). Spark-first: the as-of operator
    // (union-window — one shuffle on the key, no interval explosion)
    // resolves "latest version with valid_from ≤ order date"; the
    // oracle is the INDEPENDENT interval-containment formulation
    // (valid_from ≤ d < valid_to via lead()), so the two temporal-join
    // semantics must coincide exactly. q23 is nearest-event as-of;
    // this is versioned-dimension correctness — the join every
    // time-travel/backfill report depends on.
    "q39_scd2_join" -> { (s, d) =>
      val versions = Tables.load(s, d, "customer")
        .select(col("c_custkey").as("custkey"),
          explode(sequence(lit(0), lit(2))).as("k"))
        .select(col("custkey"),
          date_add(lit("1992-01-01").cast("date"), (col("k") * 800).cast("int"))
            .cast("timestamp").as("ts"),
          pmod(col("custkey") * 7 + col("k"), lit(5)).cast("long").as("seg"))
      val orders = Tables.load(s, d, "orders")
        .select(col("o_custkey").as("custkey"),
          col("o_orderdate").as("ts"), col("o_totalprice"))
      graft.operators.AsOf.joinAsOf(orders, versions, "custkey", "ts", Seq("seg"))
        .filter(col("asof_seg").isNotNull)
        .groupBy(col("asof_seg").as("seg"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("seg"))
    },

    // Key-skew audit — measurement that RECOMMENDS the mitigation q31
    // applies (the autotuning loop: a10 audits index skew, this audits
    // JOIN-KEY skew). Over q31's engineered hot-keyed fact: per-key
    // counts (keys ≪ rows, partial-combining agg), then every key
    // whose load exceeds 4× the mean is reported with the salt factor
    // that spreads it back to ~mean per reducer (rec_salt =
    // ceil(load/mean) — exactly the `salt` parameter
    // operators.Salted.joinSkewed takes; SaltedSpec closes the loop by
    // joining with the recommended factor and matching the naive
    // join). One scan + a keys-sized rollup at any fact size.
    "q40_skew_audit" -> { (s, d) =>
      val fact = Tables.events(s, d)
        .withColumn("k",
          when(col("user_id") % 10 < 3, 0L).otherwise(pmod(col("user_id"), lit(100L))))
      graft.operators.Salted.skewAudit(fact, "k", minSkew = 4.0)
    },

    // Retention cohorts — the product-analytics staple over the
    // events stream: users grouped by first-active ISO week, each
    // cohort's share still active N weeks later (weekly because the
    // corpus spans one month; the shape is granularity-agnostic).
    // Three aggregations whose state is (users) then (cohorts × ages)
    // — the fact table is scanned once for the distinct (user, week)
    // pairs and once for first-activity, both partial-combining; no
    // window at all.
    "q42_retention_cohorts" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      val firstw = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort"))
      val sizes = firstw.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_size"))
      ev.distinct()
        .join(firstw, "user_id")
        .withColumn("age_weeks",
          (datediff(col("week"), col("cohort")) / 7).cast("long"))
        .groupBy(col("cohort"), col("age_weeks"))
        // rows are distinct (user, week) and distinct weeks map to
        // distinct ages (week-truncated, 7-day spaced), so each user
        // appears at most once per (cohort, age): a plain count is
        // countDistinct without the second expand/aggregate stage
        .agg(count(lit(1)).as("n_active"))
        .join(broadcast(sizes), "cohort")
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          col("age_weeks"), col("cohort_size"), col("n_active"),
          round(col("n_active").cast("double") / col("cohort_size"), 6).as("retention"))
        .orderBy(col("cohort"), col("age_weeks"))
    },

    // Sessionization — split each user's event stream into visits at
    // >30-min silence gaps (the islands-and-gaps idiom): one lag to
    // flag session starts, one running sum to number them, one
    // aggregate per session. Both windows partition by user_id, so at
    // 100 TB this is a single shuffle on the user key with per-user
    // state only — no global window anywhere; a billion users spread
    // over every executor.
    "q43_sessionize" -> { (s, d) =>
      sessionize(Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts"), col("value")),
          "user_id", "ts", "event_id", SessionGapUs)
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          (max(expr("unix_micros(ts)")) - min(expr("unix_micros(ts)"))).as("duration_us"),
          round(sum(col("value")), 6).as("session_value"))
        .select(col("user_id"), col("session_idx"), col("n_events"),
          col("duration_us"), col("session_value"))
        .orderBy(col("user_id"), col("session_idx"))
    },

    // Ordered event funnel — the other product-analytics staple next
    // to q42's cohorts and q43's sessions: signup → view → purchase,
    // each stage within ONE HOUR of the previous (the strict window
    // is what makes the funnel discriminate; with a month-wide window
    // every active user trivially converts). Three selective filters
    // (pushed to the scan) each followed by a per-user min — every
    // join keys on user_id and every aggregation partial-combines, so
    // the funnel costs three user-keyed shuffles at any fact size;
    // the final stage counts are three 1-row aggregates.
    "q44_event_funnel" -> { (s, d) =>
      val hourUs = 3600L * 1000000L
      val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_signup"))
      val vw = ev.filter(col("event_type") === "view")
        .join(su, "user_id")
        .filter(expr("unix_micros(ts)") > expr("unix_micros(t_signup)") &&
          expr("unix_micros(ts)") <= expr("unix_micros(t_signup)") + hourUs)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(vw, "user_id")
        .filter(expr("unix_micros(ts)") > expr("unix_micros(t_view)") &&
          expr("unix_micros(ts)") <= expr("unix_micros(t_view)") + hourUs)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      su.agg(count(lit(1)).as("n_signup"))
        .crossJoin(broadcast(vw.agg(count(lit(1)).as("n_view_1h"))))
        .crossJoin(broadcast(pu.agg(count(lit(1)).as("n_purchase_1h"))))
        .select(col("n_signup"), col("n_view_1h"), col("n_purchase_1h"),
          round(col("n_view_1h").cast("double") / col("n_signup"), 6).as("conv_view"),
          round(col("n_purchase_1h").cast("double") / col("n_view_1h"), 6).as("conv_purchase"))
    }
  )

  /** q30: approximate distinct via the mergeable HLL register kernel
    * (one m-byte buffer per group per partition on the exchange);
    * shared with q41's sketch-error audit. */
  private def hllCardinality(s: SparkSession, d: String): DataFrame = {
    val p = 12; val m = 1 << p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    // spread the one-row-group bench scan before the per-row md5 +
    // register kernel (guide §2.5; the exchange carries two slim
    // columns and is a partition-count no-op at any real corpus)
    val li = Tables.spread(Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_partkey")), "l_partkey")
      .withColumn("h", graft.functions.Portable.hash60(col("l_partkey").cast("string")))
    li.groupBy(col("l_returnflag"))
      .agg(graft.functions.Portable.hllRegisters(col("h"), p).as("regs"))
      .select(col("l_returnflag"),
        posexplode(col("regs")).as(Seq("bucket", "reg")))
      .filter(col("reg") > 0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_nonempty"),
        sum(pow(lit(2.0), -col("reg"))).as("s_nonempty"))
      .withColumn("zeros", lit(m.toLong) - col("n_nonempty"))
      .withColumn("raw",
        lit(alpha * m.toDouble * m.toDouble) /
          (col("zeros").cast("double") + col("s_nonempty")))
      .select(col("l_returnflag"),
        when(col("raw") <= 2.5 * m && col("zeros") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("zeros")))
          .otherwise(col("raw")).as("est_distinct"),
        col("n_nonempty"))
      .orderBy(col("l_returnflag"))
  }

  /** q30's oracle — the full HLL replicated in SQL; composed by q41. */
  private lazy val HllSql =
    s"""WITH hashed AS (
       |  SELECT l_returnflag,
       |    ('0x' || substring(md5(l_partkey::VARCHAR), 1, 15))::BIGINT AS h
       |  FROM lineitem),
       |rhos AS (
       |  SELECT l_returnflag,
       |    h // ${1L << 48} AS bucket,
       |    CASE WHEN h % ${1L << 48} = 0 THEN 49
       |         ELSE 48 - length(bin(h % ${1L << 48})) + 1 END AS rho
       |  FROM hashed),
       |regs AS (
       |  SELECT l_returnflag, bucket, max(rho) AS reg
       |  FROM rhos GROUP BY 1, 2),
       |summed AS (
       |  SELECT l_returnflag,
       |    count(*) AS n_nonempty,
       |    sum(pow(2.0, -reg)) AS s_nonempty
       |  FROM regs GROUP BY 1)
       |SELECT l_returnflag,
       |  CASE WHEN (CAST(${0.7213 / (1.0 + 1.079 / 4096)} AS DOUBLE) * 4096.0 * 4096.0 /
       |              ((4096 - n_nonempty)::DOUBLE + s_nonempty)) <= 10240.0
       |        AND (4096 - n_nonempty) > 0
       |       THEN 4096.0 * ln(4096.0 / (4096 - n_nonempty))
       |       ELSE CAST(${0.7213 / (1.0 + 1.079 / 4096)} AS DOUBLE) * 4096.0 * 4096.0 /
       |              ((4096 - n_nonempty)::DOUBLE + s_nonempty) END AS est_distinct,
       |  n_nonempty
       |FROM summed
       |ORDER BY l_returnflag""".stripMargin

  /** q43: the silence (µs) that closes a session. */
  private[graft] val SessionGapUs = 30L * 60L * 1000000L

  /** q43's gaps-and-islands kernel: rows more than `gapUs` apart (per
    * `keyCol`, ordered by `tsCol`, ties broken by `tieCol`) start a
    * new session; adds `session_idx` (1-based per key). One lag and
    * one running sum over the same key-partitioned window, no
    * self-join. Shared by q43 and the `sessionize` DSL facade. */
  private[graft] def sessionize(df: DataFrame, keyCol: String, tsCol: String,
                                tieCol: String, gapUs: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    df.withColumn("_prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn("_new_sess",
        when(col("_prev_ts").isNull ||
          (expr(s"unix_micros($tsCol)") - expr("unix_micros(_prev_ts)")) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("_new_sess")).over(w))
      .drop("_prev_ts", "_new_sess")
  }

  /** q47: histogram bins per group. */
  private[graft] val SketchBins = 256

  /** q47's mergeable cells from any slice of (event_type, x) rows,
    * GIVEN frozen per-type bounds: (event_type, bucket) counts.
    * Cells from different slices merge by summing — the property the
    * live monitor's store depends on. */
  private[graft] def histCells(ev: DataFrame, stats: DataFrame): DataFrame =
    ev.join(broadcast(stats), "event_type")
      .select(col("event_type"),
        when(col("vmax") <= col("vmin"), lit(0L)).otherwise(
          least(floor((col("x") - col("vmin")) / (col("vmax") - col("vmin"))
            * SketchBins).cast("long"), lit(SketchBins - 1L))).as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("bn"))

  /** One live-monitor step: fold a micro-batch's cells into the
    * durable store — at most types×256 rows forever. */
  private[graft] def histCellsStep(store: DataFrame, batch: DataFrame,
                                   stats: DataFrame): DataFrame =
    store.unionByName(histCells(batch, stats))
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("bn")).as("bn"))

  /** q47's decision layer — Tukey outer fences from the cells alone
    * (shared verbatim by the batch query and the live monitor): the
    * q25/q75 crossing bins read by the relational rule, linear
    * interpolation inside the bin, fences at ±3·IQR. The window
    * partitions by event_type over ≤256-row frames. */
  private[graft] def fencesFromCells(cells: DataFrame, stats: DataFrame): DataFrame = {
    val wc = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
    val cum = cells.withColumn("cum_before", sum(col("bn")).over(wc) - col("bn"))
    cum.join(broadcast(stats), "event_type")
      .withColumn("w", (col("vmax") - col("vmin")) / lit(SketchBins.toDouble))
      .select(col("event_type"), col("bucket"), col("bn"), col("cum_before"),
        col("n"), col("vmin"), col("w"),
        explode(array(lit(0.25), lit(0.75))).as("p"))
      .withColumn("r", col("p") * col("n").cast("double"))
      .filter(col("cum_before").cast("double") < col("r") &&
        (col("cum_before") + col("bn")).cast("double") >= col("r"))
      .groupBy(col("event_type"), col("p"))
      .agg(min(col("vmin") + (col("bucket").cast("double") +
        (col("r") - col("cum_before").cast("double")) / col("bn").cast("double"))
        * col("w")).as("est"))
      .groupBy(col("event_type"))
      .agg(max(when(col("p") === 0.25, col("est"))).as("q25"),
        max(when(col("p") === 0.75, col("est"))).as("q75"))
      .withColumn("lo", col("q25") - (col("q75") - col("q25")) * 3)
      .withColumn("hi", col("q75") + (col("q75") - col("q25")) * 3)
  }

  def oracle: Map[String, String] = Map(
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  sum(l_quantity) AS sum_qty,
         |  sum(l_extendedprice) AS sum_base_price,
         |  sum(l_extendedprice * (1.0 - l_discount)) AS sum_disc_price,
         |  sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)) AS sum_charge,
         |  avg(l_quantity) AS avg_qty,
         |  avg(l_extendedprice) AS avg_price,
         |  avg(l_discount) AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '$ShipCut'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_filter_project" ->
      """SELECT l_orderkey, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity > 45.0 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_extendedprice""".stripMargin,

    "q3_join_agg" ->
      """SELECT l_orderkey, o_orderdate::DATE AS o_date,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q4_broadcast_join" ->
      """SELECT p_type,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_type
        |ORDER BY p_type""".stripMargin,

    "q5_multi_join" ->
      """SELECT n_name,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q6_selective_agg" ->
      """SELECT sum(l_extendedprice * l_discount) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24.0""".stripMargin,

    "q7_topk" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) AS revenue
        |FROM lineitem
        |ORDER BY revenue DESC, l_orderkey, l_linenumber
        |LIMIT 15""".stripMargin,

    "q8_window_rank" ->
      """SELECT s_nationkey, s_suppkey, s_name, s_acctbal, rk FROM (
        |  SELECT s_nationkey, s_suppkey, s_name, s_acctbal,
        |    rank() OVER (PARTITION BY s_nationkey
        |                 ORDER BY s_acctbal DESC, s_suppkey) AS rk
        |  FROM supplier) t
        |WHERE rk <= 3
        |ORDER BY s_nationkey, rk, s_suppkey""".stripMargin,

    "q9_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_spend
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q10_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q11_anti_join" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q12_distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q13_rollup" ->
      """SELECT
        |  coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  sum(l_quantity) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,

    "q14_case_agg" ->
      """SELECT
        |  sum(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) * 100.0 /
        |  sum(l_extendedprice * (1.0 - l_discount)) AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,

    "q15_string_funcs" ->
      """SELECT p_partkey,
        |  upper(p_name) AS uname,
        |  substring(p_name, 1, 5) AS prefix,
        |  CAST(regexp_extract(p_brand, '#(\d+)', 1) AS INTEGER) AS brand_num,
        |  CAST(length(p_name) AS INTEGER) AS name_len
        |FROM part
        |WHERE p_name LIKE '%widget%'
        |ORDER BY p_partkey""".stripMargin,

    "q16_date_funcs" ->
      """SELECT date_trunc('month', o_orderdate)::DATE AS month,
        |  CAST(extract(year FROM o_orderdate) AS INTEGER) AS yr,
        |  CAST(extract(month FROM o_orderdate) AS INTEGER) AS mth,
        |  count(*) AS n_orders,
        |  sum(o_totalprice) AS total
        |FROM orders
        |GROUP BY 1, 2, 3
        |ORDER BY month""".stripMargin,

    "q17_subquery_agg" ->
      """SELECT sum(l_extendedprice) / 7.0 AS avg_yearly,
        |  count(*) AS n_rows
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN (SELECT l_partkey AS ap_partkey, avg(l_quantity) * 0.5 AS half_avg_qty
        |      FROM lineitem GROUP BY l_partkey) a ON l_partkey = ap_partkey
        |WHERE p_brand = 'Brand#13' AND l_quantity < half_avg_qty""".stripMargin,

    "q18_having" ->
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate::DATE AS o_date,
        |  o_totalprice, sum_qty
        |FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING sum(l_quantity) > 150.0) b
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20""".stripMargin,

    "q19_union_all" ->
      """SELECT bucket, count(*) AS n_rows, sum(l_extendedprice) AS total_price
        |FROM (
        |  SELECT l_orderkey, l_extendedprice, 'hi_qty' AS bucket
        |  FROM lineitem WHERE l_quantity >= 48.0
        |  UNION ALL
        |  SELECT l_orderkey, l_extendedprice, 'hi_disc' AS bucket
        |  FROM lineitem WHERE l_discount >= 0.09) u
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,

    "q20_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q21_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS p50,
        |  quantile_cont(l_extendedprice, 0.9) AS p90,
        |  quantile_cont(l_extendedprice, 0.99) AS p99,
        |  min(l_extendedprice) AS pmin,
        |  max(l_extendedprice) AS pmax
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q22_histogram" ->
      """SELECT CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bucket,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,

    "q23_asof_join" ->
      """SELECT p.event_id, p.user_id,
        |  epoch_us(p.ts) AS ts_us,
        |  epoch_us(c.ts) AS prev_click_us,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
        |           WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,

    "q24_range_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
        |      WHERE event_type = 'click') c
        |JOIN (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
        |      WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND epoch_us(p.ts) > epoch_us(c.ts)
        | AND epoch_us(p.ts) <= epoch_us(c.ts) + 300000000
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin,

    "q25_cube" ->
      """SELECT
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n_orders,
        |  sum(o_totalprice) AS sum_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q26_stats_agg" ->
      """SELECT l_returnflag,
        |  corr(l_quantity, l_extendedprice) AS qty_price_corr,
        |  covar_samp(l_quantity, l_extendedprice) AS qty_price_covar,
        |  stddev_samp(l_extendedprice) AS price_stddev,
        |  var_samp(l_quantity) AS qty_var,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q27_lag_lead" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price
        |FROM orders
        |WHERE o_custkey % 100 = 0
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q28_ntile" ->
      """WITH q AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    ntile(4) OVER (PARTITION BY o_orderpriority
        |                   ORDER BY o_totalprice, o_orderkey) AS quartile
        |  FROM orders)
        |SELECT o_orderpriority, CAST(quartile AS INTEGER) AS quartile,
        |  count(*) AS n_orders,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price
        |FROM q
        |GROUP BY 1, 2
        |ORDER BY o_orderpriority, quartile""".stripMargin,

    "q29_string_agg" ->
      """SELECT n_name,
        |  count(*) AS n_suppliers,
        |  string_agg(s_name, ',' ORDER BY s_name) AS roster
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q30_hll_cardinality" -> HllSql,

    "q42_retention_cohorts" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('week', ts::TIMESTAMP) AS week FROM events),
        |firstw AS (SELECT user_id, min(week) AS cohort FROM ev GROUP BY user_id),
        |sizes AS (SELECT cohort, count(*)::BIGINT AS cohort_size
        |  FROM firstw GROUP BY cohort),
        |active AS (SELECT DISTINCT user_id, week FROM ev),
        |ret AS (
        |  SELECT f.cohort, datediff('day', f.cohort, a.week) // 7 AS age_weeks,
        |    count(DISTINCT a.user_id) AS n_active
        |  FROM active a JOIN firstw f ON a.user_id = f.user_id
        |  GROUP BY 1, 2)
        |SELECT strftime(r.cohort, '%Y-%m-%d') AS cohort,
        |  CAST(age_weeks AS BIGINT) AS age_weeks,
        |  s.cohort_size,
        |  CAST(n_active AS BIGINT) AS n_active,
        |  round(n_active::DOUBLE / s.cohort_size, 6) AS retention
        |FROM ret r JOIN sizes s ON r.cohort = s.cohort
        |ORDER BY cohort, age_weeks""".stripMargin,

    "q43_sessionize" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, value, ts::TIMESTAMP AS ts FROM events),
        |lagd AS (
        |  SELECT user_id, event_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM ev),
        |flags AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM lagd),
        |sess AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS session_idx
        |  FROM flags)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  count(*)::BIGINT AS n_events,
        |  CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT) AS duration_us,
        |  round(sum(value), 6) AS session_value
        |FROM sess GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    "q44_event_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
        |su AS (
        |  SELECT user_id, min(ts) AS t_signup FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |vw AS (
        |  SELECT e.user_id, min(e.ts) AS t_view
        |  FROM ev e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'view'
        |    AND epoch_us(e.ts) > epoch_us(su.t_signup)
        |    AND epoch_us(e.ts) <= epoch_us(su.t_signup) + 3600000000
        |  GROUP BY e.user_id),
        |pu AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM ev e JOIN vw ON e.user_id = vw.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(e.ts) > epoch_us(vw.t_view)
        |    AND epoch_us(e.ts) <= epoch_us(vw.t_view) + 3600000000
        |  GROUP BY e.user_id)
        |SELECT
        |  (SELECT count(*) FROM su)::BIGINT AS n_signup,
        |  (SELECT count(*) FROM vw)::BIGINT AS n_view_1h,
        |  (SELECT count(*) FROM pu)::BIGINT AS n_purchase_1h,
        |  round((SELECT count(*) FROM vw)::DOUBLE / (SELECT count(*) FROM su), 6) AS conv_view,
        |  round((SELECT count(*) FROM pu)::DOUBLE / (SELECT count(*) FROM vw), 6) AS conv_purchase""".stripMargin,

    "q45_quantile_sketch" ->
      """WITH v AS (SELECT l_extendedprice::DOUBLE AS x FROM lineitem),
        |s AS (SELECT count(*)::BIGINT AS n, min(x) AS vmin, max(x) AS vmax FROM v),
        |h AS (
        |  SELECT least(CAST(floor((x - vmin) / (vmax - vmin) * 256) AS BIGINT),
        |           255) AS bucket,
        |    count(*)::BIGINT AS bn
        |  FROM v, s GROUP BY 1),
        |c AS (
        |  SELECT bucket, bn,
        |    (sum(bn) OVER (ORDER BY bucket) - bn)::BIGINT AS cum_before
        |  FROM h),
        |p AS (SELECT unnest([0.5, 0.9, 0.99]) AS p),
        |e AS (
        |  SELECT p.p,
        |    min(s.vmin + (c.bucket::DOUBLE +
        |      (p.p * s.n::DOUBLE - c.cum_before::DOUBLE) / c.bn::DOUBLE)
        |      * ((s.vmax - s.vmin) / 256.0)) AS est
        |  FROM p, c, s
        |  WHERE c.cum_before::DOUBLE < p.p * s.n::DOUBLE
        |    AND (c.cum_before + c.bn)::DOUBLE >= p.p * s.n::DOUBLE
        |  GROUP BY p.p),
        |x AS (
        |  SELECT unnest([0.5, 0.9, 0.99]) AS p,
        |    unnest([quantile_cont(x, 0.5), quantile_cont(x, 0.9),
        |            quantile_cont(x, 0.99)]) AS exact
        |  FROM v)
        |SELECT e.p, round(e.est, 6) AS est, round(x.exact, 6) AS exact,
        |  round(abs(e.est - x.exact), 6) AS abs_err,
        |  round(abs(e.est - x.exact) / (s.vmax - s.vmin), 6) AS range_err,
        |  abs(e.est - x.exact) <= 2.0 * ((s.vmax - s.vmin) / 256.0) AS within_tol
        |FROM e JOIN x USING (p), s
        |ORDER BY e.p""".stripMargin,

    "q41_sketch_error" ->
      s"""WITH est AS ($HllSql),
         |exact AS (
         |  SELECT l_returnflag,
         |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT e.l_returnflag,
         |  round(est_distinct, 6) AS est_distinct,
         |  exact_distinct,
         |  round(abs(est_distinct - exact_distinct::DOUBLE) / exact_distinct, 6) AS rel_err
         |FROM est e JOIN exact x ON e.l_returnflag = x.l_returnflag
         |ORDER BY e.l_returnflag""".stripMargin,

    "q33_grouping_sets" ->
      """SELECT
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
        |  count(*) AS n_orders,
        |  sum(o_totalprice) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin,

    "q34_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(date_diff('day', DATE '1992-01-01', o_orderdate::DATE) AS BIGINT) AS d,
        |  sum(o_totalprice) OVER w AS trail_sum,
        |  count(*) OVER w AS trail_cnt
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY date_diff('day', DATE '1992-01-01', o_orderdate::DATE)
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, d, o_orderkey""".stripMargin,

    "q35_set_ops" ->
      """WITH urgent AS (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |big AS (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 450000.0)
        |SELECT 'both' AS pop, o_custkey FROM (
        |  SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM big)
        |UNION ALL
        |SELECT 'urgent_only' AS pop, o_custkey FROM (
        |  SELECT o_custkey FROM urgent EXCEPT SELECT o_custkey FROM big)
        |UNION ALL
        |SELECT 'big_only' AS pop, o_custkey FROM (
        |  SELECT o_custkey FROM big EXCEPT SELECT o_custkey FROM urgent)
        |ORDER BY pop, o_custkey""".stripMargin,

    // Same calendar fill, same z-normalization (population sd over
    // the dense vector), same squared-Euclidean ranking with the
    // (user_id) tiebreak; list_dot_product folds left-to-right like
    // Vec.dot.
    "q48_series_topk" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('day', ts::TIMESTAMP) AS day FROM events),
        |span AS (
        |  SELECT min(day) AS d0, date_diff('day', min(day), max(day)) + 1 AS nd
        |  FROM ev),
        |counts AS (
        |  SELECT e.user_id, date_diff('day', s.d0, e.day) AS idx,
        |    count(*)::BIGINT AS n
        |  FROM ev e, span s GROUP BY 1, 2),
        |cal AS (SELECT unnest(generate_series(0, (SELECT nd FROM span) - 1)) AS idx),
        |users AS (SELECT DISTINCT user_id FROM counts),
        |dense AS (
        |  SELECT u.user_id, c.idx, coalesce(k.n, 0)::DOUBLE AS x
        |  FROM users u CROSS JOIN cal c
        |  LEFT JOIN counts k ON k.user_id = u.user_id AND k.idx = c.idx),
        |vs AS (
        |  SELECT user_id, list(x ORDER BY idx) AS v FROM dense GROUP BY user_id),
        |zs AS (
        |  SELECT user_id, v,
        |    list_sum(v) / len(v) AS mu,
        |    sqrt(list_sum(list_transform(v, x -> x * x)) / len(v)
        |      - (list_sum(v) / len(v)) * (list_sum(v) / len(v))) AS sd
        |  FROM vs),
        |zv AS (
        |  SELECT user_id,
        |    list_transform(v, x -> (x - mu) / sd) AS zv
        |  FROM zs WHERE sd > 0),
        |probes AS (
        |  SELECT user_id AS probe_id, zv AS pv FROM zv
        |  ORDER BY md5('sprobe|' || user_id::VARCHAR), user_id LIMIT 5),
        |scored AS (
        |  SELECT p.probe_id, z.user_id,
        |    list_dot_product(p.pv, p.pv) - 2.0 * list_dot_product(p.pv, z.zv)
        |      + list_dot_product(z.zv, z.zv) AS dist
        |  FROM probes p JOIN zv z ON z.user_id <> p.probe_id)
        |SELECT probe_id, CAST(rnk AS BIGINT) AS rank, user_id,
        |  round(dist, 6) AS dist
        |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
        |    ORDER BY dist, user_id) AS rnk FROM scored) t
        |WHERE rnk <= 3
        |ORDER BY probe_id, rnk""".stripMargin,

    // Per-group bins, the same relational crossing rule as q45, the
    // same fence arithmetic, quantile_cont for the exact audit legs.
    "q47_sketch_outliers" ->
      """WITH ev AS (SELECT event_type, value::DOUBLE AS x FROM events),
        |s AS (
        |  SELECT event_type, count(*)::BIGINT AS n,
        |    min(x) AS vmin, max(x) AS vmax
        |  FROM ev GROUP BY 1),
        |h AS (
        |  SELECT e.event_type,
        |    CASE WHEN s.vmax <= s.vmin THEN 0
        |      ELSE least(CAST(floor((e.x - s.vmin) / (s.vmax - s.vmin) * 256)
        |        AS BIGINT), 255) END AS bucket,
        |    count(*)::BIGINT AS bn
        |  FROM ev e JOIN s USING (event_type) GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, bucket, bn,
        |    (sum(bn) OVER (PARTITION BY event_type ORDER BY bucket) - bn)::BIGINT
        |      AS cum_before
        |  FROM h),
        |p AS (SELECT unnest([0.25, 0.75]) AS p),
        |e AS (
        |  SELECT c.event_type, p.p,
        |    min(s.vmin + (c.bucket::DOUBLE +
        |      (p.p * s.n::DOUBLE - c.cum_before::DOUBLE) / c.bn::DOUBLE)
        |      * ((s.vmax - s.vmin) / 256.0)) AS est
        |  FROM p, c JOIN s USING (event_type)
        |  WHERE c.cum_before::DOUBLE < p.p * s.n::DOUBLE
        |    AND (c.cum_before + c.bn)::DOUBLE >= p.p * s.n::DOUBLE
        |  GROUP BY 1, 2),
        |bands AS (
        |  SELECT event_type,
        |    max(CASE WHEN p = 0.25 THEN est END) AS q25,
        |    max(CASE WHEN p = 0.75 THEN est END) AS q75
        |  FROM e GROUP BY 1),
        |b2 AS (
        |  SELECT event_type, q25, q75,
        |    q25 - (q75 - q25) * 3 AS lo, q75 + (q75 - q25) * 3 AS hi
        |  FROM bands),
        |ex AS (
        |  SELECT event_type,
        |    quantile_cont(x, 0.25) AS e25, quantile_cont(x, 0.75) AS e75
        |  FROM ev GROUP BY 1),
        |x2 AS (
        |  SELECT event_type,
        |    e25 - (e75 - e25) * 3 AS xlo, e75 + (e75 - e25) * 3 AS xhi
        |  FROM ex)
        |SELECT e.event_type, count(*)::BIGINT AS n,
        |  round(max(b.q25), 6) AS q25_est, round(max(b.q75), 6) AS q75_est,
        |  round(max(b.lo), 6) AS lo, round(max(b.hi), 6) AS hi,
        |  CAST(sum(CASE WHEN e.x < b.lo OR e.x > b.hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_out_est,
        |  CAST(sum(CASE WHEN e.x < x.xlo OR e.x > x.xhi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_out_exact,
        |  CAST(sum(CASE WHEN (e.x < b.lo OR e.x > b.hi)
        |    <> (e.x < x.xlo OR e.x > x.xhi) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_disagree
        |FROM ev e JOIN b2 b USING (event_type) JOIN x2 x USING (event_type)
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin,

    // Same exact-median semantics (quantile_cont interpolation) on
    // both engines; null rz rows (MAD = 0 groups) count as
    // non-outliers on both.
    "q46_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY event_type),
        |mad AS (
        |  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |  FROM events e JOIN med m USING (event_type)
        |  GROUP BY e.event_type),
        |z AS (
        |  SELECT e.event_type, m.med, d.mad,
        |    CASE WHEN d.mad > 0
        |      THEN 0.6745 * abs(e.value - m.med) / d.mad END AS rz
        |  FROM events e JOIN med m USING (event_type)
        |  JOIN mad d USING (event_type))
        |SELECT event_type, count(*) AS n,
        |  round(max(med), 6) AS med, round(max(mad), 6) AS mad,
        |  CAST(sum(CASE WHEN rz > 3.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(avg(CASE WHEN rz > 3.5 THEN 1.0 ELSE 0.0 END), 6) AS outlier_frac,
        |  round(max(rz), 6) AS max_rz
        |FROM z GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q36_winsorize" ->
      """WITH bands AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.05) AS p05,
        |    quantile_cont(value, 0.95) AS p95
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, count(*) AS n,
        |  avg(value) AS avg_raw,
        |  avg(least(greatest(value, p05), p95)) AS avg_winsorized,
        |  CAST(sum(CASE WHEN value < p05 OR value > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
        |FROM events e JOIN bands USING (event_type)
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin,

    "q31_skew_join" ->
      """SELECT c_mktsegment, count(*) AS n_rows, sum(value) AS sum_value
        |FROM (SELECT CASE WHEN user_id % 10 < 3 THEN 0
        |             ELSE user_id % 100 END AS k, value
        |      FROM events) e
        |JOIN (SELECT c_custkey AS k, c_mktsegment FROM customer
        |      WHERE c_custkey < 100) c USING (k)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q40_skew_audit" ->
      """WITH per_key AS (
        |  SELECT CASE WHEN user_id % 10 < 3 THEN 0
        |         ELSE user_id % 100 END AS k, count(*)::BIGINT AS n_rows
        |  FROM events GROUP BY 1),
        |stats AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total,
        |  count(*)::BIGINT AS n_keys FROM per_key)
        |SELECT k, n_rows,
        |  round(n_rows::DOUBLE / total, 6) AS share,
        |  round(n_rows::DOUBLE / (total::DOUBLE / n_keys), 6) AS skew,
        |  CAST(ceil(n_rows::DOUBLE / (total::DOUBLE / n_keys)) AS BIGINT) AS rec_salt
        |FROM per_key, stats
        |WHERE n_rows::DOUBLE / (total::DOUBLE / n_keys) > 4.0
        |ORDER BY n_rows DESC, k""".stripMargin,

    "q32_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  avg(k) AS avg_k,
        |  CAST(min(k) AS BIGINT) AS min_k,
        |  CAST(max(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events) e
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q37_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey AS key, o_totalprice AS price FROM orders),
        |changes AS (
        |  SELECT key, price + 1000.0 AS new_price, 'U' AS op
        |  FROM base WHERE key % 50 = 0 AND key % 97 <> 0
        |  UNION ALL
        |  SELECT key, NULL::DOUBLE, 'D' FROM base WHERE key % 97 = 0
        |  UNION ALL
        |  SELECT key + (SELECT max(key) FROM base) + 1, price * 0.5, 'I'
        |  FROM base WHERE key % 500 = 0),
        |m AS (
        |  SELECT coalesce(b.key, c.key) AS key, b.price, c.new_price, c.op,
        |    CASE WHEN c.op = 'D' THEN 'delete'
        |         WHEN c.op = 'U' THEN 'update'
        |         WHEN c.op = 'I' THEN 'insert'
        |         ELSE 'unchanged' END AS action
        |  FROM base b FULL OUTER JOIN changes c ON b.key = c.key)
        |SELECT action, count(*)::BIGINT AS n,
        |  round(sum(CASE WHEN action = 'delete' THEN NULL
        |    WHEN action = 'unchanged' THEN price
        |    ELSE new_price END), 2) AS total_price
        |FROM m GROUP BY action
        |ORDER BY action""".stripMargin,

    "q38_gap_fill" ->
      """WITH sparse AS (
        |  SELECT date_trunc('month', o_orderdate) AS month, o_totalprice
        |  FROM orders WHERE o_orderkey % 499 = 0),
        |monthly AS (
        |  SELECT month, count(*)::BIGINT AS n_orders,
        |    round(avg(o_totalprice), 6) AS avg_price
        |  FROM sparse GROUP BY month),
        |b AS (SELECT min(month) AS lo, max(month) AS hi FROM sparse),
        |cal AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month FROM b)
        |SELECT strftime(cal.month, '%Y-%m') AS month,
        |  coalesce(m.n_orders, 0) AS n_orders,
        |  m.avg_price,
        |  last_value(m.avg_price IGNORE NULLS) OVER (ORDER BY cal.month
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_avg_price
        |FROM cal LEFT JOIN monthly m ON cal.month = m.month
        |ORDER BY month""".stripMargin,

    "q39_scd2_join" ->
      """WITH v AS (
        |  SELECT c_custkey AS custkey, k,
        |    TIMESTAMP '1992-01-01' + (k * 800) * INTERVAL 1 DAY AS valid_from,
        |    (c_custkey * 7 + k) % 5 AS seg
        |  FROM customer, unnest(generate_series(0, 2)) AS t(k)),
        |v2 AS (
        |  SELECT custkey, seg, valid_from,
        |    lead(valid_from, 1, TIMESTAMP '9999-01-01')
        |      OVER (PARTITION BY custkey ORDER BY valid_from) AS valid_to
        |  FROM v)
        |SELECT CAST(seg AS BIGINT) AS seg,
        |  count(*)::BIGINT AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders o JOIN v2
        |  ON o.o_custkey = v2.custkey
        | AND o.o_orderdate >= v2.valid_from
        | AND o.o_orderdate < v2.valid_to
        |GROUP BY seg
        |ORDER BY seg""".stripMargin
  )
}
