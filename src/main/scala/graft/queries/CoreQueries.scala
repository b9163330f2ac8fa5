package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.operators.Storage

/** Relational core: scans, filters, joins (inner/outer/semi/anti),
  * aggregations, grouping sets, window functions, sorts/top-k, set
  * ops, string/date/math/JSON functions — the full SURVEY.md §2.2
  * category checklist over the TPC-H-ish testdata.
  *
  * Determinism policy (drives DuckDB hash-parity):
  *  - money aggregations sum exact DECIMALs and cast to DOUBLE at the
  *    end — no float accumulation-order sensitivity anywhere;
  *  - averages are (exact decimal sum → double) / count, one double
  *    division;
  *  - every query has a total deterministic ordering key set (the
  *    driver sorts, but ranks/limits must be tie-free);
  *  - timestamps are emitted as formatted strings (parquet ns vs µs
  *    physical types would otherwise diverge between engines).
  */
object CoreQueries {

  /** Exact decimal sum rendered as double: deterministic in both
    * engines regardless of partitioning / merge order. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(12, 2))).cast("double")
  private def dsumHi(c: Column): Column = sum(c).cast("double") // for already-decimal exprs
  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  // er_candidates' oracle, shared by er_resolve as its pair CTE: an
  // independent self-join formulation of the blocked comparison
  private lazy val erPairsSql: String =
    """SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
         CAST(levenshtein(a.c_name, b.c_name) AS INT) AS name_dist
       FROM customer a JOIN customer b
         ON a.c_nationkey = b.c_nationkey
        AND a.c_mktsegment = b.c_mktsegment
        AND a.c_custkey < b.c_custkey
       WHERE levenshtein(a.c_name, b.c_name) <= 2"""

  private lazy val erMultiPairsSql: String =
    """SELECT a_id, b_id, score FROM (
         SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
                CAST(3 * (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2
                          THEN 1 ELSE 0 END)
                   + 2 * (CASE WHEN a.c_mktsegment = b.c_mktsegment
                          THEN 1 ELSE 0 END)
                   + 1 * (CASE WHEN abs(a.c_acctbal - b.c_acctbal) <= 100.0
                          THEN 1 ELSE 0 END) AS INT) AS score
         FROM customer a JOIN customer b
           ON a.c_nationkey = b.c_nationkey
          AND a.c_custkey < b.c_custkey)
       WHERE score >= 4"""

  private lazy val erMultiFinePairsSql: String =
    """SELECT a_id, b_id, score FROM (
         SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
                CAST(3 * (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2
                          THEN 1 ELSE 0 END)
                   + 2 * (CASE WHEN abs(a.c_acctbal - b.c_acctbal) <= 10.0
                          THEN 1 ELSE 0 END)
                   + 1 * (CASE WHEN abs(a.c_acctbal - b.c_acctbal) <= 100.0
                          THEN 1 ELSE 0 END) AS INT) AS score
         FROM customer a JOIN customer b
           ON a.c_nationkey = b.c_nationkey
          AND a.c_mktsegment = b.c_mktsegment
          AND a.c_custkey < b.c_custkey)
       WHERE score >= 4"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- aggregation ---------------------------------------------------
    "q1_agg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsumHi(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(12, 2)) - dec(col("l_discount")))).as("sum_disc_price"),
          dsumHi(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(12, 2)) - dec(col("l_discount")))
            * (lit(1).cast(DecimalType(12, 2)) + dec(col("l_tax")))).as("sum_charge"),
          (sum(col("l_quantity").cast(DecimalType(12, 2))).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(col("l_extendedprice").cast(DecimalType(12, 2))).cast("double") / count(lit(1))).as("avg_price"),
          (sum(col("l_discount").cast(DecimalType(12, 2))).cast("double") / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    "q_agg_stats" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("o_custkey")).as("n_custs"),
          min("o_totalprice").as("min_price"),
          max("o_totalprice").as("max_price"),
          dsum(col("o_totalprice")).as("sum_price"),
          (sum(col("o_totalprice").cast(DecimalType(12, 2))).cast("double") / count(lit(1))).as("avg_price"))),

    // Two-phase (see q_cube): Expand runs over the |G|-row
    // pre-aggregate, not the input — the rollup's 3 grouping sets
    // no longer triple the shuffle volume.
    "q_rollup" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n0"),
          sum(col("o_totalprice").cast(DecimalType(12, 2))).as("p0"))
      base.rollup("o_orderstatus", "o_orderpriority")
        // coalesce: on EMPTY input the pre-aggregate emits zero rows,
        // so phase 2's grand-total row would get n = sum() = NULL
        // where single-phase count(*) = 0 (sum_price is NULL either
        // way). No-op on non-empty input.
        .agg(coalesce(sum(col("n0")), lit(0L)).as("n"),
          sum(col("p0")).cast("double").as("sum_price"))
    }),

    // Two-phase cube: pre-aggregate on the FULL group key, then cube
    // the pre-aggregate. A direct `.cube` Expands every input row
    // 2^k-fold BEFORE partial aggregation — at 100 TB that's 4× the
    // scan volume flowing into the shuffle; here Expand runs over the
    // ~|G| pre-aggregated rows instead. Exact for decomposable aggs
    // (count re-sums, DECIMAL sums are associative), and null group
    // keys survive: phase 1 keeps a data-null as its own group, so
    // phase 2's cube produces the same data-null vs generated-null
    // rows a single-phase cube would.
    "q_cube" -> ((s, d) => {
      val base = Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n0"),
          sum(col("l_quantity").cast(DecimalType(12, 2))).as("q0"))
      base.cube("l_returnflag", "l_linestatus")
        // coalesce: empty-input grand-total row (see q_rollup)
        .agg(coalesce(sum(col("n0")), lit(0L)).as("n"),
          sum(col("q0")).cast("double").as("sum_qty"))
    }),

    // predicate aggregates + deterministic argmax/argmin: the ordering
    // key is exact integer cents*1e10 + orderkey, so price ties cannot
    // make the pick engine-dependent (and no float ever orders it) —
    // DuckDB's arg_max takes the same scalar key (it rejects STRUCT
    // keys, which is why this is a composite integer, not a struct).
    // DOMAIN BOUND: the packing is tie-free only while o_orderkey <
    // 1e10; TPC-H orderkeys reach 4·6e6·SF, so the formula is valid to
    // SF ≈ 400 and would silently bleed across 1-cent buckets beyond
    // that — at which point widen both engines to a DECIMAL(38) key
    // (a bigger bigint multiplier overflows ANSI bigint already at
    // TPC-H prices).
    "q_agg_predicates" -> ((s, d) => {
      val ordKey = (col("o_totalprice").cast(DecimalType(12, 2)) * 100).cast("long") *
        lit(10000000000L) + col("o_orderkey")
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          count_if(col("o_totalprice") > 200000).as("n_big"),
          bool_and(col("o_totalprice") > 900).as("all_above_min"),
          bool_or(col("o_orderpriority") === "1-URGENT").as("any_urgent"),
          max_by(col("o_orderkey"), ordKey).as("priciest_order"),
          min_by(col("o_orderkey"), ordKey).as("cheapest_order"))
    }),

    // explicit GROUPING SETS (the general form rollup/cube desugar
    // into) with grouping_id to disambiguate aggregated-away columns
    // from genuine NULL groups
    // Two-phase like q_cube/q_rollup — the gid is computed by phase
    // 2's groupingSets over the pre-aggregate, so aggregated-away vs
    // genuine-NULL disambiguation is unchanged.
    "q_grouping_sets" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n0"),
          sum(col("o_totalprice").cast(DecimalType(12, 2))).as("p0"))
      base.groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping_id().cast("int").as("gid"),
          // coalesce: empty-input grand-total row (see q_rollup)
          coalesce(sum(col("n0")), lit(0L)).as("n"),
          sum(col("p0")).cast("double").as("sum_price"))
    }),

    // data profiling: per-column null/distinct/range stats in ONE scan
    // (a single wide aggregation row, unpivoted in-row to per-column
    // rows) — the ops tool you point at an unfamiliar 100 TB table
    // before writing queries against it
    "q_profile" -> ((s, d) => {
      val agg = Tables.lineitem(s, d).agg(
        count(lit(1)).as("n"),
        sum(when(col("l_quantity").isNull, 1).otherwise(0)).as("qty_null"),
        countDistinct(col("l_quantity")).as("qty_distinct"),
        min(col("l_quantity")).as("qty_min"),
        max(col("l_quantity")).as("qty_max"),
        sum(when(col("l_returnflag").isNull, 1).otherwise(0)).as("rf_null"),
        countDistinct(col("l_returnflag")).as("rf_distinct"),
        sum(when(col("l_shipdate").isNull, 1).otherwise(0)).as("sd_null"),
        countDistinct(col("l_shipdate")).as("sd_distinct"))
      val nullD = lit(null).cast("double")
      agg.select(explode(array(
        struct(lit("l_quantity").as("column"), col("n"),
          col("qty_null").as("n_null"), col("qty_distinct").as("n_distinct"),
          col("qty_min").as("min_num"), col("qty_max").as("max_num")),
        struct(lit("l_returnflag").as("column"), col("n"),
          col("rf_null").as("n_null"), col("rf_distinct").as("n_distinct"),
          nullD.as("min_num"), nullD.as("max_num")),
        struct(lit("l_shipdate").as("column"), col("n"),
          col("sd_null").as("n_null"), col("sd_distinct").as("n_distinct"),
          nullD.as("min_num"), nullD.as("max_num")))).as("p"))
        .select("p.*")
    }),

    "q_percentile" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          expr("percentile(o_totalprice, 0.5)").as("median_price"),
          expr("percentile(o_totalprice, 0.9)").as("p90_price"))),

    // -- custom typed aggregators (Aggregator[IN,BUF,OUT] via udaf) ----
    "q_geomean" -> ((s, d) => {
      val gm = udaf(graft.functions.Aggregators.GeoMean, Encoders.scalaDouble)
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(round(gm(col("o_totalprice")), 2).as("geomean_price"))
    }),

    "q_histogram" -> ((s, d) => {
      val hist = udaf(
        new graft.functions.Aggregators.Histogram(0.0, 50000.0, 10),
        Encoders.scalaDouble)
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(hist(col("o_totalprice")).as("h"))
        .select(col("o_orderstatus"), posexplode(col("h")))
        .toDF("o_orderstatus", "bin", "n")
    }),

    // -- filters / projection (pushdown-friendly single scan) ----------
    "q_filter_project" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-02-01").cast("timestamp") &&
          col("l_quantity") > 45)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))),

    "q_notnull_filter" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("props").isNotNull && col("value").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))),

    // -- joins ----------------------------------------------------------
    "q3_topk_join" -> ((s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(dsumHi(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(12, 2)) - dec(col("l_discount")))).as("revenue"))
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // TPC-H Q5 shape: six-table star-plus-fact join with the classic
    // local-supplier condition — the join-reordering / broadcast-mix
    // workout. Dims broadcast; the orders⋈lineitem spine shuffles on
    // the order key only.
    "q5_local_supplier" -> ((s, d) => {
      val r = broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA"))
      val n = broadcast(Tables.nation(s, d))
      val sup = broadcast(Tables.supplier(s, d))
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey") &&
          c("c_nationkey") === sup("s_nationkey"))
        .join(n, sup("s_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsumHi(dec(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(12, 2)) - dec(col("l_discount")))).as("revenue"))
    }),

    "q_join_multiway" -> ((s, d) => {
      // customer → nation → region star join: dims broadcast
      val c = Tables.customer(s, d)
      val n = broadcast(Tables.nation(s, d))
      val r = broadcast(Tables.region(s, d))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_bal"))
    }),

    "q_semi_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_totalprice") > 100000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }),

    // runtime-filter shape: a 2 KB Bloom filter broadcast over the
    // probe side drops non-matching rows BEFORE the exact semi join's
    // shuffle — no false negatives, so the result is identical to the
    // plain semi join (the oracle). At 100 TB this is the difference
    // between shuffling the fact table and shuffling its survivors.
    "q_bloom_semi_join" -> ((s, d) =>
      graft.operators.Bloom.semiJoinPrefiltered(
          Tables.customer(s, d).select("c_custkey", "c_name"), "c_custkey",
          Tables.orders(s, d).where(col("o_orderpriority") === "1-URGENT"),
          "o_custkey", words = 256, k = 3)
        .select("c_custkey", "c_name")),

    "q_anti_join" -> ((s, d) => {
      // right side restricted (urgent + big) so the anti set is
      // non-empty at every SF — an unfiltered right side matches every
      // customer and the pass would be vacuous (empty ≡ empty)
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 100000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),

    "q_outer_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(dsum(col("o_totalprice")), lit(0.0)).as("sum_price"))
    }),

    "q_null_safe_join" -> ((s, d) => {
      // <=> (null-safe equality): null keys match null keys — the
      // semantics plain equality silently drops
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), nullif(col("c_nationkey"), lit(3)).as("nk"))
      val n = Tables.nation(s, d)
        .select(nullif(col("n_nationkey"), lit(3)).as("nnk"), col("n_name"))
      c.join(n, col("nk") <=> col("nnk"))
        .groupBy(coalesce(col("n_name"), lit("<null-key>")).as("nation"))
        .agg(count(lit(1)).as("n"))
    }),

    "q_collect_sorted" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(array_join(
          array_sort(collect_set(col("o_orderpriority"))), ",").as("priorities"))),

    // -- sort / limit / distinct / set ops -------------------------------
    "q_sort_limit" -> ((s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
        .select(col("o_orderkey"), col("o_totalprice"))),

    "q_distinct" -> ((s, d) =>
      Tables.lineitem(s, d).select("l_returnflag", "l_linestatus").distinct()),

    "q_set_ops" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val building = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val rich = c.filter(col("c_acctbal") > 5000).select("c_custkey")
      val machinery = c.filter(col("c_mktsegment") === "MACHINERY").select("c_custkey")
      building.union(rich).distinct().except(machinery)
    }),

    "q_intersect" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val big = o.filter(col("o_totalprice") > 150000).select("o_custkey")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      big.intersect(urgent)
    }),

    "q_bag_ops" -> ((s, d) => {
      // multiset semantics: INTERSECT ALL / EXCEPT ALL keep multiplicity
      val l = Tables.lineitem(s, d)
      val h1 = l.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select("l_returnflag", "l_linestatus")
      val h2 = l.filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
        .select("l_returnflag", "l_linestatus")
      h1.intersectAll(h2)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_common"))
    }),

    "q_except_all" -> ((s, d) => {
      // multiset difference: per-group surplus max(0, c1 - c2)
      val l = Tables.lineitem(s, d)
      val h1 = l.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select("l_returnflag", "l_linestatus")
      val h2 = l.filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
        .select("l_returnflag", "l_linestatus")
      // later-period side first: that is the one with the surplus in
      // this data (the other direction is empty — vacuous for the gate)
      h2.exceptAll(h1)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_extra"))
    }),

    "q_stats_moments" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar"))),

    // -- window functions -------------------------------------------------
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
    }),

    // NTILE bucket assignment — equi-depth quartiles per customer.
    // Bucket-boundary arithmetic (how the remainder rows distribute)
    // is exactly the kind of off-by-one that diverges engines, hence
    // worth an oracled entry; the (date, key) order is tie-free.
    "q_window_ntile" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .where(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"))
    }),

    // IGNORE NULLS navigation — last non-null observation carried
    // forward (the gap-fill idiom). NULL handling inside window
    // frames is a classic cross-engine divergence; the NULLs are
    // injected deterministically (every 3rd line has no comment).
    "q_window_ignore_nulls" -> ((s, d) => {
      val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .where(col("l_orderkey") < 1000)
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_linenumber") % 3 =!= 0, col("l_quantity").cast("double"))
            .as("obs"))
        .withColumn("filled", last(col("obs"), ignoreNulls = true).over(w))
    }),

    "q_window_running" -> ((s, d) => {
      val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 1000)
        .select(col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast(DecimalType(12, 2))).over(w).cast("double").as("running_qty"))
    }),

    "q_window_lag" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          (col("value") - lag(col("value"), 1).over(w)).as("value_delta"))
        .filter(col("value_delta").isNotNull)
    }),

    "q_window_dense" -> ((s, d) => {
      val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      Tables.customer(s, d)
        .select(col("c_mktsegment"), col("c_custkey"),
          dense_rank().over(w).as("dr"),
          ntile(4).over(w).as("quartile"))
        .filter(col("dr") <= 10)
    }),

    "q_window_analytics" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .filter(col("o_custkey") < 50)
        .select(
          col("o_custkey"), col("o_orderkey"),
          lead(col("o_orderkey"), 1).over(w).as("next_order"),
          first_value(col("o_orderkey")).over(w).as("first_order"),
          nth_value(col("o_orderkey"), 2).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("second_order"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
    }),

    // -- gap-and-island sessionization (batch analogue of streaming) -----
    "q_sessions" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      val gapMs = 30 * 60 * 1000L
      Tables.events(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > gapMs, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), max("n_events").as("max_session_events"))
    }),

    // Z-order (Morton) clustering key: interleave the bits of two
    // 10-bit dimensions so rows close in BOTH dimensions land close in
    // the sort order — the data-layout trick behind multi-dimensional
    // file skipping (cluster-by-zvalue ⇒ each file covers a small
    // rectangle, so min/max stats prune on either predicate). The key
    // is pure in-row bit arithmetic (codegen'd, zero shuffle); the
    // query emits per-z-range min/max envelopes — exactly the file
    // statistics a z-ordered writer would produce — showing each
    // range stays tight in both dimensions at once.
    "q_zorder" -> ((s, d) => {
      val custBits = pmod(col("o_custkey"), lit(1024))
      val priceBits = expr("width_bucket(o_totalprice, 0.0, 500000.0, 1022)")
      val z = expr(
        s"""aggregate(sequence(0, 9), 0L, (acc, b) ->
              acc + shiftleft(shiftright(x_dim, b) % 2, 2 * b)
                  + shiftleft(shiftright(y_dim, b) % 2, 2 * b + 1))""")
      Tables.orders(s, d)
        .withColumn("x_dim", custBits)
        .withColumn("y_dim", priceBits)
        .withColumn("zval", z)
        .groupBy((col("zval") / 16384).cast("long").as("z_range"))
        .agg(count(lit(1)).as("n"),
          min("x_dim").as("min_x"), max("x_dim").as("max_x"),
          min("y_dim").as("min_y"), max("y_dim").as("max_y"))
    }),

    // lambda higher-order functions over arrays (exists / forall /
    // filter / aggregate) — the codegen-friendly in-row alternative to
    // exploding and re-aggregating.
    "q_hof" -> ((s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"), split(col("p_name"), " ").as("toks"))
        .select(
          col("p_partkey"),
          exists(col("toks"), t => length(t) > 6).as("has_long"),
          forall(col("toks"), t => length(t) > 2).as("all_gt2"),
          size(filter(col("toks"), t => t.contains("a"))).as("n_with_a"),
          aggregate(col("toks"), lit(0), (acc, t) => acc + length(t))
            .as("total_len"))),

    // equal-width binning (feature discretization): width_bucket with
    // exact bin edges (500000/10 = 50000 — representable), per-bin
    // counts + ranges in one combinable aggregation.
    "q_width_bucket" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(expr("width_bucket(o_totalprice, 0.0, 500000.0, 10)").as("bin"))
        .agg(count(lit(1)).as("n"),
          round(min("o_totalprice"), 2).as("lo"),
          round(max("o_totalprice"), 2).as("hi"))),

    // SCD2 upsert (lakehouse dimension versioning): apply an updates
    // batch to a dimension, closing the previous version (is_current =
    // false) and appending the new one. One equi-join on the key + a
    // union — the merge never touches unchanged rows beyond the join
    // probe, which is the MERGE INTO shape at scale. Updates here are
    // derived deterministically (every 7th customer re-priced) so the
    // whole versioned output is oracle-checkable.
    "q_scd2" -> ((s, d) => {
      val dim = Tables.customer(s, d)
        .select("c_custkey", "c_acctbal", "c_mktsegment")
      val updates = dim.where(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"),
          (col("c_acctbal") + 100.0).as("c_acctbal"),
          lit("UPDATED").as("c_mktsegment"))
      val v1 = dim
        .join(updates.select(col("c_custkey"), lit(true).as("chg")),
          Seq("c_custkey"), "left")
        .select(col("c_custkey"), lit(1).as("version"),
          col("c_acctbal"), col("c_mktsegment"),
          coalesce(!col("chg"), lit(true)).as("is_current"))
      val v2 = updates.select(col("c_custkey"), lit(2).as("version"),
        col("c_acctbal"), col("c_mktsegment"), lit(true).as("is_current"))
      v1.unionByName(v2)
    }),

    // -- event-sequence analytics ----------------------------------------
    // ordered-firsts funnel signup → click → purchase: one combinable
    // aggregation on user_id (conditional min per stage), stage k
    // counts only if its first occurrence strictly follows stage k-1's.
    "events_funnel" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "signup", col("ts"))).as("t1"),
          min(when(col("event_type") === "click", col("ts"))).as("t2"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t3"))
        .agg(
          count(lit(1)).as("n_users"),
          count_if(col("t1").isNotNull).as("n_signup"),
          count_if(col("t1").isNotNull && col("t2") > col("t1")).as("n_signup_click"),
          count_if(col("t1").isNotNull && col("t2") > col("t1") &&
            col("t3") > col("t2")).as("n_full_funnel"))),

    // event-type transition matrix (Markov bigrams): per-user lag over
    // the (ts, event_id) total order, then a count per (from, to) pair
    // — per-user windows are bounded, the final agg is tiny.
    "events_transitions" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
        .where(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
    }),

    // Tukey-fence outlier detection per group: exact quartiles, flag
    // values outside [q1 - 1.5·IQR, q3 + 1.5·IQR]. The 5-row stats
    // frame broadcasts back — the event scan is never shuffled.
    "q_outlier_iqr" -> ((s, d) => {
      val e = Tables.events(s, d)
      val stats = e.groupBy("event_type").agg(
        expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"))
      e.join(broadcast(stats), "event_type")
        .where(col("value") < col("q1") - (col("q3") - col("q1")) * 1.5 ||
          col("value") > col("q3") + (col("q3") - col("q1")) * 1.5)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_outliers"),
          round(min("value"), 6).as("min_outlier"),
          round(max("value"), 6).as("max_outlier"))
    }),

    // PageRank over the symmetrized customer↔supplier purchase graph
    // (an edge per lineitem, both directions; parallel edges = weight).
    // 3 integer-scaled iterations — the whole trajectory is exact, so
    // the oracle unrolls it with the same `//` arithmetic. Top-20 by
    // final rank (tie-free: node_id asc).
    "graph_pagerank" -> ((s, d) => {
      // both directions in ONE pass: a union of two projections of the
      // join would re-run orders⋈lineitem per branch (plan branches
      // share nothing) — the in-row explode emits the symmetric pair
      val edges = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + 10000000000L).as("sp"))
        .select(explode(array(
          struct(col("c").as("src"), col("sp").as("dst")),
          struct(col("sp").as("src"), col("c").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // materialize the 20-row answer and release the |V|-row rank
      // relation the trainer left behind — the query's retained
      // footprint is its result, not the iteration state
      Storage.releasing(graft.operators.Graph.pageRank(edges, iters = 3)) { pr =>
        pr
          .orderBy(col("pr").desc, col("node_id").asc)
          .limit(20)
          .transform(Storage.pin)
      }
    }),

    // triangle counting over the part co-purchase graph (edge = two
    // parts share an order). Engine side uses degree-ordered
    // orientation — wedge volume bounded by Σ outdeg² ≤ E·√E, immune
    // to hub blowup; the oracle brute-forces the x<y<z enumeration,
    // an independent formulation. Top-20 by triangle count, tie-free.
    "graph_triangles" -> ((s, d) => {
      // co-occurrence edges WITHOUT a self-join: group parts per order
      // (one shuffle), expand unordered pairs in-row, distinct. A
      // self-join formulation reads+distincts the (order, part)
      // relation twice (plan branches share nothing) and shuffles the
      // pair multiset besides.
      val und = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(flatten(transform(col("ps"), (a, i) =>
          transform(slice(col("ps"), i + 2, size(col("ps"))),
            b => struct(a.as("a"), b.as("b")))))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .distinct()
      Storage.releasing(graft.operators.Graph.triangleCounts(und)) { tc =>
        tc
          .orderBy(col("n_triangles").desc, col("node_id").asc)
          .limit(20)
          .transform(Storage.pin)
      }
    }),

    // the INCREMENTAL maintenance path proven at the driver's gate on
    // real data, not only in specs: the co-purchase graph (restricted
    // to an eighth of the orders to bound wedge volume) is replayed in two
    // micro-batch-shaped halves through StreamingOps.updateTriangles —
    // the delta decomposition (1-new/2-new/3-new) must land on exactly
    // the counts the batch operator computes, which is what the
    // independent brute-force oracle checks. Top-20, tie-free.
    "graph_triangles_incremental" -> ((s, d) => {
      def pairs(orderMod: Int) = Tables.lineitem(s, d)
        .where(col("l_orderkey") % 16 === orderMod)
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(flatten(transform(col("ps"), (a, i) =>
          transform(slice(col("ps"), i + 2, size(col("ps"))),
            b => struct(a.as("a"), b.as("b")))))).as("e"))
        .select(col("e.a").as("src"), col("e.b").as("dst"))
      val st = graft.streaming.StreamingOps.emptyTriangleState(s)
      graft.streaming.StreamingOps.updateTriangles(st, pairs(0))
      graft.streaming.StreamingOps.updateTriangles(st, pairs(1))
      val out = st.snapshot
        .orderBy(col("n_triangles").desc, col("node_id").asc)
        .limit(20)
        .transform(Storage.pin)
      st.release()
      out
    }),

    // HITS hubs/authorities over the DIRECTED customer→supplier
    // purchase multigraph (purchase multiplicity = weight): customers
    // score as hubs, suppliers as authorities. 3 iterations,
    // max-normalized integer arithmetic; top-20 authorities, tie-free.
    "graph_hits" -> ((s, d) => {
      val edges = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 10000000000L).as("dst"))
      Storage.releasing(graft.operators.Graph.hits(edges, iters = 3)) { h =>
        h
          .orderBy(col("auth").desc, col("node_id").asc)
          .limit(20)
          .transform(Storage.pin)
      }
    }),

    // link-prediction features over the part co-purchase graph:
    // common-neighbor count + integer-exact resource-allocation index
    // per existing edge — the "customers also bought" scoring core.
    // Top-100, tie-free.
    "graph_link_pred" -> ((s, d) => {
      val und = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(flatten(transform(col("ps"), (a, i) =>
          transform(slice(col("ps"), i + 2, size(col("ps"))),
            b => struct(a.as("a"), b.as("b")))))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
      Storage.releasing(graft.operators.Graph.linkPredictionScores(und)) { lp =>
        lp
          .orderBy(col("ra").desc, col("cn").desc, col("a").asc, col("b").asc)
          .limit(100)
          .transform(Storage.pin)
      }
    }),

    // personalized PageRank from a 3-customer source set over the
    // same purchase graph — proximity-to-sources ranking (the
    // recommendation / graph-feature primitive). Integer-exact; the
    // oracle unrolls all 3 iterations with the restricted teleport.
    "graph_ppr" -> ((s, d) => {
      val edges = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + 10000000000L).as("sp"))
        .select(explode(array(
          struct(col("c").as("src"), col("sp").as("dst")),
          struct(col("sp").as("src"), col("c").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      Storage.releasing(graft.operators.Graph.personalizedPageRank(
        edges, sources = Seq(1L, 2L, 3L), iters = 3)) { pr =>
        pr
          .orderBy(col("pr").desc, col("node_id").asc)
          .limit(20)
          .transform(Storage.pin)
      }
    }),

    // k-core decomposition (8-round peel budget, early-exit at the
    // fixpoint) over the part co-purchase graph — the subgraph where
    // every surviving part co-occurs with >= 60 other surviving parts.
    // The oracle replays the peel round-for-round; rounds past the
    // fixpoint are no-ops on both sides. Top-100 by in-core degree,
    // tie-free. (This corpus is degree-uniform, so the peel converges
    // fast here; the multi-round cascade path is pinned on a chain
    // graph in GraphSpec.)
    "graph_kcore" -> ((s, d) => {
      // pair multiset passed WITHOUT distinct — kCore's adjacency
      // groupBy dedupes in-row (a pre-distinct is a full extra
      // shuffle of the largest relation; same rule as triangles)
      val und = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(flatten(transform(col("ps"), (a, i) =>
          transform(slice(col("ps"), i + 2, size(col("ps"))),
            b => struct(a.as("a"), b.as("b")))))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
      Storage.releasing(graft.operators.Graph.kCore(und, k = 60, rounds = 8)) { kc =>
        kc
          .orderBy(col("deg_in_core").desc, col("node_id").asc)
          .limit(100)
          .transform(Storage.pin)
      }
    }),

    // label-propagation communities (3 synchronous rounds,
    // deterministic count-desc/label-asc vote order) over the
    // symmetrized customer↔supplier purchase MULTIGRAPH — parallel
    // edges act as vote weight, so no distinct pass over the pair
    // multiset. Full assignment, ordered by node.
    "graph_label_prop" -> ((s, d) => {
      val edges = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + 10000000000L).as("sp"))
        .select(explode(array(
          struct(col("c").as("src"), col("sp").as("dst")),
          struct(col("sp").as("src"), col("c").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      Storage.releasing(graft.operators.Graph.labelPropagation(edges, rounds = 3)) { lp =>
        lp.orderBy(col("node_id").asc).transform(Storage.pin)
      }
    }),

    // multi-source BFS over the symmetrized customer↔supplier
    // purchase graph: shortest hop count from customers {1, 7} to
    // every node within 4 hops. Frontier-only expansion per round;
    // the oracle recomputes hop minima independently with a
    // recursive CTE (a different formulation — exhaustive path
    // enumeration with UNION dedup — so agreement is evidence, not
    // replay). Full reached relation, no limit: the result IS the
    // per-node distance labeling a feature pipeline joins back.
    "graph_bfs" -> ((s, d) => {
      val edges = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + 10000000000L).as("sp"))
        .select(explode(array(
          struct(col("c").as("src"), col("sp").as("dst")),
          struct(col("sp").as("src"), col("c").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.operators.Graph.bfs(edges, sources = Seq(1L, 7L), maxHops = 4)
    }),

    // hop-bounded single-source min-cost (Bellman–Ford, 3 rounds)
    // over the same purchase graph with integer edge costs
    // (l_quantity, both directions): cheapest ≤ 3-hop route from
    // customer 1 to every reachable node. Parallel purchase edges
    // are alternative routes — the relaxation's min folds them. The
    // oracle unrolls the 3 relaxation rounds as CTEs (full
    // relaxation — provably equal to the engine's frontier-pruned
    // form, so agreement checks the pruning proof too).
    "graph_sssp" -> ((s, d) => {
      val edges = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_quantity"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + 10000000000L).as("sp"),
          col("l_quantity").cast("long").as("w"))
        .select(explode(array(
          struct(col("c").as("src"), col("sp").as("dst"), col("w")),
          struct(col("sp").as("src"), col("c").as("dst"), col("w")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
      graft.operators.Graph.boundedSssp(edges, sources = Seq(1L), rounds = 3)
    }),

    // local clustering coefficient over the part co-purchase graph:
    // 2·triangles(v) / (deg(v)·(deg(v)−1)) — how clique-like each
    // node's neighborhood is. Composes the degree-ordered triangle
    // kernel with one degree fold; ordering rides the UNROUNDED
    // coefficient (bit-identical doubles both engines) with a
    // node_id tiebreak. Top-20, degree ≥ 2 only.
    "graph_clustering" -> ((s, d) => {
      val und = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(flatten(transform(col("ps"), (a, i) =>
          transform(slice(col("ps"), i + 2, size(col("ps"))),
            b => struct(a.as("a"), b.as("b")))))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .distinct()
        .transform(Storage.pin) // two consumers below — never rebuilt
      Storage.releasing(und) { _ =>
        Storage.releasing(graft.operators.Graph.triangleCounts(und)) { tc =>
          val deg = und
            .select(explode(array(col("a"), col("b"))).as("node_id"))
            .groupBy("node_id").agg(count(lit(1)).as("degree"))
          deg.where(col("degree") >= 2)
            .join(tc, Seq("node_id"), "left")
            .select(col("node_id"),
              coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
              col("degree"),
              (coalesce(col("n_triangles"), lit(0L)).cast("double") * lit(2.0) /
                (col("degree") * (col("degree") - 1))).as("c"))
            .orderBy(col("c").desc, col("node_id").asc)
            .limit(20)
            .select(col("node_id"), col("n_triangles"), col("degree"),
              round(col("c"), 6).as("coeff"))
            .transform(Storage.pin)
        }
      }
    }),

    // harmonic closeness to a 4-customer landmark set within 4 hops
    // (sampled centrality — the practice when all-pairs BFS is
    // unpayable): per-source hop fields in ONE composite-keyed
    // trajectory, folded to Σ 840/d (exact integers — 840 = lcm(1..8),
    // so the sum is order-free and the oracle replays it with `//`).
    "graph_closeness" -> ((s, d) => {
      val edges = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + 10000000000L).as("sp"))
        .select(explode(array(
          struct(col("c").as("src"), col("sp").as("dst")),
          struct(col("sp").as("src"), col("c").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.operators.Graph.harmonicCloseness(
        edges, sources = Seq(1L, 3L, 5L, 7L), maxHops = 4)
    }),

    // -- entity resolution (structured-record dedup) ---------------------

    // blocking + edit-distance candidate pairs over the customer
    // table: compare only within (nation, market segment) blocks,
    // keep pairs whose names are ≤ 2 edits apart. Both engines run
    // the identical integer Levenshtein, so the threshold has no
    // float caveats; the oracle is an independent self-join.
    "er_candidates" -> ((s, d) =>
      graft.operators.EntityResolution.blockedPairs(
        Tables.customer(s, d).select(
          col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_nationkey"), col("c_mktsegment")),
        blockCols = Seq("c_nationkey", "c_mktsegment"), maxDist = 2)),

    // MULTI-FIELD candidate pairs — the weighted-agreement form real
    // record linkage uses (Fellegi–Sunter with deterministic integer
    // weights in place of estimated log-odds): within a NATION block
    // (coarser than er_candidates — the secondary fields take over
    // the discrimination the block gave up), a name within 2 edits
    // earns 3, an exact market-segment match 2, an account balance
    // within 100.00 earns 1; candidates need ≥ 4 — a name match
    // alone is NOT enough, some secondary signal must corroborate.
    // Every comparison is integer/IEEE-exact on both engines, so the
    // summed score replays bit-for-bit.
    "er_candidates_multi" -> ((s, d) =>
      graft.operators.EntityResolution.blockedPairsMulti(
        Tables.customer(s, d).select(
          col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_mktsegment").as("segment"), col("c_acctbal").as("acctbal"),
          col("c_nationkey")),
        blockCols = Seq("c_nationkey"),
        fields = Seq(
          graft.operators.EntityResolution.FuzzyField("name", maxDist = 2, weight = 3),
          graft.operators.EntityResolution.ExactField("segment", weight = 2),
          graft.operators.EntityResolution.NumericField("acctbal", tol = 100.0, weight = 1)),
        minScore = 4)),

    // the SCALE-TRUE form of the multi-field scorer: PRODUCTION
    // blocking (nation + segment — er_candidates' key, whose 10×
    // pair growth SCALE10X measures near-linear, vs 22× for the
    // nation-coarse demo above). A field folded into the blocking
    // key agrees by construction and scores nothing (the
    // er_probe_rescored lesson), so the secondary signal here is a
    // GRADED agreement ladder on the one remaining free field:
    // balance within 10.00 earns 2, within 100.00 earns 1 —
    // Fellegi–Sunter's multi-level comparison outcomes with integer
    // weights. minScore 4 = fuzzy name + at least loose balance
    // corroboration (name alone is NOT enough, as in the coarse
    // form); qualifying scores split 4 (loose only) vs 6 (tight).
    "er_candidates_multi_fine" -> ((s, d) =>
      graft.operators.EntityResolution.blockedPairsMulti(
        Tables.customer(s, d).select(
          col("c_custkey").as("id"), col("c_name").as("name"),
          // the ladder compares one attribute at two tolerances; the
          // scorer keys fields by column name, so project it twice
          col("c_acctbal").as("bal_tight"), col("c_acctbal").as("bal_loose"),
          col("c_nationkey"), col("c_mktsegment")),
        blockCols = Seq("c_nationkey", "c_mktsegment"),
        fields = Seq(
          graft.operators.EntityResolution.FuzzyField("name", maxDist = 2, weight = 3),
          graft.operators.EntityResolution.NumericField("bal_tight", tol = 10.0, weight = 2),
          graft.operators.EntityResolution.NumericField("bal_loose", tol = 100.0, weight = 1)),
        minScore = 4)),

    // ...and the multi-field pairs taken to their decision: weighted-
    // agreement candidates → transitive closure → one survivor per
    // entity (highest balance, ties toward the smaller key) —
    // resolveWith is the seam that lets ANY scorer feed the shared
    // closure + election.
    "er_resolve_multi" -> ((s, d) => {
      val recs = Tables.customer(s, d).select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_mktsegment").as("segment"), col("c_acctbal").as("acctbal"),
        col("c_nationkey"))
      graft.operators.EntityResolution.resolveWith(recs,
        graft.operators.EntityResolution.blockedPairsMulti(recs,
          blockCols = Seq("c_nationkey"),
          fields = Seq(
            graft.operators.EntityResolution.FuzzyField("name", maxDist = 2, weight = 3),
            graft.operators.EntityResolution.ExactField("segment", weight = 2),
            graft.operators.EntityResolution.NumericField("acctbal", tol = 100.0, weight = 1)),
          minScore = 4),
        quality = "acctbal")
    }),

    // the full resolution pipeline: candidate pairs → transitive
    // closure (connected components) → one canonical survivor per
    // entity (highest account balance, ties toward the smaller key).
    // One row per record in a multi-record entity.
    "er_resolve" -> ((s, d) =>
      graft.operators.EntityResolution.resolve(
        Tables.customer(s, d).select(
          col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_nationkey"), col("c_mktsegment"), col("c_acctbal")),
        blockCols = Seq("c_nationkey", "c_mktsegment"), maxDist = 2,
        quality = "c_acctbal")),

    // the DURABLE form of the screening: the customer register is
    // persisted through the LSM record index (base + one delta
    // epoch), and a re-crawl shard — every 9th customer re-keyed,
    // name mutated by one trailing edit — probes it for fuzzy
    // matches. o(index): the scan is cut to the shard's blocks
    // before any pair streams. The oracle replays the shard surgery
    // and the blocked comparison against the full register.
    "er_probe" -> ((s, d) => {
      val cust = Tables.customer(s, d).select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        concat_ws("|", col("c_nationkey"), col("c_mktsegment")).as("block"))
      val path = IndexScenario.build(s, graft.operators.RecordIndex, "graft_er_probe_",
        IndexScenario.lastThird(cust, col("id")))(
        graft.operators.RecordIndex.write(IndexScenario.baseRows(cust, col("id")), _))
      val shard = Tables.customer(s, d).where(col("c_custkey") % 9 === 0)
        .select((col("c_custkey") + 10000000000L).as("id"),
          concat(expr("substring(c_name, 1, length(c_name)-1)"),
            lit("X")).as("name"),
          concat_ws("|", col("c_nationkey"), col("c_mktsegment")).as("block"))
      // the probe's eager pin IS this query's result (output-sized) —
      // the same final-result pin every checkpointing query returns;
      // derived consumers (er_probe_eval/_rescored) release theirs
      graft.operators.RecordIndex.probeShard(s, path, shard, maxDist = 1)
    }),

    // ...and the probe TRIAGED — the deferred-rescore pattern a
    // deployment runs instead of widening the register schema: the
    // o(index) name screen produces the output-sized match set, and
    // the multi-field weighted-agreement score (name already agreed
    // by construction = 3, exact segment = 2, balance within 100.00
    // = 1) is computed only on those matches via two broadcast joins
    // back to the records. The register here blocks on NATION alone —
    // coarser than er_probe's nation+segment — precisely so the
    // segment term is a live signal at rescore time (a field folded
    // into the blocking key agrees by construction and scores
    // nothing). True re-crawls (the planted re-keyed originals)
    // always score 6; near-miss matches to OTHER records spread over
    // 3–6 — the triage a reviewer queue is sorted by.
    "er_probe_rescored" -> ((s, d) => {
      val cust = Tables.customer(s, d).select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_nationkey").cast("string").as("block"))
      val path = IndexScenario.build(s, graft.operators.RecordIndex, "graft_er_resc_",
        IndexScenario.lastThird(cust, col("id")))(
        graft.operators.RecordIndex.write(IndexScenario.baseRows(cust, col("id")), _))
      val shard = Tables.customer(s, d).where(col("c_custkey") % 9 === 0)
        .select((col("c_custkey") + 10000000000L).as("id"),
          concat(expr("substring(c_name, 1, length(c_name)-1)"),
            lit("X")).as("name"),
          col("c_nationkey").cast("string").as("block"))
      // the probe pin feeds the two joins; only the rescored final stays
      Storage.releasing(graft.operators.RecordIndex
          .probeShard(s, path, shard, maxDist = 1)) { matches =>
        val fields = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        // matches is output-sized (eagerly pinned by probeShard): it is
        // the build side of BOTH joins — the records table streams
        val withI = fields
          .select(col("c_custkey").as("indexed_id"),
            col("c_mktsegment").as("i_seg"), col("c_acctbal").as("i_bal"))
          .join(broadcast(matches), Seq("indexed_id"))
        fields
          .select((col("c_custkey") + 10000000000L).as("shard_id"),
            col("c_mktsegment").as("s_seg"), col("c_acctbal").as("s_bal"))
          .join(broadcast(withI), Seq("shard_id"))
          .select(col("shard_id"), col("indexed_id"), col("name_dist"),
            (lit(3) +
              lit(2) * (col("i_seg") === col("s_seg")).cast("int") +
              lit(1) * (abs(col("i_bal") - col("s_bal")) <= 100.0).cast("int"))
              .cast("int").as("score"))
          .transform(Storage.pin)
      }
    }),

    // ...and the MULTI-FIELD DURABLE REGISTER — the probe-side answer
    // to the same question er_probe_rescored defers: the register
    // persists the scoring fields WITH each record (segments carry
    // every column beyond the canonical (id, name, block) triple),
    // and the weighted-agreement screen runs INSIDE the o(index)
    // probe — no second pass over the records table. Nation-only
    // blocks (the segment term must be live — the rescored query's
    // lesson); name within 1 edit = 3, exact segment = 2, balance
    // within 100.00 = 1; admission needs ≥ 4, so a name match alone
    // is NOT enough even at the register. Planted re-crawls score 6.
    "er_probe_multi" -> ((s, d) => {
      val cust = Tables.customer(s, d).select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_nationkey").cast("string").as("block"),
        col("c_mktsegment").as("segment"), col("c_acctbal").as("acctbal"))
      val path = IndexScenario.build(s, graft.operators.RecordIndex, "graft_er_multi_",
        IndexScenario.lastThird(cust, col("id")))(
        graft.operators.RecordIndex.write(IndexScenario.baseRows(cust, col("id")), _))
      val shard = Tables.customer(s, d).where(col("c_custkey") % 9 === 0)
        .select((col("c_custkey") + 10000000000L).as("id"),
          concat(expr("substring(c_name, 1, length(c_name)-1)"),
            lit("X")).as("name"),
          col("c_nationkey").cast("string").as("block"),
          col("c_mktsegment").as("segment"), col("c_acctbal").as("acctbal"))
      graft.operators.RecordIndex.probeShardMulti(s, path, shard,
        fields = Seq(
          graft.operators.EntityResolution.FuzzyField("name", maxDist = 1, weight = 3),
          graft.operators.EntityResolution.ExactField("segment", weight = 2),
          graft.operators.EntityResolution.NumericField("acctbal", tol = 100.0, weight = 1)),
        minScore = 4)
    }),

    // the ER measurement: the er_probe shard is PLANTED (every typo'd
    // re-crawl has exactly one known original, shard_id − 10000000000),
    // so probe quality is exactly computable — recall of the planted
    // originals, plus how many matches were near-misses to OTHER
    // registered records (the reviewer-queue volume). One pass over
    // the match set + a broadcast shard count; one-row output.
    "er_probe_eval" -> ((s, d) => {
      val cust = Tables.customer(s, d).select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        concat_ws("|", col("c_nationkey"), col("c_mktsegment")).as("block"))
      val path = IndexScenario.build(s, graft.operators.RecordIndex, "graft_er_eval_")(
        graft.operators.RecordIndex.write(cust, _))
      val shard = Tables.customer(s, d).where(col("c_custkey") % 9 === 0)
        .select((col("c_custkey") + 10000000000L).as("id"),
          concat(expr("substring(c_name, 1, length(c_name)-1)"),
            lit("X")).as("name"),
          concat_ws("|", col("c_nationkey"), col("c_mktsegment")).as("block"))
      val nShard = shard.agg(count(lit(1)).as("n_shard"))
      // the probe pin feeds the one-row fold only
      Storage.releasing(
          graft.operators.RecordIndex.probeShard(s, path, shard, maxDist = 1)) { matches =>
        matches
          .agg(
            count(lit(1)).as("n_matches"),
            sum(when(col("indexed_id") === col("shard_id") - 10000000000L, 1L)
              .otherwise(0L)).as("n_self_matches"),
            countDistinct(when(
              col("indexed_id") === col("shard_id") - 10000000000L,
              col("shard_id"))).as("n_caught"))
          .crossJoin(broadcast(nShard))
          .select(col("n_shard"), col("n_matches"), col("n_self_matches"),
            col("n_caught"),
            round(col("n_caught").cast("double") /
              col("n_shard").cast("double"), 6).as("recall"))
          .transform(Storage.pin)
      }
    }),

    // the ER ADMISSION LOOP end-to-end — Admission's structured-
    // record sibling: three arriving customer shards (epoch = id % 3,
    // augmented with typo'd re-keyed copies — every 7th record
    // re-crawled into ITS OWN shard, every 5th of the PREVIOUS shard
    // re-crawled one epoch later), each screened fuzzy against the
    // durable register (RecordIndex.probeShard, o(index)), survivors
    // kept under smaller-id dominance within the shard, admitted, and
    // appended back — so later epochs resolve against everything
    // admitted so far. The decision commits to the WAL log before any
    // register append (crash-replay re-reads it; RecordAdmissionSpec
    // runs the worst-crash-point battery). The oracle replays the
    // whole three-epoch fold in SQL: register screen as NOT EXISTS vs
    // the admitted union, dominance as NOT EXISTS vs smaller-id
    // screen survivors. Output: (id, epoch) of every admitted record.
    "er_admission_loop" -> ((s, d) => {
      val cust = Tables.customer(s, d).select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        concat_ws("|", col("c_nationkey"), col("c_mktsegment")).as("block"))
      val path = graft.operators.Storage.tempIndexDir("graft_er_adm_")
      graft.operators.RecordAdmission.init(s, path)
      val typod = concat(
        expr("substring(name, 1, length(name)-1)"), lit("X")).as("name")
      def shard(e: Int): DataFrame = {
        val own = cust.where(col("id") % 3 === e)
        val withDupes = own.unionByName(
          cust.where(col("id") % 3 === e && col("id") % 7 === 0)
            .select((col("id") + 30000000000L).as("id"), typod, col("block")))
        if (e == 0) withDupes
        else withDupes.unionByName(
          cust.where(col("id") % 3 === e - 1 && col("id") % 5 === 0)
            .select((col("id") + lit(10000000000L * e)).as("id"), typod,
              col("block")))
      }
      (0 to 2).map { e =>
        graft.operators.RecordAdmission.admitEpoch(
          s, path, e.toLong, shard(e), maxDist = 1)
          .select(col("id"), lit(e.toLong).as("epoch"))
      }.reduce(_.unionByName(_))
    }),

    // the ER payoff view — dedup-aware aggregation: order revenue
    // rolled up to RESOLVED entities instead of raw customer keys
    // (the number duplicate records silently split). Multi-member
    // entities only; singleton customers keep their own key in the
    // roster and are excluded by the n_members >= 2 cut.
    "er_rollup" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val resolved = graft.operators.EntityResolution.resolve(
        cust.select(
          col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_nationkey"), col("c_mktsegment"), col("c_acctbal")),
        blockCols = Seq("c_nationkey", "c_mktsegment"), maxDist = 2,
        quality = "c_acctbal")
        .select(col("id"), col("entity_id"))
      val roster = cust.select(col("c_custkey").as("id"))
        .join(resolved, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("entity_id"), col("id")).as("entity_id"))
      val members = roster.groupBy("entity_id")
        .agg(count(lit(1)).as("n_members"))
        .where(col("n_members") >= 2)
      val rev = roster
        .join(Tables.orders(s, d)
            .select(col("o_custkey"), col("o_totalprice")),
          col("id") === col("o_custkey"))
        .groupBy("entity_id")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("revenue"))
      members.join(rev, Seq("entity_id"), "left")
        .select(col("entity_id"), col("n_members"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("revenue"), lit(0.0)).as("revenue"))
    }),

    // -- string / math / date / JSON functions ---------------------------
    "q_string_funcs" -> ((s, d) =>
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("upper_name"),
          substring(col("p_name"), 1, 5).as("prefix5"),
          length(col("p_name")).as("name_len"),
          replace(col("p_type"), lit(" "), lit("_")).as("type_snake"),
          lpad(col("p_brand"), 12, "*").as("brand_padded"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))),

    "q_split_getitem" -> ((s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          split(col("o_orderpriority"), "-").getItem(0).as("priority_num"),
          split(col("o_orderpriority"), "-").getItem(1).as("priority_word"))),

    "q_math_funcs" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 400)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (dec(col("l_extendedprice")) * dec(col("l_discount"))).cast("double").as("disc_amount"),
          floor(col("l_quantity")).as("qty_floor"),
          ceil(col("l_extendedprice") / 100.0).as("price_ceil_h"),
          round(sqrt(col("l_extendedprice")), 6).as("price_sqrt"),
          abs(col("l_discount") - lit(0.05)).as("disc_dev"),
          pmod(col("l_orderkey"), lit(7)).as("key_mod7"))),

    "q_case_when" -> ((s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          when(col("o_totalprice") > 200000, "large")
            .when(col("o_totalprice") > 100000, "medium")
            .otherwise("small").as("size_class"))
        .groupBy("size_class").agg(count(lit(1)).as("n"))),

    "q_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .filter(col("k").isNotNull)),

    // Spark 4 VARIANT (open-format semi-structured type): documents
    // nested JSON built from typed columns, parsed to VARIANT, and
    // read back with typed-path extraction — plus the real `props`
    // JSON column and a try_variant_get miss. The oracle computes the
    // same values STRAIGHT from the columns (no JSON round trip), so
    // the check proves parse_json/variant_get round-trip fidelity for
    // bigint, string and double, and SQL-null semantics for absent
    // paths.
    "q_variant" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("vj", parse_json(to_json(struct(
          struct(col("event_type").as("type"), col("user_id").as("uid")).as("meta"),
          array(col("value"), col("value") * 2).as("vals")))))
        .withColumn("vp", parse_json(col("props")))
        .select(
          col("event_id"),
          variant_get(col("vj"), "$.meta.uid", "bigint").as("uid"),
          variant_get(col("vj"), "$.meta.type", "string").as("etype"),
          round(variant_get(col("vj"), "$.vals[1]", "double"), 6).as("v2"),
          variant_get(col("vp"), "$.k", "int").as("k"),
          try_variant_get(col("vp"), "$.missing", "int").as("missing"))),

    "q_json_agg" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))),

    "q_date_trunc_agg" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))),

    "q_date_parts" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))),

    // -- streaming shape in batch: tumbling window aggregation -----------
    "q_stream_window" -> ((s, d) =>
      graft.streaming.StreamingOps.windowedEventCounts(Tables.events(s, d))
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"),
          col("total_value").cast(DecimalType(20, 2)).cast("double").as("total_value"))))

  def oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                    * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",

    "q_agg_stats" ->
      """SELECT o_orderstatus, count(*) AS n,
           count(DISTINCT o_custkey) AS n_custs,
           min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price
         FROM orders GROUP BY o_orderstatus""",

    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""",

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",

    "q_agg_predicates" ->
      """SELECT o_orderstatus,
           count(*) FILTER (o_totalprice > 200000) AS n_big,
           bool_and(o_totalprice > 900) AS all_above_min,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           arg_max(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                               * 10000000000 + o_orderkey) AS priciest_order,
           arg_min(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                               * 10000000000 + o_orderkey) AS cheapest_order
         FROM orders GROUP BY o_orderstatus""",

    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())""",

    "q_profile" ->
      """WITH s AS (
           SELECT count(*) AS n,
             CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS qty_null,
             count(DISTINCT l_quantity) AS qty_distinct,
             min(l_quantity) AS qty_min, max(l_quantity) AS qty_max,
             CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS rf_null,
             count(DISTINCT l_returnflag) AS rf_distinct,
             CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS sd_null,
             count(DISTINCT l_shipdate) AS sd_distinct
           FROM lineitem)
         SELECT 'l_quantity' AS "column", n, qty_null AS n_null,
                qty_distinct AS n_distinct, qty_min AS min_num, qty_max AS max_num FROM s
         UNION ALL
         SELECT 'l_returnflag', n, rf_null, rf_distinct,
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM s
         UNION ALL
         SELECT 'l_shipdate', n, sd_null, sd_distinct,
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM s""",

    "q_percentile" ->
      """SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price
         FROM orders GROUP BY o_orderstatus""",

    "q_geomean" ->
      """SELECT o_orderstatus,
           round(exp(avg(ln(o_totalprice))), 2) AS geomean_price
         FROM orders GROUP BY o_orderstatus""",

    "q_histogram" ->
      """WITH b AS (
           SELECT o_orderstatus,
             least(greatest(CAST(floor(o_totalprice / 50000) AS INT), 0), 9) AS bin
           FROM orders),
         c AS (SELECT o_orderstatus, bin, count(*) AS n FROM b GROUP BY 1, 2),
         g AS (SELECT DISTINCT o_orderstatus FROM orders),
         r AS (SELECT CAST(unnest(range(10)) AS INT) AS bin)
         SELECT g.o_orderstatus, r.bin, coalesce(c.n, CAST(0 AS BIGINT)) AS n
         FROM g CROSS JOIN r
         LEFT JOIN c ON c.o_orderstatus = g.o_orderstatus AND c.bin = r.bin""",

    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_date
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-02-01 00:00:00'
           AND l_quantity > 45""",

    "q_notnull_filter" ->
      """SELECT event_type, count(*) AS n FROM events
         WHERE props IS NOT NULL AND value IS NOT NULL
         GROUP BY event_type""",

    "q3_topk_join" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey ASC
         LIMIT 10""",

    "q5_local_supplier" ->
      """SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY n_name""",

    "q_join_multiway" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",

    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 100000)""",

    // the bloom prefilter cannot drop true matches, so the exact semi
    // join IS the full specification of the operator's output
    "q_bloom_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders
                             WHERE o_orderpriority = '1-URGENT')""",

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND o_orderpriority = '1-URGENT' AND o_totalprice > 100000)""",

    "q_outer_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
           coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 0.0) AS sum_price
         FROM customer LEFT JOIN orders ON o_custkey = c_custkey
         GROUP BY c_custkey""",

    "q_null_safe_join" ->
      """SELECT coalesce(n_name, '<null-key>') AS nation, count(*) AS n
         FROM (SELECT c_custkey, nullif(c_nationkey, 3) AS nk FROM customer) c
         JOIN (SELECT nullif(n_nationkey, 3) AS nnk, n_name FROM nation) n
           ON c.nk IS NOT DISTINCT FROM n.nnk
         GROUP BY 1""",

    "q_collect_sorted" ->
      """SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities
         FROM orders GROUP BY o_orderstatus""",

    "q_sort_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""",

    "q_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q_set_ops" ->
      """(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
          UNION
          SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
         EXCEPT
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'""",

    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_totalprice > 150000
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'""",

    "q_bag_ops" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_common FROM (
           SELECT l_returnflag, l_linestatus FROM lineitem
           WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           INTERSECT ALL
           SELECT l_returnflag, l_linestatus FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00')
         GROUP BY 1, 2""",

    "q_except_all" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_extra FROM (
           SELECT l_returnflag, l_linestatus FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           EXCEPT ALL
           SELECT l_returnflag, l_linestatus FROM lineitem
           WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00')
         GROUP BY 1, 2""",

    "q_stats_moments" ->
      """SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4) AS sd_price,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar
         FROM lineitem GROUP BY l_returnflag""",

    "q_zorder" ->
      """WITH t AS (
           SELECT o_custkey % 1024 AS x_dim,
                  CASE WHEN o_totalprice < 0.0 THEN 0
                       WHEN o_totalprice >= 500000.0 THEN 1023
                       ELSE CAST(floor(o_totalprice / (500000.0 / 1022))
                            AS BIGINT) + 1 END AS y_dim
           FROM orders),
         z AS (
           SELECT x_dim, y_dim,
                  CAST(list_sum(list_transform(generate_series(0, 9), b ->
                    (((x_dim >> b) % 2) << (2*b)) +
                    (((y_dim >> b) % 2) << (2*b + 1)))) AS BIGINT) AS zval
           FROM t)
         SELECT CAST(zval // 16384 AS BIGINT) AS z_range, count(*) AS n,
                min(x_dim) AS min_x, max(x_dim) AS max_x,
                min(y_dim) AS min_y, max(y_dim) AS max_y
         FROM z GROUP BY 1""",

    "q_hof" ->
      """WITH t AS (SELECT p_partkey, string_split(p_name, ' ') AS toks FROM part)
         SELECT p_partkey,
                len(list_filter(toks, t -> length(t) > 6)) > 0 AS has_long,
                len(list_filter(toks, t -> length(t) <= 2)) = 0 AS all_gt2,
                CAST(len(list_filter(toks, t -> contains(t, 'a'))) AS INT)
                  AS n_with_a,
                CAST(list_sum(list_transform(toks, t -> length(t))) AS INT)
                  AS total_len
         FROM t""",

    // DuckDB lacks width_bucket; the mirror replays Spark's exact
    // arithmetic — floor((v - lo) / ((hi - lo) / n)) + 1 with 0 / n+1
    // out-of-range buckets — on the same doubles (50000-wide bins are
    // exactly representable, so edge placement is identical)
    "q_width_bucket" ->
      """SELECT CASE WHEN o_totalprice < 0.0 THEN 0
                     WHEN o_totalprice >= 500000.0 THEN 11
                     ELSE CAST(floor((o_totalprice - 0.0) /
                          ((500000.0 - 0.0) / 10)) AS BIGINT) + 1 END AS bin,
                count(*) AS n,
                round(min(o_totalprice), 2) AS lo,
                round(max(o_totalprice), 2) AS hi
         FROM orders GROUP BY 1""",

    "q_scd2" ->
      """WITH upd AS (
           SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal,
                  'UPDATED' AS c_mktsegment
           FROM customer WHERE c_custkey % 7 = 0)
         SELECT c_custkey, 1 AS version, c_acctbal, c_mktsegment,
                (c_custkey % 7 <> 0) AS is_current
         FROM customer
         UNION ALL
         SELECT c_custkey, 2, c_acctbal, c_mktsegment, true FROM upd""",

    // epoch_us ⇔ Spark's µs timestamps: comparisons happen on the
    // same integer microsecond axis on both engines
    "events_funnel" ->
      """WITH f AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'signup'
                           THEN epoch_us(ts) END) AS t1,
                  min(CASE WHEN event_type = 'click'
                           THEN epoch_us(ts) END) AS t2,
                  min(CASE WHEN event_type = 'purchase'
                           THEN epoch_us(ts) END) AS t3
           FROM events GROUP BY user_id)
         SELECT CAST(count(*) AS BIGINT) AS n_users,
                CAST(count(*) FILTER (t1 IS NOT NULL) AS BIGINT) AS n_signup,
                CAST(count(*) FILTER (t1 IS NOT NULL AND t2 > t1) AS BIGINT)
                  AS n_signup_click,
                CAST(count(*) FILTER (t1 IS NOT NULL AND t2 > t1 AND t3 > t2)
                  AS BIGINT) AS n_full_funnel
         FROM f""",

    "events_transitions" ->
      """SELECT from_type, to_type, count(*) AS n FROM (
           SELECT lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts ASC, event_id ASC)
                    AS from_type,
                  event_type AS to_type
           FROM events)
         WHERE from_type IS NOT NULL GROUP BY 1, 2""",

    "q_outlier_iqr" ->
      """WITH stats AS (
           SELECT event_type,
                  quantile_cont(value, 0.25) AS q1,
                  quantile_cont(value, 0.75) AS q3
           FROM events GROUP BY event_type)
         SELECT event_type, count(*) AS n_outliers,
                round(min(value), 6) AS min_outlier,
                round(max(value), 6) AS max_outlier
         FROM events JOIN stats USING (event_type)
         WHERE value < q1 - (q3 - q1) * 1.5 OR value > q3 + (q3 - q1) * 1.5
         GROUP BY event_type""",

    "graph_pagerank" -> {
      def iter(prev: String): String =
        s"""SELECT n.node_id,
              CAST(150000000000 + (85 * coalesce(i.s, 0)) // 100 AS BIGINT) AS pr
            FROM nodes n LEFT JOIN (
              SELECT e.dst AS node_id, CAST(sum(p.pr // o.outdeg) AS BIGINT) AS s
              FROM edges e JOIN $prev p ON e.src = p.node_id
              JOIN outdeg o ON e.src = o.src
              GROUP BY e.dst) i ON n.node_id = i.node_id"""
      s"""WITH e0 AS (
            SELECT o_custkey AS c, 10000000000 + l_suppkey AS sp
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          edges AS (SELECT c AS src, sp AS dst FROM e0
                    UNION ALL SELECT sp, c FROM e0),
          nodes AS (SELECT DISTINCT x AS node_id FROM (
            SELECT src AS x FROM edges UNION ALL SELECT dst FROM edges)),
          outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
          pr0 AS (SELECT node_id, CAST(1000000000000 AS BIGINT) AS pr FROM nodes),
          it1 AS (${iter("pr0")}),
          it2 AS (${iter("it1")}),
          it3 AS (${iter("it2")})
          SELECT node_id, pr FROM it3 ORDER BY pr DESC, node_id ASC LIMIT 20"""
    },

    "graph_hits" -> {
      // one HITS iteration = authority half-step then hub half-step,
      // each max-normalized; HUGEINT carries the score·1e12 numerator
      def iter(prev: String, n: Int): String =
        s"""ra$n AS MATERIALIZED (
              SELECT e.dst AS node_id, CAST(sum(p.hub) AS BIGINT) AS ra
              FROM edges e JOIN $prev p ON e.src = p.node_id GROUP BY e.dst),
          mid$n AS MATERIALIZED (
              SELECT s.node_id, s.hub,
                coalesce(CAST(CAST(r.ra AS HUGEINT) * 1000000000000
                  // (SELECT max(ra) FROM ra$n) AS BIGINT), 0) AS auth
              FROM $prev s LEFT JOIN ra$n r ON s.node_id = r.node_id),
          rh$n AS MATERIALIZED (
              SELECT e.src AS node_id, CAST(sum(p.auth) AS BIGINT) AS rh
              FROM edges e JOIN mid$n p ON e.dst = p.node_id GROUP BY e.src),
          it$n AS MATERIALIZED (
              SELECT s.node_id,
                coalesce(CAST(CAST(r.rh AS HUGEINT) * 1000000000000
                  // (SELECT max(rh) FROM rh$n) AS BIGINT), 0) AS hub,
                s.auth
              FROM mid$n s LEFT JOIN rh$n r ON s.node_id = r.node_id)"""
      val rounds = (1 to 3).map(n => iter(if (n == 1) "it0" else s"it${n - 1}", n))
        .mkString(",\n          ")
      s"""WITH edges AS MATERIALIZED (
            SELECT o_custkey AS src, 10000000000 + l_suppkey AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          nodes AS MATERIALIZED (SELECT DISTINCT x AS node_id FROM (
            SELECT src AS x FROM edges UNION ALL SELECT dst FROM edges)),
          it0 AS MATERIALIZED (SELECT node_id,
            CAST(1000000000000 AS BIGINT) AS hub,
            CAST(1000000000000 AS BIGINT) AS auth FROM nodes),
          $rounds
          SELECT node_id, hub, auth FROM it3
          ORDER BY auth DESC, node_id ASC LIMIT 20"""
    },

    "graph_link_pred" ->
      """WITH os AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          und AS MATERIALIZED (
            SELECT DISTINCT a.p AS a, b.p AS b
            FROM os a JOIN os b ON a.o = b.o AND a.p < b.p),
          sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
                 UNION ALL SELECT b, a FROM und),
          deg AS MATERIALIZED (
            SELECT src AS n, count(*) AS dg FROM sym GROUP BY src),
          common AS (
            SELECT e.a, e.b, e1.dst AS w
            FROM und e
            JOIN sym e1 ON e1.src = e.a
            JOIN sym e2 ON e2.src = e.b AND e2.dst = e1.dst),
          scored AS (
            SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS cn,
                   CAST(sum(1000000000000 // d.dg) AS BIGINT) AS ra
            FROM common c JOIN deg d ON d.n = c.w
            GROUP BY c.a, c.b)
          SELECT a, b, cn, ra FROM scored
          ORDER BY ra DESC, cn DESC, a ASC, b ASC LIMIT 100""",

    "graph_ppr" -> {
      def iter(prev: String): String =
        s"""SELECT n.node_id, n.is_src,
              CAST(n.is_src * 150000000000 + (85 * coalesce(i.s, 0)) // 100 AS BIGINT) AS pr
            FROM nodes n LEFT JOIN (
              SELECT e.dst AS node_id, CAST(sum(p.pr // o.outdeg) AS BIGINT) AS s
              FROM edges e JOIN $prev p ON e.src = p.node_id
              JOIN outdeg o ON e.src = o.src
              GROUP BY e.dst) i ON n.node_id = i.node_id"""
      s"""WITH e0 AS (
            SELECT o_custkey AS c, 10000000000 + l_suppkey AS sp
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          edges AS (SELECT c AS src, sp AS dst FROM e0
                    UNION ALL SELECT sp, c FROM e0),
          nodes AS (SELECT node_id,
              CASE WHEN node_id IN (1, 2, 3) THEN 1 ELSE 0 END AS is_src
            FROM (SELECT DISTINCT x AS node_id FROM (
              SELECT src AS x FROM edges UNION ALL SELECT dst FROM edges))),
          outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
          pr0 AS (SELECT node_id, is_src,
              CAST(is_src * 1000000000000 AS BIGINT) AS pr FROM nodes),
          it1 AS (${iter("pr0")}),
          it2 AS (${iter("it1")}),
          it3 AS (${iter("it2")})
          SELECT node_id, pr FROM it3 ORDER BY pr DESC, node_id ASC LIMIT 20"""
    },

    "graph_kcore" -> {
      // replay the peel round-for-round (8-round budget; rounds past
      // the fixpoint are no-ops, mirroring the engine's early exit).
      // Every CTE is MATERIALIZED: each round references the previous
      // one three times, so DuckDB's default inlining would expand
      // the 8-round chain into ~3^8 scans of the base relation and
      // exhaust file handles before producing a row.
      def peel(prev: String, n: Int): String =
        s"""a$n AS MATERIALIZED (SELECT src FROM (
              SELECT src, count(*) AS deg FROM $prev GROUP BY src)
            WHERE deg >= 60),
          e$n AS MATERIALIZED (SELECT e.src, e.dst FROM $prev e
            WHERE e.src IN (SELECT src FROM a$n)
              AND e.dst IN (SELECT src FROM a$n))"""
      val rounds = (1 to 8).map(n => peel(if (n == 1) "e0" else s"e${n - 1}", n))
        .mkString(",\n          ")
      s"""WITH os AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          und AS MATERIALIZED (
            SELECT DISTINCT a.p AS a, b.p AS b
            FROM os a JOIN os b ON a.o = b.o AND a.p < b.p),
          e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
                 UNION ALL SELECT b, a FROM und),
          $rounds
          SELECT src AS node_id, CAST(count(*) AS BIGINT) AS deg_in_core
          FROM e8 GROUP BY src
          ORDER BY deg_in_core DESC, node_id ASC LIMIT 100"""
    },

    "graph_label_prop" -> {
      // 3 unrolled synchronous LPA rounds; the vote argmax rides the
      // same integer composite (cnt·1e11 − label) as the engine so
      // the (count desc, label asc) order is total on both sides
      // (1e11 because supplier node ids are c_custkey-collision-free
      // at 1e10 + l_suppkey, which exceeds the old 1e10 multiplier).
      // MATERIALIZED for the same inlining-blowup reason as
      // graph_kcore (each round reads the previous one twice).
      def iter(prev: String, n: Int): String =
        s"""v$n AS MATERIALIZED (
              SELECT e.dst AS node_id, p.community AS c, count(*) AS cnt
              FROM edges e JOIN $prev p ON e.src = p.node_id GROUP BY 1, 2),
          w$n AS MATERIALIZED (
              SELECT node_id, max_by(c, cnt * 100000000000 - c) AS voted
              FROM v$n GROUP BY node_id),
          l$n AS MATERIALIZED (
              SELECT n.node_id, coalesce(w.voted, p.community) AS community
              FROM nodes n
              LEFT JOIN w$n w ON n.node_id = w.node_id
              JOIN $prev p ON n.node_id = p.node_id)"""
      val rounds = (1 to 3).map(n => iter(if (n == 1) "l0" else s"l${n - 1}", n))
        .mkString(",\n          ")
      s"""WITH e0 AS MATERIALIZED (
            SELECT o_custkey AS c, 10000000000 + l_suppkey AS sp
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          edges AS MATERIALIZED (SELECT c AS src, sp AS dst FROM e0
                    UNION ALL SELECT sp, c FROM e0),
          nodes AS MATERIALIZED (SELECT DISTINCT x AS node_id FROM (
            SELECT src AS x FROM edges UNION ALL SELECT dst FROM edges)),
          l0 AS MATERIALIZED (SELECT node_id, node_id AS community FROM nodes),
          $rounds
          SELECT node_id, community FROM l3 ORDER BY node_id ASC"""
    },

    // exhaustive bounded path enumeration with UNION dedup, folded to
    // per-node hop minima — an independent formulation of the
    // engine's frontier expansion (which never enumerates paths).
    "graph_bfs" ->
      """WITH RECURSIVE e0 AS MATERIALIZED (
            SELECT o_custkey AS c, 10000000000 + l_suppkey AS sp
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          edges AS MATERIALIZED (SELECT c AS src, sp AS dst FROM e0
                    UNION ALL SELECT sp, c FROM e0),
          reach(node_id, d) AS (
            SELECT CAST(src AS BIGINT), 0 FROM (VALUES (1), (7)) s(src)
            UNION
            SELECT e.dst, r.d + 1
            FROM reach r JOIN edges e ON e.src = r.node_id
            WHERE r.d < 4)
          SELECT CAST(node_id AS BIGINT) AS node_id,
                 CAST(min(d) AS BIGINT) AS hops
          FROM reach GROUP BY node_id""",

    // 3 unrolled FULL Bellman–Ford relaxation rounds (every state row
    // relaxes every round) — provably equal to the engine's
    // frontier-pruned relaxation, and structurally different from it.
    "graph_sssp" -> {
      def iter(prev: String, n: Int): String =
        s"""c$n AS MATERIALIZED (
              SELECT e.dst AS node_id, min(p.dist + e.w) AS nd
              FROM edges e JOIN $prev p ON e.src = p.node_id GROUP BY e.dst),
          d$n AS MATERIALIZED (
              SELECT coalesce(p.node_id, c.node_id) AS node_id,
                     least(coalesce(p.dist, c.nd), coalesce(c.nd, p.dist)) AS dist
              FROM $prev p FULL OUTER JOIN c$n c ON p.node_id = c.node_id)"""
      val rounds = (1 to 3).map(n => iter(if (n == 1) "d0" else s"d${n - 1}", n))
        .mkString(",\n          ")
      s"""WITH e0 AS MATERIALIZED (
            SELECT o_custkey AS c, 10000000000 + l_suppkey AS sp,
                   CAST(l_quantity AS BIGINT) AS w
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          edges AS MATERIALIZED (SELECT c AS src, sp AS dst, w FROM e0
                    UNION ALL SELECT sp, c, w FROM e0),
          d0 AS MATERIALIZED (SELECT CAST(1 AS BIGINT) AS node_id,
                                     CAST(0 AS BIGINT) AS dist),
          $rounds
          SELECT node_id, CAST(dist AS BIGINT) AS dist FROM d3"""
    },

    "graph_clustering" ->
      """WITH os AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         und AS (
           SELECT DISTINCT a.p AS a, b.p AS b
           FROM os a JOIN os b ON a.o = b.o AND a.p < b.p),
         tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM und e1
           JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
           JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
         pernode AS (
           SELECT node_id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
             SELECT unnest([x, y, z]) AS node_id FROM tri)
           GROUP BY node_id),
         deg AS (
           SELECT node_id, CAST(count(*) AS BIGINT) AS degree FROM (
             SELECT unnest([a, b]) AS node_id FROM und)
           GROUP BY node_id),
         j AS (
           SELECT d.node_id,
                  CAST(coalesce(p.n_triangles, 0) AS BIGINT) AS n_triangles,
                  d.degree,
                  CAST(coalesce(p.n_triangles, 0) AS DOUBLE)
                    * CAST(2 AS DOUBLE)
                    / (d.degree * (d.degree - 1)) AS c
           FROM deg d LEFT JOIN pernode p USING (node_id)
           WHERE d.degree >= 2)
         SELECT node_id, n_triangles, degree, round(c, 6) AS coeff
         FROM j ORDER BY c DESC, node_id ASC LIMIT 20""",

    // per-source hop minima by exhaustive bounded path enumeration,
    // folded with integer 840 // d — structurally independent of the
    // engine's composite-keyed frontier
    "graph_closeness" ->
      """WITH RECURSIVE e0 AS MATERIALIZED (
            SELECT o_custkey AS c, 10000000000 + l_suppkey AS sp
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          edges AS MATERIALIZED (SELECT c AS src, sp AS dst FROM e0
                    UNION ALL SELECT sp, c FROM e0),
          reach(src_id, node_id, d) AS (
            SELECT CAST(src AS BIGINT), CAST(src AS BIGINT), 0 FROM (VALUES (1), (3), (5), (7)) s(src)
            UNION
            SELECT r.src_id, e.dst, r.d + 1
            FROM reach r JOIN edges e ON e.src = r.node_id
            WHERE r.d < 4),
          md AS (SELECT src_id, node_id, min(d) AS d
                 FROM reach GROUP BY src_id, node_id)
          SELECT CAST(node_id AS BIGINT) AS node_id,
                 CAST(count(*) AS BIGINT) AS n_reach,
                 CAST(sum(840 // d) AS BIGINT) AS hc840
          FROM md WHERE d > 0 GROUP BY node_id""",

    "er_candidates" -> erPairsSql,

    "er_candidates_multi" -> erMultiPairsSql,
    "er_candidates_multi_fine" -> erMultiFinePairsSql,

    // the multi-field pairs taken to their decision — the same
    // closure + survivor-election SQL as er_resolve over the
    // weighted-agreement pair relation
    "er_resolve_multi" ->
      s"""WITH RECURSIVE pr AS ($erMultiPairsSql),
          edges AS (
            SELECT a_id AS src, b_id AS dst FROM pr
            UNION ALL SELECT b_id, a_id FROM pr),
          nodes AS (SELECT DISTINCT src AS id FROM edges),
          reach AS (
            SELECT id, id AS lab FROM nodes
            UNION
            SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
          cc AS (SELECT id, CAST(min(lab) AS BIGINT) AS entity_id
                 FROM reach GROUP BY id),
          m AS (SELECT cc.id, cc.entity_id, c.c_acctbal AS q
                FROM cc JOIN customer c ON cc.id = c.c_custkey),
          sv AS (SELECT entity_id, id,
                   row_number() OVER (PARTITION BY entity_id
                                      ORDER BY q DESC, id ASC) AS rn
                 FROM m),
          st AS (SELECT entity_id,
                   max(CASE WHEN rn = 1 THEN id END) AS survivor_id,
                   count(*) AS n_members
                 FROM sv GROUP BY entity_id)
          SELECT m.id, m.entity_id, m.id = st.survivor_id AS is_survivor,
                 CAST(st.n_members AS BIGINT) AS n_members
          FROM m JOIN st USING (entity_id)""",

    // the three-epoch ER admission fold replayed from first
    // principles: shards rebuilt with the same typo surgery, the
    // register screen as NOT EXISTS vs the admitted union, dominance
    // as NOT EXISTS vs smaller-id screen survivors of the same shard
    // (a rejected survivor still dominates — the Admission law).
    "er_admission_loop" -> {
      val ty = "substr(name, 1, length(name)-1) || 'X'"
      def screen(sN: String, adm: Option[String]) =
        s"SELECT x.* FROM $sN x" +
          adm.map(a =>
            s""" WHERE NOT EXISTS (SELECT 1 FROM $a z
                   WHERE z.block = x.block
                     AND levenshtein(z.name, x.name) <= 1)""")
            .getOrElse("")
      def dominate(fN: String) =
        s"""SELECT x.* FROM $fN x
            WHERE NOT EXISTS (SELECT 1 FROM $fN y
              WHERE y.id < x.id AND y.block = x.block
                AND levenshtein(y.name, x.name) <= 1)"""
      s"""WITH r AS (
            SELECT c_custkey AS id, c_name AS name,
                   concat_ws('|', c_nationkey, c_mktsegment) AS block
            FROM customer),
          s0 AS (
            SELECT id, name, block FROM r WHERE id % 3 = 0
            UNION ALL
            SELECT id + 30000000000, $ty, block FROM r
            WHERE id % 3 = 0 AND id % 7 = 0),
          s1 AS (
            SELECT id, name, block FROM r WHERE id % 3 = 1
            UNION ALL
            SELECT id + 30000000000, $ty, block FROM r
            WHERE id % 3 = 1 AND id % 7 = 0
            UNION ALL
            SELECT id + 10000000000, $ty, block FROM r
            WHERE id % 3 = 0 AND id % 5 = 0),
          s2 AS (
            SELECT id, name, block FROM r WHERE id % 3 = 2
            UNION ALL
            SELECT id + 30000000000, $ty, block FROM r
            WHERE id % 3 = 2 AND id % 7 = 0
            UNION ALL
            SELECT id + 20000000000, $ty, block FROM r
            WHERE id % 3 = 1 AND id % 5 = 0),
          a0 AS MATERIALIZED (${dominate("s0")}),
          f1 AS MATERIALIZED (${screen("s1", Some("a0"))}),
          a1 AS MATERIALIZED (${dominate("f1")}),
          adm1 AS MATERIALIZED (
            SELECT * FROM a0 UNION ALL SELECT * FROM a1),
          f2 AS MATERIALIZED (${screen("s2", Some("adm1"))}),
          a2 AS MATERIALIZED (${dominate("f2")})
          SELECT CAST(id AS BIGINT) AS id, CAST(0 AS BIGINT) AS epoch FROM a0
          UNION ALL
          SELECT CAST(id AS BIGINT), CAST(1 AS BIGINT) FROM a1
          UNION ALL
          SELECT CAST(id AS BIGINT), CAST(2 AS BIGINT) FROM a2"""
    },

    "er_rollup" ->
      s"""WITH RECURSIVE pr AS ($erPairsSql),
          edges AS (
            SELECT a_id AS src, b_id AS dst FROM pr
            UNION ALL SELECT b_id, a_id FROM pr),
          nodes AS (SELECT DISTINCT src AS id FROM edges),
          reach AS (
            SELECT id, id AS lab FROM nodes
            UNION
            SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
          cc AS (SELECT id, CAST(min(lab) AS BIGINT) AS entity_id
                 FROM reach GROUP BY id),
          roster AS (
            SELECT c.c_custkey AS id,
                   coalesce(cc.entity_id, c.c_custkey) AS entity_id
            FROM customer c LEFT JOIN cc ON cc.id = c.c_custkey),
          members AS (
            SELECT entity_id, count(*) AS n_members
            FROM roster GROUP BY entity_id HAVING count(*) >= 2),
          rev AS (
            SELECT r.entity_id, count(*) AS n_orders,
                   CAST(sum(CAST(o.o_totalprice AS DECIMAL(12,2)))
                     AS DOUBLE) AS revenue
            FROM roster r JOIN orders o ON o.o_custkey = r.id
            GROUP BY r.entity_id)
          SELECT m.entity_id, CAST(m.n_members AS BIGINT) AS n_members,
                 coalesce(CAST(v.n_orders AS BIGINT), 0) AS n_orders,
                 coalesce(v.revenue, CAST(0 AS DOUBLE)) AS revenue
          FROM members m LEFT JOIN rev v ON v.entity_id = m.entity_id""",

    "er_probe_eval" ->
      """WITH shard AS (
           SELECT c_custkey + 10000000000 AS shard_id,
                  substr(c_name, 1, length(c_name) - 1) || 'X' AS name,
                  c_nationkey, c_mktsegment
           FROM customer WHERE c_custkey % 9 = 0),
          m AS (
           SELECT s.shard_id, c.c_custkey AS indexed_id
           FROM shard s JOIN customer c
             ON c.c_nationkey = s.c_nationkey
            AND c.c_mktsegment = s.c_mktsegment
           WHERE levenshtein(s.name, c.c_name) <= 1),
          agg AS (
           SELECT CAST(count(*) AS BIGINT) AS n_matches,
                  CAST(sum(CASE WHEN indexed_id = shard_id - 10000000000
                                THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_self_matches,
                  CAST(count(DISTINCT CASE WHEN indexed_id = shard_id - 10000000000
                                           THEN shard_id END) AS BIGINT)
                    AS n_caught
           FROM m)
          SELECT CAST((SELECT count(*) FROM shard) AS BIGINT) AS n_shard,
                 n_matches, n_self_matches, n_caught,
                 round(CAST(n_caught AS DOUBLE)
                   / CAST((SELECT count(*) FROM shard) AS DOUBLE), 6)
                   AS recall
          FROM agg""",

    "er_probe" ->
      """WITH shard AS (
           SELECT c_custkey + 10000000000 AS shard_id,
                  substr(c_name, 1, length(c_name) - 1) || 'X' AS name,
                  c_nationkey, c_mktsegment
           FROM customer WHERE c_custkey % 9 = 0)
         SELECT s.shard_id, c.c_custkey AS indexed_id,
                CAST(levenshtein(s.name, c.c_name) AS INT) AS name_dist
         FROM shard s JOIN customer c
           ON c.c_nationkey = s.c_nationkey
          AND c.c_mktsegment = s.c_mktsegment
         WHERE levenshtein(s.name, c.c_name) <= 1""",

    "er_probe_rescored" ->
      """WITH shard AS (
           SELECT c_custkey + 10000000000 AS shard_id,
                  substr(c_name, 1, length(c_name) - 1) || 'X' AS name,
                  c_custkey AS orig_key, c_nationkey
           FROM customer WHERE c_custkey % 9 = 0),
         m AS (
           SELECT s.shard_id, s.orig_key, c.c_custkey AS indexed_id,
                  CAST(levenshtein(s.name, c.c_name) AS INT) AS name_dist
           FROM shard s JOIN customer c
             ON c.c_nationkey = s.c_nationkey
           WHERE levenshtein(s.name, c.c_name) <= 1)
         SELECT m.shard_id, m.indexed_id, m.name_dist,
                CAST(3
                   + 2 * (CASE WHEN i.c_mktsegment = o.c_mktsegment
                          THEN 1 ELSE 0 END)
                   + 1 * (CASE WHEN abs(i.c_acctbal - o.c_acctbal) <= 100.0
                          THEN 1 ELSE 0 END) AS INT) AS score
         FROM m
         JOIN customer i ON i.c_custkey = m.indexed_id
         JOIN customer o ON o.c_custkey = m.orig_key""",

    "er_probe_multi" ->
      """WITH shard AS (
           SELECT c_custkey + 10000000000 AS shard_id,
                  substr(c_name, 1, length(c_name) - 1) || 'X' AS name,
                  c_nationkey, c_mktsegment, c_acctbal
           FROM customer WHERE c_custkey % 9 = 0)
         SELECT shard_id, indexed_id, score FROM (
           SELECT s.shard_id, c.c_custkey AS indexed_id,
                  CAST(3 * (CASE WHEN levenshtein(s.name, c.c_name) <= 1
                            THEN 1 ELSE 0 END)
                     + 2 * (CASE WHEN s.c_mktsegment = c.c_mktsegment
                            THEN 1 ELSE 0 END)
                     + 1 * (CASE WHEN abs(s.c_acctbal - c.c_acctbal) <= 100.0
                            THEN 1 ELSE 0 END) AS INT) AS score
           FROM shard s JOIN customer c
             ON c.c_nationkey = s.c_nationkey)
         WHERE score >= 4""",

    "er_resolve" ->
      s"""WITH RECURSIVE pr AS ($erPairsSql),
          edges AS (
            SELECT a_id AS src, b_id AS dst FROM pr
            UNION ALL SELECT b_id, a_id FROM pr),
          nodes AS (SELECT DISTINCT src AS id FROM edges),
          reach AS (
            SELECT id, id AS lab FROM nodes
            UNION
            SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
          cc AS (SELECT id, CAST(min(lab) AS BIGINT) AS entity_id
                 FROM reach GROUP BY id),
          m AS (SELECT cc.id, cc.entity_id, c.c_acctbal AS q
                FROM cc JOIN customer c ON cc.id = c.c_custkey),
          sv AS (SELECT entity_id, id,
                   row_number() OVER (PARTITION BY entity_id
                                      ORDER BY q DESC, id ASC) AS rn
                 FROM m),
          st AS (SELECT entity_id,
                   max(CASE WHEN rn = 1 THEN id END) AS survivor_id,
                   count(*) AS n_members
                 FROM sv GROUP BY entity_id)
          SELECT m.id, m.entity_id, m.id = st.survivor_id AS is_survivor,
                 CAST(st.n_members AS BIGINT) AS n_members
          FROM m JOIN st USING (entity_id)""",

    "graph_triangles" ->
      """WITH os AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         und AS (
           SELECT DISTINCT a.p AS a, b.p AS b
           FROM os a JOIN os b ON a.o = b.o AND a.p < b.p),
         tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM und e1
           JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
           JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
         pernode AS (
           SELECT node_id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
             SELECT unnest([x, y, z]) AS node_id FROM tri)
           GROUP BY node_id)
         SELECT node_id, n_triangles FROM pernode
         ORDER BY n_triangles DESC, node_id ASC LIMIT 20""",

    "graph_triangles_incremental" ->
      """WITH os AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                     FROM lineitem WHERE l_orderkey % 16 < 2),
         und AS (
           SELECT DISTINCT a.p AS a, b.p AS b
           FROM os a JOIN os b ON a.o = b.o AND a.p < b.p),
         tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM und e1
           JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
           JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
         pernode AS (
           SELECT node_id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
             SELECT unnest([x, y, z]) AS node_id FROM tri)
           GROUP BY node_id)
         SELECT node_id, n_triangles FROM pernode
         ORDER BY n_triangles DESC, node_id ASC LIMIT 20""",

    "q_window_analytics" ->
      """SELECT o_custkey, o_orderkey,
           lead(o_orderkey, 1) OVER w AS next_order,
           first_value(o_orderkey) OVER w AS first_order,
           nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_order,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd
         FROM orders WHERE o_custkey < 50
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""",

    "q_window_rank" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
           FROM orders) WHERE rk <= 3""",

    "q_window_ntile" ->
      """SELECT o_custkey, o_orderkey,
           CAST(ntile(4) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate ASC, o_orderkey ASC) AS INT)
             AS quartile
         FROM orders WHERE o_custkey < 200""",

    "q_window_ignore_nulls" ->
      """SELECT l_orderkey, l_linenumber,
           CASE WHEN l_linenumber % 3 <> 0
                THEN CAST(l_quantity AS DOUBLE) END AS obs,
           last_value(CASE WHEN l_linenumber % 3 <> 0
                           THEN CAST(l_quantity AS DOUBLE) END IGNORE NULLS)
             OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
         FROM lineitem WHERE l_orderkey < 1000""",

    "q_window_running" ->
      """SELECT l_orderkey, l_linenumber,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2)))
             OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
         FROM lineitem WHERE l_orderkey < 1000""",

    "q_window_lag" ->
      """SELECT user_id, event_id, value_delta FROM (
           SELECT user_id, event_id,
             value - lag(value, 1) OVER (PARTITION BY user_id
                                         ORDER BY ts ASC, event_id ASC) AS value_delta
           FROM events) WHERE value_delta IS NOT NULL""",

    "q_window_dense" ->
      """SELECT c_mktsegment, c_custkey, dr, quartile FROM (
           SELECT c_mktsegment, c_custkey,
             dense_rank() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS dr,
             ntile(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS quartile
           FROM customer) WHERE dr <= 10""",

    "q_sessions" ->
      """WITH flagged AS (
           SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                  THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
         sessioned AS (
           SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM flagged),
         per_session AS (
           SELECT user_id, session_id, count(*) AS n_events
           FROM sessioned GROUP BY user_id, session_id)
         SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events
         FROM per_session GROUP BY user_id""",

    "q_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS upper_name,
           substring(p_name, 1, 5) AS prefix5, length(p_name) AS name_len,
           replace(p_type, ' ', '_') AS type_snake,
           lpad(p_brand, 12, '*') AS brand_padded,
           p_brand || '|' || p_type AS brand_type
         FROM part""",

    "q_split_getitem" ->
      """SELECT o_orderkey, split_part(o_orderpriority, '-', 1) AS priority_num,
           split_part(o_orderpriority, '-', 2) AS priority_word
         FROM orders""",

    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2)) AS DOUBLE) AS disc_amount,
           CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
           CAST(ceil(l_extendedprice / 100.0) AS BIGINT) AS price_ceil_h,
           round(sqrt(l_extendedprice), 6) AS price_sqrt,
           abs(l_discount - 0.05) AS disc_dev,
           l_orderkey % 7 AS key_mod7
         FROM lineitem WHERE l_orderkey < 400""",

    "q_case_when" ->
      """SELECT CASE WHEN o_totalprice > 200000 THEN 'large'
                     WHEN o_totalprice > 100000 THEN 'medium'
                     ELSE 'small' END AS size_class, count(*) AS n
         FROM orders GROUP BY 1""",

    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
         FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL""",

    "q_variant" ->
      """SELECT event_id, user_id AS uid, event_type AS etype,
           round(value * 2, 6) AS v2,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           CAST(NULL AS INT) AS missing
         FROM events""",

    "q_json_agg" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1""",

    "q_date_trunc_agg" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",

    "q_date_parts" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(quarter(o_orderdate) AS INT) AS q,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY 1, 2""",

    "q_stream_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n,
           CAST(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DECIMAL(20,2)) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""")
}
