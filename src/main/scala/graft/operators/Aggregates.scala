package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Category D — aggregations (SURVEY.md §2.1.D).
  *
  * All aggregates are declarative groupBy/agg: Spark plans them as
  * partial (map-side) + final HashAggregate, so at 100 TB each is a
  * single shuffle keyed by the (low-cardinality) group columns.
  * Double sums are rounded per SURVEY §2.0 rule 2 for oracle parity;
  * rollup/cube null-producing groups get explicit NULLS FIRST ordering
  * on both engines (defaults differ).
  */
object Aggregates {

  val queries: Map[String, Q] = Map(
    // TPC-H Q1-style pricing summary: multi-aggregate groupBy under a
    // pushed-down shipdate filter. The canonical partial+final agg.
    "agg_pricing_summary" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // Post-aggregation filter (HAVING).
    "agg_having" -> ((s, d) => {
      // Scale-relative threshold (> total/5.2) so the predicate is
      // selective-but-nonempty at every scale factor; the total is a
      // 1-row broadcast, not a collect.
      val c = Tables.customer(s, d)
      val tot = c.agg(count(lit(1)).as("tot"))
      c.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          round(avg("c_acctbal"), 2).as("avg_bal"))
        .crossJoin(broadcast(tot))
        .filter(col("n_customers") > col("tot") / 5.2)
        .drop("tot")
        .orderBy("c_mktsegment")
    }),

    // Exact COUNT(DISTINCT): expands to a two-phase distinct agg.
    "agg_distinct" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")),

    // Two DISTINCT aggregates in one operator (expand + double shuffle).
    "agg_multi_distinct" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(countDistinct("source").as("n_sources"),
          countDistinct("n_chars").as("n_lengths"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")),

    // HLL-sketch distinct: single-pass, mergeable at any parallelism —
    // the 100 TB answer when exactness isn't required. No oracle (HLL
    // implementations differ); agg_distinct is the exact twin.
    "agg_approx_distinct" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(approx_count_distinct("user_id").as("approx_users"))
        .orderBy("event_type")),

    // Sketch quantiles: approx_percentile is single-pass and
    // mergeable (a KLL/GK-style sketch) — the 100 TB answer where
    // the exact percentile's full sort-per-group won't fly. No
    // oracle (sketch implementations differ across engines);
    // agg_median_quantile is the exact twin, and ApproxSpec bounds
    // the rank error against it.
    "agg_approx_quantile" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("approx_percentile(l_quantity, 0.5)").as("p50"),
          expr("approx_percentile(l_quantity, array(0.25, 0.75))")
            .as("p25_75"),
          expr("approx_percentile(l_extendedprice, 0.99)").as("p99_price"))
        .select(col("l_returnflag"), col("p50"),
          col("p25_75")(0).as("p25"), col("p25_75")(1).as("p75"),
          col("p99_price"))
        .orderBy("l_returnflag")),

    // ROLLUP: hierarchy subtotals, null-padded grouping columns.
    // ROLLUP after a join trips Spark 4.1's ambiguous-self-join
    // detection in the DataFrame API (rollup duplicates grouping refs
    // internally); the SQL form plans identically and cleanly.
    "agg_rollup" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_ru")
      Tables.customer(s, d).createOrReplaceTempView("customer_ru")
      s.sql(
        """SELECT c_mktsegment, o_orderpriority, count(*) AS n,
          | round(sum(o_totalprice), 2) AS total_price
          |FROM orders_ru JOIN customer_ru ON o_custkey = c_custkey
          |GROUP BY ROLLUP (c_mktsegment, o_orderpriority)
          |ORDER BY c_mktsegment ASC NULLS FIRST,
          |         o_orderpriority ASC NULLS FIRST""".stripMargin)
    }),

    // CUBE: all grouping combinations.
    "agg_cube" -> ((s, d) =>
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // Filtered + boolean aggregates: count_if / bool_or / bool_and.
    "agg_filtered_bool" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(count_if(col("value") > 100).as("n_big"),
          bool_or(col("value") > 190).as("any_huge"),
          bool_and(col("value") > 0.1).as("all_pos"))
        .orderBy("event_type")),

    // String aggregation (listagg/string_agg analog) with explicit
    // element order for cross-engine determinism.
    "agg_listagg" -> ((s, d) =>
      Tables.nation(s, d)
        .groupBy("n_regionkey")
        .agg(concat_ws(",", sort_array(collect_list(col("n_name"))))
          .as("names"))
        .orderBy("n_regionkey")),

    // Bitwise aggregates over the integer part of value (floor first:
    // DuckDB ROUNDS double->int casts, Spark truncates).
    "agg_bitwise" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("v", floor(col("value")).cast("long"))
        .groupBy("event_type")
        .agg(bit_and(col("v")).as("ba"),
          bit_or(col("v")).as("bo"),
          bit_xor(col("v")).as("bx"))
        .orderBy("event_type")),

    // PIVOT: event-type counts as columns per user (explicit value
    // list so the plan needs no discovery pass; na.fill(0) matches the
    // oracle's count(CASE…)=0 for absent combos).
    "agg_pivot" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0)
        .orderBy("user_id")),

    // Explicit GROUPING SETS (SQL-only surface in Spark). Unrounded
    // mean, as text_stats (round() diverges from DuckDB on .xx5).
    "agg_grouping_sets" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("documents_gs")
      s.sql(
        """SELECT lang, source, count(*) AS n_docs,
          | avg(n_chars) AS avg_chars
          |FROM documents_gs
          |GROUP BY GROUPING SETS ((lang), (source), ())
          |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin)
    }),

    // Statistical aggregates: stddev/variance/corr/covar.
    "agg_stats" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_extendedprice"), col("l_quantity")), 4).as("corr_pq"),
          round(covar_samp(col("l_extendedprice"), col("l_quantity")), 2)
            .as("covar_pq"))
        .orderBy("l_returnflag")),

    // argmin/argmax: the order that maximizes/minimizes a measure.
    // Price ties break by order key (the largest key among the maxima,
    // the smallest among the minima), so the answer is total even when
    // prices repeat.
    "agg_minmax_by" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy((col("o_custkey") % 10).as("cust_bucket"))
        .agg(
          max_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey")))
            .as("biggest_order"),
          min_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey")))
            .as("smallest_order"),
          round(max("o_totalprice"), 2).as("max_price"))
        .orderBy("cust_bucket")),

    // Exact quantiles (interpolating): percentile == quantile_cont.
    "agg_median_quantile" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("price_p90"))
        .orderBy("l_returnflag")),

    // Bivariate statistics: Pearson correlation, sample covariance and
    // the least-squares fit (slope/intercept) per group — one
    // partial+final hash aggregate; the co-moment accumulators merge
    // associatively, so the partial split holds at any scale. Rounds
    // (4dp on the ~unit-scale corr, 2dp on the rest) absorb the
    // low-bit differences between the engines' one-pass update orders.
    "agg_corr" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          round(corr("l_quantity", "l_extendedprice"), 4).as("qp_corr"),
          round(covar_samp("l_quantity", "l_extendedprice"), 2)
            .as("qp_covar"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 2)
            .as("fit_slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 2)
            .as("fit_intercept"))
        .orderBy("l_returnflag")),

    // Higher central moments. Definition hazard: Spark's skewness/
    // kurtosis are the POPULATION statistics (g1 = m3/m2^1.5,
    // excess g2 = m4/m2² − 3) while DuckDB's natives are the
    // sample-corrected G1/G2 — so the oracle computes Spark's
    // definition explicitly from centered-power averages instead of
    // calling DuckDB's functions. 4-dp round absorbs one-pass vs
    // two-pass accumulation noise.
    "agg_higher_moments" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          // + 0.0 collapses IEEE -0.0 to +0.0: DuckDB's two-pass m3
          // can round to -0 where Spark's one-pass rounds to +0
          // (seen at sf0.001), and the driver compares FORMATTED
          // values, so the sign of zero is a hash mismatch.
          (round(skewness(col("l_quantity")), 4) + 0.0).as("skew"),
          (round(kurtosis(col("l_quantity")), 4) + 0.0).as("kurt"))
        .orderBy("l_returnflag")),

    // The reshape pair to agg_pivot: melt the wide per-user type
    // counts back to long (user_id, event_type, n) rows with the
    // native `Dataset.unpivot` (SQL UNPIVOT/stack) — wide→long is its
    // own operator surface, not a pivot re-run. Row-local reshaping:
    // the only exchanges are the pivot's own agg and the final sort.
    "agg_unpivot" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0)
      wide.unpivot(Array(col("user_id")), types.map(col).toArray,
          "event_type", "n")
        .orderBy("user_id", "event_type")
    }),

    // Fixed-width value histogram over the event stream — the
    // distribution-profiling op a pipeline runs before choosing
    // filter thresholds. Bucketing is floor(value/25): one IEEE
    // double divide + floor, identical bit-for-bit in both engines,
    // then a single partial+final hash aggregate on the bucket key —
    // the canonical map-side-combinable shape (bucket cardinality is
    // ~range/width regardless of row count, so the final stage is
    // tiny at any scale). The per-bucket sum is INTEGER CENTS (value
    // sits on the 0.01 lattice; the prob_ppm fixed-point pattern):
    // round(sum(double), 2) is order-dependent across partial
    // aggregation and could land a cross-engine 2-dp tie.
    "agg_histogram" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(floor(col("value") / 25.0).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("total_cents"),
          min("value").as("min_value"),
          max("value").as("max_value"))
        .orderBy("bucket"))

    ,
    // Quantity-weighted mean price — the weighted-average aggregate
    // done EXACTLY: numerator and denominator accumulate as integers
    // (price in cents × integer quantity), so partial aggregation
    // order cannot move them; the final mean is two IEEE divisions of
    // identical integers, deterministic cross-engine (a float
    // sum(w·x)/sum(w) would be the order-dependent hazard).
    "agg_weighted_avg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          sum((round(col("l_extendedprice") * 100) * col("l_quantity"))
            .cast("long")).as("wsum_cents"),
          sum(col("l_quantity").cast("long")).as("wtot"))
        .select(col("l_returnflag"), col("wsum_cents"), col("wtot"),
          (col("wsum_cents").cast("double") / col("wtot") / 100.0)
            .as("wavg"))
        .orderBy("l_returnflag"))

    ,
    // MODE with a DETERMINISTIC tiebreak (most frequent value; ties →
    // lexicographically smallest): two partial+final hash aggregates —
    // per-(group, value) counts, then min_by over the (−n, value)
    // struct, whose ordering is exactly "max count, then min value".
    // SQL's ANY-semantics mode() is nondeterministic under ties; the
    // struct-ordered argmin pins it, which is what makes the op
    // oracle-checkable at all.
    "agg_mode" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .groupBy("o_orderstatus")
        .agg(min_by(col("o_orderpriority"),
          struct((-col("n")).as("neg"), col("o_orderpriority")))
          .as("mode_priority"),
          max("n").as("n_orders"))
        .orderBy("o_orderstatus"))
  )

  val oracles: Map[String, String] = Map(
    "agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        | round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(avg(l_extendedprice), 4) AS avg_price,
        | round(avg(l_discount), 4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "agg_having" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        | round(avg(c_acctbal), 2) AS avg_bal
        |FROM customer GROUP BY c_mktsegment
        |HAVING count(*) > (SELECT count(*) FROM customer) / 5.2
        |ORDER BY c_mktsegment""".stripMargin,

    "agg_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        | count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_multi_distinct" ->
      """SELECT lang, count(DISTINCT source) AS n_sources,
        | count(DISTINCT n_chars) AS n_lengths, count(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "agg_rollup" ->
      """SELECT c_mktsegment, o_orderpriority, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY ROLLUP (c_mktsegment, o_orderpriority)
        |ORDER BY c_mktsegment ASC NULLS FIRST,
        |         o_orderpriority ASC NULLS FIRST""".stripMargin,

    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST,
        |         l_linestatus ASC NULLS FIRST""".stripMargin,

    "agg_filtered_bool" ->
      """SELECT event_type,
        | CAST(count(*) FILTER (WHERE value > 100) AS BIGINT) AS n_big,
        | bool_or(value > 190) AS any_huge,
        | bool_and(value > 0.1) AS all_pos
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_listagg" ->
      """SELECT n_regionkey,
        | string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "agg_bitwise" ->
      """SELECT event_type,
        | bit_and(CAST(floor(value) AS BIGINT)) AS ba,
        | bit_or(CAST(floor(value) AS BIGINT)) AS bo,
        | bit_xor(CAST(floor(value) AS BIGINT)) AS bx
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_pivot" ->
      """SELECT user_id,
        | CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
        |   AS click,
        | CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT)
        |   AS error,
        | CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
        |   AS BIGINT) AS purchase,
        | CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT)
        |   AS signup,
        | CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT)
        |   AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "agg_grouping_sets" ->
      """SELECT lang, source, count(*) AS n_docs,
        | avg(n_chars) AS avg_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((lang), (source), ())
        |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin,

    "agg_stats" ->
      """SELECT l_returnflag,
        | round(stddev_samp(l_quantity), 4) AS sd_qty,
        | round(var_samp(l_quantity), 4) AS var_qty,
        | round(corr(l_extendedprice, l_quantity), 4) AS corr_pq,
        | round(covar_samp(l_extendedprice, l_quantity), 2) AS covar_pq
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_minmax_by" ->
      """SELECT o_custkey % 10 AS cust_bucket,
        | first(o_orderkey ORDER BY o_totalprice DESC, o_orderkey DESC)
        |   AS biggest_order,
        | first(o_orderkey ORDER BY o_totalprice, o_orderkey)
        |   AS smallest_order,
        | round(max(o_totalprice), 2) AS max_price
        |FROM orders GROUP BY 1 ORDER BY cust_bucket""".stripMargin,

    "agg_median_quantile" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.25), 4) AS p25,
        | round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        | round(quantile_cont(l_quantity, 0.75), 4) AS p75,
        | round(quantile_cont(l_extendedprice, 0.9), 4) AS price_p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_corr" ->
      """SELECT l_returnflag, count(*) AS n,
        | round(corr(l_quantity, l_extendedprice), 4) AS qp_corr,
        | round(covar_samp(l_quantity, l_extendedprice), 2) AS qp_covar,
        | round(regr_slope(l_extendedprice, l_quantity), 2) AS fit_slope,
        | round(regr_intercept(l_extendedprice, l_quantity), 2)
        |   AS fit_intercept
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Spark's population definitions, spelled out (DuckDB's native
    // skewness/kurtosis are sample-corrected and would not match).
    "agg_higher_moments" ->
      """WITH m AS (
        |  SELECT l_returnflag, avg(l_quantity) AS mu
        |  FROM lineitem GROUP BY 1
        |), c AS (
        |  SELECT l.l_returnflag, count(*) AS n,
        |    avg(pow(l_quantity - mu, 2)) AS m2,
        |    avg(pow(l_quantity - mu, 3)) AS m3,
        |    avg(pow(l_quantity - mu, 4)) AS m4
        |  FROM lineitem l JOIN m USING (l_returnflag)
        |  GROUP BY 1
        |)
        |SELECT l_returnflag, n,
        |  round(m3 / pow(m2, 1.5), 4) + 0.0 AS skew,
        |  round(m4 / (m2 * m2) - 3, 4) + 0.0 AS kurt
        |FROM c ORDER BY l_returnflag""".stripMargin,

    // Long-form twin via conditional aggregation + UNION ALL melt —
    // the portable spelling of UNPIVOT.
    "agg_unpivot" ->
      """WITH wide AS (
        |  SELECT user_id,
        |    count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |    count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END)
        |      AS purchase,
        |    count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |    count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |  FROM events GROUP BY 1
        |)
        |SELECT user_id, event_type, n FROM (
        |  SELECT user_id, 'click' AS event_type, click AS n FROM wide
        |  UNION ALL SELECT user_id, 'error', error FROM wide
        |  UNION ALL SELECT user_id, 'purchase', purchase FROM wide
        |  UNION ALL SELECT user_id, 'signup', signup FROM wide
        |  UNION ALL SELECT user_id, 'view', view FROM wide
        |) t ORDER BY user_id, event_type""".stripMargin,

    "agg_histogram" ->
      """SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    "agg_weighted_avg" ->
      """SELECT l_returnflag,
        | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |     * CAST(l_quantity AS BIGINT)) AS BIGINT) AS wsum_cents,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wtot,
        | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |     * CAST(l_quantity AS BIGINT)) AS DOUBLE)
        |   / sum(CAST(l_quantity AS BIGINT)) / 100.0 AS wavg
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // Window formulation of the same deterministic argmin: rank by
    // (n DESC, value ASC), keep rn = 1.
    "agg_mode" ->
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |  FROM orders GROUP BY 1, 2
        |), r AS (
        |  SELECT o_orderstatus, o_orderpriority, n,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY n DESC, o_orderpriority) AS rn
        |  FROM c
        |)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority,
        |  n AS n_orders
        |FROM r WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin
  )
}
