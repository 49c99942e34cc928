package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Category B — projection / filter / predicates (SURVEY.md §2.1.B).
  *
  * Row-local expression work: stays inside whole-stage codegen, no
  * shuffle except the final presentation ORDER BY. At 100 TB these are
  * pure map stages — cost is scan-bound.
  */
object Filters {

  val queries: Map[String, Q] = Map(
    // Derived columns: arithmetic + CASE, the per-row compute kernel.
    "project_exprs" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          // Raw IEEE product, deliberately NOT rounded: both engines
          // multiply in the same order so the double is bit-identical;
          // round() here would diverge on exact .xx5 halfway values
          // (Spark rounds the decimal string, DuckDB the binary).
          (col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))).as("charge"),
          when(col("l_quantity") >= 40, "bulk")
            .when(col("l_quantity") >= 15, "mid")
            .otherwise("small").as("qty_band"))
        // every projected column: (l_orderkey, l_linenumber) repeats
        // in scaled copies of lineitem
        .orderBy("l_orderkey", "l_linenumber", "charge", "qty_band")),

    // Compound predicates: AND/OR/NOT, BETWEEN, IN, LIKE.
    "filter_complex" -> ((s, d) =>
      Tables.orders(s, d)
        .filter(
          (col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            && col("o_totalprice").between(50000, 150000)
            && !(col("o_orderstatus") === "P"))
          || (col("o_orderpriority").like("5-%")
            && col("o_totalprice") > 450000))
        .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
        .orderBy("o_orderkey")),

    // Conditional expressions: CASE buckets, nullif/coalesce, greatest/least.
    "filter_conditional" -> ((s, d) =>
      Tables.orders(s, d)
        .select(
          when(col("o_totalprice") < 50000, "low")
            .when(col("o_totalprice") < 150000, "mid")
            .otherwise("high").as("price_band"),
          coalesce(nullif(col("o_orderstatus"), lit("P")), lit("PENDING"))
            .as("status_norm"),
          greatest(col("o_totalprice"), lit(100000.0)).as("g"),
          least(col("o_totalprice"), lit(100000.0)).as("l"))
        .groupBy("price_band", "status_norm")
        .agg(count(lit(1)).as("n"),
          round(sum("g"), 2).as("sum_capped_lo"),
          round(sum("l"), 2).as("sum_capped_hi"))
        .orderBy("price_band", "status_norm")),

    // NULL-safe comparison semantics (`<=>` / IS [NOT] DISTINCT
    // FROM) — the three-valued-logic surface a data-cleaning filter
    // must get right: plain `=` is NULL when either side is NULL
    // (and counts as false under a filter), while the null-safe
    // variants treat NULL = NULL as true. Counted side by side over
    // the same derived nullable pair so the output EXHIBITS the
    // difference; single aggregate row, all integers.
    "filter_null_safe" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("a",
          when(col("event_type") =!= "error", col("event_type")))
        .withColumn("b",
          when(col("value") <= 250, col("event_type")))
        .agg(
          sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("n_eq"),
          sum(when(col("a") <=> col("b"), 1L).otherwise(0L))
            .as("n_eq_nullsafe"),
          sum(when(!(col("a") <=> col("b")), 1L).otherwise(0L))
            .as("n_distinct_from")))
  )

  val oracles: Map[String, String] = Map(
    "project_exprs" ->
      """SELECT l_orderkey, l_linenumber,
        | l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
        | CASE WHEN l_quantity >= 40 THEN 'bulk'
        |      WHEN l_quantity >= 15 THEN 'mid'
        |      ELSE 'small' END AS qty_band
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, charge, qty_band""".stripMargin,

    "filter_complex" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
        |FROM orders
        |WHERE (o_orderpriority IN ('1-URGENT', '2-HIGH')
        |       AND o_totalprice BETWEEN 50000 AND 150000
        |       AND NOT (o_orderstatus = 'P'))
        |   OR (o_orderpriority LIKE '5-%' AND o_totalprice > 450000)
        |ORDER BY o_orderkey""".stripMargin,

    "filter_conditional" ->
      """SELECT
        | CASE WHEN o_totalprice < 50000 THEN 'low'
        |      WHEN o_totalprice < 150000 THEN 'mid'
        |      ELSE 'high' END AS price_band,
        | coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_norm,
        | count(*) AS n,
        | round(sum(greatest(o_totalprice, 100000)), 2) AS sum_capped_lo,
        | round(sum(least(o_totalprice, 100000)), 2) AS sum_capped_hi
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY price_band, status_norm""".stripMargin,

    "filter_null_safe" ->
      """WITH t AS (
        |  SELECT CASE WHEN event_type <> 'error' THEN event_type END AS a,
        |    CASE WHEN value <= 250 THEN event_type END AS b
        |  FROM events
        |)
        |SELECT
        |  CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_eq,
        |  CAST(sum(CASE WHEN a IS NOT DISTINCT FROM b THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_eq_nullsafe,
        |  CAST(sum(CASE WHEN a IS DISTINCT FROM b THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_distinct_from
        |FROM t""".stripMargin
  )
}
