package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Category G — scalar function families (SURVEY.md §2.1.G).
  *
  * One declared query per family, each exercising many functions in a
  * single row-wise projection so the whole thing stays inside one
  * WholeStageCodegen span (no shuffle except the final order).
  *
  * Cross-engine hazards handled here (FIXTURES.md checklist):
  * DuckDB lists are 1-indexed, DuckDB `year()`/`len()` return BIGINT
  * (cast to INT on the oracle side), Spark `dayofweek` is 1=Sunday vs
  * DuckDB 0=Sunday (normalize Spark by -1), float outputs rounded to
  * 4dp, money sums via exact DECIMAL(12,2) arithmetic.
  */
object Functions {

  val queries: Map[String, Q] = Map(
    // String family over part names (bounded projection, one scan).
    "str_funcs" -> ((s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          upper(col("p_name")).as("up"),
          lower(col("p_brand")).as("lo"),
          length(col("p_name")).as("len"),
          substring(col("p_name"), 1, 5).as("sub5"),
          concat(col("p_type"), lit("/"), col("p_brand")).as("cat"),
          lpad(col("p_brand"), 10, "*").as("pad"),
          regexp_replace(col("p_name"), "e", "3").as("repl"),
          split(col("p_name"), " ").getItem(0).as("first_word"),
          regexp_extract(col("p_name"), "^([a-z]+)", 1).as("re_word"),
          col("p_name").like("%a%").as("has_a"))
        .orderBy("p_partkey")),

    // Date/time family over orderdate (stored as midnight timestamps).
    "date_funcs" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          date_trunc("month", col("o_orderdate")).as("mstart"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
            .as("days_since"),
          date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
          // Spark dayofweek: 1=Sunday; normalize to DuckDB's 0=Sunday.
          (dayofweek(col("o_orderdate")) - 1).as("dow"))
        .orderBy("o_orderkey")),

    // Math family, row-wise over a bounded lineitem slice.
    "math_funcs" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") <= 400)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 1).as("r1"),
          abs(col("l_discount") - 0.05).as("ab"),
          ceil(col("l_quantity")).as("ce"),
          floor(col("l_extendedprice")).as("fl"),
          round(pow(col("l_quantity"), 2), 4).as("sq"),
          round(log(col("l_extendedprice")), 4).as("lg"),
          round(log10(col("l_extendedprice")), 4).as("l10"),
          round(sqrt(col("l_extendedprice")), 4).as("sqr"),
          (col("l_orderkey") % 7).as("md"),
          signum(col("l_discount") - 0.05).cast("int").as("sg"))
        // every projected column: (l_orderkey, l_linenumber) repeats
        // in scaled copies of lineitem
        .orderBy("l_orderkey", "l_linenumber", "r1", "ab", "ce", "fl",
          "sq", "lg", "l10", "sqr", "md", "sg")),

    // Array family with lambda functions over the embedding vectors.
    // Structural results + per-element rounds (no cross-element float
    // sums except an 8-element ordered slice — identical fold order on
    // both engines, double arithmetic, so bit-stable).
    "array_funcs" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          size(col("embedding")).as("n"),
          // `+ 0.0` normalizes IEEE negative zero after rounding —
          // DuckDB round(-1e-5, 4) yields -0.0, which hash-compares
          // unequal to 0.0.
          (round(element_at(col("embedding"), 1).cast("double"), 4) + 0.0)
            .as("e1"),
          size(expr("filter(embedding, x -> x > 0)")).as("n_pos"),
          (round(element_at(sort_array(col("embedding")), 1)
            .cast("double"), 4) + 0.0).as("mn"),
          (round(element_at(sort_array(col("embedding"), asc = false), 1)
            .cast("double"), 4) + 0.0).as("mx"),
          (round(expr(
            "aggregate(slice(embedding, 1, 8), 0D, (a, x) -> a + x)"), 4)
            + 0.0).as("head_sum"),
          array_contains(expr("transform(embedding, x -> x > 0.5)"), true)
            .as("any_big"))
        .orderBy("vec_id")),

    // Map family. The data has no map column, so one is BUILT from
    // events (literal keys, column values); the projected output is
    // plain scalars, so the query IS oracle-checkable — DuckDB builds
    // the same MAP and extracts the same entries (round-4 upgrade
    // from the earlier no-oracle status).
    "map_funcs" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          map(lit("type"), col("event_type"),
              lit("k"), get_json_object(col("props"), "$.k")).as("m"))
        .select(col("event_id"),
          map_keys(col("m")).as("ks"),
          element_at(col("m"), "type").as("t"),
          element_at(col("m"), "k").cast("int").as("k"))
        .select(col("event_id"), size(col("ks")).as("n_keys"),
          col("t"), col("k"))
        .orderBy("event_id")),

    // JSON family over the props payload.
    "json_funcs" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"),
          from_json(col("props"), lit("k INT")).getField("k").as("k2"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(avg("k"), 4).as("avg_k"),
          sum(col("k2").cast("long")).as("sum_k"))
        .orderBy("event_type")),

    // Cast family — exact DECIMAL money sums (hash-stable without
    // rounding games) + ts->date->string round-trips.
    "cast_decimal" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          sum(col("l_extendedprice").cast("decimal(12,2)"))
            .cast("decimal(18,2)").as("dec_sum"),
          min(col("l_shipdate").cast("date").cast("string")).as("first_ship"),
          max(col("l_shipdate").cast("date")).as("last_ship_date"),
          sum(col("l_quantity").cast("long")).as("int_qty"))
        .orderBy("l_returnflag")),

    // Cryptographic digest family — md5 + sha256 over the UTF-8
    // bytes of each document (content addressing / integrity
    // checking; standards-fixed algorithms, so the lowercase hex
    // strings match ANY correct implementation — the strongest
    // possible cross-engine check).
    "hash_funcs" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("md5_hex"),
          sha2(col("text").cast("binary"), 256).as("sha256_hex"))
        .orderBy("doc_id"))
  )

  val oracles: Map[String, String] = Map(
    // DuckDB map extraction m['k'] yields a LIST; [1] takes the
    // single element (1-indexed — SURVEY §2.0 hazard list).
    "map_funcs" ->
      """SELECT event_id, CAST(cardinality(m) AS INTEGER) AS n_keys,
        |  m['type'][1] AS t, CAST(m['k'][1] AS INTEGER) AS k
        |FROM (
        |  SELECT event_id,
        |    MAP {'type': event_type,
        |         'k': json_extract_string(props, '$.k')} AS m
        |  FROM events
        |) t ORDER BY event_id""".stripMargin,

    "str_funcs" ->
      """SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS lo,
        | CAST(length(p_name) AS INTEGER) AS len,
        | substring(p_name, 1, 5) AS sub5,
        | p_type || '/' || p_brand AS cat,
        | lpad(p_brand, 10, '*') AS pad,
        | regexp_replace(p_name, 'e', '3', 'g') AS repl,
        | string_split(p_name, ' ')[1] AS first_word,
        | regexp_extract(p_name, '^([a-z]+)', 1) AS re_word,
        | p_name LIKE '%a%' AS has_a
        |FROM part ORDER BY p_partkey""".stripMargin,

    "date_funcs" ->
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS INTEGER) AS yr,
        | CAST(month(o_orderdate) AS INTEGER) AS mo,
        | CAST(day(o_orderdate) AS INTEGER) AS dom,
        | CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mstart,
        | CAST(datediff('day', DATE '1995-01-01',
        |   CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since,
        | CAST(o_orderdate AS DATE) + 30 AS plus30,
        | CAST(dayofweek(o_orderdate) AS INTEGER) AS dow
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        | round(l_extendedprice, 1) AS r1,
        | abs(l_discount - 0.05) AS ab,
        | CAST(ceil(l_quantity) AS BIGINT) AS ce,
        | CAST(floor(l_extendedprice) AS BIGINT) AS fl,
        | round(pow(l_quantity, 2), 4) AS sq,
        | round(ln(l_extendedprice), 4) AS lg,
        | round(log10(l_extendedprice), 4) AS l10,
        | round(sqrt(l_extendedprice), 4) AS sqr,
        | l_orderkey % 7 AS md,
        | CAST(sign(l_discount - 0.05) AS INTEGER) AS sg
        |FROM lineitem WHERE l_orderkey <= 400
        |ORDER BY l_orderkey, l_linenumber, r1, ab, ce, fl, sq, lg, l10,
        |  sqr, md, sg""".stripMargin,

    "array_funcs" ->
      """SELECT vec_id,
        | CAST(len(embedding) AS INTEGER) AS n,
        | round(CAST(embedding[1] AS DOUBLE), 4) + 0 AS e1,
        | CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
        | round(CAST(list_sort(embedding)[1] AS DOUBLE), 4) + 0 AS mn,
        | round(CAST(list_reverse_sort(embedding)[1] AS DOUBLE), 4) + 0 AS mx,
        | round(list_reduce(
        |   list_prepend(CAST(0 AS DOUBLE),
        |     CAST(embedding[1:8] AS DOUBLE[])), (a, x) -> a + x), 4) + 0
        |   AS head_sum,
        | list_contains(list_transform(embedding, x -> x > 0.5), true)
        |   AS any_big
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "json_funcs" ->
      """SELECT event_type, count(*) AS n,
        | round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4)
        |   AS avg_k,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
        |   AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "cast_decimal" ->
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
        |   AS DECIMAL(18,2)) AS dec_sum,
        | CAST(min(CAST(l_shipdate AS DATE)) AS VARCHAR) AS first_ship,
        | max(CAST(l_shipdate AS DATE)) AS last_ship_date,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS int_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "hash_funcs" ->
      """SELECT doc_id, md5(text) AS md5_hex,
        | sha256(text) AS sha256_hex
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
