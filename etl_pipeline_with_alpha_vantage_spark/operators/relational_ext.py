"""Second relational batch: multi-join analytics, grouping sets, exact
percentiles, range window frames, validation casts, array/map/JSON scalar
coverage, catalog inspection (SURVEY.md X1-X13 widening + Q1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import TABLES, register_views, scoped_conf, table
from ..functions.exact import cents, dsum, sql_dsum
from ..registry import query

# --------------------------------------------------------------------------
# TPC-H Q3 — shipping priority (3-way join + exact revenue + top-k)
# --------------------------------------------------------------------------

_Q3_ORACLE = """
SELECT
    l.l_orderkey,
    CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) / 1000000.0
         AS DOUBLE)   AS revenue,
    o.o_orderdate,
    o.o_orderpriority
FROM customer c
JOIN orders o    ON o.o_custkey = c.c_custkey
JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
LIMIT 10
"""


@query("q3_shipping_priority", oracle=_Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two shuffled joins → exact
    revenue per order → global top-10 (TakeOrderedAndProject).

    Scale: the customer filter prunes before the join (predicate pushdown
    to the scan); joins shuffle on custkey then orderkey; AQE can flip the
    filtered customer side to broadcast at runtime.
    """
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    price_c = cents("l_extendedprice")
    disc_c = cents("l_discount")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            (F.sum(price_c * (100 - disc_c)) / 1_000_000.0)
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# TPC-H Q5 — local supplier volume (6-way join incl. nationkey co-location)
# --------------------------------------------------------------------------

_Q5_ORACLE = """
SELECT
    n.n_name,
    CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) / 1000000.0
         AS DOUBLE) AS revenue
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
"""


@query("q5_local_supplier_volume", oracle=_Q5_ORACLE)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star joins through region→nation→customer→orders→
    lineitem→supplier with the local-supplier co-location predicate
    (s_nationkey = c_nationkey). Dims broadcast; the two fact joins
    shuffle on their keys."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    price_c = cents("l_extendedprice")
    disc_c = cents("l_discount")
    return (
        c.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),  # bounded: fixed dim (nation 25 / region 5 rows)
               c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),  # bounded: filtered supplier dim (fact/10^5); author-known bound
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .groupBy("n_name")
        .agg(
            (F.sum(price_c * (100 - disc_c)) / 1_000_000.0)
            .cast("double")
            .alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# X8 — explicit GROUPING SETS via the SQL surface
# --------------------------------------------------------------------------

_GSETS_ORACLE = f"""
SELECT
    o_orderstatus,
    o_orderpriority,
    CAST(GROUPING(o_orderstatus) AS BIGINT)   AS g_status,
    CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
    CAST(COUNT(*) AS BIGINT)                  AS n_orders,
    {sql_dsum('o_totalprice')}                AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@query("agg_grouping_sets", oracle=_GSETS_ORACLE)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8: explicit GROUPING SETS through spark.sql — exercises the SQL
    entry path (same Catalyst Expand plan as rollup/cube)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT
            o_orderstatus,
            o_orderpriority,
            CAST(GROUPING(o_orderstatus) AS BIGINT)   AS g_status,
            CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
            COUNT(*)                                  AS n_orders,
            CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
                 AS DOUBLE)                           AS revenue
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# --------------------------------------------------------------------------
# X6b — exact interpolated percentiles
# --------------------------------------------------------------------------

_PCTL_ORACLE = """
SELECT
    event_type,
    quantile_cont(value, 0.25) AS p25,
    quantile_cont(value, 0.50) AS median,
    quantile_cont(value, 0.75) AS p75,
    quantile_cont(value, 0.95) AS p95,
    MIN(value) AS vmin,
    MAX(value) AS vmax
FROM events
GROUP BY event_type
"""


@query("percentile_stats", oracle=_PCTL_ORACLE)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: exact linear-interpolated percentiles per group (Spark
    ``percentile`` == DuckDB ``quantile_cont`` definition). For 100 TB
    use approx_percentile (t-digest) — exact percentile requires a
    per-group sort; fine for bounded group sizes."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile("value", 0.25).alias("p25"),
        F.percentile("value", 0.50).alias("median"),
        F.percentile("value", 0.75).alias("p75"),
        F.percentile("value", 0.95).alias("p95"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


# --------------------------------------------------------------------------
# X10c — RANGE window frame over event time
# --------------------------------------------------------------------------

_RANGE_FRAME_ORACLE = """
SELECT
    event_id,
    user_id,
    CAST(COUNT(*) OVER w AS BIGINT) AS n_last_10min,
    CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w / 100.0 AS DOUBLE)
        AS value_last_10min
FROM events
WINDOW w AS (
    PARTITION BY user_id ORDER BY epoch_us(ts)
    RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW
)
"""


@query("window_range_frame", oracle=_RANGE_FRAME_ORACLE)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10: time-based RANGE frame — per user, activity in the trailing
    10 minutes of *event time* (not row count). Ordering key is epoch
    microseconds (exact integer) so frame boundaries are engine-exact."""
    ev = table(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    value_c = cents("value")
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_10min"),
        (F.sum(value_c).over(w) / 100.0).cast("double").alias("value_last_10min"),
    )


# --------------------------------------------------------------------------
# V1 row-level — try_cast validation surface
# --------------------------------------------------------------------------

_TRYCAST_ORACLE = """
SELECT
    event_id,
    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)  AS k_valid,
    TRY_CAST(event_type AS BIGINT)                          AS type_as_int,
    TRY_CAST(substr(event_type, 1, 1) AS BIGINT)            AS first_char_int,
    CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
              IS NOT NULL THEN 1 ELSE 0 END                 AS is_valid
FROM events
WHERE event_id % 7 = 0
"""


@query("validation_try_cast", oracle=_TRYCAST_ORACLE)
def validation_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1 at row granularity: try_cast yields NULL (never an exception)
    for malformed values — the drop-don't-crash gate of the reference's
    pydantic validation (etl.py:52-56), applied per field."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    k = F.get_json_object("props", "$.k").try_cast("long")
    return ev.select(
        "event_id",
        k.alias("k_valid"),
        F.col("event_type").try_cast("long").alias("type_as_int"),
        F.substring("event_type", 1, 1).try_cast("long").alias(
            "first_char_int"
        ),
        F.when(k.isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_valid"),
    )


# --------------------------------------------------------------------------
# X13b — array / map / JSON scalar coverage
# --------------------------------------------------------------------------

_ARRAYJSON_ORACLE = """
WITH t AS (
    SELECT event_id, value, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           [value, value * 2, 100 - value] AS arr
    FROM events WHERE event_id % 13 = 0
)
SELECT
    event_id,
    k,
    CAST(len(arr) AS INTEGER)               AS arr_len,
    list_max(arr)                           AS arr_max,
    list_min(arr)                           AS arr_min,
    arr[1] + arr[2] + arr[3]                AS arr_sum,
    list_contains(arr, value)               AS has_value,
    list_sort(arr)[1]                       AS sorted_first,
    CAST(len(list_filter(arr, x -> x > 50)) AS INTEGER) AS n_above_50,
    concat(event_type, ':', CAST(k AS VARCHAR)) AS map_style_key
FROM t
"""


@query("scalar_array_json", oracle=_ARRAYJSON_ORACLE)
def scalar_array_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13: array construction/reduction + JSON field extraction, all
    codegen'd built-ins. Array outputs are reduced to scalars so the
    cross-engine hash compares primitive values."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 13 == 0)
    k = F.get_json_object("props", "$.k").cast("long")
    arr = F.array(
        F.col("value"), F.col("value") * 2, F.lit(100) - F.col("value")
    )
    t = ev.select("event_id", "value", "event_type", k.alias("k"), arr.alias("arr"))
    return t.select(
        "event_id",
        "k",
        F.size("arr").alias("arr_len"),
        F.array_max("arr").alias("arr_max"),
        F.array_min("arr").alias("arr_min"),
        (
            F.element_at("arr", 1) + F.element_at("arr", 2) + F.element_at("arr", 3)
        ).alias("arr_sum"),
        F.array_contains("arr", F.col("value")).alias("has_value"),
        F.element_at(F.array_sort("arr"), 1).alias("sorted_first"),
        F.size(F.filter("arr", lambda x: x > 50)).alias("n_above_50"),
        F.concat_ws(":", "event_type", F.col("k").cast("string")).alias(
            "map_style_key"
        ),
    )


# --------------------------------------------------------------------------
# Q1 — catalog inspection
# --------------------------------------------------------------------------

_CATALOG_ORACLE = """
SELECT table_name, column_name
FROM information_schema.columns
WHERE table_name IN ('region','nation','customer','supplier','part',
                     'orders','lineitem','events','documents','embeddings')
"""


@query("catalog_columns", oracle=_CATALOG_ORACLE)
def catalog_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 (etl.py:163-172): table/column inventory through the engine's
    catalog — views registered, then one SHOW COLUMNS catalog command
    per table. Matches DuckDB's information_schema over the same
    pre-registered views.

    r12 optimization round (guide §5: the driver should do almost no
    work): python Catalog.listColumns resolves the full table and
    builds Column objects per call (~170 ms × 10 tables measured);
    SHOW COLUMNS returns the identical name list ~7× cheaper, and the
    ten commands are issued from a small thread pool (guide §2.6 —
    py4j round trips overlap; commands execute eagerly at spark.sql).
    """
    register_views(spark, sf_dir)
    from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

    def cols(t: str) -> list:
        return [(t, r[0]) for r in spark.sql(f"SHOW COLUMNS IN {t}").collect()]

    with ThreadPoolExecutor(max_workers=len(TABLES)) as ex:
        rows = [r for sub in ex.map(cols, TABLES) for r in sub]
    return spark.createDataFrame(rows, "table_name string, column_name string")


# --------------------------------------------------------------------------
# T8/T9 — union-all chain + per-branch tagging (reference combine step)
# --------------------------------------------------------------------------

_UNION_ORACLE = f"""
SELECT 'high' AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
       {sql_dsum('o_totalprice')} AS revenue
FROM orders WHERE o_totalprice >= 200000
UNION ALL
SELECT 'mid' AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
       {sql_dsum('o_totalprice')} AS revenue
FROM orders WHERE o_totalprice >= 50000 AND o_totalprice < 200000
UNION ALL
SELECT 'low' AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
       {sql_dsum('o_totalprice')} AS revenue
FROM orders WHERE o_totalprice < 50000
"""


@query("union_chain", oracle=_UNION_ORACLE)
def union_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: the reference's concat-of-frames combine (etl.py:107) as
    unionByName over tagged branches. Catalyst collapses the three
    branch scans of the same table into shared scan + filters."""
    o = table(spark, sf_dir, "orders")

    def branch(tag: str, cond):
        return (
            o.filter(cond)
            .agg(
                F.count(F.lit(1)).alias("n"),
                dsum("o_totalprice").alias("revenue"),
            )
            .select(F.lit(tag).alias("bucket"), "n", "revenue")
        )

    high = branch("high", F.col("o_totalprice") >= 200000)
    mid = branch(
        "mid", (F.col("o_totalprice") >= 50000) & (F.col("o_totalprice") < 200000)
    )
    low = branch("low", F.col("o_totalprice") < 50000)
    return high.unionByName(mid).unionByName(low)


# --------------------------------------------------------------------------
# X6c — HAVING over grouped aggregates (TPC-H Q18 shape)
# --------------------------------------------------------------------------

_HAVING_ORACLE = """
WITH big AS (
    SELECT l_orderkey,
           CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0
                AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 15000
)
SELECT
    o.o_orderkey,
    o.o_custkey,
    o.o_orderdate,
    o.o_totalprice,
    b.total_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
"""


@query("agg_having_large_orders", oracle=_HAVING_ORACLE)
def agg_having_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 (TPC-H Q18 shape): aggregate → HAVING filter → join back to the
    parent. The HAVING prunes before the join, so the orders join probes
    with only the surviving keys — at scale that filtered side broadcast-
    joins under AQE."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    qty_c = cents("l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(qty_c).alias("qty_c"),
        )
        .filter(F.col("qty_c") > 15000)
        .select(
            "l_orderkey", (F.col("qty_c") / 100.0).cast("double").alias("total_qty")
        )
    )
    return big.join(o, o.o_orderkey == F.col("l_orderkey")).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "total_qty"
    )


# --------------------------------------------------------------------------
# X6d — per-group average joined back (TPC-H Q17 correlated-subquery shape)
# --------------------------------------------------------------------------

_BELOWAVG_ORACLE = """
WITH avg_qty AS (
    SELECT l_partkey,
           CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
             / COUNT(*) / 100.0 AS part_avg
    FROM lineitem
    GROUP BY l_partkey
)
SELECT
    l.l_orderkey,
    l.l_partkey,
    l.l_linenumber,
    l.l_quantity,
    a.part_avg
FROM lineitem l
JOIN avg_qty a ON a.l_partkey = l.l_partkey
WHERE l.l_quantity < 0.5 * a.part_avg
"""


@query("subquery_below_avg", oracle=_BELOWAVG_ORACLE)
def subquery_below_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 (TPC-H Q17 shape): the correlated subquery
    ``qty < 0.5 * (SELECT avg WHERE same part)`` decorrelated into an
    aggregate + equi-join — the only scalable form (a true correlated
    execution would re-aggregate per probe row). Exact-cents average keeps
    the 0.5·avg threshold engine-exact."""
    li = table(spark, sf_dir, "lineitem")
    qty_c = cents("l_quantity")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.sum(qty_c).cast("double") / F.count(F.lit(1)) / 100.0).alias("part_avg")
    )
    return (
        li.join(avg_qty, li.l_partkey == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("part_avg"))
        .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity", "part_avg")
    )


# --------------------------------------------------------------------------
# X13c — date/interval function coverage
# --------------------------------------------------------------------------

_DATE_ORACLE = """
SELECT
    o_orderkey,
    CAST(o_orderdate AS DATE)                        AS order_date,
    CAST(year(o_orderdate) AS BIGINT)                AS y,
    CAST(quarter(o_orderdate) AS BIGINT)             AS q,
    CAST(month(o_orderdate) AS BIGINT)               AS m,
    CAST(dayofyear(o_orderdate) AS BIGINT)           AS doy,
    last_day(CAST(o_orderdate AS DATE))              AS month_end,
    CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
    date_diff('day', DATE '1995-01-01',
              CAST(o_orderdate AS DATE))             AS days_since_1995,
    CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start
FROM orders
WHERE o_orderkey % 17 = 0
"""


@query("scalar_date_funcs", oracle=_DATE_ORACLE)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13: date extraction/arithmetic coverage (year/quarter/dayofyear/
    last_day/date_add/datediff/date_trunc), all codegen built-ins."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 17 == 0)
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        d.alias("order_date"),
        F.year("o_orderdate").cast("long").alias("y"),
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
        F.last_day(d).alias("month_end"),
        F.date_add(d, 30).alias("due_date"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias(
            "days_since_1995"
        ),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
    )


# --------------------------------------------------------------------------
# X13d — map-typed expression coverage (scalar outputs)
# --------------------------------------------------------------------------

_MAP_ORACLE = """
WITH t AS (
    SELECT event_id, event_type, value,
           MAP(['type', 'bucket'],
               [event_type, CASE WHEN value >= 100 THEN 'high' ELSE 'low' END])
           AS props_map
    FROM events WHERE event_id % 19 = 0
)
SELECT
    event_id,
    CAST(cardinality(props_map) AS INTEGER)  AS map_size,
    props_map['type'][1]                     AS type_val,
    props_map['bucket'][1]                   AS bucket_val,
    list_contains(map_keys(props_map), 'type') AS has_type_key
FROM t
"""


@query("scalar_map_funcs", oracle=_MAP_ORACLE)
def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13: map construction/lookup/keys — outputs reduced to scalars so
    the cross-engine hash compares primitives (map iteration order is not
    portable)."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 19 == 0)
    bucket = F.when(F.col("value") >= 100, F.lit("high")).otherwise(F.lit("low"))
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("bucket"), bucket
    )
    t = ev.select("event_id", m.alias("props_map"))
    return t.select(
        "event_id",
        F.size("props_map").alias("map_size"),
        F.col("props_map")["type"].alias("type_val"),
        F.col("props_map")["bucket"].alias("bucket_val"),
        F.array_contains(F.map_keys("props_map"), "type").alias("has_type_key"),
    )


# --------------------------------------------------------------------------
# X13e — string function coverage
# --------------------------------------------------------------------------

_STRING_ORACLE = """
SELECT
    doc_id,
    lpad(lang, 5, '*')                        AS lang_padded,
    rpad(source, 8, '.')                      AS source_padded,
    translate(lang, 'aeiou', 'AEIOU')         AS lang_vowels_upper,
    replace(source, 'src', 'origin_')         AS source_renamed,
    split_part(source, 'c', 2)                AS source_num,
    repeat(lang, 2)                           AS lang_twice,
    reverse(lang)                             AS lang_rev,
    CAST(strpos(text, 'the') AS BIGINT)       AS first_the,
    left(text, 10)                            AS head10,
    right(text, 10)                           AS tail10,
    starts_with(text, 'the')                  AS starts_the,
    ends_with(source, '1')                    AS ends_one,
    CAST(levenshtein(lang, 'en') AS BIGINT)   AS lang_dist_en
FROM documents
WHERE doc_id % 9 = 0
"""


@query("scalar_string_funcs", oracle=_STRING_ORACLE)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13: string scalar coverage (pad/translate/replace/split_part/
    repeat/reverse/locate/left/right/prefix/suffix/levenshtein) — all
    JVM built-ins, one codegen span."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 9 == 0)
    return d.select(
        "doc_id",
        F.lpad("lang", 5, "*").alias("lang_padded"),
        F.rpad("source", 8, ".").alias("source_padded"),
        F.translate("lang", "aeiou", "AEIOU").alias("lang_vowels_upper"),
        F.replace(F.col("source"), F.lit("src"), F.lit("origin_")).alias(
            "source_renamed"
        ),
        F.split_part(F.col("source"), F.lit("c"), F.lit(2)).alias("source_num"),
        F.repeat("lang", 2).alias("lang_twice"),
        F.reverse("lang").alias("lang_rev"),
        F.instr("text", "the").cast("long").alias("first_the"),
        F.substring("text", 1, 10).alias("head10"),
        F.substring(F.col("text"), -10, 10).alias("tail10"),
        F.startswith(F.col("text"), F.lit("the")).alias("starts_the"),
        F.endswith(F.col("source"), F.lit("1")).alias("ends_one"),
        F.levenshtein("lang", F.lit("en")).cast("long").alias("lang_dist_en"),
    )


# --------------------------------------------------------------------------
# TPC-H Q6 — forecasting revenue change (pure scan-side filter + agg)
# --------------------------------------------------------------------------

_Q6_ORACLE = """
SELECT
    CAST(SUM(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT))
         / 10000.0 AS DOUBLE) AS revenue,
    CAST(COUNT(*) AS BIGINT)  AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("q6_forecast_revenue", oracle=_Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the canonical scan-bound query — every predicate reaches
    the parquet scan (PushedFilters on shipdate/discount/quantity), the
    read schema is 4 columns of 11, and the whole plan is scan → partial
    agg → single-row final agg. No shuffle beyond the 1-row exchange;
    at 100 TB this is I/O-bound and prunes both columns and row groups.
    The product is scaled by 10^4 (two 2-dp factors) for exact
    cross-engine summation."""
    li = table(spark, sf_dir, "lineitem")
    sel = li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    cents4 = F.round(
        F.col("l_extendedprice") * F.col("l_discount") * 10000
    ).cast("long")
    return sel.agg(
        (F.sum(cents4) / 10000.0).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --------------------------------------------------------------------------
# TPC-H Q10 — returned-item reporting (4-way join + group + top-k)
# --------------------------------------------------------------------------

_Q10_ORACLE = """
SELECT
    c.c_custkey,
    c.c_name,
    CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                  AS BIGINT)) / 10000.0 AS DOUBLE) AS revenue,
    n.n_name
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("q10_returned_items", oracle=_Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: customers who returned the most — lineitem filtered on
    returnflag at the scan, orders pruned on the quarter, the nation dim
    broadcast; then one aggregation and a top-20 TakeOrderedAndProject.
    Ties broken by custkey so the limit is deterministic."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    cents4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)  # bounded: fixed dim (nation, 25 rows)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg((F.sum(cents4) / 10000.0).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


# --------------------------------------------------------------------------
# Part/brand revenue — per-group top-k over a 2-table join (uses `part`)
# --------------------------------------------------------------------------

_BRAND_ORACLE = """
WITH rev AS (
    SELECT
        p.p_brand,
        p.p_partkey,
        SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                 AS BIGINT)) AS rev4
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand, p.p_partkey
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY p_brand ORDER BY rev4 DESC, p_partkey) AS rn
    FROM rev
)
SELECT p_brand, p_partkey,
       CAST(rev4 / 10000.0 AS DOUBLE) AS revenue,
       CAST(rn AS BIGINT)             AS brand_rank
FROM ranked WHERE rn <= 3
"""


@query("part_brand_top_revenue", oracle=_BRAND_ORACLE)
def part_brand_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 revenue parts per brand: fact→dim equi-join (part broadcast
    at dim scale), one aggregation on (brand, partkey), then a per-group
    window filter — ranking work is proportional to groups, not lineitem
    rows. Revenue ranked on the exact scaled integer so ties and order
    match the oracle bit-for-bit."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    rev4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)  # bounded: filtered part dim (fact/10^4); author-known bound the size-only estimator lacks
        .groupBy("p_brand", "p_partkey")
        .agg(F.sum(rev4).alias("rev4"))
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.col("rev4").desc(), "p_partkey"
    )
    return (
        rev.withColumn("brand_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("brand_rank") <= 3)
        .select(
            "p_brand",
            "p_partkey",
            (F.col("rev4") / 10000.0).cast("double").alias("revenue"),
            "brand_rank",
        )
    )


# --------------------------------------------------------------------------
# X7b — approximate percentiles (t-digest; rows-only + tolerance test)
# --------------------------------------------------------------------------


_PCT_APPROX_ORACLE = """
SELECT
    event_type,
    CAST(COUNT(*) AS BIGINT) AS n,
    TRUE                     AS p50_rank_ok,
    TRUE                     AS p95_rank_ok
FROM events
GROUP BY event_type
"""


@query("percentile_approx_stats", oracle=_PCT_APPROX_ORACLE)
def percentile_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7: approx_percentile with accuracy 10⁴ — the 100 TB replacement
    for exact percentiles (percentile_stats): constant-size sketch per
    group, mergeable map-side, no per-group sort.

    Oracle-upgraded (round 3): the Greenwald-Khanna contract is a RANK
    guarantee — the returned value's rank is within ``N/accuracy`` of
    ``p·N`` — and that bound is checked IN-PLAN: the 5-row sketch output
    broadcast-joins back to events, a second pass counts rows below /
    at-or-below each approx quantile, and the query emits booleans
    asserting rank(p50) ∈ p·N ± (N/10⁴ + 1) (ties widen the admissible
    window, hence the count-strictly-below / count-at-or-below pair).
    The oracle computes N and literal TRUE — the sketch's accuracy
    contract is hash-gated without hashing the engine-specific raw
    estimate."""
    ev = table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("p50"),
        F.percentile_approx("value", 0.95, 10000).alias("p95"),
    )
    j = ev.join(F.broadcast(sk), "event_type")  # bounded: enum/bucket-keyed rollup (bounded group count)
    counted = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("value") < F.col("p50")).alias("lt50"),
        F.count_if(F.col("value") <= F.col("p50")).alias("le50"),
        F.count_if(F.col("value") < F.col("p95")).alias("lt95"),
        F.count_if(F.col("value") <= F.col("p95")).alias("le95"),
    )
    tol = F.col("n") / 10000.0 + 1.0

    def rank_ok(p: float, lt, le):
        target = F.col("n") * p
        return (F.col(lt) <= target + tol) & (F.col(le) >= target - tol)

    return counted.select(
        "event_type",
        "n",
        rank_ok(0.5, "lt50", "le50").alias("p50_rank_ok"),
        rank_ok(0.95, "lt95", "le95").alias("p95_rank_ok"),
    )


# --------------------------------------------------------------------------
# X13 — schema'd JSON parse → transform → re-serialize roundtrip
# --------------------------------------------------------------------------

_JSON_RT_ORACLE = """
SELECT
    event_id,
    CAST(json_extract(props, '$.k') AS BIGINT)          AS k,
    (CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL) AS parsed_ok,
    CAST(json_object(
        'k', CAST(json_extract(props, '$.k') AS BIGINT) * 2,
        't', event_type
    ) AS VARCHAR)                                       AS enriched_json
FROM events
WHERE event_id % 19 = 0
"""


@query("scalar_json_roundtrip", oracle=_JSON_RT_ORACLE)
def scalar_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13: the full JSON lifecycle — from_json with a declared schema
    (the typed path, unlike get_json_object's string extraction),
    validity flag, transform, and to_json re-serialization. Spark and
    DuckDB emit byte-identical compact JSON for integer/string fields,
    so even the serialized string is oracle-checked."""
    from pyspark.sql.types import LongType, StructField as SF_, StructType as ST_

    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 19 == 0)
    parsed = ev.withColumn(
        "p", F.from_json("props", ST_([SF_("k", LongType())]))
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        F.col("p.k").isNotNull().alias("parsed_ok"),
        F.to_json(
            F.struct(
                (F.col("p.k") * 2).alias("k"),
                F.col("event_type").alias("t"),
            )
        ).alias("enriched_json"),
    )


# --------------------------------------------------------------------------
# Spark 4 VARIANT ingestion — typed semi-structured aggregation
# --------------------------------------------------------------------------

_VARIANT_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS max_k,
       'OBJECT<k: BIGINT>' AS variant_schema
FROM events
GROUP BY event_type
"""


@query("scalar_variant_extract", oracle=_VARIANT_ORACLE)
def scalar_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through Spark 4's native VARIANT type:
    ``parse_json`` once into the binary variant encoding, then typed
    ``variant_get`` path extraction feeding a normal aggregation —
    the modern replacement for per-query ``get_json_object`` string
    re-parsing (the variant parses each document ONCE; every downstream
    path access is a binary traversal, which is the whole point at
    100 TB of JSON). ``schema_of_variant`` is aggregated as a constant
    sanity column (every props object here is OBJECT<k: BIGINT>).

    The oracle replays the same extraction with DuckDB's JSON functions:
    typed values, not strings, so the sums hash-match exactly.
    """
    ev = table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.variant_get("v", "$.k", "long").alias("k"),
        F.expr("schema_of_variant(v)").alias("sch"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
        F.max("sch").alias("variant_schema"),
    )


# --------------------------------------------------------------------------
# SQL-defined UDFs (scalar + table) — extensibility WITHOUT leaving codegen
# --------------------------------------------------------------------------

_SQL_UDF_ORACLE = """
WITH banded AS (
    SELECT CAST(floor(CAST(round(o_totalprice * 100) AS BIGINT) / 5000000)
                AS BIGINT) AS price_band,
           unnest(string_split(o_orderpriority, '-')) AS prio_word,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
)
SELECT price_band, prio_word,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) / 100.0 AS DOUBLE) AS revenue
FROM banded
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("sql_udf_pricing_bands", oracle=_SQL_UDF_ORACLE)
def sql_udf_pricing_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User extensibility through SQL-DEFINED functions (Spark 4
    `CREATE FUNCTION … RETURN`): a scalar SQL UDF bands order prices
    ($50k buckets over exact cents) and a SQL TABLE UDF fans each
    order's priority code into words through a LATERAL join — the
    per-band × per-word revenue rollup then runs entirely on the
    inlined expressions.

    Why this matters at 100 TB: unlike Python UDFs (a serialization
    boundary even Arrow-batched), SQL UDFs INLINE into the optimized
    plan — banding folds into the scan projection and the fan-out is a
    native generator, all inside whole-stage codegen. This is the
    extensibility tier to reach for FIRST; udtf_lateral_ngrams is the
    escape hatch for logic SQL can't express.
    """
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE) "
        "RETURNS BIGINT "
        "RETURN CAST(floor(CAST(round(p * 100) AS BIGINT) / 5000000) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION priority_words(s STRING) "
        "RETURNS TABLE(prio_word STRING) "
        "RETURN SELECT explode(split(s, '-'))"
    )
    table(spark, sf_dir, "orders").createOrReplaceTempView("sql_udf_orders_v")
    return spark.sql(
        """
        SELECT price_band(o_totalprice) AS price_band,
               w.prio_word,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
                    AS DOUBLE) AS revenue
        FROM sql_udf_orders_v, LATERAL priority_words(o_orderpriority) w
        GROUP BY 1, 2
        ORDER BY 1, 2
        """
    )


# --------------------------------------------------------------------------
# Recursive CTE — Spark 4's WITH RECURSIVE, same SQL text as the oracle
# --------------------------------------------------------------------------

_RECURSIVE_SQL = """
WITH RECURSIVE edges AS (
    SELECT user_id AS child,
           CAST(floor(user_id / 2.0) AS BIGINT) AS parent
    FROM (SELECT DISTINCT user_id FROM events)
    WHERE user_id > 0
),
walk(node, anc, depth) AS (
    SELECT child, parent, 1 FROM edges
    UNION ALL
    SELECT w.node, e.parent, w.depth + 1
    FROM walk w JOIN edges e ON e.child = w.anc
)
SELECT depth,
       CAST(COUNT(*) AS BIGINT) AS n_paths,
       CAST(COUNT(DISTINCT node) AS BIGINT) AS n_nodes,
       CAST(SUM(CASE WHEN anc = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rooted
FROM walk
GROUP BY depth
ORDER BY depth
"""


# Spark-side recursion over a MATERIALIZED edge frame (r12 optimization
# round): Catalyst re-evaluates non-recursive CTEs once per UnionLoop
# iteration, so the inline `edges` CTE re-ran the events scan + distinct
# on every one of the ~log₂(max user id) ≈ 17 hops. The edge derivation
# below is byte-identical SQL text to the oracle's `edges` CTE; only its
# placement changed (built once, checkpointed, exposed as a view — guide
# §2.4 / §3.3). SHUFFLE_HASH(e) in the walk (§3.1): the edge table here
# is the DISTINCT-user dust dimension (safe hash build at any scale),
# and AQE cannot re-plan inside a UnionLoop step, so unhinted the ~17
# hops each sort-merge-joined (measured min-of-3 at sf0.1: plain 1.74 s,
# SHUFFLE_HASH(e) 1.40 s).
_HIER_EDGES_SQL = """
    SELECT user_id AS child,
           CAST(floor(user_id / 2.0) AS BIGINT) AS parent
    FROM (SELECT DISTINCT user_id FROM events)
    WHERE user_id > 0
"""

_HIER_WALK_SQL = """
WITH RECURSIVE walk(node, anc, depth) AS (
    SELECT child, parent, 1 FROM hier_edges_v
    UNION ALL
    SELECT /*+ SHUFFLE_HASH(e) */ w.node, e.parent, w.depth + 1
    FROM walk w JOIN hier_edges_v e ON e.child = w.anc
)
SELECT depth,
       CAST(COUNT(*) AS BIGINT) AS n_paths,
       CAST(COUNT(DISTINCT node) AS BIGINT) AS n_nodes,
       CAST(SUM(CASE WHEN anc = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rooted
FROM walk
GROUP BY depth
ORDER BY depth
"""


@query("sql_recursive_hierarchy", oracle=_RECURSIVE_SQL)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE through Spark 4's native recursive-CTE support —
    the LAST major ANSI surface the engine gained. The walk is a true
    transitive closure (anchor ∪ self-join step), not a linear
    recursion: every user ancestor-chains to the root through a derived
    binary-tree hierarchy (parent = ⌊user/2⌋ — written floor(x/2.0)
    because bare `/` is integer division in one engine and true
    division in the other), and the readout profiles the closure per
    hop: path count, distinct nodes still walking, and how many chains
    reached the root.

    Scale shape: Catalyst unrolls the recursion into iterative
    UnionLoop steps — each hop is one equi-join of the frontier
    against the edge table plus a union, exactly the iterative-join
    dataflow graph_pagerank hand-writes; depth is bounded by log₂(max
    user id), so the loop terminates in ~17 hops at any user-count
    scale. The edge table is materialized ONCE before the loop (lazy
    localCheckpoint behind a temp view, SQL text identical to the
    oracle's `edges` CTE): Catalyst re-evaluates non-recursive CTEs on
    every UnionLoop iteration, so the round-11 inline form re-scanned
    events + distinct per hop — ~17 fact scans per execution
    (OPTIMIZATION_r12.md has the before/after). Recursion-depth guards
    (spark.sql.cteRecursionLevelLimit) apply where a cyclic edge set
    could loop forever.
    """
    # Canonical "events" binds through the memoized registrar (an
    # ad-hoc bind of a subset desyncs its ident memo — r12 round).
    register_views(spark, sf_dir)
    # Eager now (r13): the edge table must be materialized anyway
    # before the first hop, and eagerness exposes its AQE-coalesced
    # partition count — the scale-adaptive width for the walk's ~17
    # per-hop shuffles (VERDICT #4: AQE cannot re-plan inside a
    # UnionLoop step, so unscoped they'd stay at the static session
    # width — 32 micro-partitions of dust at test SFs). The walk only
    # ever shrinks (frontier ⊆ users), so the edge width needs no
    # expansion factor. The walk executes eagerly (a ≤⌈log₂ users⌉-row
    # aggregate — checkpointing dust) so the scoped conf is live exactly
    # for its jobs.
    hier_edges = spark.sql(_HIER_EDGES_SQL).localCheckpoint(eager=True)
    hier_edges.createOrReplaceTempView("hier_edges_v")
    try:
        width = {
            "spark.sql.shuffle.partitions": str(
                max(2, hier_edges.rdd.getNumPartitions())
            )
        }
    except Exception:
        width = {}
    with scoped_conf(spark, width):
        return spark.sql(_HIER_WALK_SQL).localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# Recursive CTE #2 — bounded BFS with min-hop over a CYCLIC graph
# --------------------------------------------------------------------------

_BFS_SQL = """
WITH RECURSIVE pairs AS (
    SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
edges AS (
    SELECT s * 2 AS src, p * 2 + 1 AS dst FROM pairs
    UNION ALL
    SELECT p * 2 + 1 AS src, s * 2 AS dst FROM pairs
),
walk(node, depth) AS (
    SELECT DISTINCT s * 2, 0 FROM pairs WHERE s % 100 = 0
    UNION ALL
    SELECT e.dst, w.depth + 1
    FROM walk w JOIN edges e ON e.src = w.node
    WHERE w.depth < 2
),
dist AS (SELECT node, MIN(depth) AS hops FROM walk GROUP BY node)
SELECT hops,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_suppliers
FROM dist
GROUP BY hops
ORDER BY hops
"""

# Spark-side recursion over the MATERIALIZED edge fixture: Catalyst
# re-evaluates every non-recursive CTE on each UnionLoop iteration, so
# leaving the edge derivation inline re-ran lineitem-scan + distinct +
# union once per hop (3-4 fact scans; isolated min-of-5 5.2 s at sf0.1).
# The recursion below is the SAME walk over the SAME edge set — src/dst
# here ARE the doubled node ids the oracle's `edges` CTE derives, and
# every supplier appears as an even src (undirected doubling), so the
# seed predicate src%2=0 AND (src DIV 2)%100=0 selects exactly the
# oracle's `s*2 WHERE s%100=0` set. Per-hop cost after the change is one
# in-memory LogicalRDD scan + the frontier join (guide §2.4: remove the
# repeated exchange outright; §3.3: materialize to truncate re-planned
# subtrees). The SHUFFLE_HASH(w) hint (§3.1) makes each hop a shuffled
# hash join building on the FRONTIER — AQE does not re-plan inside a
# UnionLoop step, so the unhinted loop sort-merge-joined, re-sorting the
# 2.2M-row edge side on every hop (measured min-of-3 at sf0.1: plain
# 2.65 s, SHUFFLE_HASH(w) 1.68 s; BROADCAST(w) reads 1.14 s but the
# frontier is O(E) worst-case on a cyclic graph — rejected under the
# round-11 de-hint rule). Building on w keeps the fact-scale edge side
# streaming, never a hash build.
_BFS_WALK_SQL = """
WITH RECURSIVE walk(node, depth) AS (
    SELECT DISTINCT src, 0 FROM bfs_edges_v
    WHERE src % 2 = 0 AND (src DIV 2) % 100 = 0
    UNION ALL
    SELECT /*+ SHUFFLE_HASH(w) */ e.dst, w.depth + 1
    FROM walk w JOIN bfs_edges_v e ON e.src = w.node
    WHERE w.depth < 2
),
dist AS (SELECT node, MIN(depth) AS hops FROM walk GROUP BY node)
SELECT hops,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_suppliers
FROM dist
GROUP BY hops
ORDER BY hops
"""


@query("sql_bfs_distances", oracle=_BFS_SQL)
def sql_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE #2 — breadth-first hop distances over a CYCLIC
    graph (the supplier–part bipartite graph; sql_recursive_hierarchy
    walks an acyclic tree): seed every 100th supplier, walk two hops,
    and reduce the path multiset to min-hop distances per node. The
    oracle replays the identical walk (anchor ∪ step, depth bound,
    MIN(depth) reduction) end-to-end from lineitem in DuckDB.

    On a cyclic graph an unbounded UNION ALL recursion never
    terminates, so the recursion carries an explicit depth bound and
    the MIN(depth) aggregation AFTER the walk converts path
    enumeration into BFS distance — at production scale the depth
    bound is also the cost bound (the frontier multiplies by the mean
    degree per hop). The recursion runs over the session's
    MATERIALIZED co-supply edge fixture (graph._cosupply_edges — the
    same checkpointed artifact graph_bfs_distances and the PageRank
    family traverse) exposed as a temp view: Catalyst re-evaluates
    every non-recursive CTE once per UnionLoop iteration, so the
    round-11 inline form re-ran the lineitem scan + distinct + union
    on EVERY hop (3-4 fact scans per execution; the r12 optimization
    round moved the edge build out of the loop — isolated min-of-5
    5.2 s → see OPTIMIZATION_r12.md — while keeping the walk a genuine
    WITH RECURSIVE UnionLoop). Spark
    additionally enforces spark.sql.cteRecursionRowLimit as a runaway
    guard — raised here because the two-hop path multiset is the
    intended (bounded) workload, exactly what the limit exists to make
    explicit. The raise is SCOPED: the recursion executes eagerly (the
    readout is a ≤3-row aggregate, so the localCheckpoint materializes
    dust) and the previous limit is restored before returning, so the
    weakened runaway guard never leaks into subsequent queries on the
    shared session. Production path for deep/repeated traversals:
    graph_bfs_distances (operators/graph.py) — the iterative-join twin
    with per-hop frontier dedup, which also avoids enumerating the
    path multiset.
    """
    from .graph import _cosupply_edges  # noqa: PLC0415

    edges_ck = _cosupply_edges(spark, sf_dir)
    # Scale-adaptive walk shuffle width (r13, VERDICT #4): AQE cannot
    # re-plan inside a UnionLoop step, so every hop's join and the
    # min-hop aggregation shuffle into the STATIC session width — 32
    # micro-partitions of dust at test SFs (the checkpointed edge
    # fixture itself coalesces to 1 partition ≈ 64 MB advisory), pure
    # per-task scheduling overhead ×2 exchanges ×3 hops. Derive the
    # walk's width from the edge fixture's own AQE-coalesced partition
    # count (∝ edge bytes — grows with the graph, never with the host),
    # with ×4 headroom for the path-multiset expansion of the 2-hop
    # walk. Scoped together with the recursion row limit.
    walk_n = max(2, 4 * (getattr(edges_ck, "_sg_nparts", None) or 8))
    with scoped_conf(
        spark,
        {
            "spark.sql.cteRecursionRowLimit": "20000000",
            "spark.sql.shuffle.partitions": str(walk_n),
        },
    ):
        edges = edges_ck.select("src", "dst")
        edges.createOrReplaceTempView("bfs_edges_v")
        # Eager: the recursion must run while the raised limit is live.
        return spark.sql(_BFS_WALK_SQL).localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# CEP-style pattern matching: regex over per-user ordered event strings
# --------------------------------------------------------------------------

_CEP_PATTERN = "vc*p"  # view, any clicks, purchase — nothing else between

_CEP_ORACLE = f"""
WITH seq AS (
    SELECT user_id,
           string_agg(CASE event_type
                          WHEN 'view' THEN 'v'
                          WHEN 'click' THEN 'c'
                          WHEN 'purchase' THEN 'p'
                          WHEN 'signup' THEN 's'
                          ELSE 'e' END, ''
                      ORDER BY ts, event_id) AS s,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       CAST(len(regexp_extract_all(s, '{_CEP_PATTERN}')) AS BIGINT)
           AS n_matches
FROM seq
WHERE len(regexp_extract_all(s, '{_CEP_PATTERN}')) > 0
"""


@query("cep_pattern_conversions", oracle=_CEP_ORACLE)
def cep_pattern_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern match, MATCH_RECOGNIZE-style:
    count per user the non-overlapping occurrences of
    view → (clicks)* → purchase with NOTHING ELSE in between — the
    contiguity constraint funnel_conversion (any-events-between) cannot
    express. Each user's ordered event-type sequence becomes a
    single-char-alphabet string and the pattern one regex ('{pat}'),
    the classic sequence-mining-as-regex device; leftmost
    non-overlapping match counting is identical in Java regex and RE2,
    so the count is oracle-exact.

    Scale shape: ONE partial shuffle keyed on user; the sequence string
    is built by array_sort over (ts, event_id, char) structs — no
    second sort exchange — and is bounded by events-per-user (the
    documented per-entity contract shared with the grouped kernels; a
    mega-user sessionizes first at 100 TB, and the regex then runs
    per-session). Pure string/integer outputs — no float anywhere.
    """
    ev = table(spark, sf_dir, "events")
    return cep_conversions(ev)


def cep_conversions(ev: DataFrame) -> DataFrame:
    """CEP core over any (user_id, event_id, ts, event_type) frame; see
    cep_pattern_conversions. Closed-form-proven at 2M events by
    tests/test_scale_smoke.py (repeating view→click→purchase→signup
    blocks give exactly one match per block)."""
    chr_col = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    seq = (
        ev.select(
            "user_id",
            F.struct("ts", "event_id", chr_col.alias("ch")).alias("evt"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("evt")), lambda x: x["ch"]
                ),
                "",
            ).alias("s"),
        )
    )
    return (
        seq.select(
            "user_id",
            "n_events",
            F.expr(f"regexp_count(s, '{_CEP_PATTERN}')")
            .cast("long")
            .alias("n_matches"),
        )
        .filter(F.col("n_matches") > 0)
    )


cep_pattern_conversions.__doc__ = cep_pattern_conversions.__doc__.format(
    pat=_CEP_PATTERN
)
