"""Core relational query keys: scans, filters, joins, aggregates, windows,
set operations, grouping sets, global ranks and scalar functions.

Every feature-view body in the reference is an arbitrary SELECT executed by
Snowflake (the reference's macros/materializations/feature_view.sql:126,
:192); the engine therefore exposes general Spark SQL. Each function below
is one demonstrated construct, written DataFrame-first so Catalyst plans it
(pushdown/pruning/codegen), with a DuckDB oracle twin in ``ORACLE``.

Determinism rules for the oracle hash-compare (shared by every family
module in this package):
- every computed column is aliased identically on both sides;
- double aggregations are computed EXACTLY: cast to DECIMAL before SUM
  (order-independent), cast back to DOUBLE after — so Spark's and DuckDB's
  different accumulation orders cannot produce differing low bits
  (``_DEC`` / ``_dsum`` / ``_davg`` below are the shared spellings);
- LIMIT queries carry a full ORDER BY with an id tiebreak;
- no now()/current_timestamp in oracle-checked queries.

Scale notes are per-query (broadcast choices, shuffle counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import read_table

# exact, order-independent double aggregation: decimal-sum then back to double
_DEC = "decimal(28,6)"


def _dsum(col, alias: str):
    return F.sum(col.cast(_DEC)).cast("double").alias(alias)


def _davg(col, alias: str):
    return (F.sum(col.cast(_DEC)).cast("double") / F.count(col)).alias(alias)


QUERIES: dict = {}
ORACLE: dict[str, str] = {}


# ---------------------------------------------------------------------------
# §2.B queries
# ---------------------------------------------------------------------------

def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + rename (test_base_customer_features.sql:12-18 shape).
    Scale: column pruning reaches the parquet scan — only 4 of 5 columns read."""
    return read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"),
        F.col("c_name").alias("f_name"),
        F.col("c_mktsegment").alias("f_segment"),
        F.col("c_acctbal").alias("f_acctbal"),
    )


ORACLE["q_scan_project"] = """
        SELECT c_custkey, c_name AS f_name, c_mktsegment AS f_segment,
               c_acctbal AS f_acctbal
        FROM customer
    """
QUERIES["q_scan_project"] = q_scan_project


def q_filter_false(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant-false filter — the entity-body idiom ``SELECT 1 WHERE FALSE``
    (test_customer_entity.sql:9). Catalyst folds this to LocalRelation(empty):
    zero tasks launched."""
    return spark.range(1).select(F.lit(1).alias("one")).filter(F.lit(False))


ORACLE["q_filter_false"] = """
        SELECT 1 AS one WHERE FALSE
    """
QUERIES["q_filter_false"] = q_filter_false


def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparison predicates with AND/OR. Scale: pushed to the parquet
    reader as PushedFilters (row-group skipping via min/max stats)."""
    c = read_table(spark, sf_dir, "customer")
    return c.filter(
        ((F.col("c_acctbal") > 5000.0) & (F.col("c_nationkey") < 10))
        | (F.col("c_mktsegment") == "MACHINERY")
    ).select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")


ORACLE["q_filter_pred"] = """
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM customer
        WHERE (c_acctbal > 5000.0 AND c_nationkey < 10)
           OR c_mktsegment = 'MACHINERY'
    """
QUERIES["q_filter_pred"] = q_filter_pred


def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN multi-branch + modulo (test_derived_customer_features.sql:
    22-34; CASE WHEN i % 3 = 0 test_feature_store_workflows.py:78)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_quantity") < 10, "low")
        .when(F.col("l_quantity") < 30, "mid")
        .otherwise("high")
        .alias("f_qty_band"),
        F.when(F.col("l_linenumber") % 3 == 0, "Gold")
        .otherwise("Silver")
        .alias("f_tier"),
    )


ORACLE["q_case_when"] = """
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_quantity < 10 THEN 'low'
                    WHEN l_quantity < 30 THEN 'mid'
                    ELSE 'high' END AS f_qty_band,
               CASE WHEN l_linenumber % 3 = 0 THEN 'Gold'
                    ELSE 'Silver' END AS f_tier
        FROM lineitem
    """
QUERIES["q_case_when"] = q_case_when


def q_arith_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic incl. int→double division (f_age_months / 365.0 pattern,
    test_feature_store_workflows.py:396). Pure per-row IEEE ops — bitwise
    identical across engines, no rounding needed."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
            "f_revenue"
        ),
        (F.col("l_quantity") * 12).alias("f_qty_x12"),
        (F.col("l_linenumber") / 2.0).alias("f_halfline"),
        (F.col("l_extendedprice") + F.col("l_tax")).alias("f_price_tax"),
    )


ORACLE["q_arith_expr"] = """
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1.0 - l_discount) AS f_revenue,
               l_quantity * 12 AS f_qty_x12,
               l_linenumber / 2.0 AS f_halfline,
               l_extendedprice + l_tax AS f_price_tax
        FROM lineitem
    """
QUERIES["q_arith_expr"] = q_arith_expr


def q_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical behavioral-feature aggregation
    (the reference README.md:160-167: COUNT(*) AS f_num_orders,
    SUM(amount) AS f_total_spent ... GROUP BY customer_id).
    Scale: HashAggregate with map-side partial agg — one shuffle on the
    group key; AQE coalesces post-shuffle partitions."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.count("*").alias("f_num_orders"),
        _dsum(F.col("o_totalprice"), "f_total_spent"),
    )


ORACLE["q_groupby_agg"] = """
        SELECT o_custkey,
               COUNT(*) AS f_num_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS f_total_spent
        FROM orders
        GROUP BY o_custkey
    """
QUERIES["q_groupby_agg"] = q_groupby_agg


def q_agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate per group: min/max/avg/count-distinct (§2.B)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("f_count"),
        F.min("l_quantity").alias("f_min_qty"),
        F.max("l_quantity").alias("f_max_qty"),
        _davg(F.col("l_extendedprice"), "f_avg_price"),
        F.countDistinct("l_partkey").alias("f_distinct_parts"),
    )


ORACLE["q_agg_multi"] = """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS f_count,
               MIN(l_quantity) AS f_min_qty,
               MAX(l_quantity) AS f_max_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(l_extendedprice) AS f_avg_price,
               COUNT(DISTINCT l_partkey) AS f_distinct_parts
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """
QUERIES["q_agg_multi"] = q_agg_multi


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT. Scale: partial-distinct before the shuffle (hash agg)."""
    o = read_table(spark, sf_dir, "orders")
    return o.select("o_orderstatus", "o_orderpriority").distinct()


ORACLE["q_distinct"] = """
        SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """
QUERIES["q_distinct"] = q_distinct


def q_join_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner FK equi-join orders⋈customer⋈nation (multi-entity FV pattern,
    test_feature_store_workflows.py:432-450). Scale: nation (25 rows) is
    broadcast explicitly; orders⋈customer shuffles on the key — at 100 TB
    pre-bucketing both sides on custkey removes that shuffle."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("c_name").alias("f_customer_name"),
            F.col("n_name").alias("f_nation"),
            "o_totalprice",
        )
    )


ORACLE["q_join_equi"] = """
        SELECT o.o_orderkey, o.o_custkey,
               c.c_name AS f_customer_name,
               n.n_name AS f_nation,
               o.o_totalprice
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    """
QUERIES["q_join_equi"] = q_join_equi


def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join — spine keeps all rows (dataset invariant,
    test_feature_store_workflows.py:178-183)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


ORACLE["q_join_left"] = """
        SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """
QUERIES["q_join_left"] = q_join_left


def q_join_multi_fv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spine joined to ≥2 feature views on the same entity
    (test_feature_store_workflows.py:186-217): two aggregate FVs over
    orders folded onto the customer spine. Scale: both agg subplans shuffle
    on o_custkey; the joins then reuse that partitioning (no extra
    exchange) because the join key equals the group key."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    fv1 = o.groupBy("o_custkey").agg(F.count("*").alias("f_num_orders"))
    fv2 = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(_dsum(F.col("o_totalprice"), "f_filled_spend"))
    )
    return (
        c.join(fv1, c.c_custkey == fv1.o_custkey, "left")
        .drop("o_custkey")
        .join(fv2, c.c_custkey == fv2.o_custkey, "left")
        .drop("o_custkey")
        .select("c_custkey", "c_name", "f_num_orders", "f_filled_spend")
    )


ORACLE["q_join_multi_fv"] = """
        WITH fv1 AS (
            SELECT o_custkey, COUNT(*) AS f_num_orders
            FROM orders GROUP BY o_custkey
        ),
        fv2 AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS f_filled_spend
            FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
        )
        SELECT c.c_custkey, c.c_name, fv1.f_num_orders, fv2.f_filled_spend
        FROM customer c
        LEFT JOIN fv1 ON c.c_custkey = fv1.o_custkey
        LEFT JOIN fv2 ON c.c_custkey = fv2.o_custkey
    """
QUERIES["q_join_multi_fv"] = q_join_multi_fv


def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti join (EXISTS / NOT EXISTS membership). Scale: Spark
    plans left-semi/anti as broadcast or shuffled hash joins with only the
    key column of the right side read (pruned scan)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").select("o_custkey")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", F.lit("has_orders").alias("f_status")
    )
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", F.lit("no_orders").alias("f_status")
    )
    return with_orders.unionByName(without)


ORACLE["q_semi_anti"] = """
        SELECT c_custkey, c_name, 'has_orders' AS f_status
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        UNION ALL
        SELECT c_custkey, c_name, 'no_orders' AS f_status
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """
QUERIES["q_semi_anti"] = q_semi_anti


def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL fan-in of heterogeneous sources (§2.B closure)."""
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    return c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.lit("customer").alias("src"),
    ).unionByName(
        s.select(
            F.col("s_suppkey").alias("id"),
            F.col("s_name").alias("name"),
            F.lit("supplier").alias("src"),
        )
    )


ORACLE["q_union_all"] = """
        SELECT c_custkey AS id, c_name AS name, 'customer' AS src FROM customer
        UNION ALL
        SELECT s_suppkey AS id, s_name AS name, 'supplier' AS src FROM supplier
    """
QUERIES["q_union_all"] = q_union_all


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest order per customer — the canonical feature-store snapshot
    read (row_number over desc timestamp). Deterministic tiebreak by
    o_orderkey. Scale: one shuffle on the partition key; at 100 TB prefer
    max_by-struct agg when only the top row is needed (same result, hash
    agg instead of full sort)."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("f_last_orderkey"),
            F.col("o_orderdate").alias("f_last_orderdate"),
            F.col("o_totalprice").alias("f_last_totalprice"),
        )
    )


ORACLE["q_window_rank"] = """
        SELECT o_custkey,
               o_orderkey AS f_last_orderkey,
               o_orderdate AS f_last_orderdate,
               o_totalprice AS f_last_totalprice
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY o_custkey
                ORDER BY o_orderdate DESC, o_orderkey DESC
            ) AS rn
            FROM orders
        ) WHERE rn = 1
    """
QUERIES["q_window_rank"] = q_window_rank


def q_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling window frame — rolling sum/avg of the last 4 events per user
    (the fine-grained Dynamic-Table FV pattern, README.md:160-167).
    Decimal-exact rolling sum so segment-tree vs running accumulation
    cannot diverge."""
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-3, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast(_DEC)).over(w).cast("double").alias("f_rolling_sum"),
        F.count("*").over(w).alias("f_rolling_n"),
    )


ORACLE["q_window_frame"] = """
        SELECT event_id, user_id, ts,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS f_rolling_sum,
               COUNT(*) OVER w AS f_rolling_n
        FROM events
        WINDOW w AS (
            PARTITION BY user_id
            ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
        )
    """
QUERIES["q_window_frame"] = q_window_frame


def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT top-k (LIMIT 10 reads,
    test_feature_store_workflows.py:352-354). Scale: Spark plans
    TakeOrderedAndProject — per-partition top-k then merge on the driver;
    never a global sort."""
    p = read_table(spark, sf_dir, "part")
    return (
        p.orderBy(F.col("p_retailprice").desc(), F.col("p_partkey").asc())
        .limit(10)
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
    )


ORACLE["q_sort_limit"] = """
        SELECT p_partkey, p_name, p_brand, p_retailprice
        FROM part
        ORDER BY p_retailprice DESC, p_partkey ASC
        LIMIT 10
    """
QUERIES["q_sort_limit"] = q_sort_limit


def q_scalar_str(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar functions: UPPER (the reference uppercases every
    identifier, entity.sql:26), LIKE, replace, concat, substring, length."""
    c = read_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_name").like("%1%")).select(
        "c_custkey",
        F.upper(F.col("c_mktsegment")).alias("f_segment_upper"),
        F.length(F.col("c_name")).cast("long").alias("f_name_len"),
        F.substring(F.col("c_name"), 10, 9).alias("f_name_digits"),
        F.regexp_replace(F.col("c_name"), "0", "#").alias("f_name_masked"),
        F.concat_ws("|", F.col("c_name"), F.col("c_mktsegment")).alias("f_name_seg"),
    )


ORACLE["q_scalar_str"] = """
        SELECT c_custkey,
               UPPER(c_mktsegment) AS f_segment_upper,
               LENGTH(c_name) AS f_name_len,
               SUBSTR(c_name, 10, 9) AS f_name_digits,
               REGEXP_REPLACE(c_name, '0', '#', 'g') AS f_name_masked,
               CONCAT_WS('|', c_name, c_mktsegment) AS f_name_seg
        FROM customer
        WHERE c_name LIKE '%1%'
    """
QUERIES["q_scalar_str"] = q_scalar_str


def q_scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp functions (deterministic subset — no now()): day
    truncation, extract parts, interval arithmetic; daily rollup.
    This is the time-bucketed feature pattern; at scale the day column is
    the managed-FV partition key (partition pruning on time predicates)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.to_date(F.col("ts")).alias("f_day"),
            F.year(F.col("ts")).cast("long").alias("f_year"),
            F.month(F.col("ts")).cast("long").alias("f_month"),
            (F.col("ts") + F.expr("INTERVAL 7 DAYS")).alias("f_ts_plus7d"),
            F.col("value"),
        )
        .groupBy("f_day", "f_year", "f_month")
        .agg(
            F.count("*").alias("f_events"),
            _dsum(F.col("value"), "f_value_sum"),
            F.max("f_ts_plus7d").alias("f_max_plus7d"),
        )
    )


ORACLE["q_scalar_date"] = """
        SELECT CAST(ts AS DATE) AS f_day,
               CAST(YEAR(ts) AS BIGINT) AS f_year,
               CAST(MONTH(ts) AS BIGINT) AS f_month,
               COUNT(*) AS f_events,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS f_value_sum,
               MAX(ts + INTERVAL 7 DAY) AS f_max_plus7d
        FROM events
        GROUP BY 1, 2, 3
    """
QUERIES["q_scalar_date"] = q_scalar_date


def q_scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON parse/extract/cast (PARSE_JSON + ``:field::type`` pattern,
    test_feature_view_metadata_structure.sql:20-33) over the events
    ``props`` JSON column. get_json_object is JVM-side (Jackson) — no UDF."""
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").alias("f_k_str"),
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("f_k_int"),
    ).filter(F.col("f_k_int") >= 50)


ORACLE["q_scalar_json"] = """
        SELECT event_id,
               json_extract_string(props, '$.k') AS f_k_str,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS f_k_int
        FROM events
        WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
    """
QUERIES["q_scalar_json"] = q_scalar_json


def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (HAVING COUNT(DISTINCT ...) pattern,
    tests/test_feature_view_tags.sql:24-27)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("f_n_items"),
            _dsum(F.col("l_quantity"), "f_total_qty"),
            F.countDistinct("l_suppkey").alias("f_n_suppliers"),
        )
        .filter(F.col("f_n_items") > 5)
    )


ORACLE["q_agg_having"] = """
        SELECT l_orderkey,
               COUNT(*) AS f_n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS f_total_qty,
               COUNT(DISTINCT l_suppkey) AS f_n_suppliers
        FROM lineitem
        GROUP BY l_orderkey
        HAVING COUNT(*) > 5
    """
QUERIES["q_agg_having"] = q_agg_having


def q_cte_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-CTE pipeline (3 CTEs, mirroring
    test_feature_view_metadata_structure.sql:4-50). Written in Spark SQL —
    Catalyst produces the same plan as the DataFrame form."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("_q_orders")
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("_q_customer")
    return spark.sql(
        f"""
        WITH order_totals AS (
            SELECT o_custkey,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS {_DEC})) AS DOUBLE) AS spend
            FROM _q_orders
            GROUP BY o_custkey
        ),
        enriched AS (
            SELECT c.c_custkey, c.c_mktsegment, t.n_orders, t.spend
            FROM _q_customer c
            JOIN order_totals t ON c.c_custkey = t.o_custkey
        ),
        banded AS (
            SELECT c_mktsegment,
                   CASE WHEN spend >= 100000 THEN 'big' ELSE 'small' END AS band,
                   n_orders, spend
            FROM enriched
        )
        SELECT c_mktsegment, band,
               COUNT(*) AS f_customers,
               CAST(SUM(CAST(spend AS {_DEC})) AS DOUBLE) AS f_spend,
               CAST(SUM(n_orders) AS BIGINT) AS f_orders
        FROM banded
        GROUP BY c_mktsegment, band
        """
    )


ORACLE["q_cte_pipeline"] = """
        WITH order_totals AS (
            SELECT o_custkey,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS spend
            FROM orders
            GROUP BY o_custkey
        ),
        enriched AS (
            SELECT c.c_custkey, c.c_mktsegment, t.n_orders, t.spend
            FROM customer c
            JOIN order_totals t ON c.c_custkey = t.o_custkey
        ),
        banded AS (
            SELECT c_mktsegment,
                   CASE WHEN spend >= 100000 THEN 'big' ELSE 'small' END AS band,
                   n_orders, spend
            FROM enriched
        )
        SELECT c_mktsegment, band,
               COUNT(*) AS f_customers,
               CAST(SUM(CAST(spend AS DECIMAL(28,6))) AS DOUBLE) AS f_spend,
               CAST(SUM(n_orders) AS BIGINT) AS f_orders
        FROM banded
        GROUP BY c_mktsegment, band
    """
QUERIES["q_cte_pipeline"] = q_cte_pipeline


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy aggregation (SURVEY.md §2.B deferred closure —
    free in Spark). grouping_id disambiguates subtotal rows from genuine
    NULL groups."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("f_count"),
            _dsum(F.col("l_quantity"), "f_qty"),
            F.grouping_id().cast("long").alias("f_grouping"),
        )
    )


ORACLE["q_rollup"] = """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS f_count,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS f_qty,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
               AS f_grouping
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""
QUERIES["q_rollup"] = q_rollup


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operations (deferred closure)."""
    o = read_table(spark, sf_dir, "orders")
    open_c = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    filled_c = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    both = open_c.intersect(filled_c).select(
        "o_custkey", F.lit("both").alias("f_bucket")
    )
    # subtract = EXCEPT DISTINCT (exceptAll would keep surplus duplicates)
    only_open = open_c.subtract(filled_c).select(
        "o_custkey", F.lit("open_only").alias("f_bucket")
    )
    return both.unionByName(only_open)


ORACLE["q_set_ops"] = """
    WITH open_c AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
         filled_c AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    SELECT o_custkey, 'both' AS f_bucket
    FROM (SELECT o_custkey FROM open_c INTERSECT SELECT o_custkey FROM filled_c)
    UNION ALL
    SELECT DISTINCT o_custkey, 'open_only' AS f_bucket
    FROM (SELECT o_custkey FROM open_c EXCEPT SELECT o_custkey FROM filled_c)
"""
QUERIES["q_set_ops"] = q_set_ops


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts by status spread to columns per priority.
    Spark's pivot compiles to a single hash aggregate with conditional
    aggregation — one shuffle on the grouping key."""
    o = read_table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("f_open"),
        F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("f_filled"),
        F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("f_pending"),
    )


ORACLE["q_pivot"] = """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
               AS f_open,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
               AS f_filled,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT)
               AS f_pending
    FROM orders
    GROUP BY o_orderpriority
"""
QUERIES["q_pivot"] = q_pivot


def q_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window: per-user rolling 1-hour event count/sum keyed
    on event time (epoch seconds ordering, rangeBetween). The time-decay
    feature pattern — distinct from the ROWS frame in q_window_frame."""
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp(F.col("ts")))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).alias("f_events_1h"),
        F.sum(F.col("value").cast(_DEC)).over(w).cast("double").alias("f_value_1h"),
    )


ORACLE["q_window_range"] = """
    SELECT event_id, user_id, ts,
           COUNT(*) OVER w AS f_events_1h,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS f_value_1h
    FROM events
    WINDOW w AS (
        PARTITION BY user_id
        ORDER BY epoch(ts)
        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
    )
"""
QUERIES["q_window_range"] = q_window_range


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery + correlated EXISTS in one statement (standard SQL
    closure; Catalyst rewrites the scalar subquery to a broadcast and the
    EXISTS to a left-semi join)."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("_q_sub_orders")
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("_q_sub_customer")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM _q_sub_orders o
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM _q_sub_orders)
          AND EXISTS (SELECT 1 FROM _q_sub_customer c
                      WHERE c.c_custkey = o.o_custkey
                        AND c.c_mktsegment = 'BUILDING')
        """
    )


ORACLE["q_scalar_subquery"] = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
      AND EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey
                    AND c.c_mktsegment = 'BUILDING')
"""
QUERIES["q_scalar_subquery"] = q_scalar_subquery


def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ≡
    DuckDB ``quantile_cont`` — identical interpolation, bit-exact). The
    approx variant for 100 TB is q_agg_approx."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("f_n"),
        F.percentile(F.col("o_totalprice"), F.lit(0.5)).alias("f_p50"),
        F.percentile(F.col("o_totalprice"), F.lit(0.9)).alias("f_p90"),
    )


ORACLE["q_percentile"] = """
    SELECT o_orderpriority,
           COUNT(*) AS f_n,
           quantile_cont(o_totalprice, 0.5) AS f_p50,
           quantile_cont(o_totalprice, 0.9) AS f_p90
    FROM orders
    GROUP BY o_orderpriority
"""
QUERIES["q_percentile"] = q_percentile


def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregations — the 100 TB variants of exact distinct /
    percentile (HLL++ / KLL-style sketches, mergeable across partitions,
    O(1) memory per group) — ORACLE-GATED in bounds-check form (r11,
    VERDICT-r10 #6): the sketch estimates are engine-specific raw
    values, so the output carries the exact aggregates plus FLAGS that
    the estimates honor their accuracy contracts — approx distinct
    within 15% of exact at rsd=0.02 (a ≈7.5σ band: the HLL estimate is
    deterministic for a FIXED dataset, and the band holds for any
    regenerated testdata short of a cosmic outlier — the
    q_approx_distinct_sketch ≈6σ discipline), approx-p50 between exact
    p25 and p75 (percentile_approx at accuracy 1000 has a HARD rank
    error bound ≤ n/1000, far inside that band). DuckDB replays the
    flags as literals and the exact columns hash-gate the plan; the
    sketch aggregates still run (they feed the flags)."""
    li = read_table(spark, sf_dir, "lineitem")
    # Three branches, each with constant-or-domain-sized reduce state
    # (the r15 buffer cut; VERDICT-r14 #6). Previously one groupBy
    # carried a row-sized percentile value buffer per group AND a
    # countDistinct Expand that doubled the fact through it.
    #   A: (flag, price) distinct-value frame → WEIGHTED exact
    #      quartiles (percentile's frequency arg — buffers hold one
    #      entry per DISTINCT price, never per row) + f_n.
    #   B: (flag, partkey) distinct frame → exact distinct as a plain
    #      count (no Expand) + the HLL estimate (insertion-idempotent:
    #      HLL of the distinct set ≡ HLL of the raw multiset).
    #   C: raw rows → percentile_approx (the KLL-style sketch under
    #      test must see raw multiplicity; constant memory by design).
    # Joins are 3-row group frames — AQE broadcasts.
    dv = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count("*").cast("long").alias("_c")
    )
    a = dv.groupBy("l_returnflag").agg(
        F.percentile(
            F.col("l_extendedprice"),
            F.array(F.lit(0.25), F.lit(0.75)),
            F.col("_c"),
        ).alias("_q"),
        F.sum("_c").cast("long").alias("f_n"),
    )
    pk = li.select("l_returnflag", "l_partkey").distinct()
    b = pk.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("f_exact_parts"),
        F.approx_count_distinct("l_partkey", 0.02).alias("_approx_parts"),
    )
    c = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias(
            "_approx_p50"
        )
    )
    return a.join(b, "l_returnflag").join(c, "l_returnflag").select(
        "l_returnflag",
        "f_exact_parts",
        "f_n",
        (
            F.abs(F.col("_approx_parts") - F.col("f_exact_parts")) * 100
            <= F.col("f_exact_parts") * 15
        ).cast("int").alias("f_distinct_ok"),
        (
            (F.col("_approx_p50") >= F.col("_q")[0])
            & (F.col("_approx_p50") <= F.col("_q")[1])
        ).cast("int").alias("f_p50_ok"),
    )


ORACLE["q_agg_approx"] = """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS f_exact_parts,
           CAST(COUNT(*) AS BIGINT) AS f_n,
           CAST(1 AS INT) AS f_distinct_ok,
           CAST(1 AS INT) AS f_p50_ok
    FROM lineitem
    GROUP BY l_returnflag
"""
QUERIES["q_agg_approx"] = q_agg_approx


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the general form of rollup/cube (q_rollup covers the
    hierarchy special case). grouping() arithmetic disambiguates subtotal
    rows from genuine NULL groups. Single expand + one hash aggregate."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("_q2_orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS f_count,
               CAST(SUM(CAST(o_totalprice AS {_DEC})) AS DOUBLE) AS f_spend,
               CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                    AS BIGINT) AS f_grouping
        FROM _q2_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    )


ORACLE["q_grouping_sets"] = """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS f_count,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS f_spend,
               CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                    AS BIGINT) AS f_grouping
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
    """
QUERIES["q_grouping_sets"] = q_grouping_sets


def q_window_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window navigation: lag/lead/first/last + ntile/percent_rank/
    cume_dist per customer order history. Full (date, orderkey) ordering
    makes every rank deterministic. One shuffle on o_custkey; all seven
    functions share the same sort (single window exec)."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_totalprice").over(w).alias("f_prev_price"),
        F.lead("o_totalprice").over(w).alias("f_next_price"),
        F.first("o_orderdate").over(w).alias("f_first_date"),
        F.last("o_orderkey").over(wfull).alias("f_last_key"),
        F.ntile(4).over(w).cast("long").alias("f_quartile"),
        F.percent_rank().over(w).alias("f_pct_rank"),
        F.cume_dist().over(w).alias("f_cume"),
    )


ORACLE["q_window_nav"] = """
        SELECT o_custkey, o_orderkey, o_orderdate,
               LAG(o_totalprice) OVER w AS f_prev_price,
               LEAD(o_totalprice) OVER w AS f_next_price,
               FIRST_VALUE(o_orderdate) OVER w AS f_first_date,
               LAST_VALUE(o_orderkey) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate ASC, o_orderkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS f_last_key,
               CAST(NTILE(4) OVER w AS BIGINT) AS f_quartile,
               PERCENT_RANK() OVER w AS f_pct_rank,
               CUME_DIST() OVER w AS f_cume
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderkey ASC)
    """
QUERIES["q_window_nav"] = q_window_nav


def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics end-to-end: NULLIF/CASE null injection, COUNT(col)
    vs COUNT(*), COALESCE in aggregation, distinct-over-nulls, null
    fraction. The canonical data-quality profile for a feature column."""
    o = read_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderpriority",
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("n_status"),
        F.when(F.col("o_totalprice") < 50000.0, F.lit(None).cast("double"))
        .otherwise(F.col("o_totalprice"))
        .alias("n_price"),
    )
    return base.groupBy("o_orderpriority").agg(
        F.count("*").alias("f_rows"),
        F.count("n_status").alias("f_status_nonnull"),
        (F.count("*") - F.count("n_price")).alias("f_price_nulls"),
        _dsum(F.coalesce(F.col("n_price"), F.lit(0.0)), "f_price_or_zero"),
        ((F.count("*") - F.count("n_price")).cast("double") / F.count("*")).alias(
            "f_null_frac"
        ),
        F.countDistinct("n_status").alias("f_distinct_status"),
    )


ORACLE["q_null_handling"] = """
        WITH base AS (
            SELECT o_orderpriority,
                   NULLIF(o_orderstatus, 'P') AS n_status,
                   CASE WHEN o_totalprice < 50000.0 THEN NULL
                        ELSE o_totalprice END AS n_price
            FROM orders
        )
        SELECT o_orderpriority,
               COUNT(*) AS f_rows,
               COUNT(n_status) AS f_status_nonnull,
               COUNT(*) - COUNT(n_price) AS f_price_nulls,
               CAST(SUM(CAST(COALESCE(n_price, 0.0) AS DECIMAL(28,6)))
                    AS DOUBLE) AS f_price_or_zero,
               CAST(COUNT(*) - COUNT(n_price) AS DOUBLE) / COUNT(*)
                   AS f_null_frac,
               COUNT(DISTINCT n_status) AS f_distinct_status
        FROM base
        GROUP BY o_orderpriority
    """
QUERIES["q_null_handling"] = q_null_handling


def q_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation + array functions: collect → sort → join/distinct/
    element_at. Output is scalar columns (joined string, sizes) so the
    hash-compare stays type-stable. Scale: collect_list is bounded by
    per-key cardinality (orders per customer), never global."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_list("o_orderpriority")), ",").alias(
            "f_prio_list"
        ),
        F.count("*").alias("f_n_orders"),
        F.size(F.array_distinct(F.collect_list("o_orderpriority")))
        .cast("long")
        .alias("f_n_distinct_prio"),
        F.element_at(F.array_sort(F.collect_list("o_orderstatus")), 1).alias(
            "f_min_status"
        ),
    )


ORACLE["q_array_agg"] = """
        SELECT o_custkey,
               string_agg(o_orderpriority, ',' ORDER BY o_orderpriority)
                   AS f_prio_list,
               COUNT(*) AS f_n_orders,
               COUNT(DISTINCT o_orderpriority) AS f_n_distinct_prio,
               MIN(o_orderstatus) AS f_min_status
        FROM orders
        GROUP BY o_custkey
    """
QUERIES["q_array_agg"] = q_array_agg


def q_num_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric scalar functions: floor/ceil/abs/sign/sqrt/power/greatest/
    least. All IEEE-exact on these inputs (sqrt is correctly rounded;
    power has an exact small-integer base). Pure per-row codegen — no
    shuffle."""
    p = read_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.floor(F.col("p_retailprice")).cast("double").alias("f_floor"),
        F.ceil(F.col("p_retailprice")).cast("double").alias("f_ceil"),
        F.abs(F.col("p_retailprice") - 1000.0).alias("f_abs_delta"),
        F.signum((F.col("p_size") - 25).cast("double")).alias("f_sign"),
        F.sqrt(F.col("p_retailprice")).alias("f_sqrt"),
        F.pow(F.col("p_size").cast("double"), F.lit(2.0)).alias("f_size_sq"),
        F.greatest(F.col("p_retailprice"), F.lit(1000.0)).alias("f_hi"),
        F.least(F.col("p_retailprice"), F.lit(1000.0)).alias("f_lo"),
    )


ORACLE["q_num_fns"] = """
        SELECT p_partkey,
               CAST(FLOOR(p_retailprice) AS DOUBLE) AS f_floor,
               CAST(CEIL(p_retailprice) AS DOUBLE) AS f_ceil,
               ABS(p_retailprice - 1000.0) AS f_abs_delta,
               CAST(SIGN(CAST(p_size - 25 AS DOUBLE)) AS DOUBLE) AS f_sign,
               SQRT(p_retailprice) AS f_sqrt,
               POWER(CAST(p_size AS DOUBLE), 2.0) AS f_size_sq,
               GREATEST(p_retailprice, 1000.0) AS f_hi,
               LEAST(p_retailprice, 1000.0) AS f_lo
        FROM part
    """
QUERIES["q_num_fns"] = q_num_fns


def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregated views (customers with open vs
    filled orders) — keys existing on either side survive with nulls on
    the other. Both inputs aggregate on the join key first, so the outer
    join reuses the agg's hash partitioning (no extra exchange)."""
    o = read_table(spark, sf_dir, "orders")
    open_spend = (
        o.filter(F.col("o_orderstatus") == "O")
        .groupBy("o_custkey")
        .agg(_dsum(F.col("o_totalprice"), "f_open_spend"))
    )
    filled_spend = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("f_custkey"))
        .agg(_dsum(F.col("o_totalprice"), "f_filled_spend"))
    )
    joined = open_spend.join(
        filled_spend,
        open_spend.o_custkey == filled_spend.f_custkey,
        "full_outer",
    )
    return joined.select(
        F.coalesce(F.col("o_custkey"), F.col("f_custkey")).alias("custkey"),
        "f_open_spend",
        "f_filled_spend",
    )


ORACLE["q_join_full"] = """
        WITH open_spend AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                       AS f_open_spend
            FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
        ),
        filled_spend AS (
            SELECT o_custkey AS f_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                       AS f_filled_spend
            FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
        )
        SELECT COALESCE(o.o_custkey, f.f_custkey) AS custkey,
               o.f_open_spend, f.f_filled_spend
        FROM open_spend o
        FULL OUTER JOIN filled_spend f ON o.o_custkey = f.f_custkey
    """
QUERIES["q_join_full"] = q_join_full


def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-dimension CROSS JOIN (region × distinct order status): the
    scaffold grid for dense feature matrices (every key × every bucket
    before a left join fills observed values). Both sides tiny →
    BroadcastNestedLoopJoin, never a shuffled cartesian."""
    r = read_table(spark, sf_dir, "region")
    o = read_table(spark, sf_dir, "orders")
    statuses = o.select("o_orderstatus").distinct()
    return r.select("r_name").crossJoin(statuses).select(
        "r_name", F.col("o_orderstatus").alias("f_status")
    )


ORACLE["q_cross_join"] = """
        SELECT r_name, f_status
        FROM (SELECT r_name FROM region)
        CROSS JOIN (SELECT DISTINCT o_orderstatus AS f_status FROM orders)
    """
QUERIES["q_cross_join"] = q_cross_join


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long), the inverse of q_pivot: per-status order
    aggregates melted into (status, metric, value) rows via ``stack`` —
    one generator projection after the agg, no extra shuffle. The
    long-form reshape feature tooling needs when a metrics table feeds
    a generic consumer."""
    o = read_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderstatus").agg(
        _dsum(F.col("o_totalprice"), "f_total"),
        F.count("*").cast("double").alias("f_cnt"),
        F.max("o_totalprice").alias("f_max"),
    )
    return agg.selectExpr(
        "o_orderstatus",
        "stack(3, 'total', f_total, 'count', f_cnt, 'max', f_max)"
        " AS (f_metric, f_value)",
    )


ORACLE["q_unpivot"] = """
        WITH agg AS (
            SELECT o_orderstatus,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                       AS f_total,
                   CAST(COUNT(*) AS DOUBLE) AS f_cnt,
                   MAX(o_totalprice) AS f_max
            FROM orders GROUP BY o_orderstatus
        )
        SELECT o_orderstatus, 'total' AS f_metric, f_total AS f_value FROM agg
        UNION ALL
        SELECT o_orderstatus, 'count', f_cnt FROM agg
        UNION ALL
        SELECT o_orderstatus, 'max', f_max FROM agg
    """
QUERIES["q_unpivot"] = q_unpivot


def q_window_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — percent_rank, cume_dist, ntile —
    each line item ranked by price WITHIN ITS ORDER. The window
    partitions on the HIGH-CARDINALITY l_orderkey (bounded ~4 rows per
    partition), never on a handful of strata: per-stratum global ranks
    are the single-task-sort scale killer the two-phase top-K keys
    exist to avoid (tests/test_scale_plans.py), so the per-entity form
    is the one that ships. Determinism: the (price, linenumber) order
    key is unique per partition → no peers → percent_rank/cume_dist are
    exact integer ratios and ntile splits are stable."""
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_extendedprice", "l_linenumber"
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        F.percent_rank().over(w).alias("f_prank"),
        F.cume_dist().over(w).alias("f_cume"),
        F.ntile(4).over(w).cast("long").alias("f_quartile"),
    )


ORACLE["q_window_percentile"] = """
        SELECT l_orderkey, l_linenumber, l_extendedprice,
               percent_rank() OVER w AS f_prank,
               cume_dist() OVER w AS f_cume,
               CAST(ntile(4) OVER w AS BIGINT) AS f_quartile
        FROM lineitem
        WINDOW w AS (PARTITION BY l_orderkey
                     ORDER BY l_extendedprice, l_linenumber)
    """
QUERIES["q_window_percentile"] = q_window_percentile


def q_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact GLOBAL row number over the whole table — the operation
    Spark's own `Window.orderBy()` (no partition) executes in a single
    task. functions/ranks.global_row_number spells it distributed:
    range exchange on the order key, parallel per-partition local
    sorts, prefix-sum offsets from a bounded P-row collect. Unique
    (price, orderkey, linenumber) tiebreak ⇒ identical to SQL
    ROW_NUMBER() OVER (ORDER BY …) — oracle-gated; the no-single-task
    plan shape is asserted in tests/test_scale_plans.py."""
    from ..functions.ranks import global_row_number

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return global_row_number(
        li,
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        out_col="f_rank",
    )


ORACLE["q_global_rank"] = """
        SELECT l_orderkey, l_linenumber, l_extendedprice,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ) AS BIGINT) AS f_rank
        FROM lineitem
    """
QUERIES["q_global_rank"] = q_global_rank


def q_global_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global NTILE(7) by order value without a global window
    (functions/ranks.global_ntile — driver-side total from the P-row
    size collect, arithmetic bucketing). Output: per-bucket count and
    value range — the global quantile-cut table a dataset sharder uses."""
    from ..functions.ranks import global_ntile

    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    b = global_ntile(
        o, ["o_totalprice", "o_orderkey"], 7, out_col="f_bucket"
    )
    return b.groupBy("f_bucket").agg(
        F.count("*").cast("long").alias("f_n"),
        F.min("o_totalprice").alias("f_lo"),
        F.max("o_totalprice").alias("f_hi"),
    )


ORACLE["q_global_ntile"] = """
        WITH b AS (
            SELECT o_totalprice,
                   NTILE(7) OVER (ORDER BY o_totalprice, o_orderkey)
                       AS f_bucket
            FROM orders
        )
        SELECT CAST(f_bucket AS BIGINT) AS f_bucket,
               CAST(COUNT(*) AS BIGINT) AS f_n,
               MIN(o_totalprice) AS f_lo,
               MAX(o_totalprice) AS f_hi
        FROM b GROUP BY f_bucket
    """
QUERIES["q_global_ntile"] = q_global_ntile



def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation — all 2^k grouping-set combinations (the third
    member of the rollup / grouping-sets family; q_rollup and
    q_grouping_sets pin the other two). Spark expands CUBE into one
    Expand + single hash aggregate — one shuffle regardless of the
    number of grouping sets. GROUPING() flags disambiguate real NULLs
    from subtotal rows."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("long").alias("f_n"),
            F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias(
                "f_qty"
            ),
            F.grouping("l_returnflag").cast("long").alias("f_g_rf"),
            F.grouping("l_linestatus").cast("long").alias("f_g_ls"),
        )
    )


ORACLE["q_cube"] = """
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS f_n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                   AS f_qty,
               CAST(GROUPING(l_returnflag) AS BIGINT) AS f_g_rf,
               CAST(GROUPING(l_linestatus) AS BIGINT) AS f_g_ls
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """
QUERIES["q_cube"] = q_cube


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers — the privacy
    pre-release check a dataset publisher runs: every (mktsegment,
    nation) combination carried by fewer than k=10 customers is a
    re-identification risk. One map-side-combinable agg on the
    quasi-identifier key + a HAVING filter; linear, no joins. The
    release gate companion to q_pii_scan (direct identifiers)."""
    c = read_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count("*").cast("long").alias("f_group_size"))
        .filter(F.col("f_group_size") < 10)
        .withColumn(
            "f_risk",
            F.when(F.col("f_group_size") == 1, F.lit("unique"))
            .when(F.col("f_group_size") <= 4, F.lit("high"))
            .otherwise(F.lit("low")),
        )
    )


ORACLE["q_k_anonymity"] = """
        SELECT c_mktsegment, c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS f_group_size,
               CASE WHEN COUNT(*) = 1 THEN 'unique'
                    WHEN COUNT(*) <= 4 THEN 'high'
                    ELSE 'low' END AS f_risk
        FROM customer
        GROUP BY c_mktsegment, c_nationkey
        HAVING COUNT(*) < 10
    """
QUERIES["q_k_anonymity"] = q_k_anonymity



def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) interleave key over two bucketed dimensions
    (functions/features.zorder_value — the OPTIMIZE ZORDER BY analog
    driving two-dimensional file skipping, row-group-stat-proved in
    tests/test_cluster_by.py). Pure row-local shift/mask bit arithmetic
    (whole-stage codegen, zero shuffle) — and bit-exact across engines,
    so the layout key itself is oracle-gated."""
    from ..functions.features import zorder_value

    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return o.select(
        "o_orderkey",
        (F.col("o_orderkey") % 128).alias("f_a"),
        (F.col("o_custkey") % 128).alias("f_b"),
        zorder_value(
            F.col("o_orderkey") % 128, F.col("o_custkey") % 128, bits=7
        ).alias("f_z"),
    )


ORACLE["q_zorder_key"] = """
        WITH b AS (
            SELECT o_orderkey,
                   o_orderkey % 128 AS f_a,
                   o_custkey % 128 AS f_b
            FROM orders
        )
        SELECT o_orderkey, f_a, f_b,
               CAST((
                   (((f_a >> 0) & 1) << 0) |
                   (((f_b >> 0) & 1) << 1) |
                   (((f_a >> 1) & 1) << 2) |
                   (((f_b >> 1) & 1) << 3) |
                   (((f_a >> 2) & 1) << 4) |
                   (((f_b >> 2) & 1) << 5) |
                   (((f_a >> 3) & 1) << 6) |
                   (((f_b >> 3) & 1) << 7) |
                   (((f_a >> 4) & 1) << 8) |
                   (((f_b >> 4) & 1) << 9) |
                   (((f_a >> 5) & 1) << 10) |
                   (((f_b >> 5) & 1) << 11) |
                   (((f_a >> 6) & 1) << 12) |
                   (((f_b >> 6) & 1) << 13)
               ) AS BIGINT) AS f_z
        FROM b
    """
QUERIES["q_zorder_key"] = q_zorder_key



def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISET set operations — INTERSECT ALL / EXCEPT ALL (the
    bag-semantics twins of q_set_ops' distinct forms; SQL:2003 feature
    both engines implement natively). Duplicate o_custkey rows survive
    with min-count / count-difference multiplicity — the semantics that
    matter when rows are events, not identities. One shuffle each on the
    compared column."""
    o = read_table(spark, sf_dir, "orders")
    open_c = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    filled_c = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    both = open_c.intersectAll(filled_c).select(
        "o_custkey", F.lit("both_all").alias("f_bucket")
    )
    surplus = open_c.exceptAll(filled_c).select(
        "o_custkey", F.lit("open_surplus").alias("f_bucket")
    )
    return both.unionByName(surplus)


ORACLE["q_set_ops_all"] = """
        WITH o1 AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
             f1 AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        SELECT o_custkey, 'both_all' AS f_bucket
        FROM (SELECT o_custkey FROM o1 INTERSECT ALL
              SELECT o_custkey FROM f1)
        UNION ALL
        SELECT o_custkey, 'open_surplus' AS f_bucket
        FROM (SELECT o_custkey FROM o1 EXCEPT ALL
              SELECT o_custkey FROM f1)
    """
QUERIES["q_set_ops_all"] = q_set_ops_all


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals — 20 buckets over the
    [min, max] range (two-pass: a 1-row bounds aggregate broadcast into
    a floor-spelled bucket projection, then a map-side-combinable
    count). The distribution profile every data-quality report carries.
    The bucket edge arithmetic uses identical double operation order on
    both engines and floor (never round) because the bucket id feeds
    the GROUP BY."""
    o = read_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("_lo"), F.max("o_totalprice").alias("_hi")
    )
    b = o.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("_lo"))
                / ((F.col("_hi") - F.col("_lo")) / 20.0)
            ),
            F.lit(19),
        ).cast("long").alias("f_bucket"),
        "_lo",
        "_hi",
    )
    return b.groupBy("f_bucket").agg(
        F.count("*").cast("long").alias("f_n"),
        F.min("_lo").alias("f_range_lo"),
        F.max("_hi").alias("f_range_hi"),
    )


ORACLE["q_histogram"] = """
        WITH bounds AS (
            SELECT MIN(o_totalprice) AS _lo, MAX(o_totalprice) AS _hi
            FROM orders
        ),
        b AS (
            SELECT LEAST(FLOOR((o_totalprice - _lo) / ((_hi - _lo) / 20.0)),
                         19) AS f_bucket,
                   _lo, _hi
            FROM orders, bounds
        )
        SELECT CAST(f_bucket AS BIGINT) AS f_bucket,
               CAST(COUNT(*) AS BIGINT) AS f_n,
               MIN(_lo) AS f_range_lo,
               MAX(_hi) AS f_range_hi
        FROM b GROUP BY f_bucket
    """
QUERIES["q_histogram"] = q_histogram



def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY … LIMIT (SQL:1999
    lateral derived table; Spark ≥3.2 and DuckDB both execute it) —
    each customer joined to their single highest-value order. Catalyst
    decorrelates the lateral into a ranked join (same physical family
    as the window top-1), so the declarative per-row-subquery form
    costs one shuffle, not |customers| subquery executions."""
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("_q3_customer")
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("_q3_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment,
               t.o_orderkey AS f_top_order,
               t.o_totalprice AS f_top_price
        FROM _q3_customer c JOIN LATERAL (
            SELECT o_orderkey, o_totalprice FROM _q3_orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1
        ) t
        """
    )


ORACLE["q_lateral_topn"] = """
        SELECT c.c_custkey, c.c_mktsegment,
               t.o_orderkey AS f_top_order,
               t.o_totalprice AS f_top_price
        FROM customer c JOIN LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1
        ) t ON TRUE
    """
QUERIES["q_lateral_topn"] = q_lateral_topn


# ---------------------------------------------------------------------------
# Salted skew join
# ---------------------------------------------------------------------------


def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit salt-and-replicate skew join (functions/skew.
    salted_left_join), ORACLE-GATED against the plain left join it must
    be indistinguishable from: the fact side gets a deterministic
    16-way salt, the dim side replicates 16×, the join key becomes
    (suppkey, salt) — a hot supplier's rows spread over 16 reducers
    instead of one. The oracle is the UNSALTED join: the hash-match IS
    the proof that salting never changes results (dim unique per key ⇒
    replication cancels).

    Scale: this is the fallback for fact⋈dim skew AQE's skew-join
    splitting can't reach (broadcast-disabled dims, one key = 30% of a
    100 TB fact). At sf0.01 Spark will happily broadcast the 100-row
    supplier dim — the salted plan shape (join keys include __fs_salt)
    is what tests/test_scale_plans.py pins."""
    from ..functions.skew import salted_left_join

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_quantity"
    )
    dim = read_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"),
        F.col("s_nationkey"),
    )
    out = salted_left_join(li, dim, on=["l_suppkey"], num_salts=16)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        F.col("s_nationkey").cast("long").alias("f_supp_nation"),
        F.col("l_quantity").alias("f_qty"),
    )


QUERIES["q_join_skew_salted"] = q_join_skew_salted


ORACLE["q_join_skew_salted"] = """
    SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey,
           CAST(s.s_nationkey AS BIGINT) AS f_supp_nation,
           l.l_quantity AS f_qty
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
"""
