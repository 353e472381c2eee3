"""Feature-store-machinery queries — the FS lifecycle itself under the
DuckDB oracle gate.

Unlike the relational keys (plain Spark plans), these exercise the engine's
own registration → materialization → read-back → generate_dataset paths
end-to-end, and the oracle states what the *result* must equal in plain
SQL. This mirrors the reference's flagship test technique: produce the
object through the API, then compare the observable result against an
independically-derived golden form
(/root/reference/integration_tests/python_tests/
test_metadata_compatibility.py:52-104).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..objects import Entity, FeatureView, RefreshSpec
from ..sources.tables import read_table
from ..store import FeatureStore
from .sql import _DEC


def _fs(spark: SparkSession) -> FeatureStore:
    return FeatureStore(spark, tempfile.mkdtemp(prefix="fs_q_"), name="Q_FS")


def q_fv_static_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static ("external") FV: register SQL body, read back — the body is
    NOT executed at registration, only lazily re-planned by Catalyst at
    read (CREATE OR REPLACE VIEW semantics, feature_view.sql:183-195).
    The read plan inlines the view → filters/pruning push into the scan."""
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("q_customer")
    fs = _fs(spark)
    fs.register_entity(Entity("customer", ["c_custkey"]))
    fs.register_feature_view(
        FeatureView(
            "static_cust",
            ["customer"],
            sql="""SELECT c_custkey,
                          c_acctbal AS f_acctbal,
                          c_mktsegment AS f_segment
                   FROM q_customer
                   WHERE c_acctbal > 0""",
        ),
        version="1.0",
    )
    return fs.read_feature_view("STATIC_CUST$1.0")


def q_fv_managed_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Managed FV: register + materialize (Dynamic Table ON_CREATE
    semantics, feature_view.sql:115-129), read back from the parquet
    materialization — values must round-trip exactly."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("q_orders")
    fs = _fs(spark)
    fs.register_entity(Entity("customer", ["o_custkey"]))
    fs.register_feature_view(
        FeatureView(
            "managed_orders",
            ["customer"],
            sql=f"""SELECT o_custkey,
                           COUNT(*) AS f_num_orders,
                           CAST(SUM(CAST(o_totalprice AS {_DEC})) AS DOUBLE)
                               AS f_total_spent
                    FROM q_orders
                    GROUP BY o_custkey""",
            refresh=RefreshSpec("1 minute", "FULL", "ON_CREATE"),
        ),
        version="1.0",
    )
    return fs.read_feature_view("MANAGED_ORDERS$1.0")


def q_fv_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FV chaining — an FV defined over another FV (multi-hop DAG,
    test_feature_store_workflows.py:286-414; ref() of another FV
    test_derived_customer_features.sql:36). The derived FV's plan expands
    recursively; Catalyst collapses the stack into one optimized plan."""
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q_lineitem")
    fs = _fs(spark)
    fs.register_entity(Entity("order_ent", ["l_orderkey"]))
    base = fs.register_feature_view(
        FeatureView(
            "base_items",
            ["order_ent"],
            sql=f"""SELECT l_orderkey,
                           COUNT(*) AS f_n_items,
                           CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE)
                               AS f_total_qty
                    FROM q_lineitem
                    GROUP BY l_orderkey""",
        ),
        version="1.0",
    )
    # expose the registered FV for the derived body (view composition)
    fs.read_feature_view(base).createOrReplaceTempView("q_base_items")
    fs.register_feature_view(
        FeatureView(
            "derived_items",
            ["order_ent"],
            sql="""SELECT l_orderkey,
                          f_n_items,
                          f_total_qty,
                          CASE WHEN f_total_qty / f_n_items > 25 THEN 'bulky'
                               ELSE 'light' END AS f_band
                   FROM q_base_items
                   WHERE f_n_items >= 2""",
        ),
        version="1.0",
    )
    return fs.read_feature_view("DERIVED_ITEMS$1.0")


def q_generate_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full generate_dataset path through the API: spine (purchase
    events + label) PIT-joined to a timestamped FV (error-event values) —
    test_feature_store_workflows.py:128-151 re-expressed over the driver's
    events table. Every spine row preserved; features strictly
    at-or-before event_time."""
    read_table(spark, sf_dir, "events").createOrReplaceTempView("q_events")
    fs = _fs(spark)
    fs.register_entity(Entity("user", ["user_id"]))
    fs.register_feature_view(
        FeatureView(
            "user_errors",
            ["user"],
            sql="""SELECT user_id, ts, value AS f_last_error_value
                   FROM q_events WHERE event_type = 'error'""",
            timestamp_col="ts",
        ),
        version="1.0",
    )
    spine = spark.sql(
        """SELECT event_id, user_id, ts AS event_time,
                  user_id % 2 AS label
           FROM q_events WHERE event_type = 'purchase'"""
    )
    fv = fs.get_feature_view("user_errors", "1.0")
    ds = fs.generate_dataset(
        "train",
        spine,
        [fv],
        version="1",
        spine_timestamp_col="event_time",
        spine_label_cols=["label"],
    )
    return ds.read.to_df()


def q_fv_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timeless spine × timestamped FV → LATEST snapshot per key through
    ``retrieve_feature_values`` (the max_by-struct path in _join_one_fv:
    one hash aggregate, no window sort — the scalable "current feature
    values" read). The FV pre-aggregates per (user, ts) so the max_by
    ordering key is tie-free → deterministic."""
    read_table(spark, sf_dir, "events").createOrReplaceTempView("q_ls_events")
    fs = _fs(spark)
    fs.register_entity(Entity("user", ["user_id"]))
    fs.register_feature_view(
        FeatureView(
            "user_latest",
            ["user"],
            sql="""SELECT user_id, ts, MAX(value) AS f_latest_value
                   FROM q_ls_events GROUP BY user_id, ts""",
            timestamp_col="ts",
        ),
        version="1.0",
    )
    spine = spark.sql("SELECT DISTINCT user_id FROM q_ls_events")
    fv = fs.get_feature_view("user_latest", "1.0")
    return fs.retrieve_feature_values(spine, [fv])


def q_fv_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The profiling machinery under the oracle gate: register a static
    FV, run ``profile_feature_view``, and hash-check the exact-arithmetic
    fields (counts, null fractions, min/max) against plain SQL. The
    approx/IEEE-order-dependent fields (HLL distinct, mean, stddev) are
    excluded — they are pytest-covered (tests/test_profile.py) but not
    cross-engine-stable. Columns are integer/string-typed so min/max
    string rendering is identical in both engines (double→string
    formatting is not)."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("q_prof_orders")
    fs = _fs(spark)
    fs.register_entity(Entity("order", ["o_orderkey"]))
    fs.register_feature_view(
        FeatureView(
            "prof_orders",
            ["order"],
            sql="""SELECT o_orderkey, o_orderstatus,
                          CASE WHEN o_totalprice < 50000.0 THEN NULL
                               ELSE o_custkey END AS f_big_cust
                   FROM q_prof_orders""",
        ),
        version="1.0",
    )
    prof = fs.profile_feature_view("PROF_ORDERS$1.0")
    return prof.select(
        "column", "dtype", "n_rows", "n_nulls", "null_frac", "min", "max"
    )


ORACLE: dict[str, str] = {
    "q_fv_profile": """
        WITH base AS (
            SELECT o_orderkey, o_orderstatus,
                   CASE WHEN o_totalprice < 50000.0 THEN NULL
                        ELSE o_custkey END AS f_big_cust
            FROM orders
        )
        SELECT 'o_orderkey' AS "column", 'bigint' AS dtype,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
               CAST(COUNT(*) - COUNT(o_orderkey) AS DOUBLE) / COUNT(*)
                   AS null_frac,
               CAST(MIN(o_orderkey) AS VARCHAR) AS min,
               CAST(MAX(o_orderkey) AS VARCHAR) AS max
        FROM base
        UNION ALL
        SELECT 'o_orderstatus', 'string',
               CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
               CAST(COUNT(*) - COUNT(o_orderstatus) AS DOUBLE) / COUNT(*),
               MIN(o_orderstatus), MAX(o_orderstatus)
        FROM base
        UNION ALL
        SELECT 'f_big_cust', 'bigint',
               CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) - COUNT(f_big_cust) AS BIGINT),
               CAST(COUNT(*) - COUNT(f_big_cust) AS DOUBLE) / COUNT(*),
               CAST(MIN(f_big_cust) AS VARCHAR),
               CAST(MAX(f_big_cust) AS VARCHAR)
        FROM base
    """,
    "q_fv_latest_snapshot": """
        WITH fvsrc AS (
            SELECT user_id, ts, MAX(value) AS f_latest_value
            FROM events GROUP BY user_id, ts
        ),
        ranked AS (
            SELECT user_id, f_latest_value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts DESC
                   ) AS rn
            FROM fvsrc
        ),
        spine AS (SELECT DISTINCT user_id FROM events)
        SELECT s.user_id, r.f_latest_value
        FROM spine s
        LEFT JOIN ranked r ON s.user_id = r.user_id AND r.rn = 1
    """,
    "q_fv_static_read": """
        SELECT c_custkey, c_acctbal AS f_acctbal, c_mktsegment AS f_segment
        FROM customer WHERE c_acctbal > 0
    """,
    "q_fv_managed_read": """
        SELECT o_custkey,
               COUNT(*) AS f_num_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS f_total_spent
        FROM orders GROUP BY o_custkey
    """,
    "q_fv_chain": """
        WITH base AS (
            SELECT l_orderkey,
                   COUNT(*) AS f_n_items,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS f_total_qty
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT l_orderkey, f_n_items, f_total_qty,
               CASE WHEN f_total_qty / f_n_items > 25 THEN 'bulky'
                    ELSE 'light' END AS f_band
        FROM base WHERE f_n_items >= 2
    """,
    "q_generate_dataset": """
        WITH spine AS (
            SELECT event_id, user_id, ts AS event_time, user_id % 2 AS label
            FROM events WHERE event_type = 'purchase'
        ),
        feats AS (
            SELECT user_id, ts, value FROM events WHERE event_type = 'error'
        ),
        ranked AS (
            SELECT s.event_id, s.user_id, s.event_time, s.label, f.value,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.event_id ORDER BY f.ts DESC
                   ) AS rn
            FROM spine s
            LEFT JOIN feats f
              ON s.user_id = f.user_id AND f.ts <= s.event_time
        )
        SELECT event_id, user_id, event_time, label,
               value AS f_last_error_value
        FROM ranked WHERE rn = 1
    """,
}

QUERIES = {
    "q_fv_static_read": q_fv_static_read,
    "q_fv_latest_snapshot": q_fv_latest_snapshot,
    "q_fv_managed_read": q_fv_managed_read,
    "q_fv_chain": q_fv_chain,
    "q_generate_dataset": q_generate_dataset,
    "q_fv_profile": q_fv_profile,
}


# ---------------------------------------------------------------------------
# Semantic-layer metric evaluation (VERDICT r12 next #2)
# ---------------------------------------------------------------------------

_METRIC_YML = """\
version: 2

semantic_models:
  - name: orders_sem
    model: ref('orders_model')
    entities:
      - name: customer
        type: foreign
        expr: o_custkey
      - name: order_e
        type: primary
        expr: o_orderkey
    dimensions:
      - name: priority
        type: categorical
        expr: o_orderpriority
      - name: order_date
        type: time
        expr: o_orderdate
    measures:
      - name: revenue
        agg: sum
        expr: CAST(o_totalprice AS DECIMAL(28,6))
      - name: revenue_cents
        agg: sum
        expr: CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
      - name: n_orders
        agg: count
        expr: o_orderkey
      - name: big_order_ids
        agg: count
        expr: CASE WHEN o_totalprice > 150000 THEN o_orderkey END
      - name: max_cents
        agg: max
        expr: CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
      - name: min_cents
        agg: min
        expr: CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
  - name: lineitem_sem
    model: ref('lineitem_model')
    entities:
      - name: order_e
        type: foreign
        expr: l_orderkey
    dimensions:
      - name: ship_date
        type: time
        expr: l_shipdate
    measures:
      - name: n_items
        agg: count
        expr: l_orderkey
  - name: customers_sem
    model: ref('customer_model')
    entities:
      - name: customer
        type: primary
        expr: c_custkey
      - name: nation_e
        type: foreign
        expr: c_nationkey
    dimensions:
      - name: segment
        type: categorical
        expr: c_mktsegment
      - name: cnation
        type: categorical
        expr: c_nationkey
    measures:
      - name: n_customers
        agg: count
        expr: c_custkey
  - name: nations_sem
    model: ref('nation_model')
    entities:
      - name: nation_e
        type: primary
        expr: n_nationkey
      - name: region_e
        type: foreign
        expr: n_regionkey
    dimensions:
      - name: nname
        type: categorical
        expr: n_name
    measures:
      - name: n_nations
        agg: count
        expr: n_nationkey
  - name: regions_sem
    model: ref('region_model')
    entities:
      - name: region_e
        type: primary
        expr: r_regionkey
    dimensions:
      - name: rname
        type: categorical
        expr: r_name
    measures:
      - name: n_regions
        agg: count
        expr: r_regionkey

metrics:
  - name: total_revenue
    type: simple
    type_params:
      measure: revenue
  - name: order_count
    type: simple
    type_params:
      measure: n_orders
  - name: avg_order_value
    type: ratio
    type_params:
      numerator: revenue
      denominator: n_orders
  - name: revenue_per_order_pct
    type: derived
    type_params:
      metrics:
        - avg_order_value
      expr: avg_order_value * 100.0
  - name: cum_revenue_cents
    type: cumulative
    type_params:
      measure: revenue_cents
  - name: rev_7d_cents
    type: cumulative
    type_params:
      measure: revenue_cents
      window: 7 days
  - name: rev_mtd_cents
    type: cumulative
    type_params:
      measure: revenue_cents
      grain_to_date: month
  - name: cum_max_cents
    type: cumulative
    type_params:
      measure: max_cents
  - name: max_7d_cents
    type: cumulative
    type_params:
      measure: max_cents
      window: 7 days
  - name: min_mtd_cents
    type: cumulative
    type_params:
      measure: min_cents
      grain_to_date: month
  - name: rev_1mo_cents
    type: cumulative
    type_params:
      measure: revenue_cents
      window: 1 month
  - name: big_ticket_revenue
    type: simple
    type_params:
      measure: revenue
    filter: o_totalprice > 100000
  - name: rev_per_item
    type: ratio
    type_params:
      numerator: revenue
      denominator: n_items
  - name: big_ticket_conv_rate
    type: conversion
    type_params:
      conversion_type_params:
        base_measure: n_orders
        conversion_measure: big_order_ids
        entity: customer
  - name: big_ticket_converters_1y
    type: conversion
    type_params:
      conversion_type_params:
        base_measure: n_orders
        conversion_measure: big_order_ids
        entity: customer
        calculation: conversions
        window: 365 days
  - name: revenue_cents_simple
    type: simple
    type_params:
      measure: revenue_cents
  - name: revenue_mom_cents
    type: derived
    type_params:
      expr: rev_cur - rev_prev
      metrics:
        - name: revenue_cents_simple
          alias: rev_cur
        - name: revenue_cents_simple
          alias: rev_prev
          offset_window: 1 month
  - name: urgent_revenue
    type: simple
    type_params:
      measure: revenue
    filter: o_orderpriority = '1-URGENT'
  - name: jumbo_cents_spine
    type: simple
    type_params:
      measure:
        name: revenue_cents
        join_to_timespine: true
        fill_nulls_with: 0
    filter: o_totalprice > 450000
  - name: jumbo_cents_cum
    type: cumulative
    type_params:
      measure:
        name: revenue_cents
        join_to_timespine: true
        fill_nulls_with: 0
    filter: o_totalprice > 450000
  - name: rev_vs_month_start
    type: derived
    type_params:
      expr: rev_cur2 - rev_mstart
      metrics:
        - name: revenue_cents_simple
          alias: rev_cur2
        - name: revenue_cents_simple
          alias: rev_mstart
          offset_to_grain: month
  - name: bldg_revenue
    type: simple
    type_params:
      measure: revenue
    filter: "{{ Dimension('customer__segment') }} = 'BUILDING' AND
      {{ TimeDimension('metric_time', 'year') }} >=
      TIMESTAMP '1996-01-01'"
  - name: big_ticket_rate_evt
    type: conversion
    type_params:
      conversion_type_params:
        base_measure: n_orders
        conversion_measure: big_order_ids
        entity: customer
        attribution: event
        window: 365 days
  - name: big_ticket_convs_evt
    type: conversion
    type_params:
      conversion_type_params:
        base_measure: n_orders
        conversion_measure: big_order_ids
        entity: customer
        attribution: event
        calculation: conversions
        window: 365 days
  - name: big_ticket_rate_evt_12mo
    type: conversion
    type_params:
      conversion_type_params:
        base_measure: n_orders
        conversion_measure: big_order_ids
        entity: customer
        attribution: event
        window: 12 months
  - name: ship90_rate
    type: conversion
    type_params:
      conversion_type_params:
        base_measure: n_orders
        conversion_measure: n_items
        entity: order_e
        attribution: event
        window: 90 days
  - name: ship90_lines
    type: conversion
    type_params:
      conversion_type_params:
        base_measure: n_orders
        conversion_measure: n_items
        entity: order_e
        attribution: event
        calculation: conversions
        window: 90 days
  - name: items_y1995
    type: simple
    type_params:
      measure: n_items
    filter: "{{ TimeDimension('order_e__order_date', 'year') }} =
      TIMESTAMP '1995-01-01'"
  - name: ship90_rate_1995
    type: conversion
    filter: "{{ TimeDimension('metric_time', 'year') }} >=
      TIMESTAMP '1995-01-01'"
    type_params:
      conversion_type_params:
        base_measure: n_orders
        conversion_measure: n_items
        entity: order_e
        attribution: event
        window: 90 days

saved_queries:
  - name: priority_kpis
    description: revenue / order-count / urgent-only revenue by priority
    query_params:
      metrics: [total_revenue, order_count, urgent_revenue]
      group_by: [priority]
      where: ORDER_COUNT > 0 AND priority <> '3-MEDIUM'
    exports:
      - name: priority_kpis_tbl
        config:
          export_as: table
          schema: marts
          alias: kpis
      - name: priority_kpis_view
        config:
          export_as: view
  - name: top_priorities
    description: top-3 priorities by revenue (order_by + limit)
    query_params:
      metrics: [total_revenue, order_count]
      group_by: [priority]
      order_by: ['-total_revenue', priority]
      limit: 3
"""


# (applicationId, sf_dir) → the shared metric-key FeatureStore. The
# 19 q_metric_*/q_saved_query_* keys all run against the IDENTICAL
# registration (5 entities + 5 FVs + one semantic-layer yml) and are
# read-only after the build (audited r17), so the store is set up once
# per session — exactly what a real deployment does: register once,
# evaluate metrics many times. The semantic compile and the Spark
# query still run per key; only the idempotent registration
# (store mkdir + registry writes + yml parse) is amortized. Dead
# applications evict on every lookup (the _PAIR_CACHE discipline).
_METRIC_FS_CACHE: dict = {}


def _metric_fs(spark: SparkSession, sf_dir: str) -> "FeatureStore":
    """FeatureStore with the orders model registered as an FV and the
    semantic layer loaded from a real yml — the full load path
    (load_semantic_layer parses, validates, registers), so the keys
    exercise exactly what a dbt user's project would. Memoized per
    (session, sf_dir); the temp views are re-created on EVERY call —
    they are session-global names, so a different sf_dir in the same
    session must repoint them before its store evaluates anything."""
    import os

    read_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "q_orders_metric"
    )
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "q_lineitem_metric"
    )
    read_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "q_customer_metric"
    )
    read_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "q_nation_metric"
    )
    read_table(spark, sf_dir, "region").createOrReplaceTempView(
        "q_region_metric"
    )
    app_id = spark.sparkContext.applicationId
    for k in [k for k in _METRIC_FS_CACHE if k[0] != app_id]:
        del _METRIC_FS_CACHE[k]
    # key carries the SESSION identity (ADVICE r17: an app_id-only key
    # would hand a sibling session an fs whose internal spark — and
    # temp-view resolution at registration time — belongs to another
    # session); the strong session ref in the value pins id(spark)
    # against reuse while the entry lives.
    cache_key = (app_id, id(spark), sf_dir)
    cached = _METRIC_FS_CACHE.get(cache_key)
    if cached is not None and cached[0] is spark:
        return cached[1]
    fs = _fs(spark)
    fs.register_entity(Entity("customer", ["o_custkey"]))
    fs.register_entity(Entity("order_ent", ["l_orderkey"]))
    fs.register_entity(Entity("customer_c", ["c_custkey"]))
    fs.register_entity(Entity("nation_n", ["n_nationkey"]))
    fs.register_entity(Entity("region_g", ["r_regionkey"]))
    fs.register_feature_view(
        FeatureView(
            "orders_model",
            ["customer"],
            sql="""SELECT o_orderkey, o_custkey, o_orderpriority,
                          o_orderdate, o_totalprice
                   FROM q_orders_metric""",
        ),
        version="1.0",
    )
    fs.register_feature_view(
        FeatureView(
            "lineitem_model",
            ["order_ent"],
            sql="""SELECT l_orderkey, l_linenumber, l_shipdate,
                          l_quantity, l_extendedprice
                   FROM q_lineitem_metric""",
        ),
        version="1.0",
    )
    fs.register_feature_view(
        FeatureView(
            "customer_model",
            ["customer_c"],
            sql="""SELECT c_custkey, c_mktsegment, c_nationkey
                   FROM q_customer_metric""",
        ),
        version="1.0",
    )
    fs.register_feature_view(
        FeatureView(
            "nation_model",
            ["nation_n"],
            sql="""SELECT n_nationkey, n_name, n_regionkey
                   FROM q_nation_metric""",
        ),
        version="1.0",
    )
    fs.register_feature_view(
        FeatureView(
            "region_model",
            ["region_g"],
            sql="""SELECT r_regionkey, r_name
                   FROM q_region_metric""",
        ),
        version="1.0",
    )
    proj = tempfile.mkdtemp(prefix="fs_sem_")
    with open(os.path.join(proj, "schema.yml"), "w") as f:
        f.write(_METRIC_YML)
    from ..models import load_semantic_layer

    load_semantic_layer(
        fs,
        proj,
        models={
            "orders_model": None,
            "lineitem_model": None,
            "customer_model": None,
            "nation_model": None,
            "region_model": None,
        },
    )
    _METRIC_FS_CACHE[cache_key] = (spark, fs)
    return fs


def q_metric_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC-LAYER METRIC EVALUATION, ORACLE-GATED (VERDICT r12 next
    #2): a simple (SUM measure), a simple COUNT, a ratio and a derived
    metric over the orders semantic model, all compiled by
    ``evaluate_metric`` from the REGISTERED yml specs (full
    load_semantic_layer path) and grouped by the ``priority``
    dimension. The oracle states the same metrics in plain SQL — the
    compiler must be a pure query rewrite, invisible in the result.
    Exactness: revenue sums ride the DECIMAL(28,6) discipline declared
    IN THE MEASURE EXPR (the semantic layer carries the portability
    rule, not the engine); the ratio divides doubles cast from exact
    decimals/bigints (identical IEEE both engines).

    Scale: each metric compiles to one map-side-combinable hash
    aggregate over the FV read; the final assembly joins 5-row frames
    on the priority key."""
    from ..models import evaluate_metric

    fs = _metric_fs(spark, sf_dir)
    rev = evaluate_metric(fs, "total_revenue", group_by=["priority"])
    cnt = evaluate_metric(fs, "order_count", group_by=["priority"])
    aov = evaluate_metric(fs, "avg_order_value", group_by=["priority"])
    pct = evaluate_metric(
        fs, "revenue_per_order_pct", group_by=["priority"]
    )
    big = evaluate_metric(
        fs, "big_ticket_revenue", group_by=["priority"]
    )
    out = (
        rev.join(cnt, "priority").join(aov, "priority")
        .join(pct, "priority").join(big, "priority")
    )
    return out.select(
        F.col("priority").alias("f_priority"),
        F.col("TOTAL_REVENUE").cast("double").alias("f_revenue"),
        F.col("ORDER_COUNT").cast("long").alias("f_orders"),
        F.col("AVG_ORDER_VALUE").cast("double").alias("f_avg_value"),
        F.col("REVENUE_PER_ORDER_PCT").cast("double").alias("f_avg_pct"),
        F.col("BIG_TICKET_REVENUE").cast("double").alias("f_big_revenue"),
    ).orderBy("f_priority")


def q_metric_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATIVE METRIC over the month grain, ORACLE-GATED: the
    running total of order revenue (in integer cents — BIGINT-exact at
    any SF) by ``metric_time``, evaluated from the registered
    cumulative metric spec. The window runs over the already-aggregated
    month frame (calendar-sized), partitioned by nothing — dbt's
    all-time cumulative. Oracle: SUM(SUM(cents)) OVER (ORDER BY month).
    DuckDB's date_trunc('month') returns DATE where Spark returns
    TIMESTAMP — the oracle casts (the CLAUDE.md week/day rule extends
    to month)."""
    from ..models import evaluate_metric

    fs = _metric_fs(spark, sf_dir)
    cum = evaluate_metric(fs, "cum_revenue_cents", time_grain="month")
    return cum.select(
        F.col("metric_time").alias("f_month"),
        F.col("CUM_REVENUE_CENTS").cast("long").alias("f_cum_cents"),
    ).orderBy("f_month")


ORACLE["q_metric_eval"] = """
    WITH agged AS (
        SELECT o_orderpriority AS f_priority,
               SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS _rev,
               CAST(COUNT(o_orderkey) AS BIGINT) AS _cnt
        FROM orders
        GROUP BY 1
    ),
    big AS (
        SELECT o_orderpriority AS f_priority,
               SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS _big
        FROM orders
        WHERE o_totalprice > 100000
        GROUP BY 1
    )
    SELECT agged.f_priority AS f_priority,
           CAST(_rev AS DOUBLE) AS f_revenue,
           _cnt AS f_orders,
           CAST(_rev AS DOUBLE) / CAST(_cnt AS DOUBLE) AS f_avg_value,
           (CAST(_rev AS DOUBLE) / CAST(_cnt AS DOUBLE)) * 100.0
               AS f_avg_pct,
           CAST(_big AS DOUBLE) AS f_big_revenue
    FROM agged JOIN big ON agged.f_priority = big.f_priority
    ORDER BY f_priority
"""
QUERIES["q_metric_eval"] = q_metric_eval

def q_metric_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATIVE METRIC WINDOW VARIANTS at the day grain, ORACLE-GATED:
    dbt's ``window: 7 days`` (trailing 7-day revenue — each day
    accumulates grain rows in (t − 7 days, t], a RANGE frame over epoch
    seconds) and ``grain_to_date: month`` (month-to-date revenue — the
    running SUM restarts at each month boundary via an extra
    date_trunc partition key), both compiled by ``evaluate_metric``
    from REGISTERED cumulative-metric specs and joined on metric_time.
    Cents are BIGINT-exact at any SF. Oracle: the same two window
    frames stated directly — `RANGE BETWEEN 604799 PRECEDING` over
    ``epoch(day)`` (DuckDB epoch == Spark unix_timestamp, the NOTES
    integer-seconds rule) and a month-partitioned running SUM.

    Scale: both windows run over the ALREADY-AGGREGATED day frame
    (calendar-sized — ~2.4k rows at ANY order-table SF), so the window
    exchange is bounded; the fact scan feeds one map-side-combinable
    hash aggregate."""
    from ..models import evaluate_metric

    fs = _metric_fs(spark, sf_dir)
    w7 = evaluate_metric(fs, "rev_7d_cents", time_grain="day")
    mtd = evaluate_metric(fs, "rev_mtd_cents", time_grain="day")
    out = w7.join(mtd, "metric_time")
    return out.select(
        F.col("metric_time").alias("f_day"),
        F.col("REV_7D_CENTS").cast("long").alias("f_7d_cents"),
        F.col("REV_MTD_CENTS").cast("long").alias("f_mtd_cents"),
    ).orderBy("f_day")


ORACLE["q_metric_window"] = """
    WITH d AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP)
                   AS f_day,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS _c
        FROM orders
        GROUP BY 1
    )
    SELECT f_day,
           CAST(SUM(_c) OVER (ORDER BY epoch(f_day)
                RANGE BETWEEN 604799 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS f_7d_cents,
           CAST(SUM(_c) OVER (
                PARTITION BY date_trunc('month', f_day) ORDER BY f_day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS f_mtd_cents
    FROM d
    ORDER BY f_day
"""
QUERIES["q_metric_window"] = q_metric_window


def q_metric_cum_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NON-SUM CUMULATIVE METRICS at the day grain, ORACLE-GATED (r16 —
    closes VERDICT-r15 missing #4): dbt cumulative metrics over MAX and
    MIN measures — the all-time running maximum order value, the
    trailing-7-day maximum, and the month-to-date minimum (integer
    cents, BIGINT-exact at any SF) — compiled by ``evaluate_metric``
    from REGISTERED specs. The running accumulator follows the
    measure's own agg (min-of-mins / max-of-maxes decompose over
    per-grain values; the pre-r16 engine silently SUMMED them). The
    oracle states the same three frames directly; epoch(day) RANGE
    frame per the NOTES integer-seconds rule, date_trunc casts per the
    DATE-vs-TIMESTAMP rule.

    Scale: identical shape to q_metric_window — one map-side-combinable
    hash aggregate over the fact scan, then bounded windows over the
    calendar-sized day frame."""
    from ..models import evaluate_metric

    fs = _metric_fs(spark, sf_dir)
    cmax = evaluate_metric(fs, "cum_max_cents", time_grain="day")
    w7 = evaluate_metric(fs, "max_7d_cents", time_grain="day")
    mtd = evaluate_metric(fs, "min_mtd_cents", time_grain="day")
    out = cmax.join(w7, "metric_time").join(mtd, "metric_time")
    return out.select(
        F.col("metric_time").alias("f_day"),
        F.col("CUM_MAX_CENTS").cast("long").alias("f_cum_max_cents"),
        F.col("MAX_7D_CENTS").cast("long").alias("f_7d_max_cents"),
        F.col("MIN_MTD_CENTS").cast("long").alias("f_mtd_min_cents"),
    ).orderBy("f_day")


ORACLE["q_metric_cum_minmax"] = """
    WITH d AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP)
                   AS f_day,
               MAX(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS _mx,
               MIN(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS _mn
        FROM orders
        GROUP BY 1
    )
    SELECT f_day,
           CAST(MAX(_mx) OVER (ORDER BY f_day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS f_cum_max_cents,
           CAST(MAX(_mx) OVER (ORDER BY epoch(f_day)
                RANGE BETWEEN 604799 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS f_7d_max_cents,
           CAST(MIN(_mn) OVER (
                PARTITION BY date_trunc('month', f_day) ORDER BY f_day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS f_mtd_min_cents
    FROM d
    ORDER BY f_day
"""
QUERIES["q_metric_cum_minmax"] = q_metric_cum_minmax


def q_metric_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERSION METRIC EVALUATION, ORACLE-GATED (r13): dbt
    conversion_type_params compiled by ``evaluate_metric`` — per the
    priority AT THE CUSTOMER'S FIRST ORDER, (a) the unwindowed
    conversion RATE (share of customers whose first order is followed
    at-or-after by a >150k order) and (b) the 365-day-window converting
    CUSTOMER COUNT, both from REGISTERED specs through the full
    load_semantic_layer path. The engine's documented semantics:
    entity-grain FIRST-touch attribution (first base event per entity;
    group-by dims taken at that event, MIN over same-second ties;
    window bounds inclusive over whole-second epochs). The oracle
    restates the same first-touch plan in plain SQL — the compiler must
    be a pure rewrite.

    Scale: one combinable MIN per entity + an entity equi-join back +
    a left-semi window probe on the entity key; the rate is a guarded
    double division of two counts (identical IEEE both engines)."""
    from ..models import evaluate_metric

    fs = _metric_fs(spark, sf_dir)
    rate = evaluate_metric(
        fs, "big_ticket_conv_rate", group_by=["priority"]
    )
    wins = evaluate_metric(
        fs, "big_ticket_converters_1y", group_by=["priority"]
    )
    return (
        rate.join(wins, "priority")
        .select(
            F.col("priority").alias("f_priority"),
            F.col("BIG_TICKET_CONV_RATE").cast("double").alias(
                "f_conv_rate"
            ),
            F.col("BIG_TICKET_CONVERTERS_1Y").cast("long").alias(
                "f_conv_1y"
            ),
        )
        .orderBy("f_priority")
    )


ORACLE["q_metric_conversion"] = """
    WITH base AS (
        SELECT o_custkey AS e,
               CAST(epoch(o_orderdate) AS BIGINT) AS t,
               o_orderpriority AS p
        FROM orders
    ),
    tb AS (SELECT e, MIN(t) AS _tb FROM base GROUP BY 1),
    first AS (
        SELECT base.e AS e, MIN(_tb) AS _tb, MIN(p) AS f_priority
        FROM base JOIN tb ON base.e = tb.e AND base.t = tb._tb
        GROUP BY 1
    ),
    conv AS (
        SELECT o_custkey AS e,
               CAST(epoch(o_orderdate) AS BIGINT) AS ct
        FROM orders WHERE o_totalprice > 150000
    ),
    hit AS (
        SELECT DISTINCT first.e AS e
        FROM first JOIN conv
          ON conv.e = first.e AND conv.ct >= first._tb
    ),
    hitw AS (
        SELECT DISTINCT first.e AS e
        FROM first JOIN conv
          ON conv.e = first.e AND conv.ct >= first._tb
         AND conv.ct <= first._tb + 365 * 86400
    )
    SELECT f_priority,
           CAST(COUNT(hit.e) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS f_conv_rate,
           CAST(COUNT(hitw.e) AS BIGINT) AS f_conv_1y
    FROM first
    LEFT JOIN hit ON first.e = hit.e
    LEFT JOIN hitw ON first.e = hitw.e
    GROUP BY 1
    ORDER BY f_priority
"""
QUERIES["q_metric_conversion"] = q_metric_conversion


def q_metric_ratio_xmodel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODEL RATIO METRIC, ORACLE-GATED (r13): monthly revenue
    per shipped line item — numerator measure `revenue` lives on the
    orders semantic model, denominator `n_items` on the lineitem
    semantic model; ``evaluate_metric`` aggregates each side on its own
    model at the month grain and joins the two aggregate frames on
    metric_time (the engine's grain-aligned simplification of
    MetricFlow's entity-join planner — every requested key must be
    declared by BOTH models). Revenue rides the DECIMAL(28,6) measure
    discipline; the ratio divides doubles cast from the exact
    decimal/bigint aggregates (identical IEEE both engines). Months
    where only one side has rows drop (inner join) — the oracle states
    the same join.

    Scale: two independent map-side-combinable hash aggregates (one
    per model) + one join on the calendar-bounded month key."""
    from ..models import evaluate_metric

    fs = _metric_fs(spark, sf_dir)
    out = evaluate_metric(fs, "rev_per_item", time_grain="month")
    return out.select(
        F.col("metric_time").alias("f_month"),
        F.col("REV_PER_ITEM").cast("double").alias("f_rev_per_item"),
    ).orderBy("f_month")


ORACLE["q_metric_ratio_xmodel"] = """
    WITH o AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
                   AS f_month,
               SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS _rev
        FROM orders GROUP BY 1
    ),
    li AS (
        SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP)
                   AS f_month,
               CAST(COUNT(l_orderkey) AS BIGINT) AS _n
        FROM lineitem GROUP BY 1
    )
    SELECT o.f_month AS f_month,
           CAST(_rev AS DOUBLE) / CAST(_n AS DOUBLE) AS f_rev_per_item
    FROM o JOIN li ON o.f_month = li.f_month
    ORDER BY f_month
"""
QUERIES["q_metric_ratio_xmodel"] = q_metric_ratio_xmodel

def q_metric_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DERIVED METRIC WITH offset_window (MetricFlow period-over-period),
    ORACLE-GATED (r13): month-over-month revenue delta in integer cents,
    compiled by ``evaluate_metric`` from a REGISTERED derived metric
    whose two inputs are the SAME simple metric under different aliases
    — one plain (``rev_cur``), one shifted by ``offset_window: 1 month``
    (``rev_prev``). The offset implementation adds the window to the
    shifted input's metric_time before the inner join, so each month
    row sees last month's value; the series' first month drops (no
    offset partner — the documented inner-join simplification of
    MetricFlow's time-spine outer join). Cents are BIGINT-exact at any
    SF; ``timestampadd(MONTH, ...)`` on month-truncated timestamps is
    boundary-exact and matches SQL ``+ INTERVAL 1 MONTH``.

    Scale: two evaluations of the same one-hash-aggregate plan over the
    FV read, joined on the calendar-sized month frame."""
    from ..models import evaluate_metric

    fs = _metric_fs(spark, sf_dir)
    cur = evaluate_metric(fs, "revenue_cents_simple", time_grain="month")
    mom = evaluate_metric(fs, "revenue_mom_cents", time_grain="month")
    out = cur.join(mom, "metric_time")
    return out.select(
        F.col("metric_time").alias("f_month"),
        F.col("REVENUE_CENTS_SIMPLE").cast("long").alias("f_cents"),
        F.col("REVENUE_MOM_CENTS").cast("long").alias("f_mom_cents"),
    ).orderBy("f_month")


ORACLE["q_metric_offset"] = """
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
                   AS f_month,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS _c
        FROM orders
        GROUP BY 1
    )
    SELECT cur.f_month AS f_month,
           CAST(cur._c AS BIGINT) AS f_cents,
           CAST(cur._c - prv._c AS BIGINT) AS f_mom_cents
    FROM m cur
    JOIN m prv ON prv.f_month + INTERVAL 1 MONTH = cur.f_month
    ORDER BY f_month
"""
QUERIES["q_metric_offset"] = q_metric_offset


def q_saved_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt SAVED QUERY EVALUATION, ORACLE-GATED (r13): the registered
    ``saved_queries: priority_kpis`` entry — three metrics (a plain
    SUM, a COUNT, and a FILTERED metric that only populates the
    '1-URGENT' key) at the priority group-by — compiled by
    ``evaluate_saved_query`` in one call. The metric frames FULL-OUTER
    join with key coalescing (MetricFlow semantics): priorities with no
    urgent orders keep their row with NULL urgent revenue — the
    behavior an inner join would silently destroy — and the saved
    ``where:`` then drops '3-MEDIUM', proving the predicate runs over
    the JOINED output. Oracle: the same three aggregates FULL JOINed
    with USING-coalesced keys.

    Scale: three map-side-combinable hash aggregates over one FV read;
    the full joins run on 5-row frames."""
    from ..models import evaluate_saved_query

    fs = _metric_fs(spark, sf_dir)
    out = evaluate_saved_query(fs, "priority_kpis")
    return out.select(
        F.col("priority").alias("f_priority"),
        F.col("TOTAL_REVENUE").cast("double").alias("f_revenue"),
        F.col("ORDER_COUNT").cast("long").alias("f_orders"),
        F.col("URGENT_REVENUE").cast("double").alias("f_urgent_revenue"),
    ).orderBy("f_priority")


ORACLE["q_saved_query"] = """
    WITH rev AS (
        SELECT o_orderpriority AS priority,
               SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS _rev,
               CAST(COUNT(o_orderkey) AS BIGINT) AS _cnt
        FROM orders
        GROUP BY 1
    ),
    urg AS (
        SELECT o_orderpriority AS priority,
               SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS _urg
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY 1
    )
    SELECT priority AS f_priority,
           CAST(_rev AS DOUBLE) AS f_revenue,
           _cnt AS f_orders,
           CAST(_urg AS DOUBLE) AS f_urgent_revenue
    FROM rev FULL JOIN urg USING (priority)
    WHERE _cnt > 0 AND priority <> '3-MEDIUM'
    ORDER BY f_priority
"""
QUERIES["q_saved_query"] = q_saved_query


def q_saved_query_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt 1.7 SAVED-QUERY ``exports:``, ORACLE-GATED (r15,
    VERDICT-r14 #5): ``export_saved_query`` materializes the
    priority_kpis table export through the store's TableFormat
    (crash-safe atomic snapshot swap) at
    ``<root>/exports/MARTS/KPIS``, and ``read_saved_export`` reads the
    MATERIALIZED table back — the hash gate runs over the round-trip
    through storage, not the live plan (a schema- or value-mangling
    writer would fail here and nowhere else). The oracle is the saved
    query's SQL (q_saved_query's), restated.

    Scale: the export IS the saved-query plan plus one atomic-swap
    parquet write of a group-cardinality frame; the read-back is a
    plain columnar scan."""
    from ..models import export_saved_query, read_saved_export

    fs = _metric_fs(spark, sf_dir)
    res = export_saved_query(fs, "priority_kpis", "priority_kpis_tbl")
    assert res[0]["export_as"] == "table" and res[0]["rows"] > 0
    out = read_saved_export(fs, "priority_kpis_tbl")
    return out.select(
        F.col("priority").alias("f_priority"),
        F.col("TOTAL_REVENUE").cast("double").alias("f_revenue"),
        F.col("ORDER_COUNT").cast("long").alias("f_orders"),
        F.col("URGENT_REVENUE").cast("double").alias("f_urgent_revenue"),
    ).orderBy("f_priority")


ORACLE["q_saved_query_export"] = ORACLE["q_saved_query"]
QUERIES["q_saved_query_export"] = q_saved_query_export


def q_saved_query_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt 1.7 saved-query ``order_by`` + ``limit``, ORACLE-GATED
    (r15): the ``top_priorities`` entry ranks priorities by the EXACT
    DECIMAL(28,6) revenue sum descending (MetricFlow's '-col'
    spelling) with the priority key as the ASC tiebreak — a TOTAL
    order, the standing LIMIT discipline — and keeps 3. Ordering is
    NULLS LAST in both directions on both engines (DuckDB's default;
    Spark spelled explicitly).

    Scale: the saved-query aggregate plan + TakeOrderedAndProject over
    the 5-row group frame — limit never materializes the unbounded
    sort."""
    from ..models import evaluate_saved_query

    fs = _metric_fs(spark, sf_dir)
    out = evaluate_saved_query(fs, "top_priorities")
    return out.select(
        F.col("priority").alias("f_priority"),
        F.col("TOTAL_REVENUE").cast("double").alias("f_revenue"),
        F.col("ORDER_COUNT").cast("long").alias("f_orders"),
    )


ORACLE["q_saved_query_topn"] = """
    WITH rev AS (
        SELECT o_orderpriority AS priority,
               SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS _rev,
               CAST(COUNT(o_orderkey) AS BIGINT) AS _cnt
        FROM orders
        GROUP BY 1
    )
    SELECT priority AS f_priority,
           CAST(_rev AS DOUBLE) AS f_revenue,
           _cnt AS f_orders
    FROM rev
    ORDER BY _rev DESC, priority ASC
    LIMIT 3
"""
QUERIES["q_saved_query_topn"] = q_saved_query_topn


_FRESHNESS_YML = """\
version: 2

sources:
  - name: raw
    loaded_at_field: ts
    freshness:
      warn_after: {count: 1, period: day}
      error_after: {count: 30, period: day}
    tables:
      - name: events
        identifier: q_fresh_events
      - name: orders
        identifier: q_fresh_orders
        loaded_at_field: o_orderdate
        freshness:
          warn_after: {count: 2, period: day}
          error_after: {count: 365, period: day}
      - name: lineitem
        identifier: q_fresh_lineitem
        freshness: null
"""


def q_source_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt SOURCE FRESHNESS, ORACLE-GATED (r13): the registered
    sources.yml freshness contract evaluated by
    ``check_source_freshness`` at a PINNED as_of instant (explicit
    as_of — no now() nondeterminism; the dbt CLI's current-time default
    is the documented non-oracle path). Exercises dbt's config
    layering: source-level loaded_at_field/freshness (events), a
    table-level OVERRIDE of both (orders), and the explicit
    ``freshness: null`` opt-out (lineitem — absent from the output).
    Ages are whole-second epochs (the FLOOR(epoch()) rule); status
    fires on age STRICTLY greater than the threshold. The oracle
    restates MAX(loaded_at) + the same CASE per table, so the statuses
    match whatever the data says at any SF.

    Scale: one combinable MAX aggregate per checked table — a
    metadata-sized probe, the only sane shape at 100 TB."""
    import os

    from ..models import check_source_freshness

    fs = _fs(spark)
    fs.register_source("q_fresh_events", f"{sf_dir}/events.parquet")
    fs.register_source("q_fresh_orders", f"{sf_dir}/orders.parquet")
    fs.register_source("q_fresh_lineitem", f"{sf_dir}/lineitem.parquet")
    proj = tempfile.mkdtemp(prefix="fs_fresh_")
    with open(os.path.join(proj, "schema.yml"), "w") as f:
        f.write(_FRESHNESS_YML)
    res = check_source_freshness(
        fs, proj, as_of="2024-02-01 00:00:00"
    )
    rows = [
        (
            r["table"],
            r["loaded_at"],
            int(r["age_seconds"]),
            int(r["warn_after_seconds"]),
            int(r["error_after_seconds"]),
            r["status"],
        )
        for r in res
    ]
    return spark.createDataFrame(
        rows,
        "f_table string, f_loaded_at timestamp, f_age_sec long, "
        "f_warn_sec long, f_err_sec long, f_status string",
    ).orderBy("f_table")


ORACLE["q_source_freshness"] = """
    WITH f AS (
        SELECT 'events' AS f_table, MAX(ts) AS f_loaded_at,
               CAST(86400 AS BIGINT) AS f_warn_sec,
               CAST(2592000 AS BIGINT) AS f_err_sec
        FROM events
        UNION ALL
        SELECT 'orders', MAX(o_orderdate),
               CAST(172800 AS BIGINT), CAST(31536000 AS BIGINT)
        FROM orders
    ),
    aged AS (
        SELECT f_table, f_loaded_at,
               CAST(1706745600 - CAST(FLOOR(epoch(f_loaded_at))
                    AS BIGINT) AS BIGINT) AS f_age_sec,
               f_warn_sec, f_err_sec
        FROM f
    )
    SELECT f_table, f_loaded_at, f_age_sec, f_warn_sec, f_err_sec,
           CASE WHEN f_age_sec > f_err_sec THEN 'error'
                WHEN f_age_sec > f_warn_sec THEN 'warn'
                ELSE 'pass' END AS f_status
    FROM aged
    ORDER BY f_table
"""
QUERIES["q_source_freshness"] = q_source_freshness


def q_metric_timespine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt ``join_to_timespine`` + ``fill_nulls_with`` (MetricFlow's
    complete-spine reporting), ORACLE-GATED (r13): monthly revenue of
    >450k "jumbo" orders — a filter sparse enough to leave EMPTY months
    — evaluated from REGISTERED specs where the measure input carries
    ``join_to_timespine: true`` and ``fill_nulls_with: 0``. The simple
    metric reports a row for EVERY month in the observed [min, max]
    range (gap months filled with 0); the cumulative twin proves the
    spine lands BEFORE the running-SUM window, so the total carries
    flat across gap months instead of skipping them. The spine is
    ``sequence()`` over bounds taken from the already-aggregated frame
    (one bounded 1-row aggregate, no raw rescan); oracle:
    generate_series the same spine, left join, COALESCE 0.

    Scale: spine cost is independent of the fact table — calendar
    rows × observed group combinations."""
    from ..models import evaluate_metric

    fs = _metric_fs(spark, sf_dir)
    flat = evaluate_metric(fs, "jumbo_cents_spine", time_grain="month")
    cum = evaluate_metric(fs, "jumbo_cents_cum", time_grain="month")
    out = flat.join(cum, "metric_time")
    return out.select(
        F.col("metric_time").alias("f_month"),
        F.col("JUMBO_CENTS_SPINE").cast("long").alias("f_cents"),
        F.col("JUMBO_CENTS_CUM").cast("long").alias("f_cum_cents"),
    ).orderBy("f_month")


ORACLE["q_metric_timespine"] = """
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
                   AS f_month,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS _c
        FROM orders
        WHERE o_totalprice > 450000
        GROUP BY 1
    ),
    spine AS (
        SELECT unnest(generate_series(
            (SELECT MIN(f_month) FROM m),
            (SELECT MAX(f_month) FROM m),
            INTERVAL 1 MONTH)) AS f_month
    )
    SELECT s.f_month AS f_month,
           CAST(COALESCE(_c, 0) AS BIGINT) AS f_cents,
           CAST(SUM(COALESCE(_c, 0)) OVER (ORDER BY s.f_month
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS f_cum_cents
    FROM spine s LEFT JOIN m ON s.f_month = m.f_month
    ORDER BY f_month
"""
QUERIES["q_metric_timespine"] = q_metric_timespine


ORACLE["q_metric_cumulative"] = """
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
                   AS f_month,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS _c
        FROM orders
        GROUP BY 1
    )
    SELECT f_month,
           CAST(SUM(_c) OVER (ORDER BY f_month
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS f_cum_cents
    FROM m
    ORDER BY f_month
"""
QUERIES["q_metric_cumulative"] = q_metric_cumulative


def q_metric_entity_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY-PATH JOIN PLANNER, ORACLE-GATED (r14, VERDICT-r13 #4):
    group-by dimensions pulled ACROSS semantic models through a shared
    entity — MetricFlow's `<entity>__<dimension>` spelling. Revenue and
    order count live on the orders semantic model; `customer__segment`
    is declared only by the customers semantic model (where the
    `customer` entity is PRIMARY), so ``evaluate_metric`` LEFT-joins
    the (c_custkey, c_mktsegment) projection onto the orders frame
    before aggregating. Mixed with a local dimension (`priority`) to
    pin that local resolution is untouched. The oracle restates the
    same left join in plain SQL — the planner must be a pure rewrite.

    Scale: ONE equi-join per pulled dimension against an
    entity-cardinality, column-pruned projection (AQE broadcasts small
    dimension models); the fact scan feeds one combinable hash agg.

    Reference parity: the reference's feature views join entity
    keys the same way through dbt refs
    (integration_tests/models/features/*.sql); the semantic layer is
    this engine's certified-read-path extension."""
    from ..models import evaluate_metric

    fs = _metric_fs(spark, sf_dir)
    rev = evaluate_metric(
        fs, "total_revenue", group_by=["customer__segment", "priority"]
    )
    cnt = evaluate_metric(
        fs, "order_count", group_by=["customer__segment", "priority"]
    )
    # r14 late: CONVERSION metrics take entity-path group_by too — the
    # per-SEGMENT first-touch conversion rate (segment pulled from the
    # customers model at the first base event; entity-constant, so the
    # MIN-at-first-event rule is exact)
    segconv = evaluate_metric(
        fs, "big_ticket_conv_rate", group_by=["customer__segment"]
    )
    out = rev.join(cnt, ["customer__segment", "priority"]).join(
        segconv, ["customer__segment"]
    )
    return out.select(
        F.col("customer__segment").alias("f_segment"),
        F.col("priority").alias("f_priority"),
        F.col("TOTAL_REVENUE").cast("double").alias("f_revenue"),
        F.col("ORDER_COUNT").cast("long").alias("f_orders"),
        F.col("BIG_TICKET_CONV_RATE").cast("double").alias(
            "f_seg_conv_rate"
        ),
    ).orderBy("f_segment", "f_priority")


ORACLE["q_metric_entity_path"] = """
    WITH agg AS (
        SELECT c_mktsegment AS f_segment,
               o_orderpriority AS f_priority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                   AS f_revenue,
               CAST(COUNT(o_orderkey) AS BIGINT) AS f_orders
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ),
    base2 AS (
        SELECT o_custkey AS e,
               CAST(epoch(o_orderdate) AS BIGINT) AS t
        FROM orders
    ),
    tb2 AS (SELECT e, MIN(t) AS tb FROM base2 GROUP BY 1),
    firstb AS (
        SELECT tb2.e AS e, tb2.tb AS tb, MIN(c_mktsegment) AS s
        FROM tb2 LEFT JOIN customer ON c_custkey = tb2.e
        GROUP BY 1, 2
    ),
    conv2 AS (
        SELECT o_custkey AS e,
               CAST(epoch(o_orderdate) AS BIGINT) AS ct
        FROM orders WHERE o_totalprice > 150000
    ),
    hit2 AS (
        SELECT DISTINCT firstb.e AS e
        FROM firstb JOIN conv2
          ON conv2.e = firstb.e AND conv2.ct >= firstb.tb
    ),
    segr AS (
        SELECT s AS f_segment,
               CAST(COUNT(hit2.e) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS f_seg_conv_rate
        FROM firstb LEFT JOIN hit2 ON firstb.e = hit2.e
        GROUP BY 1
    )
    SELECT agg.f_segment AS f_segment, f_priority, f_revenue, f_orders,
           f_seg_conv_rate
    FROM agg JOIN segr ON agg.f_segment = segr.f_segment
    ORDER BY f_segment, f_priority
"""
QUERIES["q_metric_entity_path"] = q_metric_entity_path


def q_metric_filter_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPLATED METRIC FILTER, ORACLE-GATED (r14, VERDICT-r13 #5):
    dbt's REAL `filter:` spelling — `{{ Dimension('customer__segment')
    }}` (an ENTITY-PATH reference: the segment lives on the customers
    model, so the filter itself forces the planner join) AND
    `{{ TimeDimension('metric_time', 'year') }}` (resolved to
    date_trunc over the model's time dimension), combined in one
    predicate. Evaluated from the REGISTERED spec through the full
    load path (load_semantic_layer validates the template syntax at
    load; evaluate_metric resolves names at compile). The oracle
    restates the join + WHERE in plain SQL.

    Scale: the templated predicate splits around the entity join —
    the time bound pushes into the orders scan, the segment bound into
    the customer scan (Catalyst splits the conjunction)."""
    from ..models import evaluate_metric

    fs = _metric_fs(spark, sf_dir)
    bldg = evaluate_metric(fs, "bldg_revenue", group_by=["priority"])
    return bldg.select(
        F.col("priority").alias("f_priority"),
        F.col("BLDG_REVENUE").cast("double").alias("f_bldg_revenue"),
    ).orderBy("f_priority")


ORACLE["q_metric_filter_dim"] = """
    SELECT o_orderpriority AS f_priority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
               AS f_bldg_revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND CAST(date_trunc('year', o_orderdate) AS TIMESTAMP)
          >= TIMESTAMP '1996-01-01'
    GROUP BY 1
    ORDER BY f_priority
"""
QUERIES["q_metric_filter_dim"] = q_metric_filter_dim


def q_metric_conv_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-GRAIN CONVERSION ATTRIBUTION, ORACLE-GATED (r14,
    VERDICT-r13 #6): ``conversion_type_params.attribution: event`` —
    MetricFlow's real conversion semantics, beside the entity-grain
    first-touch default (q_metric_conversion). Every order is a BASE
    event counted at its own priority; every >150k order is a
    CONVERSION event attributed to the LATEST base event of its
    customer at-or-before it within 365 days (inclusive whole-second
    epochs), so one conversion never counts against two base events.
    Outputs the per-priority windowed rate and the attributed
    conversion count, both from REGISTERED specs.

    Scale: combinable (entity, second) pre-aggregations on both sides;
    the attribution join is an entity equi-join with the time bound as
    a post-join refine; argmax + re-join run on conversion-cardinality
    frames. Nothing collects."""
    from ..models import evaluate_metric

    fs = _metric_fs(spark, sf_dir)
    rate = evaluate_metric(
        fs, "big_ticket_rate_evt", group_by=["priority"]
    )
    cnts = evaluate_metric(
        fs, "big_ticket_convs_evt", group_by=["priority"]
    )
    r12m = evaluate_metric(
        fs, "big_ticket_rate_evt_12mo", group_by=["priority"]
    )
    out = rate.join(cnts, "priority").join(r12m, "priority")
    return out.select(
        F.col("priority").alias("f_priority"),
        F.col("BIG_TICKET_RATE_EVT").cast("double").alias("f_rate"),
        F.col("BIG_TICKET_CONVS_EVT").cast("long").alias(
            "f_conversions"
        ),
        F.col("BIG_TICKET_RATE_EVT_12MO").cast("double").alias(
            "f_rate_12mo"
        ),
    ).orderBy("f_priority")


ORACLE["q_metric_conv_events"] = """
    WITH bg AS (
        SELECT o_custkey AS e,
               CAST(epoch(o_orderdate) AS BIGINT) AS t,
               MIN(o_orderdate) AS bts,
               COUNT(*) AS bn,
               MIN(o_orderpriority) AS p
        FROM orders GROUP BY 1, 2
    ),
    cg AS (
        SELECT o_custkey AS e,
               CAST(epoch(o_orderdate) AS BIGINT) AS ct,
               COUNT(*) AS cn
        FROM orders WHERE o_totalprice > 150000
        GROUP BY 1, 2
    ),
    att AS (
        SELECT cg.e AS e, cg.ct AS ct, MIN(cg.cn) AS cn,
               MAX(bg.t) AS t
        FROM cg JOIN bg ON bg.e = cg.e
           AND cg.ct >= bg.t AND cg.ct <= bg.t + 365 * 86400
        GROUP BY 1, 2
    ),
    cpb AS (SELECT e, t, SUM(cn) AS cc FROM att GROUP BY 1, 2),
    att12 AS (
        SELECT cg.e AS e, cg.ct AS ct, MIN(cg.cn) AS cn,
               MAX(bg.t) AS t
        FROM cg JOIN bg ON bg.e = cg.e
           AND cg.ct >= bg.t
           AND cg.ct <= CAST(FLOOR(epoch(bg.bts + INTERVAL 12 MONTH))
                             AS BIGINT)
        GROUP BY 1, 2
    ),
    cpb12 AS (SELECT e, t, SUM(cn) AS cc FROM att12 GROUP BY 1, 2),
    j AS (
        SELECT bg.p AS p, bg.bn AS bn,
               COALESCE(cpb.cc, 0) AS cc,
               COALESCE(cpb12.cc, 0) AS cc12
        FROM bg
        LEFT JOIN cpb ON bg.e = cpb.e AND bg.t = cpb.t
        LEFT JOIN cpb12 ON bg.e = cpb12.e AND bg.t = cpb12.t
    )
    SELECT p AS f_priority,
           CAST(SUM(cc) AS DOUBLE) / CAST(SUM(bn) AS DOUBLE) AS f_rate,
           CAST(SUM(cc) AS BIGINT) AS f_conversions,
           CAST(SUM(cc12) AS DOUBLE) / CAST(SUM(bn) AS DOUBLE)
               AS f_rate_12mo
    FROM j GROUP BY 1
    ORDER BY f_priority
"""
QUERIES["q_metric_conv_events"] = q_metric_conv_events


def q_metric_window_cal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALENDAR-UNIT CUMULATIVE WINDOW, ORACLE-GATED (r14): dbt
    ``window: '1 month'`` at the DAY grain — month lengths vary, so no
    fixed RANGE frame exists; ``evaluate_metric`` compiles a bounded
    self-join over the already-aggregated day frame: each day
    accumulates days in (t − 1 month, t], the lower bound via Spark
    ``timestampadd(MONTH, -1, t)`` ≡ SQL ``t - INTERVAL 1 MONTH``
    (month-end clamping parity pinned in r13 — e.g. Mar 31 reaches
    back to Feb 29). Cents are BIGINT-exact at any SF; the oracle
    states the same self-join.

    Scale: the self-join runs on the CALENDAR-sized day frame (~2.4k
    rows at any orders SF) with a ~31-partner window — O(rows × window)
    on a bounded frame, never fact rows; the fact scan feeds one
    combinable hash aggregate."""
    from ..models import evaluate_metric

    fs = _metric_fs(spark, sf_dir)
    r1 = evaluate_metric(fs, "rev_1mo_cents", time_grain="day")
    return r1.select(
        F.col("metric_time").alias("f_day"),
        F.col("REV_1MO_CENTS").cast("long").alias("f_1mo_cents"),
    ).orderBy("f_day")


ORACLE["q_metric_window_cal"] = """
    WITH d AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP)
                   AS f_day,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS _c
        FROM orders GROUP BY 1
    )
    SELECT a.f_day AS f_day,
           CAST(SUM(b._c) AS BIGINT) AS f_1mo_cents
    FROM d a JOIN d b
      ON b.f_day <= a.f_day
     AND b.f_day > a.f_day - INTERVAL 1 MONTH
    GROUP BY 1
    ORDER BY f_day
"""
QUERIES["q_metric_window_cal"] = q_metric_window_cal


def q_metric_offset_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DERIVED METRIC WITH offset_to_grain, ORACLE-GATED (r14):
    MetricFlow's period-start comparison — daily revenue cents minus
    the MONTH-START day's revenue, from a REGISTERED derived metric
    whose second input carries ``offset_to_grain: month``. The offset
    input joins on ``date_trunc('month', metric_time)`` (truncation of
    a coarser grain always lands on a day boundary); days in a month
    whose first calendar day has no orders drop with the inner join —
    the offset_window discipline, and the oracle states the same join.
    Cents are BIGINT-exact at any SF.

    Scale: two aliases of ONE aggregated day frame joined on the
    truncated key — calendar-sized, never fact rows."""
    from ..models import evaluate_metric

    fs = _metric_fs(spark, sf_dir)
    d = evaluate_metric(fs, "rev_vs_month_start", time_grain="day")
    return d.select(
        F.col("metric_time").alias("f_day"),
        F.col("REV_VS_MONTH_START").cast("long").alias("f_delta_cents"),
    ).orderBy("f_day")


ORACLE["q_metric_offset_grain"] = """
    WITH d AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP)
                   AS f_day,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS _c
        FROM orders GROUP BY 1
    )
    SELECT a.f_day AS f_day,
           CAST(a._c - b._c AS BIGINT) AS f_delta_cents
    FROM d a JOIN d b
      ON b.f_day = CAST(date_trunc('month', a.f_day) AS TIMESTAMP)
    ORDER BY f_day
"""
QUERIES["q_metric_offset_grain"] = q_metric_offset_grain


def q_metric_conv_xmodel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODEL CONVERSION METRIC, ORACLE-GATED (r14): base and
    conversion measures on DIFFERENT semantic models joined through
    the SHARED entity — base = orders placed (orders model, entity
    ``order_e`` = o_orderkey), conversion = line items shipped
    (lineitem model, same entity = l_orderkey, its own ``l_shipdate``
    time dimension), event-grain, 90-day window. Outputs per the
    priority AT THE ORDER: the attributed shipped-line count and the
    lines-per-order rate (>1 by design — multi-line orders; the
    MetricFlow contract). The oracle restates the two-table attribution
    join in plain SQL.

    Scale: each side is a column-pruned projection of its OWN model;
    the attribution join is an entity equi-join (orderkey) with the
    time bound as a post-join refine — per-order line counts are
    schema-bounded (≤7 in TPC-H-like data)."""
    from ..models import evaluate_metric

    fs = _metric_fs(spark, sf_dir)
    rate = evaluate_metric(fs, "ship90_rate", group_by=["priority"])
    lines = evaluate_metric(fs, "ship90_lines", group_by=["priority"])
    out = rate.join(lines, "priority")
    return out.select(
        F.col("priority").alias("f_priority"),
        F.col("SHIP90_RATE").cast("double").alias("f_rate"),
        F.col("SHIP90_LINES").cast("long").alias("f_lines"),
    ).orderBy("f_priority")


ORACLE["q_metric_conv_xmodel"] = """
    WITH bg AS (
        SELECT o_orderkey AS e,
               CAST(epoch(o_orderdate) AS BIGINT) AS t,
               COUNT(*) AS bn,
               MIN(o_orderpriority) AS p
        FROM orders GROUP BY 1, 2
    ),
    cg AS (
        SELECT l_orderkey AS e,
               CAST(epoch(l_shipdate) AS BIGINT) AS ct,
               COUNT(*) AS cn
        FROM lineitem GROUP BY 1, 2
    ),
    att AS (
        SELECT cg.e AS e, cg.ct AS ct, MIN(cg.cn) AS cn,
               MAX(bg.t) AS t
        FROM cg JOIN bg ON bg.e = cg.e
           AND cg.ct >= bg.t AND cg.ct <= bg.t + 90 * 86400
        GROUP BY 1, 2
    ),
    cpb AS (SELECT e, t, SUM(cn) AS cc FROM att GROUP BY 1, 2),
    j AS (
        SELECT bg.p AS p, bg.bn AS bn, COALESCE(cpb.cc, 0) AS cc
        FROM bg LEFT JOIN cpb ON bg.e = cpb.e AND bg.t = cpb.t
    )
    SELECT p AS f_priority,
           CAST(SUM(cc) AS DOUBLE) / CAST(SUM(bn) AS DOUBLE) AS f_rate,
           CAST(SUM(cc) AS BIGINT) AS f_lines
    FROM j GROUP BY 1
    ORDER BY f_priority
"""
QUERIES["q_metric_conv_xmodel"] = q_metric_conv_xmodel


def q_metric_entity_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-HOP ENTITY PATHS, ORACLE-GATED (r14 late): the
    snowflake-schema walk — revenue and order count grouped by
    `customer__nation_e__nname` (TWO hops: orders → customers via the
    customer entity, → nations via the nation bridge entity) and
    `customer__nation_e__region_e__rname` (THREE hops, on through the
    region bridge). Each hop LEFT-joins one column-pruned projection
    (bridge keys, then the dimension); one-hop resolution takes
    precedence at every step; ambiguous/missing hops refuse loudly.
    The oracle restates the chained LEFT joins in plain SQL — the
    planner must be a pure rewrite of the canonical TPC-H
    customer→nation→region snowflake.

    Scale: the classic star/snowflake plan — the fact scan plus one
    broadcast-able dim join per hop; nothing widens the fact rows
    beyond the pulled keys/dims."""
    from ..models import evaluate_metric

    fs = _metric_fs(spark, sf_dir)
    keys = [
        "customer__nation_e__nname",
        "customer__nation_e__region_e__rname",
    ]
    rev = evaluate_metric(fs, "total_revenue", group_by=keys)
    cnt = evaluate_metric(fs, "order_count", group_by=keys)
    out = rev.join(cnt, keys)
    return out.select(
        F.col(keys[0]).alias("f_nation"),
        F.col(keys[1]).alias("f_region"),
        F.col("TOTAL_REVENUE").cast("double").alias("f_revenue"),
        F.col("ORDER_COUNT").cast("long").alias("f_orders"),
    ).orderBy("f_nation", "f_region")


ORACLE["q_metric_entity_hop"] = """
    SELECT n_name AS f_nation, r_name AS f_region,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
               AS f_revenue,
           CAST(COUNT(o_orderkey) AS BIGINT) AS f_orders
    FROM orders
    LEFT JOIN customer ON o_custkey = c_custkey
    LEFT JOIN nation ON c_nationkey = n_nationkey
    LEFT JOIN region ON n_regionkey = r_regionkey
    GROUP BY 1, 2
    ORDER BY f_nation, f_region
"""
QUERIES["q_metric_entity_hop"] = q_metric_entity_hop


def q_metric_tdim_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY-PATH TimeDimension references + TEMPLATED cross-model
    conversion filters, ORACLE-GATED (r15, VERDICT-r14 #8 /
    ADVICE-r14 #1): (a) `items_y1995` — line items filtered by
    `{{ TimeDimension('order_e__order_date', 'year') }}`, a time
    dimension REACHED THROUGH the shared entity (lineitem → orders):
    the planner joins the (orderkey, orderdate) projection on and
    REFUSES non-time targets, never silently binding a local
    suffix-named dimension (the pre-r15 hazard); grouped by
    `order_e__priority` (a second path pull on the same entity).
    (b) `ship90_rate_1995` — the CROSS-MODEL conversion rate carrying
    a metric filter, accepted because every reference is templated and
    so provably base-side (raw SQL identifiers still refuse loudly).
    The scalar rate cross-joins onto the per-priority counts.

    Scale: each path pull is one broadcast-able column-pruned dim
    join; the conversion attribution is the entity equi-join; the
    final crossJoin broadcasts a 1-row frame."""
    from ..models import evaluate_metric

    fs = _metric_fs(spark, sf_dir)
    items = evaluate_metric(
        fs, "items_y1995", group_by=["order_e__priority"]
    )
    conv = evaluate_metric(fs, "ship90_rate_1995")
    out = items.crossJoin(F.broadcast(conv))
    return out.select(
        F.col("order_e__priority").alias("f_priority"),
        F.col("ITEMS_Y1995").cast("long").alias("f_items"),
        F.col("SHIP90_RATE_1995").cast("double").alias("f_conv_rate"),
    ).orderBy("f_priority")


ORACLE["q_metric_tdim_path"] = """
    WITH items AS (
        SELECT o_orderpriority AS f_priority,
               CAST(COUNT(l_orderkey) AS BIGINT) AS f_items
        FROM lineitem
        LEFT JOIN orders ON l_orderkey = o_orderkey
        WHERE CAST(date_trunc('year', o_orderdate) AS TIMESTAMP)
              = TIMESTAMP '1995-01-01'
        GROUP BY 1
    ),
    bg AS (
        SELECT o_orderkey AS e,
               CAST(epoch(o_orderdate) AS BIGINT) AS t,
               COUNT(*) AS bn
        FROM orders
        WHERE CAST(date_trunc('year', o_orderdate) AS TIMESTAMP)
              >= TIMESTAMP '1995-01-01'
        GROUP BY 1, 2
    ),
    cg AS (
        SELECT l_orderkey AS e,
               CAST(epoch(l_shipdate) AS BIGINT) AS ct,
               COUNT(*) AS cn
        FROM lineitem GROUP BY 1, 2
    ),
    att AS (
        SELECT cg.e AS e, cg.ct AS ct, MIN(cg.cn) AS cn,
               MAX(bg.t) AS t
        FROM cg JOIN bg ON bg.e = cg.e
           AND cg.ct >= bg.t AND cg.ct <= bg.t + 90 * 86400
        GROUP BY 1, 2
    ),
    cpb AS (SELECT e, t, SUM(cn) AS cc FROM att GROUP BY 1, 2),
    j AS (
        SELECT bg.bn AS bn, COALESCE(cpb.cc, 0) AS cc
        FROM bg LEFT JOIN cpb ON bg.e = cpb.e AND bg.t = cpb.t
    ),
    rate AS (
        SELECT CAST(SUM(cc) AS DOUBLE) / CAST(SUM(bn) AS DOUBLE)
                   AS f_conv_rate
        FROM j
    )
    SELECT f_priority, f_items, f_conv_rate
    FROM items CROSS JOIN rate
    ORDER BY f_priority
"""
QUERIES["q_metric_tdim_path"] = q_metric_tdim_path
