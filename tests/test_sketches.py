"""Mergeable HLL sketches (functions/sketches.py): estimate accuracy,
merge algebra (union == sketch of union, idempotent, layout-invariant),
and the incremental per-day recipe matching the whole-table answer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_snowflake_feature_store_spark.functions import sketches as SK
from dbt_snowflake_feature_store_spark.sources import read_table

SF = "/root/testdata/sf0.01"


def _events(spark):
    return read_table(spark, SF, "events")


def test_estimate_within_bound(spark):
    """Per-event-type distinct users: the lg_k=12 estimate must land
    within 5% of the exact count (standard error ≈ 0.8%)."""
    ev = _events(spark)
    est = {
        r["event_type"]: r["approx_distinct"]
        for r in SK.hll_rollup(
            SK.hll_sketch_by_key(ev, ["event_type"], "user_id"),
            ["event_type"],
        ).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k in exact:
        assert abs(est[k] - exact[k]) <= max(0.05 * exact[k], 2), (
            k, est[k], exact[k],
        )


def test_union_equals_sketch_of_union(spark):
    """Merging per-slice sketches gives the SAME estimate as sketching
    the union directly — the property that makes incremental
    maintenance correct (duplicates across slices collapse)."""
    ev = _events(spark)
    # slice by event_type, then roll ALL types up to one global sketch
    per_type = SK.hll_sketch_by_key(ev, ["event_type"], "user_id")
    rolled = SK.hll_rollup(
        per_type.withColumn("_g", F.lit(1)), ["_g"]
    ).head()["approx_distinct"]
    direct = SK.hll_rollup(
        SK.hll_sketch_by_key(ev.withColumn("_g", F.lit(1)), ["_g"], "user_id"),
        ["_g"],
    ).head()["approx_distinct"]
    assert rolled == direct  # identical, not merely close: same hash set


def test_layout_invariance(spark):
    """Same input set, different partitioning → identical estimate
    (sketches are order/layout-independent)."""
    ev = _events(spark)
    a = SK.hll_rollup(
        SK.hll_sketch_by_key(ev.repartition(1), ["event_type"], "user_id"),
        ["event_type"],
    )
    b = SK.hll_rollup(
        SK.hll_sketch_by_key(
            ev.repartition(16, "value"), ["event_type"], "user_id"
        ),
        ["event_type"],
    )
    got_a = {(r["event_type"], r["approx_distinct"]) for r in a.collect()}
    got_b = {(r["event_type"], r["approx_distinct"]) for r in b.collect()}
    assert got_a == got_b


def test_incremental_by_day_matches_whole_table(spark):
    """The distinct_over_time recipe: per-(type, day) sketches rolled up
    across all days == the one-shot whole-table estimate, and a
    date-range rollup only touches the sketch table."""
    ev = _events(spark)
    daily = SK.distinct_over_time(ev, "event_type", "user_id")
    from_daily = {
        (r["event_type"], r["approx_distinct"])
        for r in SK.hll_rollup(daily, ["event_type"]).collect()
    }
    one_shot = {
        (r["event_type"], r["approx_distinct"])
        for r in SK.hll_rollup(
            SK.hll_sketch_by_key(ev, ["event_type"], "user_id"),
            ["event_type"],
        ).collect()
    }
    assert from_daily == one_shot
    # range query: first 3 distinct days only — estimates bounded by the
    # full-range estimate per type
    days = sorted(r["_fs_day"] for r in daily.select("_fs_day").distinct().collect())[:3]
    ranged = {
        r["event_type"]: r["approx_distinct"]
        for r in SK.hll_rollup(
            daily.filter(F.col("_fs_day").isin(days)), ["event_type"]
        ).collect()
    }
    full = dict(one_shot)
    for k, v in ranged.items():
        assert v <= full[k]


def test_sketch_column_is_compact(spark):
    """The materialized state is kilobytes per key — the reason this
    scales where COUNT(DISTINCT) recompute doesn't."""
    ev = _events(spark)
    row = SK.hll_sketch_by_key(ev, ["event_type"], "user_id").head()
    assert len(bytes(row["hll_sketch"])) < 16384


# ---------------------------------------------------------------------------
# HDR-histogram quantile sketches (round 8)
# ---------------------------------------------------------------------------


def _hdr_daily(spark):
    ev = _events(spark).withColumn("_fs_day", F.to_date("ts"))
    return SK.hdr_sketch_by_key(ev, ["event_type", "_fs_day"], "value")


def test_hdr_quantile_error_bound(spark):
    """p50/p95 from the sketch land within the bucket's guaranteed
    relative error (1/16 per octave, + micro-unit rounding) of the
    exact percentile, per event type."""
    ev = _events(spark)
    merged = SK.hdr_rollup(_hdr_daily(spark), ["event_type"])
    got = {
        r["event_type"]: (r["p50"], r["p95"])
        for r in SK.hdr_quantiles(merged, ["event_type"], [0.5, 0.95]).collect()
    }
    exact = {
        r["event_type"]: (r["e50"], r["e95"])
        for r in ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("e50"),
            F.expr("percentile(value, 0.95)").alias("e95"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for et in got:
        for g, e in zip(got[et], exact[et]):
            # lower-bound representative: g <= true value < g * 17/16
            assert g <= e * 1.001 + 1e-6, (et, g, e)
            assert e <= g * (17 / 16) * 1.001 + 1e-6, (et, g, e)


def test_hdr_merge_is_exact(spark):
    """Counts ADD: the day-rollup sketch equals the sketch of the whole
    table, bucket-for-bucket (merging introduces NO error — unlike the
    estimate, this is exact set equality)."""
    ev = _events(spark)
    from_days = SK.hdr_rollup(_hdr_daily(spark), ["event_type"])
    whole = SK.hdr_sketch_by_key(ev, ["event_type"], "value")
    a = {(r["event_type"], r["bucket"]): r["cnt"] for r in from_days.collect()}
    b = {(r["event_type"], r["bucket"]): r["cnt"] for r in whole.collect()}
    assert a == b


def test_hdr_layout_invariance(spark):
    """Sketch rows are identical regardless of partitioning."""
    ev = _events(spark)
    a = {
        (r["event_type"], r["bucket"]): r["cnt"]
        for r in SK.hdr_sketch_by_key(ev.repartition(37), ["event_type"], "value").collect()
    }
    b = {
        (r["event_type"], r["bucket"]): r["cnt"]
        for r in SK.hdr_sketch_by_key(ev.coalesce(1), ["event_type"], "value").collect()
    }
    assert a == b


def test_hdr_bucket_contiguity_and_bounds(spark):
    """The integer bucket function is monotone, contiguous at octave
    boundaries, and its lower bound inverts to within 1/16."""
    vals = [0, 1, 15, 16, 17, 31, 32, 33, 255, 256, 1023, 1024, 10**6, 10**9]
    df = spark.createDataFrame([(v,) for v in vals], "_mv long")
    rows = (
        df.select("_mv", SK.hdr_bucket("_mv").alias("b"))
        .withColumn("lo", SK.hdr_bucket_lo("b"))
        .orderBy("_mv")
        .collect()
    )
    prev_b = -1
    for r in rows:
        assert r["b"] >= prev_b  # non-decreasing in value (buckets widen)
        prev_b = r["b"]
        assert r["lo"] <= r["_mv"], r
        if r["_mv"] >= 16:
            assert r["_mv"] < r["lo"] + (r["lo"] // 16) + 1, r
        else:
            assert r["lo"] == r["_mv"]
    # exact contiguity pins
    by_v = {r["_mv"]: r["b"] for r in rows}
    assert by_v[15] == 15 and by_v[16] == 16 and by_v[32] == 32


def test_hdr_bucket_lo_no_int32_overflow(spark):
    """Code-review r8 finding: an INT shift base wraps at 2^31
    micro-units (~2147 input units) where DuckDB's BIGINT shift
    doesn't. The lower bound must stay positive and <= value across
    the full int64-octave range."""
    vals = [2**31, 2**31 + 1, 2**40, 2**50, 2**62 - 1]
    df = spark.createDataFrame([(v,) for v in vals], "_mv long")
    rows = (
        df.select("_mv", SK.hdr_bucket("_mv").alias("b"))
        .withColumn("lo", SK.hdr_bucket_lo("b"))
        .collect()
    )
    for r in rows:
        assert r["lo"] > 0, r
        assert r["lo"] <= r["_mv"], r
        assert r["_mv"] < r["lo"] + (r["lo"] // 16) + 1, r


def test_hdr_negative_values_raise(spark):
    """Code-review r8 finding: negatives must FAIL LOUDLY, not
    identity-bucket one row per distinct value (which would destroy the
    bounded-size guarantee)."""
    df = spark.createDataFrame([(1, -5.0)], "k long, value double")
    with pytest.raises(Exception) as ei:
        SK.hdr_sketch_by_key(df, ["k"], "value").collect()
    assert "non-negative" in str(ei.value)


# ---------------------------------------------------------------------------
# Count-min frequency sketches (round 8)
# ---------------------------------------------------------------------------


def _user_items(spark):
    """High-cardinality item stream (distinct user_ids exceed the
    sketch width, so collisions — the thing CM exists to bound — are
    actually present; the sf0.01 document vocabulary is only ~31
    tokens, which would make every estimate trivially exact)."""
    return _events(spark).select(
        "event_type", F.col("user_id").cast("string").alias("item")
    )


def test_cm_never_underestimates_and_bound(spark):
    """The one-sided CM guarantee at a width SMALLER than the item
    cardinality (W=64 < 150 users, so collisions — the thing CM exists
    to bound — are genuinely present): estimate >= exact for EVERY
    probed item, and the average overestimate stays near the N/W
    expectation (loose 4x allowance — a property check, not a tail
    bound)."""
    W = 64
    items = _user_items(spark).cache()
    n = items.count()
    assert items.select("item").distinct().count() > W
    sk = SK.cm_rollup(SK.cm_sketch_by_key(items, [], "item", width=W), [])
    exact = items.groupBy("item").agg(F.count("*").cast("long").alias("x"))
    sample = exact.orderBy(F.col("x").desc(), F.col("item").asc()).limit(100)
    est = SK.cm_estimate(sk, sample.select("item"), "item", width=W)
    rows = sample.join(est, "item").collect()
    assert len(rows) == 100
    overs = []
    for r in rows:
        assert r["cm_est"] >= r["x"], (r["item"], r["cm_est"], r["x"])
        overs.append(r["cm_est"] - r["x"])
    assert max(overs) > 0  # collisions actually happened
    assert sum(overs) / len(overs) <= 4.0 * n / W
    items.unpersist()


def test_cm_merge_is_exact(spark):
    """Rolling per-event-type sketches to global equals sketching the
    whole stream directly — cell-for-cell (merge adds counts, no
    estimate error)."""
    items = _user_items(spark)
    merged = SK.cm_rollup(
        SK.cm_sketch_by_key(items, ["event_type"], "item"), []
    )
    direct = SK.cm_sketch_by_key(items, [], "item")
    a = {(r["d"], r["w"]): r["cnt"] for r in merged.collect()}
    b = {(r["d"], r["w"]): r["cnt"] for r in direct.collect()}
    assert a == b


def test_cm_sketch_size_bounded(spark):
    """Cell count never exceeds depth x width no matter the item
    cardinality — the bounded-memory point of the sketch."""
    W = 64
    items = _user_items(spark)
    sk = SK.cm_sketch_by_key(items, [], "item", width=W)
    assert sk.count() <= SK.CM_DEPTH * W
    assert items.select("item").distinct().count() > W


# ---------------------------------------------------------------------------
# KMV sketches (portable distinct + set operations)
# ---------------------------------------------------------------------------

def test_kmv_exact_below_k(spark):
    """Groups whose cardinality is below k hold EVERY hash — the
    estimate is the exact distinct count, not an approximation."""
    ev = _events(spark)
    sk = SK.kmv_sketch_by_key(ev, ["event_type"], "user_id", k=4096)
    est = {
        r["event_type"]: r["kmv_distinct"]
        for r in SK.kmv_estimate(sk, ["event_type"], k=4096).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert est == exact


def test_kmv_estimate_within_bound(spark):
    """k=64 has ~1/sqrt(62) ≈ 13% standard error; assert within 35%
    (≈ 2.7 sigma) of exact per event type."""
    ev = _events(spark)
    sk = SK.kmv_sketch_by_key(ev, ["event_type"], "user_id", k=64)
    est = {
        r["event_type"]: r["kmv_distinct"]
        for r in SK.kmv_estimate(sk, ["event_type"], k=64).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k in exact:
        assert abs(est[k] - exact[k]) <= 0.35 * exact[k], (k, est[k], exact[k])


def test_kmv_merge_equals_direct(spark):
    """min-k of per-day sketch unions == min-k of the whole table: the
    EXACT row-set identity (not merely close estimates) that makes the
    incremental per-slice recipe correct."""
    ev = _events(spark)
    daily = SK.kmv_sketch_by_key(
        ev.withColumn("_d", F.to_date("ts")),
        ["event_type", "_d"],
        "user_id",
        k=64,
    )
    merged = SK.kmv_kmin(
        daily.select("event_type", "h"), ["event_type"], k=64
    )
    direct = SK.kmv_sketch_by_key(ev, ["event_type"], "user_id", k=64)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_kmv_two_stage_equals_single_window(spark):
    """kmv_kmin's sub-bucketed first stage never changes the result:
    identical to a naive single global-window min-k."""
    from pyspark.sql import Window

    ev = _events(spark)
    hashed = ev.select("event_type", SK.kmv_hash("user_id"))
    staged = SK.kmv_kmin(hashed, ["event_type"], k=64)
    w = Window.partitionBy("event_type").orderBy("h")
    naive = (
        hashed.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 64)
        .drop("_rn")
    )
    assert sorted(map(tuple, staged.collect())) == sorted(
        map(tuple, naive.collect())
    )


def test_kmv_jaccard_tracks_exact_overlap(spark):
    """Sketch-estimated Jaccard must track the exact user-set Jaccard
    per event-type pair within 0.25 absolute (k=64 union sample)."""
    from dbt_snowflake_feature_store_spark.operators.stats import (
        q_kmv_jaccard,
    )

    ev = _events(spark)
    est = {
        (r["f_a"], r["f_b"]): r["f_jaccard_ppm"] / 1e6
        for r in q_kmv_jaccard(spark, SF).collect()
    }
    sets: dict = {}
    for r in ev.select("event_type", "user_id").distinct().collect():
        sets.setdefault(r["event_type"], set()).add(r["user_id"])
    for (a, b), j in est.items():
        exact = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        assert abs(j - exact) <= 0.25, (a, b, j, exact)


def test_kmv_tuned_threshold_bounds_state(spark):
    """ADVICE r9: the default kmv_threshold_sql threshold (space/2)
    keeps ~half of ALL distinct hashes — O(n_distinct) state. The
    tuned T from kmv_tuned_threshold(k, n_min) must (a) keep O(k)
    rows per group for groups with >= n_min distinct values, and (b)
    leave the k-min read identical to the unfiltered sketch —
    bottom-k composes with any keep-the-smallest filter."""
    ev = _events(spark)
    hashed = ev.select("event_type", SK.kmv_hash("event_id")).distinct()
    n_min = min(
        r["n"]
        for r in hashed.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    k = 8
    t = SK.kmv_tuned_threshold(k=k, expected_min_distinct=n_min)
    kept = hashed.filter(F.col("h") < t)
    per_group = {
        r["event_type"]: r["n"]
        for r in kept.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    # O(k): safety=4 → expected ~4k·(n/n_min) rows; bound loosely
    for g, n in per_group.items():
        assert n <= 16 * k, (g, n)
    assert sorted(
        map(tuple, SK.kmv_kmin(kept, ["event_type"], k=k).collect())
    ) == sorted(
        map(tuple, SK.kmv_kmin(hashed, ["event_type"], k=k).collect())
    )
    # degenerate n_min → T = space (filter disabled), and validation
    assert SK.kmv_tuned_threshold(k=4, expected_min_distinct=4) == SK._KMV_SPACE
    import pytest as _pt
    with _pt.raises(ValueError):
        SK.kmv_tuned_threshold(k=0)
