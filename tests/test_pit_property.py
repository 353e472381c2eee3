"""Property-based as-of join testing: the union strategy must agree with
an independent pandas merge_asof reference on arbitrary generated data —
including adversarial shapes (duplicate timestamps, empty sides, keys with
no features, ties at the boundary)."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dbt_snowflake_feature_store_spark import asof_join, pit

BASE = dt.datetime(2024, 1, 1)

# keep rows small: each example pays a Spark job
_keys = st.integers(min_value=0, max_value=4)
_offsets = st.integers(min_value=0, max_value=1000)


@st.composite
def asof_case(draw):
    spine = draw(
        st.lists(st.tuples(_keys, _offsets), min_size=1, max_size=12)
    )
    feats = draw(
        st.lists(
            st.tuples(_keys, _offsets, st.integers(0, 10**6)),
            min_size=0,
            max_size=12,
        )
    )
    return spine, feats


def _reference(spine_rows, feat_rows):
    """Independent formulation: for each spine row, the feature value of
    the max feature ts <= spine ts for that key; among equal feature ts
    the one our union strategy deterministically keeps (last in
    (ts, insertion) order after array sort — we disambiguate by making
    (key, ts) unique in generation instead)."""
    out = []
    for k, off in spine_rows:
        cands = [
            (foff, v)
            for fk, foff, v in feat_rows
            if fk == k and foff <= off
        ]
        if cands:
            out.append((k, off, max(cands)[1]))
        else:
            out.append((k, off, None))
    return sorted(out, key=lambda r: (r[0], r[1], r[2] is None, r[2]))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(asof_case())
def test_union_asof_matches_reference(spark, case):
    spine_rows, feat_rows = case
    # make (key, ts) unique on the feature side: ties among identical
    # feature timestamps are resolved by engine-internal order (documented)
    feat_rows = list({(k, o): (k, o, v) for k, o, v in feat_rows}.values())

    spine = spark.createDataFrame(
        [(k, BASE + dt.timedelta(minutes=o)) for k, o in spine_rows],
        "k long, ts timestamp",
    )
    feats = spark.createDataFrame(
        [
            (k, BASE + dt.timedelta(minutes=o), v)
            for k, o, v in feat_rows
        ],
        "k long, fts timestamp, v long",
    ) if feat_rows else spark.createDataFrame([], "k long, fts timestamp, v long")

    out = asof_join(
        spine, feats, on=["k"], spine_ts="ts", feature_ts="fts",
        feature_cols=["v"],
    ).collect()

    got = sorted(
        (
            r["k"],
            int((r["ts"] - BASE).total_seconds() // 60),
            r["v"],
        )
        for r in out
    )
    got = sorted(got, key=lambda r: (r[0], r[1], r[2] is None, r[2]))
    expected = _reference(spine_rows, feat_rows)
    assert got == expected


def _reference_fwd(spine_rows, feat_rows):
    """Forward twin of _reference: min feature ts >= spine ts per key."""
    out = []
    for k, off in spine_rows:
        cands = [
            (foff, v)
            for fk, foff, v in feat_rows
            if fk == k and foff >= off
        ]
        if cands:
            out.append((k, off, min(cands)[1]))
        else:
            out.append((k, off, None))
    return sorted(out, key=lambda r: (r[0], r[1], r[2] is None, r[2]))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(asof_case())
def test_union_asof_forward_matches_reference(spark, case):
    spine_rows, feat_rows = case
    feat_rows = list({(k, o): (k, o, v) for k, o, v in feat_rows}.values())

    spine = spark.createDataFrame(
        [(k, BASE + dt.timedelta(minutes=o)) for k, o in spine_rows],
        "k long, ts timestamp",
    )
    feats = spark.createDataFrame(
        [
            (k, BASE + dt.timedelta(minutes=o), v)
            for k, o, v in feat_rows
        ],
        "k long, fts timestamp, v long",
    ) if feat_rows else spark.createDataFrame([], "k long, fts timestamp, v long")

    out = asof_join(
        spine, feats, on=["k"], spine_ts="ts", feature_ts="fts",
        feature_cols=["v"], direction="forward",
    ).collect()

    got = sorted(
        (
            r["k"],
            int((r["ts"] - BASE).total_seconds() // 60),
            r["v"],
        )
        for r in out
    )
    got = sorted(got, key=lambda r: (r[0], r[1], r[2] is None, r[2]))
    assert got == _reference_fwd(spine_rows, feat_rows)


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_null_ts_strategy_parity(spark, direction):
    """NULL timestamps (r5 ADVICE): a NULL-ts spine row must get NULL
    features (the range predicate is NULL → no match) and a NULL-ts
    feature row must never be attached — identically under BOTH
    strategies. Forward previously diverged: plain desc() is nulls-last,
    so the union carry attached the earliest feature to NULL-ts spine
    rows while broadcast returned NULL."""
    spine = spark.createDataFrame(
        [
            (1, BASE + dt.timedelta(minutes=10)),
            (1, None),
            (2, None),
            (3, BASE),
        ],
        "k long, ts timestamp",
    )
    feats = spark.createDataFrame(
        [
            (1, BASE, 100),
            (1, BASE + dt.timedelta(minutes=20), 200),
            (1, None, 999),  # timestampless feature: never attachable
            (2, BASE, 300),
            (3, None, 888),
        ],
        "k long, fts timestamp, v long",
    )
    rows = {}
    for strategy in ("union", "broadcast"):
        out = asof_join(
            spine, feats, on=["k"], spine_ts="ts", feature_ts="fts",
            feature_cols=["v"], strategy=strategy, direction=direction,
        ).collect()
        rows[strategy] = sorted(
            ((r["k"], r["ts"], r["v"]) for r in out),
            key=lambda r: (r[0], r[1] is not None, r[1] or BASE, r[2] or 0),
        )
    assert rows["union"] == rows["broadcast"]
    by_key_null = {
        k: v for k, ts, v in rows["union"] if ts is None
    }
    # NULL-ts spine rows attach nothing
    assert by_key_null == {1: None, 2: None}
    # key 3's only feature row has NULL fts → never attached
    assert [v for k, ts, v in rows["union"] if k == 3] == [None]


def test_merge_asof_parity_on_events(spark, sf_dir):
    """Cross-check the union strategy against pandas merge_asof on the
    real events table (purchases vs latest prior error per user)."""
    from dbt_snowflake_feature_store_spark.sources import read_table

    ev = read_table(spark, sf_dir, "events")
    spine = ev.filter("event_type = 'purchase'").select(
        "event_id", "user_id", ev.ts.alias("event_time")
    )
    feats = ev.filter("event_type = 'error'").select("user_id", "ts", "value")
    out = asof_join(
        spine, feats, on=["user_id"], spine_ts="event_time", feature_ts="ts",
        feature_cols=["value"],
    ).toPandas()

    sp = spine.toPandas().sort_values("event_time")
    ft = feats.toPandas().sort_values("ts")
    ref = pd.merge_asof(
        sp, ft, left_on="event_time", right_on="ts", by="user_id",
        direction="backward", allow_exact_matches=True,
    )
    merged = out.merge(
        ref[["event_id", "value"]], on="event_id", suffixes=("_spark", "_pd")
    )
    assert len(merged) == len(out) == len(sp)
    both_nan = merged.value_spark.isna() & merged.value_pd.isna()
    equal = merged.value_spark == merged.value_pd
    assert (both_nan | equal).all()


# few keys and a narrow ts range so exact (key, ts) ties with different
# payloads are common; None exercises NULL keys and timestamps
_nkeys = st.none() | st.integers(min_value=0, max_value=5)
_nts = st.none() | st.integers(min_value=0, max_value=40)


@st.composite
def parity_case(draw):
    spine = draw(st.lists(st.tuples(_nkeys, _nts), min_size=1, max_size=10))
    feats = draw(
        st.lists(
            st.tuples(_nkeys, _nts, st.none() | st.integers(0, 9)),
            min_size=0,
            max_size=14,
        )
    )
    return spine, feats


@pytest.mark.parametrize("tolerance", [None, "10 minutes"])
@pytest.mark.parametrize("direction", ["backward", "forward"])
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=parity_case())
def test_broadcast_and_union_strategies_agree(spark, direction, tolerance, case):
    """Every side of the ``auto`` size gate returns identical rows: the
    same tied row wins an exact (key, ts) tie, and NULL keys, NULL
    timestamps and keys without features attach nothing either way."""
    spine_rows, feat_rows = case

    def ts(o):
        return None if o is None else BASE + dt.timedelta(minutes=o)

    spine = spark.createDataFrame(
        [(i, k, ts(o)) for i, (k, o) in enumerate(spine_rows)],
        "id long, k long, ts timestamp",
    )
    feats = spark.createDataFrame(
        [(k, ts(o), v) for k, o, v in feat_rows], "k long, fts timestamp, v long"
    )
    kw = dict(
        on=["k"], spine_ts="ts", feature_ts="fts", feature_cols=["v"],
        direction=direction, tolerance=tolerance,
    )
    got = {
        strategy: sorted(
            map(repr, asof_join(spine, feats, strategy=strategy, **kw).collect())
        )
        for strategy in ("union", "broadcast")
    }
    # the spine-bounded reduction feeding the broadcast fold (what `auto`
    # runs for a small spine over a large feature side)
    reduced = pit._spine_bounded(spine, feats, ["k"], "ts", "fts", direction)
    got["bounded"] = sorted(
        map(repr, pit._asof_broadcast(
            spine, reduced, ["k"], "ts", "fts", ["v"], tolerance, direction
        ).collect())
    )
    assert got["union"] == got["broadcast"] == got["bounded"]
    assert len(got["union"]) == len(spine_rows)
