"""Property pins for the r18 optimization primitives: the
domain-bucketed two-level running sum (ranks.bucketed_running_sum) —
brute-force Python replays independent of the DuckDB oracle (the
r11/r12 discipline): the bucketed spelling must equal the textbook
running sum and the range-exchange spelling on arbitrary small inputs,
under any partitioning, including the over-gate fallback path."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 500),      # order key (may repeat across lists)
            st.integers(0, 10**9),    # value
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],     # TOTAL order: unique keys
    ),
    shift=st.integers(2, 6),          # bucket width 2^shift
)
def test_bucketed_running_sum_matches_sequential(spark, rows, shift):
    from dbt_snowflake_feature_store_spark.functions.ranks import (
        bucketed_running_sum,
    )

    df = (
        spark.createDataFrame(rows, "k long, v long")
        .repartition(5)
        .withColumn("b", F.expr(f"CAST(k DIV {1 << shift} AS BIGINT)"))
    )
    out = bucketed_running_sum(df, ["k"], "v", "b", sum_col="_cum")
    got = {r["k"]: r["_cum"] for r in out.collect()}
    acc = 0
    for k, v in sorted(rows):
        acc += v
        assert got[k] == acc, (k, got[k], acc)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 300), st.integers(0, 10**6)),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
)
def test_bucketed_running_sum_matches_range_machinery(spark, rows):
    """bucketed ≡ global_running_sum on the same frame (the
    q_spearman_corr plan equivalence), and the caller-supplied
    histogram path ≡ the self-histogram path."""
    from dbt_snowflake_feature_store_spark.functions.ranks import (
        bucketed_running_sum,
        global_running_sum,
    )

    df = (
        spark.createDataFrame(rows, "k long, v long")
        .repartition(3)
        .withColumn("b", F.expr("CAST(k DIV 16 AS BIGINT)"))
    )
    ref = global_running_sum(
        df, ["k"], "v", rank_col="_r", sum_col="_cum", num_partitions=4
    )
    got_self = bucketed_running_sum(df, ["k"], "v", "b", sum_col="_cum")
    hist = df.groupBy("b").agg(F.sum("v").cast("long").alias("w"))
    got_hist = bucketed_running_sum(
        df, ["k"], "v", "b", sum_col="_cum", hist_df=hist
    )
    want = {r["k"]: r["_cum"] for r in ref.collect()}
    assert {r["k"]: r["_cum"] for r in got_self.collect()} == want
    assert {r["k"]: r["_cum"] for r in got_hist.collect()} == want


def test_bucketed_running_sum_fallback_over_gate(spark):
    """More buckets than max_buckets -> falls back to the range
    machinery and still returns the exact running sum (no _fs_ helper
    column leaks)."""
    from dbt_snowflake_feature_store_spark.functions.ranks import (
        bucketed_running_sum,
    )

    rows = [(i, i + 1) for i in range(20)]
    df = (
        spark.createDataFrame(rows, "k long, v long")
        .withColumn("b", F.col("k"))  # one bucket per row: 20 buckets
    )
    out = bucketed_running_sum(
        df, ["k"], "v", "b", sum_col="_cum", max_buckets=5
    )
    assert "_fs_brs_rank" not in out.columns
    got = {r["k"]: r["_cum"] for r in out.collect()}
    acc = 0
    for k, v in rows:
        acc += v
        assert got[k] == acc


def test_bucketed_running_sum_null_bucket_refuses(spark):
    from dbt_snowflake_feature_store_spark.functions.ranks import (
        bucketed_running_sum,
    )
    import pytest

    df = spark.createDataFrame(
        [(1, 1, None), (2, 2, 0)], "k long, v long, b long"
    )
    with pytest.raises(ValueError, match="NULL bucket"):
        bucketed_running_sum(df, ["k"], "v", "b", sum_col="_cum")


def test_bucketed_running_sum_sums_multi_row_histogram(spark, monkeypatch):
    """A caller histogram with several rows per bucket is summed per
    bucket, not read last-write-wins, and the gate counts buckets: 3
    buckets fit max_buckets=3 although the histogram has 6 rows, so the
    range-machinery fallback never runs."""
    from dbt_snowflake_feature_store_spark.functions import ranks
    from dbt_snowflake_feature_store_spark.functions.ranks import (
        bucketed_running_sum,
    )

    def _no_fallback(*a, **k):
        raise AssertionError("fell back past a gate the buckets fit")

    monkeypatch.setattr(ranks, "global_running_sum", _no_fallback)

    rows = [(k, k + 1) for k in range(12)]
    df = spark.createDataFrame(rows, "k long, v long").withColumn(
        "b", F.expr("CAST(k DIV 4 AS BIGINT)")
    )
    # two rows per bucket, each carrying part of the bucket's weight
    hist = df.groupBy("b", (F.col("k") % 2).alias("_p")).agg(
        F.sum("v").cast("long").alias("w")
    ).select("b", "w")
    out = bucketed_running_sum(
        df, ["k"], "v", "b", sum_col="_cum", hist_df=hist, max_buckets=3
    )
    got = {r["k"]: r["_cum"] for r in out.collect()}
    acc = 0
    for k, v in rows:
        acc += v
        assert got[k] == acc, (k, got[k], acc)


# ---------------------------------------------------------------------------
# ranks.bounded_kth_smallest — exact selection via bounded histograms
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    vals=st.lists(
        st.integers(-(10**6), 10**6), min_size=1, max_size=40
    ),
    k=st.integers(1, 40),
    width_shift=st.integers(1, 8),
)
def test_bounded_kth_smallest_matches_sorted(spark, vals, k, width_shift):
    """k-th smallest == sorted()[k-1] on arbitrary multisets (dupes,
    negatives — trunc-div buckets stay contiguous), any partitioning,
    any bucket width; k=None is the lower median."""
    from dbt_snowflake_feature_store_spark.functions.ranks import (
        bounded_kth_smallest,
    )

    kk = min(k, len(vals))
    df = spark.createDataFrame(
        [(v,) for v in vals], "v long"
    ).repartition(5)
    got = bounded_kth_smallest(
        df, "v", k=kk, bucket_width=1 << width_shift
    )
    assert got == sorted(vals)[kk - 1]
    med = bounded_kth_smallest(df, "v", bucket_width=1 << width_shift)
    assert med == sorted(vals)[(len(vals) + 1) // 2 - 1]


def test_bounded_kth_smallest_over_gate_returns_none(spark):
    from dbt_snowflake_feature_store_spark.functions.ranks import (
        bounded_kth_smallest,
    )

    df = spark.createDataFrame([(i * 100,) for i in range(30)], "v long")
    assert (
        bounded_kth_smallest(df, "v", bucket_width=1, max_buckets=5)
        is None
    )


def test_bounded_kth_smallest_refusals(spark):
    from dbt_snowflake_feature_store_spark.functions.ranks import (
        bounded_kth_smallest,
    )
    import pytest

    assert (
        bounded_kth_smallest(
            spark.createDataFrame([], "v long"), "v"
        )
        is None
    )
    with pytest.raises(ValueError, match="NULL value"):
        bounded_kth_smallest(
            spark.createDataFrame([(1,), (None,)], "v long"), "v"
        )
    with pytest.raises(ValueError, match="outside"):
        bounded_kth_smallest(
            spark.createDataFrame([(1,)], "v long"), "v", k=5
        )


def test_bounded_kth_smallest_null_refused_past_gate(spark):
    """A NULL-bearing column over a domain wider than max_buckets is
    refused, not answered None (which sends the caller to the rank
    machinery, where NULL would rank silently)."""
    from dbt_snowflake_feature_store_spark.functions.ranks import (
        bounded_kth_smallest,
    )
    import pytest

    df = spark.createDataFrame(
        [(i * 1000,) for i in range(40)] + [(None,)], "v long"
    ).repartition(4)
    with pytest.raises(ValueError, match="NULL value"):
        bounded_kth_smallest(df, "v", bucket_width=1, max_buckets=2)
