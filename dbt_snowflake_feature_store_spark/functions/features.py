"""Feature-engineering helpers whose exact forms don't scale.

``quantile_bucket`` is the 100 TB replacement for a GLOBAL ``ntile``:
exact n-tiles need a single-partition sort of the whole frame, while
bucket-by-threshold needs one tiny aggregate (the approximate quantile
sketch, driver-collected as `buckets-1` scalars — a parameter, not
data) and a row-local CASE. The trade is exactness at bucket
boundaries: rows within the sketch's rank error of a threshold may
land one bucket off; everything else matches the exact ntile
(tested in tests/test_features.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantile_bucket(
    df: DataFrame,
    col: str,
    buckets: int = 4,
    accuracy: int = 10000,
    ascending: bool = True,
) -> Column:
    """Column assigning each row a bucket 1..``buckets`` by the
    approximate quantile thresholds of ``col`` (bucket 1 = smallest
    values when ``ascending``, else largest — matching
    ``ntile(buckets) OVER (ORDER BY col [DESC])``).

    ``accuracy`` is Spark's percentile_approx knob: rank error is at
    most n/accuracy rows per threshold.

    NULL handling: a NULL input gets a NULL bucket (unlike ``ntile``,
    which under Spark's default NULLS FIRST ascending ordering counts
    NULLs into bucket 1 — bucketing a missing measurement as "smallest"
    is almost never the wanted feature semantics, so the divergence is
    deliberate and documented here). Requires ``buckets >= 2``."""
    if buckets < 2:
        raise ValueError(f"quantile_bucket requires buckets >= 2, got {buckets}")
    probs = [i / buckets for i in range(1, buckets)]
    row = df.agg(
        F.percentile_approx(col, probs, accuracy).alias("_t")
    ).collect()[0]
    if row["_t"] is None:  # no non-null values: every bucket is NULL
        return F.lit(None).cast("int")
    thresholds = list(row["_t"])
    c = F.col(col)
    if not ascending:
        # mirror: bucket 1 holds the LARGEST values; STRICT comparisons
        # so a row sitting exactly on a threshold stays in the lower-
        # ranked bucket, matching ntile's row counting
        expr = F.when(c > F.lit(thresholds[-1]), 1)
        for i, th in enumerate(reversed(thresholds[:-1]), start=2):
            expr = expr.when(c > F.lit(th), i)
        return F.when(c.isNotNull(), expr.otherwise(buckets))
    expr = F.when(c <= F.lit(thresholds[0]), 1)
    for i, th in enumerate(thresholds[1:], start=2):
        expr = expr.when(c <= F.lit(th), i)
    return F.when(c.isNotNull(), expr.otherwise(buckets))


def rfm_features(
    orders: DataFrame,
    buckets: int = 4,
    customer_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    exact: bool = False,
) -> DataFrame:
    """RFM customer features — the store-facing recipe behind the
    q_rfm query key (operators/stats.py), with the SCALE path as
    the default: recency/frequency/monetary aggregates per customer,
    scored 1..``buckets`` per dimension.

    ``exact=False`` (default, the 100 TB shape) scores via
    ``quantile_bucket`` — three approx-percentile sketches + row-local
    CASEs, NO window and NO global sort anywhere in the plan
    (plan-asserted in tests/test_features.py). ``exact=True`` scores
    exact NTILE boundaries via ``ranks.global_ntile`` (range exchange +
    parallel per-range sort + prefix-sum offsets) — identical values to
    ``NTILE(n) OVER (ORDER BY …)`` (the form the DuckDB oracle pins)
    with NO unpartitioned Window node anywhere: three range exchanges,
    never a single-task sort.

    Scores agree with the exact form everywhere except rows tied with /
    within the sketch's rank error of a quartile boundary."""
    rfm = orders.groupBy(customer_col).agg(
        F.max(date_col).alias("_last"),
        F.count("*").cast("long").alias("f_frequency"),
        F.sum(F.col(amount_col).cast("decimal(28,6)"))
        .cast("double")
        .alias("f_monetary"),
    )
    anchor = orders.agg(F.max(date_col).alias("_anchor"))
    scored = rfm.crossJoin(F.broadcast(anchor)).select(
        customer_col,
        F.datediff(F.col("_anchor"), F.col("_last"))
        .cast("long")
        .alias("f_recency_days"),
        "f_frequency",
        "f_monetary",
    )
    if exact:
        from .ranks import global_ntile

        # three distributed exact ntiles (one range exchange each; the
        # unique customer tiebreak makes every order TOTAL, so the
        # result is independent of partition layout and hash-checkable)
        out = global_ntile(
            scored,
            [F.col("f_recency_days").asc(), F.col(customer_col).asc()],
            buckets,
            "f_r_score",
        )
        out = global_ntile(
            out,
            [F.col("f_frequency").desc(), F.col(customer_col).asc()],
            buckets,
            "f_f_score",
        )
        out = global_ntile(
            out,
            [F.col("f_monetary").desc(), F.col(customer_col).asc()],
            buckets,
            "f_m_score",
        )
        return out.select(
            customer_col,
            "f_recency_days",
            "f_frequency",
            "f_monetary",
            "f_r_score",
            "f_f_score",
            "f_m_score",
        )
    # the three sketches each collect `buckets-1` scalars; the scored
    # frame itself is never globally sorted
    scored = scored.cache()
    return scored.select(
        customer_col,
        "f_recency_days",
        "f_frequency",
        "f_monetary",
        quantile_bucket(scored, "f_recency_days", buckets)
        .cast("long")
        .alias("f_r_score"),
        quantile_bucket(scored, "f_frequency", buckets, ascending=False)
        .cast("long")
        .alias("f_f_score"),
        quantile_bucket(scored, "f_monetary", buckets, ascending=False)
        .cast("long")
        .alias("f_m_score"),
    )


def decayed_value_batch(
    df: "DataFrame",
    key: str,
    ts_col: str = "ts",
    value_col: str = "value",
    halflife_s: float = 3600.0,
    out_col: str = "f_decayed",
) -> "DataFrame":
    """Batch recompute of the exponentially time-decayed running value —
    the backfill/bootstrap twin of ``streaming.stateful.decayed_value_tws``
    (same closed form: Σ vᵢ·2^(−(T−tᵢ)/halflife) at T = the key's last
    event). Used to seed or audit the streaming state; the two are
    parity-tested (tests/test_stateful_tws.py).

    Shape: one shuffle on the key. The closed form is order-independent
    mathematically; the fold runs in a sorted higher-order ``aggregate``
    over each key's (ts, value) pairs so the float-addition ORDER also
    matches the streaming fold (parity to ~1 ulp — JVM Math.pow vs
    Python ``**`` may differ in the last bit, so the parity test uses a
    1e-12 relative bound, not bit equality). Per-key arrays bound memory
    to the key's history; for unbounded histories the streaming operator
    IS the scale path (O(1) state), this batch form is the recompute."""
    from pyspark.sql import functions as F

    hl_us = float(halflife_s) * 1_000_000.0
    pairs = df.groupBy(key).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.unix_micros(F.col(ts_col)).alias("t"),
                    F.col(value_col).cast("double").alias("v"),
                )
            )
        ).alias("_evs")
    )
    # fold: (acc, last_t) -> acc·2^(−(t−last)/hl) + v — identical
    # recurrence (and order) to the streaming processor's in-order path
    fold = (
        "aggregate(_evs, struct(CAST(0.0 AS DOUBLE) AS d, "
        "CAST(NULL AS LONG) AS lt), "
        "(acc, e) -> struct("
        " CASE WHEN acc.lt IS NULL THEN acc.d + e.v"
        f"     ELSE acc.d * power(2.0D, -(e.t - acc.lt) / {hl_us}D) + e.v END,"
        " e.t))"
    )
    # materialize the fold ONCE (HOF lambdas re-evaluate per reference)
    return (
        pairs.withColumn("_acc", F.expr(fold))
        .select(
            key,
            F.col("_acc.d").alias(out_col),
            F.expr("timestamp_micros(_acc.lt)").alias("f_last_ts"),
        )
    )


def zorder_value(
    col_a,
    col_b,
    bits: int = 16,
):
    """Morton (Z-order) interleave of two NON-NEGATIVE integer columns —
    the sort key that gives a ``cluster_by`` layout data-skipping power
    on BOTH dimensions at once (a plain two-column sort skips only on
    the leading column; Z-order bounds every file/row-group to a small
    rectangle of the (a, b) plane, so min/max stats prune predicates on
    either column).

    Callers pre-bucket unbounded or skewed values into ``[0, 2^bits)``
    first — ``quantile_bucket`` or ``ranks.global_ntile`` are the
    equal-population mappers; ids already bounded can pass through. The
    interleave itself is ``bits`` pairs of shift/mask/or terms — native
    JVM expressions, whole-stage codegen, zero Python.

    Delta/Iceberg expose this as OPTIMIZE ZORDER BY; here it composes
    with the engine's sorted-file layout: ``FeatureView.cluster_by`` on
    a materialized z-value column (or sortWithinPartitions before any
    parquet write)."""
    from pyspark.sql import Column, functions as F

    a = F.col(col_a) if isinstance(col_a, str) else col_a
    b = F.col(col_b) if isinstance(col_b, str) else col_b
    a = a.cast("long")
    b = b.cast("long")
    one = F.lit(1).cast("long")
    out = F.lit(0).cast("long")
    for i in range(bits):
        # Column.& is LOGICAL and — bitwise ops must be spelled
        # bitwiseAND/bitwiseOR
        out = out.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(one), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(one), 2 * i + 1)
        )
    return out
