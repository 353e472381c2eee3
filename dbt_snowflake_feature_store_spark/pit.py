"""Point-in-time (as-of) join — the one real algorithm in scope.

Semantics (the reference's ``generate_dataset`` contract,
/root/reference/integration_tests/python_tests/
test_feature_store_workflows.py:128-184): for each spine row, attach the
feature row with the greatest ``feature_ts <= spine_ts`` per entity key;
spine rows with no prior feature row get NULL features; every spine row is
preserved exactly once.

Spark has no native batch as-of join. ``strategy='auto'`` chooses among
three plans by Catalyst's size estimates:

``broadcast`` (feature side at most ``broadcast_threshold`` bytes)
    The feature side is reduced to one candidate array per key,
    broadcast, and probed by an equi-join; a fold over the key's array
    picks each spine row's feature row. The spine is never shuffled or
    regrouped. Also available by request.

spine-bounded ``broadcast`` (feature side above the threshold; what
the cut leaves, estimated as the spine's rows at the feature row's
width, at most the threshold; no key with more than
``SPINE_TS_PER_KEY_MAX`` distinct spine timestamps; no ``salt``; both
plans deterministic)
    A key-only pass first cuts the feature side down to the rows that
    can win (``_spine_bounded``): per key, the latest feature ts inside
    each gap between consecutive spine timestamps. Only those rows, and
    the rows tied with them, reach the broadcast fold. The full feature
    payload is never shuffled or sorted.

``union`` (otherwise; the 100 TB scale path)
    Tag spine and feature rows, ``unionByName``, then one window
    ``partitionBy(keys).orderBy(ts, is_spine)`` with
    ``last(feature_col, ignorenulls=True)`` carrying features forward onto
    spine rows. Cost: ONE shuffle on the entity keys, no join explosion —
    a key with f feature rows and s spine rows costs O(f+s), not O(f*s)
    like the join+filter formulation. Ties (feature_ts == spine_ts) are
    included because feature rows order before spine rows at equal ts.
    It also serves ``direction='nearest'`` and the ``salt`` hot-key split.

Every strategy breaks an exact (key, ts) tie the same way
(``latest_order``), and so do the store's latest-row snapshots.

All three are pure DataFrame compositions — Catalyst/AQE handle partition
coalescing and skew splitting (SURVEY.md §4.2-4.3).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType, VariantType

from .errors import ValidationError

_IS_SPINE = "__fs_is_spine"
_TS = "__fs_ts"


BROADCAST_THRESHOLD_BYTES = 10 * 1024 * 1024  # Spark's autoBroadcast default
SPINE_TS_PER_KEY_MAX = 64


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for a plan (bytes), or None if
    unavailable. For a bare parquet scan this is file-size based, so it
    is the same signal Spark's own broadcast-join planning uses."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover - py4j edge
        return None


def _deterministic(df: DataFrame) -> bool:
    return bool(df._jdf.queryExecution().optimizedPlan().deterministic())


def _row_bytes(df: DataFrame) -> int:
    """Catalyst's per-row size estimate: 8 bytes of row overhead plus the
    default size of each column's type."""
    return 8 + int(df._jdf.schema().defaultSize())


def _feature_row(ts: str, cols: Sequence[str]) -> Column:
    """A feature row as one struct: its ts, then ``cols``."""
    return F.struct(F.col(ts).alias("__fs_row_ts"), *[F.col(c).alias(c) for c in cols])


def _tie_hash(row: Column, df: DataFrame, cols: Sequence[str]) -> Column:
    """The ``xxhash64`` that breaks an exact (key, ts) tie between feature
    rows; ``row`` is ``_feature_row`` over ``df``'s ``cols``. Spark hashes
    no map or variant, so a row holding one is hashed by its JSON text."""
    def unhashable(t: DataType) -> bool:
        if isinstance(t, (MapType, VariantType)):
            return True
        if isinstance(t, ArrayType):
            return unhashable(t.elementType)
        if isinstance(t, StructType):
            return any(unhashable(f.dataType) for f in t.fields)
        return False

    if any(unhashable(f.dataType) for f in df.select(*cols).schema.fields):
        return F.xxhash64(F.to_json(row))
    return F.xxhash64(row)


def latest_order(df: DataFrame, ts: str, cols: Sequence[str]) -> Column:
    """What "latest row" means everywhere: the feature ts, then the tie
    hash of ``_feature_row(ts, cols)``. The greatest keeps the row every
    as-of strategy attaches."""
    return F.struct(
        F.col(ts).alias("t"),
        _tie_hash(_feature_row(ts, cols), df, [ts, *cols]).alias("h"),
    )


def latest_per_key(
    df: DataFrame, on: Sequence[str], ts: str, cols: Sequence[str]
) -> DataFrame:
    """``on`` and ``cols`` of each key's latest row by ``latest_order``:
    the row an as-of join attaches to a spine ts at or after the key's
    last feature ts. One ``max_by`` (the row itself is never ordered, so
    map columns are fine), no window sort; a NULL-ts row is never the
    latest."""
    order = latest_order(df, ts, [c for c in cols if c != ts])
    row = F.struct(*[F.col(c) for c in cols])
    return (
        df.groupBy(*on)
        .agg(F.max_by(row, F.when(F.col(ts).isNotNull(), order)).alias("__fs_latest"))
        .select(*on, *[F.col(f"__fs_latest.{c}").alias(c) for c in cols])
    )


def asof_join(
    spine: DataFrame,
    features: DataFrame,
    on: Sequence[str],
    spine_ts: str,
    feature_ts: str,
    feature_cols: Sequence[str] | None = None,
    strategy: str = "auto",
    tolerance: str | None = None,
    salt: int | None = None,
    broadcast_threshold: int = BROADCAST_THRESHOLD_BYTES,
    direction: str = "backward",
) -> DataFrame:
    """Left as-of join: every spine row + latest feature values at-or-before
    ``spine_ts`` (``direction='backward'``, the PIT default), earliest
    values at-or-after it (``direction='forward'`` — label lookahead /
    next-reading attachment), or whichever side is closer in time
    (``direction='nearest'`` — pandas ``merge_asof`` parity; equal
    distances prefer the backward row, so an exact-timestamp match
    always wins).

    Parameters
    ----------
    on : entity join keys (must exist on both sides).
    feature_cols : feature columns to attach; defaults to every feature
        column that is neither a key nor the feature timestamp.
    strategy : 'auto' (default) picks 'broadcast' when Catalyst's size
        estimate for the feature side is under ``broadcast_threshold``
        (dimension-sized FV → no shuffle of the spine at all). Above it,
        when the cut side (the spine's estimated rows at the feature
        row's width) is under the threshold and no key has more than
        ``SPINE_TS_PER_KEY_MAX`` distinct spine timestamps, the feature
        side is first cut down to the rows that can win, then
        broadcast-folded (both plans must be deterministic: each side is
        read twice; ``salt`` opts out). Otherwise 'union'
        (single-shuffle scale path).
        'broadcast' and 'union' can be forced; a forced 'broadcast'
        never reduces.
    tolerance : optional max lookback (backward) / lookahead (forward) as
        an INTERVAL string (e.g. '30 days'); rows outside yield NULLs.
    direction : 'backward' (default) attaches the greatest
        ``feature_ts <= spine_ts``; 'forward' the smallest
        ``feature_ts >= spine_ts``. Both inclusive; both deterministic
        under exact (key, ts) ties (struct-hash tiebreak, identical row
        chosen by either strategy).
    salt : hot-key escape hatch for the union strategy. With ``salt=R``
        each spine row lands in one of R sub-partitions of its entity key
        while feature rows are replicated to all R — a pathological key's
        window splits across R tasks (AQE cannot split a running window).
        Results are identical for any R; cost is R× the feature rows of
        the salted window shuffle. Ignored by the broadcast strategy
        (joins after broadcast never shuffle on the key); under 'auto' it
        rules out the spine-bounded cut, which would not split a hot key.
    """
    on = list(on)
    for k in on:
        if k not in spine.columns:
            raise ValidationError(f"as-of join key '{k}' missing from spine")
        if k not in features.columns:
            raise ValidationError(f"as-of join key '{k}' missing from features")
    if spine_ts not in spine.columns:
        raise ValidationError(f"spine timestamp '{spine_ts}' missing from spine")
    if feature_ts not in features.columns:
        raise ValidationError(f"feature timestamp '{feature_ts}' missing from features")

    if feature_cols is None:
        feature_cols = [c for c in features.columns if c not in on and c != feature_ts]
    feature_cols = list(feature_cols)

    if direction not in ("backward", "forward", "nearest"):
        raise ValidationError(f"Unknown as-of direction: {direction!r}")
    if direction == "nearest" and strategy == "broadcast":
        raise ValidationError(
            "as-of direction='nearest' is served by the union strategy "
            "(both direction candidates come out of ONE window pass; a "
            "broadcast range join would need an unbounded key-equality "
            "join to see both sides)"
        )

    if strategy == "auto":
        def fits(sz: int | None) -> bool:
            return sz is not None and 0 < sz <= broadcast_threshold

        strategy = "union"
        if direction == "nearest":
            pass
        elif fits(_plan_size_bytes(features)):
            strategy = "broadcast"
        elif salt is None and _deterministic(spine) and _deterministic(features):
            # What the cut leaves for the broadcast is at most one feature
            # row per spine row (plus exact ties): the spine's estimate,
            # rescaled from its row width to the feature row's.
            sz = _plan_size_bytes(spine)
            width = _row_bytes(features.select(*on, feature_ts, *feature_cols))
            cut = None
            if sz is not None and fits(sz * width // _row_bytes(spine)):
                cut = _spine_bounded(spine, features, on, spine_ts, feature_ts, direction)
            if cut is not None:
                features, strategy = cut, "broadcast"

    if strategy == "union":
        return _asof_union(
            spine, features, on, spine_ts, feature_ts, feature_cols, tolerance, salt,
            direction,
        )
    if strategy == "broadcast":
        return _asof_broadcast(
            spine, features, on, spine_ts, feature_ts, feature_cols, tolerance, direction
        )
    raise ValidationError(f"Unknown as-of strategy: {strategy!r}")


def _spine_bounded(
    spine: DataFrame,
    features: DataFrame,
    on: list[str],
    spine_ts: str,
    feature_ts: str,
    direction: str,
) -> DataFrame | None:
    """The feature rows that can win a backward (forward) as-of join
    against ``spine``: per key, the latest (earliest) feature ts in each
    interval ``(previous spine ts, m]`` (``[m, next spine ts)``) of the
    key's distinct spine timestamps ``m``, with every row tied with it on
    (key, ts). The winner for spine ts ``m`` is the latest feature ts at
    or before ``m``; nothing lies between it and ``m``, so it is the
    latest of its own interval. The fold still applies the tolerance and
    the hash tiebreak. Key-only passes: the spine's marks are shuffled,
    the feature side is range-joined (as key and ts only) against the
    broadcast intervals, aggregated to one ts per interval and
    semi-joined back.

    Each feature row is compared with every interval of its key, and the
    fold then scans the key's cut rows once per spine row, so both cost
    O(distinct spine timestamps of the key) per row. One small job over
    the spine's marks bounds that: None (take the union) when some key
    has more than ``SPINE_TS_PER_KEY_MAX``."""
    back = direction == "backward"
    m, edge, t = "__fs_m", "__fs_bound", "__fs_t"
    marks = spine.select(*on, F.col(spine_ts).alias(m)).dropna().distinct()
    per_key = marks.groupBy(*on).agg(F.count(F.lit(1)).alias("__fs_n"))
    most = per_key.agg(F.max("__fs_n")).first()[0]
    if (most or 0) > SPINE_TS_PER_KEY_MAX:
        return None
    w = Window.partitionBy(*on).orderBy(m)
    intervals = marks.withColumn(edge, (F.lag if back else F.lead)(m).over(w))
    keys = features.select(*on, F.col(feature_ts).alias(t)).dropna()
    inside = (
        (F.col(edge).isNull() | (F.col(t) > F.col(edge))) & (F.col(t) <= F.col(m))
        if back
        else (F.col(t) >= F.col(m)) & (F.col(edge).isNull() | (F.col(t) < F.col(edge)))
    )
    best = (
        keys.join(F.broadcast(intervals), on)
        .where(inside)
        .groupBy(*on, m)
        .agg((F.max if back else F.min)(t).alias(feature_ts))
        .drop(m)
    )
    return features.join(F.broadcast(best), [*on, feature_ts], "leftsemi")


def _asof_union(
    spine: DataFrame,
    features: DataFrame,
    on: list[str],
    spine_ts: str,
    feature_ts: str,
    feature_cols: list[str],
    tolerance: str | None,
    salt: int | None = None,
    direction: str = "backward",
) -> DataFrame:
    spine_cols = spine.columns

    # A feature row with NULL feature_ts can never satisfy "at-or-before"
    # or "at-or-after" (the broadcast strategy's range predicate is NULL →
    # no match), so drop it up front — otherwise it would sort at a frame
    # edge and the carry-forward could attach a timestampless row the
    # broadcast path never produces (the r5 ADVICE strategy-divergence).
    # A NULL key matches nothing either (equi-join semantics): NULL-key
    # feature rows would otherwise share a window with NULL-key spine rows.
    features = features.dropna(subset=[feature_ts, *on])

    # Deterministic spine identity is NOT required here: each spine row
    # passes through the union exactly once, so row multiplicity is
    # preserved structurally (the spine-row-count invariant the reference
    # asserts, test_feature_store_workflows.py:143, :178-183).
    tagged_spine = (
        spine.withColumn(_IS_SPINE, F.lit(1))
        .withColumn(_TS, F.col(spine_ts))
        .withColumn("__fs_row", F.lit(None))
    )

    # The feature payload travels as ONE struct so the carry-forward is
    # atomic: the join attaches a feature ROW, never a per-column mix.
    # Filling each column independently with last(ignorenulls) would
    # backfill NULL fields of the latest row from older rows —
    # synthesizing a feature row that never existed.
    tagged_feat = features.select(
        *on,
        F.col(feature_ts).alias(_TS),
        _feature_row(feature_ts, feature_cols).alias("__fs_row"),
    ).withColumn(_IS_SPINE, F.lit(0))
    tie = _tie_hash(F.col("__fs_row"), features, [feature_ts, *feature_cols])
    for c in spine_cols:
        if c not in on:
            tagged_feat = tagged_feat.withColumn(c, F.lit(None))

    part_keys: list[Column | str] = list(on)
    if salt is not None and salt > 1:
        # Hot-key split: each spine row hashes to one of `salt` sub-
        # partitions (deterministic — xxhash64 of the full row, no rand(),
        # safe under stage retry); every feature row is replicated to all
        # of them, so carry-forward within (key, salt) sees the complete
        # feature timeline. Output rows are independent of the salt value.
        _SALT = "__fs_salt"
        tagged_spine = tagged_spine.withColumn(
            _SALT,
            F.pmod(F.xxhash64(*[F.col(c) for c in spine_cols]), F.lit(salt)),
        )
        tagged_feat = tagged_feat.withColumn(
            _SALT, F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<long>"))
        )
        part_keys.append(_SALT)
        unioned = tagged_spine.unionByName(tagged_feat.select(tagged_spine.columns))
    else:
        unioned = tagged_spine.unionByName(tagged_feat.select(tagged_spine.columns))

    # Feature rows (_IS_SPINE=0) sort BEFORE spine rows at equal ts →
    # fv.ts <= spine.ts inclusive semantics (backward; the forward
    # direction reverses the ts sort so the carry picks the EARLIEST
    # at-or-after row instead). Among duplicate feature timestamps per
    # key, the tie hash (``_tie_hash``, the hash ``latest_order`` ranks
    # by) is the final tiebreak so the chosen row is
    # stable across runs/AQE reordering (which row of an exact (key, ts)
    # tie wins is engine-defined, but deterministic). The hash direction
    # flips with ts so both strategies pick the identical tied row
    # (backward: max ts, max hash ↔ max_by; forward: min ts, min hash ↔
    # min_by).
    # NULL-ts SPINE rows must see no features in either direction (the
    # broadcast range predicate is NULL → no match): asc() is nulls-first
    # already, and forward needs desc_nulls_first explicitly (plain desc()
    # is nulls-LAST — a NULL-ts spine row would sort after every feature
    # row and the carry would attach the earliest one).
    if direction == "nearest":
        # BOTH direction candidates out of the SAME sorted partition pass
        # (still one shuffle): the backward frame carries the latest
        # at-or-before row forward; the forward frame looks ahead to the
        # earliest strictly-after row (equal-ts features sort before the
        # spine row, so they are backward candidates at distance zero —
        # which nearest prefers anyway). Ties at equal nonzero distance
        # prefer backward (pandas merge_asof convention); distances are
        # compared as day-time INTERVALS — no epoch casts, no sub-second
        # precision loss.
        order = [
            F.col(_TS).asc(), F.col(_IS_SPINE).asc(), tie.asc()
        ]
        w_b = (
            Window.partitionBy(*part_keys)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_f = (
            Window.partitionBy(*part_keys)
            .orderBy(*order)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        filled = unioned.withColumn(
            "__fs_back", F.last("__fs_row", ignorenulls=True).over(w_b)
        ).withColumn(
            "__fs_fwd", F.first("__fs_row", ignorenulls=True).over(w_f)
        )
        out = filled.filter(F.col(_IS_SPINE) == 1)
        st = F.col(spine_ts)
        b_ts = F.col("__fs_back.__fs_row_ts")
        f_ts = F.col("__fs_fwd.__fs_row_ts")
        b_d = st - b_ts
        f_d = f_ts - st
        valid_b = st.isNotNull() & b_ts.isNotNull()
        valid_f = st.isNotNull() & f_ts.isNotNull()
        if tolerance is not None:
            tol = F.expr(f"INTERVAL {tolerance}")
            valid_b = valid_b & (b_d <= tol)
            valid_f = valid_f & (f_d <= tol)
        use_b = valid_b & (~valid_f | (b_d <= f_d))
        chosen = F.when(use_b, F.col("__fs_back")).when(
            valid_f, F.col("__fs_fwd")
        )
        return out.select(
            *[F.col(c) for c in spine_cols],
            *[chosen.getField(c).alias(c) for c in feature_cols],
        )

    if direction == "backward":
        order = [
            F.col(_TS).asc(), F.col(_IS_SPINE).asc(), tie.asc()
        ]
    else:
        order = [
            F.col(_TS).desc_nulls_first(),
            F.col(_IS_SPINE).asc(),
            tie.desc(),
        ]
    w = (
        Window.partitionBy(*part_keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    filled = unioned.withColumn(
        "__fs_filled", F.last("__fs_row", ignorenulls=True).over(w)
    )

    out = filled.filter(F.col(_IS_SPINE) == 1)
    if tolerance is not None:
        if direction == "backward":
            within = F.col("__fs_filled.__fs_row_ts") >= F.col(spine_ts) - F.expr(
                f"INTERVAL {tolerance}"
            )
        else:
            within = F.col("__fs_filled.__fs_row_ts") <= F.col(spine_ts) + F.expr(
                f"INTERVAL {tolerance}"
            )
        sel: list[Column] = [
            F.when(within, F.col(f"__fs_filled.{c}")).alias(c)
            for c in feature_cols
        ]
    else:
        sel = [F.col(f"__fs_filled.{c}").alias(c) for c in feature_cols]
    return out.select(*[F.col(c) for c in spine_cols], *sel)


def asof_join_bracket(
    spine: DataFrame,
    features: DataFrame,
    on: Sequence[str],
    spine_ts: str,
    feature_ts: str,
    feature_cols: Sequence[str],
    back_suffix: str = "_prev",
    fwd_suffix: str = "_next",
    assert_unique: bool = False,
) -> DataFrame:
    """FUSED backward+forward as-of join (r17): for each spine row,
    attach BOTH the latest feature row at-or-before ``spine_ts`` and
    the earliest at-or-after it, per entity key, in ONE union shuffle —
    the interpolating as-of join's bracket, which two sequential
    ``asof_join`` passes would pay two entity-key shuffles for. Both
    direction candidates come out of one sorted window pass (the
    'nearest' machinery): the backward frame carries the latest
    at-or-before row forward; the forward frame looks ahead to the
    earliest strictly-after row; an exact-timestamp match is served by
    the backward frame (it IS the at-or-after row too).

    PRECONDITION: the feature side is UNIQUE per (key, feature_ts).
    With duplicates, the inclusive-forward row at an exact-timestamp tie
    would be the backward pass's hash-tiebreak pick rather than the
    forward pass's — the two sequential-pass spelling and this fused one
    agree only when (key, ts) has a single row, which every caller
    guarantees with a pre-aggregation (q_join_asof_interp collapses to
    max(value) per (user, ts)). Pass ``assert_unique=True`` to ENFORCE
    it at run time (ADVICE r17): a count window over (key, feature_ts)
    feeds ``assert_true``, so any duplicate fails the job loudly
    instead of silently diverging. Off by default — the check costs one
    extra exchange of the feature side, and the in-repo callers prove
    uniqueness by construction.

    Output: every spine column, then ``{c}{back_suffix}`` and
    ``{c}{fwd_suffix}`` for each feature column (NULL where that side
    has no row; a NULL spine_ts matches neither side, exactly as the
    sequential passes)."""
    on = list(on)
    feature_cols = list(feature_cols)
    for k in on:
        if k not in spine.columns:
            raise ValidationError(f"as-of join key '{k}' missing from spine")
        if k not in features.columns:
            raise ValidationError(f"as-of join key '{k}' missing from features")
    if spine_ts not in spine.columns:
        raise ValidationError(f"spine timestamp '{spine_ts}' missing from spine")
    if feature_ts not in features.columns:
        raise ValidationError(
            f"feature timestamp '{feature_ts}' missing from features"
        )
    spine_cols = spine.columns
    features = features.dropna(subset=[feature_ts, *on])
    if assert_unique:
        w_u = Window.partitionBy(*on, feature_ts)
        # spelled as a FILTER (assert_true returns NULL on success, so
        # isNull() keeps every valid row) — a dropped check column would
        # be pruned by the optimizer and never evaluated
        features = (
            features.withColumn(
                "__fs_dupcnt", F.count(F.lit(1)).over(w_u)
            )
            .where(
                F.assert_true(
                    F.col("__fs_dupcnt") == 1,
                    F.lit(
                        "asof_join_bracket: feature side must be unique "
                        f"per (key, {feature_ts}) — pre-aggregate "
                        "duplicates first"
                    ),
                ).isNull()
            )
            .drop("__fs_dupcnt")
        )
    tagged_spine = (
        spine.withColumn(_IS_SPINE, F.lit(1))
        .withColumn(_TS, F.col(spine_ts))
        .withColumn("__fs_row", F.lit(None))
    )
    tagged_feat = features.select(
        *on,
        F.col(feature_ts).alias(_TS),
        _feature_row(feature_ts, feature_cols).alias("__fs_row"),
    ).withColumn(_IS_SPINE, F.lit(0))
    tie = _tie_hash(F.col("__fs_row"), features, [feature_ts, *feature_cols])
    for c in spine_cols:
        if c not in on:
            tagged_feat = tagged_feat.withColumn(c, F.lit(None))
    unioned = tagged_spine.unionByName(tagged_feat.select(tagged_spine.columns))

    # ONE sort order serves both frames (the 'nearest' trick): feature
    # rows sort before spine rows at equal ts, so the backward frame is
    # inclusive and the forward frame strictly-after; NULL-ts spine rows
    # sort first (asc nulls-first) so their backward side is naturally
    # NULL and the forward side is masked below.
    order = [
        F.col(_TS).asc(), F.col(_IS_SPINE).asc(), tie.asc()
    ]
    w_b = (
        Window.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_f = (
        Window.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    filled = unioned.withColumn(
        "__fs_back", F.last("__fs_row", ignorenulls=True).over(w_b)
    ).withColumn(
        "__fs_fwd_strict", F.first("__fs_row", ignorenulls=True).over(w_f)
    )
    out = filled.filter(F.col(_IS_SPINE) == 1)
    st = F.col(spine_ts)
    back = F.col("__fs_back")
    # inclusive forward: an exact-ts feature row is the backward pick
    # (unique per (key, ts) by precondition); NULL spine_ts → no match
    fwd = (
        F.when(st.isNull(), F.lit(None))
        .when(back.getField("__fs_row_ts") == st, back)
        .otherwise(F.col("__fs_fwd_strict"))
    )
    return out.select(
        *[F.col(c) for c in spine_cols],
        *[back.getField(c).alias(f"{c}{back_suffix}") for c in feature_cols],
        *[fwd.getField(c).alias(f"{c}{fwd_suffix}") for c in feature_cols],
    )


def _asof_broadcast(
    spine: DataFrame,
    features: DataFrame,
    on: list[str],
    spine_ts: str,
    feature_ts: str,
    feature_cols: list[str],
    tolerance: str | None,
    direction: str = "backward",
) -> DataFrame:
    """Map-side as-of for small (or spine-bounded) feature sides. The
    feature side is reduced to ONE row per key holding every candidate
    as ``(k=(t, h), r)`` — ``latest_order``, the row — so
    the spine probes it with a broadcast EQUI-join and folds its key's
    array to the winner: the in-range candidate with the greatest (least,
    forward) ``(t, h)``, the row the union strategy picks. Spine rows pass
    through untouched (no join explosion, no row id, no regroup over spine
    columns, which would normalise -0.0/NaN); a NULL key or spine ts
    matches nothing. Per spine row the fold costs O(feature rows of its
    key), never more than the rows a range join would materialise; after
    ``_spine_bounded``, O(spine rows of its key plus exact ties)."""
    spine_cols = spine.columns
    cand = F.struct(
        latest_order(features, feature_ts, feature_cols).alias("k"),
        F.struct(*[F.col(c).alias(c) for c in feature_cols]).alias("r"),
    )
    cands = (
        features.filter(F.col(feature_ts).isNotNull())
        .groupBy(*on)
        .agg(F.collect_list(cand).alias("__fs_cands"))
    )
    probed = spine.join(F.broadcast(cands), on=on, how="left")

    st = F.col(spine_ts)
    back = direction == "backward"
    if tolerance is not None:  # materialised: lambdas re-evaluate expressions
        edge = F.expr(f"INTERVAL {tolerance}")
        probed = probed.withColumn("__fs_edge", st - edge if back else st + edge)

    def fold(acc: Column, c: Column) -> Column:
        t = c["k"]["t"]
        ok = (t <= st) if back else (t >= st)
        if tolerance is not None:
            edge = F.col("__fs_edge")
            ok = ok & ((t >= edge) if back else (t <= edge))
        wins = (c["k"] > acc["k"]) if back else (c["k"] < acc["k"])
        return F.when(ok & (acc.isNull() | wins), c).otherwise(acc)

    zero = F.lit(None).cast(cands.schema["__fs_cands"].dataType.elementType)
    best = F.aggregate("__fs_cands", zero, fold, lambda acc: acc["r"])
    return probed.select(*spine_cols, best.alias("__fs_best")).select(
        *spine_cols, *[F.col("__fs_best")[c].alias(c) for c in feature_cols]
    )
