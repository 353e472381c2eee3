"""Scale-safe GLOBAL ordering primitives.

``Window.orderBy(...)`` with no partition key puts the entire table in
ONE task (`WindowExec: No Partition Defined`) — the classic Spark scale
killer. The distributed spelling is two-phase:

1. ``repartitionByRange`` on the order key (sampled range exchange —
   every partition holds a contiguous key range, partitions sort in
   parallel),
2. local ``row_number`` per range partition, shifted by the exclusive
   prefix-sum of partition sizes (one bounded P-row collect — P =
   shuffle partitions, never data rows).

With a TOTAL order (unique tiebreak) the result is the exact global
``ROW_NUMBER() OVER (ORDER BY …)``, independent of partition boundaries
— which is what makes it oracle-checkable (q_global_rank).

Reference frame: Snowflake parallelizes global ORDER BY internally; on
Spark the engine must spell it, so the feature store ships it as a
primitive (used for corpus-wide priority ranks, global quantile cuts,
deterministic dataset sharding).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans import inspect as plan_inspect

# applicationId → resolved fallback partition count, so a non-integer
# spark.sql.shuffle.partitions (e.g. 'auto') pays the plan-to-RDD
# conversion probe at most once per session, not once per rank pass.
# Keyed by applicationId (unique per SparkContext), NOT id(spark):
# CPython reuses object ids after GC, so an id-keyed cache could hand a
# new session a stopped session's stale count.
_FALLBACK_PARTS: dict[str, int] = {}


def _resolve_shuffle_partitions(spark) -> int:
    conf = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        return int(conf)
    except (TypeError, ValueError):  # e.g. 'auto' on some platforms
        key = spark.sparkContext.applicationId
        if key not in _FALLBACK_PARTS:
            _FALLBACK_PARTS[key] = max(
                1, spark.sparkContext.defaultParallelism
            )
        return _FALLBACK_PARTS[key]


def _ranked(
    df: DataFrame,
    order: Sequence[str | Column],
    out_col: str,
    num_partitions: int | None,
    sum_value: "str | Sequence[str] | None" = None,
    sum_out: "str | Sequence[str] | None" = None,
    min_value: "str | Sequence[str] | None" = None,
    min_out: "str | Sequence[str] | None" = None,
) -> tuple[DataFrame, int]:
    """(globally ranked frame, total rows). ONE range exchange total:
    after ``repartitionByRange`` + ``sortWithinPartitions``, the local
    sequence number comes from ``monotonically_increasing_id`` — whose
    documented layout is ``partitionId·2³³ + record number``, assigned
    in stream order over the sorted partition (the nondeterministic
    expression is never reordered below the sort) — so no Window node,
    no second exchange on the partition id. ``localCheckpoint`` pins
    the sampled range boundaries so the size collect and the ranked
    output see the SAME partitioning (repartitionByRange re-samples per
    action otherwise); AQE may coalesce ADJACENT ranges — harmless,
    both passes see the coalesced layout."""
    sum_values = (
        [sum_value] if isinstance(sum_value, str) else list(sum_value or [])
    )
    sum_outs = (
        [sum_out] if isinstance(sum_out, str) else list(sum_out or [])
    )
    if len(sum_values) != len(sum_outs):
        raise ValueError(
            f"sum_value/sum_out arity mismatch: {len(sum_values)} value "
            f"column(s) vs {len(sum_outs)} output name(s)"
        )
    min_values = (
        [min_value] if isinstance(min_value, str) else list(min_value or [])
    )
    min_outs = (
        [min_out] if isinstance(min_out, str) else list(min_out or [])
    )
    if len(min_values) != len(min_outs):
        raise ValueError(
            f"min_value/min_out arity mismatch: {len(min_values)} value "
            f"column(s) vs {len(min_outs)} output name(s)"
        )
    cols = [F.col(c) if isinstance(c, str) else c for c in order]
    if num_partitions:
        parts = int(num_partitions)
    else:
        parts = _resolve_shuffle_partitions(df.sparkSession)
    pre = (
        df.repartitionByRange(parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_fs_pid", F.spark_partition_id())
        .withColumn("_fs_mid", F.monotonically_increasing_id())
    )
    # Checkpointing severs lineage, which blinds plan audits to the
    # range exchange this primitive exists to introduce — register the
    # pre-checkpoint frame so inspect.capture_subplans sees it (no-op
    # outside an audit).
    ranged = plan_inspect.checkpoint(pre)
    # bounded: P rows, not data rows. The same collect PROVES the
    # monotonically_increasing_id layout assumption (pid·2³³ + local
    # record number): for every partition the min/max mid must span
    # exactly [pid·2³³, pid·2³³ + n - 1]. A Spark version changing the
    # layout fails loudly here instead of silently corrupting ranks.
    sizes, part_sums = {}, {}
    aggs = [
        F.count("*").alias("n"),
        F.min("_fs_mid").alias("lo"),
        F.max("_fs_mid").alias("hi"),
    ]
    # exact only for integral value columns — the driver-side prefix
    # below adds Python ints, so callers pass BIGINT counts/masses
    for i, sv in enumerate(sum_values):
        aggs.append(F.sum(F.col(sv).cast("long")).alias(f"s{i}"))
    for i, mv in enumerate(min_values):
        aggs.append(F.min(F.col(mv).cast("long")).alias(f"m{i}"))
    part_mins: dict = {}
    for r in ranged.groupBy("_fs_pid").agg(*aggs).collect():
        pid, n = r["_fs_pid"], r["n"]
        if sum_values:
            part_sums[pid] = [r[f"s{i}"] or 0 for i in range(len(sum_values))]
        if min_values:
            part_mins[pid] = [r[f"m{i}"] for i in range(len(min_values))]
        base = pid * (1 << 33)
        if r["lo"] != base or r["hi"] != base + n - 1 or n > (1 << 33):
            raise RuntimeError(
                "monotonically_increasing_id layout assumption broken "
                f"(pid={pid}, n={n}, mid range=[{r['lo']}, {r['hi']}], "
                f"expected [{base}, {base + n - 1}]) — global ranks "
                "would be corrupt; check the Spark version's mid layout"
            )
        sizes[pid] = n
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    local = F.col("_fs_mid") - F.col("_fs_pid").cast("long") * F.lit(1 << 33)
    out = ranged.withColumn(
        out_col, (local + off[F.col("_fs_pid")] + 1).cast("long")
    )
    if sum_values:
        # exclusive prefix of per-range-partition sums (P driver ints,
        # same bounded collect as the sizes) + a PARTITIONED local
        # running sum per value column — SEVERAL running sums ride ONE
        # range exchange / one collect (the r11 KS / split-gain keys
        # need two cumulative masses over the same total order). The
        # window is keyed by the range-partition id — P parallel tasks,
        # never the unpartitioned single-task global window this module
        # exists to avoid.
        wloc = (
            Window.partitionBy("_fs_pid")
            .orderBy("_fs_mid")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        for i, (sv, so) in enumerate(zip(sum_values, sum_outs)):
            sum_offsets, s_acc = {}, 0
            for pid in sorted(sizes):
                sum_offsets[pid] = s_acc
                s_acc += part_sums[pid][i]
            soff = F.create_map(
                *[F.lit(x) for kv in sum_offsets.items() for x in kv]
            )
            out = out.withColumn(
                so,
                (
                    F.sum(F.col(sv).cast("long")).over(wloc)
                    + soff[F.col("_fs_pid")]
                ).cast("long"),
            )
    if min_values:
        # running MIN rides the SAME machinery: exclusive prefix-min of
        # per-range-partition mins (driver-side over the SAME bounded
        # collect) LEAST-combined with a range-partition-keyed local
        # running min — still P parallel tasks, no global window. The
        # first partition's exclusive prefix is the +inf sentinel
        # (Long.MaxValue = 2^63−1, the BIGINT domain maximum: any real
        # value wins the LEAST, or ties it harmlessly at the maximum —
        # ADVICE r12 #1 closed; 2^62 would have lost to legal values in
        # (2^62, 2^63)).
        _INF = (1 << 63) - 1
        wloc_m = (
            Window.partitionBy("_fs_pid")
            .orderBy("_fs_mid")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        for i, (mv, mo) in enumerate(zip(min_values, min_outs)):
            min_offsets: dict = {}
            m_acc = _INF
            for pid in sorted(sizes):
                min_offsets[pid] = m_acc
                pm = part_mins[pid][i]
                if pm is not None and pm < m_acc:
                    m_acc = pm
            moff = F.create_map(
                *[F.lit(x) for kv in min_offsets.items() for x in kv]
            )
            out = out.withColumn(
                mo,
                F.least(
                    F.min(F.col(mv).cast("long")).over(wloc_m),
                    moff[F.col("_fs_pid")],
                ).cast("long"),
            )
    return out.drop("_fs_pid", "_fs_mid"), acc


def global_row_number(
    df: DataFrame,
    order: Sequence[str | Column],
    out_col: str = "global_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based global row number by ``order`` (must be a TOTAL
    order — include a unique tiebreak — or ranks within ties follow the
    range-partition layout). No single-task sort anywhere: the widest
    stage is a per-range-partition local sort; driver traffic is one
    P-row size collect."""
    out, _ = _ranked(df, order, out_col, num_partitions)
    return out


def global_running_sum(
    df: DataFrame,
    order: Sequence[str | Column],
    value_col: "str | Sequence[str]",
    rank_col: str = "global_rank",
    sum_col: "str | Sequence[str]" = "global_running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global ``ROW_NUMBER()`` + ``SUM(value) OVER (ORDER BY …
    ROWS UNBOUNDED PRECEDING)`` without an unpartitioned window — the
    distributed spelling of a frequency-ranked cumulative distribution
    (vocabulary coverage cuts, Lorenz/head-mass curves).

    Same range-exchange machinery as ``global_row_number``; the running
    sum adds (a) per-range-partition sums to the SAME bounded P-row
    collect, prefix-summed driver-side, and (b) a window PARTITIONED by
    the range-partition id for the local running component — P parallel
    tasks, each over one contiguous key range. ``value_col`` must be an
    integral column (cast to BIGINT internally; the driver-side prefix
    adds exact Python ints). ``order`` must be a TOTAL order."""
    out, _ = _ranked(
        df, order, rank_col, num_partitions,
        sum_value=value_col, sum_out=sum_col,
    )
    return out


def bucketed_running_sum(
    df: DataFrame,
    order: Sequence[str | Column],
    value_col: str,
    bucket_col: str,
    sum_col: str = "global_running_sum",
    hist_df: DataFrame | None = None,
    max_buckets: int = 65536,
) -> DataFrame:
    """Exact global ``SUM(value) OVER (ORDER BY … ROWS UNBOUNDED
    PRECEDING)`` for an order key whose DOMAIN admits a BOUNDED integer
    bucketing (r18) — the two-level alternative to
    :func:`global_running_sum` when the caller can name a monotone
    bucket key:

    1. per-bucket totals (map-side-combinable agg) → ONE bounded
       driver collect (≤ ``max_buckets`` rows — domain-sized, never
       data-sized) → exclusive prefix offsets as exact Python ints;
    2. a window PARTITIONED by the bucket for the local running sum —
       parallel tasks, never an unpartitioned window.

    vs the range-exchange machinery this removes the sampling job
    (``repartitionByRange`` re-executes the input subtree to sample
    boundaries), the pinned ``localCheckpoint`` materialization, and
    the monotonically_increasing_id bookkeeping — at the price of
    needing a caller-supplied domain bound.

    Preconditions (caller-proved, same discipline as the bounded
    collects in bpe/pagerank): ``bucket_col`` is a materialized
    NON-NULL integer column, NON-DECREASING in the total order
    ``order`` (e.g. ``key DIV 2^k`` for a non-negative key); ``order``
    is a TOTAL order within each bucket; ``value_col`` is integral.
    ``hist_df``, if given, must be a 2-column (bucket, weight) frame
    whose per-bucket SUM(weight) EQUALS this frame's per-bucket
    SUM(value) — it lets the caller histogram from a cheaper upstream
    (e.g. the raw fact below an aggregate) instead of re-executing
    ``df``'s subtree. It may hold several rows per bucket: they are
    summed here. If the bucket count exceeds ``max_buckets`` the
    function falls back to :func:`global_running_sum` (correct at any
    domain, just pays the range machinery)."""
    if hist_df is None:
        hist_df = df.select(bucket_col, value_col)
    hist = (
        hist_df.toDF("_fs_bk", "_fs_w")
        .groupBy("_fs_bk")
        .agg(F.sum(F.col("_fs_w").cast("long")).alias("_fs_w"))
    )
    rows = hist.limit(max_buckets + 1).collect()
    if len(rows) > max_buckets:
        out = global_running_sum(
            df, order, value_col,
            rank_col="_fs_brs_rank", sum_col=sum_col,
        )
        return out.drop("_fs_brs_rank")
    if any(r["_fs_bk"] is None for r in rows):
        raise ValueError(
            "bucketed_running_sum: NULL bucket — the bucket column "
            "must be non-null (derive it from a non-null order key)"
        )
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(rows, key=lambda r: r["_fs_bk"]):
        offsets[int(r["_fs_bk"])] = acc
        acc += int(r["_fs_w"] or 0)
    # offsets attach via a BROADCAST JOIN on the bucket key, not a
    # literal create_map lookup: a literal map/array is rebuilt and
    # linearly scanned PER ROW (the NOTES r16 640-literal-array
    # lesson — measured 2.9 s vs 1.4 s on q_spearman_corr's ~650
    # buckets), while the hash join probes O(1). Inner join: the
    # histogram covers every bucket of df by the hist_df contract (or
    # trivially when self-derived).
    from .literal import literal_df

    # literal_df, not bare createDataFrame: the _lit_bound audit marker
    # lets the forced-broadcast plan sweep prove this side is a bounded
    # driver-side frame (≤ max_buckets rows), not an SF-scaling table
    off_df = literal_df(
        df.sparkSession,
        [(int(bk), int(off)) for bk, off in offsets.items()],
        f"{bucket_col} BIGINT, _fs_boff BIGINT",
    )
    cols = [F.col(c) if isinstance(c, str) else c for c in order]
    wloc = (
        Window.partitionBy(bucket_col)
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = df.join(F.broadcast(off_df), bucket_col)
    return joined.withColumn(
        sum_col,
        (
            F.sum(F.col(value_col).cast("long")).over(wloc)
            + F.col("_fs_boff")
        ).cast("long"),
    ).drop("_fs_boff")


def bounded_kth_smallest(
    df: DataFrame,
    value_col: str,
    k: int | None = None,
    bucket_width: int = 1 << 16,
    max_buckets: int = 65536,
) -> int | None:
    """Exact k-th smallest (1-based) of a BOUNDED-DOMAIN integer column
    as a driver-side Python int (r18) — the selection counterpart of
    :func:`bucketed_running_sum`: two bounded map-combinable histogram
    collects instead of a full global-rank pass (range exchange +
    checkpoint + id bookkeeping) just to read ONE order statistic.

    1. histogram over ``value DIV bucket_width`` (trunc division keeps
       buckets contiguous, disjoint and ordered for ANY integers) →
       bounded collect → the bucket holding rank k and the residual
       rank within it, plus n itself;
    2. per-VALUE histogram restricted to that one bucket (≤
       2·bucket_width−1 distinct values by construction) → bounded
       collect → walk to the residual rank.

    ``k=None`` selects the LOWER MEDIAN ``(n+1) DIV 2`` (computed from
    the same first collect). Equal to the rank-machinery spelling
    ``global_row_number(...)[rank == k]`` for any tiebreak, since the
    k-th smallest VALUE of a multiset ignores tie order. Returns None
    when the bucket count exceeds ``max_buckets`` (caller falls back to
    the rank machinery — the bpe/pagerank gate discipline) or when the
    frame is empty. NULL values refuse loudly: Spark ranks NULL first
    while DuckDB ranks it last, so a NULL-bearing selection column is
    already an engine-divergence bug at the caller."""
    hist = (
        df.groupBy(
            F.expr(f"CAST({value_col} DIV {int(bucket_width)} AS BIGINT)")
            .alias("_fs_bk")
        )
        .agg(F.count("*").cast("long").alias("_fs_n"))
        .orderBy(F.col("_fs_bk").asc_nulls_first())
        .limit(max_buckets + 1)
        .collect()
    )
    # the NULL refusal runs before the over-gate return: a caller that
    # falls back to the rank machinery would otherwise rank NULL
    # silently. NULLs-first ordering keeps the NULL bucket inside the
    # limit on both sides of the gate.
    if any(r["_fs_bk"] is None for r in hist):
        raise ValueError(
            "bounded_kth_smallest: NULL value — the selection "
            "column must be non-null (NULL already orders "
            "differently across engines)"
        )
    if len(hist) > max_buckets or not hist:
        return None
    counts = {int(r["_fs_bk"]): int(r["_fs_n"]) for r in hist}
    n = sum(counts.values())
    kk = (n + 1) // 2 if k is None else int(k)
    if not 1 <= kk <= n:
        raise ValueError(f"bounded_kth_smallest: rank {kk} outside 1..{n}")
    acc = 0
    target = None
    for bk in sorted(counts):
        if acc + counts[bk] >= kk:
            target = bk
            break
        acc += counts[bk]
    resid = kk - acc
    inbucket = (
        df.filter(
            F.expr(
                f"CAST({value_col} DIV {int(bucket_width)} AS BIGINT)"
                f" = {target}"
            )
        )
        .groupBy(F.col(value_col).alias("_fs_v"))
        .agg(F.count("*").cast("long").alias("_fs_n"))
        .limit(2 * int(bucket_width) + 1)
        .collect()
    )
    vals = sorted((int(r["_fs_v"]), int(r["_fs_n"])) for r in inbucket)
    run = 0
    for v, c in vals:
        run += c
        if run >= resid:
            return v
    raise AssertionError(
        "bounded_kth_smallest: histogram walk exhausted — inconsistent "
        "counts between the two passes (concurrent input mutation?)"
    )


def global_running_min(
    df: DataFrame,
    order: Sequence[str | Column],
    value_col: "str | Sequence[str]",
    rank_col: str = "global_rank",
    min_col: "str | Sequence[str]" = "global_running_min",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global ``MIN(value) OVER (ORDER BY … ROWS UNBOUNDED
    PRECEDING)`` without an unpartitioned window — the prefix-min scan
    CUSUM-style changepoint statistics need (CUSUM_t = P_t − min_{i≤t}
    P_i, so the max drawup never touches a single-task window). Same
    range-exchange machinery as :func:`global_running_sum` (one
    exchange, one bounded P-row collect); ``value_col`` must be
    integral (cast to BIGINT). ``order`` must be a TOTAL order."""
    out, _ = _ranked(
        df, order, rank_col, num_partitions,
        min_value=value_col, min_out=min_col,
    )
    return out


def global_ntile(
    df: DataFrame,
    order: Sequence[str | Column],
    n: int,
    out_col: str = "global_bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global n-quantile bucket (1..n) by ``order`` — ntile over
    the whole table without a global window. Matches SQL ``NTILE(n)
    OVER (ORDER BY …)``: the first ``total % n`` buckets get one extra
    row. The total comes from the rank pass's P-row size collect — a
    driver-side int, NOT an unpartitioned max() window (which would
    re-introduce the single-task stage this module exists to avoid)."""
    if n < 1:
        raise ValueError(f"global_ntile: n must be >= 1, got {n}")
    ranked, total = _ranked(df, order, "_fs_grank", num_partitions)
    q, r = divmod(total, n)
    cut = r * (q + 1)  # rows in the first r (larger) buckets
    rank0 = F.col("_fs_grank") - 1
    if q == 0:
        bucket = rank0 + 1  # fewer rows than buckets: one row per bucket
    else:
        bucket = F.when(
            rank0 < cut, F.floor(rank0 / F.lit(q + 1)) + 1
        ).otherwise(F.floor((rank0 - cut) / F.lit(q)) + r + 1)
    return ranked.withColumn(out_col, bucket.cast("long")).drop("_fs_grank")


def global_drawup_scan(
    df: DataFrame,
    order: Sequence[str | Column],
    value_col: str,
    sum_col: str = "global_running_sum",
    min_col: str = "global_prefix_min",
    num_partitions: int | None = None,
) -> DataFrame:
    """Running sum of ``value_col`` AND the running MIN of THAT running
    sum, in ONE range exchange — the fused max-drawup scan CUSUM-style
    changepoint statistics need (S_t = P_t − min_{i≤t} P_i with P the
    prefix sum). ``global_running_sum`` followed by
    ``global_running_min`` spells the same thing with TWO exchanges,
    two lineage cuts and two P-row collects; this fuses them because
    the prefix min decomposes over the same range partitioning:
    min_{i≤t} P_i = LEAST( min_{j<part(t)} (off_j + localmin_j),
    off_{part(t)} + localmin_{≤t} ), with off the exclusive prefix of
    per-partition sums and localmin_j the partition's min local prefix
    sum — both read off the SAME bounded P-row collect once the local
    prefix sum is materialized before the collect. ``order`` must be a
    TOTAL order; ``value_col`` must be integral (cast to BIGINT; the
    driver-side prefix adds exact Python ints)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order]
    if num_partitions:
        parts = int(num_partitions)
    else:
        parts = _resolve_shuffle_partitions(df.sparkSession)
    wloc = (
        Window.partitionBy("_fs_pid")
        .orderBy("_fs_mid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = (
        df.repartitionByRange(parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_fs_pid", F.spark_partition_id())
        .withColumn("_fs_mid", F.monotonically_increasing_id())
        .withColumn(
            "_fs_lp", F.sum(F.col(value_col).cast("long")).over(wloc)
        )
    )
    ranged = plan_inspect.checkpoint(pre)
    # ONE bounded P-row collect: sizes (mid-layout proof, same contract
    # as _ranked), per-partition value sums, per-partition min local
    # prefix sums.
    sizes: dict[int, int] = {}
    part_sums: dict[int, int] = {}
    part_mins: dict[int, int] = {}
    for r in (
        ranged.groupBy("_fs_pid")
        .agg(
            F.count("*").alias("n"),
            F.min("_fs_mid").alias("lo"),
            F.max("_fs_mid").alias("hi"),
            F.sum(F.col(value_col).cast("long")).alias("s"),
            F.min("_fs_lp").alias("m"),
        )
        .collect()
    ):
        pid, n = r["_fs_pid"], r["n"]
        base = pid * (1 << 33)
        if r["lo"] != base or r["hi"] != base + n - 1 or n > (1 << 33):
            raise RuntimeError(
                "monotonically_increasing_id layout assumption broken "
                f"(pid={pid}, n={n}, mid range=[{r['lo']}, {r['hi']}], "
                f"expected [{base}, {base + n - 1}]) — running sums "
                "would be corrupt; check the Spark version's mid layout"
            )
        sizes[pid] = n
        part_sums[pid] = r["s"] or 0
        part_mins[pid] = r["m"]
    _INF = (1 << 63) - 1  # +inf sentinel, the BIGINT domain maximum
    sum_offsets: dict[int, int] = {}
    min_offsets: dict[int, int] = {}
    s_acc, m_acc = 0, _INF
    for pid in sorted(sizes):
        sum_offsets[pid] = s_acc
        min_offsets[pid] = m_acc
        # partition's min GLOBAL prefix sum; an all-NULL value_col
        # partition has a NULL local prefix everywhere (SUM skips
        # NULLs) and contributes no min — mirror _ranked's None guard
        # (ADVICE r15: `s_acc + None` crashed here)
        if part_mins[pid] is not None:
            gm = s_acc + part_mins[pid]
            if gm < m_acc:
                m_acc = gm
        s_acc += part_sums[pid]
    soff = F.create_map(
        *[F.lit(x) for kv in sum_offsets.items() for x in kv]
    )
    moff = F.create_map(
        *[F.lit(x) for kv in min_offsets.items() for x in kv]
    )
    gsum = (F.col("_fs_lp") + soff[F.col("_fs_pid")]).cast("long")
    out = ranged.withColumn(sum_col, gsum).withColumn(
        min_col,
        F.least(
            F.min(gsum).over(wloc),
            moff[F.col("_fs_pid")],
        ).cast("long"),
    )
    return out.drop("_fs_pid", "_fs_mid", "_fs_lp")
