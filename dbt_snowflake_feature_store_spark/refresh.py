"""Managed feature-view refresh — the Dynamic Table replacement.

Semantics from the reference (SURVEY.md §2.D; /root/reference/macros/
materializations/feature_view.sql:101-129, /root/reference/README.md:
224-237): ``refresh_freq`` is a freshness target ("at most N behind
sources"), ``refresh_mode`` picks FULL recompute vs INCREMENTAL
maintenance, AUTO downgrades to FULL when the query isn't
incrementalizable. In the driver harness there is no daemon — ``refresh()``
is an explicit call (the scheduler that honors refresh_freq lives outside
the engine, exactly as Snowflake's refresh service lives outside the dbt
package).

Spark-first physical design:
- FULL → batch recompute, atomic overwrite of the FV's Parquet directory.
  Output is partitioned by the date of ``timestamp_col`` when present, so
  downstream PIT reads prune partitions by time range. The write is the
  only scan: one ``DataFrame.observe`` on the written frame counts its
  rows (the ``refresh_history`` ROWS) and takes ``max(timestamp_col)``
  (the new high watermark), so nothing re-reads the table afterwards.
- INCREMENTAL → when the FV declares a streaming-compatible source
  (``streaming/incremental.py``), a Structured Streaming
  ``trigger(availableNow=True)`` micro-batch run processes only new files
  since the last checkpoint. Otherwise high-watermark append: recompute
  only rows with ``timestamp_col`` beyond the stored watermark and append.
  Both fall back to FULL when preconditions fail (Snowflake AUTO
  downgrade behavior, README.md:234).
"""

from __future__ import annotations

import json
import os
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .errors import ValidationError

if TYPE_CHECKING:
    from .objects import FeatureView
    from .store import FeatureStore

_WATERMARK_FILE = "_fs_watermark.json"


def _write_full(
    fs: "FeatureStore",
    df: DataFrame,
    path: str,
    timestamp_col: str | None,
    cluster_by: list[str] | None = None,
) -> None:
    part = None
    if timestamp_col:
        # partition by day of the event-time column → time-range partition
        # pruning for PIT reads at scale
        df = df.withColumn("_fs_dt", F.to_date(F.col(timestamp_col)))
        part = ["_fs_dt"]
    if cluster_by:
        # sorted-file layout (FeatureView.cluster_by): rows sorted by the
        # cluster keys within each task (and within each date partition
        # when partitioned) → tight parquet row-group min/max stats →
        # key-predicate scans skip row groups
        df = df.sortWithinPartitions(*((part or []) + list(cluster_by)))
    if os.path.isdir(path):
        # recompute of an EXISTING table goes through the crash-safe
        # snapshot swap: a plain overwrite deletes before it writes, so
        # a mid-refresh crash would leave a partial table; replace also
        # feeds snapshot_history retention (time-travel reads)
        fs.storage.replace(fs.spark, path, df, partition_by=part)
    else:
        fs.storage.write_full(df, path, partition_by=part)


def _observe(df: DataFrame, ts: str | None) -> tuple[DataFrame, Observation]:
    """``df`` carrying one observation of what a FULL write writes: its
    row count (``rows``) and, with a timestamp column, ``max(ts)``
    (``max_ts``). Read the observation after the write, never before:
    it is filled by the write's own job."""
    obs = Observation()
    stats = [F.count(F.lit(1)).alias("rows")]
    if ts is not None:
        stats.append(F.max(F.col(ts)).alias("max_ts"))
    return df.observe(obs, *stats), obs


def _read_watermark(path: str) -> str | None:
    p = os.path.join(path, _WATERMARK_FILE)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)["high_watermark"]
    return None


def _write_watermark(path: str, value: str) -> None:
    with open(os.path.join(path, _WATERMARK_FILE), "w") as f:
        json.dump({"high_watermark": value}, f)


def refresh_feature_view(fs: "FeatureStore", fv: "FeatureView", mode: str | None = None) -> str:
    """Run one refresh and append it to the FV's refresh history. Returns
    the effective mode used ('FULL' | 'INCREMENTAL' |
    'INCREMENTAL_WATERMARK'). Rows are recorded only for FULL recomputes,
    where the write observes them; counting after an incremental refresh
    would add a whole-table scan per micro-batch.

    The FV's ``warehouse`` (feature_view.sql:19-26) routes the refresh
    jobs to the same-named FAIR-scheduler pool for the duration of the
    refresh — Spark's analog of running a Dynamic Table refresh in a
    dedicated warehouse (pools isolate refresh workloads from ad-hoc
    queries when ``spark.scheduler.mode=FAIR``; under the default FIFO
    scheduler the property is recorded but inert)."""
    wh = fv.refresh.warehouse if fv.refresh else None
    sc = fs.spark.sparkContext
    if wh:
        prev_pool = sc.getLocalProperty("spark.scheduler.pool")
        sc.setLocalProperty("spark.scheduler.pool", wh)
        try:
            effective, rows = _refresh_feature_view(fs, fv, mode)
        finally:
            sc.setLocalProperty("spark.scheduler.pool", prev_pool)
    else:
        effective, rows = _refresh_feature_view(fs, fv, mode)
    fs._record_refresh(fv, effective, rows)
    return effective


def _refresh_feature_view(
    fs: "FeatureStore", fv: "FeatureView", mode: str | None = None
) -> tuple[str, int | None]:
    mode = (mode or fv.refresh.refresh_mode or "AUTO").upper()
    path = fs._fv_data_path(fv.name, fv.version)

    if fv.buckets:
        # bucketed (CLUSTER BY analog) materializations rebuild fully:
        # appending unbucketed files would corrupt the layout contract,
        # and the bucket metadata lives in the catalog (objects.py)
        df = fs._plan(fv)
        keys = _merge_keys(fs, fv, df)
        ts = None
        if fv.timestamp_col:
            ts = {c.upper(): c for c in df.columns}.get(fv.timestamp_col)
        if not keys:
            raise ValidationError(
                f"Bucketed feature view '{fv.logical_name}': no entity "
                "join keys found in the plan output to bucket by"
            )
        df, obs = _observe(df, None)
        fs.storage.write_bucketed(
            fs.spark,
            df,
            path,
            table=fs._fv_catalog_name(fv.name, fv.version),
            buckets=fv.buckets,
            bucket_cols=keys,
            sort_cols=keys + ([ts] if ts else []),
        )
        return "FULL", obs.get["rows"]

    if mode in ("INCREMENTAL", "AUTO"):
        # preferred: Structured Streaming availableNow over registered
        # sources — checkpoint gives exactly-once file processing and
        # watermarked windowed aggs (streaming/incremental.py)
        from .streaming.incremental import StreamingNotSupported, incremental_refresh

        try:
            return incremental_refresh(fs, fv), None
        except StreamingNotSupported:
            if mode == "INCREMENTAL":
                # explicit INCREMENTAL may still use the batch
                # high-watermark append below; AUTO prefers FULL for
                # unconditional correctness (Snowflake AUTO downgrade)
                pass

    df = fs._plan(fv)
    ts = None
    if fv.timestamp_col:
        m = {c.upper(): c for c in df.columns}
        ts = m.get(fv.timestamp_col)

    if (
        mode == "INCREMENTAL"
        and ts is not None
        and os.path.isdir(path)
        # never batch-append into a streaming-sink dir: files not in its
        # _spark_metadata log are invisible to reads
        and not os.path.isdir(os.path.join(path, "_spark_metadata"))
    ):
        wm = _read_watermark(path)
        if wm is not None and not _plan_aggregates(df):
            # batch high-watermark maintenance: only rows with ts
            # at-or-beyond the stored watermark are recomputed. Correct
            # for append-only inputs and non-aggregating plans
            # (aggregating/windowed plans are guarded out above —
            # appending recomputed aggregate rows would duplicate groups
            # — and fall through to FULL, the Snowflake AUTO-downgrade).
            wm_ts = F.lit(wm).cast("timestamp")
            delta = df.filter(F.col(ts) >= wm_ts)
            if fs.storage.transactional:
                # real table format → MERGE INTO keyed on (entity keys,
                # ts): re-delivered boundary rows upsert instead of
                # duplicating (feature_view.sql:115-129 semantics)
                keys = _merge_keys(fs, fv, df) + [ts]
                fs.storage.merge(
                    fs.spark,
                    path,
                    delta.withColumn("_fs_dt", F.to_date(F.col(ts))),
                    keys,
                )
            else:
                # parquet fallback (documented): `>=` so late rows landing
                # EXACTLY at the watermark are not silently dropped; rows
                # at the boundary that were already written are removed
                # with an anti-join against the (partition-pruned)
                # boundary slice of the target. Limitation: an exact
                # duplicate row at the boundary timestamp is treated as
                # already-written.
                existing_boundary = (
                    fs.storage.read(fs.spark, path)
                    .filter(
                        (F.col("_fs_dt") == F.to_date(wm_ts)) & (F.col(ts) == wm_ts)
                    )
                    .drop("_fs_dt")
                )
                delta = delta.join(
                    existing_boundary.select(df.columns),
                    on=df.columns,
                    how="left_anti",
                ).withColumn("_fs_dt", F.to_date(F.col(ts)))
                fs.storage.append(delta, path, partition_by=["_fs_dt"])
            new_wm = _max_ts(fs, path, "_fs_dt", ts)
            if new_wm:
                _write_watermark(path, new_wm)
            return "INCREMENTAL_WATERMARK", None

    # batch FULL recompute: any streaming checkpoint is now stale (the
    # overwrite killed the sink's file log / superseded the merged
    # totals) — remove BOTH the append checkpoint and the merge-
    # maintenance checkpoint, else a later incremental refresh resumes
    # state that believes old files were already folded in (the merge
    # checkpoint's per-key running totals would silently double-count
    # or keep pre-rewrite rows)
    import shutil

    for stale in (path + "_ckpt", path + "_ckpt_merge"):
        if os.path.isdir(stale):
            shutil.rmtree(stale)
    df, obs = _observe(df, ts)
    _write_full(fs, df, path, ts, cluster_by=fv.cluster_by)
    seen = obs.get
    if seen.get("max_ts") is not None:
        _write_watermark(path, str(seen["max_ts"]))
    return "FULL", seen["rows"]


def _merge_keys(fs: "FeatureStore", fv: "FeatureView", df: DataFrame) -> list[str]:
    """The FV's entity join keys, spelled as they appear in the plan's
    output columns (canonical names are UPPER; plans usually emit
    lower)."""
    canon: list[str] = []
    for e in fv.entity_docs or [
        {"name": n, "joinKeys": fs.get_entity(n).join_keys}
        for n in fv.entity_names()
    ]:
        canon.extend(e["joinKeys"])
    m = {c.upper(): c for c in df.columns}
    return [m[k] for k in canon if k in m]


def _plan_aggregates(df: DataFrame) -> bool:
    """True when the plan contains an Aggregate/Window/distinct — the
    docstring precondition of the watermark append path, enforced: such
    plans are not incrementalizable by row append (a recomputed group
    would land NEXT TO its stale version instead of replacing it)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return any(node in plan for node in ("Aggregate [", "Window [", "Deduplicate"))


def _chunk_unsafe_nodes(df: DataFrame, ts: str) -> list[str]:
    """PUSHDOWN PROBE for the chunk-boundary contract: apply a dummy
    event-time range filter on ``ts`` (exactly what backfill's chunk
    loop does) and let CATALYST decide whether it pushes below every
    Aggregate / Window / Deduplicate in the optimized plan.

    - Pushes fully below (day-keyed aggregation — Catalyst rewrites the
      filter on the ``date_trunc`` alias and sinks it through the
      grouping): each chunk recomputes only its own groups → chunk-safe
      AND chunk-incremental. Accepted.
    - Sticks above a grouping node (global aggregate, entity-keyed agg
      whose ts is MAX(ts), per-user window, same-named dimension ts in
      the grouping): the group is not a function of the chunk range —
      per-chunk recomputation is a FULL recompute per chunk at best and
      silently partial under source growth. Reported.

    Deciding by the optimizer's own pushdown (not by string-matching
    grouping expressions) is what makes a same-NAMED-but-different
    timestamp column in the grouping fail the check: the filter on the
    real event-time attribute cannot push through it."""
    probe = df.filter(
        (F.col(ts) >= F.lit("1970-01-01").cast("timestamp"))
        & (F.col(ts) < F.lit("1970-01-02").cast("timestamp"))
    )
    root = probe._jdf.queryExecution().optimizedPlan()

    _BLOCKERS = ("Aggregate", "Window", "Deduplicate")

    def _blockers_below(node) -> list[str]:
        found, stack = [], [node]
        while stack:
            n = stack.pop()
            if n.nodeName() in _BLOCKERS:
                found.append(n.toString().split("\n", 1)[0].strip())
            for i in range(n.children().size()):
                stack.append(n.children().apply(i))
        return found

    bad: list[str] = []
    stack = [root]
    while stack:
        n = stack.pop()
        if n.nodeName() == "Filter":
            below = []
            for i in range(n.children().size()):
                below.extend(_blockers_below(n.children().apply(i)))
            if below:
                # the chunk filter stayed ABOVE these grouping nodes
                bad.extend(below)
                continue  # their subtrees are already reported
        for i in range(n.children().size()):
            stack.append(n.children().apply(i))
    return bad


def _max_ts(fs: "FeatureStore", path: str, dt_col: str, ts: str) -> str | None:
    from pyspark.errors import AnalysisException

    try:
        out = fs.storage.read(fs.spark, path)
    except AnalysisException:
        # a backfill whose every chunk filtered to zero rows never wrote
        # the path at all — no data means no watermark, not a crash
        return None
    if ts not in out.columns:
        return None
    row = out.select(F.max(F.col(ts)).alias("m")).collect()[0]
    return str(row["m"]) if row["m"] is not None else None


def backfill_feature_view(
    fs: "FeatureStore",
    fv: "FeatureView",
    start: str,
    end: str,
    step_days: int = 1,
    strict: bool = False,
) -> list[str]:
    """Chunked historical materialization: run the FV query one
    [chunk_start, chunk_end) event-time slice at a time and commit each
    slice via DYNAMIC partition overwrite on the ``_fs_dt`` day
    partitions — Spark's idiomatic backfill. Returns the chunk starts
    processed.

    Why chunks: at 100 TB a whole-history recompute in one job holds the
    entire shuffle in flight; per-chunk jobs bound executor memory and
    make the backfill resumable (re-running a chunk overwrites exactly
    its own partitions — idempotent, no dedup pass). Requires a
    ``timestamp_col`` (the slicing axis).

    Chunk commits go through ``fs.storage.overwrite_partitions`` — the
    per-format dynamic-overwrite primitive — never raw parquet writes,
    so a Delta-managed FV stays inside its transaction log and the
    parquet path keeps its recovery semantics.

    Aggregation caveat: each slice is recomputed independently, so an
    aggregating plan is only correct when no group spans a slice
    boundary (e.g. groups keyed by day with day-aligned chunks — the
    same contract Snowflake puts on partitioned backfills). A plan that
    aggregates triggers a WARNING naming this contract; it is not
    rejected because day-keyed aggregation over day chunks is the
    common, correct case. With ``strict=True`` the contract is ENFORCED
    by the ``_chunk_unsafe_nodes`` PUSHDOWN PROBE: the chunk's own
    event-time range filter must sink below every Aggregate/Window/
    Deduplicate in Catalyst's optimized plan (then each chunk recomputes
    only its own groups); a grouping it cannot push through (global
    aggregate, entity-keyed MAX(ts), a same-named dimension timestamp)
    raises ValidationError instead of silently computing per-chunk
    partial groups."""
    import datetime as _dt

    if not fv.timestamp_col:
        raise ValidationError(
            f"backfill needs a timestamp_col on '{fv.logical_name}'"
        )
    plan_df = fs._plan(fv)
    ts = {c.upper(): c for c in plan_df.columns}.get(fv.timestamp_col)
    if ts is None:
        raise ValidationError(
            f"timestamp_col '{fv.timestamp_col}' not in the plan output"
        )
    if strict:
        bad = _chunk_unsafe_nodes(plan_df, ts)
        if bad:
            raise ValidationError(
                f"backfill(strict=True) on '{fv.logical_name}': the chunk "
                f"range filter on '{ts}' cannot push below these plan "
                f"nodes — their groups span chunk boundaries and per-chunk "
                f"recomputation would emit partial groups: {bad}"
            )
    elif _plan_aggregates(plan_df):
        import logging

        logging.getLogger(__name__).warning(
            "backfill_feature_view('%s'): the plan aggregates — per-chunk "
            "results are only correct if no group spans a chunk boundary "
            "(groups must be keyed within one %d-day slice, e.g. by day); "
            "pass strict=True to enforce this contract",
            fv.logical_name,
            step_days,
        )
    path = fs._fv_data_path(fv.name, fv.version)
    d0 = _dt.date.fromisoformat(start)
    d1 = _dt.date.fromisoformat(end)
    if d1 <= d0:
        raise ValidationError("backfill end must be after start")

    spark = fs.spark
    done: list[str] = []
    cur = d0
    while cur < d1:
        nxt = min(cur + _dt.timedelta(days=step_days), d1)
        chunk = (
            fs._plan(fv)
            .filter(
                (F.col(ts) >= F.lit(cur.isoformat()).cast("timestamp"))
                & (F.col(ts) < F.lit(nxt.isoformat()).cast("timestamp"))
            )
            .withColumn("_fs_dt", F.to_date(F.col(ts)))
        )
        if fv.cluster_by:
            # keep the sorted-file layout through backfills (same
            # data-skipping contract as _write_full / compact)
            chunk = chunk.sortWithinPartitions("_fs_dt", *fv.cluster_by)
        fs.storage.overwrite_partitions(spark, chunk, path, "_fs_dt")
        done.append(cur.isoformat())
        cur = nxt
    new_wm = _max_ts(fs, path, "_fs_dt", ts)
    if new_wm:
        _write_watermark(path, new_wm)
    return done
