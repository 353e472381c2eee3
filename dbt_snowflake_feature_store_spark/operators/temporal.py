"""Temporal query keys: as-of joins, interval and range joins, sessions,
SCD2 history, calendar gap-fill, time decay, and event-sequence features
(funnels, retention, transitions, attribution, cohorts, hazards).

Same contract as ``sql.py``: DataFrame-first Spark implementations with
DuckDB oracle twins (identical aliases both sides, exact integer/decimal
arithmetic, deterministic output). Day and second arithmetic truncates
before epoch conversion on both engines (Spark ``unix_timestamp``
truncates; DuckDB ``epoch`` is fractional).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.literal import literal_df
from ..functions.merge import scd2_apply
from ..pit import asof_join, asof_join_bracket
from ..plans.inspect import checkpoint
from ..sources.tables import read_table
from .sql import _DEC, _dsum


QUERIES: dict = {}
ORACLE: dict[str, str] = {}


def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time as-of join — THE core generate_dataset semantic
    ("features from BEFORE the event_time",
    test_feature_store_workflows.py:153-184). Spine = purchase events;
    features = latest error-event value at-or-before each purchase, per
    user. Uses the union+last(ignorenulls) single-shuffle strategy
    (pit.py) — no join explosion at 100 TB.

    The feature side is collapsed to ONE row per (user, ts) — max value —
    before the as-of, so exact-timestamp ties cannot reach the join and
    the oracle's ROW_NUMBER order is unique (the engine-arbitrary-tie
    ADVICE finding; asof_join's own hash tiebreak still guards arbitrary
    user data)."""
    ev = read_table(spark, sf_dir, "events")
    spine = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("event_time")
    )
    feats = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("f_last_error_value"))
    )
    return asof_join(
        spine,
        feats,
        on=["user_id"],
        spine_ts="event_time",
        feature_ts="ts",
        feature_cols=["f_last_error_value"],
    )


ORACLE["q_join_asof"] = """
        WITH spine AS (
            SELECT event_id, user_id, ts AS event_time
            FROM events WHERE event_type = 'purchase'
        ),
        feats AS (
            SELECT user_id, ts, MAX(value) AS value
            FROM events WHERE event_type = 'error'
            GROUP BY user_id, ts
        ),
        ranked AS (
            SELECT s.event_id, s.user_id, s.event_time, f.value,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.event_id
                       ORDER BY f.ts DESC
                   ) AS rn
            FROM spine s
            LEFT JOIN feats f
              ON s.user_id = f.user_id AND f.ts <= s.event_time
        )
        SELECT event_id, user_id, event_time,
               value AS f_last_error_value
        FROM ranked WHERE rn = 1
    """
QUERIES["q_join_asof"] = q_join_asof


def q_join_asof_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — the label-lookahead twin of q_join_asof: for
    each purchase event, the EARLIEST error-event value at-or-after it
    per user (next-outcome attachment when building supervised targets).
    Same union+last single-shuffle machinery (pit.py), reversed ts order;
    no join explosion at 100 TB. Feature side collapsed to one row per
    (user, ts) — max value — so ties cannot reach the join (see
    q_join_asof)."""
    ev = read_table(spark, sf_dir, "events")
    spine = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("event_time")
    )
    feats = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("f_next_error_value"))
    )
    return asof_join(
        spine,
        feats,
        on=["user_id"],
        spine_ts="event_time",
        feature_ts="ts",
        feature_cols=["f_next_error_value"],
        direction="forward",
    )


ORACLE["q_join_asof_fwd"] = """
        WITH spine AS (
            SELECT event_id, user_id, ts AS event_time
            FROM events WHERE event_type = 'purchase'
        ),
        feats AS (
            SELECT user_id, ts, MAX(value) AS value
            FROM events WHERE event_type = 'error'
            GROUP BY user_id, ts
        ),
        ranked AS (
            SELECT s.event_id, s.user_id, s.event_time, f.value,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.event_id
                       ORDER BY f.ts ASC
                   ) AS rn
            FROM spine s
            LEFT JOIN feats f
              ON s.user_id = f.user_id AND f.ts >= s.event_time
        )
        SELECT event_id, user_id, event_time,
               value AS f_next_error_value
        FROM ranked WHERE rn = 1
    """
QUERIES["q_join_asof_fwd"] = q_join_asof_fwd


def q_join_asof_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join — pandas merge_asof(direction='nearest')
    parity: for each purchase event, the error-event value CLOSEST in
    time per user, either side; equal distances prefer the backward row.
    Both direction candidates come out of ONE window pass over the same
    union shuffle (pit.py 'nearest' branch) — still a single shuffle on
    the entity key, no join explosion. Feature side collapsed to one row
    per (user, ts) so ties cannot reach the join (see q_join_asof)."""
    ev = read_table(spark, sf_dir, "events")
    spine = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("event_time")
    )
    feats = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("f_near_error_value"))
    )
    return asof_join(
        spine,
        feats,
        on=["user_id"],
        spine_ts="event_time",
        feature_ts="ts",
        feature_cols=["f_near_error_value"],
        direction="nearest",
    )


ORACLE["q_join_asof_near"] = """
        WITH spine AS (
            SELECT event_id, user_id, ts AS event_time
            FROM events WHERE event_type = 'purchase'
        ),
        feats AS (
            SELECT user_id, ts, MAX(value) AS value
            FROM events WHERE event_type = 'error'
            GROUP BY user_id, ts
        ),
        ranked AS (
            SELECT s.event_id, s.user_id, s.event_time, f.value,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.event_id
                       ORDER BY CASE WHEN f.ts <= s.event_time
                                     THEN s.event_time - f.ts
                                     ELSE f.ts - s.event_time END ASC,
                                f.ts ASC
                   ) AS rn
            FROM spine s
            LEFT JOIN feats f ON s.user_id = f.user_id
        )
        SELECT event_id, user_id, event_time,
               value AS f_near_error_value
        FROM ranked WHERE rn = 1
    """
QUERIES["q_join_asof_near"] = q_join_asof_near


def q_join_asof_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERPOLATING as-of join (r16) — time-weighted feature values,
    the sensor-fusion / irregular-time-series read a feature store
    needs when "last value before" is too stale: for each purchase
    event, linear interpolation between the last error value
    at-or-before and the first at-or-after, weighted by whole-second
    distances (CLAUDE.md epoch-truncation portability rule: DuckDB
    fractional ``epoch()`` vs Spark ``unix_timestamp`` — both sides
    truncate BEFORE the weight arithmetic, so a same-second bracket
    degenerates to the backward value deterministically). One-sided
    brackets fall back to the available side. The interpolation
    expression is spelled IDENTICALLY on both engines
    (``prev + (next − prev) · w`` with double division of exact
    BIGINT second deltas) — IEEE-identical, no rounding.

    Scale (r17): ONE fused ``asof_join_bracket`` pass — both bracket
    sides out of a single union shuffle on the entity key (the
    'nearest' window machinery, two frames over one sort), no join
    explosion. The pre-r17 spelling paid two sequential ``asof_join``
    union shuffles; the fused form is exact because the feature side
    is unique per (user, ts) BY CONSTRUCTION (the max(value)
    pre-aggregation — asof_join_bracket's documented precondition)."""
    ev = read_table(spark, sf_dir, "events")
    spine = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("event_time")
    )
    feats = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("_fv"))
        .withColumn("_fts", F.col("ts"))
    )
    j = asof_join_bracket(
        spine, feats, on=["user_id"], spine_ts="event_time",
        feature_ts="ts", feature_cols=["_fv", "_fts"],
        back_suffix="_p", fwd_suffix="_n",
    ).select(
        "event_id", "user_id", "event_time",
        F.col("_fv_p").alias("f_prev_val"),
        F.col("_fts_p").alias("f_prev_ts"),
        F.col("_fv_n").alias("f_next_val"),
        F.col("_fts_n").alias("f_next_ts"),
    )
    te = F.unix_timestamp("event_time")
    t0 = F.unix_timestamp("f_prev_ts")
    t1 = F.unix_timestamp("f_next_ts")
    both = F.col("f_prev_val").isNotNull() & F.col("f_next_val").isNotNull()
    interp = (
        F.when(
            both & (t1 > t0),
            F.col("f_prev_val")
            + (F.col("f_next_val") - F.col("f_prev_val"))
            * ((te - t0).cast("double") / (t1 - t0).cast("double")),
        )
        .when(both, F.col("f_prev_val"))  # same-second bracket
        .otherwise(F.coalesce("f_prev_val", "f_next_val"))
    )
    return j.select(
        "event_id", "user_id", "event_time",
        "f_prev_val", "f_next_val",
        interp.alias("f_interp_val"),
    )


ORACLE["q_join_asof_interp"] = """
        WITH spine AS (
            SELECT event_id, user_id, ts AS event_time
            FROM events WHERE event_type = 'purchase'
        ),
        feats AS (
            SELECT user_id, ts, MAX(value) AS value
            FROM events WHERE event_type = 'error'
            GROUP BY user_id, ts
        ),
        b AS (
            SELECT event_id, value AS f_prev_val, fts AS f_prev_ts
            FROM (
                SELECT s.event_id, f.value, f.ts AS fts,
                       ROW_NUMBER() OVER (
                           PARTITION BY s.event_id ORDER BY f.ts DESC
                       ) AS rn
                FROM spine s
                LEFT JOIN feats f
                  ON s.user_id = f.user_id AND f.ts <= s.event_time
            ) WHERE rn = 1
        ),
        fw AS (
            SELECT event_id, value AS f_next_val, fts AS f_next_ts
            FROM (
                SELECT s.event_id, f.value, f.ts AS fts,
                       ROW_NUMBER() OVER (
                           PARTITION BY s.event_id ORDER BY f.ts ASC
                       ) AS rn
                FROM spine s
                LEFT JOIN feats f
                  ON s.user_id = f.user_id AND f.ts >= s.event_time
            ) WHERE rn = 1
        )
        SELECT s.event_id, s.user_id, s.event_time,
               b.f_prev_val, fw.f_next_val,
               CASE
                 WHEN b.f_prev_val IS NOT NULL
                      AND fw.f_next_val IS NOT NULL
                      AND CAST(FLOOR(epoch(fw.f_next_ts)) AS BIGINT)
                          > CAST(FLOOR(epoch(b.f_prev_ts)) AS BIGINT)
                 THEN b.f_prev_val
                      + (fw.f_next_val - b.f_prev_val)
                      * (CAST(CAST(FLOOR(epoch(s.event_time)) AS BIGINT)
                              - CAST(FLOOR(epoch(b.f_prev_ts)) AS BIGINT)
                              AS DOUBLE)
                         / CAST(CAST(FLOOR(epoch(fw.f_next_ts)) AS BIGINT)
                                - CAST(FLOOR(epoch(b.f_prev_ts)) AS BIGINT)
                                AS DOUBLE))
                 WHEN b.f_prev_val IS NOT NULL
                      AND fw.f_next_val IS NOT NULL
                 THEN b.f_prev_val
                 ELSE COALESCE(b.f_prev_val, fw.f_next_val)
               END AS f_interp_val
        FROM spine s
        LEFT JOIN b ON s.event_id = b.event_id
        LEFT JOIN fw ON s.event_id = fw.event_id
    """
QUERIES["q_join_asof_interp"] = q_join_asof_interp


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: events per user split into sessions at >30-minute
    gaps (lag + conditional cumsum — the canonical behavioral-feature
    pattern). One shuffle on user_id; both windows reuse the same
    partitioning (single exchange)."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.unix_timestamp(F.col("ts")) - F.lag(F.unix_timestamp(F.col("ts"))).over(w)
    with_break = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("_new_sess"),
    )
    sess = with_break.withColumn(
        "f_session", F.sum("_new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long")
    )
    return (
        sess.groupBy("user_id", "f_session")
        .agg(
            F.count("*").alias("f_events"),
            F.min("ts").alias("f_session_start"),
            F.max("ts").alias("f_session_end"),
            _dsum(F.col("value"), "f_session_value"),
        )
    )


ORACLE["q_sessionize"] = """
    WITH gaps AS (
        SELECT event_id, user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
        SELECT *,
               CAST(SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS f_session
        FROM gaps
    )
    SELECT user_id, f_session,
           COUNT(*) AS f_events,
           MIN(ts) AS f_session_start,
           MAX(ts) AS f_session_end,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS f_session_value
    FROM sess
    GROUP BY user_id, f_session
"""
QUERIES["q_sessionize"] = q_sessionize


def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range/interval) join: parts banded by size via
    lo <= p_size < hi. Scale: the band dimension is tiny → broadcast
    nested-loop with a range predicate; Catalyst broadcasts automatically
    (never a cartesian shuffle)."""
    p = read_table(spark, sf_dir, "part")
    bands = literal_df(
        spark,
        [(0, 10, "small"), (10, 25, "medium"), (25, 1000, "large")],
        "lo int, hi int, f_band string",
    )
    return (
        p.join(
            F.broadcast(bands),
            (p.p_size >= bands.lo) & (p.p_size < bands.hi),
            "inner",
        )
        .select("p_partkey", "p_size", "f_band", "p_retailprice")
    )


ORACLE["q_join_range"] = """
    SELECT p.p_partkey, p.p_size, b.f_band, p.p_retailprice
    FROM part p
    JOIN (VALUES (0, 10, 'small'), (10, 25, 'medium'), (25, 1000, 'large'))
         AS b(lo, hi, f_band)
      ON p.p_size >= b.lo AND p.p_size < b.hi
"""
QUERIES["q_join_range"] = q_join_range


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window, 30-minute gap) per user —
    the Structured-Streaming-compatible form of q_sessionize: the exact
    same groupBy works under readStream with a watermark (streaming/
    incremental.py). Session end = last event + gap (Spark semantics; an
    event at exactly gap distance starts a NEW session — the oracle's
    gaps-and-islands uses >= gap accordingly).
    Scale: one shuffle on user_id; sessions merge map-side first."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count("*").alias("f_events"),
            _dsum(F.col("value"), "f_value_sum"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("f_session_start"),
            F.col("session_window.end").alias("f_session_end"),
            "f_events",
            "f_value_sum",
        )
    )


ORACLE["q_session_window"] = """
        WITH gaps AS (
            SELECT user_id, ts, value,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(LAG(ts) OVER w) >= 1800
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
        ),
        sess AS (
            SELECT *,
                   SUM(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS sess_id
            FROM gaps
        )
        SELECT user_id,
               MIN(ts) AS f_session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS f_session_end,
               COUNT(*) AS f_events,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS f_value_sum
        FROM sess
        GROUP BY user_id, sess_id
    """
QUERIES["q_session_window"] = q_session_window


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 maintenance through ``functions.merge.scd2_apply``:
    current = each user's FIRST event as the open version; updates =
    each user's LAST event. Apply closes the old version at the update
    time and appends the new open version — the dimension-history
    pattern INCREMENTAL feature views imply. Deterministic: first/last
    rows picked with (ts, event_id) tiebreaks. One shuffle on the key."""
    ev = read_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    w_last = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    first_ev = (
        ev.withColumn("rn", F.row_number().over(w_first))
        .filter("rn = 1")
        .select(
            "user_id",
            F.col("value").alias("f_value"),
            F.col("ts").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
        )
    )
    last_ev = (
        ev.withColumn("rn", F.row_number().over(w_last))
        .filter("rn = 1")
        .select("user_id", F.col("value").alias("f_value"), "ts")
    )
    return scd2_apply(first_ev, last_ev, keys=["user_id"], ts_col="ts")


ORACLE["q_scd2_history"] = """
        WITH firsts AS (
            SELECT user_id, value AS f_value, ts
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ) AS rn FROM events
            ) WHERE rn = 1
        ),
        lasts AS (
            SELECT user_id, value AS f_value, ts
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                ) AS rn FROM events
            ) WHERE rn = 1
        )
        SELECT f.user_id, f.f_value, f.ts AS valid_from, l.ts AS valid_to
        FROM firsts f JOIN lasts l USING (user_id)
        UNION ALL
        SELECT user_id, f_value, ts AS valid_from,
               CAST(NULL AS TIMESTAMP) AS valid_to
        FROM lasts
    """
QUERIES["q_scd2_history"] = q_scd2_history


def q_scd2_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 with MULTIPLE updates per key in one batch: each user's 2nd
    and 3rd events (collapsed to one row per (user_id, ts) so the chain
    order is engine-deterministic without the xxhash tiebreak) are
    applied against the first-event open version. Hash-checks the
    lead()-chained validity path in ``functions.merge.scd2_apply`` —
    each new version's valid_to is the NEXT update's ts, only the last
    stays open — which q_scd2_history's one-update fixture never
    exercises. One shuffle on the key."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    ranked = ev.withColumn("rn", F.row_number().over(w))
    current = ranked.filter("rn = 1").select(
        "user_id",
        F.col("value").alias("f_value"),
        F.col("ts").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    updates = (
        ranked.filter(F.col("rn").isin(2, 3))
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("f_value"))
        .select("user_id", "f_value", "ts")
    )
    return scd2_apply(current, updates, keys=["user_id"], ts_col="ts")


ORACLE["q_scd2_multi"] = """
        WITH ranked AS (
            SELECT user_id, value, ts, event_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ) AS rn
            FROM events
        ),
        firsts AS (
            SELECT user_id, value AS f_value, ts FROM ranked WHERE rn = 1
        ),
        upd AS (
            SELECT user_id, ts, MAX(value) AS f_value
            FROM ranked WHERE rn IN (2, 3)
            GROUP BY user_id, ts
        ),
        upd_min AS (
            SELECT user_id, MIN(ts) AS new_ts FROM upd GROUP BY user_id
        ),
        closed AS (
            SELECT f.user_id, f.f_value, f.ts AS valid_from,
                   m.new_ts AS valid_to
            FROM firsts f LEFT JOIN upd_min m ON f.user_id = m.user_id
        ),
        chained AS (
            SELECT user_id, f_value, ts AS valid_from,
                   LEAD(ts) OVER (
                       PARTITION BY user_id ORDER BY ts ASC
                   ) AS valid_to
            FROM upd
        )
        SELECT user_id, f_value, valid_from, valid_to FROM closed
        UNION ALL
        SELECT user_id, f_value, valid_from, valid_to FROM chained
    """
QUERIES["q_scd2_multi"] = q_scd2_multi


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel attribution (view → click → purchase): per user,
    the earliest view, the earliest click AT/AFTER that view, and the
    earliest purchase at/after that click — the MATCH_RECOGNIZE-class
    sequence op, expressed as three chained conditional aggregations.

    Scale: all three aggs group on user_id and share the events scan's
    shuffle partitioning; the per-user aggregates are tiny next to the
    event log, so the chain joins broadcast (AQE decides). No window
    over the raw log, no per-event state."""
    ev = read_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_q2_funnel_ev")
    return spark.sql(
        """
        WITH v AS (
            SELECT user_id, MIN(ts) AS t_view
            FROM _q2_funnel_ev WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, MIN(e.ts) AS t_click
            FROM _q2_funnel_ev e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts >= v.t_view
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS t_purchase
            FROM _q2_funnel_ev e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
            GROUP BY e.user_id
        )
        SELECT a.user_id,
               CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
                         WHEN c.t_click IS NOT NULL THEN 2
                         WHEN v.t_view IS NOT NULL THEN 1
                         ELSE 0 END AS BIGINT) AS f_stage,
               v.t_view AS f_t_view,
               c.t_click AS f_t_click,
               p.t_purchase AS f_t_purchase
        FROM (SELECT DISTINCT user_id FROM _q2_funnel_ev) a
        LEFT JOIN v ON a.user_id = v.user_id
        LEFT JOIN c ON a.user_id = c.user_id
        LEFT JOIN p ON a.user_id = p.user_id
        """
    )


ORACLE["q_funnel"] = """
        WITH v AS (
            SELECT user_id, MIN(ts) AS t_view
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, MIN(e.ts) AS t_click
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts >= v.t_view
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS t_purchase
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
            GROUP BY e.user_id
        )
        SELECT a.user_id,
               CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
                         WHEN c.t_click IS NOT NULL THEN 2
                         WHEN v.t_view IS NOT NULL THEN 1
                         ELSE 0 END AS BIGINT) AS f_stage,
               v.t_view AS f_t_view,
               c.t_click AS f_t_click,
               p.t_purchase AS f_t_purchase
        FROM (SELECT DISTINCT user_id FROM events) a
        LEFT JOIN v ON a.user_id = v.user_id
        LEFT JOIN c ON a.user_id = c.user_id
        LEFT JOIN p ON a.user_id = p.user_id
    """
QUERIES["q_funnel"] = q_funnel


def q_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregation (1 h windows every 30 min) — the batch
    twin of the streaming windowed agg (streaming/incremental.py uses
    the same F.window). Each event lands in exactly 2 windows; Spark's
    window() epoch alignment is replayed in the oracle with integer
    floor-division on epoch microseconds. Decimal-exact value sums.
    Scale: explode-by-2 then one hash agg on the window start — no
    per-event state, map-side combinable."""
    ev = read_table(spark, sf_dir, "events")
    w = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(w.alias("w"))
        .agg(
            F.count("*").alias("f_events"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("f_sum_value"),
        )
        .select(
            F.col("w.start").alias("f_win_start"),
            F.col("w.end").alias("f_win_end"),
            "f_events",
            "f_sum_value",
        )
    )


# hop = 30 min = 1.8e9 us, width = 1 h = 3.6e9 us; every event is in
# the windows starting at floor(us/hop)*hop and one hop earlier —
# the same 1970-epoch alignment Spark's window() uses
ORACLE["q_hopping"] = """
        WITH e AS (
            SELECT value, epoch_us(ts) AS us FROM events
        ),
        x AS (
            SELECT value, us,
                   unnest([(us // 1800000000) * 1800000000,
                           (us // 1800000000) * 1800000000 - 1800000000])
                       AS s
            FROM e
        )
        SELECT make_timestamp(s) AS f_win_start,
               make_timestamp(s + 3600000000) AS f_win_end,
               CAST(COUNT(*) AS BIGINT) AS f_events,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                   AS f_sum_value
        FROM x
        GROUP BY s
    """
QUERIES["q_hopping"] = q_hopping


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-event week (cohort),
    counted distinct-active per calendar week — the standard cohort
    matrix. Two aggs sharing the user_id shuffle + one join of two
    already-small per-user/per-week frames; date_trunc('week') has
    identical Monday-start semantics in Spark and DuckDB."""
    ev = read_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_q2_ret_ev")
    return spark.sql(
        """
        WITH f AS (
            SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS f_cohort_week
            FROM _q2_ret_ev GROUP BY user_id
        ),
        a AS (
            SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS f_active_week
            FROM _q2_ret_ev
        )
        SELECT f.f_cohort_week, a.f_active_week,
               CAST(COUNT(*) AS BIGINT) AS f_users
        FROM f JOIN a ON f.user_id = a.user_id
        GROUP BY f.f_cohort_week, a.f_active_week
        """
    )


ORACLE["q_retention"] = """
        -- DuckDB date_trunc('week') yields DATE, Spark yields TIMESTAMP:
        -- cast here so the physical types agree (same midnight instants)
        WITH f AS (
            SELECT user_id,
                   CAST(DATE_TRUNC('week', MIN(ts)) AS TIMESTAMP)
                       AS f_cohort_week
            FROM events GROUP BY user_id
        ),
        a AS (
            SELECT DISTINCT user_id,
                   CAST(DATE_TRUNC('week', ts) AS TIMESTAMP) AS f_active_week
            FROM events
        )
        SELECT f.f_cohort_week, a.f_active_week,
               CAST(COUNT(*) AS BIGINT) AS f_users
        FROM f JOIN a ON f.user_id = a.user_id
        GROUP BY f.f_cohort_week, a.f_active_week
    """
QUERIES["q_retention"] = q_retention


def q_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed event deduplication: keep the FIRST event per
    (user_id, event_type, 10-minute tumbling window) — the batch twin of
    Structured Streaming's watermark dedup (dropDuplicates on the window
    key; parity test in tests/test_streaming.py). The standard at-least-
    once ingestion repair: upstream retries re-emit events, the sink
    keeps one per idempotency window.

    Scale: one shuffle on the high-cardinality (user, type, window) key;
    row_number frames are burst-sized (a handful of rows), never a
    stratum. Deterministic: (ts, event_id) tiebreak."""
    ev = read_table(spark, sf_dir, "events")
    # FLOOR, not cast-truncation: for pre-1970 (negative-epoch) events
    # trunc-toward-zero and the oracle's FLOOR pick different buckets.
    win = F.floor(F.unix_timestamp("ts") / 600).cast("long").alias("f_win")
    w = Window.partitionBy("user_id", "event_type", "f_win").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        ev.select("event_id", "user_id", "event_type", "ts", "value", win)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("event_id", "user_id", "event_type", "ts", "value", "f_win")
    )


ORACLE["q_event_dedup"] = """
        WITH base AS (
            SELECT event_id, user_id, event_type, ts, value,
                   CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS f_win
            FROM events
        ),
        ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type, f_win
                       ORDER BY ts ASC, event_id ASC
                   ) AS rn
            FROM base
        )
        SELECT event_id, user_id, event_type, ts, value, f_win
        FROM ranked WHERE rn = 1
    """
QUERIES["q_event_dedup"] = q_event_dedup


# ---------------------------------------------------------------------------
# Calendar gap-fill + forward fill
# ---------------------------------------------------------------------------


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification, oracle-gated: per-user daily spend on
    a COMPLETE calendar — every day from the user's first activity to
    the corpus-wide last day exists in the output, missing days
    forward-filled from the last observed value and flagged. The
    feature-store shape behind every daily snapshot table: a
    point-in-time join against a gappy aggregate silently drops
    entities; densify-then-fill is the standard fix.

    Scale: the daily aggregate is one map-side-combinable exchange; the
    calendar explode is generated per entity (rows = entities × days,
    the OUTPUT size — no data-sized intermediate); the forward-fill
    window is per user over calendar-bounded rows (days, not events).
    The global max day is a 1-row broadcast, not a driver collect."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("f_day")
    ).agg(F.sum(F.col("value").cast(_DEC)).alias("_spend"))
    bounds = daily.groupBy("user_id").agg(F.min("f_day").alias("_lo"))
    gmax = daily.agg(F.max("f_day").alias("_hi"))
    cal = (
        bounds.crossJoin(F.broadcast(gmax))
        .select(
            "user_id",
            F.explode(F.sequence("_lo", "_hi")).alias("f_day"),
        )
    )
    joined = cal.join(daily, ["user_id", "f_day"], "left")
    w = Window.partitionBy("user_id").orderBy("f_day")
    return joined.select(
        "user_id",
        "f_day",
        F.last("_spend", ignorenulls=True)
        .over(w)
        .cast("double")
        .alias("f_spend"),
        F.col("_spend").isNull().cast("long").alias("f_gap"),
    )


QUERIES["q_gap_fill"] = q_gap_fill


ORACLE["q_gap_fill"] = """
    WITH daily AS (
        SELECT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
               SUM(CAST(value AS DECIMAL(28,6))) AS spend
        FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT user_id, MIN(d) AS lo FROM daily GROUP BY 1),
    gmax AS (SELECT MAX(d) AS hi FROM daily),
    cal AS (
        SELECT b.user_id, CAST(u.d AS DATE) AS f_day
        FROM bounds b, gmax g,
             LATERAL (SELECT unnest(generate_series(CAST(b.lo AS TIMESTAMP),
                                                    CAST(g.hi AS TIMESTAMP),
                                                    INTERVAL 1 DAY)) AS d) u
    )
    SELECT c.user_id, c.f_day,
           CAST(LAST_VALUE(dd.spend IGNORE NULLS) OVER (
                PARTITION BY c.user_id ORDER BY c.f_day) AS DOUBLE) AS f_spend,
           CAST(CASE WHEN dd.spend IS NULL THEN 1 ELSE 0 END AS BIGINT) AS f_gap
    FROM cal c LEFT JOIN daily dd
      ON dd.user_id = c.user_id AND dd.d = c.f_day
"""


# ---------------------------------------------------------------------------
# Batch exponential time-decay features
# ---------------------------------------------------------------------------


def q_ewma_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed spend per user as of the corpus max
    day (half-life = 1 day, horizon 20 days), ORACLE-GATED — the batch
    twin of the streaming ``decayed_value_tws`` operator (rows-only by
    design there; HERE the decay math is hash-checked cross-engine).
    Transcendental-free by construction: half-life-1 weights are exact
    powers of two, so the whole computation is BIGINT — daily micro
    spend × 2^(20−age), summed, shifted back down by 20 bits. Terms
    older than the 20-day horizon carry weight < 2⁻²⁰ ≈ 1e-6 of the
    newest — below the output's micro resolution — and are cut off
    exactly (documented semantics, not an approximation knob).

    Scale: one map-side-combinable exchange to (user, day) daily
    sums — calendar-bounded rows per user after that; the anchor day
    is a 1-row broadcast. No window, no second data-scale pass.
    Overflow headroom: term ≤ spend_micro·2²⁰; a user needs > 8·10¹²
    micro-units (8 million spend units) PER DAY before the 30-term sum
    approaches int64 — the oracle replays SUM in HUGEINT and the cast
    would fail loudly, not wrap."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("_d")
    ).agg(
        (F.sum(F.col("value").cast(_DEC)) * 1000000)
        .cast("long")
        .alias("_spend_micro")
    )
    gmax = daily.agg(F.max("_d").alias("_gmax"))
    t = daily.crossJoin(F.broadcast(gmax)).withColumn(
        "_k", F.datediff("_gmax", "_d")
    )
    term = F.expr(
        "CASE WHEN _k <= 20 THEN"
        " _spend_micro * shiftleft(CAST(1 AS BIGINT), CAST(20 - _k AS INT))"
        " ELSE CAST(0 AS BIGINT) END"
    )
    return t.groupBy("user_id").agg(
        F.max("_d").alias("f_last_day"),
        F.shiftright(F.sum(term).cast("long"), 20)
        .cast("long")
        .alias("f_ewma_micro"),
    )


QUERIES["q_ewma_decay"] = q_ewma_decay


ORACLE["q_ewma_decay"] = """
    WITH daily AS (
        SELECT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) * 1000000 AS BIGINT)
                   AS spend_micro
        FROM events GROUP BY 1, 2
    ),
    gmax AS (SELECT MAX(d) AS g FROM daily),
    t AS (
        SELECT user_id, d, spend_micro,
               date_diff('day', d, g.g) AS k
        FROM daily, gmax g
    )
    SELECT user_id,
           MAX(d) AS f_last_day,
           CAST(CAST(SUM(CASE WHEN k <= 20
                THEN spend_micro * (CAST(1 AS BIGINT) << (20 - k))
                ELSE CAST(0 AS BIGINT) END) AS BIGINT) >> 20
                AS BIGINT) AS f_ewma_micro
    FROM t GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Markov event-transition matrix
# ---------------------------------------------------------------------------


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts + probabilities over each
    user's time-ordered event stream — the behavioral sequence feature
    (next-action prediction priors, funnel leak detection). Total order
    inside a user: (ts, event_id) — event_id is unique, so the lead is
    deterministic and the key hash-gates.

    Scale: ONE window partitioned by user_id (per-user history is
    bounded; never an unpartitioned window) + a map-side-combinable agg
    to the (src, dst) key (≤ |event_type|² groups). The probability is
    a final double division of exact BIGINT counts.

    NULL-ts rows are filtered on BOTH sides before the window: Spark
    orders ASC NULLS FIRST, DuckDB NULLS LAST — without the filter a
    future ts-layout drift introducing NULLs would silently diverge
    the lead() pairing between engines."""
    ev = (
        read_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .filter(F.col("ts").isNotNull())
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = (
        ev.withColumn("_nxt", F.lead("event_type").over(w))
        .filter(F.col("_nxt").isNotNull())
        .groupBy(
            F.col("event_type").alias("f_src"), F.col("_nxt").alias("f_dst")
        )
        .agg(F.count("*").cast("long").alias("f_cnt"))
    )
    tot = pairs.groupBy("f_src").agg(F.sum("f_cnt").cast("long").alias("_tot"))
    return pairs.join(tot, "f_src").select(
        "f_src",
        "f_dst",
        "f_cnt",
        (F.col("f_cnt").cast("double") / F.col("_tot").cast("double")).alias(
            "f_prob"
        ),
    )


ORACLE["q_event_transitions"] = """
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS _nxt
        FROM events WHERE ts IS NOT NULL
    ),
    pairs AS (
        SELECT event_type AS f_src, _nxt AS f_dst,
               CAST(COUNT(*) AS BIGINT) AS f_cnt
        FROM seq WHERE _nxt IS NOT NULL
        GROUP BY event_type, _nxt
    ),
    tot AS (
        SELECT f_src, CAST(SUM(f_cnt) AS BIGINT) AS _tot
        FROM pairs GROUP BY f_src
    )
    SELECT p.f_src, p.f_dst, p.f_cnt,
           CAST(p.f_cnt AS DOUBLE) / CAST(t._tot AS DOUBLE) AS f_prob
    FROM pairs p JOIN tot t ON p.f_src = t.f_src
"""
QUERIES["q_event_transitions"] = q_event_transitions


# ---------------------------------------------------------------------------
# First/last-touch attribution
# ---------------------------------------------------------------------------


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style conversion attribution: every purchase is
    attributed to the user's FIRST and LAST non-purchase touch inside
    the preceding 7 days; output is the (first_touch, last_touch) →
    (conversions, value) matrix. Purchases with no touch in the window
    attribute to '(none)'. Deterministic: the touch order inside a
    purchase is the total order (ts, event_id).

    Scale: the touch join shuffles BOTH sides on user_id once and the
    range predicate evaluates inside the join — per-user histories are
    bounded, so the pair set is bounded per user; the two row_number
    windows partition by purchase event_id (per-purchase candidate
    sets — 7 days of one user's events, never data-sized). The value
    sum runs through DECIMAL(28,6) (exactness invariant)."""
    ev = read_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("_pid"),
        F.col("user_id").alias("_pu"),
        F.col("ts").alias("_pts"),
        F.col("value").alias("_pval"),
    )
    t = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("_tu"),
        F.col("ts").alias("_tts"),
        F.col("event_id").alias("_tid"),
        F.col("event_type").alias("_ttype"),
    )
    cand = p.join(
        t,
        (F.col("_pu") == F.col("_tu"))
        & (F.col("_tts") < F.col("_pts"))
        & (F.col("_tts") >= F.expr("_pts - INTERVAL 7 DAYS")),
    )
    wf = Window.partitionBy("_pid").orderBy(
        F.col("_tts").asc(), F.col("_tid").asc()
    )
    wl = Window.partitionBy("_pid").orderBy(
        F.col("_tts").desc(), F.col("_tid").desc()
    )
    fl = (
        cand.withColumn("_rf", F.row_number().over(wf))
        .withColumn("_rl", F.row_number().over(wl))
        .filter((F.col("_rf") == 1) | (F.col("_rl") == 1))
        .groupBy("_pid")
        .agg(
            F.max(F.when(F.col("_rf") == 1, F.col("_ttype"))).alias("_first"),
            F.max(F.when(F.col("_rl") == 1, F.col("_ttype"))).alias("_last"),
        )
    )
    attributed = p.join(fl, "_pid", "left").select(
        F.coalesce(F.col("_first"), F.lit("(none)")).alias("f_first_touch"),
        F.coalesce(F.col("_last"), F.lit("(none)")).alias("f_last_touch"),
        F.col("_pval"),
    )
    return attributed.groupBy("f_first_touch", "f_last_touch").agg(
        F.count("*").cast("long").alias("f_conversions"),
        F.sum(F.col("_pval").cast(_DEC)).cast("double").alias("f_value"),
    )


ORACLE["q_attribution"] = """
    WITH p AS (
        SELECT event_id AS _pid, user_id AS _pu, ts AS _pts, value AS _pval
        FROM events WHERE event_type = 'purchase'
    ),
    t AS (
        SELECT user_id AS _tu, ts AS _tts, event_id AS _tid,
               event_type AS _ttype
        FROM events WHERE event_type <> 'purchase'
    ),
    cand AS (
        SELECT p._pid, t._tts, t._tid, t._ttype,
               ROW_NUMBER() OVER (PARTITION BY p._pid
                                  ORDER BY t._tts ASC, t._tid ASC) AS _rf,
               ROW_NUMBER() OVER (PARTITION BY p._pid
                                  ORDER BY t._tts DESC, t._tid DESC) AS _rl
        FROM p JOIN t
          ON p._pu = t._tu
         AND t._tts < p._pts
         AND t._tts >= p._pts - INTERVAL 7 DAY
    ),
    fl AS (
        SELECT _pid,
               MAX(CASE WHEN _rf = 1 THEN _ttype END) AS _first,
               MAX(CASE WHEN _rl = 1 THEN _ttype END) AS _last
        FROM cand WHERE _rf = 1 OR _rl = 1
        GROUP BY _pid
    )
    SELECT COALESCE(fl._first, '(none)') AS f_first_touch,
           COALESCE(fl._last, '(none)') AS f_last_touch,
           CAST(COUNT(*) AS BIGINT) AS f_conversions,
           CAST(SUM(CAST(p._pval AS DECIMAL(28,6))) AS DOUBLE) AS f_value
    FROM p LEFT JOIN fl ON p._pid = fl._pid
    GROUP BY COALESCE(fl._first, '(none)'), COALESCE(fl._last, '(none)')
"""
QUERIES["q_attribution"] = q_attribution


# ---------------------------------------------------------------------------
# Per-user session features (the behavioral rollup retention models eat)
# ---------------------------------------------------------------------------


def q_user_session_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-USER session features, ORACLE-GATED — the user-grain rollup a
    retention/engagement model actually consumes (q_sessionize stops at
    the session grain): session count, total events, events-per-session
    in ppk, total and mean session duration in seconds — all exact
    integers (duration from unix_timestamp; means via integer DIV both
    engines; NULL ts filtered both engines, the q_event_transitions
    precedent).

    Scale: one shuffle on user_id; the gap/cumsum windows and both
    rollups reuse the same partitioning (the q_sessionize plan), and
    the user-grain agg map-side combines."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = F.unix_timestamp(F.col("ts")) - F.lag(
        F.unix_timestamp(F.col("ts"))
    ).over(w)
    sess = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("_new"),
    ).withColumn(
        "_sess",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long"),
    )
    per_sess = sess.groupBy("user_id", "_sess").agg(
        F.count("*").cast("long").alias("_n"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).cast("long").alias("_dur"),
    )
    return per_sess.groupBy("user_id").agg(
        F.count("*").cast("long").alias("f_sessions"),
        F.sum("_n").cast("long").alias("f_events"),
        F.expr(
            "CAST(SUM(_n) * 1000 DIV COUNT(*) AS BIGINT)"
        ).alias("f_events_per_sess_ppk"),
        F.sum("_dur").cast("long").alias("f_total_dur_s"),
        F.expr(
            "CAST(SUM(_dur) DIV COUNT(*) AS BIGINT)"
        ).alias("f_avg_dur_s"),
    )


ORACLE["q_user_session_features"] = """
    WITH gaps AS (
        SELECT event_id, user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR CAST(FLOOR(epoch(ts)) AS BIGINT)
                            - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT)
                            > 1800
                    THEN 1 ELSE 0 END AS new_sess
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
        SELECT *,
               CAST(SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS _sess
        FROM gaps
    ),
    per_sess AS (
        SELECT user_id, _sess,
               CAST(COUNT(*) AS BIGINT) AS _n,
               CAST(FLOOR(epoch(MAX(ts))) AS BIGINT)
                   - CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS _dur
        FROM sess GROUP BY user_id, _sess
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS f_sessions,
           CAST(SUM(_n) AS BIGINT) AS f_events,
           CAST(SUM(_n) * 1000 // COUNT(*) AS BIGINT)
               AS f_events_per_sess_ppk,
           CAST(SUM(_dur) AS BIGINT) AS f_total_dur_s,
           CAST(SUM(_dur) // COUNT(*) AS BIGINT) AS f_avg_dur_s
    FROM per_sess GROUP BY user_id
"""
QUERIES["q_user_session_features"] = q_user_session_features


# ---------------------------------------------------------------------------
# Interval-overlap self-join (concurrent same-part shipment windows)
# ---------------------------------------------------------------------------

_IV_TOP = 20


def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP self-join, ORACLE-GATED — the temporal join
    missing between q_join_range (point-in-range) and q_join_asof
    (nearest key): each lineitem defines a shipment WINDOW
    [shipdate, shipdate + quantity days] in integer unix seconds, and
    the key counts, per part, the pairs of DISTINCT line items whose
    windows overlap (``a.s ≤ b.e AND b.s ≤ a.e``) — "how often is the
    same part in flight twice at once". Pairs dedup via strict
    (orderkey, linenumber) ordering; overlap length reported in whole
    days. Output: top-20 parts by pair count (full ORDER BY with
    partkey tiebreak). No INTERVAL/date arithmetic crosses the engine
    boundary — epoch seconds + 86400·quantity on both sides.

    Scale (r17 rewrite, r18 fused fold): ONE
    map-side-combinable-free shuffle on l_partkey (collect_list per
    part) and the pair expansion runs ROW-LOCALLY over the sorted
    per-part array — since r18 as a SINGLE aggregate fold producing
    (count, max-overlap) in one traversal, with the zero-pair filter
    above the top-k (the r17 spelling's size-filter was
    predicate-pushed below the defining Project and re-evaluated the
    quadratic expansion twice) —
    per-part multiplicity is a schema-fixed ratio (~30 lines/part at
    every TPC-H SF), so the per-row array and its ≤ ~m²/2 pair scan are
    bounded BY THE SCHEMA at any SF. The pre-r17 spelling was a partkey
    equi self-join (two sorted exchanges + SMJ + a second agg exchange)
    whose pair stream carried the identical comparisons; same output,
    one exchange instead of three, no join machinery. The array sorts
    on (orderkey, linenumber) — the PK, so position order i<j IS the
    strict dedup ordering. Parts with zero overlapping pairs are
    filtered (the join produced no group for them). A keyless interval
    join would instead bucket by coarse time slices (explode to
    slice keys → equi-join → exact refine); documented here as the
    scale path for that shape."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        F.expr("CAST(unix_timestamp(l_shipdate) AS BIGINT)").alias("_s"),
        F.expr(
            "CAST(unix_timestamp(l_shipdate)"
            " + 86400 * CAST(l_quantity AS BIGINT) AS BIGINT)"
        ).alias("_e"),
    )
    grouped = li.groupBy(F.col("l_partkey").alias("f_partkey")).agg(
        F.expr(
            "array_sort(collect_list(struct("
            "l_orderkey AS ok, l_linenumber AS ln, _s AS s, _e AS e)))"
        ).alias("_arr")
    )
    # r18: ONE fused fold computes (pair count, max overlap) in a single
    # traversal of the (i < j) pair stream — the r17 spelling
    # materialized the filtered pair ARRAY and its `size(_p) > 0` gate
    # was predicate-pushed below the defining Project, re-evaluating the
    # full quadratic expansion TWICE per group (verified in the before
    # plan: the filter(flatten(transform(...))) subtree appears in both
    # the Filter and the Project). `_arr` is an Aggregate-output
    # ATTRIBUTE, so referencing it inside the lambdas is the legal
    # materialized-column form; `_st` is referenced twice below, which
    # cost-aware CollapseProject refuses to inline — fold runs once.
    stats = grouped.select(
        "f_partkey",
        F.expr(
            "aggregate("
            " flatten(transform(_arr, (x, i) ->"
            "  transform(slice(_arr, i + 2, size(_arr)),"
            "  y -> struct(x.s AS s1, x.e AS e1, y.s AS s2, y.e AS e2)))),"
            " named_struct('cnt', CAST(0 AS BIGINT),"
            "               'mx', CAST(NULL AS BIGINT)),"
            " (acc, p) -> CASE WHEN p.s1 <= p.e2 AND p.s2 <= p.e1"
            "  THEN named_struct('cnt', acc.cnt + CAST(1 AS BIGINT),"
            "   'mx', GREATEST(acc.mx,"
            "    (LEAST(p.e1, p.e2) - GREATEST(p.s1, p.s2)) DIV 86400))"
            "  ELSE acc END)"
        ).alias("_st"),
    )
    out = stats.select(
        "f_partkey",
        F.col("_st.cnt").alias("f_pairs"),
        F.col("_st.mx").alias("f_max_overlap_days"),
    )
    # zero-pair parts are dropped ABOVE the top-k (a filter below it
    # would predicate-push into the fold's Project and duplicate the
    # expansion): with ≥ top-k positive parts the limit already contains
    # only positives (they sort first on f_pairs DESC); with fewer, the
    # post-limit filter leaves exactly the positive set — both cases
    # identical to filtering first, which is what the oracle's inner
    # join spells.
    return (
        out.orderBy(F.col("f_pairs").desc(), F.col("f_partkey").asc())
        .limit(_IV_TOP)
        .filter(F.col("f_pairs") > 0)
    )


ORACLE["q_join_interval"] = f"""
    WITH li AS (
        SELECT l_partkey, l_orderkey, l_linenumber,
               CAST(epoch(l_shipdate) AS BIGINT) AS _s,
               CAST(epoch(l_shipdate)
                    + 86400 * CAST(l_quantity AS BIGINT) AS BIGINT) AS _e
        FROM lineitem
    ),
    pairs AS (
        SELECT a.l_partkey,
               LEAST(a._e, b._e) - GREATEST(a._s, b._s) AS _ov
        FROM li a JOIN li b
          ON a.l_partkey = b.l_partkey
         AND (a.l_orderkey < b.l_orderkey
              OR (a.l_orderkey = b.l_orderkey
                  AND a.l_linenumber < b.l_linenumber))
         AND a._s <= b._e AND b._s <= a._e
    )
    SELECT l_partkey AS f_partkey,
           CAST(COUNT(*) AS BIGINT) AS f_pairs,
           CAST(MAX(_ov // 86400) AS BIGINT) AS f_max_overlap_days
    FROM pairs
    GROUP BY 1
    ORDER BY f_pairs DESC, f_partkey ASC
    LIMIT {_IV_TOP}
"""
QUERIES["q_join_interval"] = q_join_interval


# ---------------------------------------------------------------------------
# KEYLESS interval-overlap join via time-slice bucketing
# ---------------------------------------------------------------------------

# slice width: 64 days in seconds. Must EXCEED the longest interval on
# either side (order windows 30 d, shipment windows ≤ 50 d via
# l_quantity ≤ 50) so every interval spans at most 2 slices — the
# explode factor is bounded by ceil(max_len/width) + 1 = 2. A power-of-
# two day count keeps the DIV integral and the arithmetic obviously
# portable.
_SLICE_SEC = 64 * 86400
_KI_YEAR_LO = "1996-01-01"
_KI_YEAR_HI = "1997-01-01"
_KI_ORDER_DAYS = 30


def q_join_interval_keyless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS interval-overlap join, ORACLE-GATED — the shape
    q_join_interval's docstring designs (VERDICT r12 missing #6): which
    1996 urgent-order fulfilment windows [orderdate, orderdate+30d]
    overlap which 1996 returned first-line shipment windows
    [shipdate, shipdate + quantity days], with NO shared key between
    the two interval sets. Output: per calendar month of the overlap
    START, the pair count, total and max overlap length in whole days
    (12 rows, full ORDER BY). All arithmetic is integer unix seconds
    (`epoch()`/`unix_timestamp`, the q_join_interval discipline — no
    INTERVAL types cross the engine boundary).

    Plan (the 100 TB shape): a naive keyless overlap join is a
    nested-loop over fact×fact. Instead both sides EXPLODE to the
    64-day time slices their interval spans (≤ 2 slice keys each, the
    slice width exceeds the longest interval) and equi-join ON THE
    SLICE — Catalyst gives the ordinary shuffled equi-join, partitioned
    by slice, with the exact overlap predicate as a post-join refine.
    Dedup is FREE by slice ownership: a pair is kept only in the slice
    containing GREATEST(a_start, b_start); the overlap start lies
    inside both intervals, so both exploded sides cover that slice and
    the pair survives exactly once — no DISTINCT, no second shuffle.
    Slice width trades explode factor against per-slice join density;
    at 100 TB you size it near the 99th-percentile interval length and
    salt any calendar hot spot. The oracle states the same result as
    the plain quadratic overlap predicate — the slice plan must be a
    pure optimization, invisible in the result."""
    w = _SLICE_SEC
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit(_KI_YEAR_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_KI_YEAR_HI).cast("timestamp"))
        )
        .select(
            F.expr("CAST(unix_timestamp(o_orderdate) AS BIGINT)").alias("_as")
        )
        .withColumn(
            "_ae", F.col("_as") + F.lit(_KI_ORDER_DAYS * 86400).cast("long")
        )
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_returnflag") == "R")
            & (F.col("l_linenumber") == 1)
            & (F.col("l_shipdate") >= F.lit(_KI_YEAR_LO).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_KI_YEAR_HI).cast("timestamp"))
        )
        .select(
            F.expr("CAST(unix_timestamp(l_shipdate) AS BIGINT)").alias("_bs"),
            F.expr(
                "CAST(unix_timestamp(l_shipdate)"
                " + 86400 * CAST(l_quantity AS BIGINT) AS BIGINT)"
            ).alias("_be"),
        )
    )
    oa = o.select(
        "_as", "_ae",
        F.explode(
            F.sequence(
                F.expr(f"_as DIV {w}"), F.expr(f"_ae DIV {w}")
            )
        ).alias("_slice"),
    )
    lb = li.select(
        "_bs", "_be",
        F.explode(
            F.sequence(
                F.expr(f"_bs DIV {w}"), F.expr(f"_be DIV {w}")
            )
        ).alias("_slice"),
    )
    pairs = (
        oa.join(lb, "_slice")
        .filter(
            (F.col("_as") <= F.col("_be"))
            & (F.col("_bs") <= F.col("_ae"))
            & (F.expr(f"GREATEST(_as, _bs) DIV {w}") == F.col("_slice"))
        )
        .select(
            F.expr("GREATEST(_as, _bs)").alias("_os"),
            F.expr(
                "(LEAST(_ae, _be) - GREATEST(_as, _bs)) DIV 86400"
            ).alias("_ov"),
        )
    )
    return (
        pairs.groupBy(
            F.expr(
                "CAST(month(timestamp_seconds(_os)) AS BIGINT)"
            ).alias("f_month")
        )
        .agg(
            F.count("*").cast("long").alias("f_pairs"),
            F.sum("_ov").cast("long").alias("f_overlap_days"),
            F.max("_ov").cast("long").alias("f_max_overlap_days"),
        )
        .orderBy("f_month")
    )


ORACLE["q_join_interval_keyless"] = f"""
    WITH a AS (
        SELECT CAST(epoch(o_orderdate) AS BIGINT) AS _as,
               CAST(epoch(o_orderdate) AS BIGINT)
                   + {_KI_ORDER_DAYS} * 86400 AS _ae
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND o_orderdate >= TIMESTAMP '{_KI_YEAR_LO}'
          AND o_orderdate < TIMESTAMP '{_KI_YEAR_HI}'
    ),
    b AS (
        SELECT CAST(epoch(l_shipdate) AS BIGINT) AS _bs,
               CAST(epoch(l_shipdate) AS BIGINT)
                   + 86400 * CAST(l_quantity AS BIGINT) AS _be
        FROM lineitem
        WHERE l_returnflag = 'R'
          AND l_linenumber = 1
          AND l_shipdate >= TIMESTAMP '{_KI_YEAR_LO}'
          AND l_shipdate < TIMESTAMP '{_KI_YEAR_HI}'
    ),
    pairs AS (
        SELECT GREATEST(_as, _bs) AS _os,
               (LEAST(_ae, _be) - GREATEST(_as, _bs)) // 86400 AS _ov
        FROM a JOIN b ON _as <= _be AND _bs <= _ae
    )
    SELECT CAST(month(make_timestamp(_os * 1000000)) AS BIGINT) AS f_month,
           CAST(COUNT(*) AS BIGINT) AS f_pairs,
           CAST(SUM(_ov) AS BIGINT) AS f_overlap_days,
           CAST(MAX(_ov) AS BIGINT) AS f_max_overlap_days
    FROM pairs
    GROUP BY 1
    ORDER BY f_month
"""
QUERIES["q_join_interval_keyless"] = q_join_interval_keyless


def q_join_interval_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS interval join with a DATA-DRIVEN slice width,
    ORACLE-GATED (the NOTES r13 refinement of q_join_interval_keyless,
    which fixes the width at compile time): 1995 high-priority order
    windows [orderdate, +20d] × 1995 'A'-flag first-line shipment
    windows [shipdate, +quantity d]. Before the join, ONE bounded
    2-row probe computes each side's p99 interval length
    (approx_percentile — the width is a pure plan parameter, ANY value
    yields the same result, so the probe needs no cross-engine
    exactness) and the slice width becomes the next power-of-two day
    count ≥ max(p99_a, p99_b, 1 day). The explode uses
    ``sequence(start DIV w, end DIV w)``, which is correct for EVERY
    width — intervals longer than the slice just span more slices —
    so the adaptive width only tunes the explode-factor/density
    trade-off; slice ownership of GREATEST(start_a, start_b) still
    dedups for free. The oracle states the plain quadratic overlap
    predicate: the adaptive plan must be invisible in the result.

    Scale: this is the 100-TB sizing discipline the keyless key's
    docstring prescribes, executed — the probe is two partial-merge
    percentile aggregates collapsing to ONE driver-side integer (never
    data on the driver), and the join is the same slice-partitioned
    equi-join."""
    lo, hi = "1995-01-01", "1996-01-01"
    a_days = 20
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "2-HIGH")
            & (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
        )
        .select(
            F.expr("CAST(unix_timestamp(o_orderdate) AS BIGINT)").alias("_as")
        )
        .withColumn("_ae", F.col("_as") + F.lit(a_days * 86400).cast("long"))
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_returnflag") == "A")
            & (F.col("l_linenumber") == 1)
            & (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
        )
        .select(
            F.expr("CAST(unix_timestamp(l_shipdate) AS BIGINT)").alias("_bs"),
            F.expr(
                "CAST(unix_timestamp(l_shipdate)"
                " + 86400 * CAST(l_quantity AS BIGINT) AS BIGINT)"
            ).alias("_be"),
        )
    )
    # the width probe: p99 interval length per side, ONE row each
    p99_a = a_days * 86400  # side A is a constant-width window
    row = li.agg(
        F.expr("approx_percentile(_be - _bs, 0.99)").alias("_p")
    ).collect()[0]
    p99_b = int(row["_p"] or 0)
    need_days = max((max(p99_a, p99_b) + 86399) // 86400, 1)
    w_days = 1
    while w_days < need_days:
        w_days *= 2
    w = w_days * 86400
    oa = o.select(
        "_as", "_ae",
        F.explode(
            F.sequence(F.expr(f"_as DIV {w}"), F.expr(f"_ae DIV {w}"))
        ).alias("_slice"),
    )
    lb = li.select(
        "_bs", "_be",
        F.explode(
            F.sequence(F.expr(f"_bs DIV {w}"), F.expr(f"_be DIV {w}"))
        ).alias("_slice"),
    )
    pairs = (
        oa.join(lb, "_slice")
        .filter(
            (F.col("_as") <= F.col("_be"))
            & (F.col("_bs") <= F.col("_ae"))
            & (F.expr(f"GREATEST(_as, _bs) DIV {w}") == F.col("_slice"))
        )
        .select(
            F.expr("GREATEST(_as, _bs)").alias("_os"),
            F.expr(
                "(LEAST(_ae, _be) - GREATEST(_as, _bs)) DIV 86400"
            ).alias("_ov"),
        )
    )
    return (
        pairs.groupBy(
            F.expr(
                "CAST(month(timestamp_seconds(_os)) AS BIGINT)"
            ).alias("f_month")
        )
        .agg(
            F.count("*").cast("long").alias("f_pairs"),
            F.sum("_ov").cast("long").alias("f_overlap_days"),
            F.max("_ov").cast("long").alias("f_max_overlap_days"),
        )
        .orderBy("f_month")
    )


ORACLE["q_join_interval_adaptive"] = """
    WITH a AS (
        SELECT CAST(epoch(o_orderdate) AS BIGINT) AS _as,
               CAST(epoch(o_orderdate) AS BIGINT) + 20 * 86400 AS _ae
        FROM orders
        WHERE o_orderpriority = '2-HIGH'
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
    ),
    b AS (
        SELECT CAST(epoch(l_shipdate) AS BIGINT) AS _bs,
               CAST(epoch(l_shipdate) AS BIGINT)
                   + 86400 * CAST(l_quantity AS BIGINT) AS _be
        FROM lineitem
        WHERE l_returnflag = 'A'
          AND l_linenumber = 1
          AND l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
    ),
    pairs AS (
        SELECT GREATEST(_as, _bs) AS _os,
               (LEAST(_ae, _be) - GREATEST(_as, _bs)) // 86400 AS _ov
        FROM a JOIN b ON _as <= _be AND _bs <= _ae
    )
    SELECT CAST(month(make_timestamp(_os * 1000000)) AS BIGINT) AS f_month,
           CAST(COUNT(*) AS BIGINT) AS f_pairs,
           CAST(SUM(_ov) AS BIGINT) AS f_overlap_days,
           CAST(MAX(_ov) AS BIGINT) AS f_max_overlap_days
    FROM pairs
    GROUP BY 1
    ORDER BY f_month
"""
QUERIES["q_join_interval_adaptive"] = q_join_interval_adaptive


# ---------------------------------------------------------------------------
# Cohort lifetime-value rollup (cohort × months-since revenue matrix)
# ---------------------------------------------------------------------------


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT LIFETIME-VALUE MATRIX, ORACLE-GATED — customers cohorted
    by FIRST-order month, revenue rolled up by (cohort_month,
    months_since_cohort) with active-customer counts and the running
    cumulative LTV per cohort. q_retention's revenue-weighted sibling:
    retention counts who came back, LTV sums what they spent. Months
    arithmetic is pure integers — (year·12 + month) deltas, identical
    both engines (Spark months_between returns DOUBLE and is never
    used). Revenue rides integer cents; cum sums stay BIGINT/HUGEINT.

    Scale: the first-order month per customer is a window MIN over the
    customer partition — ONE exchange on o_custkey, no self-join; the
    rollup aggregate is map-side combinable onto a calendar²-bounded
    key (cohort months × months-since ≤ ~84² at any SF); the cumulative
    window runs over that bounded frame partitioned by cohort."""
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate")).alias("_m"),
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "_y"
        ),
    ).withColumn(
        "_cm", F.min("_m").over(Window.partitionBy("o_custkey"))
    )
    cohort = base.groupBy("_cm", "_m").agg(
        F.countDistinct("o_custkey").cast("long").alias("f_active"),
        F.sum("_y").cast("long").alias("f_rev_cents"),
    ).select(
        F.col("_cm").alias("f_cohort_month"),
        F.expr(
            "CAST((year(_m) - year(_cm)) * 12 + (month(_m) - month(_cm))"
            " AS BIGINT)"
        ).alias("f_months_since"),
        "f_active",
        "f_rev_cents",
    )
    w = (
        Window.partitionBy("f_cohort_month")
        .orderBy("f_months_since")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cohort.select(
        "f_cohort_month",
        "f_months_since",
        "f_active",
        "f_rev_cents",
        F.sum("f_rev_cents").over(w).cast("long").alias("f_cum_cents"),
    ).orderBy("f_cohort_month", "f_months_since")


ORACLE["q_cohort_ltv"] = """
    WITH base AS (
        SELECT o_custkey,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS _m,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS _y,
               MIN(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP))
                   OVER (PARTITION BY o_custkey) AS _cm
        FROM orders
    ),
    cohort AS (
        SELECT _cm AS f_cohort_month,
               CAST((year(_m) - year(_cm)) * 12
                    + (month(_m) - month(_cm)) AS BIGINT)
                   AS f_months_since,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS f_active,
               CAST(SUM(_y) AS BIGINT) AS f_rev_cents
        FROM base GROUP BY 1, 2
    )
    SELECT f_cohort_month, f_months_since, f_active, f_rev_cents,
           CAST(SUM(f_rev_cents) OVER (
                PARTITION BY f_cohort_month ORDER BY f_months_since
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS f_cum_cents
    FROM cohort
    ORDER BY f_cohort_month, f_months_since
"""
QUERIES["q_cohort_ltv"] = q_cohort_ltv


# ---------------------------------------------------------------------------
# Sequential pattern mining: per-user event-type trigrams
# ---------------------------------------------------------------------------

_SEQ_MIN_SUP = 5
_SEQ_TOP = 20


def q_seq_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL PATTERN MINING (PrefixSpan-lite), ORACLE-GATED — the
    top-20 event-type TRIGRAMS across all per-user event sequences
    (ordered by ts with event_id tiebreak), support ≥ 5. The
    what-do-users-do-next probe behind q_event_transitions (bigram
    Markov) — trigrams catch the funnel shapes bigrams blur. NULL
    propagation is load-bearing: Spark ``concat`` (NOT concat_ws, which
    SKIPS nulls and would fabricate truncated grams at sequence tails)
    matches SQL ``||`` — a tail row with fewer than 2 successors yields
    NULL and is filtered on both engines. LIMIT carries the full
    deterministic ORDER BY (support DESC, gram ASC).

    Scale: the lead window partitions by user_id (natural key, no
    global sort); the gram aggregate is map-side combinable onto a
    type³-bounded domain (≤ 125 grams here); top-k is
    TakeOrderedAndProject."""
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        F.concat(
            F.col("event_type"),
            F.lit(">"),
            F.lead("event_type", 1).over(w),
            F.lit(">"),
            F.lead("event_type", 2).over(w),
        ).alias("f_gram")
    ).filter(F.col("f_gram").isNotNull())
    counts = g.groupBy("f_gram").agg(
        F.count("*").cast("long").alias("f_n")
    )
    return (
        counts.filter(F.col("f_n") >= _SEQ_MIN_SUP)
        .orderBy(F.col("f_n").desc(), F.col("f_gram").asc())
        .limit(_SEQ_TOP)
    )


ORACLE["q_seq_patterns"] = f"""
    WITH seq AS (
        SELECT event_type || '>' || LEAD(event_type, 1) OVER w
                   || '>' || LEAD(event_type, 2) OVER w AS f_gram
        FROM events
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT f_gram, CAST(COUNT(*) AS BIGINT) AS f_n
    FROM seq WHERE f_gram IS NOT NULL
    GROUP BY 1
    HAVING COUNT(*) >= {_SEQ_MIN_SUP}
    ORDER BY f_n DESC, f_gram ASC
    LIMIT {_SEQ_TOP}
"""
QUERIES["q_seq_patterns"] = q_seq_patterns


# ---------------------------------------------------------------------------
# Kaplan-Meier-style hazard table (user lifetime durations)
# ---------------------------------------------------------------------------


def q_hazard_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER-STYLE HAZARD TABLE, ORACLE-GATED — per user-lifetime
    duration d (days between first and last event, inclusive): the
    number of users whose observed lifetime ENDS at d (events), the
    risk set (users with lifetime ≥ d, the reverse cumulative), and the
    discrete hazard in ppm (events·1e6 DIV at_risk). The churn/survival
    table behind q_retention's cohort counts — survival-curve PRODUCTS
    are deliberately not emitted (Π(1−h_i) has no exact cross-engine
    spelling; consumers derive it from the hazard column). Durations
    ride pure integer day arithmetic (unix_timestamp DIV 86400 — never
    a ts cast).

    Scale: one combinable (min, max) agg per user (the only
    corpus-sized stage), then a combinable histogram onto the duration
    domain — bounded by the CALENDAR span, not the corpus — and a
    reverse cumulative window over that bounded frame."""
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    dur = e.groupBy("user_id").agg(
        F.expr(
            "CAST(max(unix_timestamp(date_trunc('day', ts)) DIV 86400)"
            " - min(unix_timestamp(date_trunc('day', ts)) DIV 86400)"
            " + 1 AS BIGINT)"
        ).alias("_d")
    )
    hist = checkpoint(
        dur.groupBy("_d").agg(F.count("*").cast("long").alias("f_events"))
    )
    w = Window.orderBy(F.col("_d").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        F.col("_d").alias("f_dur_days"),
        F.sum("f_events").over(w).cast("long").alias("f_at_risk"),
        "f_events",
    ).select(
        "f_dur_days",
        "f_at_risk",
        "f_events",
        F.expr(
            "CAST(f_events * 1000000 DIV f_at_risk AS BIGINT)"
        ).alias("f_hazard_ppm"),
    ).orderBy("f_dur_days")


ORACLE["q_hazard_km"] = """
    WITH dur AS (
        -- day-truncate BEFORE epoch: DuckDB epoch(ts) is a fractional
        -- DOUBLE (and // does not floor doubles) where Spark
        -- unix_timestamp truncates to whole seconds — raw epoch(ts)
        -- day arithmetic diverges at day boundaries
        SELECT user_id,
               CAST(MAX(CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400)
                    - MIN(CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400)
                    + 1 AS BIGINT) AS _d
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    hist AS (
        SELECT _d, CAST(COUNT(*) AS BIGINT) AS f_events
        FROM dur GROUP BY 1
    ),
    km AS (
        SELECT _d AS f_dur_days,
               CAST(SUM(f_events) OVER (ORDER BY _d DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS f_at_risk,
               f_events
        FROM hist
    )
    SELECT f_dur_days, f_at_risk, f_events,
           CAST(f_events * 1000000 // f_at_risk AS BIGINT)
               AS f_hazard_ppm
    FROM km
    ORDER BY f_dur_days
"""
QUERIES["q_hazard_km"] = q_hazard_km


# ---------------------------------------------------------------------------
# Time-to-convert distribution (signup → first purchase latency)
# ---------------------------------------------------------------------------


def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TO-CONVERT DISTRIBUTION, ORACLE-GATED — for users whose
    first signup precedes (or equals) their first purchase: conversion
    count and the exact interpolated median / p90 signup→purchase
    latency in seconds. The funnel-LATENCY summary beside q_funnel's
    step counts (how MANY convert) — this is how FAST they convert.
    Portability: Spark ``percentile`` ≡ DuckDB ``quantile_cont``
    (identical interpolation, bit-exact — the q_percentile precedent)
    over exact integer seconds; NULL deltas (non-converters) are
    ignored by both engines' percentile.

    Scale: ONE map-side-combinable conditional-min agg per user, then
    a single global percentile over the user frame (Spark's percentile
    is a partial-merge aggregate, not a sort)."""
    e = read_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.expr(
            "min(CASE WHEN event_type = 'signup'"
            " THEN unix_timestamp(ts) END)"
        ).alias("_s"),
        F.expr(
            "min(CASE WHEN event_type = 'purchase'"
            " THEN unix_timestamp(ts) END)"
        ).alias("_p"),
    )
    deltas = per_user.filter(F.col("_s").isNotNull()).select(
        F.expr(
            "CASE WHEN _p IS NOT NULL AND _p >= _s"
            " THEN CAST(_p - _s AS BIGINT) END"
        ).alias("_dt")
    )
    return deltas.agg(
        F.count("*").cast("long").alias("f_signup_users"),
        F.count("_dt").cast("long").alias("f_converters"),
        F.percentile(F.col("_dt"), F.lit(0.5)).alias("f_median_s"),
        F.percentile(F.col("_dt"), F.lit(0.9)).alias("f_p90_s"),
    )


ORACLE["q_time_to_convert"] = """
    WITH per_user AS (
        SELECT user_id,
               -- FLOOR(epoch) == Spark's whole-second unix_timestamp
               MIN(CASE WHEN event_type = 'signup'
                   THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END) AS _s,
               MIN(CASE WHEN event_type = 'purchase'
                   THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END) AS _p
        FROM events GROUP BY 1
    ),
    deltas AS (
        SELECT CASE WHEN _p IS NOT NULL AND _p >= _s
                    THEN CAST(_p - _s AS BIGINT) END AS _dt
        FROM per_user WHERE _s IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS f_signup_users,
           CAST(COUNT(_dt) AS BIGINT) AS f_converters,
           quantile_cont(_dt, 0.5) AS f_median_s,
           quantile_cont(_dt, 0.9) AS f_p90_s
    FROM deltas
"""
QUERIES["q_time_to_convert"] = q_time_to_convert
