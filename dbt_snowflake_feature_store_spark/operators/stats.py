"""Statistics query keys: moments, distribution drift, hypothesis tests,
correlation, label/feature encodings, sampling and CV splits, distinct
and membership sketches, and graph scores.

Same contract as ``sql.py``: DataFrame-first Spark implementations with
DuckDB oracle twins. Statistics are spelled in exact integer / decimal
arithmetic or in IEEE operations both engines evaluate identically
(ratios instead of logarithms, squared statistics instead of roots) so
the DuckDB replay is bit-identical; each key's docstring states its
magnitude bounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import sketches as SK
from ..functions.features import rfm_features
from ..functions.graph import pagerank_integer
from ..functions.ranks import (
    bounded_kth_smallest,
    bucketed_running_sum,
    global_drawup_scan,
    global_ntile,
    global_row_number,
    global_running_sum,
)
from ..functions.literal import literal_df
from ..functions.sketches import hdr_bucket
from ..plans.inspect import checkpoint
from ..sources.tables import read_table


QUERIES: dict = {}
ORACLE: dict[str, str] = {}


# shared SQL body for q_stats_moments: the EXACT same expression tree runs
# in Spark SQL and DuckDB (only the table identifier differs), so the
# double arithmetic after the exact sufficient statistics is bit-identical
# (IEEE ops in identical association order). The inputs are 2-decimal-place
# doubles, so ROUND(x*100) is an exact integer-valued double; all products
# and sums then happen in exact integer decimals (no double→decimal
# rounding, which differs between engines in the last micro-unit), and are
# descaled to doubles once at the end.
_MOMENTS_SQL = """
    WITH c AS (
        SELECT l_returnflag,
               CAST(ROUND(l_quantity * 100) AS DECIMAL(18,0)) AS xc,
               CAST(ROUND(l_extendedprice * 100) AS DECIMAL(18,0)) AS yc
        FROM {lineitem}
    ),
    s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(xc) AS DOUBLE) / 100 AS sx,
               CAST(SUM(xc * xc) AS DOUBLE) / 10000 AS sxx,
               CAST(SUM(yc) AS DOUBLE) / 100 AS sy,
               CAST(SUM(yc * yc) AS DOUBLE) / 10000 AS syy,
               CAST(SUM(xc * yc) AS DOUBLE) / 10000 AS sxy
        FROM c
        GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS f_n,
           sx / n AS f_mean_qty,
           (sxx - sx * sx / n) / (n - 1) AS f_var_qty,
           sqrt((sxx - sx * sx / n) / (n - 1)) AS f_std_qty,
           (sxy - sx * sy / n)
               / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
               AS f_corr_qty_price
    FROM s
"""


def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact moment statistics per group — variance, stddev, Pearson
    correlation — via decimal-exact sufficient statistics (n, Σx, Σx²,
    Σxy). Spark's var_samp/corr accumulate doubles in partition order
    (nondeterministic low bits at scale); the sufficient-statistics form
    is order-independent AND a single hash aggregate (same shuffle count),
    which is also the mergeable form incremental refresh needs.
    Scale: one shuffle on the tiny returnflag key; everything map-side."""
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_q2_lineitem")
    return spark.sql(_MOMENTS_SQL.format(lineitem="_q2_lineitem"))


ORACLE["q_stats_moments"] = _MOMENTS_SQL.format(lineitem="lineitem")
QUERIES["q_stats_moments"] = q_stats_moments


def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer features — the canonical feature-engineering recipe:
    recency (days from last order to the corpus max date — a data-
    derived anchor, never now()), frequency (order count), monetary
    (decimal-exact spend), plus ntile(4) scores per dimension with full
    ordering tiebreaks. One agg on o_custkey + three DISTRIBUTED exact
    ntiles (ranks.global_ntile: range exchange + parallel per-range
    sort — no unpartitioned Window node anywhere); the anchor is a
    broadcast scalar.

    This key pins the EXACT ntile form (the oracle needs exact quartile
    boundaries); the store-facing recipe is
    ``functions.features.rfm_features``, whose default scale path scores
    via ``quantile_bucket`` (approx-percentile thresholds + row-local
    CASE, plan-asserted sort-free in tests/test_features.py) — same
    feature, one pass, zero exchanges on the scored frame."""
    return rfm_features(read_table(spark, sf_dir, "orders"), buckets=4, exact=True)


ORACLE["q_rfm"] = """
        WITH rfm AS (
            SELECT o_custkey,
                   MAX(o_orderdate) AS last_o,
                   CAST(COUNT(*) AS BIGINT) AS f_frequency,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                       AS f_monetary
            FROM orders GROUP BY o_custkey
        ),
        anchor AS (SELECT MAX(o_orderdate) AS a FROM orders),
        scored AS (
            SELECT o_custkey,
                   CAST(DATE_DIFF('day', CAST(last_o AS DATE),
                                  CAST(anchor.a AS DATE)) AS BIGINT)
                       AS f_recency_days,
                   f_frequency, f_monetary
            FROM rfm, anchor
        )
        SELECT o_custkey, f_recency_days, f_frequency, f_monetary,
               CAST(NTILE(4) OVER (
                   ORDER BY f_recency_days ASC, o_custkey ASC
               ) AS BIGINT) AS f_r_score,
               CAST(NTILE(4) OVER (
                   ORDER BY f_frequency DESC, o_custkey ASC
               ) AS BIGINT) AS f_f_score,
               CAST(NTILE(4) OVER (
                   ORDER BY f_monetary DESC, o_custkey ASC
               ) AS BIGINT) AS f_m_score
        FROM scored
    """
QUERIES["q_rfm"] = q_rfm



def q_approx_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct-count sketches (functions/sketches.py):
    per-event-type approx distinct users from per-(type, day) sketches
    ROLLED UP across days — the incremental-refresh form (each refresh
    sketches only new days; any range query unions kilobyte sketches
    instead of rescanning events). ORACLE-GATED in bounds-check form
    (r11, VERDICT-r10 #6): the raw estimate is JVM-HLL-specific, so the
    output carries the exact count plus a flag that the rolled-up
    estimate lands within the 5% bound pytest gates
    (tests/test_sketches.py — merge algebra, layout invariance).
    DuckDB replays the flag as a literal; the exact column hash-gates
    the rollup path, which still runs to feed the flag."""
    ev = read_table(spark, sf_dir, "events")
    daily = SK.distinct_over_time(ev, "event_type", "user_id")
    est = SK.hll_rollup(daily, ["event_type"]).select(
        "event_type", F.col("approx_distinct").alias("_approx")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("f_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "f_exact",
        (
            F.abs(F.col("_approx") - F.col("f_exact")) * 100
            <= F.col("f_exact") * 5
        ).cast("int").alias("f_within_5pct"),
    )


ORACLE["q_approx_distinct_sketch"] = """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS f_exact,
           CAST(1 AS INT) AS f_within_5pct
    FROM events
    GROUP BY event_type
"""
QUERIES["q_approx_distinct_sketch"] = q_approx_distinct_sketch



def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HDR-histogram QUANTILE sketches (functions/sketches.py
    hdr_*), ORACLE-GATED: per-event-type p50/p95 of event value read
    off per-(type, day) bucket-count sketches ROLLED UP across days —
    the incremental percentile recipe (percentiles don't re-aggregate;
    bucket counts ADD, so each refresh sketches only new days and any
    date range is a SUM-merge). Unlike the hash-based HLL key this is
    pure INTEGER arithmetic — micro-unit scaling, bit-length octaves,
    shift sub-buckets — so DuckDB replays the exact buckets and the
    merge-exactness claim is hash-checked, not just pytest-asserted
    (the oracle skips the day stage entirely: rollup is additive-exact
    by construction, same counts either way).

    Scale: two map-side-combinable exchanges (day sketch + rollup);
    the quantile read is a window over ≤ ~1000 bucket rows per key —
    bounded by the bucket universe, never by data size."""
    ev = read_table(spark, sf_dir, "events")
    daily = SK.hdr_sketch_by_key(
        ev.withColumn("_fs_day", F.to_date("ts")),
        ["event_type", "_fs_day"],
        "value",
    )
    merged = SK.hdr_rollup(daily, ["event_type"])
    return SK.hdr_quantiles(merged, ["event_type"], [0.5, 0.95]).select(
        "event_type",
        F.col("n").alias("f_n"),
        F.col("p50").alias("f_p50"),
        F.col("p95").alias("f_p95"),
    )


ORACLE["q_quantile_sketch"] = """
        WITH v AS (
            SELECT event_type,
                   CAST(ROUND(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT)
                       AS mv
            FROM events
        ),
        b AS (
            SELECT event_type,
                   CASE WHEN mv < 16 THEN mv
                        ELSE (CAST(length(bin(mv)) AS BIGINT) - 4) * 16
                             + (mv >> (CAST(length(bin(mv)) AS INT) - 5))
                             - 16
                   END AS bucket
            FROM v
        ),
        sk AS (
            SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM b GROUP BY event_type, bucket
        ),
        c AS (
            SELECT event_type, bucket, cnt,
                   SUM(cnt) OVER (PARTITION BY event_type
                                  ORDER BY bucket) AS cum,
                   SUM(cnt) OVER (PARTITION BY event_type) AS n
            FROM sk
        ),
        lo AS (
            SELECT event_type, cum, n,
                   CASE WHEN bucket < 16 THEN bucket
                        ELSE ((16 + (bucket % 16)) << ((bucket // 16) - 1))
                   END AS blo
            FROM c
        )
        SELECT event_type,
               CAST(MAX(n) AS BIGINT) AS f_n,
               CAST(MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN blo END)
                    AS DOUBLE) / 1000000.0 AS f_p50,
               CAST(MIN(CASE WHEN cum >= CEIL(0.95 * n) THEN blo END)
                    AS DOUBLE) / 1000000.0 AS f_p95
        FROM lo
        GROUP BY event_type
    """
QUERIES["q_quantile_sketch"] = q_quantile_sketch


# ---------------------------------------------------------------------------
# KMV distinct sketches
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_SPACE = 1 << 32


def q_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KMV distinct-count sketches (functions/sketches.py
    kmv_*), ORACLE-GATED: distinct users per event type read off
    per-(type, day) k-minimum-hash sketches MERGED across days — the
    incremental distinct recipe with a portable estimator (unlike the
    opaque-binary HLL key q_approx_distinct_sketch, every step here is
    md5-substring + BIGINT arithmetic, so DuckDB replays the identical
    sketch and the merge-exactness is hash-checked, not just
    pytest-asserted; the oracle skips the day stage — min-k of a union
    is the min-k of the min-ks, additive-exact by construction).

    Scale: the daily stage bounds state at k rows per (type, day); the
    merge re-windows ≤ k·days rows per type. The kmv_kmin helper's
    two-stage window (sub-bucketed min-k first) keeps every window
    partition bounded — no data-sized sort anywhere. The merge skips
    the pre-distinct exchange (per-(type, h) multiplicity ≤ #days by
    construction — dense_rank staging, the r15 de-creep), and the
    estimate + k/kth-hash stats come from ONE aggregate over the
    merged sketch instead of two groupBys + a join."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    daily = SK.kmv_sketch_by_key(
        ev.withColumn("_fs_day", F.to_date("ts")),
        ["event_type", "_fs_day"],
        "user_id",
        k=_KMV_K,
    )
    merged = SK.kmv_kmin(
        daily.select("event_type", "h"),
        ["event_type"],
        k=_KMV_K,
        pre_distinct=False,
    )
    stats = merged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("f_k"),
        F.max("h").cast("long").alias("f_kth_hash"),
    )
    est = F.when(F.col("f_k") < _KMV_K, F.col("f_k")).otherwise(
        F.expr(
            f"CAST(({_KMV_K} - 1) * {_KMV_SPACE}"
            " DIV greatest(f_kth_hash, 1) AS BIGINT)"
        )
    )
    return stats.select(
        "event_type",
        "f_k",
        "f_kth_hash",
        est.cast("long").alias("f_est_distinct"),
    )


QUERIES["q_kmv_sketch"] = q_kmv_sketch


ORACLE["q_kmv_sketch"] = f"""
    WITH h AS (
        SELECT DISTINCT event_type,
               ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM events WHERE user_id IS NOT NULL
    ),
    merged AS (
        SELECT event_type, h FROM (
            SELECT event_type, h,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
            FROM h
        ) WHERE rn <= {_KMV_K}
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS f_k,
           CAST(MAX(h) AS BIGINT) AS f_kth_hash,
           CAST(CASE WHEN COUNT(*) < {_KMV_K} THEN COUNT(*)
                ELSE ({_KMV_K} - 1) * {_KMV_SPACE} // GREATEST(MAX(h), 1)
                END AS BIGINT) AS f_est_distinct
    FROM merged GROUP BY event_type
"""


def q_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV SET OPERATIONS, oracle-gated: estimated Jaccard similarity
    of the user sets behind every event-type pair, computed ONLY from
    the per-type k-minimum-hash sketches — the k smallest hashes of
    A ∪ B are a uniform sample of the union, so the fraction of them
    present in both sketches estimates |A∩B| / |A∪B| directly
    (Bar-Yossef et al. 2002). This is the shard-overlap / audience-
    overlap measure a pipeline answers WITHOUT joining raw keys.

    Scale: each sketch is ≤ k rows, so the pair stage is (#groups²/2)
    × 2k rows — group-count-sized, never data-sized; the only
    data-scale pass is building the sketches (one distinct + bounded
    windows). Jaccard is exact integer ppm: both/denom in BIGINT."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    sk = SK.kmv_sketch_by_key(ev, ["event_type"], "user_id", k=_KMV_K)

    types = sk.select("event_type").distinct()
    pairs = (
        types.alias("a")
        .join(
            types.alias("b"),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("f_a"),
            F.col("b.event_type").alias("f_b"),
        )
    )
    u = (
        F.broadcast(pairs)
        .join(
            sk,
            (F.col("event_type") == F.col("f_a"))
            | (F.col("event_type") == F.col("f_b")),
        )
        .groupBy("f_a", "f_b", "h")
        .agg(
            F.max((F.col("event_type") == F.col("f_a")).cast("int")).alias("in_a"),
            F.max((F.col("event_type") == F.col("f_b")).cast("int")).alias("in_b"),
        )
    )
    w = Window.partitionBy("f_a", "f_b").orderBy("h")
    kk = u.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= _KMV_K
    )
    return kk.groupBy("f_a", "f_b").agg(
        F.count("*").cast("long").alias("f_denom"),
        F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long"))
        .cast("long")
        .alias("f_both"),
        F.expr(
            "CAST(CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)"
            " AS BIGINT) * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("f_jaccard_ppm"),
    )


QUERIES["q_kmv_jaccard"] = q_kmv_jaccard


ORACLE["q_kmv_jaccard"] = f"""
    WITH h AS (
        SELECT DISTINCT event_type,
               ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM events WHERE user_id IS NOT NULL
    ),
    sk AS (
        SELECT event_type, h FROM (
            SELECT event_type, h,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
            FROM h
        ) WHERE rn <= {_KMV_K}
    ),
    types AS (SELECT DISTINCT event_type FROM sk),
    pairs AS (
        SELECT a.event_type AS f_a, b.event_type AS f_b
        FROM types a JOIN types b ON a.event_type < b.event_type
    ),
    u AS (
        SELECT p.f_a, p.f_b, s.h,
               MAX(CASE WHEN s.event_type = p.f_a THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN s.event_type = p.f_b THEN 1 ELSE 0 END) AS in_b
        FROM pairs p JOIN sk s
          ON s.event_type = p.f_a OR s.event_type = p.f_b
        GROUP BY p.f_a, p.f_b, s.h
    ),
    kk AS (
        SELECT f_a, f_b, in_a, in_b,
               ROW_NUMBER() OVER (PARTITION BY f_a, f_b ORDER BY h) AS rn
        FROM u
    )
    SELECT f_a, f_b,
           CAST(COUNT(*) AS BIGINT) AS f_denom,
           CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS f_both,
           CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS f_jaccard_ppm
    FROM kk WHERE rn <= {_KMV_K}
    GROUP BY f_a, f_b
"""


# ---------------------------------------------------------------------------
# Sketch-driven distribution drift
# ---------------------------------------------------------------------------

_DRIFT_SPLIT = "2024-01-16"


def q_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift per event type between two periods
    (Jan 1–15 vs Jan 16–30), oracle-gated — computed ENTIRELY from
    HDR-sketch bucket counts (functions/sketches.py hdr_bucket), the
    way a monitoring job reads materialized per-period sketches instead
    of re-scanning raw history. Two metrics, both transcendental-free
    so the DuckDB replay is bit-identical: total-variation distance
    ½·Σ|p−q| and the chi-square divergence Σ(p−q)²/q, with add-one
    smoothing over the union bucket set (q > 0 guaranteed). Per-bucket
    terms are floor-rounded to ppb (BIGINT) before summing — the sum
    is then order-independent and exact cross-engine (a raw DOUBLE sum
    would be reduction-order-dependent).

    The ln-based PSI is deliberately NOT the spelling: ln is not
    correctly-rounded in every runtime, and chi² is a first-order
    equivalent drift signal with exact arithmetic.

    Scale: one map-side-combinable exchange to (type, period, bucket)
    counts — bucket universe ≤ ~1000 rows per type regardless of data
    size; the per-type totals window runs over those bounded rows."""
    ev = read_table(spark, sf_dir, "events")
    mv = F.round(F.col("value").cast("double") * F.lit(1000000.0)).cast("long")
    d = ev.select(
        "event_type",
        (F.col("ts") >= F.lit(_DRIFT_SPLIT).cast("timestamp"))
        .cast("int")
        .alias("_p"),
        mv.alias("_mv"),
    ).select("event_type", "_p", hdr_bucket("_mv").alias("bucket"))
    bc = d.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("_p") == 0, 1).otherwise(0)).cast("long").alias("c0"),
        F.sum(F.when(F.col("_p") == 1, 1).otherwise(0)).cast("long").alias("c1"),
    )
    w = Window.partitionBy("event_type")
    t = (
        bc.withColumn("nb", F.count("*").over(w))
        .withColumn("n0", F.sum("c0").over(w))
        .withColumn("n1", F.sum("c1").over(w))
    )
    # identical literal SQL on both engines: every step is one
    # correctly-rounded IEEE op, then floor to ppb BIGINT per term
    t = t.withColumn(
        "pp",
        F.expr("CAST(c0 + 1 AS DOUBLE) / CAST(n0 + nb AS DOUBLE)"),
    ).withColumn(
        "qq",
        F.expr("CAST(c1 + 1 AS DOUBLE) / CAST(n1 + nb AS DOUBLE)"),
    )
    t = t.withColumn(
        "tvd_term",
        F.expr("CAST(floor(abs(pp - qq) / 2 * 1000000000.0 + 0.5) AS BIGINT)"),
    ).withColumn(
        "chi_term",
        F.expr(
            "CAST(floor((pp - qq) * (pp - qq) / qq * 1000000000.0 + 0.5)"
            " AS BIGINT)"
        ),
    )
    return t.groupBy("event_type").agg(
        F.max("n0").cast("long").alias("f_n0"),
        F.max("n1").cast("long").alias("f_n1"),
        F.max("nb").cast("long").alias("f_buckets"),
        F.sum("tvd_term").cast("long").alias("f_tvd_ppb"),
        F.sum("chi_term").cast("long").alias("f_chi_ppb"),
    )


QUERIES["q_feature_drift"] = q_feature_drift


ORACLE["q_feature_drift"] = f"""
    WITH v AS (
        SELECT event_type,
               CASE WHEN ts >= TIMESTAMP '{_DRIFT_SPLIT}' THEN 1 ELSE 0 END AS p,
               CAST(ROUND(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT) AS mv
        FROM events
    ),
    b AS (
        SELECT event_type, p,
               CASE WHEN mv < 16 THEN mv
                    ELSE (CAST(length(bin(mv)) AS BIGINT) - 4) * 16
                         + (mv >> (CAST(length(bin(mv)) AS INT) - 5)) - 16
               END AS bucket
        FROM v
    ),
    bc AS (
        SELECT event_type, bucket,
               CAST(SUM(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
               CAST(SUM(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        FROM b GROUP BY event_type, bucket
    ),
    t AS (
        SELECT event_type, c0, c1,
               COUNT(*) OVER (PARTITION BY event_type) AS nb,
               SUM(c0) OVER (PARTITION BY event_type) AS n0,
               SUM(c1) OVER (PARTITION BY event_type) AS n1
        FROM bc
    ),
    pq AS (
        SELECT event_type, n0, n1, nb,
               CAST(c0 + 1 AS DOUBLE) / CAST(n0 + nb AS DOUBLE) AS pp,
               CAST(c1 + 1 AS DOUBLE) / CAST(n1 + nb AS DOUBLE) AS qq
        FROM t
    )
    SELECT event_type,
           CAST(MAX(n0) AS BIGINT) AS f_n0,
           CAST(MAX(n1) AS BIGINT) AS f_n1,
           CAST(MAX(nb) AS BIGINT) AS f_buckets,
           CAST(SUM(CAST(floor(abs(pp - qq) / 2 * 1000000000.0 + 0.5)
                AS BIGINT)) AS BIGINT) AS f_tvd_ppb,
           CAST(SUM(CAST(floor((pp - qq) * (pp - qq) / qq * 1000000000.0 + 0.5)
                AS BIGINT)) AS BIGINT) AS f_chi_ppb
    FROM pq GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Pairwise Pearson correlation of per-type daily series
# ---------------------------------------------------------------------------


def q_event_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between event types' daily-total
    series, ORACLE-GATED — the cross-feature co-movement matrix a
    feature platform reports. Transcendental-free exact arithmetic:
    daily totals round half-up to whole BIGINT units (corr is
    scale-invariant, and whole units keep every sum of products below
    2⁵³ so the one DOUBLE division chain at the end is bit-identical
    cross-engine); variance/covariance use the n·Σxy − Σx·Σy integer
    form; square roots take the repo's portable micro-sqrt spelling
    floor(sqrt(v)·1e6 + 0.5) (IEEE sqrt is correctly rounded —
    deterministic, unlike ln).

    Scale: the series aggregate is one map-side-combinable exchange to
    (type, day) — calendar-bounded output; the pair join runs on that
    bounded table (types × days), never on raw events; the moment
    aggregation is again map-side combinable on the tiny pair key."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("_d")).agg(
        F.expr(
            "CAST(floor(SUM(CAST(value AS DECIMAL(28,6))) + 0.5) AS BIGINT)"
        ).alias("_x")
    )
    j = (
        daily.alias("a")
        .join(
            daily.alias("b"),
            (F.col("a._d") == F.col("b._d"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .select(
            F.col("a.event_type").alias("f_a"),
            F.col("b.event_type").alias("f_b"),
            F.col("a._x").alias("x"),
            F.col("b._x").alias("y"),
        )
    )
    m = j.groupBy("f_a", "f_b").agg(
        F.count("*").cast("long").alias("f_n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("x * y")).cast("long").alias("sxy"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
        F.sum(F.expr("y * y")).cast("long").alias("syy"),
    )
    m = (
        m.withColumn("num", F.expr("f_n * sxy - sx * sy"))
        .withColumn("va", F.expr("f_n * sxx - sx * sx"))
        .withColumn("vb", F.expr("f_n * syy - sy * sy"))
        .filter("va > 0 AND vb > 0")
        .withColumn(
            "sa",
            F.expr(
                "CAST(floor(sqrt(CAST(va AS DOUBLE)) * 1000000.0 + 0.5)"
                " AS BIGINT)"
            ),
        )
        .withColumn(
            "sb",
            F.expr(
                "CAST(floor(sqrt(CAST(vb AS DOUBLE)) * 1000000.0 + 0.5)"
                " AS BIGINT)"
            ),
        )
    )
    return m.select(
        "f_a",
        "f_b",
        "f_n",
        F.expr(
            "CAST(floor(CAST(num AS DOUBLE) * 1000000000000.0"
            " / CAST(sa AS DOUBLE) / CAST(sb AS DOUBLE)"
            " * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("f_corr_ppm"),
    )


QUERIES["q_event_corr"] = q_event_corr


ORACLE["q_event_corr"] = """
    WITH daily AS (
        SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
               CAST(floor(SUM(CAST(value AS DECIMAL(28,6))) + 0.5) AS BIGINT)
                   AS x
        FROM events GROUP BY 1, 2
    ),
    j AS (
        SELECT a.event_type AS f_a, b.event_type AS f_b,
               a.x AS x, b.x AS y
        FROM daily a JOIN daily b
          ON a.d = b.d AND a.event_type < b.event_type
    ),
    m AS (
        SELECT f_a, f_b,
               CAST(COUNT(*) AS BIGINT) AS f_n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM j GROUP BY f_a, f_b
    ),
    v AS (
        SELECT f_a, f_b, f_n,
               f_n * sxy - sx * sy AS num,
               f_n * sxx - sx * sx AS va,
               f_n * syy - sy * sy AS vb
        FROM m
    ),
    s AS (
        SELECT f_a, f_b, f_n, num,
               CAST(floor(sqrt(CAST(va AS DOUBLE)) * 1000000.0 + 0.5)
                    AS BIGINT) AS sa,
               CAST(floor(sqrt(CAST(vb AS DOUBLE)) * 1000000.0 + 0.5)
                    AS BIGINT) AS sb
        FROM v WHERE va > 0 AND vb > 0
    )
    SELECT f_a, f_b, f_n,
           CAST(floor(CAST(num AS DOUBLE) * 1000000000000.0
                / CAST(sa AS DOUBLE) / CAST(sb AS DOUBLE)
                * 1000000.0 + 0.5) AS BIGINT) AS f_corr_ppm
    FROM s
"""


# ---------------------------------------------------------------------------
# Integer PageRank over the nation trade graph
# ---------------------------------------------------------------------------

_PR_ITERS = 10
_PR_SCALE = 10**9


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (10 iterations, d=0.85) over the nation trade
    graph — edge (customer nation → supplier nation) weighted by line
    count — ORACLE-GATED: functions/graph.pagerank_integer runs in
    ppb-integer arithmetic (per-edge floor-divided contributions,
    integer damping), so the fixed-iteration result is bit-identical
    to DuckDB replaying the SAME recurrence as ten unrolled CTE
    stages. An ITERATIVE GRAPH ALGORITHM under the hash gate — the
    family (alongside connected components, whose oracle is a
    recursive CTE) that double-precision implementations can never
    gate, because float contribution sums are reduction-order-
    dependent.

    Scale: the edge build is the data-scale part (two fact joins and
    one map-side-combinable agg to the nation-pair key); customer and
    supplier are SF-proportional, so their joins carry NO broadcast
    hint — AQE size-checks them at runtime instead of a forced hint
    that would be honored at 100 TB; only the 25-row nation name join
    is hinted. PageRank then iterates on the GRAPH-sized frame (nodes
    + edges, not events) with one shuffle per round, lineage cut per
    round."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count("*").cast("long").alias("w"))
    )
    r = pagerank_integer(
        edges, iterations=_PR_ITERS, scale=_PR_SCALE, damping_pct=85
    )
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return r.join(F.broadcast(n), r.node == n.n_nationkey).select(
        F.col("n_name").alias("f_nation"),
        F.col("r").alias("f_rank_ppb"),
    )


QUERIES["q_pagerank"] = q_pagerank


def _pagerank_oracle() -> str:
    stages = []
    for i in range(1, _PR_ITERS + 1):
        stages.append(
            f"""
    it{i} AS (
        SELECT n.node,
               CAST((CAST(15 AS BIGINT) * {_PR_SCALE}) // (nn.n * 100)
                    + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
        FROM nodes n CROSS JOIN nn
        LEFT JOIN (
            SELECT e.dst AS node, SUM((p.r * e.w) // e.ow) AS s
            FROM it{i - 1} p JOIN e ON e.src = p.node
            GROUP BY e.dst
        ) c ON c.node = n.node
    )"""
        )
    return f"""
    WITH edges AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ),
    outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src),
    e AS (SELECT edges.src, edges.dst, edges.w, outw.ow
          FROM edges JOIN outw USING (src)),
    nodes AS (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges
            UNION SELECT dst AS node FROM edges
        )
    ),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    it0 AS (SELECT node, CAST({_PR_SCALE} // nn.n AS BIGINT) AS r
            FROM nodes, nn),{",".join(stages)}
    SELECT na.n_name AS f_nation, p.r AS f_rank_ppb
    FROM it{_PR_ITERS} p JOIN nation na ON na.n_nationkey = p.node
"""


ORACLE["q_pagerank"] = _pagerank_oracle()


# ---------------------------------------------------------------------------
# Relational Bloom filter — build (bit_or agg) + probe (broadcast join)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 16384
_BLOOM_WORD = 32  # bits per word: max shift 31 — DuckDB << overflows at 63
_BLOOM_D = 3


def q_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership in PURE RELATIONAL form, ORACLE-GATED:
    build a 16384-bit / 3-hash Bloom filter over the distinct word-8-
    grams of the benchmark slice (``doc_id % 10 == 0`` — the
    q_contamination holdout convention), probe every distinct 8-gram of
    the REST of the corpus against it, and report the confusion
    counts — including ``f_missed``, which the Bloom guarantee pins to
    0 (no false negatives, hash-checked, not just asserted). True
    members exist (the corpus carries cross-slice near-dups) and so do
    false positives (the filter is sized for a measurable FPR), so
    every output cell is informative.

    The filter is a (word, bits) table: bit position = salted-md5 hash
    mod 16384, split into 512 × 32-bit words (32-bit words because a
    ``1 << 63`` overflows DuckDB's BIGINT shift — NOTES invariant),
    built with a map-side-combinable ``bit_or`` aggregation. The probe
    joins the 512-row sketch BROADCAST and checks all 3 bits.

    Scale: this is the semi-join prefilter a decontamination pass runs
    BEFORE q_contamination's exact gram join — at 100 TB the benchmark
    scan reduces to a KB-scale bitmask that ships to every executor,
    and the exact join runs only on Bloom positives (the FPR is the
    wasted-work rate, reported as data). Build and probe are each one
    pass, no data-scale shuffle beyond the distinct."""
    d = read_table(spark, sf_dir, "documents")
    toks8 = d.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    )
    # the <8-token gate rides INSIDE the gram expression (empty array ->
    # explode emits nothing — identical rows to a filter): a standalone
    # filter(size(t) >= 8) is predicate-pushed below the Project and
    # re-evaluates the split per row (r18 §4.4-class fix)
    grams = toks8.select(
        "doc_id",
        F.explode(
            F.expr(
                "IF(size(t) >= 8,"
                " array_distinct(transform(sequence(0, size(t) - 8),"
                " i -> array_join(slice(t, i + 1, 8), ' '))),"
                " array())"
            )
        ).alias("tok"),
    )
    member = grams.filter(F.col("doc_id") % 10 == 0).select("tok").distinct()
    cand = grams.filter(F.col("doc_id") % 10 != 0).select("tok").distinct()
    salts = literal_df(spark, [(i,) for i in range(_BLOOM_D)], "s INT")

    bitpos = F.expr(
        "CAST(conv(substring(md5(concat('bloom', CAST(s AS STRING), ':',"
        f" tok)), 1, 8), 16, 10) AS BIGINT) % {_BLOOM_BITS}"
    )

    def hashed(df: DataFrame) -> DataFrame:
        # _bit is spelled NON-NULLABLE (r18): a nullable _bit makes the
        # probe join infer isnotnull on the derived word column, and
        # the pushed constraint re-evaluates the md5 chain per
        # (tok, salt) row. tok is never NULL by construction (grams are
        # concats of split output), so the 0 arm is dead.
        return (
            df.crossJoin(F.broadcast(salts))
            .withColumn("_bit", F.coalesce(bitpos, F.lit(0)))
            .select(
                "tok",
                "s",
                # word/mask coalesced non-nullable too: Divide and %
                # are always nullable in Catalyst, so an inferred
                # isnotnull(word) would re-run the md5 chain per row
                F.coalesce(
                    (F.col("_bit") / _BLOOM_WORD).cast("long"), F.lit(0)
                ).alias("word"),
                F.coalesce(
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT),"
                        f" CAST(_bit % {_BLOOM_WORD} AS INT))"
                    ),
                    F.lit(0),
                ).alias("mask"),
            )
        )

    bloom = hashed(member).groupBy("word").agg(
        F.expr("bit_or(mask)").alias("bw")
    )
    probe = (
        hashed(cand)
        .join(F.broadcast(bloom), "word", "left")
        .groupBy("tok")
        .agg(
            F.min(
                (
                    F.coalesce(F.col("bw"), F.lit(0)).bitwiseAND(F.col("mask"))
                    == F.col("mask")
                ).cast("int")
            ).alias("_pos")
        )
    )
    truth = member.select(F.col("tok"), F.lit(1).alias("_mem"))
    joined = probe.join(truth, "tok", "left").select(
        "tok", "_pos", F.coalesce(F.col("_mem"), F.lit(0)).alias("_mem")
    )
    return joined.agg(
        F.count("*").cast("long").alias("f_candidates"),
        F.sum("_mem").cast("long").alias("f_true_members"),
        F.sum("_pos").cast("long").alias("f_bloom_positives"),
        F.sum(
            F.when((F.col("_pos") == 1) & (F.col("_mem") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("f_false_positives"),
        F.sum(
            F.when((F.col("_pos") == 0) & (F.col("_mem") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("f_missed"),
    )


ORACLE["q_bloom_filter"] = f"""
    WITH tokd AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(t) - 6),
                   i -> array_to_string(list_slice(t, i, i + 7), ' ')
               ))) AS tok
        FROM tokd WHERE len(t) >= 8
    ),
    member AS (SELECT DISTINCT tok FROM g WHERE doc_id % 10 = 0),
    cand AS (SELECT DISTINCT tok FROM g WHERE doc_id % 10 <> 0),
    salts(s) AS (VALUES (0), (1), (2)),
    mh AS (
        SELECT tok, s,
               ('0x' || substr(md5('bloom' || CAST(s AS VARCHAR) || ':' || tok),
                               1, 8))::BIGINT % {_BLOOM_BITS} AS bit
        FROM member, salts
    ),
    bloom AS (
        SELECT bit // {_BLOOM_WORD} AS word,
               bit_or(1::BIGINT << CAST(bit % {_BLOOM_WORD} AS INT)) AS bw
        FROM mh GROUP BY bit // {_BLOOM_WORD}
    ),
    ch AS (
        SELECT tok, s,
               ('0x' || substr(md5('bloom' || CAST(s AS VARCHAR) || ':' || tok),
                               1, 8))::BIGINT % {_BLOOM_BITS} AS bit
        FROM cand, salts
    ),
    probe AS (
        SELECT ch.tok,
               MIN(CASE WHEN (COALESCE(b.bw, 0)
                              & (1::BIGINT << CAST(ch.bit % {_BLOOM_WORD} AS INT)))
                             = (1::BIGINT << CAST(ch.bit % {_BLOOM_WORD} AS INT))
                        THEN 1 ELSE 0 END) AS _pos
        FROM ch LEFT JOIN bloom b ON ch.bit // {_BLOOM_WORD} = b.word
        GROUP BY ch.tok
    ),
    joined AS (
        SELECT p.tok, p._pos,
               CASE WHEN m.tok IS NULL THEN 0 ELSE 1 END AS _mem
        FROM probe p LEFT JOIN member m ON p.tok = m.tok
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS f_candidates,
           CAST(SUM(_mem) AS BIGINT) AS f_true_members,
           CAST(SUM(_pos) AS BIGINT) AS f_bloom_positives,
           CAST(SUM(CASE WHEN _pos = 1 AND _mem = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS f_false_positives,
           CAST(SUM(CASE WHEN _pos = 0 AND _mem = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS f_missed
    FROM joined
"""
QUERIES["q_bloom_filter"] = q_bloom_filter


# ---------------------------------------------------------------------------
# KMV set-operation estimates (union / difference / containment)
# ---------------------------------------------------------------------------


def q_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV SET ALGEBRA, oracle-gated — completes q_kmv_jaccard: per
    event-type pair, estimated |A∪B| (the KMV estimator over the
    merged k-min set), |A∩B| (union estimate × the in-both fraction of
    the union sample), |A\\\\B| (inclusion–exclusion against the
    per-type estimate), and the CONTAINMENT |A∩B|/|A| in ppm — the
    asymmetric 'is shard A inside shard B' signal exact Jaccard can't
    give. Every estimator step is BIGINT multiply + DIV (the
    q_kmv_jaccard discipline), so DuckDB replays it bit-for-bit.

    Scale: sketches are ≤ k rows per type; the pair stage is group-
    count-sized. The only data-scale pass builds the per-type sketches
    (one distinct + bounded two-stage windows)."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    sk = SK.kmv_sketch_by_key(ev, ["event_type"], "user_id", k=_KMV_K)
    est = SK.kmv_estimate(sk, ["event_type"], k=_KMV_K, out_col="_est")

    types = sk.select("event_type").distinct()
    pairs = (
        types.alias("a")
        .join(types.alias("b"), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("f_a"),
            F.col("b.event_type").alias("f_b"),
        )
    )
    u = (
        F.broadcast(pairs)
        .join(
            sk,
            (F.col("event_type") == F.col("f_a"))
            | (F.col("event_type") == F.col("f_b")),
        )
        .groupBy("f_a", "f_b", "h")
        .agg(
            F.max((F.col("event_type") == F.col("f_a")).cast("int")).alias("in_a"),
            F.max((F.col("event_type") == F.col("f_b")).cast("int")).alias("in_b"),
        )
    )
    w = Window.partitionBy("f_a", "f_b").orderBy("h")
    kk = u.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= _KMV_K
    )
    agg = kk.groupBy("f_a", "f_b").agg(
        F.count("*").cast("long").alias("_denom"),
        F.max("h").cast("long").alias("_hk"),
        F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long"))
        .cast("long")
        .alias("_both"),
    )
    union_est = F.when(F.col("_denom") < _KMV_K, F.col("_denom")).otherwise(
        F.expr(
            f"CAST(({_KMV_K} - 1) * {_KMV_SPACE} DIV greatest(_hk, 1)"
            " AS BIGINT)"
        )
    )
    ea = est.select(F.col("event_type").alias("f_a"), F.col("_est").alias("_ea"))
    eb = est.select(F.col("event_type").alias("f_b"), F.col("_est").alias("_eb"))
    scored = (
        agg.withColumn("f_union_est", union_est.cast("long"))
        .withColumn(
            "f_inter_est",
            F.expr("CAST(f_union_est * _both DIV _denom AS BIGINT)"),
        )
        .join(F.broadcast(ea), "f_a")
        .join(F.broadcast(eb), "f_b")
    )
    return scored.select(
        "f_a",
        "f_b",
        "f_union_est",
        "f_inter_est",
        F.expr(
            "CAST(greatest(f_union_est - _eb, CAST(0 AS BIGINT)) AS BIGINT)"
        ).alias("f_diff_ab_est"),
        F.expr(
            "CAST(f_inter_est * 1000000 DIV greatest(_ea, 1) AS BIGINT)"
        ).alias("f_containment_a_ppm"),
    )


ORACLE["q_kmv_setops"] = f"""
    WITH h AS (
        SELECT DISTINCT event_type,
               ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM events WHERE user_id IS NOT NULL
    ),
    sk AS (
        SELECT event_type, h FROM (
            SELECT event_type, h,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
            FROM h
        ) WHERE rn <= {_KMV_K}
    ),
    est AS (
        SELECT event_type,
               CAST(CASE WHEN COUNT(*) < {_KMV_K} THEN COUNT(*)
                    ELSE ({_KMV_K} - 1) * {_KMV_SPACE} // GREATEST(MAX(h), 1)
                    END AS BIGINT) AS _est
        FROM sk GROUP BY event_type
    ),
    types AS (SELECT DISTINCT event_type FROM sk),
    pairs AS (
        SELECT a.event_type AS f_a, b.event_type AS f_b
        FROM types a JOIN types b ON a.event_type < b.event_type
    ),
    u AS (
        SELECT p.f_a, p.f_b, s.h,
               MAX(CASE WHEN s.event_type = p.f_a THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN s.event_type = p.f_b THEN 1 ELSE 0 END) AS in_b
        FROM pairs p JOIN sk s
          ON s.event_type = p.f_a OR s.event_type = p.f_b
        GROUP BY p.f_a, p.f_b, s.h
    ),
    kk AS (
        SELECT f_a, f_b, h, in_a, in_b,
               ROW_NUMBER() OVER (PARTITION BY f_a, f_b ORDER BY h) AS rn
        FROM u
    ),
    agg AS (
        SELECT f_a, f_b,
               CAST(COUNT(*) AS BIGINT) AS _denom,
               CAST(MAX(h) AS BIGINT) AS _hk,
               CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS _both
        FROM kk WHERE rn <= {_KMV_K}
        GROUP BY f_a, f_b
    ),
    scored AS (
        SELECT f_a, f_b, _denom, _both,
               CAST(CASE WHEN _denom < {_KMV_K} THEN _denom
                    ELSE ({_KMV_K} - 1) * {_KMV_SPACE} // GREATEST(_hk, 1)
                    END AS BIGINT) AS f_union_est
        FROM agg
    )
    SELECT s.f_a, s.f_b, s.f_union_est,
           CAST(s.f_union_est * s._both // s._denom AS BIGINT) AS f_inter_est,
           CAST(GREATEST(s.f_union_est - eb._est, 0) AS BIGINT)
               AS f_diff_ab_est,
           CAST((s.f_union_est * s._both // s._denom) * 1000000
                // GREATEST(ea._est, 1) AS BIGINT) AS f_containment_a_ppm
    FROM scored s
    JOIN est ea ON ea.event_type = s.f_a
    JOIN est eb ON eb.event_type = s.f_b
"""
QUERIES["q_kmv_setops"] = q_kmv_setops


# ---------------------------------------------------------------------------
# Exact Gini coefficient of spend (distributed global rank, no window)
# ---------------------------------------------------------------------------


def q_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Gini concentration of order spend, ORACLE-GATED: G =
    Σ(2·rank − n − 1)·xᵢ / (n·Σx) over cents-integer order totals
    ranked ascending — the inequality/concentration feature (revenue
    concentration, data-source dominance) whose textbook form needs a
    GLOBAL sort. The rank comes from ranks.global_row_number (range
    exchange + prefix-sum offsets — NO unpartitioned window, the
    q_vocab_coverage discipline); the weighted sum is DECIMAL(38,0)-
    exact on both engines (each term ≤ 10¹⁴·|…| — far past 2⁵³, so
    BIGINT-in-double would silently round); ties in cents contribute a
    permutation-invariant rank-sum, so the o_orderkey tiebreak affects
    no digit of the result. Cents via floor(x·100 + 0.5) both sides
    (CLAUDE.md half-up spelling)."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
        ).alias("_cents"),
    )
    ranked = global_row_number(
        o, [F.col("_cents").asc(), F.col("o_orderkey").asc()], "_r"
    )
    stats = o.groupBy().agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_cents").cast("long").alias("_total"),
    )
    num = (
        ranked.crossJoin(F.broadcast(stats))
        .select(
            (
                (F.lit(2) * F.col("_r") - F.col("_n") - F.lit(1)).cast(
                    "decimal(19,0)"
                )
                * F.col("_cents").cast("decimal(19,0)")
            ).alias("_w")
        )
        .agg(F.sum("_w").alias("_num"))
    )
    return num.crossJoin(F.broadcast(stats)).select(
        F.col("_n").alias("f_n"),
        F.col("_total").alias("f_total_cents"),
        # the division by the 1e6 literal happens COLUMN-side (Python
        # float → DOUBLE literal): inside an F.expr string "1000000.0"
        # parses as DECIMAL and would silently retype f_gini
        (
            F.expr(
                "floor(CAST(_num AS DOUBLE)"
                " / (CAST(_n AS DOUBLE) * CAST(_total AS DOUBLE))"
                " * 1000000 + 0.5)"
            )
            / 1000000.0
        ).alias("f_gini"),
    )


ORACLE["q_gini_spend"] = """
    WITH o AS (
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS _cents
        FROM orders
    ),
    ranked AS (
        SELECT _cents,
               CAST(ROW_NUMBER() OVER (ORDER BY _cents ASC, o_orderkey ASC)
                    AS BIGINT) AS _r
        FROM o
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS _n,
               CAST(SUM(_cents) AS BIGINT) AS _total
        FROM o
    ),
    num AS (
        SELECT SUM(CAST(2 * r._r - s._n - 1 AS DECIMAL(19,0))
                   * CAST(r._cents AS DECIMAL(19,0))) AS _num
        FROM ranked r CROSS JOIN stats s
    )
    SELECT s._n AS f_n, s._total AS f_total_cents,
           floor(CAST(n._num AS DOUBLE)
                 / (CAST(s._n AS DOUBLE) * CAST(s._total AS DOUBLE))
                 * 1000000 + 0.5) / 1000000.0 AS f_gini
    FROM num n CROSS JOIN stats s
"""
QUERIES["q_gini_spend"] = q_gini_spend


# ---------------------------------------------------------------------------
# Triangle counting (degree-oriented compact-forward, exact integers)
# ---------------------------------------------------------------------------

_TRI_MIN_W = 2    # co-occurrence support threshold for an edge
_TRI_TOPK = 10


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph, ORACLE-GATED —
    the local-clustering graph feature (community density, link-spam
    signals) alongside q_pagerank's global ranking. Edges = part pairs
    co-occurring in ≥ 2 orders (the support threshold that prunes the
    quadratic co-occurrence tail); the count runs the degree-oriented
    COMPACT-FORWARD algorithm: orient every edge from the lower-degree
    endpoint (ties by id) so the graph becomes a DAG whose out-degrees
    are O(√m), then count s→t→w paths closed by s→w. Each triangle is
    counted exactly once; everything is integer, so the key hash-gates.
    Output: top-10 nodes by triangle membership (each triangle credits
    all 3 corners), count-desc / id-asc.

    Scale shape: the co-occurrence build is the data-scale part — ONE
    shuffle on the order key (distinct parts per order via collect_set)
    with the per-order pair expansion ROW-LOCAL in codegen (r17: was a
    distinct projection + self-equi-join on the order key — two more
    sorted exchanges + SMJ for the identical pair stream; per-order
    part counts are schema-bounded (~4-7 parts/order at every TPC-H
    SF), so the per-row array is bounded BY THE SCHEMA), aggregated
    map-side-combinably to the pair key with the support HAVING pushed
    into the aggregate; the triangle phase runs on the SUPPORT-PRUNED
    edge list with two hash-equi-joins on node keys (the degree
    orientation is exactly what bounds the wedge fan-out on hub nodes —
    the textbook O(m^1.5) bound). No window over unbounded data, no
    cartesian join, no Python."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    # lazy checkpoints cut the lineage of the two multiply-referenced
    # frames (pairs feeds deg + the orientation; oe feeds THREE join
    # legs) — without them every leg re-executes the whole co-occurrence
    # build (the q_pagerank per-round discipline)
    byo = li.groupBy("o").agg(
        F.array_sort(F.collect_set("p")).alias("_ps")
    )
    pairs = (
        byo.select(
            F.explode(
                F.expr(
                    "flatten(transform(_ps, (x, i) ->"
                    " transform(slice(_ps, i + 2, size(_ps)),"
                    " y -> struct(x AS u, y AS v))))"
                )
            ).alias("_pr")
        )
        .groupBy(F.col("_pr.u").alias("u"), F.col("_pr.v").alias("v"))
        .agg(F.count("*").alias("_w"))
        .filter(F.col("_w") >= _TRI_MIN_W)
        .select("u", "v")
    )
    pairs = checkpoint(pairs)
    deg = (
        pairs.select(F.col("u").alias("n"))
        .unionAll(pairs.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("_d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("_d").alias("_du"))
    dv = deg.select(F.col("n").alias("v"), F.col("_d").alias("_dv"))
    fwd = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v"))
    )
    oe = (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    oe = checkpoint(oe)
    a = oe.select(F.col("s").alias("x"), F.col("t").alias("y"))
    b = oe.select(F.col("s").alias("y"), F.col("t").alias("z"))
    c = oe.select(F.col("s").alias("x"), F.col("t").alias("z"))
    tri = a.join(b, "y").join(c, ["x", "z"]).select("x", "y", "z")
    corners = (
        tri.select(F.col("x").alias("f_part"))
        .unionAll(tri.select(F.col("y").alias("f_part")))
        .unionAll(tri.select(F.col("z").alias("f_part")))
    )
    return (
        corners.groupBy("f_part")
        .agg(F.count("*").cast("long").alias("f_triangles"))
        .orderBy(F.col("f_triangles").desc(), F.col("f_part").asc())
        .limit(_TRI_TOPK)
        .select(F.col("f_part").cast("long").alias("f_part"), "f_triangles")
    )


ORACLE["q_graph_triangles"] = f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    e AS (
        SELECT a.p AS u, b.p AS v
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p HAVING COUNT(*) >= {_TRI_MIN_W}
    ),
    deg AS (
        SELECT n, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        GROUP BY n
    ),
    oe AS (
        SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                    THEN e.u ELSE e.v END AS s,
               CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                    THEN e.v ELSE e.u END AS t
        FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n
    ),
    tri AS (
        SELECT a.s AS x, a.t AS y, b.t AS z
        FROM oe a
        JOIN oe b ON a.t = b.s
        JOIN oe c ON c.s = a.s AND c.t = b.t
    ),
    corners AS (
        SELECT x AS f_part FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    )
    SELECT CAST(f_part AS BIGINT) AS f_part,
           CAST(COUNT(*) AS BIGINT) AS f_triangles
    FROM corners
    GROUP BY f_part
    ORDER BY f_triangles DESC, f_part ASC
    LIMIT {_TRI_TOPK}
"""
QUERIES["q_graph_triangles"] = q_graph_triangles


# ---------------------------------------------------------------------------
# Chi-squared association between two categorical columns (exact rational)
# ---------------------------------------------------------------------------


def q_chi2_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared association lang x source over documents,
    ORACLE-GATED — the categorical feature-selection statistic
    (is `source` informative about `lang`?). Per contingency cell:
    observed count, expected count in ppm, and the cell's chi^2
    contribution in ppm, all in EXACT arithmetic: (O - E)^2 / E =
    (O*N - R*C)^2 / (N*R*C) clears every denominator, the square runs
    in DECIMAL(38,0) (DuckDB HUGEINT) so no IEEE rounding enters, and
    the ppm scaling is integer DIV on both engines.

    Scale: one map-side-combinable groupBy over the fact table builds
    the contingency table; row/column marginals aggregate THAT table
    (category-domain-sized, not SF-proportional), so the marginal joins
    broadcast a bounded frame. DECIMAL(38,0) holds the squared term up
    to N ~ 3e7 docs at ppm scale; past that, drop the ppm factor to
    reach N ~ 1e9 or switch the contribution to DOUBLE (the gate needs
    the exact form; a 100 TB run reads the same plan with the wider
    type)."""
    d = read_table(spark, sf_dir, "documents")
    # the contingency table is referenced FOUR times (cells + three
    # marginals) — checkpoint it so the fact table scans ONCE; the
    # checkpointed frame is category-domain-sized, not SF-proportional
    obs = checkpoint(
        d.groupBy("lang", "source").agg(
            F.count("*").cast("long").alias("f_obs")
        )
    )
    rows = obs.groupBy("lang").agg(F.sum("f_obs").cast("long").alias("_R"))
    cols = obs.groupBy("source").agg(F.sum("f_obs").cast("long").alias("_C"))
    tot = obs.groupBy().agg(F.sum("f_obs").cast("long").alias("_N"))
    cell = (
        obs.join(F.broadcast(rows), "lang")
        .join(F.broadcast(cols), "source")
        .crossJoin(F.broadcast(tot))
    )
    return cell.select(
        "lang",
        "source",
        "f_obs",
        F.expr(
            "CAST(CAST(_R AS DECIMAL(19,0)) * CAST(_C AS DECIMAL(19,0))"
            " * 1000000 DIV CAST(_N AS DECIMAL(19,0)) AS BIGINT)"
        ).alias("f_exp_ppm"),
        F.expr(
            "CAST(CAST(f_obs * _N - _R * _C AS DECIMAL(19,0))"
            " * CAST(f_obs * _N - _R * _C AS DECIMAL(19,0)) * 1000000"
            " DIV (CAST(_N AS DECIMAL(19,0)) * CAST(_R AS DECIMAL(19,0))"
            " * CAST(_C AS DECIMAL(19,0))) AS BIGINT)"
        ).alias("f_contrib_ppm"),
    )


ORACLE["q_chi2_assoc"] = """
    WITH obs AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS f_obs
        FROM documents GROUP BY lang, source
    ),
    r AS (SELECT lang, CAST(SUM(f_obs) AS BIGINT) AS _R FROM obs GROUP BY lang),
    c AS (SELECT source, CAST(SUM(f_obs) AS BIGINT) AS _C FROM obs GROUP BY source),
    n AS (SELECT CAST(SUM(f_obs) AS BIGINT) AS _N FROM obs)
    SELECT obs.lang, obs.source, obs.f_obs,
           CAST(CAST(_R AS HUGEINT) * _C * 1000000 // _N AS BIGINT)
               AS f_exp_ppm,
           CAST((CAST(f_obs AS HUGEINT) * _N - CAST(_R AS HUGEINT) * _C)
                * (CAST(f_obs AS HUGEINT) * _N - CAST(_R AS HUGEINT) * _C)
                * 1000000
                // (CAST(_N AS HUGEINT) * _R * _C) AS BIGINT)
               AS f_contrib_ppm
    FROM obs
    JOIN r ON obs.lang = r.lang
    JOIN c ON obs.source = c.source
    CROSS JOIN n
"""
QUERIES["q_chi2_assoc"] = q_chi2_assoc


# ---------------------------------------------------------------------------
# m-estimate target encoding (smoothed category mean, integer cents)
# ---------------------------------------------------------------------------

_TE_M = 25  # m-estimate pseudo-count


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m-ESTIMATE TARGET ENCODING of o_orderpriority against order
    value, ORACLE-GATED: enc = (sum + m*prior) / (cnt + m) — the
    smoothed category->mean feature that replaces a high-cardinality
    one-hot in tabular models. Order totals go to integer cents via
    the half-up floor spelling; the global prior is an integer DIV
    mean; the encoding itself is one BIGINT DIV, so both engines agree
    to the last cent. f_shrink_ppm = cnt/(cnt+m) exposes how much of
    each encoding is data vs prior.

    Scale: two map-side-combinable aggregates (per-category + global)
    over the fact table; the category frame is domain-sized. BIGINT
    cents hold to ~9e16 dollars of turnover per category; a 100 TB run
    widens the sums to DECIMAL(38,0) in the same plan."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr(
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
        ).alias("_cents"),
    )
    per = o.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("f_cnt"),
        F.sum("_cents").cast("long").alias("f_sum_cents"),
    )
    g = o.groupBy().agg(
        F.expr("CAST(sum(_cents) DIV count(*) AS BIGINT)").alias(
            "f_prior_cents"
        )
    )
    return per.crossJoin(F.broadcast(g)).select(
        "o_orderpriority",
        "f_cnt",
        "f_sum_cents",
        "f_prior_cents",
        F.expr(
            f"CAST((f_sum_cents + {_TE_M} * f_prior_cents)"
            f" DIV (f_cnt + {_TE_M}) AS BIGINT)"
        ).alias("f_enc_cents"),
        F.expr(
            f"CAST(f_cnt * 1000000 DIV (f_cnt + {_TE_M}) AS BIGINT)"
        ).alias("f_shrink_ppm"),
    )


ORACLE["q_target_encode"] = f"""
    WITH o AS (
        SELECT o_orderpriority,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS _cents
        FROM orders
    ),
    per AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS f_cnt,
               CAST(SUM(_cents) AS BIGINT) AS f_sum_cents
        FROM o GROUP BY o_orderpriority
    ),
    g AS (
        SELECT CAST(SUM(_cents) // COUNT(*) AS BIGINT) AS f_prior_cents
        FROM o
    )
    SELECT o_orderpriority, f_cnt, f_sum_cents, f_prior_cents,
           CAST((f_sum_cents + {_TE_M} * f_prior_cents)
                // (f_cnt + {_TE_M}) AS BIGINT) AS f_enc_cents,
           CAST(f_cnt * 1000000 // (f_cnt + {_TE_M}) AS BIGINT)
               AS f_shrink_ppm
    FROM per CROSS JOIN g
"""
QUERIES["q_target_encode"] = q_target_encode


# ---------------------------------------------------------------------------
# Decile lift table over customer spend (distributed global ntile)
# ---------------------------------------------------------------------------


def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECILE LIFT TABLE over customer spend, ORACLE-GATED — the
    campaign-targeting table: rank customers by total spend
    descending, cut into 10 equal buckets, report each decile's share
    of total spend as lift vs a uniform decile (1e6 ppm = average).
    The decile comes from ranks.global_ntile (range exchange +
    prefix-sum offsets — NO unpartitioned window; the q_rfm / q_gini
    discipline), matching SQL NTILE(10) exactly including the
    remainder rule. The lift numerator runs in DECIMAL(25,0)
    (spend_cents * 1e7 passes 2^63 already at sf0.1) with integer DIV
    on both engines.

    Scale: one groupBy(custkey) aggregate, the P-row range-exchange
    collect, one decile aggregate. No data-proportional window."""
    spend = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))"
                " AS BIGINT)"
            ).alias("_spend_cents")
        )
    )
    deciled = global_ntile(
        spend,
        [F.col("_spend_cents").desc(), F.col("o_custkey").asc()],
        10,
        out_col="f_decile",
    )
    per = deciled.groupBy("f_decile").agg(
        F.count("*").cast("long").alias("f_customers"),
        F.sum("_spend_cents").cast("long").alias("f_spend_cents"),
    )
    tot = per.groupBy().agg(
        F.sum("f_spend_cents").cast("long").alias("_tot")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "f_decile",
        "f_customers",
        "f_spend_cents",
        F.expr(
            "CAST(CAST(f_spend_cents AS DECIMAL(25,0)) * 10000000"
            " DIV CAST(_tot AS DECIMAL(25,0)) AS BIGINT)"
        ).alias("f_lift_ppm"),
    )


ORACLE["q_decile_lift"] = """
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS _spend_cents
        FROM orders GROUP BY o_custkey
    ),
    deciled AS (
        SELECT _spend_cents,
               CAST(NTILE(10) OVER (
                   ORDER BY _spend_cents DESC, o_custkey ASC
               ) AS BIGINT) AS f_decile
        FROM spend
    ),
    per AS (
        SELECT f_decile,
               CAST(COUNT(*) AS BIGINT) AS f_customers,
               CAST(SUM(_spend_cents) AS BIGINT) AS f_spend_cents
        FROM deciled GROUP BY f_decile
    ),
    tot AS (SELECT CAST(SUM(f_spend_cents) AS BIGINT) AS _tot FROM per)
    SELECT f_decile, f_customers, f_spend_cents,
           CAST(CAST(f_spend_cents AS HUGEINT) * 10000000 // _tot AS BIGINT)
               AS f_lift_ppm
    FROM per CROSS JOIN tot
"""
QUERIES["q_decile_lift"] = q_decile_lift


# ---------------------------------------------------------------------------
# Signed feature hashing (hashing trick) over corpus tokens
# ---------------------------------------------------------------------------

_FH_BUCKETS = 64


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIGNED FEATURE HASHING (the Vowpal-Wabbit hashing trick) over
    corpus tokens, ORACLE-GATED: tok -> bucket via the portable md5
    spelling (Spark ``conv(substr(md5,1,8),16,10)`` == DuckDB
    ``('0x'||substr(md5,1,8))::BIGINT``), sign from the 9th hex digit's
    parity — the collision-cancelling +/-1 of Weinberger et al. Output
    is the per-bucket corpus profile: documents touching the bucket,
    unsigned token mass, and the signed mass a linear model would see.

    Scale: tokenize -> one (doc, tok) count (map-side combinable) ->
    bucket hash is a projection -> two keyed aggregates whose final
    key domain is the FIXED 64-bucket space. No vocabulary-sized
    shuffle key ever carries a skewed stop-word: the bucket key mixes
    them uniformly by construction — that IS the hashing trick's
    scale story."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count("*").cast("long").alias("_tf")
    )
    hashed = tf.select(
        "doc_id",
        "_tf",
        F.expr(
            "CAST(conv(substring(md5(concat('fh:', tok)), 1, 8), 16, 10)"
            f" AS BIGINT) % {_FH_BUCKETS}"
        ).alias("f_bucket"),
        F.expr(
            "CASE WHEN CAST(conv(substring(md5(concat('fh:', tok)), 9, 1),"
            " 16, 10) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END"
        ).alias("_sign"),
    )
    per_doc = hashed.groupBy("doc_id", "f_bucket").agg(
        F.sum("_tf").cast("long").alias("_mass"),
        F.sum(F.col("_sign") * F.col("_tf")).cast("long").alias("_signed"),
    )
    return per_doc.groupBy("f_bucket").agg(
        F.count("*").cast("long").alias("f_docs"),
        F.sum("_mass").cast("long").alias("f_mass"),
        F.sum("_signed").cast("long").alias("f_signed_mass"),
    )


# ---------------------------------------------------------------------------
# Exact median + MAD robust outliers (distributed rank, no global window)
# ---------------------------------------------------------------------------

_MAD_K_E4 = 44478  # 3 * 1.4826 (normal-consistency factor) at 1e4 fixed point


def q_median_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT MEDIAN + MAD robust outlier fences, ORACLE-GATED — the
    robust-statistics anomaly screen (median/MAD survives the heavy
    tails that wreck mean/stddev z-scores). Median = the lower-median
    element at rank (n+1) DIV 2 via ranks.global_row_number (range
    exchange + prefix offsets — NO unpartitioned window); MAD = the
    same rank spelling over |x − median|; a row is an outlier when
    |x − med|·10⁴ > 44478·MAD (3σ-equivalent, integer fixed point).
    Output: per-priority totals + outlier counts with the shared
    median/MAD columns — every number a BIGINT both engines replay.

    Scale (r18): both order statistics come from
    ranks.bounded_kth_smallest — two bounded histogram collects each
    over the SCHEMA-bounded cents domain (map-combinable aggregates,
    zero fact shuffles), falling back to the ranked range-exchange
    spelling above the domain gate. One final aggregate."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "_c"
        ),
    )
    # r18: both selections ride ranks.bounded_kth_smallest — the cents
    # domain is SCHEMA-bounded (o_totalprice ≤ ~$560k at any SF, so ≤
    # ~860 2^16-wide buckets; deviations are bounded by the same
    # range), and the k-th smallest VALUE ignores the tiebreak, so the
    # histogram selection equals the rank spelling exactly. Replaces
    # TWO full global-rank passes (each a sampled range exchange +
    # checkpoint + P-row collect) with four bounded map-combinable
    # histogram collects and ZERO fact shuffles. The scalars enter the
    # plan as literals — driver round-trips of schema-bounded data, the
    # bpe/pagerank bounded-collect discipline. Falls back to the rank
    # machinery if the domain gate is ever exceeded (None).
    med_v = bounded_kth_smallest(o.select("_c"), "_c")
    if med_v is None:  # over-gate fallback: the pre-r18 rank spelling
        n_row = o.groupBy().agg(F.count("*").cast("long").alias("_n"))
        ranked = global_row_number(
            o, [F.col("_c").asc(), F.col("o_orderkey").asc()],
            out_col="_rn",
        )
        med = (
            ranked.crossJoin(F.broadcast(n_row))
            .filter(F.col("_rn") == F.expr("(_n + 1) DIV 2"))
            .select(F.col("_c").alias("_med"))
        )
        dev = o.crossJoin(F.broadcast(med)).withColumn(
            "_dev", F.abs(F.col("_c") - F.col("_med"))
        )
        dev_ranked = global_row_number(
            dev, [F.col("_dev").asc(), F.col("o_orderkey").asc()],
            out_col="_rn",
        )
        mad = (
            dev_ranked.crossJoin(F.broadcast(n_row))
            .filter(F.col("_rn") == F.expr("(_n + 1) DIV 2"))
            .select(F.col("_dev").alias("_mad"))
        )
        flagged = dev.crossJoin(F.broadcast(mad))
    else:
        dev = o.withColumn(
            "_med", F.lit(int(med_v)).cast("long")
        ).withColumn("_dev", F.abs(F.col("_c") - F.col("_med")))
        mad_v = bounded_kth_smallest(dev.select("_dev"), "_dev")
        assert mad_v is not None  # deviations span ≤ the value domain
        flagged = dev.withColumn("_mad", F.lit(int(mad_v)).cast("long"))
    return flagged.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("f_n"),
        F.sum(
            (F.col("_dev") * 10000 > F.lit(_MAD_K_E4) * F.col("_mad"))
            .cast("long")
        )
        .cast("long")
        .alias("f_outliers"),
        F.max("_med").cast("long").alias("f_median_cents"),
        F.max("_mad").cast("long").alias("f_mad_cents"),
    )


ORACLE["q_median_mad"] = f"""
    WITH o AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS _c
        FROM orders
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS _n FROM o),
    med AS (
        SELECT _c AS _med FROM (
            SELECT _c, ROW_NUMBER() OVER (ORDER BY _c, o_orderkey) AS _rn
            FROM o
        ), n WHERE _rn = (_n + 1) // 2
    ),
    dev AS (
        SELECT o.o_orderkey, o.o_orderpriority, o._c,
               ABS(o._c - med._med) AS _dev, med._med
        FROM o CROSS JOIN med
    ),
    mad AS (
        SELECT _dev AS _mad FROM (
            SELECT _dev, ROW_NUMBER() OVER (ORDER BY _dev, o_orderkey) AS _rn
            FROM dev
        ), n WHERE _rn = (_n + 1) // 2
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS f_n,
           CAST(SUM(CASE WHEN _dev * 10000 > {_MAD_K_E4} * _mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS f_outliers,
           CAST(MAX(_med) AS BIGINT) AS f_median_cents,
           CAST(MAX(_mad) AS BIGINT) AS f_mad_cents
    FROM dev CROSS JOIN mad
    GROUP BY o_orderpriority
"""
QUERIES["q_median_mad"] = q_median_mad


# ---------------------------------------------------------------------------
# Temporal train/valid/test split (time-based, leakage-free)
# ---------------------------------------------------------------------------


def q_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL train/valid/test split of the event stream,
    ORACLE-GATED — the leakage-free split a forecasting/CTR pipeline
    uses instead of random sampling: boundaries at 80% / 90% of the
    observed time RANGE (integer epoch-second arithmetic, so both
    engines compute the same cut), each split summarized (events,
    distinct users, decimal-exact value sum). The range endpoints ride
    a broadcast 1-row aggregate.

    Scale: one global min/max aggregate + one map-side-combinable
    grouped aggregate over the assigned split; countDistinct expands
    to the standard two-phase partial-agg plan."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "value",
        F.unix_timestamp("ts").alias("_s"),
    )
    rng = ev.groupBy().agg(
        F.min("_s").alias("_lo"), F.max("_s").alias("_hi")
    )
    tagged = ev.crossJoin(F.broadcast(rng)).withColumn(
        "f_split",
        F.expr(
            "CASE WHEN (_s - _lo) * 10 < (_hi - _lo + 1) * 8 THEN 'train'"
            " WHEN (_s - _lo) * 10 < (_hi - _lo + 1) * 9 THEN 'valid'"
            " ELSE 'test' END"
        ),
    )
    return tagged.groupBy("f_split").agg(
        F.count("*").cast("long").alias("f_events"),
        F.countDistinct("user_id").cast("long").alias("f_users"),
        F.sum(F.col("value").cast("decimal(28,6)"))
        .cast("decimal(28,6)")
        .cast("double")
        .alias("f_value_sum"),
    )


ORACLE["q_time_split"] = """
    WITH ev AS (
        -- FLOOR before the cast: epoch() keeps the microsecond fraction
        -- and ::BIGINT would ROUND, while Spark unix_timestamp() floors
        SELECT user_id, value, CAST(FLOOR(epoch(ts)) AS BIGINT) AS _s
        FROM events
    ),
    rng AS (SELECT MIN(_s) AS _lo, MAX(_s) AS _hi FROM ev),
    tagged AS (
        SELECT user_id, value,
               CASE WHEN (_s - _lo) * 10 < (_hi - _lo + 1) * 8 THEN 'train'
                    WHEN (_s - _lo) * 10 < (_hi - _lo + 1) * 9 THEN 'valid'
                    ELSE 'test' END AS f_split
        FROM ev CROSS JOIN rng
    )
    SELECT f_split,
           CAST(COUNT(*) AS BIGINT) AS f_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS f_users,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DECIMAL(28,6))
                AS DOUBLE) AS f_value_sum
    FROM tagged GROUP BY f_split
"""
QUERIES["q_time_split"] = q_time_split


# ---------------------------------------------------------------------------
# Calibration table: equal-width score bins vs outcome rate
# ---------------------------------------------------------------------------

_CAL_BINS = 10


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION TABLE, ORACLE-GATED — the reliability-diagram /
    expected-calibration-error input: treat event `value` as a model
    score and `purchase` as the positive outcome, cut scores into 10
    equal-width cents bins over the observed [min, max], and report
    per-bin volume, positives, and positive-rate ppm. Bin assignment
    is pure integer arithmetic — (c − lo)·B DIV (hi − lo + 1), clamped
    — so both engines agree at every boundary.

    Scale: one global min/max + one combinable grouped aggregate onto
    the FIXED 10-bin key domain. No window, no Python."""
    ev = read_table(spark, sf_dir, "events").select(
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("_c"),
        (F.col("event_type") == "purchase").cast("long").alias("_pos"),
    )
    rng = ev.groupBy().agg(
        F.min("_c").alias("_lo"), F.max("_c").alias("_hi")
    )
    binned = ev.crossJoin(F.broadcast(rng)).withColumn(
        "f_bin",
        F.expr(
            f"CAST(least({_CAL_BINS - 1},"
            f" (_c - _lo) * {_CAL_BINS} DIV (_hi - _lo + 1)) AS BIGINT)"
        ),
    )
    return binned.groupBy("f_bin").agg(
        F.count("*").cast("long").alias("f_n"),
        F.sum("_pos").cast("long").alias("f_pos"),
        F.expr(
            "CAST(sum(_pos) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("f_rate_ppm"),
    )


ORACLE["q_calibration_bins"] = f"""
    WITH ev AS (
        SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS _c,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS _pos
        FROM events
    ),
    rng AS (SELECT MIN(_c) AS _lo, MAX(_c) AS _hi FROM ev),
    binned AS (
        SELECT _c, _pos,
               CAST(LEAST({_CAL_BINS - 1},
                    (_c - _lo) * {_CAL_BINS} // (_hi - _lo + 1))
                    AS BIGINT) AS f_bin
        FROM ev CROSS JOIN rng
    )
    SELECT f_bin,
           CAST(COUNT(*) AS BIGINT) AS f_n,
           CAST(SUM(_pos) AS BIGINT) AS f_pos,
           CAST(SUM(_pos) * 1000000 // COUNT(*) AS BIGINT) AS f_rate_ppm
    FROM binned GROUP BY f_bin
"""
QUERIES["q_calibration_bins"] = q_calibration_bins


ORACLE["q_feature_hash"] = f"""
    WITH toks AS (
        SELECT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents
        ) WHERE length(tok) > 0
    ),
    tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS _tf
        FROM toks GROUP BY doc_id, tok
    ),
    hashed AS (
        SELECT doc_id, _tf,
               ('0x' || substr(md5('fh:' || tok), 1, 8))::BIGINT
                   % {_FH_BUCKETS} AS f_bucket,
               CASE WHEN ('0x' || substr(md5('fh:' || tok), 9, 1))::BIGINT
                         % 2 = 0 THEN 1 ELSE -1 END AS _sign
        FROM tf
    ),
    per_doc AS (
        SELECT doc_id, f_bucket,
               CAST(SUM(_tf) AS BIGINT) AS _mass,
               CAST(SUM(_sign * _tf) AS BIGINT) AS _signed
        FROM hashed GROUP BY doc_id, f_bucket
    )
    SELECT f_bucket,
           CAST(COUNT(*) AS BIGINT) AS f_docs,
           CAST(SUM(_mass) AS BIGINT) AS f_mass,
           CAST(SUM(_signed) AS BIGINT) AS f_signed_mass
    FROM per_doc GROUP BY f_bucket
"""
QUERIES["q_feature_hash"] = q_feature_hash


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (integer A-Res priorities)
# ---------------------------------------------------------------------------

_WS_K = 32


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHT-BIASED deterministic sample, ORACLE-GATED — the
    weighted cousin of q_sample_split that completes the sampling
    family: documents drawn with probability increasing in their
    length. Efraimidis–Spirakis A-Res assigns priority u^(1/w); the
    integer spelling keeps the same stochastic ordering with ZERO
    float ops: priority = h DIV w, h the portable 32-bit md5 hash
    (uniform), w = n_chars — larger weights divide their uniform draw
    down harder, so the k smallest priorities form the weighted
    sample. Fully deterministic (seeded by the hash literal), so
    reproducible across runs AND engines — a property float A-Res
    cannot give cross-engine.

    Scale: one projection + TakeOrderedAndProject (per-partition
    top-K, K·P driver merge). No shuffle beyond the top-K exchange,
    no window."""
    d = read_table(spark, sf_dir, "documents")
    pri = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("f_weight"),
        F.expr(
            "CAST(conv(substring(md5(concat('ws:', CAST(doc_id AS STRING))),"
            " 1, 8), 16, 10) AS BIGINT)"
        ).alias("_h"),
    ).select(
        "doc_id",
        "f_weight",
        F.expr(
            "CAST(_h DIV greatest(f_weight, 1) AS BIGINT)"
        ).alias("f_priority"),
    )
    return (
        pri.orderBy(F.col("f_priority").asc(), F.col("doc_id").asc())
        .limit(_WS_K)
        .withColumn(
            "f_rank",
            F.row_number()
            .over(Window.orderBy(F.col("f_priority").asc(), F.col("doc_id").asc()))
            .cast("long"),
        )
    )


ORACLE["q_sample_weighted"] = f"""
    WITH pri AS (
        SELECT doc_id,
               CAST(n_chars AS BIGINT) AS f_weight,
               CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
                     1, 8))::BIGINT
                    // GREATEST(n_chars, 1) AS BIGINT) AS f_priority
        FROM documents
    ),
    top AS (
        SELECT doc_id, f_weight, f_priority
        FROM pri ORDER BY f_priority ASC, doc_id ASC LIMIT {_WS_K}
    )
    SELECT doc_id, f_weight, f_priority,
           CAST(ROW_NUMBER() OVER (ORDER BY f_priority ASC, doc_id ASC)
                AS BIGINT) AS f_rank
    FROM top
"""
QUERIES["q_sample_weighted"] = q_sample_weighted


# ---------------------------------------------------------------------------
# Exact ROC-AUC (Mann-Whitney U with midrank ties, distributed ranks)
# ---------------------------------------------------------------------------


def q_auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC, ORACLE-GATED — the Mann–Whitney rank form
    AUC = (Σ_pos rank − P(P+1)/2) / (P·N) with textbook MIDRANK tie
    handling, scoring `value` as the model output and `purchase` as
    the positive class. Everything stays integer: ranks come from
    ranks.global_row_number (range exchange — NO unpartitioned
    window); tied cents values collapse to one group whose DOUBLED
    midrank is min_rank + max_rank (integer, no .5s); the final ratio
    is DECIMAL(38,0) multiply + integer DIV, so DuckDB replays the ppm
    AUC bit-for-bit. One row: positives, negatives, doubled U
    statistic, AUC in ppm.

    Scale: one ranked pass + a distinct-value-keyed aggregate (the
    tie-group reduce is map-side combinable) + a 1-row total. The
    midrank identity Σ_pos 2·midrank = Σ_groups pos_g·(lo_g + hi_g)
    avoids ever materializing per-row midranks."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("_c"),
        (F.col("event_type") == "purchase").cast("long").alias("_pos"),
    )
    ranked = global_row_number(
        ev, [F.col("_c").asc(), F.col("event_id").asc()], out_col="_rn"
    )
    groups = ranked.groupBy("_c").agg(
        F.min("_rn").cast("long").alias("_lo"),
        F.max("_rn").cast("long").alias("_hi"),
        F.sum("_pos").cast("long").alias("_p"),
    )
    agg = groups.groupBy().agg(
        F.sum(F.col("_p") * (F.col("_lo") + F.col("_hi")))
        .cast("long")
        .alias("_sum2r"),
        F.sum("_p").cast("long").alias("f_pos"),
        F.sum(F.col("_hi") - F.col("_lo") + 1 - F.col("_p"))
        .cast("long")
        .alias("f_neg"),
    )
    return agg.select(
        "f_pos",
        "f_neg",
        F.expr("CAST(_sum2r - f_pos * (f_pos + 1) AS BIGINT)").alias(
            "f_u2"
        ),
        F.expr(
            "CAST(CAST(_sum2r - f_pos * (f_pos + 1) AS DECIMAL(38,0))"
            " * 1000000 DIV greatest(CAST(2 AS DECIMAL(38,0)) * f_pos * f_neg,"
            " CAST(1 AS DECIMAL(38,0)))"
            " AS BIGINT)"
        ).alias("f_auc_ppm"),
    )


ORACLE["q_auc_mann_whitney"] = """
    WITH ev AS (
        SELECT event_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS _c,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS _pos
        FROM events
    ),
    ranked AS (
        SELECT _c, _pos,
               CAST(ROW_NUMBER() OVER (ORDER BY _c, event_id) AS BIGINT)
                   AS _rn
        FROM ev
    ),
    groups AS (
        SELECT _c,
               CAST(MIN(_rn) AS BIGINT) AS _lo,
               CAST(MAX(_rn) AS BIGINT) AS _hi,
               CAST(SUM(_pos) AS BIGINT) AS _p
        FROM ranked GROUP BY _c
    ),
    agg AS (
        SELECT CAST(SUM(_p * (_lo + _hi)) AS BIGINT) AS _sum2r,
               CAST(SUM(_p) AS BIGINT) AS f_pos,
               CAST(SUM(_hi - _lo + 1 - _p) AS BIGINT) AS f_neg
        FROM groups
    )
    SELECT f_pos, f_neg,
           CAST(_sum2r - f_pos * (f_pos + 1) AS BIGINT) AS f_u2,
           CAST(CAST(_sum2r - f_pos * (f_pos + 1) AS HUGEINT) * 1000000
                // GREATEST(CAST(2 AS HUGEINT) * f_pos * f_neg, 1) AS BIGINT)
               AS f_auc_ppm
    FROM agg
"""
QUERIES["q_auc_mann_whitney"] = q_auc_mann_whitney


# ---------------------------------------------------------------------------
# Diversity-capped global top-K (budgeted selection with per-group cap)
# ---------------------------------------------------------------------------

_DIV_CAP = 5    # max docs per source
_DIV_BUDGET = 60  # global selection budget


def q_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIVERSITY-CAPPED GLOBAL TOP-K, ORACLE-GATED — the curation
    selection rule every training-mix builder applies: take the
    globally best 60 documents by length (the quality proxy here) but
    never more than 5 from any one source, so no domain floods the
    budget. Two-level ranking: a per-source window (PARTITIONED —
    source-keyed, shuffle-parallel) keeps each source's local top-5;
    the global cut over the capped survivors rides
    ranks.global_row_number (range exchange — NO unpartitioned
    window). Both levels break ties by doc_id, so the selection is a
    total order both engines replay.

    Scale: the partitioned window shuffles once on source (skewed
    mega-sources cost their own partition, and the cap means only 5
    rows survive per source into the global stage); the global stage
    ranks at most 5·|sources| rows."""
    d = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("f_len").desc(), F.col("doc_id").asc()
    )
    capped = (
        d.select("doc_id", "source", F.col("n_chars").cast("long").alias("f_len"))
        .withColumn("f_source_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("f_source_rank") <= _DIV_CAP)
    )
    ranked = global_row_number(
        capped,
        [F.col("f_len").desc(), F.col("doc_id").asc()],
        out_col="f_grank",
    )
    return ranked.filter(F.col("f_grank") <= _DIV_BUDGET).select(
        "doc_id",
        "source",
        "f_len",
        "f_source_rank",
        F.col("f_grank").cast("long").alias("f_grank"),
    )


ORACLE["q_diverse_topk"] = f"""
    WITH capped AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS f_len,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id ASC
               ) AS BIGINT) AS f_source_rank
        FROM documents
        QUALIFY f_source_rank <= {_DIV_CAP}
    )
    SELECT doc_id, source, f_len, f_source_rank,
           CAST(ROW_NUMBER() OVER (ORDER BY f_len DESC, doc_id ASC)
                AS BIGINT) AS f_grank
    FROM capped
    QUALIFY f_grank <= {_DIV_BUDGET}
"""
QUERIES["q_diverse_topk"] = q_diverse_topk


# ---------------------------------------------------------------------------
# Quantile normalization across sources (distribution alignment)
# ---------------------------------------------------------------------------

_QN_BINS = 20


def q_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE NORMALIZATION across sources, ORACLE-GATED — the
    batch-effect correction step (microarray lineage, reused for
    cross-crawl feature alignment): replace every source's length
    distribution by the GLOBAL one, quantile by quantile. Per-source
    vigintiles come from a PARTITIONED window (source-keyed,
    shuffle-parallel); the global vigintile targets come from
    ranks.global_ntile (range exchange — NO unpartitioned window) +
    half-up integer bucket means (the q_cluster_kmeans exactness
    trick). Output: one row per (source, bucket) with its row count,
    the source-local half-up mean, and the globally-mapped value every
    member would be replaced by.

    Scale: one keyed window pass + one ranked pass + two combinable
    aggregates; the 20-row mapping and the |sources|-row count frame
    broadcast by construction (the count comes from a groupBy, NOT a
    second order-less window over the data)."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("_len")
    )
    gl = global_ntile(
        d,
        [F.col("_len").asc(), F.col("doc_id").asc()],
        _QN_BINS,
        out_col="_gb",
    )
    gmap = gl.groupBy("_gb").agg(
        F.expr(
            "CAST(floor(CAST(sum(_len) AS DOUBLE) / count(*) + 0.5)"
            " AS BIGINT)"
        ).alias("f_mapped")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("_len").asc(), F.col("doc_id").asc()
    )
    # SQL NTILE semantics per source, spelled via row_number + count so
    # the remainder rule matches global_ntile's (first n%k buckets one
    # extra row) — NTILE() itself would also work; this keeps ONE window
    scnt = d.groupBy("source").agg(F.count("*").cast("long").alias("_cnt"))
    src = (
        d.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(scnt), "source")
        .withColumn(
            "f_bucket",
            F.expr(
                f"CAST(CASE WHEN _cnt % {_QN_BINS} * ((_cnt DIV {_QN_BINS}) + 1)"
                f" >= _rn THEN ((_rn - 1) DIV ((_cnt DIV {_QN_BINS}) + 1)) + 1"
                f" ELSE {_QN_BINS} - (_cnt - _rn) DIV greatest(_cnt DIV {_QN_BINS}, 1)"
                " END AS BIGINT)"
            ),
        )
    )
    per = src.groupBy("source", "f_bucket").agg(
        F.count("*").cast("long").alias("f_n"),
        F.expr(
            "CAST(floor(CAST(sum(_len) AS DOUBLE) / count(*) + 0.5)"
            " AS BIGINT)"
        ).alias("f_src_mean"),
    )
    return per.join(
        F.broadcast(gmap.withColumnRenamed("_gb", "f_bucket")), "f_bucket"
    ).select("source", "f_bucket", "f_n", "f_src_mean", "f_mapped")


ORACLE["q_quantile_norm"] = f"""
    WITH d AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS _len
        FROM documents
    ),
    gl AS (
        SELECT _len,
               CAST(NTILE({_QN_BINS}) OVER (ORDER BY _len, doc_id)
                    AS BIGINT) AS _gb
        FROM d
    ),
    gmap AS (
        SELECT _gb AS f_bucket,
               CAST(floor(CAST(SUM(_len) AS DOUBLE) / COUNT(*) + 0.5)
                    AS BIGINT) AS f_mapped
        FROM gl GROUP BY _gb
    ),
    src AS (
        SELECT source, _len,
               CAST(NTILE({_QN_BINS}) OVER (
                   PARTITION BY source ORDER BY _len, doc_id
               ) AS BIGINT) AS f_bucket
        FROM d
    ),
    per AS (
        SELECT source, f_bucket,
               CAST(COUNT(*) AS BIGINT) AS f_n,
               CAST(floor(CAST(SUM(_len) AS DOUBLE) / COUNT(*) + 0.5)
                    AS BIGINT) AS f_src_mean
        FROM src GROUP BY source, f_bucket
    )
    SELECT per.source, per.f_bucket, per.f_n, per.f_src_mean, gmap.f_mapped
    FROM per JOIN gmap USING (f_bucket)
"""
QUERIES["q_quantile_norm"] = q_quantile_norm


# ---------------------------------------------------------------------------
# Group K-fold assignment (leakage-free cross-validation folds)
# ---------------------------------------------------------------------------

_KFOLD = 5


def q_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP K-FOLD assignment, ORACLE-GATED — the leakage-free CV
    split: every event of a user lands in the SAME fold (GroupKFold),
    fold = portable md5 hash of the GROUP key mod 5, so membership is
    deterministic, engine-portable, and stable under any repartition
    or re-run (sklearn's GroupKFold depends on group iteration order;
    the hash form doesn't). Output: per-fold groups / events /
    positives / decimal-exact value sum — the balance sheet a CV
    harness checks before training.

    Scale: fold id is a projection off the group key (no shuffle to
    assign); the summary is one map-side-combinable aggregate onto the
    FIXED 5-fold domain + one distinct-group count (two-phase
    partial agg)."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    tagged = ev.select(
        "user_id",
        "value",
        (F.col("event_type") == "purchase").cast("long").alias("_pos"),
        F.expr(
            "CAST(conv(substring(md5(concat('kf:', CAST(user_id AS STRING))),"
            f" 1, 8), 16, 10) AS BIGINT) % {_KFOLD}"
        ).alias("f_fold"),
    )
    return tagged.groupBy("f_fold").agg(
        F.countDistinct("user_id").cast("long").alias("f_groups"),
        F.count("*").cast("long").alias("f_events"),
        F.sum("_pos").cast("long").alias("f_pos"),
        F.sum(F.col("value").cast("decimal(28,6)"))
        .cast("decimal(28,6)")
        .cast("double")
        .alias("f_value_sum"),
    )


ORACLE["q_group_kfold"] = f"""
    WITH tagged AS (
        SELECT user_id, value,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS _pos,
               ('0x' || substr(md5('kf:' || CAST(user_id AS VARCHAR)),
                1, 8))::BIGINT % {_KFOLD} AS f_fold
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT f_fold,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS f_groups,
           CAST(COUNT(*) AS BIGINT) AS f_events,
           CAST(SUM(_pos) AS BIGINT) AS f_pos,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DECIMAL(28,6))
                AS DOUBLE) AS f_value_sum
    FROM tagged GROUP BY f_fold
"""
QUERIES["q_group_kfold"] = q_group_kfold


# ---------------------------------------------------------------------------
# Per-source token-distribution divergence vs the corpus (exact chi-square)
# ---------------------------------------------------------------------------


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE TOKEN-DISTRIBUTION DIVERGENCE vs the corpus,
    ORACLE-GATED — the domain-mix diagnostic behind "which crawl
    drifted?": chi-square divergence chi2(p_s || q) between each
    source's unigram distribution and the corpus distribution, in
    EXACT arithmetic. Per present term, (c*N - C*n)^2 * 1e9 DIV
    (n^2 * N * C) — numerator squared in DECIMAL(38,0)/HUGEINT, each
    term floor-rounded to ppb BEFORE summing (the q_feature_drift
    discipline: the sum is then order-independent). Terms ABSENT from
    a source contribute exactly C_t/N each, so their total is the
    closed form (N - sum_present C) * 1e9 DIV N — no source x vocab
    expansion ever materializes.

    Scale: two map-side-combinable counts (source-term, corpus-term);
    the term join shuffles on tok with NO forced broadcast (a
    web-scale vocabulary is unbounded — the q_tfidf_topterms lesson);
    the final key domain is |sources|."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    # the source-term table is referenced FOUR times (terms + corpus
    # marginal + source totals + grand total) — checkpoint it so the
    # corpus scans once AND the derived joins don't share lineage
    # (shared-lineage same-name columns resolve ambiguously)
    st = checkpoint(
        toks.groupBy("source", "tok").agg(
            F.count("*").cast("long").alias("_c")
        )
    )
    ct = st.groupBy("tok").agg(F.sum("_c").cast("long").alias("_C"))
    ns = st.groupBy("source").agg(F.sum("_c").cast("long").alias("_n"))
    n_tot = st.groupBy().agg(F.sum("_c").cast("long").alias("_N"))
    # all four frames share the checkpoint's lineage and Spark's
    # self-join de-dup exposes duplicate names through the crossJoin
    # branch (the NOTES shared-lineage rule) — resolve by PLAN ID
    # (frame["col"]) into fresh unambiguous names, THEN run the expr
    stj = st.withColumnRenamed("_c", "_cs")
    flat = (
        stj.join(ct, "tok")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n_tot))
        .select(
            stj["source"],
            stj["_cs"].alias("c_s"),
            ct["_C"].alias("c_t"),
            ns["_n"].alias("n_s"),
            n_tot["_N"].alias("n_t"),
        )
    )
    terms = flat.withColumn(
        "_t_ppb",
        F.expr(
            "CAST(CAST(c_s * n_t - c_t * n_s AS DECIMAL(19,0))"
            " * CAST(c_s * n_t - c_t * n_s AS DECIMAL(19,0)) * 1000000000"
            " DIV (CAST(n_s AS DECIMAL(19,0)) * CAST(n_s AS DECIMAL(19,0))"
            " * CAST(n_t AS DECIMAL(19,0)) * CAST(c_t AS DECIMAL(19,0)))"
            " AS BIGINT)"
        ),
    )
    return terms.groupBy("source").agg(
        F.max("n_s").cast("long").alias("f_tokens"),
        F.count("*").cast("long").alias("f_distinct"),
        F.expr(
            "CAST(sum(_t_ppb)"
            " + CAST((max(n_t) - sum(c_t)) AS BIGINT) * 1000000000"
            "   DIV max(n_t) AS BIGINT)"
        ).alias("f_div_ppb"),
    )


ORACLE["q_source_divergence"] = """
    WITH toks AS (
        SELECT source, tok FROM (
            SELECT source,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents
        ) WHERE length(tok) > 0
    ),
    st AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS _c
        FROM toks GROUP BY source, tok
    ),
    ct AS (SELECT tok, CAST(SUM(_c) AS BIGINT) AS _C FROM st GROUP BY tok),
    ns AS (SELECT source, CAST(SUM(_c) AS BIGINT) AS _n FROM st GROUP BY source),
    nt AS (SELECT CAST(SUM(_c) AS BIGINT) AS _N FROM st),
    terms AS (
        -- DuckDB lowercases unquoted identifiers, so _c/_C and _n/_N
        -- COLLIDE case-insensitively (the absent-mass term silently
        -- bound to the wrong column) - distinct names are mandatory
        SELECT st.source, st._c AS c_s, ct._C AS c_t,
               ns._n AS n_s, nt._N AS n_t,
               CAST((CAST(st._c AS HUGEINT) * nt._N - CAST(ct._C AS HUGEINT) * ns._n)
                    * (CAST(st._c AS HUGEINT) * nt._N - CAST(ct._C AS HUGEINT) * ns._n)
                    * 1000000000
                    // (CAST(ns._n AS HUGEINT) * ns._n * nt._N * ct._C)
                    AS BIGINT) AS _t_ppb
        FROM st
        JOIN ct ON st.tok = ct.tok
        JOIN ns ON st.source = ns.source
        CROSS JOIN nt
    )
    SELECT source,
           CAST(MAX(n_s) AS BIGINT) AS f_tokens,
           CAST(COUNT(*) AS BIGINT) AS f_distinct,
           CAST(SUM(_t_ppb)
                + CAST(MAX(n_t) - SUM(c_t) AS BIGINT) * 1000000000
                  // MAX(n_t) AS BIGINT) AS f_div_ppb
    FROM terms GROUP BY source
"""
QUERIES["q_source_divergence"] = q_source_divergence


# ---------------------------------------------------------------------------
# Portable HLL register pipeline (the q_approx_distinct_sketch twin)
# ---------------------------------------------------------------------------

_HLL_M = 64                      # registers
_HLL_2P55 = 1 << 55              # 2^55: fixed-point denominator unit
_HLL_ALPHA_NUM, _HLL_ALPHA_DEN = 709, 1000  # alpha_64 ~= 0.709 as a ratio


def q_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE HLL REGISTER PIPELINE, ORACLE-GATED — the twin that
    puts q_approx_distinct_sketch's algorithm under the hash gate (the
    q_sim_ivf_portable strategy: production keeps the fast JVM sketch,
    the twin replays the identical math with an engine-portable hash).
    60-bit md5 hash -> register index = h mod 64, rho = 55 - bitlen(h
    DIV 64) (bitlen 0 => rho 55) -> per-register MAX -> the harmonic
    denominator as an EXACT integer: sum 2^(55-reg) over hit registers
    plus 2^55 per empty register (clearing 2^-reg to the common
    denominator 2^55 — no float ever) -> raw estimate alpha*m^2*2^55
    DIV regsum with alpha = 709/1000 exact-rational. The bias
    corrections (linear counting etc.) are deliberately NOT here: they
    need ln(), and the production sketch owns that policy — this key
    pins the register construction and harmonic algebra that make HLL
    mergeable. f_exact/f_abs_err ride along as the accuracy witness.

    Scale: one map-side-combinable (type, idx) MAX — the whole sketch
    state is 64 rows per group BY CONSTRUCTION; everything downstream
    is group-count-sized."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    hashed = ev.select(
        "event_type",
        F.expr(
            "CAST(conv(substring(md5(concat('hll:',"
            " CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        ).alias("_h"),
    )
    regs = (
        hashed.select(
            "event_type",
            F.expr(f"CAST(_h % {_HLL_M} AS BIGINT)").alias("_idx"),
            F.expr(
                f"CASE WHEN _h DIV {_HLL_M} = 0 THEN 55"
                f" ELSE 55 - length(bin(_h DIV {_HLL_M})) END"
            ).alias("_rho"),
        )
        .groupBy("event_type", "_idx")
        .agg(F.max("_rho").cast("long").alias("_reg"))
    )
    per = regs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("_nhit"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - _reg AS INT))"))
        .cast("long")
        .alias("_hitsum"),
    )
    scored = per.select(
        "event_type",
        F.col("_nhit").alias("f_hit_regs"),
        F.expr(
            f"CAST(_hitsum + ({_HLL_M} - _nhit)"
            f" * CAST({_HLL_2P55} AS BIGINT) AS BIGINT)"
        ).alias("f_regsum"),
    ).withColumn(
        "f_raw_est",
        F.expr(
            f"CAST(CAST({_HLL_ALPHA_NUM} AS DECIMAL(38,0))"
            f" * {_HLL_M * _HLL_M} * CAST({_HLL_2P55} AS DECIMAL(38,0))"
            f" DIV (CAST({_HLL_ALPHA_DEN} AS DECIMAL(38,0)) * f_regsum)"
            " AS BIGINT)"
        ),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("f_exact")
    )
    return scored.join(exact, "event_type").select(
        "event_type",
        "f_hit_regs",
        "f_regsum",
        "f_raw_est",
        "f_exact",
        F.abs(F.col("f_raw_est") - F.col("f_exact"))
        .cast("long")
        .alias("f_abs_err"),
    )


ORACLE["q_hll_portable"] = f"""
    WITH hashed AS (
        SELECT event_type,
               ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
                1, 15))::BIGINT AS _h
        FROM events WHERE user_id IS NOT NULL
    ),
    regs AS (
        SELECT event_type,
               CAST(_h % {_HLL_M} AS BIGINT) AS _idx,
               CAST(MAX(CASE WHEN _h // {_HLL_M} = 0 THEN 55
                    ELSE 55 - length(bin(_h // {_HLL_M})) END)
                    AS BIGINT) AS _reg
        FROM hashed GROUP BY event_type, _h % {_HLL_M}
    ),
    per AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS f_hit_regs,
               CAST(SUM(CAST(1 AS BIGINT) << CAST(55 - _reg AS INTEGER))
                    + ({_HLL_M} - COUNT(*))
                      * CAST({_HLL_2P55} AS BIGINT) AS BIGINT) AS f_regsum
        FROM regs GROUP BY event_type
    ),
    scored AS (
        SELECT event_type, f_hit_regs, f_regsum,
               CAST(CAST({_HLL_ALPHA_NUM} AS HUGEINT) * {_HLL_M * _HLL_M}
                    * CAST({_HLL_2P55} AS HUGEINT)
                    // (CAST({_HLL_ALPHA_DEN} AS HUGEINT) * f_regsum)
                    AS BIGINT) AS f_raw_est
        FROM per
    ),
    exact AS (
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS f_exact
        FROM events WHERE user_id IS NOT NULL GROUP BY event_type
    )
    SELECT s.event_type, s.f_hit_regs, s.f_regsum, s.f_raw_est, e.f_exact,
           CAST(ABS(s.f_raw_est - e.f_exact) AS BIGINT) AS f_abs_err
    FROM scored s JOIN exact e ON s.event_type = e.event_type
"""
QUERIES["q_hll_portable"] = q_hll_portable


# ---------------------------------------------------------------------------
# Exact two-sample Kolmogorov–Smirnov drift statistic
# ---------------------------------------------------------------------------


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KOLMOGOROV–SMIRNOV statistic between the
    o_totalprice distributions of fulfilled ('F') and non-fulfilled
    orders, ORACLE-GATED — the numeric-feature drift monitor beside
    q_chi2_assoc's categorical test and q_feature_drift's moment
    deltas. D = sup_v |F1(v) − F2(v)| evaluated exactly on the pooled
    step points: per distinct price (half-up integer cents) the two
    cumulative counts, and the gap as the INTEGER cross-multiplication
    |cum1·n2 − cum2·n1| (DECIMAL(38,0)/HUGEINT — exact to n1·n2·1e6 <
    1e38, i.e. n ≈ 3e15 rows; the chi2-key precedent). Output: group
    sizes and D in ppm.

    Scale: the distinct-value frame pre-shrinks the fact scan; BOTH
    cumulative masses ride ONE ranks.global_running_sum range exchange
    (P parallel tasks, never an unpartitioned window); the final max
    is a map-side-combinable 1-row aggregate."""
    o = read_table(spark, sf_dir, "orders")
    cents = F.expr(
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"
    ).alias("v")
    pts = o.select(
        cents,
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("_a"),
        F.when(F.col("o_orderstatus") != "F", 1).otherwise(0).alias("_b"),
    ).groupBy("v").agg(
        F.sum("_a").cast("long").alias("c1"),
        F.sum("_b").cast("long").alias("c2"),
    )
    return ks_from_points(pts)


def ks_from_points(pts: DataFrame) -> DataFrame:
    """Exact two-sample KS (ppm) from a PER-DISTINCT-VALUE count frame
    ``(v, c1, c2)`` — the mergeable drift state: the point frame is a
    keyed SUM aggregate, so a streaming FV maintains it exactly via the
    foreachBatch-MERGE path and drift monitors read the maintained
    table instead of rescanning raw history
    (tests/test_streaming.py TestStreamingDrift parity)."""
    # pts feeds the running sums AND the totals — checkpoint so the
    # upstream (fact scan or maintained-table read) runs ONCE (the
    # q_chi2_assoc discipline)
    pts = checkpoint(pts)
    cum = global_running_sum(
        pts, ["v"], ["c1", "c2"], rank_col="_r", sum_col=["_cum1", "_cum2"]
    )
    tot = pts.agg(
        F.sum("c1").cast("long").alias("f_n1"),
        F.sum("c2").cast("long").alias("f_n2"),
    )
    gap = cum.crossJoin(F.broadcast(tot)).select(
        F.expr(
            "ABS(CAST(_cum1 AS DECIMAL(18,0)) * CAST(f_n2 AS DECIMAL(18,0))"
            " - CAST(_cum2 AS DECIMAL(18,0)) * CAST(f_n1 AS DECIMAL(18,0)))"
        ).alias("_gap")
    )
    d = gap.agg(F.max("_gap").alias("_D"))
    return d.crossJoin(F.broadcast(tot)).select(
        "f_n1",
        "f_n2",
        # GREATEST(·,1): an empty group makes n1·n2 = 0 — Spark DIV
        # would NULL where DuckDB // hard-errors (ADVICE-r11; the
        # q_confusion_metrics denominator discipline)
        F.expr(
            "CAST(_D * 1000000 DIV GREATEST(CAST(f_n1 AS DECIMAL(18,0))"
            " * CAST(f_n2 AS DECIMAL(18,0)), 1) AS BIGINT)"
        ).alias("f_ks_ppm"),
    )


ORACLE["q_ks_drift"] = """
    WITH pts AS (
        SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c2
        FROM orders GROUP BY 1
    ),
    cum AS (
        SELECT v,
               CAST(SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum1,
               CAST(SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum2
        FROM pts
    ),
    tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS f_n1,
               CAST(SUM(c2) AS BIGINT) AS f_n2
        FROM pts
    ),
    d AS (
        SELECT MAX(ABS(CAST(cum1 AS HUGEINT) * f_n2
                       - CAST(cum2 AS HUGEINT) * f_n1)) AS _D
        FROM cum CROSS JOIN tot
    )
    SELECT f_n1, f_n2,
           CAST(_D * 1000000
                // GREATEST(CAST(f_n1 AS HUGEINT) * f_n2, 1)
                AS BIGINT) AS f_ks_ppm
    FROM d CROSS JOIN tot
"""
QUERIES["q_ks_drift"] = q_ks_drift


# ---------------------------------------------------------------------------
# Best Gini split point (decision-stump feature scan)
# ---------------------------------------------------------------------------

_GINI_SCALE = 1_000_000_000  # 1e9: exact argmax to N ≈ 3e9 (chi2 precedent)


def q_best_split_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best GINI SPLIT of o_totalprice (half-up integer cents) against
    the binary label o_orderstatus=='F', ORACLE-GATED — the 1-node
    decision-stump scan that ranks numeric features before training.
    For every candidate threshold v (rows with value ≤ v go left),
    minimizing weighted Gini impurity ⟺ maximizing
    (A·R + B·L) / (L·R) with A = Lp² + (L−Lp)², B = Rp² + (R−Rp)² —
    computed as a SCALED INTEGER (· 1e9, truncating DIV: both engines
    truncate identically, so the argmax is portable; exact to
    N³·1e9 < 1e38, N ≈ 3e9 — the chi2-key bound discipline). Ties
    break to the LOWEST threshold. Output: the winning threshold, its
    scaled score, corpus size and positive count.

    Scale: distinct-value pre-aggregate, both cumulative masses on ONE
    ranks.global_running_sum range exchange, and the argmax is
    TakeOrderedAndProject — never a global sort."""
    o = read_table(spark, sf_dir, "orders")
    pts = o.select(
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("v"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("_p"),
    ).groupBy("v").agg(
        F.count("*").cast("long").alias("ct"),
        F.sum("_p").cast("long").alias("cp"),
    )
    pts = checkpoint(pts)
    cum = global_running_sum(
        pts, ["v"], ["ct", "cp"], rank_col="_r", sum_col=["_cumt", "_cump"]
    )
    tot = pts.agg(
        F.sum("ct").cast("long").alias("f_n"),
        F.sum("cp").cast("long").alias("f_pos"),
    )
    scored = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("_cumt") < F.col("f_n"))  # right side non-empty
        .select(
            "v",
            "f_n",
            "f_pos",
            F.expr(
                f"""CAST((
                    (CAST(_cump AS DECIMAL(38,0)) * _cump
                     + CAST(_cumt - _cump AS DECIMAL(38,0)) * (_cumt - _cump))
                    * (f_n - _cumt)
                    + (CAST(f_pos - _cump AS DECIMAL(38,0)) * (f_pos - _cump)
                       + CAST((f_n - _cumt) - (f_pos - _cump) AS DECIMAL(38,0))
                         * ((f_n - _cumt) - (f_pos - _cump)))
                    * _cumt
                ) * {_GINI_SCALE}
                DIV (CAST(_cumt AS DECIMAL(38,0)) * (f_n - _cumt))
                AS BIGINT)"""
            ).alias("f_score"),
        )
    )
    return (
        scored.orderBy(F.col("f_score").desc(), F.col("v").asc())
        .limit(1)
        .select(
            F.col("v").alias("f_split_cents"), "f_score", "f_n", "f_pos"
        )
    )


ORACLE["q_best_split_gini"] = f"""
    WITH pts AS (
        SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS ct,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cp
        FROM orders GROUP BY 1
    ),
    cum AS (
        SELECT v,
               CAST(SUM(ct) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cumt,
               CAST(SUM(cp) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cump
        FROM pts
    ),
    tot AS (
        SELECT CAST(SUM(ct) AS BIGINT) AS f_n,
               CAST(SUM(cp) AS BIGINT) AS f_pos
        FROM pts
    ),
    scored AS (
        SELECT v, f_n, f_pos,
               CAST((
                   (CAST(cump AS HUGEINT) * cump
                    + CAST(cumt - cump AS HUGEINT) * (cumt - cump))
                   * (f_n - cumt)
                   + (CAST(f_pos - cump AS HUGEINT) * (f_pos - cump)
                      + CAST((f_n - cumt) - (f_pos - cump) AS HUGEINT)
                        * ((f_n - cumt) - (f_pos - cump)))
                   * cumt
               ) * {_GINI_SCALE}
               // (CAST(cumt AS HUGEINT) * (f_n - cumt)) AS BIGINT)
                   AS f_score
        FROM cum CROSS JOIN tot
        WHERE cumt < f_n
    )
    SELECT v AS f_split_cents, f_score, f_n, f_pos
    FROM scored
    ORDER BY f_score DESC, v ASC
    LIMIT 1
"""
QUERIES["q_best_split_gini"] = q_best_split_gini


# ---------------------------------------------------------------------------
# Churn label generation from the events stream
# ---------------------------------------------------------------------------


def q_label_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHURN LABEL GENERATION, ORACLE-GATED — the canonical supervised
    label a retention model trains on: per (user, active ISO week), 1
    when the user has NO event in the following week (both engines
    truncate weeks to ISO Monday). The corpus's last week is excluded
    (its 'next week' is unobserved — labeling it would leak the dataset
    boundary into the target). NULL timestamps are filtered on BOTH
    engines (events.ts carries nulls — the q_event_transitions
    precedent).

    Scale: distinct (user, week) shrinks the events scan to the
    activity grid; the label is an equi-self-join on (user, week+7d) —
    AQE-planned, no window; the max-week exclusion is a 1-row
    broadcast."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    # the activity grid feeds the label join, its own next-week image,
    # AND the max-week scalar — checkpoint so events scans ONCE
    act = checkpoint(
        ev.select(
            "user_id", F.date_trunc("week", F.col("ts")).alias("f_week")
        ).distinct()
    )
    nxt = act.select(
        F.col("user_id").alias("_u"),
        F.col("f_week").alias("_w1"),
    )
    last = act.agg(F.max("f_week").alias("_last"))
    lab = (
        act.crossJoin(F.broadcast(last))
        .filter(F.col("f_week") < F.col("_last"))
        .join(
            nxt,
            (F.col("user_id") == F.col("_u"))
            & (
                F.col("f_week") + F.expr("INTERVAL 7 DAYS")
                == F.col("_w1")
            ),
            "left",
        )
    )
    return lab.select(
        "user_id",
        "f_week",
        F.when(F.col("_u").isNull(), 1).otherwise(0).cast("int").alias(
            "f_churned"
        ),
    )


ORACLE["q_label_churn"] = """
    WITH act AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS TIMESTAMP) AS f_week
        FROM events WHERE ts IS NOT NULL
    ),
    last AS (SELECT MAX(f_week) AS _last FROM act)
    SELECT a.user_id, a.f_week,
           CAST(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END AS INT)
               AS f_churned
    FROM act a
    CROSS JOIN last
    LEFT JOIN act b
      ON a.user_id = b.user_id
     AND a.f_week + INTERVAL 7 DAY = b.f_week
    WHERE a.f_week < last._last
"""
QUERIES["q_label_churn"] = q_label_churn


# ---------------------------------------------------------------------------
# Source-mix entropy per language (integer octave bits)
# ---------------------------------------------------------------------------


def q_entropy_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE-MIX ENTROPY per language in integer OCTAVE BITS,
    ORACLE-GATED — how concentrated each language's corpus is on its
    sources (the diversity dial a data-mixing pipeline monitors; 0 =
    single-source, higher = balanced mix). Each source's information
    content is ⌊log2⌊N_lang / c⌋⌋ bits (the q_doc_surprisal
    ``length(bin(N DIV c)) − 1`` spelling — IEEE log2 is never
    correctly-rounded cross-engine), the entropy is the count-weighted
    sum, reported per-document in milli-bits (integer DIV).

    Scale: one map-side-combinable (lang, source) aggregate; the lang
    marginal aggregates THAT bounded frame; everything downstream is
    category-domain-sized."""
    d = read_table(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("_c")
    )
    lang = cell.groupBy("lang").agg(F.sum("_c").cast("long").alias("_N"))
    return (
        cell.join(F.broadcast(lang), "lang")
        .withColumn(
            "_bits",
            F.expr("CAST(length(bin(_N DIV _c)) - 1 AS BIGINT)"),
        )
        .groupBy("lang")
        .agg(
            F.min("_N").cast("long").alias("f_docs"),
            F.sum(F.col("_c") * F.col("_bits")).cast("long").alias("_num"),
        )
        .select(
            "lang",
            "f_docs",
            F.expr("CAST(_num * 1000 DIV f_docs AS BIGINT)").alias(
                "f_entropy_mbits"
            ),
        )
    )


ORACLE["q_entropy_mix"] = """
    WITH cell AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS _c
        FROM documents GROUP BY lang, source
    ),
    l AS (SELECT lang, CAST(SUM(_c) AS BIGINT) AS _N FROM cell GROUP BY lang)
    SELECT cell.lang,
           CAST(MIN(_N) AS BIGINT) AS f_docs,
           CAST(CAST(SUM(_c * (length(bin(_N // _c)) - 1)) AS BIGINT)
                * 1000 // MIN(_N) AS BIGINT) AS f_entropy_mbits
    FROM cell JOIN l ON cell.lang = l.lang
    GROUP BY cell.lang
"""
QUERIES["q_entropy_mix"] = q_entropy_mix


# ---------------------------------------------------------------------------
# Stratified k-fold assignment (label-balanced CV splits)
# ---------------------------------------------------------------------------



def q_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED K-FOLD assignment over the embedding corpus,
    ORACLE-GATED — the label-balanced CV splitter beside q_group_kfold
    (leakage-free by group) and q_time_split (leakage-free by time):
    fold = portable-md5(vec_id) mod 5, reported as per-(label, fold)
    counts plus each fold's share of its label in ppm — the balance
    audit that catches a skewed splitter before a model trains on it.
    Hash-stable: a vector's fold never changes as the corpus grows.

    Scale: one map-side-combinable (label, fold) aggregate over a
    hash projection; the label marginal aggregates the bounded
    (label × 5) frame."""
    e = read_table(spark, sf_dir, "embeddings")
    fold = F.expr(
        "CAST(conv(substr(md5(concat('skf_', CAST(vec_id AS STRING))),"
        " 1, 15), 16, 10) AS BIGINT) % 5"
    )
    cell = e.select(
        F.col("label").cast("long").alias("f_label"),
        fold.cast("long").alias("f_fold"),
    ).groupBy("f_label", "f_fold").agg(
        F.count("*").cast("long").alias("f_n")
    )
    tot = cell.groupBy("f_label").agg(F.sum("f_n").cast("long").alias("_t"))
    return cell.join(F.broadcast(tot), "f_label").select(
        "f_label",
        "f_fold",
        "f_n",
        F.expr("CAST(f_n * 1000000 DIV _t AS BIGINT)").alias("f_share_ppm"),
    )


ORACLE["q_stratified_kfold"] = """
    WITH cell AS (
        SELECT CAST(label AS BIGINT) AS f_label,
               CAST(('0x' || substr(md5('skf_' || CAST(vec_id AS VARCHAR)),
                                    1, 15))::BIGINT % 5 AS BIGINT) AS f_fold,
               CAST(COUNT(*) AS BIGINT) AS f_n
        FROM embeddings GROUP BY 1, 2
    ),
    tot AS (SELECT f_label, CAST(SUM(f_n) AS BIGINT) AS _t
            FROM cell GROUP BY f_label)
    SELECT cell.f_label, cell.f_fold, cell.f_n,
           CAST(cell.f_n * 1000000 // tot._t AS BIGINT) AS f_share_ppm
    FROM cell JOIN tot ON cell.f_label = tot.f_label
"""
QUERIES["q_stratified_kfold"] = q_stratified_kfold


# ---------------------------------------------------------------------------
# Total-variation distance drift (doc-length octave distributions)
# ---------------------------------------------------------------------------


def q_tvd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOTAL-VARIATION distance between the doc-length (n_chars octave)
    distributions of English vs non-English documents, ORACLE-GATED —
    the binned drift metric beside q_ks_drift's exact-ECDF form (TVD is
    what a pipeline computes when the feature is already histogrammed):
    TVD = ½ Σ_bins |p − q| spelled exactly as
    Σ|c1·N2 − c2·N1| · 1e6 DIV (2·N1·N2) in DECIMAL(38,0)/HUGEINT.
    Output: one row — group sizes, number of occupied bins, TVD ppm.

    Scale: one combinable (octave, group) agg over a projection; the
    octave domain is int64-bounded BY CONSTRUCTION (~60 bins max);
    everything downstream is bin-count-sized."""
    return tvd_from_cells(doc_octave_cells(spark, sf_dir))


def doc_octave_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (octave, c1, c2) en/non-en doc-length cell frame SHARED by
    q_tvd_drift and q_psi_bits — one builder so the two
    drift keys' binning cannot drift apart. Mirrored in SQL by
    :data:`DOC_OCTAVE_CELLS_SQL`."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        F.expr("CAST(length(bin(n_chars)) - 1 AS BIGINT)").alias("_o"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("_a"),
        F.when(F.col("lang") != "en", 1).otherwise(0).alias("_b"),
    ).groupBy("_o").agg(
        F.sum("_a").cast("long").alias("c1"),
        F.sum("_b").cast("long").alias("c2"),
    )


# the DuckDB twin of doc_octave_cells — interpolated into the
# q_tvd_drift and q_psi_bits oracles
DOC_OCTAVE_CELLS_SQL = """
        SELECT CAST(length(bin(n_chars)) - 1 AS BIGINT) AS _o,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1,
               CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS c2
        FROM documents GROUP BY 1
"""


def tvd_from_cells(cell: DataFrame) -> DataFrame:
    """Binned total-variation distance (ppm) from a PER-BIN count frame
    ``(_o, c1, c2)`` — like :func:`ks_from_points`, the bin frame is a
    keyed SUM aggregate (mergeable), so a streaming FV maintains it
    exactly and TVD monitors read the maintained table
    (tests/test_streaming.py TestStreamingDrift parity)."""
    cell = checkpoint(cell)
    tot = cell.agg(
        F.sum("c1").cast("long").alias("f_n1"),
        F.sum("c2").cast("long").alias("f_n2"),
        F.count("*").cast("long").alias("f_bins"),
    )
    gap = cell.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(
                "ABS(CAST(c1 AS DECIMAL(18,0)) * f_n2"
                " - CAST(c2 AS DECIMAL(18,0)) * f_n1)"
            )
        ).alias("_D")
    )
    return gap.crossJoin(F.broadcast(tot)).select(
        "f_n1",
        "f_n2",
        "f_bins",
        # GREATEST(·,1): empty group → n1·n2 = 0; Spark DIV nulls
        # where DuckDB // hard-errors (ADVICE-r11 guard)
        F.expr(
            "CAST(_D * 1000000"
            " DIV GREATEST(CAST(f_n1 AS DECIMAL(18,0)) * f_n2 * 2, 1)"
            " AS BIGINT)"
        ).alias("f_tvd_ppm"),
    )


ORACLE["q_tvd_drift"] = f"""
    WITH cell AS ({DOC_OCTAVE_CELLS_SQL}),
    tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS f_n1,
               CAST(SUM(c2) AS BIGINT) AS f_n2,
               CAST(COUNT(*) AS BIGINT) AS f_bins
        FROM cell
    ),
    gap AS (
        SELECT SUM(ABS(CAST(c1 AS HUGEINT) * f_n2
                       - CAST(c2 AS HUGEINT) * f_n1)) AS _D
        FROM cell CROSS JOIN tot
    )
    SELECT f_n1, f_n2, f_bins,
           CAST(_D * 1000000
                // GREATEST(CAST(f_n1 AS HUGEINT) * f_n2 * 2, 1)
                AS BIGINT) AS f_tvd_ppm
    FROM gap CROSS JOIN tot
"""
QUERIES["q_tvd_drift"] = q_tvd_drift


# ---------------------------------------------------------------------------
# PSI-style drift in octave bits (floor-log2 population stability)
# ---------------------------------------------------------------------------


def q_psi_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI-STYLE population-stability drift between the doc-length
    (n_chars octave) distributions of English vs non-English documents,
    ORACLE-GATED — the banded drift score risk pipelines run beside
    TVD (q_tvd_drift) and KS (q_ks_drift). The classical
    Σ (p−q)·ln(p/q) needs IEEE ln (never correctly-rounded
    cross-engine), so the log factor is spelled in integer OCTAVE BITS:
    ⌊log2 x⌋ = length(bin(x)) − 1 (the q_entropy_mix / q_doc_surprisal
    trick), giving per-bin terms
    (c1·N2 − c2·N1) · (⌊log2 c1·N2⌋ − ⌊log2 c2·N1⌋) — every term ≥ 0
    exactly as in the real PSI (both factors share sign because
    floor-log2 is monotone), zero cells clamped via GREATEST(·,1)
    (the standard PSI zero-cell guard). Output: one row — group sizes,
    occupied bins, and Σterm·1e6 DIV (N1·N2) as f_psi_bits_ppm.

    Scale: one combinable (octave, group) agg over a projection; the
    octave domain is int64-bounded (~60 bins); the bit-length products
    c·N stay in BIGINT for N ≤ ~3e9 rows per side (document the wider
    DECIMAL spelling past that); the term sum runs in DECIMAL(38,0) /
    HUGEINT."""

    # the SAME cell builder as q_tvd_drift — one binning
    cell = checkpoint(doc_octave_cells(spark, sf_dir))
    return psi_from_cells(cell)


def psi_from_cells(cell: DataFrame) -> DataFrame:
    """PSI-bits statistic off an ALREADY-AGGREGATED (key, c1, c2) cell
    frame — the same maintained-state consumer contract as
    ``ks_from_points`` / ``tvd_from_cells`` / ``cusum_from_days``:
    the cell frame is a keyed SUM, so an incremental FV maintains it
    exactly via the foreachBatch-MERGE path and a drift monitor
    evaluates PSI from the maintained table without rescanning raw
    history (TestStreamingDrift pins batch == maintained). Extracted r13 to complete the drift family's
    maintained-state story."""
    tot = cell.agg(
        F.sum("c1").cast("long").alias("f_n1"),
        F.sum("c2").cast("long").alias("f_n2"),
        F.count("*").cast("long").alias("f_bins"),
    )
    term = cell.crossJoin(F.broadcast(tot)).select(
        F.expr(
            "CAST(c1 * f_n2 - c2 * f_n1 AS DECIMAL(38,0))"
            " * CAST((length(bin(GREATEST(c1 * f_n2, 1))) - 1)"
            "      - (length(bin(GREATEST(c2 * f_n1, 1))) - 1)"
            "   AS DECIMAL(38,0))"
        ).alias("_term")
    )
    gap = term.agg(F.sum("_term").alias("_S"))
    return gap.crossJoin(F.broadcast(tot)).select(
        "f_n1",
        "f_n2",
        "f_bins",
        F.expr(
            "CAST(_S * 1000000"
            " DIV GREATEST(CAST(f_n1 AS DECIMAL(18,0)) * f_n2, 1)"
            " AS BIGINT)"
        ).alias("f_psi_bits_ppm"),
    )

ORACLE["q_psi_bits"] = f"""
    WITH cell AS ({DOC_OCTAVE_CELLS_SQL}),
    tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS f_n1,
               CAST(SUM(c2) AS BIGINT) AS f_n2,
               CAST(COUNT(*) AS BIGINT) AS f_bins
        FROM cell
    ),
    gap AS (
        SELECT SUM(
                   CAST(c1 * f_n2 - c2 * f_n1 AS HUGEINT)
                   * (CAST(length(bin(GREATEST(c1 * f_n2, 1))) AS HUGEINT)
                      - CAST(length(bin(GREATEST(c2 * f_n1, 1)))
                             AS HUGEINT))
               ) AS _S
        FROM cell CROSS JOIN tot
    )
    SELECT f_n1, f_n2, f_bins,
           CAST(_S * 1000000
                // GREATEST(CAST(f_n1 AS HUGEINT) * f_n2, 1)
                AS BIGINT) AS f_psi_bits_ppm
    FROM gap CROSS JOIN tot
"""
QUERIES["q_psi_bits"] = q_psi_bits


# ---------------------------------------------------------------------------
# Cramér's V association strength (the chi² normalization)
# ---------------------------------------------------------------------------


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAMÉR'S V association strength lang × source over documents,
    ORACLE-GATED — the [0,1]-normalized summary of q_chi2_assoc (chi²
    says the association is SIGNIFICANT; V says whether it is STRONG —
    the feature-selection cutoff is on V, not chi²). V² = chi² /
    (N · min(r−1, c−1)); chi² reuses the chi2 key's exact per-cell
    ppm contributions (summing the identically-DIV'd integers is
    deterministic on both engines), so f_v2_ppm is a pure-integer
    replay. Output: one row — N, table shape, chi² ppm, V² ppm.

    Scale: the contingency frame is category-domain-sized; this key
    adds ONE aggregate over it (q_chi2_assoc's scoring pass runs once —
    the frame is checkpoint-cut before fanning into the two aggregates)."""

    cells = checkpoint(
        q_chi2_assoc(spark, sf_dir).select("lang", "source", "f_obs",
                                           "f_contrib_ppm")
    )
    shape = cells.agg(
        F.sum("f_obs").cast("long").alias("f_n"),
        F.countDistinct("lang").cast("long").alias("f_rows"),
        F.countDistinct("source").cast("long").alias("f_cols"),
        F.sum("f_contrib_ppm").cast("long").alias("f_chi2_ppm"),
    )
    return shape.select(
        "f_n",
        "f_rows",
        "f_cols",
        "f_chi2_ppm",
        F.expr(
            "CAST(f_chi2_ppm DIV GREATEST(f_n *"
            " LEAST(f_rows - 1, f_cols - 1), 1) AS BIGINT)"
        ).alias("f_v2_ppm"),
    )

ORACLE["q_cramers_v"] = f"""
    WITH cells AS ({ORACLE["q_chi2_assoc"]}),
    shape AS (
        SELECT CAST(SUM(f_obs) AS BIGINT) AS f_n,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS f_rows,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS f_cols,
               CAST(SUM(f_contrib_ppm) AS BIGINT) AS f_chi2_ppm
        FROM cells
    )
    SELECT f_n, f_rows, f_cols, f_chi2_ppm,
           CAST(f_chi2_ppm // GREATEST(f_n *
                LEAST(f_rows - 1, f_cols - 1), 1) AS BIGINT) AS f_v2_ppm
    FROM shape
"""
QUERIES["q_cramers_v"] = q_cramers_v


# ---------------------------------------------------------------------------
# Exact Spearman rank correlation (tie-averaged ranks, ×2 integers)
# ---------------------------------------------------------------------------


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SPEARMAN rank correlation between l_quantity and
    l_extendedprice over lineitem, ORACLE-GATED — the monotone-
    association screen (robust to the heavy tails that wreck Pearson).
    Tie-averaged ranks carry a half-unit, so ranks are ×2-SCALED
    integers: for a distinct value with count c and inclusive
    cumulative count cum, r×2 = 2·cum − c + 1 (= min-rank + max-rank).
    ρ = 1 − 6·Σd² / (n(n²−1)) with d in half-units becomes
    ρ_ppm = 1e6 − 6e6·Σ(d×2)² DIV (4·n·(n²−1)), every step
    DECIMAL(38,0)/HUGEINT (exact to n ≈ 1.6e10 rows — the documented
    N³ magnitude bound, chi2/KS/Gini precedent). The tie-corrected
    denominator variant is noted, not computed: with heavy ties this
    simplified statistic is itself the standard reported number.

    Scale (r18 rewrite — the r17 shape pre-aggregated to (v1, v2) PAIR
    cells, but price in cents is nearly unique per row so the pair
    frame IS the fact: the localCheckpoint materialized ~n rows, both
    rank tables joined back onto ~n rows, and two range exchanges ran
    where the math needs one). Σd² decomposes exactly over integers:
    Σ(r1−r2)² = Σc₁·r1² + Σc₂·r2² − 2·Σ_rows r1·r2. The quantity side
    is SCHEMA-BOUNDED (l_quantity ∈ 1..50 at every SF): one
    map-combinable 50-key agg, a 50-row driver collect, and exact
    Python-int rank arithmetic turn Σc₁·r1² into a literal and r1 into
    a 50-entry row-local map. The price side then needs ONE fact pass
    grouped by _v2 (map-side combinable; carries count and Σr1 per
    price — the cross term's joint information), ONE
    ranks.global_running_sum range exchange over the price DOMAIN, and
    a domain-sized final agg. No fact-level checkpoint, no fact-sized
    join, no second range exchange. Magnitude bound unchanged: every
    Σ-term ≤ 4n³ (r×2 ≤ 2n), DECIMAL(38,0)/HUGEINT-exact to n ≈
    1.3·10¹² (the documented N³ discipline); the per-price Σr1 partial
    sums accumulate in DECIMAL(38,0) (≤ 2n² — BIGINT would overflow
    past n ≈ 2·10⁹)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(l_quantity AS BIGINT)").alias("_v1"),
        F.expr(
            "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
        ).alias("_v2"),
    ).filter(F.col("_v1").isNotNull() & F.col("_v2").isNotNull())
    # qty domain: bounded collect (≤50 rows — the ranks-module P-row
    # collect discipline), ×2-scaled tie-averaged ranks as exact ints
    v1rows = sorted(
        (r["_v1"], r["_c"])
        for r in li.groupBy("_v1")
        .agg(F.count("*").cast("long").alias("_c"))
        .collect()
    )
    n_qty = len(v1rows)
    r1: dict[int, int] = {}
    sum_c_r1sq = 0  # Σ c₁·r1² over the qty domain — exact Python int
    cum = 0
    for v, c in v1rows:
        cum += c
        rx = 2 * cum - c + 1
        r1[v] = rx
        sum_c_r1sq += c * rx * rx
    r1map = F.create_map(*[F.lit(x) for kv in r1.items() for x in kv])
    # ONE fact pass keyed on price: count + Σ r1 per distinct price
    dv = (
        li.select("_v2", r1map[F.col("_v1")].alias("_r1"))
        .groupBy("_v2")
        .agg(
            F.count("*").cast("long").alias("_c"),
            F.sum(F.expr("CAST(_r1 AS DECIMAL(38,0))")).alias("_sr1"),
        )
    )
    # r18: the price rank rides ranks.bucketed_running_sum instead of
    # the sampled range exchange — the price DOMAIN is schema-bounded
    # (TPC-H l_extendedprice = qty × retailprice ≤ ~10.5e6 cents at ANY
    # SF), so _v2 DIV 2^14 is a ≤ ~650-bucket monotone key: one
    # map-combinable histogram off the RAW fact (per-bucket row count =
    # per-bucket Σ_c of dv, since dv is the per-price count), one
    # bounded driver collect, one bucket-partitioned window. Removes
    # repartitionByRange's sampling re-execution of the fact agg, the
    # pinned localCheckpoint, and the id bookkeeping; falls back to the
    # range machinery above 65536 buckets.
    _SP_BUCKET = 1 << 14
    bexpr = F.expr(f"CAST(_v2 DIV {_SP_BUCKET} AS BIGINT)")
    hist = li.groupBy(bexpr.alias("_b")).agg(
        F.count("*").cast("long").alias("_w")
    )
    cum2 = bucketed_running_sum(
        dv.withColumn("_fs_spb", bexpr),
        ["_v2"],
        "_c",
        "_fs_spb",
        sum_col="_cum",
        hist_df=hist,
    )
    ranked = cum2.select(
        "_c",
        "_sr1",
        F.expr("CAST(2 * _cum - _c + 1 AS BIGINT)").alias("_r2x"),
    )
    agg = ranked.agg(
        F.sum("_c").cast("long").alias("f_n"),
        F.count("*").cast("long").alias("f_distinct_price"),
        F.sum(
            F.expr(
                "CAST(_c AS DECIMAL(38,0))"
                " * CAST(_r2x AS DECIMAL(38,0))"
                " * CAST(_r2x AS DECIMAL(38,0))"
            )
        ).alias("_sr2sq"),
        F.sum(F.expr("_sr1 * CAST(_r2x AS DECIMAL(38,0))")).alias("_cross"),
    )
    return agg.select(
        "f_n",
        F.lit(n_qty).cast("long").alias("f_distinct_qty"),
        "f_distinct_price",
        F.expr(
            f"CAST(1000000 - CAST(6000000 AS DECIMAL(38,0)) *"
            f" (CAST('{sum_c_r1sq}' AS DECIMAL(38,0)) + _sr2sq"
            " - 2 * _cross)"
            " DIV GREATEST(CAST(4 AS DECIMAL(38,0)) * f_n"
            " * (CAST(f_n AS DECIMAL(38,0)) * f_n - 1), 1) AS BIGINT)"
        ).alias("f_rho_ppm"),
    )


ORACLE["q_spearman_corr"] = """
    WITH li AS (
        SELECT CAST(l_quantity AS BIGINT) AS _v1,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS _v2
        FROM lineitem
    ),
    d1 AS (
        SELECT _v1, CAST(COUNT(*) AS BIGINT) AS _c FROM li GROUP BY _v1
    ),
    r1 AS (
        SELECT _v1,
               CAST(2 * SUM(_c) OVER (ORDER BY _v1
                        ROWS UNBOUNDED PRECEDING) - _c + 1 AS BIGINT)
                   AS _v1_r2
        FROM d1
    ),
    d2 AS (
        SELECT _v2, CAST(COUNT(*) AS BIGINT) AS _c FROM li GROUP BY _v2
    ),
    r2 AS (
        SELECT _v2,
               CAST(2 * SUM(_c) OVER (ORDER BY _v2
                        ROWS UNBOUNDED PRECEDING) - _c + 1 AS BIGINT)
                   AS _v2_r2
        FROM d2
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS f_n,
               CAST(COUNT(DISTINCT li._v1) AS BIGINT) AS f_distinct_qty,
               CAST(COUNT(DISTINCT li._v2) AS BIGINT) AS f_distinct_price,
               SUM(CAST(_v1_r2 - _v2_r2 AS HUGEINT)
                   * CAST(_v1_r2 - _v2_r2 AS HUGEINT)) AS _sd2
        FROM li
        JOIN r1 ON li._v1 = r1._v1
        JOIN r2 ON li._v2 = r2._v2
    )
    SELECT f_n, f_distinct_qty, f_distinct_price,
           CAST(1000000 - CAST(6000000 AS HUGEINT) * _sd2
                // GREATEST(CAST(4 AS HUGEINT) * f_n
                            * (CAST(f_n AS HUGEINT) * f_n - 1), 1)
                AS BIGINT) AS f_rho_ppm
    FROM agg
"""
QUERIES["q_spearman_corr"] = q_spearman_corr


# ---------------------------------------------------------------------------
# CUSUM changepoint score over the daily error series (max drawup)
# ---------------------------------------------------------------------------


def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM CHANGEPOINT score over the daily error-event series,
    ORACLE-GATED — the sequential drift detector beside the
    distributional ones (KS/TVD/PSI compare two snapshots; CUSUM finds
    WHEN the rate shifted). Deviations are centered exactly without
    division: y_t = D·x_t − T (D days, T total errors, so Σy = 0 and
    everything stays BIGINT). The one-sided statistic is the MAX
    DRAWUP of the cumulative deviation, S = max_t (P_t − min_{i≤t}
    P_i) with P the prefix sum of y — the clamped-recursion CUSUM
    spelled as two prefix scans, no recursion. Output: one row —
    f_days, f_total, f_cusum_max (in D-scaled count units), and
    f_peak_day (earliest argmax).

    Scale: the day-grain aggregate is calendar-sized; both prefix
    scans ride ONE fused range exchange (ranks.global_drawup_scan) —
    P parallel tasks even if the series grows to millions of periods,
    never a single-task window. The final argmax is a
    TakeOrderedAndProject."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & (F.col("event_type") == "error")
    )
    day = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("_d")
    ).agg(F.count("*").cast("long").alias("_x"))
    return cusum_from_days(day)


def cusum_from_days(day: DataFrame) -> DataFrame:
    """Max-drawup CUSUM from a PER-PERIOD count frame ``(_d, _x)`` —
    the mergeable drift state: the period frame is a keyed COUNT
    aggregate, so a streaming FV maintains it exactly via the
    foreachBatch-MERGE path and the changepoint monitor reads the
    maintained table instead of rescanning raw history (the
    ks_from_points / tvd_from_cells discipline;
    tests/test_streaming.py TestStreamingDrift parity)."""
    day = checkpoint(day)
    # _nd/_tt, NOT _D/_T: Spark resolves case-insensitively and DuckDB
    # lowercases unquoted identifiers, so _d vs _D in one scope COLLIDE
    # on both engines (the CLAUDE.md case-collision hazard)
    tot = day.agg(
        F.count("*").cast("long").alias("_nd"),
        F.sum("_x").cast("long").alias("_tt"),
    )
    y = day.crossJoin(F.broadcast(tot)).select(
        "_d",
        "_nd",
        "_tt",
        (F.col("_nd") * F.col("_x") - F.col("_tt"))
        .cast("long")
        .alias("_y"),
    )
    # ONE fused range exchange for both prefix scans (running sum AND
    # its running min — ranks.global_drawup_scan; the r15 de-creep:
    # previously global_running_sum + global_running_min cost two
    # exchanges, two lineage cuts and two P-row collects).
    s = global_drawup_scan(y, ["_d"], "_y", sum_col="_p", min_col="_pmin")
    return (
        s.select(
            F.col("_nd").alias("f_days"),
            F.col("_tt").alias("f_total"),
            F.expr("CAST(_p - _pmin AS BIGINT)").alias("f_cusum_max"),
            F.col("_d").alias("f_peak_day"),
        )
        .orderBy(F.col("f_cusum_max").desc(), F.col("f_peak_day").asc())
        .limit(1)
    )


ORACLE["q_cusum_drift"] = """
    WITH day AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS _d,
               CAST(COUNT(*) AS BIGINT) AS _x
        FROM events
        WHERE ts IS NOT NULL AND event_type = 'error'
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS _nd,
               CAST(SUM(_x) AS BIGINT) AS _tt
        FROM day
    ),
    p AS (
        SELECT _d, _nd, _tt,
               CAST(SUM(_nd * _x - _tt) OVER (ORDER BY _d
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS _p
        FROM day CROSS JOIN tot
    ),
    s AS (
        SELECT _d, _nd, _tt, _p,
               CAST(MIN(_p) OVER (ORDER BY _d
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS _pmin
        FROM p
    )
    SELECT _nd AS f_days, _tt AS f_total,
           CAST(_p - _pmin AS BIGINT) AS f_cusum_max,
           _d AS f_peak_day
    FROM s
    ORDER BY f_cusum_max DESC, f_peak_day ASC
    LIMIT 1
"""
QUERIES["q_cusum_drift"] = q_cusum_drift


# ---------------------------------------------------------------------------
# Benford first-digit audit (data-quality screen on monetary values)
# ---------------------------------------------------------------------------

# floor(log10(1 + 1/d) · 1e6 + 0.5) for d = 1..9 — sums to exactly 1e6.
_BENFORD_PPM = (
    301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757,
)


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD first-significant-digit audit of order totals,
    ORACLE-GATED — the classic fabricated-/synthetic-data screen a
    data-quality pipeline runs on monetary columns: organically-grown
    magnitudes follow log10(1 + 1/d); clerical defaults, copy-paste
    rows and naive generators don't. The digit comes from the integer
    cents via string truncation (BIGINT→string renders identically on
    both engines — no IEEE log10 anywhere); expected shares are the
    half-up ppm constants of log10(1+1/d) (they sum to exactly 1e6),
    so observed share, expected share and deviation are all integers.

    Scale: one map-side-combinable groupBy onto a 9-value digit
    domain; everything downstream is 9 rows."""
    o = read_table(spark, sf_dir, "orders")
    dig = o.select(
        F.expr(
            "CAST(substring(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5)"
            " AS BIGINT) AS STRING), 1, 1) AS BIGINT)"
        ).alias("f_digit")
    ).groupBy("f_digit").agg(F.count("*").cast("long").alias("f_n"))
    return benford_from_digits(dig)


def benford_from_digits(dig: DataFrame) -> DataFrame:
    """The Benford audit off a PRE-AGGREGATED digit frame ``(f_digit,
    f_n)`` — the ks_from_points / tvd_from_cells / cusum_from_days /
    autocorr_from_days / psi_from_cells discipline (SIXTH member of
    the maintained-monitor family): the digit frame is a keyed COUNT,
    so an incremental FV maintains it exactly via the
    foreachBatch-MERGE path and this statistic reads the maintained
    9-row table — the audit never rescans raw history
    (tests/test_streaming.py TestStreamingDrift pins
    batch == maintained across arrivals)."""
    dig = checkpoint(dig)
    tot = dig.agg(F.sum("f_n").cast("long").alias("_N"))
    exp_case = "CASE f_digit " + " ".join(
        f"WHEN {d + 1} THEN {ppm}" for d, ppm in enumerate(_BENFORD_PPM)
    ) + " ELSE 0 END"
    return (
        dig.crossJoin(F.broadcast(tot))
        .select(
            "f_digit",
            "f_n",
            F.expr(
                "CAST(f_n * 1000000 DIV GREATEST(_N, 1) AS BIGINT)"
            ).alias("f_share_ppm"),
            F.expr(f"CAST({exp_case} AS BIGINT)").alias("f_benford_ppm"),
            F.expr(
                f"CAST(f_n * 1000000 DIV GREATEST(_N, 1)"
                f" - ({exp_case}) AS BIGINT)"
            ).alias("f_dev_ppm"),
        )
        .orderBy("f_digit")
    )


_BENFORD_CASE_SQL = "CASE f_digit " + " ".join(
    f"WHEN {d + 1} THEN {ppm}" for d, ppm in enumerate(_BENFORD_PPM)
) + " ELSE 0 END"

ORACLE["q_benford_digits"] = f"""
    WITH dig AS (
        SELECT CAST(substring(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5)
                    AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS f_digit,
               CAST(COUNT(*) AS BIGINT) AS f_n
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(f_n) AS BIGINT) AS _N FROM dig)
    SELECT f_digit, f_n,
           CAST(f_n * 1000000 // GREATEST(_N, 1) AS BIGINT) AS f_share_ppm,
           CAST({_BENFORD_CASE_SQL} AS BIGINT) AS f_benford_ppm,
           CAST(f_n * 1000000 // GREATEST(_N, 1)
                - ({_BENFORD_CASE_SQL}) AS BIGINT) AS f_dev_ppm
    FROM dig CROSS JOIN tot
    ORDER BY f_digit
"""
QUERIES["q_benford_digits"] = q_benford_digits


# ---------------------------------------------------------------------------
# Lagged autocorrelation of the daily event series (exact integer Pearson²)
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 7)


def q_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG-k AUTOCORRELATION of the daily event-count series (k = 1, 7),
    ORACLE-GATED — the seasonality probe beside q_cusum_drift's
    changepoint score (lag-7 ≫ lag-1 reveals weekly cadence). Pearson r
    needs square roots, so the key reports the EXACT integer pieces and
    r² with its sign: num = n·Σxy − Σx·Σy, den = (n·Σx² − (Σx)²)·
    (n·Σy² − (Σy)²), f_r2_ppm = num²·1e6 DIV den, f_sign = SIGN(num) —
    every step DECIMAL(38,0)/HUGEINT (num² ≤ (n·x²_max)² ≈ 1e24·1e6 at
    the day grain — document the ~1e6-day bound). Pairs join on integer
    epoch seconds + k·86400 — no INTERVAL arithmetic crosses engines.
    Pairs are OBSERVED-day pairs (a missing day contributes no pair, the
    standard gap treatment for count series; document).

    Scale: the day-grain aggregate is calendar-sized; the lag join is a
    self-equi-join on the shifted day key; sufficient statistics are one
    combinable aggregate per lag over that frame."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    day = ev.groupBy(
        F.expr(
            "CAST(unix_timestamp(date_trunc('day', ts)) AS BIGINT)"
        ).alias("_ds")
    ).agg(F.count("*").cast("long").alias("_x"))
    return autocorr_from_days(day)


def autocorr_from_days(day: DataFrame) -> DataFrame:
    """Lag-k autocorrelation pieces off a (``_ds`` epoch-second day,
    ``_x`` BIGINT count) frame — split out of q_autocorr_lag (r13) so
    the statistic composes with MAINTAINED state: the day frame is a
    keyed COUNT aggregate, exactly what an INCREMENTAL feature view
    maintains via the foreachBatch-MERGE path, so a seasonality monitor
    reads the maintained table instead of rescanning raw history (the
    ks_from_points / tvd_from_cells / cusum_from_days discipline —
    TestStreamingDrift pins batch == maintained)."""
    day = checkpoint(day)
    outs = []
    for lag in _ACF_LAGS:
        a, b = day.alias("a"), day.alias("b")
        pairs = a.join(
            b,
            F.col("a._ds") + F.lit(lag * 86400) == F.col("b._ds"),
        ).select(
            F.col("a._x").alias("_xa"), F.col("b._x").alias("_xb")
        )
        stats = pairs.agg(
            F.count("*").cast("long").alias("_n"),
            F.sum("_xa").cast("long").alias("_sx"),
            F.sum("_xb").cast("long").alias("_sy"),
            F.sum(F.expr("CAST(_xa AS DECIMAL(38,0)) * _xb")).alias("_sxy"),
            F.sum(F.expr("CAST(_xa AS DECIMAL(38,0)) * _xa")).alias("_sxx"),
            F.sum(F.expr("CAST(_xb AS DECIMAL(38,0)) * _xb")).alias("_syy"),
        )
        outs.append(
            stats.select(
                F.lit(lag).cast("long").alias("f_lag"),
                F.col("_n").alias("f_pairs"),
                F.expr(
                    "CAST(SIGN(CAST(_n AS DECIMAL(38,0)) * _sxy"
                    " - CAST(_sx AS DECIMAL(38,0)) * _sy) AS BIGINT)"
                ).alias("f_sign"),
                F.expr(
                    "CAST((CAST(_n AS DECIMAL(38,0)) * _sxy"
                    "      - CAST(_sx AS DECIMAL(38,0)) * _sy)"
                    " * (CAST(_n AS DECIMAL(38,0)) * _sxy"
                    "      - CAST(_sx AS DECIMAL(38,0)) * _sy)"
                    " * 1000000"
                    " DIV GREATEST((CAST(_n AS DECIMAL(38,0)) * _sxx"
                    "      - CAST(_sx AS DECIMAL(38,0)) * _sx)"
                    " * (CAST(_n AS DECIMAL(38,0)) * _syy"
                    "      - CAST(_sy AS DECIMAL(38,0)) * _sy), 1)"
                    " AS BIGINT)"
                ).alias("f_r2_ppm"),
            )
        )
    out = outs[0]
    for o2 in outs[1:]:
        out = out.unionAll(o2)
    # row-count parity: Spark's global agg emits a row even for a lag
    # with ZERO pairs (f_pairs=0, NULL stats) where the oracle's
    # GROUP BY emits none — drop empty lags on this side too (a series
    # shorter than the lag simply has no row for it)
    return out.filter(F.col("f_pairs") > 0).orderBy("f_lag")


ORACLE["q_autocorr_lag"] = """
    WITH day AS (
        SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS _ds,
               CAST(COUNT(*) AS BIGINT) AS _x
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    lags AS (SELECT * FROM (VALUES (1), (7)) AS t(f_lag)),
    pairs AS (
        SELECT l.f_lag, a._x AS _xa, b._x AS _xb
        FROM lags l
        JOIN day a ON TRUE
        JOIN day b ON a._ds + l.f_lag * 86400 = b._ds
    ),
    stats AS (
        SELECT f_lag,
               CAST(COUNT(*) AS BIGINT) AS _n,
               CAST(SUM(_xa) AS BIGINT) AS _sx,
               CAST(SUM(_xb) AS BIGINT) AS _sy,
               SUM(CAST(_xa AS HUGEINT) * _xb) AS _sxy,
               SUM(CAST(_xa AS HUGEINT) * _xa) AS _sxx,
               SUM(CAST(_xb AS HUGEINT) * _xb) AS _syy
        FROM pairs GROUP BY f_lag
    )
    SELECT CAST(f_lag AS BIGINT) AS f_lag,
           _n AS f_pairs,
           CAST(SIGN(CAST(_n AS HUGEINT) * _sxy
                     - CAST(_sx AS HUGEINT) * _sy) AS BIGINT) AS f_sign,
           CAST((CAST(_n AS HUGEINT) * _sxy - CAST(_sx AS HUGEINT) * _sy)
                * (CAST(_n AS HUGEINT) * _sxy - CAST(_sx AS HUGEINT) * _sy)
                * 1000000
                // GREATEST((CAST(_n AS HUGEINT) * _sxx
                             - CAST(_sx AS HUGEINT) * _sx)
                          * (CAST(_n AS HUGEINT) * _syy
                             - CAST(_sy AS HUGEINT) * _sy), 1)
                AS BIGINT) AS f_r2_ppm
    FROM stats
    ORDER BY f_lag
"""
QUERIES["q_autocorr_lag"] = q_autocorr_lag


# ---------------------------------------------------------------------------
# Co-occurrence lift over daily user baskets (feature-cross screening)
# ---------------------------------------------------------------------------


def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TYPE co-occurrence LIFT over daily user baskets,
    ORACLE-GATED — the market-basket statistic feature engineering uses
    to screen feature CROSSES: a basket is the distinct event-type set
    of one (user, day); for every unordered type pair,
    lift = P(a,b) / (P(a)·P(b)) spelled exactly as
    C(a,b)·N·1e6 DIV (C(a)·C(b)) with N the basket count. Output: one
    row per pair (a < b) — support counts and lift ppm.

    Scale: the distinct (user, day, type) frame is one combinable
    aggregate; the pair self-join is EQUI on (user, day) with per-basket
    multiplicity bounded by the TYPE DOMAIN (~5), so pairs are linear in
    baskets; marginals aggregate the same distinct frame (one checkpoint cut,
    one scan); the output domain is |types|² / 2."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    # r18 (the q_graph_triangles treatment): ONE (user, day) exchange
    # builds each basket's SORTED distinct type set directly
    # (collect_set = the old projection-distinct, minus NULL types —
    # harmless: the old `_ty < _ty` pair join never emitted NULLs, the
    # NULL marginal never joined back, and a basket whose only type is
    # NULL still keeps its group row so the basket count is unchanged);
    # pairs expand ROW-LOCALLY (i < j over the sorted distinct set = the
    # strict `a._ty < b._ty` pair set), and the marginals and basket
    # count ride the SAME checkpointed frame — the old spelling paid a
    # distinct exchange, a two-sided sorted self-join, and a second
    # distinct for the basket count.
    byb = checkpoint(
        ev.select(
            "user_id",
            F.expr(
                "CAST(unix_timestamp(date_trunc('day', ts)) AS BIGINT)"
            ).alias("_ds"),
            F.col("event_type").alias("_ty"),
        )
        .groupBy("user_id", "_ds")
        .agg(F.expr("array_sort(collect_set(_ty))").alias("_ts"))
    )
    n_baskets = byb.agg(F.count("*").cast("long").alias("_N"))
    singles = byb.select(F.explode("_ts").alias("_ty")).groupBy("_ty").agg(
        F.count("*").cast("long").alias("_c")
    )
    pair = (
        byb.select(
            F.explode(
                F.expr(
                    "flatten(transform(_ts, (x, i) ->"
                    " transform(slice(_ts, i + 2, size(_ts)),"
                    " y -> struct(x AS a, y AS b))))"
                )
            ).alias("_pr")
        )
        .groupBy(
            F.col("_pr.a").alias("f_type_a"),
            F.col("_pr.b").alias("f_type_b"),
        )
        .agg(F.count("*").cast("long").alias("f_both"))
    )
    sa = singles.select(
        F.col("_ty").alias("f_type_a"), F.col("_c").alias("f_n_a")
    )
    sb = singles.select(
        F.col("_ty").alias("f_type_b"), F.col("_c").alias("f_n_b")
    )
    return (
        pair.join(F.broadcast(sa), "f_type_a")
        .join(F.broadcast(sb), "f_type_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "f_type_a",
            "f_type_b",
            "f_both",
            "f_n_a",
            "f_n_b",
            F.expr(
                "CAST(CAST(f_both AS DECIMAL(38,0)) * _N * 1000000"
                " DIV GREATEST(CAST(f_n_a AS DECIMAL(38,0)) * f_n_b, 1)"
                " AS BIGINT)"
            ).alias("f_lift_ppm"),
        )
        .orderBy("f_type_a", "f_type_b")
    )


ORACLE["q_basket_lift"] = """
    WITH basket AS (
        SELECT DISTINCT user_id,
               CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS _ds,
               event_type AS _ty
        FROM events WHERE ts IS NOT NULL
    ),
    nb AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS _N
        FROM (SELECT DISTINCT user_id, _ds FROM basket)
    ),
    singles AS (
        SELECT _ty, CAST(COUNT(*) AS BIGINT) AS _c FROM basket GROUP BY _ty
    ),
    pair AS (
        SELECT a._ty AS f_type_a, b._ty AS f_type_b,
               CAST(COUNT(*) AS BIGINT) AS f_both
        FROM basket a
        JOIN basket b
          ON a.user_id = b.user_id AND a._ds = b._ds AND a._ty < b._ty
        GROUP BY 1, 2
    )
    SELECT f_type_a, f_type_b, f_both,
           sa._c AS f_n_a, sb._c AS f_n_b,
           CAST(CAST(f_both AS HUGEINT) * _N * 1000000
                // GREATEST(CAST(sa._c AS HUGEINT) * sb._c, 1)
                AS BIGINT) AS f_lift_ppm
    FROM pair
    JOIN singles sa ON pair.f_type_a = sa._ty
    JOIN singles sb ON pair.f_type_b = sb._ty
    CROSS JOIN nb
    ORDER BY f_type_a, f_type_b
"""
QUERIES["q_basket_lift"] = q_basket_lift


# ---------------------------------------------------------------------------
# ISO-weekday seasonality profile
# ---------------------------------------------------------------------------


def q_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-WEEKDAY seasonality profile of the event stream,
    ORACLE-GATED — the day-of-week shape q_autocorr_lag's lag-7 signal
    summarizes: per ISO weekday (1 = Monday … 7 = Sunday), events,
    share ppm, distinct users. The portable spelling is Spark
    ``weekday(ts) + 1`` == DuckDB ``isodow(ts)`` (Spark ``dayofweek``
    is Sunday-1 and DuckDB ``dayofweek`` Sunday-0 — both rejected).

    Scale: one combinable agg onto the FIXED 7-value domain + the
    standard two-phase distinct-user expansion."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    wd = ev.groupBy(
        F.expr("CAST(weekday(ts) + 1 AS BIGINT)").alias("f_isodow")
    ).agg(
        F.count("*").cast("long").alias("f_events"),
        F.countDistinct("user_id").cast("long").alias("f_users"),
    )
    wd = checkpoint(wd)
    tot = wd.agg(F.sum("f_events").cast("long").alias("_N"))
    return (
        wd.crossJoin(F.broadcast(tot))
        .select(
            "f_isodow",
            "f_events",
            "f_users",
            F.expr(
                "CAST(f_events * 1000000 DIV GREATEST(_N, 1) AS BIGINT)"
            ).alias("f_share_ppm"),
        )
        .orderBy("f_isodow")
    )


ORACLE["q_weekday_profile"] = """
    WITH wd AS (
        SELECT CAST(isodow(ts) AS BIGINT) AS f_isodow,
               CAST(COUNT(*) AS BIGINT) AS f_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS f_users
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(f_events) AS BIGINT) AS _N FROM wd)
    SELECT f_isodow, f_events, f_users,
           CAST(f_events * 1000000 // GREATEST(_N, 1) AS BIGINT)
               AS f_share_ppm
    FROM wd CROSS JOIN tot
    ORDER BY f_isodow
"""
QUERIES["q_weekday_profile"] = q_weekday_profile


# ---------------------------------------------------------------------------
# Mann-Kendall monotonic-trend test (nonparametric drift monitor)
# ---------------------------------------------------------------------------


def q_trend_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL monotonic-trend test over the daily event-count
    series, ORACLE-GATED — the nonparametric companion to
    q_cusum_drift's changepoint score and q_autocorr_lag's seasonality
    probe: is the series drifting monotonically at all, with no
    distributional assumption? S = Σ_{i<j} sign(x_j − x_i); the
    tie-corrected variance rides WITHOUT its /18 divisor (f_var18 =
    n(n−1)(2n+5) − Σ_t t(t−1)(2t+5), exact integers), and the squared
    z-score is reported as f_zsq_ppm = S²·18·1e6 DIV var18 with
    f_sign = SIGN(S) — the q_autocorr_lag sign/ratio spelling (square
    roots never cross the engine boundary; S²·18·10⁶ can exceed int64
    at calendar scale, so DECIMAL(38,0)/HUGEINT). Negative integral
    division truncates toward zero IDENTICALLY in Spark DIV and DuckDB
    // (probed r13), but every DIV here has a non-negative numerator
    anyway.

    Scale: the day-grain frame is CALENDAR-BOUNDED (thousands of rows
    at any SF), so the i<j pair join is a broadcast-nested-loop over a
    reduced bounded side — n² of a constant, not of the data; the
    corpus cost is one map-side-combinable day aggregate."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    day = checkpoint(
        ev.groupBy(
            F.expr(
                "CAST(unix_timestamp(date_trunc('day', ts)) AS BIGINT)"
            ).alias("_ds")
        ).agg(F.count("*").cast("long").alias("_x"))
    )
    a, b = day.alias("a"), day.alias("b")
    s = a.join(b, F.col("a._ds") < F.col("b._ds")).agg(
        F.sum(F.expr("CAST(SIGN(b._x - a._x) AS BIGINT)"))
        .cast("long")
        .alias("_s")
    )
    n = day.agg(F.count("*").cast("long").alias("_n"))
    ties = (
        day.groupBy("_x")
        .agg(F.count("*").cast("long").alias("_t"))
        .filter(F.col("_t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.expr(
                        "CAST(_t AS DECIMAL(38,0)) * (_t - 1) * (2 * _t + 5)"
                    )
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("_tt")
        )
    )
    return (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("_s").alias("f_s"),
            F.col("_n").alias("f_days"),
            F.expr("CAST(SIGN(_s) AS BIGINT)").alias("f_sign"),
            F.expr(
                "CAST(CAST(_n AS DECIMAL(38,0)) * (_n - 1) * (2 * _n + 5)"
                " - _tt AS BIGINT)"
            ).alias("f_var18"),
            F.expr(
                "CAST(CAST(_s AS DECIMAL(38,0)) * _s * 18 * 1000000"
                " DIV GREATEST(CAST(_n AS DECIMAL(38,0)) * (_n - 1)"
                " * (2 * _n + 5) - _tt, 1) AS BIGINT)"
            ).alias("f_zsq_ppm"),
        )
    )


ORACLE["q_trend_mk"] = """
    WITH day AS (
        SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS _ds,
               CAST(COUNT(*) AS BIGINT) AS _x
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    s AS (
        SELECT CAST(SUM(SIGN(b._x - a._x)) AS BIGINT) AS _s
        FROM day a JOIN day b ON a._ds < b._ds
    ),
    n AS (SELECT CAST(COUNT(*) AS HUGEINT) AS _n FROM day),
    ties AS (
        SELECT COALESCE(CAST(SUM(t * (t - 1) * (2 * t + 5)) AS HUGEINT),
                        0) AS _tt
        FROM (SELECT CAST(COUNT(*) AS HUGEINT) AS t FROM day GROUP BY _x)
        WHERE t > 1
    )
    SELECT _s AS f_s,
           CAST(_n AS BIGINT) AS f_days,
           CAST(SIGN(_s) AS BIGINT) AS f_sign,
           CAST(_n * (_n - 1) * (2 * _n + 5) - _tt AS BIGINT) AS f_var18,
           CAST(CAST(_s AS HUGEINT) * _s * 18 * 1000000
                // GREATEST(_n * (_n - 1) * (2 * _n + 5) - _tt, 1)
                AS BIGINT) AS f_zsq_ppm
    FROM s, n, ties
"""
QUERIES["q_trend_mk"] = q_trend_mk


# ---------------------------------------------------------------------------
# Grouped OLS trend slope (sufficient-statistics regression)
# ---------------------------------------------------------------------------

# days from unix epoch to 1995-01-01 — the x origin (keeps x small and
# the cross-moment bounds tight; any constant shift leaves the slope
# invariant, which the oracle replays exactly)
_OLS_X0 = 9131


def q_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED OLS TREND SLOPE, ORACLE-GATED — per order priority, the
    least-squares revenue trend in ppm-cents per day: slope =
    (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) over x = days since 1995-01-01,
    y = order total in integer cents. The classic sufficient-statistics
    regression a feature pipeline computes per segment (is this
    cohort's spend trending up?) — five cross-moments per group, one
    combinable aggregate, NO per-row residual pass. All moments ride
    DECIMAL(38,0)/HUGEINT: at SF100, n ≤ 1.5·10⁷ per group, |x| ≤
    3·10³, y ≤ 6·10⁷ → Σxy ≤ 2.7·10¹⁸, n·Σxy·10⁶ ≤ 4·10³¹ < 10³⁸.
    Negative slopes are legal: both engines truncate integral division
    toward zero (probed r13 — DuckDB -7//2 = Spark -7 DIV 2 = -3).

    Scale: one hash aggregate onto a 5-value key; everything after is
    5-row arithmetic."""
    o = read_table(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_orderpriority").alias("f_priority"),
        F.expr(
            f"CAST(unix_timestamp(o_orderdate) DIV 86400 - {_OLS_X0}"
            " AS BIGINT)"
        ).alias("_x"),
        F.expr(
            "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"
        ).alias("_y"),
    )
    st = pts.groupBy("f_priority").agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_x").cast("long").alias("_sx"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum(F.expr("CAST(_x AS DECIMAL(38,0)) * _y")).alias("_sxy"),
        F.sum(F.expr("CAST(_x AS DECIMAL(38,0)) * _x")).alias("_sxx"),
    )
    return st.select(
        "f_priority",
        F.col("_n").alias("f_n"),
        F.expr(
            "CAST((CAST(_n AS DECIMAL(38,0)) * _sxy"
            " - CAST(_sx AS DECIMAL(38,0)) * _sy) * 1000000"
            " DIV GREATEST(CAST(_n AS DECIMAL(38,0)) * _sxx"
            " - CAST(_sx AS DECIMAL(38,0)) * _sx, 1) AS BIGINT)"
        ).alias("f_slope_ppm"),
        F.expr("CAST(_sy DIV _n AS BIGINT)").alias("f_mean_cents"),
    ).orderBy("f_priority")


ORACLE["q_ols_slope"] = f"""
    WITH pts AS (
        SELECT o_orderpriority AS f_priority,
               CAST(epoch(o_orderdate) // 86400 - {_OLS_X0} AS BIGINT)
                   AS _x,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS _y
        FROM orders
    ),
    st AS (
        SELECT f_priority,
               CAST(COUNT(*) AS BIGINT) AS _n,
               CAST(SUM(_x) AS BIGINT) AS _sx,
               CAST(SUM(_y) AS BIGINT) AS _sy,
               SUM(CAST(_x AS HUGEINT) * _y) AS _sxy,
               SUM(CAST(_x AS HUGEINT) * _x) AS _sxx
        FROM pts GROUP BY 1
    )
    SELECT f_priority,
           _n AS f_n,
           CAST((CAST(_n AS HUGEINT) * _sxy
                 - CAST(_sx AS HUGEINT) * _sy) * 1000000
                // GREATEST(CAST(_n AS HUGEINT) * _sxx
                 - CAST(_sx AS HUGEINT) * _sx, 1) AS BIGINT)
               AS f_slope_ppm,
           CAST(_sy // _n AS BIGINT) AS f_mean_cents
    FROM st
    ORDER BY f_priority
"""
QUERIES["q_ols_slope"] = q_ols_slope


# ---------------------------------------------------------------------------
# Join-key skew audit (the pre-join monitor a 100 TB pipeline runs)
# ---------------------------------------------------------------------------


def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-KEY SKEW AUDIT, ORACLE-GATED — the distribution of group
    sizes for a prospective join/aggregation key (orders per customer):
    key count, row count, max and exact-p99 group size, mean size in
    ppm, and the largest single key's row share in ppm. This is the
    monitor every large-scale pipeline runs BEFORE shuffling on a key —
    it decides between a plain shuffle join, AQE skew handling, and
    explicit salting (the q_join_skew_salted machinery); the reference's
    FV bodies join on entity keys with exactly this risk
    (macros/materializations/feature_view.sql:126 in the reference).

    Exactness: p99 is EXACT — computed from the HISTOGRAM of group
    sizes, never a percentile over the key frame: the smallest size s
    with |{keys: size ≤ s}| ≥ ceil(0.99·n_keys), ceil spelled
    (99·n + 99) DIV 100 in pure integers. Mean/share ride
    DECIMAL(38,0)/HUGEINT products (n_rows·10⁶ exceeds int64 past
    ~9·10¹² rows).

    Scale: sizes = one map-side-combinable count per key (the only
    corpus-sized stage, checkpointed once); hist = a second combinable
    agg whose domain is the DISTINCT group sizes — at most
    O(√(2·n_rows)) rows (distinct positive integers summing to n_rows),
    ~1.4M at 10¹² rows, so the unpartitioned cumulative window over it
    is sublinear-bounded by construction (the q_vocab_build precedent,
    documented); everything downstream is 1-row arithmetic."""
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders")
    sizes = o.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("_c")
    )
    hist = checkpoint(
        sizes.groupBy("_c").agg(F.count("*").cast("long").alias("_k"))
    )
    tot = hist.agg(
        F.sum("_k").cast("long").alias("_nk"),
        F.sum(F.expr("_c * _k")).cast("long").alias("_nr"),
        F.max("_c").cast("long").alias("_mx"),
    )
    w = Window.orderBy("_c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "_c", F.sum("_k").over(w).cast("long").alias("_cum")
    )
    p99 = (
        cum.crossJoin(tot)
        .filter(F.expr("_cum >= (99 * _nk + 99) DIV 100"))
        .agg(F.min("_c").cast("long").alias("_p99"))
    )
    return tot.crossJoin(p99).select(
        F.col("_nk").alias("f_n_keys"),
        F.col("_nr").alias("f_n_rows"),
        F.col("_mx").alias("f_max_size"),
        F.expr(
            "CAST(CAST(_nr AS DECIMAL(38,0)) * 1000000 DIV _nk AS BIGINT)"
        ).alias("f_mean_size_ppm"),
        F.col("_p99").alias("f_p99_size"),
        F.expr(
            "CAST(CAST(_mx AS DECIMAL(38,0)) * 1000000 DIV _nr AS BIGINT)"
        ).alias("f_top_share_ppm"),
    )


ORACLE["q_skew_audit"] = """
    WITH sizes AS (
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS _c
        FROM orders GROUP BY 1
    ),
    hist AS (
        SELECT _c, CAST(COUNT(*) AS BIGINT) AS _k FROM sizes GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(_k) AS BIGINT) AS _nk,
               CAST(SUM(_c * _k) AS BIGINT) AS _nr,
               CAST(MAX(_c) AS BIGINT) AS _mx
        FROM hist
    ),
    cum AS (
        SELECT _c,
               CAST(SUM(_k) OVER (ORDER BY _c
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS _cum
        FROM hist
    ),
    p99 AS (
        SELECT CAST(MIN(_c) AS BIGINT) AS _p99
        FROM cum, tot WHERE _cum >= (99 * _nk + 99) // 100
    )
    SELECT _nk AS f_n_keys,
           _nr AS f_n_rows,
           _mx AS f_max_size,
           CAST(CAST(_nr AS HUGEINT) * 1000000 // _nk AS BIGINT)
               AS f_mean_size_ppm,
           _p99 AS f_p99_size,
           CAST(CAST(_mx AS HUGEINT) * 1000000 // _nr AS BIGINT)
               AS f_top_share_ppm
    FROM tot, p99
"""
QUERIES["q_skew_audit"] = q_skew_audit


# ---------------------------------------------------------------------------
# Wave 6: Welch t², Tukey-fence outliers, weekday-residual anomalies,
# inter-event gap octave spectrum
# ---------------------------------------------------------------------------


def q_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH TWO-SAMPLE t² STATISTIC, ORACLE-GATED — the parametric
    sibling of q_auc_mann_whitney (rank-based) and q_ks_drift
    (distributional): does mean order value differ between 1-URGENT
    and 5-LOW orders, in sufficient statistics only? Per arm: n, Σy,
    Σy² over integer cents; mean = Σy DIV n, variance =
    (n·Σy² − (Σy)²) DIV (n·(n−1)) — exact truncated integers on both
    engines; se² = v_a DIV n_a + v_b DIV n_b; f_t2_ppm =
    d²·1e6 DIV GREATEST(se², 1) with f_sign = SIGN(d). Square roots
    never cross the engine boundary (the q_trend_mk discipline).

    Magnitude bounds (SF100): y ≤ 6·10⁷ cents → Σy² ≤ 10²⁴, n·Σy² ≤
    3·10³² < 10³⁸ (DECIMAL(38,0)/HUGEINT); variance ≤ y² = 3.6·10¹⁵
    fits BIGINT; |d| ≤ 6·10⁷ → d²·10⁶ ≤ 3.6·10²¹ rides DECIMAL before
    the DIV (the quotient is BIGINT-safe for any se² ≥ 600 cents² —
    at every SF here se² > 10⁶).

    Scale: ONE map-side-combinable conditional aggregate over orders;
    everything downstream is 1-row arithmetic."""
    o = read_table(spark, sf_dir, "orders")
    pts = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.expr("o_orderpriority = '1-URGENT'").alias("_a"),
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "_y"
        ),
    )
    st = pts.agg(
        F.sum(F.expr("CASE WHEN _a THEN 1 ELSE 0 END")).cast("long").alias("_na"),
        F.sum(F.expr("CASE WHEN _a THEN _y ELSE 0 END")).cast("long").alias("_sa"),
        F.sum(
            F.expr("CASE WHEN _a THEN CAST(_y AS DECIMAL(38,0)) * _y ELSE 0 END")
        ).alias("_qa"),
        F.sum(F.expr("CASE WHEN _a THEN 0 ELSE 1 END")).cast("long").alias("_nb"),
        F.sum(F.expr("CASE WHEN _a THEN 0 ELSE _y END")).cast("long").alias("_sb"),
        F.sum(
            F.expr("CASE WHEN _a THEN 0 ELSE CAST(_y AS DECIMAL(38,0)) * _y END")
        ).alias("_qb"),
    )
    st = st.select(
        "*",
        F.expr("CAST(_sa DIV _na AS BIGINT)").alias("_ma"),
        F.expr("CAST(_sb DIV _nb AS BIGINT)").alias("_mb"),
        F.expr(
            "CAST((CAST(_na AS DECIMAL(38,0)) * _qa"
            " - CAST(_sa AS DECIMAL(38,0)) * _sa)"
            " DIV GREATEST(CAST(_na AS DECIMAL(38,0)) * (_na - 1), 1)"
            " AS BIGINT)"
        ).alias("_va"),
        F.expr(
            "CAST((CAST(_nb AS DECIMAL(38,0)) * _qb"
            " - CAST(_sb AS DECIMAL(38,0)) * _sb)"
            " DIV GREATEST(CAST(_nb AS DECIMAL(38,0)) * (_nb - 1), 1)"
            " AS BIGINT)"
        ).alias("_vb"),
    )
    return st.select(
        F.col("_na").alias("f_n_a"),
        F.col("_nb").alias("f_n_b"),
        F.col("_ma").alias("f_mean_a_cents"),
        F.col("_mb").alias("f_mean_b_cents"),
        F.col("_va").alias("f_var_a"),
        F.col("_vb").alias("f_var_b"),
        F.expr("CAST(_va DIV _na + _vb DIV _nb AS BIGINT)").alias("f_se2"),
        F.expr("CAST(SIGN(_ma - _mb) AS BIGINT)").alias("f_sign"),
        F.expr(
            "CAST(CAST(_ma - _mb AS DECIMAL(38,0)) * (_ma - _mb) * 1000000"
            " DIV GREATEST(_va DIV _na + _vb DIV _nb, 1) AS BIGINT)"
        ).alias("f_t2_ppm"),
    )


ORACLE["q_welch_t"] = """
    WITH pts AS (
        SELECT o_orderpriority = '1-URGENT' AS _a,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS _y
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    st AS (
        SELECT CAST(SUM(CASE WHEN _a THEN 1 ELSE 0 END) AS BIGINT) AS _na,
               CAST(SUM(CASE WHEN _a THEN _y ELSE 0 END) AS BIGINT) AS _sa,
               SUM(CASE WHEN _a THEN CAST(_y AS HUGEINT) * _y
                        ELSE 0 END) AS _qa,
               CAST(SUM(CASE WHEN _a THEN 0 ELSE 1 END) AS BIGINT) AS _nb,
               CAST(SUM(CASE WHEN _a THEN 0 ELSE _y END) AS BIGINT) AS _sb,
               SUM(CASE WHEN _a THEN 0
                        ELSE CAST(_y AS HUGEINT) * _y END) AS _qb
        FROM pts
    ),
    d AS (
        SELECT *,
               CAST(_sa // _na AS BIGINT) AS _ma,
               CAST(_sb // _nb AS BIGINT) AS _mb,
               CAST((CAST(_na AS HUGEINT) * _qa
                     - CAST(_sa AS HUGEINT) * _sa)
                    // GREATEST(CAST(_na AS HUGEINT) * (_na - 1), 1)
                    AS BIGINT) AS _va,
               CAST((CAST(_nb AS HUGEINT) * _qb
                     - CAST(_sb AS HUGEINT) * _sb)
                    // GREATEST(CAST(_nb AS HUGEINT) * (_nb - 1), 1)
                    AS BIGINT) AS _vb
        FROM st
    )
    SELECT _na AS f_n_a,
           _nb AS f_n_b,
           _ma AS f_mean_a_cents,
           _mb AS f_mean_b_cents,
           _va AS f_var_a,
           _vb AS f_var_b,
           CAST(_va // _na + _vb // _nb AS BIGINT) AS f_se2,
           CAST(SIGN(_ma - _mb) AS BIGINT) AS f_sign,
           CAST(CAST(_ma - _mb AS HUGEINT) * (_ma - _mb) * 1000000
                // GREATEST(_va // _na + _vb // _nb, 1) AS BIGINT)
               AS f_t2_ppm
    FROM d
"""
QUERIES["q_welch_t"] = q_welch_t


def q_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TUKEY-FENCE OUTLIER AUDIT, ORACLE-GATED — per order priority:
    exact interpolated quartiles of the order value (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``, bit-identical over
    integer cents — the q_time_to_convert precedent), the classic
    1.5·IQR fences, and how many orders fall below/above them. The
    per-segment data-quality screen every ingest pipeline runs before
    trusting a value column. Fences are pure IEEE arithmetic on
    identical doubles spelled identically on both engines
    (``q1 − 1.5·(q3 − q1)``; 1.5 and the quartile interpolation
    fractions are binary-exact), so the BIGINT-vs-double comparisons
    partition rows identically.

    Scale: one combinable quartile aggregate (Spark's percentile is a
    partial-merge aggregate) onto the 5-value key, then one broadcast
    join of the 5-row fence frame back to the fact for a second
    combinable conditional count — two passes, no shuffle of the fact
    beyond the aggregates, no sort."""
    o = read_table(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_orderpriority").alias("f_priority"),
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "_y"
        ),
    )
    qr = pts.groupBy("f_priority").agg(
        F.count("*").cast("long").alias("f_n"),
        F.percentile(F.col("_y"), F.lit(0.25)).alias("f_q1"),
        F.percentile(F.col("_y"), F.lit(0.75)).alias("f_q3"),
    )
    cnt = (
        pts.join(F.broadcast(qr), "f_priority")
        .groupBy("f_priority")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN _y < f_q1 - 1.5 * (f_q3 - f_q1)"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("long")
            .alias("f_n_low"),
            F.sum(
                F.expr(
                    "CASE WHEN _y > f_q3 + 1.5 * (f_q3 - f_q1)"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("long")
            .alias("f_n_high"),
        )
    )
    return (
        qr.join(cnt, "f_priority")
        .select(
            "f_priority",
            "f_n",
            "f_q1",
            "f_q3",
            "f_n_low",
            "f_n_high",
            F.expr(
                "CAST(CAST(f_n_low + f_n_high AS DECIMAL(38,0)) * 1000000"
                " DIV f_n AS BIGINT)"
            ).alias("f_outlier_ppm"),
        )
        .orderBy("f_priority")
    )


ORACLE["q_anomaly_iqr"] = """
    WITH pts AS (
        SELECT o_orderpriority AS f_priority,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS _y
        FROM orders
    ),
    qr AS (
        SELECT f_priority,
               CAST(COUNT(*) AS BIGINT) AS f_n,
               quantile_cont(_y, 0.25) AS f_q1,
               quantile_cont(_y, 0.75) AS f_q3
        FROM pts GROUP BY 1
    ),
    cnt AS (
        SELECT pts.f_priority,
               CAST(SUM(CASE WHEN _y < f_q1 - 1.5 * (f_q3 - f_q1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS f_n_low,
               CAST(SUM(CASE WHEN _y > f_q3 + 1.5 * (f_q3 - f_q1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS f_n_high
        FROM pts JOIN qr ON pts.f_priority = qr.f_priority
        GROUP BY 1
    )
    SELECT qr.f_priority AS f_priority, f_n, f_q1, f_q3, f_n_low, f_n_high,
           CAST(CAST(f_n_low + f_n_high AS HUGEINT) * 1000000 // f_n
                AS BIGINT) AS f_outlier_ppm
    FROM qr JOIN cnt ON qr.f_priority = cnt.f_priority
    ORDER BY f_priority
"""
QUERIES["q_anomaly_iqr"] = q_anomaly_iqr


def q_seasonal_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEEKDAY-DESEASONALIZED ANOMALY DAYS, ORACLE-GATED — the top-10
    days whose event count deviates most from THEIR ISO-weekday's mean,
    in relative ppm: resid_ppm = (x_d·n_w − Σ_w)·1e6 DIV Σ_w, i.e.
    (x/mean_w − 1) in ppm with the division deferred so every
    intermediate is an exact integer (x·n_w − Σ_w = n_w·(x − mean_w);
    no per-weekday mean double ever exists). q_weekday_profile shows
    the weekly shape; this key finds the days that BREAK it — the
    day-grain anomaly screen a monitoring pipeline alerts on after
    removing weekly seasonality. Weekday spelling: Spark
    ``weekday + 1`` == DuckDB ``isodow`` (the q_weekday_profile
    portable form). LIMIT carries the full deterministic ORDER BY
    (|resid| DESC, day ASC — days are unique).

    Scale: the day frame is one combinable corpus aggregate, CALENDAR-
    bounded thereafter; weekday stats aggregate THAT frame (7 rows,
    broadcast back); top-k is TakeOrderedAndProject."""
    day = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(F.date_trunc("day", F.col("ts")).alias("f_day"))
        .agg(F.count("*").cast("long").alias("f_count"))
    )
    day = day.withColumn(
        "f_isodow", F.expr("CAST(weekday(f_day) + 1 AS BIGINT)")
    )
    wstat = day.groupBy("f_isodow").agg(
        F.count("*").cast("long").alias("_nw"),
        F.sum("f_count").cast("long").alias("_sw"),
    )
    return (
        day.join(F.broadcast(wstat), "f_isodow")
        .select(
            "f_day",
            "f_isodow",
            "f_count",
            F.expr(
                "CAST((CAST(f_count AS DECIMAL(38,0)) * _nw - _sw)"
                " * 1000000 DIV _sw AS BIGINT)"
            ).alias("f_resid_ppm"),
        )
        .orderBy(F.abs(F.col("f_resid_ppm")).desc(), F.col("f_day").asc())
        .limit(10)
    )


ORACLE["q_seasonal_residual"] = """
    WITH day AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS f_day,
               CAST(COUNT(*) AS BIGINT) AS f_count
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    dw AS (
        SELECT f_day, CAST(isodow(f_day) AS BIGINT) AS f_isodow, f_count
        FROM day
    ),
    wstat AS (
        SELECT f_isodow,
               CAST(COUNT(*) AS BIGINT) AS _nw,
               CAST(SUM(f_count) AS BIGINT) AS _sw
        FROM dw GROUP BY 1
    )
    SELECT f_day, dw.f_isodow, f_count,
           CAST((CAST(f_count AS HUGEINT) * _nw - _sw) * 1000000 // _sw
                AS BIGINT) AS f_resid_ppm
    FROM dw JOIN wstat ON dw.f_isodow = wstat.f_isodow
    ORDER BY abs(f_resid_ppm) DESC, f_day ASC
    LIMIT 10
"""
QUERIES["q_seasonal_residual"] = q_seasonal_residual


def q_gap_octaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-EVENT GAP OCTAVE SPECTRUM, ORACLE-GATED — per event type,
    the ⌊log2(gap_seconds + 1)⌋ histogram of within-user arrival gaps
    (gap measured to the PREVIOUS event of any type; the type is the
    arriving event's). This is the empirical evidence behind
    q_sessionize's 30-minute threshold — the session boundary should
    sit in the valley of this spectrum — and the per-type arrival-
    burstiness profile beside q_burstiness' dispersion scalar. Octaves
    ride the ``length(bin(x)) − 1`` floor-log2 spelling (IEEE log2
    never crosses the engines, q_doc_surprisal precedent); gaps are
    whole-second ``unix_timestamp`` integers (+1 maps the legal
    zero-gap to octave 0). Share ppm is integer DIV within type.

    Scale: one lag window partitioned by user_id (the natural key —
    no global sort), one combinable aggregate onto the (type ×
    ~32-octave) bounded domain, and a 5-row broadcast of type
    totals."""
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select(
            F.col("event_type").alias("f_type"),
            (
                F.expr("CAST(unix_timestamp(ts) AS BIGINT)")
                - F.lag(F.expr("CAST(unix_timestamp(ts) AS BIGINT)"), 1).over(w)
            ).alias("_gap"),
        )
        .filter(F.col("_gap").isNotNull())
        .select(
            "f_type",
            F.expr(
                "CAST(length(bin(CAST(_gap + 1 AS BIGINT))) - 1 AS BIGINT)"
            ).alias("f_octave"),
        )
    )
    hist = gaps.groupBy("f_type", "f_octave").agg(
        F.count("*").cast("long").alias("f_n")
    )
    tot = hist.groupBy("f_type").agg(
        F.sum("f_n").cast("long").alias("_nt")
    )
    return (
        hist.join(F.broadcast(tot), "f_type")
        .select(
            "f_type",
            "f_octave",
            "f_n",
            F.expr(
                "CAST(CAST(f_n AS DECIMAL(38,0)) * 1000000 DIV _nt"
                " AS BIGINT)"
            ).alias("f_share_ppm"),
        )
        .orderBy("f_type", "f_octave")
    )


ORACLE["q_gap_octaves"] = """
    WITH gaps AS (
        SELECT event_type AS f_type,
               CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT), 1) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                     ) AS _gap
        FROM events WHERE ts IS NOT NULL
    ),
    octv AS (
        SELECT f_type,
               CAST(length(bin(CAST(_gap + 1 AS BIGINT))) - 1 AS BIGINT)
                   AS f_octave
        FROM gaps WHERE _gap IS NOT NULL
    ),
    hist AS (
        SELECT f_type, f_octave, CAST(COUNT(*) AS BIGINT) AS f_n
        FROM octv GROUP BY 1, 2
    ),
    tot AS (
        SELECT f_type, CAST(SUM(f_n) AS BIGINT) AS _nt
        FROM hist GROUP BY 1
    )
    SELECT hist.f_type AS f_type, f_octave, f_n,
           CAST(CAST(f_n AS HUGEINT) * 1000000 // _nt AS BIGINT)
               AS f_share_ppm
    FROM hist JOIN tot ON hist.f_type = tot.f_type
    ORDER BY f_type, f_octave
"""
QUERIES["q_gap_octaves"] = q_gap_octaves


# ---------------------------------------------------------------------------
# Kendall's tau-b — rank association with tie correction
# ---------------------------------------------------------------------------


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL'S TAU-B between the daily order COUNT and daily REVENUE
    series, ORACLE-GATED — the concordance companion to
    q_spearman_corr (rank correlation via ranks) and q_trend_mk
    (Kendall S against time itself): do high-count days and
    high-revenue days agree in ORDER, robust to outliers and ties?

    Exactness: S = Σ_{i<j} sign(x_j−x_i)·sign(y_j−y_i) is an exact
    integer; tie terms ride DOUBLED so no /2 ever divides —
    f_pairs2 = n(n−1), f_xt2 = Σ_t t(t−1) over x-tie groups, f_yt2
    likewise, and tau_b² = 4·S² / ((n(n−1)−Σtx)(n(n−1)−Σty)) is
    reported as f_tau2_ppm = S²·4·10⁶ DIV (…) with f_sign = SIGN(S)
    (the q_trend_mk sign/ratio spelling — square roots never cross
    the engine boundary). S²·4·10⁶ exceeds int64 at calendar scale ⇒
    DECIMAL(38,0)/HUGEINT cross-multiplication; the final ppm ≤ 10⁶
    casts back to BIGINT. Magnitude bound: n ≈ 2.4k days at ANY SF
    (the order calendar is fixed), so S² ≤ 8.5e12 and the DECIMAL
    numerator ≤ 3.4e19 < 10³⁸.

    Scale: the day frame is CALENDAR-BOUNDED, so the i<j pair join is
    a broadcast-nested-loop over a reduced bounded side — n² of a
    constant; the corpus cost is one map-side-combinable day
    aggregate."""
    o = read_table(spark, sf_dir, "orders")
    day = checkpoint(
        o.groupBy(
            F.expr(
                "CAST(unix_timestamp(date_trunc('day', o_orderdate))"
                " AS BIGINT)"
            ).alias("_ds")
        ).agg(
            F.count("*").cast("long").alias("_x"),
            F.sum(
                F.expr(
                    "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"
                )
            ).cast("long").alias("_y"),
        )
    )
    a, b = day.alias("a"), day.alias("b")
    s = a.join(b, F.col("a._ds") < F.col("b._ds")).agg(
        F.sum(
            F.expr(
                "CAST(SIGN(b._x - a._x) AS BIGINT)"
                " * CAST(SIGN(b._y - a._y) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("_s")
    )
    n = day.agg(F.count("*").cast("long").alias("_n"))
    xt = day.groupBy("_x").agg(F.count("*").alias("_t")).agg(
        F.coalesce(
            F.sum(F.expr("CAST(_t AS DECIMAL(38,0)) * (_t - 1)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_xt2")
    )
    yt = day.groupBy("_y").agg(F.count("*").alias("_t")).agg(
        F.coalesce(
            F.sum(F.expr("CAST(_t AS DECIMAL(38,0)) * (_t - 1)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_yt2")
    )
    return (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(xt))
        .crossJoin(F.broadcast(yt))
        .select(
            F.col("_n").alias("f_days"),
            F.col("_s").alias("f_s"),
            F.expr("CAST(SIGN(_s) AS BIGINT)").alias("f_sign"),
            F.expr(
                "CAST(CAST(_n AS DECIMAL(38,0)) * (_n - 1) AS BIGINT)"
            ).alias("f_pairs2"),
            F.expr("CAST(_xt2 AS BIGINT)").alias("f_xt2"),
            F.expr("CAST(_yt2 AS BIGINT)").alias("f_yt2"),
            F.expr(
                "CAST(CAST(_s AS DECIMAL(38,0)) * _s * 4 * 1000000"
                " DIV GREATEST("
                "(CAST(_n AS DECIMAL(38,0)) * (_n - 1) - _xt2)"
                " * (CAST(_n AS DECIMAL(38,0)) * (_n - 1) - _yt2), 1)"
                " AS BIGINT)"
            ).alias("f_tau2_ppm"),
        )
    )


ORACLE["q_kendall_tau"] = """
    WITH day AS (
        SELECT CAST(epoch(date_trunc('day', o_orderdate)) AS BIGINT)
                   AS _ds,
               CAST(COUNT(*) AS BIGINT) AS _x,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS _y
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT CAST(SUM(CAST(SIGN(b._x - a._x) AS BIGINT)
                        * CAST(SIGN(b._y - a._y) AS BIGINT)) AS BIGINT)
                   AS _s
        FROM day a JOIN day b ON a._ds < b._ds
    ),
    n AS (SELECT CAST(COUNT(*) AS HUGEINT) AS _n FROM day),
    xt AS (
        SELECT COALESCE(CAST(SUM(t * (t - 1)) AS HUGEINT), 0) AS _xt2
        FROM (SELECT CAST(COUNT(*) AS HUGEINT) AS t FROM day GROUP BY _x)
    ),
    yt AS (
        SELECT COALESCE(CAST(SUM(t * (t - 1)) AS HUGEINT), 0) AS _yt2
        FROM (SELECT CAST(COUNT(*) AS HUGEINT) AS t FROM day GROUP BY _y)
    )
    SELECT CAST(_n AS BIGINT) AS f_days,
           _s AS f_s,
           CAST(SIGN(_s) AS BIGINT) AS f_sign,
           CAST(_n * (_n - 1) AS BIGINT) AS f_pairs2,
           CAST(_xt2 AS BIGINT) AS f_xt2,
           CAST(_yt2 AS BIGINT) AS f_yt2,
           CAST(CAST(_s AS HUGEINT) * _s * 4 * 1000000
                // GREATEST((_n * (_n - 1) - _xt2)
                            * (_n * (_n - 1) - _yt2), 1)
                AS BIGINT) AS f_tau2_ppm
    FROM s, n, xt, yt
"""
QUERIES["q_kendall_tau"] = q_kendall_tau


# ---------------------------------------------------------------------------
# CUSUM-argmax changepoint detection
# ---------------------------------------------------------------------------


def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-EVENT-TYPE CHANGEPOINT DAY via the CUSUM argmax, ORACLE-GATED
    — the offline answer to "WHEN did this stream's rate shift?", the
    localization companion to q_cusum_drift's maintained "did it
    shift?" score: over each type's daily-count series, the candidate
    split k maximizing the scaled deviation between the prefix rate and
    the overall rate. Cross-multiplied to stay integral —
    D_k = |n·S_k − k·S_n| (S_k = prefix count through day k, S_n =
    total, n = day count) — the (x·n − Σ)-style division-deferral; the
    best day reports D and D·10⁶ DIV (n·S_n) (the normalized deviation
    in ppm of the max possible). Ties break to the EARLIEST day.
    Magnitude bound: with T daily events at SF100 (T ≈ 10¹² overall),
    n·S_k ≤ 31·T fits int64 to T ≈ 3e17; the ppm numerator rides
    DECIMAL(38,0)/HUGEINT.

    Scale: the per-type day frame is calendar×types-bounded; all
    windows partition by event_type over that bounded frame. The
    corpus cost is one map-side-combinable (type, day) aggregate."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    day = checkpoint(
        ev.groupBy(
            F.col("event_type").alias("f_type"),
            F.date_trunc("day", F.col("ts")).alias("f_day"),
        ).agg(F.count("*").cast("long").alias("_c"))
    )
    w_ord = (
        Window.partitionBy("f_type")
        .orderBy("f_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("f_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    scored = (
        day.withColumn(
            "f_k",
            F.row_number().over(
                Window.partitionBy("f_type").orderBy("f_day")
            ).cast("long"),
        )
        .withColumn("_sk", F.sum("_c").over(w_ord))
        .withColumn("f_days", F.count("*").over(w_all).cast("long"))
        .withColumn("_sn", F.sum("_c").over(w_all))
        .withColumn(
            "f_dev",
            F.expr("ABS(f_days * _sk - f_k * _sn)").cast("long"),
        )
    )
    best = scored.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("f_type").orderBy(
                F.col("f_dev").desc(), F.col("f_day").asc()
            )
        ),
    ).filter(F.col("_rn") == 1)
    return best.select(
        "f_type",
        "f_day",
        "f_k",
        "f_days",
        "f_dev",
        F.expr(
            "CAST(CAST(f_dev AS DECIMAL(38,0)) * 1000000"
            " DIV GREATEST(CAST(f_days AS DECIMAL(38,0)) * _sn, 1)"
            " AS BIGINT)"
        ).alias("f_dev_ppm"),
    ).orderBy("f_type")


ORACLE["q_changepoint"] = """
    WITH day AS (
        SELECT event_type AS f_type,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS f_day,
               CAST(COUNT(*) AS BIGINT) AS _c
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT f_type, f_day,
               CAST(ROW_NUMBER() OVER (PARTITION BY f_type
                    ORDER BY f_day) AS BIGINT) AS f_k,
               SUM(_c) OVER (PARTITION BY f_type ORDER BY f_day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS _sk,
               CAST(COUNT(*) OVER (PARTITION BY f_type) AS BIGINT)
                    AS f_days,
               SUM(_c) OVER (PARTITION BY f_type) AS _sn
        FROM day
    ),
    dev AS (
        SELECT f_type, f_day, f_k, f_days,
               CAST(ABS(f_days * _sk - f_k * _sn) AS BIGINT) AS f_dev,
               CAST(CAST(ABS(f_days * _sk - f_k * _sn) AS HUGEINT)
                    * 1000000
                    // GREATEST(CAST(f_days AS HUGEINT) * _sn, 1)
                    AS BIGINT) AS f_dev_ppm,
               ROW_NUMBER() OVER (PARTITION BY f_type
                    ORDER BY ABS(f_days * _sk - f_k * _sn) DESC,
                             f_day ASC) AS _rn
        FROM scored
    )
    SELECT f_type, f_day, f_k, f_days, f_dev, f_dev_ppm
    FROM dev WHERE _rn = 1
    ORDER BY f_type
"""
QUERIES["q_changepoint"] = q_changepoint


# ---------------------------------------------------------------------------
# Theil–Sen robust trend slope
# ---------------------------------------------------------------------------


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL–SEN ROBUST TREND SLOPE of daily order revenue,
    ORACLE-GATED — the outlier-resistant companion to q_ols_slope's
    least-squares line and q_trend_mk's trend direction: the MEDIAN of
    all pairwise slopes (y_j−y_i)/(d_j−d_i) over the daily revenue
    series. Each pairwise slope is computed as an exact integer in
    cents·10⁶ per day — (y_j−y_i)·10⁶ DIV (d_j−d_i) over whole-day
    x-coordinates (epoch DIV 86400) — negative numerators truncate
    toward zero identically in Spark DIV and DuckDB // (probed r13);
    the median/p10/p90 of those integers interpolate bit-identically
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont`` over integer
    inputs, pinned r13). Magnitude bound: daily revenue cents < 10¹⁵
    even at SF100 ⇒ the ·10⁶ cross-multiplication rides
    DECIMAL(38,0)/HUGEINT and each slope fits BIGINT.

    The series is the 1996 calendar year (the q_join_interval_keyless
    year-window precedent): Theil–Sen is an annual-trend estimator
    here, and the bound keeps the EXACT-percentile buffer (which must
    hold every pairwise slope) at ~67k values — n(n−1)/2 of 366 days —
    instead of 2.9M for the full 7-year calendar; all three quantiles
    ride ONE array-percentile aggregate, one buffer not three.

    Scale: the day frame is CALENDAR-BOUNDED; the i<j pair join is a
    broadcast-nested-loop over a reduced bounded side (n² of a
    constant at any SF); the percentile is one partial-merge
    aggregate — the corpus never joins itself."""
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    day = checkpoint(
        o.groupBy(
            F.expr(
                "CAST(unix_timestamp(date_trunc('day', o_orderdate))"
                " AS BIGINT) DIV 86400"
            ).alias("_d")
        ).agg(
            F.sum(
                F.expr(
                    "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"
                )
            ).cast("long").alias("_y")
        )
    )
    a, b = day.alias("a"), day.alias("b")
    slopes = a.join(b, F.col("a._d") < F.col("b._d")).select(
        F.expr(
            "CAST(CAST(b._y - a._y AS DECIMAL(38,0)) * 1000000"
            " DIV (b._d - a._d) AS BIGINT)"
        ).alias("_slope")
    )
    return slopes.agg(
        F.count("*").cast("long").alias("f_pairs"),
        F.expr("percentile(_slope, array(0.1, 0.5, 0.9))").alias("_q"),
        F.min("_slope").alias("f_slope_min"),
        F.max("_slope").alias("f_slope_max"),
    ).select(
        "f_pairs",
        F.expr("_q[1]").alias("f_slope_med"),
        F.expr("_q[0]").alias("f_slope_p10"),
        F.expr("_q[2]").alias("f_slope_p90"),
        "f_slope_min",
        "f_slope_max",
    )


ORACLE["q_theil_sen"] = """
    WITH day AS (
        SELECT CAST(epoch(date_trunc('day', o_orderdate)) AS BIGINT)
                   // 86400 AS _d,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS _y
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1
    ),
    slopes AS (
        SELECT CAST(CAST(b._y - a._y AS HUGEINT) * 1000000
                    // (b._d - a._d) AS BIGINT) AS _slope
        FROM day a JOIN day b ON a._d < b._d
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS f_pairs,
           quantile_cont(_slope, 0.5) AS f_slope_med,
           quantile_cont(_slope, 0.1) AS f_slope_p10,
           quantile_cont(_slope, 0.9) AS f_slope_p90,
           MIN(_slope) AS f_slope_min,
           MAX(_slope) AS f_slope_max
    FROM slopes
"""
QUERIES["q_theil_sen"] = q_theil_sen


# ---------------------------------------------------------------------------
# Lorenz concentration curve at decile grain
# ---------------------------------------------------------------------------


def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LORENZ CONCENTRATION CURVE at DECILE grain over per-customer
    spend, ORACLE-GATED — the curve behind q_gini_spend's single
    coefficient: customers ranked by total spend split into ten exact
    NTILE buckets, each reporting its customer count, spend, running
    cumulative spend, and cumulative share of total in ppm ("the
    bottom 60% of customers hold X% of revenue" — the skew statement a
    data-mix planner acts on).

    Exactness: spend rides integer cents; deciles come from
    functions/ranks.global_ntile (exact SQL NTILE semantics — the
    first total%10 buckets take the extra row — WITHOUT an
    unpartitioned data-sized window; q_global_ntile precedent, plan
    pinned in test_scale_plans.py); the cumulative share is
    cum·10⁶ DIV total on DECIMAL(38,0)/HUGEINT (total cents at SF100
    ≈ 2e17 ⇒ the ·10⁶ product needs >int64).

    Scale: one hash aggregate to the per-customer frame, the ranks.py
    range-exchange for the global order, then a second 10-group
    aggregate; the ONLY unpartitioned window runs over the TEN-row
    decile frame — bounded by construction (q_vocab_build
    precedent)."""
    o = read_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(
            F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)")
        ).cast("long").alias("_cents")
    )
    b = global_ntile(spend, ["_cents", "o_custkey"], 10, out_col="f_decile")
    per = b.groupBy("f_decile").agg(
        F.count("*").cast("long").alias("f_n"),
        F.sum(F.col("_cents").cast("decimal(38,0)")).alias("_dc"),
    )
    w_cum = Window.orderBy("f_decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.orderBy("f_decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # both windows run over the 10-row decile frame — bounded by
    # construction, never data-sized
    return (
        per.withColumn("_cum", F.sum("_dc").over(w_cum))
        .withColumn("_tot", F.sum("_dc").over(w_tot))
        .select(
            "f_decile",
            "f_n",
            F.expr("CAST(_dc AS BIGINT)").alias("f_cents"),
            F.expr("CAST(_cum AS BIGINT)").alias("f_cum_cents"),
            F.expr(
                "CAST(_cum * 1000000 DIV GREATEST(_tot, 1) AS BIGINT)"
            ).alias("f_share_ppm"),
        )
        .orderBy("f_decile")
    )


ORACLE["q_lorenz_deciles"] = """
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS _cents
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT _cents,
               CAST(NTILE(10) OVER (ORDER BY _cents, o_custkey)
                    AS BIGINT) AS f_decile
        FROM spend
    ),
    per AS (
        SELECT f_decile,
               CAST(COUNT(*) AS BIGINT) AS f_n,
               CAST(SUM(_cents) AS HUGEINT) AS _dc
        FROM ranked GROUP BY 1
    )
    SELECT f_decile, f_n,
           CAST(_dc AS BIGINT) AS f_cents,
           CAST(SUM(_dc) OVER (ORDER BY f_decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS f_cum_cents,
           CAST(SUM(_dc) OVER (ORDER BY f_decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                * 1000000
                // GREATEST(SUM(_dc) OVER (), 1)
                AS BIGINT) AS f_share_ppm
    FROM per
    ORDER BY f_decile
"""
QUERIES["q_lorenz_deciles"] = q_lorenz_deciles


# ---------------------------------------------------------------------------
# Banded mutual information (event type × weekday)
# ---------------------------------------------------------------------------


def q_mi_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BANDED MUTUAL INFORMATION between event type and weekday,
    ORACLE-GATED — the information-theoretic member of the association
    family (q_chi2_assoc quadratic, q_cramers_v normalized, q_psi_bits
    one-variable stability): how much does KNOWING the weekday tell
    you about the event-type mix? The classical Σ p·ln(p/(p_r·p_c))
    needs IEEE ln, so the log factor rides the integer OCTAVE-BITS
    spelling (⌊log2 x⌋ = length(bin(x)) − 1 — the q_psi_bits /
    q_entropy_mix trick): per cell,
    t = c_ij · (⌊log2(c_ij·N)⌋ − ⌊log2(r_i·c_j)⌋), summed and reported
    as f_mi_bits_ppm = Σt·10⁶ DIV N (signed — banding can push a
    near-independent cell's term negative, unlike real MI; the
    docstring contract is the BANDED statistic, bit-stable across
    engines). Weekday is pure integer arithmetic ((epoch_day + 3) % 7,
    Monday = 0) — never an engine dayofweek() convention. The c·N /
    r·c products stay BIGINT-safe to ~3·10⁹ events (the q_psi_bits
    bound; document the DECIMAL widening past that).

    Scale: ONE map-side-combinable (type, weekday) corpus aggregate
    onto a ~5×7 cell domain; marginals and terms are broadcast joins
    over that bounded frame."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    cell = checkpoint(
        ev.groupBy(
            F.col("event_type").alias("_et"),
            F.expr(
                "(CAST(unix_timestamp(date_trunc('day', ts)) AS BIGINT)"
                " DIV 86400 + 3) % 7"
            ).alias("_wd"),
        ).agg(F.count("*").cast("long").alias("_c"))
    )
    rtot = cell.groupBy("_et").agg(F.sum("_c").cast("long").alias("_r"))
    ctot = cell.groupBy("_wd").agg(F.sum("_c").cast("long").alias("_k"))
    tot = cell.agg(
        F.sum("_c").cast("long").alias("_n"),
        F.count("*").cast("long").alias("_cells"),
    )
    term = (
        cell.join(F.broadcast(rtot), "_et")
        .join(F.broadcast(ctot), "_wd")
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "CAST(_c AS DECIMAL(38,0))"
                " * CAST((length(bin(GREATEST(_c * _n, 1))) - 1)"
                "      - (length(bin(GREATEST(_r * _k, 1))) - 1)"
                "   AS DECIMAL(38,0))"
            ).alias("_t")
        )
    )
    s = term.agg(F.sum("_t").alias("_S"))
    nr = rtot.agg(F.count("*").cast("long").alias("f_rows"))
    nc = ctot.agg(F.count("*").cast("long").alias("f_cols"))
    return (
        s.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            F.col("_n").alias("f_n"),
            "f_rows",
            "f_cols",
            F.col("_cells").alias("f_cells"),
            F.expr(
                "CAST(_S * 1000000 DIV GREATEST(_n, 1) AS BIGINT)"
            ).alias("f_mi_bits_ppm"),
        )
    )


ORACLE["q_mi_bits"] = """
    WITH cell AS (
        SELECT event_type AS _et,
               (CAST(FLOOR(epoch(date_trunc('day', ts))) AS BIGINT)
                // 86400 + 3) % 7 AS _wd,
               CAST(COUNT(*) AS BIGINT) AS _c
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    ),
    rtot AS (
        SELECT _et, CAST(SUM(_c) AS BIGINT) AS _r FROM cell GROUP BY 1
    ),
    ctot AS (
        SELECT _wd, CAST(SUM(_c) AS BIGINT) AS _k FROM cell GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(_c) AS BIGINT) AS _n,
               CAST(COUNT(*) AS BIGINT) AS _cells
        FROM cell
    ),
    s AS (
        SELECT SUM(
                   CAST(_c AS HUGEINT)
                   * (CAST(length(bin(GREATEST(_c * _n, 1))) AS HUGEINT)
                      - CAST(length(bin(GREATEST(_r * _k, 1)))
                             AS HUGEINT))
               ) AS _S
        FROM cell
        JOIN rtot USING (_et)
        JOIN ctot USING (_wd)
        CROSS JOIN tot
    ),
    nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS f_rows FROM rtot),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS f_cols FROM ctot)
    SELECT _n AS f_n, f_rows, f_cols, _cells AS f_cells,
           CAST(_S * 1000000 // GREATEST(_n, 1) AS BIGINT)
               AS f_mi_bits_ppm
    FROM s, tot, nr, nc
"""
QUERIES["q_mi_bits"] = q_mi_bits
