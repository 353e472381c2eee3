"""Mergeable distinct-count sketches (Apache DataSketches HLL via the
Spark 3.5+ ``hll_*`` built-ins — JVM-side, no UDF anywhere).

Why a feature store needs this: COUNT(DISTINCT user) per slice is the
one aggregate a 100 TB incremental pipeline cannot maintain by
re-aggregation — distinct counts don't add. The mergeable form does:
materialize one HLL SKETCH per (key, day) at refresh time (each refresh
touches only new days), then answer any date-range/any-rollup distinct
query by UNIONING sketches — kilobytes per slice instead of a rescan of
raw events. This is the engine-side analog of Snowflake's
HLL/APPROX_COUNT_DISTINCT + HLL_COMBINE family, which the reference's
arbitrary-SELECT FV bodies can call
(/root/reference/macros/materializations/feature_view.sql:126).

Determinism: DataSketches HLL is hash-based — the same input SET yields
the same sketch regardless of row order or partitioning, and union is
commutative/associative/idempotent, so estimates are reproducible
across runs and cluster layouts (asserted in tests/test_sketches.py).
No DuckDB oracle (different sketch impl) — pytest gates exactness
bounds and merge algebra instead.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_LG_K = 12  # 2^12 registers ≈ 0.8% relative standard error


def hll_sketch_by_key(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    lg_k: int = DEFAULT_LG_K,
    sketch_col: str = "hll_sketch",
) -> DataFrame:
    """One HLL sketch per key group over ``col`` — the MATERIALIZATION
    step. Map-side combinable (partial sketches merge in the shuffle),
    one exchange on the key. Output: keys + a binary sketch column."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias(sketch_col)
    )


def hll_rollup(
    df: DataFrame,
    keys: Sequence[str],
    sketch_col: str = "hll_sketch",
    estimate_col: str = "approx_distinct",
) -> DataFrame:
    """Merge already-materialized sketches up to a coarser key set and
    estimate — the QUERY step: any rollup of a (key, day) sketch table
    without touching raw data. Shuffles only sketch bytes."""
    merged = df.groupBy(*keys).agg(
        F.hll_union_agg(F.col(sketch_col), F.lit(True)).alias(sketch_col)
    )
    return merged.withColumn(
        estimate_col, F.hll_sketch_estimate(F.col(sketch_col)).cast("long")
    )


def hll_estimate(col: Column | str) -> Column:
    """Estimate a single sketch column (no merge)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.hll_sketch_estimate(c).cast("long")


# ---------------------------------------------------------------------------
# Mergeable QUANTILE sketches (HDR-histogram style): log2 octaves × 16
# linear sub-buckets over non-negative integer micro-units. Like the HLL
# family above, the point is INCREMENTAL maintainability: percentiles
# don't re-aggregate, but bucket counts ADD — materialize one sketch per
# (key, day), roll any date range up by summing counts, and read
# quantiles off the cumulative histogram with ≤ 1/16 (6.25%) relative
# error. Every step is INTEGER arithmetic (bit-length octaves via
# length(bin(v)), shifts for sub-buckets), so unlike the hash-based HLL
# sketches this family IS oracle-expressible — q_quantile_sketch is
# hash-checked against DuckDB replaying the identical buckets.
#
# The sketch's physical form is deliberately RELATIONAL — (keys…,
# bucket, cnt) rows, not an array blob: merge is a plain SUM group
# (map-side combinable, AQE-friendly), rollup is a coarser GROUP BY, and
# the bucket universe is bounded (≤ ~1000 buckets for the full int64
# range), so per-key sketch size is bounded regardless of data size.
# ---------------------------------------------------------------------------

HDR_SCALE = 1_000_000  # micro-units: 6 decimal digits of input precision


def hdr_bucket(col: str) -> Column:
    """Bucket index for a non-negative BIGINT micro-unit COLUMN (by
    name — the shift distance is itself a column, which only the SQL
    spelling of shiftright accepts): values < 16 map to themselves
    (exact); above that, octave e = ⌊log2 v⌋ (spelled as
    length(bin(v)) − 1 — integer-exact, no transcendental log) with 16
    linear sub-buckets: idx = (e−3)·16 + (v >> (e−4)) − 16. Contiguous
    by construction (v=15→15, v=16→16, v=32→32). NEGATIVE values fail
    loudly (raise_error) — they would otherwise identity-bucket one row
    per distinct value and silently break the bounded-size guarantee;
    callers shift or filter first (documented contract)."""
    return F.expr(
        f"CAST(CASE WHEN {col} < 0 THEN "
        f"raise_error(concat('hdr sketch requires non-negative values, "
        f"got ', CAST({col} AS STRING))) "
        f"WHEN {col} < 16 THEN {col} "
        f"ELSE (CAST(length(bin({col})) AS BIGINT) - 4) * 16 "
        f"+ shiftright({col}, CAST(length(bin({col})) AS INT) - 5) - 16 "
        f"END AS BIGINT)"
    )


def hdr_bucket_lo(col: str) -> Column:
    """Lower bound of a bucket COLUMN, in micro-units (the
    deterministic representative the quantile reader returns; true
    value is within [lo, lo·(1+1/16)) for octave buckets, exact for
    idx < 16). The shift BASE stays BIGINT — an INT base would wrap at
    2^31 micro-units (~2147 input units) where DuckDB's BIGINT shift
    doesn't (code-review r8 finding, regression-pinned)."""
    return F.expr(
        f"CAST(CASE WHEN {col} < 16 THEN {col} "
        f"ELSE shiftleft(CAST({col} % 16 + 16 AS BIGINT), "
        f"CAST({col} DIV 16 - 1 AS INT)) END AS BIGINT)"
    )


def hdr_sketch_by_key(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    scale: int = HDR_SCALE,
) -> DataFrame:
    """MATERIALIZATION: (keys…, bucket, cnt) rows for non-negative
    ``value_col`` (values are rounded to 1/scale units; a negative
    value raises via the explicit raise_error guard in
    :func:`hdr_bucket` — callers filter or shift first, the documented
    contract). One map-side-combinable exchange."""
    v = F.round(F.col(value_col).cast("double") * F.lit(float(scale))).cast(
        "long"
    )
    return (
        df.select(*keys, v.alias("_mv"))
        .select(*keys, hdr_bucket("_mv").alias("bucket"))
        .groupBy(*keys, "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def hdr_rollup(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """MERGE: roll materialized sketches to a coarser key set — counts
    add, exactly (no estimate error is introduced by merging)."""
    return df.groupBy(*keys, "bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def hdr_quantiles(
    df: DataFrame,
    keys: Sequence[str],
    qs: Sequence[float],
    scale: int = HDR_SCALE,
) -> DataFrame:
    """QUERY: per-key quantile estimates from sketch rows. The rank
    target is ceil(q·n); the answer is the lower bound of the first
    bucket whose cumulative count reaches it. The cumulative window is
    partitioned by key and ordered by bucket — bounded at ≤ ~1000 rows
    per partition by the bucket universe, never data-sized."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy(*keys)
    d = df.withColumn("_cum", F.sum("cnt").over(w)).withColumn(
        "_n", F.sum("cnt").over(tot)
    )
    aggs = [F.max("_n").cast("long").alias("n")]
    for q in qs:
        pct = int(round(q * 100))
        target = F.ceil(F.lit(float(q)) * F.col("_n")).cast("long")
        aggs.append(
            (
                F.min(
                    F.when(F.col("_cum") >= target, hdr_bucket_lo("bucket"))
                ).cast("double")
                / F.lit(float(scale))
            ).alias(f"p{pct}")
        )
    return d.groupBy(*keys).agg(*aggs)


# ---------------------------------------------------------------------------
# Mergeable COUNT-MIN sketches: frequency estimation for high-cardinality
# item streams (token counts, URL hits) in bounded memory. D md5-derived
# hash rows × width W; the sketch is relational (keys…, d, w, cnt) rows
# like the HDR family — merge is a plain SUM group, and estimate(x) =
# min_d cnt[d, h_d(x)] NEVER underestimates (the classic CM guarantee;
# overestimate ≤ 2N/W with prob ≥ 1 − (1/2)^D). The md5-substring hash
# is the repo's portable spelling, so the whole pipeline — sketch build,
# merge, estimate — is oracle-expressible and q_heavy_hitters_sketch is
# hash-checked against a DuckDB replay.
# ---------------------------------------------------------------------------

CM_DEPTH = 4
CM_WIDTH = 1024


def cm_hashes(
    col: Column | str, depth: int = CM_DEPTH, width: int = CM_WIDTH
) -> Column:
    """Array of the item's D cell indices — portable md5 arithmetic
    (Spark ``conv(substr(md5(…)))`` ≡ DuckDB ``('0x'||…)::BIGINT``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"cm{d}:"), c)), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % width
            )
            for d in range(depth)
        ]
    )


def cm_sketch_by_key(
    df: DataFrame,
    keys: Sequence[str],
    item_col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """MATERIALIZATION: (keys…, d, w, cnt) rows — one posexplode of the
    precomputed hash array (D× inflation, all codegen) + one map-side-
    combinable exchange. Sketch size per key group ≤ depth·width rows
    regardless of item cardinality."""
    return (
        df.select(*keys, F.posexplode(cm_hashes(item_col, depth, width)).alias("d", "w"))
        .groupBy(*keys, "d", "w")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def cm_sketch_sql(
    source: str,
    keys: Sequence[str],
    item_col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> str:
    """FV body SQL maintaining the per-key count-min sketch over
    registered source ``source`` — the streaming-maintainable form of
    :func:`cm_sketch_by_key` (hash spelling identical to
    :func:`cm_hashes`). Columns: keys…, d, w, cnt. The (keys, d, w)
    grain is a keyed aggregation the update-mode foreachBatch-MERGE
    path maintains cell-exactly (counts ADD across arrivals — the
    HDR/KMV streaming precedent), and unlike the KMV threshold table
    the state is BOUNDED by construction: ≤ depth·width rows per key
    group regardless of item cardinality."""
    ks = ", ".join(keys)
    cells = ", ".join(
        "(CAST(conv(substring(md5(concat("
        f"'cm{d}:', CAST({item_col} AS STRING))), 1, 8), 16, 10) "
        f"AS BIGINT) % {int(width)})"
        for d in range(depth)
    )
    return (
        f"SELECT {ks}, pe.d, pe.w, COUNT(*) AS cnt FROM {source} "
        f"LATERAL VIEW posexplode(array({cells})) pe AS d, w "
        f"GROUP BY {ks}, pe.d, pe.w"
    )


BLOOM_BITS = 16384
BLOOM_WORD = 32  # 32-bit words: DuckDB's BIGINT << overflows at 63
BLOOM_DEPTH = 3


def bloom_build_sql(
    source: str,
    keys: Sequence[str],
    col: str,
    bits: int = BLOOM_BITS,
    word: int = BLOOM_WORD,
    depth: int = BLOOM_DEPTH,
) -> str:
    """FV body SQL maintaining a per-key Bloom filter over registered
    source ``source`` — the streaming-maintainable form of the
    q_bloom_filter build (operators/stats.py; identical salted-
    md5 bit spelling). Columns: keys…, word, bw. ``bit_or`` is a keyed
    aggregation, and OR is monotone-merge-exact (new arrivals can only
    set bits), so the update-mode foreachBatch-MERGE path maintains
    the filter word-exactly across arrivals; state ≤ bits/word rows
    per key group by construction."""
    ks = ", ".join(keys)
    salts = ", ".join(str(i) for i in range(depth))
    bit = (
        f"CAST(conv(substring(md5(concat('bloom', CAST(s AS STRING), ':',"
        f" CAST({col} AS STRING))), 1, 8), 16, 10) AS BIGINT) % {int(bits)}"
    )
    return (
        f"SELECT {ks}, CAST(_bit DIV {int(word)} AS BIGINT) AS word, "
        f"bit_or(shiftleft(CAST(1 AS BIGINT),"
        f" CAST(_bit % {int(word)} AS INT))) AS bw "
        f"FROM (SELECT {ks}, {bit} AS _bit FROM {source} "
        f"LATERAL VIEW explode(array({salts})) _t AS s) "
        f"GROUP BY {ks}, CAST(_bit DIV {int(word)} AS BIGINT)"
    )


def bloom_contains(
    maintained: DataFrame,
    keys: Sequence[str],
    items: DataFrame,
    item_col: str,
    bits: int = BLOOM_BITS,
    word: int = BLOOM_WORD,
    depth: int = BLOOM_DEPTH,
    out_col: str = "bloom_positive",
) -> DataFrame:
    """Membership probe against a :func:`bloom_build_sql`-maintained
    table: per (keys…, item) → 1 when ALL depth bits are set (possible
    member — no false negatives by construction), else 0. The filter
    side is ≤ |keys|·bits/word rows — broadcastable at any corpus
    size; the probe is one explode(depth) + one broadcast join."""
    salts = items.sparkSession.createDataFrame(
        [(i,) for i in range(depth)], "s INT"
    )
    bit = F.expr(
        "CAST(conv(substring(md5(concat('bloom', CAST(s AS STRING), ':',"
        f" CAST({item_col} AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        f" % {int(bits)}"
    )
    probes = (
        items.crossJoin(F.broadcast(salts))
        .withColumn("_bit", bit)
        .select(
            *keys,
            item_col,
            F.expr(f"CAST(_bit DIV {int(word)} AS BIGINT)").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT),"
                f" CAST(_bit % {int(word)} AS INT))"
            ).alias("_mask"),
        )
    )
    joined = probes.join(
        F.broadcast(maintained.select(*keys, "word", "bw")),
        [*keys, "word"],
        "left",
    )
    hit = (
        F.coalesce(F.col("bw"), F.lit(0)).bitwiseAND(F.col("_mask"))
        == F.col("_mask")
    ).cast("int")
    return joined.groupBy(*keys, item_col).agg(
        F.min(hit).cast("int").alias(out_col)
    )


def cm_rollup(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """MERGE: counts add exactly — rolling per-slice sketches to a
    coarser key set introduces NO additional error."""
    return df.groupBy(*keys, "d", "w").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def cm_estimate(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
    out_col: str = "cm_est",
) -> DataFrame:
    """QUERY against a GLOBAL (un-keyed) sketch: each item's D cells
    left-joined to the sketch (absent cell ⇒ 0), min over d. The
    sketch side is ≤ depth·width rows — always broadcastable."""
    probes = items.select(
        item_col, F.posexplode(cm_hashes(item_col, depth, width)).alias("d", "w")
    )
    joined = probes.join(F.broadcast(sketch.select("d", "w", "cnt")), ["d", "w"], "left")
    return joined.groupBy(item_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias(out_col)
    )


# ---------------------------------------------------------------------------
# Mergeable KMV (k-minimum-values) distinct sketches: the PORTABLE twin
# of the HLL family above. Where DataSketches HLL is opaque binary (no
# DuckDB oracle), KMV is fully relational and fully deterministic: hash
# every value into [0, 2^32) with the repo's md5-substring spelling,
# keep the k SMALLEST distinct hashes per key group — that row set IS
# the sketch. Merge = union the rows, re-take the k smallest (min-k of
# a union is the min-k of the min-ks, so per-slice sketches compose
# exactly). Estimate: if fewer than k hashes exist the count is EXACT;
# else E[distinct] = (k−1)·2^32 / h_k (Bar-Yossef et al. 2002, the
# classic KMV estimator — relative error ~1/√(k−2)).
#
# KMV's extra power over HLL: SET OPERATIONS. The k smallest hashes of
# A ∪ B are a uniform sample of the union, so |{h ∈ kmin(A∪B) : h ∈ A
# ∧ h ∈ B}| / k estimates the Jaccard similarity directly — the shard-
# overlap / corpus-contamination measure a training pipeline needs
# without comparing raw keys. Every step is integer arithmetic on
# md5-derived hashes ⇒ oracle-expressible and hash-checked
# (q_kmv_sketch, q_kmv_jaccard).
# ---------------------------------------------------------------------------

KMV_K = 64
_KMV_SPACE = 1 << 32


def kmv_hash(col: Column | str, salt: str = "kmv:") -> Column:
    """Portable 32-bit hash of a value's string form: Spark
    ``conv(substring(md5(…), 1, 8), 16, 10)`` ≡ DuckDB
    ``('0x' || substr(md5(…), 1, 8))::BIGINT``. Domain-separated from
    the count-min hashes by the salt prefix."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, 8),
            16,
            10,
        )
        .cast("long")
        .alias("h")
    )


def kmv_kmin(
    df: DataFrame,
    keys: Sequence[str],
    k: int = KMV_K,
    pre_distinct: bool = True,
) -> DataFrame:
    """Keep the k smallest DISTINCT ``h`` per key group — the sketch
    body and also the merge step (feed it the union of per-slice
    sketches). Two-stage at scale: a first min-k pass over (keys,
    pmod(h, 32)) sub-groups bounds every window partition by the
    upstream slice size BEFORE the final per-key window sees at most
    32·k rows — min-k composes, so staging never changes the result
    (pytest-pinned). The final window is over ≤ 32·k rows per key,
    never data-sized.

    ``pre_distinct=True`` (raw, unbounded-multiplicity input) dedups
    (keys, h) up front — one extra exchange that bounds the staged
    window by DISTINCT counts. Pass ``pre_distinct=False`` when the
    input's per-(keys, h) multiplicity is already bounded by
    construction (a union of per-slice sketches: ≤ #slices copies; a
    maintained streaming hash table: exactly 1) — the windows rank with
    DENSE_RANK so duplicate hashes share a rank, and the final dedup
    rides the w2 partitioning (hash(keys) satisfies the (keys, h)
    clustering — no third exchange). Same result either way
    (pytest-pinned)."""
    from pyspark.sql import Window

    rank_fn = F.row_number if pre_distinct else F.dense_rank
    d = df.select(*keys, "h")
    if pre_distinct:
        d = d.distinct()
    w1 = Window.partitionBy(*keys, F.pmod(F.col("h"), F.lit(32))).orderBy("h")
    staged = (
        d.withColumn("_rn", rank_fn().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    w2 = Window.partitionBy(*keys).orderBy("h")
    out = (
        staged.withColumn("_rn", rank_fn().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    if not pre_distinct:
        out = out.dropDuplicates([*keys, "h"])
    return out


def kmv_sketch_by_key(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    k: int = KMV_K,
) -> DataFrame:
    """MATERIALIZATION: (keys…, h) rows — the k smallest distinct
    hashes of ``col`` per key group. ≤ k rows per group regardless of
    cardinality."""
    return kmv_kmin(df.select(*keys, kmv_hash(col)), keys, k)


def kmv_estimate(
    sketch: DataFrame,
    keys: Sequence[str],
    k: int = KMV_K,
    out_col: str = "kmv_distinct",
) -> DataFrame:
    """QUERY: distinct-count estimate per key group. Exact when the
    group's cardinality is below k (the sketch holds every hash);
    otherwise (k−1)·2^32 // h_k — pure BIGINT arithmetic, no floats
    anywhere (the product (k−1)·2^32 needs k < 2^31, comfortably
    true)."""
    agg = sketch.groupBy(*keys).agg(
        F.count("*").cast("long").alias("_cnt"),
        F.max("h").cast("long").alias("_hk"),
    )
    est = F.when(F.col("_cnt") < k, F.col("_cnt")).otherwise(
        F.expr(f"CAST(({k} - 1) * {_KMV_SPACE} DIV greatest(_hk, 1) AS BIGINT)")
    )
    return agg.select(*keys, est.cast("long").alias(out_col))


def distinct_over_time(
    events: DataFrame,
    key: str,
    value_col: str,
    ts_col: str = "ts",
    lg_k: int = DEFAULT_LG_K,
) -> DataFrame:
    """The canonical incremental recipe: per-(key, day) sketches of
    ``value_col``. Refresh materializes this with a day-partitioned
    sink (only new days recompute); any date-range distinct query is a
    filter + ``hll_rollup`` over it."""
    return hll_sketch_by_key(
        events.withColumn("_fs_day", F.to_date(F.col(ts_col))),
        [key, "_fs_day"],
        value_col,
        lg_k=lg_k,
    )


# ---------------------------------------------------------------------------
# Streaming KMV maintenance (the HDR-sketch-FV precedent, VERDICT r8
# item 5): a KMV sketch is a k-min SET, which no scalar streaming
# aggregate can carry — but a THRESHOLD-FILTERED distinct-hash table is
# a plain keyed streaming aggregation (group = keys + h), so it rides
# the update-mode foreachBatch-MERGE path with per-group state bounded
# by construction. Reading the k smallest from the maintained table
# reproduces the batch sketch EXACTLY whenever the threshold keeps at
# least k distinct hashes per group (hashes are uniform, so T =
# space·(c·k/n_min) suffices with c a small safety factor; T = space
# disables the filter and degrades gracefully to an exact distinct
# table). This is standard bottom-k threshold sampling — the filter
# keeps E[n·T/space] rows per group, i.e. O(k) at the tuned ratio,
# while per-micro-batch state stays one count per surviving hash.
# ---------------------------------------------------------------------------

def kmv_tuned_threshold(
    k: int = KMV_K,
    expected_min_distinct: int = KMV_K,
    safety: float = 4.0,
) -> int:
    """The tuned hash threshold T = space·(safety·k / n_min) for
    :func:`kmv_threshold_sql`: keeps E[n·T/space] = safety·k·(n/n_min)
    rows per group — O(k) state for every group with ≥
    ``expected_min_distinct`` distinct values, while groups sparser
    than n_min keep everything (exact regime). Pass the SMALLEST
    per-group distinct cardinality you expect at steady state; the
    default n_min = k disables the filter (T = space), which is the
    honest untuned behavior — BOUNDED state requires the caller to
    assert an n_min, there is no free lunch."""
    if k < 1 or expected_min_distinct < 1 or safety <= 0:
        raise ValueError(
            "kmv_tuned_threshold: k, expected_min_distinct >= 1 and "
            f"safety > 0 required (got {k}, {expected_min_distinct}, "
            f"{safety})"
        )
    t = int(_KMV_SPACE * min(1.0, safety * k / expected_min_distinct))
    return max(1, t)


def kmv_threshold_sql(
    source: str,
    keys: Sequence[str],
    col: str,
    threshold: int = _KMV_SPACE // 2,
    salt: str = "kmv:",
) -> str:
    """FV body SQL maintaining the threshold-filtered distinct-hash
    table for ``col`` per ``keys`` over registered source ``source`` —
    the streaming-maintainable form of :func:`kmv_sketch_by_key`
    (hash spelling identical to :func:`kmv_hash`). Columns: keys…, h,
    f_cnt (the count is what makes it a keyed aggregation the
    update-mode merge path maintains; reads ignore it).

    State bound: the DEFAULT threshold (space/2) keeps ~HALF of all
    distinct hashes per group — O(n_distinct) state, the untuned
    worst case. 'Per-group state bounded by construction' ONLY holds
    at a tuned T; derive one with
    ``kmv_tuned_threshold(k, expected_min_distinct)`` and pass it
    here."""
    ks = ", ".join(keys)
    h = (
        f"CAST(conv(substring(md5(concat('{salt}', CAST({col} AS STRING))),"
        " 1, 8), 16, 10) AS BIGINT)"
    )
    return (
        f"SELECT {ks}, h, COUNT(*) AS f_cnt FROM "
        f"(SELECT {ks}, {h} AS h FROM {source}) "
        f"WHERE h < {int(threshold)} GROUP BY {ks}, h"
    )


def kmv_from_maintained(
    maintained: DataFrame,
    keys: Sequence[str],
    k: int = KMV_K,
    threshold: int = _KMV_SPACE // 2,
) -> DataFrame:
    """The KMV sketch (keys…, h) read off a :func:`kmv_threshold_sql`-
    maintained table — identical to the batch ``kmv_sketch_by_key``
    result when every group kept ≥ k hashes (or has fewer than k
    distinct values below the threshold AND fewer than k overall, the
    exact-regime case). The maintained table holds ~n·T/space rows per
    group, so the k-min window here runs over O(k)-sized groups at the
    tuned ratio — never data-sized."""
    # the maintained table is keyed by (keys, h) — multiplicity exactly
    # 1 by construction, so the pre-distinct exchange is pure waste
    return kmv_kmin(
        maintained.select(*keys, "h"), keys, k, pre_distinct=False
    )


def kmv_maintained_estimate(
    maintained: DataFrame,
    keys: Sequence[str],
    k: int = KMV_K,
    threshold: int = _KMV_SPACE // 2,
    out_col: str = "kmv_distinct",
) -> DataFrame:
    """Distinct estimate per group off the maintained table. Groups
    that kept ≥ k hashes use the KMV (k−1)·space/h_k estimator on the
    k-min read (identical to batch); sparser groups fall back to the
    unbiased threshold-sampling estimate cnt·space/T (exact when the
    filter kept everything, i.e. T = space)."""
    kmin = kmv_from_maintained(maintained, keys, k, threshold)
    agg = kmin.groupBy(*keys).agg(
        F.count("*").cast("long").alias("_cnt"),
        F.max("h").cast("long").alias("_hk"),
    )
    est = F.when(
        F.col("_cnt") >= k,
        F.expr(
            f"CAST(({k} - 1) * {_KMV_SPACE} DIV greatest(_hk, 1) AS BIGINT)"
        ),
    ).otherwise(
        F.expr(f"CAST(_cnt * {_KMV_SPACE} DIV {int(threshold)} AS BIGINT)")
    )
    return agg.select(*keys, est.cast("long").alias(out_col))


# ---------------------------------------------------------------------------
# Portable HLL register table (streaming-maintainable MAX-merge form)
# ---------------------------------------------------------------------------

HLL_M = 64           # registers (2^6); σ ≈ 1.04/√64 ≈ 13%
HLL_RHO_MAX = 55     # 60-bit hash → rho ∈ [1, 55]; empty register = 0 here
_HLL_2P55 = 1 << 55
_HLL_ALPHA_NUM, _HLL_ALPHA_DEN = 709, 1000  # α16+ ≈ 0.709 exact-rational


def hll_registers_sql(
    source: str,
    keys: Sequence[str],
    item_col: str,
    m: int = HLL_M,
) -> str:
    """FV body SQL maintaining the per-key PORTABLE-HLL register table
    over registered source ``source`` — the streaming-maintainable form
    of the q_hll_portable register construction (identical md5 hash
    spelling). Columns: keys…, idx, reg (reg = MAX rho). The
    (keys, idx) grain is a keyed MAX aggregation the update-mode
    foreachBatch-MERGE path maintains register-exactly: MAX is
    idempotent and monotone, so replays and out-of-order arrivals
    converge (the Bloom bit_or precedent), and state is BOUNDED by
    construction — ≤ m rows per key group at any item cardinality.
    This closes streaming maintenance across the sketch family: HDR
    (SUM), count-min (SUM), KMV (threshold), Bloom (bit_or), HLL
    (MAX)."""
    ks = ", ".join(keys)
    h = (
        f"CAST(conv(substring(md5(concat('hll:',"
        f" CAST({item_col} AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )
    return (
        f"SELECT {ks}, CAST(h % {int(m)} AS BIGINT) AS idx, "
        f"MAX(CASE WHEN h DIV {int(m)} = 0 THEN {HLL_RHO_MAX} "
        f"ELSE {HLL_RHO_MAX} - length(bin(h DIV {int(m)})) END) AS reg "
        f"FROM (SELECT {ks}, {h} AS h FROM {source} "
        f"WHERE {item_col} IS NOT NULL) "
        f"GROUP BY {ks}, idx"
    )


def hll_registers_by_key(
    df: DataFrame, keys: Sequence[str], item_col: str, m: int = HLL_M
) -> DataFrame:
    """Batch twin of :func:`hll_registers_sql` (exactness comparisons)."""
    h = F.expr(
        f"CAST(conv(substring(md5(concat('hll:',"
        f" CAST({item_col} AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )
    return (
        df.filter(F.col(item_col).isNotNull())
        .select(*keys, h.alias("_h"))
        .select(
            *keys,
            F.expr(f"CAST(_h % {int(m)} AS BIGINT)").alias("idx"),
            F.expr(
                f"CASE WHEN _h DIV {int(m)} = 0 THEN {HLL_RHO_MAX}"
                f" ELSE {HLL_RHO_MAX} - length(bin(_h DIV {int(m)})) END"
            ).alias("_rho"),
        )
        .groupBy(*keys, "idx")
        .agg(F.max("_rho").cast("long").alias("reg"))
    )


def hll_estimate_from_registers(
    regs: DataFrame, keys: Sequence[str], m: int = HLL_M
) -> DataFrame:
    """Raw HLL estimate per key group off a (maintained) register table
    — the q_hll_portable harmonic algebra: exact integer denominator
    Σ2^(55−reg) (+2^55 per EMPTY register), α·m²·2^55 DIV regsum.
    Columns: keys…, hll_est (BIGINT). Bias corrections (ln-based) stay
    production-side by design."""
    per = regs.groupBy(*keys).agg(
        F.count("*").cast("long").alias("_nhit"),
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT),"
                f" CAST({HLL_RHO_MAX} - reg AS INT))"
            )
        ).cast("long").alias("_hitsum"),
    )
    return per.select(
        *keys,
        F.expr(
            f"CAST(CAST({_HLL_ALPHA_NUM} AS DECIMAL(38,0)) * {int(m)}"
            f" * {int(m)} * CAST({_HLL_2P55} AS DECIMAL(38,0))"
            f" DIV (CAST({_HLL_ALPHA_DEN} AS DECIMAL(38,0))"
            f" * (_hitsum + ({int(m)} - _nhit)"
            f" * CAST({_HLL_2P55} AS BIGINT))) AS BIGINT)"
        ).alias("hll_est"),
    )
