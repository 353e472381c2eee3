"""EXT similarity-search queries over the ``embeddings`` table
(SURVEY.md §2.E).

``q_sim_topk`` is the oracle-gated exact form: dot products computed in
DECIMAL via posexplode + position join, so the result is order-independent
and bit-identical across engines. The production fast path
(``functions/similarity.cosine_topk`` — native zip_with/aggregate, zero
shuffle) and the ANN/LSH scale paths are exercised as rows-only keys and
pytest-asserted to agree with the exact form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import similarity as SIM
from ..functions.literal import literal_df
from ..plans.inspect import checkpoint
from ..sources.tables import read_table

_QUERY_ID = 0
_K = 10


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "embeddings")


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    # the query VECTOR is a parameter of the search (one driver-side row),
    # not distributed data
    row = _emb(spark, sf_dir).filter(F.col("vec_id") == _QUERY_ID).head()
    return [float(x) for x in row["embedding"]]


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k vs the vec_id=0 query vector, decimal-exact.

    Plan shape: posexplode embeddings (64× row inflation but only
    (vec_id, pos, x) columns), broadcast-join the 64 query elements by
    position, hash-aggregate decimal products per vec_id — one shuffle on
    vec_id, then TakeOrderedAndProject for the top-k. At 100 TB the fast
    float path (cosine_topk) replaces this; it exists to pin exactness."""
    e = _emb(spark, sf_dir)
    elems = e.filter(F.col("vec_id") != _QUERY_ID).select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).withColumn("x", F.col("x").cast("decimal(18,9)"))
    q = (
        e.filter(F.col("vec_id") == _QUERY_ID)
        .select(F.posexplode("embedding").alias("i", "qx"))
        .withColumn("qx", F.col("qx").cast("decimal(18,9)"))
    )
    dots = (
        elems.join(F.broadcast(q), "i")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("x") * F.col("qx")).cast("double").alias("dot"),
            F.sum(F.col("x") * F.col("x")).cast("double").alias("na"),
        )
    )
    nq = q.agg(F.sum(F.col("qx") * F.col("qx")).cast("double").alias("nq"))
    scored = dots.crossJoin(F.broadcast(nq)).select(
        "vec_id",
        F.round(
            F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nq"))), 6
        ).alias("f_cosine"),
    )
    return scored.orderBy(F.col("f_cosine").desc(), F.col("vec_id").asc()).limit(_K)


def q_sim_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity RANGE search: every vector whose cosine vs the
    vec_id=0 query clears a threshold (τ=0.15) — the radius-probe read
    ("all near neighbors", e.g. collecting every candidate duplicate of
    a query doc) next to q_sim_topk's top-k. Same decimal-exact dot
    machinery; the only difference is a filter on the rounded score
    instead of TakeOrderedAndProject, so output size is data-dependent.
    At 100 TB the LSH/IVF bucket probes generate candidates and this
    exact rescoring runs on the pruned set — identical plan tail."""
    e = _emb(spark, sf_dir)
    elems = e.filter(F.col("vec_id") != _QUERY_ID).select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).withColumn("x", F.col("x").cast("decimal(18,9)"))
    q = (
        e.filter(F.col("vec_id") == _QUERY_ID)
        .select(F.posexplode("embedding").alias("i", "qx"))
        .withColumn("qx", F.col("qx").cast("decimal(18,9)"))
    )
    dots = (
        elems.join(F.broadcast(q), "i")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("x") * F.col("qx")).cast("double").alias("dot"),
            F.sum(F.col("x") * F.col("x")).cast("double").alias("na"),
        )
    )
    nq = q.agg(F.sum(F.col("qx") * F.col("qx")).cast("double").alias("nq"))
    # floor(x·1e6 + 0.5)/1e6, never round(): the rounded value feeds the
    # FILTER, so a half-boundary divergence between engines would change
    # the row-set itself (CLAUDE.md rounding invariant)
    cos = F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nq")))
    scored = dots.crossJoin(F.broadcast(nq)).select(
        "vec_id",
        (F.floor(cos * 1000000 + F.lit(0.5)) / 1000000.0).alias("f_cosine"),
    )
    return scored.filter(F.col("f_cosine") >= 0.15)


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN self-join (every vector's top-3 cosine neighbors),
    decimal-exact and oracle-gated on a bounded slice (vec_id < 200 —
    documented exactness pin; the ALL-vectors scale path is the LSH /
    IVF candidate generation (q_sim_ann_lsh / q_sim_ivf) feeding the
    same rescoring). Plan (r18 rewrite): bounded broadcast NLJ of
    the slice against itself (n² pair rows); the per-pair dot runs as a
    ROW-LOCAL long fold over the UNSCALED decimal-(18,9) values — each
    64-lane product splits into (p DIV 1e9, p MOD 1e9) halves whose
    sums stay in int64, and the exact decimal value is rebuilt as
    DECIMAL(13,11) + DECIMAL(19,18) pieces (both divisions terminate
    within the result scale, so every step is EXACT — the plain
    ``aggregate`` fold over decimal products that r17 rejected would
    precision-cap to scale 17; this split is how the fold keeps the
    full scale-18 value, bit-identical to the old explode + SUM
    spelling, with NO per-pair shuffle or decimal aggregation at all).
    Magnitude: |x| ≤ 0.6 (the documented corpus coordinate bound the
    whole portable-similarity family relies on) keeps every product ≤
    3.6·10¹⁷ and the half-sums ≤ 6.4·10¹⁰ — factor-25 headroom inside
    int64. Norms ride the rows via the SAME fold (x = y), so the r17
    norm join-backs are gone. row_number per id_a over the ROUNDED
    cosine with id tiebreak — fully deterministic. The pre-r17
    spelling position-joined two n·64 exploded frames; r17 still
    exploded 64 product rows per pair into a decimal
    ObjectHashAggregate behind an (id_a, id_b) exchange."""
    from pyspark.sql import Window

    k = 3

    def dot_dec(xs: str, ys: str) -> str:
        # exact Σ x·y over unscaled longs: both half-sum divisions
        # terminate within the result scale (ph·1e-9 has ≤9 fractional
        # digits into scale 11; pl·1e-18 has ≤18 into scale 18), so the
        # decimal rebuild is exact and its DOUBLE cast is the identical
        # correctly-rounded value the old SUM(decimal) path produced.
        # coalesce(…, 0) = the NULL-skipping SUM semantics.
        ph = (
            f"aggregate(zip_with({xs}, {ys},"
            " (x, y) -> coalesce(x * y, CAST(0 AS BIGINT)) DIV 1000000000),"
            " CAST(0 AS BIGINT), (s, v) -> s + v)"
        )
        pl = (
            f"aggregate(zip_with({xs}, {ys},"
            " (x, y) -> coalesce(x * y, CAST(0 AS BIGINT)) % 1000000000),"
            " CAST(0 AS BIGINT), (s, v) -> s + v)"
        )
        return (
            f"CAST(CAST(CAST({ph} AS DECIMAL(20,0)) / 1000000000"
            f" AS DECIMAL(13,11))"
            f" + CAST(CAST({pl} AS DECIMAL(20,0)) / 1000000000000000000"
            f" AS DECIMAL(19,18)) AS DOUBLE)"
        )

    e = _emb(spark, sf_dir).filter(F.col("vec_id") < 200)
    base = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x ->"
            " CAST(CAST(x AS DECIMAL(18,9)) * 1000000000 AS BIGINT))"
        ).alias("_xd"),
    ).withColumn("_n", F.expr(dot_dec("_xd", "_xd")))
    bb = base.select(
        F.col("vec_id").alias("id_b"),
        F.col("_xd").alias("_xb"),
        F.col("_n").alias("_nb"),
    )
    scored = (
        base.select(F.col("vec_id").alias("id_a"), "_xd",
                    F.col("_n").alias("_na"))
        .crossJoin(F.broadcast(bb))
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "id_a", "id_b",
            # NOT round(): engines disagree at exact half-boundaries of
            # double→decimal rounding (observed at sf0.01: 0.284494 vs
            # 0.284493). floor(x·1e6 + 0.5)/1e6 is pure IEEE double
            # arithmetic — bit-identical on any engine.
            F.expr(
                f"floor({dot_dec('_xd', '_xb')} / (sqrt(_na) * sqrt(_nb))"
                " * 1000000.0D + 0.5D) / 1000000.0D"
            ).alias("f_cosine"),
        )
    )
    w = Window.partitionBy("id_a").orderBy(
        F.col("f_cosine").desc(), F.col("id_b").asc()
    )
    return (
        scored.withColumn("f_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("f_rank") <= k)
        .select("id_a", "f_rank", "id_b", "f_cosine")
    )


def q_sim_topk_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production brute-force path, ORACLE-GATED (r11, VERDICT-r10 #6):
    the native zip_with/aggregate FLOAT dot generates the top-5k
    candidates (over-fetched so a float near-tie at the k boundary
    cannot drop a true top-k member — ADVICE r11) — zero shuffle,
    TakeOrderedAndProject — and the survivors are RESCORED
    decimal-exactly before the final exact top-k cut (the standard
    candidate-generate → exact-rescore ANN serving shape; the rescore
    frame is O(k) rows, so the decimal posexplode join is bounded at
    any SF). Because pytest pins float-path/decimal-path id-set equality
    (tests/test_ext.py), the output equals q_sim_topk's and the SAME
    DuckDB oracle hash-gates this key — the r10 verdict's 'invariant
    twin' greening. The float candidate pass stays the plan the 100 TB
    user runs; the rescore adds one broadcast join over k rows."""
    qv = _query_vec(spark, sf_dir)
    e = _emb(spark, sf_dir).filter(F.col("vec_id") != _QUERY_ID)
    # over-fetch 5×k float candidates before the exact rescore so a
    # float-precision near-tie AT the k boundary cannot drop a true
    # top-k member (ADVICE-r11; the candidate set must contain the
    # exact top-k, not merely equal it) — the rescore frame stays
    # O(k), bounded at any SF.
    # ADVICE-r12 #2: the fixed 5× multiplier is a PROBABILISTIC bound,
    # not a proof — float32→float64 cosine error is ~1e-7 while
    # neighbor-score gaps in this corpus are ≥1e-4 (pytest pins the
    # float/exact id-set equality at ranks ≤ 5k), so a true top-k
    # member falling past rank 5k would need a 1000× error excursion.
    # A corpus with genuinely denser score ties should derive the cut
    # with a score-epsilon margin (keep every candidate within float
    # error of the k-th score) instead of a fixed multiplier.
    cand = SIM.cosine_topk(e, qv, k=5 * _K).select("vec_id")
    elems = (
        e.join(F.broadcast(cand), "vec_id")
        .select("vec_id", F.posexplode("embedding").alias("i", "x"))
        .withColumn("x", F.col("x").cast("decimal(18,9)"))
    )
    q = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") == _QUERY_ID)
        .select(F.posexplode("embedding").alias("i", "qx"))
        .withColumn("qx", F.col("qx").cast("decimal(18,9)"))
    )
    dots = (
        elems.join(F.broadcast(q), "i")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("x") * F.col("qx")).cast("double").alias("dot"),
            F.sum(F.col("x") * F.col("x")).cast("double").alias("na"),
        )
    )
    nq = q.agg(F.sum(F.col("qx") * F.col("qx")).cast("double").alias("nq"))
    return (
        dots.crossJoin(F.broadcast(nq))
        .select(
            "vec_id",
            F.round(
                F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nq"))), 6
            ).alias("f_cosine"),
        )
        .orderBy(F.col("f_cosine").desc(), F.col("vec_id").asc())
        .limit(_K)
    )


def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH bucket probe (approx → rows-only)."""
    qv = _query_vec(spark, sf_dir)
    e = _emb(spark, sf_dir).filter(F.col("vec_id") != _QUERY_ID)
    return SIM.ann_lsh_topk(e, qv, k=_K, num_bits=4)


_IVF_CACHE: dict[tuple[str, int], SIM.IVFIndex] = {}


def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: coarse quantizer + n_probe nearest cells (approx →
    rows-only; deterministic via fixed seed). The quantizer is
    index-build-time state: fit ONCE per corpus on a bounded
    deterministic sample (IVFIndex.build) and cached — never a
    full-corpus training job in the query path."""
    qv = _query_vec(spark, sf_dir)
    e = _emb(spark, sf_dir).filter(F.col("vec_id") != _QUERY_ID)
    key = (sf_dir, 8)
    if key not in _IVF_CACHE:
        _IVF_CACHE[key] = SIM.IVFIndex.build(e, num_centroids=8, seed=42)
    return _IVF_CACHE[key].search(e, qv, k=_K, n_probe=3)


def q_sim_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE FAISS-style read path composed from this engine's
    pieces: IVF coarse probe (3 of 8 cells — partition-prunable at
    scale) → PQ asymmetric-distance scoring over 8-byte codes within
    the probed cells → exact cosine re-rank of the top-50 candidates.
    At 100 TB: the scan touches n_probe/num_cells of the CODES table
    (~3% of 3% of raw bytes), full vectors load only for the bounded
    re-rank set. Both index structures are build-once bounded-sample
    state (cached per corpus here). Approx → rows-only; the component
    recalls are pytest-pinned (TestPQ, ANN tests)."""
    from ..functions.similarity import PQIndex, cosine_scores

    qv = _query_vec(spark, sf_dir)
    e = _emb(spark, sf_dir).filter(F.col("vec_id") != _QUERY_ID)
    key = (sf_dir, 8)
    if key not in _IVF_CACHE:
        _IVF_CACHE[key] = SIM.IVFIndex.build(e, num_centroids=8, seed=42)
    ivf = _IVF_CACHE[key]
    pq_key = (sf_dir, "pq")
    if pq_key not in _PQ_CACHE:
        _PQ_CACHE[pq_key] = PQIndex.build(e, m=8, k=16)
    pq = _PQ_CACHE[pq_key]
    # coarse probe: vectors whose cell is among the query's 3 nearest
    probed = ivf.assign(e).filter(
        F.col("_cell").isin(*ivf.probe_cells(qv, n_probe=3))
    )
    cand = pq.search(
        pq.encode(probed).select("vec_id", "_pq"), qv, k=50
    ).select("vec_id")
    rerank = cosine_scores(e.join(cand, "vec_id"), qv)
    return (
        rerank.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(_K)
        .select("vec_id", F.col("cosine").alias("f_cosine"))
    )


_PQ_CACHE: dict = {}


def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the leading embedding dimensions — the
    cluster-profile aggregation an embedding pipeline runs for drift /
    balance checks. Exactness: each float is widened to double (exact),
    scaled by 1e6 and rounded to an integer-valued double (a float times
    1e6 can never land exactly on .5 — floats are dyadic rationals, .5
    offsets need a factor of 5⁶ — so half-up vs half-even cannot
    diverge), summed as DECIMAL (order-independent), descaled once.
    Single hash aggregate, one shuffle on the tiny label key."""
    e = _emb(spark, sf_dir)

    def cdim(i: int):
        scaled = F.round(F.element_at("embedding", i).cast("double") * 1000000.0)
        return (
            F.sum(scaled.cast("decimal(18,0)")).cast("double")
            / 1000000.0
            / F.count("*")
        ).alias(f"f_c{i}")

    return e.groupBy("label").agg(
        F.count("*").alias("f_n"), cdim(1), cdim(2), cdim(3), cdim(4)
    )


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per embedding — the storage/transfer
    compression step an embedding pipeline runs before indexing (8×
    smaller vectors; dot products on int8 with one rescale). Per vector:
    scale = 127/max|x|, q_i = floor(x·scale + 0.5) — floor(+0.5) instead
    of round() because the two engines disagree on half-rounding modes
    while floor is bit-identical IEEE in both. Emits the scale and two
    quantization-quality aggregates (sum of quantized values, saturated
    count). Row-local transforms only: zero shuffle, codegen'd HOFs —
    embarrassingly parallel at any scale."""
    e = _emb(spark, sf_dir)
    d = e.select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("e")
    )
    d = d.withColumn(
        "max_abs", F.expr("array_max(transform(e, x -> abs(x)))")
    ).filter("max_abs > 0")
    d = d.withColumn("f_scale", F.lit(127.0) / F.col("max_abs"))
    d = d.withColumn(
        "qs", F.expr("transform(e, x -> cast(floor(x * f_scale + 0.5d) as bigint))")
    )
    return d.select(
        "vec_id",
        "f_scale",
        F.expr("aggregate(qs, 0L, (a, x) -> a + x)").alias("f_sum_q"),
        F.expr("cast(size(filter(qs, q -> abs(q) = 127)) as bigint)").alias(
            "f_n_sat"
        ),
    )


def q_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance matrix of the leading 16 embedding dimensions —
    the drift/whitening statistic an embedding pipeline computes before
    PCA or quantizer training. One pass, fully distributed: each vector
    emits its upper-triangle outer-product terms row-locally (codegen'd
    HOFs over a materialized micro-int array — no UDF), the (i, j) sums
    are map-side combinable on a 136-key agg, and the 16 per-dim sums
    broadcast back. No vector ever meets another vector: cost is
    n·d²/2 products, zero self-joins — the sufficient-statistics form
    that survives 100 TB (and the mergeable form incremental refresh
    needs).

    Exactness: floats → micro-unit BIGINTs via the floor(x·1e6 + 0.5)
    portable rounding; products summed as DECIMAL (order-independent);
    cov = (n·Σxy − Σx·Σy) / n² descaled by 1e12 with one final double
    division — identical operand sequence both engines. Per-dim sums at
    DECIMAL(18,0) keep the Σx·Σy product ≤ p38 (no silent Spark scale
    loss)."""
    # explicit 16-element guard BOTH sides: a NULL or short embedding
    # would otherwise diverge between Spark (explode drops the row from
    # the pair count) and the oracle's range() cross join (keeps it) —
    # the count feeding cov must see identical row sets
    e = _emb(spark, sf_dir).select(
        "vec_id",
        F.expr(
            "transform(slice(embedding, 1, 16),"
            " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5D) AS BIGINT))"
        ).alias("em"),
    ).filter(F.size("em") == 16)
    pairs = e.select(
        F.explode(
            F.expr(
                "flatten(transform(em, (x, i) ->"
                " transform(slice(em, i + 1, 16 - i),"
                " (y, j) -> struct(i AS i, i + j AS j, x * y AS p))))"
            )
        ).alias("s")
    ).select("s.i", "s.j", "s.p")
    sums = pairs.groupBy("i", "j").agg(
        F.sum(F.col("p").cast("decimal(28,0)")).alias("_sxy"),
        F.count("*").cast("decimal(10,0)").alias("_n"),
    )
    dims = (
        e.select(F.posexplode("em").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum(F.col("v").cast("decimal(18,0)")).alias("_s"))
    )
    di = dims.select(F.col("i").alias("_di"), F.col("_s").alias("_sx"))
    dj = dims.select(F.col("i").alias("_dj"), F.col("_s").alias("_sy"))
    out = (
        sums.join(F.broadcast(di), sums["i"] == di["_di"])
        .join(F.broadcast(dj), sums["j"] == dj["_dj"])
    )
    num = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    return out.select(
        F.col("i").cast("long").alias("f_i"),
        F.col("j").cast("long").alias("f_j"),
        F.col("_sxy").cast("double").alias("f_sxy"),
        (
            num.cast("double")
            / (
                F.col("_n").cast("double")
                * F.col("_n").cast("double")
                * F.lit(1000000000000.0)
            )
        ).alias("f_cov"),
    )


def q_sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (functions/similarity.PQIndex): 64-float
    vectors stored as 8 codes (~32× compression), ADC scoring off a
    per-query lookup table (all native zip_with/aggregate exprs), top-50
    candidates re-ranked EXACTLY by cosine for the final top-10 — the
    FAISS IVF+PQ read path's memory half. Approx by construction →
    rows-only; recall floors + determinism pytest-pinned
    (tests/test_ext.py::TestPQ)."""
    from ..functions.similarity import PQIndex, cosine_scores

    e = _emb(spark, sf_dir)
    idx = PQIndex.build(e, m=8, k=16)
    enc = idx.encode(e).select("vec_id", "_pq")
    q = _query_vec(spark, sf_dir)
    cand = idx.search(enc, q, k=50).select("vec_id")
    rerank = cosine_scores(e.join(cand, "vec_id"), q)
    return (
        rerank.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(_K)
        .select("vec_id", F.col("cosine").alias("f_cosine"))
    )


def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup candidates via LSH buckets (approx →
    rows-only). Top-50 highest-cosine bucket pairs above a 0.0 floor,
    deterministically ordered — non-empty at every SF, so the driver's
    rows-only check exercises the whole bucket-join + verify pipeline
    (a 0.9-threshold-only form returned 0 rows at sf0.01: vacuous; the
    synthetic embeddings are near-orthogonal, max bucket-pair cosine
    ~0.45). Skew-hardened settings: 12 bits (4096 buckets) + Hamming-1
    multi-probe for recall + a 64-row bucket cap so no clustered corpus
    can make the bucket self-join quadratic (see cosine_pairs_lsh)."""
    e = _emb(spark, sf_dir)
    return SIM.cosine_pairs_lsh(
        e, threshold=0.0, num_bits=12, dim=64, top_n=50,
        multi_probe=True, max_bucket_size=64,
    )


_HP_BITS = 6
_HP_DIM = 64


def _hyperplane_weights() -> list[tuple[int, int, int, int]]:
    """(bit, dim, weight, 2^bit) rows for the portable embedding-LSH
    signature — md5-derived integer weights in [-1000, 1000], generated
    once in Python and injected as LITERALS into both engines (the
    ``minhash_perm_consts`` pattern: no engine-specific RNG anywhere).
    Bound: |w·xq| ≤ 1000·2e6 per term, ≤ 1.3e11 per 64-dim dot —
    int64-exact in both engines."""
    import hashlib

    rows = []
    for b in range(_HP_BITS):
        for d in range(_HP_DIM):
            h = int.from_bytes(
                hashlib.md5(f"hp:{b}:{d}".encode()).digest()[:8], "big"
            )
            rows.append((b, d, h % 2001 - 1000, 1 << b))
    return rows


def q_dedup_embed_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup candidates via random-hyperplane LSH,
    ORACLE-GATED: the hash-checked logic twin of q_dedup_embed
    (mirroring q_dedup_near_portable for MinHash). Pipeline: scale each
    embedding to int64 micro-units (round(x·1e6) — float-derived, never
    lands on .5), take 6 md5-derived integer-hyperplane sign bits as the
    bucket signature, self-join buckets (id_a < id_b), then score each
    candidate pair with the EXACT integer dot product
    (Σ xqa·xqb ≤ 64·4e12 — int64-exact) and floor-rounded cosine, top-50
    deterministic. Every arithmetic step is integer or identical-IEEE
    double, so DuckDB replays it bit-for-bit.

    Scale shape: one explode-join-agg for signatures (O(n·64) rows, two
    key-grain shuffles), one bucket self-join; candidate scoring is a
    native zip_with fold per pair — no Python anywhere. The PRODUCTION
    path (q_dedup_embed / cosine_pairs_lsh) adds the 64-row bucket cap +
    Hamming-1 multi-probe for 100 TB skew; this key pins the sign/bucket
    /rescore LOGIC at a fixed 6-bit width where bucket fan-out is
    bounded by construction (2^6 buckets, near-uniform signs)."""
    e = _emb(spark, sf_dir).filter(F.size("embedding") == _HP_DIM)
    base = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x ->"
            " cast(round(cast(x as double) * 1000000.0) as bigint))"
        ).alias("_xq"),
    ).withColumn("_na", F.expr("aggregate(_xq, 0L, (acc, v) -> acc + v * v)"))
    w = literal_df(
        spark, _hyperplane_weights(), "b INT, d INT, w LONG, pw LONG"
    )
    el = base.select("vec_id", F.posexplode("_xq").alias("_d", "_x"))
    dots = (
        el.join(F.broadcast(w), el["_d"] == w["d"])
        .groupBy("vec_id", "b")
        .agg(
            F.sum(F.col("w") * F.col("_x")).alias("_dot"),
            F.max("pw").alias("_pw"),
        )
    )
    sig = dots.groupBy("vec_id").agg(
        F.sum(F.when(F.col("_dot") >= 0, F.col("_pw")).otherwise(F.lit(0)))
        .cast("long")
        .alias("_sig")
    )
    v = base.join(sig, "vec_id")
    a = v.select(
        F.col("vec_id").alias("id_a"),
        F.col("_xq").alias("_xa"),
        F.col("_na").alias("_naa"),
        "_sig",
    )
    b = v.select(
        F.col("vec_id").alias("id_b"),
        F.col("_xq").alias("_xb"),
        F.col("_na").alias("_nab"),
        "_sig",
    )
    pairs = a.join(b, "_sig").filter(F.col("id_a") < F.col("id_b"))
    dot = F.expr(
        "aggregate(zip_with(_xa, _xb, (p, q) -> p * q), 0L,"
        " (acc, v) -> acc + v)"
    )
    cos = dot.cast("double") / (
        F.sqrt(F.col("_naa").cast("double"))
        * F.sqrt(F.col("_nab").cast("double"))
    )
    scored = pairs.select(
        "id_a",
        "id_b",
        (F.floor(cos * 1000000 + F.lit(0.5)) / 1000000.0).alias("f_cosine"),
    )
    return scored.orderBy(
        F.col("f_cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    ).limit(50)


def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection: per vector, the exact squared
    distance to its label centroid over the leading 4 dims (the same
    scaled-integer convention as q_embed_centroid) and a flag for
    vectors more than 4× the label's mean squared distance out — the
    cleaning pass that drops mislabeled/corrupt vectors before index
    build or training.

    Exactness: dims are scaled to int64 (round(x·1e6) — a float×1e6
    can never land on .5, see q_embed_centroid), and the centered
    distance is computed in integers without division:
    dist2 = Σ(xᵢ·n − Sᵢ)², i.e. n²·Σ(xᵢ−μᵢ)². Overflow bound: with
    |xᵢ| ≤ 1, |xᵢ·n − Sᵢ| ≤ 2e6·n, so dist2 ≤ 1.6e13·n² — int64-exact
    for label groups up to n ≈ 750 (test SFs peak at ~220/label; the
    production path at larger label groups uses plain float distances,
    same plan shape — this key pins exactness, not the scale form).
    The outlier test dist2·n > 4·Σdist2 compares doubles derived from
    identical integers by identical IEEE ops — bit-identical cross-
    engine, no rounding spelling needed.

    Scale: two tiny label-keyed aggs broadcast back into the row
    stream; zero wide shuffles, zero windows — embarrassingly parallel
    at any corpus size."""
    e = _emb(spark, sf_dir)
    dims = (1, 2, 3, 4)
    base = e.select(
        "vec_id",
        "label",
        *[
            F.round(F.element_at("embedding", i).cast("double") * 1000000.0)
            .cast("long")
            .alias(f"x{i}")
            for i in dims
        ],
    )
    stats = base.groupBy("label").agg(
        F.count("*").cast("long").alias("n"),
        *[
            F.sum(F.col(f"x{i}").cast("decimal(18,0)")).cast("long").alias(f"s{i}")
            for i in dims
        ],
    )
    j = base.join(F.broadcast(stats), "label")
    dist2 = None
    for i in dims:
        d = F.col(f"x{i}") * F.col("n") - F.col(f"s{i}")
        dist2 = d * d if dist2 is None else dist2 + d * d
    scored = j.select(
        "vec_id", "label", F.col("n"), dist2.cast("long").alias("f_dist2")
    )
    tot = scored.groupBy("label").agg(
        F.sum(F.col("f_dist2").cast("decimal(28,0)")).alias("_t")
    )
    out = scored.join(F.broadcast(tot), "label")
    flag = (
        F.col("f_dist2").cast("double") * F.col("n").cast("double")
        > F.lit(4.0) * F.col("_t").cast("double")
    )
    return out.select(
        "vec_id", "label", "f_dist2", flag.alias("f_outlier")
    )


def q_text_embed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join: embeddings ⋈ their source documents
    (vec_id = doc_id) with per-label text accounting — the alignment
    read every multimodal pipeline runs (are the vectors' source texts
    balanced per label? how much text mass does each cluster carry?).
    Scale: one equi-join shuffle on the id key (AQE broadcasts when the
    embedding side is dimension-sized), integer sums on the tiny label
    key."""
    from ..functions import text as TXT
    from ..sources.tables import read_table

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "text"
    )
    e = _emb(spark, sf_dir).select("vec_id", "label")
    # tokenize AFTER the join: only the embedding-matched subset pays
    # the regex split (the documents side streams through the join)
    return (
        e.join(d, e.vec_id == d.doc_id)
        .withColumn("n_toks", TXT.ws_token_count(F.col("text")))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("f_docs"),
            F.sum("n_chars").cast("long").alias("f_chars"),
            F.sum("n_toks").cast("long").alias("f_tokens"),
            (
                F.sum("n_chars").cast("double") / F.count("*").cast("double")
            ).alias("f_avg_chars"),
        )
    )


ORACLE: dict[str, str] = {
    "q_embed_covariance": """
        WITH em AS (
            SELECT vec_id,
                   list_transform(embedding[1:16],
                       x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5)
                                 AS BIGINT)) AS em
            FROM embeddings
            WHERE len(embedding) >= 16
        ),
        sums AS (
            SELECT t.i AS i, s.j AS j,
                   SUM(CAST(em[t.i + 1] * em[s.j + 1] AS DECIMAL(28,0)))
                       AS _sxy,
                   CAST(COUNT(*) AS DECIMAL(10,0)) AS _n
            FROM em, range(0, 16) t(i), range(0, 16) s(j)
            WHERE s.j >= t.i
            GROUP BY t.i, s.j
        ),
        dims AS (
            SELECT t.i AS i,
                   SUM(CAST(em[t.i + 1] AS DECIMAL(18,0))) AS _s
            FROM em, range(0, 16) t(i)
            GROUP BY t.i
        )
        SELECT CAST(su.i AS BIGINT) AS f_i,
               CAST(su.j AS BIGINT) AS f_j,
               CAST(su._sxy AS DOUBLE) AS f_sxy,
               CAST(su._n * su._sxy - d1._s * d2._s AS DOUBLE)
                   / (CAST(su._n AS DOUBLE) * CAST(su._n AS DOUBLE)
                      * 1000000000000.0) AS f_cov
        FROM sums su
        JOIN dims d1 ON su.i = d1.i
        JOIN dims d2 ON su.j = d2.i
    """,
    # _WS_COUNT imported below (module bottom) from ext_text — ONE
    # spelling of the whitespace token count feeds every oracle
    "q_text_embed_join": """
        WITH toks AS (
            SELECT doc_id, n_chars, {WS_COUNT} AS n_toks
            FROM documents
        )
        SELECT e.label,
               CAST(COUNT(*) AS BIGINT) AS f_docs,
               CAST(SUM(t.n_chars) AS BIGINT) AS f_chars,
               CAST(SUM(t.n_toks) AS BIGINT) AS f_tokens,
               CAST(SUM(t.n_chars) AS DOUBLE) / COUNT(*) AS f_avg_chars
        FROM embeddings e
        JOIN toks t ON e.vec_id = t.doc_id
        GROUP BY e.label
    """,
    "q_embed_outliers": """
        WITH base AS (
            SELECT vec_id, label,
                   CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000000.0)
                        AS BIGINT) AS x1,
                   CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 1000000.0)
                        AS BIGINT) AS x2,
                   CAST(ROUND(CAST(embedding[3] AS DOUBLE) * 1000000.0)
                        AS BIGINT) AS x3,
                   CAST(ROUND(CAST(embedding[4] AS DOUBLE) * 1000000.0)
                        AS BIGINT) AS x4
            FROM embeddings
        ),
        stats AS (
            SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x1) AS BIGINT) AS s1,
                   CAST(SUM(x2) AS BIGINT) AS s2,
                   CAST(SUM(x3) AS BIGINT) AS s3,
                   CAST(SUM(x4) AS BIGINT) AS s4
            FROM base GROUP BY label
        ),
        dist AS (
            SELECT b.vec_id, b.label, s.n,
                   CAST((b.x1 * s.n - s.s1) * (b.x1 * s.n - s.s1)
                      + (b.x2 * s.n - s.s2) * (b.x2 * s.n - s.s2)
                      + (b.x3 * s.n - s.s3) * (b.x3 * s.n - s.s3)
                      + (b.x4 * s.n - s.s4) * (b.x4 * s.n - s.s4)
                        AS BIGINT) AS f_dist2
            FROM base b JOIN stats s USING (label)
        ),
        tot AS (
            SELECT label, CAST(SUM(CAST(f_dist2 AS DECIMAL(28,0)))
                               AS DECIMAL(28,0)) AS t
            FROM dist GROUP BY label
        )
        SELECT d.vec_id, d.label, d.f_dist2,
               (CAST(d.f_dist2 AS DOUBLE) * CAST(d.n AS DOUBLE)
                > 4.0 * CAST(t.t AS DOUBLE)) AS f_outlier
        FROM dist d JOIN tot t USING (label)
    """,
    "q_knn_join": """
        WITH elems AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) AS i,
                   CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) AS x
            FROM embeddings WHERE vec_id < 200
        ),
        dots AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
            FROM elems a JOIN elems b USING (i)
            WHERE a.vec_id <> b.vec_id
            GROUP BY a.vec_id, b.vec_id
        ),
        norms AS (
            SELECT vec_id, CAST(SUM(x * x) AS DOUBLE) AS n
            FROM elems GROUP BY vec_id
        ),
        scored AS (
            SELECT d.id_a, d.id_b,
                   FLOOR(d.dot / (SQRT(na.n) * SQRT(nb.n)) * 1000000.0
                         + 0.5) / 1000000.0 AS f_cosine
            FROM dots d
            JOIN norms na ON d.id_a = na.vec_id
            JOIN norms nb ON d.id_b = nb.vec_id
        ),
        ranked AS (
            SELECT id_a, id_b, f_cosine,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY id_a ORDER BY f_cosine DESC, id_b ASC
                   ) AS BIGINT) AS f_rank
            FROM scored
        )
        SELECT id_a, f_rank, id_b, f_cosine FROM ranked WHERE f_rank <= 3
    """,
    # weights injected below (module bottom) from _hyperplane_weights —
    # ONE Python generator feeds both engines' literals
    "q_dedup_embed_portable": """
        WITH base AS (
            SELECT vec_id,
                   list_transform(embedding, x ->
                       CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
                   ) AS xq
            FROM embeddings
            WHERE len(embedding) = 64
        ),
        norms AS (
            SELECT vec_id, xq,
                   CAST(list_sum(list_transform(xq, v -> v * v)) AS BIGINT)
                       AS na
            FROM base
        ),
        weights(b, d, w, pw) AS (VALUES {HP_WEIGHTS}),
        el AS (
            SELECT vec_id,
                   generate_subscripts(xq, 1) - 1 AS d,
                   unnest(xq) AS x
            FROM base
        ),
        dots AS (
            SELECT el.vec_id, wt.b,
                   SUM(wt.w * el.x) AS dot, MAX(wt.pw) AS pw
            FROM el JOIN weights wt ON el.d = wt.d
            GROUP BY el.vec_id, wt.b
        ),
        sig AS (
            SELECT vec_id,
                   CAST(SUM(CASE WHEN dot >= 0 THEN pw ELSE 0 END)
                        AS BIGINT) AS sig
            FROM dots GROUP BY vec_id
        ),
        v AS (
            SELECT n.vec_id, n.xq, n.na, s.sig
            FROM norms n JOIN sig s ON n.vec_id = s.vec_id
        ),
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   a.xq AS xa, b.xq AS xb, a.na AS naa, b.na AS nab
            FROM v a JOIN v b ON a.sig = b.sig AND a.vec_id < b.vec_id
        ),
        scored AS (
            SELECT id_a, id_b,
                   FLOOR(
                       CAST(list_sum(list_transform(range(1, 65),
                                i -> xa[i] * xb[i])) AS DOUBLE)
                       / (SQRT(CAST(naa AS DOUBLE))
                          * SQRT(CAST(nab AS DOUBLE)))
                       * 1000000.0 + 0.5) / 1000000.0 AS f_cosine
            FROM pairs
        )
        SELECT id_a, id_b, f_cosine
        FROM scored
        ORDER BY f_cosine DESC, id_a ASC, id_b ASC
        LIMIT 50
    """,
    "q_sim_topk": """
        WITH elems AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) AS i,
                   CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) AS x
            FROM embeddings
        ),
        q AS (SELECT i, x AS qx FROM elems WHERE vec_id = 0),
        dots AS (
            SELECT el.vec_id,
                   CAST(SUM(el.x * q.qx) AS DOUBLE) AS dot,
                   CAST(SUM(el.x * el.x) AS DOUBLE) AS na
            FROM elems el JOIN q USING (i)
            WHERE el.vec_id <> 0
            GROUP BY el.vec_id
        ),
        qn AS (SELECT CAST(SUM(qx * qx) AS DOUBLE) AS nq FROM q)
        SELECT d.vec_id,
               ROUND(d.dot / (SQRT(d.na) * SQRT(qn.nq)), 6) AS f_cosine
        FROM dots d, qn
        ORDER BY f_cosine DESC, d.vec_id ASC
        LIMIT 10
    """,
    "q_sim_range": """
        WITH elems AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) AS i,
                   CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) AS x
            FROM embeddings
        ),
        q AS (SELECT i, x AS qx FROM elems WHERE vec_id = 0),
        dots AS (
            SELECT el.vec_id,
                   CAST(SUM(el.x * q.qx) AS DOUBLE) AS dot,
                   CAST(SUM(el.x * el.x) AS DOUBLE) AS na
            FROM elems el JOIN q USING (i)
            WHERE el.vec_id <> 0
            GROUP BY el.vec_id
        ),
        qn AS (SELECT CAST(SUM(qx * qx) AS DOUBLE) AS nq FROM q)
        SELECT d.vec_id,
               FLOOR(d.dot / (SQRT(d.na) * SQRT(qn.nq)) * 1000000 + 0.5)
                   / 1000000.0 AS f_cosine
        FROM dots d, qn
        WHERE FLOOR(d.dot / (SQRT(d.na) * SQRT(qn.nq)) * 1000000 + 0.5)
                  / 1000000.0 >= 0.15
    """,
    "q_embed_centroid": """
        SELECT label,
               COUNT(*) AS f_n,
               CAST(SUM(CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000000.0)
                    AS DECIMAL(18,0))) AS DOUBLE) / 1000000.0 / COUNT(*) AS f_c1,
               CAST(SUM(CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 1000000.0)
                    AS DECIMAL(18,0))) AS DOUBLE) / 1000000.0 / COUNT(*) AS f_c2,
               CAST(SUM(CAST(ROUND(CAST(embedding[3] AS DOUBLE) * 1000000.0)
                    AS DECIMAL(18,0))) AS DOUBLE) / 1000000.0 / COUNT(*) AS f_c3,
               CAST(SUM(CAST(ROUND(CAST(embedding[4] AS DOUBLE) * 1000000.0)
                    AS DECIMAL(18,0))) AS DOUBLE) / 1000000.0 / COUNT(*) AS f_c4
        FROM embeddings
        GROUP BY label
    """,
    "q_embed_quantize": """
        WITH b AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), m AS (
            SELECT vec_id, e,
                   list_max(list_transform(e, x -> abs(x))) AS max_abs
            FROM b
        ), s AS (
            SELECT vec_id, e, 127.0 / max_abs AS f_scale
            FROM m WHERE max_abs > 0
        ), q AS (
            SELECT vec_id, f_scale,
                   list_transform(e,
                       x -> CAST(floor(x * f_scale + 0.5) AS BIGINT)) AS qs
            FROM s
        )
        SELECT vec_id, f_scale,
               CAST(list_sum(qs) AS BIGINT) AS f_sum_q,
               CAST(len(list_filter(qs, q -> abs(q) = 127)) AS BIGINT) AS f_n_sat
        FROM q
    """,
}

# q_sim_topk_fast rescores its float-path candidates decimal-exactly, so
# its output is value-identical to q_sim_topk (pytest-pinned id-set
# equality) — the exact-path oracle hash-gates both keys.
ORACLE["q_sim_topk_fast"] = ORACLE["q_sim_topk"]


QUERIES = {
    "q_sim_topk": q_sim_topk,
    "q_knn_join": q_knn_join,
    "q_embed_centroid": q_embed_centroid,
    "q_embed_quantize": q_embed_quantize,
    "q_embed_covariance": q_embed_covariance,
    "q_sim_topk_fast": q_sim_topk_fast,
    "q_sim_ann_lsh": q_sim_ann_lsh,
    "q_sim_ivf": q_sim_ivf,
    "q_sim_pq": q_sim_pq,
    "q_sim_ivfpq": q_sim_ivfpq,
    "q_dedup_embed": q_dedup_embed,
    "q_dedup_embed_portable": q_dedup_embed_portable,
    "q_embed_outliers": q_embed_outliers,
    "q_sim_range": q_sim_range,
    "q_text_embed_join": q_text_embed_join,
}

# single source of truth for the whitespace token-count SQL spelling
# (must mirror functions/text.ws_token_count exactly — see ext_text)
from .ext_text import _WS_COUNT as _WS_COUNT_SQL  # noqa: E402

ORACLE["q_text_embed_join"] = ORACLE["q_text_embed_join"].format(
    WS_COUNT=_WS_COUNT_SQL
)

ORACLE["q_dedup_embed_portable"] = ORACLE["q_dedup_embed_portable"].replace(
    "{HP_WEIGHTS}",
    ", ".join(f"({b}, {d}, {w}, {pw})" for b, d, w, pw in _hyperplane_weights()),
)


# ---------------------------------------------------------------------------
# Portable IVF probe — the hash-checked logic twin of the IVF read path
# ---------------------------------------------------------------------------

_IVFP_K = 8       # centroids
_IVFP_DIM = 64
_IVFP_PROBE = 2   # cells probed
_IVFP_TOPK = 10


def _ivf_portable_consts() -> tuple[
    list[tuple[int, int, int]], list[tuple[int, int]], int, list[int]
]:
    """(centroid rows (cell, d, c), query rows (d, q), ‖q‖², probe
    cells) — ALL md5-derived integers in micro-units, generated once in
    Python and injected as LITERALS into BOTH engines (the
    minhash_perm_consts / q_dedup_embed_portable pattern: no
    engine-specific RNG anywhere, including the probe-cell selection,
    which is plain integer arithmetic on the same literals).

    Bounds (embedding coords ∈ [−0.6, 0.6] → |x_µ| ≤ 6·10⁵; centroids
    ≤ 2.5·10⁵): per-dim (x−c)² ≤ 7.3·10¹¹, 64-dim cell distance ≤
    4.7·10¹³; query dot ≤ 64·6·10⁵·2.5·10⁵ ≤ 10¹³ — int64-exact both
    engines, and < 2⁵³ so the final int→double casts are exact too."""
    import hashlib

    def h(s: str, mod: int) -> int:
        return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") % mod

    cent = [
        (k, d, h(f"ivfc:{k}:{d}", 500001) - 250000)
        for k in range(_IVFP_K)
        for d in range(_IVFP_DIM)
    ]
    query = [(d, h(f"ivfq:{d}", 500001) - 250000) for d in range(_IVFP_DIM)]
    nq = sum(q * q for _, q in query)
    # probe selection: n_probe nearest centroids to the query by exact
    # integer squared distance, cell index tiebreak
    by_cell: dict[int, int] = {}
    qv = dict(query)
    for k, d, c in cent:
        by_cell[k] = by_cell.get(k, 0) + (qv[d] - c) * (qv[d] - c)
    probe = sorted(sorted(by_cell), key=lambda k: (by_cell[k], k))[:_IVFP_PROBE]
    return cent, query, nq, probe


def _ivf_portable_arrays() -> tuple[list, list, int, list[int]]:
    """q_sim_ivf_portable's broadcast constants in their final nested
    shape, computed DRIVER-SIDE from the same literal rows (r18): the
    old spelling rebuilt them per run through groupBy/collect_list
    exchanges over literal tables — constant folding the engine cannot
    do itself. Values are identical by construction: cents sorted by
    cell with _cv sorted by d, query sorted by d — exactly the
    array_sort(collect_list(...)) results."""
    cent_rows, q_rows, nq, probe = _ivf_portable_consts()
    cents = [[0] * _IVFP_DIM for _ in range(_IVFP_K)]
    for k, d, c in cent_rows:
        cents[k][d] = c
    qv = [0] * _IVFP_DIM
    for d, q in q_rows:
        qv[d] = q
    cents_nested = [(k, cents[k]) for k in range(_IVFP_K)]
    return cents_nested, qv, nq, probe


def q_sim_ivf_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe, ORACLE-GATED end-to-end: fixed literal centroids →
    integer argmin cell assignment → literal probe-cell pruning → exact
    integer dot rescore of the surviving candidates → floor-rounded
    cosine top-10. The hash-checked logic twin of the production IVF
    path (q_sim_ivf rows-only; IVFIndex trains data-dependent float
    centroids, which no oracle can replay) — this key pins the READ
    path's semantics: assign, prune, rescore, rank.

    Exactness: micro-unit integers throughout (round(x·1e6) off a
    float can never land on .5); cell distances, ‖x‖² and the query
    dot are int64-exact (bounds in _ivf_portable_consts); the cosine
    divides doubles cast from identical ints through identical IEEE
    ops and is floor-rounded at 1e-6 both sides. Argmin ties break to
    the LOWEST cell via min-distance-then-min-cell — pure relational,
    identically spelled in both engines.

    Scale shape (r17 rewrite): the literal centroid table and query
    vector are array-ified to ONE broadcast row; assignment is an
    in-codegen ROW-LOCAL argmin over the 8 cells (array_min over
    (d2, cell) structs = the min-distance-then-min-cell rule; each d2 a
    64-lane zip_with/aggregate — the q_centroid_classify/q_cluster_kmeans
    pattern), pruning keeps n_probe/K of the corpus BEFORE the rescore
    (at 100 TB the cell is the partition key and this filter is
    partition pruning — see IVFIndex.materialize), and the rescore dot
    is the same row-local zip_with against the broadcast query array —
    ZERO data shuffles before the TakeOrderedAndProject. The pre-r17
    spelling exploded to n·64 rows, joined the 512-literal-row centroid
    table, and shuffled n·K distance groups + an argmin join-back + a
    rescore join. No Python in any row path."""
    cents_nested, qv_arr, nq, probe = _ivf_portable_arrays()
    e = _emb(spark, sf_dir).filter(F.size("embedding") == _IVFP_DIM)
    base = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x ->"
            " cast(round(cast(x as double) * 1000000.0) as bigint))"
        ).alias("_xq"),
    ).withColumn("_na", F.expr("aggregate(_xq, 0L, (acc, v) -> acc + v * v)"))
    # r18: the centroid/query nesting is a pure function of the Python
    # literals — build the ONE broadcast row directly (identical values,
    # byte-for-byte: sorted by cell / d exactly like the old
    # array_sort(collect_list(...)) chain) instead of paying 3 literal-
    # table exchanges per run for constant folding the engine can't see.
    consts = literal_df(
        spark,
        [(cents_nested, qv_arr)],
        "_cents ARRAY<STRUCT<cell: INT, _cv: ARRAY<BIGINT>>>,"
        " _qv ARRAY<BIGINT>",
    )
    # row-local argmin assignment; coalesce keeps NULL-element semantics
    # identical to the oracle's NULL-skipping SUM.
    # r18 (the q_sim_ivfpq_portable treatment): the K×DIM distance fold
    # is MATERIALIZED as _d2s and the argmin reads it; f_cell is
    # spelled non-nullable; probe pruning is a broadcast equi-join on a
    # literal frame — a filter(isin) was pulled into the cross-join
    # condition where pushdown re-inlined the whole interpreted fold
    # (2× per row). Identical assignment and surviving rows.
    d2s = base.crossJoin(F.broadcast(consts)).select(
        "vec_id",
        "_xq",
        "_na",
        "_qv",
        F.expr(
            "transform(_cents, ct ->"
            " struct(aggregate(zip_with(_xq, ct._cv, (x, c) ->"
            "  coalesce((x - c) * (x - c), cast(0 as bigint))),"
            "  cast(0 as bigint), (s, v) -> s + v) AS _d2,"
            " ct.cell AS cell))"
        ).alias("_d2s"),
    )
    assigned = d2s.withColumn(
        "f_cell",
        F.expr("coalesce(CAST(array_min(_d2s).cell AS BIGINT), -1L)"),
    ).drop("_d2s")
    probe_df = literal_df(
        spark, [(int(p),) for p in probe], "f_cell BIGINT"
    )
    cand = assigned.join(F.broadcast(probe_df), "f_cell")
    dots = cand.withColumn(
        "_dot",
        F.expr(
            "aggregate(zip_with(_xq, _qv, (x, q) ->"
            " coalesce(x * q, cast(0 as bigint))),"
            " cast(0 as bigint), (s, v) -> s + v)"
        ),
    )
    cos = F.col("_dot").cast("double") / (
        F.sqrt(F.col("_na").cast("double"))
        * F.sqrt(F.lit(float(nq)))
    )
    return (
        dots.select(
            "vec_id",
            "f_cell",
            (F.floor(cos * 1000000 + F.lit(0.5)) / 1000000.0).alias(
                "f_cosine"
            ),
        )
        .orderBy(F.col("f_cosine").desc(), F.col("vec_id").asc())
        .limit(_IVFP_TOPK)
    )


def _sim_ivf_portable_oracle() -> str:
    cent_rows, q_rows, nq, probe = _ivf_portable_consts()
    cent_vals = ", ".join(f"({k}, {d}, {c})" for k, d, c in cent_rows)
    q_vals = ", ".join(f"({d}, {q})" for d, q in q_rows)
    probe_list = ", ".join(str(p) for p in probe)
    return f"""
    WITH cent(cell, d, c) AS (VALUES {cent_vals}),
    q(d, qv) AS (VALUES {q_vals}),
    base AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                   CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS xq
        FROM embeddings WHERE len(embedding) = {_IVFP_DIM}
    ),
    el AS (
        SELECT vec_id,
               generate_subscripts(xq, 1) - 1 AS d,
               unnest(xq) AS x
        FROM base
    ),
    dist AS (
        SELECT el.vec_id, cent.cell,
               CAST(SUM((el.x - cent.c) * (el.x - cent.c)) AS BIGINT) AS d2
        FROM el JOIN cent ON el.d = cent.d
        GROUP BY el.vec_id, cent.cell
    ),
    mind AS (SELECT vec_id, MIN(d2) AS m FROM dist GROUP BY vec_id),
    assign AS (
        SELECT dist.vec_id, CAST(MIN(dist.cell) AS BIGINT) AS f_cell
        FROM dist JOIN mind ON dist.vec_id = mind.vec_id
                           AND dist.d2 = mind.m
        GROUP BY dist.vec_id
    ),
    cand AS (SELECT * FROM assign WHERE f_cell IN ({probe_list})),
    na AS (
        SELECT vec_id, CAST(SUM(x * x) AS BIGINT) AS na
        FROM el GROUP BY vec_id
    ),
    dots AS (
        SELECT el.vec_id, CAST(SUM(el.x * q.qv) AS BIGINT) AS dot
        FROM el
        JOIN cand ON el.vec_id = cand.vec_id
        JOIN q ON el.d = q.d
        GROUP BY el.vec_id
    )
    SELECT c.vec_id, c.f_cell,
           FLOOR(CAST(dots.dot AS DOUBLE)
                 / (sqrt(CAST(na.na AS DOUBLE))
                    * sqrt(CAST({nq} AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000.0 AS f_cosine
    FROM cand c
    JOIN dots ON c.vec_id = dots.vec_id
    JOIN na ON c.vec_id = na.vec_id
    ORDER BY f_cosine DESC, c.vec_id ASC
    LIMIT {_IVFP_TOPK}
"""


QUERIES["q_sim_ivf_portable"] = q_sim_ivf_portable
ORACLE["q_sim_ivf_portable"] = _sim_ivf_portable_oracle()


# ---------------------------------------------------------------------------
# ANN recall eval — IVF probe vs exact brute force, hash-gated end to end
# ---------------------------------------------------------------------------


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECALL@10 of the portable IVF probe against the exact brute-force
    top-10 under the SAME integer metric, ORACLE-GATED (r11) — the eval
    every ANN deployment runs before trusting an index: how many of the
    true nearest neighbors does the probe-pruned path keep? Both sides
    are the hash-checked literal-constant pipelines (q_sim_ivf_portable
    and its unpruned twin), so DuckDB replays the ENTIRE eval — index
    semantics, ground truth, and the recall arithmetic. Output: one row
    (hits, recall in ppm).

    Scale: the IVF side prunes to n_probe/K of the corpus before its
    rescore; the exact side is the brute-force baseline an eval runs
    ONCE per index build (r17: a ROW-LOCAL zip_with dot against the
    broadcast query array + TakeOrderedAndProject — zero shuffles; was
    an n·64 explode + broadcast join + n-key agg + join-back); the
    recall join is 10×10 rows."""
    _cents_nested, qv_arr, nq, _probe = _ivf_portable_arrays()
    e = _emb(spark, sf_dir).filter(F.size("embedding") == _IVFP_DIM)
    base = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x ->"
            " cast(round(cast(x as double) * 1000000.0) as bigint))"
        ).alias("_xq"),
    ).withColumn("_na", F.expr("aggregate(_xq, 0L, (acc, v) -> acc + v * v)"))
    # r18: query array as ONE literal row (driver-side constant folding
    # — the _ivf_portable_arrays discipline), no per-run literal agg
    qarr = literal_df(spark, [(qv_arr,)], "_qv ARRAY<BIGINT>")
    dots = base.crossJoin(F.broadcast(qarr)).withColumn(
        "_dot",
        F.expr(
            "aggregate(zip_with(_xq, _qv, (x, q) ->"
            " coalesce(x * q, cast(0 as bigint))),"
            " cast(0 as bigint), (s, v) -> s + v)"
        ),
    )
    cos = F.col("_dot").cast("double") / (
        F.sqrt(F.col("_na").cast("double")) * F.sqrt(F.lit(float(nq)))
    )
    exact = (
        dots.select(
            "vec_id",
            (F.floor(cos * 1000000 + F.lit(0.5)) / 1000000.0).alias("_cos"),
        )
        .orderBy(F.col("_cos").desc(), F.col("vec_id").asc())
        .limit(_IVFP_TOPK)
        .select("vec_id")
    )
    ivf = q_sim_ivf_portable(spark, sf_dir).select("vec_id")
    return (
        ivf.join(exact, "vec_id")
        .agg(F.count("*").cast("long").alias("f_hits"))
        .select(
            "f_hits",
            F.expr(
                f"CAST(f_hits * 1000000 DIV {_IVFP_TOPK} AS BIGINT)"
            ).alias("f_recall_ppm"),
        )
    )


def _ann_recall_oracle() -> str:
    _cent_rows, q_rows, nq, _probe = _ivf_portable_consts()
    q_vals = ", ".join(f"({d}, {q})" for d, q in q_rows)
    exact = f"""
        WITH q(d, qv) AS (VALUES {q_vals}),
        base AS (
            SELECT vec_id,
                   list_transform(embedding, x ->
                       CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                       AS xq
            FROM embeddings WHERE len(embedding) = {_IVFP_DIM}
        ),
        el AS (
            SELECT vec_id,
                   generate_subscripts(xq, 1) - 1 AS d,
                   unnest(xq) AS x
            FROM base
        ),
        na AS (
            SELECT vec_id, CAST(SUM(x * x) AS BIGINT) AS na
            FROM el GROUP BY vec_id
        ),
        dots AS (
            SELECT el.vec_id, CAST(SUM(el.x * q.qv) AS BIGINT) AS dot
            FROM el JOIN q ON el.d = q.d
            GROUP BY el.vec_id
        )
        SELECT dots.vec_id,
               FLOOR(CAST(dots.dot AS DOUBLE)
                     / (sqrt(CAST(na.na AS DOUBLE))
                        * sqrt(CAST({nq} AS DOUBLE)))
                     * 1000000 + 0.5) / 1000000.0 AS _cos
        FROM dots JOIN na ON dots.vec_id = na.vec_id
        ORDER BY _cos DESC, dots.vec_id ASC
        LIMIT {_IVFP_TOPK}
    """
    return f"""
    WITH ivf AS ({_sim_ivf_portable_oracle()}),
    exact AS ({exact})
    SELECT CAST(COUNT(*) AS BIGINT) AS f_hits,
           CAST(CAST(COUNT(*) AS BIGINT) * 1000000
                // {_IVFP_TOPK} AS BIGINT) AS f_recall_ppm
    FROM ivf JOIN exact ON ivf.vec_id = exact.vec_id
"""


QUERIES["q_ann_recall"] = q_ann_recall
ORACLE["q_ann_recall"] = _ann_recall_oracle()


# ---------------------------------------------------------------------------
# Portable PQ probe — the hash-checked logic twin of the PQ/ADC read path
# ---------------------------------------------------------------------------

_PQP_M = 8        # subspaces (64 dims / 8 per subspace)
_PQP_SUBDIM = 8
_PQP_CODES = 16   # codewords per subspace
_PQP_CAND = 50    # ADC candidate pool
_PQP_TOPK = 10


def _pq_portable_consts() -> tuple[
    list[tuple[int, int, int, int]], list[tuple[int, int]], int
]:
    """(codebook rows (sub, code, dsub, c), query rows (d, qv), ‖q‖²)
    — md5-derived micro-unit integers generated once in Python and
    injected as LITERALS into BOTH engines (the _ivf_portable_consts
    pattern). The ADC distance table is NOT precomputed here: both
    engines derive it from the same codebook+query literals, so the
    oracle gates the table build too.

    Bounds (|x_µ| ≤ 6·10⁵ for embedding coords in [−0.6, 0.6];
    |c|, |qv| ≤ 2.5·10⁵): encode per-dim (x−c)² ≤ 7.3·10¹¹ → 8-dim
    subspace distance ≤ 5.9·10¹²; ADC per-(sub, code) cell ≤ 2·10¹²,
    summed over 8 subspaces ≤ 1.6·10¹³; query dot ≤ 9.6·10¹² —
    int64-exact in both engines and < 2⁵³, so int→double casts are
    exact too."""
    import hashlib

    def h(s: str, mod: int) -> int:
        return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") % mod

    cb = [
        (s, k, d, h(f"pqc:{s}:{k}:{d}", 500001) - 250000)
        for s in range(_PQP_M)
        for k in range(_PQP_CODES)
        for d in range(_PQP_SUBDIM)
    ]
    query = [
        (d, h(f"pqq:{d}", 500001) - 250000)
        for d in range(_PQP_M * _PQP_SUBDIM)
    ]
    nq = sum(q * q for _, q in query)
    return cb, query, nq


def _pq_portable_arrays() -> tuple[list, list, list, int]:
    """q_sim_pq_portable's broadcast constants in their final nested
    shape, DRIVER-SIDE (r18, the _ivf_portable_arrays discipline):
    codebook _cbs[sub]._codes[code]._cv[dsub], ADC table
    _dtarr[sub][code] = ‖q_sub − c‖² in exact Python ints, query array
    — identical values to the old in-engine groupBy/collect_list
    chains, sorted by the same (sub, code, dsub / d) keys."""
    cb_rows, q_rows, nq = _pq_portable_consts()
    qv = [0] * (_PQP_M * _PQP_SUBDIM)
    for d, q in q_rows:
        qv[d] = q
    cb = [
        [[0] * _PQP_SUBDIM for _ in range(_PQP_CODES)]
        for _ in range(_PQP_M)
    ]
    for sub, code, dsub, c in cb_rows:
        cb[sub][code][dsub] = c
    cbs_nested = [
        (sub, [(code, cb[sub][code]) for code in range(_PQP_CODES)])
        for sub in range(_PQP_M)
    ]
    dtarr = [
        [
            sum(
                (qv[sub * _PQP_SUBDIM + dsub] - cb[sub][code][dsub]) ** 2
                for dsub in range(_PQP_SUBDIM)
            )
            for code in range(_PQP_CODES)
        ]
        for sub in range(_PQP_M)
    ]
    return cbs_nested, dtarr, qv, nq


def q_sim_pq_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC search, ORACLE-GATED end-to-end: fixed literal codebooks
    → integer argmin sub-quantizer encoding (min-distance-then-min-code
    ties, both engines) → the ADC distance table built IN-ENGINE from
    the same literals (dt[sub][code] = ‖q_sub − c‖², integer) → summed
    per-vector ADC distance → top-50 candidates by (adc, vec_id) →
    exact integer dot re-rank, floor-rounded cosine, top-10. The
    hash-checked logic twin of q_sim_pq (rows-only; PQIndex trains
    data-dependent float codebooks no oracle can replay) — this key
    pins encode, table build, ADC scan, and re-rank semantics.

    Scale shape (r17 rewrite): the 1024-row literal codebook, the
    in-engine ADC table and the query vector are array-ified to ONE
    broadcast row; the encode is a ROW-LOCAL per-subspace argmin
    (array_min over (d2, code) structs = the min-distance-then-min-code
    rule; each d2 an 8-lane zip_with/aggregate over the subspace
    slice), the ADC sum is a row-local zip of the codes against the
    table, and the re-rank dot is the row-local zip_with against the
    broadcast query — ZERO data shuffles before the two
    TakeOrderedAndProjects. The ADC scan still touches only the CODES
    (m smallint columns per vector in production — see PQIndex). The
    pre-r17 spelling exploded to n·64 rows, joined the codebook into
    n·M·CODES distance groups, and paid an argmin join-back + two
    more joins for ADC and re-rank. No Python in any row path."""
    cbs_nested, dtarr_nested, qv_arr, nq = _pq_portable_arrays()
    e = _emb(spark, sf_dir).filter(
        F.size("embedding") == _PQP_M * _PQP_SUBDIM
    )
    base = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x ->"
            " cast(round(cast(x as double) * 1000000.0) as bigint))"
        ).alias("_xq"),
    ).withColumn("_na", F.expr("aggregate(_xq, 0L, (acc, v) -> acc + v * v)"))
    # r18: codebook nesting AND the ADC table are pure functions of the
    # Python literals — built driver-side into ONE broadcast row
    # (identical integer values; the table build stays oracle-gated: the
    # DuckDB side still derives it from the same VALUES literals). The
    # old spelling paid ~8 literal-table exchanges per run.
    consts = literal_df(
        spark,
        [(cbs_nested, dtarr_nested, qv_arr)],
        "_cbs ARRAY<STRUCT<sub: INT,"
        " _codes: ARRAY<STRUCT<code: INT, _cv: ARRAY<BIGINT>>>>>,"
        " _dtarr ARRAY<ARRAY<BIGINT>>, _qv ARRAY<BIGINT>",
    )
    # row-local per-subspace argmin encode; coalesce keeps NULL-element
    # semantics identical to the oracle's NULL-skipping SUM
    enc = base.crossJoin(F.broadcast(consts)).withColumn(
        "_enc",
        F.expr(
            f"transform(_cbs, sb -> array_min(transform(sb._codes, cd ->"
            f" struct(aggregate(zip_with("
            f"  slice(_xq, sb.sub * {_PQP_SUBDIM} + 1, {_PQP_SUBDIM}),"
            f"  cd._cv, (x, c) ->"
            f"  coalesce((x - c) * (x - c), cast(0 as bigint))),"
            f"  cast(0 as bigint), (s, v) -> s + v) AS _d2,"
            f" cd.code AS code))))"
        ),
    )
    adc = enc.withColumn(
        "f_adc",
        F.expr(
            "aggregate(zip_with(_enc, _dtarr,"
            " (e2, dts) -> element_at(dts, e2.code + 1)),"
            " cast(0 as bigint), (s, v) -> s + v)"
        ),
    )
    cand = adc.orderBy(F.col("f_adc").asc(), F.col("vec_id").asc()).limit(
        _PQP_CAND
    )
    dots = cand.withColumn(
        "_dot",
        F.expr(
            "aggregate(zip_with(_xq, _qv, (x, q) ->"
            " coalesce(x * q, cast(0 as bigint))),"
            " cast(0 as bigint), (s, v) -> s + v)"
        ),
    )
    cos = F.col("_dot").cast("double") / (
        F.sqrt(F.col("_na").cast("double")) * F.sqrt(F.lit(float(nq)))
    )
    return (
        dots.select(
            "vec_id",
            "f_adc",
            (F.floor(cos * 1000000 + F.lit(0.5)) / 1000000.0).alias(
                "f_cosine"
            ),
        )
        .orderBy(F.col("f_cosine").desc(), F.col("vec_id").asc())
        .limit(_PQP_TOPK)
    )


def _sim_pq_portable_oracle() -> str:
    cb_rows, q_rows, nq = _pq_portable_consts()
    cb_vals = ", ".join(f"({s}, {k}, {d}, {c})" for s, k, d, c in cb_rows)
    q_vals = ", ".join(f"({d}, {q})" for d, q in q_rows)
    dim = _PQP_M * _PQP_SUBDIM
    return f"""
    WITH cb0(sub, code, dsub, c) AS (VALUES {cb_vals}),
    -- VALUES literals are INT32 in DuckDB; the in-engine distance
    -- table multiplies two literal columns, so widen to BIGINT first
    cb AS (SELECT sub, code, dsub, CAST(c AS BIGINT) AS c FROM cb0),
    q0(d, qv) AS (VALUES {q_vals}),
    q AS (SELECT d, CAST(qv AS BIGINT) AS qv FROM q0),
    base AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                   CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS xq
        FROM embeddings WHERE len(embedding) = {dim}
    ),
    el AS (
        SELECT vec_id, d, x,
               d // {_PQP_SUBDIM} AS sub, d % {_PQP_SUBDIM} AS dsub
        FROM (
            SELECT vec_id,
                   generate_subscripts(xq, 1) - 1 AS d,
                   unnest(xq) AS x
            FROM base
        )
    ),
    sdist AS (
        SELECT el.vec_id, cb.sub, cb.code,
               CAST(SUM((el.x - cb.c) * (el.x - cb.c)) AS BIGINT) AS d2
        FROM el JOIN cb ON el.sub = cb.sub AND el.dsub = cb.dsub
        GROUP BY el.vec_id, cb.sub, cb.code
    ),
    mind AS (
        SELECT vec_id, sub, MIN(d2) AS m FROM sdist GROUP BY vec_id, sub
    ),
    enc AS (
        SELECT s.vec_id, s.sub, MIN(s.code) AS code
        FROM sdist s JOIN mind ON s.vec_id = mind.vec_id
                             AND s.sub = mind.sub AND s.d2 = mind.m
        GROUP BY s.vec_id, s.sub
    ),
    qsub AS (
        SELECT d // {_PQP_SUBDIM} AS sub, d % {_PQP_SUBDIM} AS dsub, qv
        FROM q
    ),
    dt AS (
        SELECT cb.sub, cb.code,
               CAST(SUM((qsub.qv - cb.c) * (qsub.qv - cb.c)) AS BIGINT)
                   AS dtv
        FROM cb JOIN qsub ON cb.sub = qsub.sub AND cb.dsub = qsub.dsub
        GROUP BY cb.sub, cb.code
    ),
    adc AS (
        SELECT enc.vec_id, CAST(SUM(dt.dtv) AS BIGINT) AS f_adc
        FROM enc JOIN dt ON enc.sub = dt.sub AND enc.code = dt.code
        GROUP BY enc.vec_id
    ),
    cand AS (
        SELECT * FROM adc ORDER BY f_adc ASC, vec_id ASC LIMIT {_PQP_CAND}
    ),
    na AS (
        SELECT vec_id, CAST(SUM(x * x) AS BIGINT) AS na
        FROM el GROUP BY vec_id
    ),
    dots AS (
        SELECT el.vec_id, CAST(SUM(el.x * q.qv) AS BIGINT) AS dot
        FROM el
        JOIN cand ON el.vec_id = cand.vec_id
        JOIN q ON el.d = q.d
        GROUP BY el.vec_id
    )
    SELECT c.vec_id, c.f_adc,
           FLOOR(CAST(dots.dot AS DOUBLE)
                 / (sqrt(CAST(na.na AS DOUBLE))
                    * sqrt(CAST({nq} AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000.0 AS f_cosine
    FROM cand c
    JOIN dots ON c.vec_id = dots.vec_id
    JOIN na ON c.vec_id = na.vec_id
    ORDER BY f_cosine DESC, c.vec_id ASC
    LIMIT {_PQP_TOPK}
"""


QUERIES["q_sim_pq_portable"] = q_sim_pq_portable
ORACLE["q_sim_pq_portable"] = _sim_pq_portable_oracle()


# ---------------------------------------------------------------------------
# Portable IVFPQ probe — the hash-checked logic twin of the residual path
# ---------------------------------------------------------------------------

_IVFPQP_SUBDIM = 8
_IVFPQP_M = _IVFP_DIM // _IVFPQP_SUBDIM   # 8 subspaces over 64 dims
_IVFPQP_CODES = 16
_IVFPQP_CAND = 50
_IVFPQP_TOPK = 10


def _ivfpq_portable_consts() -> list[tuple[int, int, int, int]]:
    """Residual-PQ codebook rows (sub, code, dsub, c) — md5-derived
    micro-unit integers, shared across cells (the standard IVFPQ
    shared-residual-codebook layout; PQIndex mirrors it). Injected as
    LITERALS into BOTH engines; the IVF half reuses
    _ivf_portable_consts() so the two probes pin the SAME coarse
    quantizer.

    Bounds: residual r = x − cent per dim ≤ 6·10⁵ + 2.5·10⁵ = 8.5·10⁵;
    |c| ≤ 2.5·10⁵ → per-dim (r−c)² ≤ 1.3·10¹², 8-dim subspace distance
    ≤ 10¹³; residual query qr ≤ 5·10⁵ → ADC cell ≤ 4.5·10¹², summed
    over 8 subspaces ≤ 3.6·10¹³ — int64-exact both engines, < 2⁵³ so
    the final int→double casts are exact too."""
    import hashlib

    def h(s: str, mod: int) -> int:
        return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") % mod

    return [
        (s, k, d, h(f"ivfpqc:{s}:{k}:{d}", 500001) - 250000)
        for s in range(_IVFPQP_M)
        for k in range(_IVFPQP_CODES)
        for d in range(_IVFPQP_SUBDIM)
    ]


def _ivfpq_portable_arrays() -> tuple[list, list, list, list, int, list]:
    """q_sim_ivfpq_portable's broadcast constants in their final nested
    shape, DRIVER-SIDE (r18, the _ivf_portable_arrays discipline):
    plain centroid arrays _cents[cell][d], shared residual codebook
    _cbs[sub]._codes[code]._cv[dsub], per-PROBE-cell ADC tables
    _dtc[(cell, dtss[sub][code])] with dt = ‖(q−cent_cell)_sub − c‖² in
    exact Python ints, and the query array — identical values to the
    old in-engine join/agg chains, sorted by the same keys (probe cells
    ascending, as array_sort ordered the struct list)."""
    cent_rows, q_rows, nq, probe = _ivf_portable_consts()
    cb_rows = _ivfpq_portable_consts()
    cents = [[0] * _IVFP_DIM for _ in range(_IVFP_K)]
    for k, d, c in cent_rows:
        cents[k][d] = c
    qv = [0] * _IVFP_DIM
    for d, q in q_rows:
        qv[d] = q
    cb = [
        [[0] * _IVFPQP_SUBDIM for _ in range(_IVFPQP_CODES)]
        for _ in range(_IVFPQP_M)
    ]
    for sub, code, dsub, c in cb_rows:
        cb[sub][code][dsub] = c
    cbs_nested = [
        (sub, [(code, cb[sub][code]) for code in range(_IVFPQP_CODES)])
        for sub in range(_IVFPQP_M)
    ]
    dtc = []
    for cell in sorted(int(p) for p in probe):
        qr = [qv[d] - cents[cell][d] for d in range(_IVFP_DIM)]
        dtss = [
            [
                sum(
                    (qr[sub * _IVFPQP_SUBDIM + dsub] - cb[sub][code][dsub])
                    ** 2
                    for dsub in range(_IVFPQP_SUBDIM)
                )
                for code in range(_IVFPQP_CODES)
            ]
            for sub in range(_IVFPQP_M)
        ]
        dtc.append((cell, dtss))
    return cents, cbs_nested, dtc, qv, nq, probe


def q_sim_ivfpq_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ search, ORACLE-GATED end-to-end: literal coarse centroids
    → integer argmin cell assignment → probe-cell pruning → RESIDUAL
    (x − centroid) PQ encoding against literal shared codebooks → ADC
    distance tables built IN-ENGINE per probe cell from the residual
    query (q − centroid) → summed ADC → top-50 candidates → exact
    integer dot re-rank, floor-rounded cosine, top-10. This is the one
    semantics neither q_sim_ivf_portable (no codes) nor
    q_sim_pq_portable (no residuals) pins: encode-relative-to-cell and
    the per-cell distance table (q_sim_ivfpq itself is rows-only —
    IVFPQIndex trains data-dependent float codebooks no oracle can
    replay).

    Scale shape (r17 rewrite): every literal table — coarse centroids,
    codebooks, the per-probe-cell ADC tables (still built IN-ENGINE
    from the same literals) and the query — is array-ified to ONE
    broadcast row; assignment, probe pruning, residual computation,
    per-subspace argmin encode, ADC sum and the re-rank dot all run
    ROW-LOCALLY in whole-stage codegen (the q_cluster_kmeans /
    q_sim_pq_portable pattern) — ZERO data shuffles before the two
    TakeOrderedAndProjects. Pruning still keeps n_probe/K of the
    corpus BEFORE the residual encode (partition pruning on the cell
    key at 100 TB — see IVFPQIndex.materialize); the ADC scan still
    touches only codes. The pre-r17 spelling exploded to n·64 rows and
    paid five join/agg exchanges for the same arithmetic. No Python in
    any row path."""
    cents_plain, cbs_nested, dtc_nested, qv_arr, nq, probe = (
        _ivfpq_portable_arrays()
    )
    e = _emb(spark, sf_dir).filter(F.size("embedding") == _IVFP_DIM)
    base = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x ->"
            " cast(round(cast(x as double) * 1000000.0) as bigint))"
        ).alias("_xq"),
    ).withColumn("_na", F.expr("aggregate(_xq, 0L, (acc, v) -> acc + v * v)"))
    # r18: every constant — centroids (cells 0..K-1 complete and
    # contiguous, so element_at(_cents, cell+1) works), shared residual
    # codebook, per-probe-cell ADC tables, query — is a pure function of
    # the Python literals; built DRIVER-SIDE into ONE broadcast row
    # (identical integer values; the residual/table arithmetic stays
    # oracle-gated — DuckDB derives it from the same VALUES literals).
    # The old spelling paid ~14 literal-table exchanges per run.
    consts = literal_df(
        spark,
        [(cents_plain, cbs_nested, dtc_nested, qv_arr)],
        "_cents ARRAY<ARRAY<BIGINT>>,"
        " _cbs ARRAY<STRUCT<sub: INT,"
        " _codes: ARRAY<STRUCT<code: INT, _cv: ARRAY<BIGINT>>>>>,"
        " _dtc ARRAY<STRUCT<cell: INT, _dtss: ARRAY<ARRAY<BIGINT>>>>,"
        " _qv ARRAY<BIGINT>",
    )
    # row-local argmin cell assignment (coalesce = the oracle's
    # NULL-skipping SUM), then probe pruning BEFORE any residual work.
    # r18 split: the K×DIM distance fold is MATERIALIZED as _d2s and
    # the argmin reads it — the probe filter on f_cell is predicate-
    # pushed below the Project and re-evaluates f_cell's defining
    # expression, which before the split was the ENTIRE distance fold
    # (2× the interpreted-HOF work per row, plan-verified in the BNLJ
    # condition). Now the pushed copy re-evaluates only the K-element
    # argmin over the materialized _d2s column (referenced twice, so
    # cost-aware CollapseProject keeps it). Identical assignment: the
    # struct(_d2, cell) min is unchanged, element_at(_d2s, cl+1) holds
    # the same fold values.
    d2s = base.crossJoin(F.broadcast(consts)).withColumn(
        "_d2s",
        F.expr(
            "transform(sequence(0, size(_cents) - 1), cl ->"
            " aggregate(zip_with(_xq, element_at(_cents, cl + 1),"
            "  (x, c) -> coalesce((x - c) * (x - c), cast(0 as bigint))),"
            "  cast(0 as bigint), (s, v) -> s + v))"
        ),
    )
    # f_cell is spelled NON-NULLABLE (outer coalesce; _cents is never
    # empty so the -1 arm is dead) — otherwise the probe equi-join
    # below infers isnotnull(f_cell), and THAT pushed constraint
    # re-inlines the whole assignment into the cross-join condition
    assigned = d2s.withColumn(
        "f_cell",
        F.expr(
            "coalesce(array_min(transform(sequence(0, size(_d2s) - 1),"
            " cl -> struct(element_at(_d2s, cl + 1) AS _d2,"
            " cl AS cell))).cell, -1)"
        ),
    )
    # probe pruning as a broadcast equi-join on an n_probe-row literal
    # frame (r18) instead of filter(isin): a FILTER on f_cell is pulled
    # into the cross-join condition (it references both legs) where
    # pushdown inlines the assignment expression — the interpreted
    # distance fold ran 2× per row (plan-verified). Join KEYS are
    # evaluated on the Project output, so the fold runs once; the
    # surviving rows are identical (IN over the same literal set).
    probe_df = literal_df(
        spark, [(int(p),) for p in probe], "f_cell INT"
    )
    cand0 = assigned.join(F.broadcast(probe_df), "f_cell")
    # residual against the assigned centroid, then the per-subspace
    # argmin encode and the ADC sum over this cell's distance table
    res = cand0.withColumn(
        "_r",
        F.expr("zip_with(_xq, element_at(_cents, f_cell + 1), (x, c) -> x - c)"),
    )
    enc = res.withColumn(
        "_enc",
        F.expr(
            f"transform(_cbs, sb -> array_min(transform(sb._codes, cd ->"
            f" struct(aggregate(zip_with("
            f"  slice(_r, sb.sub * {_IVFPQP_SUBDIM} + 1, {_IVFPQP_SUBDIM}),"
            f"  cd._cv, (r, c) ->"
            f"  coalesce((r - c) * (r - c), cast(0 as bigint))),"
            f"  cast(0 as bigint), (s, v) -> s + v) AS _d2,"
            f" cd.code AS code))))"
        ),
    ).withColumn(
        # map lookup keyed on the assigned cell (f_cell stays OUTSIDE
        # any lambda — the HOF re-evaluation rule)
        "_dts2",
        F.expr("element_at(map_from_entries(_dtc), f_cell)"),
    )
    adc = enc.withColumn(
        "f_adc",
        F.expr(
            "aggregate(zip_with(_enc, _dts2,"
            " (e2, dts) -> element_at(dts, e2.code + 1)),"
            " cast(0 as bigint), (s, v) -> s + v)"
        ),
    )
    cand = adc.orderBy(F.col("f_adc").asc(), F.col("vec_id").asc()).limit(
        _IVFPQP_CAND
    )
    dots = cand.withColumn(
        "_dot",
        F.expr(
            "aggregate(zip_with(_xq, _qv, (x, q) ->"
            " coalesce(x * q, cast(0 as bigint))),"
            " cast(0 as bigint), (s, v) -> s + v)"
        ),
    )
    cos = F.col("_dot").cast("double") / (
        F.sqrt(F.col("_na").cast("double")) * F.sqrt(F.lit(float(nq)))
    )
    return (
        dots.select(
            "vec_id",
            F.col("f_cell").cast("long").alias("f_cell"),
            "f_adc",
            (F.floor(cos * 1000000 + F.lit(0.5)) / 1000000.0).alias(
                "f_cosine"
            ),
        )
        .orderBy(F.col("f_cosine").desc(), F.col("vec_id").asc())
        .limit(_IVFPQP_TOPK)
    )


def _sim_ivfpq_portable_oracle() -> str:
    cent_rows, q_rows, nq, probe = _ivf_portable_consts()
    cb_rows = _ivfpq_portable_consts()
    cent_vals = ", ".join(f"({k}, {d}, {c})" for k, d, c in cent_rows)
    cb_vals = ", ".join(f"({s}, {k}, {d}, {c})" for s, k, d, c in cb_rows)
    q_vals = ", ".join(f"({d}, {q})" for d, q in q_rows)
    probe_list = ", ".join(str(p) for p in probe)
    return f"""
    WITH cent0(cell, d, c) AS (VALUES {cent_vals}),
    -- VALUES literals are INT32 in DuckDB; residual/table arithmetic
    -- multiplies literal-derived columns, so widen to BIGINT first
    cent AS (SELECT cell, d, CAST(c AS BIGINT) AS c FROM cent0),
    cb0(sub, code, dsub, c) AS (VALUES {cb_vals}),
    cb AS (SELECT sub, code, dsub, CAST(c AS BIGINT) AS c FROM cb0),
    q0(d, qv) AS (VALUES {q_vals}),
    q AS (SELECT d, CAST(qv AS BIGINT) AS qv FROM q0),
    base AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                   CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS xq
        FROM embeddings WHERE len(embedding) = {_IVFP_DIM}
    ),
    el AS (
        SELECT vec_id,
               generate_subscripts(xq, 1) - 1 AS d,
               unnest(xq) AS x
        FROM base
    ),
    dist AS (
        SELECT el.vec_id, cent.cell,
               CAST(SUM((el.x - cent.c) * (el.x - cent.c)) AS BIGINT) AS d2
        FROM el JOIN cent ON el.d = cent.d
        GROUP BY el.vec_id, cent.cell
    ),
    mind AS (SELECT vec_id, MIN(d2) AS m FROM dist GROUP BY vec_id),
    assign AS (
        SELECT dist.vec_id, MIN(dist.cell) AS f_cell
        FROM dist JOIN mind ON dist.vec_id = mind.vec_id
                           AND dist.d2 = mind.m
        GROUP BY dist.vec_id
    ),
    cand0 AS (SELECT * FROM assign WHERE f_cell IN ({probe_list})),
    res AS (
        SELECT el.vec_id, cand0.f_cell,
               el.d // {_IVFPQP_SUBDIM} AS sub,
               el.d % {_IVFPQP_SUBDIM} AS dsub,
               el.x - cent.c AS r
        FROM el
        JOIN cand0 ON el.vec_id = cand0.vec_id
        JOIN cent ON cent.cell = cand0.f_cell AND cent.d = el.d
    ),
    sdist AS (
        SELECT res.vec_id, res.f_cell, cb.sub, cb.code,
               CAST(SUM((res.r - cb.c) * (res.r - cb.c)) AS BIGINT) AS d2
        FROM res JOIN cb ON res.sub = cb.sub AND res.dsub = cb.dsub
        GROUP BY res.vec_id, res.f_cell, cb.sub, cb.code
    ),
    minc AS (
        SELECT vec_id, sub, MIN(d2) AS m FROM sdist GROUP BY vec_id, sub
    ),
    enc AS (
        SELECT s.vec_id, s.f_cell, s.sub, MIN(s.code) AS code
        FROM sdist s JOIN minc ON s.vec_id = minc.vec_id
                             AND s.sub = minc.sub AND s.d2 = minc.m
        GROUP BY s.vec_id, s.f_cell, s.sub
    ),
    qr AS (
        SELECT cent.cell,
               q.d // {_IVFPQP_SUBDIM} AS sub,
               q.d % {_IVFPQP_SUBDIM} AS dsub,
               q.qv - cent.c AS qrv
        FROM q JOIN cent ON q.d = cent.d
        WHERE cent.cell IN ({probe_list})
    ),
    dt AS (
        SELECT qr.cell, cb.sub, cb.code,
               CAST(SUM((qr.qrv - cb.c) * (qr.qrv - cb.c)) AS BIGINT)
                   AS dtv
        FROM cb JOIN qr ON cb.sub = qr.sub AND cb.dsub = qr.dsub
        GROUP BY qr.cell, cb.sub, cb.code
    ),
    adc AS (
        SELECT enc.vec_id, enc.f_cell,
               CAST(SUM(dt.dtv) AS BIGINT) AS f_adc
        FROM enc JOIN dt ON enc.f_cell = dt.cell
                        AND enc.sub = dt.sub AND enc.code = dt.code
        GROUP BY enc.vec_id, enc.f_cell
    ),
    cand AS (
        SELECT * FROM adc ORDER BY f_adc ASC, vec_id ASC LIMIT {_IVFPQP_CAND}
    ),
    na AS (
        SELECT vec_id, CAST(SUM(x * x) AS BIGINT) AS na
        FROM el GROUP BY vec_id
    ),
    dots AS (
        SELECT el.vec_id, CAST(SUM(el.x * q.qv) AS BIGINT) AS dot
        FROM el
        JOIN cand ON el.vec_id = cand.vec_id
        JOIN q ON el.d = q.d
        GROUP BY el.vec_id
    )
    SELECT c.vec_id, CAST(c.f_cell AS BIGINT) AS f_cell, c.f_adc,
           FLOOR(CAST(dots.dot AS DOUBLE)
                 / (sqrt(CAST(na.na AS DOUBLE))
                    * sqrt(CAST({nq} AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000.0 AS f_cosine
    FROM cand c
    JOIN dots ON c.vec_id = dots.vec_id
    JOIN na ON c.vec_id = na.vec_id
    ORDER BY f_cosine DESC, c.vec_id ASC
    LIMIT {_IVFPQP_TOPK}
"""


QUERIES["q_sim_ivfpq_portable"] = q_sim_ivfpq_portable
ORACLE["q_sim_ivfpq_portable"] = _sim_ivfpq_portable_oracle()


# ---------------------------------------------------------------------------
# Portable k-means (two Lloyd iterations, integer-exact, oracle-gated)
# ---------------------------------------------------------------------------

_KM_K = 4
_KM_DIM = 64


def _km_init_consts() -> list[tuple[int, int, int]]:
    """Literal init centroids (cell, d, c) — md5-derived micro-unit
    integers, |c| ≤ 2.5·10⁵ (the _ivf_portable_consts recipe, distinct
    seed). Bounds: per-dim (x−c)² ≤ 7.3·10¹¹ against init centroids and
    ≤ 1.3·10¹² against updated ones (|c'| ≤ max |x| = 6·10⁵ — a mean of
    observed coords can't leave their range); 64-dim distance ≤
    8.3·10¹³; summed inertia over 10⁶ vectors ≤ 8.3·10¹⁹… so inertia is
    computed per CLUSTER at this SF (≤ 2.4·10¹⁶ at sf0.1) and would
    shard at larger corpora — documented, BIGINT-exact here."""
    import hashlib

    def h(s: str, mod: int) -> int:
        return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") % mod

    return [
        (k, d, h(f"kmc:{k}:{d}", 500001) - 250000)
        for k in range(_KM_K)
        for d in range(_KM_DIM)
    ]


def q_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document clustering via TWO Lloyd iterations, ORACLE-GATED end to
    end — the iterative-refinement semantics the one-shot portable
    probes (IVF assign) don't pin: literal integer init centroids →
    argmin assignment → HALF-UP integer mean update (floor(sum/cnt +
    0.5): the double division of two exact int64s is correctly rounded
    identically in both engines, so the re-quantized centroid is
    identical too) → re-assignment against the UPDATED centroids →
    per-cluster size + exact BIGINT inertia. Empty clusters drop out of
    the update table and later assignments — deterministic, both
    engines. Ties argmin to the lowest cell everywhere.

    Scale shape (r17 rewrite): the centroid table is array-ified to
    ONE broadcast row (K×D ≤ 256 values BY CONSTRUCTION — bounded
    universe) and each iteration's assignment runs ROW-LOCALLY — an
    in-codegen argmin over the K cells (array_min over (d2, cell)
    structs IS the ties→lowest-cell rule; each d2 a 64-lane
    zip_with/aggregate — the q_centroid_classify r16 pattern taken one
    step further: no per-(vec, cell) rows AT ALL, so no argmin shuffle,
    no checkpoint, no join-back). Per iteration the only exchange is
    the ≤256-key centroid-update agg; the final inertia agg is the one
    other shuffle. The pre-r17 spelling exploded to n·64 rows joined
    against the K×D frame and shuffled n·K distance groups behind a
    checkpoint, twice. No window, no Python in any row path. This IS
    production Lloyd on Spark — more iterations repeat the same
    one-shuffle template (IVFIndex.train runs the float version)."""
    cent_rows = _km_init_consts()
    e = _emb(spark, sf_dir).filter(F.size("embedding") == _KM_DIM)
    base = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x ->"
            " cast(round(cast(x as double) * 1000000.0) as bigint))"
        ).alias("_xq"),
    )

    def cent_arr(cent_df: DataFrame) -> DataFrame:
        # (cell, d, c) rows → ONE row holding array<struct<cell, _cv>>,
        # _cv ordered by d (array_sort on the (d, c) struct prefix)
        return (
            cent_df.groupBy("cell")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(d, c))),"
                    " p -> p.c)"
                ).alias("_cv")
            )
            .agg(
                F.expr("array_sort(collect_list(struct(cell, _cv)))").alias(
                    "_cents"
                )
            )
        )

    def assign(cent_df: DataFrame) -> DataFrame:
        # row-local argmin over the broadcast 1-row centroid array; the
        # coalesce keeps NULL-element semantics identical to the
        # oracle's NULL-skipping SUM (the q_centroid_classify catch)
        return base.crossJoin(F.broadcast(cent_arr(cent_df))).select(
            "vec_id",
            "_xq",
            F.expr(
                "array_min(transform(_cents, ct -> struct("
                " aggregate(zip_with(_xq, ct._cv, (x, c) ->"
                "  coalesce((x - c) * (x - c), cast(0 as bigint))),"
                "  cast(0 as bigint), (s, v) -> s + v) AS _d2,"
                " ct.cell AS cell)))"
            ).alias("_m"),
        ).select(
            "vec_id",
            "_xq",
            F.col("_m.cell").cast("int").alias("cell"),
            F.col("_m._d2").cast("long").alias("_dist"),
        )

    cent1 = literal_df(spark, cent_rows, "cell INT, d INT, c LONG")
    a1 = assign(cent1)
    cent2 = (
        a1.select("cell", F.posexplode("_xq").alias("_d", "_x"))
        .groupBy("cell", "_d")
        .agg(
            F.sum("_x").cast("long").alias("_sx"),
            F.count("*").cast("long").alias("_cn"),
        )
        .select(
            "cell",
            F.col("_d").alias("d"),
            F.floor(
                F.col("_sx").cast("double") / F.col("_cn").cast("double")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("c"),
        )
    )
    a2 = assign(cent2)
    return (
        a2.groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("f_n"),
            F.sum("_dist").cast("long").alias("f_inertia"),
        )
        .select(
            F.col("cell").cast("long").alias("f_cluster"), "f_n", "f_inertia"
        )
        .orderBy(F.col("f_cluster").asc())
    )


def _kmeans_oracle() -> str:
    cent_rows = _km_init_consts()
    cent_vals = ", ".join(f"({k}, {d}, {c})" for k, d, c in cent_rows)
    return f"""
    WITH cent10(cell, d, c) AS (VALUES {cent_vals}),
    cent1 AS (SELECT cell, d, CAST(c AS BIGINT) AS c FROM cent10),
    base AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                   CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS xq
        FROM embeddings WHERE len(embedding) = {_KM_DIM}
    ),
    el AS (
        SELECT vec_id,
               generate_subscripts(xq, 1) - 1 AS d,
               unnest(xq) AS x
        FROM base
    ),
    d1 AS (
        SELECT el.vec_id, c.cell,
               CAST(SUM((el.x - c.c) * (el.x - c.c)) AS BIGINT) AS d2
        FROM el JOIN cent1 c ON el.d = c.d
        GROUP BY el.vec_id, c.cell
    ),
    m1 AS (SELECT vec_id, MIN(d2) AS m FROM d1 GROUP BY vec_id),
    a1 AS (
        SELECT d1.vec_id, MIN(d1.cell) AS cell
        FROM d1 JOIN m1 ON d1.vec_id = m1.vec_id AND d1.d2 = m1.m
        GROUP BY d1.vec_id
    ),
    cent2 AS (
        SELECT a1.cell, el.d,
               CAST(FLOOR(CAST(SUM(el.x) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS c
        FROM el JOIN a1 ON el.vec_id = a1.vec_id
        GROUP BY a1.cell, el.d
    ),
    d2t AS (
        SELECT el.vec_id, c.cell,
               CAST(SUM((el.x - c.c) * (el.x - c.c)) AS BIGINT) AS d2
        FROM el JOIN cent2 c ON el.d = c.d
        GROUP BY el.vec_id, c.cell
    ),
    m2 AS (SELECT vec_id, MIN(d2) AS m FROM d2t GROUP BY vec_id),
    a2 AS (
        SELECT d2t.vec_id, MIN(d2t.cell) AS cell, MIN(m2.m) AS dist
        FROM d2t JOIN m2 ON d2t.vec_id = m2.vec_id AND d2t.d2 = m2.m
        GROUP BY d2t.vec_id
    )
    SELECT CAST(cell AS BIGINT) AS f_cluster,
           CAST(COUNT(*) AS BIGINT) AS f_n,
           CAST(SUM(dist) AS BIGINT) AS f_inertia
    FROM a2
    GROUP BY cell
    ORDER BY f_cluster ASC
"""


QUERIES["q_cluster_kmeans"] = q_cluster_kmeans
ORACLE["q_cluster_kmeans"] = _kmeans_oracle()


# ---------------------------------------------------------------------------
# Nearest-centroid classification + confusion matrix (integer-exact)
# ---------------------------------------------------------------------------


def q_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification of the labeled embedding corpus
    with a CONFUSION MATRIX output, ORACLE-GATED — the embedding-quality
    probe a training pipeline runs (are the classes separable in this
    space?). Per-label integer centroids via the q_cluster_kmeans
    half-up mean (floor(sum/cnt + 0.5) over micro-units — identical
    IEEE division both engines); each vector assigns to the nearest
    centroid by exact int64 squared distance (ties → lowest label);
    output rows (f_true, f_pred, f_n) count-desc/label-asc ordered.
    Training on the full set including the scored vector is the
    standard resubstitution form — documented, identical both engines.

    Scale shape (r16 rewrite): centroid build is one explode →
    map-side-combinable (label, d) agg, array-ified to an L-ROW frame
    (bounded BY CONSTRUCTION — label universe × dims); scoring is one
    broadcast nested-loop against those L rows (N×L pairs, each an
    in-codegen 64-lane zip_with/aggregate — the bounded-side
    crossJoin class PLANS.md labels `reduced(...)`) and ONE
    map-side-combinable argmin agg (min over (d2, label) structs IS
    the ties→lowest-label rule); the confusion matrix is a final
    L×L-bounded agg. No window, no Python. (The pre-r16 spelling
    exploded to N×D×L join rows and shuffled N×L distance groups
    behind a checkpoint — 64× more join traffic and an extra
    exchange + lineage cut; VERDICT-r15 weak #1.)"""
    e = _emb(spark, sf_dir).filter(
        F.size("embedding") == _KM_DIM
    ).filter(F.col("label").isNotNull())
    base = e.select(
        "vec_id",
        F.col("label").cast("long").alias("_lbl"),
        F.expr(
            "transform(embedding, x ->"
            " cast(round(cast(x as double) * 1000000.0) as bigint))"
        ).alias("_xq"),
    )
    el = base.select(
        "vec_id", "_lbl", F.posexplode("_xq").alias("_d", "_x")
    )
    cent = (
        el.groupBy("_lbl", "_d")
        .agg(
            F.sum("_x").cast("long").alias("_sx"),
            F.count("*").cast("long").alias("_cn"),
        )
        .select(
            F.col("_lbl").alias("clabel"),
            "_d",
            F.floor(
                F.col("_sx").cast("double") / F.col("_cn").cast("double")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("_c"),
        )
        .groupBy("clabel")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(_d, _c))),"
                " p -> p._c)"
            ).alias("_cv")
        )
    )
    # N×L scored pairs, distance in-codegen per pair; _xq/_cv are
    # materialized columns (the HOF-lambda CSE rule)
    scored = base.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "_lbl",
        "clabel",
        F.expr(
            # coalesce keeps the OLD join-path semantics for a NULL
            # embedding element (SUM skipped it; a bare aggregate would
            # poison the whole distance to NULL) — and matches the
            # oracle's NULL-skipping SUM
            "aggregate(zip_with(_xq, _cv, (x, c) ->"
            " coalesce((x - c) * (x - c), cast(0 as bigint))),"
            " cast(0 as bigint), (s, v) -> s + v)"
        ).alias("_d2"),
    )
    pred = (
        scored.groupBy("vec_id", "_lbl")
        .agg(F.min(F.struct("_d2", "clabel")).alias("_m"))
        .select("_lbl", F.col("_m.clabel").alias("f_pred"))
    )
    return (
        pred.groupBy(
            F.col("_lbl").alias("f_true"), "f_pred"
        )
        .agg(F.count("*").cast("long").alias("f_n"))
        .orderBy(
            F.col("f_n").desc(), F.col("f_true").asc(), F.col("f_pred").asc()
        )
    )


ORACLE["q_centroid_classify"] = f"""
    WITH base AS (
        SELECT vec_id, CAST(label AS BIGINT) AS lbl,
               list_transform(embedding, x ->
                   CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS xq
        FROM embeddings
        WHERE len(embedding) = {_KM_DIM} AND label IS NOT NULL
    ),
    el AS (
        SELECT vec_id, lbl,
               generate_subscripts(xq, 1) - 1 AS d,
               unnest(xq) AS x
        FROM base
    ),
    cent AS (
        SELECT lbl AS clabel, d,
               CAST(FLOOR(CAST(SUM(x) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS c
        FROM el GROUP BY lbl, d
    ),
    dist AS (
        SELECT el.vec_id, el.lbl, cent.clabel,
               CAST(SUM((el.x - cent.c) * (el.x - cent.c)) AS BIGINT) AS d2
        FROM el JOIN cent ON el.d = cent.d
        GROUP BY el.vec_id, el.lbl, cent.clabel
    ),
    mind AS (SELECT vec_id, MIN(d2) AS m FROM dist GROUP BY vec_id),
    pred AS (
        SELECT dist.vec_id, dist.lbl,
               CAST(MIN(dist.clabel) AS BIGINT) AS f_pred
        FROM dist JOIN mind ON dist.vec_id = mind.vec_id
                           AND dist.d2 = mind.m
        GROUP BY dist.vec_id, dist.lbl
    )
    SELECT lbl AS f_true, f_pred, CAST(COUNT(*) AS BIGINT) AS f_n
    FROM pred
    GROUP BY lbl, f_pred
    ORDER BY f_n DESC, f_true ASC, f_pred ASC
"""
QUERIES["q_centroid_classify"] = q_centroid_classify


# ---------------------------------------------------------------------------
# Top principal component via integer power iteration (oracle-gated)
# ---------------------------------------------------------------------------

_PCA_DIM = 16        # leading dims (the q_embed_covariance slice)
_PCA_ITERS = 4
_PCA_S = 1_000_000   # eigenvector fixed-point scale
_PCA_DOWN = 1 << 20  # Gram scale-down divisor


def q_embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP PRINCIPAL COMPONENT of the leading 16 embedding dims via
    integer POWER ITERATION, ORACLE-GATED — iterative distributed
    linear algebra under the hash gate (the PCA direction a whitening /
    drift pipeline extracts; q_embed_covariance computes the matrix,
    this key pins the iteration that consumes it). All arithmetic is
    exact int64: half-up integer means center the coords; the centered
    Gram C[i][j] = Σ_v r_i·r_j accumulates exactly (|r| ≤ 8.5·10⁵ →
    per-cell ≤ n·7.3·10¹¹ ≈ 3.6·10¹⁵ at sf0.1); C scales down by 2²⁰
    (integer DIV — truncation toward zero in BOTH engines, verified
    for negatives) so four matvec rounds stay < 2⁶³; each round
    renormalizes v ← w DIV max(⌊max|w|/S⌋, 1) to the S = 10⁶
    fixed-point ball. v₀ = all-ones·S fixes the sign convention
    deterministically. Output: 16 rows (f_d, f_v).

    Scale shape (r17 rewrite): the data-scale part is the Gram build —
    the per-vector upper-triangle products are generated ROW-LOCALLY
    from the centered 16-element array (in-codegen nested transform —
    d²/2 narrow structs per row, d schema-fixed) straight into the
    map-side-combinable 136-key agg, mirrored to the full 256-row
    matrix AFTER aggregation; the means are a 16-key map-side-
    combinable agg broadcast back as ONE array row. The pre-r17
    spelling self-joined the exploded centered coords on vec_id — two
    sorted n·16-row exchanges + SMJ for the identical product stream.
    Iterations then run on the 256-row / 16-row frames (bounded BY
    CONSTRUCTION — broadcast joins, one 1-row max per round). The
    sufficient-statistics form n·Σxy − Σx·Σy would avoid the second
    pass but needs >int64 intermediates; the two-pass centered form
    trades one extra scan for staying exactly in int64 (documented)."""
    e = _emb(spark, sf_dir).select(
        "vec_id",
        F.expr(
            f"transform(slice(embedding, 1, {_PCA_DIM}),"
            " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5D) AS BIGINT))"
        ).alias("em"),
    ).filter(F.size("em") == _PCA_DIM)
    el = e.select("vec_id", F.posexplode("em").alias("d", "x"))
    means = (
        el.groupBy("d")
        .agg(
            F.sum("x").cast("long").alias("_sx"),
            F.count("*").cast("long").alias("_cn"),
        )
        .select(
            "d",
            F.floor(
                F.col("_sx").cast("double") / F.col("_cn").cast("double")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("mu"),
        )
    )
    marr = means.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(d, mu))), p -> p.mu)"
        ).alias("_mu")
    )
    cen = e.crossJoin(F.broadcast(marr)).withColumn(
        "_r", F.expr("zip_with(em, _mu, (x, m) -> x - m)")
    )
    # row-local upper-triangle pair products (i <= j, diagonal
    # included); a NULL element yields NULL products, which F.sum skips
    # exactly as the oracle's SUM over the join rows
    upper = (
        cen.select(
            F.explode(
                F.expr(
                    "flatten(transform(_r, (ri, i) ->"
                    " transform(slice(_r, i + 1, size(_r)),"
                    " (rj, k) -> struct(i AS i, i + k AS j,"
                    " ri * rj AS p))))"
                )
            ).alias("_t")
        )
        .groupBy(F.col("_t.i").alias("i"), F.col("_t.j").alias("j"))
        .agg(F.sum(F.col("_t.p")).cast("long").alias("cc"))
    )
    full = upper.unionByName(
        upper.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "cc"
        )
    )
    cpr = checkpoint(
        full.select(
            "i", "j", F.expr(f"cc DIV {_PCA_DOWN}").cast("long").alias("c")
        )
    )
    # r18: the power iterations run on a CONSTANT-size frame — the Gram
    # matrix is ≤ _PCA_DIM² = 256 rows BY CONSTRUCTION at any SF — so
    # the rounds move driver-side (the q_pagerank/bpe_train discipline):
    # one bounded collect of the checkpointed matrix, then exact Python
    # ints replicating the distributed recurrence bit-for-bit. Spark's
    # DIV truncates toward zero (verified: -7 DIV 2 = -3), so the
    # renormalize uses truncating division, NOT Python's flooring //.
    # The distributed spelling this replaces (join broadcast v → 16-key
    # agg → checkpoint → max agg → renormalize, × _PCA_ITERS) paid ~4
    # graph-sized-job latencies per run for 256-row arithmetic.
    def _tdiv(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return -q if (a < 0) != (b < 0) else q

    mat = [
        (r["i"], r["j"], r["c"])
        for r in cpr.limit(_PCA_DIM * _PCA_DIM + 1).collect()
    ]
    assert len(mat) <= _PCA_DIM * _PCA_DIM, "Gram matrix exceeds DIM²"
    vvec = {j: _PCA_S for j in range(_PCA_DIM)}
    for _ in range(_PCA_ITERS):
        w: dict = {}
        for i, j, c in mat:
            if j in vvec:  # join semantics
                w[i] = w.get(i, 0) + c * vvec[j]
        if not w:
            vvec = {}
            break
        m = max(abs(x) for x in w.values())
        g = max(_tdiv(m, _PCA_S), 1)
        vvec = {i: _tdiv(wi, g) for i, wi in w.items()}
    out_rows = [(int(j), int(val)) for j, val in sorted(vvec.items())]
    return spark.createDataFrame(out_rows, "f_d LONG, f_v LONG").orderBy(
        "f_d"
    )


def _pca_power_oracle() -> str:
    its = []
    prev = "v0"
    for k in range(1, _PCA_ITERS + 1):
        its.append(
            f"""
    it{k} AS (
        SELECT c.i, CAST(SUM(c.c * {prev}.v) AS BIGINT) AS w
        FROM cpr c JOIN {prev} ON c.j = {prev}.j
        GROUP BY c.i
    ),
    m{k} AS (SELECT MAX(ABS(w)) AS m FROM it{k}),
    v{k} AS (
        SELECT it{k}.i AS j,
               CAST(it{k}.w // GREATEST(m{k}.m // {_PCA_S}, 1) AS BIGINT) AS v
        FROM it{k}, m{k}
    )"""
        )
        prev = f"v{k}"
    return f"""
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding[1:{_PCA_DIM}],
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS em
        FROM embeddings WHERE len(embedding[1:{_PCA_DIM}]) = {_PCA_DIM}
    ),
    el AS (
        SELECT vec_id,
               generate_subscripts(em, 1) - 1 AS d,
               unnest(em) AS x
        FROM base
    ),
    means AS (
        SELECT d,
               CAST(FLOOR(CAST(SUM(x) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS mu
        FROM el GROUP BY d
    ),
    cen AS (
        SELECT el.vec_id, el.d, el.x - means.mu AS r
        FROM el JOIN means ON el.d = means.d
    ),
    upper AS (
        SELECT a.d AS i, b.d AS j, CAST(SUM(a.r * b.r) AS BIGINT) AS cc
        FROM cen a JOIN cen b ON a.vec_id = b.vec_id AND a.d <= b.d
        GROUP BY a.d, b.d
    ),
    fullm AS (
        SELECT i, j, cc FROM upper
        UNION ALL
        SELECT j AS i, i AS j, cc FROM upper WHERE i < j
    ),
    cpr AS (SELECT i, j, CAST(cc // {_PCA_DOWN} AS BIGINT) AS c FROM fullm),
    v0 AS (
        SELECT CAST(range AS INT) AS j, CAST({_PCA_S} AS BIGINT) AS v
        FROM range(0, {_PCA_DIM})
    ),{','.join(its)}
    SELECT CAST(j AS BIGINT) AS f_d, v AS f_v FROM v{_PCA_ITERS}
    ORDER BY f_d
"""


QUERIES["q_embed_pca_power"] = q_embed_pca_power
ORACLE["q_embed_pca_power"] = _pca_power_oracle()


# ---------------------------------------------------------------------------
# k-NN majority-vote classification (bounded query slice, oracle-gated)
# ---------------------------------------------------------------------------

_KNNC_Q = 24      # fixed query-set size — bounded at ANY corpus scale
_KNNC_K = 5


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN MAJORITY-VOTE classification, ORACLE-GATED — the eval probe
    paired with q_centroid_classify: for each query in the FIXED-size
    query set (the hash-smallest ``_KNNC_Q`` = 24 vectors by a portable
    md5 of the vec id), the 5 nearest corpus vectors by exact int64
    squared euclidean distance vote on the label (self excluded;
    distance ties break to the lower vec_id, vote ties to the lower
    label — both engines spell the same tiebreaks). Output per query:
    true label, predicted label, agreement flag.

    Scale shape (de-weaked r11, VERDICT-r10 #2; r17 NLJ rewrite): the
    query set is a TRUE constant — ``orderBy(hash).limit(Q)`` compiles
    to TakeOrderedAndProject (per-partition top-Q, one Q-row merge), so
    the broadcast side is Q array rows at any SF and the distance
    stream is n·Q NLJ rows with an in-codegen zip_with distance —
    LINEAR in the corpus (the old ``vec_id % 250`` slice grew with n:
    n²·64/250 quadratic; the pre-r17 spelling exploded to n·64·Q
    equijoin rows and shuffled an n·Q distance agg + a label
    join-back). The top-5 window partitions by query id and
    the rank ≤ 5 filter gets Spark 4's map-side WindowGroupLimit
    (each input partition pre-prunes to 5 per query BEFORE the
    shuffle, so the final per-query merge sees partitions·5 rows,
    never n); the vote agg is Q×L-bounded. No Python."""
    e = _emb(spark, sf_dir).filter(F.size("embedding") == _IVFP_DIM)
    base = e.select(
        "vec_id",
        F.col("label").cast("long").alias("_lbl"),
        F.expr(
            "transform(embedding, x ->"
            " cast(round(cast(x as double) * 1000000.0) as bigint))"
        ).alias("_xq"),
    )
    qh = F.expr(
        "cast(conv(substr(md5(concat('q_', cast(vec_id as string))),"
        " 1, 15), 16, 10) as bigint)"
    )
    q = (
        base.withColumn("_qh", qh)
        .orderBy(F.col("_qh").asc(), F.col("vec_id").asc())
        .limit(_KNNC_Q)
        .drop("_qh")
    )
    # r17: the distance stream is a bounded broadcast NLJ of the corpus
    # against the Q-row array-ified query frame with an in-codegen
    # zip_with/aggregate distance (the q_centroid_classify pattern) —
    # n·Q rows instead of the n·64·Q explode-equijoin rows, no distance
    # shuffle agg; the corpus label rides along so the old label
    # join-back disappears. coalesce = the oracle's NULL-skipping SUM.
    qb = q.select(F.col("vec_id").alias("qid"), F.col("_xq").alias("_qx"))
    d2 = (
        base.crossJoin(F.broadcast(qb))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "_lbl",
            F.expr(
                "aggregate(zip_with(_xq, _qx, (x, qx) ->"
                " coalesce((x - qx) * (x - qx), cast(0 as bigint))),"
                " cast(0 as bigint), (s, v) -> s + v)"
            ).alias("_d2"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("_d2").asc(), F.col("vec_id").asc()
    )
    nn = (
        d2.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= _KNNC_K)
    )
    votes = nn.groupBy("qid", "_lbl").agg(F.count("*").alias("_nv"))
    best = votes.groupBy("qid").agg(F.max("_nv").alias("_mx"))
    pred = (
        votes.join(best, "qid")
        .filter(F.col("_nv") == F.col("_mx"))
        .groupBy("qid")
        .agg(F.min("_lbl").cast("long").alias("f_pred"))
    )
    truth = q.select(F.col("vec_id").alias("qid"), F.col("_lbl"))
    return (
        pred.join(truth, "qid")
        .select(
            F.col("qid").cast("long").alias("f_query"),
            F.col("_lbl").alias("f_true"),
            "f_pred",
            (F.col("f_pred") == F.col("_lbl")).cast("int").alias("f_correct"),
        )
        .orderBy("f_query")
    )


ORACLE["q_knn_classify"] = f"""
    WITH base AS (
        SELECT vec_id, CAST(label AS BIGINT) AS lbl,
               list_transform(embedding, x ->
                   CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS xq
        FROM embeddings WHERE len(embedding) = {_IVFP_DIM}
    ),
    el AS (
        SELECT vec_id,
               generate_subscripts(xq, 1) - 1 AS d,
               unnest(xq) AS x
        FROM base
    ),
    q AS (
        SELECT vec_id, lbl, xq FROM base
        ORDER BY ('0x' || substr(md5('q_' || CAST(vec_id AS VARCHAR)),
                                 1, 15))::BIGINT ASC, vec_id ASC
        LIMIT {_KNNC_Q}
    ),
    qel AS (
        SELECT vec_id AS qid,
               generate_subscripts(xq, 1) - 1 AS d,
               unnest(xq) AS qx
        FROM q
    ),
    d2 AS (
        SELECT qel.qid, el.vec_id,
               CAST(SUM((el.x - qel.qx) * (el.x - qel.qx)) AS BIGINT) AS d2
        FROM el JOIN qel ON el.d = qel.d AND el.vec_id <> qel.qid
        GROUP BY qel.qid, el.vec_id
    ),
    nn AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY qid ORDER BY d2 ASC, vec_id ASC
                   ) AS rk
            FROM d2
        ) WHERE rk <= {_KNNC_K}
    ),
    votes AS (
        SELECT nn.qid, base.lbl, COUNT(*) AS nv
        FROM nn JOIN base ON nn.vec_id = base.vec_id
        GROUP BY nn.qid, base.lbl
    ),
    best AS (SELECT qid, MAX(nv) AS mx FROM votes GROUP BY qid),
    pred AS (
        SELECT votes.qid, CAST(MIN(votes.lbl) AS BIGINT) AS f_pred
        FROM votes JOIN best ON votes.qid = best.qid AND votes.nv = best.mx
        GROUP BY votes.qid
    )
    SELECT CAST(pred.qid AS BIGINT) AS f_query,
           q.lbl AS f_true,
           pred.f_pred,
           CAST(CASE WHEN pred.f_pred = q.lbl THEN 1 ELSE 0 END AS INT)
               AS f_correct
    FROM pred JOIN q ON pred.qid = q.vec_id
    ORDER BY f_query
"""
QUERIES["q_knn_classify"] = q_knn_classify


_HN_Q = 16          # fixed query-set size — bounded at ANY corpus scale
_HN_K = 3           # hard negatives kept per query
_HN_NEAR_D2 = 2 * 10 ** 12  # near-dup floor on the quantized int64 d²


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for retrieval training, ORACLE-GATED (r13)
    — the contrastive-training data op beside q_negative_sample's
    RANDOM negatives: for each query in a fixed hash-smallest set, the
    K=3 nearest corpus vectors by exact int64 squared euclidean
    distance that are NOT near-duplicates (d² > the literal near-dup
    floor — a near-dup is a false negative that poisons the loss, the
    reason pipelines mine "hard but not identical"). Per (query,
    rank): the negative's id, exact d², a same-label flag (a hard
    negative sharing the query's label is the classic noisy-pair
    signal), and the count of near-dups the floor excluded.
    Deterministic end-to-end: md5 query-set hash, d² ties → lower
    vec_id, quantized ·10⁶ integer coordinates (the q_knn_classify
    exactness discipline).

    Scale: the q_knn_classify shape — Q·64-row broadcast into the
    corpus dim stream (n·64·Q linear), map-side-combinable distance
    agg, rank ≤ K via the WindowGroupLimit-eligible per-query window.
    No Python."""
    e = _emb(spark, sf_dir).filter(F.size("embedding") == _IVFP_DIM)
    base = e.select(
        "vec_id",
        F.col("label").cast("long").alias("_lbl"),
        F.expr(
            "transform(embedding, x ->"
            " cast(round(cast(x as double) * 1000000.0) as bigint))"
        ).alias("_xq"),
    )
    el = base.select("vec_id", F.posexplode("_xq").alias("_d", "_x"))
    qh = F.expr(
        "cast(conv(substr(md5(concat('hn_', cast(vec_id as string))),"
        " 1, 15), 16, 10) as bigint)"
    )
    q = (
        base.withColumn("_qh", qh)
        .orderBy(F.col("_qh").asc(), F.col("vec_id").asc())
        .limit(_HN_Q)
        .drop("_qh")
    )
    qel = q.select(
        F.col("vec_id").alias("qid"), F.posexplode("_xq").alias("d", "qx")
    )
    d2 = (
        el.join(F.broadcast(qel), el["_d"] == qel["d"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(
            F.sum((F.col("_x") - F.col("qx")) * (F.col("_x") - F.col("qx")))
            .cast("long")
            .alias("_d2")
        )
    )
    near = d2.filter(F.col("_d2") <= _HN_NEAR_D2).groupBy("qid").agg(
        F.count("*").cast("long").alias("_nnear")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("_d2").asc(), F.col("vec_id").asc()
    )
    hard = (
        d2.filter(F.col("_d2") > _HN_NEAR_D2)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= _HN_K)
        .join(base.select("vec_id", "_lbl"), "vec_id")
    )
    truth = q.select(
        F.col("vec_id").alias("qid"), F.col("_lbl").alias("_qlbl")
    )
    return (
        hard.join(truth, "qid")
        .join(F.broadcast(near), "qid", "left")
        .select(
            F.col("qid").cast("long").alias("f_query"),
            F.col("_rk").cast("long").alias("f_rank"),
            F.col("vec_id").cast("long").alias("f_neg"),
            F.col("_d2").alias("f_d2"),
            # CASE WHEN … THEN 1 ELSE 0 — null labels yield 0 like the
            # oracle's CASE, never NULL (ADVICE-r13: a plain == would
            # diverge if embeddings.label is ever NULL)
            F.when(F.col("_lbl") == F.col("_qlbl"), 1)
            .otherwise(0)
            .cast("int")
            .alias("f_same_label"),
            F.coalesce(F.col("_nnear"), F.lit(0).cast("long")).alias(
                "f_near_excluded"
            ),
        )
        .orderBy("f_query", "f_rank")
    )


ORACLE["q_hard_negatives"] = f"""
    WITH base AS (
        SELECT vec_id, CAST(label AS BIGINT) AS lbl,
               list_transform(embedding, x ->
                   CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS xq
        FROM embeddings WHERE len(embedding) = {_IVFP_DIM}
    ),
    el AS (
        SELECT vec_id,
               generate_subscripts(xq, 1) - 1 AS d,
               unnest(xq) AS x
        FROM base
    ),
    q AS (
        SELECT vec_id, lbl, xq FROM base
        ORDER BY ('0x' || substr(md5('hn_' || CAST(vec_id AS VARCHAR)),
                                 1, 15))::BIGINT ASC, vec_id ASC
        LIMIT {_HN_Q}
    ),
    qel AS (
        SELECT vec_id AS qid,
               generate_subscripts(xq, 1) - 1 AS d,
               unnest(xq) AS qx
        FROM q
    ),
    d2 AS (
        SELECT qel.qid, el.vec_id,
               CAST(SUM((el.x - qel.qx) * (el.x - qel.qx)) AS BIGINT)
                   AS dd
        FROM el JOIN qel ON el.d = qel.d
        WHERE el.vec_id <> qel.qid
        GROUP BY qel.qid, el.vec_id
    ),
    near AS (
        SELECT qid, CAST(COUNT(*) AS BIGINT) AS nnear
        FROM d2 WHERE dd <= {_HN_NEAR_D2} GROUP BY qid
    ),
    hard AS (
        SELECT qid, vec_id, dd,
               ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY dd ASC, vec_id ASC) AS rk
        FROM d2 WHERE dd > {_HN_NEAR_D2}
    )
    SELECT CAST(hard.qid AS BIGINT) AS f_query,
           CAST(hard.rk AS BIGINT) AS f_rank,
           CAST(hard.vec_id AS BIGINT) AS f_neg,
           hard.dd AS f_d2,
           CAST(CASE WHEN nb.lbl = q.lbl THEN 1 ELSE 0 END AS INT)
               AS f_same_label,
           CAST(COALESCE(near.nnear, 0) AS BIGINT) AS f_near_excluded
    FROM hard
    JOIN base nb ON hard.vec_id = nb.vec_id
    JOIN q ON hard.qid = q.vec_id
    LEFT JOIN near ON hard.qid = near.qid
    WHERE hard.rk <= {_HN_K}
    ORDER BY f_query, f_rank
"""
QUERIES["q_hard_negatives"] = q_hard_negatives


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion: lexical + semantic retrieval, fused exactly
# ---------------------------------------------------------------------------

_RRF_K = 60           # the standard RRF dampening constant
_RRF_SCALE = 10 ** 9  # fixed-point numerator: 1e9 DIV (60 + rank)
_RRF_TOPC = 100       # per-retriever candidate depth
_RRF_TERMS = ("window", "merge", "stream")  # the q_bm25_topk query


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID RETRIEVAL via RECIPROCAL-RANK FUSION, ORACLE-GATED — the
    fusion step every lexical+vector search stack runs (Cormack et
    al.'s RRF: score = Σ 1/(k + rankᵢ), k = 60). Retriever A is
    lexical: total occurrence count of the three query terms per
    document (the q_text_search relevance, computed by array filters
    on the token array — no explode, no token shuffle). Retriever B is
    semantic: exact micro-unit integer dot product against the
    vec_id=0 query embedding (documents and embeddings share the id
    space — the q_text_embed_join alignment). Each retriever keeps its
    top-100 via TakeOrdered; ranks are row_numbers over those BOUNDED
    candidate frames (never the corpus); the fused score is
    1e9 DIV (60 + rank) summed over the lists the id appears in —
    pure BIGINT, so DuckDB replays every tie and truncation.

    Scale: both retrievers end in TakeOrderedAndProject (per-partition
    top-K + driver merge of K·P rows); the unpartitioned row_number
    windows run AFTER the top-100 cut — 100-row frames by
    construction, the HDR bounded-universe precedent. The fusion join
    is 100×100 at most. Nothing downstream of the cut is
    SF-proportional."""
    lex = _rrf_lex_ranked(spark, sf_dir)
    sem = _rrf_sem_ranked(spark, sf_dir)

    fused = lex.join(
        sem, lex["doc_id"] == sem["vec_id"], "full_outer"
    ).select(
        F.coalesce(lex["doc_id"], sem["vec_id"]).cast("long").alias("f_id"),
        F.col("_rl").alias("f_rank_lex"),
        F.col("_rs").alias("f_rank_sem"),
        (
            F.coalesce(
                F.expr(f"CAST({_RRF_SCALE} DIV ({_RRF_K} + _rl) AS BIGINT)"),
                F.lit(0).cast("long"),
            )
            + F.coalesce(
                F.expr(f"CAST({_RRF_SCALE} DIV ({_RRF_K} + _rs) AS BIGINT)"),
                F.lit(0).cast("long"),
            )
        ).alias("f_rrf"),
    )
    return fused.orderBy(F.col("f_rrf").desc(), F.col("f_id").asc()).limit(
        _K
    )


def _t2(spark: SparkSession, sf_dir: str, name: str):
    from ..sources.tables import read_table

    return read_table(spark, sf_dir, name)


def _rrf_lex_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retriever: query-term occurrence counts (array filters,
    no explode), top-100 TakeOrdered, row_number rank over the BOUNDED
    candidate frame. Shared by q_rrf_fusion and q_ndcg_mrr."""
    d = _t2(spark, sf_dir, "documents")
    toks = d.filter(F.col("doc_id") != _QUERY_ID).select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_toks")
    )
    score = None
    for t in _RRF_TERMS:
        c = F.size(
            F.filter(F.col("_toks"), (lambda tt: lambda x: x == F.lit(tt))(t))
        )
        score = c if score is None else score + c
    # The positivity filter runs ABOVE the top-K cut (r18): below the
    # limit, predicate pushdown inlines _lscore into the Filter and the
    # three size(filter(split(...))) terms run TWICE per corpus row
    # (the q_join_interval HOF-pushdown catch). Provably identical row
    # set: every positive score sorts before every zero under the DESC
    # order, so the top-K of all docs filtered to > 0 equals the top-K
    # of the positive docs — min(#positives, K) rows either way.
    lex_top = (
        toks.select("doc_id", score.cast("long").alias("_lscore"))
        .orderBy(F.col("_lscore").desc(), F.col("doc_id").asc())
        .limit(_RRF_TOPC)
        .filter(F.col("_lscore") > 0)
    )
    return lex_top.withColumn(
        "_rl",
        F.row_number().over(
            Window.orderBy(F.col("_lscore").desc(), F.col("doc_id").asc())
        ).cast("long"),
    )


def _rrf_sem_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic retriever: exact micro-unit integer dot vs the
    vec_id=0 query, top-100 TakeOrdered, row_number over the bounded
    frame. Shared by q_rrf_fusion and q_ndcg_mrr."""
    e = _emb(spark, sf_dir)
    micro = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x ->"
            " CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"
        ).alias("_m"),
    )
    elems = micro.filter(F.col("vec_id") != _QUERY_ID).select(
        "vec_id", F.posexplode("_m").alias("i", "x")
    )
    q = micro.filter(F.col("vec_id") == _QUERY_ID).select(
        F.posexplode("_m").alias("i", "qx")
    )
    sem_top = (
        elems.join(F.broadcast(q), "i")
        .groupBy("vec_id")
        .agg(F.sum(F.col("x") * F.col("qx")).cast("long").alias("_sscore"))
        .orderBy(F.col("_sscore").desc(), F.col("vec_id").asc())
        .limit(_RRF_TOPC)
    )
    return sem_top.withColumn(
        "_rs",
        F.row_number().over(
            Window.orderBy(F.col("_sscore").desc(), F.col("vec_id").asc())
        ).cast("long"),
    )


ORACLE["q_rrf_fusion"] = f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') AS t
        FROM documents WHERE doc_id <> {_QUERY_ID}
    ),
    lexs AS (
        SELECT doc_id,
               CAST({' + '.join(
                   f"len(list_filter(t, x -> x = '{t}'))"
                   for t in _RRF_TERMS
               )} AS BIGINT) AS _lscore
        FROM toks
    ),
    lex_top AS (
        SELECT doc_id, _lscore FROM lexs WHERE _lscore > 0
        ORDER BY _lscore DESC, doc_id ASC LIMIT {_RRF_TOPC}
    ),
    lex AS (
        SELECT doc_id, _lscore,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY _lscore DESC, doc_id ASC) AS BIGINT) AS _rl
        FROM lex_top
    ),
    micro AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                        AS BIGINT)) AS m
        FROM embeddings
    ),
    el AS (
        SELECT vec_id, generate_subscripts(m, 1) AS i, unnest(m) AS x
        FROM micro WHERE vec_id <> {_QUERY_ID}
    ),
    qel AS (
        SELECT generate_subscripts(m, 1) AS i, unnest(m) AS qx
        FROM micro WHERE vec_id = {_QUERY_ID}
    ),
    sem_top AS (
        SELECT el.vec_id, CAST(SUM(el.x * qel.qx) AS BIGINT) AS _sscore
        FROM el JOIN qel ON el.i = qel.i
        GROUP BY el.vec_id
        ORDER BY _sscore DESC, vec_id ASC LIMIT {_RRF_TOPC}
    ),
    sem AS (
        SELECT vec_id, _sscore,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY _sscore DESC, vec_id ASC) AS BIGINT) AS _rs
        FROM sem_top
    ),
    fused AS (
        SELECT CAST(COALESCE(lex.doc_id, sem.vec_id) AS BIGINT) AS f_id,
               lex._rl AS f_rank_lex,
               sem._rs AS f_rank_sem,
               COALESCE(CAST({_RRF_SCALE} // ({_RRF_K} + lex._rl)
                             AS BIGINT), 0)
             + COALESCE(CAST({_RRF_SCALE} // ({_RRF_K} + sem._rs)
                             AS BIGINT), 0) AS f_rrf
        FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.vec_id
    )
    SELECT f_id, f_rank_lex, f_rank_sem, f_rrf
    FROM fused ORDER BY f_rrf DESC, f_id ASC LIMIT {_K}
"""
QUERIES["q_rrf_fusion"] = q_rrf_fusion


# ---------------------------------------------------------------------------
# NDCG@10 / MRR ranking evaluation (lexical ranking vs semantic labels)
# ---------------------------------------------------------------------------

# floor(1e6 / log2(i + 1) + 0.5) for rank i = 1..10 — the standard NDCG
# position discounts as half-up ppm integers (IEEE log2 never touches
# the gated arithmetic; the Benford-constant technique).
_NDCG_W = (
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
)
_NDCG_K = 10


def q_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 + MRR ranking evaluation, ORACLE-GATED — the
    position-discounted retrieval metrics that complete the eval family
    (q_ann_recall pins set overlap; NDCG/MRR pin ORDER quality): the
    LEXICAL ranking (q_rrf_fusion's term-count retriever) is scored
    against binary relevance labels = membership in the exact SEMANTIC
    top-10 (the integer-dot ground truth). The log2 position discounts
    are HARDCODED half-up ppm constants (1e6/log2(i+1), i = 1..10 — the
    q_benford_digits constant technique), so DCG, the ideal DCG (top
    min(R,10) discounts), NDCG = DCG·1e6 DIV IDCG and
    MRR = 1e6 DIV first-relevant-rank are all pure BIGINT on both
    engines. Output: one row — relevant count, hits@10, first relevant
    rank (0 = none in the top-100), MRR ppm, DCG/IDCG/NDCG ppm.

    Scale: both retrievers end in TakeOrderedAndProject; everything
    after the cuts is ≤100-row arithmetic (the RRF precedent); the
    label join broadcasts a 10-row frame."""
    lex = _rrf_lex_ranked(spark, sf_dir)
    # checkpoint: rel fans into rtot AND the label join — without the cut
    # the corpus-scale semantic scoring pass would run twice (the
    # q_confusion_metrics lesson). The trailing limit is a row-wise
    # no-op (the frame is ≤10 rows by the _rs filter) that restores a
    # GlobalLimit ABOVE the checkpoint cut, so the forced-broadcast
    # sweep can still prove the broadcast side bounded (the checkpoint
    # is a LogicalRDD — lineage-opaque to the labeler).
    rel = checkpoint(
        _rrf_sem_ranked(spark, sf_dir)
        .filter(F.col("_rs") <= _NDCG_K)
        .select("vec_id")
    ).limit(_NDCG_K)
    j = lex.join(
        F.broadcast(rel), lex["doc_id"] == rel["vec_id"], "left"
    ).select(
        "_rl", F.col("vec_id").isNotNull().cast("long").alias("_rel")
    )
    w_case = "CASE _rl " + " ".join(
        f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W)
    ) + " ELSE 0 END"
    idcg_prefix = []
    acc = 0
    for w in _NDCG_W:
        acc += w
        idcg_prefix.append(acc)
    idcg_case = "CASE LEAST(f_rel_total, 10) " + " ".join(
        f"WHEN {i + 1} THEN {p}" for i, p in enumerate(idcg_prefix)
    ) + " ELSE 0 END"
    rtot = rel.agg(F.count("*").cast("long").alias("f_rel_total"))
    agg = j.agg(
        F.sum(
            F.expr(f"CASE WHEN _rel = 1 AND _rl <= {_NDCG_K}"
                   " THEN 1 ELSE 0 END")
        ).cast("long").alias("f_hits_at10"),
        F.coalesce(
            F.min(F.when(F.col("_rel") == 1, F.col("_rl"))), F.lit(0)
        ).cast("long").alias("f_first_rel_rank"),
        F.sum(
            F.expr(f"CASE WHEN _rel = 1 THEN {w_case} ELSE 0 END")
        ).cast("long").alias("f_dcg_ppm"),
    )
    return agg.crossJoin(F.broadcast(rtot)).select(
        "f_rel_total",
        "f_hits_at10",
        "f_first_rel_rank",
        F.expr(
            "CAST(CASE WHEN f_first_rel_rank = 0 THEN 0"
            " ELSE 1000000 DIV f_first_rel_rank END AS BIGINT)"
        ).alias("f_mrr_ppm"),
        "f_dcg_ppm",
        F.expr(f"CAST({idcg_case} AS BIGINT)").alias("f_idcg_ppm"),
        F.expr(
            f"CAST(f_dcg_ppm * 1000000"
            f" DIV GREATEST({idcg_case}, 1) AS BIGINT)"
        ).alias("f_ndcg_ppm"),
    )


_NDCG_W_CASE_SQL = "CASE _rl " + " ".join(
    f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W)
) + " ELSE 0 END"
_NDCG_IDCG_CASE_SQL = "CASE LEAST(f_rel_total, 10) " + " ".join(
    f"WHEN {i + 1} THEN {p}"
    for i, p in enumerate(
        [sum(_NDCG_W[: i + 1]) for i in range(len(_NDCG_W))]
    )
) + " ELSE 0 END"

ORACLE["q_ndcg_mrr"] = f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') AS t
        FROM documents WHERE doc_id <> {_QUERY_ID}
    ),
    lexs AS (
        SELECT doc_id,
               CAST({' + '.join(
                   f"len(list_filter(t, x -> x = '{t}'))"
                   for t in _RRF_TERMS
               )} AS BIGINT) AS _lscore
        FROM toks
    ),
    lex_top AS (
        SELECT doc_id, _lscore FROM lexs WHERE _lscore > 0
        ORDER BY _lscore DESC, doc_id ASC LIMIT {_RRF_TOPC}
    ),
    lex AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY _lscore DESC, doc_id ASC) AS BIGINT) AS _rl
        FROM lex_top
    ),
    micro AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                        AS BIGINT)) AS m
        FROM embeddings
    ),
    el AS (
        SELECT vec_id, generate_subscripts(m, 1) AS i, unnest(m) AS x
        FROM micro WHERE vec_id <> {_QUERY_ID}
    ),
    qel AS (
        SELECT generate_subscripts(m, 1) AS i, unnest(m) AS qx
        FROM micro WHERE vec_id = {_QUERY_ID}
    ),
    rel AS (
        SELECT vec_id FROM (
            SELECT el.vec_id,
                   CAST(SUM(el.x * qel.qx) AS BIGINT) AS _sscore
            FROM el JOIN qel ON el.i = qel.i
            GROUP BY el.vec_id
        ) ORDER BY _sscore DESC, vec_id ASC LIMIT {_NDCG_K}
    ),
    rtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS f_rel_total FROM rel),
    j AS (
        SELECT lex._rl,
               CASE WHEN rel.vec_id IS NOT NULL THEN 1 ELSE 0 END AS _rel
        FROM lex LEFT JOIN rel ON lex.doc_id = rel.vec_id
    ),
    agg AS (
        SELECT CAST(SUM(CASE WHEN _rel = 1 AND _rl <= {_NDCG_K}
                        THEN 1 ELSE 0 END) AS BIGINT) AS f_hits_at10,
               CAST(COALESCE(MIN(CASE WHEN _rel = 1 THEN _rl END), 0)
                    AS BIGINT) AS f_first_rel_rank,
               CAST(SUM(CASE WHEN _rel = 1 THEN {_NDCG_W_CASE_SQL}
                        ELSE 0 END) AS BIGINT) AS f_dcg_ppm
        FROM j
    )
    SELECT f_rel_total, f_hits_at10, f_first_rel_rank,
           CAST(CASE WHEN f_first_rel_rank = 0 THEN 0
                ELSE 1000000 // f_first_rel_rank END AS BIGINT) AS f_mrr_ppm,
           f_dcg_ppm,
           CAST({_NDCG_IDCG_CASE_SQL} AS BIGINT) AS f_idcg_ppm,
           CAST(f_dcg_ppm * 1000000
                // GREATEST({_NDCG_IDCG_CASE_SQL}, 1) AS BIGINT)
               AS f_ndcg_ppm
    FROM agg CROSS JOIN rtot
"""
QUERIES["q_ndcg_mrr"] = q_ndcg_mrr


# ---------------------------------------------------------------------------
# Per-label precision / recall / F1 off the centroid classifier
# ---------------------------------------------------------------------------


def q_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label PRECISION / RECALL / F1 in exact ppm, ORACLE-GATED —
    the metric rollup every eval pipeline derives from a confusion
    matrix, computed off q_centroid_classify's (true, pred, n) cells:
    tp / (tp+fp), tp / (tp+fn), 2·tp / (2·tp+fp+fn), all integer DIV
    with GREATEST(·,1) denominator guards (DuckDB hard-errors on
    integer ÷0 where Spark nulls — the CLAUDE.md class-mix invariant).
    Completes the eval family beside q_auc_mann_whitney (ranking),
    q_calibration_bins (probability), q_ann_recall (retrieval).

    Scale: the confusion matrix is L×L-bounded BY CONSTRUCTION; both
    marginals and the metric arithmetic are matrix-sized — the corpus
    cost is q_centroid_classify's (one broadcast-join scoring pass)."""
    # checkpoint: the L×L confusion frame fans into both marginals below —
    # without the lineage cut the corpus-scale centroid-scoring pass
    # (the only data-proportional stage) would execute per reference
    # (VERDICT-r11 weak #1: 18 shuffles where ~8 suffice). Both
    # marginals + the diagonal ride ONE union-then-aggregate over the
    # matrix-sized frame (2·L² rows) — no joins at all.
    cm = checkpoint(
        q_centroid_classify(spark, sf_dir).select("f_true", "f_pred", "f_n")
    )
    diag = F.col("f_true") == F.col("f_pred")
    contrib = cm.select(
        F.col("f_true").alias("f_label"),
        F.col("f_n").alias("_t"),
        F.lit(0).cast("long").alias("_p"),
        F.when(diag, F.col("f_n")).otherwise(0).alias("_tp"),
    ).unionAll(
        cm.select(
            F.col("f_pred").alias("f_label"),
            F.lit(0).cast("long").alias("_t"),
            F.col("f_n").alias("_p"),
            F.lit(0).cast("long").alias("_tp"),
        )
    )
    out = (
        contrib.groupBy("f_label")
        .agg(
            F.sum("_t").cast("long").alias("_t"),
            F.sum("_p").cast("long").alias("_p"),
            F.sum("_tp").cast("long").alias("_tp"),
        )
        # every TRUE label has a cm row (the classifier emits one per
        # observed (true, pred) cell), so filtering to _t > 0 keeps the
        # oracle's tm-driven label set: labels only ever PREDICTED
        # (zero support) are not rows there either
        .filter(F.col("_t") > 0)
        .select(
            "f_label",
            F.col("_tp").alias("f_tp"),
            (F.col("_p") - F.col("_tp")).cast("long").alias("f_fp"),
            (F.col("_t") - F.col("_tp")).cast("long").alias("f_fn"),
        )
    )
    return out.select(
        "f_label",
        "f_tp",
        "f_fp",
        "f_fn",
        F.expr(
            "CAST(f_tp * 1000000 DIV GREATEST(f_tp + f_fp, 1) AS BIGINT)"
        ).alias("f_precision_ppm"),
        F.expr(
            "CAST(f_tp * 1000000 DIV GREATEST(f_tp + f_fn, 1) AS BIGINT)"
        ).alias("f_recall_ppm"),
        F.expr(
            "CAST(2 * f_tp * 1000000"
            " DIV GREATEST(2 * f_tp + f_fp + f_fn, 1) AS BIGINT)"
        ).alias("f_f1_ppm"),
    )


ORACLE["q_confusion_metrics"] = f"""
    WITH cm AS ({ORACLE["q_centroid_classify"]}),
    tp AS (
        SELECT f_true AS f_label, f_n AS _tp FROM cm WHERE f_true = f_pred
    ),
    tm AS (SELECT f_true AS f_label, CAST(SUM(f_n) AS BIGINT) AS _t
           FROM cm GROUP BY f_true),
    pm AS (SELECT f_pred AS f_label, CAST(SUM(f_n) AS BIGINT) AS _p
           FROM cm GROUP BY f_pred),
    cells AS (
        SELECT tm.f_label,
               CAST(COALESCE(tp._tp, 0) AS BIGINT) AS f_tp,
               CAST(COALESCE(pm._p, 0) - COALESCE(tp._tp, 0) AS BIGINT)
                   AS f_fp,
               CAST(tm._t - COALESCE(tp._tp, 0) AS BIGINT) AS f_fn
        FROM tm
        LEFT JOIN pm ON tm.f_label = pm.f_label
        LEFT JOIN tp ON tm.f_label = tp.f_label
    )
    SELECT f_label, f_tp, f_fp, f_fn,
           CAST(f_tp * 1000000 // GREATEST(f_tp + f_fp, 1) AS BIGINT)
               AS f_precision_ppm,
           CAST(f_tp * 1000000 // GREATEST(f_tp + f_fn, 1) AS BIGINT)
               AS f_recall_ppm,
           CAST(2 * f_tp * 1000000
                // GREATEST(2 * f_tp + f_fp + f_fn, 1) AS BIGINT)
               AS f_f1_ppm
    FROM cells
"""
QUERIES["q_confusion_metrics"] = q_confusion_metrics


# ---------------------------------------------------------------------------
# Banded-LSH recall pin (VERDICT r12 next #6 — the q_ann_recall treatment
# for the random-hyperplane LSH path)
# ---------------------------------------------------------------------------

_LSHP_BITS = 16
_LSHP_BAND_BITS = 4
_LSHP_DIM = 64
_LSHP_TOPK = 10


def _lsh_portable_consts() -> tuple[
    list[tuple[int, int, int]], list[tuple[int, int]], int,
    list[tuple[int, int]],
]:
    """(hyperplane rows (bit, d, h), query rows (d, q), ‖q‖², query band
    signatures (band, sig)) — ALL md5-derived integers in micro-units,
    generated once in Python and injected as LITERALS into BOTH engines
    (the _ivf_portable_consts pattern; the reference treats index
    parameters as build-time state the same way). The query's band
    signatures are plain integer arithmetic on the same literals, so no
    engine-specific RNG or float exists anywhere in the pipeline.

    Bounds: |x_µ| ≤ 6·10⁵ (embedding coords ∈ [−0.6, 0.6]), |h| ≤
    2.5·10⁵ → per-bit dot ≤ 64·6·10⁵·2.5·10⁵ ≤ 10¹³ — int64-exact both
    engines; sign bits are therefore IDENTICAL cross-engine, which is
    what makes a banded-LSH candidate set hash-gateable at all."""
    import hashlib

    def h(s: str, mod: int) -> int:
        return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") % mod

    planes = [
        (b, d, h(f"lshh:{b}:{d}", 500001) - 250000)
        for b in range(_LSHP_BITS)
        for d in range(_LSHP_DIM)
    ]
    query = [(d, h(f"lshq:{d}", 500001) - 250000) for d in range(_LSHP_DIM)]
    nq = sum(q * q for _, q in query)
    qv = dict(query)
    qsigs = []
    n_bands = _LSHP_BITS // _LSHP_BAND_BITS
    for band in range(n_bands):
        sig = 0
        for j in range(_LSHP_BAND_BITS):
            bit = band * _LSHP_BAND_BITS + j
            dot = sum(
                qv[d] * hv for bb, d, hv in planes if bb == bit
            )
            sig += (1 if dot >= 0 else 0) << (_LSHP_BAND_BITS - 1 - j)
        qsigs.append((band, sig))
    return planes, query, nq, qsigs


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECALL@10 of the banded random-hyperplane LSH candidate set
    against the exact brute-force top-10, ORACLE-GATED — q_ann_recall's
    treatment applied to the LSH path (q_sim_ann_lsh stays the
    rows-only production twin with data-dependent planes; THIS key pins
    the banded-LSH read semantics — sign bits, band signatures, bucket
    probe, candidate re-rank — under the hash gate). 16 hyperplane bits
    band into 4 bands of 4; a vector is a CANDIDATE iff it collides
    with the query in at least one band (the classic OR-of-ANDs LSH
    amplification); candidates are re-ranked by exact integer cosine
    and the top-10 is compared against the unpruned exact top-10.
    Output: one row (candidate count, hits, recall in ppm).

    Scale (r17 rewrite): the plane and query literals are array-ified
    to ONE broadcast row and both the exact cosine AND the per-band
    signatures are computed ROW-LOCALLY (in-codegen zip_with dots —
    the q_sim_ivf_portable pattern), so the whole frame is ONE scan +
    one cheap lineage cut shared by the exact top-10, the candidate
    filter and the candidate count (the pre-r17 spelling exploded to
    n·64 rows behind THREE localCheckpoints — the r16 weak-key
    suspect — and shuffled two n·bits aggs + a DISTINCT); the band
    probe is an unrolled 4-way OR against the literal query signatures
    (at 100 TB the band signature is the partition key and the probe
    is partition pruning — the IVFIndex.materialize story)."""
    planes, q_rows, nq, qsigs = _lsh_portable_consts()
    n_bands = _LSHP_BITS // _LSHP_BAND_BITS
    bb = _LSHP_BAND_BITS
    e = _emb(spark, sf_dir).filter(F.size("embedding") == _LSHP_DIM)
    base = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x ->"
            " cast(round(cast(x as double) * 1000000.0) as bigint))"
        ).alias("_xq"),
    ).withColumn("_na", F.expr("aggregate(_xq, 0L, (acc, v) -> acc + v * v)"))
    # r18: plane/query nesting computed driver-side into ONE literal row
    # (the _ivf_portable_arrays discipline — identical values, sorted by
    # the same (b, d) keys the old collect_list chains produced)
    hp_nested = [[0] * _LSHP_DIM for _ in range(_LSHP_BITS)]
    for b, d, hv in planes:
        hp_nested[b][d] = hv
    qv_arr = [0] * _LSHP_DIM
    for d, q in q_rows:
        qv_arr[d] = q
    consts = literal_df(
        spark,
        [(hp_nested, qv_arr)],
        "_hp ARRAY<ARRAY<BIGINT>>, _qv ARRAY<BIGINT>",
    )
    cos = F.col("_dot").cast("double") / (
        F.sqrt(F.col("_na").cast("double")) * F.sqrt(F.lit(float(nq)))
    )
    scored = checkpoint(
        base.crossJoin(F.broadcast(consts))
        .withColumn(
            "_dot",
            F.expr(
                "aggregate(zip_with(_xq, _qv, (x, q) ->"
                " coalesce(x * q, cast(0 as bigint))),"
                " cast(0 as bigint), (s, v) -> s + v)"
            ),
        )
        .withColumn(
            "_sigs",
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), band ->"
                f" aggregate(sequence(0, {bb - 1}), cast(0 as bigint),"
                f" (acc, jj) -> acc + IF("
                f"  aggregate(zip_with(_xq,"
                f"   element_at(_hp, band * {bb} + jj + 1),"
                f"   (x, h) -> coalesce(x * h, cast(0 as bigint))),"
                f"   cast(0 as bigint), (s, v) -> s + v) >= 0,"
                f"  shiftleft(cast(1 as bigint), {bb - 1} - jj),"
                f"  cast(0 as bigint))))"
            ),
        )
        .select(
            "vec_id",
            (F.floor(cos * 1000000 + F.lit(0.5)) / 1000000.0).alias("_cos"),
            "_sigs",
        )
    )
    exact = (
        scored.orderBy(F.col("_cos").desc(), F.col("vec_id").asc())
        .limit(_LSHP_TOPK)
        .select("vec_id")
    )
    # candidate iff ANY band signature equals the query's (OR-of-ANDs)
    probe_cond = None
    for band, sig in qsigs:
        c = F.expr(f"element_at(_sigs, {band + 1}) = {sig}L")
        probe_cond = c if probe_cond is None else (probe_cond | c)
    cand = scored.filter(probe_cond)
    lsh_top = (
        cand.orderBy(F.col("_cos").desc(), F.col("vec_id").asc())
        .limit(_LSHP_TOPK)
        .select("vec_id")
    )
    n_cand = cand.agg(F.count("*").cast("long").alias("f_candidates"))
    hits = lsh_top.join(exact, "vec_id").agg(
        F.count("*").cast("long").alias("f_hits")
    )
    return n_cand.crossJoin(F.broadcast(hits)).select(
        "f_candidates",
        "f_hits",
        F.expr(
            f"CAST(f_hits * 1000000 DIV {_LSHP_TOPK} AS BIGINT)"
        ).alias("f_recall_ppm"),
    )


def _lsh_recall_oracle() -> str:
    planes, q_rows, nq, qsigs = _lsh_portable_consts()
    h_vals = ", ".join(f"({b}, {d}, {hv})" for b, d, hv in planes)
    q_vals = ", ".join(f"({d}, {q})" for d, q in q_rows)
    s_vals = ", ".join(f"({band}, {sig})" for band, sig in qsigs)
    bb = _LSHP_BAND_BITS
    return f"""
    WITH hp(b, d, hv) AS (VALUES {h_vals}),
    q(d, qv) AS (VALUES {q_vals}),
    qsig(qband, qsig) AS (VALUES {s_vals}),
    base AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                   CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS xq
        FROM embeddings WHERE len(embedding) = {_LSHP_DIM}
    ),
    el AS (
        SELECT vec_id,
               generate_subscripts(xq, 1) - 1 AS d,
               unnest(xq) AS x
        FROM base
    ),
    na AS (
        SELECT vec_id, CAST(SUM(x * x) AS BIGINT) AS na
        FROM el GROUP BY vec_id
    ),
    dots AS (
        SELECT el.vec_id, CAST(SUM(el.x * q.qv) AS BIGINT) AS dot
        FROM el JOIN q ON el.d = q.d GROUP BY el.vec_id
    ),
    scored AS (
        SELECT dots.vec_id,
               FLOOR(CAST(dots.dot AS DOUBLE)
                     / (sqrt(CAST(na.na AS DOUBLE))
                        * sqrt(CAST({nq} AS DOUBLE)))
                     * 1000000 + 0.5) / 1000000.0 AS _cos
        FROM dots JOIN na ON dots.vec_id = na.vec_id
    ),
    exact AS (
        SELECT vec_id FROM scored
        ORDER BY _cos DESC, vec_id ASC LIMIT {_LSHP_TOPK}
    ),
    bits AS (
        SELECT el.vec_id, hp.b, CAST(SUM(el.x * hp.hv) AS BIGINT) AS hd
        FROM el JOIN hp ON el.d = hp.d
        GROUP BY el.vec_id, hp.b
    ),
    sigs AS (
        SELECT vec_id, b // {bb} AS _band,
               CAST(SUM(CASE WHEN hd >= 0
                        THEN (1 << ({bb - 1} - (b % {bb}))) ELSE 0 END)
                    AS BIGINT) AS _sig
        FROM bits GROUP BY vec_id, b // {bb}
    ),
    cand AS (
        SELECT DISTINCT vec_id
        FROM sigs JOIN qsig
          ON sigs._band = qsig.qband AND sigs._sig = qsig.qsig
    ),
    lsh_top AS (
        SELECT cand.vec_id FROM cand JOIN scored ON cand.vec_id = scored.vec_id
        ORDER BY scored._cos DESC, cand.vec_id ASC LIMIT {_LSHP_TOPK}
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS f_candidates,
           CAST(COUNT(*) AS BIGINT) AS f_hits,
           CAST(CAST(COUNT(*) AS BIGINT) * 1000000
                // {_LSHP_TOPK} AS BIGINT) AS f_recall_ppm
    FROM lsh_top JOIN exact ON lsh_top.vec_id = exact.vec_id
"""


QUERIES["q_lsh_recall"] = q_lsh_recall
ORACLE["q_lsh_recall"] = _lsh_recall_oracle()
