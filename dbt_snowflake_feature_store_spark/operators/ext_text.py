"""EXT text-pipeline queries over the ``documents`` table (SURVEY.md §2.E).

Deduplication, text analysis, search, fingerprinting — the LLM-data-
pipeline operators mandated by BASELINE.json's north star. Implementations
live in ``functions/text.py`` (native exprs); this module wraps them as
oracle-gated query keys. Approximate ops (MinHash near-dup, SimHash)
declare no oracle → driver records rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..functions.literal import literal_df
from ..plans.inspect import checkpoint
from ..sources.tables import read_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def _sqrt_micro(c) -> F.Column:
    """Portable sqrt in integer micro-units: floor(sqrt(x)·1e6 + 0.5) as
    BIGINT. sqrt is IEEE-correctly-rounded on both engines and half-up
    floor is the cross-engine rounding invariant, so the value is
    bit-identical everywhere — unlike a double→DECIMAL cast, which is an
    engine-version-sensitive rounding op (the r5 driver-RED on
    q_sample_temperature). Shared by q_sample_temperature and
    q_sample_to_mix; SQL twin: _SQRT_MICRO_SQL."""
    return F.floor(F.sqrt(c.cast("double")) * 1000000 + F.lit(0.5)).cast(
        "long"
    )


_SQRT_MICRO_SQL = (
    "CAST(FLOOR(sqrt(CAST({x} AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content hash, keep smallest doc_id.
    One skew-free shuffle on the content hash."""
    return TXT.dedup_exact(_docs(spark, sf_dir), "text", "doc_id")


def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via MinHash+LSH banding (approx → rows-only check).
    Deterministic: xxhash64 with fixed seeds."""
    return TXT.dedup_near_minhash(
        _docs(spark, sf_dir), "text", "doc_id", shingle_k=3, num_hashes=32,
        bands=8, jaccard_threshold=0.5,
    )


def q_dedup_near_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs, oracle-gated: identical pipeline to
    q_dedup_near (shingle → 32-permutation minhash → 8-band fold →
    bucket self-join) but with portable md5-derived hashes and mod-
    (2^61−1) affine permutations that DuckDB replays exactly — the
    minhash/banding LOGIC gets a hash-checked record while the
    production key keeps the fast xxhash64/Arrow path. Served from the
    session-scoped _portable_pairs cache shared with the cluster keys."""
    return _portable_pairs(spark, sf_dir)


_PAIR_CACHE: dict[tuple[str, str], DataFrame] = {}


def _portable_pairs(
    spark: SparkSession, sf_dir: str, ids_only: bool = False
) -> DataFrame:
    """The portable MinHash candidate-pair frame (shingle_k=3,
    num_hashes=32, bands=8; columns id_a, id_b, f_n_bands), lazily
    localCheckpointed and MEMOIZED per (SparkSession, sf_dir):
    q_dedup_near_portable, q_dedup_clusters and q_corpus_dedup_stats
    consume the identical pair definition, so within one session (the
    driver's, bench's) the band stage runs once — the ``pairs=``
    injection seam of ``corpus_dedup`` made automatic. Keyed on the
    application id so a restarted session never sees a stale frame;
    entries from DEAD applications are evicted on every lookup, so the
    cache holds at most the live application's frames for the life of
    the process. Caveat (documented contract): the documents table at
    ``sf_dir`` is assumed immutable within one Spark application — an
    in-session rewrite requires a new session (or clearing the cache);
    the test corpora and the driver's tables never rewrite in-session."""
    app_id = spark.sparkContext.applicationId
    for k in [k for k in _PAIR_CACHE if k[0] != app_id]:
        del _PAIR_CACHE[k]
    key = (app_id, sf_dir)
    df = _PAIR_CACHE.get(key)
    if df is None:
        df = TXT.dedup_near_minhash_portable(
            _docs(spark, sf_dir), "text", "doc_id", shingle_k=3,
            num_hashes=32, bands=8,
        ).localCheckpoint(eager=False)
        _PAIR_CACHE[key] = df
    return df.select("id_a", "id_b") if ids_only else df


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: portable MinHash candidate pairs → connected
    components (iterative min-label propagation, functions/graph.py) →
    (doc_id, cluster = min doc_id in component, cluster size). The stage
    a dedup pipeline runs after pairs — keep min(doc_id) per cluster,
    drop the rest. Oracle-gated: the unique fixed point of min-label
    propagation lets a DuckDB recursive CTE verify the clustering.
    Pair frame shared with q_corpus_dedup_stats via _portable_pairs."""

    from ..functions.graph import connected_components

    edges = _portable_pairs(spark, sf_dir, ids_only=True)
    cc = connected_components(edges, "id_a", "id_b")
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("f_cluster"),
        F.count("*")
        .over(Window.partitionBy("label"))
        .cast("long")
        .alias("f_cluster_size"),
    )


def q_corpus_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END dedup accounting — the number a corpus owner actually
    asks for: per language, how many docs/tokens survive (1) exact
    dedup (keep min doc_id per normalized-content hash) and (2)
    near-dup cluster collapse (keep only each connected component's
    min-id representative, clusters from the portable MinHash pairs).
    Composes ``functions.text.corpus_dedup`` (the public keep-set API:
    dedup_exact + connected_components); both stages already
    oracle-gated standalone (q_dedup_exact, q_dedup_clusters), this key
    hash-checks their COMPOSITION. Two semi/anti joins against small
    id-sets, one agg on the tiny lang key. The MinHash pair stage is
    injected via corpus_dedup's ``pairs=`` seam from the _portable_pairs
    session cache — shared with q_dedup_clusters, computed once."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", "text",
        TXT.ws_token_count(F.col("text")).alias("_n_toks"),
    )
    kept = TXT.corpus_dedup(
        d, "text", "doc_id", pairs=_portable_pairs(spark, sf_dir, ids_only=True),
    ).select("doc_id", F.lit(1).alias("_kept"))
    return (
        d.join(kept.select("doc_id", "_kept"), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("f_docs_total"),
            F.sum(F.coalesce(F.col("_kept"), F.lit(0)))
            .cast("long")
            .alias("f_docs_kept"),
            F.sum(
                F.when(F.col("_kept").isNotNull(), F.col("_n_toks")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("f_tokens_kept"),
        )
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (Pandas-UDF path → rows-only check)."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", TXT.simhash64(F.col("text")).alias("f_simhash"))


def q_dedup_ngram(
    spark: SparkSession,
    sf_dir: str,
    max_block_size: int = 64,
    log_dropped: bool = False,
) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs with length-bucket
    blocking — the oracle-checkable exact counterpart of q_dedup_near
    (which approximates the same Jaccard via MinHash banding).

    Candidate pairs are blocked on (lang, n_chars // 16): near-dups have
    near-identical lengths, so the block rarely splits a true pair, and
    the self-join is O(Σ block²), never O(n²). Per pair we compute ONE
    array_intersect; the union size is |A| + |B| − |A∩B| from the
    materialized per-doc sizes (half the set-op cost of intersect+union).
    An inverted-index (explode + pair-count) variant was measured 5×
    SLOWER at sf0.1 — stopword shingles make the exploded join key
    badly skewed — so the dense pair form stays; at 100 TB the
    MinHash-LSH path (q_dedup_near) generates the candidates instead and
    this key is the exact-verify stage both pipelines share. Shingle
    arrays are materialized columns before the lambda (HOF re-evaluation
    rule), distinct so the intersection is a set op.

    ``max_block_size`` is the quadratic-blowup guard (same policy as
    ``cosine_pairs_lsh``): a block larger than the cap — a dedup-heavy
    boilerplate corpus where everything has ~the same length — is
    EXCLUDED from the self-join via a broadcast semi-filter on the
    block-size count, so Σ block² is bounded by cap·n instead of n².
    Over-cap blocks are near-identical-length clusters; exact-hash or
    MinHash dedup handles them, and the SAME cap is replayed in the
    DuckDB oracle (HAVING COUNT(*) <= cap), so the guard itself is
    hash-checked. ``log_dropped`` reports excluded blocks/rows."""
    return ngram_jaccard_pairs(
        _docs(spark, sf_dir),
        max_block_size=max_block_size,
        log_dropped=log_dropped,
    )


def ngram_jaccard_pairs(
    d: DataFrame,
    threshold: float = 0.5,
    max_block_size: int | None = 64,
    log_dropped: bool = False,
) -> DataFrame:
    """The q_dedup_ngram pipeline over an arbitrary documents frame
    (columns: doc_id, lang, n_chars, text) — exposed so skew tests and
    store-facing recipes can run it on synthetic corpora."""
    agg = _ngram_blocked_pairs(d, max_block_size, log_dropped)
    return agg.select(
        "doc_id_a",
        "doc_id_b",
        (
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        ).alias("f_jaccard"),
    ).filter(F.col("f_jaccard") >= threshold)


def _ngram_blocked_pairs(
    d: DataFrame,
    max_block_size: int | None = 64,
    log_dropped: bool = False,
) -> DataFrame:
    """Shared candidate-pair stage of the exact-shingle dedup family:
    word-3-gram sets, (lang, length-bucket) blocking with the over-cap
    guard, one array_intersect per pair above a pair-keyed aggregation
    barrier. Returns (doc_id_a, doc_id_b, n_a, n_b, n_common); the
    Jaccard (q_dedup_ngram) and containment (q_contain_ngram) scorers
    are projections over this frame."""
    toks = d.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 16).cast("int").alias("bucket"),
        F.filter(
            F.split(
                F.lower(F.regexp_replace("text", "[^a-zA-Z0-9 ]", " ")), " +"
            ),
            lambda x: x != "",
        ).alias("toks"),
    )
    # shingles are HASHED to int64 at construction: the per-pair
    # array_intersect inner loop then compares/hashes longs instead of
    # strings (measured 3.4 -> 2.1 s at sf0.1, identical pairs;
    # collision odds ~k²/2⁶⁵ per pair — below any practical concern and
    # below the engines' float-rounding agreement threshold), and the
    # per-doc array_distinct also runs on longs
    # r18: the <3-token gate rides as an explode of a GUARDED 1-element
    # array (empty -> the row is dropped by the Generate, exactly like
    # the old filter(size(toks) >= 3)). A standalone filter is
    # predicate-pushed below the toks Project and re-evaluates the
    # regexp+split+HOF tokenize per row on BOTH self-join legs
    # (plan-verified); a Generate is a pushdown barrier and its complex
    # input infers no filter. toks stays a materialized attribute (HOF
    # lambda rule), read free inside the guard.
    sh = toks.select(
        "doc_id",
        "lang",
        "bucket",
        F.explode(
            F.expr(
                "IF(size(toks) >= 3,"
                " array(array_distinct(transform(sequence(0, size(toks) - 3),"
                " i -> xxhash64(concat(toks[i], ' ', toks[i + 1], ' ',"
                " toks[i + 2]))))),"
                " array())"
            )
        ).alias("sh"),
    )
    sh = sh.withColumn("n", F.size("sh"))
    if max_block_size is not None:
        if log_dropped:
            import logging

            sizes = sh.groupBy("lang", "bucket").agg(
                F.count("*").alias("_blk_n")
            )
            dropped = (
                sizes.filter(F.col("_blk_n") > max_block_size)
                .agg(
                    F.count("*").alias("b"),
                    F.coalesce(F.sum("_blk_n"), F.lit(0)).alias("r"),
                )
                .collect()[0]
            )
            logging.getLogger(__name__).warning(
                "q_dedup_ngram: dropping %d over-cap blocks (%d rows, cap=%d)",
                dropped["b"], dropped["r"], max_block_size,
            )
        # r17: the block-size gate is a count window over the SAME
        # (lang, bucket) exchange the self-join shuffles on (both join
        # legs become ReusedExchange reads), replacing the separate
        # sizes agg + broadcast join — the shingle build now executes
        # once instead of three times (q_dedup_edit got the same
        # treatment). Identical surviving blocks.

        sh = (
            sh.withColumn(
                "_blk_n",
                F.count("*").over(Window.partitionBy("lang", "bucket")),
            )
            .filter(F.col("_blk_n") <= max_block_size)
            .drop("_blk_n")
        )
    a = sh.alias("a")
    b = sh.alias("b")
    # Join condition stays CHEAP (equi keys + id order only). The
    # intersect happens ONCE per candidate pair in the projection; the
    # Jaccard threshold is applied above a pair-keyed aggregation
    # barrier — without it Catalyst substitutes the filter back into the
    # join condition, evaluating array_intersect 3× per key-matching
    # pair (measured 6× slower). The barrier shuffle carries only ids +
    # three ints.
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_id_a"),
        F.col("b.doc_id").alias("doc_id_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.size(F.array_intersect("a.sh", "b.sh")).alias("n_common"),
    )
    return pairs.groupBy("doc_id_a", "doc_id_b").agg(
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
        F.first("n_common").alias("n_common"),
    )


_CONTAIN_PPM = 600_000  # keep pairs where >=60% of the smaller set is shared


def q_contain_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SHINGLE-CONTAINMENT pairs, ORACLE-GATED — the asymmetric
    near-dup signal Jaccard misses: a short doc pasted inside a long
    one has tiny Jaccard but containment ~1 (the RefinedWeb/Dolma
    sub-document dedup criterion). Containment = |A∩B| / min(|A|,|B|)
    over the SAME word-3-gram sets, blocking, and over-cap guard as
    q_dedup_ngram (shared ``_ngram_blocked_pairs`` stage — at 100 TB
    both scorers read one candidate-pair materialization). The score
    is integer ppm (BIGINT multiply + DIV), so DuckDB replays it
    bit-for-bit — no IEEE division in the gate.

    Scale: identical to q_dedup_ngram — O(Σ block²) bounded by cap·n
    via the broadcast semi-filter; the scorer is a projection."""
    agg = _ngram_blocked_pairs(_docs(spark, sf_dir), max_block_size=64)
    return (
        agg.select(
            "doc_id_a",
            "doc_id_b",
            F.col("n_a").cast("long").alias("f_na"),
            F.col("n_b").cast("long").alias("f_nb"),
            F.col("n_common").cast("long").alias("f_inter"),
            F.expr(
                "CAST(CAST(n_common AS BIGINT) * 1000000"
                " DIV least(n_a, n_b) AS BIGINT)"
            ).alias("f_cont_ppm"),
        )
        .filter(F.col("f_cont_ppm") >= _CONTAIN_PPM)
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out plumbing (mapInPandas: one media row ->
    duration//step frame rows; stubbed sampler -> rows-only check).
    Per-media frame counts are metadata-driven and deterministic."""
    from ..functions import multimodal as MM

    media = MM.documents_as_media(_docs(spark, sf_dir))
    frames = MM.sample_frames(media, every_ms=100, deterministic_fake=True)
    return frames.groupBy("media_id").agg(
        F.count("*").alias("f_n_frames"),
        F.max("frame_ts_ms").alias("f_last_ts_ms"),
    )


def q_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per language — the corpus n-gram profile used
    for language modeling / contamination scans. Tokens and bigram
    arrays are materialized columns (HOF rule); explode is pipelined, the
    count shuffles on (lang, bigram), the rank window shuffles on the
    tiny lang key. Deterministic rank: count desc, bigram asc."""

    d = _docs(spark, sf_dir)
    toks = d.select(
        "lang", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    )
    # <2-token gate inside the bigram expression (empty array -> explode
    # emits nothing): a standalone filter(size(t) >= 2) is pushed below
    # the Project and re-evaluates the split per row (r18 §4.4 fix)
    grams = toks.select(
        "lang",
        F.explode(
            F.expr(
                "IF(size(t) >= 2,"
                " transform(sequence(0, size(t) - 2),"
                " i -> concat(t[i], ' ', t[i + 1])),"
                " array())"
            )
        ).alias("f_bigram"),
    )
    counts = grams.groupBy("lang", "f_bigram").agg(F.count("*").alias("f_count"))
    w = Window.partitionBy("lang").orderBy(
        F.col("f_count").desc(), F.col("f_bigram").asc()
    )
    return (
        counts.withColumn("f_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("f_rank") <= 5)
        .select("lang", "f_bigram", "f_count", "f_rank")
    )


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/valid/test split (80/10/10) — the
    reproducible-sampling op every training pipeline needs: no rand(),
    no seed files; membership is a pure function of the id so re-runs,
    engines, and backfills agree row-for-row. Knuth multiplicative hash
    mod 1000; per (lang, split) corpus accounting. Single scan + one
    tiny-key shuffle."""
    d = _docs(spark, sf_dir)
    h = ((F.col("doc_id") % 1000) * F.lit(2654435761 % 1000)) % 1000
    split = (
        F.when(h < 800, "train").when(h < 900, "valid").otherwise("test")
    ).alias("f_split")
    return (
        d.select("lang", split, "n_chars")
        .groupBy("lang", "f_split")
        .agg(
            F.count("*").alias("f_docs"),
            F.sum("n_chars").alias("f_chars"),
        )
    )


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-EPOCH shuffle + shard assignment — the
    reproducible data-ordering op a training loader needs: epoch 3's
    order is a pure function of (doc_id, epoch) via the portable md5
    hash, so re-runs, engines, restarts, and elastic re-shards agree
    row-for-row with no RNG state anywhere. Every doc gets its global
    position in the epoch's order (ranks.global_row_number — range
    exchange + parallel per-range sorts, NO single-task sort; the
    machinery q_global_rank pins) and a shard id for an 8-way loader.

    Scale: one range exchange + a bounded P-row collect; the shard id
    is row-local. Re-keying by epoch re-randomizes order BETWEEN epochs
    while each epoch stays internally deterministic — exactly torch
    DataLoader's (seed, epoch) contract, distributed."""
    from ..functions.ranks import global_row_number
    from ..functions.text import portable_hash64

    epoch = 3
    d = _docs(spark, sf_dir).select(
        "doc_id",
        portable_hash64(
            F.concat(F.col("doc_id").cast("string"), F.lit(f":ep{epoch}"))
        ).alias("_h"),
    )
    ranked = global_row_number(d, ["_h", "doc_id"], out_col="f_epoch_pos")
    return ranked.select(
        "doc_id",
        "f_epoch_pos",
        (F.col("_h") % 8).cast("long").alias("f_shard"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: assign docs (ordered by doc_id within a
    language) to fixed 2048-token bins by cumulative token offset — the
    batch-construction op for LLM pretraining shards.

    SHARD-KEYED (the 100 TB shape): packing is inherently sequential in
    the ordering key, so a cumsum window partitioned by ``lang`` alone
    puts an entire stratum's sort + running sum in ONE task. Instead the
    cumsum partitions by ``(lang, doc_id div 256)`` — a deterministic
    shard of the ordering key — so bins never cross shard boundaries and
    every shard packs independently in parallel (the only cost is one
    possibly-underfull final bin per shard, ≤ 2047 tokens of padding per
    256 docs). The emitted pack id is globally unique and deterministic:
    ``shard * 1_000_000 + local_pack`` (a 256-doc shard cannot reach 10⁶
    local bins)."""

    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        "lang",
        F.expr("doc_id div 256").alias("f_shard"),
        TXT.ws_token_count(F.col("text")).alias("n_toks"),
    )
    w = Window.partitionBy("lang", "f_shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = toks.withColumn("cum", F.sum("n_toks").over(w))
    packed = cum.withColumn(
        "f_pack",
        (
            F.col("f_shard") * F.lit(1_000_000)
            + F.expr("(cum - n_toks) div 2048")
        ).cast("long"),
    )
    return packed.groupBy("lang", "f_pack").agg(
        F.count("*").alias("f_docs"),
        F.sum("n_toks").alias("f_tokens"),
        F.min("doc_id").alias("f_first_doc"),
        F.max("doc_id").alias("f_last_doc"),
    )


def q_pack_bfd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing packing stats per language (rows-only by
    design — bin packing is stateful/imperative, no SQL oracle): packs,
    docs, tokens, and padding waste in ppm of bin capacity. The quality
    twin of q_pack_sequences (which is stream CHUNKING — docs straddle
    bin boundaries); tests assert bins respect capacity, determinism,
    and that BFD never needs more bins than a no-split next-fit
    baseline."""
    packed = TXT.pack_sequences_bfd(_docs(spark, sf_dir))
    per_pack = packed.groupBy("lang", "f_pack").agg(
        F.sum("n_toks").alias("_toks"), F.count("*").alias("_docs")
    )
    waste = F.when(
        F.col("_toks") < 2048, F.lit(2048) - F.col("_toks")
    ).otherwise(F.lit(0))
    return per_pack.groupBy("lang").agg(
        F.count("*").cast("long").alias("f_packs"),
        F.sum("_docs").cast("long").alias("f_docs"),
        F.sum("_toks").cast("long").alias("f_tokens"),
        F.floor(
            F.sum(waste).cast("double")
            / (F.count("*") * 2048).cast("double")
            * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("f_waste_ppm"),
    )


def q_pack_bfd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-GATED invariant harness for the BFD packer (r11,
    VERDICT-r10 #6 — the greenable face of the rows-only q_pack_bfd):
    per language, exact doc/token accounting plus a flag that EVERY
    (lang, shard) packing satisfies the capacity bounds —
    ``ceil(Σ min(n_toks, cap) / cap) ≤ packs ≤ docs``. The lower bound
    credits an oversize doc exactly one full bin (BFD gives it a bin
    alone), so the flag is deterministic-true at any SF and DuckDB
    replays it as a literal while the exact doc/token sums hash-gate
    the token accounting. The packer itself (the applyInPandas Arrow
    stage) runs for real to feed the flag."""
    packed = TXT.pack_sequences_bfd(_docs(spark, sf_dir))
    per_shard = packed.groupBy("lang", "f_shard").agg(
        F.countDistinct("f_pack").alias("_packs"),
        F.count("*").alias("_docs"),
        F.sum("n_toks").alias("_toks"),
        F.expr(
            "(sum(least(n_toks, 2048)) + 2047) div 2048"
        ).alias("_lb"),
    )
    return per_shard.groupBy("lang").agg(
        F.sum("_docs").cast("long").alias("f_docs"),
        F.sum("_toks").cast("long").alias("f_tokens"),
        F.min(
            (
                (F.col("_packs") >= F.col("_lb"))
                & (F.col("_packs") <= F.col("_docs"))
            ).cast("int")
        ).cast("int").alias("f_ok"),
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language: doc count, exact avg char/token
    counts. The canonical corpus-accounting scan — single pass, one
    shuffle on the tiny lang key."""
    d = _docs(spark, sf_dir)
    return (
        d.select(
            "lang",
            F.col("n_chars"),
            TXT.ws_token_count(F.col("text")).alias("n_tokens"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("f_docs"),
            F.sum("n_chars").alias("f_total_chars"),
            (F.sum("n_chars").cast("double") / F.count("*")).alias("f_avg_chars"),
            F.sum("n_tokens").alias("f_total_tokens"),
        )
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counting: whitespace + BPE-ish regex pre-tokens."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        TXT.ws_token_count(F.col("text")).alias("f_ws_tokens"),
        TXT.bpe_token_count(F.col("text")).alias("f_bpe_tokens"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features + composite score per document."""
    d = TXT.quality_score(_docs(spark, sf_dir), "text")
    return d.select(
        "doc_id",
        "q_n_chars",
        "q_n_tokens",
        "q_mean_word_len",
        "q_punct_ratio",
        "q_digit_ratio",
        "q_stopword_ratio",
        "q_score",
    )


def q_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword search with occurrence-count relevance, deterministic
    order. The occurrence count is the length-delta formula — identical
    arithmetic in any engine."""
    d = _docs(spark, sf_dir)
    kw = "window"  # no regex metacharacters — contains() is exact
    occurrences = (
        (F.length("text") - F.length(F.regexp_replace("text", kw, "")))
        / len(kw)
    ).cast("long")
    # r18: filter on contains() instead of f_matches > 0 (equivalent for
    # a literal keyword: occurrence count > 0 iff the substring appears;
    # NULL text fails both). The old spelling pushed f_matches below the
    # Project and ran the regexp_replace TWICE per row; contains() is a
    # cheap substring scan at the data filter and the regexp now runs
    # only on matching rows.
    return (
        d.filter(F.col("text").contains(kw) & (F.col("lang") == "en"))
        .withColumn("f_matches", occurrences)
        .select("doc_id", "lang", "f_matches", "n_chars")
    )


def _simhash60_terms(spark_dialect: bool) -> tuple[str, str]:
    """(per-bit sums SQL fragment, signature fold SQL fragment) for the
    60-bit portable SimHash — generated for both engines from one place
    so the bit logic cannot drift. Only the shift spelling differs
    (Spark: shiftright; DuckDB: >>)."""
    def bit(b: int) -> str:
        return f"(shiftright(x, {b}) & 1)" if spark_dialect else f"((x >> {b}) & 1)"

    sums = ", ".join(
        f"SUM(CASE WHEN {bit(b)} = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(60)
    )
    fold = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(60)
    )
    return sums, fold


def q_dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash (Charikar'02), oracle-gated: token hash = portable
    md5-derived 60-bit integer, per-bit ±1 vote sums, bit set where the
    sum is positive — all native JVM exprs (explode + 60 map-side-
    combinable sums + one fold), no Python in the row path; DuckDB
    replays it bit-for-bit. The 64-bit pandas-UDF key (q_dedup_simhash)
    stays as the Arrow-path variant; at 100 TB this native form is the
    one to prefer anyway (whole-stage codegen, partial aggregation)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    # r18: the token array is INLINED into explode() — exploding a
    # materialized _toks ATTRIBUTE made Catalyst's
    # InferFiltersFromGenerate insert `size(_toks) > 0 AND
    # isnotnull(_toks)` below the Generate, and predicate pushdown then
    # inlined the normalize+split chain into that filter: 3 chain
    # evaluations per row instead of 1 (plan-verified). A complex
    # generator input infers no filter; empty/NULL token arrays explode
    # to zero rows either way, so the rows are identical.
    toks = (
        d.select(
            "doc_id",
            F.explode(
                TXT.ws_tokens(TXT.normalized_text(F.col("text")))
            ).alias("_tok"),
        )
        .selectExpr(
            "doc_id",
            "cast(conv(substr(md5(_tok), 1, 15), 16, 10) as bigint) AS x",
        )
    )
    sums, fold = _simhash60_terms(spark_dialect=True)
    toks.createOrReplaceTempView("_simhash_toks")
    return spark.sql(
        f"""
        WITH s AS (
            SELECT doc_id, {sums}
            FROM _simhash_toks
            GROUP BY doc_id
        )
        SELECT doc_id, CAST({fold} AS BIGINT) AS f_simhash60 FROM s
        """
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signal (Gopher-style quality filter): fraction of
    duplicate word-2-grams per document. Row-local HOFs on materialized
    columns — zero shuffle; the ratio is ONE double division (identical
    IEEE result in any engine)."""
    d = (
        _docs(spark, sf_dir)
        .withColumn("_toks", TXT.ws_tokens(TXT.normalized_text(F.col("text"))))
        .withColumn(
            "_grams",
            F.expr(
                "transform(sequence(0, greatest(size(_toks) - 2, 0)),"
                " i -> concat_ws(' ', slice(_toks, i + 1, 2)))"
            ),
        )
    )
    return d.select(
        "doc_id",
        F.expr("cast(size(_grams) as bigint)").alias("f_n_2grams"),
        F.expr(
            "1.0D - cast(size(array_distinct(_grams)) as double)"
            " / cast(size(_grams) as double)"
        ).alias("f_dup_2gram_ratio"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by stopword-profile argmax (deterministic ties)."""
    d = TXT.lang_id(_docs(spark, sf_dir), "text", "f_pred_lang")
    return d.select("doc_id", "lang", "f_pred_lang")


def q_lang_id_conf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID with a confidence margin (best stopword-profile score
    minus runner-up) — the ambiguity signal a multilingual mix pipeline
    uses to drop or re-route mixed-language docs. Integer margins are
    exact in any engine; row-local, zero shuffle."""
    d = TXT.lang_id_confidence(_docs(spark, sf_dir), "text", "f_pred_lang")
    return d.select(
        "doc_id",
        "lang",
        "f_pred_lang",
        F.col("f_pred_lang_margin").alias("f_margin"),
        (F.col("f_pred_lang_margin") >= 2).alias("f_confident"),
    )


def q_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-rarity quality signal (the exact-arithmetic cousin of
    CCNet-style perplexity filtering — log-prob can't be oracle-gated
    because IEEE log isn't correctly-rounded across engines): per doc,
    the mean corpus-wide occurrence count of its tokens. Common-
    vocabulary docs score high, OOV/gibberish docs score low. All
    integer sums (BIGINT both engines), ONE division at the end.

    Scale: the corpus token-frequency dictionary is |vocab| rows —
    ~10M entries even at 100 TB — so the score join BROADCASTS the
    dictionary; the exploded token stream never shuffles on the (badly
    skewed: stopwords) token key."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.explode(TXT.ws_tokens(TXT.normalized_text(F.col("text")))).alias(
            "tok"
        ),
    )
    freq = toks.groupBy("tok").agg(F.count("*").cast("long").alias("tf"))
    return (
        toks.join(F.broadcast(freq), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("f_n_tokens"),
            (F.sum("tf").cast("double") / F.count("*").cast("double")).alias(
                "f_mean_tf"
            ),
        )
    )


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (functions/bpe.py): 20 merges
    learned from the documents corpus — ONE corpus-scale word count,
    then 20 dictionary-sized rounds (pair agg + 1-row argmax + HOF
    merge fold; the driver sees one row per round). The merge table is
    deterministic (count desc, pair asc tiebreak; layout-invariant —
    pytest-pinned vs the hand-computed Sennrich example), but 20
    data-dependent iterations don't fit a SQL replay → rows-only."""
    from ..functions import bpe

    merges = bpe.bpe_train(_docs(spark, sf_dir), num_merges=20)
    return spark.createDataFrame(
        [
            (m["rank"], m["left"], m["right"], m["merged"], m["count"])
            for m in merges
        ],
        "f_rank long, f_left string, f_right string, f_merged string, f_count long",
    )


def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking (size 32, stride 16) — the
    RAG/retrieval prep step (non-overlapping chunk16 is the dedup
    grain; retrieval wants overlap so no span straddles a boundary).
    Row-local HOF transforms, explode pipelined with the scan, zero
    shuffle — embarrassingly parallel at any corpus size. Emits per
    chunk: index, start token offset, length, first/last token."""
    # no size filter (r18): split() never returns an empty array (an
    # empty trimmed text yields [""], size 1 — kept before and after),
    # and a NULL text yields a NULL array that explode already skips,
    # so filter(size(t) > 0) kept no extra rows out while predicate
    # pushdown re-evaluated the split per row below the Project
    d = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    )
    chunks = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 1, 16),"
                " s -> struct(s AS start, slice(t, s + 1, 32) AS c))"
            )
        ).alias("ch"),
    )
    return chunks.select(
        "doc_id",
        (F.col("ch.start") / 16).cast("long").alias("f_idx"),
        F.col("ch.start").cast("long").alias("f_start"),
        F.size("ch.c").cast("long").alias("f_n"),
        F.element_at("ch.c", 1).alias("f_first"),
        F.element_at("ch.c", -1).alias("f_last"),
    )


_NEG_ANCHORS = 32  # fixed anchor-set size — bounded at ANY corpus scale


def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic NEGATIVE SAMPLING for contrastive training
    (embedding-model prep): for each anchor doc (the hash-smallest
    ``_NEG_ANCHORS`` = 32 docs by a portable md5 of the doc id), the
    4 pseudo-random negatives ranked by a portable md5-derived hash of
    the (anchor, candidate) pair — reproducible across runs, engines and
    partitionings, which is what makes a training set auditable (and
    lets DuckDB hash-check the sampler).

    Scale shape (de-weaked r11, VERDICT-r10 #1): the anchor set is a
    FIXED-size hash-smallest-K — ``orderBy(hash).limit(K)`` compiles to
    TakeOrderedAndProject (per-partition top-K, single K-row merge;
    linear, never a global sort), so the broadcast side is K rows at
    any SF — the candidate stream is n·K, linear in the corpus (the
    old ``doc_id % 50`` slice grew with n: n²/50 quadratic). rank ≤ 4
    per anchor gets Spark 4's map-side WindowGroupLimit (losers pruned
    BEFORE the shuffle)."""

    d = _docs(spark, sf_dir).select("doc_id")
    ah = F.expr(
        "cast(conv(substr(md5(concat('a_', cast(doc_id as string))),"
        " 1, 15), 16, 10) as bigint)"
    )
    anchors = (
        d.withColumn("_ah", ah)
        .orderBy(F.col("_ah").asc(), F.col("doc_id").asc())
        .limit(_NEG_ANCHORS)
        .select(F.col("doc_id").alias("f_anchor"))
    )
    pairs = d.crossJoin(F.broadcast(anchors)).filter(
        F.col("doc_id") != F.col("f_anchor")
    )
    h = F.expr(
        "cast(conv(substr(md5(concat(cast(f_anchor as string), '_', "
        "cast(doc_id as string))), 1, 15), 16, 10) as bigint)"
    )
    w = Window.partitionBy("f_anchor").orderBy(
        F.col("f_hash").asc(), F.col("doc_id").asc()
    )
    return (
        pairs.withColumn("f_hash", h)
        .withColumn("f_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("f_rank") <= 4)
        .select("f_anchor", "f_rank", F.col("doc_id").alias("f_negative"), "f_hash")
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc n-gram NOVELTY — the fraction of a document's distinct
    word-3-grams that first appear in that document (corpus order =
    doc_id): the incremental-crawl freshness metric a training-data
    pipeline uses to decide whether a newly scraped doc adds anything
    beyond boilerplate already seen. 1.0 = all-new content; near 0 =
    the doc is stitched from already-crawled phrases. The gram-grain
    complement of q_dedup_chunks' span accounting.

    Scale: per-doc DISTINCT pre-shrinks the exploded gram stream before
    the global first-seen aggregation; the min(doc_id) agg map-side
    combines; the count-back join shuffles on the high-cardinality gram
    key (AQE handles boilerplate skew); the ratio is one final double
    division of exact BIGINTs. Linear in corpus grams, no all-pairs."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    )
    # <3-token gate inside the gram expression (empty array -> explode
    # emits nothing): a standalone filter(size(t) >= 3) is pushed below
    # the Project and re-evaluates the split per row (r18 §4.4 fix)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "IF(size(t) >= 3,"
                " transform(sequence(0, size(t) - 3),"
                " i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2])),"
                " array())"
            )
        ).alias("gram"),
    ).distinct()
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("_first"))
    return (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("f_grams"),
            F.sum(
                F.when(F.col("doc_id") == F.col("_first"), 1).otherwise(0)
            ).cast("long").alias("f_novel"),
        )
        .withColumn(
            "f_novelty",
            F.col("f_novel").cast("double") / F.col("f_grams").cast("double"),
        )
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: the K hash-smallest docs per
    language — the training-mix balancer (equal per-stratum quota, no
    rand(), reproducible across engines/backfills). Knuth multiplicative
    hash orders each stratum; (hash, doc_id) tiebreak makes row_number
    exact.

    TWO-PHASE top-K (the 100 TB shape — a single window partitioned by
    the ~5-value ``lang`` key would sort |corpus|/5 rows in ONE task):

    1. Local phase: every input partition keeps its own K hash-smallest
       rows per stratum — window over ``(lang, spark_partition_id())``,
       a high-cardinality key, so the big sort spreads across ALL tasks
       and each sorts only its slice. The global per-stratum top-K is
       invariant to the partition layout: whatever partition a winner
       sits in, it is also in that partition's local top-K, so phase 1
       always emits a superset (≤ K·P rows/stratum) of the answer.
    2. Merge phase: the exact window over ``lang`` alone runs on that
       K·P-bounded candidate set — single-task per stratum but over at
       most a few thousand rows regardless of corpus size.
    """
    k = 20
    d = _docs(spark, sf_dir)
    h = (
        (F.col("doc_id") % 1000000007) * F.lit(2654435761 % 1000000007)
    ) % 1000000007

    base = d.select("doc_id", "lang", "n_chars", h.alias("f_h")).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("lang", "_pid").orderBy(
        F.col("f_h").asc(), F.col("doc_id").asc()
    )
    cand = (
        base.withColumn("_lr", F.row_number().over(w_local))
        .filter(F.col("_lr") <= k)
    )
    w_merge = Window.partitionBy("lang").orderBy(
        F.col("f_h").asc(), F.col("doc_id").asc()
    )
    return (
        cand.withColumn("f_rank", F.row_number().over(w_merge).cast("long"))
        .filter(F.col("f_rank") <= k)
        .select("lang", "f_rank", "doc_id", "n_chars")
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scan — flag corpus docs sharing any
    normalized word-8-gram with a held-out benchmark set (here the
    deterministic ``doc_id % 10 == 0`` slice stands in for an eval
    suite). The standard pretraining hygiene pass: an eval example
    whose 8-grams appear in training data is contaminated, so the
    training side must be scanned before every run.

    Scale: the benchmark gram set is |bench|·|grams/doc| — dimension-
    sized next to the corpus — so it BROADCASTS into the probe join and
    the corpus gram stream never shuffles on the (skewed) gram key; the
    per-doc count aggregation shuffles only (doc_id, count) pairs. Gram
    arrays are materialized columns (HOF rule) and per-doc distinct, so
    joined rows = distinct shared grams with no dedup pass."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        TXT.ws_tokens(TXT.normalized_text(F.col("text"))).alias("t"),
    )
    # <8-token gate inside the gram expression (empty array -> explode
    # emits nothing): a standalone filter(size(t) >= 8) is pushed below
    # the Project and re-evaluates the normalize+split chain per row
    # (r18 §4.4 fix)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "IF(size(t) >= 8,"
                " array_distinct(transform(sequence(0, size(t) - 8),"
                " i -> array_join(slice(t, i + 1, 8), ' '))),"
                " array())"
            )
        ).alias("gram"),
    )
    bench = grams.filter(F.col("doc_id") % 10 == 0).select("gram").distinct()
    corpus = grams.filter(F.col("doc_id") % 10 != 0)
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("f_shared_grams"))
    )


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII surface scan: per-doc counts of email / IPv4 / phone-shaped
    spans — the redaction-triage pass every corpus release runs. Pure
    native ``regexp_count`` (zero Python in the row path, single scan,
    no shuffle at all before the driver-side collect of results).
    Patterns are deliberately backtracking-free so Java regex (Spark)
    and RE2 (DuckDB) count identically."""
    d = _docs(spark, sf_dir)
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    ipv4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    phone = r"\+?\d[\d -]{7,}\d"
    n_email = F.regexp_count(F.col("text"), F.lit(email)).cast("long")
    n_ip = F.regexp_count(F.col("text"), F.lit(ipv4)).cast("long")
    n_phone = F.regexp_count(F.col("text"), F.lit(phone)).cast("long")
    # r18: f_has_pii derives from the materialized count COLUMNS —
    # re-embedding the three regexp_count trees into the flag doubled
    # every regexp scan per row (6 -> 3, plan-verified)
    per = d.select(
        "doc_id",
        n_email.alias("f_emails"),
        n_ip.alias("f_ipv4"),
        n_phone.alias("f_phones"),
    )
    return per.withColumn(
        "f_has_pii",
        (
            (F.col("f_emails") + F.col("f_ipv4") + F.col("f_phones")) > 0
        ).cast("boolean"),
    )


def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual mix reweighting (α = 0.5, i.e.
    p^α sampling): per-language corpus shares are flattened by taking
    sqrt(doc count) and renormalizing — the standard recipe for keeping
    low-resource languages visible in the training mix. α is pinned at
    0.5 because sqrt is IEEE-correctly-rounded on BOTH engines (pow is
    not), so the weights are bit-reproducible; the sqrt lands in BIGINT
    micro-units via the half-up floor spelling (_sqrt_micro — NO
    double→DECIMAL cast exists anywhere in the query, the r5 failure
    class), the total is an exact BIGINT sum, and the per-million target
    divides the two integers in identical IEEE doubles. One tiny-key
    aggregation + a broadcast scalar join — nothing here grows with
    corpus size except the first count."""
    d = _docs(spark, sf_dir)
    counts = d.groupBy("lang").agg(F.count("*").cast("long").alias("f_docs"))
    w = counts.withColumn("f_sqrt_micro", _sqrt_micro(F.col("f_docs")))
    tot = w.agg(F.sum("f_sqrt_micro").cast("long").alias("_tot"))
    share = F.col("f_sqrt_micro").cast("double") / F.col("_tot").cast("double")
    return w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "f_docs",
        "f_sqrt_micro",
        F.floor(share * 1000000 + F.lit(0.5)).cast("long").alias("f_ppm"),
    )


def q_sample_to_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix ENFORCEMENT: deterministically downsample each language so the
    kept corpus hits the α=0.5 temperature-target shares
    (q_sample_temperature computes the targets; this key applies them).
    Per language: keep rate = K·target/n where K = min over languages of
    n/target — the largest scale at which no language needs upsampling
    (the most-constrained language is kept whole). Membership is the
    Knuth hash of doc_id against a per-language ppm threshold — no
    rand(), reproducible across engines/backfills, and a re-run with a
    bigger budget keeps a SUPERSET of the docs (thresholds only rise).

    Exactness: thresholds derive from integer counts through identical
    IEEE double ops on both engines (division, ×1e6, half-up floor);
    membership is integer arithmetic. The per-language count frame is
    |langs| rows — localCheckpoint materializes it ONCE so the corpus
    is scanned exactly twice (the count pass and the filter pass), not
    once per derived branch (targets/K/thresholds all reuse the tiny
    checkpointed frame — same bounded-scalar pattern as the IVF index
    build); the corpus-side filter join is a broadcast of ~|langs|
    thresholds, row-local."""
    d = _docs(spark, sf_dir)
    counts = (
        d.groupBy("lang")
        .agg(F.count("*").cast("long").alias("f_docs"))
        .localCheckpoint()
    )
    w = counts.withColumn("_sqrt_micro", _sqrt_micro(F.col("f_docs")))
    tot = w.agg(F.sum("_sqrt_micro").cast("long").alias("_tot"))
    share = F.col("_sqrt_micro").cast("double") / F.col("_tot").cast("double")
    targets = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "f_docs",
        F.floor(share * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("f_target_ppm"),
    )
    k = targets.agg(
        F.min(
            F.col("f_docs").cast("double") / F.col("f_target_ppm").cast("double")
        ).alias("_k")
    )
    thr = targets.crossJoin(F.broadcast(k)).select(
        "lang",
        "f_docs",
        "f_target_ppm",
        F.floor(
            F.col("_k")
            * F.col("f_target_ppm").cast("double")
            / F.col("f_docs").cast("double")
            * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("f_threshold"),
    )
    h = ((F.col("doc_id") % 1000000) * F.lit(2654435761 % 1000000)) % 1000000
    kept = (
        d.select("doc_id", "lang", h.alias("_h"))
        .join(F.broadcast(thr), "lang")
        .filter(F.col("_h") < F.col("f_threshold"))
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("f_kept"))
    )
    return thr.join(F.broadcast(kept), "lang", "left").select(
        "lang",
        "f_docs",
        "f_target_ppm",
        "f_threshold",
        F.coalesce(F.col("f_kept"), F.lit(0)).cast("long").alias("f_kept"),
    )


def q_dedup_cross_source(
    spark: SparkSession, sf_dir: str, exact_keys: bool = False
) -> DataFrame:
    """Duplicate PROVENANCE matrix at span grain: for every source pair
    (a < b), how many distinct 16-token normalized chunks appear in
    BOTH — the who-mirrors-whom analysis behind per-domain dedup policy
    (mirrored/boilerplate content double-counts a domain's weight in
    the mix; whole-doc fingerprints miss partial mirroring, which is
    the common case).

    Scale: the self-join is keyed on the chunk (8-byte xxhash64 on the
    Spark side; the oracle replays string identity; ``exact_keys=True``
    joins the strings themselves, pytest-asserted equal) whose groups
    are per-chunk source-cardinality-sized — never a cross product over
    sources or docs; distinct (chunk, source) first shrinks the stream
    to one row per span per source, and a per-chunk source cap (same
    policy as the LSH bucket cap) would bound a pathological universal
    boilerplate chunk — at 20 sources the worst group is 20 rows, so
    no cap is needed until the source count itself is huge."""
    d = _docs(spark, sf_dir).select(
        "source", TXT.normalized_text(F.col("text")).alias("norm")
    )
    toks = d.select("source", F.split("norm", " ").alias("t"))
    key = F.col("chunk") if exact_keys else F.xxhash64("chunk")
    # the empty-doc gate moved ABOVE the explode (r18): filtering
    # length(norm) > 0 below re-evaluated the two-regexp normalize
    # chain per row (predicate pushdown inlines the alias). Exactly the
    # same rows survive: non-empty norm yields only non-empty tokens,
    # so every real chunk is non-empty; an empty norm yields t = [""]
    # and exactly one chunk = '' (dropped here); NULL text yields a
    # NULL array that explode already skips.
    chunks = (
        toks.select(
            "source",
            F.explode(
                F.expr(_CHUNK16_SPARK)
            ).alias("chunk"),
        )
        .filter(F.col("chunk") != "")
        .select("source", key.alias("chunk_h"))
        .distinct()
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_h") == F.col("b.chunk_h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("f_source_a"),
            F.col("b.source").alias("f_source_b"),
        )
        .agg(F.count("*").cast("long").alias("f_shared_chunks"))
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: SHA-256 over normalized text."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", TXT.content_fingerprint(F.col("text")).alias("f_fingerprint")
    )


def q_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint, oracle-gated: the portable md5-derived
    60-bit hash lets DuckDB replay the identical k-gram → window-minima
    → distinct pipeline, so the winnow selection logic itself is
    hash-checked (count + min + max fingerprint per doc). Production
    callers use the xxhash64 default (faster, same logic)."""
    d = TXT.with_winnowing_fingerprint(
        _docs(spark, sf_dir), "text", out_col="_fp", portable=True
    )
    return d.select(
        "doc_id",
        F.size("_fp").cast("long").alias("f_n_fp"),
        F.array_min("_fp").alias("f_min_fp"),
        F.array_max("_fp").alias("f_max_fp"),
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: opaque binary content + typed metadata;
    byte stats need no decode (functions/multimodal.py)."""
    from ..functions import multimodal as MM

    media = MM.documents_as_media(_docs(spark, sf_dir))
    stats = MM.with_content_stats(media)
    return stats.select(
        "media_id",
        F.col("meta.modality").alias("f_modality"),
        "content_bytes",
        F.col("content_sha256").alias("f_sha256"),
    )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL mixed-format image resize end-to-end (round 7 PNG, round 8
    JPEG): documents rendered as genuine 16×16 grayscale payloads (PNG
    even ids / baseline JPEG odd ids), decoded,
    nearest-neighbor-resampled to 32×32 and re-encoded in the SAME
    format by the pure-stdlib codecs (functions/png_codec.py,
    functions/jpeg_codec.py) — strict mode, no fake. mapInPandas over
    Arrow batches, executor-local, partition-preserving. Python
    encoding is nondeterministic-compression territory (zlib level
    choices), so the key stays rows-only; pixel-exactness is
    pytest-gated (tests/test_png_codec.py, tests/test_jpeg_codec.py)."""
    from ..functions import multimodal as MM

    media = MM.documents_as_mixed_media(_docs(spark, sf_dir))
    resized = MM.resize_media(media, 32, 32)
    return resized.groupBy().agg(
        F.count("*").cast("long").alias("f_media"),
        F.sum(F.when(F.col("resized_ok"), 1).otherwise(0))
        .cast("long")
        .alias("f_ok"),
        F.sum(F.octet_length("content")).cast("long").alias("f_bytes"),
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL mixed-format image decode (round 7 PNG, round 8 JPEG):
    documents rendered as genuine 16×16 grayscale payloads — PNG for
    even doc ids, baseline JFIF JPEG for odd — decoded by the
    pure-stdlib codecs (functions/png_codec.py, functions/jpeg_codec.py:
    Huffman + dequant + IDCT). The reported f_width/f_height/f_mean_px
    are actual decoded dimensions and pixel statistics, not metadata
    echoes; one mapInPandas pass handles both formats, the scraped-
    corpus reality. Strict mode — any OTHER format here would raise at
    the codec seam. Stays rows-only: the feature floats come from
    Python-side division; dims/means over a mapInPandas round trip are
    not worth an oracle-side byte-reimplementation (codec correctness
    is pytest-gated: tests/test_png_codec.py pixel-exact,
    tests/test_jpeg_codec.py vs numpy DCT reference + third-party
    fixtures)."""
    from ..functions import multimodal as MM

    media = MM.documents_as_mixed_media(_docs(spark, sf_dir))
    out = MM.decode_and_featurize(media, feat_dim=4)
    return out.select(
        "media_id",
        "modality",
        "decode_ok",
        F.element_at("feat", 1).alias("f_width"),
        F.element_at("feat", 2).alias("f_height"),
        F.element_at("feat", 4).alias("f_mean_px"),
    )


# 16-token non-overlapping chunking of a token-array column ``t`` —
# shared by q_dedup_chunks and q_dedup_cross_source (Spark expr + DuckDB
# oracle twin kept in ONE place so span grain cannot drift between the
# two oracle-gated keys). Spark slice(arr, start, LENGTH) vs DuckDB
# list_slice(l, begin, END-inclusive) — hence the differing indices.
_CHUNK16_SPARK = (
    "transform(sequence(0, (size(t) - 1) div 16),"
    " i -> array_join(slice(t, i * 16 + 1, 16), ' '))"
)
_CHUNK16_DUCK = (
    "list_transform(range(0, (len(t) - 1) // 16 + 1),"
    " i -> array_to_string(list_slice(t, i * 16 + 1, i * 16 + 16), ' '))"
)


def q_dedup_chunks(
    spark: SparkSession, sf_dir: str, exact_keys: bool = False
) -> DataFrame:
    """Span-level dedup accounting (the C4 "three-sentence span" pass at
    chunk grain): split each normalized doc into consecutive 16-token
    chunks and report, per doc, how many of its chunk occurrences are
    globally duplicated (the chunk text appears more than once anywhere
    in the corpus — other docs or repeats within the same doc). The
    boilerplate detector that exact whole-doc dedup misses.

    Scale: chunks shuffle as 8-byte xxhash64 keys, never as the ~100-
    byte chunk strings (the oracle replays string identity — identical
    results absent a 64-bit collision, ~n²/2⁶⁵; ``exact_keys=True``
    shuffles the strings themselves for collision-free accounting,
    pytest-asserted equal on the test corpus); per-(doc, chunk)
    pre-aggregation shrinks the exploded stream before any join; the
    chunk dictionary aggregation is map-side combinable; the count-back
    join shuffles on the high-cardinality hash key (AQE skew split
    handles pathological boilerplate chunks); final agg on doc_id. No
    all-pairs anything — cost is linear in corpus chunks."""
    d = _docs(spark, sf_dir).select(
        "doc_id", TXT.normalized_text(F.col("text")).alias("norm")
    )
    toks = d.select("doc_id", F.split("norm", " ").alias("t"))
    key = F.col("chunk") if exact_keys else F.xxhash64("chunk")
    # empty-doc gate above the explode — same reasoning as
    # q_dedup_cross_source (r18): identical surviving rows, and the
    # normalize chain is no longer re-evaluated by a pushed predicate
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.expr(_CHUNK16_SPARK)
        ).alias("chunk"),
    ).filter(F.col("chunk") != "").select("doc_id", key.alias("chunk_h"))
    per_dc = chunks.groupBy("doc_id", "chunk_h").agg(F.count("*").alias("k"))
    per_c = per_dc.groupBy("chunk_h").agg(F.sum("k").cast("long").alias("n_occ"))
    joined = per_dc.join(per_c, "chunk_h")
    dup_k = F.when(F.col("n_occ") > 1, F.col("k")).otherwise(F.lit(0))
    return joined.groupBy("doc_id").agg(
        F.sum("k").cast("long").alias("f_n_chunks"),
        F.sum(dup_k).cast("long").alias("f_dup_chunks"),
        (
            F.sum(dup_k).cast("double") / F.sum("k").cast("double")
        ).alias("f_dup_ratio"),
    )


def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-style vocabulary construction: the top-100 corpus tokens
    by frequency with deterministic ranks (count desc, token asc),
    per-token ppm and cumulative-coverage ppm — the frequency table a
    BPE/unigram tokenizer trainer starts from, plus the coverage curve
    that picks the vocab size.

    Scale: the token-frequency agg is map-side combinable; top-100 is
    TakeOrderedAndProject (never a global sort of the dictionary); the
    rank/cumsum window runs on the V-bounded result (100 rows) so the
    single-task window is bounded regardless of corpus size; the corpus
    total joins as a broadcast scalar. Although the total is a second
    aggregate over the same token-frequency frame, Spark's exchange
    reuse makes the corpus scan+explode+partial-agg run ONCE
    (ReusedExchange in the executed plan — verified) — the total branch
    reads the shuffle output, not the corpus. ppm uses the half-up floor
    spelling (cross-engine ROUND invariant)."""

    d = _docs(spark, sf_dir)
    toks = d.select(
        F.explode(TXT.ws_tokens(TXT.normalized_text(F.col("text")))).alias(
            "f_token"
        )
    )
    freq = toks.groupBy("f_token").agg(F.count("*").cast("long").alias("f_count"))
    tot = freq.agg(F.sum("f_count").cast("long").alias("_tot"))
    top = freq.orderBy(F.col("f_count").desc(), F.col("f_token").asc()).limit(100)
    w = Window.orderBy(F.col("f_count").desc(), F.col("f_token").asc())
    ranked = (
        top.withColumn("f_rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "_cum",
            F.sum("f_count")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long"),
        )
    )
    ppm = lambda c: F.floor(  # noqa: E731 - local spelling helper
        (c.cast("double") / F.col("_tot").cast("double")) * 1000000 + F.lit(0.5)
    ).cast("long")
    return ranked.crossJoin(F.broadcast(tot)).select(
        "f_rank",
        "f_token",
        "f_count",
        ppm(F.col("f_count")).alias("f_ppm"),
        ppm(F.col("_cum")).alias("f_cum_ppm"),
    )


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source (domain) corpus accounting: docs, token mass, language
    spread, and each source's share of total tokens in ppm — the table a
    data-mix owner balances before training. One agg on the tiny source
    key + a broadcast total scalar; share uses the half-up floor ppm
    spelling."""
    d = _docs(spark, sf_dir).select(
        "source",
        "lang",
        F.length("text").cast("long").alias("n_chars_t"),
        TXT.ws_token_count(F.col("text")).alias("n_toks"),
    )
    per_src = d.groupBy("source").agg(
        F.count("*").cast("long").alias("f_docs"),
        F.sum("n_toks").cast("long").alias("f_tokens"),
        F.countDistinct("lang").cast("long").alias("f_langs"),
        (F.sum("n_chars_t").cast("double") / F.count("*").cast("double")).alias(
            "f_avg_chars"
        ),
    )
    tot = per_src.agg(F.sum("f_tokens").cast("long").alias("_tot"))
    share = F.col("f_tokens").cast("double") / F.col("_tot").cast("double")
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "f_docs",
        "f_tokens",
        "f_langs",
        "f_avg_chars",
        F.floor(share * 1000000 + F.lit(0.5)).cast("long").alias("f_token_ppm"),
    )


def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel accounting: per language, how many docs
    survive each successive gate (length → word count → word shape →
    digit ratio) — the drop-off report a pipeline owner reads before
    loosening or tightening a filter. All gates are native exprs over
    one scan; conditional sums in a single agg on the tiny lang key
    (zero extra shuffles). Gate formulas are shared verbatim with
    q_text_quality so the funnel and the per-doc scores can't drift."""
    # r18: the gate INPUTS are materialized once per row in a Project
    # below the aggregate — inlining the gate formulas straight into the
    # conditional sums re-evaluated the tokenizing ws_token_count 11×
    # per row inside the partial HashAggregate (multi-referenced
    # non-cheap aliases survive cost-aware CollapseProject, so the
    # Project stays). Identical arithmetic, NULL text still fails g1.
    per = _docs(spark, sf_dir).select(
        "lang",
        F.length("text").cast("long").alias("_nc"),
        TXT.ws_token_count(F.col("text")).alias("_nw"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]"), 0))
        .cast("long")
        .alias("_nd"),
    )
    n_chars = F.col("_nc")
    n_words = F.col("_nw")
    mean_wl = (n_chars - n_words + 1).cast("double") / n_words.cast("double")
    digit_ratio = F.col("_nd").cast("double") / n_chars.cast("double")
    g1 = n_chars >= 100
    g2 = g1 & (n_words >= 20)
    g3 = g2 & (mean_wl > 2.0) & (mean_wl < 12.0)
    g4 = g3 & (digit_ratio < 0.2)
    cnt = lambda cond, name: F.sum(  # noqa: E731 - local spelling helper
        F.when(cond, 1).otherwise(0)
    ).cast("long").alias(name)
    return per.groupBy("lang").agg(
        F.count("*").cast("long").alias("f_total"),
        cnt(g1, "f_pass_len"),
        cnt(g2, "f_pass_words"),
        cnt(g3, "f_pass_shape"),
        cnt(g4, "f_pass_all"),
    )


def q_heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable COUNT-MIN frequency sketch over the corpus token
    stream, ORACLE-GATED (functions/sketches.py cm_*): per-SOURCE
    sketches (the per-slice materialization an incremental refresh
    writes) SUM-merged to a global sketch, then the exact top-20 tokens
    probed against it — emitting exact count, CM estimate, and the
    overestimate (≥ 0 always: the one-sided CM guarantee, here
    hash-checked cross-engine rather than merely asserted). md5-derived
    hash rows are the repo's portable spelling, so DuckDB replays the
    build, merge, and probe bit-for-bit.

    Scale: sketch build is one posexplode (D=4× token inflation) + a
    map-side-combinable exchange into ≤ D·W=4096 cells per slice —
    bounded memory at ANY token cardinality (the point of CM: exact
    counts of a 100 TB token stream don't fit; 4096 cells do). The
    probe side broadcasts the ≤4096-row sketch."""
    from ..functions import sketches as SK

    toks = (
        _docs(spark, sf_dir)
        .select(
            "source",
            F.explode(
                TXT.ws_tokens(TXT.normalized_text(F.col("text")))
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    per_source = SK.cm_sketch_by_key(toks, ["source"], "tok")
    merged = SK.cm_rollup(per_source, [])
    exact = toks.groupBy("tok").agg(
        F.count("*").cast("long").alias("f_exact")
    )
    top = exact.orderBy(
        F.col("f_exact").desc(), F.col("tok").asc()
    ).limit(20)
    est = SK.cm_estimate(merged, top.select("tok"), "tok", out_col="f_est")
    return top.join(est, "tok").select(
        "tok",
        "f_exact",
        "f_est",
        (F.col("f_est") - F.col("f_exact")).cast("long").alias("f_over"),
    )


_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)
_WS_COUNT = (
    "CASE WHEN length(trim(text)) = 0 THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"
)

_STOP = "['the','a','an','and','or','of','to','in','is','are','was','were','for','on','with','as','at','by','it','this','that']"


def _langid_oracle(conf: bool = False) -> str:
    from ..functions.text import LANG_PROFILES

    langs = sorted(LANG_PROFILES)
    score_cols = ", ".join(
        "len(list_intersect(toks, ["
        + ",".join(f"'{w}'" for w in LANG_PROFILES[lang])
        + f"])) AS s_{lang}"
        for lang in langs
    )
    greatest = "GREATEST(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = " ".join(f"WHEN s_{lang} = g THEN '{lang}'" for lang in langs)
    arr = "[" + ", ".join(f"s_{lang}" for lang in langs) + "]"
    conf_g = f", list_sort({arr}) AS ls" if conf else ""
    conf_sel = (
        ",\n               CAST(ls[-1] - ls[-2] AS BIGINT) AS f_margin,"
        "\n               (ls[-1] - ls[-2] >= 2) AS f_confident"
        if conf
        else ""
    )
    return f"""
        WITH toksrc AS (
            SELECT doc_id, lang,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
            FROM documents
        ),
        scored AS (SELECT doc_id, lang, {score_cols} FROM toksrc),
        g AS (SELECT *, {greatest} AS g{conf_g} FROM scored)
        SELECT doc_id, lang, CASE {case} END AS f_pred_lang{conf_sel} FROM g
    """


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY per language, ORACLE-GATED (r13) — the
    tokenizer-efficiency audit a multilingual pretraining pipeline
    runs before fixing a vocabulary: BPE-ish pre-tokens per whitespace
    word ("fertility") by language. High-fertility languages are
    under-served by the vocabulary (more tokens per word → fewer words
    per context window, higher training cost per unit text) — this
    table is the evidence a vocab rebalance acts on, the corpus-level
    companion to q_bpe_segment (per-word merges) and q_vocab_coverage
    (OOV mass). Counts reuse the engine's token definitions
    (functions/text.ws_token_count / bpe_token_count — the SAME
    regexes the oracle states); fertility = Σbpe·10⁶ DIV Σws exact
    integers on DECIMAL(38,0)/HUGEINT.

    Scale: one map-side-combinable per-language aggregate over
    row-local regex counts — zero joins, one shuffle onto the language
    domain."""
    from ..functions import text as TXT

    d = _docs(spark, sf_dir).filter(F.col("lang").isNotNull())
    per = d.select(
        F.col("lang").alias("f_lang"),
        TXT.ws_token_count(F.col("text")).alias("_ws"),
        TXT.bpe_token_count(F.col("text")).alias("_bpe"),
    )
    return (
        per.groupBy("f_lang")
        .agg(
            F.count("*").cast("long").alias("f_docs"),
            F.sum("_ws").cast("long").alias("f_ws_tokens"),
            F.sum("_bpe").cast("long").alias("f_bpe_tokens"),
        )
        .select(
            "f_lang",
            "f_docs",
            "f_ws_tokens",
            "f_bpe_tokens",
            F.expr(
                "CAST(CAST(f_bpe_tokens AS DECIMAL(38,0)) * 1000000"
                " DIV GREATEST(f_ws_tokens, 1) AS BIGINT)"
            ).alias("f_fertility_ppm"),
        )
        .orderBy("f_lang")
    )


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLESCH-STYLE READABILITY SCORE per document, ORACLE-GATED (r13)
    — the classic quality-filter feature beside q_text_quality's
    ratio panel and q_lexical_diversity's type/token accounting: a
    reading-ease score from words, sentence terminators and
    vowel-group "syllables", all counted by identical RE2/Java-safe
    regexes both engines (``\\S+`` words, ``[.!?]+`` terminator runs,
    ``[aeiouy]+`` over lowercased text — the standard cheap syllable
    heuristic). The Flesch constants are decimals, so the score rides
    the division-deferral discipline: milli-FRE =
    (206835·S·W − 1015·W² − 84600·Syl·S) DIV (S·W) — every
    intermediate an exact int64 (W ≤ 10⁵/doc ⇒ terms < 10¹⁵), zero
    denominators clamped, truncation-toward-zero identical for the
    legal negative scores. A 4-band CASE gives the label a filter
    pipeline thresholds on.

    Scale: pure row-local string expressions in whole-stage codegen —
    zero shuffles, zero Python; at 100 TB this is a map-only pass."""
    d = _docs(spark, sf_dir)
    w = "CAST(size(regexp_extract_all(text, '\\\\S+', 0)) AS BIGINT)"
    s = (
        "GREATEST(CAST(size(regexp_extract_all(text, '[.!?]+', 0))"
        " AS BIGINT), 1)"
    )
    syl = (
        "CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0))"
        " AS BIGINT)"
    )
    # r18: counts MATERIALIZED once, score and band derived from the
    # columns — textually re-embedding w/s/syl into fre and fre into
    # the band CASE evaluated the three regexp scans ~13× per row in
    # one Project (plan-counted 30 regexp_extract_all). Identical
    # integer arithmetic; the regexps now run once each.
    per = d.select(
        "doc_id",
        F.expr(w).alias("f_words"),
        F.expr(s).alias("f_sents"),
        F.expr(syl).alias("f_syll"),
    )
    fre = (
        "CAST((206835 * f_sents * f_words - 1015 * f_words * f_words"
        " - 84600 * f_syll * f_sents)"
        " DIV GREATEST(f_sents * f_words, 1) AS BIGINT)"
    )
    return per.withColumn("f_fre_milli", F.expr(fre)).withColumn(
        "f_band",
        F.expr(
            "CASE WHEN f_fre_milli >= 90000 THEN 'very_easy'"
            " WHEN f_fre_milli >= 60000 THEN 'standard'"
            " WHEN f_fre_milli >= 30000 THEN 'difficult'"
            " ELSE 'very_difficult' END"
        ),
    )


ORACLE: dict[str, str] = {
    "q_tokenizer_fertility": """
    WITH per AS (
        SELECT lang AS f_lang,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                    END AS BIGINT) AS _ws,
               CAST(len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                   AS _bpe
        FROM documents WHERE lang IS NOT NULL
    )
    SELECT f_lang,
           CAST(COUNT(*) AS BIGINT) AS f_docs,
           CAST(SUM(_ws) AS BIGINT) AS f_ws_tokens,
           CAST(SUM(_bpe) AS BIGINT) AS f_bpe_tokens,
           CAST(CAST(SUM(_bpe) AS HUGEINT) * 1000000
                // GREATEST(CAST(SUM(_ws) AS HUGEINT), 1) AS BIGINT)
               AS f_fertility_ppm
    FROM per
    GROUP BY 1
    ORDER BY f_lang
    """,
    "q_readability": r"""
    WITH c AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
                   AS _w,
               GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+'))
                   AS BIGINT), 1) AS _s,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                   AS BIGINT) AS _syl
        FROM documents
    ),
    f AS (
        SELECT doc_id, _w AS f_words, _s AS f_sents, _syl AS f_syll,
               CAST((206835 * _s * _w - 1015 * _w * _w
                     - 84600 * _syl * _s)
                    // GREATEST(_s * _w, 1) AS BIGINT) AS f_fre_milli
        FROM c
    )
    SELECT doc_id, f_words, f_sents, f_syll, f_fre_milli,
           CASE WHEN f_fre_milli >= 90000 THEN 'very_easy'
                WHEN f_fre_milli >= 60000 THEN 'standard'
                WHEN f_fre_milli >= 30000 THEN 'difficult'
                ELSE 'very_difficult' END AS f_band
    FROM f
    """,
    "q_dedup_exact": f"""
        SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        FROM documents
        GROUP BY {_NORM}
    """,
    "q_text_stats": f"""
        SELECT lang,
               COUNT(*) AS f_docs,
               CAST(SUM(n_chars) AS BIGINT) AS f_total_chars,
               CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS f_avg_chars,
               CAST(SUM({_WS_COUNT}) AS BIGINT) AS f_total_tokens
        FROM documents
        GROUP BY lang
    """,
    "q_token_count": f"""
        SELECT doc_id,
               {_WS_COUNT} AS f_ws_tokens,
               CAST(len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS f_bpe_tokens
        FROM documents
    """,
    "q_text_quality": f"""
        WITH feats AS (
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS q_n_chars,
                   CAST({_WS_COUNT} AS BIGINT) AS q_n_tokens,
                   CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                       / length(text) AS q_punct_ratio,
                   CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                       / length(text) AS q_digit_ratio,
                   CAST(len(list_intersect(
                        regexp_split_to_array(trim(text), '\\s+'), {_STOP}))
                        AS DOUBLE) / ({_WS_COUNT}) AS q_stopword_ratio
            FROM documents
        )
        SELECT doc_id, q_n_chars, q_n_tokens,
               CAST(q_n_chars - q_n_tokens + 1 AS DOUBLE) / q_n_tokens
                   AS q_mean_word_len,
               q_punct_ratio, q_digit_ratio, q_stopword_ratio,
               -- each term cast to DOUBLE so the chain-add is the same
               -- IEEE double sum Spark computes (a DECIMAL sum here would
               -- type-diverge from Spark's double q_score)
               (CASE WHEN q_n_tokens >= 10 AND q_n_tokens <= 100000
                     THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
                + CASE WHEN q_punct_ratio < 0.2 THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END
                + CASE WHEN q_digit_ratio < 0.2 THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END
                + CASE WHEN (CAST(q_n_chars - q_n_tokens + 1 AS DOUBLE)
                             / q_n_tokens) > 2.0
                        AND (CAST(q_n_chars - q_n_tokens + 1 AS DOUBLE)
                             / q_n_tokens) < 12.0
                     THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END) AS q_score
        FROM feats
    """,
    "q_text_search": """
        SELECT doc_id, lang,
               CAST((length(text) - length(replace(text, 'window', ''))) / 6
                    AS BIGINT) AS f_matches,
               n_chars
        FROM documents
        WHERE (length(text) - length(replace(text, 'window', ''))) / 6 > 0
          AND lang = 'en'
    """,
    "q_fingerprint": f"""
        SELECT doc_id, sha256({_NORM}) AS f_fingerprint
        FROM documents
    """,
    "q_dedup_near_portable": TXT.minhash_portable_oracle_sql(
        _NORM, shingle_k=3, num_hashes=32, bands=8
    ),
    # Connected components over the portable MinHash pairs: min-label
    # propagation has a UNIQUE fixed point (component-min id), so the
    # recursive closure here and Spark's iterative propagation must
    # agree exactly.
    "q_dedup_clusters": f"""
        WITH RECURSIVE pairs AS (
            SELECT id_a, id_b FROM (
                {TXT.minhash_portable_oracle_sql(_NORM, 3, 32, 8)}
            ) t
        ),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b AS a, id_a AS b FROM pairs
        ),
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        reach AS (
            SELECT node, node AS label FROM nodes
            UNION
            SELECT e.b AS node, r.label AS label
            FROM reach r JOIN edges e ON r.node = e.a
        ),
        cc AS (
            SELECT node AS doc_id, MIN(label) AS f_cluster
            FROM reach GROUP BY node
        )
        SELECT doc_id, f_cluster,
               CAST(COUNT(*) OVER (PARTITION BY f_cluster) AS BIGINT)
                   AS f_cluster_size
        FROM cc
    """,
    # Winnowing (k=5 token grams, window=4): DuckDB replays the exact
    # pipeline with the same portable md5-derived 60-bit hash. Spark's
    # slice(arr, i+1, k) is (start, LENGTH); DuckDB list_slice is
    # (begin, END) inclusive — hence i+1 .. i+5 / i+1 .. i+4 below.
    "q_fingerprint_winnow": f"""
        WITH toks AS (
            SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
        ),
        kh AS (
            SELECT doc_id,
                   list_transform(
                       range(0, greatest(len(t) - 5, 0) + 1),
                       i -> ('0x' || substr(md5(array_to_string(
                                list_slice(t, i + 1, i + 5), ' ')), 1, 15)
                            )::BIGINT
                   ) AS h
            FROM toks
        ),
        fps AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(0, greatest(len(h) - 4, 0) + 1),
                       i -> list_min(list_slice(h, i + 1, i + 4))
                   )) AS fp
            FROM kh
        )
        SELECT doc_id,
               CAST(len(fp) AS BIGINT) AS f_n_fp,
               list_min(fp) AS f_min_fp,
               list_max(fp) AS f_max_fp
        FROM fps
    """,
    "q_multimodal_meta": """
        SELECT doc_id AS media_id,
               'image' AS f_modality,
               CAST(octet_length(encode(text)) AS BIGINT) AS content_bytes,
               sha256(text) AS f_sha256
        FROM documents
    """,
}
ORACLE["q_pack_bfd_check"] = f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS f_docs,
           CAST(SUM(CAST({_WS_COUNT} AS BIGINT)) AS BIGINT) AS f_tokens,
           CAST(1 AS INT) AS f_ok
    FROM documents
    GROUP BY lang
"""

ORACLE["q_lang_id"] = _langid_oracle()
ORACLE["q_lang_id_conf"] = _langid_oracle(conf=True)

ORACLE["q_corpus_dedup_stats"] = f"""
    WITH RECURSIVE pairs AS (
        SELECT id_a, id_b FROM (
            {TXT.minhash_portable_oracle_sql(_NORM, 3, 32, 8)}
        ) t
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach AS (
        SELECT node, node AS label FROM nodes
        UNION
        SELECT e.b AS node, r.label AS label
        FROM reach r JOIN edges e ON r.node = e.a
    ),
    dropped AS (
        SELECT node AS doc_id
        FROM (SELECT node, MIN(label) AS lbl FROM reach GROUP BY node)
        WHERE node <> lbl
    ),
    exact_keep AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256({_NORM})
    ),
    base AS (
        SELECT doc_id, lang, {_WS_COUNT} AS n_toks,
               (doc_id IN (SELECT doc_id FROM exact_keep)
                AND doc_id NOT IN (SELECT doc_id FROM dropped)) AS kept
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS f_docs_total,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
               AS f_docs_kept,
           CAST(SUM(CASE WHEN kept THEN n_toks ELSE 0 END) AS BIGINT)
               AS f_tokens_kept
    FROM base GROUP BY lang
"""

_SH_SUMS, _SH_FOLD = _simhash60_terms(spark_dialect=False)
ORACLE["q_dedup_simhash_portable"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
        FROM documents
    ),
    hx AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS x
        FROM toks
    ),
    s AS (SELECT doc_id, {_SH_SUMS} FROM hx GROUP BY doc_id)
    SELECT doc_id, CAST({_SH_FOLD} AS BIGINT) AS f_simhash60 FROM s
"""

ORACLE["q_text_repetition"] = f"""
    WITH toks AS (
        SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    g AS (
        SELECT doc_id,
               list_transform(
                   range(0, greatest(len(t) - 2, 0) + 1),
                   i -> array_to_string(list_slice(t, i + 1, i + 2), ' ')
               ) AS grams
        FROM toks
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS f_n_2grams,
           CAST(1.0 AS DOUBLE)
               - CAST(len(list_distinct(grams)) AS DOUBLE)
                 / CAST(len(grams) AS DOUBLE) AS f_dup_2gram_ratio
    FROM g
"""
ORACLE["q_token_rarity"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
        FROM documents
    ),
    freq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY tok
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS f_n_tokens,
           CAST(SUM(f.tf) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS f_mean_tf
    FROM toks t JOIN freq f ON t.tok = f.tok
    GROUP BY t.doc_id
"""

ORACLE["q_sample_stratified"] = """
    SELECT lang, f_rank, doc_id, n_chars FROM (
        SELECT lang, doc_id, n_chars,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY ((doc_id % 1000000007) * (2654435761 % 1000000007))
                            % 1000000007 ASC,
                            doc_id ASC
               ) AS BIGINT) AS f_rank
        FROM documents
    ) WHERE f_rank <= 20
"""

ORACLE["q_contamination"] = f"""
    WITH tok AS (
        SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(t) - 6),
                   i -> array_to_string(list_slice(t, i, i + 7), ' ')
               ))) AS gram
        FROM tok WHERE len(t) >= 8
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0)
    SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS f_shared_grams
    FROM g JOIN bench USING (gram)
    WHERE g.doc_id % 10 <> 0
    GROUP BY g.doc_id
"""

ORACLE["q_epoch_shuffle"] = """
    WITH h AS (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ep3'),
                               1, 15))::BIGINT AS _h
        FROM documents
    )
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY _h ASC, doc_id ASC)
                AS BIGINT) AS f_epoch_pos,
           CAST(_h % 8 AS BIGINT) AS f_shard
    FROM h
"""

ORACLE["q_heavy_hitters_sketch"] = f"""
    WITH toks AS (
        SELECT t.tok FROM (
            SELECT unnest(string_split({_NORM}, ' ')) AS tok FROM documents
        ) t
        WHERE t.tok <> ''
    ),
    cells AS (
        SELECT d.d,
               ('0x' || substr(md5('cm' || CAST(d.d AS VARCHAR) || ':'
                                   || tok), 1, 8))::BIGINT % 1024 AS w
        FROM toks, range(0, 4) d(d)
    ),
    sk AS (
        SELECT d, w, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM cells GROUP BY d, w
    ),
    exact AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS f_exact
        FROM toks GROUP BY tok
    ),
    top AS (
        SELECT tok, f_exact FROM exact
        ORDER BY f_exact DESC, tok ASC LIMIT 20
    ),
    probes AS (
        SELECT top.tok, d.d,
               ('0x' || substr(md5('cm' || CAST(d.d AS VARCHAR) || ':'
                                   || top.tok), 1, 8))::BIGINT % 1024 AS w
        FROM top, range(0, 4) d(d)
    ),
    est AS (
        SELECT p.tok, MIN(COALESCE(s.cnt, 0)) AS f_est
        FROM probes p LEFT JOIN sk s ON p.d = s.d AND p.w = s.w
        GROUP BY p.tok
    )
    SELECT t.tok, t.f_exact,
           CAST(e.f_est AS BIGINT) AS f_est,
           CAST(e.f_est - t.f_exact AS BIGINT) AS f_over
    FROM top t JOIN est e ON t.tok = e.tok
"""

ORACLE["q_ngram_novelty"] = """
    WITH tok AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest(list_transform(range(0, len(t) - 2),
                          i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]))
                       AS gram
            FROM tok WHERE len(t) >= 3
        )
    ),
    first AS (SELECT gram, MIN(doc_id) AS _first FROM grams GROUP BY gram)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS f_grams,
           CAST(SUM(CASE WHEN g.doc_id = f._first THEN 1 ELSE 0 END)
                AS BIGINT) AS f_novel,
           CAST(SUM(CASE WHEN g.doc_id = f._first THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS f_novelty
    FROM grams g JOIN first f USING (gram)
    GROUP BY g.doc_id
"""

ORACLE["q_chunk_overlap"] = """
    WITH tok AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents
    ),
    ch AS (
        SELECT doc_id, s,
               list_slice(t, s + 1, s + 32) AS c
        FROM (SELECT doc_id, t, unnest(range(0, len(t), 16)) AS s
              FROM tok WHERE len(t) > 0)
    )
    SELECT doc_id,
           CAST(s // 16 AS BIGINT) AS f_idx,
           CAST(s AS BIGINT) AS f_start,
           CAST(len(c) AS BIGINT) AS f_n,
           c[1] AS f_first,
           c[-1] AS f_last
    FROM ch
"""

ORACLE["q_negative_sample"] = f"""
    WITH d AS (SELECT doc_id FROM documents),
    anchors AS (
        SELECT doc_id AS f_anchor FROM d
        ORDER BY ('0x' || substr(md5('a_' || CAST(doc_id AS VARCHAR)),
                                 1, 15))::BIGINT ASC, doc_id ASC
        LIMIT {_NEG_ANCHORS}
    ),
    pairs AS (
        SELECT a.f_anchor, d.doc_id,
               ('0x' || substr(md5(CAST(a.f_anchor AS VARCHAR) || '_' ||
                                   CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
                   AS f_hash
        FROM anchors a, d
        WHERE d.doc_id <> a.f_anchor
    ),
    ranked AS (
        SELECT f_anchor, doc_id, f_hash,
               ROW_NUMBER() OVER (PARTITION BY f_anchor
                                  ORDER BY f_hash ASC, doc_id ASC) AS rn
        FROM pairs
    )
    SELECT f_anchor, CAST(rn AS BIGINT) AS f_rank,
           doc_id AS f_negative, f_hash
    FROM ranked WHERE rn <= 4
"""

ORACLE["q_pii_scan"] = """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
               AS f_emails,
           CAST(len(regexp_extract_all(text,
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT)
               AS f_ipv4,
           CAST(len(regexp_extract_all(text,
               '\\+?\\d[\\d -]{7,}\\d')) AS BIGINT) AS f_phones,
           (len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
            + len(regexp_extract_all(text,
                '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
            + len(regexp_extract_all(text,
                '\\+?\\d[\\d -]{7,}\\d'))) > 0 AS f_has_pii
    FROM documents
"""

ORACLE["q_sample_temperature"] = f"""
    WITH counts AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS f_docs
        FROM documents GROUP BY lang
    ),
    w AS (
        SELECT lang, f_docs,
               {_SQRT_MICRO_SQL.format(x="f_docs")} AS f_sqrt_micro
        FROM counts
    ),
    tot AS (
        SELECT CAST(SUM(f_sqrt_micro) AS BIGINT) AS t FROM w
    )
    SELECT lang, f_docs, f_sqrt_micro,
           CAST(FLOOR(CAST(f_sqrt_micro AS DOUBLE) / CAST(t AS DOUBLE)
                      * 1000000 + 0.5) AS BIGINT) AS f_ppm
    FROM w, tot
"""

ORACLE["q_sample_split"] = """
    SELECT lang,
           CASE WHEN ((doc_id % 1000) * (2654435761 % 1000)) % 1000 < 800 THEN 'train'
                WHEN ((doc_id % 1000) * (2654435761 % 1000)) % 1000 < 900 THEN 'valid'
                ELSE 'test' END AS f_split,
           COUNT(*) AS f_docs,
           CAST(SUM(n_chars) AS BIGINT) AS f_chars
    FROM documents
    GROUP BY 1, 2
"""

ORACLE["q_pack_sequences"] = f"""
    WITH toks AS (
        SELECT doc_id, lang, doc_id // 256 AS f_shard,
               {_WS_COUNT} AS n_toks
        FROM documents
    ),
    cums AS (
        SELECT doc_id, lang, f_shard, n_toks,
               SUM(n_toks) OVER (
                   PARTITION BY lang, f_shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM toks
    )
    SELECT lang,
           CAST(f_shard * 1000000 + (cum - n_toks) // 2048 AS BIGINT) AS f_pack,
           COUNT(*) AS f_docs,
           CAST(SUM(n_toks) AS BIGINT) AS f_tokens,
           MIN(doc_id) AS f_first_doc,
           MAX(doc_id) AS f_last_doc
    FROM cums
    GROUP BY 1, 2
"""

ORACLE["q_ngram_freq"] = """
    WITH tok AS (
        SELECT lang, string_split_regex(trim(text), '\\s+') AS t
        FROM documents
    ),
    grams AS (
        SELECT lang,
               unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS f_bigram
        FROM tok WHERE len(t) >= 2
    ),
    counts AS (
        SELECT lang, f_bigram, COUNT(*) AS f_count
        FROM grams GROUP BY lang, f_bigram
    )
    SELECT lang, f_bigram, f_count, f_rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY lang ORDER BY f_count DESC, f_bigram ASC
        ) AS f_rank
        FROM counts
    ) WHERE f_rank <= 5
"""
ORACLE["q_dedup_ngram"] = """
    WITH tok AS (
        SELECT doc_id, lang, CAST(n_chars // 16 AS INTEGER) AS bucket,
               list_filter(
                   string_split_regex(
                       lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')),
                       ' +'),
                   x -> x <> '') AS toks
        FROM documents
    ),
    sh AS (
        SELECT doc_id, lang, bucket,
               list_distinct(list_transform(
                   range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
               )) AS s
        FROM tok WHERE len(toks) >= 3
    ),
    keep AS (
        SELECT lang, bucket FROM sh
        GROUP BY lang, bucket HAVING COUNT(*) <= 64
    ),
    shf AS (
        SELECT sh.* FROM sh JOIN keep USING (lang, bucket)
    ),
    pairs AS (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.s, b.s))) AS f_jaccard
        FROM shf a
        JOIN shf b ON a.lang = b.lang AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
    )
    SELECT doc_id_a, doc_id_b, f_jaccard FROM pairs WHERE f_jaccard >= 0.5
"""

ORACLE["q_contain_ngram"] = f"""
    WITH tok AS (
        SELECT doc_id, lang, CAST(n_chars // 16 AS INTEGER) AS bucket,
               list_filter(
                   string_split_regex(
                       lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')),
                       ' +'),
                   x -> x <> '') AS toks
        FROM documents
    ),
    sh AS (
        SELECT doc_id, lang, bucket,
               list_distinct(list_transform(
                   range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
               )) AS s
        FROM tok WHERE len(toks) >= 3
    ),
    keep AS (
        SELECT lang, bucket FROM sh
        GROUP BY lang, bucket HAVING COUNT(*) <= 64
    ),
    shf AS (
        SELECT sh.* FROM sh JOIN keep USING (lang, bucket)
    ),
    pairs AS (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(len(a.s) AS BIGINT) AS f_na,
               CAST(len(b.s) AS BIGINT) AS f_nb,
               CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS f_inter
        FROM shf a
        JOIN shf b ON a.lang = b.lang AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
    )
    SELECT doc_id_a, doc_id_b, f_na, f_nb, f_inter,
           CAST(f_inter * 1000000 // LEAST(f_na, f_nb) AS BIGINT)
               AS f_cont_ppm
    FROM pairs
    WHERE f_inter * 1000000 // LEAST(f_na, f_nb) >= {_CONTAIN_PPM}
"""

ORACLE["q_dedup_cross_source"] = f"""
    WITH norm AS (
        SELECT source, {_NORM} AS nrm FROM documents
    ),
    toks AS (
        SELECT source, string_split(nrm, ' ') AS t
        FROM norm WHERE length(nrm) > 0
    ),
    chunks AS (
        SELECT DISTINCT source,
               unnest({_CHUNK16_DUCK}) AS chunk
        FROM toks
    )
    SELECT a.source AS f_source_a, b.source AS f_source_b,
           CAST(COUNT(*) AS BIGINT) AS f_shared_chunks
    FROM chunks a JOIN chunks b
      ON a.chunk = b.chunk AND a.source < b.source
    GROUP BY a.source, b.source
"""

ORACLE["q_sample_to_mix"] = f"""
    WITH counts AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS f_docs
        FROM documents GROUP BY lang
    ),
    w AS (
        SELECT lang, f_docs,
               {_SQRT_MICRO_SQL.format(x="f_docs")} AS s
        FROM counts
    ),
    tot AS (SELECT CAST(SUM(s) AS BIGINT) AS t FROM w),
    targets AS (
        SELECT lang, f_docs,
               CAST(FLOOR(CAST(s AS DOUBLE) / CAST(t AS DOUBLE)
                          * 1000000 + 0.5) AS BIGINT) AS f_target_ppm
        FROM w, tot
    ),
    kk AS (
        SELECT MIN(CAST(f_docs AS DOUBLE) / CAST(f_target_ppm AS DOUBLE))
            AS k
        FROM targets
    ),
    thr AS (
        SELECT lang, f_docs, f_target_ppm,
               CAST(FLOOR(k * CAST(f_target_ppm AS DOUBLE)
                          / CAST(f_docs AS DOUBLE) * 1000000 + 0.5)
                    AS BIGINT) AS f_threshold
        FROM targets, kk
    ),
    kept AS (
        SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS f_kept
        FROM documents d JOIN thr ON d.lang = thr.lang
        WHERE ((d.doc_id % 1000000) * (2654435761 % 1000000)) % 1000000
              < thr.f_threshold
        GROUP BY d.lang
    )
    SELECT t.lang, t.f_docs, t.f_target_ppm, t.f_threshold,
           CAST(COALESCE(k.f_kept, 0) AS BIGINT) AS f_kept
    FROM thr t LEFT JOIN kept k ON t.lang = k.lang
"""

ORACLE["q_dedup_chunks"] = f"""
    WITH norm AS (
        SELECT doc_id, {_NORM} AS nrm FROM documents
    ),
    toks AS (
        SELECT doc_id, string_split(nrm, ' ') AS t
        FROM norm WHERE length(nrm) > 0
    ),
    chunks AS (
        SELECT doc_id,
               unnest({_CHUNK16_DUCK}) AS chunk
        FROM toks
    ),
    per_dc AS (
        SELECT doc_id, chunk, CAST(COUNT(*) AS BIGINT) AS k
        FROM chunks GROUP BY doc_id, chunk
    ),
    per_c AS (
        SELECT chunk, CAST(SUM(k) AS BIGINT) AS n_occ
        FROM per_dc GROUP BY chunk
    )
    SELECT doc_id,
           CAST(SUM(k) AS BIGINT) AS f_n_chunks,
           CAST(SUM(CASE WHEN n_occ > 1 THEN k ELSE 0 END) AS BIGINT)
               AS f_dup_chunks,
           CAST(SUM(CASE WHEN n_occ > 1 THEN k ELSE 0 END) AS DOUBLE)
               / CAST(SUM(k) AS DOUBLE) AS f_dup_ratio
    FROM per_dc JOIN per_c USING (chunk)
    GROUP BY doc_id
"""

ORACLE["q_vocab_build"] = f"""
    WITH toks AS (
        SELECT unnest(string_split({_NORM}, ' ')) AS f_token
        FROM documents
    ),
    freq AS (
        SELECT f_token, CAST(COUNT(*) AS BIGINT) AS f_count
        FROM toks GROUP BY f_token
    ),
    tot AS (SELECT CAST(SUM(f_count) AS BIGINT) AS t FROM freq),
    top AS (
        SELECT f_token, f_count FROM freq
        ORDER BY f_count DESC, f_token ASC LIMIT 100
    ),
    ranked AS (
        SELECT f_token, f_count,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS f_rank,
               CAST(SUM(f_count) OVER (
                   ORDER BY f_count DESC, f_token ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM top
        WINDOW w AS (ORDER BY f_count DESC, f_token ASC)
    )
    SELECT f_rank, f_token, f_count,
           CAST(FLOOR(CAST(f_count AS DOUBLE) / CAST(t AS DOUBLE)
                      * 1000000 + 0.5) AS BIGINT) AS f_ppm,
           CAST(FLOOR(CAST(cum AS DOUBLE) / CAST(t AS DOUBLE)
                      * 1000000 + 0.5) AS BIGINT) AS f_cum_ppm
    FROM ranked, tot
"""

ORACLE["q_domain_mix"] = f"""
    WITH per_src AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS f_docs,
               CAST(SUM({_WS_COUNT}) AS BIGINT) AS f_tokens,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS f_langs,
               CAST(SUM(CAST(length(text) AS BIGINT)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS f_avg_chars
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(f_tokens) AS BIGINT) AS t FROM per_src)
    SELECT source, f_docs, f_tokens, f_langs, f_avg_chars,
           CAST(FLOOR(CAST(f_tokens AS DOUBLE) / CAST(t AS DOUBLE)
                      * 1000000 + 0.5) AS BIGINT) AS f_token_ppm
    FROM per_src, tot
"""

ORACLE["q_filter_funnel"] = f"""
    WITH feats AS (
        SELECT lang,
               CAST(length(text) AS BIGINT) AS n_chars_t,
               CAST({_WS_COUNT} AS BIGINT) AS n_words,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                   / length(text) AS digit_ratio
        FROM documents
    ),
    gates AS (
        SELECT lang,
               (n_chars_t >= 100) AS g1,
               (n_chars_t >= 100 AND n_words >= 20) AS g2,
               (n_chars_t >= 100 AND n_words >= 20
                AND CAST(n_chars_t - n_words + 1 AS DOUBLE) / n_words > 2.0
                AND CAST(n_chars_t - n_words + 1 AS DOUBLE) / n_words < 12.0)
                   AS g3,
               digit_ratio
        FROM feats
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS f_total,
           CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS f_pass_len,
           CAST(SUM(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS f_pass_words,
           CAST(SUM(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS f_pass_shape,
           CAST(SUM(CASE WHEN g3 AND digit_ratio < 0.2 THEN 1 ELSE 0 END)
                AS BIGINT) AS f_pass_all
    FROM gates
    GROUP BY lang
"""

QUERIES = {
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_chunks": q_dedup_chunks,
    "q_vocab_build": q_vocab_build,
    "q_domain_mix": q_domain_mix,
    "q_filter_funnel": q_filter_funnel,
    "q_dedup_near": q_dedup_near,
    "q_dedup_near_portable": q_dedup_near_portable,
    "q_dedup_clusters": q_dedup_clusters,
    "q_corpus_dedup_stats": q_corpus_dedup_stats,
    "q_sample_stratified": q_sample_stratified,
    "q_contamination": q_contamination,
    "q_pii_scan": q_pii_scan,
    "q_sample_temperature": q_sample_temperature,
    "q_sample_to_mix": q_sample_to_mix,
    "q_dedup_cross_source": q_dedup_cross_source,
    "q_token_rarity": q_token_rarity,
    "q_dedup_ngram": q_dedup_ngram,
    "q_contain_ngram": q_contain_ngram,
    "q_ngram_freq": q_ngram_freq,
    "q_ngram_novelty": q_ngram_novelty,
    "q_heavy_hitters_sketch": q_heavy_hitters_sketch,
    "q_epoch_shuffle": q_epoch_shuffle,
    "q_bpe_train": q_bpe_train,
    "q_chunk_overlap": q_chunk_overlap,
    "q_negative_sample": q_negative_sample,
    "q_sample_split": q_sample_split,
    "q_pack_sequences": q_pack_sequences,
    "q_pack_bfd": q_pack_bfd,
    "q_pack_bfd_check": q_pack_bfd_check,
    "q_dedup_simhash": q_dedup_simhash,
    "q_dedup_simhash_portable": q_dedup_simhash_portable,
    "q_text_repetition": q_text_repetition,
    "q_text_stats": q_text_stats,
    "q_token_count": q_token_count,
    "q_text_quality": q_text_quality,
    "q_readability": q_readability,
    "q_tokenizer_fertility": q_tokenizer_fertility,
    "q_text_search": q_text_search,
    "q_lang_id": q_lang_id,
    "q_lang_id_conf": q_lang_id_conf,
    "q_fingerprint": q_fingerprint,
    "q_fingerprint_winnow": q_fingerprint_winnow,
    "q_multimodal_meta": q_multimodal_meta,
    "q_multimodal_decode": q_multimodal_decode,
    "q_multimodal_resize": q_multimodal_resize,
    "q_multimodal_frames": q_multimodal_frames,
}


def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL FLATTEN ≡ explode (the reference's metadata-validation
    pattern, test_feature_view_metadata_structure.sql:20-33, applied to
    data): explode document tokens → top-20 token frequencies.
    Scale: explode is pipelined (no shuffle); the count shuffles on the
    token key; top-k is TakeOrderedAndProject."""
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("f_count"))
        .orderBy(F.col("f_count").desc(), F.col("token").asc())
        .limit(20)
    )


ORACLE["q_explode_tokens"] = """
    SELECT token, COUNT(*) AS f_count
    FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
        FROM documents
    )
    GROUP BY token
    ORDER BY f_count DESC, token ASC
    LIMIT 20
"""
QUERIES["q_explode_tokens"] = q_explode_tokens


# ---------------------------------------------------------------------------
# Document co-occurrence lift (exp-PMI)
# ---------------------------------------------------------------------------


def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token association mining, oracle-gated: for every token pair
    co-occurring in ≥ 10 documents (df ≥ 5 each), the LIFT ratio
    N·df(a,b) / (df(a)·df(b)) — the exp of pointwise mutual
    information, monotone-equivalent to PMI for ranking but computable
    in exact arithmetic (BIGINT products < 2^53, one correctly-rounded
    IEEE division, floor to ppm) where ln is not correctly-rounded in
    every runtime. Top-50 by lift with a full (lift, a, b) tiebreak.

    Scale: the pair stage is the quadratic step — it is bounded by
    restricting to the df-thresholded vocabulary (broadcast semi-join)
    BEFORE the per-document self-join, the standard co-occurrence
    guard; doc-frequency aggregates are map-side combinable; the
    corpus size joins in as a 1-row broadcast."""
    d = read_table(spark, sf_dir, "documents")
    # r18: toks fans into dfreq AND the vocabulary-restricted stream,
    # and vocab fans into the semi-join + BOTH marginal broadcasts —
    # without a lineage cut the corpus explode+distinct executed FOUR
    # times per run (the q_pagerank discipline). ONE cut on toks: the
    # corpus pass runs once; vocab stays an Aggregate over the
    # checkpointed stream (three cheap re-aggregations of materialized
    # rows) so its broadcast sides keep the `reduced(...)` label — a
    # checkpointed vocab would be a LogicalRDD the forced-broadcast
    # sweep cannot prove bounded.
    toks = checkpoint(
        d.select(
            "doc_id",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
                "tok"
            ),
        )
        .filter(F.length("tok") > 0)
        .distinct()
    )
    dfreq = toks.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    vocab = dfreq.filter(F.col("df") >= 5)
    vt = toks.join(F.broadcast(vocab.select("tok")), "tok", "left_semi")
    # r18 (the q_graph_triangles r17 treatment): the per-document token
    # self-join (two sorted exchanges + SMJ) becomes ONE doc-keyed
    # collect_list shuffle with the (i < j) pair expansion ROW-LOCAL —
    # per-doc tokens are DISTINCT (toks is distinct), so sorted-array
    # position order i < j is exactly the x.tok < y.tok strict pair set
    # under the same UTF8-binary comparator.
    byd = vt.groupBy("doc_id").agg(
        F.expr("array_sort(collect_list(tok))").alias("_ts")
    )
    pairs = (
        byd.select(
            F.explode(
                F.expr(
                    "flatten(transform(_ts, (x, i) ->"
                    " transform(slice(_ts, i + 2, size(_ts)),"
                    " y -> struct(x AS a, y AS b))))"
                )
            ).alias("_pr")
        )
        .groupBy(F.col("_pr.a").alias("f_a"), F.col("_pr.b").alias("f_b"))
        .agg(F.count("*").cast("long").alias("f_docs_both"))
        .filter(F.col("f_docs_both") >= 10)
    )
    n = d.agg(F.count("*").cast("long").alias("_n"))
    out = (
        pairs.join(
            F.broadcast(vocab.select(F.col("tok").alias("f_a"), F.col("df").alias("f_docs_a"))),
            "f_a",
        )
        .join(
            F.broadcast(vocab.select(F.col("tok").alias("f_b"), F.col("df").alias("f_docs_b"))),
            "f_b",
        )
        .crossJoin(F.broadcast(n))
        .withColumn(
            "f_lift_ppm",
            F.expr(
                "CAST(floor(CAST(_n * f_docs_both AS DOUBLE)"
                " / CAST(f_docs_a * f_docs_b AS DOUBLE)"
                " * 1000000.0 + 0.5) AS BIGINT)"
            ),
        )
    )
    return (
        out.select(
            "f_a", "f_b", "f_docs_both", "f_docs_a", "f_docs_b", "f_lift_ppm"
        )
        .orderBy(F.col("f_lift_ppm").desc(), "f_a", "f_b")
        .limit(50)
    )


QUERIES["q_token_pmi"] = q_token_pmi


ORACLE["q_token_pmi"] = """
    WITH toks AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
            FROM documents
        ) WHERE length(tok) > 0
    ),
    dfreq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
        FROM toks GROUP BY tok
    ),
    vocab AS (SELECT tok, df FROM dfreq WHERE df >= 5),
    vt AS (SELECT t.doc_id, t.tok FROM toks t
           WHERE t.tok IN (SELECT tok FROM vocab)),
    pairs AS (
        SELECT x.tok AS f_a, y.tok AS f_b,
               CAST(COUNT(*) AS BIGINT) AS f_docs_both
        FROM vt x JOIN vt y
          ON x.doc_id = y.doc_id AND x.tok < y.tok
        GROUP BY x.tok, y.tok
        HAVING COUNT(*) >= 10
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS _n FROM documents)
    SELECT p.f_a, p.f_b, p.f_docs_both,
           va.df AS f_docs_a, vb.df AS f_docs_b,
           CAST(floor(CAST(n._n * p.f_docs_both AS DOUBLE)
                / CAST(va.df * vb.df AS DOUBLE)
                * 1000000.0 + 0.5) AS BIGINT) AS f_lift_ppm
    FROM pairs p
    JOIN vocab va ON va.tok = p.f_a
    JOIN vocab vb ON vb.tok = p.f_b, n
    ORDER BY f_lift_ppm DESC, f_a ASC, f_b ASC
    LIMIT 50
"""


# ---------------------------------------------------------------------------
# BPE segmentation with a frozen merge table
# ---------------------------------------------------------------------------


def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION with a frozen merge table
    (functions/bpe.FIXED_MERGES), ORACLE-GATED — the production shape:
    segmentation ships a fixed vocab artifact, so unlike the
    data-dependent q_bpe_train (rows-only by design, 20 learned
    iterations), the apply step IS SQL-replayable: DuckDB re-runs the
    exact rank-sequential greedy fold as a recursive CTE over the
    distinct-word dictionary and the full token sequence of every
    document is hash-checked (sequence order included — f_tokens is
    the '|'-joined stream).

    Scale: the Spark side is ``bpe_segment_by_key`` — the DICTIONARY
    TRICK both engines share (fold each DISTINCT word once on the
    vocab-sized frame, broadcast the word→symbols map onto the
    positional word stream, reassemble per doc): the nested native
    fold runs |vocab| times, not |corpus| times — the same
    vocab-not-corpus insight bpe_train uses (37 s → ~1 s at sf0.1 vs
    the per-instance fold). Zero Python in any row path. Large merge
    tables take the ``bpe_segment_fast`` pandas_udf trie instead
    (equivalence pytest-pinned on this corpus and table)."""
    from ..functions.bpe import bpe_segment_by_key, fixed_merge_table

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    seg = bpe_segment_by_key(d, fixed_merge_table())
    return seg.select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("f_n_tokens"),
        F.array_join("bpe_tokens", "|").alias("f_tokens"),
    )


QUERIES["q_bpe_segment"] = q_bpe_segment


def _bpe_segment_oracle() -> str:
    from ..functions.bpe import END_MARK, FIXED_MERGES, fixed_merge_values_sql

    n = len(FIXED_MERGES)
    return f"""
    WITH RECURSIVE m(rank, l, r) AS (VALUES {fixed_merge_values_sql()}),
    words AS (
        SELECT doc_id, arr, i, arr[i] AS word
        FROM (SELECT doc_id,
                     regexp_split_to_array(trim(text), '\\s+') AS arr
              FROM documents),
             LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i) u
    ),
    w(word) AS (SELECT DISTINCT word FROM words),
    init AS (
        SELECT word,
               list_append(string_split(word, ''), '{END_MARK}') AS syms
        FROM w
    ),
    fold(word, rank, pos, syms, acc) AS (
        SELECT word, 0, 1, syms, CAST([] AS VARCHAR[]) FROM init
        UNION ALL
        SELECT f.word,
               CASE WHEN f.pos > len(f.syms) THEN f.rank + 1 ELSE f.rank END,
               CASE WHEN f.pos > len(f.syms) THEN 1 ELSE f.pos + 1 END,
               CASE WHEN f.pos > len(f.syms) THEN f.acc ELSE f.syms END,
               CASE WHEN f.pos > len(f.syms) THEN CAST([] AS VARCHAR[])
                    WHEN len(f.acc) > 0 AND f.acc[-1] = m.l
                         AND f.syms[f.pos] = m.r
                    THEN list_append(f.acc[1:len(f.acc) - 1], m.l || m.r)
                    ELSE list_append(f.acc, f.syms[f.pos]) END
        FROM fold f JOIN m ON m.rank = f.rank
        WHERE f.rank < {n}
    ),
    seg AS (SELECT word, syms FROM fold WHERE rank = {n}),
    flat AS (
        SELECT ws.doc_id,
               flatten(list(s.syms ORDER BY ws.i)) AS toks
        FROM words ws JOIN seg s ON s.word = ws.word
        GROUP BY ws.doc_id
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS f_n_tokens,
           array_to_string(toks, '|') AS f_tokens
    FROM flat
"""


ORACLE["q_bpe_segment"] = _bpe_segment_oracle()


# ---------------------------------------------------------------------------
# Integer surprisal scoring (bits-per-token quality signal)
# ---------------------------------------------------------------------------


def q_doc_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram SURPRISAL quality score, ORACLE-GATED: each token's
    information content is approximated by ⌊log2⌊N/c⌋⌋ bits (N = corpus
    token count, c = the token's corpus frequency) — the pure-integer
    spelling ``length(bin(N DIV c)) − 1`` both engines share (the HDR
    octave trick; IEEE log2 is never correctly-rounded cross-engine,
    so real log-prob perplexity can only be rows-only). Per document:
    total bits, token count, bits-per-token — rare-vocab/gibberish
    documents score HIGH, templated/boilerplate docs LOW; the CCNet-
    style quality-filter signal with a hash-checkable estimator.

    Scale: the frequency dictionary is |vocab|-sized and BROADCASTS
    into the token stream (the skewed token key never shuffles —
    q_token_rarity's discipline); N is a 1-row broadcast; the per-doc
    agg is map-side combinable."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    freq = toks.groupBy("tok").agg(F.count("*").cast("long").alias("tf"))
    n = freq.agg(F.sum("tf").cast("long").alias("_N"))
    scored = (
        toks.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "_bits", F.expr("CAST(length(bin(_N DIV tf)) - 1 AS BIGINT)")
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("f_n_toks"),
        F.sum("_bits").cast("long").alias("f_bits"),
        (F.sum("_bits").cast("double") / F.count("*").cast("double")).alias(
            "f_bits_per_tok"
        ),
    )


ORACLE["q_doc_surprisal"] = """
    WITH toks AS (
        SELECT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents
        ) WHERE length(tok) > 0
    ),
    freq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY tok
    ),
    n AS (SELECT CAST(SUM(tf) AS BIGINT) AS _N FROM freq)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS f_n_toks,
           CAST(SUM(length(bin(n._N // f.tf)) - 1) AS BIGINT) AS f_bits,
           CAST(SUM(length(bin(n._N // f.tf)) - 1) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS f_bits_per_tok
    FROM toks t JOIN freq f ON t.tok = f.tok CROSS JOIN n
    GROUP BY t.doc_id
"""
QUERIES["q_doc_surprisal"] = q_doc_surprisal


# ---------------------------------------------------------------------------
# Vocabulary coverage cut points
# ---------------------------------------------------------------------------


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design query, ORACLE-GATED: the smallest frequency-
    ranked vocabulary covering 50% / 90% / 99% of corpus token mass
    (rank order: count desc, token asc — total, so the cumulative sums
    hash-gate). The coverage test is INTEGER (cum·100 ≥ pct·N): no
    float threshold ever feeds the row selection (CLAUDE.md
    invariant).

    Scale note: a whitespace-token vocabulary over a web-scale corpus
    is 10⁸–10⁹ rows — NOT a bounded universe — so the rank + running
    sum go through ``ranks.global_running_sum`` (range exchange →
    parallel per-range local sorts → prefix-sum offsets from one
    bounded P-row collect; the only window is PARTITIONED by the range
    id). No unpartitioned window node anywhere (plan-asserted in
    tests/test_scale_plans.py); the corpus-scale work is one
    map-side-combinable token count."""
    from ..functions.ranks import global_running_sum

    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0)
    freq = toks.groupBy("tok").agg(F.count("*").cast("long").alias("cnt"))
    ranked = global_running_sum(
        freq,
        [F.col("cnt").desc(), F.col("tok").asc()],
        value_col="cnt",
        rank_col="_rank",
        sum_col="_cum",
    ).select("tok", "cnt", "_rank", "_cum")
    tot = freq.agg(F.sum("cnt").cast("long").alias("_N"))
    pcts = literal_df(spark, [(50,), (90,), (99,)], "f_pct LONG")
    cut = (
        ranked.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(pcts))
        .filter(F.col("_cum") * 100 >= F.col("f_pct") * F.col("_N"))
        .groupBy("f_pct")
        .agg(F.min("_rank").alias("f_vocab_size"))
    )
    return cut.join(
        ranked.select(F.col("_rank").alias("f_vocab_size"), "_cum"),
        "f_vocab_size",
    ).select(
        "f_pct", "f_vocab_size", F.col("_cum").alias("f_tokens_covered")
    )


ORACLE["q_vocab_coverage"] = """
    WITH toks AS (
        SELECT tok FROM (
            SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents
        ) WHERE length(tok) > 0
    ),
    freq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
    ),
    ranked AS (
        SELECT tok, cnt,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC)
                    AS BIGINT) AS _rank,
               CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok ASC
                                   ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS _cum
        FROM freq
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS _N FROM freq),
    pcts(f_pct) AS (VALUES (CAST(50 AS BIGINT)), (90), (99)),
    cut AS (
        SELECT p.f_pct, MIN(r._rank) AS f_vocab_size
        FROM ranked r CROSS JOIN tot CROSS JOIN pcts p
        WHERE r._cum * 100 >= p.f_pct * tot._N
        GROUP BY p.f_pct
    )
    SELECT c.f_pct, c.f_vocab_size, r._cum AS f_tokens_covered
    FROM cut c JOIN ranked r ON c.f_vocab_size = r._rank
"""
QUERIES["q_vocab_coverage"] = q_vocab_coverage


# ---------------------------------------------------------------------------
# TF-IDF top terms (integer-exact keyword extraction)
# ---------------------------------------------------------------------------

_TFIDF_TOPK = 5


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TOP-5 keywords by tf·⌊log2⌊N/df⌋⌋, ORACLE-GATED —
    keyword extraction / topic tagging over the corpus. IDF uses the
    pure-integer bit-length spelling ``length(bin(N DIV df)) − 1``
    (the q_doc_surprisal / HDR octave trick: IEEE log is never
    correctly-rounded cross-engine, integer bits are), so the score is
    an exact BIGINT and the key hash-gates.

    Scale: tf is one map-side-combinable (doc, tok) count; df is one
    (tok) count OVER the tf table (each (doc, tok) row is distinct, so
    COUNT(*) per tok IS the document frequency — no countDistinct
    shuffle of raw tokens); the score join shuffles on tok with NO
    forced broadcast (a web-scale vocabulary is unbounded — the
    q_vocab_coverage lesson — so AQE decides, and skewed stop-words
    are exactly the keys IDF zeroes out); the top-5 window partitions
    by doc_id (per-doc group, bounded)."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count("*").cast("long").alias("f_tf")
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").cast("long").alias("f_df"))
    ndocs = tf.groupBy().agg(
        F.countDistinct("doc_id").cast("long").alias("_N")
    )
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "f_score",
            (
                F.col("f_tf")
                * F.expr("CAST(length(bin(_N DIV f_df)) - 1 AS BIGINT)")
            ).cast("long"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("f_score").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("f_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("f_rank") <= _TFIDF_TOPK)
        .select("doc_id", "f_rank", "tok", "f_tf", "f_df", "f_score")
    )


ORACLE["q_tfidf_topterms"] = f"""
    WITH toks AS (
        SELECT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents
        ) WHERE length(tok) > 0
    ),
    tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS f_tf
        FROM toks GROUP BY doc_id, tok
    ),
    dfreq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS f_df FROM tf GROUP BY tok
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS _N FROM tf),
    scored AS (
        SELECT tf.doc_id, tf.tok, tf.f_tf, dfreq.f_df,
               CAST(tf.f_tf * (length(bin(n._N // dfreq.f_df)) - 1)
                    AS BIGINT) AS f_score
        FROM tf JOIN dfreq ON tf.tok = dfreq.tok CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, tok, f_tf, f_df, f_score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY f_score DESC, tok ASC
               ) AS BIGINT) AS f_rank
        FROM scored
    )
    SELECT doc_id, f_rank, tok, f_tf, f_df, f_score
    FROM ranked WHERE f_rank <= {_TFIDF_TOPK}
"""
QUERIES["q_tfidf_topterms"] = q_tfidf_topterms


# ---------------------------------------------------------------------------
# Normalization-robust exact dedup
# ---------------------------------------------------------------------------


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the NORMALIZED 100-char PREFIX, ORACLE-GATED:
    lowercase → strip non-alphanumerics → collapse whitespace runs →
    trim → first 100 chars, then md5-group — catches the re-cased /
    re-punctuated / re-wrapped AND truncated/extended variants that
    raw-byte exact dedup misses (the C4/CCNet normalize-then-hash
    recipe; the prefix grain is what makes it non-vacuous on corpora
    whose duplicates share heads but diverge in tails). Output: one
    row per duplicate CLUSTER (hash, kept min doc_id, size ≥ 2).

    Cross-engine regex discipline: explicit ASCII classes only —
    Java's \\s includes \\x0B where RE2's does not, so the pattern
    spells [ \\t\\r\\n] literally; DuckDB regexp_replace needs the 'g'
    flag to match Spark's replace-all. Scale: one map-side-combinable
    hash-group; normalization is per-row codegen, no shuffle added."""
    d = read_table(spark, sf_dir, "documents")
    norm = F.substring(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(
                    F.lower(F.col("text")), "[^a-z0-9 \t\r\n]", ""
                ),
                "[ \t\r\n]+",
                " ",
            )
        ),
        1,
        100,
    )
    # r18: normalize ONCE into a materialized column and gate via an
    # explode of a guarded 1-element array (the q_dedup_edit shape) —
    # the standalone filter(length(norm) > 0) was predicate-pushed
    # below the Project and re-evaluated the two-regexp chain per row.
    # Identical surviving rows: length > 0 emits exactly one hash,
    # else none; NULL text yields a NULL guard -> none.
    nrm = d.select("doc_id", norm.alias("_fs_nrm"))
    docs = nrm.select(
        "doc_id",
        F.explode(
            F.expr(
                "IF(length(_fs_nrm) > 0, array(md5(_fs_nrm)), array())"
            )
        ).alias("f_norm_hash"),
    )
    return (
        docs.groupBy("f_norm_hash")
        .agg(
            F.min("doc_id").cast("long").alias("f_keep_id"),
            F.count("*").cast("long").alias("f_n_dups"),
        )
        .filter(F.col("f_n_dups") >= 2)
    )


ORACLE["q_dedup_normalized"] = """
    WITH docs AS (
        SELECT doc_id,
               substr(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 \t\r\n]', '', 'g'),
                   '[ \t\r\n]+', ' ', 'g')), 1, 100) AS _norm
        FROM documents
    )
    SELECT md5(_norm) AS f_norm_hash,
           CAST(MIN(doc_id) AS BIGINT) AS f_keep_id,
           CAST(COUNT(*) AS BIGINT) AS f_n_dups
    FROM docs WHERE length(_norm) > 0
    GROUP BY md5(_norm)
    HAVING COUNT(*) >= 2
"""
QUERIES["q_dedup_normalized"] = q_dedup_normalized


# ---------------------------------------------------------------------------
# BM25 ranked keyword search (exact-rational scoring, integer division)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("window", "merge", "stream")
_BM25_TOPK = 15
_BM25_SCALE = 10000   # fixed-point score scale (4 decimal digits)
_BM25_TFCAP = 30      # tf saturation cap keeps every product < 2^63


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-ranked keyword search over ``documents``, ORACLE-GATED —
    the ranked-retrieval upgrade of q_text_search's occurrence-count
    relevance. Standard BM25 shape (k1 = 6/5, b = 3/4) with one
    documented deviation: the IDF factor is the exact rational
    (2(N−df)+1)/(2df+1) — i.e. the classic (N−df+0.5)/(df+0.5) WITHOUT
    the log wrapper, because IEEE log is not correctly-rounded
    cross-engine (the q_tfidf_topterms lesson; same monotone ordering
    per term). Clearing every denominator turns the per-term score
    into one BIGINT ratio:

        s_t = 44·TT·(2(N−df)+1)·tf·SCALE
              DIV (2df+1)·(20·TT·tf + 6·TT + 18·dl·N)

    (TT = corpus token count, dl = doc length, avgdl = TT/N folded in;
    44 = 20·(k1+1), 6 = 20·k1·(1−b), 18 = 20·k1·b·… after ×20·TT).
    Integer division truncates toward zero identically in both engines
    (all operands positive), so the summed fixed-point score is exact
    and the key hash-gates. Bounds: tf ≤ 30 (saturation cap), TT ≤ 10⁶
    at sf0.1, idf numerator ≤ 2N ≈ 10⁴ → worst product ≈ 10¹⁷ < 2⁶³.
    At a true 100 TB corpus the scoring moves to doubles (ordering
    only needs per-engine consistency there) — this key pins the
    semantics at oracle scale.

    Scale shape: ONE narrow projection computes dl and the three tf
    columns per doc (no explode, no token shuffle — the term list is a
    query parameter); the corpus stats (N, TT, df per term) are one
    map-side-combinable global agg broadcast back as a 1-row frame;
    the final ranking is TakeOrdered top-15. Single pass over text."""
    d = read_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.trim(F.col("text")).alias("_tt"),
        F.split(F.trim(F.col("text")), r"\s+").alias("_toks"),
    )
    def _tf_col(term: str, i: int):
        # single-arg lambda ONLY: a second parameter makes F.filter pass
        # the array INDEX as that argument (PySpark arity dispatch)
        return (
            F.least(
                F.size(F.filter(F.col("_toks"), lambda t: t == F.lit(term))),
                F.lit(_BM25_TFCAP),
            )
            .cast("long")
            .alias(f"_tf{i}")
        )

    tf_cols = [_tf_col(term, i) for i, term in enumerate(_BM25_TERMS)]
    # _dl is spelled NON-NULLABLE (coalesce with 0, r18): the final
    # f_score_scaled > 0 filter makes Catalyst infer isnotnull(_dl) and
    # push it below the Project, where it re-evaluated the split per
    # row (plan-verified). With ANSI mode on (the Spark 4 default)
    # size(NULL) is NULL, so a NULL text row gets _dl 0 — it adds 0 to
    # SUM(_dl) as the oracle's NULL dl does, and its NULL score drops
    # it. With ANSI off, spark.sql.legacy.sizeOfNull (default true)
    # makes size(NULL) = -1: _dl and the tf columns of a NULL text row
    # become -1 and the key diverges from its oracle.
    per = base.select(
        "doc_id",
        F.coalesce(
            F.when(F.length("_tt") == 0, F.lit(0)).otherwise(
                F.size("_toks")
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("_dl"),
        *tf_cols,
    )
    g = per.groupBy().agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_dl").cast("long").alias("_ttl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long"))
            .cast("long")
            .alias(f"_df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    # integer division via SQL DIV on materialized numerator/denominator
    # columns (positive operands → identical truncation both engines)
    work = per.crossJoin(F.broadcast(g))
    for i in range(len(_BM25_TERMS)):
        num = (
            F.lit(44).cast("long")
            * F.col("_ttl")
            * (F.lit(2).cast("long") * (F.col("_n") - F.col(f"_df{i}")) + 1)
            * F.col(f"_tf{i}")
            * F.lit(_BM25_SCALE).cast("long")
        )
        den = (F.lit(2).cast("long") * F.col(f"_df{i}") + 1) * (
            F.lit(20).cast("long") * F.col("_ttl") * F.col(f"_tf{i}")
            + F.lit(6).cast("long") * F.col("_ttl")
            + F.lit(18).cast("long") * F.col("_dl") * F.col("_n")
        )
        work = work.withColumn(f"_num{i}", num).withColumn(f"_den{i}", den)
        work = work.withColumn(
            f"_s{i}", F.expr(f"_num{i} DIV _den{i}").cast("long")
        )
    total = sum(F.col(f"_s{i}") for i in range(len(_BM25_TERMS)))
    return (
        work.withColumn("f_score_scaled", total.cast("long"))
        .filter(F.col("f_score_scaled") > 0)
        .select(
            "doc_id",
            F.col("_dl").alias("f_dl"),
            *[
                F.col(f"_tf{i}").alias(f"f_tf_{t}")
                for i, t in enumerate(_BM25_TERMS)
            ],
            "f_score_scaled",
            (F.col("f_score_scaled").cast("double") / _BM25_SCALE).alias(
                "f_score"
            ),
        )
        .orderBy(F.col("f_score_scaled").desc(), F.col("doc_id").asc())
        .limit(_BM25_TOPK)
    )


def _bm25_oracle() -> str:
    tf_exprs = ", ".join(
        "LEAST(CAST(len(list_filter(regexp_split_to_array(trim(text),"
        f" '\\s+'), t -> t = '{term}')) AS BIGINT), {_BM25_TFCAP})"
        f" AS tf{i}"
        for i, term in enumerate(_BM25_TERMS)
    )
    df_exprs = ", ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    s_exprs = " + ".join(
        f"((44 * ttl * (2 * (n - df{i}) + 1) * tf{i} * {_BM25_SCALE})"
        f" // ((2 * df{i} + 1)"
        f" * (20 * ttl * tf{i} + 6 * ttl + 18 * dl * n)))"
        for i in range(len(_BM25_TERMS))
    )
    tf_out = ", ".join(
        f"tf{i} AS f_tf_{t}" for i, t in enumerate(_BM25_TERMS)
    )
    return f"""
    WITH per AS (
        SELECT doc_id,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                    END AS BIGINT) AS dl,
               {tf_exprs}
        FROM documents
    ),
    g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dl) AS BIGINT) AS ttl,
               {df_exprs}
        FROM per
    ),
    scored AS (
        SELECT per.doc_id, per.dl, {', '.join(f'per.tf{i}' for i in range(len(_BM25_TERMS)))},
               CAST({s_exprs} AS BIGINT) AS f_score_scaled
        FROM per CROSS JOIN g
    )
    SELECT doc_id, dl AS f_dl, {tf_out}, f_score_scaled,
           CAST(f_score_scaled AS DOUBLE) / {_BM25_SCALE} AS f_score
    FROM scored WHERE f_score_scaled > 0
    ORDER BY f_score_scaled DESC, doc_id ASC
    LIMIT {_BM25_TOPK}
"""


ORACLE["q_bm25_topk"] = _bm25_oracle()
QUERIES["q_bm25_topk"] = q_bm25_topk


# ---------------------------------------------------------------------------
# Edit-distance near-dup (prefix-blocked Levenshtein, exact integers)
# ---------------------------------------------------------------------------

_EDIT_BLOCK_CHARS = 20   # blocking prefix (normalized)
_EDIT_CMP_CHARS = 200    # comparison window
_EDIT_MAX_LEV = 40       # near-dup threshold
_EDIT_BLOCK_CAP = 64     # max block size admitted to the pair join


def q_dedup_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup detection, ORACLE-GATED — the fuzzy-dedup
    family member MinHash/SimHash can't express: pairs whose NORMALIZED
    200-char heads are within Levenshtein distance 40, candidate-blocked
    on the normalized 20-char prefix (a pair with edits inside the
    first 20 chars is out of blocking scope — standard
    blocked-entity-resolution honesty, same contract as q_dedup_ngram's
    shingle blocks). Levenshtein is an exact integer in BOTH engines
    (dynamic-programming edit distance, no floats anywhere), so the key
    hash-gates. Normalization reuses the q_dedup_normalized spelling
    (explicit ASCII classes, DuckDB 'g' flag).

    Scale shape: the block key is a hash-shuffle key (ONE shuffle —
    r17: the block-size gate is a count window over that same exchange
    instead of a separate agg + join, and the self-join's two legs are
    ReusedExchange reads of it); blocks larger than 64 rows are
    EXCLUDED before the self-join (the Σ block² ≤ cap·n bound of
    q_dedup_ngram — mega-blocks mean the prefix is boilerplate and
    belong to the MinHash path, not O(b²) pair scoring); the
    Levenshtein DP runs per surviving pair only, THRESHOLD-BOUNDED
    (r17: the banded O(cmp·lev_max) DP — exact distance for every kept
    pair, −1 past the bound, identical kept rows) in codegen. No
    Python in any row path."""

    d = read_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 \t\r\n]", ""),
            "[ \t\r\n]+",
            " ",
        )
    )
    # r18: normalize ONCE into a materialized column and gate via an
    # explode of a guarded 1-element array — the old standalone
    # filter(length(norm) >= 20) was predicate-pushed below the Project
    # and re-evaluated the two-regexp normalize chain per row on both
    # self-join legs (plan-verified); a Generate is a pushdown barrier,
    # and _nrm is an attribute read (free) inside the guard. Identical
    # surviving rows: length >= 20 emits exactly one struct, else none.
    nrm = d.select("doc_id", norm.alias("_nrm"))
    docs = nrm.select(
        "doc_id",
        F.explode(
            F.expr(
                f"IF(length(_nrm) >= {_EDIT_BLOCK_CHARS},"
                f" array(struct("
                f" substring(_nrm, 1, {_EDIT_CMP_CHARS}) AS _head,"
                f" substring(_nrm, 1, {_EDIT_BLOCK_CHARS}) AS _bkey)),"
                f" array())"
            )
        ).alias("_hb"),
    ).select(
        "doc_id",
        F.col("_hb._head").alias("_head"),
        F.col("_hb._bkey").alias("_bkey"),
    )
    blocked = docs.withColumn(
        "_bn", F.count("*").over(Window.partitionBy("_bkey"))
    ).filter(F.col("_bn") <= _EDIT_BLOCK_CAP)
    a = blocked.select(
        F.col("_bkey"),
        F.col("doc_id").alias("f_id_a"),
        F.col("_head").alias("_ha"),
    )
    b = blocked.select(
        F.col("_bkey"),
        F.col("doc_id").alias("f_id_b"),
        F.col("_head").alias("_hb"),
    )
    pairs = (
        a.join(b, "_bkey")
        .filter(F.col("f_id_a") < F.col("f_id_b"))
        .withColumn(
            "f_lev",
            F.levenshtein(
                F.col("_ha"), F.col("_hb"), threshold=_EDIT_MAX_LEV
            ).cast("long"),
        )
        # thresholded levenshtein returns -1 ABOVE the bound and never
        # exceeds it otherwise, so `>= 0` ALONE is the exact kept-pair
        # predicate (range [-1] ∪ [0, _EDIT_MAX_LEV]). A second
        # `<= _EDIT_MAX_LEV` clause is redundant — and costly: pushdown
        # inlines f_lev into the join condition, so each extra clause
        # is one more banded-DP evaluation per candidate pair (r18:
        # the clause drop cut the in-join levenshtein count 2 -> 1).
        .filter(F.col("f_lev") >= 0)
    )
    return pairs.select("f_id_a", "f_id_b", "f_lev").orderBy(
        F.col("f_lev").asc(), F.col("f_id_a").asc(), F.col("f_id_b").asc()
    )


ORACLE["q_dedup_edit"] = f"""
    WITH docs AS (
        SELECT doc_id,
               substr(nrm, 1, {_EDIT_CMP_CHARS}) AS head,
               substr(nrm, 1, {_EDIT_BLOCK_CHARS}) AS bkey
        FROM (
            SELECT doc_id,
                   trim(regexp_replace(
                       regexp_replace(lower(text), '[^a-z0-9 \t\r\n]', '',
                                      'g'),
                       '[ \t\r\n]+', ' ', 'g')) AS nrm
            FROM documents
        ) WHERE length(nrm) >= {_EDIT_BLOCK_CHARS}
    ),
    ok AS (
        SELECT bkey FROM docs GROUP BY bkey
        HAVING COUNT(*) <= {_EDIT_BLOCK_CAP}
    ),
    blocked AS (SELECT docs.* FROM docs JOIN ok ON docs.bkey = ok.bkey),
    pairs AS (
        SELECT a.doc_id AS f_id_a, b.doc_id AS f_id_b,
               CAST(levenshtein(a.head, b.head) AS BIGINT) AS f_lev
        FROM blocked a JOIN blocked b
          ON a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT f_id_a, f_id_b, f_lev FROM pairs
    WHERE f_lev <= {_EDIT_MAX_LEV}
    ORDER BY f_lev ASC, f_id_a ASC, f_id_b ASC
"""
QUERIES["q_dedup_edit"] = q_dedup_edit


# ---------------------------------------------------------------------------
# Bigram conditional surprisal (integer bits, oracle-gated)
# ---------------------------------------------------------------------------


def q_surprisal_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIGRAM-conditional surprisal quality score, ORACLE-GATED — the
    context-aware upgrade of q_doc_surprisal's unigram model: each
    token's information content given its predecessor is
    ⌊log2⌊c(prev)/c(prev,tok)⌋⌋ bits, where c(prev,tok) is the corpus
    bigram count and c(prev) = Σ_tok c(prev,tok) (the context's
    outgoing mass, so the conditional model normalizes exactly). The
    integer bit-length spelling keeps the estimator hash-checkable
    (IEEE log2 never is). Per document: bigram count, total bits,
    bits-per-bigram — word-salad scores HIGH (unseen transitions),
    templated text LOW. Documents with < 2 tokens contribute no rows
    (no transitions to score), identically in both engines.

    Scale: bigrams explode once off the SAME filtered token array
    (element_at indexing, no self-join on position); the bigram
    dictionary is vocab²-sized and therefore NEVER force-broadcast
    (the q_tfidf_topterms lesson — AQE decides); the context table
    derives from the bigram table by one more combinable agg, not a
    second corpus pass."""
    d = read_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.expr(
            "filter(split(trim(text), '\\\\s+'), x -> length(x) > 0)"
        ).alias("_t"),
    )
    # <2-token gate inside the bigram expression (empty array -> explode
    # emits nothing — identical rows to the old filter, and the guard
    # also keeps ANSI element_at from ever seeing an invalid index): a
    # standalone filter(size(_t) >= 2) is pushed below the Project and
    # re-evaluates the split+filter chain per row (r18 §4.4 fix)
    grams = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "IF(size(_t) >= 2,"
                " transform(sequence(2, size(_t)), i ->"
                " concat(element_at(_t, i - 1), ' ', element_at(_t, i))),"
                " array())"
            )
        ).alias("gram"),
    )
    freq_bi = grams.groupBy("gram").agg(
        F.count("*").cast("long").alias("bf")
    )
    ctx = (
        freq_bi.withColumn("prev", F.split(F.col("gram"), " ").getItem(0))
        .groupBy("prev")
        .agg(F.sum("bf").cast("long").alias("cf"))
    )
    scored = (
        grams.join(freq_bi, "gram")
        .withColumn("prev", F.split(F.col("gram"), " ").getItem(0))
        .join(ctx, "prev")
        .withColumn(
            "_bits", F.expr("CAST(length(bin(cf DIV bf)) - 1 AS BIGINT)")
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("f_n_bigrams"),
        F.sum("_bits").cast("long").alias("f_bits"),
        (F.sum("_bits").cast("double") / F.count("*").cast("double")).alias(
            "f_bits_per_bigram"
        ),
    )


ORACLE["q_surprisal_bigram"] = """
    WITH base AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> length(x) > 0) AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(range(2, len(t) + 1),
                                     i -> t[i-1] || ' ' || t[i])) AS gram
        FROM base WHERE len(t) >= 2
    ),
    freq_bi AS (
        SELECT gram, CAST(COUNT(*) AS BIGINT) AS bf FROM grams GROUP BY gram
    ),
    ctx AS (
        SELECT string_split(gram, ' ')[1] AS prev,
               CAST(SUM(bf) AS BIGINT) AS cf
        FROM freq_bi GROUP BY string_split(gram, ' ')[1]
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS f_n_bigrams,
           CAST(SUM(length(bin(c.cf // f.bf)) - 1) AS BIGINT) AS f_bits,
           CAST(SUM(length(bin(c.cf // f.bf)) - 1) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS f_bits_per_bigram
    FROM grams g
    JOIN freq_bi f ON g.gram = f.gram
    JOIN ctx c ON string_split(g.gram, ' ')[1] = c.prev
    GROUP BY g.doc_id
"""
QUERIES["q_surprisal_bigram"] = q_surprisal_bigram


# ---------------------------------------------------------------------------
# Token-weighted median document length per language
# ---------------------------------------------------------------------------


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-WEIGHTED median document length (n_chars) per language,
    ORACLE-GATED — robust corpus sizing where each document counts by
    its token mass, not once (the weighted twin of q_median_mad's
    unweighted location): the smallest length whose cumulative token
    weight reaches half the language total (lower weighted median —
    2·cum ≥ total, a pure-integer rule both engines spell identically).

    Scale: the (lang, n_chars) pre-aggregate shrinks the corpus to the
    bounded length DOMAIN before any window; the cumulative window
    partitions by lang over that domain-sized frame (the
    q_vocab_coverage pre-shrink discipline); the median pick is one
    map-side-combinable min per lang."""
    from ..functions.text import ws_token_count

    d = read_table(spark, sf_dir, "documents")
    w = d.select(
        "lang",
        "n_chars",
        ws_token_count(F.col("text")).cast("long").alias("_w"),
    ).groupBy("lang", "n_chars").agg(F.sum("_w").cast("long").alias("w"))
    win = (
        Window.partitionBy("lang")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = w.groupBy("lang").agg(F.sum("w").cast("long").alias("_tot"))
    cum = w.withColumn("_cum", F.sum("w").over(win).cast("long")).join(
        F.broadcast(tot), "lang"
    )
    return (
        cum.filter(F.col("_cum") * 2 >= F.col("_tot"))
        .groupBy("lang")
        .agg(
            F.min("n_chars").cast("long").alias("f_median_chars"),
            F.min("_tot").cast("long").alias("f_total_tokens"),
        )
    )



ORACLE["q_weighted_median"] = f"""
    WITH w AS (
        SELECT lang, n_chars,
               CAST(SUM(CAST({_WS_COUNT} AS BIGINT)) AS BIGINT) AS w
        FROM documents GROUP BY lang, n_chars
    ),
    cum AS (
        SELECT lang, n_chars, w,
               CAST(SUM(w) OVER (PARTITION BY lang ORDER BY n_chars
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS _cum
        FROM w
    ),
    tot AS (SELECT lang, CAST(SUM(w) AS BIGINT) AS _tot FROM w GROUP BY lang)
    SELECT cum.lang,
           CAST(MIN(n_chars) AS BIGINT) AS f_median_chars,
           CAST(MIN(_tot) AS BIGINT) AS f_total_tokens
    FROM cum JOIN tot ON cum.lang = tot.lang
    WHERE _cum * 2 >= _tot
    GROUP BY cum.lang
"""
QUERIES["q_weighted_median"] = q_weighted_median


# ---------------------------------------------------------------------------
# Lexical diversity (type/token accounting per document)
# ---------------------------------------------------------------------------


def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEXICAL DIVERSITY per document, ORACLE-GATED — the
    type-token-ratio family of quality signals (templated/boilerplate
    text scores LOW TTR, word salad HIGH): token count, distinct-type
    count, TTR in ppm, hapax (frequency-1) count and hapax share in ppm
    — all exact integers (integer DIV both engines).

    Scale: the per-(doc, token) pre-aggregate shrinks the exploded
    stream before the per-doc rollup; both aggs map-side combine; no
    window, no join, linear in corpus tokens."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    per = toks.groupBy("doc_id", "tok").agg(
        F.count("*").cast("long").alias("_c")
    )
    return per.groupBy("doc_id").agg(
        F.sum("_c").cast("long").alias("f_tokens"),
        F.count("*").cast("long").alias("f_types"),
        F.expr(
            "CAST(COUNT(*) * 1000000 DIV SUM(_c) AS BIGINT)"
        ).alias("f_ttr_ppm"),
        F.sum(F.when(F.col("_c") == 1, 1).otherwise(0)).cast("long").alias(
            "f_hapax"
        ),
        F.expr(
            "CAST(SUM(CASE WHEN _c = 1 THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("f_hapax_ppm"),
    )


ORACLE["q_lexical_diversity"] = """
    WITH toks AS (
        SELECT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents
        ) WHERE length(tok) > 0
    ),
    per AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS _c
        FROM toks GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(SUM(_c) AS BIGINT) AS f_tokens,
           CAST(COUNT(*) AS BIGINT) AS f_types,
           CAST(COUNT(*) * 1000000 // SUM(_c) AS BIGINT) AS f_ttr_ppm,
           CAST(SUM(CASE WHEN _c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f_hapax,
           CAST(SUM(CASE WHEN _c = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS f_hapax_ppm
    FROM per GROUP BY doc_id
"""
QUERIES["q_lexical_diversity"] = q_lexical_diversity


# ---------------------------------------------------------------------------
# Token burstiness (variance-to-mean dispersion across documents)
# ---------------------------------------------------------------------------

_BURST_MIN_DF = 20
_BURST_TOPK = 20


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token BURSTINESS — the variance-to-mean dispersion index of a
    token's per-document counts (zeros included), ORACLE-GATED: bursty
    tokens (topical words that pile into few docs) score HIGH, function
    words ~1, which is how a pipeline separates content terms from glue
    without a stopword list. Exact rational spelling over N docs:
    VMR = (N·Σx² − (Σx)²) · 1e6 DIV (N·Σx) in DECIMAL(38,0)/HUGEINT —
    zeros enter through N, never materialized. Top-20 by VMR (df ≥ 20
    support floor; ties → token asc).

    Scale: per-(doc, token) pre-agg → per-token sufficient statistics
    (Σx, Σx², df) in ONE combinable agg; N is a 1-row broadcast; the
    ranking is TakeOrderedAndProject. Linear in corpus tokens."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    per = toks.groupBy("doc_id", "tok").agg(
        F.count("*").cast("long").alias("_c")
    )
    stats = per.groupBy("tok").agg(
        F.sum("_c").cast("long").alias("_sx"),
        F.sum(F.col("_c") * F.col("_c")).cast("long").alias("_sx2"),
        F.count("*").cast("long").alias("f_df"),
    ).filter(F.col("f_df") >= _BURST_MIN_DF)
    n = d.agg(F.count("*").cast("long").alias("_N"))
    return (
        stats.crossJoin(F.broadcast(n))
        .select(
            "tok",
            "f_df",
            F.col("_sx").alias("f_tf"),
            F.expr(
                "CAST((CAST(_N AS DECIMAL(38,0)) * _sx2"
                " - CAST(_sx AS DECIMAL(38,0)) * _sx) * 1000000"
                " DIV (CAST(_N AS DECIMAL(38,0)) * _sx) AS BIGINT)"
            ).alias("f_vmr_ppm"),
        )
        .orderBy(F.col("f_vmr_ppm").desc(), F.col("tok").asc())
        .limit(_BURST_TOPK)
    )


ORACLE["q_burstiness"] = f"""
    WITH toks AS (
        SELECT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents
        ) WHERE length(tok) > 0
    ),
    per AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS _c
        FROM toks GROUP BY doc_id, tok
    ),
    stats AS (
        SELECT tok,
               CAST(SUM(_c) AS BIGINT) AS _sx,
               CAST(SUM(_c * _c) AS BIGINT) AS _sx2,
               CAST(COUNT(*) AS BIGINT) AS f_df
        FROM per GROUP BY tok
        HAVING COUNT(*) >= {_BURST_MIN_DF}
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS _N FROM documents)
    SELECT tok, f_df, _sx AS f_tf,
           CAST((CAST(_N AS HUGEINT) * _sx2 - CAST(_sx AS HUGEINT) * _sx)
                * 1000000 // (CAST(_N AS HUGEINT) * _sx) AS BIGINT)
               AS f_vmr_ppm
    FROM stats CROSS JOIN n
    ORDER BY f_vmr_ppm DESC, tok ASC
    LIMIT {_BURST_TOPK}
"""
QUERIES["q_burstiness"] = q_burstiness


# ---------------------------------------------------------------------------
# Zipf tail diagnostic (frequency-octave type/mass spectrum)
# ---------------------------------------------------------------------------


def q_zipf_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF TAIL diagnostic, ORACLE-GATED — the frequency-OCTAVE
    spectrum of the corpus vocabulary: per octave ⌊log2 tf⌋ (the
    q_doc_surprisal ``length(bin(tf)) − 1`` spelling), how many types
    land there and how much token mass they carry (ppm). A healthy
    natural-language corpus halves its type count per octave; a
    template-heavy or synthetic corpus shows a bulge — the
    corpus-health dial beside q_vocab_coverage's head-mass cuts.

    Scale: one corpus token-frequency agg (map-side combinable) →
    octave rollup over the VOCAB-sized frame → ~30 output rows (int64
    tf caps the octave domain BY CONSTRUCTION); total mass is a 1-row
    broadcast."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0)
    freq = toks.groupBy("tok").agg(F.count("*").cast("long").alias("_tf"))
    octv = freq.select(
        F.expr("CAST(length(bin(_tf)) - 1 AS BIGINT)").alias("f_octave"),
        "_tf",
    ).groupBy("f_octave").agg(
        F.count("*").cast("long").alias("f_types"),
        F.sum("_tf").cast("long").alias("f_mass"),
    )
    tot = freq.agg(F.sum("_tf").cast("long").alias("_T"))
    return octv.crossJoin(F.broadcast(tot)).select(
        "f_octave",
        "f_types",
        "f_mass",
        F.expr("CAST(f_mass * 1000000 DIV _T AS BIGINT)").alias(
            "f_mass_ppm"
        ),
    )


ORACLE["q_zipf_tail"] = """
    WITH toks AS (
        SELECT tok FROM (
            SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents
        ) WHERE length(tok) > 0
    ),
    freq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS _tf FROM toks GROUP BY tok
    ),
    octv AS (
        SELECT CAST(length(bin(_tf)) - 1 AS BIGINT) AS f_octave,
               CAST(COUNT(*) AS BIGINT) AS f_types,
               CAST(SUM(_tf) AS BIGINT) AS f_mass
        FROM freq GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(_tf) AS BIGINT) AS _T FROM freq)
    SELECT f_octave, f_types, f_mass,
           CAST(f_mass * 1000000 // _T AS BIGINT) AS f_mass_ppm
    FROM octv CROSS JOIN tot
"""
QUERIES["q_zipf_tail"] = q_zipf_tail
