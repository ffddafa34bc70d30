"""Deduplication operators.

``lww_dedup`` is the CDC engine's core: last-writer-wins per key on a
lexicographic (ts, lsn) order — the deterministic replacement for the
reference's arrival-order First/Last aggregates
(/root/reference/src/transform/common.rs:318-323), which are
nondeterministic by HashMap iteration.

Physical strategy: ``max_by(struct(all_cols), struct(order_cols))``
grouped by key. Unlike a row_number() window (sort + single reducer per
key), max_by is an associative aggregate, so Spark computes it with a
partial (map-side) aggregation before the shuffle — each input partition
forwards at most one candidate row per key it saw. For a hot key the
shuffle volume is O(#partitions), not O(#events). The optional
``salt_buckets`` adds an explicit two-stage reduction on top for the
pathological single-key storm: stage 1 groups by (key, salt) where salt
is derived from lsn, stage 2 merges the per-salt winners. Associativity
of max_by makes the two-stage result identical to the one-stage result.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

_SALT = "__salt"
_ROW = "__row"


#: per-key event-stats columns emitted by ``with_stats=True`` dedup:
#: exact count / min / max of the fine order column (lsn) over ALL
#: events of the key — not just the winner. Because the table bucket is
#: a pure function of the key, per-BUCKET batch stats (event counts, LSN
#: range — lineage + the merge's skew plan) reduce to a tiny second-level
#: aggregation over the already-materialized winners, eliminating the
#: separate full prescan pass the apply path once ran per microbatch.
STATS_COLS = ("__n_events", "__min_lsn", "__max_lsn")


def _stats_aggs(fine_col: str) -> list[F.Column]:
    return [
        F.count(F.lit(1)).alias(STATS_COLS[0]),
        F.min(fine_col).alias(STATS_COLS[1]),
        F.max(fine_col).alias(STATS_COLS[2]),
    ]


def _pick_winner(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    with_stats: bool = False,
) -> DataFrame:
    # max(struct(order_cols..., payload...)) — lexicographic struct
    # ordering on the leading order columns picks the LWW winner; the
    # payload fields never decide because (order_cols) is unique per key.
    # Chosen over max_by(struct, struct): Max is a declarative aggregate
    # (stays in hash-agg codegen), while max_by is object-hash and falls
    # back to sort-based aggregation beyond 128 keys per partition.
    payload = [c for c in df.columns if c not in keys]
    ordered = list(order_cols) + [c for c in payload if c not in order_cols]
    aggs = [F.max(F.struct(*[F.col(c) for c in ordered])).alias(_ROW)]
    if with_stats:
        aggs += _stats_aggs(order_cols[-1])
    agg = df.groupBy(*keys).agg(*aggs)
    out = [F.col(f"{_ROW}.{c}").alias(c) for c in payload]
    if with_stats:
        out += [F.col(c) for c in STATS_COLS]
    return agg.select(*keys, *out)


def lww_dedup(
    df: DataFrame,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    order_cols: Sequence[str] = ("ts", "lsn"),
    salt_buckets: int = 0,
    with_stats: bool = False,
) -> DataFrame:
    """Keep, per key, the single row with the greatest (order_cols) tuple.

    All columns are preserved. order_cols must be non-null and, jointly,
    unique per key (lsn is globally unique) so the winner is
    deterministic. ``with_stats`` appends the STATS_COLS per-key event
    stats (count + min/max of the fine order column over ALL events of
    the key) in the same aggregation — three extra fixed-width buffers,
    no extra pass.
    """
    keys = list(keys)
    order_cols = list(order_cols)
    if salt_buckets and salt_buckets > 1:
        salted = df.withColumn(
            _SALT, F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(salt_buckets))
        )
        partial = _pick_winner(salted, keys + [_SALT], order_cols, with_stats)
        if not with_stats:
            return _pick_winner(partial.drop(_SALT), keys, order_cols)
        # second stage must MERGE the per-salt stats (sum counts,
        # min/min, max/max), not re-count the partial rows.
        payload = [
            c
            for c in partial.columns
            if c not in keys and c != _SALT and c not in STATS_COLS
        ]
        ordered = order_cols + [c for c in payload if c not in order_cols]
        agg = partial.groupBy(*keys).agg(
            F.max(F.struct(*[F.col(c) for c in ordered])).alias(_ROW),
            F.sum(STATS_COLS[0]).alias(STATS_COLS[0]),
            F.min(STATS_COLS[1]).alias(STATS_COLS[1]),
            F.max(STATS_COLS[2]).alias(STATS_COLS[2]),
        )
        return agg.select(
            *keys,
            *[F.col(f"{_ROW}.{c}").alias(c) for c in payload],
            *[F.col(c) for c in STATS_COLS],
        )
    return _pick_winner(df, keys, order_cols, with_stats)


def shingles(col, k: int = 5) -> F.Column:
    """Word k-shingles of a text column -> array<string> (lowercased)."""
    c = F.col(col) if isinstance(col, str) else col
    w = F.split(F.lower(F.trim(c)), r"\s+")
    n = F.size(w)
    idx = F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i, k)))


_MERSENNE31 = (1 << 31) - 1


def minhash_signature(col, num_hashes: int = 64, k: int = 5) -> F.Column:
    """MinHash signature (array<long>, one min per hash family member).

    The shingles are string-hashed ONCE (xxhash64, JVM-side), then the
    family members are cheap affine rehashes min((a_i*h + b_i) mod M31)
    over the precomputed hash array — 64 multiply-adds per shingle
    instead of 64 string hash passes (an order of magnitude faster).
    Operands are first reduced mod 2^31 so the arithmetic never
    overflows a long (ANSI mode safe). Deterministic: a_i/b_i derive
    from a fixed seeded generator."""
    import random

    rng = random.Random(0x5EED)
    coeffs = [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]
    a_vec = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    b_vec = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]

    @pandas_udf(T.ArrayType(T.LongType()))
    def _min_all(hs: pd.Series) -> pd.Series:
        # fully vectorized across the Arrow batch: flatten every doc's
        # shingle hashes into ONE matrix op (64 x total_shingles), then
        # per-doc mins via np.minimum.reduceat on the list offsets — no
        # per-document python loop (the round-1 version iterated docs,
        # which dominated the operator at corpus scale).
        n_h = len(a_vec)
        lens = np.fromiter(
            (0 if h is None else len(h) for h in hs), dtype=np.int64, count=len(hs)
        )
        if lens.sum() == 0:
            return pd.Series([[_MERSENNE31] * n_h] * len(hs))
        flat = np.concatenate(
            [np.asarray(h, dtype=np.int64) for h in hs if h is not None and len(h)]
        )[None, :]
        sig_flat = (a_vec * flat + b_vec) % _MERSENNE31  # (64, total)
        nonempty = lens > 0
        starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
        np.cumsum(lens[nonempty][:-1], out=starts[1:])
        mins = np.minimum.reduceat(sig_flat, starts, axis=1)  # (64, docs)
        out = np.full((len(hs), n_h), _MERSENNE31, dtype=np.int64)
        out[nonempty] = mins.T
        return pd.Series(list(out.tolist()))

    sh = shingles(col, k)
    base = F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE31)))
    # base hashes stay JVM-side (one xxhash64 pass over the shingles);
    # the 64 affine re-hashes + mins run as ONE numpy matmul-shaped op
    # per Arrow batch — Spark's interpreted higher-order lambdas cost
    # ~1us/element, which at 64 x shingles x docs dominates everything.
    return _min_all(base)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.7,
    cache_signatures: bool = True,
) -> DataFrame:
    """MinHash + LSH near-duplicate candidate pairs with estimated
    Jaccard >= threshold.

    shingle -> minhash -> band -> bucket-join: signatures are split into
    ``bands`` bands of num_hashes/bands rows each; docs sharing any
    band hash become candidates (standard S-curve selectivity). The
    candidate join is an equi-join on (band, band_hash) — shuffle is
    proportional to candidates, never O(n^2). Estimated Jaccard =
    fraction of matching signature positions.

    Shuffle discipline: the band explode and the candidate self-join
    carry ONLY (id, band, bhash) — 3 slim columns — and the id-pairs are
    deduplicated before the full signatures are joined back (once per
    side) for the Jaccard estimate. The two signature join-backs
    canonicalize to the same exchange, so ReuseExchange computes the
    signature subplan once; round 1 instead dragged the 64-long
    signature through every exploded band row and both sides of the
    candidate dedup (~16x signature bytes through the shuffle — the
    single most expensive query at sf0.1).

    ``cache_signatures`` persists the (id, signature) projection
    (MEMORY_AND_DISK) so the shingle hashing + 64-way min reduction —
    the compute-dominant stage — runs ONCE instead of once for the
    banding scan and once more per join-back side that escapes
    ReuseExchange. Signatures are ~520 bytes/doc, orders of magnitude
    smaller than the corpus; at a 10^10-doc scale a caller should
    instead materialize them as a table (and pass the result of a
    prior run), which is why the flag exists.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, deduplicated.
    """
    rows = num_hashes // bands
    # CPU-spread: signature hashing is compute-bound, and a small corpus
    # arrives as one byte-sized scan task — spread it across the cores
    # (size-gated no-op on large inputs).
    from etl_rs_spark.plans import spread_for_cpu

    sig = spread_for_cpu(df).select(
        F.col(id_col).alias("__id"),
        minhash_signature(text_col, num_hashes, shingle_k).alias("__sig"),
    )
    if cache_signatures:
        from pyspark import StorageLevel

        sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    banded = sig.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.element_at("__sig", b * rows + r + 1) for r in range(rows)]
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__b"),
    ).select("__id", "__b.band", "__b.bhash")

    left = banded.select(
        F.col("band"), F.col("bhash"), F.col("__id").alias("id_a")
    )
    right = banded.select(
        F.col("band"), F.col("bhash"), F.col("__id").alias("id_b")
    )
    cand = (
        left.join(right, ["band", "bhash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    with_sigs = cand.join(
        sig.select(F.col("__id").alias("id_a"), F.col("__sig").alias("sig_a")),
        "id_a",
    ).join(
        sig.select(F.col("__id").alias("id_b"), F.col("__sig").alias("sig_b")),
        "id_b",
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / F.lit(float(num_hashes))
    return (
        with_sigs.select("id_a", "id_b", F.round(est, 4).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )


def verify_pairs_exact_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Exact-precision stage after an LSH recall stage: compute the
    TRUE shingle Jaccard for each CANDIDATE pair only — two hash joins
    of the per-doc distinct-shingle arrays onto the pair list plus one
    array_intersect per pair row. Cost is O(pairs), never a postings
    self-join, so it is immune to hot grams entirely; this is the
    production precision filter that makes LSH candidates safe to act
    on (LSH banding gives recall, this gives precision). Returns
    (src, dst, jaccard) for pairs at or above ``threshold``."""
    # shingle only the docs that appear in a candidate pair: at corpus
    # scale candidates are sparse, and the semi-join (pushed below the
    # projection by PushDownLeftSemiAntiJoin) keeps the expensive
    # shingle pass O(candidate docs), not O(corpus)
    needed = (
        pairs.select(F.col(src).alias("__vid"))
        .unionByName(pairs.select(F.col(dst).alias("__vid")))
        .distinct()
    )
    # CPU-spread (size-gated no-op on large inputs): the shingle
    # expression is interpreted per-element work, and a small corpus
    # arrives as one scan task — without the spread the whole shingle
    # pass runs on ONE core (measured 33s single-task vs ~1s spread at
    # 50k docs x 32 cores).
    from etl_rs_spark.plans import spread_for_cpu

    sets = spread_for_cpu(df).select(
        F.col(id_col).alias("__vid"),
        F.array_distinct(shingles(text_col, k)).alias("__sh"),
    ).join(needed, "__vid", "left_semi")
    j = pairs.select(src, dst).join(
        sets.withColumnsRenamed({"__vid": src, "__sh": "__sh_a"}), src
    ).join(
        sets.withColumnsRenamed({"__vid": dst, "__sh": "__sh_b"}), dst
    )
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size("__sh_a") + F.size("__sh_b") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        j.select(src, dst, F.round(jac, 4).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify_threshold: float | None = None,
    **kwargs,
) -> DataFrame:
    """Drop near-duplicates: for every LSH pair above threshold, the
    larger id is removed (single-pass greedy; for full transitive
    clustering run connected components over the pairs).

    ``verify_threshold``: when set, LSH candidates are re-checked with
    the EXACT shingle Jaccard (``verify_pairs_exact_jaccard``, O(pairs))
    and only pairs at or above it count — LSH provides recall, the
    verify stage restores precision, so banding false positives can no
    longer delete a non-duplicate document."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, **kwargs)
    if verify_threshold is not None:
        pairs = verify_pairs_exact_jaccard(
            df,
            pairs,
            id_col,
            text_col,
            k=kwargs.get("shingle_k", 5),
            threshold=verify_threshold,
        )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def simhash(col, bits: int = 64) -> F.Column:
    """SimHash of a text column, as a signed 64-bit long. Per token the
    64-bit xxhash votes +1/-1 per bit position; the sign of each summed
    position forms the fingerprint.

    Token hashing stays JVM-side (one xxhash64 pass); the 64-bit vote
    tally runs as one numpy bit-unpack + segmented reduce per Arrow
    batch. The round-1 version folded tokens x 64 masks through Spark's
    INTERPRETED higher-order lambdas (~1us per element) — correct, but
    the per-element interpreter cost dominated at corpus scale, the same
    pathology the minhash signature had."""
    assert bits == 64, "vectorized tally is fixed at 64 bits"
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(F.lower(F.trim(c)), r"\s+")
    hashes = F.transform(words, lambda w: F.xxhash64(w))

    @pandas_udf(T.LongType())
    def _tally(hs: pd.Series) -> pd.Series:
        lens = np.fromiter(
            (0 if h is None else len(h) for h in hs), dtype=np.int64, count=len(hs)
        )
        out = np.zeros(len(hs), dtype=np.uint64)
        nonempty = lens > 0
        if nonempty.any():
            flat = np.concatenate(
                [np.asarray(h, dtype=np.int64) for h in hs if h is not None and len(h)]
            ).view(np.uint64)
            # (total_tokens, 64) +1/-1 votes, segment-summed per doc
            votes = (
                ((flat[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(
                    np.int32
                )
                * 2
                - 1
            )
            starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
            np.cumsum(lens[nonempty][:-1], out=starts[1:])
            counts = np.add.reduceat(votes, starts, axis=0)  # (docs, 64)
            fps = ((counts > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
                axis=1, dtype=np.uint64
            )
            out[nonempty] = fps
        res = pd.Series(out.view(np.int64))
        return res.mask(pd.Series([h is None for h in hs]), None)

    return _tally(hashes)


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= max_hamming.

    Pigeonhole banding: a 64-bit fingerprint is split into ``bands``
    chunks; any pair within max_hamming < bands must agree exactly on at
    least one chunk, so candidates come from equi-joins on chunk values —
    no O(n^2) compare. Verification = popcount(xor) <= max_hamming.

    The pigeonhole argument REQUIRES ``max_hamming < bands`` (a pair
    with >= bands differing bits can differ in every chunk and would
    silently be missed) and ``bands`` to divide 64 evenly; both are
    enforced here rather than degrading recall silently.
    """
    if not 1 <= bands <= 64 or 64 % bands != 0:
        raise ValueError(
            f"bands must divide 64 (got {bands}); use 1, 2, 4, 8, 16, "
            "32 or 64"
        )
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}): "
            "the pigeonhole guarantee (some chunk matches exactly) "
            "only holds when fewer bits differ than there are chunks; "
            "raise bands or lower max_hamming"
        )
    width = 64 // bands
    from etl_rs_spark.plans import spread_for_cpu

    fp = spread_for_cpu(df).select(
        F.col(id_col).alias("__id"), simhash(text_col).alias("__fp")
    )
    chunks = fp.select(
        "__id",
        "__fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("__fp", b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__c"),
    ).select("__id", "__fp", "__c.band", "__c.chunk")
    left = chunks.select("band", "chunk", F.col("__id").alias("id_a"), F.col("__fp").alias("fp_a"))
    right = chunks.select("band", "chunk", F.col("__id").alias("id_b"), F.col("__fp").alias("fp_b"))
    cand = (
        left.join(right, ["band", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def auto_doc_freq_cap(n_docs: int) -> int:
    """Data-derived hot-gram cap: max(16, ceil(sqrt(n_docs))). A gram at
    document frequency c contributes ~c^2/2 candidate pairs, so capping
    at sqrt(N) bounds the hottest gram's contribution at ~N/2 pairs and
    the whole join at O(postings * sqrt(N)) instead of O(postings^2) —
    the difference between a stop-phrase corpus finishing and not, at
    10^10 docs."""
    import math

    return max(16, math.isqrt(max(n_docs - 1, 0)) + 1)


def _ngram_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_doc_freq: int | str | None,
    n_docs: int | None = None,
) -> DataFrame:
    """(__id, gram) postings, with hot grams dropped when a cap is set.

    max_doc_freq="auto" derives ``auto_doc_freq_cap``: from ``n_docs``
    when the caller already knows the corpus size (manifest row counts
    on the CDC path — zero extra work), otherwise INSIDE the plan — a
    count(*) subquery broadcast into the hot-gram filter, so the cap
    rides the same action as the postings job instead of costing a
    separate eager ``df.count()``."""
    # the generator expression stays INLINE in the explode: naming the
    # array in a Project first lets InferFiltersFromGenerate derive a
    # size(...) > 0 filter that filter-pushdown then sinks BELOW the
    # CPU-spread exchange — the whole shingle pass would run inside the
    # (often single-task) scan stage (measured 27s vs 3s at sf1.0)
    from etl_rs_spark.plans import spread_for_cpu

    grams = spread_for_cpu(df).select(
        F.col(id_col).alias("__id"),
        F.explode(F.array_distinct(shingles(text_col, n))).alias("g"),
    )
    hot = _hot_grams(df, grams, max_doc_freq, n_docs)
    if hot is not None:
        grams = grams.join(hot, "g", "left_anti")
    return grams


def _ngram_sets(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(__id, __gs: array<string>) — each doc's DISTINCT n-gram set as
    one array row, CPU-spread (the shingle expression is interpreted
    per-element work; without the spread a one-row-group parquet input
    runs the whole pass on one core)."""
    from etl_rs_spark.plans import spread_for_cpu

    return spread_for_cpu(df).select(
        F.col(id_col).alias("__id"),
        F.array_distinct(shingles(text_col, n)).alias("__gs"),
    )


def _hot_grams(
    df: DataFrame,
    grams: DataFrame,
    max_doc_freq: int | str | None,
    n_docs: int | None = None,
) -> DataFrame | None:
    """Grams whose document frequency exceeds the cap (None = no cap).

    max_doc_freq="auto" derives ``auto_doc_freq_cap``: from ``n_docs``
    when the caller already knows the corpus size (manifest row counts
    on the CDC path — zero extra work), otherwise INSIDE the plan — a
    count(*) subquery broadcast into the hot-gram filter, so the cap
    rides the same action as the postings job instead of costing a
    separate eager ``df.count()``."""
    if max_doc_freq == "auto" and n_docs is not None:
        max_doc_freq = auto_doc_freq_cap(n_docs)
    if max_doc_freq is None:
        return None
    if max_doc_freq == "auto":
        # SQL twin of auto_doc_freq_cap — greatest(16, ceil(sqrt(N))) —
        # as a SCALAR SUBQUERY, not a 1-row broadcast join: a subquery
        # executes as its own tiny pre-stage and adds no join node to
        # the plan (the entries assert no BroadcastNestedLoopJoin ever
        # appears). The temp view only anchors analysis; it is dropped
        # immediately after (plans bind at analysis, not execution).
        import uuid as _uuid

        view = f"__ngram_cap_src_{_uuid.uuid4().hex}"
        df.createOrReplaceTempView(view)
        try:
            cap = F.expr(
                f"(SELECT greatest(16, CAST(ceil(sqrt(count(1))) AS "
                f"BIGINT)) FROM {view})"
            )
            hot = (
                grams.groupBy("g")
                .agg(F.count("*").alias("__df"))
                .where(F.col("__df") > cap)
                .select("g")
            )
        finally:
            df.sparkSession.catalog.dropTempView(view)
        return hot
    return (
        grams.groupBy("g")
        .agg(F.count("*").alias("__df"))
        .where(F.col("__df") > int(max_doc_freq))
        .select("g")
    )


def _pair_counts_blocked(
    sets: DataFrame,
    hot: DataFrame | None,
    threshold: float,
    blocks: int,
) -> DataFrame:
    """Exact per-pair intersection counts for a corpus of per-doc
    distinct-gram sets — the block-native replacement for the postings
    self-join + 10^8-row pair aggregation.

    Docs are hashed into ``blocks`` disjoint blocks; every unordered
    block pair (i <= j) is one task, and every doc row (__id,
    __gs: array<string>) is replicated to the ``blocks`` tasks whose
    pair involves its block — so each unordered DOC pair is counted in
    exactly one task, from the full gram sets of both docs. The gram
    strings cross the Python boundary as Arrow list buffers (50-100x
    fewer rows than exploded postings; dictionary_encode turns them
    into integer codes at C speed without materializing Python
    strings). Inside the task the candidate generation + counting is
    one vectorized numpy pass (grouped cross-product via offset
    arithmetic, bincount/np.unique on packed pair codes) instead of
    10^8 interpreted join/agg row updates, and only pairs at or above
    ``threshold - 1e-4`` (a conservative float guard; the caller
    re-applies the exact round()-ed threshold in Spark SQL) are
    emitted — the candidate pairs never cross an exchange at all.

    ``hot`` (optional): grams over the document-frequency cap. They are
    delivered to every task as sentinel rows (__blk = -1) and dropped
    from both intersections and set sizes in-kernel — byte-identical to
    the upstream anti-join the postings-join strategy uses, because
    sizes are counted after the drop in both.

    Cost model vs the postings join: the join shuffles
    O(postings + candidate_pairs) rows; this scheme shuffles
    O(blocks * corpus_bytes) and generates candidates at native speed
    in-task. It wins when replication (blocks) is smaller than the
    corpus's mean posting document-frequency (dense-overlap corpora —
    exactly when the join's candidate volume explodes) and each block
    pair fits a task; the caller gates on estimated input size and
    falls back to the join otherwise.

    Returns (id_a, id_b, common, sz_a, sz_b) with id_a < id_b.
    """
    id_type = sets.schema["__id"].dataType
    id_ddl = id_type.simpleString()
    task_keys = F.array(
        *[
            F.struct(
                F.least(F.col("__blk"), F.lit(t)).alias("i"),
                F.greatest(F.col("__blk"), F.lit(t)).alias("j"),
            )
            for t in range(blocks)
        ]
    )
    # null doc ids can never appear in a result pair (the join strategy
    # drops them at the null-propagating id_a < id_b filter); drop them
    # up front so the kernel's value sort stays total-ordered
    rep = (
        sets.where(F.col("__id").isNotNull())
        .withColumn(
            "__blk",
            F.pmod(F.xxhash64(F.col("__id")), F.lit(blocks)).cast("int"),
        )
        .select("__id", "__gs", "__blk", F.explode(task_keys).alias("__t"))
        .select(
            "__id",
            "__gs",
            "__blk",
            F.col("__t.i").alias("i"),
            F.col("__t.j").alias("j"),
        )
    )
    if hot is not None:
        all_keys = F.array(
            *[
                F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
                for i in range(blocks)
                for j in range(i, blocks)
            ]
        )
        hot_rep = hot.select(
            F.lit(None).cast(id_ddl).alias("__id"),
            F.array("g").alias("__gs"),
            F.lit(-1).cast("int").alias("__blk"),
            F.explode(all_keys).alias("__t"),
        ).select(
            "__id",
            "__gs",
            "__blk",
            F.col("__t.i").alias("i"),
            F.col("__t.j").alias("j"),
        )
        rep = rep.unionByName(hot_rep)
    thr = float(threshold) - 1e-4
    n_parts = blocks * (blocks + 1) // 2

    def _count_group(ids, blk, gcodes, i, j):
        """Pair counts for one (i, j) task; all inputs numpy (one row
        per POSTING: doc id, doc block, local integer gram code)."""

        def side(mask):
            # local codes ordered BY ID VALUE so code order == id order
            s_ids = ids[mask]
            s_g = gcodes[mask]
            uids = np.unique(s_ids)  # sorted
            codes = np.searchsorted(uids, s_ids)
            sizes = np.bincount(codes, minlength=len(uids))
            return s_g, codes, uids, sizes

        if i == j:
            lg, lc, luids, lsz = side(np.ones(len(ids), dtype=bool))
            rg, rc, ruids, rsz = lg, lc, luids, lsz
        else:
            lg, lc, luids, lsz = side(blk == i)
            rg, rc, ruids, rsz = side(blk == j)
        if len(luids) == 0 or len(ruids) == 0:
            return None
        # sort both posting lists by gram code; grouped cross product
        lo = np.argsort(lg, kind="stable")
        lg, lc = lg[lo], lc[lo]
        ro = np.argsort(rg, kind="stable")
        rg, rc = rg[ro], rc[ro]
        # right-side group table: for each gram code, [start, len)
        r_unique, r_start, r_len = np.unique(
            rg, return_index=True, return_counts=True
        )
        # for each left posting: the right group of its gram (if any)
        pos = np.searchsorted(r_unique, lg)
        pos_c = np.clip(pos, 0, len(r_unique) - 1)
        has = (pos < len(r_unique)) & (r_unique[pos_c] == lg)
        lc_m = lc[has]
        starts = r_start[pos_c[has]]
        lens = r_len[pos_c[has]]
        total = int(lens.sum())
        if total == 0:
            return None
        # vectorized ragged ranges: for left element k emit right
        # indices starts[k] .. starts[k]+lens[k]
        off = np.cumsum(lens) - lens
        ridx = (
            np.arange(total, dtype=np.int64)
            - np.repeat(off, lens)
            + np.repeat(starts, lens)
        )
        pair_l = np.repeat(lc_m, lens)
        pair_r = rc[ridx]
        if i == j:
            keep = pair_l < pair_r
            pair_l, pair_r = pair_l[keep], pair_r[keep]
            if len(pair_l) == 0:
                return None
        pk = pair_l.astype(np.int64) * np.int64(len(ruids)) + pair_r
        # run-length counting: bincount when the dense key space is
        # small (fastest), sort-based np.unique otherwise
        if len(luids) * len(ruids) <= 1 << 26:
            cnt = np.bincount(pk, minlength=len(luids) * len(ruids))
            upk = np.flatnonzero(cnt)
            common = cnt[upk]
        else:
            upk, common = np.unique(pk, return_counts=True)
        a = (upk // len(ruids)).astype(np.int64)
        b = (upk % len(ruids)).astype(np.int64)
        sa = lsz[a]
        sb = rsz[b]
        ja = common / (sa + sb - common)
        keep = ja >= thr
        a, b, common, sa, sb = a[keep], b[keep], common[keep], sa[keep], sb[keep]
        if len(a) == 0:
            return None
        ida = luids[a]
        idb = ruids[b]
        if i != j:
            # blocks are value-disjoint but unordered: orient by value
            swap = ida > idb
            ida2 = np.where(swap, idb, ida)
            idb2 = np.where(swap, ida, idb)
            sa2 = np.where(swap, sb, sa)
            sb2 = np.where(swap, sa, sb)
            ida, idb, sa, sb = ida2, idb2, sa2, sb2
        return ida, idb, common.astype(np.int64), sa.astype(np.int64), sb.astype(np.int64)

    def _count_partition(batches):
        # mapInArrow (not applyInPandas): the gram strings stay in
        # Arrow buffers end to end — flatten + dictionary_encode yield
        # integer codes at C speed without materializing millions of
        # Python string objects (measured: the pandas group boundary
        # alone cost more than the whole pair computation)
        import pyarrow as pa

        tabs = list(batches)
        if not tabs:
            return
        tab = pa.Table.from_batches(tabs)
        pa_id_type = tab.schema.field("__id").type
        out_schema = pa.schema(
            [
                ("id_a", pa_id_type),
                ("id_b", pa_id_type),
                ("common", pa.int64()),
                ("sz_a", pa.int64()),
                ("sz_b", pa.int64()),
            ]
        )
        # object dtype for string ids: python str comparison is code-
        # point order == Spark's UTF8 binary order, so the kernel's
        # value sort / orientation matches the join strategy's
        # id_a < id_b semantics for every id type
        ids = tab.column("__id").to_numpy(zero_copy_only=False)
        blk = tab.column("__blk").to_numpy()
        ii = tab.column("i").to_numpy()
        jj = tab.column("j").to_numpy()
        gs = tab.column("__gs").combine_chunks()
        lens = gs.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
        lens = lens.astype(np.int64)
        # one dictionary over the whole partition's flattened grams
        gcodes_all = gs.flatten().dictionary_encode().indices.to_numpy()
        row_of = np.repeat(np.arange(len(ids), dtype=np.int64), lens)
        p_ids = ids[row_of]
        p_blk = blk[row_of]
        p_key = ii[row_of].astype(np.int64) * 4096 + jj[row_of]
        # hot grams (sentinel __blk == -1): drop their postings (and
        # the sentinels themselves) everywhere in this partition
        hot_mask = p_blk == -1
        if hot_mask.any():
            hot_codes = np.unique(gcodes_all[hot_mask])
            keep = ~np.isin(gcodes_all, hot_codes)
            p_ids, p_blk, p_key, gcodes_all = (
                p_ids[keep], p_blk[keep], p_key[keep], gcodes_all[keep]
            )
        for k in np.unique(p_key):
            m = p_key == k
            res = _count_group(
                p_ids[m], p_blk[m], gcodes_all[m], int(k // 4096), int(k % 4096)
            )
            if res is None:
                continue
            ida, idb, common, sa, sb = res
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ida, pa_id_type),
                    pa.array(idb, pa_id_type),
                    pa.array(common, pa.int64()),
                    pa.array(sa, pa.int64()),
                    pa.array(sb, pa.int64()),
                ],
                schema=out_schema,
            )

    return rep.repartition(n_parts, "i", "j").mapInArrow(
        _count_partition,
        f"id_a {id_ddl}, id_b {id_ddl}, common long, sz_a long, sz_b long",
    )


#: gate for the blocked pair-counting strategy: replicated postings
#: (blocks x estimated input bytes) must stay under this budget, else
#: the shuffle-bounded postings join is the right plan. Overridable for
#: cluster deployments via ETL_NGRAM_BLOCKED_BUDGET (bytes).
_BLOCKED_BUDGET_BYTES = 8 << 30


def _pick_blocks(spark) -> int:
    """Smallest B with B(B+1)/2 >= 0.6*parallelism. Replication (and so
    shuffle + Arrow bytes) grows linearly with B while per-task compute
    is cheap, so slightly UNDER-filling the cores beats perfect task
    smoothing (measured at 32 cores: B=6/21 tasks ~6.2s vs B=11/66
    tasks ~10.9s on the same corpus)."""
    par = max(spark.sparkContext.defaultParallelism, 2)
    b = 3
    while b * (b + 1) // 2 < 0.6 * par:
        b += 1
    return b


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | str | None = None,
    n_docs: int | None = None,
    pair_strategy: str = "auto",
) -> DataFrame:
    """EXACT word-n-gram Jaccard similarity pairs >= threshold, as a
    set-similarity join: explode distinct n-grams, equi-join on the
    n-gram (shuffle ~ total postings, candidates ~ co-occurrence), count
    intersections, compute |A∩B| / (|A|+|B|-|A∩B|). The exact
    counterpart to the MinHash estimate — use on bounded corpora or as
    the verification stage after LSH.

    ``max_doc_freq``: the 100-TB guard. A single stop-phrase gram
    ("of the united states") shared by k docs contributes k^2/2
    candidate rows to the self-join — quadratic in the hottest gram.
    Setting a document-frequency cap drops grams hotter than the cap
    BEFORE both the postings join and the set-size counts, so the
    result is the exact Jaccard over the capped gram universe: hot
    grams carry ~zero similarity signal (that is what makes them hot),
    while the join cost becomes bounded by cap * n_grams. None = exact
    over all grams (bounded corpora / verification oracles);
    ``"auto"`` = ``auto_doc_freq_cap(n_docs)``, the default on the
    scale path (``ngram_jaccard_pairs_capped``)."""
    spark = df.sparkSession
    strategy = pair_strategy
    if strategy == "auto":
        # blocked native counting replicates the postings ``blocks``
        # times through one exchange — a clear win while that stays
        # bounded (dense-overlap corpora make the join's candidate
        # volume explode), and wrong for corpora so large that
        # replication outgrows the budget; those keep the
        # shuffle-bounded postings join.
        import os as _os

        from etl_rs_spark.plans import plan_size_bytes

        budget = int(
            _os.environ.get("ETL_NGRAM_BLOCKED_BUDGET", _BLOCKED_BUDGET_BYTES)
        )
        try:
            est = plan_size_bytes(df)
        except Exception:
            est = 1 << 62
        # postings are ~4x the raw text bytes (one ~3-word gram per
        # word, distinct-deduped); use the raw input estimate as proxy
        strategy = (
            "blocked"
            if est * 8 * _pick_blocks(spark) <= budget
            else "join"
        )
    if strategy == "blocked":
        sets = _ngram_sets(df, id_col, text_col, n)
        hot = None
        if max_doc_freq is not None:
            # one shingle pass for BOTH the doc-frequency counts and the
            # replicated sets: persist the gram arrays (bounded — the
            # blocked strategy is size-gated) so the hot-gram subplan
            # explodes CACHED arrays instead of re-shingling the corpus,
            # and the explode-inferred size() filter cannot sink the
            # shingle expression below the spread exchange (the cache
            # boundary stops pushdown).
            from pyspark import StorageLevel

            sets = sets.persist(StorageLevel.MEMORY_AND_DISK)
            hot = _hot_grams(
                df,
                sets.select("__id", F.explode("__gs").alias("g")),
                max_doc_freq,
                n_docs,
            )
        counted = _pair_counts_blocked(
            sets, hot, threshold, _pick_blocks(spark)
        )
        out = counted.select(
            "id_a",
            "id_b",
            F.round(
                F.col("common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
                4,
            ).alias("jaccard"),
        )
        return out.where(F.col("jaccard") >= threshold)
    grams = _ngram_postings(df, id_col, text_col, n, max_doc_freq, n_docs)
    sizes = grams.groupBy("__id").agg(F.count("*").alias("sz"))
    a = grams.select(F.col("__id").alias("id_a"), "g")
    b = grams.select(F.col("__id").alias("id_b"), "g")
    inter = (
        a.join(b, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({"__id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"__id": "id_b", "sz": "sz_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
                4,
            ).alias("jaccard"),
        )
    )
    return out.where(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs_capped(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    n_docs: int | None = None,
) -> DataFrame:
    """The scale-path spelling of ``ngram_jaccard_pairs``: the hot-gram
    cap defaults ON, derived from the data (max(16, ceil(sqrt(n_docs)))).
    Exactness trade, explicitly: jaccard is exact over the CAPPED gram
    universe — grams shared by more than the cap's worth of documents
    (stop phrases, boilerplate) are excluded from both intersections and
    set sizes. Near-duplicate pairs share predominantly RARE grams, so
    planted/real dups survive; what the cap removes is precisely the
    quadratic-cost, near-zero-signal tail. Use the uncapped form only
    for bounded corpora or oracle verification."""
    return ngram_jaccard_pairs(
        df, id_col, text_col, n, threshold, max_doc_freq="auto",
        n_docs=n_docs,
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 12,
    seed: int = 42,
    exact: bool = False,
    tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= threshold).

    Scale path (default): multi-table random-hyperplane LSH — per table,
    ``planes`` signed projections form a bucket key; only same-bucket
    pairs are compared exactly, and a pair is a candidate if it collides
    in ANY of the ``tables`` independent tables (OR-amplification). A
    pair at angle theta collides per table with (1 - theta/pi)^planes,
    so L tables lift recall to 1-(1-p)^L — e.g. a cosine-0.99 pair:
    0.57/table -> 0.97 at L=4 — while the single-table round-1 variant
    had a recall cliff. exact=True does the full O(n^2) self-join —
    correctness oracle for bounded inputs.

    Shuffle discipline (same as minhash_lsh_pairs): the table/bucket
    explode and the candidate self-join carry ONLY (id, table, bucket);
    vectors are joined back once per side after the id-pairs are
    deduplicated, so the L-fold banding never multiplies vector bytes
    through an exchange.
    """
    from etl_rs_spark.functions.similarity import cosine

    if exact:
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        cand = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
        sim = cosine(F.col("va"), F.col("vb"))
        return cand.select(
            "id_a", "id_b", F.round(sim, 4).alias("cosine")
        ).where(F.col("cosine") >= threshold)

    import numpy as np

    # one tiny driver action to learn the vector dimensionality (not in
    # the schema for array<float>); every other step is fully planned.
    dim = len(df.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    hyper = rng.standard_normal((tables, planes, dim)).astype("float64")

    # ALL tables' buckets in one Arrow-batched matmul: (batch, dim) @
    # (dim, tables*planes) -> sign bits -> per-table integer bucket ids.
    # Spark's interpreted higher-order lambdas cost ~1us/element, which
    # at tables*planes*dim ops/row made the sign computation the whole
    # operator; one numpy pass is ~100x cheaper and bit-identical (the
    # sign of a dot product is stable under summation-order change at
    # these magnitudes only with exact ties — random hyperplanes make a
    # tie measure-zero).
    proj = hyper.reshape(tables * planes, dim).T.copy()  # (dim, T*P)
    pows = (1 << np.arange(planes, dtype=np.int64))[::-1].copy()

    @pandas_udf(T.ArrayType(T.LongType()))
    def _buckets(vs: pd.Series) -> pd.Series:
        n = len(vs)
        X = np.zeros((n, dim), dtype=np.float64)
        ok = np.zeros(n, dtype=bool)
        for i, v in enumerate(vs):
            if v is not None and len(v) == dim:
                X[i] = v
                ok[i] = True
        bits = (X @ proj) > 0  # (n, T*P)
        ids = (
            bits.reshape(n, tables, planes).astype(np.int64) @ pows
        )  # (n, tables)
        ids[~ok] = -1  # null/malformed vectors collide only together
        return pd.Series(list(ids.tolist()))

    keyed = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    banded = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(_buckets(F.col(vec_col))).alias("t", "bk"),
    )
    a = banded.select("t", "bk", F.col("__id").alias("id_a"))
    b = banded.select("t", "bk", F.col("__id").alias("id_b"))
    cand = (
        a.join(b, ["t", "bk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    with_vecs = cand.join(
        keyed.select(F.col("__id").alias("id_a"), F.col("__v").alias("va")), "id_a"
    ).join(
        keyed.select(F.col("__id").alias("id_b"), F.col("__v").alias("vb")), "id_b"
    )
    sim = cosine(F.col("va"), F.col("vb"))
    return with_vecs.select(
        "id_a", "id_b", F.round(sim, 4).alias("cosine")
    ).where(F.col("cosine") >= threshold)


def exact_dedup(
    df: DataFrame,
    on: Sequence[str],
    keep_order: Sequence[str] | None = None,
    ascending: bool = True,
) -> DataFrame:
    """Exact deduplication: one representative row per distinct value of
    ``on``. With keep_order, the kept row is the min (ascending) or max
    over those columns — deterministic, unlike DataFrame.dropDuplicates.
    Hash-groupBy with map-side partial aggregation; no window sort.
    """
    on = list(on)
    if keep_order is None:
        return df.dropDuplicates(on)
    payload = [c for c in df.columns if c not in on]
    pick = F.min_by if ascending else F.max_by
    agg = df.groupBy(*on).agg(
        pick(
            F.struct(*[F.col(c) for c in payload]),
            F.struct(*[F.col(c) for c in keep_order]),
        ).alias(_ROW)
    )
    return agg.select(*on, *[F.col(f"{_ROW}.{c}").alias(c) for c in payload])
