"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship CDC-state query on sf0.001;
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2 (each reading parquet from the given sf_dir through the
engine's operators); ``oracle_sql()`` gives the DuckDB-equivalent ANSI
SQL. Column names and rounding are matched pairwise so the driver's
order-insensitive value-hash comparison holds.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_rs_spark.functions.coercion import bool_flex, date_flex
from etl_rs_spark.operators.aggregate import aggregate
from etl_rs_spark.operators.dedup import exact_dedup, lww_dedup
from etl_rs_spark.operators import transforms as tr

SF0001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _event_split(spark: SparkSession, sf_dir: str) -> int:
    """max(event_id) // 2 — the batch split point the CDC lifecycle
    entries replay around. Answered from the parquet FOOTER statistics
    (guide §6: metadata questions deserve metadata answers — exact for
    an int64 column) instead of a scan-aggregate Spark job per entry;
    falls back to the aggregation when any row group lacks stats."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(f"{sf_dir}/events.parquet").metadata
        idx = md.schema.names.index("event_id")
        mx = None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            if st is None or not st.has_min_max:
                raise ValueError("row group without stats")
            mx = st.max if mx is None else max(mx, st.max)
        if mx is None:
            raise ValueError("no row groups")
        return int(mx) // 2
    except Exception:
        e = _t(spark, sf_dir, "events")
        return int(e.agg(F.max("event_id")).first()[0]) // 2


def _scratch_table(spark: SparkSession, prefix: str, ddl: str, **kw):
    """A fresh 8-bucket LakeTable at ``<dir>/t`` in a new scratch dir
    named ``<prefix>*`` (under ``SPARK_GRAFT_WORK_DIR`` when set) — the
    table each CDC/table-lifecycle entry replays into."""
    import tempfile

    from etl_rs_spark.sinks.lake import LakeTable

    work = tempfile.mkdtemp(prefix=prefix, dir=os.environ.get("SPARK_GRAFT_WORK_DIR"))
    return LakeTable.create(spark, f"{work}/t", ddl, num_buckets=8, **kw)


def _tc(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """CPU-spread variant of _t for PER-ROW-EXPENSIVE projections: the
    driver-generated parquet ships ONE row group per table, so any scan
    of it is a single task no matter the split size — an interpreted
    stopword/shingle pipeline then runs on one core of 32 (measured
    6.7s -> 0.9s on lang_id). NOT for aggregation-collapsing pipelines:
    a LWW dedup's map-side partial agg reduces 1M rows to ~15k inside
    the scan task, so spreading those costs a full-width shuffle for
    nothing (measured 0.94s plain vs 1.69s spread on cdc_apply_state).
    The size-gated repartition (plans.spread_for_cpu) is a no-op on
    inputs big enough to split naturally."""
    from etl_rs_spark.plans import spread_for_cpu

    return spread_for_cpu(_t(spark, sf_dir, name))


# --------------------------------------------------------------- queries --
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate operator (SURVEY.md §2.4) on lineitem — distributed
    hash agg with map-side combine; filter pushed to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-01")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.count("*").alias("count_order"),
    )


def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + select + computed map column (SURVEY.md §2.3)."""
    c = _t(spark, sf_dir, "customer")
    out = tr.filter_rows(
        c, (F.col("c_acctbal") > 5000) & (F.col("c_mktsegment") == "BUILDING")
    )
    out = tr.map_rows(out, {"bal_tier": F.floor(F.col("c_acctbal") / 1000).cast("int")})
    return tr.select_columns(out, ["c_custkey", "c_name", "bal_tier"])


def q_convert_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConvertTypes coercion cascade (SURVEY.md §1.3) over synthesized
    dirty strings: mixed-case booleans, dd/MM/yyyy dates, JSON-extracted
    numerics."""
    e = _t(spark, sf_dir, "events")
    dirty = e.select(
        F.col("event_id"),
        F.element_at(
            F.array(F.lit("TRUE"), F.lit("no"), F.lit("1"), F.lit("maybe")),
            (F.col("event_id") % 4 + 1).cast("int"),
        ).alias("active_raw"),
        F.date_format("ts", "dd/MM/yyyy").alias("edited_raw"),
        F.get_json_object("props", "$.k").alias("k_raw"),
    )
    return dirty.select(
        "event_id",
        bool_flex("active_raw").alias("active_bool"),
        date_flex("edited_raw").cast("string").alias("edited_date"),
        F.col("k_raw").cast("string").try_cast("long").alias("k_int"),
    )


def q_join_orders_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner join (SURVEY.md §2.5 — the reference declares Joiner but
    never implements it); customer side broadcast."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
    return j.groupBy("c_mktsegment").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no high-value order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    no_orders = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return no_orders.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers")
    )


def q_window_lww_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWW dedup — the engine's core operator (max_by with map-side
    partial agg, not a window sort): latest event per user."""
    e = _t(spark, sf_dir, "events")
    return lww_dedup(e, keys=["user_id"], order_cols=["ts", "event_id"]).select(
        "user_id", "event_id", "event_type", "value", "ts"
    )


def q_cdc_apply_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: CDC apply semantics over events-as-changelog — derive
    I/U/D ops, LWW per key on (ts, event_id), delete-wins-if-latest.
    Same code path as the table MERGE pre-stage (cdc/apply.py)."""
    e = _t(spark, sf_dir, "events").select(
        F.col("user_id"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "value",
        "ts",
        F.col("event_id").alias("lsn"),
    )
    winners = lww_dedup(e, keys=["user_id"], order_cols=["ts", "lsn"])
    return winners.where(F.col("op") != "D").select(
        "user_id", F.round("value", 2).alias("value"), "ts"
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content: deterministic keeper per distinct text."""
    d = _t(spark, sf_dir, "documents")
    kept = exact_dedup(
        d.select("doc_id", "text"), on=["text"], keep_order=["doc_id"]
    )
    per_text = d.groupBy("text").agg(F.count("*").alias("n_copies"))
    return kept.join(per_text, "text").select(
        F.col("doc_id").alias("keeper_id"), "n_copies"
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over documents (whitespace tokenizer), per lang."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens")
    )
    return toks.groupBy("lang").agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio + mean word length per source."""
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.trim("text"), r"\s+")
    stop_hits = F.size(
        F.filter(words, lambda w: w.isin("the", "a", "of", "and"))
    )
    per_doc = d.select(
        "source",
        (stop_hits / F.size(words)).alias("stop_ratio"),
        (F.length(F.regexp_replace("text", r"\s+", "")) / F.size(words)).alias(
            "mean_word_len"
        ),
    )
    return per_doc.groupBy("source").agg(
        F.round(F.avg("stop_ratio"), 4).alias("avg_stop_ratio"),
        F.round(F.avg("mean_word_len"), 4).alias("avg_word_len"),
        F.count("*").alias("n_docs"),
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embedding column — the exact
    baseline for similarity search; returns integer ranks (float-free
    output so the oracle hash is stable)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    cand = emb.where(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    dot = F.aggregate(
        F.zip_with("embedding", "qvec", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    sims = cand.select(
        "vec_id", (dot / (nrm(F.col("embedding")) * nrm(F.col("qvec")))).alias("sim")
    )
    w = sims.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(10)
    from pyspark.sql.window import Window

    return w.select(
        F.row_number()
        .over(Window.orderBy(F.col("sim").desc(), F.col("vec_id")))
        .alias("rank"),
        "vec_id",
    )


def q_agg_reference_naming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference AggregateTransform output naming {col}_{func}
    (/root/reference/src/transform/common.rs:363)."""
    e = _t(spark, sf_dir, "events")
    out = aggregate(e, ["event_type"], {"value": ["sum", "count", "average"]})
    return out.select(
        "event_type",
        F.round("value_sum", 2).alias("value_sum"),
        F.col("value_count"),
        F.round("value_average", 4).alias("value_average"),
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (SURVEY.md §2.6 — absent in the reference):
    segments of high-balance customers EXCEPT segments of customers with
    an open ('O') order, UNION the intersection count pattern."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    rich = c.where(F.col("c_acctbal") > 7000).select("c_custkey")
    open_o = o.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    only_rich = rich.exceptAll(rich.intersect(open_o)).withColumn(
        "kind", F.lit("rich_no_open")
    )
    both = rich.intersect(open_o).withColumn("kind", F.lit("rich_open"))
    return only_rich.unionByName(both).groupBy("kind").agg(
        F.count("*").alias("n")
    )


def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation (streaming/windows.py —
    the reference's docs-only windowing, done for real)."""
    from etl_rs_spark.streaming.windows import tumbling_window_agg

    e = _t(spark, sf_dir, "events")
    out = tumbling_window_agg(
        e,
        "ts",
        "1 hour",
        [
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        ],
        group_by=["event_type"],
    )
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        "event_type",
        "n_events",
        "value_sum",
    )


def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window aggregation per user (streaming/windows.py,
    Spark's native session_window) — oracled via the gaps-and-islands
    construction in SQL: a session breaks when the gap to the previous
    event is >= the timeout (Spark's session end = last event + gap,
    end-exclusive merge)."""
    from etl_rs_spark.streaming.windows import session_window_agg

    e = _t(spark, sf_dir, "events")
    out = session_window_agg(
        e,
        "ts",
        "30 minutes",
        [
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        ],
        group_by=["user_id"],
    )
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        F.col("window_end").cast("string").alias("window_end"),
        "user_id",
        "n_events",
        "value_sum",
    )


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs over documents (rows-only check: the
    hash family is engine-specific so no SQL oracle; the pytest suite
    verifies planted-duplicate recovery)."""
    from etl_rs_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, threshold=0.5)


def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints + per-band distribution (rows-only)."""
    from etl_rs_spark.operators.dedup import simhash

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", simhash("text").alias("fp"))


def q_minhash_exact_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH planted-duplicate recovery, oracle-checked: union the
    corpus with a perturbed copy of itself (uppercased, whitespace
    padding — raw text differs, normalized shingles identical), run the
    full LSH pipeline at threshold 1.0, and keep the planted
    (doc, copy) pairs. Identical shingle sets give identical 64-hash
    signatures, which share every LSH band, so recovery of ALL planted
    pairs at est_jaccard exactly 1.0 is deterministic — and
    SQL-expressible, putting the whole pipeline (shingle -> signature ->
    banding -> bucket join -> estimate) under the DuckDB value-hash
    oracle. (The unfiltered pair set is NOT oracle-able: near-identical
    corpus docs can collide on all 64 mins with probability (1-k/n)^64 —
    an estimator property, not a bug.) Fuzzy thresholds stay covered by
    tests/test_dedup_fuzzy.py."""
    from etl_rs_spark.operators.dedup import minhash_lsh_pairs

    # deterministic 1-in-10 sample: the planted-recovery property is
    # per-document, so checking every 10th doc proves the same pipeline
    # at a tenth of the signature cost (mirrored in the oracle SQL).
    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
    )
    copies = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit(" ")).alias("text"),
    )
    pairs = minhash_lsh_pairs(d.unionByName(copies), threshold=1.0)
    return pairs.where(F.col("id_b") == F.col("id_a") + 1000000).select(
        "id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID distribution. Oracle-checked: the stopword
    argmax (ties broken by max lang string) is mirrored exactly in
    DuckDB SQL."""
    from etl_rs_spark.functions.text import lang_id

    d = _tc(spark, sf_dir, "documents")
    return d.select(lang_id("text").alias("pred_lang")).groupBy(
        "pred_lang"
    ).agg(F.count("*").alias("n_docs"))


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score distribution. Oracle-checked: the
    weighted score formula is mirrored term-by-term in DuckDB SQL."""
    from etl_rs_spark.functions.text import quality_score

    d = _tc(spark, sf_dir, "documents")
    return d.select(
        (F.floor(quality_score("text") * 10) / 10).alias("q_bucket")
    ).groupBy("q_bucket").agg(F.count("*").alias("n_docs"))


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters: MinHash/LSH candidate pairs →
    distributed connected components (operators/cc.py, alternating
    large-star/small-star). Oracle-checked with planted CHAINS: every
    10th doc gets two perturbed copies, and the pair set is restricted
    to the links (base, +1M) and (+1M, +2M) — so the +2M copy reaches
    its cluster id ONLY through two hops of label propagation; a
    non-transitive pair-grouping fails the hash check."""
    from etl_rs_spark.operators.cc import connected_components
    from etl_rs_spark.operators.dedup import minhash_lsh_pairs

    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
    )
    c1 = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit(" ")).alias("text"),
    )
    c2 = d.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("   ")).alias("text"),
    )
    pairs = minhash_lsh_pairs(
        d.unionByName(c1).unionByName(c2), threshold=1.0
    )
    chain = pairs.where(
        (F.col("id_b") % 1000000 == F.col("id_a") % 1000000)
        & (F.col("id_b") - F.col("id_a") == 1000000)
    )
    return connected_components(chain)


def q_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming (applyInPandasWithState,
    streaming/stateful.py): per-user running totals maintained in the
    state store across microbatches, drained with availableNow. The
    counters are monotonic, so max() over the update-mode emissions
    equals the final state — which is exactly the batch aggregate the
    DuckDB oracle computes."""
    return _stateful_user_stats(spark, sf_dir, approx=False)


def q_stateful_user_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-state mode of the same operator: the state row holds
    a constant 4 KiB HLL sketch instead of the distinct set. On an
    enum-like distinct column the linear-counting estimate is EXACT
    (verified: all keys at this cardinality), so the approx path runs
    under the identical count(DISTINCT) oracle — same hash, constant
    state."""
    return _stateful_user_stats(spark, sf_dir, approx=True)


def _stateful_user_stats(
    spark: SparkSession, sf_dir: str, approx: bool
) -> DataFrame:
    import uuid

    from etl_rs_spark.streaming.stateful import running_group_stats

    import os
    import tempfile

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    qname = "stateful_user_stats_" + uuid.uuid4().hex[:8]
    # the streaming file source requires a DIRECTORY (testdata ships a
    # single file); expose it through a temp dir of symlinks
    stream_dir = tempfile.mkdtemp(prefix="stateful-src-")
    os.symlink(os.path.abspath(path), f"{stream_dir}/events.parquet")
    # watermarks require TIMESTAMP; testdata ts is TIMESTAMP_NTZ. The
    # session tz is pinned UTC (session.py), so the cast is value-exact
    # and is undone on the way out.
    src = (
        spark.readStream.schema(schema)
        .parquet(stream_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        # applyInPandasWithState is opaque to column pruning: ship only
        # the columns the state function reads (guide §4.1)
        .select("user_id", "event_type", "ts")
    )
    w = (
        running_group_stats(
            src, "user_id", "event_type", "ts", approx_distinct=approx
        )
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
    )
    # state store + WAL on the fast scratch volume (tmpfs here,
    # per-executor NVMe on a cluster) instead of the default /tmp temp
    # checkpoint — same storage proxy the CDC bench uses
    if os.environ.get("SPARK_GRAFT_WORK_DIR"):
        w = w.option(
            "checkpointLocation",
            tempfile.mkdtemp(
                prefix="stateful-ck-",
                dir=os.environ["SPARK_GRAFT_WORK_DIR"],
            ),
        )
    q = w.start()
    try:
        if not q.awaitTermination(300):
            raise RuntimeError("stateful drain did not finish in 300s")
    finally:
        q.stop()
    return (
        spark.table(qname)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("n_distinct").alias("n_event_types"),
            F.max("last_ts").cast("timestamp_ntz").alias("last_ts"),
        )
    )


def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1h size, 30m slide): every event
    lands in exactly duration/slide = 2 windows. Oracled by unnesting
    the two covering window starts per event in SQL."""
    from etl_rs_spark.streaming.windows import sliding_window_agg

    e = _t(spark, sf_dir, "events")
    out = sliding_window_agg(
        e,
        "ts",
        "1 hour",
        "30 minutes",
        [
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        ],
        group_by=["event_type"],
    )
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        "event_type",
        "n_events",
        "value_sum",
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT word-3-gram Jaccard set-similarity join (the verification
    counterpart of the MinHash estimate) — fully SQL-expressible, so the
    whole postings-join pipeline (distinct n-grams -> equi-join ->
    intersection counts -> |A∩B|/|A∪B|) is under the value-hash
    oracle."""
    from etl_rs_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, n=3, threshold=0.2)


def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-PATH spelling: hot-gram cap ON by default, derived from
    the corpus (max(16, ceil(sqrt(n_docs)))). Fully SQL-expressible —
    the oracle replicates the cap rule, so the gram-frequency filter,
    capped set sizes and capped-universe jaccard are all under the
    value-hash check (a wrong cap, or capping after the size count
    instead of before, breaks the hash)."""
    from etl_rs_spark.operators.dedup import ngram_jaccard_pairs_capped

    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs_capped(d, n=3, threshold=0.1)


def q_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH precision stage in isolation: exact shingle Jaccard
    computed per CANDIDATE pair (two set joins + one array_intersect —
    O(pairs), no postings self-join). A deterministic candidate list
    (consecutive doc ids) puts the whole verify path — shingle
    construction, set intersection, union sizing, threshold — under the
    value-hash oracle."""
    from etl_rs_spark.operators.dedup import verify_pairs_exact_jaccard

    d = _t(spark, sf_dir, "documents")
    ids = d.select("doc_id")
    cand = ids.select(F.col("doc_id").alias("id_a")).join(
        ids.select((F.col("doc_id")).alias("id_b")),
        F.col("id_b") == F.col("id_a") + 1,
    )
    return verify_pairs_exact_jaccard(d, cand, k=3, threshold=0.0)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN with nprobe = nlist: probing every coarse cell makes
    the approximate index EXACT, so the full machinery (driver k-means
    codebook, vectorized cell assignment, probed-cell scan, per-cell
    exact re-rank) lands under the same cosine-top-k oracle as the
    brute-force baseline — a wrong assignment, a dropped cell, or an
    unstable tiebreak all break the hash. Rank-only output keeps the
    hash float-free."""
    from pyspark.sql.window import Window

    from etl_rs_spark.operators.ann import IvfIndex

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 1).select("embedding").first()[0]
    ]
    idx = IvfIndex(nlist=8, nprobe=8)
    idx.fit(emb.where(F.col("vec_id") != 1))
    top = idx.search(qvec, k=10)
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.col("sim").desc(), F.col("vec_id")))
        .alias("rank"),
        "vec_id",
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via multi-table hyperplane LSH, with
    planted duplicates: every 10th vector gets an IDENTICAL copy at
    vec_id+1M. Identical vectors project to identical sign patterns, so
    they share a bucket in EVERY hash table — recovery of each planted
    pair at cosine 1.0 is deterministic, which puts the banding,
    OR-amplification and exact re-rank under the value-hash oracle
    (natural near-dups are excluded: their recovery is the probabilistic
    S-curve, covered by the recall pytest)."""
    from etl_rs_spark.operators.dedup import embedding_neardup_pairs

    base = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % 10 == 0)
        .select("vec_id", "embedding")
    )
    planted = base.select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    pairs = embedding_neardup_pairs(
        base.unionByName(planted), threshold=0.99
    )
    return pairs.where(F.col("id_b") - F.col("id_a") == 1000000)


def _fake_assets(spark: SparkSession, sf_dir: str, mime: str) -> DataFrame:
    """Multimodal asset table derived deterministically from documents:
    text bytes as the opaque binary payload + typed metadata (no
    external data, mirrors operators/multimodal.IMAGE_SCHEMA shape)."""
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.col("text").cast("binary").alias("content"),
        F.lit(mime).alias("mime"),
        (F.col("n_chars") % 512 + 64).cast("int").alias("width"),
        (F.col("n_chars") % 256 + 64).cast("int").alias("height"),
    )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing under the oracle: an asset table (text
    bytes as opaque payload) goes through the mapInPandas resize kernel
    (fake=True passthrough — no image libs in this container), then the
    payload is decoded back to a string. Byte-identical Arrow round-trip
    of the binary column + the metadata rewrite are what the value hash
    checks; a corrupted batch, a dropped row, or a schema drift in the
    UDF all fail it."""
    from etl_rs_spark.operators.multimodal import resize_images

    out = resize_images(_fake_assets(spark, sf_dir, "image/fake"), 64, 64, fake=True)
    return out.select(
        "asset_id",
        F.col("content").cast("string").alias("text_roundtrip"),
        "mime",
        "width",
        "height",
    )


def q_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF-style 1->N frame sampling through mapInPandas: each asset
    expands to duration_ms/every_ms rows. The oracle checks the
    expansion shape exactly (which asset, which frame indices); the
    per-frame fingerprint is engine-defined (sha256-derived) and left
    out of the hashed columns."""
    from etl_rs_spark.operators.multimodal import sample_audio_frames

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.col("text").cast("binary").alias("content"),
        F.lit("audio/fake").alias("mime"),
        F.lit(16000).cast("int").alias("sample_rate"),
        ((F.col("n_chars") % 5 + 1) * 1000).cast("int").alias("duration_ms"),
    )
    out = sample_audio_frames(d, every_ms=1000, fake=True)
    return out.select("asset_id", "frame_idx")


def q_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode under the oracle: every document id gets a real
    encoded solid-color image (format cycles ppm/bmp/pgm by id%3), the
    pure-numpy decode kernels (functions/codecs.py) recover the pixels,
    and the decoded dimensions + per-channel means are hash-checked
    against their closed forms. A bit-level bug in any of the three
    codecs (header parse, BMP row padding/BGR order, PNM comments)
    breaks the hash."""
    from etl_rs_spark.operators.multimodal import image_assets_from_ids, image_stats

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("asset_id"))
    return image_stats(image_assets_from_ids(ids))


def q_image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize round-trip under the oracle: decode -> bilinear
    resample to 6x5 -> re-encode in the SAME format -> decode again.
    Bilinear over a solid color is exactly constant, so the post-resize
    stats are closed-form: dimensions become (6,5), channel means are
    unchanged, format survives the re-encode."""
    from etl_rs_spark.operators.multimodal import (
        image_assets_from_ids,
        image_stats,
        resize_images,
    )

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("asset_id"))
    resized = resize_images(image_assets_from_ids(ids), 6, 5, fake=False)
    return image_stats(resized)


def q_audio_frame_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV decode under the oracle: each document id gets a real
    PCM-16 RIFF/WAVE blob (8 kHz, constant amplitude id%2000-1000,
    2+id%3 frames of 25 ms), the numpy codec parses the chunks, and
    per-frame sample counts + RMS are hash-checked against their closed
    forms (RMS of a constant signal = |amp|/32768, exact in float64)."""
    from etl_rs_spark.operators.multimodal import wav_assets_from_ids, wav_frames

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("asset_id"))
    return wav_frames(wav_assets_from_ids(ids), every_ms=25)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/temporal.py): every click event picks up
    the user's most recent purchase at-or-before it — the union + single
    keyed shuffle + running last() plan, mirrored by DuckDB's native
    ASOF LEFT JOIN. The right side is pre-aggregated to one row per
    (user, ts) so the equal-ts tiebreak is deterministic in both
    engines."""
    from etl_rs_spark.operators.temporal import asof_join

    e = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 2).alias("purchase_value"))
    )
    out = asof_join(clicks, purchases, on="user_id")
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("click_ts"),
        F.col("ts_r").cast("string").alias("purchase_ts"),
        "purchase_value",
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (operators/temporal.py): click-purchase pairs of
    the same user within +/-1 hour, via the bin-bucketed equi-join
    (never a nested loop — plan-asserted in tests/test_temporal.py),
    aggregated per user. Oracle: the same inequality join written
    plainly in SQL."""
    from etl_rs_spark.operators.temporal import interval_join

    e = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    pairs = interval_join(clicks, purchases, on="user_id", low_s=-3600, high_s=3600)
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.sum("value"), 2).alias("purchase_value_sum"),
    )


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: one pass emits the
    (day, event_type), per-day, and grand-total aggregate levels via
    Spark's native ROLLUP (partial-agg friendly — each level is a
    re-aggregation of the finer one, not a re-scan). Subtotal rows are
    identified by their NULL grouping columns in both engines."""
    e = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date").cast("string")
    return (
        e.select(day.alias("day"), "event_type", "value")
        .rollup("day", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
    )


def q_pivot_daily_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-day value sums spread across one column per event
    type (explicit pivot values keep the plan a single pass — Spark
    needs no distinct-values pre-job). Oracle: the equivalent
    conditional aggregation."""
    e = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date").cast("string")
    kinds = ["click", "error", "purchase", "signup", "view"]
    return (
        e.select(day.alias("day"), "event_type", "value")
        .groupBy("day")
        .pivot("event_type", kinds)
        .agg(F.round(F.sum("value"), 2))
    )


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed percentiles (Spark's sort-based `percentile`,
    not the approximate t-digest percentile_approx) per event type —
    interpolated definition matches DuckDB's quantile_cont, so the
    values hash-match exactly after rounding."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        F.count("value").alias("n"),
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-event funnel signup -> click -> purchase per user
    (operators/funnel.py): ONE keyed aggregation for any stage count —
    per-stage timestamp sets + a greedy array_min(filter) Column fold;
    no windows, no sorts, no joins (plan-asserted <=1 Exchange in
    tests/test_funnel.py). The oracle mirrors the greedy exactly with
    correlated scalar subqueries."""
    from etl_rs_spark.operators.funnel import funnel_counts

    e = _t(spark, sf_dir, "events")
    return funnel_counts(e, ["signup", "click", "purchase"])


def q_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end table CDC under the oracle: events become a change
    envelope (user_id key, error=delete), TWO real merges into a fresh
    LakeTable, then ``table.changes(v1)`` — the change-data-feed read —
    returns the NET changes the second batch caused. The oracle mirrors
    it as: LWW winner per key over ALL events, kept only when the
    winning LSN is beyond batch 1's high-water mark. Exercises merge,
    tombstones, per-row LSN retention, snapshot watermarks and the
    metadata-pruned CDF scan in one hash-checked query."""
    from etl_rs_spark.cdc.apply import apply_batch
    from etl_rs_spark.config import CdcConfig

    e = _t(spark, sf_dir, "events")
    env = e.select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("user_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.to_json(F.struct(F.round("value", 2).alias("value"))).alias("payload"),
    )
    split = _event_split(spark, sf_dir)
    cfg = CdcConfig(num_buckets=8)
    t = _scratch_table(
        spark,
        "cdf-entry-",
        "conv_id string, turn_idx int, value string, ts timestamp",
    )
    apply_batch(t, env.where(F.col("lsn") <= split), batch_id=0, run_id="cdf", cfg=cfg)
    v1 = t.current().version
    apply_batch(t, env.where(F.col("lsn") > split), batch_id=1, run_id="cdf", cfg=cfg)
    feed = t.changes(v1)
    return feed.select(
        F.col("conv_id").cast("long").alias("user_id"),
        F.when(F.col("_change_type") == "delete", F.lit(None))
        .otherwise(F.col("value").cast("double"))
        .alias("value"),
        "_change_type",
        "_lsn",
    )


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interactive point lookup on the CDC-materialized table: the event
    changelog is merged into a fresh LakeTable (user_id key), then ten
    conversations are fetched via ``LakeTable.lookup`` — the keys are
    hashed with the write path's own bucket function and the scan is
    restricted to those buckets' files via the manifest, so a k-key
    lookup reads O(k/N) of the table at any table size (pruning is
    plan-asserted in tests/test_lake_table.py::
    test_lookup_prunes_to_key_buckets). Oracle: the LWW winner per key
    over the full changelog, filtered to the same keys, deletes
    excluded. The reference's DeltaExtractor can only full-scan +
    filter (/root/reference/src/extract/delta.rs:117-140)."""
    return _point_lookup_impl(spark, sf_dir, props=None)


def q_point_lookup_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """point_lookup with write.distribution-mode=range +
    write.target-file-rows: the merge range-partitions each bucket's
    output by key (repartitionByRange), so the bucket's files carry
    tight disjoint min_key/max_key bounds and ``lookup`` file-skips
    INSIDE the bucket on top of the bucket-hash prune
    (tests/test_lake_table.py::test_range_distribution_gives_disjoint
    _key_bounds plan-asserts the skip). Same oracle as point_lookup —
    physical layout must never change query results."""
    return _point_lookup_impl(
        spark,
        sf_dir,
        props={
            "write.distribution-mode": "range",
            "write.target-file-rows": 2000,
        },
    )


def q_point_lookup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """point_lookup with write.key-bloom.bits: each written file's
    manifest entry carries a key bloom (pmod(xxhash64(key,i), bits)
    bitmap), so under the default HASH layout — where every salted
    file spans the whole key range and min/max bounds cannot
    discriminate — ``lookup`` still skips same-bucket files that
    definitely lack the key without opening them
    (tests/test_lake_table.py::test_key_bloom_prunes_hash_layout_files
    plan-asserts the skip via inputFiles). Same oracle as
    point_lookup — physical/metadata layout must never change query
    results."""
    return _point_lookup_impl(
        spark, sf_dir, props={"write.key-bloom.bits": 8192}
    )


def _point_lookup_impl(
    spark: SparkSession, sf_dir: str, props: dict | None
) -> DataFrame:

    from etl_rs_spark.cdc.apply import apply_batch
    from etl_rs_spark.config import CdcConfig

    e = _t(spark, sf_dir, "events")
    env = e.select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("user_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.to_json(F.struct(F.round("value", 2).alias("value"))).alias("payload"),
    )
    t = _scratch_table(
        spark,
        "lookup-entry-",
        "conv_id string, turn_idx int, value string, ts timestamp",
        props=props,
    )
    apply_batch(t, env, batch_id=0, run_id="pl", cfg=CdcConfig(num_buckets=8))
    ids = [str(i) for i in range(1, 11)]
    return t.lookup(ids).select(
        F.col("conv_id").cast("long").alias("user_id"),
        F.col("value").cast("double").alias("value"),
        "ts",
    )


def q_cdc_apply_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read CDC apply under the oracle: the event changelog is
    replayed as THREE interleaved-LSN batches (cross-batch out-of-order
    by construction) into a LakeTable with write.merge.mode=
    merge-on-read and write.delta.max-files=1 — so the run exercises
    delta-file appends, an inline per-bucket fold when the chain hits
    the cap, AND read-side LWW resolution over mixed base+delta buckets
    (sinks/lake.py: merge delta leg + _lww_resolve). Final state must
    equal the plain LWW-winner oracle, byte-for-byte."""
    from etl_rs_spark.cdc.apply import apply_batch
    from etl_rs_spark.config import CdcConfig

    e = _t(spark, sf_dir, "events")
    env = e.select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("user_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.to_json(F.struct(F.round("value", 2).alias("value"))).alias("payload"),
    )
    cfg = CdcConfig(num_buckets=8, merge_mode="merge-on-read")
    t = _scratch_table(
        spark,
        "mor-entry-",
        "conv_id string, turn_idx int, value string, ts timestamp",
        props={"write.delta.max-files": 1},
    )
    for b in range(3):
        apply_batch(
            t, env.where(F.col("lsn") % 3 == b), batch_id=b, run_id="mor", cfg=cfg
        )
    assert any(
        f.get("kind") == "delta" for f in t.current().files
    ), "merge-on-read run produced no delta files"
    return t.read().select(
        F.col("conv_id").cast("long").alias("user_id"),
        F.col("value").cast("double").alias("value"),
        "ts",
    )


def q_cdc_schema_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-place type promotion under the oracle (Iceberg schema
    evolution: int -> long). Batch 1 merges a `score` column as INT;
    batch 2 arrives with `score` as BIGINT carrying values beyond the
    int32 range, which promotes the table column in place
    (sinks/lake._promote_type) — batch-1 files are then read back
    through the widened schema (Spark 4 widening parquet read). The
    oracle recomputes the same LWW final state in DuckDB with the score
    expression cast per batch membership."""
    e = _t(spark, sf_dir, "events")
    split = _event_split(spark, sf_dir)
    def _batch(pred, score_col):
        return e.where(pred).select(
            F.col("user_id").cast("string").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("event_id").alias("lsn"),
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            score_col.alias("score"),
        )

    b1 = _batch(
        F.col("event_id") <= split, F.floor(F.col("value") * 100).cast("int")
    )
    b2 = _batch(
        F.col("event_id") > split,
        F.floor(F.col("value") * 100).cast("long") + F.lit(2**35),
    )
    t = _scratch_table(
        spark,
        "promo-entry-",
        "conv_id string, turn_idx int, score int, ts timestamp",
    )
    t.merge(
        lww_dedup(b1, keys=["conv_id", "turn_idx"], order_cols=["ts", "lsn"]),
        run_id="promo",
        batch_id=0,
    )
    t.merge(
        lww_dedup(b2, keys=["conv_id", "turn_idx"], order_cols=["ts", "lsn"]),
        run_id="promo",
        batch_id=1,
    )
    sch = {f.name: f.dataType.simpleString() for f in t.current().schema().fields}
    assert sch["score"] == "bigint", f"score not promoted: {sch}"
    return t.read().select(
        F.col("conv_id").cast("long").alias("user_id"), "score", "ts"
    )


def q_cdc_nested_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested additive schema evolution under the oracle (Iceberg spec:
    struct fields may be ADDED at any depth in place). Batch 1 merges a
    `tool` STRUCT payload with one field (name); batch 2 arrives with a
    WIDER struct (+calls), which widens the table's struct column in
    place (sinks/lake._promote_type recursing into StructType) — batch-1
    winners' files are then read back through the widened schema with
    the new nested field null-filled by the parquet reader, no rewrite.
    Transcript tool-call payloads are exactly this shape. The oracle
    recomputes the LWW final state in DuckDB with the nested field
    present only for keys whose winner arrived after the widening.
    The reference stores schema-evolution knobs and never applies them
    (/root/reference/src/load/delta.rs:62-69)."""
    e = _t(spark, sf_dir, "events")
    split = _event_split(spark, sf_dir)

    def _base(pred, tool_col):
        return e.where(pred).select(
            F.col("user_id").cast("string").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("event_id").alias("lsn"),
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            tool_col.alias("tool"),
        )

    b1 = _base(
        F.col("event_id") <= split,
        F.struct(F.col("event_type").alias("name")),
    )
    b2 = _base(
        F.col("event_id") > split,
        F.struct(
            F.col("event_type").alias("name"),
            F.floor(F.col("value") * 10).cast("int").alias("calls"),
        ),
    )
    t = _scratch_table(
        spark,
        "nested-entry-",
        "conv_id string, turn_idx int, tool struct<name:string>, ts timestamp",
    )
    t.merge(
        lww_dedup(b1, keys=["conv_id", "turn_idx"], order_cols=["ts", "lsn"]),
        run_id="nested",
        batch_id=0,
    )
    t.merge(
        lww_dedup(b2, keys=["conv_id", "turn_idx"], order_cols=["ts", "lsn"]),
        run_id="nested",
        batch_id=1,
    )
    tool_t = t.current().schema()["tool"].dataType
    assert [f.name for f in tool_t.fields] == ["name", "calls"], tool_t
    return t.read().select(
        F.col("conv_id").cast("long").alias("user_id"),
        F.col("tool.name").alias("tool_name"),
        F.col("tool.calls").alias("tool_calls"),
        "ts",
    )


def q_cdc_add_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only import under the oracle (Iceberg add_files /
    migrate): batch 1 is written as PLAIN PARQUET by an external writer
    (no engine columns) and registered via LakeTable.add_files — zero
    data copied or rewritten — then batch 2 merges as a genuine stream
    on top. Imported rows carry _lsn = -1, so the final LWW state is
    event-time-first with stream events beating imports at equal ts;
    the oracle recomputes exactly that in DuckDB (imports as lsn -1
    rows). The reference has no import path at all — its extractors
    copy everything through the engine (/root/reference/src/extract/)."""

    e = _t(spark, sf_dir, "events")
    split = _event_split(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    corpus = (
        e.where(F.col("event_id") <= split)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("user_id").cast("string").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.col("event_type").alias("text"),
            F.col("ts").cast("timestamp").alias("ts"),
        )
    )
    t = _scratch_table(
        spark,
        "addfiles-entry-",
        "conv_id string, turn_idx int, text string, ts timestamp",
    )
    work = os.path.dirname(t.path)
    corpus.coalesce(2).write.parquet(f"{work}/corpus")
    res = t.add_files([f"{work}/corpus"])
    assert res["mode"] == "add-files" and res["files_added"] >= 1
    b2 = e.where(F.col("event_id") > split).select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("event_type").alias("text"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    t.merge(
        lww_dedup(b2, keys=["conv_id", "turn_idx"], order_cols=["ts", "lsn"]),
        run_id="addfiles",
        batch_id=0,
    )
    return t.read().select(
        F.col("conv_id").cast("long").alias("user_id"), "text", "ts"
    )


def q_cdc_rename_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-id schema evolution under the oracle (Iceberg spec:
    renames preserve the field id; a dropped-then-readded name gets a
    FRESH id so retired data never resurrects). Batch 1 merges `value`
    + `flag`; then the table renames value->amount (metadata-only) and
    drops + re-adds `flag`; batch 2 merges under the new names. Final
    state: amount carries every LWW winner's value — including batch-1
    winners, whose files still physically store the column as `value`
    and are translated by id at read time (sinks/lake._scan_files) —
    while flag is non-null ONLY for keys whose winner arrived after
    the re-add (batch-1 flag data is retired with its field id). The
    oracle recomputes both rules in DuckDB from batch membership of
    each key's LWW winner. The reference stores schema-evolution knobs
    and never applies them (/root/reference/src/load/delta.rs:62-69)."""
    e = _t(spark, sf_dir, "events")
    split = _event_split(spark, sf_dir)

    def _batch(pred, value_name):
        return e.where(pred).select(
            F.col("user_id").cast("string").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("event_id").alias("lsn"),
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.round("value", 2).alias(value_name),
            F.col("event_type").alias("flag"),
        )

    t = _scratch_table(
        spark,
        "renamedrop-entry-",
        "conv_id string, turn_idx int, value double, flag string, ts timestamp",
    )
    t.merge(
        lww_dedup(
            _batch(F.col("event_id") <= split, "value"),
            keys=["conv_id", "turn_idx"],
            order_cols=["ts", "lsn"],
        ),
        run_id="evo",
        batch_id=0,
    )
    t.rename_column("value", "amount")
    t.drop_column("flag")
    t.add_column("flag", "string")
    t.merge(
        lww_dedup(
            _batch(F.col("event_id") > split, "amount"),
            keys=["conv_id", "turn_idx"],
            order_cols=["ts", "lsn"],
        ),
        run_id="evo",
        batch_id=1,
    )
    cols = [f.name for f in t.current().schema().fields]
    assert "amount" in cols and "value" not in cols, cols
    return t.read().select(
        F.col("conv_id").cast("long").alias("user_id"), "amount", "flag", "ts"
    )


def q_cdc_bucket_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-spec (partition spec) evolution mid-replay under the
    oracle: batch 1 merges into an 8-bucket table, set_num_buckets(16)
    evolves the spec METADATA-ONLY (no rewrite — the modulo nesting of
    pmod(xxhash64, N) keeps pruning exact across the mix), batch 2
    merges under the new spec (its folds migrate overlapped old-spec
    files whole), and the final read must equal the plain LWW replay —
    bucket layout is invisible to query results at every point. This
    is the 100-TB resize story: a table that outgrew its bucket count
    evolves without a big-bang rewrite window (Iceberg partition spec
    evolution; the reference stores a partition-evolution knob and
    never applies it, /root/reference/src/load/delta.rs:62-69)."""
    from etl_rs_spark.sinks.lake import _file_spec

    e = _t(spark, sf_dir, "events")
    split = _event_split(spark, sf_dir)

    def _batch(pred):
        return e.where(pred).select(
            F.col("user_id").cast("string").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("event_id").alias("lsn"),
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.round("value", 2).alias("value"),
        )

    t = _scratch_table(
        spark,
        "bucketevo-entry-",
        "conv_id string, turn_idx int, value double, ts timestamp",
    )
    t.merge(
        lww_dedup(
            _batch(F.col("event_id") <= split),
            keys=["conv_id", "turn_idx"],
            order_cols=["ts", "lsn"],
        ),
        run_id="bevo",
        batch_id=0,
    )
    t.set_num_buckets(16)
    t.merge(
        lww_dedup(
            _batch(F.col("event_id") > split),
            keys=["conv_id", "turn_idx"],
            order_cols=["ts", "lsn"],
        ),
        run_id="bevo",
        batch_id=1,
    )
    snap = t.current()
    assert snap.num_buckets == 16
    # both specs coexist until compaction/merges finish the migration
    assert {_file_spec(f, snap) for f in snap.files} <= {8, 16}
    return t.read().select(
        F.col("conv_id").cast("long").alias("user_id"), "value", "ts"
    )


def q_time_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed read with Iceberg-style data skipping: the
    event changelog is merged into a LakeTable, then
    ``read(ts_range=(lo, hi))`` returns the CURRENT state restricted to
    the window — the manifest's per-file min/max event time (parquet
    footer stats) excludes every file wholly below ``lo`` from the scan
    (prune is exact under (ts, lsn) LWW: an older-than-window row can
    neither land in the window nor supersede a row in it — proof in
    sinks/lake.py read()). Oracle: LWW winner per key, deletes excluded,
    ts within the same window. On a years-deep 100-TB transcript store
    this is the read pattern that must cost O(window), not O(table);
    the pruning itself is plan-asserted in tests/test_lake_table.py::
    test_ts_range_read_prunes_old_era_files."""

    e = _t(spark, sf_dir, "events")
    env = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.round("value", 2).alias("value"),
    )
    t = _scratch_table(
        spark,
        "tsrange-entry-",
        "conv_id string, turn_idx int, value double, ts timestamp",
    )
    t.merge(
        lww_dedup(env, keys=["conv_id", "turn_idx"], order_cols=["ts", "lsn"]),
        run_id="tr",
        batch_id=0,
    )
    win = t.read(ts_range=("2024-01-29", "2024-01-30 12:00:00"))
    return win.select(
        F.col("conv_id").cast("long").alias("user_id"), "value", "ts"
    )


def q_cdc_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot rollback under the oracle — the bad-deploy recovery
    story: batch 0 and batch 1 merge in sequence, ``rollback(v1)``
    undoes batch 1 with a METADATA-ONLY commit (Iceberg
    rollback_to_snapshot), and because the rollback restores the
    exactly-once applied-batch log along with the file set, replaying
    batch 1 afterwards re-applies cleanly instead of being skipped.
    The query returns BOTH phases tagged: the rolled-back state must
    equal the batch-0-only LWW replay, and the replayed state must
    equal the full replay — one hash checks restoration AND
    post-rollback convergence."""
    e = _t(spark, sf_dir, "events")
    split = _event_split(spark, sf_dir)

    def _batch(pred):
        return lww_dedup(
            e.where(pred).select(
                F.col("user_id").cast("string").alias("conv_id"),
                F.lit(0).alias("turn_idx"),
                F.col("ts").cast("timestamp").alias("ts"),
                F.col("event_id").alias("lsn"),
                F.when(F.col("event_type") == "error", F.lit("D"))
                .otherwise(F.lit("U"))
                .alias("op"),
                F.round("value", 2).alias("value"),
            ),
            keys=["conv_id", "turn_idx"],
            order_cols=["ts", "lsn"],
        )

    t = _scratch_table(
        spark,
        "rollback-entry-",
        "conv_id string, turn_idx int, value double, ts timestamp",
    )
    t.merge(_batch(F.col("event_id") <= split), run_id="rb", batch_id=0)
    v1 = t.current().version
    t.merge(_batch(F.col("event_id") > split), run_id="rb", batch_id=1)
    t.rollback(v1)

    def _state(tag: str) -> DataFrame:
        return t.read().select(
            F.lit(tag).alias("phase"),
            F.col("conv_id").cast("long").alias("user_id"),
            "value",
            "ts",
        )

    rolled = _state("rolled_back").localCheckpoint(eager=True)
    # the restored applied log forgets batch 1 -> this is NOT a no-op
    t.merge(_batch(F.col("event_id") > split), run_id="rb", batch_id=1)
    return rolled.unionByName(_state("replayed"))


def q_cdc_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full maintenance lifecycle under the oracle: two CDC merges,
    RewriteDataFiles-style compaction, then the metadata actions —
    ``expire_snapshots`` (deletes the dead-only manifests' files that
    no kept snapshot lists: the pre-compaction files) and
    ``vacuum_orphans`` (lists the data directory against every
    retained manifest). The surviving table state must hash-equal the
    full LWW replay — proving the maintenance plane deletes ONLY dead bytes.
    The expiry is asserted non-trivial (it must actually remove files
    and versions) so the entry cannot pass vacuously."""
    e = _t(spark, sf_dir, "events")
    split = _event_split(spark, sf_dir)

    def _batch(pred):
        return lww_dedup(
            e.where(pred).select(
                F.col("user_id").cast("string").alias("conv_id"),
                F.lit(0).alias("turn_idx"),
                F.col("ts").cast("timestamp").alias("ts"),
                F.col("event_id").alias("lsn"),
                F.when(F.col("event_type") == "error", F.lit("D"))
                .otherwise(F.lit("U"))
                .alias("op"),
                F.round("value", 2).alias("value"),
            ),
            keys=["conv_id", "turn_idx"],
            order_cols=["ts", "lsn"],
        )

    t = _scratch_table(
        spark,
        "maint-entry-",
        "conv_id string, turn_idx int, value double, ts timestamp",
    )
    t.merge(_batch(F.col("event_id") <= split), run_id="mx", batch_id=0)
    t.merge(_batch(F.col("event_id") > split), run_id="mx", batch_id=1)
    t.compact()
    exp = t.expire_snapshots(keep_last=1)
    if not (exp["files_deleted"] > 0 and exp["expired_versions"] > 0):
        raise AssertionError(f"expiry was a no-op: {exp}")
    vac = t.vacuum_orphans(older_than_s=0)
    if vac["orphans_deleted"] != 0:  # expiry left nothing behind
        raise AssertionError(f"expiry leaked orphans: {vac}")
    return t.read().select(
        F.col("conv_id").cast("long").alias("user_id"), "value", "ts"
    )


def q_cdc_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish under the oracle (Iceberg branch refs +
    fast_forward; sinks/lake.py create_branch/on_branch/fast_forward).
    Batch 0 lands on main; a suspect batch 1 is applied to an "audit"
    BRANCH while main stays frozen for consumers; the audited branch is
    then fast-forwarded onto main. The query returns both phases
    tagged: ``main_frozen`` (main read mid-audit) must equal the
    batch-0-only LWW replay — proving branch isolation — and
    ``published`` (main after fast_forward) must equal the full replay
    — proving the publish is the complete branch state, CDC
    bookkeeping included. One hash checks isolation AND publish."""
    e = _t(spark, sf_dir, "events")
    split = _event_split(spark, sf_dir)

    def _batch(pred):
        return lww_dedup(
            e.where(pred).select(
                F.col("user_id").cast("string").alias("conv_id"),
                F.lit(0).alias("turn_idx"),
                F.col("ts").cast("timestamp").alias("ts"),
                F.col("event_id").alias("lsn"),
                F.when(F.col("event_type") == "error", F.lit("D"))
                .otherwise(F.lit("U"))
                .alias("op"),
                F.round("value", 2).alias("value"),
            ),
            keys=["conv_id", "turn_idx"],
            order_cols=["ts", "lsn"],
        )

    t = _scratch_table(
        spark,
        "wap-entry-",
        "conv_id string, turn_idx int, value double, ts timestamp",
    )
    t.merge(_batch(F.col("event_id") <= split), run_id="wap", batch_id=0)
    t.create_branch("audit")
    b = t.on_branch("audit")
    b.merge(_batch(F.col("event_id") > split), run_id="wap", batch_id=1)

    def _state(tag: str) -> DataFrame:
        return t.read().select(
            F.lit(tag).alias("phase"),
            F.col("conv_id").cast("long").alias("user_id"),
            "value",
            "ts",
        )

    frozen = _state("main_frozen").localCheckpoint(eager=True)
    t.fast_forward("audit")
    return frozen.unionByName(_state("published"))


def q_cdc_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DML under the oracle (Iceberg DELETE FROM / UPDATE ...
    WHERE; sinks/lake.py delete_where/update_where): the change stream
    replays into the table, then DELETE removes every row with value <
    0.2 and UPDATE doubles (and rounds) the value of rows whose user_id
    is divisible by 3. Both statements ride the CDC merge as
    watermark+1 LWW events — bucket-pruned, CDF-visible, replay-safe —
    and the final state must equal DuckDB applying the same replay,
    filter, and CASE update."""
    e = _t(spark, sf_dir, "events")
    winners = lww_dedup(
        e.select(
            F.col("user_id").cast("string").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("event_id").alias("lsn"),
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.round("value", 2).alias("value"),
        ),
        keys=["conv_id", "turn_idx"],
        order_cols=["ts", "lsn"],
    )
    t = _scratch_table(
        spark,
        "dml-entry-",
        "conv_id string, turn_idx int, value double, ts timestamp",
    )
    t.merge(winners, run_id="dml", batch_id=0)
    t.delete_where("value < 0.2")
    t.update_where(
        {"value": "round(value * 2, 2)"}, "cast(conv_id as long) % 3 = 0"
    )
    return t.read().select(
        F.col("conv_id").cast("long").alias("user_id"), "value", "ts"
    )


def q_cdc_concurrent_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-writer correctness under the oracle (sinks/lake.py
    _try_rebase — Iceberg's commit retry-with-validation): batch 0 (the
    even-LSN half of the change stream) replays into the table; then a
    second merge (the odd-LSN events of ONE key) loses its commit-slot
    race to a concurrent admin compact of a DIFFERENT bucket, injected
    deterministically between the merge's snapshot read and its slot
    claim. The merge must resolve the race by the metadata-level rebase
    (stats["rebased"] asserted — no data work redone), and the final
    state must equal DuckDB's LWW replay over the union of both
    batches, proving neither the compact's nor the merge's effect was
    lost."""
    from etl_rs_spark.sinks.lake import LakeTable, bucket_expr

    e = _t(spark, sf_dir, "events")
    base = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.round("value", 2).alias("value"),
    )
    keys, order = ["conv_id", "turn_idx"], ["ts", "lsn"]
    t = _scratch_table(
        spark,
        "concurrent-entry-",
        "conv_id string, turn_idx int, value double, ts timestamp",
    )
    work = os.path.dirname(t.path)
    t.merge(
        lww_dedup(base.where(F.col("lsn") % 2 == 0), keys, order),
        run_id="cc",
        batch_id=0,
    )
    odd = base.where(F.col("lsn") % 2 == 1)
    target, tb = odd.select(
        F.min(F.col("conv_id").cast("long")).cast("string").alias("c")
    ).select(
        "c", bucket_expr("c", 8).alias("b")
    ).collect()[0]
    cands = [
        m
        for m in t.inspect_manifests().collect()
        if m["bucket"] != tb and m["n_files"] > 0
    ]
    if not cands:
        raise RuntimeError("no disjoint bucket to compact at this sf")
    cb = max(cands, key=lambda m: m["rows"])["bucket"]
    orig = t._claim_slot
    fired = {"done": False}

    def inject(vtmp, vpath, version):
        if not fired["done"]:
            fired["done"] = True
            LakeTable.load(spark, f"{work}/t").compact(buckets=[cb])
        return orig(vtmp, vpath, version)

    t._claim_slot = inject  # type: ignore[method-assign]
    try:
        stats = t.merge(
            lww_dedup(odd.where(F.col("conv_id") == target), keys, order),
            run_id="cc",
            batch_id=1,
        )
    finally:
        t._claim_slot = orig  # type: ignore[method-assign]
    if not (fired["done"] and stats.get("rebased")):
        raise RuntimeError(
            f"race not exercised: fired={fired['done']} stats={stats}"
        )
    return t.read().select(
        F.col("conv_id").cast("long").alias("user_id"), "value", "ts"
    )


def q_ngram_jaccard_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MANIFEST-FED spelling of capped n-gram dedup: documents are
    merged into a LakeTable, then ``LakeTable.ngram_dedup_pairs`` runs
    the same capped postings join with the hot-gram cap derived from the
    table's own manifest-list row counts (``row_count`` — zero Spark
    jobs, zero manifest loads) instead of an in-plan count subquery.
    The oracle is IDENTICAL to ngram_jaccard_capped's: a cap computed
    from metadata must produce byte-identical pairs to one computed
    from the data."""

    d = _t(spark, sf_dir, "documents")
    src = d.select(
        "doc_id",
        "text",
        F.timestamp_seconds(F.lit(1700000000)).alias("ts"),
        F.col("doc_id").alias("lsn"),
        F.lit("I").alias("op"),
    )
    t = _scratch_table(
        spark,
        "ngram-table-entry-",
        "doc_id bigint, text string, ts timestamp",
        key_cols=["doc_id"],
        bucket_col="doc_id",
    )
    t.merge(src, run_id="nj", batch_id=0)
    return t.ngram_dedup_pairs("doc_id", "text", n=3, threshold=0.1)


def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE under the oracle (sinks/lake.py analyze — the role
    Iceberg Puffin stats play): the change stream replays into a table,
    ``analyze(exact=True)`` commits per-column null/NDV/min/max into
    table metadata in ONE resolved-state pass, and the committed
    numbers must equal DuckDB computing the same statistics over the
    same replayed state (exact NDV here so the hash can match; the
    production default is HyperLogLog approx — constant memory per
    column at 10^10 rows)."""
    e = _t(spark, sf_dir, "events")
    winners = lww_dedup(
        e.select(
            F.col("user_id").cast("string").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("event_id").alias("lsn"),
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.round("value", 2).alias("value"),
        ),
        keys=["conv_id", "turn_idx"],
        order_cols=["ts", "lsn"],
    )
    t = _scratch_table(
        spark,
        "stats-entry-",
        "conv_id string, turn_idx int, value double, ts timestamp",
    )
    t.merge(winners, run_id="st", batch_id=0)
    stats = t.analyze(columns=["conv_id", "value", "ts"], exact=True)
    rows = [
        (
            c,
            stats["row_count"],
            s["nulls"],
            s["ndv"],
            str(s["min"]),
            str(s["max"]),
        )
        for c, s in stats["columns"].items()
    ]
    return spark.createDataFrame(
        rows,
        "col string, row_count long, nulls long, ndv long, "
        "vmin string, vmax string",
    )


# -------------------------------------------------------------- contract --
def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_cdc_apply_state(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # ORDER IS THE DRIVER GATE: the correctness harness oracles
        # exactly the FIRST 50 keys, so the newest / least-proven
        # entries (the commit-protocol lifecycle suite) sit inside the
        # window; the long-stable TPC-H-style entries and the two
        # rows-only LSH candidate entries rotate to the tail (pinned by
        # pytest regardless). Every oracled entry keeps its oracle_sql
        # unchanged.
        "window_lww_latest": q_window_lww_latest,
        "cdc_apply_state": q_cdc_apply_state,
        "dedup_exact": q_dedup_exact,
        "ann_topk": q_ann_topk,
        "set_ops": q_set_ops,
        "window_tumbling": q_window_tumbling,
        "window_session": q_window_session,
        "minhash_exact_dup_pairs": q_minhash_exact_dup_pairs,
        "lang_id": q_lang_id,
        "quality_scores": q_quality_scores,
        "stateful_user_stats": q_stateful_user_stats,
        "stateful_user_stats_approx": q_stateful_user_stats_approx,
        "dup_clusters": q_dup_clusters,
        "window_sliding": q_window_sliding,
        "ngram_jaccard": q_ngram_jaccard,
        "ngram_jaccard_capped": q_ngram_jaccard_capped,
        "ngram_jaccard_table": q_ngram_jaccard_table,
        "verified_pairs": q_verified_pairs,
        "ivf_topk": q_ivf_topk,
        "embedding_neardup": q_embedding_neardup,
        "multimodal_resize": q_multimodal_resize,
        "audio_frames": q_audio_frames,
        "image_decode_stats": q_image_decode_stats,
        "image_resize_stats": q_image_resize_stats,
        "audio_frame_rms": q_audio_frame_rms,
        "asof_join": q_asof_join,
        "interval_join": q_interval_join,
        "time_rollup": q_time_rollup,
        "pivot_daily_values": q_pivot_daily_values,
        "value_percentiles": q_value_percentiles,
        "funnel": q_funnel,
        "change_data_feed": q_change_data_feed,
        "cdc_schema_promotion": q_cdc_schema_promotion,
        "cdc_nested_evolution": q_cdc_nested_evolution,
        "cdc_add_files": q_cdc_add_files,
        "cdc_apply_mor": q_cdc_apply_mor,
        "point_lookup": q_point_lookup,
        "point_lookup_range": q_point_lookup_range,
        "point_lookup_bloom": q_point_lookup_bloom,
        "cdc_rename_drop": q_cdc_rename_drop,
        "cdc_bucket_evolution": q_cdc_bucket_evolution,
        "time_range_scan": q_time_range_scan,
        "cdc_rollback": q_cdc_rollback,
        "cdc_maintenance": q_cdc_maintenance,
        "cdc_wap_publish": q_cdc_wap_publish,
        "cdc_dml": q_cdc_dml,
        "cdc_concurrent_commit": q_cdc_concurrent_commit,
        "table_stats": q_table_stats,
        "pricing_summary": q_pricing_summary,
        "filter_project": q_filter_project,
        "convert_types": q_convert_types,
        "join_orders_customers": q_join_orders_customers,
        "customers_without_orders": q_customers_without_orders,
        "token_count": q_token_count,
        "text_quality": q_text_quality,
        "agg_reference_naming": q_agg_reference_naming,
        "minhash_pairs": q_minhash_pairs,
        "simhash_fingerprints": q_simhash_fingerprints,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "filter_project": """
            SELECT c_custkey, c_name, CAST(floor(c_acctbal / 1000) AS INTEGER) AS bal_tier
            FROM customer
            WHERE c_acctbal > 5000 AND c_mktsegment = 'BUILDING'
        """,
        "convert_types": """
            WITH dirty AS (
                SELECT event_id,
                       ['TRUE','no','1','maybe'][(event_id % 4 + 1)::INT] AS active_raw,
                       strftime(ts, '%d/%m/%Y') AS edited_raw,
                       json_extract_string(props, '$.k') AS k_raw
                FROM events
            )
            SELECT event_id,
                   CASE WHEN lower(trim(active_raw)) IN ('true','1','yes','y') THEN true
                        WHEN lower(trim(active_raw)) IN ('false','0','no','n') THEN false
                        ELSE NULL END AS active_bool,
                   CAST(strptime(edited_raw, '%d/%m/%Y')::DATE AS VARCHAR) AS edited_date,
                   TRY_CAST(k_raw AS BIGINT) AS k_int
            FROM dirty
        """,
        "join_orders_customers": """
            SELECT c_mktsegment,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "customers_without_orders": """
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_totalprice > 400000)
            GROUP BY c_mktsegment
        """,
        "window_lww_latest": """
            SELECT user_id, event_id, event_type, value, ts
            FROM events
            QUALIFY row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        """,
        "cdc_apply_state": """
            WITH ops AS (
                SELECT user_id,
                       CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                       value, ts, event_id AS lsn
                FROM events
            ), winners AS (
                SELECT * FROM ops
                QUALIFY row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, lsn DESC) = 1
            )
            SELECT user_id, round(value, 2) AS value, ts
            FROM winners WHERE op <> 'D'
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
            FROM documents GROUP BY text
        """,
        "token_count": """
            SELECT lang,
                   CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS total_tokens,
                   round(avg(len(regexp_split_to_array(trim(text), '\\s+'))), 4) AS avg_tokens
            FROM documents GROUP BY lang
        """,
        "text_quality": """
            WITH per_doc AS (
                SELECT source,
                       len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           w -> w IN ('the','a','of','and')))::DOUBLE
                         / len(regexp_split_to_array(trim(text), '\\s+')) AS stop_ratio,
                       length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                         / len(regexp_split_to_array(trim(text), '\\s+')) AS mean_word_len
                FROM documents
            )
            SELECT source,
                   round(avg(stop_ratio), 4) AS avg_stop_ratio,
                   round(avg(mean_word_len), 4) AS avg_word_len,
                   count(*) AS n_docs
            FROM per_doc GROUP BY source
        """,
        "ann_topk": """
            WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
            sims AS (
                SELECT vec_id,
                       list_cosine_similarity(embedding, qvec) AS sim
                FROM embeddings, q WHERE vec_id <> 0
            )
            SELECT row_number() OVER (ORDER BY sim DESC, vec_id) AS rank, vec_id
            FROM sims ORDER BY sim DESC, vec_id LIMIT 10
        """,
        "agg_reference_naming": """
            SELECT event_type,
                   round(sum(value), 2) AS value_sum,
                   count(value) AS value_count,
                   round(avg(value), 4) AS value_average
            FROM events GROUP BY event_type
        """,
        "set_ops": """
            WITH rich AS (
                SELECT c_custkey FROM customer WHERE c_acctbal > 7000
            ), open_o AS (
                SELECT DISTINCT o_custkey AS c_custkey FROM orders
                WHERE o_orderstatus = 'O'
            ), bothseg AS (
                SELECT c_custkey FROM rich INTERSECT SELECT c_custkey FROM open_o
            )
            SELECT kind, count(*) AS n FROM (
                SELECT c_custkey, 'rich_no_open' AS kind FROM (
                    SELECT c_custkey FROM rich
                    EXCEPT ALL
                    SELECT c_custkey FROM bothseg
                )
                UNION ALL
                SELECT c_custkey, 'rich_open' AS kind FROM bothseg
            ) GROUP BY kind
        """,
        "window_tumbling": """
            SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS VARCHAR) AS window_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS value_sum
            FROM events
            GROUP BY 1, 2
        """,
        # gaps-and-islands: a new session starts when the previous event
        # of the user is >= 30 min older (Spark merges strictly-within-
        # gap events; session end = last event ts + gap, end-exclusive).
        "window_session": """
            WITH marks AS (
                SELECT user_id, ts, value, event_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT *, sum(new_sess) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING
                ) AS sid
                FROM marks
            )
            SELECT CAST(min(ts) AS VARCHAR) AS window_start,
                   CAST(max(ts) + INTERVAL '30 minutes' AS VARCHAR) AS window_end,
                   user_id,
                   count(*) AS n_events,
                   round(sum(value), 2) AS value_sum
            FROM sess
            GROUP BY user_id, sid
        """,
        "lang_id": """
            WITH toks AS (
                SELECT text,
                       regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                FROM documents
            ), hits AS (
                SELECT text,
                    len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS h_en,
                    len(list_filter(w, x -> x IN ('de','a','o','que','e','do','da','em','um','para'))) AS h_pt,
                    len(list_filter(w, x -> x IN ('de','la','que','el','en','y','a','los','se','del'))) AS h_es,
                    len(list_filter(w, x -> x IN ('der','die','und','in','den','von','zu','das','mit','sich'))) AS h_de
                FROM toks
            ), pred AS (
                -- argmax by (hits, lang); ties keep the MAX lang string
                -- ('pt' > 'es' > 'en' > 'de'), matching Spark's
                -- array_max over struct(hits, lang)
                SELECT CASE
                    WHEN length(trim(text)) = 0 THEN NULL
                    WHEN greatest(h_en, h_pt, h_es, h_de) = 0 THEN 'und'
                    WHEN h_pt = greatest(h_en, h_pt, h_es, h_de) THEN 'pt'
                    WHEN h_es = greatest(h_en, h_pt, h_es, h_de) THEN 'es'
                    WHEN h_en = greatest(h_en, h_pt, h_es, h_de) THEN 'en'
                    ELSE 'de' END AS pred_lang
                FROM hits
            )
            SELECT pred_lang, count(*) AS n_docs FROM pred GROUP BY pred_lang
        """,
        "quality_scores": """
            WITH feats AS (
                SELECT text,
                       len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
                       len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                           x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS stop_hits,
                       length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace,
                       length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS n_punct,
                       length(text) AS n_chars
                FROM documents
            ), scored AS (
                SELECT round(
                    0.25 * least(n_chars / 500.0, 1.0)
                  + 0.35 * least(coalesce(CASE WHEN n_tok > 0 THEN stop_hits::DOUBLE / n_tok END, 0.0) / 0.12, 1.0)
                  + 0.2  * (CASE WHEN coalesce(CASE WHEN n_tok > 0 THEN n_nonspace::DOUBLE / n_tok END, 0.0)
                                      BETWEEN 3 AND 10 THEN 1.0 ELSE 0.4 END)
                  + 0.2  * (CASE WHEN coalesce(CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars END, 1.0) < 0.2
                                 THEN 1.0
                                 ELSE greatest(0.0, 1 - coalesce(CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars END, 1.0)) END)
                , 6) AS score
                FROM feats
            )
            SELECT floor(score * 10) / 10 AS q_bucket, count(*) AS n_docs
            FROM scored GROUP BY 1
        """,
        # planted-duplicate recovery: each doc's perturbed copy
        # (doc_id+1000000, uppercase + whitespace padding) has the
        # identical shingle set, hence identical signature, hence shares
        # every LSH band — so the pipeline MUST emit every (doc, copy)
        # pair at est_jaccard exactly 1.0. A missed band join, a
        # non-deterministic hash family, or broken shingle normalization
        # all fail this hash check.
        "minhash_exact_dup_pairs": """
            SELECT doc_id AS id_a,
                   doc_id + 1000000 AS id_b,
                   CAST(1.0 AS DOUBLE) AS est_jaccard
            FROM documents
            WHERE doc_id % 10 = 0
        """,
        # the stateful streaming drain's final state IS the batch
        # aggregate (monotonic counters, LWW last_ts) — SQL-expressible
        "stateful_user_stats": """
            SELECT user_id,
                   count(*) AS n_events,
                   count(DISTINCT event_type) AS n_event_types,
                   max(ts) AS last_ts
            FROM events
            GROUP BY user_id
        """,
        # the HLL approx mode shares the exact oracle: at enum-like
        # cardinality the linear-counting estimate equals the true
        # distinct count deterministically (stable blake2b hashing)
        "stateful_user_stats_approx": """
            SELECT user_id,
                   count(*) AS n_events,
                   count(DISTINCT event_type) AS n_event_types,
                   max(ts) AS last_ts
            FROM events
            GROUP BY user_id
        """,
        # planted chains base -> +1M -> +2M: the component id of every
        # member is the base doc_id, reachable for +2M only transitively
        "dup_clusters": """
            SELECT CAST(doc_id AS BIGINT) AS id,
                   CAST(doc_id AS BIGINT) AS cluster_id
            FROM documents WHERE doc_id % 10 = 0
            UNION ALL
            SELECT CAST(doc_id + 1000000 AS BIGINT),
                   CAST(doc_id AS BIGINT)
            FROM documents WHERE doc_id % 10 = 0
            UNION ALL
            SELECT CAST(doc_id + 2000000 AS BIGINT),
                   CAST(doc_id AS BIGINT)
            FROM documents WHERE doc_id % 10 = 0
        """,
        # each event lands in exactly two 1h/30m sliding windows: the
        # 30m bucket containing it and the one before
        "window_sliding": """
            WITH slid AS (
              SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                             time_bucket(INTERVAL '30 minutes', ts)
                               - INTERVAL '30 minutes']) AS window_start,
                     event_type, value
              FROM events
            )
            SELECT CAST(window_start AS VARCHAR) AS window_start, event_type,
                   count(*) AS n_events, round(sum(value), 2) AS value_sum
            FROM slid GROUP BY 1, 2
        """,
        "ngram_jaccard": """
            WITH grams AS (
              SELECT doc_id, unnest(list_distinct(
                list_transform(generate_series(1, greatest(len(w)-2, 1)),
                               i -> array_to_string(w[i:i+2], ' '))
              )) AS g
              FROM (SELECT doc_id,
                           regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                    FROM documents)
            ), sizes AS (
              SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
              FROM grams a JOIN grams b USING (g)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(common::DOUBLE / (sa.sz + sb.sz - common), 4) AS jaccard
            FROM inter JOIN sizes sa ON sa.doc_id = id_a
                       JOIN sizes sb ON sb.doc_id = id_b
            WHERE round(common::DOUBLE / (sa.sz + sb.sz - common), 4) >= 0.2
        """,
        # same postings join with the data-derived hot-gram cap
        # (max(16, ceil(sqrt(n_docs)))) applied BEFORE sizes and the
        # self-join — the capped-universe jaccard
        "ngram_jaccard_capped": """
            WITH raw AS (
              SELECT doc_id, unnest(list_distinct(
                list_transform(generate_series(1, greatest(len(w)-2, 1)),
                               i -> array_to_string(w[i:i+2], ' '))
              )) AS g
              FROM (SELECT doc_id,
                           regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                    FROM documents)
            ), cap AS (
              SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c
              FROM documents
            ), grams AS (
              SELECT doc_id, g FROM raw
              WHERE g IN (SELECT g FROM raw GROUP BY g
                          HAVING count(*) <= (SELECT c FROM cap))
            ), sizes AS (
              SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
              FROM grams a JOIN grams b USING (g)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(common::DOUBLE / (sa.sz + sb.sz - common), 4) AS jaccard
            FROM inter JOIN sizes sa ON sa.doc_id = id_a
                       JOIN sizes sb ON sb.doc_id = id_b
            WHERE round(common::DOUBLE / (sa.sz + sb.sz - common), 4) >= 0.1
        """,
        # manifest-fed cap (LakeTable.ngram_dedup_pairs) must equal the
        # data-derived cap: same oracle as ngram_jaccard_capped
        "ngram_jaccard_table": """
            WITH raw AS (
              SELECT doc_id, unnest(list_distinct(
                list_transform(generate_series(1, greatest(len(w)-2, 1)),
                               i -> array_to_string(w[i:i+2], ' '))
              )) AS g
              FROM (SELECT doc_id,
                           regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                    FROM documents)
            ), cap AS (
              SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS c
              FROM documents
            ), grams AS (
              SELECT doc_id, g FROM raw
              WHERE g IN (SELECT g FROM raw GROUP BY g
                          HAVING count(*) <= (SELECT c FROM cap))
            ), sizes AS (
              SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
              FROM grams a JOIN grams b USING (g)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(common::DOUBLE / (sa.sz + sb.sz - common), 4) AS jaccard
            FROM inter JOIN sizes sa ON sa.doc_id = id_a
                       JOIN sizes sb ON sb.doc_id = id_b
            WHERE round(common::DOUBLE / (sa.sz + sb.sz - common), 4) >= 0.1
        """,
        # exact per-candidate-pair jaccard (the LSH precision stage)
        # over the deterministic consecutive-id candidate list
        "verified_pairs": """
            WITH grams AS (
              SELECT doc_id, unnest(list_distinct(
                list_transform(generate_series(1, greatest(len(w)-2, 1)),
                               i -> array_to_string(w[i:i+2], ' '))
              )) AS g
              FROM (SELECT doc_id,
                           regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                    FROM documents)
            ), sizes AS (
              SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id
            ), cand AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
            ), inter AS (
              SELECT c.id_a, c.id_b, count(*) AS common
              FROM cand c
              JOIN grams ga ON ga.doc_id = c.id_a
              JOIN grams gb ON gb.doc_id = c.id_b AND gb.g = ga.g
              GROUP BY 1, 2
            )
            SELECT c.id_a, c.id_b,
                   round(coalesce(i.common, 0)::DOUBLE
                         / (sa.sz + sb.sz - coalesce(i.common, 0)), 4) AS jaccard
            FROM cand c
            LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
            JOIN sizes sa ON sa.doc_id = c.id_a
            JOIN sizes sb ON sb.doc_id = c.id_b
            WHERE round(coalesce(i.common, 0)::DOUBLE
                        / (sa.sz + sb.sz - coalesce(i.common, 0)), 4) >= 0.0
        """,
        # IVF with nprobe = nlist is exact -> same oracle shape as the
        # brute-force cosine top-k, for query vector vec_id=1
        "ivf_topk": """
            WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 1),
            sims AS (
                SELECT vec_id,
                       list_cosine_similarity(embedding, qvec) AS sim
                FROM embeddings, q WHERE vec_id <> 1
            )
            SELECT row_number() OVER (ORDER BY sim DESC, vec_id) AS rank, vec_id
            FROM sims ORDER BY sim DESC, vec_id LIMIT 10
        """,
        # planted identical copies are recovered deterministically by
        # every hyperplane table at cosine exactly 1.0
        "embedding_neardup": """
            SELECT vec_id AS id_a,
                   vec_id + 1000000 AS id_b,
                   CAST(1.0 AS DOUBLE) AS cosine
            FROM embeddings
            WHERE vec_id % 10 = 0
        """,
        # binary payload round-trips the mapInPandas kernel untouched;
        # metadata rewritten to the resize target
        "multimodal_resize": """
            SELECT doc_id AS asset_id,
                   text AS text_roundtrip,
                   'image/fake' AS mime,
                   CAST(64 AS INTEGER) AS width,
                   CAST(64 AS INTEGER) AS height
            FROM documents
        """,
        # each asset yields duration_ms/1000 = (n_chars % 5 + 1) frames
        "audio_frames": """
            SELECT asset_id, CAST(f AS INTEGER) AS frame_idx FROM (
                SELECT doc_id AS asset_id,
                       unnest(generate_series(0, (n_chars % 5 + 1) - 1)) AS f
                FROM documents
            )
        """,
        # closed-form stats of the REAL decoded solid-color assets:
        # format cycles ppm/bmp/pgm, w=8+id%9, h=8+id%7, solid color
        # (id%256, 7id%256, 13id%256); grayscale replicates id%256
        "image_decode_stats": """
            SELECT doc_id AS asset_id,
                   CASE doc_id % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
                        ELSE 'pgm' END AS fmt,
                   CAST(8 + doc_id % 9 AS INTEGER) AS width,
                   CAST(8 + doc_id % 7 AS INTEGER) AS height,
                   CAST(doc_id % 256 AS DOUBLE) AS mean_r,
                   CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 256
                        ELSE (7 * doc_id) % 256 END AS DOUBLE) AS mean_g,
                   CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 256
                        ELSE (13 * doc_id) % 256 END AS DOUBLE) AS mean_b
            FROM documents
        """,
        # bilinear resize of a solid color: dims become (6,5), means and
        # format are invariant
        "image_resize_stats": """
            SELECT doc_id AS asset_id,
                   CASE doc_id % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
                        ELSE 'pgm' END AS fmt,
                   CAST(6 AS INTEGER) AS width,
                   CAST(5 AS INTEGER) AS height,
                   CAST(doc_id % 256 AS DOUBLE) AS mean_r,
                   CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 256
                        ELSE (7 * doc_id) % 256 END AS DOUBLE) AS mean_g,
                   CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 256
                        ELSE (13 * doc_id) % 256 END AS DOUBLE) AS mean_b
            FROM documents
        """,
        # 2+id%3 frames of exactly 200 samples at constant amplitude:
        # RMS = |id%2000-1000| / 32768, exact in float64
        "audio_frame_rms": """
            SELECT asset_id,
                   CAST(f AS INTEGER) AS frame_idx,
                   CAST(200 AS INTEGER) AS n_samples,
                   CAST(ABS(asset_id % 2000 - 1000) AS DOUBLE) / 32768.0
                       AS rms
            FROM (
                SELECT doc_id AS asset_id,
                       unnest(generate_series(0, 1 + doc_id % 3)) AS f
                FROM documents
            )
        """,
        "asof_join": """
            WITH clicks AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click'
            ), purchases AS (
                SELECT user_id, ts, round(max(value), 2) AS purchase_value
                FROM events WHERE event_type = 'purchase'
                GROUP BY user_id, ts
            )
            SELECT c.event_id, c.user_id,
                   CAST(c.ts AS VARCHAR) AS click_ts,
                   CAST(p.ts AS VARCHAR) AS purchase_ts,
                   p.purchase_value
            FROM clicks c
            ASOF LEFT JOIN purchases p
              ON c.user_id = p.user_id AND c.ts >= p.ts
        """,
        "interval_join": """
            WITH clicks AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click'
            ), purchases AS (
                SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase'
            )
            SELECT c.user_id,
                   count(*) AS n_pairs,
                   round(sum(p.value), 2) AS purchase_value_sum
            FROM clicks c JOIN purchases p
              ON c.user_id = p.user_id
             AND p.ts >= c.ts - INTERVAL '3600 seconds'
             AND p.ts <= c.ts + INTERVAL '3600 seconds'
            GROUP BY c.user_id
        """,
        "time_rollup": """
            SELECT day, event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS value_sum
            FROM (
                SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
                       event_type, value
                FROM events
            )
            GROUP BY ROLLUP(day, event_type)
        """,
        "pivot_daily_values": """
            SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
                   round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
                   round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error,
                   round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
                   round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
                   round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view
            FROM events
            GROUP BY 1
        """,
        "value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.9), 4) AS p90,
                   round(quantile_cont(value, 0.99), 4) AS p99,
                   count(value) AS n
            FROM events GROUP BY event_type
        """,
        # greedy earliest-subsequence funnel: s1 = first signup, s2 =
        # first click after s1, s3 = first purchase after s2
        "funnel": """
            WITH t AS (
                SELECT user_id,
                       min(ts) FILTER (event_type = 'signup') AS s1
                FROM events GROUP BY user_id
            ), t2 AS (
                SELECT t.user_id, t.s1,
                       (SELECT min(e.ts) FROM events e
                        WHERE e.user_id = t.user_id
                          AND e.event_type = 'click' AND e.ts > t.s1) AS s2
                FROM t
            ), t3 AS (
                SELECT t2.*,
                       (SELECT min(e.ts) FROM events e
                        WHERE e.user_id = t2.user_id
                          AND e.event_type = 'purchase' AND e.ts > t2.s2) AS s3
                FROM t2
            )
            SELECT stage_idx, stage, n_keys FROM (
                SELECT 1 AS stage_idx, 'signup' AS stage, count(s1) AS n_keys FROM t3
                UNION ALL
                SELECT 2, 'click', count(s2) FROM t3
                UNION ALL
                SELECT 3, 'purchase', count(s3) FROM t3
            )
        """,
        "change_data_feed": """
            WITH w AS (
                SELECT user_id, event_id AS lsn,
                       CASE WHEN event_type = 'error'
                            THEN 'delete' ELSE 'upsert' END AS _change_type,
                       round(value, 2) AS value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            ), split AS (
                SELECT max(event_id) // 2 AS wm FROM events
            )
            SELECT user_id,
                   CASE WHEN _change_type = 'delete' THEN NULL
                        ELSE value END AS value,
                   _change_type,
                   lsn AS _lsn
            FROM w, split
            WHERE rn = 1 AND lsn > wm
        """,
        "point_lookup": """
            WITH ops AS (
                SELECT user_id,
                       CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                       value, ts, event_id AS lsn
                FROM events
            ), winners AS (
                SELECT * FROM ops
                QUALIFY row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, lsn DESC) = 1
            )
            SELECT user_id, round(value, 2) AS value, ts
            FROM winners
            WHERE op <> 'D' AND user_id IN (1,2,3,4,5,6,7,8,9,10)
        """,
        "point_lookup_range": """
            WITH ops AS (
                SELECT user_id,
                       CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                       value, ts, event_id AS lsn
                FROM events
            ), winners AS (
                SELECT * FROM ops
                QUALIFY row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, lsn DESC) = 1
            )
            SELECT user_id, round(value, 2) AS value, ts
            FROM winners
            WHERE op <> 'D' AND user_id IN (1,2,3,4,5,6,7,8,9,10)
        """,
        "point_lookup_bloom": """
            WITH ops AS (
                SELECT user_id,
                       CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                       value, ts, event_id AS lsn
                FROM events
            ), winners AS (
                SELECT * FROM ops
                QUALIFY row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, lsn DESC) = 1
            )
            SELECT user_id, round(value, 2) AS value, ts
            FROM winners
            WHERE op <> 'D' AND user_id IN (1,2,3,4,5,6,7,8,9,10)
        """,
        "time_range_scan": """
            WITH w AS (
                SELECT user_id, ts, event_type,
                       round(value, 2) AS value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC)
                           AS rn
                FROM events
            )
            SELECT user_id, value, ts
            FROM w
            WHERE rn = 1 AND event_type <> 'error'
              AND ts >= TIMESTAMP '2024-01-29'
              AND ts <= TIMESTAMP '2024-01-30 12:00:00'
        """,
        "cdc_rollback": """
            WITH split AS (SELECT max(event_id) // 2 AS wm FROM events),
            w1 AS (
                SELECT user_id, ts, event_type,
                       round(value, 2) AS value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC)
                           AS rn
                FROM events
                WHERE event_id <= (SELECT wm FROM split)
            ),
            wa AS (
                SELECT user_id, ts, event_type,
                       round(value, 2) AS value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC)
                           AS rn
                FROM events
            )
            SELECT 'rolled_back' AS phase, user_id, value, ts
            FROM w1 WHERE rn = 1 AND event_type <> 'error'
            UNION ALL
            SELECT 'replayed' AS phase, user_id, value, ts
            FROM wa WHERE rn = 1 AND event_type <> 'error'
        """,
        "cdc_maintenance": """
            WITH w AS (
                SELECT user_id, ts, event_type,
                       round(value, 2) AS value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC)
                           AS rn
                FROM events
            )
            SELECT user_id, value, ts
            FROM w WHERE rn = 1 AND event_type <> 'error'
        """,
        "cdc_wap_publish": """
            WITH split AS (SELECT max(event_id) // 2 AS wm FROM events),
            w1 AS (
                SELECT user_id, ts, event_type,
                       round(value, 2) AS value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC)
                           AS rn
                FROM events
                WHERE event_id <= (SELECT wm FROM split)
            ),
            wa AS (
                SELECT user_id, ts, event_type,
                       round(value, 2) AS value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC)
                           AS rn
                FROM events
            )
            SELECT 'main_frozen' AS phase, user_id, value, ts
            FROM w1 WHERE rn = 1 AND event_type <> 'error'
            UNION ALL
            SELECT 'published' AS phase, user_id, value, ts
            FROM wa WHERE rn = 1 AND event_type <> 'error'
        """,
        "cdc_dml": """
            WITH w AS (
                SELECT user_id, ts, event_type,
                       round(value, 2) AS value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC)
                           AS rn
                FROM events
            ),
            state AS (
                SELECT user_id, value, ts FROM w
                WHERE rn = 1 AND event_type <> 'error'
            )
            SELECT user_id,
                   CASE WHEN user_id % 3 = 0
                        THEN round(value * 2, 2) ELSE value END AS value,
                   ts
            FROM state
            WHERE NOT (value < 0.2)
        """,
        "cdc_concurrent_commit": """
            WITH replayed AS (
                SELECT user_id, ts, event_type, event_id,
                       round(value, 2) AS value
                FROM events
                WHERE event_id % 2 = 0
                   OR (event_id % 2 = 1 AND user_id =
                        (SELECT min(user_id) FROM events
                         WHERE event_id % 2 = 1))
            ), w AS (
                SELECT user_id, ts, event_type, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC)
                           AS rn
                FROM replayed
            )
            SELECT user_id, value, ts FROM w
            WHERE rn = 1 AND event_type <> 'error'
        """,
        "table_stats": """
            WITH w AS (
                SELECT user_id, ts, event_type,
                       round(value, 2) AS value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC)
                           AS rn
                FROM events
            ),
            state AS (
                SELECT CAST(user_id AS VARCHAR) AS conv_id, value, ts
                FROM w WHERE rn = 1 AND event_type <> 'error'
            )
            SELECT 'conv_id' AS col, count(*) AS row_count,
                   CAST(sum(CASE WHEN conv_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
                   count(DISTINCT conv_id) AS ndv,
                   CAST(min(conv_id) AS VARCHAR) AS vmin,
                   CAST(max(conv_id) AS VARCHAR) AS vmax
            FROM state
            UNION ALL
            SELECT 'value', count(*),
                   CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   count(DISTINCT value),
                   CAST(min(value) AS VARCHAR),
                   CAST(max(value) AS VARCHAR)
            FROM state
            UNION ALL
            SELECT 'ts', count(*),
                   CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   count(DISTINCT ts),
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f'),
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f')
            FROM state
        """,
        "cdc_bucket_evolution": """
            WITH w AS (
                SELECT user_id, ts, event_type,
                       round(value, 2) AS value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC)
                           AS rn
                FROM events
            )
            SELECT user_id, value, ts
            FROM w
            WHERE rn = 1 AND event_type <> 'error'
        """,
        "cdc_rename_drop": """
            WITH split AS (SELECT max(event_id) // 2 AS wm FROM events),
            w AS (
                SELECT user_id, ts, event_id AS lsn, event_type,
                       round(value, 2) AS amount,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC)
                           AS rn
                FROM events
            )
            SELECT user_id, amount,
                   CASE WHEN lsn > (SELECT wm FROM split)
                        THEN event_type END AS flag,
                   ts
            FROM w
            WHERE rn = 1 AND event_type <> 'error'
        """,
        "cdc_schema_promotion": """
            WITH split AS (SELECT max(event_id) // 2 AS wm FROM events),
            w AS (
                SELECT user_id, ts, event_id AS lsn, event_type,
                       CASE WHEN event_id <= (SELECT wm FROM split)
                            THEN CAST(floor(value * 100) AS BIGINT)
                            ELSE CAST(floor(value * 100) AS BIGINT)
                                 + 34359738368 END AS score,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC)
                           AS rn
                FROM events
            )
            SELECT user_id, score, ts
            FROM w
            WHERE rn = 1 AND event_type <> 'error'
        """,
        "cdc_nested_evolution": """
            WITH split AS (SELECT max(event_id) // 2 AS wm FROM events),
            w AS (
                SELECT user_id, ts, event_id AS lsn, event_type,
                       CASE WHEN event_id > (SELECT wm FROM split)
                            THEN CAST(floor(value * 10) AS INTEGER)
                            ELSE NULL END AS tool_calls,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC)
                           AS rn
                FROM events
            )
            SELECT user_id, event_type AS tool_name, tool_calls, ts
            FROM w
            WHERE rn = 1 AND event_type <> 'error'
        """,
        "cdc_add_files": """
            WITH split AS (SELECT max(event_id) // 2 AS wm FROM events),
            b1 AS (
                SELECT user_id, event_type AS text, ts,
                       CAST(-1 AS BIGINT) AS lsn, 'U' AS op
                FROM (
                    SELECT user_id, event_type, ts,
                           row_number() OVER (PARTITION BY user_id
                                              ORDER BY ts DESC,
                                                       event_id DESC) AS rn
                    FROM events
                    WHERE event_id <= (SELECT wm FROM split)
                )
                WHERE rn = 1
            ),
            b2 AS (
                SELECT user_id, event_type AS text, ts, event_id AS lsn,
                       CASE WHEN event_type = 'error' THEN 'D'
                            ELSE 'U' END AS op
                FROM events
                WHERE event_id > (SELECT wm FROM split)
            ),
            u AS (
                SELECT * FROM b1 UNION ALL SELECT * FROM b2
            ),
            w AS (
                SELECT *, row_number() OVER (PARTITION BY user_id
                                             ORDER BY ts DESC, lsn DESC)
                          AS rn
                FROM u
            )
            SELECT user_id, text, ts
            FROM w
            WHERE rn = 1 AND op <> 'D'
        """,
        "cdc_apply_mor": """
            WITH w AS (
                SELECT user_id, ts, event_type,
                       round(value, 2) AS value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC)
                           AS rn
                FROM events
            )
            SELECT user_id, value, ts
            FROM w
            WHERE rn = 1 AND event_type <> 'error'
        """,
        # minhash_pairs / simhash_fingerprints: intentionally no oracle
        # (engine-defined xxhash64-based hash families DuckDB cannot
        # reproduce) -> driver records rows-only checks; correctness is
        # covered by planted-duplicate recovery tests in
        # tests/test_dedup_fuzzy.py and, for the full LSH pipeline, by
        # the oracle-checked minhash_exact_dup_pairs companion above.
    }
