"""Test comparison helpers."""

from __future__ import annotations

import contextlib

import pandas as pd
import pandas.testing as pdt

KEY = ["conv_id", "turn_idx"]


def normalize_frame(df: pd.DataFrame, sort_keys=KEY) -> pd.DataFrame:
    out = df.copy()
    out = out[sorted(out.columns)]
    out = out.sort_values(sort_keys, kind="mergesort").reset_index(drop=True)
    # unify timestamp precision / tz-naive for comparison
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = pd.to_datetime(out[c]).dt.tz_localize(None).astype("datetime64[us]")
        elif out[c].dtype == object or str(out[c].dtype) in ("string", "boolean"):
            out[c] = out[c].where(pd.notna(out[c]), None)
    return out


def assert_state_equal(engine: pd.DataFrame, oracle: pd.DataFrame, cols=None):
    """Final-state equality sorted by (conv_id, turn_idx) — the
    BASELINE.json per-row invariant (per-turn text equality under stable
    turn ordering)."""
    if cols is None:
        cols = sorted(set(engine.columns) & set(oracle.columns))
    e = normalize_frame(engine[list(cols)])
    o = normalize_frame(oracle[list(cols)])
    assert len(e) == len(o), f"row count {len(e)} != oracle {len(o)}"
    pdt.assert_frame_equal(e, o, check_dtype=False, check_like=True)


def executed_plan_nodes(spark, action) -> list[tuple[str, bool]]:
    """Run ``action()`` and return ``(name, is_leaf)`` for every node of
    every SQL execution it ran, read from the final (post-AQE) physical
    plan graphs in Spark's SQL status store. WholeStageCodegen
    clusters group nodes and are not listed. Python-evaluating nodes
    show up by name: ``"ArrowEvalPython"``, ``"BatchEvalPython"``,
    ``"MapInPandas"``. Works with the UI disabled."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def recent(limit: int) -> list:
        n = store.executionsCount()
        seq = store.executionsList(max(n - limit, 0), limit)
        return [seq.apply(i) for i in range(seq.size())]

    bus.waitUntilEmpty()
    n0 = store.executionsCount()
    seen = max((e.executionId() for e in recent(1)), default=-1)
    action()
    bus.waitUntilEmpty()
    out = []
    for e in recent(store.executionsCount() - n0 + 64):
        if e.executionId() <= seen:
            continue
        graph = store.planGraph(e.executionId())
        edges = graph.edges()
        parents = {edges.apply(i).toId() for i in range(edges.size())}
        nodes = graph.allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if node.getClass().getSimpleName() != "SparkPlanGraphCluster":
                out.append((node.name(), node.id() not in parents))
    return out


def executed_leaf_scans(spark, action) -> list[str]:
    """Run ``action()`` and return the leaf node names of every SQL
    execution it ran (``executed_plan_nodes``): ``"Scan parquet "``,
    ``"LocalTableScan"``, ``"Range"``, or ``"Scan ExistingRDD"`` for a
    DataFrame built from an RDD: a Python RDD, whose tasks run on
    Python workers, or the JVM RDD a foreachBatch microbatch wraps."""
    return [name for name, leaf in executed_plan_nodes(spark, action) if leaf]


@contextlib.contextmanager
def count_manifest_loads():
    """Record every manifest file the driver loads inside the block:
    yields the list of manifest paths (relative to meta/) passed to
    ``sinks.lake._load_manifest``, in load order. Manifests Spark
    reads as JSON on executors (the ``inspect_*`` metadata tables) do
    not go through it and are not counted."""
    import etl_rs_spark.sinks.lake as lake

    loads: list[str] = []
    real = lake._load_manifest

    def counting(meta_dir, relpath):
        loads.append(relpath)
        return real(meta_dir, relpath)

    lake._load_manifest = counting
    try:
        yield loads
    finally:
        lake._load_manifest = real


def manifest_pointer_diff(table, v_from: int, v_to: int) -> set[str]:
    """Manifest groups whose pointer differs between two versions of
    ``table``: added, removed or rewritten. Every other group's
    manifest file is shared by both versions."""
    a = {m["group"]: m["path"] for m in table.snapshot(v_from).manifest_list}
    b = {m["group"]: m["path"] for m in table.snapshot(v_to).manifest_list}
    return {g for g in a.keys() | b.keys() if a.get(g) != b.get(g)}


def spark_jobs_during(spark, action) -> list[int]:
    """Run ``action()`` and return the ids of the Spark jobs it ran, as
    the difference of the status tracker's job ids before and after.
    Counts jobs outside any job group (the tests set none)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup())
    action()
    bus.waitUntilEmpty()
    return sorted(set(tracker.getJobIdsForGroup()) - before)


@contextlib.contextmanager
def lookup_tier(tier: str):
    """Pin ``LakeTable.lookup()`` to one tier inside the block:
    ``"spark"`` always runs the Spark plan, ``"local"`` resolves every
    eligible lookup on the driver whatever its candidate row count."""
    import etl_rs_spark.sinks.lake as lake

    bound = {"spark": -1, "local": float("inf")}[tier]
    real = lake._LOCAL_LOOKUP_MAX_ROWS
    lake._LOCAL_LOOKUP_MAX_ROWS = bound
    try:
        yield
    finally:
        lake._LOCAL_LOOKUP_MAX_ROWS = real


@contextlib.contextmanager
def local_reads():
    """Record every data file the driver-local lookup tier opens inside
    the block: yields the list of paths passed to
    ``sinks.lake._arrow_read``, in read order."""
    import etl_rs_spark.sinks.lake as lake

    opened: list[str] = []
    real = lake._arrow_read

    def recording(path, *args):
        opened.append(path)
        return real(path, *args)

    lake._arrow_read = recording
    try:
        yield opened
    finally:
        lake._arrow_read = real


def assert_local_twin(spark, table, keys, **kw) -> list[str]:
    """The driver-local tier of ``table.lookup(keys, **kw)`` opens
    exactly the files the Spark plan scans, returns the same rows and
    schema, and runs no Spark job. Returns the paths it opened."""
    import os

    with lookup_tier("spark"):
        ref = table.lookup(keys, **kw)
        want_files = sorted(os.path.basename(p) for p in ref.inputFiles())
        want = sorted(map(repr, ref.collect()))
    got: list = []
    with lookup_tier("local"), local_reads() as opened:
        jobs = spark_jobs_during(
            spark, lambda: got.append(table.lookup(keys, **kw))
        )
        jobs += spark_jobs_during(spark, lambda: got.append(got[0].collect()))
    assert jobs == [], f"local tier ran Spark jobs {jobs}"
    assert sorted(os.path.basename(p) for p in opened) == want_files
    assert sorted(map(repr, got[1])) == want
    assert got[0].schema == ref.schema
    return opened
