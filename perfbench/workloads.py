"""The benchmark's workloads, both driven through the engine's public API
only: ``StreamDriver`` for ingest, ``LakeTable.lookup/changes/read`` for
the read side.

replay_cow (closed loop)
    ``StreamDriver.run_available_now`` drains a pre-materialized seeded
    binlog in a few large microbatches into a fresh copy-on-write table
    with lineage on, round after round until the run time is spent.
    Traced runs then compact, expire and vacuum the last round's table.

tail_mor (open loop)
    The main thread moves small pre-materialized binlog files into the
    watched directory on a fixed schedule while ``StreamDriver`` tails
    it with a processing-time trigger into a merge-on-read table with
    inline compaction, retention and lineage. Two reader threads issue,
    each on its own fixed schedule, point lookups (the hot conversation
    and cold ones, alternately) and ``changes()`` polls; each is timed
    from when it was due, so a stall shows in every later operation.

Both end with the same closed-loop read phase on the final table, which
gives the end-to-end read metrics. Traced runs of both then make one
pass over the lake lifecycle (DML, a branch publish, ``add_files``,
bucket evolution, rollback) on that table.

Both streams have the north-rule shape: 20% of events on one hot
conversation, 5% deletes with resurrection, dirty payload metadata, and
the ``lang`` column arriving halfway.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback
from typing import Any

from perfbench import gate, host
from perfbench.inputs import TABLE_DDL, WARMUP_FILE, Binlog, StreamShape, binlog
from perfbench.trace import (
    ProgressLog,
    StatusStore,
    Tracer,
    attach_jobs,
    link_parents,
    progress_epoch,
    write_spans,
)

REPLAY_BUCKETS = 8
#: table creations per run; setup_s counts their median
SETUPS = 3
#: the closed-loop read phase on each workload's final table:
#: (lookups, change polls, scans); merge-on-read reads cost ~5x more
REPLAY_READS = (8, 8, 8)
TAIL_READS = (5, 5, 5)
#: a read sample is taken again when other guests of the hypervisor got
#: more than this share of the host's CPU while it ran ...
STEAL_MAX_SHARE = 0.05
#: ... at most this many more times per kind, as a share of its count
RETAKE_SHARE = 0.5

REPLAY_SHAPE = StreamShape(n_events=40_000, n_files=16, n_convs=1000)
REPLAY_FILES_PER_BATCH = 8

TAIL_FILE_EVENTS = 1_500
#: one file per second on average, moved in bursts of TAIL_FILES_PER_BATCH
#: just before each trigger. Spark's file source keeps the files it listed
#: beyond a batch's cap for the next batch without listing again, so with
#: files landing one by one, which files a late batch took depended on
#: how late it was; with whole bursts every batch takes exactly one.
TAIL_INTERVAL_S = 1.0
#: how long before its trigger a burst lands
TAIL_LEAD_S = 0.5
#: a batch costs about 3 s on 4 cores whatever its size, so a 4 s trigger
#: keeps the tail from running batches back to back
TAIL_TRIGGER_S = 4
TAIL_FILES_PER_BATCH = 4
TAIL_CONVS = 200
#: the tail's table is small (6,400 keys); 4 buckets halve the files each
#: batch writes and each merge-on-read read resolves, against 8
TAIL_BUCKETS = 4
#: with ten files: three batches, compaction after the second, so the
#: final table reads through one batch of delta files
TAIL_COMPACT_EVERY = 2
TAIL_RETENTION_EVERY = 3
#: retention runs but keeps every snapshot of the run, so each pinned
#: lookup can still be checked against read(version) afterwards
TAIL_KEEP_LAST = 10_000
LOOKUPS_PER_S = 0.5
POLLS_PER_S = 0.2
#: give up on a tail that has not committed its last file by then
DRAIN_TIMEOUT_S = 90.0

HOT_KEY = "conv-00000"

E2E_UNITS = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "cpu_s_per_mevent": "s",
    "lookup_p50_s": "s",
    "changes_p50_s": "s",
    "scan_s": "s",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "stream.batches": "count",
    "stream.files_per_batch": "count",
    "stream.trigger_overhead_s": "s",
    "apply.batch_s_p50": "s",
    "apply.prescan_s": "s",
    "apply.jobs_per_batch": "count",
    "apply.dedup_ratio": "ratio",
    "apply.cpu_s": "s",
    "dedup.shuffle_write_mb": "MB",
    "dedup.task_skew": "ratio",
    "merge.write_s": "s",
    "merge.commit_s": "s",
    "merge.files_written": "count",
    "merge.shuffle_write_mb": "MB",
    "merge.task_skew": "ratio",
    "merge.write_amp": "ratio",
    "lookup.input_mb": "MB",
    "changes.input_mb": "MB",
    "scan.input_mb": "MB",
    "compact.s": "s",
    "retention.s": "s",
    "table.files_live": "count",
    "table.delta_files": "count",
    "table.meta_kb": "KB",
    "lineage.s": "s",
    "lifecycle.dml_s": "s",
    "lifecycle.wap_s": "s",
    "lifecycle.add_files_s": "s",
    "lifecycle.rebucket_s": "s",
    "lifecycle.rollback_s": "s",
    "runtime.executor_run_s": "s",
    "runtime.executor_cpu_s": "s",
    "runtime.tasks": "count",
    "trace.overhead_frac": "ratio",
}

#: per-layer metrics that are 0 on a workload by construction; every
#: other one must be measured and nonzero (the smoke test checks both)
EXPECTED_ZERO = {
    # copy-on-write rewrites whole files and never leaves delta files
    "replay_cow": {"table.delta_files"},
    "tail_mor": set(),
}


class Context:
    """State of one benchmark run: the session, its tracer and progress
    log, the run's inputs and the operation counters."""

    def __init__(self, spark, workload: str, seed: int, seconds: int,
                 trace: bool, work: str, corrupt: bool = False,
                 replay_shape: StreamShape = REPLAY_SHAPE,
                 tail_file_events: int = TAIL_FILE_EVENTS):
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.cache = os.path.join(os.path.dirname(work), "inputs")
        #: rewrite one row of the final table before the gate (smoke test
        #: of the gate itself)
        self.corrupt = corrupt
        self.replay_shape = replay_shape
        self.tail_file_events = tail_file_events
        self.tracer = Tracer(spark, trace)
        self.progress = ProgressLog()
        spark.streams.addListener(self.progress)
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()
        self.rng = random.Random(seed)
        #: (version, conv_id, canonical rows) of every pinned lookup
        self.lookups: list[tuple[int, str, list[tuple]]] = []
        self.lookup_s: list[float] = []
        self.changes_s: list[float] = []
        self.scan_s: list[float] = []
        #: latencies of the reads issued beside the tail's writes
        self.tail_lookup_s: list[float] = []
        self.tail_changes_s: list[float] = []
        #: extra facts for the host line of the output
        self.notes: dict[str, Any] = {}
        self.t0 = time.monotonic()

    def phase(self, name: str) -> None:
        """Log how long the run has taken so far, to standard error."""
        print(f"perfbench: {time.monotonic() - self.t0:7.1f}s {name}",
              file=sys.stderr, flush=True)

    def dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def count(self, bad: int, attempted: int = 1) -> None:
        with self._lock:
            self.attempted += attempted
            self.failed += bad

    def cold_key(self, n_convs: int) -> str:
        return f"conv-{self.rng.randrange(1, n_convs):05d}"


# -- shared pieces -------------------------------------------------------------

def _create(ctx: Context, path: str, mor: bool):
    from etl_rs_spark.sinks.lake import LakeTable

    props = {"write.merge.mode": "merge-on-read"} if mor else None
    return LakeTable.create(ctx.spark, path, TABLE_DDL,
                            num_buckets=TAIL_BUCKETS if mor else REPLAY_BUCKETS,
                            props=props)


def _driver(ctx: Context, table, events_dir: str, name: str, **kw):
    from etl_rs_spark.cdc.stream import StreamDriver

    return StreamDriver(ctx.spark, table, events_dir, ctx.dir(name, "ckpt"),
                        lineage_dir=ctx.dir(name, "lineage"), **kw)


def _query_id(ctx: Context, name: str) -> str:
    """The streaming query id, as persisted in the run's checkpoint."""
    with open(ctx.dir(name, "ckpt", "metadata")) as f:
        return json.load(f)["id"]


def _applied(stats: list[dict[str, Any]]) -> list[dict[str, Any]]:
    return [s for s in stats if not s.get("skipped")]


def _visible_at(table, applied, log: Binlog) -> list[float]:
    """Per binlog file, the commit time of the first snapshot holding it
    (files arrive in LSN order, so the watermark tells)."""
    commits = [
        (s["watermark_lsn"], table.snapshot(s["version"]).committed_at_ms / 1e3)
        for s in applied
    ]
    out = []
    for _, hi in log.lsn_ranges:
        out.append(next(t for wm, t in commits if wm >= hi))
    return out


def _lookup(ctx: Context, table, key: str, samples: list[float],
            due: float | None = None) -> None:
    """One pinned point lookup; latency runs from ``due`` when given."""
    t0 = time.time() if due is None else due
    try:
        with ctx.tracer.span("lookup", lane="reader"):
            v = table.current().version
            rows = table.lookup(key, version=v).collect()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        ctx.count(1)
        return
    samples.append(time.time() - t0)
    ctx.lookups.append((v, key, gate.canonical_rows(rows)))
    ctx.count(0)


def _poll(ctx: Context, table, consumer: gate.CdfConsumer, due: float) -> None:
    """One open-loop CDF consumer poll: the net changes since its last
    version, timed from when it was due."""
    try:
        with ctx.tracer.span("changes", lane="reader"):
            cur = table.current().version
            rows = table.changes(consumer.last_seen, cur).collect()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        ctx.count(1)
        return
    ctx.tail_changes_s.append(time.time() - due)
    consumer.apply(rows, cur)
    ctx.count(0)


def _read_phase(ctx: Context, table, n_convs: int, since: int,
                counts: tuple[int, int, int], warm: bool) -> None:
    """The end-to-end read metrics, closed loop on the final table: point
    lookups of the hot and cold keys in turn, polls of the last data
    commit's changes (``changes(since, final)``), and full scans, in
    rounds of one of each, so a stretch of outside load slows every kind
    alike. It runs after the state gate, whose full reads warm the scan
    path; with ``warm``, one untimed lookup and poll warm theirs.

    A sample during which the hypervisor gave other guests more than
    STEAL_MAX_SHARE of the host's CPU is taken again in a later round,
    up to RETAKE_SHARE more of each kind. Each metric is the median of
    the quiet samples, or of all samples when none was quiet."""
    final = table.current().version
    if warm:
        table.lookup(HOT_KEY).collect()
        table.changes(since, final).collect()

    def lookup(k: int) -> None:
        key = HOT_KEY if k % 2 == 0 else ctx.cold_key(n_convs)
        with ctx.tracer.span("lookup", lane="reader"):
            rows = table.lookup(key, version=final).collect()
        ctx.lookups.append((final, key, gate.canonical_rows(rows)))

    def poll(k: int) -> None:
        with ctx.tracer.span("changes", lane="reader"):
            table.changes(since, final).collect()

    def scan(k: int) -> None:
        with ctx.tracer.span("scan", lane="reader"):
            table.read().count()

    kinds = [(lookup, ctx.lookup_s), (poll, ctx.changes_s), (scan, ctx.scan_s)]
    noisy: list[list[float]] = [[] for _ in kinds]
    tries = [0] * len(kinds)
    cpus = os.cpu_count()
    with ctx.tracer.tracing():
        while True:
            pending = [i for i, (_, quiet) in enumerate(kinds)
                       if len(quiet) < counts[i]
                       and tries[i] < counts[i] * (1 + RETAKE_SHARE)]
            if not pending:
                break
            for i in pending:
                op, quiet = kinds[i]
                steal0, t0 = host.steal_s(), time.time()
                op(tries[i])
                dt = time.time() - t0
                tries[i] += 1
                stolen = host.steal_s() - steal0
                (quiet if stolen <= STEAL_MAX_SHARE * dt * cpus
                 else noisy[i]).append(dt)
                ctx.count(0)
    for (_, quiet), extra in zip(kinds, noisy):
        if not quiet:
            quiet.extend(extra)
    ctx.notes["reads_retaken"] = sum(map(len, noisy))


def _setup(ctx: Context, mor: bool) -> float:
    """Set-up time apart from the session: the warm-up, then the median
    of SETUPS table creations. The warm-up drains the benchmark's fixed
    warm-up binlog file into a fresh table. It runs before the
    workload's inputs are made, so it is the process's first Spark work
    whether those come from the cache or not; it pays every lazy
    initialisation once, and work moved there shows in setup_s. It is
    not repeated, since a second one would be warm."""
    src = ctx.dir("warmup", "binlog")
    os.makedirs(src)
    shutil.copy(WARMUP_FILE, src)
    t0 = time.monotonic()
    table = _create(ctx, ctx.dir("warmup", "table"), mor)
    _driver(ctx, table, src, "warmup").run_available_now()
    warmup = time.monotonic() - t0
    creates = []
    for i in range(SETUPS):
        t0 = time.monotonic()
        _create(ctx, ctx.dir(f"setup{i}", "table"), mor)
        creates.append(time.monotonic() - t0)
    ctx.phase(f"warm-up {warmup:.2f}s, table creations "
              + ", ".join(f"{s:.3f}s" for s in creates))
    return warmup + statistics.median(creates)


def _corrupt_one_row(table) -> None:
    r = table.read().select("conv_id", "turn_idx").orderBy("conv_id", "turn_idx").first()
    table.update_where(
        {"text": "concat(text, ' (corrupted)')"},
        f"conv_id = '{r['conv_id']}' AND turn_idx = {r['turn_idx']}",
    )


def _gate_state(ctx: Context, tables: list, log: Binlog) -> None:
    """Every table must hold exactly the state the binlog converges to."""
    want = gate.oracle_triple(ctx.spark, log.files)
    for t in tables:
        got = gate.table_triple(t)
        if got != want:
            print(f"perfbench: state mismatch at {t.path}: table {got} "
                  f"!= replay {want}", file=sys.stderr)
        ctx.count(int(got != want))


def _lifecycle(ctx: Context, table, n_convs: int) -> None:
    """Traced runs only: one pass over the lake lifecycle on the gated
    final table, each step its own span: row-level DML, a
    write-audit-publish cycle on a branch, ``add_files`` of an exported
    slice, bucket-spec evolution, and a rollback to the gated version.
    The caller gates the state again afterwards, so the rollback must
    restore exactly the replayed state."""
    gated = table.current().version
    key = ctx.cold_key(n_convs)
    export = ctx.dir("lifecycle", "import")
    table.read().where(f"conv_id = '{key}'").write.parquet(export)
    span = ctx.tracer.span
    with ctx.tracer.tracing():
        with span("lifecycle.dml"):
            table.update_where({"text": "upper(text)"}, f"conv_id = '{key}'")
            table.delete_where(f"conv_id = '{key}' AND turn_idx % 2 = 0")
        with span("lifecycle.wap"):
            table.create_branch("audit")
            table.on_branch("audit").update_where(
                {"tool": "'audited'"}, f"conv_id = '{HOT_KEY}'"
            )
            table.fast_forward("audit")
            table.drop_branch("audit")
        with span("lifecycle.add_files"):
            table.add_files([export])
        with span("lifecycle.rebucket"):
            table.set_num_buckets(table.current().num_buckets * 2)
        with span("lifecycle.rollback"):
            table.rollback(gated)


def _gate_lookups(ctx: Context, table) -> None:
    bad = gate.lookups_match(table, ctx.lookups)
    if bad:
        print(f"perfbench: {bad} pinned lookups differ from read(version)",
              file=sys.stderr)
    ctx.count(bad, len(ctx.lookups))


def _gate_changes(ctx: Context, table, consumer: gate.CdfConsumer) -> None:
    # the consumer catches up to the final version in one more poll
    final = table.current().version
    if consumer.last_seen < final:
        consumer.apply(table.changes(consumer.last_seen, final).collect(), final)
    cdf_bad = consumer.mismatches(table.read().collect())
    if cdf_bad:
        print(f"perfbench: change feed replay differs from the final state "
              f"on {cdf_bad} rows", file=sys.stderr)
    ctx.count(int(cdf_bad > 0))


# -- replay_cow ----------------------------------------------------------------

def replay_cow(ctx: Context) -> dict[str, Any]:
    setup = _setup(ctx, mor=False)
    log = binlog(ctx.spark, ctx.replay_shape, ctx.seed, ctx.cache)
    ctx.phase("inputs ready")

    rounds: list[dict[str, Any]] = []
    deadline = time.monotonic() + ctx.seconds
    # a round starts only if a typical round still fits in the run time.
    # A traced run alternates traced and untraced rounds: the per-layer
    # numbers come from the first, the tracing cost from the pair.
    while (
        not rounds
        or time.monotonic() + statistics.median(r["wall"] for r in rounds) <= deadline
        or len(rounds) < (2 if ctx.trace else 1)
    ):
        i = len(rounds)
        name = f"round{i}"
        table = _create(ctx, ctx.dir(name, "table"), mor=False)
        events_dir = os.path.dirname(log.files[0])
        driver = _driver(ctx, table, events_dir, name,
                         max_files_per_trigger=REPLAY_FILES_PER_BATCH)
        traced = ctx.trace and i % 2 == 0
        with ctx.tracer.tracing(traced):
            cpu0, t0 = host.spark_cpu_s(ctx.spark), time.time()
            stats = driver.run_available_now(timeout_s=600)
            cpu1, t1 = host.spark_cpu_s(ctx.spark), time.time()
        applied = _applied(stats)
        visible = _visible_at(table, applied, log)
        ctx.count(0, len(applied))
        rounds.append({
            "table": table, "query_id": _query_id(ctx, name), "applied": applied,
            "traced": traced, "wall": t1 - t0,
            "eps": log.n_events / (max(visible) - t0),
            "cpu_s": cpu1 - cpu0,
            "freshness": [v - t0 for v in visible],
        })

    ctx.phase(f"{len(rounds)} rounds done")
    # gate, read side and maintenance on the last round's table
    table = rounds[-1]["table"]
    shape = _table_shape(table)
    if ctx.corrupt:
        _corrupt_one_row(table)
    _gate_state(ctx, [r["table"] for r in rounds], log)
    _read_phase(ctx, table, ctx.replay_shape.n_convs,
                since=table.current().version - 1, counts=REPLAY_READS,
                warm=True)
    _gate_lookups(ctx, table)
    if ctx.trace:
        # the lifecycle pass and maintenance, for their per-layer
        # numbers; the state gate then proves they left the state as
        # replayed
        _lifecycle(ctx, table, ctx.replay_shape.n_convs)
        with ctx.tracer.tracing():
            table.compact()
            table.expire_snapshots(keep_last=1, distributed=True)
            table.vacuum_orphans(distributed=True)
        _gate_state(ctx, [table], log)
    ctx.phase("gate, reads and maintenance done")

    _note_freshness(ctx, [f for r in rounds for f in r["freshness"]])
    e2e = {
        "setup_s": setup,
        "events_per_s": statistics.median(r["eps"] for r in rounds),
        "cpu_s_per_mevent": statistics.median(
            r["cpu_s"] / log.n_events * 1e6 for r in rounds
        ),
        **_read_latencies(ctx),
    }
    layers = None
    if ctx.trace:
        tr = [r for r in rounds if r["traced"]]
        un = [r for r in rounds if not r["traced"]]
        overhead = 1 - (
            statistics.median(r["eps"] for r in tr)
            / statistics.median(r["eps"] for r in un)
        )
        layers = _layers(ctx, tr, shape, len(log.files), overhead)
    return {"e2e": e2e, "layers": layers}


# -- tail_mor ------------------------------------------------------------------

def _tail_shape(ctx: Context) -> StreamShape:
    n_files = max(int(ctx.seconds / TAIL_INTERVAL_S), 2)
    return StreamShape(n_events=n_files * ctx.tail_file_events,
                       n_files=n_files, n_convs=TAIL_CONVS)


def _open_loop(sc, first: float, until: float, rate: float, op) -> None:
    """Call ``op(n, due)`` at ``first + n / rate`` until ``until``; a late
    call still runs, and its latency counts from when it was due."""
    sc.setLocalProperty("spark.scheduler.pool", "readers")
    n = 0
    while first + n / rate < until:
        due = first + n / rate
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        op(n, due)
        n += 1


def _tail(ctx: Context, log: Binlog, name: str, traced: bool):
    """Schedule the binlog into a watched directory and tail it."""
    staging, watch = ctx.dir(name, "staging"), ctx.dir(name, "binlog")
    log.link_prefix(staging, len(log.files))
    os.makedirs(watch)
    table = _create(ctx, ctx.dir(name, "table"), mor=True)
    driver = _driver(
        ctx, table, watch, name,
        max_files_per_trigger=TAIL_FILES_PER_BATCH,
        compact_every=TAIL_COMPACT_EVERY,
        retention_every=TAIL_RETENTION_EVERY,
        retention_keep_last=TAIL_KEEP_LAST,
    )
    consumer = gate.CdfConsumer(table.current().version)
    final_lsn = log.lsn_ranges[-1][1]
    with ctx.tracer.tracing(traced):
        q = driver.start(processing_time=f"{TAIL_TRIGGER_S} seconds")
        # the query's first trigger fires once it has started, off the
        # grid; a burst that landed before it would be taken early, so
        # wait for it
        started_by = time.monotonic() + DRAIN_TIMEOUT_S
        while ((q.status["message"].startswith("Initializing")
                or q.status["isTriggerActive"])
               and q.exception() is None and time.monotonic() < started_by):
            time.sleep(0.05)
        # triggers fire on multiples of the interval: pin the arrivals to
        # that grid, each burst TAIL_LEAD_S before a trigger, so every run
        # sees files land at the same phase and a file waits only briefly
        # for the batch that takes it
        now = time.time() + TAIL_LEAD_S + 0.1
        t0 = (now // TAIL_TRIGGER_S + 1) * TAIL_TRIGGER_S - TAIL_LEAD_S
        cpu0 = host.spark_cpu_s(ctx.spark)
        arrivals = [t0 + i // TAIL_FILES_PER_BATCH * TAIL_TRIGGER_S
                    for i in range(len(log.files))]
        until = t0 + len(log.files) * TAIL_INTERVAL_S
        sc = ctx.spark.sparkContext
        readers = [
            threading.Thread(target=_open_loop, daemon=True, args=(
                sc, t0, until, LOOKUPS_PER_S,
                lambda n, due: _lookup(
                    ctx, table,
                    HOT_KEY if n % 2 == 0 else ctx.cold_key(TAIL_CONVS),
                    ctx.tail_lookup_s, due),
            )),
            threading.Thread(target=_open_loop, daemon=True, args=(
                sc, t0 + 0.5 / POLLS_PER_S, until, POLLS_PER_S,
                lambda n, due: _poll(ctx, table, consumer, due),
            )),
        ]
        for r in readers:
            r.start()
        try:
            late = 0.0
            for f, when in zip(log.files, arrivals):
                delay = when - time.time()
                if delay > 0:
                    time.sleep(delay)
                base = os.path.basename(f)
                os.rename(os.path.join(staging, base), os.path.join(watch, base))
                late = max(late, time.time() - when)
            # how late the arrival generator ran, for the host line
            ctx.notes["arrival_late_max_s"] = late
            drain_by = time.monotonic() + DRAIN_TIMEOUT_S
            while (table.current().watermark_lsn < final_lsn
                   and q.exception() is None and time.monotonic() < drain_by):
                time.sleep(0.05)
            cpu1 = host.spark_cpu_s(ctx.spark)
            # let the last batch finish its inline maintenance before stop
            while q.status["isTriggerActive"] and time.monotonic() < drain_by:
                time.sleep(0.05)
        finally:
            for r in readers:
                r.join(timeout=DRAIN_TIMEOUT_S)
            q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"tail stream failed: {q.exception()}")
    if table.current().watermark_lsn < final_lsn:
        raise TimeoutError(f"tail did not drain within {DRAIN_TIMEOUT_S}s")
    applied = _applied(driver.batch_stats)
    visible = _visible_at(table, applied, log)
    query_id = _query_id(ctx, name)
    progress = ctx.progress.batches(query_id, {s["batch_id"] for s in applied})
    start = progress_epoch(progress[0]) if progress else t0
    return {
        "table": table, "query_id": query_id, "applied": applied,
        "consumer": consumer,
        "eps": log.n_events / (max(visible) - start),
        "cpu_s": cpu1 - cpu0,
        "freshness": [v - a for v, a in zip(visible, arrivals)],
    }


def _replay_eps(ctx: Context, log: Binlog, name: str, traced: bool) -> float:
    """Closed-loop drain of the whole tail binlog into a fresh
    merge-on-read table — the tracing-cost calibration of a traced run."""
    table = _create(ctx, ctx.dir(name, "table"), mor=True)
    driver = _driver(ctx, table, os.path.dirname(log.files[0]), name)
    with ctx.tracer.tracing(traced):
        t0 = time.time()
        driver.run_available_now(timeout_s=600)
        t1 = time.time()
    return log.n_events / (t1 - t0)


def tail_mor(ctx: Context) -> dict[str, Any]:
    setup = _setup(ctx, mor=True)
    log = binlog(ctx.spark, _tail_shape(ctx), ctx.seed, ctx.cache)
    ctx.phase("inputs ready")
    run = _tail(ctx, log, "tail", traced=ctx.trace)
    ctx.phase("tail drained")
    table = run["table"]
    shape = _table_shape(table)
    ctx.count(0, len(run["applied"]))
    ctx.notes["tail_reads"] = {
        "lookup_p50_s": host.p50(ctx.tail_lookup_s),
        "lookup_p90_s": host.p90(ctx.tail_lookup_s),
        "changes_p50_s": host.p50(ctx.tail_changes_s),
        "lookups": len(ctx.tail_lookup_s),
        "polls": len(ctx.tail_changes_s),
    }
    if ctx.corrupt:
        _corrupt_one_row(table)
    _gate_changes(ctx, table, run["consumer"])
    _gate_state(ctx, [table], log)
    ctx.phase("gate")
    # the tail's readers have already warmed lookups and polls
    _read_phase(ctx, table, TAIL_CONVS,
                since=run["applied"][-1]["version"] - 1, counts=TAIL_READS,
                warm=False)
    ctx.phase("read phase")
    _gate_lookups(ctx, table)
    ctx.phase("lookup gate")

    _note_freshness(ctx, run["freshness"])
    e2e = {
        "setup_s": setup,
        "events_per_s": run["eps"],
        "cpu_s_per_mevent": run["cpu_s"] / log.n_events * 1e6,
        **_read_latencies(ctx),
    }
    layers = None
    if ctx.trace:
        _lifecycle(ctx, table, TAIL_CONVS)
        _gate_state(ctx, [table], log)
        # one untraced and one traced closed-loop drain of the binlog
        overhead = 1 - (_replay_eps(ctx, log, "cal-traced", True)
                        / _replay_eps(ctx, log, "cal-untraced", False))
        layers = _layers(ctx, [run], shape, len(log.files), overhead)
    return {"e2e": e2e, "layers": layers}


WORKLOADS = {"replay_cow": replay_cow, "tail_mor": tail_mor}


# -- metrics -------------------------------------------------------------------

# The 90th percentiles go to the host line, not the metrics: a run has
# 10 to 16 freshness samples and 5 to 8 lookups, too few for a tail
# percentile that holds a regression bound from run to run. Freshness
# goes there too: the tail's 4 s trigger leaves a batch little headroom,
# so on a busy host files queue behind the previous batch, and its
# freshness moved by half from one set of ten seeds to the next.

def _note_freshness(ctx: Context, values: list[float]) -> None:
    ctx.notes["freshness_mean_s"] = statistics.fmean(values)
    ctx.notes["freshness_p50_s"] = host.p50(values)
    ctx.notes["freshness_p90_s"] = host.p90(values)


def _read_latencies(ctx: Context) -> dict[str, float]:
    ctx.notes["lookup_p90_s"] = host.p90(ctx.lookup_s)
    return {
        "lookup_p50_s": host.p50(ctx.lookup_s),
        "changes_p50_s": host.p50(ctx.changes_s),
        "scan_s": host.p50(ctx.scan_s),
    }


def _table_shape(table) -> dict[str, float]:
    """The end-of-ingest table, before any post-ingest pass touches it."""
    files = table.current().files
    meta_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(table.meta_dir) for f in fs
    )
    return {
        "table.files_live": len(files),
        "table.delta_files": sum(1 for f in files if f.get("kind") == "delta"),
        "table.meta_kb": meta_bytes / 1024,
    }


def _layers(ctx: Context, runs: list[dict[str, Any]], shape: dict[str, float],
            n_files: int, overhead: float) -> dict[str, float]:
    """Per-layer metrics of the traced ingest runs, from the spans, the
    apply/merge stats the API returns, and the status store. A metric
    that nothing measured is an error, not a 0."""
    tracer = ctx.tracer
    store = StatusStore(ctx.spark)
    batches = []  # (run, apply stats, progress)
    for r in runs:
        applied = {s["batch_id"]: s for s in r["applied"]}
        for p in ctx.progress.batches(r["query_id"], set(applied)):
            if p["batchId"] in applied:
                start = progress_epoch(p)
                b = tracer.add(
                    "batch", start,
                    start + p["durationMs"]["triggerExecution"] / 1e3,
                    attrs={"run_id": p["runId"], "batch_id": p["batchId"]},
                )
                batches.append((b, applied[p["batchId"]], p))
    if not batches:
        raise RuntimeError("no traced batch matched its streaming progress")
    link_parents(tracer.spans)
    attach_jobs(tracer.spans, store)
    spans = tracer.spans
    jobs = {j.id: j for j in store.jobs}

    def kids(span, name):
        return [s for s in spans if s.parent == span.id and s.name == name]

    per: dict[str, list[float]] = {}

    def put(k: str, v) -> None:
        if v is not None:
            per.setdefault(k, []).append(v)

    events = winners = rows_written = 0
    for b, stats, p in batches:
        run_id, bid = b.attrs["run_id"], b.attrs["batch_id"]
        mine = [j for j in store.jobs
                if j.group == run_id and f"batch = {bid}" in j.description]
        maint = {i for n in ("compact", "retention.expire", "retention.vacuum")
                 for s in kids(b, n) for i in s.jobs}
        apply_jobs = [j for j in mine if j.id not in maint]
        merges = kids(b, "merge")
        if merges:
            m = merges[0]
            prescan = [j for j in apply_jobs if j.submit_ms < m.start * 1e3]
            merge_jobs = [jobs[i] for i in m.jobs if i in jobs]
            put("dedup.shuffle_write_mb", store.metrics(prescan).shuffle_write_mb)
            put("dedup.task_skew", store.task_skew(prescan))
            put("merge.shuffle_write_mb", store.metrics(merge_jobs).shuffle_write_mb)
            put("merge.task_skew", store.task_skew(merge_jobs))
            put("merge.write_s", m.attrs["stage_ms"].get("write"))
            put("merge.commit_s", m.attrs["stage_ms"].get("commit"))
            put("merge.files_written", m.attrs["files_written"])
            winners += m.attrs["winners"]
            rows_written += m.attrs["rows_written"]
            events += stats["n_events"]
        rt = store.metrics(apply_jobs)
        put("runtime.executor_run_s", rt.run_s)
        put("runtime.executor_cpu_s", rt.cpu_s)
        put("runtime.tasks", rt.tasks)
        put("apply.jobs_per_batch", len(apply_jobs))
        put("apply.batch_s_p50", stats["apply_wall_ms"] / 1e3)
        put("apply.prescan_s", stats["stage_ms"]["dedup_keys"] / 1e3)
        put("apply.cpu_s", stats.get("apply_cpu_ms"))
        for s in kids(b, "lineage"):
            put("lineage.s", s.dur)
        for s in kids(b, "compact"):
            put("compact.s", s.dur)
        retention = kids(b, "retention.expire") + kids(b, "retention.vacuum")
        if retention:
            put("retention.s", sum(s.dur for s in retention))
        d = p["durationMs"]
        put("stream.trigger_overhead_s",
            (d["triggerExecution"] - d.get("addBatch", 0)) / 1e3)
    # stage_ms and apply_cpu_ms are milliseconds
    for k in ("merge.write_s", "merge.commit_s", "apply.cpu_s"):
        if k in per:
            per[k] = [v / 1e3 for v in per[k]]

    # passes outside any batch: replay_cow's maintenance, the lifecycle
    top = [s for s in spans if s.parent is None]
    for s in top:
        if s.name == "compact":
            put("compact.s", s.dur)
        if s.name.startswith("lifecycle."):
            put(s.name + "_s", s.dur)
    top_ret = [s for s in top if s.name in ("retention.expire", "retention.vacuum")]
    if top_ret:
        put("retention.s", sum(s.dur for s in top_ret))
    for name in ("lookup", "changes", "scan"):
        for s in spans:
            if s.name == name:
                put(f"{name}.input_mb",
                    store.metrics([jobs[i] for i in s.jobs if i in jobs]).input_mb)

    n_batches = len(batches) / len(runs)
    out = {k: statistics.median(v) for k, v in per.items()}
    out.update(shape)
    out.update({
        "stream.batches": n_batches,
        "stream.files_per_batch": n_files / n_batches,
        "trace.overhead_frac": overhead,
    })
    if events:
        out["apply.dedup_ratio"] = winners / events
    if winners:
        out["merge.write_amp"] = rows_written / winners
    missing = sorted(set(LAYER_UNITS) - set(out))
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {missing}")
    host_info = {"loadavg": host.loadavg(), "nproc": os.cpu_count()}
    traces = os.path.join(os.path.dirname(ctx.work), "traces")
    os.makedirs(traces, exist_ok=True)
    write_spans(
        os.path.join(traces, f"{ctx.workload}-seed{ctx.seed}.json"),
        spans, store, host_info,
    )
    return {k: out[k] for k in LAYER_UNITS}
