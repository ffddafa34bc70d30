"""Tracing from the benchmark's own files.

Spans are recorded around calls into each layer and kept in memory;
nothing is read from Spark while the workload runs. At the end the
driver's status store (readable with ``spark.ui.enabled=false``) is
queried once, each span is matched to the Spark jobs submitted inside
it, and the spans are written out with parent links, self time and the
stage metrics of their jobs.

Job matching: the benchmark's own read operations run under a job group
named after their span; streaming ``foreachBatch`` work carries the
stream's run id as its job group and ``batch = N`` in its description,
so a layer inside a batch (the merge, lineage, maintenance) owns the
batch's jobs submitted between its start and end.

In a traced run a few public functions are wrapped to get their spans:
``LakeTable.merge/compact/expire_snapshots/vacuum_orphans`` and the
lineage writer the apply path calls. Untraced runs patch nothing.
"""

from __future__ import annotations

import dataclasses
import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from typing import Any, Callable

from pyspark.sql.streaming.listener import StreamingQueryListener

#: job-group prefix of the benchmark's own read operations
READER_GROUP = "perfbench-"


@dataclasses.dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    lane: str = "ingest"
    group: str | None = None
    attrs: dict[str, Any] = dataclasses.field(default_factory=dict)
    parent: int | None = None
    jobs: list[int] = dataclasses.field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclasses.dataclass
class Job:
    id: int
    group: str | None
    description: str
    submit_ms: int
    stages: list[int]


@dataclasses.dataclass
class StageMetrics:
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    tasks: int = 0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0

    def __iadd__(self, o: "StageMetrics") -> "StageMetrics":
        for f in dataclasses.fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(o, f.name))
        return self


class ProgressLog(StreamingQueryListener):
    """Keeps every streaming progress event; the workloads read trigger
    timing and batch start times from it."""

    def __init__(self) -> None:
        self.events: list[dict[str, Any]] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.events.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self, query_id: str, wait_for: set[int], timeout_s: float = 10.0):
        """Progress of the data batches of one query, waiting (the
        listener bus is asynchronous) until ``wait_for`` have arrived."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                got = [
                    p for p in self.events
                    if p["id"] == query_id and p.get("numInputRows", 0) > 0
                ]
            if wait_for <= {p["batchId"] for p in got} or time.monotonic() > deadline:
                return sorted(got, key=lambda p: p["batchId"])
            time.sleep(0.05)


def progress_epoch(p: dict[str, Any]) -> float:
    """Trigger start of a progress event as epoch seconds."""
    from datetime import datetime

    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


class Tracer:
    """In-memory spans plus, while ``active``, the wrappers around the
    engine's public layer functions."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.active = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._patches: list[tuple[Any, str, Any]] = []

    # -- spans -----------------------------------------------------------
    def add(self, name: str, start: float, end: float, **kw) -> Span:
        s = Span(next(self._ids), name, start, end, **kw)
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, lane: str = "ingest"):
        """Time a block; when tracing, tag its Spark jobs with a job group
        of its own so they can be attributed afterwards."""
        if not self.active:
            yield
            return
        sc = self.spark.sparkContext
        group = f"{READER_GROUP}{name}-{next(self._ids)}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.add(name, t0, time.time(), lane=lane, group=group)
            sc.setLocalProperty("spark.jobGroup.id", None)

    # -- wrappers --------------------------------------------------------
    def _wrap(self, owner, attr: str, name: str,
              describe: Callable[[tuple, dict, Any], dict]) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            t0 = time.time()
            out = orig(*a, **kw)
            tracer.add(name, t0, time.time(), attrs=describe(a, kw, out))
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    @contextmanager
    def tracing(self, on: bool = True):
        """Install the layer wrappers for the duration of the block."""
        if not (self.enabled and on):
            yield
            return
        import etl_rs_spark.cdc.apply as apply_mod
        from etl_rs_spark.sinks.lake import LakeTable

        def merge_attrs(a, kw, out):
            counts = (kw.get("batch_stats") or {}).get("bucket_counts") or {}
            return {
                "batch_id": kw.get("batch_id"),
                "winners": sum(counts.values()),
                "rows_written": sum((out.get("rows_per_bucket") or {}).values()),
                "files_written": out.get("files_written", 0),
                "stage_ms": dict(out.get("stage_ms") or {}),
            }

        none = lambda a, kw, out: {}  # noqa: E731
        self._wrap(LakeTable, "merge", "merge", merge_attrs)
        self._wrap(LakeTable, "compact", "compact", none)
        self._wrap(LakeTable, "expire_snapshots", "retention.expire", none)
        self._wrap(LakeTable, "vacuum_orphans", "retention.vacuum", none)
        self._wrap(apply_mod, "write_lineage", "lineage", none)
        self.active = True
        try:
            yield
        finally:
            self.active = False
            for owner, attr, orig in reversed(self._patches):
                setattr(owner, attr, orig)
            self._patches.clear()


# -- status store -----------------------------------------------------------

def _opt(o):
    return o.get() if o.isDefined() else None


class StatusStore:
    """Jobs and stages from the driver's AppStatusStore, read once."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._ss = sc._jsc.sc().statusStore()
        q = sc._gateway.new_array(sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._q = q
        self.jobs: list[Job] = []
        js = self._ss.jobsList(None)
        for i in range(js.size()):
            j = js.apply(i)
            sub = _opt(j.submissionTime())
            if sub is None:
                continue
            ids = j.stageIds()
            self.jobs.append(Job(
                id=j.jobId(),
                group=_opt(j.jobGroup()),
                description=_opt(j.description()) or "",
                submit_ms=int(sub.getTime()),
                stages=[ids.apply(k) for k in range(ids.size())],
            ))
        self.jobs.sort(key=lambda j: j.id)
        # Spark 4 needs the 5-argument stageList(statuses, details,
        # withSummaries, quantiles, taskStatuses)
        self.stages: dict[int, tuple[int, StageMetrics]] = {}
        st = self._ss.stageList(None, False, False, q, None)
        for i in range(st.size()):
            s = st.apply(i)
            sid, att = s.stageId(), s.attemptId()
            if sid in self.stages and self.stages[sid][0] > att:
                continue
            self.stages[sid] = (att, StageMetrics(
                run_s=s.executorRunTime() / 1e3,
                cpu_s=s.executorCpuTime() / 1e9,
                gc_s=s.jvmGcTime() / 1e3,
                tasks=s.numCompleteTasks(),
                shuffle_write_mb=s.shuffleWriteBytes() / 2**20,
                spill_mb=(s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
                input_mb=s.inputBytes() / 2**20,
            ))

    def metrics(self, jobs: list[Job]) -> StageMetrics:
        out = StageMetrics()
        for sid in {s for j in jobs for s in j.stages}:
            if sid in self.stages:
                out += self.stages[sid][1]
        return out

    def task_skew(self, jobs: list[Job]) -> float | None:
        """max / median task run time of the jobs' busiest stage."""
        sids = [s for j in jobs for s in j.stages if s in self.stages]
        if not sids:
            return None
        sid = max(sids, key=lambda s: self.stages[s][1].run_s)
        att, m = self.stages[sid]
        if m.tasks < 2:
            return 1.0
        d = _opt(self._ss.taskSummary(sid, att, self._q))
        if d is None:
            return None
        rt = d.executorRunTime()
        med, mx = rt.apply(0), rt.apply(1)
        return mx / med if med > 0 else None


def attach_jobs(spans: list[Span], store: StatusStore) -> None:
    """Give each span the jobs submitted inside it: by job group for the
    benchmark's own operations, by time window within the stream's jobs
    otherwise. A job goes to the innermost span that claims it, so a
    span's jobs are its own, not its children's."""
    claimed: set[int] = set()
    for s in sorted(spans, key=lambda s: s.dur):
        lo, hi = s.start * 1000 - 1, s.end * 1000 + 1
        for j in store.jobs:
            if j.id in claimed:
                continue
            if s.group is not None:
                hit = j.group == s.group
            else:
                hit = lo <= j.submit_ms <= hi and not (j.group or "").startswith(
                    READER_GROUP
                )
            if hit:
                s.jobs.append(j.id)
                claimed.add(j.id)


def link_parents(spans: list[Span]) -> None:
    """Parent = the shortest span of the same lane containing this one."""
    for s in spans:
        best = None
        for p in spans:
            if p is s or p.lane != s.lane or p.dur < s.dur:
                continue
            if p.dur == s.dur and p.id > s.id:
                continue
            if p.start <= s.start and s.end <= p.end:
                if best is None or p.dur < best.dur:
                    best = p
        s.parent = best.id if best is not None else s.parent


def self_time(s: Span, spans: list[Span]) -> float:
    kids = sorted((c.start, c.end) for c in spans if c.parent == s.id)
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in kids:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(s.dur - covered, 0.0)


def write_spans(path: str, spans: list[Span], store: StatusStore, host: dict) -> None:
    jobs = {j.id: j for j in store.jobs}
    out = []
    for s in spans:
        m = store.metrics([jobs[i] for i in s.jobs if i in jobs])
        out.append({
            "id": s.id, "parent": s.parent, "name": s.name, "lane": s.lane,
            "start": s.start, "end": s.end, "dur_s": s.dur,
            "self_s": self_time(s, spans), "jobs": s.jobs,
            "runtime": dataclasses.asdict(m), "attrs": s.attrs,
        })
    with open(path, "w") as f:
        json.dump({"host": host, "spans": out}, f, indent=1, default=str)
