"""Seeded binlog inputs, materialized before any timing.

The engine only ever sees the files: each workload's change stream is
generated with the engine's own public generator (``gen_change_stream``
-> ``to_envelope``), written as LSN-ordered, LSN-range-split parquet
files — the layout ``write_event_files`` produces, in one job instead of
one per file — and cached on disk by (workload shape, seed), so a
repeated seed skips generation. A file's LSN range comes from its parquet footer, which the
freshness metric needs to tell which commit made the file visible.
"""

from __future__ import annotations

import dataclasses
import glob
import hashlib
import json
import os
import shutil
import time

import pyarrow.parquet as pq

#: the warm-up's binlog: one fixed 1,500-event file from the generator
#: (seed 0), kept with the benchmark so the set-up runs no generation job.
#: ``python3 perfbench/inputs.py`` rebuilds it.
WARMUP_FILE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "warmup-binlog.parquet"
)
WARMUP_SEED = 0

#: the table DDL every workload creates; payload columns beyond it (the
#: dirty metadata and the mid-stream ``lang``) arrive by schema evolution
TABLE_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


@dataclasses.dataclass(frozen=True)
class StreamShape:
    """Shape of one workload's change stream (FIXTURES.md section 2)."""

    n_events: int
    n_files: int
    n_convs: int
    turns_per_conv: int = 32
    hot_conv_frac: float = 0.2
    delete_frac: float = 0.05
    #: fraction of the stream after which payloads carry ``lang``
    evolve_at: float = 0.5

    def key(self, seed: int) -> str:
        blob = json.dumps(dataclasses.asdict(self), sort_keys=True)
        return f"{hashlib.sha1(blob.encode()).hexdigest()[:10]}-seed{seed}"


WARMUP_SHAPE = StreamShape(n_events=1_500, n_files=1, n_convs=200)


@dataclasses.dataclass
class Binlog:
    files: list[str]
    #: per file: (min lsn, max lsn), in file (= LSN) order
    lsn_ranges: list[tuple[int, int]]
    n_events: int

    def link_prefix(self, out_dir: str, n: int) -> None:
        """Hard-link the first ``n`` files into ``out_dir`` — a watched
        directory holding a prefix of the stream, with no data copy."""
        os.makedirs(out_dir, exist_ok=True)
        for f in self.files[:n]:
            os.link(f, os.path.join(out_dir, os.path.basename(f)))


def _footer_lsn_range(path: str) -> tuple[int, int]:
    md = pq.ParquetFile(path).metadata
    idx = md.schema.names.index("lsn")
    lo = hi = None
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(idx).statistics
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return int(lo), int(hi)


def _write_files(envelope, out_dir: str, n_files: int, n_events: int) -> None:
    """File i holds LSNs [i*per, (i+1)*per) in LSN order: every row of a
    file lands in one write task, so each ``_f=i`` directory holds one
    file. Modification times rise with i, because the stream source
    takes new files oldest first and the change feed needs them applied
    in LSN order."""
    from pyspark.sql import functions as F

    per = -(-n_events // n_files)
    tmp = os.path.join(out_dir, "_tmp")
    (
        envelope.withColumn("_f", F.floor(F.col("lsn") / per).cast("int"))
        .repartition(n_files, "_f")
        .sortWithinPartitions("_f", "lsn")
        .write.partitionBy("_f")
        .parquet(tmp)
    )
    t0 = time.time() - n_files
    for i in range(n_files):
        (part,) = glob.glob(os.path.join(tmp, f"_f={i}", "part-*.parquet"))
        final = os.path.join(out_dir, f"batch-{i:05d}.parquet")
        shutil.move(part, final)
        os.utime(final, (t0 + i, t0 + i))
    shutil.rmtree(tmp)


def binlog(spark, shape: StreamShape, seed: int, cache_dir: str) -> Binlog:
    """The seeded binlog for ``shape``: generated once, then reused. The
    cache keeps every entry (1-3 MB each), so a sweep over many seeds
    generates each binlog once; delete the directory to reclaim it."""
    out = os.path.join(cache_dir, shape.key(seed))
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        from etl_rs_spark.generator import gen_change_stream, to_envelope

        shutil.rmtree(out, ignore_errors=True)
        events = gen_change_stream(
            spark,
            n_events=shape.n_events,
            n_convs=shape.n_convs,
            turns_per_conv=shape.turns_per_conv,
            seed=seed,
            hot_conv_frac=shape.hot_conv_frac,
            delete_frac=shape.delete_frac,
            evolve_after_lsn=int(shape.n_events * shape.evolve_at),
        )
        _write_files(to_envelope(events), os.path.join(out, "files"),
                     shape.n_files, shape.n_events)
        with open(done, "w") as f:
            f.write(json.dumps(dataclasses.asdict(shape)))
    files = sorted(
        os.path.join(out, "files", n)
        for n in os.listdir(os.path.join(out, "files"))
        if n.endswith(".parquet")
    )
    ranges = [_footer_lsn_range(f) for f in files]
    return Binlog(files, ranges, sum(hi - lo + 1 for lo, hi in ranges))


def _rebuild_warmup_file() -> None:
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    from perfbench import run

    work = os.path.join(run.WORK_ROOT, "fixture")
    shutil.rmtree(work, ignore_errors=True)
    spark = run.start_spark(work, run._pin_environment(work))
    try:
        log = binlog(spark, WARMUP_SHAPE, WARMUP_SEED, work)
        os.makedirs(os.path.dirname(WARMUP_FILE), exist_ok=True)
        shutil.copyfile(log.files[0], WARMUP_FILE)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    _rebuild_warmup_file()
