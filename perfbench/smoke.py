"""Smoke test of the benchmark itself, at tiny scale, in one session.

    python3 perfbench/smoke.py

Checks that every workload, untraced and traced, emits every metric that
BENCHMARK.json names, with its unit, and passes its correctness gate;
and that the gate catches a table with one row changed. Exits non-zero
on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run  # noqa: E402
from perfbench.inputs import StreamShape  # noqa: E402

TINY_REPLAY = StreamShape(n_events=6_000, n_files=16, n_convs=50)
TINY_TAIL_FILE_EVENTS = 300
#: run seconds per workload; the tail needs nine files for the three
#: batches that make it compact and expire
TINY_SECONDS = {"replay_cow": 3, "tail_mor": 10}


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main() -> int:
    from perfbench.workloads import (
        E2E_UNITS,
        EXPECTED_ZERO,
        LAYER_UNITS,
        WORKLOADS,
        Context,
    )

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check({m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS,
          "BENCHMARK.json end_to_end matches the emitted metrics and units")
    check({m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_UNITS,
          "BENCHMARK.json per_layer matches the emitted metrics and units")
    check({w["name"] for w in bench["workloads"]} == set(WORKLOADS),
          "BENCHMARK.json workloads match the runnable ones")

    work = os.path.join(run.WORK_ROOT, "smoke")
    shutil.rmtree(work, ignore_errors=True)
    cores = run._pin_environment(work)
    spark = run.start_spark(work, cores)
    try:
        def ctx(name: str, trace: bool, corrupt: bool = False) -> Context:
            return Context(
                spark, name, seed=7, seconds=TINY_SECONDS[name], trace=trace,
                work=os.path.join(work, f"{name}-{int(trace)}-{int(corrupt)}"),
                corrupt=corrupt, replay_shape=TINY_REPLAY,
                tail_file_events=TINY_TAIL_FILE_EVENTS,
            )

        for name, fn in WORKLOADS.items():
            for trace in (False, True):
                c = ctx(name, trace)
                out = fn(c)
                tag = f"{name} trace={int(trace)}"
                check(c.failed == 0 and c.attempted > 0, f"{tag}: gate passes")
                # run.py adds the memory peak, sampled outside the workload
                check(set(out["e2e"]) | {"peak_rss_mb"} == set(E2E_UNITS),
                      f"{tag}: every end-to-end metric emitted")
                check(all(v > 0 for v in out["e2e"].values()),
                      f"{tag}: end-to-end metrics are positive")
                if trace:
                    layers = out["layers"]
                    check(set(layers) == set(LAYER_UNITS),
                          f"{tag}: every per-layer metric emitted")
                    zero = {k for k, v in layers.items() if v == 0}
                    check(zero == EXPECTED_ZERO[name],
                          f"{tag}: per-layer metrics are nonzero, except "
                          f"{sorted(EXPECTED_ZERO[name])} (zero: {sorted(zero)})")
            c = ctx(name, trace=False, corrupt=True)
            fn(c)
            check(c.failed > 0,
                  f"{name}: gate catches one changed row "
                  f"({c.failed}/{c.attempted} failed)")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
