"""Compare two trees of the repository on the benchmark, in pairs.

Each tree is exported with ``git archive`` into a fresh directory, so
neither side runs from the development checkout (whose caches, build
leftovers and work directories skew timings). Then, for every seed,
``perfbench/run.py`` runs once in each directory; the side that runs
first alternates from pair to pair, so a drift of the host during the
comparison falls on both sides alike.

Usage:
    python scripts/bench_pairs.py --base REV --head REV \\
        [--workload replay_cow --workload tail_mor] [--pairs 10] \\
        [--first-seed 1] [--out DIR]

REV is anything ``git archive`` takes (a commit, a branch, a tree id),
or ``WORKTREE`` for the working tree as it is, untracked files
included (exported through a temporary index; no ref moves). Every
run's JSON line is appended to ``DIR/runs.jsonl``. The summary gives,
per workload and end-to-end metric of ``BENCHMARK.json``: each side's
median and quartiles, the head's median change, in how many pairs the
head was better, and the gap between the medians over the base's
interquartile range; plus the runs that failed a correctness check.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str, env: dict | None = None) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, env=env, check=True, capture_output=True, text=True
    ).stdout.strip()


def _tree(rev: str) -> str:
    if rev != "WORKTREE":
        return rev
    with tempfile.TemporaryDirectory() as d:
        env = {**os.environ, "GIT_INDEX_FILE": os.path.join(d, "index")}
        _git("add", "-A", env=env)
        return _git("write-tree", env=env)


def export(rev: str, dest: str) -> None:
    os.makedirs(dest)
    archive = subprocess.run(
        ["git", "archive", _tree(rev)], cwd=ROOT, check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(checkout: str, workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", str(seed),
        ],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"correct": False, "error": proc.stderr[-2000:]}


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: list[dict], metrics: list[dict]) -> str:
    out = []
    for w in sorted({r["workload"] for r in runs}):
        pairs: dict[int, dict[str, dict]] = {}
        for r in runs:
            if r["workload"] == w:
                pairs.setdefault(r["seed"], {})[r["side"]] = r["result"]
        bad = sorted(
            f"{side}@{seed}"
            for seed, sides in pairs.items()
            for side, res in sides.items()
            if not res.get("correct") or res.get("failed")
        )
        whole = sum(len(sides) == 2 for sides in pairs.values())
        out.append(f"\n{w}: {whole} pairs; failed runs: {bad or 'none'}")
        out.append(
            f"  {'metric':<18}{'base median [q1-q3]':>30}"
            f"{'head median [q1-q3]':>30}{'change':>9}{'head better':>13}"
            f"{'gap/IQR':>9}"
        )
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            vals = {"base": [], "head": []}
            wins = n = 0
            for sides in pairs.values():
                got = {
                    s: sides[s]["metrics"][name]["value"]
                    for s in ("base", "head")
                    if name in sides.get(s, {}).get("metrics", {})
                }
                for s, v in got.items():
                    vals[s].append(v)
                if len(got) == 2:
                    n += 1
                    h, b = got["head"], got["base"]
                    wins += h != b and (h < b) == lower
            if not vals["base"] or not vals["head"]:
                continue
            qb, qh = _quartiles(vals["base"]), _quartiles(vals["head"])
            change = (qh[1] - qb[1]) / qb[1] * 100 if qb[1] else float("nan")
            iqr = qb[2] - qb[0]
            gap = abs(qh[1] - qb[1]) / iqr if iqr else float("inf")
            out.append(
                f"  {name:<18}"
                f"{f'{qb[1]:.4g} [{qb[0]:.4g}-{qb[2]:.4g}]':>30}"
                f"{f'{qh[1]:.4g} [{qh[0]:.4g}-{qh[2]:.4g}]':>30}"
                f"{change:>+8.1f}%{f'{wins}/{n}':>13}{gap:>9.2f}"
            )
    return "\n".join(out)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--head", required=True)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", help="work directory (default: a new temp dir)")
    args = ap.parse_args(argv)

    out = args.out or tempfile.mkdtemp(prefix="bench_pairs-")
    sides = {s: os.path.join(out, s) for s in ("base", "head")}
    for side, rev in (("base", args.base), ("head", args.head)):
        export(rev, sides[side])
    with open(os.path.join(sides["head"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]

    runs = []
    log = os.path.join(out, "runs.jsonl")
    for w in workloads:
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            for side in order:
                res = run_once(sides[side], w, seed)
                rec = {"workload": w, "seed": seed, "side": side, "result": res}
                runs.append(rec)
                with open(log, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                print(f"{w} seed {seed} {side}: correct={res.get('correct')}",
                      file=sys.stderr, flush=True)
    print(f"runs: {log}")
    print(summarize(runs, bench["end_to_end"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
