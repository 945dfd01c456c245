"""Alternating parent/change pairs of the benchmark for one workload.

    python3 tools/bench_pairs.py --workload serve --parent HEAD~1 --pairs 10 --seed 2

Runs ``perfbench/run.py --trace 0`` for the parent and for this working tree,
``--pairs`` times each, alternating which side runs first.  The parent is a
``git worktree`` of the given commit, made in a temporary directory and
removed at the end (an existing checkout directory may be given instead).
Run length is BENCHMARK.json's ``run_seconds`` on both sides.

For every end-to-end metric of BENCHMARK.json it prints each side's median
and quartiles and how many pairs the change wins (ties count for neither),
then the raw per-run values as one JSON line.  A metric is marked GAIN when
at least ten pairs ran, the change wins at least nine tenths of them and the
medians differ by more than the parent's interquartile range.
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


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed in {checkout} (exit {p.returncode})")
    meta, result = json.loads(lines[-2])["meta"], json.loads(lines[-1])
    return {
        "correct": result["correct"],
        "steal": meta.get("cpu_steal_share"),
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(bench: dict, runs: dict) -> None:
    n = len(runs["change"])
    print(f"{'metric':28} {'parent median [q1, q3]':>32} {'change median [q1, q3]':>32}  wins")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        par = [r["metrics"][name] for r in runs["parent"]]
        chg = [r["metrics"][name] for r in runs["change"]]
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(par), quartiles(chg)
        gain = n >= 10 and wins >= 0.9 * n and abs(cmed - pmed) > pq3 - pq1 and (cmed < pmed) == lower
        print(
            f"{name:28} {pmed:12.4g} [{pq1:8.4g}, {pq3:8.4g}] {cmed:12.4g} [{cq1:8.4g}, {cq3:8.4g}]"
            f"  {wins}/{n}{'  GAIN' if gain else ''}"
        )
    for side in ("parent", "change"):
        steal = [r["steal"] for r in runs[side] if r["steal"] is not None]
        bad = sum(not r["correct"] for r in runs[side])
        print(f"{side}: steal {min(steal, default=0):.3f}-{max(steal, default=0):.3f}, incorrect runs {bad}")
    print(json.dumps(runs))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--parent", required=True, help="commit-ish, or a checkout directory")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=2)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    worktree = None
    parent = args.parent
    if not os.path.isdir(parent):
        worktree = tempfile.mkdtemp(prefix="bench_parent_")
        subprocess.run(["git", "-C", ROOT, "worktree", "add", "--detach", worktree, parent], check=True)
        parent = worktree
    runs: dict = {"parent": [], "change": []}
    try:
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                r = run_once(parent if side == "parent" else ROOT, args.workload, args.seed, bench["run_seconds"])
                runs[side].append(r)
                print(f"pair {i + 1}/{args.pairs} {side}: " + json.dumps(r["metrics"]), file=sys.stderr, flush=True)
    finally:
        if worktree is not None:
            subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", worktree], check=False)
    report(bench, runs)


if __name__ == "__main__":
    main()
