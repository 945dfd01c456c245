"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

Checks that the seeded generator is byte-deterministic (same seed, same
bytes; another seed, other bytes) and that each workload, with tracing off
and on, prints a result line with every metric BENCHMARK.json names, in the
unit it names.  Takes a few minutes (four short Spark runs).
"""

from __future__ import annotations

import json
import numbers
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_DOCS = 300


def check_generator(scratch: str) -> list[str]:
    import corpus

    def digests(seed: int, tag: str) -> tuple[str, str]:
        b = os.path.join(scratch, f"{tag}-build")
        s = os.path.join(scratch, f"{tag}-serve")
        corpus.build_corpus(seed, TINY_DOCS, b)
        corpus.serve_corpus(seed, TINY_DOCS, 3, s)
        return corpus.tree_digest(b), corpus.tree_digest(s)

    first, again, other = digests(5, "a"), digests(5, "b"), digests(6, "c")
    errors = []
    if first != again:
        errors.append("generator: same seed gave different bytes")
    if first[0] == other[0] or first[1] == other[1]:
        errors.append("generator: different seeds gave the same bytes")
    return errors


def check_result(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload, "--seed", "0",
           "--seconds", "1", "--trace", str(trace), "--docs", str(TINY_DOCS)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    where = f"{workload} --trace {trace}"
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return [f"{where}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    res = json.loads(lines[-1])
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0 or not res.get("attempted", 0) >= 1:
        errors.append(f"{where}: correct={res.get('correct')} attempted={res.get('attempted')} failed={res.get('failed')}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = res.get("metrics", {})
    if set(got) != set(want):
        errors.append(f"{where}: missing {sorted(set(want) - set(got))}, unexpected {sorted(set(got) - set(want))}")
    for name, m in got.items():
        if name in want and m.get("unit") != want[name]:
            errors.append(f"{where}: {name} unit {m.get('unit')!r}, BENCHMARK.json says {want[name]!r}")
        if not isinstance(m.get("value"), numbers.Real) or isinstance(m.get("value"), bool):
            errors.append(f"{where}: {name} value {m.get('value')!r} is not a number")
    return errors


def main() -> int:
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    scratch = os.path.join(HERE, ".work", "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        errors = check_generator(scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            errors += check_result(w, trace, spec)
    for e in errors:
        print("FAIL", e)
    print("selftest:", "ok" if not errors else f"{len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
