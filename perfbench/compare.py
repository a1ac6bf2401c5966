"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are result files written by ``run.py`` (under
``.perfbench/results/``) or directories of them. For each workload and
end-to-end metric the script prints both medians, their ratio and
whether NEW stays within the bound ``BENCHMARK.json`` fixes. It refuses
(exit code 2) to compare results whose stamps differ in core count,
scale, pyspark version or run length: a number taken on 32 cores says
nothing about a 4-core run.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
#: Stamp fields that must match for two results to be comparable.
MUST_MATCH = ("nproc", "sf", "etl_rows", "pyspark", "seconds", "trace")


def load(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def check_stamps(base: list[dict], new: list[dict]) -> list[str]:
    """Reasons the two sets cannot be compared (empty when they can)."""
    problems = []
    for workload in {r["stamp"]["workload"] for r in base + new}:
        stamps = [r["stamp"] for r in base + new if r["stamp"]["workload"] == workload]
        for key in MUST_MATCH:
            seen = sorted({str(s.get(key)) for s in stamps})
            if len(seen) > 1:
                problems.append(f"{workload}: results differ in {key}: {', '.join(seen)}")
    return problems


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("new")
    a = ap.parse_args()
    base, new = load(a.base), load(a.new)
    problems = check_stamps(base, new)
    if problems:
        for p in problems:
            print(f"refused: {p}", file=sys.stderr)
        sys.exit(2)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    worse = 0
    for workload in sorted({r["stamp"]["workload"] for r in base + new}):
        for name, m in spec.items():
            b = [r["end_to_end"][name] for r in base if r["stamp"]["workload"] == workload]
            n = [r["end_to_end"][name] for r in new if r["stamp"]["workload"] == workload]
            if not b or not n:
                continue
            mb, mn = statistics.median(b), statistics.median(n)
            ratio = mn / mb
            bad = ratio > 1 + m["bound"] if m["better"] == "lower" else ratio < 1 - m["bound"]
            worse += bad
            print(f"{workload:12s} {name:14s} base {mb:10.4g} new {mn:10.4g} {m['unit']:3s} "
                  f"new/base {ratio:6.3f} ({len(b)} vs {len(n)} runs)"
                  f"{'  WORSE than bound ' + str(m['bound']) if bad else ''}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
