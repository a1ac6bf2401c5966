#!/usr/bin/env python
"""Measured scaling curves for the most expensive registry queries
(SCALING.md, verdict r11 task 5).

Runs each query at sf0.01 (~60k lineitem rows), sf0.1 (~600k), and the
generated ~10x corpus (tools/make_scaling_corpus.py -> spark-warehouse/
scaling_sf10, ~6M), one uncounted warmup + 3 counted runs per (query,
scale) in ONE session per scale (fresh-JVM dose <= 10 queries), and
fits the per-decade scaling exponent e = log10(t_hi / t_lo) for each
adjacent pair: wall = c * rows^e, so e ~ 1 is linear scaling, e < 1
means fixed overhead still dominates (the local[32] scheduling floor),
e > 1 is super-linear growth the oracles cannot see (join fan-out,
window growth, pair-table quadratics).

Emits scaling_sweep.json next to this file; SCALING.md narrates it.
Usage: python tools/run_scaling_sweep.py [out.json]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

# SPARK_GRAFT_SCALING_QUERIES overrides the panel (comma-separated
# registry names) — the r12 verdict-task-5 policy runs every NEW
# registry query through the sweep once, without re-burning the wall
# time of the standing top-10 panel each round.
QUERIES = [
    "mmr1_diversified_topk",
    "pca1_power_iteration",
    "gr2_fixed_point_pagerank",
    "bh1_fdr_source_drift",
    "wv1_winnowing_recall",
    "lpa2_fixed_point_communities",
    "mrr1_first_relevant_rank",
    "rec1_ivf_recall",
    "d13_threshold_sweep",
    "d4v_simhash_verified",
]
_ENV_QUERIES = os.environ.get("SPARK_GRAFT_SCALING_QUERIES")
if _ENV_QUERIES:
    QUERIES = [n.strip() for n in _ENV_QUERIES.split(",") if n.strip()]

SCALES = [
    ("sf0.01", "/root/testdata/sf0.01", 1.0),
    ("sf0.1", "/root/testdata/sf0.1", 10.0),
    ("sf1x", os.path.join(_REPO, "spark-warehouse", "scaling_sf10"), 100.0),
]


def _run_scale(label: str, sf_dir: str, out_path: str) -> None:
    """Child: one fresh JVM per scale so large-scale GC/JIT state never
    bleeds into the next scale's numbers."""
    from aqi_analysis_apache_airflow_spark.session import get_spark
    from bench import time_query

    spark = get_spark(app_name=f"scaling-{label}")
    res: dict[str, float] = {}
    for name in QUERIES:
        xs = []
        for pass_no in range(4):  # pass 0 = uncounted warmup
            dt = time_query(spark, sf_dir, name)
            if pass_no > 0:
                xs.append(dt)
        xs.sort()
        res[name] = round(xs[1], 4)  # median of 3
        print(label, name, res[name], flush=True)
    with open(out_path, "w") as fh:
        json.dump(res, fh)
    spark.stop()


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--scale":
        # internal dispatch needs all three operands: label sf_dir out
        if len(sys.argv) < 5:
            raise SystemExit(
                "usage: run_scaling_sweep.py --scale <label> <sf_dir> <out.json>"
            )
        _run_scale(sys.argv[2], sys.argv[3], sys.argv[4])
        return
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "scaling_sweep.json"
    )
    import math

    times: dict[str, dict[str, float]] = {}
    for label, sf_dir, _ in SCALES:
        child_out = f"/tmp/scaling_{label}.json"
        rc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--scale", label,
             sf_dir, child_out]
        ).returncode
        if rc != 0:
            raise SystemExit(f"scale child {label} failed rc={rc}")
        with open(child_out) as fh:
            times[label] = json.load(fh)
    report = {"scales": {l: d for l, (_, d, _) in zip(times, SCALES)},
              "times": times, "exponents": {}}
    for name in QUERIES:
        exps = {}
        for (la, _, ra), (lb, _, rb) in zip(SCALES, SCALES[1:]):
            ta, tb = times[la][name], times[lb][name]
            exps[f"{la}->{lb}"] = round(
                math.log(tb / ta) / math.log(rb / ra), 3
            )
        report["exponents"][name] = exps
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report["exponents"], indent=1))


if __name__ == "__main__":
    main()
