#!/usr/bin/env python
"""Interleaved same-JVM A/B of one change for a set of registry queries:
both arms run in one session, so box state cancels.

Arm A is the committed code with the session defaults. Arm B is one
override, given as ARM:

- ``spark.KEY=VALUE`` sets a runtime SQL conf; A restores the prior
  value, or unsets the key if it had none.
- ``MODULE:ATTR=EXPR`` binds ``eval(EXPR)`` — evaluated in MODULE's
  namespace — to ``MODULE.ATTR``. When the committed value is a
  function, every loaded package module that holds that same object
  is rebound too (the ``perfbench/spans.wrap_layers`` rule), so call
  sites that imported the name are reached; other objects that merely
  share the name are left alone.

Every run is ``bench.time_query`` (session cache cleared, noop-sink
timed). Each query gets one warmup run per arm, then ``--passes``
interleaved passes whose within-pass order ALTERNATES (A,B / B,A / …)
so a fixed ordering cannot bias the medians. The committed state is
restored when the tool finishes, also after an error.

Usage:
    python tools/ab.py OUT.json SF_DIR ARM [--passes N] name...

Examples (``PKG`` = aqi_analysis_apache_airflow_spark):
    PKG.plans.registry:load_spread=load     every load_spread site plain
    "PKG.functions.materialize:pin=lambda df, eager=False: df"
                                            every pin an identity
    spark.sql.shuffle.partitions=8          a runtime conf candidate
"""

from __future__ import annotations

import importlib
import inspect
import json
import os
import statistics
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

PKG = "aqi_analysis_apache_airflow_spark"


def make_arm(spark, arm: str) -> tuple[Callable[[], None], Callable[[], None]]:
    """``(set_b, set_a)`` for one ARM string (see the module docstring)."""
    lhs, value = arm.split("=", 1)
    if ":" not in lhs:
        if not lhs.startswith("spark."):
            raise SystemExit(f"ARM is spark.KEY=VALUE or MODULE:ATTR=EXPR: {arm}")
        prior = spark.conf.get(lhs, None)

        def set_a() -> None:
            if prior is None:
                spark.conf.unset(lhs)
            else:
                spark.conf.set(lhs, prior)

        return (lambda: spark.conf.set(lhs, value)), set_a

    importlib.import_module(f"{PKG}.plans")  # load every call-site module
    mod_name, attr = lhs.rsplit(":", 1)
    mod = importlib.import_module(mod_name)
    a_val = getattr(mod, attr)
    b_val = eval(value, vars(mod))  # noqa: S307 — the arm is the operator's code
    targets = [(mod, attr)]
    if inspect.isfunction(a_val):
        for name, m in list(sys.modules.items()):
            if m is None or m is mod or not name.startswith(PKG):
                continue
            targets += [(m, k) for k, v in vars(m).items() if v is a_val]

    def bind(val) -> None:
        for m, k in targets:
            setattr(m, k, val)

    return (lambda: bind(b_val)), (lambda: bind(a_val))


def run(spark, argv: list[str]) -> dict:
    """Parse ``OUT.json SF_DIR ARM [--passes N] name...``, measure both
    arms in ``spark``, write and return the report."""
    from aqi_analysis_apache_airflow_spark.plans import REGISTRY
    from bench import time_query

    out_path, sf_dir, arm, *names = argv
    passes = 3
    if names[:1] == ["--passes"]:
        passes, names = int(names[1]), names[2:]
    unknown = [n for n in names if n not in REGISTRY]
    if unknown or not names:
        raise SystemExit(f"unknown or no queries: {unknown}")

    set_b, set_a = make_arm(spark, arm)

    def timed(name: str, a: bool) -> float:
        (set_a if a else set_b)()
        spark.sparkContext.setJobDescription(f"ab {'A' if a else 'B'} {name}")
        return time_query(spark, sf_dir, name)

    samples = {n: {"A": [], "B": []} for n in names}
    try:
        for name in names:  # warmup both arms once (codegen/scan caches)
            timed(name, True)
            timed(name, False)
        for p in range(passes):
            first_a = p % 2 == 0
            for name in names:
                for a in (first_a, not first_a):
                    samples[name]["A" if a else "B"].append(timed(name, a))
    finally:
        set_a()
        spark.sparkContext.setJobDescription(None)

    results: dict[str, dict] = {}
    for name in names:
        a = statistics.median(samples[name]["A"])
        b = statistics.median(samples[name]["B"])
        results[name] = {
            "A_s": round(a, 3),
            "B_s": round(b, 3),
            "ratio_A_over_B": round(a / b, 3) if b else None,
            "raw_A": [round(x, 3) for x in samples[name]["A"]],
            "raw_B": [round(x, 3) for x in samples[name]["B"]],
        }
        print(
            f"{name:40s} A {a:7.3f}s  B {b:7.3f}s  "
            f"A/B {a / b if b else float('nan'):5.2f}"
        )
    report = {"sf_dir": sf_dir, "passes": passes, "arm": arm, "queries": results}
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"wrote {out_path}")
    return report


def main() -> None:
    from aqi_analysis_apache_airflow_spark.session import get_spark

    spark = get_spark(app_name="ab")
    try:
        run(spark, sys.argv[1:])
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
