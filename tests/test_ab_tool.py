"""tools/ab.py: both arm kinds bind where the call sites look and are
restored afterwards, and a one-pass run writes the report."""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import types

import pytest

from __spark_entry__ import SF0001
from aqi_analysis_apache_airflow_spark.functions import materialize
from aqi_analysis_apache_airflow_spark.plans import analysis, curation, mining, selection

PKG = "aqi_analysis_apache_airflow_spark"
PIN_ARM = f"{PKG}.functions.materialize:pin=lambda df, eager=False: df"
SPREAD_ARM = f"{PKG}.plans.registry:load_spread=load"
PIN_SITES = [materialize, selection, curation, mining, analysis]


def _load_ab():
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "ab.py")
    spec = importlib.util.spec_from_file_location("ab_tool", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


ab = _load_ab()


@pytest.fixture
def probe(monkeypatch):
    """A package module holding an unrelated object that is also named
    ``pin``."""
    mod = types.ModuleType(f"{PKG}._ab_probe")
    mod.pin = lambda x: x
    monkeypatch.setitem(sys.modules, mod.__name__, mod)
    return mod


def test_module_arm_reaches_every_import_site(spark, probe):
    real, local = materialize.pin, probe.pin
    set_b, set_a = ab.make_arm(spark, PIN_ARM)
    try:
        set_b()
        for m in PIN_SITES:
            assert m.pin is not real, m.__name__
            assert m.pin("df") == "df", m.__name__
        assert probe.pin is local
    finally:
        set_a()
    assert all(m.pin is real for m in PIN_SITES)
    assert probe.pin is local


def test_module_arm_restored_after_error(spark, tmp_path, monkeypatch, probe):
    import bench

    real, local = materialize.pin, probe.pin
    seen = []

    def failing(spark, sf_dir, name):
        seen.append(selection.pin is real)
        if not seen[-1]:
            raise RuntimeError("arm B failed")
        return 0.0

    monkeypatch.setattr(bench, "time_query", failing)
    out = tmp_path / "ab.json"
    with pytest.raises(RuntimeError, match="arm B failed"):
        ab.run(spark, [str(out), SF0001, PIN_ARM, "q1_pricing_summary"])
    assert seen == [True, False]
    assert all(m.pin is real for m in PIN_SITES)
    assert probe.pin is local
    assert not out.exists()


@pytest.mark.parametrize("prior", [None, "before"])
def test_conf_arm_restores_prior_state(spark, prior):
    key = "spark.graft.test.abProbe"
    if prior is not None:
        spark.conf.set(key, prior)
    try:
        set_b, set_a = ab.make_arm(spark, f"{key}=on")
        set_b()
        assert spark.conf.get(key) == "on"
        set_a()
        assert spark.conf.get(key, None) == prior
    finally:
        spark.conf.unset(key)


@pytest.mark.parametrize(
    "arm, name",
    [(SPREAD_ARM, "q1_pricing_summary"), (PIN_ARM, "km1_lloyd_kmeans")],
)
def test_one_pass_run_writes_report(spark, tmp_path, arm, name):
    real_spread = selection.load_spread
    out = tmp_path / "ab.json"
    ab.run(spark, [str(out), SF0001, arm, "--passes", "1", name])
    report = json.loads(out.read_text())
    assert report["arm"] == arm and report["passes"] == 1
    row = report["queries"][name]
    assert row["A_s"] > 0 and row["B_s"] > 0
    assert row["ratio_A_over_B"] == pytest.approx(row["A_s"] / row["B_s"], rel=0.05)
    assert len(row["raw_A"]) == len(row["raw_B"]) == 1
    assert selection.load_spread is real_spread
    assert curation.pin is materialize.pin
