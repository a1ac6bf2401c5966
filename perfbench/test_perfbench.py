"""Benchmark-local tests: input generators, oracles, and BENCHMARK.json.

    python3 -m pytest perfbench -q

No Spark session is needed: the ETL oracle is checked against a warehouse
written from its own recomputation.
"""

from __future__ import annotations

import csv
import filecmp
import glob
import json
import os
import shutil
import sys
from datetime import datetime

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus_gen  # noqa: E402
import etl_gen  # noqa: E402
import run  # noqa: E402
from oracle import EtlOracle, frames_equal  # noqa: E402

TS = "%Y-%m-%d %H:%M:%S"


def _rows(path: str) -> list[dict]:
    with open(path, newline="") as f:
        return list(csv.DictReader(f))


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(p, root) for p in glob.glob(f"{root}/**/*", recursive=True)
                  if os.path.isfile(p))


@pytest.fixture(scope="module")
def etl(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("etl"))
    manifest = etl_gen.generate(root, seed=5, rows=4_000, nights=3, night_rows=300)
    return root, manifest


def test_etl_same_seed_same_bytes(etl, tmp_path):
    root, _ = etl
    again = str(tmp_path / "again")
    etl_gen.generate(again, seed=5, rows=4_000, nights=3, night_rows=300)
    assert _files(root) == _files(again)
    for rel in _files(root):
        assert filecmp.cmp(os.path.join(root, rel), os.path.join(again, rel), shallow=False), rel
    other = str(tmp_path / "other")
    etl_gen.generate(other, seed=6, rows=4_000, nights=3, night_rows=300)
    assert not filecmp.cmp(os.path.join(root, "source", "10_state_aqi_2022.csv"),
                           os.path.join(other, "source", "10_state_aqi_2022.csv"),
                           shallow=False)


def test_etl_header_and_files(etl):
    root, manifest = etl
    with open(os.path.join(root, "source", "10_state_aqi_2021.csv")) as f:
        assert f.readline().rstrip("\n").split(",") == etl_gen.AQI_HEADER
    assert "county Name" in etl_gen.AQI_HEADER
    assert {"Created", "Last Updated"} <= set(etl_gen.AQI_HEADER)
    yearly = sorted(os.listdir(os.path.join(root, "source")))
    assert yearly == [f"10_state_aqi_{y}.csv" for y in etl_gen.YEARS]
    assert len(os.listdir(os.path.join(root, "incoming"))) == 3
    master = _rows(os.path.join(root, "uscounties.csv"))
    assert len(master) == etl_gen.N_COUNTIES
    assert len({r["state_name"] for r in master}) == 51
    assert all(v > 0 for v in manifest["plant"].values()), manifest["plant"]


def test_etl_edge_cases_are_planted(etl):
    root, _ = etl
    yearly = [r for p in sorted(glob.glob(f"{root}/source/*.csv")) for r in _rows(p)]
    nights = {k: _rows(f"{root}/incoming/10_state_aqi_night_{k}.csv") for k in (1, 2, 3)}
    master = _rows(os.path.join(root, "uscounties.csv"))
    in_master = {(r["state_name"], r["county"].strip()) for r in master}
    aqi = yearly + [r for rows in nights.values() for r in rows]

    # Windham under both states; the master has only Vermont's
    windham = {r["State Name"] for r in aqi if r["county Name"].strip() == "Windham"}
    assert {"Connecticut", "Vermont"} <= windham
    assert {s for s, c in in_master if c == "Windham"} == {"Vermont"}
    # AQI counties the master lacks (dp1 backfill), incl. a state it lacks
    missing = {(r["State Name"], r["county Name"].strip()) for r in aqi} - in_master
    assert len(missing - {("Connecticut", "Windham")}) >= 3
    assert "Country Of Mexico" in {s for s, _ in missing}
    # whitespace-padded county names in both sources
    assert any(r["county Name"] != r["county Name"].strip() for r in aqi)
    assert any(r["county"] != r["county"].strip() for r in master)
    # duplicate natural keys (date of Created, parameter, site) in one file
    for rows in [yearly, nights[1]]:
        keys = [(r["Created"][:10], r["Defining Parameter"], r["Defining Site"]) for r in rows]
        assert len(keys) > len(set(keys))
    # CDC boundary: Last Updated exactly at a CET, and rows deferred past it
    full_cet = etl_gen.FULL_CET.strftime(TS)
    assert any(r["Last Updated"] == full_cet for r in yearly)
    assert any(r["Last Updated"] > full_cet for r in yearly)
    for k, rows in nights.items():
        assert any(r["Last Updated"] == etl_gen.night_cet(k).strftime(TS) for r in rows)
    # restated rows: an earlier (site, Created) re-sent with a later Last Updated
    seen = {(r["Defining Site"], r["Created"]): r for r in yearly}
    restated = [r for r in nights[2] if (r["Defining Site"], r["Created"]) in seen]
    assert restated
    assert all(r["Last Updated"] > seen[(r["Defining Site"], r["Created"])]["Last Updated"]
               for r in restated)
    # late rows: older than the night's window
    lo = etl_gen.night_cet(1).strftime(TS)
    assert any(r["Last Updated"] < lo for r in nights[2])
    # no two rows share (site, Created, Last Updated): keep-first has no ties
    trips = [(r["Defining Site"], r["Created"], r["Last Updated"]) for r in aqi]
    assert len(trips) == len(set(trips))


def test_corpus_same_seed_same_bytes(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    counts = corpus_gen.generate(a, seed=3, sf=0.001)
    corpus_gen.generate(b, seed=3, sf=0.001)
    assert set(counts) == set(corpus_gen.TABLES)
    for t in corpus_gen.TABLES:
        assert filecmp.cmp(f"{a}/{t}.parquet", f"{b}/{t}.parquet", shallow=False), t


def test_frames_equal_is_order_insensitive():
    got = pd.DataFrame({"b": [2.0, 1.0], "a": ["y", "x"]})
    want = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0]})
    assert frames_equal(got, want) is None
    assert "value mismatch" in frames_equal(got, want.assign(b=[1.0, 3.0]))
    assert "rowcount" in frames_equal(got, want.head(1))


def _write_warehouse(oracle: EtlOracle, wh: str, bump: bool = False) -> None:
    """A warehouse holding exactly the oracle's expectation (with dense
    surrogate keys); ``bump`` changes one measurement's AQI value."""
    q = lambda sql: oracle.con.execute(sql).fetchdf()  # noqa: E731
    st = q("SELECT row_number() OVER (ORDER BY state_name) AS state_id_sk, * FROM st")
    co = q("SELECT row_number() OVER (ORDER BY county_fips, county_name) AS county_id_sk, "
           "county_fips, county_name, state_name FROM co")
    co = co.merge(st[["state_id_sk", "state_name"]], on="state_name").drop(columns="state_name")
    me = q("SELECT row_number() OVER () AS measurement_id_sk, * FROM me")
    if bump:
        me.loc[0, "aqi_value"] += 1
    for name, df in (("state_nds", st), ("county_nds", co), ("measurement_nds", me)):
        os.makedirs(f"{wh}/{name}", exist_ok=True)
        df.to_parquet(f"{wh}/{name}/part-0.parquet", index=False)


def test_etl_oracle_accepts_its_state_and_flags_a_change(etl, tmp_path):
    root, manifest = etl
    source = str(tmp_path / "source")
    shutil.copytree(os.path.join(root, "source"), source)
    oracle = EtlOracle(os.path.join(root, "uscounties.csv"))
    oracle.run(source, datetime.strptime(manifest["clock"]["full"], TS))
    shutil.copy(os.path.join(root, "incoming", "10_state_aqi_night_1.csv"), source)
    oracle.run(source, datetime.strptime(manifest["clock"]["nights"][0], TS))
    good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
    _write_warehouse(oracle, good)
    _write_warehouse(oracle, bad, bump=True)
    assert oracle.check(good) == []
    assert any("measurement_nds" in p for p in oracle.check(bad))
    # a dp1 backfill row and the Windham CT patch exist, with no fips
    patched = oracle.con.execute(
        "SELECT state_name, county_name FROM co WHERE county_fips IS NULL").fetchall()
    assert ("Connecticut", "Windham") in patched
    oracle.close()


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_compare_refuses_other_core_counts():
    import compare

    stamp = {"workload": "query_mix", "nproc": 4, "sf": 0.01, "etl_rows": None,
             "pyspark": "4.1.2", "seconds": 15.0, "trace": 0}
    base = [{"stamp": stamp}]
    assert compare.check_stamps(base, [{"stamp": dict(stamp, seed=2)}]) == []
    problems = compare.check_stamps(base, [{"stamp": dict(stamp, nproc=32)}])
    assert problems and "nproc" in problems[0]
