"""Seeded generator for the nightly AQI ETL input (EPA daily-AQI format).

Writes, under ``out_dir``:

- ``source/10_state_aqi_{2021,2022,2023}.csv``: the yearly files the
  full load (backfill) reads;
- ``incoming/10_state_aqi_night_{k}.csv``: one daily file per
  incremental night, moved into ``source/`` just before night ``k``;
- ``uscounties.csv``: the county master (3,144 counties, 51 states);
- ``clock.json``: the extraction times (CET) of the full load and of
  every night, which the benchmark passes to the pipeline explicitly.

The EPA header keeps the ``Created``/``Last Updated`` audit columns and
the lowercase ``county Name`` quirk. The reference's edge cases are
planted on purpose (``plant`` in the returned manifest lists them):

- ``windham``: Windham under both Connecticut and Vermont; the master
  has only the Vermont one;
- ``missing_county``: AQI counties absent from the master (dp1 backfill),
  plus a state the master does not know;
- ``padded_name``: whitespace-padded county names in the AQI files and
  in the master;
- ``duplicate_key``: two rows with the same natural key
  (date of ``Created``, parameter, site) in one file;
- ``cdc_boundary``: ``Last Updated`` exactly at a CET (loaded by two runs,
  the window is inclusive at both ends) and rows deferred past the
  full-load CET;
- ``restated``: rows of earlier days re-sent in a nightly file with a
  new AQI value and a later ``Last Updated``;
- ``late``: rows in a nightly file whose ``Last Updated`` is older than
  the window (silently dropped, as in the reference).

The same ``(seed, rows, nights)`` gives byte-identical files.
"""

from __future__ import annotations

import csv
import json
import os
from datetime import datetime, timedelta

import numpy as np

AQI_HEADER = [
    "State Name", "county Name", "State Code", "County Code", "Date", "AQI",
    "Category", "Defining Parameter", "Defining Site",
    "Number of Sites Reporting", "Created", "Last Updated",
]
COUNTIES_HEADER = [
    "county", "county_ascii", "county_full", "county_fips", "state_id",
    "state_name", "lat", "lng", "population",
]
YEARS = (2021, 2022, 2023)
N_COUNTIES = 3144
PARAMS = ["CO", "NO2", "Ozone", "PM10", "PM2.5", "SO2"]
#: AQI values on every bucket boundary, plus a negative (maps to Unknown).
BOUNDARY_AQI = [0, 50, 51, 100, 101, 150, 151, 200, 201, 300, 301, -5]
#: Full-load extraction time; night k runs at FULL_CET + k days.
FULL_CET = datetime(2024, 1, 1, 22, 0, 0)
_TS = "%Y-%m-%d %H:%M:%S"
_STATES = [
    ("Alabama", "AL"), ("Alaska", "AK"), ("Arizona", "AZ"), ("Arkansas", "AR"),
    ("California", "CA"), ("Colorado", "CO"), ("Connecticut", "CT"),
    ("Delaware", "DE"), ("District Of Columbia", "DC"), ("Florida", "FL"),
    ("Georgia", "GA"), ("Hawaii", "HI"), ("Idaho", "ID"), ("Illinois", "IL"),
    ("Indiana", "IN"), ("Iowa", "IA"), ("Kansas", "KS"), ("Kentucky", "KY"),
    ("Louisiana", "LA"), ("Maine", "ME"), ("Maryland", "MD"),
    ("Massachusetts", "MA"), ("Michigan", "MI"), ("Minnesota", "MN"),
    ("Mississippi", "MS"), ("Missouri", "MO"), ("Montana", "MT"),
    ("Nebraska", "NE"), ("Nevada", "NV"), ("New Hampshire", "NH"),
    ("New Jersey", "NJ"), ("New Mexico", "NM"), ("New York", "NY"),
    ("North Carolina", "NC"), ("North Dakota", "ND"), ("Ohio", "OH"),
    ("Oklahoma", "OK"), ("Oregon", "OR"), ("Pennsylvania", "PA"),
    ("Rhode Island", "RI"), ("South Carolina", "SC"), ("South Dakota", "SD"),
    ("Tennessee", "TN"), ("Texas", "TX"), ("Utah", "UT"), ("Vermont", "VT"),
    ("Virginia", "VA"), ("Washington", "WA"), ("West Virginia", "WV"),
    ("Wisconsin", "WI"), ("Wyoming", "WY"),
]
_NAME_A = (
    "Adams Baker Clark Davis Ellis Fulton Grant Hale Irwin Jasper Knox Lake "
    "Marion Newton Oak Pike Quinn Ross Scott Todd Union Vance Wayne York"
).split()
_NAME_B = ["", " Hills", " Valley", " Ridge", " Falls", " Springs"]


def category(aqi: int) -> str:
    """EPA bucket for an AQI value (what the stage recomputes)."""
    for hi, name in (
        (50, "Good"), (100, "Moderate"), (150, "Unhealthy for Sensitive Groups"),
        (200, "Unhealthy"), (300, "Very Unhealthy"),
    ):
        if 0 <= aqi <= hi:
            return name
    return "Hazardous" if aqi > 300 else "Unknown"


def night_cet(k: int) -> datetime:
    return FULL_CET + timedelta(days=k)


def _counties(rng: np.random.Generator) -> list[dict]:
    """The master: unique names within a state, names shared across states
    (as in the real master), Windham in Vermont only."""
    per_state = np.full(len(_STATES), N_COUNTIES // len(_STATES))
    per_state[: N_COUNTIES - per_state.sum()] += 1
    pool = [f"{a}{b}" for a in _NAME_A for b in _NAME_B]
    rows = []
    for si, ((state, sid), n) in enumerate(zip(_STATES, per_state)):
        names = [pool[i] for i in rng.choice(len(pool), int(n) - 1, replace=False)]
        names.append("Windham" if sid == "VT" else f"{sid} Planning Region")
        for ci, name in enumerate(sorted(names)):
            rows.append({
                "state": state, "state_id": sid, "state_code": f"{si + 1:02d}",
                "county": name, "county_code": f"{2 * ci + 1:03d}",
                "fips": f"{si + 1:02d}{2 * ci + 1:03d}",
                "lat": round(float(rng.uniform(25.0, 49.0)), 4),
                "lng": round(float(rng.uniform(-124.0, -67.0)), 4),
                "population": int(rng.integers(1_000, 10_000_000)),
            })
    return rows


def _write_csv(path: str, header: list[str], rows: list[list]) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def generate(out_dir: str, seed: int, rows: int = 60_000, nights: int = 4,
             night_rows: int = 1_000) -> dict:
    """Write the ETL input under ``out_dir`` and return its manifest."""
    rng = np.random.default_rng(seed)
    src, inc = os.path.join(out_dir, "source"), os.path.join(out_dir, "incoming")
    os.makedirs(src, exist_ok=True)
    os.makedirs(inc, exist_ok=True)
    plant = {k: 0 for k in (
        "windham", "missing_county", "padded_name", "duplicate_key",
        "cdc_boundary", "restated", "late", "bucket_boundary",
    )}

    master = _counties(rng)
    _write_master(os.path.join(out_dir, "uscounties.csv"), master, rng, plant)

    # AQI sites: each reports one parameter per day from one county. Two
    # states report nothing (full-outer right-only); the rest draw from
    # the master, plus counties the master lacks and Windham CT.
    silent = {"WY", "ND"}
    reporting = [c for c in master if c["state_id"] not in silent]
    days = sum(366 if y % 4 == 0 else 365 for y in YEARS)
    n_sites = max(30, rows // days)
    sites = []
    for i in range(n_sites):
        c = reporting[int(rng.integers(0, len(reporting)))]
        sites.append((c["state"], c["county"], c["state_code"], c["county_code"]))
    ct = next(c for c in master if c["state_id"] == "CT")
    vt = next(c for c in master if c["county"] == "Windham")
    sites[0] = ("Connecticut", "Windham", ct["state_code"], "015")
    sites[1] = ("Vermont", vt["county"], vt["state_code"], vt["county_code"])
    for j in range(2, 6):  # counties the master lacks → dp1 backfill
        st = reporting[int(rng.integers(0, len(reporting)))]
        sites[j] = (st["state"], f"Ghostville {j}", st["state_code"], f"9{j:02d}")
    sites[6] = ("Country Of Mexico", "Baja California", "80", "002")
    site_ids = [f"{s[2]}-{s[3]}-{i:04d}" for i, s in enumerate(sites)]
    site_param = rng.integers(0, len(PARAMS), n_sites)

    def row(si: int, created: datetime, updated: datetime, aqi: int) -> list:
        state, county, scode, ccode = sites[si]
        if si in (0, 1):
            plant["windham"] += 1
        if si in range(2, 7):
            plant["missing_county"] += 1
        if rng.random() < 0.05:
            county = f"  {county} " if rng.random() < 0.5 else f" {county}"
            plant["padded_name"] += 1
        if aqi in BOUNDARY_AQI:
            plant["bucket_boundary"] += 1
        day = created.date()
        if rng.random() < 0.02:  # EPA Date ≠ date(Created): the stage ignores Date
            day = day - timedelta(days=1)
        cat = category(aqi) if rng.random() > 0.1 else "Good"
        return [
            state, county, scode, ccode, day.isoformat(), aqi, cat,
            PARAMS[site_param[si]], site_ids[si], int(rng.integers(1, 21)),
            created.strftime(_TS), updated.strftime(_TS),
        ]

    def aqi_value() -> int:
        if rng.random() < 0.01:
            return int(BOUNDARY_AQI[int(rng.integers(0, len(BOUNDARY_AQI)))])
        return int(min(500, rng.gamma(2.0, 22.0)))

    # No two rows share (site, Created, Last Updated), so keep-first never
    # meets a tie: fresh rows get a (site, Created) of their own, restated
    # rows share it with their original but not their Last Updated.
    used: set[tuple] = set()

    def fresh(si: int, created: datetime) -> datetime:
        while (si, created) in used:
            created += timedelta(seconds=1)
        used.add((si, created))
        return created

    def restated_at(si: int, created: datetime, updated: datetime) -> datetime:
        while (si, created, updated) in used:
            updated += timedelta(seconds=1)
        used.add((si, created, updated))
        return updated

    history: list[tuple[int, datetime]] = []  # (site, created) of loaded rows
    for year in YEARS:
        out: list[list] = []
        d = datetime(year, 1, 1)
        while d.year == year:
            for si in range(n_sites):
                if rng.random() < 0.08:
                    continue
                created = fresh(si, d + timedelta(seconds=int(rng.integers(3_600, 72_000))))
                updated = min(created + timedelta(hours=int(rng.integers(0, 96))), FULL_CET)
                out.append(row(si, created, updated, aqi_value()))
                history.append((si, created))
            d += timedelta(days=1)
        if year == YEARS[-1]:
            # rows at the full-load CET (also re-read by night 1) and rows
            # deferred past it (first loaded by night 1)
            for si in rng.choice(n_sites, 20, replace=False):
                created = fresh(int(si), FULL_CET - timedelta(hours=3))
                out.append(row(int(si), created, FULL_CET, aqi_value()))
                history.append((int(si), created))
                plant["cdc_boundary"] += 1
            for si in rng.choice(n_sites, 20, replace=False):
                created = fresh(int(si), FULL_CET - timedelta(hours=2))
                out.append(row(int(si), created, FULL_CET + timedelta(hours=1), aqi_value()))
                plant["cdc_boundary"] += 1
        out.extend(_duplicates(out, rng, plant, 25, fresh))
        _write_csv(os.path.join(src, f"10_state_aqi_{year}.csv"), AQI_HEADER, out)

    for k in range(1, nights + 1):
        lo, hi = night_cet(k - 1), night_cet(k)
        out = []
        for _ in range(night_rows):
            si = int(rng.integers(0, n_sites))
            created = fresh(si, lo + timedelta(seconds=int(rng.integers(60, 86_000))))
            out.append(row(si, created, min(created + timedelta(minutes=30), hi), aqi_value()))
        for _ in range(max(1, night_rows // 10)):  # restatements of loaded days
            si, created = history[int(rng.integers(0, len(history)))]
            updated = restated_at(si, created, lo + timedelta(seconds=int(rng.integers(60, 86_000))))
            out.append(row(si, created, updated, aqi_value()))
            plant["restated"] += 1
        for si in rng.choice(n_sites, 5, replace=False):  # exactly at this night's CET
            out.append(row(int(si), fresh(int(si), hi - timedelta(hours=1)), hi, aqi_value()))
            plant["cdc_boundary"] += 1
        for si in rng.choice(n_sites, 3, replace=False):  # older than the window: dropped
            created = fresh(int(si), lo - timedelta(days=2))
            out.append(row(int(si), created, lo - timedelta(days=1), aqi_value()))
            plant["late"] += 1
        out.extend(_duplicates(out, rng, plant, 3, fresh))
        _write_csv(os.path.join(inc, f"10_state_aqi_night_{k}.csv"), AQI_HEADER, out)

    clock = {"full": FULL_CET.strftime(_TS),
             "nights": [night_cet(k).strftime(_TS) for k in range(1, nights + 1)]}
    with open(os.path.join(out_dir, "clock.json"), "w") as f:
        json.dump(clock, f, indent=1)
    return {"sites": n_sites, "counties": len(master), "plant": plant, "clock": clock}


def _duplicates(rows: list[list], rng: np.random.Generator, plant: dict, n: int,
                fresh) -> list[list]:
    """Second rows for ``n`` natural keys: same site, parameter and date of
    ``Created``, a later ``Created`` that day and a different AQI."""
    out = []
    for i in rng.choice(len(rows), n, replace=False):
        dup = list(rows[int(i)])
        created = datetime.strptime(dup[10], _TS)
        si = int(dup[8].rsplit("-", 1)[1])
        later = fresh(si, created + timedelta(seconds=int(rng.integers(1, 3_000))))
        if later.date() != created.date():
            continue
        dup[5] = int(dup[5]) + 1
        dup[6] = category(dup[5])
        dup[10] = later.strftime(_TS)
        dup[11] = max(datetime.strptime(dup[11], _TS), later).strftime(_TS)
        out.append(dup)
        plant["duplicate_key"] += 1
    return out


def _write_master(path: str, master: list[dict], rng: np.random.Generator, plant: dict) -> None:
    rows = []
    for c in master:
        name = c["county"]
        if rng.random() < 0.01:
            name = f"  {name} "
            plant["padded_name"] += 1
        rows.append([
            name, c["county"], f"{c['county']} County", c["fips"], c["state_id"],
            c["state"], c["lat"], c["lng"], c["population"],
        ])
    _write_csv(path, COUNTIES_HEADER, rows)

