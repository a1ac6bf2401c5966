"""Correctness checks, run outside the clock.

- :class:`QueryOracle` compares a registry query's result with its DuckDB
  oracle SQL over the same parquet: row count, sorted column names and
  the order-insensitive multiset of canonicalised rows (the comparison
  the repository's oracle-parity test makes, written again here).
- :class:`EtlOracle` recomputes the nightly ETL independently in DuckDB
  from the generated CSVs and compares the warehouse after every run:
  natural keys, restated values and row counts of ``measurement_nds``,
  ``county_nds`` and ``state_nds``, and surrogate-key uniqueness.
"""

from __future__ import annotations

import glob
import math
import os
from datetime import datetime

import duckdb
import pandas as pd


def _canon_cell(x) -> str:
    if x is None or (isinstance(x, float) and math.isnan(x)):
        return "NULL"
    try:
        if pd.isna(x):
            return "NULL"
    except (TypeError, ValueError):
        pass
    if isinstance(x, float):
        return repr(x)
    return str(x)


def canon_frame(df: pd.DataFrame) -> tuple[list[str], list[tuple[str, ...]]]:
    cols = sorted(df.columns)
    rows = sorted(
        tuple(_canon_cell(v) for v in row) for row in df[cols].itertuples(index=False)
    )
    return cols, rows


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when equal, else a one-line reason."""
    if len(got) != len(want):
        return f"rowcount {len(got)} != {len(want)}"
    gcols, grows = canon_frame(got)
    wcols, wrows = canon_frame(want)
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    if grows != wrows:
        first = next((a, b) for a, b in zip(grows, wrows) if a != b)
        return f"value mismatch, first: {first}"
    return None


class QueryOracle:
    """DuckDB views over one corpus directory."""

    def __init__(self, corpus_dir: str, tables: tuple[str, ...]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'"
            )

    def check(self, sql: str, got: pd.DataFrame) -> str | None:
        return frames_equal(got, self.con.execute(sql).fetchdf())

    def close(self) -> None:
        self.con.close()


_RAW_SQL = """
SELECT trim("county Name") AS county_name, "State Name" AS state_name,
       "State Code" AS state_code,
       CAST(strptime("Created", '%Y-%m-%d %H:%M:%S') AS DATE) AS measured_date,
       CAST("AQI" AS INTEGER) AS aqi_value,
       "Defining Parameter" AS defining_parameter,
       "Defining Site" AS defining_site,
       strptime("Created", '%Y-%m-%d %H:%M:%S') AS created,
       strptime("Last Updated", '%Y-%m-%d %H:%M:%S') AS last_updated
FROM read_csv({files}, header = true, all_varchar = true)
"""


class EtlOracle:
    """The pipeline's semantics, re-derived in SQL, one run at a time.

    State is kept as natural content only (no surrogate values): states
    by name, counties by (fips, name, state), measurements by natural key
    with their current AQI value.
    """

    def __init__(self, counties_csv: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.con.execute(
            "CREATE TABLE cstage AS SELECT trim(county) AS county_name, county_fips, "
            "state_id, state_name FROM read_csv(?, header = true, all_varchar = true)",
            [counties_csv],
        )
        self.con.execute(
            "CREATE TABLE st (state_name VARCHAR, state_code VARCHAR, state_id VARCHAR)"
        )
        self.con.execute(
            "CREATE TABLE co (county_fips VARCHAR, county_name VARCHAR, state_name VARCHAR)"
        )
        self.con.execute(
            "CREATE TABLE me (measured_date DATE, defining_site VARCHAR, "
            "defining_parameter VARCHAR, aqi_value INTEGER)"
        )
        self.con.execute(
            "CREATE TABLE raw (county_name VARCHAR, state_name VARCHAR, state_code VARCHAR, "
            "measured_date DATE, aqi_value INTEGER, defining_parameter VARCHAR, "
            "defining_site VARCHAR, created TIMESTAMP, last_updated TIMESTAMP)"
        )
        self.lset = datetime(1970, 1, 1)
        self.loaded: set[str] = set()

    def run(self, source_dir: str, cet: datetime) -> None:
        """Apply one pipeline run with window [previous CET, ``cet``]."""
        files = sorted(glob.glob(os.path.join(source_dir, "10_state_aqi_*.csv")))
        q = self.con.execute
        new = [f for f in files if f not in self.loaded]
        if new:  # every file is parsed once; each run filters all of them
            q("INSERT INTO raw " + _RAW_SQL.format(files=new))
            self.loaded.update(new)
        q(f"""CREATE OR REPLACE TABLE stage AS SELECT * FROM raw
              WHERE last_updated BETWEEN TIMESTAMP '{self.lset}' AND TIMESTAMP '{cet}'""")
        # state_nds: full outer of the two stages' state sets, insert-only
        q("""INSERT INTO st
             SELECT s.state_name, any_value(s.state_code), any_value(s.state_id) FROM (
               SELECT coalesce(c.state_name, a.state_name) AS state_name,
                      a.state_code, c.state_id
               FROM (SELECT DISTINCT state_name, state_id FROM cstage) c
               FULL OUTER JOIN (SELECT DISTINCT state_name, state_code FROM stage) a
                 ON c.state_name = a.state_name) s
             WHERE s.state_name NOT IN (SELECT state_name FROM st)
             GROUP BY s.state_name""")
        # county_nds: master counties keyed by fips (name refreshed on match)
        q("""CREATE OR REPLACE TABLE co AS
             SELECT coalesce(m.county_fips, o.county_fips) AS county_fips,
                    coalesce(m.county_name, o.county_name) AS county_name,
                    coalesce(o.state_name, m.state_name) AS state_name
             FROM co o FULL OUTER JOIN (
               SELECT DISTINCT c.county_fips, c.county_name, c.state_name
               FROM cstage c JOIN st USING (state_name)) m
             ON o.county_fips = m.county_fips""")
        # dp1: AQI counties whose NAME is in no county row (NOT IN semantics)
        q("""INSERT INTO co
             SELECT DISTINCT NULL, a.county_name, a.state_name
             FROM stage a JOIN st USING (state_name)
             WHERE a.county_name NOT IN (SELECT county_name FROM co)""")
        # dp2: Windham rows missing from the master, once per state
        q("""INSERT INTO co
             SELECT DISTINCT NULL, a.county_name, a.state_name
             FROM stage a JOIN st USING (state_name)
             WHERE a.county_name = 'Windham'
               AND NOT EXISTS (SELECT 1 FROM cstage c WHERE c.state_name = a.state_name
                                 AND c.county_name = a.county_name)
               AND NOT EXISTS (SELECT 1 FROM co WHERE co.county_name = a.county_name
                                 AND co.state_name = a.state_name)""")
        # measurements: resolvable rows, first per natural key by
        # (created, last_updated), merged into the running state
        q("""CREATE OR REPLACE TABLE src AS
             SELECT measured_date, defining_site, defining_parameter, aqi_value
             FROM stage a
             WHERE EXISTS (SELECT 1 FROM co WHERE co.county_name = a.county_name
                             AND co.state_name = a.state_name)
             QUALIFY row_number() OVER (
               PARTITION BY measured_date, defining_site, defining_parameter
               ORDER BY created, last_updated) = 1""")
        q("""CREATE OR REPLACE TABLE me AS
             SELECT coalesce(s.measured_date, m.measured_date) AS measured_date,
                    coalesce(s.defining_site, m.defining_site) AS defining_site,
                    coalesce(s.defining_parameter, m.defining_parameter) AS defining_parameter,
                    CASE WHEN s.measured_date IS NULL THEN m.aqi_value
                         ELSE s.aqi_value END AS aqi_value
             FROM me m FULL OUTER JOIN src s
               ON m.measured_date = s.measured_date AND m.defining_site = s.defining_site
              AND m.defining_parameter = s.defining_parameter""")
        self.lset = cet

    def check(self, warehouse: str) -> list[str]:
        """Differences between the warehouse and the recomputation."""
        q = lambda sql: self.con.execute(sql).fetchall()  # noqa: E731
        p = {t: os.path.join(warehouse, t, "*.parquet")
             for t in ("state_nds", "county_nds", "measurement_nds")}
        problems = []
        for table, sk in (("state_nds", "state_id_sk"), ("county_nds", "county_id_sk"),
                          ("measurement_nds", "measurement_id_sk")):
            n, distinct, nulls = q(
                f"SELECT count(*), count(DISTINCT {sk}), count(*) - count({sk}) "
                f"FROM '{p[table]}'")[0]
            if n != distinct or nulls:
                problems.append(f"{table}: {sk} not unique ({n} rows, {distinct} keys)")
        pairs = (
            ("state_nds",
             f"SELECT state_name, state_code, state_id FROM '{p['state_nds']}'",
             "SELECT state_name, state_code, state_id FROM st"),
            ("county_nds",
             f"SELECT c.county_fips, c.county_name, s.state_name FROM '{p['county_nds']}' c "
             f"JOIN '{p['state_nds']}' s USING (state_id_sk)",
             "SELECT county_fips, county_name, state_name FROM co"),
            ("measurement_nds",
             "SELECT measured_date, defining_site, defining_parameter, aqi_value "
             f"FROM '{p['measurement_nds']}'",
             "SELECT * FROM me"),
        )
        for table, got, want in pairs:
            n_got, n_want, n_diff = q(
                f"WITH g AS ({got}), w AS ({want}) SELECT (SELECT count(*) FROM g), "
                "(SELECT count(*) FROM w), (SELECT count(*) FROM "
                "((FROM g EXCEPT ALL FROM w) UNION ALL (FROM w EXCEPT ALL FROM g)))")[0]
            if n_got != n_want or n_diff:
                problems.append(f"{table}: {n_got} rows, want {n_want}; {n_diff} differ")
        return problems

    def close(self) -> None:
        self.con.close()
