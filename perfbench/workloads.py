"""The two workloads and the timed operations they run.

Every call into the package goes through its public entry points:
``plans.REGISTRY[name].fn``, the ``pipelines`` task functions with an
explicit clock (``at=`` / ``now=``), and ``Warehouse``.

A query operation is ``fn(spark, corpus_dir)`` (build) followed by a
``noop`` write of the returned DataFrame (execute). With a tracer, the
physical plan is also forced between the two (plan), and each phase's
Spark jobs are tagged with a job group. An ETL operation is one night:
every task of ``dag_etl_aqi.TOPOLOGY`` in dependency order.

Both workloads start with a first pass on cold caches, timed on its own:
every query once (collecting its result for the correctness check), or
the ETL backfill. The timed phase follows: query passes or nights until
``seconds`` of operation time and a minimum count.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime

from spans import Tracer

#: One-shot batch queries, one per plans module sampled: execute- and
#: load-dominated, the control for changes to the iterative family.
ONESHOT = [
    "q1_pricing_summary",          # queries
    "q9_product_profit",           # tpch_extra
    "d2_ngram_jaccard",            # extended
]
#: Iterative queries: many eager Spark jobs per round inside ``fn()``,
#: localCheckpoint (``pin``) lifetimes and ``functions.graph`` loops.
ITERATIVE = [
    "km1_lloyd_kmeans",
    "kcore1_kcore_peeling",
]
#: availableNow replay over the events table: state store and watermark.
STREAMING = [
    "st2_stream_windowed",
]
QUERIES = ONESHOT + ITERATIVE + STREAMING

#: Corpus scale factor of the query workload (TPC-H row ratios).
QUERY_SF = 0.01
#: Full-load rows; nights generated (the timed phase uses all but the
#: last, which a traced phase uses); new rows per night. One timed night:
#: a run pays ~30 s of JVM start, set-up and backfill before it, and 22
#: runs of each workload must fit in an hour on a busy 4-core machine.
ETL_ROWS, ETL_NIGHTS, ETL_NIGHT_ROWS = 20_000, 2, 1_000
MIN_NIGHTS, MIN_TIMED_PASSES = 1, 4


@dataclass
class Result:
    """What one phase measured, in wall seconds and in CPU seconds (see
    :func:`cpu_seconds`). ``first`` is the cold first pass; ``items`` maps
    each item of the fixed list (a query, or an ETL task) to its timed
    samples; ``ops`` holds every timed operation (a query execution, or a
    night)."""

    first: float = 0.0
    first_cpu: float = 0.0
    items: dict[str, list[float]] = field(default_factory=dict)
    items_cpu: dict[str, list[float]] = field(default_factory=dict)
    ops: list[float] = field(default_factory=list)
    ops_cpu: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    info: dict[str, float] = field(default_factory=dict)

    def add(self, item: str, wall: float, cpu: float) -> None:
        self.items.setdefault(item, []).append(wall)
        self.items_cpu.setdefault(item, []).append(cpu)

    def op_p50(self, cpu: bool = False) -> float:
        return statistics.median(self.ops_cpu if cpu else self.ops)

    def mix(self, names=None, cpu: bool = False) -> float:
        """Sum over the fixed list (or ``names``) of each item's median."""
        items = self.items_cpu if cpu else self.items
        keys = items if names is None else names
        return sum(statistics.median(items[k]) for k in keys if items.get(k))

    def etl_mix(self, cpu: bool = False) -> float:
        """The ETL's fixed list is a backfill and a night: the backfill
        plus each DAG task's median over the nights."""
        return (self.first_cpu if cpu else self.first) + self.mix(cpu=cpu)

    def accumulate(self, key: str, amount: float) -> None:
        self.info[key] = self.info.get(key, 0.0) + amount


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def query_op(spark, name: str, corpus: str, tracer: Tracer | None, collect: bool = False):
    """One timed query execution: returns (result, seconds). The result is
    the built DataFrame, or with ``collect`` the pandas frame that the
    execute phase collected instead of writing to the ``noop`` sink."""
    from aqi_analysis_apache_airflow_spark.plans import REGISTRY

    fn = REGISTRY[name].fn

    def execute(df):
        if collect:
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
        return df

    t0 = time.perf_counter()
    if tracer is None:
        out = execute(fn(spark, corpus))
        return out, time.perf_counter() - t0
    with tracer.span(f"op.{name}"):
        with tracer.span("plans.build", group=True):
            df = fn(spark, corpus)
        with tracer.span("plans.plan", group=True):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("plans.exec", group=True):
            out = execute(df)
    return out, time.perf_counter() - t0


def run_queries(spark, corpus: str, seconds: float, rng: random.Random,
                tracer: Tracer | None = None, check=None,
                min_passes: int = MIN_TIMED_PASSES) -> Result:
    """Closed loop, one client, passes over :data:`QUERIES` in a seeded
    order. With ``check``, a first pass runs before the timed phase: it
    collects each result, which is then (outside the clock) handed to
    ``check(name, pandas_frame) -> problem | None``. Timed passes follow
    until ``seconds`` of operation time, at least ``min_passes``."""
    res = Result()
    spent, passes = 0.0, 0 if check is not None else 1
    while passes <= min_passes or spent < seconds:
        order = list(QUERIES)
        rng.shuffle(order)
        first = passes == 0
        for name in order:
            res.attempted += 1
            c0 = cpu_seconds()
            try:
                out, dt = query_op(spark, name, corpus, tracer, collect=first)
            except Exception as e:  # a failed query counts, the run goes on
                res.failed += 1
                res.problems.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            cpu = cpu_seconds() - c0
            if first:
                res.first += dt
                res.first_cpu += cpu
                t0 = time.perf_counter()
                problem = check(name, out)
                res.accumulate("check_s", time.perf_counter() - t0)
                if problem:
                    res.failed += 1
                    res.problems.append(f"{name}: {problem}")
                continue
            spent += dt
            res.add(name, dt, cpu)
            res.ops.append(dt)
            res.ops_cpu.append(cpu)
        passes += 1
    return res


# --------------------------------------------------------------------------
# ETL
# --------------------------------------------------------------------------


def task_order() -> list[str]:
    from aqi_analysis_apache_airflow_spark.pipelines.dag_etl_aqi import (
        GROUP_ORDER,
        TOPOLOGY,
    )

    out = []
    for group in GROUP_ORDER:
        body = TOPOLOGY[group]
        for chain in body.values() if isinstance(body, dict) else [body]:
            out.extend(chain)
    return out


def etl_tasks(wh, source_dir: str, counties_csv: str, at: datetime) -> dict:
    """DAG task id → zero-argument call with the clock fixed at ``at``."""
    from aqi_analysis_apache_airflow_spark.pipelines import metadata as md
    from aqi_analysis_apache_airflow_spark.pipelines import source_to_stage as s2s
    from aqi_analysis_apache_airflow_spark.pipelines import stage_to_nds as s2n

    aqi, cty = s2s.AQI_STAGE, s2s.COUNTIES_STAGE
    return {
        "set_cet_state_aqi": lambda: md.set_cet(wh, aqi, at=at),
        "truncate_table_state_aqi_stage": lambda: wh.truncate(aqi),
        "get_metadata_state_aqi": lambda: md.get_metadata(wh, aqi),
        "process_aqi_files": lambda: s2s.process_aqi_files(wh, source_dir),
        "set_lset_state_aqi": lambda: md.set_lset(wh, aqi, at=at),
        "set_cet_us_counties": lambda: md.set_cet(wh, cty, at=at),
        "truncate_table_us_counties_stage": lambda: wh.truncate(cty),
        "process_counties_file": lambda: s2s.process_counties_file(wh, counties_csv),
        "set_lset_us_counties": lambda: md.set_lset(wh, cty, at=at),
        "get_merged_state_data": lambda: s2n.upsert_states(wh, now=at),
        "get_merged_county_data": lambda: s2n.upsert_counties(wh, now=at),
        "get_merged_measurement_data": lambda: s2n.upsert_measurements(wh, now=at),
    }


def etl_warmup(spark, root: str) -> None:
    """The session's first parquet write and read, through ``Warehouse``."""
    from aqi_analysis_apache_airflow_spark.pipelines.warehouse import Warehouse

    shutil.rmtree(root, ignore_errors=True)
    wh = Warehouse(spark, root)
    wh.overwrite(spark.range(1000).withColumnRenamed("id", "x"), "warmup")
    wh.read("warmup").count()


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:  # the thread ended
            pass
    return out


def _stat_ticks(path: str, reaped: bool = True) -> int:
    """User + system clock ticks from a ``/proc`` stat file; with
    ``reaped``, those of the reaped children too."""
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15 if reaped else 13])


def _compiler_ticks(pid: int) -> int:
    """Clock ticks of the JVM's JIT compiler threads (``C1 CompilerThread``,
    ``C2 CompilerThread``; Linux keeps the first 15 characters)."""
    total = 0
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            total += _stat_ticks(f"/proc/{pid}/task/{task}/stat", reaped=False)
        except OSError:  # the thread ended
            pass
    return total


def cpu_seconds() -> float:
    """CPU seconds (user + system) used so far by this process, its JVM
    and the JVM's Python workers, including reaped children, less the
    JVM's JIT compiler threads. Time the hypervisor steals from the
    machine is not in it, unlike wall time. The compiler threads are left
    out because in a JVM this young they burn more CPU than the program
    does, and how much of it lands in one operation depends on when the
    compile queue drains, which contention shifts from run to run. The
    runner starts the JVM with ``-XX:-UseDynamicNumberOfCompilerThreads``
    so that no compiler thread ends and takes its ticks out of the count."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    todo = [os.getpid()] + ([proc.pid] if proc is not None else [])
    total = 0
    while todo:
        pid = todo.pop()
        try:
            total += _stat_ticks(f"/proc/{pid}/stat")
            if pid != os.getpid():  # the driver's own children are the JVM tree
                todo.extend(_children(pid))
            if proc is not None and pid == proc.pid:
                total -= _compiler_ticks(pid)
        except OSError:  # the process ended
            continue
    return total / os.sysconf("SC_CLK_TCK")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class EtlRun:
    """One warehouse fed by the generated input: the backfill, then one
    night per generated daily file. After every run (outside the clock)
    the warehouse is compared with ``oracle``, an ``oracle.EtlOracle``."""

    def __init__(self, spark, gen_dir: str, oracle):
        from aqi_analysis_apache_airflow_spark.pipelines.warehouse import Warehouse

        with open(os.path.join(gen_dir, "clock.json")) as f:
            clock = json.load(f)
        parse = lambda s: datetime.strptime(s, "%Y-%m-%d %H:%M:%S")  # noqa: E731
        self.gen = gen_dir
        self.source = os.path.join(gen_dir, "source")
        self.counties = os.path.join(gen_dir, "uscounties.csv")
        self.wh = Warehouse(spark, os.path.join(gen_dir, "wh"))
        self.oracle = oracle
        self.order = task_order()
        self.full_cet = parse(clock["full"])
        self.nights = [parse(c) for c in clock["nights"]]
        self.next_night = 0

    def _run(self, res: Result, label: str, cet: datetime, tracer: Tracer | None):
        """One pipeline run; returns {task: (wall, cpu)}, or None if it failed."""
        tasks = etl_tasks(self.wh, self.source, self.counties, cet)
        res.attempted += 1
        took = {}
        try:
            for task in self.order:
                c0, t0 = cpu_seconds(), time.perf_counter()
                if tracer is None:
                    tasks[task]()
                else:
                    with tracer.span(f"pipelines.task.{task}", group=True):
                        tasks[task]()
                took[task] = (time.perf_counter() - t0, cpu_seconds() - c0)
        except Exception as e:  # a failed run counts, and ends the phase
            res.failed += 1
            res.problems.append(f"{label}: {type(e).__name__}: {str(e)[:200]}")
            return None
        t0 = time.perf_counter()
        self.oracle.run(self.source, cet)
        problems = self.oracle.check(self.wh.root)
        res.accumulate("check_s", time.perf_counter() - t0)
        if problems:
            res.failed += 1
            res.problems.extend(f"{label}: {p}" for p in problems)
        return took

    def backfill(self, res: Result) -> None:
        """The first pass: an empty warehouse loaded from the yearly files."""
        took = self._run(res, "full", self.full_cet, None)
        if took is not None:
            res.first = sum(w for w, _ in took.values())
            res.first_cpu = sum(c for _, c in took.values())

    def run_nights(self, res: Result, seconds: float, tracer: Tracer | None = None,
                   min_nights: int = MIN_NIGHTS, keep: int = 0) -> None:
        """Nights until ``seconds`` of night time and ``min_nights`` nights,
        leaving the last ``keep`` generated nights for a later phase."""
        spent, done = 0.0, 0
        while done < min_nights or spent < seconds:
            if self.next_night >= len(self.nights) - keep:
                break
            k = self.next_night
            self.next_night += 1
            arriving = os.path.join(self.gen, "incoming", f"10_state_aqi_night_{k + 1}.csv")
            csv_bytes = os.path.getsize(arriving)
            shutil.move(arriving, self.source)  # the day's file lands first
            written = tracer.counts["pipelines.warehouse.bytes_written"] if tracer else 0
            if tracer is None:
                took = self._run(res, f"night {k + 1}", self.nights[k], None)
            else:
                with tracer.span("op.etl.night"):
                    took = self._run(res, f"night {k + 1}", self.nights[k], tracer)
            if took is None:
                break
            dt = sum(w for w, _ in took.values())
            spent += dt
            done += 1
            res.ops.append(dt)
            res.ops_cpu.append(sum(c for _, c in took.values()))
            for task, (wall, cpu) in took.items():
                res.add(task, wall, cpu)
            res.accumulate("night_csv_bytes", csv_bytes)
            if tracer is not None:
                tracer.count("pipelines.warehouse.night_bytes_written",
                             tracer.counts["pipelines.warehouse.bytes_written"] - written)

    def stored_bytes_per_input_byte(self) -> float:
        nds = sum(_dir_bytes(self.wh.path(t))
                  for t in ("state_nds", "county_nds", "measurement_nds"))
        return nds / max(1, _dir_bytes(self.source))
