"""Repository benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark generates its inputs from
``--seed`` under ``.perfbench/`` (generation counts in no metric), starts
``local[nproc]`` through ``session.get_spark``, sets up three times, runs
a cold first pass and then measures for at least ``--seconds`` of
operation time, checks every output outside the clock, and prints each
metric by name with its unit. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``; with ``--trace 1`` the per-layer
metrics of one traced pass that follows the untraced phase. A full record,
stamped with nproc, scale, seed and the pyspark version, goes to
``.perfbench/results/``; ``perfbench/compare.py`` compares two of them.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "aqi_analysis_apache_airflow_spark")
WORKLOADS = ("etl_nightly", "query_mix")
SETUP_CYCLES = 3

#: End-to-end metrics (``--trace 0``): name → unit. Operation costs are
#: CPU seconds (this process, the JVM less its JIT compiler threads, and
#: the JVM's Python workers; see ``workloads.cpu_seconds``): on a virtual
#: machine that loses CPU time to its neighbours, wall time swings by a
#: quarter or more between identical runs. The wall times are printed
#: beside them.
END_TO_END = {
    "setup_s": "s",
    "mix_cpu_s": "s",
    "peak_rss_mb": "MB",
}
#: Per-layer metrics (``--trace 1``): name → unit. Times here are ones
#: both workloads exercise; seconds of a layer only one workload uses are
#: printed and kept in the trace file, but left out of the JSON, where an
#: idle layer would read 0 s on every run.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "ops.first_s": "s",
    "ops.build_s": "s",
    "ops.plan_s": "s",
    "ops.exec_s": "s",
    "ops.cpu_s": "s",
    "ops.build_jobs": "count",
    "ops.exec_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.scan_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "sources.load_table.calls": "count",
    "sources.load_table.jobs": "count",
    "functions.materialize.pin.calls": "count",
    "functions.spread.spread_if_narrow.calls": "count",
    "functions.spread.spread_if_narrow.fired": "ratio",
    "functions.graph.calls": "count",
    "operators.merge.merge_upsert.calls": "count",
    "operators.dedupe.keep_first.calls": "count",
    "pipelines.jobs": "count",
    "pipelines.warehouse.overwrite.calls": "count",
    "pipelines.warehouse.bytes_written": "B",
    "pipelines.warehouse.write_amp": "ratio",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "B",
    "streaming.late_rows_dropped": "count",
    "trace.overhead_ratio": "ratio",
}
#: Spans whose seconds are printed in a traced run (inclusive and self).
PRINTED_SPANS = (
    "sources.load_table", "sources.read_aqi_csv_glob", "sources.read_counties_csv",
    "functions.materialize.pin", "functions.spread.spread_if_narrow", "functions.graph",
    "operators", "pipelines.set_cet", "pipelines.set_lset", "pipelines.get_metadata",
    "pipelines.process_aqi_files", "pipelines.process_counties_file",
    "pipelines.upsert_states", "pipelines.upsert_counties",
    "pipelines.backfill_counties_from_measurements", "pipelines.patch_windham",
    "pipelines.upsert_measurements", "pipelines.warehouse.overwrite", "pipelines.task",
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _environment(work: str) -> None:
    """Fix what the JVM and the Python workers read before they start: the
    core count, the heap, and every scratch directory (inside ``work``)."""
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # a fixed-size heap: peak memory then follows the program, not the
        # collector's choice of when to grow the heap; compiler threads
        # that live as long as the JVM (see workloads.cpu_seconds); and
        # compile thresholds at 0.3 of the default, so that the code
        # reaches its compiled form by the second timed pass instead of
        # warming through all of them at a pace set by the host's load
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (f"-Djava.io.tmpdir={tmp} -Xms2g -XX:-UsePerfData "
                                         "-XX:-UseDynamicNumberOfCompilerThreads "
                                         "-XX:CompileThresholdScaling=0.3"),
    })
    paths = [ROOT]
    try:
        import google.protobuf  # noqa: F401
    except ImportError:  # the vendored runtime, as the repository's tests use it
        zip_path = os.path.join(ROOT, "vendor", "protobuf_py.zip")
        if os.path.isfile(zip_path):
            sys.path.insert(0, zip_path)
            paths.insert(0, zip_path)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        paths + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import tempfile

    tempfile.tempdir = tmp


def _hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    from workloads import _children

    for pid in _children(os.getpid()):
        try:
            os.kill(pid, 15)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


class Bench:
    """One run: inputs, session, set-up cycles and the measured phases."""

    def __init__(self, args, work: str):
        self.a = args
        self.etl = args.workload == "etl_nightly"
        self.work = work
        self.spark = None
        self.extra_conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
        self.timing: dict[str, float] = {}

    def generate(self) -> None:
        import workloads as W

        if self.etl:
            import etl_gen

            self.inputs = os.path.join(self.work, "etl_input")
            etl_gen.generate(self.inputs, self.a.seed, W.ETL_ROWS, W.ETL_NIGHTS,
                             W.ETL_NIGHT_ROWS)
        else:
            import corpus_gen

            self.inputs = os.path.join(self.work, "corpus")
            corpus_gen.generate(self.inputs, self.a.seed, W.QUERY_SF)

    def _session(self):
        from aqi_analysis_apache_airflow_spark.session import get_spark

        return get_spark(app_name=f"perfbench_{self.a.workload}", extra_conf=self.extra_conf)

    def _warmup(self, cycle: int) -> None:
        import workloads as W

        if self.etl:
            W.etl_warmup(self.spark, os.path.join(self.work, f"warmup_wh{cycle}"))
        else:
            W.query_op(self.spark, W.QUERIES[0], self.inputs, None)

    def setup(self, t_gen: float) -> list[float]:
        """``SETUP_CYCLES`` set-ups, each until the first timed operation
        could start. The first is cold: process start, JVM, session,
        package import and warm-up, less input generation. Each further
        cycle stops the session and builds a fresh one with its warm-up on
        the same JVM, plus the first cycle's import time."""
        t0 = time.perf_counter()
        self.spark = self._session()
        t1 = time.perf_counter()
        import aqi_analysis_apache_airflow_spark.pipelines  # noqa: F401
        import aqi_analysis_apache_airflow_spark.plans  # noqa: F401

        t2 = time.perf_counter()
        self._warmup(0)
        t3 = time.perf_counter()
        self.timing = {"session.get_spark_s": t1 - t0, "session.import_s": t2 - t1,
                       "session.warmup_s": t3 - t2}
        cycles = [t3 - T_START - t_gen]
        for k in range(1, SETUP_CYCLES):
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self._session()
            self._warmup(k)
            cycles.append(time.perf_counter() - t0 + (t2 - t1))
        return cycles

    def measure(self):
        """The untraced first pass and timed phase."""
        import workloads as W

        res = W.Result()
        if self.etl:
            from oracle import EtlOracle

            self.oracle = EtlOracle(os.path.join(self.inputs, "uscounties.csv"))
            self.etl_run = W.EtlRun(self.spark, self.inputs, self.oracle)
            self.etl_run.backfill(res)
            if not res.failed:
                self.etl_run.run_nights(res, self.a.seconds, keep=1)
            res.info["stored_bytes_per_input_byte"] = self.etl_run.stored_bytes_per_input_byte()
            return res
        from aqi_analysis_apache_airflow_spark.plans import REGISTRY
        from corpus_gen import TABLES
        from oracle import QueryOracle

        self.rng = random.Random(self.a.seed)
        oracle = QueryOracle(self.inputs, TABLES)
        try:
            return W.run_queries(
                self.spark, self.inputs, self.a.seconds, self.rng,
                check=lambda name, pdf: oracle.check(REGISTRY[name].oracle, pdf))
        finally:
            oracle.close()

    def measure_traced(self, tracer):
        """One more timed pass with every layer wrapped, on a fresh session
        that writes Spark's event log (read back once it stops): a query
        pass, or the next night on the same warehouse."""
        import spans
        import workloads as W

        self.spark.stop()
        self.extra_conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(self.work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        self.spark = self._session()
        if self.etl:
            self.etl_run.wh.spark = self.spark
        tracer.sc = self.spark.sparkContext
        self.spark.streams.addListener(spans.stream_listener(tracer))
        undo = spans.wrap_layers(tracer)
        try:
            if self.etl:
                res = W.Result()
                self.etl_run.run_nights(res, 0.0, tracer, min_nights=1)
                return res
            return W.run_queries(self.spark, self.inputs, 0.0, self.rng, tracer, min_passes=1)
        finally:
            spans.unwrap(undo)

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus its JVM child."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return _hwm_mb(os.getpid()) + (_hwm_mb(proc.pid) if proc is not None else 0.0)

    def close(self) -> None:
        _shutdown(self.spark)
        if self.etl and hasattr(self, "oracle"):
            self.oracle.close()


def _layer_metrics(tracer, jobs_by_span, first_s, traced, untraced, timing):
    """Per-layer numbers from the spans, counts and event-log jobs of the
    traced phase."""
    m = {k: timing[k] for k in ("session.get_spark_s", "session.warmup_s")}
    m["ops.first_s"] = first_s
    by_id = {s.sid: s for s in tracer.spans}

    def phase_of(s):
        """The op phase a span belongs to: query phases directly; within an
        ETL task, the forced planning of a write is plan, the write exec,
        and everything else build."""
        while s is not None:
            if s.name in ("plans.build", "plans.plan", "plans.exec"):
                return s.name.split(".")[1]
            if s.name == "pipelines.warehouse.plan":
                return "plan"
            if s.name == "pipelines.warehouse.overwrite":
                return "exec"
            if s.name.startswith("pipelines.task."):
                return "build"
            s = by_id.get(s.parent)
        return None

    def under(s, prefix):
        while s is not None:
            if s.name.startswith(prefix):
                return True
            s = by_id.get(s.parent)
        return False

    selfs = tracer.self_times()
    for ph in ("build", "plan", "exec"):
        m[f"ops.{ph}_s"] = sum(selfs[s.sid] for s in tracer.spans if phase_of(s) == ph)
    keys = ("stages", "tasks", "scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes")
    agg = dict.fromkeys(keys + ("build_jobs", "exec_jobs", "load_table_jobs",
                                "pipelines_jobs"), 0)
    for sid, jobs in jobs_by_span.items():
        s, n = by_id[sid], len(jobs)
        ph = phase_of(s)
        if ph is None:
            continue
        agg["build_jobs" if ph == "build" else "exec_jobs"] += n
        for j in jobs:
            for k in keys:
                agg[k] += getattr(j, k)
        agg["load_table_jobs"] += n if under(s, "sources.load_table") else 0
        agg["pipelines_jobs"] += n if under(s, "pipelines.task.") else 0
    m["ops.build_jobs"], m["ops.exec_jobs"] = agg["build_jobs"], agg["exec_jobs"]
    for k in keys:
        m[f"spark.{k}"] = agg[k]
    calls = lambda prefix: tracer.totals(prefix)[0]  # noqa: E731
    m["sources.load_table.calls"] = calls("sources.load_table")
    m["sources.load_table.jobs"] = agg["load_table_jobs"]
    m["functions.materialize.pin.calls"] = calls("functions.materialize.pin")
    spread = calls("functions.spread.spread_if_narrow")
    m["functions.spread.spread_if_narrow.calls"] = spread
    m["functions.spread.spread_if_narrow.fired"] = (
        tracer.counts.get("functions.spread.spread_if_narrow.fired", 0) / spread
        if spread else 0.0)
    m["functions.graph.calls"] = calls("functions.graph.")
    m["operators.merge.merge_upsert.calls"] = calls("operators.merge.merge_upsert")
    m["operators.dedupe.keep_first.calls"] = calls("operators.dedupe.keep_first")
    m["pipelines.jobs"] = agg["pipelines_jobs"]
    m["pipelines.warehouse.overwrite.calls"] = calls("pipelines.warehouse.overwrite")
    m["pipelines.warehouse.bytes_written"] = tracer.counts.get(
        "pipelines.warehouse.bytes_written", 0)
    night_csv = traced.info.get("night_csv_bytes", 0)
    m["pipelines.warehouse.write_amp"] = (
        tracer.counts.get("pipelines.warehouse.night_bytes_written", 0) / night_csv
        if night_csv else 0.0)
    for k in ("batches", "input_rows", "state_rows", "state_memory_bytes",
              "late_rows_dropped"):
        m[f"streaming.{k}"] = tracer.counts.get(f"streaming.{k}", 0)
    m["ops.cpu_s"] = sum(traced.ops_cpu)
    m["trace.overhead_ratio"] = traced.mix() / untraced.mix()
    return m


def _printed_layers(tracer, layers, etl: bool) -> dict[str, tuple[float, str]]:
    """Seconds of layers only one workload exercises, the per-query phase
    split under the ``plans`` names, and the shares of an operation that
    build and the pipeline tasks take."""
    out = {}
    for prefix in PRINTED_SPANS:
        _, incl, own = tracer.totals(prefix)
        out[f"{prefix}.s"] = (incl, "s")
        out[f"{prefix}.self_s"] = (own, "s")
    for k in ("trigger_ms", "add_batch_ms", "query_planning_ms"):
        out[f"streaming.{k}"] = (tracer.counts.get(f"streaming.{k}", 0), "ms")
    ops = [s for s in tracer.spans if s.name.startswith("op.")]
    op_total = sum(s.end - s.start for s in ops)
    if etl:  # how much of each night the pipeline task spans cover
        tasks = sum(s.end - s.start for s in tracer.spans if s.name.startswith("pipelines.task."))
        out["pipelines.task_coverage"] = (tasks / op_total if op_total else 0.0, "ratio")
    else:
        build = sum(s.end - s.start for s in tracer.spans if s.name == "plans.build")
        out["plans.build_share"] = (build / op_total if op_total else 0.0, "ratio")
        for k in ("build_s", "plan_s", "exec_s", "build_jobs", "exec_jobs"):
            out[f"plans.{k}"] = (layers[f"ops.{k}"], PER_LAYER[f"ops.{k}"])
        for k in ("stages", "tasks", "scan_bytes", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            out[f"plans.{k}"] = (layers[f"spark.{k}"], PER_LAYER[f"spark.{k}"])
        for s in ops:
            for kid in (k for k in tracer.spans if k.parent == s.sid):
                key = f"query.{s.name[3:]}.{kid.name.split('.')[1]}_s"
                out[key] = (out.get(key, (0.0, "s"))[0] + kid.end - kid.start, "s")
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: the package is missing: {PKG_DIR} "
              "(run from the root of a checkout of the repository)", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, ROOT)
    out_root = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_root, "work", f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    try:
        report(a, work, out_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, work: str, out_root: str) -> None:
    """Run the benchmark and print its metrics; the JSON summary last."""
    import pyspark

    import workloads as W

    bench = Bench(a, work)
    traced = tracer = None
    try:
        t0 = time.perf_counter()
        bench.generate()
        t_gen = time.perf_counter() - t0
        cycles = bench.setup(t_gen)
        untraced = bench.measure()
        if a.trace:
            import spans

            tracer = spans.Tracer(f"{a.workload}-s{a.seed}")
            traced = bench.measure_traced(tracer)
        peak = bench.peak_rss_mb()
    finally:
        bench.close()

    mix = untraced.etl_mix if bench.etl else untraced.mix
    metrics = {
        "setup_s": statistics.median(cycles),
        "mix_cpu_s": mix(cpu=True),
        "peak_rss_mb": peak,
    }
    wall = {"op_p50_s": untraced.op_p50(), "op_cpu_p50_s": untraced.op_p50(cpu=True),
            "mix_s": mix(), "first_s": untraced.first, "first_cpu_s": untraced.first_cpu}
    stamp = {"nproc": nproc(), "sf": None if bench.etl else W.QUERY_SF,
             "etl_rows": W.ETL_ROWS if bench.etl else None, "seed": a.seed,
             "workload": a.workload, "pyspark": pyspark.__version__,
             "seconds": a.seconds, "trace": a.trace}
    phases = [untraced] + ([traced] if traced else [])
    attempted = sum(r.attempted for r in phases)
    failed = sum(r.failed for r in phases)
    print(f"stamp {json.dumps(stamp)}")
    for k, unit in END_TO_END.items():
        print(f"metric {k} = {metrics[k]:.6g} {unit}")
    for k, v in wall.items():
        print(f"metric {k} = {v:.6g} s")
    if bench.etl:
        print(f"metric etl_full_s = {untraced.first:.6g} s")
        print(f"metric etl_night_p50_s = {wall['op_p50_s']:.6g} s")
        print("metric stored_bytes_per_input_byte = "
              f"{untraced.info['stored_bytes_per_input_byte']:.6g} ratio")
    else:
        print(f"metric query_p50_s = {wall['op_p50_s']:.6g} s")
        for family in ("ONESHOT", "ITERATIVE", "STREAMING"):
            names = getattr(W, family)
            print(f"metric mix_{family.lower()}_s = {untraced.mix(names):.6g} s")
            print(f"metric mix_cpu_{family.lower()}_s = {untraced.mix(names, cpu=True):.6g} s")
    print(f"metric failed_ratio = {failed / max(1, attempted):.6g} ratio "
          f"({failed} of {attempted} operations)")
    info = {**untraced.info, **bench.timing, **wall}
    print(f"info {json.dumps({k: round(v, 4) for k, v in info.items()})}")
    print(f"info setup_cycles_s {[round(c, 4) for c in cycles]}")
    for p in (p for r in phases for p in r.problems):
        print(f"problem {p}")

    out_metrics, units, layers = metrics, END_TO_END, None
    if a.trace:
        jobs = spans.read_event_log(os.path.join(work, "eventlog"))
        by_span = spans.charge_jobs(tracer, jobs)
        layers = _layer_metrics(tracer, by_span, untraced.first, traced, untraced,
                                bench.timing)
        for k, unit in PER_LAYER.items():
            print(f"layer {k} = {layers[k]:.6g} {unit}")
        for k, (v, unit) in _printed_layers(tracer, layers, bench.etl).items():
            print(f"layer {k} = {v:.6g} {unit}")
        os.makedirs(os.path.join(out_root, "traces"), exist_ok=True)
        tracer.write(os.path.join(out_root, "traces", f"{a.workload}-s{a.seed}.jsonl"),
                     {"stamp": stamp, "layers": layers})
        out_metrics, units = layers, PER_LAYER

    os.makedirs(os.path.join(out_root, "results"), exist_ok=True)
    with open(os.path.join(out_root, "results",
                           f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({"stamp": stamp, "end_to_end": metrics, "layers": layers, "info": info,
                   "setup_cycles": cycles, "items": untraced.items,
                   "items_cpu": untraced.items_cpu,
                   "attempted": attempted, "failed": failed}, f, indent=1)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": out_metrics[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
