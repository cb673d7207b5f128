#!/usr/bin/env python3
"""The repository benchmark: one workload per run, outputs checked.

    python3 perfbench/run.py --workload warehouse_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The input tables are the repository's
sf0.1 test fixture (TESTDATA.md), kept byte for byte under
``perfbench/data/``; Spark runs at ``local[$SPARK_GRAFT_CPUS]`` (default
and ceiling: the cores this process may use). The report lines
name every metric of the workload with its unit; the last line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` - the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MODULES = ("relational", "queue", "analytics", "tpch_extra", "text", "dedup", "similarity")
DATA = os.path.join(HERE, "data")
WARM_SF = 0.001  # scale of the tables the warm-up pass runs over


def fixture_dir(sf: float) -> str:
    """The fixture tables at scale factor ``sf``, checked byte for byte
    against ``data/SHA256SUMS``: they are read, never regenerated."""
    sub = f"sf{sf:g}"
    with open(os.path.join(DATA, "SHA256SUMS")) as f:
        sums = dict(line.split()[::-1] for line in f if line.strip())
    names = [n for n in sums if n.startswith(sub + "/")]
    if not names:
        sys.exit(f"run.py: no fixture tables at scale factor {sf:g} in {DATA}")
    for name in names:
        with open(os.path.join(DATA, name), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != sums[name]:
                sys.exit(f"run.py: fixture table {name} differs from data/SHA256SUMS")
    return os.path.join(DATA, sub)


def declared() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("queue_stream", "warehouse_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1,
                   help="fixture scale factor: 0.1, or 0.001 for the self-test")
    return p.parse_args(argv)


def _environment(run_dir: str) -> int:
    """Point every temporary path of Spark and Python into run_dir; return the
    core count, SPARK_GRAFT_CPUS capped at the cores this process may use."""
    from harness import nproc

    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS") or nproc()), nproc())
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # no JVM perf-data file under /tmp, temporary files under run_dir
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{java_opts}" '
        f"--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} pyspark-shell"
    )
    return cpus


class Bench:
    def __init__(self, args, cpus, data_dir, warm_dir, run_dir, oracle_sql=None):
        from checks import Oracle
        from harness import Tracer
        from workloads import WORKLOADS

        self.args, self.cpus, self.run_dir = args, cpus, run_dir
        self.data_dir, self.warm_dir = data_dir, warm_dir
        self.tracer = Tracer(False)
        self.oracle = Oracle(data_dir, os.path.join(os.path.dirname(run_dir), "expected"))
        if oracle_sql is not None:
            self.oracle.expected_sql = oracle_sql
        self.workload = WORKLOADS[args.workload]()
        self.setup: dict[str, float] = {}

    def start(self, master=None) -> None:
        from hive_backend_spark.catalog import load_tables
        from hive_backend_spark.registry import all_queries
        from hive_backend_spark.session import get_spark
        from workloads import Context

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=master)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        if self.workload.uses_catalog:
            load_tables(self.spark, self.data_dir)
        t2 = time.perf_counter()
        if master is None:
            self.ctx = Context(self.spark, self.data_dir, self.warm_dir, self.run_dir,
                               self.args.seed, self.tracer, self.oracle, all_queries())
            self.setup.update({"session.start_s": t1 - t0, "catalog.load_tables_s": t2 - t1})
        else:
            self.ctx.spark = self.spark

    def set_up(self) -> float:
        self.start()
        ctx = self.ctx
        t0 = time.perf_counter()
        self.workload.stage(ctx)
        t1, c1 = time.perf_counter(), ctx.check_s
        self.workload.warmup(ctx)
        t2 = time.perf_counter()
        self.setup["session.staging_s"] = t1 - t0
        self.setup["session.warmup_s"] = t2 - t1 - (ctx.check_s - c1)
        return sum(self.setup.values())

    def phase(self, traced: bool) -> dict:
        """One measured phase; returns its end-to-end metrics."""
        from harness import SparkCounters, median, peak_rss_mb, tail

        ctx = self.ctx
        ctx.ops, ctx.layers = [], defaultdict(list)
        self.tracer.enabled = traced
        ctx.counters = SparkCounters(self.spark) if traced else None
        ctx.recording = True
        self.workload.measure(ctx, self.args.seconds)
        ctx.recording = False
        ctx.counters = None
        self.tracer.enabled = False
        lat, rate = self.workload.e2e(ctx)
        return {
            "latency_p50_s": median(lat),
            "latency_tail_s": tail(lat)[0],
            "throughput_per_s": rate,
            "peak_rss_mb": peak_rss_mb(),
        }

    def layers(self, untraced: dict, traced: dict) -> dict[str, float]:
        ctx, out = self.ctx, dict(self.setup)
        for key, values in ctx.layers.items():
            out[key] = sum(values) / len(values)
        for m in MODULES:
            exec_total = sum(ctx.layers.get(f"queries.{m}.exec_s", ()))
            if exec_total:
                cpu = sum(ctx.layers.get(f"queries.{m}.cpu_s", ()))
                out[f"queries.{m}.cpu_util"] = cpu / (exec_total * self.cpus)
        for k in traced:
            out[f"trace.overhead.{k}"] = traced[k] - untraced[k]
        lat = {i: o.latency for i, o in enumerate(ctx.ops)}
        out["trace.self_gap_s"] = self.tracer.op_gap(lat)
        out["catalog.scan_s"] = self.scan()
        return out

    def scan(self) -> float:
        """Full noop scan of every input table: the I/O floor."""
        from hive_backend_spark.catalog import TABLES, load_table

        t0 = time.perf_counter()
        for t in TABLES:
            load_table(self.spark, self.data_dir, t).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def speedup(self) -> float:
        """The reference pass at local[1] over the same pass at local[N],
        each the first work of a freshly started session."""
        times = {}
        for n in (self.cpus, 1):
            self.stop_session()
            self.start(master=f"local[{n}]")
            times[n] = self.workload.reference(self.ctx)
        return times[1] / times[self.cpus]

    def stop_session(self) -> None:
        self.workload.close(self.ctx)
        self.spark.stop()

    def shutdown(self) -> None:
        """Stop Spark, then end the JVM and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway  # noqa: SLF001
        self.stop_session()
        self.oracle.close()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def _expected_rows(data_dir: str, work: str) -> None:
    """Build step: the oracle rows of every query of every workload, so
    that no later run in this checkout waits on DuckDB."""
    from checks import Oracle
    from workloads import WORKLOADS

    from hive_backend_spark.registry import all_queries

    specs = all_queries()
    oracle = Oracle(data_dir, os.path.join(work, "expected"))
    try:
        for w in WORKLOADS.values():
            for name in w.QUERIES:
                if specs[name].oracle is not None:
                    oracle.expected(specs[name])
    finally:
        oracle.close()


def main(argv=None, oracle_sql=None) -> dict:
    """Run one workload and print its report; returns the result object.
    ``oracle_sql`` replaces the expected-result SQL (used by the self-test)."""
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "hive_backend_spark", "__init__.py")):
        sys.exit(f"run.py: no hive_backend_spark package under {ROOT}; run from a checkout")
    loadavg = os.getloadavg()[:2]
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    for path in (HERE, ROOT):
        if path not in sys.path:
            sys.path.insert(0, path)

    cpus = _environment(run_dir)
    t0 = time.perf_counter()
    data_dir = fixture_dir(args.sf)
    warm_dir = fixture_dir(min(args.sf, WARM_SF))
    _expected_rows(data_dir, work)
    build_s = time.perf_counter() - t0

    from harness import run_record

    bench = Bench(args, cpus, data_dir, warm_dir, run_dir, oracle_sql)
    try:
        e2e = {"setup_s": bench.set_up(), **bench.phase(traced=False)}
        w, ctx = bench.workload, bench.ctx
        report = w.report(ctx)
        measured_ops = list(ctx.ops)
        violations = w.check(ctx)
        record = {**run_record(args.seed, cpus, loadavg, bench.spark), "build_s": build_s}
        if args.trace:
            traced = bench.phase(traced=True)
            violations += w.check(ctx)
            layers = bench.layers(e2e, traced)
            trace_dir = os.path.join(work, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            bench.tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
            layers["spark.parallel_speedup"] = bench.speedup()
    finally:
        bench.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = ctx.attempted
    failed = min(attempted, ctx.failed + len(violations))
    print(f"# {args.workload}: {json.dumps(record)}")
    print("# setup: " + " ".join(f"{k}={v:.3f}" for k, v in bench.setup.items()))
    print("# ops: " + " ".join(f"{o.name}={o.latency:.3f}" for o in measured_ops))
    for err in ctx.errors[:5] + violations[:5]:
        print(f"# failed: {err}")
    report = {
        "setup_s": (e2e["setup_s"], "s", "start + load + staging + warm-up"),
        **report,
        "fail_ratio": (failed / attempted, "ratio", f"{failed} of {attempted} ops"),
        "peak_rss_mb": (e2e["peak_rss_mb"], "MB", "bench + JVM + Python workers"),
    }
    for name, (value, unit, note) in report.items():
        print(f"metric {name} {value:.6g} {unit}" + (f"  ({note})" if note else ""))
    e2e_units, layer_units = declared()
    if args.trace:
        unknown = set(layers) - set(layer_units)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        # a layer this workload never calls reads 0
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    print(json.dumps(result), flush=True)
    return result


if __name__ == "__main__":
    main()
