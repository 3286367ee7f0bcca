"""Closed-loop benchmark of big_datatrader_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N

One client in one process drives ``local[nproc]`` Spark; each request
is sent only after the previous one completed, and every result is
checked against an independent reference (perfbench/oracle.py).  A run
is one process: it sets up once, cold (``get_spark`` launches the JVM,
then ``WARMUP_PASSES`` passes run on cold JIT and codegen caches), and
then measures whole passes until ``seconds`` have gone by, at least
``MIN_PASSES`` of them.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs with
Spark's event log on, keeps spans in memory, times each layer's public
function from outside once after the measured passes and prints the
per-layer metrics.  The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed``, ``metrics``; the line before it is the full
record (identity stamp, failed_frac, per-request samples), also saved
under ``.benchdata/results/``.  ``--workload all`` runs every workload
untraced and traced and prints one table with the tracing overhead.

Inputs, Spark scratch space, exports and traces live under the
git-ignored ``.benchdata/`` of the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(ROOT, ".benchdata")
TAIL_BEYOND = 10  # samples the tail percentile must leave beyond it
# The first pass runs cold and the second is still 20-40% slower than
# later ones while the JIT compiles the planner and the generated code;
# both belong to the set-up.
WARMUP_PASSES = 2
MIN_PASSES = 6

# Printed on the last line and gated in BENCHMARK.json.
END_TO_END = {"setup_s": "s", "pass_s": "s"}
# In the record only; each spreads wider run to run than any bound worth
# gating on.  The median request of a mixed pass falls on whichever request
# type sits in the middle (llm_graph: winnowing_fingerprints, whose latency
# is bimodal from run to run), so it follows that type's mode.  The tail is
# the max or near it at 18 to 66 requests a run, and the JVM's peak RSS
# follows its heap sizing.
RECORDED = {"request_p50_s": "s", "request_tail_s": "s",
            "peak_rss_mb": "MB", "failed_frac": "ratio"}
EVENTLOG_METRICS = {
    "exchange.shuffle_write_bytes": ("shuffle_write_bytes", "B"),
    "exchange.shuffle_write_records": ("shuffle_write_records", "count"),
    "exchange.fetch_wait_s": ("fetch_wait_s", "s"),
    "exchange.spill_bytes": ("spill_bytes", "B"),
    "exchange.stages": ("stages", "count"),
    "exchange.tasks": ("tasks", "count"),
    "kernel.python_run_s": ("python_run_s", "s"),
    "kernel.python_bytes_in": ("python_bytes_in", "B"),
    "executor.run_s": ("run_s", "s"),
    "executor.cpu_s": ("cpu_s", "s"),
    "executor.gc_s": ("gc_s", "s"),
    "driver.result_bytes": ("result_bytes", "B"),
    "cache.block_bytes": ("block_bytes", "B"),
}
PROBE_TIMES = ["sources.parquet_scan", "sources.csv_decode",
               "sources.sink_write", "operators.backtest_evenly",
               "operators.backtest_ma", "functions.graph.edge_build",
               "functions.text.tokenize",
               "functions.dedup.minhash_signatures",
               "functions.similarity.brute_force_topk"]
PROBE_COUNTS = {"sources.scan_rows": "count", "sources.scan_bytes": "B",
                "sources.sink_bytes": "B", "functions.graph.edge_rows": "count"}


def request_layer(name: str) -> str:
    return f"{'pipeline' if name.startswith('csv_') else 'queries'}.{name}"


def request_metric(name: str) -> str:
    return f"{request_layer(name)}.latency_s"


def per_layer_units(specs) -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    units = {"session.get_spark_s": "s", "session.warmup_s": "s"}
    units.update({f"{p}_s": "s" for p in PROBE_TIMES})
    units.update(PROBE_COUNTS)
    units.update({k: u for k, (_, u) in EVENTLOG_METRICS.items()})
    units["executor.busy_frac"] = "ratio"
    for spec in specs:
        names = list(spec.members)
        if spec.csv_pipeline:
            names += ["csv_evenly_export", "csv_ma_positions_export"]
        units.update({request_metric(n): "s" for n in names})
    return units


def configure_env(trace: bool) -> dict[str, str]:
    """Pin the core count, the worker import path and Spark's scratch
    space; must run before the JVM starts."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(DATA, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_LOCAL_DIRS": os.path.join(DATA, "spark-local"),
        "TMPDIR": tmp,
    }
    submit = [f"--driver-java-options -Djava.io.tmpdir={tmp}",
              f"--conf spark.sql.warehouse.dir={os.path.join(DATA, 'warehouse')}"]
    if trace:
        log_dir = os.path.join(DATA, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += [f"--conf spark.eventLog.{k}={v}" for k, v in (
            ("enabled", "true"), ("dir", "file://" + log_dir),
            ("compress", "false"), ("rolling.enabled", "false"),
            ("logBlockUpdates.enabled", "true"))]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    os.environ.update(env)
    return env


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    TAIL_BEYOND samples beyond it."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 2 * TAIL_BEYOND:
        # no percentile at or above the median leaves that many beyond
        return xs[-1], 100.0
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def shutdown(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait."""
    from pyspark import SparkContext

    from perfbench.procinfo import descendants, wait_gone

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = descendants(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    wait_gone(pids)


class Run:
    """One workload, one seed: set up, measure, check, report."""

    def __init__(self, spec, seed: int, seconds: int, trace: bool):
        from perfbench.procinfo import PeakRss
        from perfbench.tracing import Tracer

        self.spec, self.seed, self.seconds, self.trace = (
            spec, seed, seconds, trace)
        self.tracer = Tracer(trace)
        self.rss = PeakRss(os.getpid())
        self.rng = random.Random(seed)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.latency: dict[str, list[float]] = {}

    def prepare(self, stamp: dict):
        import bench
        from perfbench import datagen, oracle, workloads

        from big_datatrader_spark.queries import load_registry

        spec = self.spec
        star = workloads.STAR_DIR
        md5 = bench.dataset_fingerprint(star)["content_md5"]
        if md5 != workloads.STAR_MD5:
            raise RuntimeError(f"{star}: md5 {md5}, expected "
                               f"{workloads.STAR_MD5}")
        reg = load_registry()
        expected = oracle.registry_hashes(reg, list(spec.members), star, md5,
                                          DATA)
        csv_dir = None
        if spec.csv_pipeline:
            csv_dir = datagen.ohlcv_csvs(DATA, self.seed,
                                         workloads.OHLCV_SYMBOLS,
                                         workloads.OHLCV_BARS)
            start, end = workloads.ohlcv_window()
            expected.update(oracle.csv_hashes(
                csv_dir, start, end, workloads.MIN_VOLUME, DATA))
            stamp["ohlcv_md5"] = oracle.files_md5(
                [os.path.join(csv_dir, f) for f in os.listdir(csv_dir)
                 if f.endswith(".csv")])
        stamp["dataset_md5"] = md5
        out_dir = os.path.join(DATA, "out", f"{spec.name}-{os.getpid()}")
        self.inputs = workloads.Inputs(star, csv_dir, out_dir)
        self.requests = workloads.requests(spec, reg, self.inputs, expected)

    def one_pass(self, spark, phase: str, index: int) -> float:
        """Send every request once, in seeded order; return the time the
        engine spent on them (the client's checks between requests are
        benchmark work and not counted)."""
        from perfbench.oracle import value_hash

        sc = spark.sparkContext
        order = list(self.requests)
        self.rng.shuffle(order)
        busy = 0.0
        for req in order:
            tag = f"perfbench-{phase}-{index}-{req.name}"
            sc.addJobTag(tag)
            self.attempted += 1
            dt = None
            t0 = time.perf_counter()
            try:
                with self.tracer.span(request_layer(req.name),
                                      phase=phase, index=index):
                    handle = req.run(spark)
                dt = time.perf_counter() - t0
                ok = value_hash(req.result(handle)) == req.expected
                if not ok:
                    self.errors.append(f"{req.name}: wrong result")
            except Exception as ex:  # noqa: BLE001 - a request's failure is data
                if dt is None:
                    dt = time.perf_counter() - t0
                ok = False
                self.errors.append(f"{req.name}: {ex!r}"[:300])
            finally:
                sc.removeJobTag(tag)
                spark.catalog.clearCache()
            busy += dt
            if not ok:
                self.failed += 1
            elif phase == "m":
                self.latency.setdefault(req.name, []).append(dt)
            self.rss.sample()
        return busy

    def execute(self) -> dict:
        from perfbench import workloads
        from perfbench.procinfo import cpu_ticks

        from big_datatrader_spark.session import get_spark

        pass_times, probe_counts = [], {}
        spark = None
        try:
            with self.tracer.span("workload", workload=self.spec.name):
                t0 = time.perf_counter()
                with self.tracer.span("session.get_spark"):
                    spark = get_spark("perfbench")
                get_spark_s = time.perf_counter() - t0
                sc = spark.sparkContext
                with self.tracer.span("session.warmup"):
                    warmup_s = sum(self.one_pass(spark, "w", i)
                                   for i in range(WARMUP_PASSES))
                ticks = cpu_ticks()
                end = time.perf_counter() + self.seconds
                while (len(pass_times) < MIN_PASSES
                       or time.perf_counter() < end):
                    with self.tracer.span("pass", index=len(pass_times)):
                        pass_times.append(
                            self.one_pass(spark, "m", len(pass_times)))
                steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
                if self.trace:
                    sc.addJobTag("perfbench-probes")
                    with self.tracer.span("probes"):
                        probe_counts = workloads.run_probes(
                            self.spec, spark, self.inputs, self.tracer)
                    sc.removeJobTag("perfbench-probes")
                self.rss.sample()
                raw = {"get_spark_s": get_spark_s, "warmup_s": warmup_s,
                       "steal_frac": steal / max(1, total),
                       "pass_times": pass_times, "probe_counts": probe_counts,
                       "app": sc.applicationId, "driver_memory":
                       sc.getConf().get("spark.driver.memory")}
        finally:
            shutdown(spark)
        return raw

    def metrics(self, raw: dict) -> tuple[dict, dict]:
        """(every metric with its unit, extra record fields)."""
        lat = [x for xs in self.latency.values() for x in xs]
        extra = {"samples": len(lat), "passes": len(raw["pass_times"]),
                 "get_spark_s": raw["get_spark_s"],
                 "warmup_s": raw["warmup_s"],
                 "pass_times_s": raw["pass_times"],
                 "latency_s": self.latency, "errors": self.errors}
        pass_s = statistics.median(raw["pass_times"])
        if not self.trace:
            # every request failed: no latency to report
            tail_s, pct = tail(lat) if lat else (None, None)
            extra["tail_percentile"] = pct
            values = {
                "setup_s": raw["get_spark_s"] + raw["warmup_s"],
                "pass_s": pass_s,
                "request_p50_s": statistics.median(lat) if lat else None,
                "request_tail_s": tail_s,
                "peak_rss_mb": self.rss.total_mb(),
                "failed_frac": self.failed / max(1, self.attempted),
            }
            units = {**END_TO_END, **RECORDED}
            return ({k: {"value": v, "unit": units[k]}
                     for k, v in values.items()}, extra)
        return self.layer_metrics(raw, pass_s, extra)

    def layer_metrics(self, raw, pass_s, extra) -> tuple[dict, dict]:
        from perfbench import eventlog
        from perfbench.workloads import SPECS

        units = per_layer_units(SPECS.values())
        values = dict.fromkeys(units, 0.0)
        tr = self.tracer
        values["session.get_spark_s"] = raw["get_spark_s"]
        values["session.warmup_s"] = raw["warmup_s"]
        for p in PROBE_TIMES:
            if tr.durations(p):
                values[f"{p}_s"] = statistics.median(tr.durations(p))
        values.update(raw["probe_counts"])
        for name, xs in self.latency.items():
            values[request_metric(name)] = statistics.median(xs)
        log_dir = os.path.join(DATA, "eventlog")
        tags = eventlog.per_tag(eventlog.read_events(eventlog.log_files(
            log_dir, raw["app"])), "perfbench-")
        measured = eventlog.total(
            {t: v for t, v in tags.items() if t.startswith("perfbench-m-")})
        for k, (field, _) in EVENTLOG_METRICS.items():
            values[k] = measured[field] / extra["passes"]
        values["executor.busy_frac"] = values["executor.run_s"] / (
            pass_s * int(os.environ["SPARK_GRAFT_CPUS"]))
        extra["traced_pass_s"] = pass_s
        extra["eventlog_by_request"] = tags
        trace_path = os.path.join(
            DATA, "trace", f"{self.spec.name}-seed{self.seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        tr.write(trace_path)
        extra["trace_file"] = os.path.relpath(trace_path, ROOT)
        untraced = _load_result(self.spec.name, self.seed, trace=False)
        # only a record of the same requests compares
        if untraced is not None \
                and set(untraced["latency_s"]) == set(self.latency):
            extra["tracing_overhead_s"] = (
                pass_s - untraced["metrics"]["pass_s"]["value"])
        return ({k: {"value": v, "unit": units[k]}
                 for k, v in values.items()}, extra)


def cpu_probe() -> float:
    """Time of a fixed single-thread loop: reads higher on a slower or
    busier host, which loadavg and steal inside this VM do not show."""
    t0 = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return time.perf_counter() - t0


def identity_stamp(seed: int, env: dict) -> dict:
    import platform

    import bench

    load = os.getloadavg()[0]
    jvms = bench._foreign_jvms()
    return {
        "seed": seed,
        "nproc": int(env["SPARK_GRAFT_CPUS"]),
        "loadavg_1m_at_start": load,
        "foreign_jvms_at_start": jvms,
        "contended": (load > bench.LOADAVG_CONTENTION_THRESHOLD
                      or jvms > 0),
        "cpu_probe_s": cpu_probe(),
        "python": platform.python_version(),
    }


def _result_path(workload: str, seed: int, trace: bool) -> str:
    return os.path.join(DATA, "results",
                        f"{workload}-seed{seed}-trace{int(trace)}.json")


def _load_result(workload: str, seed: int, trace: bool) -> dict | None:
    try:
        with open(_result_path(workload, seed, trace)) as fh:
            return json.load(fh)
    except OSError:
        return None


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> int:
    from perfbench.workloads import SPECS

    env = configure_env(trace)
    stamp = identity_stamp(seed, env)
    import pyspark

    stamp["spark"] = pyspark.__version__
    run = Run(SPECS[workload], seed, seconds, trace)
    run.prepare(stamp)
    raw = run.execute()
    stamp["driver_memory"] = raw.pop("driver_memory")
    # share of the measured window the hypervisor gave our vCPUs to
    # another guest: a run that is slow with a high value met the host
    stamp["steal_frac"] = raw.pop("steal_frac")
    stamp["cpu_probe_end_s"] = cpu_probe()
    shutil.rmtree(run.inputs.out_dir, ignore_errors=True)
    metrics, extra = run.metrics(raw)
    record = {"workload": workload, "trace": trace, "stamp": stamp,
              "attempted": run.attempted, "failed": run.failed,
              "metrics": metrics, **extra}
    printed = metrics if trace else {k: metrics[k] for k in END_TO_END}
    path = _result_path(workload, seed, trace)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(record))
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": printed}))
    return 0


def run_all(seed: int, seconds: int) -> int:
    """Every workload, untraced then traced, each in its own process."""
    from perfbench.workloads import SPECS

    rows, status = [], 0
    for name in SPECS:
        recs = []
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", name,
                 "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", str(trace)],
                stdout=subprocess.PIPE, text=True, cwd=ROOT, check=False)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or len(lines) < 2:
                print(f"{name} trace={trace}: exit {proc.returncode}",
                      file=sys.stderr)
                status = 1
                break
            recs.append(json.loads(lines[-2]))
        if len(recs) == 2:
            rows.append((name, *recs))
    for name, plain, traced in rows:
        print(f"== {name}  (seed {seed}, nproc {plain['stamp']['nproc']}, "
              f"dataset {plain['stamp']['dataset_md5']}, "
              f"contended {plain['stamp']['contended']})")
        for k, m in plain["metrics"].items():
            value = "n/a" if m["value"] is None else f"{m['value']:.4f}"
            print(f"  {k:16s} {value:>12s} {m['unit']}")
        print(f"  tail percentile p{plain['tail_percentile']:.1f} of "
              f"{plain['samples']} samples")
        print(f"  tracing overhead {traced.get('tracing_overhead_s', 0):.4f} s"
              f" per pass; per-layer record: {traced['trace_file']}")
        if plain["failed"] or traced["failed"]:
            status = 1
    return status


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "big_datatrader_spark")):
        print("perfbench: big_datatrader_spark/ is not beside perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import SPECS

    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    if args.workload not in SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(SPECS)} or 'all'", file=sys.stderr)
        return 2
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
