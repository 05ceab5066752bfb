#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kinesis --seed 1 --seconds 6 --trace 0

Run from the repository root. Workloads: ``kinesis``, ``query_headline``
(see ``perfbench/README.md``).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: with ``--trace 0``
the end-to-end metrics ``BENCHMARK.json`` names, with ``--trace 1`` its
per-layer metrics from a separate traced measurement (spans and counters
are then written to
``.perfbench_work/trace-<workload>-<seed>.json``). The line before it is the
run-validity record. The exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

def load_spec() -> dict:
    """``BENCHMARK.json``: the metric names, units and directions printed."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class Run:
    """One benchmark process: its Spark session, work directory, tracing
    state, and whatever the workload keeps between set-up and measurement."""

    def __init__(self, seed: int, work: str):
        from perfbench.trace import Spans

        self.seed = seed
        self.work = work
        self.counter_dir = os.path.join(work, "counters")
        self.spark = None
        self.reporter = None
        self.trace = False
        self.spans = Spans(False)
        self.state: dict = {}

    def start_session(self, master: str) -> None:
        """A fresh ``get_spark`` session (the JVM survives ``stop``), with
        the live source registered and a ``MetricsReporter`` attached."""
        from reactive_kinesis_spark.session import get_spark
        from reactive_kinesis_spark.streaming.live_source import register_live_source
        from reactive_kinesis_spark.streaming.metrics import MetricsReporter

        if self.spark is not None:
            self.spark.stop()
        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            app_name="perfbench",
            master=master,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        register_live_source(self.spark)
        self.reporter = MetricsReporter(level="detailed", granularity="global").attach(self.spark)

    def close(self) -> None:
        """Stop the session and the JVM behind it, and wait until the JVM
        (and with it Spark's Python workers) has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def counters(self) -> dict[str, float]:
        from perfbench.standin import merged_counters

        return merged_counters(self.counter_dir)


def _workloads():
    from perfbench import connector, headline

    return {
        "kinesis": (connector.roundtrip_setup, None, connector.kinesis_measure),
        "query_headline": (headline.setup, headline.warm, headline.measure),
    }


def _prepare_env(work: str, cores: int) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers (which do not inherit ``sys.path``) import this package
    and the library."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def measure_workload(args, work: str) -> tuple[dict, dict]:
    """Set up, measure and (with ``--trace 1``) trace one workload.
    Returns (result, validity record)."""
    from perfbench.stats import HostWindow, PeakRss, calibration_probe

    cores = len(os.sched_getaffinity(0))
    master = f"local[{cores}]"
    setup_fn, warm_fn, measure_fn = _workloads()[args.workload]
    run = Run(args.seed, work)
    started = time.perf_counter()
    probe_s = calibration_probe()
    try:
        with PeakRss() as rss, HostWindow() as host:
            t0 = time.perf_counter()
            run.start_session(master)
            session_s = time.perf_counter() - t0
            sc = run.spark.sparkContext
            validity = {
                "workload": args.workload,
                "seed": args.seed,
                "seconds": args.seconds,
                "master": sc.master,
                "default_parallelism": sc.defaultParallelism,
                "shuffle_partitions": int(run.spark.conf.get("spark.sql.shuffle.partitions")),
                "cores": cores,
                "probe_s": probe_s,
                "session_start_s": session_s,
            }
            setup_fn(run)
            if warm_fn is not None:
                warm_fn(run)
            setup_s = time.perf_counter() - t0
            res = measure_fn(run, args.seconds, False)
            setup_s += res.get("setup_s", 0.0)
            if args.trace:
                run.trace = run.spans.enabled = True
                traced = measure_fn(run, args.seconds, True)
                run.trace = run.spans.enabled = False
                layers = traced["layers"]
                layers["process.cpu_ms_per_item"] = res["cpu_ms_per_item"]
                layers["latency_p99_ms"] = res["latency_p99_ms"]
                layers["trace.overhead_frac"] = res["throughput_per_s"] / traced["throughput_per_s"] - 1
                res["failed"] += traced["failed"]
                if args.workload == "kinesis":
                    from perfbench.connector import roundtrip_measure, roundtrip_setup

                    run.start_session("local[1]")
                    roundtrip_setup(run)
                    base = roundtrip_measure(run, args.seconds, False)
                    layers["baseline.local1_throughput_per_s"] = base["throughput_per_s"]
                    res["failed"] += base["failed"]
                res["layers"] = layers
    finally:
        run.close()
    validity.update(external_cores=host.external_cores, steal_cores=host.steal_cores,
                    loadavg_1m=os.getloadavg()[0], run_s=time.perf_counter() - started)
    validity.update(res.pop("validity", {}))
    res["setup_s"] = setup_s
    res["peak_rss_mb"] = rss.peak / 1e6
    if args.trace:
        res["layers"]["machine.external_cores"] = host.external_cores
        res["layers"]["machine.probe_s"] = probe_s
        os.makedirs(WORK_ROOT, exist_ok=True)
        with open(os.path.join(WORK_ROOT, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"validity": validity, "layers": res["layers"], "spans": run.spans.records}, fh)
    return res, validity


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("kinesis", "query_headline"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "reactive_kinesis_spark")):
        print(f"perfbench: no reactive_kinesis_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    cores = len(os.sched_getaffinity(0))
    _prepare_env(work, cores)
    try:
        res, validity = measure_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        metrics = {m["name"]: {"value": float(res["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(res[m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]}
    correct = res["failed"] == 0
    print(json.dumps({"validity": validity}))
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
