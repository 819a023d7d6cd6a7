#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload tpch_batch --seed 1 --seconds 12 --trace 0

Run from the repository root.  The first run builds the input tables
under ``.bench_build/perfbench/data`` (see perfbench/gen.py); later runs
reuse them.  Every metric is printed on its own line with its unit and
sample count, then one summary line with the host facts, and last one
JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, with no tracing installed.
``--trace 1`` is a separate run that installs the tracing (Spark status
store, streaming progress listener, Catalyst tracker reads, PySpark
worker CPU, timers around the ``streaming.core`` harness) and reports
the per-layer metrics of BENCHMARK.json; it also prints each end-to-end metric's traced-minus-untraced difference
against the last untraced run of the same workload and seed, when there
is one.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


def _benchmark() -> dict:
    """BENCHMARK.json: the workloads and every metric's name and unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _parse(argv: list[str], bench: dict) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def _environment(run_dir: str, tracing: bool) -> None:
    """Keep every file the engine writes inside ``run_dir`` and let
    PySpark's workers import the engine package."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp  # would override spark.local.dir
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if tracing:
        # keep every job and stage of the run in the status store
        confs["spark.ui.retainedJobs"] = "1000000"
        confs["spark.ui.retainedStages"] = "1000000"
    args = [f"--conf {k}={v}" for k, v in confs.items()]
    args.append(f"--driver-java-options -Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


def _host_facts(canary: list[float]) -> str:
    import statistics

    import pyspark

    q6 = f"{statistics.median(canary):.4f}s" if canary else "n/a"
    return (f"nproc={os.cpu_count()} "
            f"SPARK_GRAFT_CPUS={os.environ.get('SPARK_GRAFT_CPUS', 'unset')} "
            f"pyspark={pyspark.__version__} tpch_q6_canary={q6}")


def _end_to_end(res) -> dict[str, tuple[float | None, str]]:
    """name -> (value, sample count as printed)."""
    from perfbench import stats

    lat_n = str(len(res.latencies_s))
    if res.latency_batches is not None:
        lat_n += f" from {res.latency_batches} micro-batches"
    return {
        "setup_s": (res.setup_s, "1"),
        "latency_p50_s": (stats.percentile(res.latencies_s, 0.5), lat_n),
        "throughput_per_s": (res.throughput_per_s, str(res.throughput_n)),
    }


def _wait_children(timeout_s: float = 60) -> None:
    """Wait until no process started by this one is left."""
    from perfbench.trace import descendants, proc_table

    deadline = time.time() + timeout_s
    while descendants(proc_table(), os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def main(argv: list[str]) -> int:
    bench = _benchmark()
    args = _parse(argv, bench)
    if not os.path.isfile(os.path.join(ROOT, "flink_1_12_0_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    # import this directory as the ``perfbench`` package from the root, not
    # its modules by bare name (``trace`` would shadow the standard library)
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if os.path.abspath(p or ".") != HERE]
    from perfbench import gen, workloads

    data = gen.ensure_tables(os.path.join(WORK, "data"))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        _environment(run_dir, bool(args.trace))
        ctx = workloads.Ctx(seed=args.seed, seconds=args.seconds,
                            trace=bool(args.trace), data_dir=data["sf0.01"],
                            stream_events=os.path.join(data["sf0.1"],
                                                       "events.parquet"),
                            run_dir=run_dir, t_start=time.perf_counter())
        try:
            res = workloads.WORKLOADS[args.workload](ctx)
        finally:
            workloads.stop_engine()
            _wait_children()
        res.procs.stop()
        res.extra["peak_rss_mb"] = (res.procs.peak_rss_bytes / 2**20, "MB", 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = _end_to_end(res)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    w = args.workload
    lines = []
    for name, (v, n) in e2e.items():
        lines.append(f"{name}={v} {units[name]} (n={n})")
        print(f"metric {w} {name} {v} {units[name]} n={n}")
    for name, (v, unit, n) in res.extra.items():
        print(f"metric {w} {name} {v} {unit} n={n}")
    print(f"metric {w} failed_ratio {res.outcomes.ratio()} ratio "
          f"n={res.outcomes.attempted}")
    for name, err in res.outcomes.failures:
        print(f"failure {w} {name}: {err}")

    saved = os.path.join(WORK, "untraced", f"{w}-{args.seed}.json")
    missing = []
    if args.trace:
        # a layer the workload never reaches reads 0
        metrics = {m["name"]: {"value": float(res.layers.get(m["name"], 0.0)),
                               "unit": m["unit"]}
                   for m in bench["per_layer"]}
        for m, d in metrics.items():
            print(f"layer {w} {m} {d['value']} {d['unit']}")
        if os.path.exists(saved):
            with open(saved) as f:
                base = json.load(f)
            for name, (v, _n) in e2e.items():
                b = base.get(name)
                if v is not None and b is not None:
                    print(f"overhead {w} {name} {v - b} {units[name]} "
                          f"(traced {v} - untraced {b})")
    else:
        missing = [k for k, (v, _n) in e2e.items() if v is None]
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, (v, _n) in e2e.items() if v is not None}
        if not missing:
            os.makedirs(os.path.dirname(saved), exist_ok=True)
            with open(saved, "w") as f:
                json.dump({k: v for k, (v, _n) in e2e.items()}, f)

    print(f"summary {w} seed={args.seed} trace={args.trace} "
          f"{_host_facts(res.canary_q6_s)} | " + " ".join(lines))
    # the verdict is printed even when a metric could not be reported
    print(json.dumps({"correct": res.outcomes.failed == 0 and not missing,
                      "attempted": res.outcomes.attempted,
                      "failed": res.outcomes.failed,
                      "metrics": metrics}), flush=True)
    if missing:
        print(f"perfbench: too few samples for {missing}", file=sys.stderr)
        return 3
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
