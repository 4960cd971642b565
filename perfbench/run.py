#!/usr/bin/env python3
"""Benchmark of the CDC engine: one workload per run, one client, closed loop.

    python3 perfbench/run.py --workload cdc|analytics --seed N \
        --seconds S --trace 0|1

Run from the repository root. The engine is imported from the checkout;
inputs are generated from ``--seed`` and cached under ``.perfbench_work/``.
Spark runs at ``local[<cores available>]``.

Standard output ends with one JSON line ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the end-to-end
metrics of BENCHMARK.json; the line before it holds every end-to-end
number of the workload under its own name. With ``--trace 1`` the metrics
are the per-layer ones: the measurement window is split in two halves,
untraced then traced, spans are recorded around the engine calls and
Spark's event log is rolled up over the traced half. The exit code is 1
when any operation failed or any output differed from its reference, 2
when the engine is not present.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "trde703_openfoodfacts_etl_spark"
#: JVM heap; sized for a 4-core, 15 GB machine shared with others
JVM_HEAP = "3g"


def _layout(work: str) -> dict[str, str]:
    d = {k: os.path.join(work, k) for k in ("cache", "tmp", "local", "warehouse")}
    for p in d.values():
        os.makedirs(p, exist_ok=True)
    return d


def _isolate(dirs: dict[str, str]) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the engine from it."""
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = dirs["tmp"]


def _session(dirs: dict[str, str], cores: int, event_log: str | None):
    from trde703_openfoodfacts_etl_spark import build_session

    conf = {
        "spark.driver.memory": JVM_HEAP,
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_log,
        })
    # two shuffle partitions per core, as bench.py sizes them
    return build_session(app_name="perfbench", cores=cores, shuffle_partitions=2 * cores,
                         extra_conf=conf)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort below
            proc.kill()
            proc.wait(timeout=30)


def _value(v):
    return None if v is None else float(v)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE}/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import metrics as M
    from perfbench import stats
    from perfbench.eventlog import log_files
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    dirs = _layout(work)
    _isolate(dirs)
    run_dir = os.path.join(work, f"run_{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cores = len(os.sched_getaffinity(0))
    trace = bool(args.trace)

    t0 = time.perf_counter()
    spark = _session(dirs, cores, os.path.join(run_dir, "eventlog") if trace else None)
    session_s = time.perf_counter() - t0
    app_id = spark.sparkContext.applicationId
    try:
        run = Run(spark, run_dir, args.seed)
        wl = WORKLOADS[args.workload](run)
        prep = wl.setup(dirs["cache"])
        setup_s = session_s + sum(prep.values())

        t_start = time.perf_counter()
        if not trace:
            sample = wl.measure(args.seconds)
            rss = stats.peak_rss_mb()
        else:
            # untraced half, then the same workload traced: the gap between
            # the two is the tracing overhead
            sample = wl.measure(args.seconds / 2.0)
            tracer = Tracer()
            tracer.install_engine()
            run.tracer = tracer
            tracer.active = True
            t_from_ms = time.time() * 1000.0
            traced = wl.measure(args.seconds / 2.0)
            t_to_ms = time.time() * 1000.0
            tracer.active = False
            tracer.uninstall()
            run.tracer = None
            rss = stats.peak_rss_mb()
            overhead = wl.work_s(traced) / wl.work_s(sample) - 1.0
        measure_s = time.perf_counter() - t_start

        checked = wl.check()
        detail = wl.metrics(checked)
        detail.update({
            "setup_s": (setup_s, "s"), "session_s": (session_s, "s"),
            **{k: (v, "s") for k, v in prep.items()},
            "work_s": (wl.work_s(sample), "s"),
            "step_s": (wl.step_s(sample), "s"),
            "work_cpu_s": (wl.work_s(sample, cpu=True), "s"),
            "step_cpu_s": (wl.step_s(sample, cpu=True), "s"),
            "measure_s": (measure_s, "s"),
            "peak_rss_mb": (rss, "MB"),
            "ops_failed_frac": (run.failed / max(run.attempted, 1), "ratio"),
        })
    finally:
        _stop(spark)

    if trace:
        logs = log_files(os.path.join(run_dir, "eventlog"), app_id)
        metrics = M.per_layer(tracer, logs, t_from_ms, t_to_ms, overhead)
    else:
        metrics = {name: {"value": _value(detail[name][0]), "unit": unit}
                   for name, unit in M.END_TO_END}
    report = {"workload": args.workload, "seed": args.seed, "cores": cores,
              "mismatches": run.mismatches, **checked,
              "metrics": {k: {"value": _value(v[0]), "unit": v[1], **(v[2] if len(v) > 2 else {})}
                          for k, v in detail.items()}}
    print(json.dumps(report))
    correct = not run.mismatches and run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
