"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in one process on ``local[<cores>]`` with one
closed-loop client and prints, as the last line of standard output, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(every end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1``). Generated inputs, the gold store, Spark's scratch space
and the span dumps live under ``.perfbench/`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("declared_queries", "hourly_etl")
#: scale factor of the generated query tables (sf=0.01: 60,000 line items)
QUERY_SF = 0.01

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s"}


def _driver_mem_gb() -> int:
    """A quarter of physical memory, between 1 and 4 GiB."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1, min(4, phys // (4 << 30)))


def configure_env(trace: bool) -> None:
    """Launch environment for Spark, fixed here so the command behaves the
    same from any shell: Python workers import the engine from the repo
    root, the driver heap fits the host, one core per task slot, and all
    scratch space stays under ``.perfbench/``."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = f"{_driver_mem_gb()}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'spark-warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        # keep every job and stage in the status store until harvested
        submit += ["--conf", "spark.ui.retainedJobs=100000",
                   "--conf", "spark.ui.retainedStages=100000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    sys.path.insert(0, ROOT)


def make_workload(name: str, seed: int, seconds: float, tracer):
    from workloads import EtlWorkload, QueryWorkload

    kw = dict(work_dir=WORK, seed=seed, seconds=seconds, tracer=tracer)
    if name == "declared_queries":
        return QueryWorkload(QUERY_SF, **kw)
    return EtlWorkload(**kw)


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    import layers
    from spans import Tracer, metric_units

    tracer = Tracer() if trace else None
    if tracer is not None:
        layers.install(tracer)
    wl = make_workload(name, seed, seconds, tracer)
    try:
        wl.prepare()
        t0 = time.perf_counter()
        wl.setup()
        setup_s = time.perf_counter() - t0
        if tracer is not None:
            tracer.begin_phase()
        wl.run_timed(tracer)
        if tracer is None:
            values = wl.metrics(setup_s)
            units = E2E_UNITS
        else:
            tracer.enabled = False
            values = tracer.layer_metrics()
            values.update(wl.extra)
            values.update(wl.layer_extras())
            values.update(tracer.counter_metrics())
            values["session.jvm_peak_rss_mb"] = wl.jvm_peak_rss_mb()
            values["trace.overhead_s"] = tracer.overhead_s
            values["trace.unattributed_jobs"] = tracer.unattributed_jobs()
            tracer.write(os.path.join(WORK, f"spans-{name}-{seed}.json"))
            units = {k: u for k, (u, _) in metric_units().items()}
        with open(os.path.join(WORK, f"ops-{name}-{seed}.json"), "w") as fh:
            json.dump(wl.ops, fh)
        t1 = time.perf_counter()
        wl.check()
        print(f"setup {setup_s:.1f}s, timed {len(wl.latencies)} ops in {wl.busy_s:.1f}s, "
              f"check {time.perf_counter() - t1:.1f}s", file=sys.stderr)
    finally:
        wl.stop()
    if wl.mismatches:
        print("output check failed: " + json.dumps(wl.mismatches, default=str)[:4000],
              file=sys.stderr)
    failed = wl.failed()
    return {
        "correct": not wl.mismatches and failed == 0,
        "attempted": len(wl.ops),
        "failed": failed,
        "metrics": {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rustcheatersdatapipeline_spark", "__init__.py")):
        print(f"error: the engine package is not at {ROOT}", file=sys.stderr)
        return 2
    configure_env(bool(args.trace))
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
