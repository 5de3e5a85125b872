"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`. A
traced run also writes its spans, per-layer self times, warm-up op
times and traffic properties to `.perfbench_out/`; when an untraced
run of the same workload and seed is there, it adds the tracing
overhead (traced / untraced end-to-end numbers).

Every run works in its own directory under `.perfbench_runs/`
(warehouse, Spark local dirs, the `io` layout cache, feed staging,
temp files) and removes it at exit. The session is sized to the box:
`local[nproc]` and a driver heap below physical memory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
import traceback

ROOT = os.getcwd()


def _mem_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 0.0


def _isolate(run_dir: str) -> dict:
    """Point every scratch location of Spark, Python and the engine
    into `run_dir`, and size the session; must run before pyspark is
    imported. Returns the box description for the report."""
    cores = len(os.sched_getaffinity(0))
    mem = _mem_gib()
    heap_gib = max(1, min(4, int(mem / 3)))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TZ="UTC",  # naive datetimes from Spark and DuckDB then agree
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_LAYOUT_CACHE=os.path.join(run_dir, "layout-cache"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEMORY=f"{heap_gib}g",
        # Python workers import the engine (pandas UDFs, mapInPandas).
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join(
            (
                f"--driver-java-options -Djava.io.tmpdir={tmp}",
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
                "pyspark-shell",
            )
        ),
    )
    time.tzset()
    return {"cores": cores, "mem_gib": round(mem, 1), "driver_heap": f"{heap_gib}g"}


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway  # noqa: SLF001
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "crypto_lakehouse_spark")):
        print("perfbench: run from the repository root (crypto_lakehouse_spark/ not found)", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    box = _isolate(run_dir)
    sys.path.insert(0, ROOT)

    from spans import Tracer
    from workloads import END_TO_END, PER_LAYER, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    tracer = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](run_dir, args.seed, args.seconds, tracer)
    try:
        res = wl.run()
        import pyspark

        wl.report["env"] = {
            **box,
            "spark": pyspark.__version__,
            "java": wl.spark._jvm.System.getProperty("java.version"),  # noqa: SLF001
            "python": platform.python_version(),
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            _stop_jvm(wl.spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    if args.trace:
        untraced = f"{stem}-trace0.json"
        if os.path.isfile(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            wl.report["tracing_overhead"] = {
                k: v / base[k] for k, v in wl.report["end_to_end"].items() if base.get(k)
            }
        wl.report["per_layer"] = wl.per_layer()
        wl.report["self_time_s"] = tracer.self_times()
        wl.report["spans"] = tracer.spans
        names, values = PER_LAYER, wl.report["per_layer"]
    else:
        names, values = END_TO_END, res["metrics"]
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump(wl.report, f, indent=1, default=str)

    print(json.dumps({k: wl.report[k] for k in ("env", "setup_reps_s", "warmup_op_s", "timed_op_s") if k in wl.report}))
    for k in ("traffic", "checks"):
        if k in wl.report:
            print(json.dumps({k: wl.report[k]}, default=str))
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": wl.attempted,
                "failed": 0,  # a failing op raises and ends the run with exit code 1
                "metrics": {k: {"value": values[k], "unit": u} for k, u in names.items()},
            }
        )
    )
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
