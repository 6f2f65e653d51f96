"""Benchmark entry point.

    python3 perfbench/run.py --workload rm_api --seed 1 --seconds 20 --trace 0

Runs one workload in a fresh process from the root of a checkout, checks
its outputs, prints a readable report and then, as the last line, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import spans  # noqa: E402

WORKLOADS = ("rm_api", "entries_small")
HEAP = "2g"  # the Spark driver's heap; sf0.01 passes use under 1.5 GB


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _environment(root: str, trace: bool) -> None:
    """Point every temp, spill, warehouse and catalog path of this run
    under its private root, before pyspark or the engine is imported."""
    tmp = os.path.join(root, "tmp")
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    conf = [f"spark.sql.warehouse.dir={os.path.join(root, 'warehouse')}",
            "spark.ui.showConsoleProgress=false",
            # a fixed, pre-touched heap: the collector's heap sizing would
            # otherwise move the peak RSS and the GC CPU of a run by a
            # fifth; compiler threads that never exit: see tree_cpu_s
            f"'spark.driver.extraJavaOptions=-Xms{HEAP} -XX:+AlwaysPreTouch"
            " -XX:-UseDynamicNumberOfCompilerThreads'"]
    if trace:
        conf += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                 f"spark.eventLog.dir=file://{os.path.join(root, 'eventlog')}"]
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(root, "local"),
        "RM_CATALOG_PATH": os.path.join(root, "catalog.json"),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {c}" for c in conf)
                               + " pyspark-shell",
        "SPARK_GRAFT_CPUS": str(min(4, os.cpu_count() or 1)),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "PYTHONDONTWRITEBYTECODE": "1",
    })


def _steal_load(j0: tuple) -> tuple:
    s1, t1 = spans.stat_jiffies()
    return (100.0 * (s1 - j0[0]) / max(1, t1 - j0[1]),
            os.getloadavg()[0])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's temp root (tables, spans, event log)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "radmapper_spark")):
        print("perfbench: no radmapper_spark package next to perfbench/",
              file=sys.stderr)
        return 2
    spec = _spec()
    trace = bool(args.trace)
    root = os.path.join(ROOT, ".perfbench-tmp",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(root, trace)
    sys.path.insert(0, ROOT)
    t_imports = spans.process_age_s()
    j0 = spans.stat_jiffies()
    try:
        if args.workload == "rm_api":
            import rm_api
            res = rm_api.run(args.seed, args.seconds, trace, root, t_imports)
        else:
            import entries
            res = entries.run(args.workload, args.seed, args.seconds, trace,
                              root)
    finally:
        if not args.keep:
            shutil.rmtree(root, ignore_errors=True)
            parent = os.path.dirname(root)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
    steal, load = _steal_load(j0)
    section = "per_layer" if trace else "end_to_end"
    measured = res[section] or {}
    metrics = {}
    for m in spec[section]:
        value, unit = measured.get(m["name"], (0.0, m["unit"]))
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    attempted, failed = res["attempted"], res["failed"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    for name, v in metrics.items():
        print(f"  {name:34s} {v['value']:14.4f} {v['unit']}")
    for name, value in res["wall"].items():
        print(f"  wall {name:29s} {value:14.4f}")
    print(f"  error_rate {failed / max(1, attempted):.4f} "
          f"({failed} of {attempted}); failing: {res['failed_names'] or 'none'}")
    print(f"  notes {json.dumps(res['notes'])}")
    print(f"  steal_pct {steal:.2f} load_avg_1m {load:.2f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
