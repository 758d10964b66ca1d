"""Benchmark entry point.

    python3 perfbench/run.py --workload {poll_wide,dashboard} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a source checkout.  The last line of standard
output is one JSON object: ``correct``, ``attempted`` (timed ops),
``failed`` (ops that raised or failed their output check) and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (see BENCHMARK.json).  The line before it
holds run details: per-op latencies, sample counts, which percentile
``latency_tail_s`` is, and in the traced run the untraced and traced
medians whose difference is the tracing overhead.

Everything the run writes goes under ``.perfbench_work/`` in the
checkout; Spark runs in this process on ``local[nproc]``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import measure

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# how long to wait for the JVM and its Python workers to exit
STOP_TIMEOUT_S = 60.0


def metric_units(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def stop_spark() -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until every process it started — Python workers too — is gone."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(STOP_TIMEOUT_S)
        SparkContext._gateway = SparkContext._jvm = None
    tree = measure.ProcTree()
    end = time.monotonic() + STOP_TIMEOUT_S
    while len(tree.members()) > 1 and time.monotonic() < end:
        time.sleep(0.1)


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["poll_wide", "dashboard"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kafka_metrics_exporter_spark")):
        print(f"perfbench: no kafka_metrics_exporter_spark package under {ROOT}", file=sys.stderr)
        return 2
    units = metric_units(bool(args.trace))

    cpus = os.cpu_count() or 1
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
    )
    sys.path[:0] = [ROOT]
    import dashboard
    import poll

    from kafka_metrics_exporter_spark.session import get_spark

    def session(trace: bool):
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        if trace:
            conf.update(measure.event_log_conf(os.path.join(work, "eventlog")))
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    try:
        if args.workload == "poll_wide":
            attempted, failed, values, detail = poll.run(session, args.seed, args.seconds, bool(args.trace), work)
        else:
            hash_file = os.path.join(base, "hashes", f"dashboard-{args.seed}.json")
            attempted, failed, values, detail = dashboard.run(session, args.seed, args.seconds, bool(args.trace), work, hash_file)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for name, unit in units.items():
        # a layer the workload does not run reads 0 in the traced run
        value = values.get(name, 0.0) if args.trace else values[name]
        metrics[name] = {"value": float(value), "unit": unit}
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": attempted > 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
