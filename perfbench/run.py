#!/usr/bin/env python3
"""ETL benchmark: one run of one workload.

    python3 perfbench/run.py --workload daily_increments --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds a local Spark session, sets up the
workload from the seed (untimed), runs its operations for ``--seconds``,
checks the outputs, and prints one JSON line as the last line of
stdout: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Spans of a traced run go to
``.perfbench_work/traces/<workload>-seed<seed>.json``. Workloads,
metrics and the run protocol are described in perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
SPARK_CORES = 3
DRIVER_MEMORY = "1g"
WORKLOADS = ["daily_increments", "query_mix"]

END_TO_END = {"setup_s": "s", "op_s_p50": "s", "items_per_s": "1/s", "peak_rss_mb": "MB"}
_SESSION = {f"session.{g}.{k}": "count" for g in ("extract", "transform", "load", "noop", "query")
            for k in ("jobs", "stages", "tasks")}
_WAREHOUSE = {f"warehouse.{lay}.{k}": u for lay in ("staging", "transformed", "production")
              for k, u in (("write_s", "s"), ("rows_written", "count"), ("bytes_written", "B"),
                           ("files_written", "count"), ("files_total", "count"))}
PER_LAYER = {
    **{f"pipeline.{p}{s}": "s" for p in ("extract", "transform", "load") for s in ("_s", "_self_s")},
    "pipeline.noop_window_s": "s",
    **_SESSION,
    "ingest_log.check_s": "s", "ingest_log.mark_s": "s", "ingest_log.files_checked": "count",
    "ingest_log.files_new": "count", "ingest_log.bytes_checked": "B", "ingest_log.useful_frac": "ratio",
    "csv.rows_in": "count", "csv.bytes_in": "B",
    **_WAREHOUSE,
    "warehouse.write_amp": "ratio", "warehouse.space_amp": "ratio",
    "warehouse.transformed.rederived_rows_no_new_files": "count",
    "plans.merge_s": "s", "plans.incremental_s": "s",
    "plans.merge.rows_rewritten_per_delta_row": "ratio",
    "plans.incremental.rows_scanned_per_row_appended": "ratio",
    "functions.transform_rows_per_s": "1/s",
    "queries.build_s": "s", "queries.exec_s": "s",
    "run.op_count": "count", "run.op_s_tail": "s", "run.op_tail_pct": "%",
    "trace.op_s_p50": "s",
}


def _per_query_units() -> dict[str, str]:
    from perfbench.query_mix import MIX

    return {f"queries.{n}_s": "s" for n in MIX}


def _env(work: Path) -> None:
    """Keep Spark's scratch files inside the run's work directory and
    let the Python workers import the package from the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        # no hsperfdata files: the JVM would write them outside the work
        # dir; a pre-touched fixed heap keeps peak memory from depending
        # on when the collector chose to grow the heap
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "--conf", f"spark.sql.warehouse.dir={work / 'spark-warehouse'}",
        "pyspark-shell",
    ])


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    from perfbench.measure import tree_pids

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec("python_etl_pipeline_spark") is None:
        print(f"python_etl_pipeline_spark not found under {ROOT}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2

    from perfbench.measure import PeakRss

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _env(work)
    try:
        with PeakRss() as rss:
            from python_etl_pipeline_spark.session import get_spark

            spark = get_spark("perfbench", cpus=min(SPARK_CORES, os.cpu_count() or 1))
            try:
                result = _run(spark, args, work)
            finally:
                _stop(spark)
        if args.trace == 0:
            result["metrics"]["peak_rss_mb"] = {"value": rss.peak / 2**20, "unit": "MB"}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _run(spark, args, work: Path) -> dict:
    from perfbench.measure import tail
    from perfbench.spans import Tracer

    if args.workload == "daily_increments":
        from perfbench.daily import DailyIncrements as Workload
    else:
        from perfbench.query_mix import QueryMix as Workload

    tracer = Tracer(spark.sparkContext) if args.trace else None
    if tracer:
        tracer.install()
    wl = Workload(spark, work, args.seed, tracer)
    wl.setup()
    setup_s = time.perf_counter() - T_START
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < args.seconds:
        wl.step(time.perf_counter)
    for op in wl.ops:
        print(f"op {op['id']} {op.get('name', '')} {op['s']:.3f}s ok={op['ok']}", file=sys.stderr)
    fails = wl.check()
    for f in fails:
        print(f"check failed: {f}", file=sys.stderr)
    e2e = wl.end_to_end()
    if tracer:
        tracer.uninstall()
        traces = ROOT / ".perfbench_work" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        tracer.dump(traces / f"{args.workload}-seed{args.seed}.json")
        values = {**{k: 0.0 for k in {**PER_LAYER, **_per_query_units()}}, **wl.per_layer()}
        op_s = [op["s"] for op in wl.ops]
        values["run.op_count"] = len(op_s)
        values["run.op_s_tail"], values["run.op_tail_pct"] = tail(op_s)
        values["trace.op_s_p50"] = e2e["op_s_p50"]
        units = {**PER_LAYER, **_per_query_units()}
        metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    else:
        values = {"setup_s": setup_s, **e2e}
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in values.items()}
    return {"correct": not fails, "attempted": wl.attempted, "failed": len(fails), "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
