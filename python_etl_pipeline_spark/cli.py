"""CLI — the reference's entry points (SURVEY.md §3) on the Spark engine.

The reference exposes ``python main.py --mode full|schedule`` plus
per-phase module mains (main.py:425-461, extract/transform/load
``main()``s). This CLI reproduces that surface:

    python -m python_etl_pipeline_spark --mode full --data-dir ./data --warehouse ./wh
    python -m python_etl_pipeline_spark --mode extract|transform|load ...
    python -m python_etl_pipeline_spark --mode schedule --interval-sec 3600
    python -m python_etl_pipeline_spark --mode health ...

``schedule`` is the reference's poll loop (main.py:411-419) with the
overlap lock made structural: one process, one pipeline, runs strictly
sequentially. For production cadence run ``Pipeline.run_full`` either
under ``--mode schedule`` or from an external scheduler calling
``--mode full``; both go through the same ingest log and layers.
"""

from __future__ import annotations

import argparse
import glob
import logging
import os
import time

from .pipeline import Pipeline
from .schemas import LOAD_ORDER


def discover_files(data_dir: str) -> dict[str, list[str]]:
    """Per-entity ``{entity}*.csv`` glob (src/extract.py:527-538)."""
    out: dict[str, list[str]] = {}
    for entity in LOAD_ORDER:
        paths = sorted(glob.glob(os.path.join(data_dir, f"{entity}*.csv")))
        if paths:
            out[entity] = paths
    return out


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="python_etl_pipeline_spark")
    p.add_argument(
        "--mode",
        choices=["full", "extract", "transform", "load", "schedule", "health"],
        default="full",
    )
    p.add_argument("--data-dir", default="data")
    p.add_argument("--warehouse", default="warehouse")
    p.add_argument("--interval-sec", type=int, default=3600,
                   help="schedule mode: seconds between runs "
                        "(--schedule-type interval)")
    p.add_argument("--max-runs", type=int, default=0,
                   help="schedule mode: stop after N runs (0 = forever)")
    p.add_argument("--schedule-type", default="interval",
                   choices=["interval", "daily", "twice-daily", "biweekly"],
                   help="schedule mode cadence: plain poll interval, or the "
                        "reference presets — daily at --run-time, twice-daily "
                        "(+12h offset slot), biweekly (Wed+Sun)")
    p.add_argument("--run-time", default="01:00",
                   help="HH:MM local time for the preset cadences")
    return p


def offset_12h(run_time: str) -> str:
    """The twice-daily second slot: ``run_time`` + 12 h, with the
    reference's exact fallback — an unparseable time yields '13:00'
    (main.py:364-370)."""
    from datetime import datetime, timedelta

    try:
        dt = datetime.strptime(run_time, "%H:%M")
    except ValueError:
        return "13:00"
    return (dt + timedelta(hours=12)).strftime("%H:%M")


def fire_times(schedule_type: str, run_time: str, after, n: int) -> list:
    """The next ``n`` firing datetimes STRICTLY after ``after`` for the
    reference's cadence presets (main.py:380-396): daily at run_time;
    twice-daily at run_time and its 12 h offset; biweekly on Wednesday
    AND Sunday at run_time. Pure function so the cadence is testable
    without sleeping."""
    from datetime import datetime, timedelta

    hh, mm = run_time.split(":")
    slots: list[tuple[int | None, int, int]] = []
    if schedule_type == "daily":
        slots = [(None, int(hh), int(mm))]
    elif schedule_type == "twice-daily":
        o = offset_12h(run_time)
        oh, om = o.split(":")
        slots = [(None, int(hh), int(mm)), (None, int(oh), int(om))]
    elif schedule_type == "biweekly":
        # Wednesday=2, Sunday=6 in Python weekday() numbering
        slots = [(2, int(hh), int(mm)), (6, int(hh), int(mm))]
    else:
        raise ValueError(f"no preset cadence: {schedule_type!r}")

    out: list[datetime] = []
    day = after.date()
    while len(out) < n:
        for wd, h, m in slots:
            if wd is not None and day.weekday() != wd:
                continue
            t = datetime(day.year, day.month, day.day, h, m)
            if t > after:
                out.append(t)
        day = day + timedelta(days=1)
    return sorted(out)[:n]


def validate_config(args: argparse.Namespace) -> None:
    """Validate CLI/session configuration BEFORE building a
    SparkSession — the Spark analog of the reference's
    ``validate_config()`` (config/config.py:241-260, called first by
    the health check, test.py:134-140): collect every problem into
    one actionable error instead of failing on the first connection
    attempt.

    Checks: the data directory (read modes), the warehouse root
    (exists-implies-directory; health mode requires it populated),
    scheduler arguments (interval, max-runs, HH:MM run time — int()
    parsing with range checks, NOT strict strptime, so the
    reference's '13:00' offset-fallback quirk for inputs like
    '001:00' stays reachable), and the session-sizing environment
    overrides ($SPARK_GRAFT_CPUS, $SPARK_DRIVER_MEMORY) that would
    otherwise fail deep inside JVM startup."""
    import re

    errors: list[str] = []

    if args.mode in ("full", "extract", "schedule"):
        if not os.path.isdir(args.data_dir):
            errors.append(
                f"data directory not found: {args.data_dir!r} "
                "(pass --data-dir pointing at the CSV staging area)"
            )
    if os.path.exists(args.warehouse) and not os.path.isdir(args.warehouse):
        errors.append(
            f"warehouse root {args.warehouse!r} exists but is not a "
            "directory"
        )
    if args.mode == "health" and not os.path.isdir(args.warehouse):
        errors.append(
            f"warehouse root not found: {args.warehouse!r} — nothing to "
            "health-check (run --mode full first, or pass --warehouse)"
        )

    if args.mode == "schedule":
        # 0 is legitimate (back-to-back bounded runs); negative is not
        if args.schedule_type == "interval" and args.interval_sec < 0:
            errors.append(
                f"--interval-sec must be >= 0, got {args.interval_sec}"
            )
        if args.max_runs < 0:
            errors.append(f"--max-runs must be >= 0, got {args.max_runs}")
        if args.schedule_type != "interval":
            parts = args.run_time.split(":")
            ok = (
                len(parts) == 2
                and all(p.strip().isdigit() for p in parts)
                and 0 <= int(parts[0]) <= 23
                and 0 <= int(parts[1]) <= 59
            )
            if not ok:
                errors.append(
                    f"--run-time must be HH:MM (00:00..23:59), got "
                    f"{args.run_time!r}"
                )

    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and not (cpus.isdigit() and int(cpus) >= 1):
        errors.append(
            f"$SPARK_GRAFT_CPUS must be a positive integer, got {cpus!r}"
        )
    mem = os.environ.get("SPARK_DRIVER_MEMORY")
    if mem and not re.fullmatch(r"\d+[kmgt]?", mem, re.IGNORECASE):
        errors.append(
            f"$SPARK_DRIVER_MEMORY must look like 4g/512m, got {mem!r}"
        )

    if errors:
        raise ValueError(f"Configuration errors: {'; '.join(errors)}")


def run(args: argparse.Namespace, spark=None) -> dict:
    from .session import get_spark

    logging.basicConfig(level=logging.INFO, format="%(asctime)s %(levelname)s %(message)s")
    validate_config(args)
    spark = spark or get_spark("spark-etl-cli")
    pipe = Pipeline(spark, args.warehouse)
    if args.mode == "full":
        return pipe.run_full(discover_files(args.data_dir))
    if args.mode == "extract":
        pipe.run_extract(discover_files(args.data_dir))
        return {"extracted": pipe.metrics.extracted}
    if args.mode == "transform":
        pipe.run_transform()
        return {"transformed": pipe.metrics.transformed}
    if args.mode == "load":
        pipe.run_load()
        return {"loaded": pipe.metrics.loaded,
                "reconciliation": pipe.metrics.reconciliation}
    if args.mode == "health":
        report: dict[str, dict[str, int]] = {}
        for layer in ("staging", "transformed", "production"):
            counts = {}
            for entity in LOAD_ORDER:
                if pipe.wh.exists(layer, entity):
                    counts[entity] = pipe.wh.row_count(layer, entity)
            report[layer] = counts
        return report
    # schedule: the reference's poll loop, sequential by construction,
    # with its cadence presets (daily / twice-daily / biweekly Wed+Sun,
    # main.py:372-396). Like the reference, the FIRST run fires
    # immediately regardless of cadence ("initial pipeline run",
    # main.py:399-404); subsequent runs wait for the preset's next slot
    # (or the plain interval).
    from datetime import datetime

    runs = 0
    results = []
    while True:
        results.append(pipe.run_full(discover_files(args.data_dir)))
        runs += 1
        if args.max_runs and runs >= args.max_runs:
            return {"runs": runs, "last": results[-1]}
        if args.schedule_type == "interval":
            time.sleep(args.interval_sec)
        else:
            nxt = fire_times(
                args.schedule_type, args.run_time, datetime.now(), 1
            )[0]
            time.sleep(max((nxt - datetime.now()).total_seconds(), 0))


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    print(run(args))


if __name__ == "__main__":
    main()
