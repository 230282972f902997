"""Benchmark self-tests: every metric is emitted with its unit, and a
corrupted output is counted as a failure.

    python3 -m pytest perfbench/tests -q

Each smoke run starts its own Spark session (about a minute each);
never run these next to another Spark workload.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import run as bench  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_spec_matches_emitted_names():
    assert [w["name"] for w in SPEC["workloads"]] == bench.WORKLOADS
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == {
        **bench.PER_LAYER, **bench._per_query_units()}


@pytest.mark.parametrize("workload", bench.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_emits_every_metric(workload, trace):
    r = _run(workload, trace)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in r["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    assert all(isinstance(v["value"], float) for v in r["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in r["metrics"].values())


def test_hd_median():
    from perfbench.measure import hd_median

    assert hd_median([]) == 0.0
    assert hd_median([2.5]) == pytest.approx(2.5)
    assert hd_median([1.0, 3.0]) == pytest.approx(2.0)
    assert hd_median(range(101)) == pytest.approx(50.0)
    # the weights sum to one and favour the middle: unlike the plain
    # median, one sample moving near the middle moves the estimate a little
    a, b = hd_median([1, 2, 3, 4, 10]), hd_median([1, 2, 3.2, 4, 10])
    assert 3.0 < a < 4.0 and 0 < b - a < 0.2


def test_missing_package_exits_nonzero(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "query_mix", "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60,
                       env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert p.returncode != 0 and p.stdout == ""


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from python_etl_pipeline_spark.session import get_spark

    bench._env(tmp_path_factory.mktemp("work"))
    s = get_spark("perfbench-tests", cpus=2)
    yield s
    bench._stop(s)


def test_dropped_production_row_fails_the_count_check(spark, tmp_path):
    from perfbench.daily import DailyIncrements

    wl = DailyIncrements(spark, tmp_path, seed=3)
    wl.setup()
    assert wl.check() == []
    victim = next((tmp_path / "warehouse" / "production" / "customers").rglob("*.parquet"))
    t = pq.read_table(victim)
    pq.write_table(t.slice(1), victim)
    fails = wl.check()
    assert len(fails) == 1 and "production.customers" in fails[0]


def test_wrong_query_result_fails_the_oracle_check(spark, tmp_path, monkeypatch):
    from python_etl_pipeline_spark.queries import REGISTRY

    from perfbench.query_mix import QueryMix

    spec = REGISTRY["a0_pricing_summary"]
    orig = spec.spark
    monkeypatch.setattr(spec, "spark", lambda s, d: orig(s, d).limit(1))
    wl = QueryMix(spark, tmp_path, seed=3)
    wl.setup()
    fails = wl.check()
    assert len(fails) == 1 and fails[0].startswith("a0_pricing_summary")
