"""Sketch aggregates: assert accuracy bounds against exact values
(no cross-engine oracle exists for HLL++/KLL internals)."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_etl_pipeline_spark.queries import x6_approx_stats


def test_approx_stats_accuracy(spark, sf_dir):
    """x6 emits the sketch accuracy contract in-plan (round 6): every
    per-group bound must hold, and the exact distinct counts must match
    an independently computed exact aggregation."""
    rows = {r["l_returnflag"]: r for r in x6_approx_stats(spark, sf_dir).collect()}
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in l.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    assert rows.keys() == exact.keys()
    for flag, a in rows.items():
        assert a["exact_orders"] == exact[flag]
        assert a["distinct_within_5pct"]
        assert a["median_within_1pct"]
        assert a["p99_within_2pct"]
