"""Shared registry infrastructure for the query package.

Everything the former single-file queries.py defined before its
first registered query: imports, QuerySpec, REGISTRY, register,
the _t table reader and the AS_OF constant — plus the mid-file
imports the flat module accumulated, hoisted here so every
family module sees one import surface. All submodules
import * from here (underscore aliases explicitly).
"""
from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import (
    safe_val,
    safe_num,
    safe_date,
    numeric_id,
    normalize_null_sentinels,
    calc_age,
    tenure_days,
    duration_months,
    customer_segment,
    risk_category,
    transaction_category,
    gender_norm,
    fraud_flag,
    region_map,
)
from ..llm.text import let_
from ..operators import (
    dedup_keep_first,
    dedup_keep_last,
    split_new_vs_existing,
    fk_join,
    range_join,
    pk_filter,
)
from ..operators.sequence import with_global_sequence
from ..plans import upsert_last_writer_wins, incremental_append_watermark

AS_OF = "2026-01-01"  # fixed reference date for age/tenure determinism


@dataclass
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None => non-SQL-expressible; driver does rows-only check


# Query -> the round it was first registered. A query cannot carry a
# driver CORRECTNESS row from before it existed, so the staleness gate
# (tests/test_gate_policy.py) anchors a never-gated query's clock at
# ``first_round - 1``: it becomes overdue HORIZON rounds after
# registration, not retroactively on the round it lands. Only queries
# registered AFTER their round's 50-slot gate was frozen appear here —
# everything older either holds a driver row or was rotated by the
# standing policy.
_FIRST_ROUND: dict[str, int] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # an events.parquet with TIMESTAMP(NANOS) reads as a long under
        # spark.sql.legacy.parquet.nanosAsLong (set by session.get_spark):
        # convert it (micro precision). Microsecond files read as-is.
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            # integer DIV, not `/`: double division of ~1e18 nanos loses
            # sub-microsecond precision (53-bit mantissa) and shifts
            # timestamps by up to ~100 ns after the cast.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: str | None, first_round: int | None = None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(spark=fn, sql=sql)
        if first_round is not None:
            _FIRST_ROUND[name] = first_round
        return fn

    return deco

# --- imports hoisted from the flat module's body ---
from ..operators.sampling import hash_bucket_sql as _hb_sql  # noqa: E402
from ..operators.sampling import (  # noqa: E402  (needs hash helpers above)
    hash_bucket_sql,
    stratified_hash_sample,
    train_val_test_split,
)
# HyperLogLog geometry (Flajolet et al. 2007) — single source of truth
# in llm/sketch.py, shared by the hh4 oracle builder, the Spark-side
# helpers, and the streaming register sink.
from ..llm.sketch import HLL_M as _HH4_M  # noqa: E402
from ..llm.sketch import HLL_NUM as _HH4_NUM  # noqa: E402
from ..llm.sketch import HLL_W as _HH4_W  # noqa: E402
