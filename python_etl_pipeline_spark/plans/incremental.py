"""Incremental append + reconciliation (SURVEY.md §2.9 I3/I4).

The reference's count-offset heuristic (``LIMIT new OFFSET existing``,
src/load.py:124-205) assumes dense positional ordering — fragile and
unscalable. The engine replaces it with the two strictly-more-correct
forms:

* high-watermark filter: ``incoming.where(seq > watermark)`` — pushes
  down to the scan, no shuffle at all;
* anti-join on PK: exact, one shuffle (broadcast when the target key set
  is small).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def incremental_append_watermark(
    incoming: DataFrame, seq_col: str, watermark
) -> DataFrame:
    """I3 (watermark form): rows strictly past the high watermark.

    ``watermark`` may be a literal or a Column; the predicate is pushed
    into the parquet scan (verify via ``PushedFilters`` in explain).
    """
    wm = watermark if isinstance(watermark, Column) else F.lit(watermark)
    return incoming.filter(F.col(seq_col) > wm)


def incremental_append_antijoin(
    incoming: DataFrame, target: DataFrame, pk: str
) -> DataFrame:
    """I3 (exact form): incoming rows whose PK is absent from the target."""
    return incoming.join(target.select(pk).distinct(), pk, "left_anti")


def reconcile_counts(source_count: int, target_count: int) -> dict:
    """I4: row-count reconciliation report (src/load.py:317-360)."""
    return {
        "source_count": source_count,
        "target_count": target_count,
        "synced": source_count == target_count,
        "difference": source_count - target_count,
    }


def merge_agg_state(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
    count_col: str = "n_rows",
    sum_cols: list[str] | None = None,
) -> DataFrame:
    """Incremental aggregate maintenance: fold a delta batch's partial
    aggregates into a persisted per-key aggregate state.

    Counts and sums are commutative monoids, so the merged state equals
    a full recompute (the oracle property) while touching only
    |state| + |delta| rows — at 100 TB this is the difference between
    re-aggregating the whole fact table per batch and a groupBy over the
    (key-cardinality-sized) state plus the new batch. Both inputs must
    already carry ``count_col`` / ``sum_cols`` (i.e. be aggregate-shaped:
    build the delta's partials with the same groupBy that built the
    state).
    """
    sum_cols = sum_cols or []
    merged = state.select(*keys, count_col, *sum_cols).unionByName(
        delta.select(*keys, count_col, *sum_cols)
    )
    aggs = [F.sum(count_col).cast("bigint").alias(count_col)] + [
        F.sum(c).alias(c) for c in sum_cols
    ]
    return merged.groupBy(*keys).agg(*aggs)


def cdc_signed_partials(
    changes: DataFrame,
    keys: list[str],
    op_col: str = "op",
    old_col: str = "old_val",
    new_col: str = "new_val",
    count_col: str = "n_rows",
    sum_col: str = "sum_val",
) -> DataFrame:
    """Turn a before/after-image CDC feed into SIGNED aggregate partials
    — the retraction algebra (Flink's retract streams, DBSP's Z-sets)
    that lets one sum-monoid fold maintain an aggregate under deletes
    and updates, not just inserts:

    * I: (+1, +new)  — the row arrives;
    * D: (-1, -old)  — the row's past contribution is retracted;
    * U: ( 0, new - old) — membership unchanged, value moves.

    The feed must carry before images (``old_col`` non-null for U/D) —
    the standard Debezium/CDC envelope. A group-key change arrives as
    D+I, which this algebra already handles. The output is
    aggregate-shaped, so it folds into a stored MV state with
    :func:`merge_agg_state` unchanged: signed partials under sum are
    still a commutative monoid, which is the whole trick — deletes cost
    exactly what inserts cost, one |changes|-sized agg, never a rescan
    of history. Keys whose count reaches zero are retained as (0, 0)
    rows by the fold; callers drop them with ``filter(n_rows > 0)``
    (the MV row genuinely no longer exists)."""
    op = F.col(op_col)
    signed_n = (
        F.when(op == "I", F.lit(1)).when(op == "D", F.lit(-1)).otherwise(F.lit(0))
    )
    signed_v = (
        F.when(op == "I", F.col(new_col))
        .when(op == "D", -F.col(old_col))
        .otherwise(F.col(new_col) - F.col(old_col))
    )
    return (
        changes.select(*keys, signed_n.alias(count_col), signed_v.alias(sum_col))
        .groupBy(*keys)
        .agg(
            F.sum(count_col).cast("bigint").alias(count_col),
            F.sum(sum_col).alias(sum_col),
        )
    )


def point_in_time_join(
    facts: DataFrame,
    history: DataFrame,
    key: str,
    version_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Point-in-time (AS-OF) join of a fact feed against an SCD2
    dimension history: each fact row matches the dimension version
    whose ``[valid_from, valid_to)`` interval contains the fact's
    version stamp (open intervals carry NULL ``valid_to``). This is the
    temporal-correctness join a feature store runs to avoid
    training-serving leakage — joining today's dimension row onto last
    year's fact silently teaches the model the future.

    Plan shape: an equi-join on ``key`` with the interval predicate as
    a join residual — Catalyst keys the shuffle (or broadcast) on the
    equality alone and evaluates the range condition inside the join,
    so the cost is exactly one keyed join regardless of history depth;
    SCD2 intervals per key are disjoint, so each fact matches at most
    one version (facts dated before the key existed drop out, which is
    the correct point-in-time answer, not a bug)."""
    h = history.select(
        F.col(key).alias("__pit_key"),
        F.col(valid_from).alias("__pit_from"),
        F.col(valid_to).alias("__pit_to"),
        *[c for c in history.columns if c not in (key, valid_from, valid_to)],
    )
    v = facts[version_col]
    cond = (
        (facts[key] == h["__pit_key"])
        & (h["__pit_from"] <= v)
        & (h["__pit_to"].isNull() | (v < h["__pit_to"]))
    )
    return facts.join(h, cond, "inner").drop("__pit_key", "__pit_from", "__pit_to")
