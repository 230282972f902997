"""Output checks, computed independently of the Spark code they check.

Each check returns a list of failure messages; an empty list passes.
Every failure counts once toward the run's ``failed`` total.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import duckdb

from .gen_banking import HEADERS, STAGING_NULLS, staged_value

PKS = {e: cols[0] for e, cols in HEADERS.items()}


def _sql_list(values) -> str:
    return ", ".join("'" + v.replace("'", "''") + "'" for v in values)


def _parquet_glob(root: Path, layer: str, entity: str) -> str:
    return str(root / layer / entity / "**" / "*.parquet")


def production_counts(wh_root: str | Path, csv_files: list[Path]) -> list[str]:
    """Each entity's production row count equals DuckDB's count of
    distinct valid PKs over every CSV delivered so far."""
    root, con, fails = Path(wh_root), duckdb.connect(), []
    for entity, pk in PKS.items():
        files = sorted(str(f) for f in csv_files if f.name.startswith(f"{entity}_"))
        if not files:
            continue
        want = con.execute(
            f"SELECT count(DISTINCT {pk}) FROM read_csv({files!r}, header=true, "
            f"all_varchar=true) WHERE {pk} IS NOT NULL "
            f"AND trim({pk}) NOT IN ({_sql_list(STAGING_NULLS)})"
        ).fetchone()[0]
        got = con.execute(
            f"SELECT count(*) FROM read_parquet('{_parquet_glob(root, 'production', entity)}')"
        ).fetchone()[0]
        if got != want:
            fails.append(f"production.{entity}: {got} rows, {want} distinct valid PKs delivered")
    return fails


def staging_last_writer(wh_root: str | Path, latest: dict, keys: dict) -> list[str]:
    """Every re-delivered key holds its last-delivered values in staging."""
    root, con, fails = Path(wh_root), duckdb.connect(), []
    for entity, pks in keys.items():
        if not pks:
            continue
        cols, pk = HEADERS[entity], PKS[entity]
        rows = con.execute(
            f"SELECT {', '.join(cols)} FROM read_parquet("
            f"'{_parquet_glob(root, 'staging', entity)}', hive_partitioning=false) "
            f"WHERE {pk} IN ({_sql_list(pks)})"
        ).fetchall()
        got = {r[0]: list(r) for r in rows}
        bad = [k for k in pks if got.get(k) != [staged_value(v) for v in latest[entity][k]]]
        if bad:
            fails.append(f"staging.{entity}: {len(bad)} of {len(pks)} re-delivered keys "
                         f"do not hold their last-delivered values, e.g. {bad[0]}")
    return fails


def query_oracles(spark, names: list[str], data_dir: str | Path, threads: int) -> list[str]:
    """Run each query once on Spark and once as its DuckDB oracle and
    compare with the repository's parity rule, ``threads`` queries at a
    time."""
    from python_etl_pipeline_spark.queries import REGISTRY
    from tools.parity import compare

    con = duckdb.connect()
    for t in sorted(p.stem for p in Path(data_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{Path(data_dir) / t}.parquet'")

    def check(name: str) -> str | None:
        spec = REGISTRY[name]
        try:
            # a cursor per call: a DuckDB connection is not shared between threads
            ok, msg = compare(name, spec.spark(spark, str(data_dir)),
                              con.cursor().execute(spec.sql).fetchdf())
        except Exception as e:  # a query that raises fails its check; the run goes on
            ok, msg = False, f"{type(e).__name__}: {e}"
        return None if ok else f"{name}: {msg}"

    with ThreadPoolExecutor(threads) as pool:
        return [f for f in pool.map(check, names) if f]
