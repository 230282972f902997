"""Catalog-side sinks: DDL from schema (K5), bucketed tables with
exchange-free joins (K6), health check (M4), partitioned JDBC reader
config (S5)."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from python_etl_pipeline_spark.schemas import staging_schema
from python_etl_pipeline_spark.sources.warehouse import (
    create_table_from_schema,
    write_bucketed,
    health_check,
)
from python_etl_pipeline_spark.sources.jdbc import jdbc_reader_partitioned


def test_create_table_from_schema_and_health(spark):
    # pid-unique db: concurrent gate processes share ./spark-warehouse,
    # and a failed run must not leave a name the next run trips over
    import os

    db = f"staging_t_{os.getpid()}"
    try:
        create_table_from_schema(spark, db, "branches", staging_schema("branches"))
        cols = spark.table(f"{db}.branches").columns
        assert cols == ["branch_id", "branch_name", "city", "state", "manager_name"]
        hc = health_check(spark, db)
        assert hc == {"branches": 0}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {db}.branches")
        spark.sql(f"DROP DATABASE IF EXISTS {db}")


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    import os

    db = f"bkt_{os.getpid()}"
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    try:
        write_bucketed(orders, db, "orders_a", 8, "o_custkey")
        write_bucketed(
            orders.select("o_orderkey", "o_custkey", "o_totalprice"),
            db, "orders_b", 8, "o_custkey",
        )
        a = spark.table(f"{db}.orders_a")
        b = spark.table(f"{db}.orders_b").withColumnRenamed("o_orderkey", "b_key")
        joined = a.join(b.drop("o_totalprice"), "o_custkey")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain()
        plan = buf.getvalue()
        # bucketed co-located join: no shuffle exchange anywhere in the plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {db}.orders_a")
        spark.sql(f"DROP TABLE IF EXISTS {db}.orders_b")
        spark.sql(f"DROP DATABASE IF EXISTS {db}")


def test_jdbc_reader_config_builds(spark):
    reader = jdbc_reader_partitioned(
        spark, "jdbc:postgresql://host/db", "transactions",
        "transaction_id", 0, 1_000_000, num_partitions=16,
    )
    # configured without .load(): no Postgres driver jar in this env
    assert reader is not None


def test_jdbc_derby_roundtrip_partitioned(spark, tmp_path):
    """S5 end-to-end: write via JDBC to embedded Derby (driver ships in
    Spark's own jars), read back range-partitioned, values lossless and
    the read genuinely splits into num_partitions tasks."""
    from pyspark.sql import functions as F

    from python_etl_pipeline_spark.sources.jdbc import (
        DERBY_DRIVER,
        derby_url,
        jdbc_write,
    )

    props = {"driver": DERBY_DRIVER}
    url = derby_url(f"{tmp_path}/db")
    src = spark.range(0, 1000).withColumn(
        "val", (F.col("id") * 7 % 13).cast("long")
    )
    jdbc_write(src, url, "T", properties=props)
    back = jdbc_reader_partitioned(
        spark, url, "T", "id", 0, 1000, num_partitions=4, properties=props
    ).load()
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 1000
    assert (
        back.withColumn("expect", (F.col("id") * 7 % 13).cast("long"))
        .filter(F.col("val") != F.col("expect"))
        .count()
        == 0
    )


def test_compact_small_files(spark, tmp_path):
    """Compaction collapses an append-accumulated file pile into few
    size-targeted files, atomically, without changing the data."""
    from python_etl_pipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    for batch in range(6):
        wh.append(
            spark.range(batch * 100, (batch + 1) * 100).repartition(4),
            "production", "t",
        )
    before = spark.read.parquet(wh.path("production", "t"))
    n_before, sum_before = before.count(), before.agg({"id": "sum"}).first()[0]
    stats = wh.compact("production", "t", target_file_bytes=64 << 20)
    assert stats["files_before"] >= 24
    assert stats["files_after"] == 1
    after = spark.read.parquet(wh.path("production", "t"))
    assert after.count() == n_before
    assert after.agg({"id": "sum"}).first()[0] == sum_before


def test_compact_preserves_partition_layout(spark, tmp_path):
    """Compacting a partitioned table must keep the directory layout
    (partition pruning depends on it) and still collapse the per-append
    file pile to one file per partition."""
    from python_etl_pipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    for batch in range(4):
        df = spark.createDataFrame(
            [(y, batch * 10 + i) for y in (2020, 2021) for i in range(3)],
            ["year", "v"],
        ).repartition(2)
        wh.append(df, "production", "t", partition_by=["year"])
    before = spark.read.parquet(wh.path("production", "t"))
    n_before, sum_before = before.count(), before.agg({"v": "sum"}).first()[0]

    stats = wh.compact("production", "t", partition_by=["year"])
    assert stats["files_before"] > stats["files_after"]

    import os

    root = wh.path("production", "t")
    assert sorted(
        d for d in os.listdir(root) if d.startswith("year=")
    ) == ["year=2020", "year=2021"]
    after = spark.read.parquet(root)
    assert after.count() == n_before
    assert after.agg({"v": "sum"}).first()[0] == sum_before
    # partition pruning still works against the compacted layout
    pruned = after.filter(F.col("year") == 2021)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(year" in plan


def test_compact_keeps_null_partition_rows(spark, tmp_path):
    """Compacting a partitioned table must not lose rows whose partition
    key is NULL (the __HIVE_DEFAULT_PARTITION__ directory). This is
    reachable in the reference pipeline: transaction_year comes from
    safe_date(), which yields NULL for dirty dates, so dirty-date rows
    all land in the null partition. A plain equi-join on the partition
    columns drops them (null != null) and the atomic swap would then
    delete them permanently."""
    from python_etl_pipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(2020, 1), (2020, 2), (None, 7), (None, 8), (2021, 3)],
        "year int, v int",
    )
    wh.append(df, "production", "t", partition_by=["year"])
    before = spark.read.parquet(wh.path("production", "t"))
    n_before, sum_before = before.count(), before.agg({"v": "sum"}).first()[0]
    assert n_before == 5

    wh.compact("production", "t", partition_by=["year"])
    after = spark.read.parquet(wh.path("production", "t"))
    assert after.count() == n_before
    assert after.agg({"v": "sum"}).first()[0] == sum_before
    assert after.filter(F.col("year").isNull()).count() == 2


def test_overwrite_partitions_touches_only_present_partitions(spark, tmp_path):
    """Dynamic partition overwrite: a one-partition backfill must
    replace only that partition — static mode truncates the whole
    table, turning a daily reload into a 100 TB rewrite."""
    from python_etl_pipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(2020, 1), (2020, 2), (2021, 10), (2022, 100)], ["year", "v"]
    )
    wh.overwrite(base, "production", "t", partition_by=["year"])

    fix = spark.createDataFrame([(2021, 99), (2021, 98)], ["year", "v"])
    wh.overwrite_partitions(fix, "production", "t", partition_by=["year"])

    after = {
        (r["year"], r["v"])
        for r in spark.read.parquet(wh.path("production", "t")).collect()
    }
    # 2020/2022 untouched; 2021 fully replaced (old v=10 gone)
    assert after == {(2020, 1), (2020, 2), (2021, 99), (2021, 98), (2022, 100)}
    # session default restored: plain overwrite stays static
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper() == "STATIC"


def test_overwrite_partitions_never_flips_session_mode(spark, tmp_path, monkeypatch):
    """The pipeline's extract and transform thread pools call
    overwrite_partitions concurrently, so the dynamic mode must be a
    per-write option: the session-global mode stays STATIC before,
    during and after the write (a racing set/restore could otherwise
    run another thread's overwrite STATIC and truncate its table), and
    only the partitions present in the frame are replaced."""
    from python_etl_pipeline_spark.sources.warehouse import Warehouse

    key = "spark.sql.sources.partitionOverwriteMode"
    wh = Warehouse(spark, str(tmp_path))
    wh.overwrite(
        spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "b long, v string"),
        "staging", "t", partition_by=["b"],
    )
    fix = spark.createDataFrame([(1, "B"), (1, "B2")], "b long, v string")

    conf_sets: list[str] = []
    seen_during: list[str] = []
    conf_cls, writer_cls = type(spark.conf), type(fix.write)
    orig_set, orig_parquet = conf_cls.set, writer_cls.parquet

    def spy_set(self, k, v):
        conf_sets.append(k)
        return orig_set(self, k, v)

    def spy_parquet(self, *a, **k):
        seen_during.append(spark.conf.get(key).upper())
        return orig_parquet(self, *a, **k)

    assert spark.conf.get(key).upper() == "STATIC"
    monkeypatch.setattr(conf_cls, "set", spy_set)
    monkeypatch.setattr(writer_cls, "parquet", spy_parquet)
    wh.overwrite_partitions(fix, "staging", "t", ["b"])
    monkeypatch.undo()

    assert key not in conf_sets
    assert seen_during == ["STATIC"]
    assert spark.conf.get(key).upper() == "STATIC"
    after = sorted(tuple(r) for r in wh.read("staging", "t").select("b", "v").collect())
    assert after == [(0, "a"), (1, "B"), (1, "B2"), (2, "c")]


def test_compact_partitioned_splits_skewed_partition(spark, tmp_path):
    """The partitioned compact path honors target_file_bytes per
    DIRECTORY: a partition ~N times the target splits into ~N files,
    a tiny partition stays at one — not one file per directory
    regardless of size."""
    from python_etl_pipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    big = spark.range(0, 200_000).select(
        F.lit("big").alias("part"), F.col("id").alias("v"),
        F.md5(F.col("id").cast("string")).alias("pad"),
    )
    small = spark.range(0, 10).select(
        F.lit("small").alias("part"), F.col("id").alias("v"),
        F.md5(F.col("id").cast("string")).alias("pad"),
    )
    wh.append(big.unionAll(small), "production", "t", partition_by=["part"])
    total = spark.read.parquet(wh.path("production", "t")).count()

    # target ~1/4 of the big partition's bytes -> >= 3 files for it
    import os

    root = wh.path("production", "t")
    table_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(root) for f in fs if not f.startswith("_")
    )
    wh.compact("production", "t", target_file_bytes=table_bytes // 4,
               partition_by=["part"])

    def files_in(d):
        return [f for f in os.listdir(os.path.join(root, d))
                if f.endswith(".parquet")]

    assert len(files_in("part=big")) >= 3
    assert len(files_in("part=small")) == 1
    after = spark.read.parquet(root)
    assert after.count() == total


def test_append_schema_evolution_merge_read(spark, tmp_path):
    """A daily append that gained a column must stay readable: with
    merge_schema the union schema comes back and pre-evolution rows
    surface the new column as NULL; the default read stays cheap (no
    footer sweep) and keeps serving the original schema."""
    from python_etl_pipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    wh.append(spark.createDataFrame([(1, "a")], "id int, v string"),
              "production", "t")
    wh.append(
        spark.createDataFrame(
            [(2, "b", 0.5)], "id int, v string, score double"
        ),
        "production", "t",
    )
    merged = wh.read("production", "t", merge_schema=True)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None
    assert rows[2]["score"] == 0.5


def test_write_bucketed_over_external_table_keeps_backing_data(spark, tmp_path):
    """Overwriting a name bound to an EXTERNAL table must replace the
    catalog entry without deleting the external directory — it may be
    a shared dataset other jobs read (DROP TABLE's own contract)."""
    from pyspark.sql import functions as F

    from python_etl_pipeline_spark.sources.warehouse import write_bucketed

    import os

    db = f"extdb_{os.getpid()}"
    ext = tmp_path / "shared_dataset"
    spark.range(5).withColumn("k", F.col("id") % 2).write.parquet(str(ext))
    try:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        spark.sql(
            f"CREATE TABLE {db}.shared (id BIGINT, k BIGINT) USING parquet "
            f"LOCATION '{ext}'"
        )
        df = spark.range(3).withColumn("k", F.col("id"))
        write_bucketed(df, db, "shared", 4, "k")
        # the name now serves the new bucketed data...
        assert spark.table(f"{db}.shared").count() == 3
        # ...and the external directory's files survived untouched
        assert spark.read.parquet(str(ext)).count() == 5
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {db}.shared")
        spark.sql(f"DROP DATABASE IF EXISTS {db}")
