"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime re-planning, skew-join handling, partition coalescing),
shuffle partitions sized to cores rather than the 200 default, Arrow on
for the few pandas-UDF paths, UTC session timezone so timestamp
semantics match the UTC-naive parquet testdata and the DuckDB oracle.

At 100 TB these same knobs scale: AQE coalesces the post-shuffle
partition count to data volume, `spark.sql.files.maxPartitionBytes`
keeps scan tasks bounded, and adaptive skew-join splits hot keys.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "spark-etl-engine", *, cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores.
    """
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", 0) or 0)
    master = f"local[{n}]" if n else "local[*]"
    # Shuffle partitions TRACK the session's core count instead of a
    # hard-coded 32 (r15 optimization, guide §2.2/§6): the driver also
    # benches at lower core counts, where 32 partitions of tiny local
    # data are pure task-scheduling overhead. On a real cluster this
    # knob is sized to data volume (100 MB - 1 GB per partition) via
    # SPARK_GRAFT_SHUFFLE_PARTITIONS; AQE coalescing then adapts each
    # exchange downward at runtime either way. Partition count never
    # changes query RESULTS (every oracle hash is order-insensitive
    # and no data path keys on partition ids).
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or str(
        n or os.cpu_count() or 32
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash join when its size checks
        # pass instead of always preferring sort-merge (guide §3.1):
        # same results by construction, skips both sort passes. Env
        # knob so the A/B is reproducible; default measured below.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "true"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet may store TIMESTAMP(NANOS), which Spark reads
        # only as a long under this conf (queries._t converts it); set at
        # build time, so the query path never touches the session conf
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
