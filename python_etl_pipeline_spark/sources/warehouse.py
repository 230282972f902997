"""Three-layer parquet warehouse (SURVEY.md §1.4).

staging -> transformed -> production directories, replacing the
reference's three databases (MySQL stagging/transformed + PostgreSQL
bank_production). The pipeline writes each layer through one sink:
staging and transformed through ``overwrite_partitions`` on their
PK-range buckets, production through an unpartitioned ``append``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

LAYERS = ("staging", "transformed", "production")


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the Hadoop FS API:
    scheme-agnostic (local, HDFS, object stores) driver-side metadata IO
    that runs no Spark job."""
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()), p


def hidden(name: str) -> bool:
    """True for a file or directory name that Spark's file listing skips:
    a leading ``.`` (``.spark-staging-*``, checksum files), or a leading
    ``_`` without ``=`` (``_temporary``, ``_SUCCESS``; a partition
    directory such as ``__pk_bucket_1000000=0`` is listed)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, layer: str, table: str) -> str:
        assert layer in LAYERS, layer
        return f"{self.root}/{layer}/{table}"

    def read(
        self, layer: str, table: str, merge_schema: bool = False,
        schema: T.StructType | None = None,
    ) -> DataFrame:
        """``merge_schema=True`` reconciles files written under evolved
        schemas (a daily append that gained a column): the union schema
        is read, pre-evolution rows surface the new column as NULL.
        Off by default — schema merging footer-scans every file, a real
        cost on a 100 TB table, and the common case is a stable schema
        enforced by the pipeline's validated projections (P1).

        ``schema`` pins the read schema, so no Spark job infers it from
        the files. Partition columns it does not name are still
        discovered from the directory names and appended."""
        r = self.spark.read
        if merge_schema:
            r = r.option("mergeSchema", "true")
        if schema is not None:
            r = r.schema(schema)
        return r.parquet(self.path(layer, table))

    def row_count(self, layer: str, table: str) -> int:
        """Rows in ``layer.table``, summed from the Parquet footers of its
        data files on the driver: no Spark job. Skips what Spark's
        listing skips (:func:`hidden`), so a leftover ``.spark-staging-*``
        or ``_temporary`` directory is not counted."""
        sc = self.spark.sparkContext
        conf = sc._jsc.hadoopConfiguration()
        parquet = sc._jvm.org.apache.parquet.hadoop
        fs, root = hadoop_fs(self.spark, self.path(layer, table))
        n, dirs = 0, [root]
        while dirs:
            for st in fs.listStatus(dirs.pop()):
                if hidden(st.getPath().getName()):
                    continue
                if st.isDirectory():
                    dirs.append(st.getPath())
                    continue
                reader = parquet.ParquetFileReader.open(
                    parquet.util.HadoopInputFile.fromStatus(st, conf)
                )
                try:
                    n += reader.getRecordCount()
                finally:
                    reader.close()
        return n

    def exists(self, layer: str, table: str) -> bool:
        """Filesystem probe via the Hadoop FS API (scheme-agnostic: local,
        HDFS, object stores). Callers use this instead of catching read
        exceptions — a corrupt table then fails loudly instead of being
        silently treated as "first run"."""
        fs, p = hadoop_fs(self.spark, self.path(layer, table))
        return bool(fs.exists(p))

    def qualified_uri(self, path: str) -> str:
        """Fully-qualified URI for ``path`` exactly as Spark's
        ``input_file_name()`` reports it. input_file_name returns the
        URL-ENCODED ``toUri().toString()`` form (``file:///a%20b``);
        Hadoop ``Path.toString()`` renders ``file:/a b`` — comparing
        against the latter silently matches NOTHING, which let the
        cross-file keep-last rank fall back to monotonic-id enumeration
        order (correct only by local-mode accident) and zeroed every
        observed per-file record count."""
        fs, p = hadoop_fs(self.spark, path)
        return fs.makeQualified(p).toUri().toString()

    def overwrite(self, df: DataFrame, layer: str, table: str,
                  partition_by: list[str] | None = None) -> None:
        """Whole-table snapshot rewrite (K1/K2). The pipeline's upsert
        sink is :meth:`overwrite_partitions`, which rewrites only the
        buckets a batch touches."""
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(layer, table))

    def append(self, df: DataFrame, layer: str, table: str,
               partition_by: list[str] | None = None) -> None:
        """Append-only sink (K3, src/load.py:207-255)."""
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(layer, table))

    def overwrite_partitions(self, df: DataFrame, layer: str, table: str,
                             partition_by: list[str]) -> None:
        """Dynamic partition overwrite: replace ONLY the partitions
        present in ``df``, leave every other partition untouched — the
        incremental-refresh sink (reload one day/source without
        rewriting the table). Static overwrite mode would truncate the
        whole table first; at 100 TB that turns a one-partition backfill
        into a full rewrite. The mode is a per-write option, never a
        session conf flip: the pipeline's extract and transform thread
        pools write concurrently, and a racing set/restore of the
        session-global mode could run another thread's overwrite STATIC
        and truncate its table to the batch's partitions."""
        (df.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(*partition_by)
         .parquet(self.path(layer, table)))

    def export_csv(self, df: DataFrame, out_dir: str) -> None:
        """K4: CSV export with NULL -> 'NA' (src/transform.py:493-515)."""
        df.na.fill("NA").write.mode("overwrite").option("header", True).csv(out_dir)

    def compact(
        self,
        layer: str,
        table: str,
        target_file_bytes: int = 128 << 20,
        partition_by: list[str] | None = None,
    ) -> dict[str, int]:
        """Rewrite a table directory into ~``target_file_bytes`` files.

        Small-file management is the tax every incremental-append sink
        pays: each micro-batch/daily delta adds files, and a year of
        appends turns a 100 TB table into millions of KB-sized parquet
        files whose open/footer cost dominates scan time. Compaction
        reads the current snapshot, coalesces to
        ceil(bytes / target_file_bytes) output files, writes to a
        side directory, and atomically swaps via FileSystem rename —
        readers see the old or the new layout, never a partial one.
        (Table formats make this a metadata-only OPTIMIZE; this is the
        plain-parquet form.) Returns {files_before, files_after}.

        For a partitioned table pass ``partition_by``: the rewrite then
        preserves the directory layout (omitting it on a partitioned
        table would flatten the partition columns into the data files
        and destroy pruning) and still honors ``target_file_bytes``
        per DIRECTORY: each partition gets
        ceil(partition_bytes / target_file_bytes) files, estimated from
        per-partition row counts x the table's mean row width (one tiny
        agg — no extra data shuffle). Rows are salted with a
        deterministic hash of the whole row into that many buckets and
        the write repartitions on (partition keys, salt), so a skewed
        10 GB partition becomes ~80 x 128 MB files while tiny partitions
        stay at one file each. (A non-deterministic salt — rand() — is
        unsafe under task retry with repartition: a re-executed stage
        could re-salt rows mid-write.) files_before/after count files
        recursively across partition directories.
        """
        import math

        from pyspark.sql import functions as F

        fs, cur = hadoop_fs(self.spark, self.path(layer, table))
        summary = fs.getContentSummary(cur)
        total_bytes = summary.getLength()

        def _count_files(p) -> int:
            n = 0
            for f in fs.listStatus(p):
                if f.isFile():
                    n += 0 if f.getPath().getName().startswith("_") else 1
                else:
                    n += _count_files(f.getPath())
            return n

        files_before = _count_files(cur)
        n_files = max(1, math.ceil(total_bytes / target_file_bytes))
        tmp = cur.suffix("__compact_tmp")
        df = self.read(layer, table)
        if partition_by:
            # Per-directory file budget: rows_p * (total_bytes / total_rows)
            # estimates partition bytes (exact per-dir byte listing would
            # work too but couples this to the physical layout; the row
            # estimate is layout-independent and one keyed agg). The agg
            # output is one row per partition directory — broadcast.
            sizes = df.groupBy(*partition_by).agg(F.count("*").alias("__rows"))
            # total row count as a 1-row broadcast scalar (a windowed
            # total over the tiny sizes frame would plan an
            # unpartitioned WindowExec and trip Spark's single-partition
            # alarm for what is a per-directory metadata frame)
            tot = sizes.agg(F.sum("__rows").alias("__tot"))
            # File-size guarantee lives in the WRITER, not the shuffle
            # layout: maxRecordsPerFile = target bytes / mean row width
            # splits any over-budget write task's output, so the file
            # budget holds even when several (partition, salt) groups
            # hash-collide into one shuffle partition. Before this, the
            # budget silently relied on distinct groups landing in
            # distinct shuffle partitions — true at 32 fixed partitions
            # by luck, false the moment shuffle parallelism tracks the
            # session core count (r15; guide §2.5/§6).
            total_rows = tot.collect()[0]["__tot"] or 1
            rows_per_file = max(
                1, int(target_file_bytes * total_rows / max(total_bytes, 1))
            )
            sizes = (
                sizes.withColumn("__tot", F.lit(total_rows))
                .withColumn(
                    "__nf",
                    F.greatest(
                        F.lit(1),
                        F.ceil(
                            F.col("__rows")
                            * F.lit(float(total_bytes))
                            / F.col("__tot")
                            / F.lit(float(target_file_bytes))
                        ),
                    ).cast("int"),
                )
                .drop("__rows", "__tot")
            )
            # Null-safe join: partition keys CAN be null (e.g. a
            # transaction_year derived from a dirty date parses to NULL
            # and lands in the __HIVE_DEFAULT_PARTITION__ directory). A
            # plain equi-join would silently drop those rows from the
            # rewrite and the swap would then delete them — eqNullSafe
            # keeps the null partition in the compacted output.
            sizes = sizes.select(
                *[F.col(c).alias(f"__k_{c}") for c in partition_by], "__nf"
            )
            cond = [
                F.col(c).eqNullSafe(F.col(f"__k_{c}")) for c in partition_by
            ]
            salted = df.join(F.broadcast(sizes), cond).drop(
                *[f"__k_{c}" for c in partition_by]
            )
            salted = salted.withColumn(
                "__salt",
                F.pmod(
                    F.xxhash64(*[df[c] for c in df.columns]), F.col("__nf")
                ).cast("int"),
            ).drop("__nf")
            (
                salted.repartition(*partition_by, "__salt")
                .drop("__salt")
                .write.mode("overwrite")
                .option("maxRecordsPerFile", rows_per_file)
                .partitionBy(*partition_by)
                .parquet(tmp.toString())
            )
        else:
            # coalesce, not repartition: narrowing file count needs no shuffle
            df.coalesce(n_files).write.mode("overwrite").parquet(tmp.toString())
        old = cur.suffix("__compact_old")
        if not fs.rename(cur, old):
            raise IOError(f"compact: could not move {cur} aside")
        if not fs.rename(tmp, cur):
            # roll back so the table stays readable
            fs.rename(old, cur)
            raise IOError(f"compact: could not swap {tmp} into place")
        fs.delete(old, True)
        return {"files_before": files_before, "files_after": _count_files(cur)}


def create_table_from_schema(
    spark: SparkSession, db: str, table: str, schema, using: str = "parquet"
) -> None:
    """K5: CREATE TABLE IF NOT EXISTS from a declared StructType
    (src/load.py:60-105, src/extract.py:105-208) — catalog-managed DDL
    instead of hand-assembled SQL strings."""
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    spark.sql(f"CREATE TABLE IF NOT EXISTS {db}.{table} ({cols}) USING {using}")


def _resolve_table_location(spark: SparkSession, db: str, table: str) -> tuple[str, bool]:
    """(location, is_external): the table's ACTUAL storage location —
    the catalog entry when the table exists, else where this catalog
    would place a managed table of that name (the database's own
    location, which honors CREATE DATABASE ... LOCATION, + the table
    name). Never assumes the default ``<warehouse>/<db>.db/<table>``
    layout."""
    if spark.catalog.tableExists(f"{db}.{table}"):
        rows = {
            r.col_name: r.data_type
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {db}.{table}").collect()
        }
        if "Location" in rows:
            return rows["Location"], rows.get("Type", "").upper() == "EXTERNAL"
    return (
        f"{spark.catalog.getDatabase(db).locationUri.rstrip('/')}/{table}",
        False,
    )


def _drop_table_and_location(spark: SparkSession, db: str, table: str) -> None:
    """DROP TABLE IF EXISTS plus an orphaned-location sweep: with the
    default session-scoped (in-memory) catalog a managed table's files
    outlive its metadata, and a fresh session's ``saveAsTable`` then
    fails with LOCATION_ALREADY_EXISTS. The swept path is RESOLVED from
    the catalog (table entry, else the database's location), so a
    database created with a custom LOCATION sweeps the right directory.
    EXTERNAL tables lose only their metadata — the backing directory
    may be shared with other readers and is never deleted (matching
    DROP TABLE's own managed-vs-external contract). The DEFAULT
    managed location for the name is always swept regardless: it is
    where a subsequent saveAsTable/RENAME will land, and orphans can
    sit there even while the name currently binds an external table
    elsewhere. Scheme-agnostic via the Hadoop FS API."""
    loc_str, is_external = _resolve_table_location(spark, db, table)
    spark.sql(f"DROP TABLE IF EXISTS {db}.{table}")
    targets = {
        f"{spark.catalog.getDatabase(db).locationUri.rstrip('/')}/{table}"
    }
    if not is_external:
        targets.add(loc_str)
    for t in targets:
        fs, loc = hadoop_fs(spark, t)
        if fs.exists(loc):
            fs.delete(loc, True)


def write_bucketed(
    df: DataFrame, db: str, table: str, n_buckets: int, key: str
) -> None:
    """K6: the scalable analog of the reference's secondary FK indexes
    (src/load.py:107-122): bucket the table on the join key so later
    joins/aggregations on that key are exchange-free (bucket pruning +
    co-located join).

    Overwrite is staged, not in-place: the bucketed write lands in a
    ``__staging`` table first, and only on success is the existing
    table retired and staging promoted (ALTER TABLE RENAME, which for
    managed tables moves the directory with the metadata). A failed
    write therefore leaves the previous table fully intact — the old
    drop-then-write path lost both copies when ``saveAsTable`` failed
    midway. All swept locations are resolved from the catalog
    (:func:`_drop_table_and_location`), so databases with custom
    LOCATIONs are handled and a catalog restart (in-memory catalog,
    orphaned files) still overwrites cleanly."""
    spark = df.sparkSession
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    staging = f"{table}__staging"
    _drop_table_and_location(spark, db, staging)  # stale crashed-run staging
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(f"{db}.{staging}")
    )
    # staging write succeeded: promote it. A crash between these two
    # statements leaves the data at __staging — recoverable, never lost.
    _drop_table_and_location(spark, db, table)
    spark.sql(f"ALTER TABLE {db}.{staging} RENAME TO {db}.{table}")


def health_check(spark: SparkSession, db: str) -> dict[str, int]:
    """M4: connectivity/health probe — SHOW TABLES + per-table counts
    (test.py:27-125 reimagined for the catalog)."""
    tables = [r.tableName for r in spark.sql(f"SHOW TABLES IN {db}").collect()]
    return {t: spark.table(f"{db}.{t}").count() for t in tables}

