"""Idempotent file ingestion via a content-hash ingest log.

SURVEY.md §2.1 S4 / §2.9 I1: the reference tracks (file_name, md5) in an
``etl_file_tracker`` table (src/extract.py:115-123, :210-270) and skips
files already ingested with unchanged content; changed content
re-processes.

Engine form: a Parquet log directory keyed by (file_name, file_hash),
read and written on the driver with pyarrow. A window's check and mark
are metadata-sized (a few dozen candidate files, a few log rows), and
the candidates are local files the driver can ``open``, so neither
starts a Spark job or a Python worker.

``new_files_df`` hashes every candidate, reads only the log rows of the
candidates' names, and offers a candidate iff its (file_name, md5) is
not logged. ``mark_processed_batch`` appends one Parquet file per
batch, written under a hidden name and renamed into place, so a reader
never sees a partial file and an interrupted mark leaves only a hidden
file that every reader skips. ``summary`` stays a Spark read.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.cleansing import file_md5

LOG_SCHEMA = T.StructType([
    T.StructField("file_name", T.StringType(), False),
    T.StructField("file_hash", T.StringType(), False),
    T.StructField("file_size_mb", T.DoubleType(), True),
    T.StructField("record_count", T.LongType(), True),
    T.StructField("processed_at", T.TimestampType(), True),
])
# processed_at as timestamp("us", tz="UTC"), which Spark reads as TimestampType
_ARROW_SCHEMA = to_arrow_schema(LOG_SCHEMA)

_CANDIDATES = pa.schema([
    ("path", pa.string()), ("file_name", pa.string()), ("file_hash", pa.string()),
])


class IngestLog:
    """Parquet-backed ingest log with the reference's skip semantics."""

    def __init__(self, spark: SparkSession, log_dir: str):
        self.spark = spark
        self.log_dir = log_dir

    def _logged(self, names: list[str]) -> set[tuple[str, str]]:
        """The logged (file_name, file_hash) pairs of ``names``; hidden
        (``.``/``_``) files skipped, as Spark skips them."""
        if not os.path.isdir(self.log_dir):
            return set()
        t = pads.dataset(
            self.log_dir, format="parquet", schema=_ARROW_SCHEMA,
            ignore_prefixes=[".", "_"],
        ).to_table(
            columns=["file_name", "file_hash"],
            filter=pads.field("file_name").isin(names),
        )
        return set(zip(t["file_name"].to_pylist(), t["file_hash"].to_pylist()))

    def new_files_df(self, paths: list[str]):
        """(path, file_name, file_hash) for the candidates NOT yet
        ingested with identical content, as a local DataFrame built on
        the driver: every candidate is hashed and offered iff its
        (file_name, md5) is not logged."""
        logged = self._logged(sorted({os.path.basename(p) for p in paths}))
        new = [(p, os.path.basename(p), file_md5(p)) for p in paths]
        new = [c for c in new if c[1:] not in logged]
        return self.spark.createDataFrame(pa.Table.from_pylist(
            [dict(zip(_CANDIDATES.names, c)) for c in new], schema=_CANDIDATES,
        ))

    def mark_processed_batch(
        self,
        entries: list[tuple[str, int]],
        hashes: dict[str, str] | None = None,
    ) -> None:
        """Append log rows for a batch of ingested files as one Parquet
        file. Pass ``hashes`` (path -> md5) when the caller already
        computed them (e.g. from :meth:`new_files_df`): hashing means
        reading the whole file, so re-hashing here would double the
        ingest's IO. A path missing from ``hashes`` is hashed here."""
        if not entries:
            return
        now_us = time.time_ns() // 1000
        hashes = hashes or {}
        table = pa.Table.from_pylist([
            {"file_name": os.path.basename(path),
             "file_hash": hashes.get(path) or file_md5(path),
             "file_size_mb": os.stat(path).st_size / (1024 * 1024),
             "record_count": record_count, "processed_at": now_us}
            for path, record_count in entries
        ], schema=_ARROW_SCHEMA)
        # a uuid name per batch, so concurrent marks never collide, and
        # the rename publishes the whole file at once
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.log_dir, f".{name}.tmp")
        os.makedirs(self.log_dir, exist_ok=True)
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.log_dir, name))

    def _read(self):
        # a missing log is first-run (an empty frame); a corrupt or
        # unreadable log fails the read loudly
        if not os.path.isdir(self.log_dir):
            return self.spark.createDataFrame(_ARROW_SCHEMA.empty_table())
        return self.spark.read.schema(LOG_SCHEMA).parquet(self.log_dir)

    def summary(self):
        """A3-style multi-agg over the log (src/extract.py:573-580)."""
        from pyspark.sql import functions as F

        return self._read().agg(
            F.count("*").alias("n_files"),
            F.sum("record_count").alias("sum_records"),
            F.sum("file_size_mb").alias("sum_size_mb"),
            F.max("processed_at").alias("last_processed_at"),
        )
