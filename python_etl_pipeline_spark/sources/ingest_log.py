"""Idempotent file ingestion via a content-hash ingest log.

SURVEY.md §2.1 S4 / §2.9 I1: the reference tracks (file_name, md5) in an
``etl_file_tracker`` table (src/extract.py:115-123, :210-270) and skips
files already ingested with unchanged content; changed content
re-processes.

Engine form: a parquet log table keyed by (file_name, file_hash).
``new_files_df`` anti-joins the candidate list against the log with no
driver-side materialization of either side — at 100 TB ingest the log
is millions of rows, and candidate md5s (which read whole files) are
computed on executors. ``mark_processed_batch`` appends one log row
per ingested file, reusing the hashes ``new_files_df`` computed.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..functions.cleansing import file_md5
from .warehouse import hadoop_fs

def _md5_udf():
    """Executor-side streaming file MD5 (same algorithm as
    functions.cleansing.file_md5, F15). One invocation per candidate
    FILE — IO-bound, so it runs where the data lives; never a per-row
    hot path."""
    from pyspark.sql import functions as F

    return F.udf(lambda p: file_md5(p), T.StringType())


LOG_SCHEMA = T.StructType([
    T.StructField("file_name", T.StringType(), False),
    T.StructField("file_hash", T.StringType(), False),
    T.StructField("file_size_mb", T.DoubleType(), True),
    T.StructField("record_count", T.LongType(), True),
    T.StructField("processed_at", T.TimestampType(), True),
])


class IngestLog:
    """Parquet-backed ingest log with the reference's skip semantics."""

    def __init__(self, spark: SparkSession, log_dir: str):
        import threading

        self.spark = spark
        self.log_dir = log_dir
        # serializes appends: concurrent jobs writing one directory share
        # the committer's _temporary staging path and can collide
        self._write_lock = threading.Lock()

    def _exists(self) -> bool:
        fs, p = hadoop_fs(self.spark, self.log_dir)
        return bool(fs.exists(p))

    def _read(self):
        # Probe the filesystem instead of catching read errors: a missing
        # log is first-run (empty frame), but a corrupt or unreadable log
        # fails loudly — and spark.read on a nonexistent path logs a noisy
        # FileStreamSink WARN stack trace we'd rather never trigger.
        if not self._exists():
            return self.spark.createDataFrame([], LOG_SCHEMA)
        return self.spark.read.schema(LOG_SCHEMA).parquet(self.log_dir)

    def new_files_df(self, paths: list[str]):
        """(path, file_name, file_hash) for candidates NOT yet ingested
        with identical content — a left-anti join of the candidate list
        against the log, entirely distributed: the log is never
        collected into driver memory (at 100 TB ingest the log is
        millions of rows), and each candidate's md5 is computed on an
        executor (one task row per FILE — the hash must read the whole
        file, so this is IO-bound work that belongs on the cluster, not
        the driver). The log side of the join is small relative to data
        but unbounded over time; the anti-join broadcasts the candidate
        side when it is the smaller one."""
        from pyspark.sql import functions as F

        cand = self.spark.createDataFrame(
            [(p, os.path.basename(p)) for p in paths],
            "path string, file_name string",
        )
        hashed = cand.withColumn("file_hash", _md5_udf()(F.col("path")))
        log = self._read().select("file_name", "file_hash")
        return hashed.join(log, ["file_name", "file_hash"], "left_anti")

    def mark_processed_batch(
        self,
        entries: list[tuple[str, int]],
        hashes: dict[str, str] | None = None,
    ) -> None:
        """Append log rows for a batch of ingested files in one write —
        one tiny Spark job per batch, not per file. Pass ``hashes``
        (path -> md5) when the caller already computed them (e.g. from
        :meth:`new_files_df`): hashing means reading the whole file, so
        re-hashing here would double the ingest's IO."""
        if not entries:
            return
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        hashes = hashes or {}
        rows = []
        for path, record_count in entries:
            p = Path(path)
            rows.append(
                (p.name, hashes.get(path) or file_md5(p),
                 p.stat().st_size / (1024 * 1024), record_count, now)
            )
        # repartition(1), NOT coalesce(1): coalescing a 32-slice local
        # relation into one task walks every empty slice sequentially
        # (~4s); a shuffle to 1 partition is ~10x cheaper here.
        with self._write_lock:
            self.spark.createDataFrame(rows, LOG_SCHEMA).repartition(1).write.mode(
                "append"
            ).parquet(self.log_dir)

    def summary(self):
        """A3-style multi-agg over the log (src/extract.py:573-580)."""
        from pyspark.sql import functions as F

        return self._read().agg(
            F.count("*").alias("n_files"),
            F.sum("record_count").alias("sum_records"),
            F.sum("file_size_mb").alias("sum_size_mb"),
            F.max("processed_at").alias("last_processed_at"),
        )
