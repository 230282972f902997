"""Pipeline orchestration — the reference's extract → transform → load
flow (SURVEY.md §3, §2.12) over the three-layer parquet warehouse.

Every stage is a pure ``DataFrame -> DataFrame`` function; the runner
wires them to the warehouse, records DataQualityMetrics-style row
accounting (main.py:43-144), and reconciles counts (load.py:317-360).
Fail-fast per phase like the reference's run_full_pipeline
(main.py:279-308).

Scale design: no driver-side row loops anywhere, and a window runs no
Spark job it does not need. Every warehouse read pins its declared
schema (no inference job); the per-table row counts are summed from
Parquet footers on the driver (``Warehouse.row_count``, no job); the
batch's touched buckets come from an Observation on the job that pins
the batch; merges are keyed shuffles. A scheduled window transforms and
loads only the entities that received new files.

Crash recovery is one open-run flag, ``<warehouse>/_run_marker``:
extract creates it before it changes staging and ``run_full`` deletes
it after load. A window that finds the flag present first finishes any
partition-overwrite commit a crash interrupted, then re-transforms and
re-loads every entity from all of staging, so whatever an unfinished
run staged reaches production.

One layout per layer, from the first write on: staging and transformed
are partitioned by PK-range bucket, and each is written by one
partition overwrite, so a batch rewrites only the buckets its keys fall
in; production takes each window's anti-join delta as an unpartitioned
append, a few files per entity per window. A staging or transformed
table in any other layout fails the run (``Pipeline._bucketed``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import (
    normalize_null_sentinels,
    safe_val,
    safe_num,
    safe_date,
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
from .operators import (
    validate_and_project,
    pk_filter,
    dedup_keep_last,
)
from .plans import (
    upsert_last_writer_wins,
    incremental_append_antijoin,
    reconcile_counts,
)
from .schemas import (
    LOAD_ORDER,
    PRIMARY_KEYS,
    STAGING_COLUMNS,
    TRANSFORMED_SCHEMAS,
    staging_schema,
)
from .sources import IngestLog, Warehouse, read_csv_all_string
from .sources.warehouse import hadoop_fs, hidden


# ---------------------------------------------------------------------------
# Per-entity transform chains (src/transform.py:229-491, vectorized)
# ---------------------------------------------------------------------------
# Each chain carries staging's PK-bucket column through unchanged:
# recomputing it from the cleaned PK could move a row to another bucket,
# and the transformed layer's partition overwrite would then replace
# that bucket without the rows already in it.

def _branches_columns() -> list[Column]:
    state = safe_val(F.col("state"), upper=True)
    return [
        safe_val(F.col("branch_id")).alias("branch_id"),
        safe_val(F.col("branch_name"), title=True).alias("branch_name"),
        safe_val(F.col("city"), title=True).alias("city"),
        state.alias("state"),
        safe_val(F.col("manager_name"), title=True).alias("manager_name"),
        region_map(state).alias("region"),
        F.col(_bucket_col()),
    ]


def _customers_columns() -> list[Column]:
    dob = safe_date(F.col("dob"))
    aod = safe_date(F.col("account_open_date"))
    tenure = tenure_days(aod)
    return [
        safe_val(F.col("customer_id")).alias("customer_id"),
        safe_val(F.col("branch_id"), upper=True).alias("branch_id"),
        safe_val(F.col("first_name"), title=True).alias("first_name"),
        safe_val(F.col("last_name"), title=True).alias("last_name"),
        dob.alias("dob"),
        calc_age(dob).alias("age"),
        gender_norm(F.col("gender")).alias("gender"),
        safe_val(F.col("email"), lower=True).alias("email"),
        safe_val(F.col("phone")).alias("phone"),
        safe_val(F.col("address"), title=True).alias("address"),
        aod.alias("account_open_date"),
        tenure.alias("customer_tenure_days"),
        customer_segment(tenure).alias("customer_segment"),
        F.col(_bucket_col()),
    ]


def _loans_columns() -> list[Column]:
    start = safe_date(F.col("start_date"))
    # end dates legitimately exceed the current year: lift the guard
    end = safe_date(F.col("end_date"), max_year=F.lit(9999))
    amount = safe_num(F.col("loan_amount"))
    return [
        safe_val(F.col("loan_id")).alias("loan_id"),
        safe_val(F.col("customer_id")).alias("customer_id"),
        safe_val(F.col("loan_type"), title=True).alias("loan_type"),
        amount.alias("loan_amount"),
        safe_num(F.col("interest_rate")).cast("decimal(5,2)").alias("interest_rate"),
        start.alias("start_date"),
        end.alias("end_date"),
        safe_val(F.col("loan_status"), title=True).alias("loan_status"),
        duration_months(start, end).alias("loan_duration_months"),
        risk_category(amount).alias("risk_category"),
        F.col(_bucket_col()),
    ]


def _transactions_columns() -> list[Column]:
    amount = safe_num(F.col("amount"))
    return [
        safe_val(F.col("transaction_id")).alias("transaction_id"),
        safe_val(F.col("customer_id")).alias("customer_id"),
        safe_date(F.col("transaction_date")).cast("timestamp").alias("transaction_date"),
        safe_val(F.col("transaction_type"), upper=True).alias("transaction_type"),
        amount.alias("amount"),
        safe_num(F.col("balance_after")).alias("balance_after"),
        fraud_flag(F.col("fraud_flag")).alias("fraud_flag"),
        transaction_category(amount).alias("transaction_category"),
        F.col(_bucket_col()),
    ]


# entity -> the function that builds its transform's output columns. A list
# takes thousands of py4j calls to build, all holding the GIL, so a Pipeline builds
# each once (Pipeline._columns) and the transform pool threads do not
# queue on one another for it.
_ENTITY_COLUMNS = {
    "branches": _branches_columns,
    "customers": _customers_columns,
    "loans": _loans_columns,
    "transactions": _transactions_columns,
}


def transform_branches(df: DataFrame) -> DataFrame:
    return df.select(*_branches_columns())


def transform_customers(df: DataFrame) -> DataFrame:
    return df.select(*_customers_columns())


def transform_loans(df: DataFrame) -> DataFrame:
    return df.select(*_loans_columns())


def transform_transactions(df: DataFrame) -> DataFrame:
    return df.select(*_transactions_columns())


ENTITY_TRANSFORMS = {
    "branches": transform_branches,
    "customers": transform_customers,
    "loans": transform_loans,
    "transactions": transform_transactions,
}


# ---------------------------------------------------------------------------
# Metrics (DataQualityMetrics, main.py:43-144)
# ---------------------------------------------------------------------------

@dataclass
class PipelineMetrics:
    extracted: dict[str, int] = field(default_factory=dict)
    transformed: dict[str, int] = field(default_factory=dict)
    loaded: dict[str, int] = field(default_factory=dict)
    reconciliation: dict[str, dict] = field(default_factory=dict)

    def summary(self) -> dict:
        te, tt, tl = (sum(d.values()) for d in (self.extracted, self.transformed, self.loaded))
        accuracy = (tt / te * 100.0) if te else 100.0
        synced = all(r["synced"] for r in self.reconciliation.values()) if self.reconciliation else True
        return {
            "total_extracted": te,
            "total_transformed": tt,
            "total_loaded": tl,
            "end_to_end_accuracy_pct": round(accuracy, 2),
            "status": "SUCCESS" if synced and accuracy >= 100.0 else "PARTIAL",
        }

    def format_report(self, phase_seconds: dict[str, float] | None = None) -> list[str]:
        """The reference's human-readable run report (M3,
        src/logger.py:169-251 log_pipeline_summary + the per-phase stat
        formatters at :74/:94/:123/:147), re-expressed over this
        engine's metrics: per-table lines per phase, phase totals,
        end-to-end success rate, per-table sync status from the count
        reconciliation, and per-phase wall seconds. Returned as lines
        so callers choose the sink (logger, stdout, a file)."""
        bar = "=" * 70
        lines = [bar, "COMPLETE PIPELINE SUMMARY", bar, "", "EXTRACTION PHASE:"]
        for t, n in sorted(self.extracted.items()):
            lines.append(f"  {t}: {n:,} records staged")
        lines.append(f"  TOTAL EXTRACTED: {sum(self.extracted.values()):,} records")
        lines += ["", "TRANSFORMATION PHASE:"]
        for t, n in sorted(self.transformed.items()):
            staged = self.extracted.get(t, 0)
            dropped = max(staged - n, 0)
            lines.append(
                f"  {t}: {n:,} transformed ({dropped:,} deduplicated/dropped)"
            )
        lines.append(
            f"  TOTAL TRANSFORMED: {sum(self.transformed.values()):,} records"
        )
        lines += ["", "LOADING PHASE:"]
        for t, n in sorted(self.loaded.items()):
            mode = (
                "incremental"
                if self.reconciliation.get(t, {}).get("incremental")
                else "full"
            )
            lines.append(f"  {t}: {n:,} records loaded ({mode})")
        lines.append(f"  TOTAL LOADED: {sum(self.loaded.values()):,} records")
        if self.reconciliation:
            lines += ["", "SYNC STATUS:"]
            for t, r in sorted(self.reconciliation.items()):
                mark = "OK synchronized" if r["synced"] else (
                    f"OUT OF SYNC (diff {r['difference']:+,})"
                )
                lines.append(
                    f"  {t}: source {r['source_count']:,} vs target "
                    f"{r['target_count']:,} — {mark}"
                )
        s = self.summary()
        lines += [
            "",
            f"END-TO-END: {s['status']} — "
            f"{s['total_loaded']:,} loaded / {s['total_extracted']:,} extracted "
            f"({s['end_to_end_accuracy_pct']:.1f}% of extracted rows survived "
            f"cleansing+dedup)",
        ]
        if phase_seconds:
            total = sum(phase_seconds.values())
            per = ", ".join(f"{p} {v:.1f}s" for p, v in phase_seconds.items())
            lines.append(f"DURATION: {total:.1f}s ({per})")
        lines.append(bar)
        return lines


# ---------------------------------------------------------------------------
# Phases
# ---------------------------------------------------------------------------

# Staging and transformed are partitioned by a coarse PK range, from the
# first write on: an incremental batch merges and re-transforms only the
# buckets its keys fall in (Warehouse.overwrite_partitions), and every
# other bucket stays on disk byte-for-byte. Monotone-id arrivals, the
# normal ingest regime, touch a handful of buckets; non-numeric and
# dirty PKs land in bucket -1; an update batch scattered over every
# bucket costs one full rewrite. The partition column's name carries
# the width, so a table bucketed under another width fails the layout
# guard instead of taking rows bucketed two ways.
_PK_BUCKET_WIDTH = 1_000_000


def _bucket_col() -> str:
    return f"__pk_bucket_{_PK_BUCKET_WIDTH}"


def _pk_bucket(pk: str):
    return F.coalesce(
        F.floor(
            F.expr(f"try_cast({pk} AS BIGINT)") / _PK_BUCKET_WIDTH
        ),
        F.lit(-1),
    ).cast("bigint")


def _read_schema(layer: str, entity: str) -> T.StructType:
    """The declared schema of ``layer.entity``, pinned on every pipeline
    read so that no read runs a schema-inference job: staging is all
    strings and transformed the transform's output, each with the bucket
    column; production is the transform's output without it."""
    if layer == "production":
        return TRANSFORMED_SCHEMAS[entity]
    base = staging_schema(entity) if layer == "staging" else TRANSFORMED_SCHEMAS[entity]
    return T.StructType(base.fields + [T.StructField(_bucket_col(), T.LongType())])


class Pipeline:
    """Extract → transform → load over a layered warehouse."""

    def __init__(self, spark: SparkSession, warehouse_root: str):
        self.spark = spark
        self.wh = Warehouse(spark, warehouse_root)
        self.ingest_log = IngestLog(spark, f"{warehouse_root}/_ingest_log")
        self.metrics = PipelineMetrics()
        # path -> raw record count for the batch in flight (filled by
        # _extract_entity Observations, consumed by the log append)
        self._file_record_counts: dict[str, int] = {}
        # entities with new files in the batch in flight (run_full's skip
        # signal)
        self._changed_entities: set[str] = set()
        # entity -> PK buckets touched by the batch in flight (filled by
        # _extract_entity, consumed by _transform_entity to re-transform
        # only the staging partitions this batch changed). None = no
        # bucket knowledge — transform falls back to the full pass.
        self._touched_buckets: dict[str, list[int] | None] = {}
        # (kind, entity, bucket column) -> column expressions, built once
        # per Pipeline (_columns)
        self._exprs: dict[tuple[str, str, str], list[Column]] = {}

    def _columns(self, kind: str, entity: str) -> list[Column]:
        """The ``"transform"`` output columns or the ``"nulls"`` sentinel
        cleansing of ``entity``'s staging columns, built on first use.
        Keyed on the bucket column too, whose name carries the width."""
        key = (kind, entity, _bucket_col())
        cols = self._exprs.get(key)
        if cols is None:
            if kind == "transform":
                cols = _ENTITY_COLUMNS[entity]()
            else:
                cols = [normalize_null_sentinels(c).alias(c)
                        for c in STAGING_COLUMNS[entity]]
            self._exprs[key] = cols
        return cols

    # -- extract: CSV files -> all-string staging layer ----------------------
    def run_extract(self, files_per_entity: dict[str, list[str]]) -> None:
        """Entities are independent DAGs, so their (small) Spark jobs run
        concurrently from a driver-side thread pool — overlapping job
        scheduling/IO latency; the cluster's task scheduler interleaves
        the stages. Results land in per-entity dict slots (thread-safe).

        The ingest log is consulted ONCE for the whole batch and appended
        ONCE after all entities land, both on the driver: the check hashes
        every candidate and returns a local frame of the new ones; the
        mark writes one Parquet file with the check's hashes. Neither starts a Spark job, so a
        window with no new file runs none. Failure semantics: if any
        entity fails, NOTHING is logged, and the next run re-ingests the
        whole batch — safe, the staging write is an idempotent overwrite.
        A batch with new files opens the run flag before any staging
        write (``run_full``).

        Each log row carries the file's REAL raw record count (the
        reference tracker stores rows-per-file, extract.py:246-270, and
        its summary sums them, extract.py:573-580): per-file counts are
        folded into each entity's staging-write job as Observation
        metrics over the raw frame — one count expression per batch
        file, zero extra scans (an earlier version logged 0 for every
        file, so IngestLog.summary() reported an empty warehouse after
        a real run)."""
        from concurrent.futures import ThreadPoolExecutor

        fs, flag = self._run_flag()
        if fs.exists(flag):
            self._roll_forward_commits()
        all_paths = [p for ps in files_per_entity.values() for p in ps]
        new_rows = (
            self.ingest_log.new_files_df(all_paths).collect() if all_paths else []
        )
        new_set = {r["path"] for r in new_rows}
        hashes = {r["path"]: r["file_hash"] for r in new_rows}

        self._file_record_counts: dict[str, int] = {}
        items = [
            (entity, [p for p in paths if p in new_set])
            for entity, paths in files_per_entity.items()
        ]
        self._changed_entities = {entity for entity, paths in items if paths}
        if new_set:
            # open the run before staging changes: from here until
            # run_full's load completes, a crash leaves the flag behind
            fs.create(flag, True).close()
        with ThreadPoolExecutor(max_workers=min(8, max(1, len(items)))) as ex:
            list(ex.map(lambda kv: self._extract_entity(*kv), items))
        self.ingest_log.mark_processed_batch(
            [(p, self._file_record_counts.get(p, 0)) for p in sorted(new_set)],
            hashes=hashes,
        )

    def _extract_entity(self, entity: str, new_paths: list[str]) -> None:
        pk = PRIMARY_KEYS[entity]
        if not new_paths:
            self.metrics.extracted[entity] = 0
            # no bucket knowledge from this batch: a later transform of
            # this entity must not reuse an earlier batch's buckets
            self._touched_buckets[entity] = None
            return
        raw = read_csv_all_string(self.spark, new_paths, STAGING_COLUMNS[entity])
        # Per-file raw record counts, observed at the point in the plan
        # BEFORE any filter/dedup drops rows — every raw row flows
        # through this observe during the staging write, so the counts
        # cost no extra scan. One count expression per batch file:
        # bounded by the batch's file list, never the row count.
        file_obs = Observation()
        raw = raw.observe(
            file_obs,
            *[
                F.count(
                    F.when(
                        F.input_file_name() == self.wh.qualified_uri(p), 1
                    )
                ).alias(f"f{i}")
                for i, p in enumerate(new_paths)
            ],
        )
        df = validate_and_project(raw, STAGING_COLUMNS[entity])
        df = df.select(*self._columns("nulls", entity))
        df = pk_filter(df, pk)
        # keep-last across files must mean "the later file in the batch
        # wins" (O2, reference extract.py:389) — an EXPLICIT file sequence,
        # not monotonically_increasing_id enumeration order, which Spark
        # does not guarantee to follow the file list. Rank each row by its
        # source file's position in the batch; a monotonic id only breaks
        # ties WITHIN one file (where it does follow physical row order
        # per split).
        seq_map = F.create_map(
            *[
                F.lit(x)
                for i, p in enumerate(new_paths)
                for x in (self.wh.qualified_uri(p), i)
            ]
        )
        df = df.withColumn(
            "_ingest_seq",
            F.coalesce(seq_map[F.input_file_name()], F.lit(-1)).cast("long"),
        ).withColumn("_ingest_sub", F.monotonically_increasing_id())
        df = dedup_keep_last(df, pk, ["_ingest_seq", "_ingest_sub"]).drop("_ingest_sub")
        # The merge needs the batch's touched buckets before it is
        # planned, so there is one action over the batch, and only when a
        # snapshot exists: the batch frame is pinned, and an Observation
        # on the pinning job collects the bucket set on the way.
        bucket = _bucket_col()
        touched: list[int] | None = None
        existing = self._bucketed("staging", entity)
        if existing is not None:
            bucket_obs = Observation()
            df = df.observe(
                bucket_obs, F.collect_set(_pk_bucket(pk)).alias("b")
            ).localCheckpoint(eager=True)
            touched = list(bucket_obs.get["b"])
            # the merge reads ONLY the batch's buckets: partition pruning
            # keeps untouched snapshot bytes off this plan
            existing = existing.filter(F.col(bucket).isin(touched)).drop(
                bucket
            ).withColumn("_ingest_seq", F.lit(-1).cast("long"))
            # no lineage barrier needed before overwriting the buckets
            # this plan reads: a dynamic partition overwrite stages its
            # output and swaps the partitions in only at job commit
            df = upsert_last_writer_wins(existing, df, pk, "_ingest_seq")
        # replace only the batch's partitions; the rest of the snapshot
        # is not read, shuffled, or rewritten
        self.wh.overwrite_partitions(
            df.drop("_ingest_seq").withColumn(bucket, _pk_bucket(pk)),
            "staging", entity, [bucket],
        )
        # extracted = the full snapshot row count (a merge sees only the
        # touched buckets), summed from the Parquet footers: no Spark job
        self.metrics.extracted[entity] = self.wh.row_count("staging", entity)
        self._touched_buckets[entity] = touched
        # entities write DISJOINT path keys, so concurrent updates from
        # the extract thread pool never collide
        fc = file_obs.get
        self._file_record_counts.update(
            {p: fc[f"f{i}"] for i, p in enumerate(new_paths)}
        )

    # -- transform: staging -> typed/enriched layer ---------------------------
    def run_transform(self, entities: list[str] | None = None) -> None:
        """Per-entity transforms write distinct directories — independent
        jobs, run concurrently (load stays serial: FK order matters).
        ``None`` transforms every entity, ``[]`` none."""
        from concurrent.futures import ThreadPoolExecutor

        ents = LOAD_ORDER if entities is None else entities
        if not ents:
            return
        with ThreadPoolExecutor(max_workers=min(8, len(ents))) as ex:
            list(ex.map(self._transform_entity, ents))

    def _transform_entity(self, entity: str) -> None:
        bucket = _bucket_col()
        staged = self._bucketed("staging", entity)
        if staged is None:
            return  # nothing staged for this entity; read errors propagate
        # Staging holds one row per PK (extract's keep-last, then the
        # last-writer-wins merge into the PK's own bucket), so no dedup
        # runs here. The transforms are pure per-row functions, so rows in
        # buckets this run's extract did not touch would transform to
        # byte-identical output: re-derive only the touched buckets.
        # Without that knowledge (standalone transform, an unfinished
        # previous run) or without a transformed table yet, every bucket
        # is re-derived. The one partition overwrite serves
        # both: transformed buckets are always a subset of staging's,
        # since the transform drops no rows and staging never loses a PK.
        touched = self._touched_buckets.get(entity)
        # guarded on every pass: a full pass overwrites into it too
        incremental = (
            self._bucketed("transformed", entity) is not None
            and touched is not None
        )
        if incremental:
            staged = staged.filter(F.col(bucket).isin(touched))
        self.wh.overwrite_partitions(
            staged.select(*self._columns("transform", entity)),
            "transformed", entity, [bucket],
        )
        self.metrics.transformed[entity] = self.wh.row_count("transformed", entity)

    # -- load: incremental append into production ----------------------------
    def run_load(self, entities: list[str] | None = None) -> None:
        """Append each entity's new PKs to production, in FK-safe order
        (load.py:305). ``None`` loads every entity, ``[]`` none.

        Production is one unpartitioned layout for every entity: an
        append writes the anti-join delta as it comes out of the join —
        no shuffle and a few files per window. Partitioning the fact
        table by year made each ~530-row daily append write one file
        into each of ~66 year directories, and every later read of
        production paid a listing job over them; no reader prunes on
        the year."""
        for entity in LOAD_ORDER if entities is None else entities:
            pk = PRIMARY_KEYS[entity]
            src = self._bucketed("transformed", entity)
            if src is None:
                continue  # entity had no input this run; read errors propagate
            # the bucket is a staging/transformed layout detail — it
            # must never reach the production schema
            src = src.drop(_bucket_col())
            incremental = self.wh.exists("production", entity)
            if incremental:
                target = self.wh.read(
                    "production", entity, schema=_read_schema("production", entity)
                )
                stale = sorted(set(target.columns) - set(src.columns))
                if stale:
                    # e.g. transaction_year from the year-partitioned
                    # layout: an unpartitioned append into partition
                    # directories is silently skipped by later reads
                    raise ValueError(
                        f"production.{entity} has columns the transformed "
                        f"table lacks: {stale}; rebuild production from "
                        "the CSVs with this version"
                    )
                # an append adds files and leaves the ones this plan
                # listed alone, so the delta needs no lineage barrier
                src = incremental_append_antijoin(src, target, pk)
            self.wh.append(src, "production", entity)
            # both reconciliation sides are full-table counts from the
            # Parquet footers: no Spark job. The source side is the
            # transformed table, which this run's transform counted.
            prod_count = self.wh.row_count("production", entity)
            src_count = self.metrics.transformed.get(entity)
            if src_count is None:  # standalone load
                src_count = self.wh.row_count("transformed", entity)
            self.metrics.loaded[entity] = prod_count
            self.metrics.reconciliation[entity] = {
                **reconcile_counts(src_count, prod_count),
                # the ACTUAL branch taken, so the run report's
                # "(incremental)"/"(full)" label reflects what happened
                # rather than inferring it from the dict's presence
                # (which both branches populate)
                "incremental": incremental,
            }

    def _bucketed(self, layer: str, entity: str) -> DataFrame | None:
        """The layout guard: ``layer.entity`` read with its declared
        schema, None when it does not exist. A table whose listing holds
        anything but this build's bucket directories (unpartitioned, or
        bucketed under another width) raises before anything is written:
        a partition overwrite into it would leave the old rows beside the
        new ones. The check lists the directory over Hadoop FS and the
        read is schema-pinned, so neither runs a Spark job."""
        fs, root = hadoop_fs(self.spark, self.wh.path(layer, entity))
        if not fs.exists(root):
            return None
        prefix = f"{_bucket_col()}="
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not hidden(name) and not (st.isDirectory() and name.startswith(prefix)):
                raise ValueError(
                    f"{layer}.{entity} is not partitioned by {_bucket_col()} "
                    "(an older build's layout, or another bucket width): "
                    "rebuild the warehouse from the CSVs with this version"
                )
        return self.wh.read(layer, entity, schema=_read_schema(layer, entity))

    def _roll_forward_commits(self) -> None:
        """Finish partition-overwrite commits that a crash interrupted.
        Spark's dynamic partition overwrite commits by deleting each final
        partition directory and then renaming ``.spark-staging-<job>/<part>``
        into its place; a process death between the two leaves the bucket
        missing and its merged rows in the staging directory. Each staged
        partition whose final directory is missing is renamed into place,
        then the leftover directory is deleted. A staged partition whose
        final directory still exists had not been swapped yet, so the
        final one holds the bucket's previous rows: it is dropped, and the
        next extract merges the unlogged batch into that bucket again (a
        transformed bucket is re-derived by the full pass the flag
        forces). Runs only under the open-run flag, before extract
        writes."""
        Path = self.spark.sparkContext._jvm.org.apache.hadoop.fs.Path
        for layer in ("staging", "transformed"):
            for entity in LOAD_ORDER:
                fs, root = hadoop_fs(self.spark, self.wh.path(layer, entity))
                if not fs.exists(root):
                    continue
                for st in fs.listStatus(root):
                    if not st.getPath().getName().startswith(".spark-staging-"):
                        continue
                    for part in fs.listStatus(st.getPath()):
                        final = Path(root, part.getPath().getName())
                        if "=" not in final.getName() or fs.exists(final):
                            continue
                        if not fs.rename(part.getPath(), final):
                            raise IOError(
                                f"could not roll {part.getPath()} forward "
                                f"into {final}"
                            )
                    fs.delete(st.getPath(), True)

    def _run_flag(self):
        """``(fs, path)`` of the open-run flag, ``<warehouse>/_run_marker``:
        present from the moment a run starts changing staging until its
        load completes. Only its presence counts. Driver-side Hadoop FS
        metadata IO, not a Spark write (SCALE.md: a 1-row parquet write
        of the marker cost 3.6 s per run)."""
        return hadoop_fs(self.spark, f"{self.wh.root}/_run_marker")

    def run_full(self, files_per_entity: dict[str, list[str]]) -> dict:
        """Fail-fast phase runner with per-phase timing logs (M1/M3:
        main.py:279-308, src/logger.py). The metrics describe this run
        only.

        Per-entity skip (the reference's hash-skip, extract.py:494-496,
        applied to each entity) behind an open-run flag
        (``<warehouse>/_run_marker``): extract creates the flag before it
        writes staging, and this runner deletes it after load. The flag
        is checked once, before extract. If it is absent, the last run
        completed, so transform and load run only for the entities that
        received new files; the others would recompute byte-identical
        tables from unchanged staging, and a window with no new file
        skips both phases ('no_new_files'). If it is present, a run
        changed staging and did not reach the end of load (a crash, or a
        standalone extract), so every entity is re-transformed in full
        and re-loaded, and that run's staged rows reach production. The
        summary names the skipped entities."""
        import logging
        import time

        log = logging.getLogger("spark_etl_engine.pipeline")
        self.metrics = PipelineMetrics()
        timings: dict[str, float] = {}
        fs, flag = self._run_flag()
        previous_open = bool(fs.exists(flag))
        t0 = time.time()
        self.run_extract(files_per_entity)
        timings["extract"] = round(time.time() - t0, 3)
        log.info("phase extract done in %.1fs", timings["extract"])
        if previous_open:
            log.info("previous run did not complete — every entity runs")
            entities = None
            # the open run may have staged buckets this batch did not
            # touch: re-derive every entity from all of staging
            self._touched_buckets.clear()
        else:
            entities = [e for e in LOAD_ORDER if e in self._changed_entities]
        skipped = [] if entities is None else [e for e in LOAD_ORDER if e not in entities]
        if entities == []:
            summary = {**self.metrics.summary(), "phase_seconds": timings,
                       "no_new_files": True, "skipped_entities": skipped}
            log.info(
                "no new files and previous run completed — transform/load "
                "skipped (hash-skip): %s", summary,
            )
            return summary
        for phase, fn in [("transform", self.run_transform), ("load", self.run_load)]:
            t0 = time.time()
            fn(entities)
            timings[phase] = round(time.time() - t0, 3)
            log.info("phase %s done in %.1fs", phase, timings[phase])
        fs.delete(flag, False)
        summary = {**self.metrics.summary(), "phase_seconds": timings,
                   "no_new_files": False, "skipped_entities": skipped}
        for line in self.metrics.format_report(timings):
            log.info("%s", line)
        log.info("pipeline %s: %s", summary["status"], summary)
        return summary
