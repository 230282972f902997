"""``daily_increments``: scheduler windows on a loaded warehouse.

Set-up (untimed) delivers a base snapshot, loads it into a fresh
warehouse, and runs the first incremental window, which upgrades
staging to the bucketed layout once. The timed part is a sequence of
windows run the way ``--mode schedule`` runs them: one ``Pipeline``
object, and each window re-globs the cumulative file set before
``run_full``. A new-file window delivers a transactions, a customers
and a loans file, each ~2% of that entity's snapshot rows: new monotone
ids plus some re-delivered existing keys with changed values. Every
third window delivers nothing new. Each window also re-sends one old
file unchanged, which the ingest log must skip.
"""

from __future__ import annotations

from pathlib import Path

from . import checks, storage
from .gen_banking import BASE_ROWS, ENTITIES, BankingFeed
from .measure import median

SNAPSHOT_SCALE = 0.25  # ~27k rows: a quarter of the reference dataset
WINDOW_FRAC = 0.02     # new rows per window, as a share of the snapshot
REDELIVER_FRAC = 0.05  # re-delivered existing keys, as a share of new rows
EMPTY_EVERY = 3        # windows 3, 6, 9, ... deliver nothing new
# every non-empty window delivers the same entities, so the windows a run
# times are alike whatever their number; branches never get a new file
WINDOW_ENTITIES = ("customers", "loans", "transactions")


def window_sizes(index: int) -> dict[str, int]:
    if index % EMPTY_EVERY == 0:
        return {}
    return {e: int(BASE_ROWS[e] * SNAPSHOT_SCALE * WINDOW_FRAC) for e in WINDOW_ENTITIES}


class DailyIncrements:
    def __init__(self, spark, work: Path, seed: int, tracer=None):
        from python_etl_pipeline_spark.pipeline import Pipeline

        self.tracer = tracer
        self.inputs, self.wh = work / "inputs", work / "warehouse"
        self.feed = BankingFeed(self.inputs, seed)
        self.pipe = Pipeline(spark, str(self.wh))
        self.index = 0
        self.ops: list[dict] = []

    def _run_window(self) -> dict:
        from python_etl_pipeline_spark.cli import discover_files

        return self.pipe.run_full(discover_files(str(self.inputs)))

    def setup(self) -> None:
        """The snapshot load (the cold first run, which also warms every
        first-load plan), then window 1, which upgrades each delivered
        entity's layout once and warms the incremental plans."""
        self.feed.snapshot(SNAPSHOT_SCALE)
        self._run_window()
        self.index = 1
        self.feed.window(1, window_sizes(1), REDELIVER_FRAC)
        self.feed.redeliver_unchanged()
        self._run_window()

    def step(self, clock) -> None:
        """One cycle of ``EMPTY_EVERY`` windows, one of them empty, so
        every run times the same mix of windows."""
        for _ in range(EMPTY_EVERY):
            self._step(clock)

    def _step(self, clock) -> None:
        self.index += 1
        sizes = window_sizes(self.index)
        delivered = self.feed.window(self.index, sizes, REDELIVER_FRAC)
        self.feed.redeliver_unchanged()
        op = {"id": f"w{self.index}", "new": bool(sizes), "entities": sorted(sizes),
              "rows": delivered["rows"], "bytes": delivered["bytes"], "ok": True}
        trace = self.tracer is not None
        if trace:
            self._before_traced(op)
            self.tracer.op_id = op["id"]
        t0 = clock()
        try:
            summary = self._run_window()
        except Exception as e:  # a failed window counts; the schedule goes on
            op.update(ok=False, error=f"{type(e).__name__}: {e}")
            summary = None
        op["s"] = clock() - t0
        if summary is not None and sizes:
            out_of_sync = [e for e, r in self.pipe.metrics.reconciliation.items() if not r["synced"]]
            if out_of_sync:
                op.update(ok=False, error=f"reconciliation out of sync: {out_of_sync}")
            elif summary["no_new_files"]:
                op.update(ok=False, error="new files delivered but the window was skipped")
        if trace:
            self.tracer.op_id = None
            self._after_traced(op)
        self.ops.append(op)

    def check(self) -> list[str]:
        fails = [f"{op['id']}: {op['error']}" for op in self.ops if not op["ok"]]
        fails += checks.production_counts(self.wh, self.feed.files)
        fails += checks.staging_last_writer(
            self.wh, self.feed.latest, {e: sorted(k) for e, k in self.feed.redelivered.items()})
        return fails

    @property
    def attempted(self) -> int:
        return len(self.ops) + len(ENTITIES) + sum(1 for k in self.feed.redelivered.values() if k)

    def end_to_end(self) -> dict[str, float]:
        new = [op for op in self.ops if op["new"]]
        return {
            "op_s_p50": median(op["s"] for op in new),
            "items_per_s": sum(op["rows"] for op in new) / sum(op["s"] for op in self.ops),
        }

    # -- traced run --------------------------------------------------------------
    def _before_traced(self, op: dict) -> None:
        self._snap = storage.scan(self.wh)
        op["prod_rows_start"] = storage.layer_rows(self.wh, self._snap, "production")
        csvs = [p for p in self.inputs.iterdir() if p.suffix == ".csv"]
        op["files_checked"] = len(csvs)
        op["bytes_checked"] = sum(p.stat().st_size for p in csvs)

    def _after_traced(self, op: dict) -> None:
        after = storage.scan(self.wh)
        written = storage.written(self.wh, self._snap, after)
        for layer in storage.LAYERS:
            for key in ("rows", "bytes", "files"):
                op[f"{layer}.{key}"] = sum(v[key] for (lay, _), v in written.items() if lay == layer)
        op["rederived_rows"] = sum(
            v["rows"] for (lay, ent), v in written.items()
            if lay == "transformed" and ent not in op["entities"])
        self._final_snap = after
        self.tracer.count_jobs()

    def per_layer(self) -> dict[str, float]:
        t = self.tracer
        new = [op for op in self.ops if op["new"]]
        empty = [op for op in self.ops if not op["new"]]
        selfs = t.self_times()
        out: dict[str, float] = {}

        def per_op(span: str, field=None) -> list[float]:
            spans = t.by_op(span)
            vals = []
            for op in new:
                ss = spans.get(op["id"], [])
                if field == "self":
                    vals.append(sum(selfs[s["id"]] for s in ss))
                elif field:
                    vals.append(sum(s[field] for s in ss))
                else:
                    vals.append(sum(s["end"] - s["start"] for s in ss))
            return vals

        for phase in ("extract", "transform", "load"):
            out[f"pipeline.{phase}_s"] = median(per_op(f"pipeline.{phase}"))
            out[f"pipeline.{phase}_self_s"] = median(per_op(f"pipeline.{phase}", "self"))
            for k in ("jobs", "stages", "tasks"):
                out[f"session.{phase}.{k}"] = median(per_op(f"pipeline.{phase}", k))
        out["pipeline.noop_window_s"] = median(op["s"] for op in empty)
        windows = t.by_op("pipeline.window")
        for k in ("jobs", "stages", "tasks"):
            out[f"session.noop.{k}"] = median(
                sum(s[k] for s in windows.get(op["id"], [])) for op in empty)
        out["ingest_log.check_s"] = median(per_op("ingest_log.check"))
        out["ingest_log.mark_s"] = median(per_op("ingest_log.mark"))
        out["ingest_log.files_checked"] = median(op["files_checked"] for op in new)
        out["ingest_log.files_new"] = median(len(op["entities"]) for op in new)
        out["ingest_log.bytes_checked"] = median(op["bytes_checked"] for op in new)
        out["ingest_log.useful_frac"] = median(op["bytes"] / op["bytes_checked"] for op in new)
        out["csv.rows_in"] = median(op["rows"] for op in new)
        out["csv.bytes_in"] = median(op["bytes"] for op in new)
        for layer in storage.LAYERS:
            out[f"warehouse.{layer}.write_s"] = median(per_op(f"warehouse.{layer}.write"))
            for key in ("rows", "bytes", "files"):
                out[f"warehouse.{layer}.{key}_written"] = median(op[f"{layer}.{key}"] for op in new)
            out[f"warehouse.{layer}.files_total"] = storage.files_total(self._final_snap, layer)
        out["warehouse.write_amp"] = median(
            sum(op[f"{lay}.bytes"] for lay in storage.LAYERS) / op["bytes"] for op in new)
        out["warehouse.space_amp"] = storage.bytes_total(self._final_snap) / sum(
            p.stat().st_size for p in self.feed.files)
        out["warehouse.transformed.rederived_rows_no_new_files"] = median(
            op["rederived_rows"] for op in new)
        out["plans.merge_s"] = median(per_op("plans.merge"))
        out["plans.incremental_s"] = median(per_op("plans.incremental"))
        out["plans.merge.rows_rewritten_per_delta_row"] = median(
            op["staging.rows"] / op["rows"] for op in new)
        out["plans.incremental.rows_scanned_per_row_appended"] = median(
            op["prod_rows_start"] / max(op["production.rows"], 1) for op in new)
        out["functions.transform_rows_per_s"] = median(
            op["transformed.rows"] / s for op, s in zip(new, per_op("pipeline.transform")))
        return out
