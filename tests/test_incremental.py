"""Incremental layer tests: last-writer-wins merge, watermark/anti-join
append, count reconciliation, idempotent file ingestion, all-string CSV
read (FIXTURES.md cross-cutting requirements 3/4/5)."""

from __future__ import annotations

import csv as csvmod

from pyspark.sql import functions as F

from python_etl_pipeline_spark.plans import (
    upsert_last_writer_wins,
    incremental_append_watermark,
    incremental_append_antijoin,
    reconcile_counts,
)
from python_etl_pipeline_spark.sources import IngestLog, read_csv_all_string


def test_upsert_last_writer_wins(spark):
    existing = spark.createDataFrame(
        [("1", "old", 1), ("2", "old", 1)], ["pk", "v", "version"]
    )
    incoming = spark.createDataFrame(
        [("2", "new", 2), ("3", "new", 2)], ["pk", "v", "version"]
    )
    out = {r["pk"]: r["v"] for r in
           upsert_last_writer_wins(existing, incoming, "pk", "version").collect()}
    assert out == {"1": "old", "2": "new", "3": "new"}


def test_upsert_tiebreak_deterministic(spark):
    existing = spark.createDataFrame([("1", "a", 1, 10)], ["pk", "v", "version", "seq"])
    incoming = spark.createDataFrame([("1", "b", 1, 20)], ["pk", "v", "version", "seq"])
    out = upsert_last_writer_wins(existing, incoming, "pk", "version", tiebreak="seq").collect()
    assert out[0]["v"] == "b"  # same version: higher seq wins


def test_watermark_append(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], ["seq"])
    out = incremental_append_watermark(df, "seq", 6)
    assert sorted(r["seq"] for r in out.collect()) == [7, 8, 9]


def test_antijoin_append_and_reconcile(spark):
    incoming = spark.createDataFrame([(i,) for i in range(5)], ["pk"])
    target = spark.createDataFrame([(0,), (1,)], ["pk"])
    appended = incremental_append_antijoin(incoming, target, "pk")
    assert sorted(r["pk"] for r in appended.collect()) == [2, 3, 4]
    rep = reconcile_counts(incoming.count(), target.unionByName(appended).count())
    assert rep["synced"] and rep["difference"] == 0


def test_ingest_log_idempotency(spark, tmp_path):
    f = tmp_path / "customers_1.csv"
    f.write_text("customer_id,name\n1,a\n2,b\n")
    log = IngestLog(spark, str(tmp_path / "_ingest_log"))

    def new_files():  # path -> md5, as the pipeline's extract reads them
        return {r["path"]: r["file_hash"]
                for r in log.new_files_df([str(f)]).collect()}

    new = new_files()
    assert list(new) == [str(f)]
    log.mark_processed_batch([(str(f), 2)], hashes=new)
    # identical re-delivery -> skipped
    assert new_files() == {}
    # same name, changed content -> re-processed
    f.write_text("customer_id,name\n1,a\n2,b\n3,c\n")
    assert list(new_files()) == [str(f)]
    summary = log.summary().collect()[0]
    assert summary["n_files"] == 1 and summary["sum_records"] == 2


def test_ingest_log_batch_path_never_collects_log(spark, tmp_path):
    """new_files_df must stay distributed: building the candidate-vs-log
    anti-join may not pull the log (or anything else) to the driver, and
    the plan must be a LeftAnti join — the old implementation collected
    the whole log into a Python set per call."""
    from unittest import mock

    from pyspark.sql import DataFrame

    f = tmp_path / "a.csv"
    f.write_text("x\n1\n")
    log = IngestLog(spark, str(tmp_path / "_ingest_log"))
    log.mark_processed_batch([(str(f), 1)])

    def _banned(self, *a, **k):
        raise AssertionError("driver-side materialization while building the anti-join")

    with mock.patch.object(DataFrame, "collect", _banned), mock.patch.object(
        DataFrame, "toPandas", _banned
    ):
        df = log.new_files_df([str(f)])
    assert "LeftAnti" in df._jdf.queryExecution().executedPlan().toString()
    assert df.count() == 0  # identical content -> filtered by the join


def test_read_csv_all_string(spark, tmp_path):
    p = tmp_path / "branches.csv"
    with open(p, "w", newline="") as fh:
        w = csvmod.writer(fh)
        w.writerow(["branch_id", "branch_name", "city"])
        w.writerow(["QT0001", "Viswanathan, Singh and Bhattacharyya Branch", "Pune"])
        w.writerow(["QT0002", "", "Agra"])
    df = read_csv_all_string(spark, str(p), ["branch_id", "branch_name", "city"])
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string"] * 3
    rows = {r["branch_id"]: r for r in df.collect()}
    # quoted comma preserved; empty string stays empty (keep_default_na=False)
    assert rows["QT0001"]["branch_name"] == "Viswanathan, Singh and Bhattacharyya Branch"
    assert rows["QT0002"]["branch_name"] == ""


def test_apply_cdc_semantics(spark):
    from python_etl_pipeline_spark.plans import apply_cdc

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "val"]
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", "U", 1),   # update
            (4, "d", "I", 1),    # insert
            (3, None, "D", 1),   # delete
            (2, "b3", "U", 2),   # later update wins
            (5, "e", "I", 1),    # insert then delete: gone
            (5, None, "D", 2),
        ],
        ["id", "val", "op", "seq"],
    )
    out = {r["id"]: r["val"] for r in apply_cdc(snap, changes, "id", "seq").collect()}
    assert out == {1: "a", 2: "b3", 4: "d"}


def test_apply_cdc_matches_python_replay(spark):
    """Model-based check: a seeded random I/U/D feed applied via
    apply_cdc equals a sequential Python replay of the same events."""
    import random

    from python_etl_pipeline_spark.plans import apply_cdc

    rng = random.Random(42)
    snap_rows = [(k, f"v{k}") for k in range(0, 40, 2)]  # even keys exist
    events = []
    for seq in range(1, 201):
        k = rng.randrange(40)
        op = rng.choice(["I", "U", "D"])
        events.append((k, f"s{seq}", op, seq))

    state = dict(snap_rows)
    for k, val, op, _seq in events:  # already in seq order
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = val

    snap = spark.createDataFrame(snap_rows, "id int, val string")
    feed = spark.createDataFrame(events, "id int, val string, op string, seq int")
    got = {r["id"]: r["val"] for r in apply_cdc(snap, feed, "id", "seq").collect()}
    assert got == state


def test_cdc_signed_partials_retraction_to_zero(spark):
    """The retraction algebra's edge: a key whose every member is
    deleted folds to n_rows = 0 and must DROP from the maintained MV
    (the row no longer exists), while partially-retracted keys carry
    the exact post-CDC count/sum."""
    from pyspark.sql import functions as F

    from python_etl_pipeline_spark.plans import (
        cdc_signed_partials,
        merge_agg_state,
    )

    state = spark.createDataFrame(
        [("a", 2, 30.0), ("b", 1, 5.0)],
        "k string, n_rows long, sum_val double",
    )
    feed = spark.createDataFrame(
        [
            # key b fully retracted
            ("b", "D", 5.0, None),
            # key a: one delete (was 10), one update 20 -> 25, one insert 7
            ("a", "D", 10.0, None),
            ("a", "U", 20.0, 25.0),
            ("a", "I", None, 7.0),
        ],
        "k string, op string, old_val double, new_val double",
    )
    delta = cdc_signed_partials(feed, ["k"], sum_col="sum_val")
    merged = merge_agg_state(
        state, delta, ["k"], count_col="n_rows", sum_cols=["sum_val"]
    ).filter(F.col("n_rows") > 0)
    rows = {r["k"]: (r["n_rows"], r["sum_val"]) for r in merged.collect()}
    assert rows == {"a": (2, 32.0)}


def test_point_in_time_join_semantics(spark):
    """Each fact matches the SCD2 version valid AT its stamp; facts
    stamped after a key's deletion (no open interval) drop out; facts
    stamped before the key existed drop out."""
    from python_etl_pipeline_spark.plans import point_in_time_join

    hist = spark.createDataFrame(
        [
            # key 1: status A at [1,3), B at [3,open)
            (1, "A", 1, 3),
            (1, "B", 3, None),
            # key 2: deleted at version 2 -> only [1,2)
            (2, "C", 1, 2),
            # key 3: created at version 4
            (3, "D", 4, None),
        ],
        "id int, status string, valid_from int, valid_to int",
    )
    facts = spark.createDataFrame(
        [(1, 100, 1), (1, 101, 3), (1, 102, 9), (2, 103, 1), (2, 104, 2),
         (3, 105, 2), (3, 106, 4)],
        "id int, fact_id int, v int",
    )
    out = {
        r["fact_id"]: r["status"]
        for r in point_in_time_join(facts, hist, "id", "v").collect()
    }
    # 104 (after deletion) and 105 (before creation) must be absent
    assert out == {100: "A", 101: "B", 102: "B", 103: "C", 106: "D"}


def test_fk_integrity_audit_detects_breakage(spark, sf_dir):
    """i10 on the intact corpus: every relationship intact with zero
    orphans. And the detector actually DETECTS: dropping half the
    parent table must surface orphans for the child relationship
    (verified with the same anti-join construction)."""
    from pyspark.sql import functions as F

    from python_etl_pipeline_spark.queries import REGISTRY, _t

    rows = REGISTRY["i10_fk_integrity_audit"].spark(spark, sf_dir).collect()
    assert len(rows) == 4
    for r in rows:
        assert r["intact"] and r["n_orphans"] == 0, r
        assert r["n_child"] > 0

    orders = _t(spark, sf_dir, "orders")
    broken_parents = _t(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 2 == 0
    ).select("c_custkey")
    orphans = orders.join(
        broken_parents,
        orders["o_custkey"] == broken_parents["c_custkey"],
        "left_anti",
    ).count()
    assert orphans > 0

