"""End-to-end pipeline test over messy banking CSVs (FIXTURES.md
patterns): extract -> staging, transform -> typed, load -> production,
idempotent re-run, incremental second batch."""

from __future__ import annotations

import datetime

import pytest

from python_etl_pipeline_spark.pipeline import Pipeline, _bucket_col

BRANCHES = (
    "branch_id,branch_name,city,state,manager_name\n"
    'QT0001,"Viswanathan, Singh and Bhattacharyya Branch",pune,Maharashtra,amit kumar\n'
    "QT0002,North Branch,delhi,Delhi,priya s\n"
    "QT0003,Odd Branch,agra,Agra,NaN\n"
)

CUSTOMERS = (
    "customer_id,branch_id,first_name,last_name,dob,gender,email,phone,address,account_open_date\n"
    '1,QT0001,asha,rao,27-07-78,f,ASHA@X.COM,9999999999,"60/736, Swamy Nagar",2020-01-15\n'
    "2,QT0002,vik,nair,31-09-45,male,V@X.COM,8888888888,addr,2019-06-01\n"
    "3,QT0001,dup,first,2000-01-01,NaN,d@x.com,77,addr,2024-01-01\n"
    "3,QT0001,dup,last,2000-01-01,NaN,d@x.com,77,addr,2024-01-01\n"
    ",QT0001,nopk,row,2000-01-01,m,n@x.com,1,addr,2024-01-01\n"
)

LOANS = (
    "loan_id,customer_id,loan_type,loan_amount,interest_rate,start_date,end_date,loan_status\n"
    "10,1,home,\"₹600,000.00\",8.5,15-01-20,15-01-2040,Active\n"
    "11,2,car,50000,9,01-03-22,01-03-24,Closed\n"
    "12,3,personal,NaN,10,NaN,NaN,NaN\n"
)

TRANSACTIONS = (
    "transaction_id,customer_id,transaction_date,transaction_type,amount,balance_after,fraud_flag\n"
    "100,1,2024-01-05,deposit,\"₹15,000\",20000,no\n"
    "101,2,2024-01-06,withdrawal,500,19500,TRUE\n"
)


def _write_files(tmp_path):
    files = {}
    for name, content in [
        ("branches", BRANCHES), ("customers", CUSTOMERS),
        ("loans", LOANS), ("transactions", TRANSACTIONS),
    ]:
        p = tmp_path / f"{name}_1.csv"
        p.write_text(content)
        files[name] = [str(p)]
    return files


def test_full_pipeline(spark, tmp_path):
    (tmp_path / "in").mkdir(exist_ok=True)
    files = _write_files(tmp_path / "in")
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    summary = pipe.run_full(files)

    # staging: all-string, PK-filtered (5 customer rows -> 4 after pk filter)
    staging_cust = pipe.wh.read("staging", "customers")
    assert staging_cust.count() == 3  # keep-last dedup of pk 3 + pk filter

    cust = {r["customer_id"]: r for r in pipe.wh.read("transformed", "customers").collect()}
    # 2-digit pivot: 27-07-78 -> 1978-07-27
    assert cust["1"]["dob"] == datetime.date(1978, 7, 27)
    assert cust["1"]["gender"] == "F"
    assert cust["1"]["email"] == "asha@x.com"
    assert cust["1"]["customer_segment"] in ("VIP", "Regular", "New")
    # impossible date 31-09-45 -> null dob, age 0
    assert cust["2"]["dob"] is None and cust["2"]["age"] == 0
    # extract's keep-last dedup: the later row of pk 3 wins
    assert cust["3"]["last_name"] == "Last"

    loans = {r["loan_id"]: r for r in pipe.wh.read("transformed", "loans").collect()}
    assert float(loans["10"]["loan_amount"]) == 600000.0
    assert loans["10"]["risk_category"] == "High"
    assert loans["10"]["loan_duration_months"] == 240  # 2020-01 -> 2040-01
    assert loans["12"]["loan_amount"] is not None and float(loans["12"]["loan_amount"]) == 0.0
    assert loans["12"]["loan_duration_months"] == 0

    txns = {r["transaction_id"]: r for r in pipe.wh.read("transformed", "transactions").collect()}
    assert float(txns["100"]["amount"]) == 15000.0
    assert txns["100"]["transaction_category"] == "Large"
    assert txns["100"]["fraud_flag"] is False
    assert txns["101"]["fraud_flag"] is True
    assert txns["100"]["transaction_type"] == "DEPOSIT"

    branches = {r["branch_id"]: r for r in pipe.wh.read("transformed", "branches").collect()}
    assert branches["QT0001"]["region"] == "West"   # MAHARASHTRA
    assert branches["QT0002"]["region"] == "North"  # DELHI
    assert branches["QT0003"]["region"] == "NA"     # city-in-state-column
    assert branches["QT0003"]["manager_name"] == "Na"  # sentinel -> NA -> title

    assert summary["status"] == "SUCCESS"
    assert summary["total_loaded"] == summary["total_transformed"]

    # the ingest log records each file's REAL raw record count (the
    # reference tracker's rows-per-file, extract.py:246-270): summing
    # the log must give the CSV data-row total, not 0 (the r6-verdict
    # defect: a real run used to log record_count=0 for every file)
    raw_rows = 3 + 5 + 3 + 2  # branches + customers + loans + transactions
    log1 = pipe.ingest_log.summary().first()
    assert log1["n_files"] == 4
    assert log1["sum_records"] == raw_rows

    # idempotent re-run: same files skipped, counts unchanged
    summary2 = pipe.run_full(files)
    assert pipe.wh.read("production", "customers").count() == 3
    assert summary2["status"] == "SUCCESS"
    log2 = pipe.ingest_log.summary().first()
    assert (log2["n_files"], log2["sum_records"]) == (4, raw_rows)

    # incremental batch: one new customer appended, existing not duplicated
    p2 = tmp_path / "in" / "customers_2.csv"
    p2.write_text(
        "customer_id,branch_id,first_name,last_name,dob,gender,email,phone,address,account_open_date\n"
        "4,QT0002,new,person,1990-05-05,F,p@x.com,123,addr,2023-03-03\n"
    )
    pipe.run_full({"customers": [str(files["customers"][0]), str(p2)]})
    assert pipe.wh.read("production", "customers").count() == 4
    # only the new file's (real) count is appended to the log
    log3 = pipe.ingest_log.summary().first()
    assert (log3["n_files"], log3["sum_records"]) == (5, raw_rows + 1)


CUST_HEADER = "customer_id,branch_id,first_name,last_name,dob,gender,email,phone,address,account_open_date\n"


def test_format_report_mirrors_reference_summary(spark, tmp_path):
    """M3 fidelity: the human-readable run report carries what the
    reference's log_pipeline_summary + per-phase formatters print —
    per-table lines per phase, phase totals, per-table sync status, an
    end-to-end status line, and per-phase durations."""
    (tmp_path / "in").mkdir(exist_ok=True)
    files = _write_files(tmp_path / "in")
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    summary = pipe.run_full(files)
    report = pipe.metrics.format_report(summary["phase_seconds"])
    text = "\n".join(report)
    for section in (
        "COMPLETE PIPELINE SUMMARY",
        "EXTRACTION PHASE:",
        "TRANSFORMATION PHASE:",
        "LOADING PHASE:",
        "SYNC STATUS:",
        "END-TO-END:",
        "DURATION:",
    ):
        assert section in text, section
    for t in ("branches", "customers", "loans", "transactions"):
        assert f"  {t}:" in text
    assert "TOTAL EXTRACTED:" in text and "TOTAL LOADED:" in text
    assert "OK synchronized" in text and "OUT OF SYNC" not in text
    assert f"END-TO-END: {summary['status']}" in text
    # first FULL load must be labeled full — the mode label reads the
    # recorded branch, not the mere presence of a reconciliation entry
    # (which both branches populate)
    assert "(full)" in text and "(incremental)" not in text
    # a re-run with a NEW file goes incremental (an identical re-run
    # would hash-skip transform/load entirely — tested separately)
    p2 = tmp_path / "in" / "customers_9.csv"
    p2.write_text(
        CUST_HEADER
        + "9,QT0002,ninth,person,1991-06-06,F,n@x.com,123,addr,2023-04-04\n"
    )
    files2 = dict(files)
    files2["customers"] = list(files["customers"]) + [str(p2)]
    summary2 = pipe.run_full(files2)
    assert summary2["no_new_files"] is False
    text2 = "\n".join(pipe.metrics.format_report(summary2["phase_seconds"]))
    assert "(incremental)" in text2 and "(full)" not in text2


def test_no_new_files_run_skips_transform_and_load(spark, tmp_path):
    """The reference's hash-skip (extract.py:494-496) as a phase
    short-circuit: a re-run whose every file is already in the ingest
    log skips transform/load — but ONLY when the previous run
    completed; a missing/stale success marker (crash between extract
    and load) forces the full phase sequence."""
    (tmp_path / "in").mkdir(exist_ok=True)
    files = _write_files(tmp_path / "in")
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    s1 = pipe.run_full(files)
    assert s1["no_new_files"] is False and "load" in s1["phase_seconds"]
    n_prod = pipe.wh.read("production", "customers").count()

    # identical re-run: nothing new + marker current -> phases skipped
    s2 = pipe.run_full(files)
    assert s2["no_new_files"] is True
    assert "transform" not in s2["phase_seconds"]
    assert s2["status"] == "SUCCESS"
    assert pipe.wh.read("production", "customers").count() == n_prod

    # crash simulation: marker behind the log (as if a run died after
    # extract logged files but before load finished) -> full run
    (tmp_path / "wh" / "_run_marker").write_text("0")
    s3 = pipe.run_full(files)
    assert s3["no_new_files"] is False and "load" in s3["phase_seconds"]
    assert pipe.wh.read("production", "customers").count() == n_prod


def test_qualified_uri_matches_input_file_name(spark, tmp_path):
    """The file-rank map and per-file record counts both key on
    input_file_name() equality; Hadoop Path.toString() (file:/a b) vs
    the URL-encoded URI (file:///a%20b) silently matches nothing, so
    pin the exact round-trip — including a path that needs encoding."""
    from pyspark.sql import functions as F

    from python_etl_pipeline_spark.sources.warehouse import Warehouse

    p = tmp_path / "has space" / "t.csv"
    p.parent.mkdir()
    p.write_text("a,b\n1,2\n")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    got = spark.read.csv(str(p), header=True).select(F.input_file_name()).first()[0]
    assert wh.qualified_uri(str(p)) == got


def test_cross_file_later_wins(spark, tmp_path):
    """O2 across files: the same PK in two files of one batch resolves to
    the LATER file in the batch list — by explicit file rank, not Spark's
    file-enumeration order (reference extract.py:389). The batch list
    deliberately orders the alphabetically-later name first."""
    pz = tmp_path / "z_first.csv"
    pa = tmp_path / "a_second.csv"
    pz.write_text(CUST_HEADER + "7,QT0001,from,zfile,2000-01-01,m,z@x.com,1,addr,2020-01-01\n")
    pa.write_text(CUST_HEADER + "7,QT0001,from,afile,2000-01-01,m,a@x.com,1,addr,2020-01-01\n")
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    pipe.run_extract({"customers": [str(pz), str(pa)]})
    rows = pipe.wh.read("staging", "customers").collect()
    assert len(rows) == 1
    assert rows[0]["last_name"] == "afile"  # later list position wins


def test_upsert_version_tie_incoming_wins(spark):
    """Equal version values must resolve to the incoming row (ON
    DUPLICATE KEY UPDATE overwrites unconditionally)."""
    from python_etl_pipeline_spark.plans import upsert_last_writer_wins

    existing = spark.createDataFrame([(1, "old", 5)], "pk int, val string, v int")
    incoming = spark.createDataFrame([(1, "new", 5)], "pk int, val string, v int")
    out = upsert_last_writer_wins(existing, incoming, "pk", "v").collect()
    assert len(out) == 1 and out[0]["val"] == "new"
    assert "__src" not in upsert_last_writer_wins(existing, incoming, "pk", "v").columns


def test_corrupt_staging_fails_loudly(spark, tmp_path):
    """A corrupt staged table must raise, not be silently treated as
    'first run' (which would discard previously staged rows)."""
    import pytest

    corrupt = tmp_path / "wh" / "staging" / "customers"
    corrupt.mkdir(parents=True)
    (corrupt / "part-00000.parquet").write_bytes(b"not a parquet file")
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    with pytest.raises(Exception):
        pipe._transform_entity("customers")


# ---------------------------------------------------------------------------
# Per-entity skip and the production layout
# ---------------------------------------------------------------------------

def _layer_files(pipe, layer, entity):
    """relative path -> (size, mtime_ns, md5) of every parquet file."""
    import hashlib
    import os

    root = pipe.wh.path(layer, entity)
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                st = os.stat(p)
                with open(p, "rb") as f:
                    digest = hashlib.md5(f.read()).hexdigest()
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns, digest)
    return out


def _deliver(files, entity, path, content):
    path.write_text(content)
    out = {e: list(ps) for e, ps in files.items()}
    out[entity] = out.get(entity, []) + [str(path)]
    return out


def _prod_ids(pipe, entity, layer="production"):
    from python_etl_pipeline_spark.schemas import PRIMARY_KEYS

    ids = [r[0] for r in pipe.wh.read(layer, entity).select(PRIMARY_KEYS[entity]).collect()]
    assert len(ids) == len(set(ids)), f"duplicate PKs in {layer}.{entity}"
    return set(ids)


def test_window_transforms_and_loads_only_entities_with_new_files(spark, tmp_path):
    """A window that delivers only a customers file transforms and loads
    only customers: the other entities' transformed and production files
    stay byte-for-byte on disk, and production counts stay exact."""
    (tmp_path / "in").mkdir()
    files = _write_files(tmp_path / "in")
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    pipe.run_full(files)
    others = ("branches", "loans", "transactions")
    before = {(lay, e): _layer_files(pipe, lay, e)
              for lay in ("transformed", "production") for e in others}

    files = _deliver(files, "customers", tmp_path / "in" / "customers_2.csv", CUST_HEADER
                     + "4,QT0002,new,person,1990-05-05,F,p@x.com,123,addr,2023-03-03\n"
                     + "2,QT0002,vik,changed,1945-01-01,male,v@x.com,1,addr,2019-06-01\n")
    s = pipe.run_full(files)

    assert s["no_new_files"] is False
    assert s["skipped_entities"] == list(others)
    assert set(pipe.metrics.transformed) == set(pipe.metrics.loaded) == {"customers"}
    assert pipe.metrics.reconciliation["customers"]["synced"]
    for (lay, e), snap in before.items():
        assert _layer_files(pipe, lay, e) == snap, f"{lay}.{e} was rewritten"
    assert _prod_ids(pipe, "customers") == {"1", "2", "3", "4"}
    assert _prod_ids(pipe, "branches") == {"QT0001", "QT0002", "QT0003"}
    assert _prod_ids(pipe, "loans") == {"10", "11", "12"}
    assert _prod_ids(pipe, "transactions") == {"100", "101"}
    staged = {r["customer_id"]: r["last_name"] for r in pipe.wh.read("staging", "customers").collect()}
    assert staged["2"] == "changed"
    # one row per PK in staging: the transform relies on it and dedups nothing
    assert _prod_ids(pipe, "customers", "staging") == {"1", "2", "3", "4"}
    for e in others:
        _prod_ids(pipe, e, "staging")


def test_crashed_run_heals_every_entity(spark, tmp_path, monkeypatch):
    """A crash after extract leaves the success marker behind the ingest
    log. The next window then runs every entity, re-transforming each
    from all of staging, so the crashed run's staged rows reach
    production even when they sit in a PK bucket this window does not
    touch (bucket width 1e6: id 2000001 is bucket 2, ids 4 and 6 are
    bucket 0)."""
    import pytest

    (tmp_path / "in").mkdir()
    files = _write_files(tmp_path / "in")
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    pipe.run_full(files)
    # a normal window merges into customers' bucket 0
    files = _deliver(files, "customers", tmp_path / "in" / "customers_2.csv", CUST_HEADER
                     + "4,QT0002,four,x,1990-05-05,F,a@x.com,1,addr,2023-03-03\n")
    pipe.run_full(files)

    def crash(*_a, **_k):
        raise RuntimeError("simulated crash after extract")

    files = _deliver(files, "customers", tmp_path / "in" / "customers_3.csv", CUST_HEADER
                     + "2000001,QT0002,crashed,x,1990-05-05,F,b@x.com,1,addr,2023-03-03\n")
    monkeypatch.setattr(pipe, "run_transform", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run_full(files)
    monkeypatch.undo()
    assert "2000001" not in _prod_ids(pipe, "customers")

    branches_before = _layer_files(pipe, "transformed", "branches")
    files = _deliver(files, "customers", tmp_path / "in" / "customers_4.csv", CUST_HEADER
                     + "6,QT0002,six,x,1990-05-05,F,c@x.com,1,addr,2023-03-03\n")
    s = pipe.run_full(files)
    assert s["skipped_entities"] == []
    assert set(pipe.metrics.loaded) == {"branches", "customers", "loans", "transactions"}
    assert _layer_files(pipe, "transformed", "branches") != branches_before
    assert _prod_ids(pipe, "customers") == {"1", "2", "3", "4", "2000001", "6"}
    # healed: the marker is current again, so a re-run skips everything
    assert pipe.run_full(files)["no_new_files"] is True


@pytest.mark.parametrize(
    "stop_at", ["staging_write", "transform", "production_append", "standalone_extract"]
)
def test_unfinished_run_heals_on_next_window(spark, tmp_path, monkeypatch, stop_at):
    """A run that changed staging and did not finish its load (a crash
    after one staging write, in transform, or after the first production
    append; or a standalone extract) is healed by the next window, on a
    fresh Pipeline: every entity runs, production holds exactly the
    distinct valid PKs delivered, staging and transformed the
    last-delivered values, and the window after that skips everything."""
    from python_etl_pipeline_spark.schemas import LOAD_ORDER

    (tmp_path / "in").mkdir()
    files = _write_files(tmp_path / "in")
    wh = str(tmp_path / "wh")
    pipe = Pipeline(spark, wh)
    pipe.run_full(files)
    # re-delivers customer 2, adds one in another bucket and a transaction
    files = _deliver(files, "customers", tmp_path / "in" / "customers_2.csv", CUST_HEADER
                     + "2,QT0002,vik,crashed,1945-01-01,male,v@x.com,1,addr,2019-06-01\n"
                     + "2000001,QT0002,far,x,1990-05-05,F,f@x.com,1,addr,2023-03-03\n")
    files = _deliver(files, "transactions", tmp_path / "in" / "transactions_2.csv",
                     TRANSACTIONS.splitlines()[0] + "\n102,2,2024-02-01,deposit,10,10,no\n")

    def crash_after(sink, layer):
        orig = getattr(pipe.wh, sink)

        def write_then_crash(df, lay, *a, **k):
            orig(df, lay, *a, **k)
            if lay == layer:
                raise RuntimeError("simulated crash")
        monkeypatch.setattr(pipe.wh, sink, write_then_crash)

    def crash(*_a, **_k):
        raise RuntimeError("simulated crash")

    if stop_at == "standalone_extract":
        pipe.run_extract(files)
    else:
        if stop_at == "staging_write":
            crash_after("overwrite_partitions", "staging")
        elif stop_at == "transform":
            monkeypatch.setattr(pipe, "run_transform", crash)
        else:
            crash_after("append", "production")
        with pytest.raises(RuntimeError, match="simulated crash"):
            pipe.run_full(files)
        monkeypatch.undo()

    files = _deliver(files, "customers", tmp_path / "in" / "customers_3.csv", CUST_HEADER
                     + "5,QT0001,five,x,1990-05-05,F,g@x.com,1,addr,2023-03-03\n")
    healer = Pipeline(spark, wh)
    s = healer.run_full(files)
    assert s["skipped_entities"] == []
    assert all(r["synced"] for r in healer.metrics.reconciliation.values())
    assert _prod_ids(healer, "customers") == {"1", "2", "3", "2000001", "5"}
    assert _prod_ids(healer, "transactions") == {"100", "101", "102"}
    assert _prod_ids(healer, "branches") == {"QT0001", "QT0002", "QT0003"}
    assert _prod_ids(healer, "loans") == {"10", "11", "12"}
    for e in LOAD_ORDER:
        _prod_ids(healer, e, "staging")
    staged = {r["customer_id"]: r["last_name"] for r in healer.wh.read("staging", "customers").collect()}
    assert staged["2"] == "crashed" and set(staged) == {"1", "2", "3", "2000001", "5"}
    typed = {r["customer_id"]: r["last_name"] for r in healer.wh.read("transformed", "customers").collect()}
    assert typed["2"] == "Crashed"
    assert healer.run_full(files)["no_new_files"] is True


def test_reused_pipeline_does_not_retransform_entity_without_new_files(spark, tmp_path):
    """On one Pipeline object, an entity that had new files in one window
    and none in the next is not re-transformed in the second (its
    touched buckets from the first window are not reused)."""
    (tmp_path / "in").mkdir()
    files = _write_files(tmp_path / "in")
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    pipe.run_full(files)
    files = _deliver(files, "customers", tmp_path / "in" / "customers_2.csv", CUST_HEADER
                     + "4,QT0002,four,x,1990-05-05,F,a@x.com,1,addr,2023-03-03\n")
    pipe.run_full(files)
    cust_before = _layer_files(pipe, "transformed", "customers")

    files = _deliver(files, "loans", tmp_path / "in" / "loans_2.csv",
                     LOANS.splitlines()[0] + "\n13,4,car,1000,9,01-03-22,01-03-24,Active\n")
    s = pipe.run_full(files)
    assert "customers" in s["skipped_entities"]
    assert pipe._touched_buckets["customers"] is None
    assert set(pipe.metrics.transformed) == {"loans"}
    assert _layer_files(pipe, "transformed", "customers") == cust_before
    assert _prod_ids(pipe, "loans") == {"10", "11", "12", "13"}


def test_production_append_is_unpartitioned(spark, tmp_path):
    """Production holds one layout for every entity: no per-year
    directories, at most one file per shuffle partition per window, and
    the transformed schema minus the staging bucket column."""
    import os

    header = TRANSACTIONS.splitlines()[0] + "\n"
    (tmp_path / "in").mkdir()
    files = _write_files(tmp_path / "in")
    files = _deliver(files, "transactions", tmp_path / "in" / "transactions_2.csv", header
                     + "102,1,1961-02-03,deposit,10,10,no\n"
                     + "103,2,1999-12-31,withdrawal,20,30,no\n")
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    pipe.run_full(files)
    first = _layer_files(pipe, "production", "transactions")

    files = _deliver(files, "transactions", tmp_path / "in" / "transactions_3.csv", header
                     + "104,1,1965-01-01,deposit,1,1,no\n"
                     + "105,1,1987-06-30,deposit,2,2,no\n"
                     + "106,2,2010-10-10,deposit,3,3,yes\n")
    pipe.run_full(files)
    after = _layer_files(pipe, "production", "transactions")

    root = pipe.wh.path("production", "transactions")
    assert not any(d.startswith("transaction_year=") for d in os.listdir(root))
    added = set(after) - set(first)
    assert 1 <= len(added) <= int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _prod_ids(pipe, "transactions") == {str(i) for i in range(100, 107)}
    tf = pipe.wh.read("transformed", "transactions").drop(_bucket_col())
    prod = pipe.wh.read("production", "transactions")
    assert [(f.name, f.dataType) for f in prod.schema] == [(f.name, f.dataType) for f in tf.schema]


def test_load_refuses_year_partitioned_production(spark, tmp_path):
    """A production table written with the older year-partitioned layout
    must fail the load loudly: an unpartitioned append into partition
    directories is silently dropped by later reads."""
    import pytest
    from pyspark.sql import functions as F

    (tmp_path / "in").mkdir()
    files = _write_files(tmp_path / "in")
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    pipe.run_extract(files)
    pipe.run_transform(["transactions"])
    old = pipe.wh.read("transformed", "transactions").drop(_bucket_col())
    pipe.wh.append(old.withColumn("transaction_year", F.year("transaction_date")),
                   "production", "transactions", partition_by=["transaction_year"])
    with pytest.raises(ValueError, match="transaction_year"):
        pipe.run_load(["transactions"])


def _warehouse_files(pipe):
    """(layer, entity) -> _layer_files for every staging, transformed and
    production table."""
    from python_etl_pipeline_spark.schemas import LOAD_ORDER

    return {(lay, e): _layer_files(pipe, lay, e)
            for lay in ("staging", "transformed", "production") for e in LOAD_ORDER}


def test_run_refuses_unpartitioned_staging(spark, tmp_path):
    """A staging table written unpartitioned, as an older build did,
    fails the run before any file is written: a partition overwrite into
    it would leave the old rows beside the merged ones."""
    import pytest
    from python_etl_pipeline_spark.schemas import STAGING_COLUMNS
    from python_etl_pipeline_spark.sources import read_csv_all_string

    (tmp_path / "in").mkdir()
    files = _write_files(tmp_path / "in")
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    old = read_csv_all_string(spark, files["customers"], STAGING_COLUMNS["customers"])
    pipe.wh.overwrite(old, "staging", "customers")
    before = _warehouse_files(pipe)
    with pytest.raises(ValueError, match=r"staging\.customers"):
        pipe.run_full({"customers": files["customers"]})
    assert _warehouse_files(pipe) == before
    assert before[("staging", "customers")]


def test_run_refuses_staging_of_another_bucket_width(spark, tmp_path, monkeypatch):
    """The partition column's name carries the bucket width: after a
    width change, a window refuses the warehouse instead of writing a
    second bucketing of the same PKs into staging."""
    import pytest
    from python_etl_pipeline_spark import pipeline

    (tmp_path / "in").mkdir()
    files = _write_files(tmp_path / "in")
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    pipe.run_full(files)
    before = _warehouse_files(pipe)
    files = _deliver(files, "customers", tmp_path / "in" / "customers_2.csv", CUST_HEADER
                     + "4,QT0002,four,x,1990-05-05,F,a@x.com,1,addr,2023-03-03\n")
    monkeypatch.setattr(pipeline, "_PK_BUCKET_WIDTH", 1000)
    with pytest.raises(ValueError, match=r"staging\.customers"):
        pipe.run_full(files)
    after = _warehouse_files(pipe)
    assert after == before
    assert all(after[("staging", e)] for e in ("branches", "customers", "loans", "transactions"))


def test_interrupted_partition_commit_rolls_forward(spark, tmp_path, monkeypatch):
    """Spark commits a dynamic partition overwrite by deleting each final
    partition and then renaming ``.spark-staging-<job>/<part>`` into its
    place. A crash between the two leaves the bucket only in the staging
    directory; the next window rolls it forward before extract reads
    staging, so no staged row is lost."""
    import os
    import shutil

    (tmp_path / "in").mkdir()
    files = _write_files(tmp_path / "in")
    wh = str(tmp_path / "wh")
    pipe = Pipeline(spark, wh)
    pipe.run_full(files)
    files = _deliver(files, "customers", tmp_path / "in" / "customers_2.csv", CUST_HEADER
                     + "4,QT0002,four,x,1990-05-05,F,a@x.com,1,addr,2023-03-03\n")
    root = tmp_path / "wh" / "staging" / "customers"
    part = f"{_bucket_col()}=0"  # every customer id is in bucket 0
    orig = pipe.wh.overwrite_partitions

    def commit_interrupted(df, layer, table, *a, **k):
        orig(df, layer, table, *a, **k)
        if (layer, table) == ("staging", "customers"):
            (root / ".spark-staging-x").mkdir()
            shutil.move(str(root / part), str(root / ".spark-staging-x" / part))
            raise RuntimeError("simulated crash")

    monkeypatch.setattr(pipe.wh, "overwrite_partitions", commit_interrupted)
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run_full(files)
    monkeypatch.undo()

    files = _deliver(files, "customers", tmp_path / "in" / "customers_3.csv", CUST_HEADER
                     + "5,QT0001,five,x,1990-05-05,F,g@x.com,1,addr,2023-03-03\n")
    healer = Pipeline(spark, wh)
    s = healer.run_full(files)
    assert _prod_ids(healer, "customers", "staging") == {"1", "2", "3", "4", "5"}
    assert s["status"] == "SUCCESS"
    assert all(r["synced"] for r in healer.metrics.reconciliation.values())
    assert _prod_ids(healer, "customers") == {"1", "2", "3", "4", "5"}
    assert not any(n.startswith(".spark-staging") for n in os.listdir(root))
    assert healer.run_full(files)["no_new_files"] is True


@pytest.mark.parametrize("entity", ["branches", "customers", "loans", "transactions"])
def test_transform_output_matches_declared_schema(spark, entity):
    """Every warehouse read pins the declared schema instead of inferring
    it, so each transform's output must be exactly TRANSFORMED_SCHEMAS
    plus the bucket column, name for name and type for type."""
    from pyspark.sql import types as T

    from python_etl_pipeline_spark.pipeline import ENTITY_TRANSFORMS
    from python_etl_pipeline_spark.schemas import TRANSFORMED_SCHEMAS, staging_schema

    bucket = T.StructField(_bucket_col(), T.LongType())
    empty = spark.createDataFrame([], T.StructType(staging_schema(entity).fields + [bucket]))
    got = [(f.name, f.dataType) for f in ENTITY_TRANSFORMS[entity](empty).schema]
    want = [(f.name, f.dataType) for f in TRANSFORMED_SCHEMAS[entity].fields + [bucket]]
    assert got == want


def _assert_counts_are_table_counts(pipe, delivered):
    """The run's metrics, footer-summed, equal a full count of each table."""
    def count(layer, e):
        return pipe.wh.read(layer, e).count()

    for e in delivered:
        assert pipe.metrics.extracted[e] == count("staging", e), e
    assert set(pipe.metrics.loaded) == set(pipe.metrics.transformed)
    for e, n in pipe.metrics.transformed.items():
        assert n == count("transformed", e), e
        prod = count("production", e)
        rec = pipe.metrics.reconciliation[e]
        assert pipe.metrics.loaded[e] == rec["target_count"] == prod, e
        assert rec["source_count"] == n, e


def test_footer_counts_equal_table_counts(spark, tmp_path, monkeypatch):
    """After incremental windows and after a heal, every metric the run
    reports is the full table's row count."""
    (tmp_path / "in").mkdir()
    files = _write_files(tmp_path / "in")
    wh = str(tmp_path / "wh")
    pipe = Pipeline(spark, wh)
    pipe.run_full(files)
    _assert_counts_are_table_counts(pipe, list(files))
    files = _deliver(files, "customers", tmp_path / "in" / "customers_2.csv", CUST_HEADER
                     + "4,QT0002,four,x,1990-05-05,F,a@x.com,1,addr,2023-03-03\n"
                     + "2,QT0002,vik,changed,1945-01-01,male,v@x.com,1,addr,2019-06-01\n"
                     + "2000001,QT0002,far,x,1990-05-05,F,f@x.com,1,addr,2023-03-03\n")
    files = _deliver(files, "transactions", tmp_path / "in" / "transactions_2.csv",
                     TRANSACTIONS.splitlines()[0] + "\n102,2,2024-02-01,deposit,10,10,no\n")
    pipe.run_full(files)
    _assert_counts_are_table_counts(pipe, ["customers", "transactions"])

    def crash(*_a, **_k):
        raise RuntimeError("simulated crash")

    files = _deliver(files, "loans", tmp_path / "in" / "loans_2.csv",
                     LOANS.splitlines()[0] + "\n13,4,car,1000,9,01-03-22,01-03-24,Active\n")
    monkeypatch.setattr(pipe, "run_transform", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run_full(files)
    monkeypatch.undo()
    files = _deliver(files, "customers", tmp_path / "in" / "customers_3.csv", CUST_HEADER
                     + "5,QT0001,five,x,1990-05-05,F,g@x.com,1,addr,2023-03-03\n")
    healer = Pipeline(spark, wh)
    s = healer.run_full(files)
    assert s["skipped_entities"] == [] and s["status"] == "SUCCESS"
    # loans_2 was extracted and logged by the crashed run
    _assert_counts_are_table_counts(healer, ["customers"])
    assert set(healer.metrics.loaded) == {"branches", "customers", "loans", "transactions"}


def _max_job_id(spark):
    ids = spark.sparkContext._jsc.statusTracker().getJobIdsForGroup(None)
    return spark.sparkContext._jvm.java.util.Arrays.stream(ids).max().orElse(-1)


def test_row_count_skips_what_spark_listing_skips(spark, tmp_path):
    """A parquet file left under ``.spark-staging-*`` or ``_temporary`` is
    not part of the table: Spark's reads skip it, and so does the footer
    count."""
    import os
    import shutil

    (tmp_path / "in").mkdir()
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    pipe.run_full(_write_files(tmp_path / "in"))
    root = pipe.wh.path("staging", "customers")
    data = next(os.path.join(d, n) for d, _s, ns in os.walk(root)
                for n in ns if n.endswith(".parquet"))
    for leftover in (f".spark-staging-x/{_bucket_col()}=0", "_temporary/0"):
        os.makedirs(os.path.join(root, leftover))
        shutil.copy(data, os.path.join(root, leftover, "part-leftover.parquet"))
    assert pipe.wh.read("staging", "customers").count() == 3
    assert pipe.wh.row_count("staging", "customers") == 3


def test_layout_guard_and_footer_count_run_no_spark_job(spark, tmp_path):
    """The layout guard lists directories and reads with a pinned schema,
    and the footer count reads Parquet footers on the driver: none of
    them starts a Spark job."""
    from python_etl_pipeline_spark.pipeline import _read_schema

    (tmp_path / "in").mkdir()
    pipe = Pipeline(spark, str(tmp_path / "wh"))
    pipe.run_full(_write_files(tmp_path / "in"))
    before = _max_job_id(spark)
    for e in ("branches", "customers", "loans", "transactions"):
        for layer in ("staging", "transformed"):
            assert pipe._bucketed(layer, e) is not None
        pipe.wh.read("production", e, schema=_read_schema("production", e))
        for layer in ("staging", "transformed", "production"):
            assert pipe.wh.row_count(layer, e) > 0
    assert _max_job_id(spark) == before
