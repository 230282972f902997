"""PK-bucketed staging merge and incremental re-transform.

Staging and transformed are partitioned by PK-range bucket from the
first load; every later batch rewrites ONLY the buckets it touches via
overwrite_partitions. These tests pin (a) cross-batch last-writer-wins
semantics across bucket boundaries, (b) that untouched buckets' parquet
files are literally not rewritten by an incremental batch, and (c) that
incremental content equals a one-shot run."""

from __future__ import annotations

import os

from python_etl_pipeline_spark.pipeline import Pipeline, _bucket_col

HEADER = (
    "customer_id,branch_id,first_name,last_name,dob,gender,email,phone,"
    "address,account_open_date\n"
)


def _cust_csv(rows):
    return HEADER + "".join(
        f"{cid},QT0001,{fn},x,2000-01-01,m,{fn}@x.com,1,addr,2020-01-15\n"
        for cid, fn in rows
    )


def _batch(tmp_path, name, rows):
    d = tmp_path / name
    d.mkdir(exist_ok=True)
    p = d / "customers_1.csv"
    p.write_text(_cust_csv(rows))
    return {"customers": [str(p)]}


def _staging_files(pipe, layer="staging"):
    root = pipe.wh.path(layer, "customers")
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, root)] = os.stat(p).st_mtime_ns
    return out


def test_incremental_merge_across_buckets(spark, tmp_path):
    """Batch 1 (first load, already bucketed) populates buckets 0 and 2
    (width 1e6); batch 2 adds a bucket-0 PK; batch 3 updates it and adds
    a bucket-9 PK — cross-batch last-writer must win, and bucket 2's
    parquet files must be byte-identical on disk (mtime-pinned) across
    both incremental batches, in staging and in transformed."""
    bucket = _bucket_col()
    wh = str(tmp_path / "wh")
    pipe = Pipeline(spark, wh)
    pipe.run_full(
        _batch(tmp_path, "b1", [(5, "alice"), (2_000_001, "carol")])
    )
    assert pipe.metrics.extracted["customers"] == 2
    assert bucket in pipe.wh.read("staging", "customers").columns
    assert bucket in pipe.wh.read("transformed", "customers").columns
    first = _staging_files(pipe)
    assert any(f"{bucket}=0" in k for k in first)
    assert any(f"{bucket}=2" in k for k in first)
    tf_first = _staging_files(pipe, "transformed")
    assert any(f"{bucket}=2" in k for k in tf_first)

    def bucket2(files):
        return {k: v for k, v in files.items() if f"{bucket}=2" in k}

    # batch 2: an ordinary incremental window — only bucket 0 touched
    pipe2 = Pipeline(spark, wh)
    pipe2.run_full(_batch(tmp_path, "b2", [(7, "bob")]))
    assert pipe2.metrics.extracted["customers"] == 3
    before = _staging_files(pipe2)
    tf_before = _staging_files(pipe2, "transformed")
    assert bucket2(before) == bucket2(first)
    assert bucket2(tf_before) == bucket2(tf_first)

    # batch 3: only buckets 0 and 9 are touched
    pipe3 = Pipeline(spark, wh)
    pipe3.run_full(
        _batch(tmp_path, "b3", [(7, "bob_v2"), (9_000_001, "dave")])
    )
    assert pipe3.metrics.extracted["customers"] == 4

    after = _staging_files(pipe3)
    assert bucket2(after) == bucket2(before)
    assert {k for k in before if f"{bucket}=0" in k} != {
        k for k in after if f"{bucket}=0" in k
    }
    # transformed bucket 2 untouched too (incremental re-transform)
    assert bucket2(_staging_files(pipe3, "transformed")) == bucket2(tf_before)

    staged = {
        r["customer_id"]: r["first_name"]
        for r in pipe3.wh.read("staging", "customers").collect()
    }
    assert staged == {
        "5": "alice", "7": "bob_v2", "2000001": "carol", "9000001": "dave"
    }
    tf = {
        r["customer_id"]: r["first_name"]
        for r in pipe3.wh.read("transformed", "customers").collect()
    }
    assert tf == {
        "5": "Alice", "7": "Bob_v2", "2000001": "Carol", "9000001": "Dave"
    }
    assert pipe3.metrics.transformed["customers"] == 4

    # production: append-only anti-join — one row per PK, no bucket col
    prod = pipe3.wh.read("production", "customers")
    assert not any(c.startswith("__pk_bucket") for c in prod.columns)
    assert prod.select("customer_id").distinct().count() == 4


def test_incremental_matches_oneshot(spark, tmp_path):
    """Three-batch incremental staging+transformed content == a
    one-shot run over the equivalent final state (later batches win on
    overlap) — the incremental batches must be invisible in the data."""
    wh_inc = str(tmp_path / "wh_inc")
    Pipeline(spark, wh_inc).run_full(
        _batch(tmp_path, "i1", [(1, "a"), (2, "b"), (3_000_000, "c")])
    )
    Pipeline(spark, wh_inc).run_full(
        _batch(tmp_path, "i2", [(2, "b2"), (4_000_000, "d")])
    )
    Pipeline(spark, wh_inc).run_full(
        _batch(tmp_path, "i3", [(4_000_000, "d2"), (5, "e")])
    )

    wh_one = str(tmp_path / "wh_one")
    Pipeline(spark, wh_one).run_full(
        _batch(
            tmp_path, "one",
            [(1, "a"), (2, "b2"), (3_000_000, "c"), (4_000_000, "d2"),
             (5, "e")],
        )
    )

    for layer in ("staging", "transformed"):
        inc = sorted(
            tuple(r)
            for r in Pipeline(spark, wh_inc).wh.read(layer, "customers")
            .drop(_bucket_col()).collect()
        )
        one = sorted(
            tuple(r)
            for r in Pipeline(spark, wh_one).wh.read(layer, "customers")
            .drop(_bucket_col()).collect()
        )
        assert inc == one, layer
