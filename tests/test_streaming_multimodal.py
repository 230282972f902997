"""Streaming AvailableNow ingestion (exactly-once per file) and
multimodal binary-column plumbing (mapInPandas feature extraction)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from python_etl_pipeline_spark.streaming import stream_ingest_available_now
from python_etl_pipeline_spark.llm.multimodal import (
    attach_binary_payload,
    extract_features,
    frame_sample,
    decode_real,
)

SCHEMA = T.StructType([
    T.StructField("id", T.StringType(), True),
    T.StructField("val", T.StringType(), True),
])


def test_stream_ingest_exactly_once(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.csv").write_text("id,val\n1,x\n2,y\n")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    stream_ingest_available_now(spark, str(src), SCHEMA, out, ckpt)
    assert spark.read.parquet(out).count() == 2

    # re-run with no new files: nothing re-ingested (checkpoint = tracker)
    stream_ingest_available_now(spark, str(src), SCHEMA, out, ckpt)
    assert spark.read.parquet(out).count() == 2

    # new file arrives: only it is ingested
    (src / "b.csv").write_text("id,val\n3,z\n")
    stream_ingest_available_now(spark, str(src), SCHEMA, out, ckpt)
    assert spark.read.parquet(out).count() == 3


def test_multimodal_plumbing(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    media = attach_binary_payload(docs, "text", "doc_id", mime="text/plain")
    assert dict(media.dtypes)["payload"] == "binary"

    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    by_id = {r["media_id"]: r for r in rows}
    sample = docs.select("doc_id", "text").first()
    import hashlib

    expected = hashlib.md5(sample["text"].encode()).hexdigest()
    assert by_id[sample["doc_id"]]["digest"] == expected
    assert by_id[sample["doc_id"]]["byte_len"] == len(sample["text"].encode())
    assert 0.0 <= by_id[sample["doc_id"]]["feat0"] <= 1.0

    sampled = frame_sample(media, every_nth=10)
    assert sampled.count() == 5


def test_decode_real_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_real(b"bytes")


def test_stream_upsert_batch_rerun_idempotent(spark, tmp_path):
    """foreachBatch may re-deliver a batch after a crash; the merge keyed
    on (pk, batch_id) must make the re-run a no-op, including when newer
    batches already landed in between."""
    from python_etl_pipeline_spark.plans import upsert_last_writer_wins
    from python_etl_pipeline_spark.sources.warehouse import Warehouse
    from pyspark.sql import functions as F

    wh = Warehouse(spark, str(tmp_path))

    def merge_batch(batch_df, batch_id):
        incoming = batch_df.withColumn("_batch_seq", F.lit(batch_id).cast("long"))
        if wh.exists("production", "items"):
            existing = wh.read("production", "items").withColumn(
                "_batch_seq", F.lit(-1).cast("long")
            )
            merged = upsert_last_writer_wins(
                existing, incoming, "id", "_batch_seq"
            ).localCheckpoint(eager=True)
        else:
            merged = incoming
        wh.overwrite(merged.drop("_batch_seq"), "production", "items")

    b0 = spark.createDataFrame([(1, "x"), (2, "y")], "id int, val string")
    b1 = spark.createDataFrame([(2, "y2"), (3, "z")], "id int, val string")
    merge_batch(b0, 0)
    merge_batch(b1, 1)
    snapshot = sorted(map(tuple, wh.read("production", "items").collect()))
    # the actual crash contract: the checkpoint re-delivers only the
    # LAST (uncommitted) batch — its re-run must be a no-op
    merge_batch(b1, 1)
    assert sorted(map(tuple, wh.read("production", "items").collect())) == snapshot
    # stronger property: a full in-order replay also converges (stale b0
    # values transiently win over the -1-seq snapshot but b1 re-corrects)
    merge_batch(b0, 0)
    merge_batch(b1, 1)
    assert sorted(map(tuple, wh.read("production", "items").collect())) == snapshot
    assert dict(snapshot) == {1: "x", 2: "y2", 3: "z"}


def test_sample_frames_skips_empty_payloads(spark):
    """Zero-byte (and null) payloads emit ZERO frames — the same edge a
    SQL twin's generate_series(0, floor((len-1)/stride)) produces, so
    operator and oracle agree by construction."""
    from python_etl_pipeline_spark.llm.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, bytearray(b"")), (2, None), (3, bytearray(b"x" * 70))],
        "media_id long, payload binary",
    )
    rows = sample_frames(df, stride=64, window=16).collect()
    assert {r["media_id"] for r in rows} == {3}
    assert sorted(r["frame_idx"] for r in rows) == [0, 1]


def test_frame_dedup_drops_later_duplicate_media(spark):
    """mm3 semantics on a planted fixture: media 2 repeats media 1's
    payload (every frame digest already owned by 1) -> dropped; media 3
    is unique -> kept; the first copy is always kept."""
    from python_etl_pipeline_spark.llm.multimodal import (
        attach_binary_payload, sample_frames,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "a" * 200), (2, "a" * 200), (3, "b" * 200)],
        "doc_id bigint, text string",
    )
    frames = sample_frames(attach_binary_payload(docs, "text", "doc_id")).select(
        "media_id", "frame_digest"
    )
    owner = frames.groupBy("frame_digest").agg(F.min("media_id").alias("o"))
    per = (
        frames.join(owner, "frame_digest")
        .groupBy("media_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("o") < F.col("media_id"), 1).otherwise(0)).alias("d"),
        )
        .select("media_id", (2 * F.col("d") < F.col("n")).alias("is_kept"))
    )
    kept = {r["media_id"]: r["is_kept"] for r in per.collect()}
    assert kept == {1: True, 2: False, 3: True}


def test_stream_frame_dedup_first_occurrence_wins(spark, tmp_path):
    """st4 shape: a media stream where file 2 replays file 1's payload —
    frames dedup on digest with bounded state; only first-seen frames
    survive, and the event-time column rides through the sampler."""
    import datetime

    from python_etl_pipeline_spark.streaming.file_stream import stream_frame_dedup
    from pyspark.sql import functions as F, types as T

    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("ingest_ts", T.TimestampType()),
    ])
    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    src = tmp_path / "media"
    src.mkdir()
    spark.createDataFrame(
        [(1, bytearray(b"A" * 130), t0)], schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [(2, bytearray(b"A" * 130), t0 + datetime.timedelta(minutes=1)),
         (3, bytearray(b"B" * 70), t0 + datetime.timedelta(minutes=2))],
        schema,
    ).coalesce(1).write.parquet(str(src / "b2"))

    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    deduped = stream_frame_dedup(stream, ts_col="ingest_ts")
    q = (
        deduped.writeStream.format("memory")
        .queryName("frame_dedup_sink")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM frame_dedup_sink").collect()
    # media 1: 3 frames of 'A'*130 -> ONE distinct digest (all windows
    # identical) -> 1 surviving row; media 2 replays it -> 0 rows;
    # media 3: 2 frames, both 'B'*16 windows -> 1 more distinct digest
    digests = {r["frame_digest"] for r in rows}
    assert len(digests) == len(rows)  # no digest survives twice
    assert {r["media_id"] for r in rows} <= {1, 3}
    assert all(r["ingest_ts"] is not None for r in rows)


def test_stream_block_index_admits_only_new_blocks(spark, tmp_path):
    """The block store grows with NEW content only: batch 2 re-ships
    some of batch 1's text, and the index admits exactly the blocks a
    full-corpus dedup would hold — no duplicates across batches, and
    redelivery of a batch never double-admits."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from python_etl_pipeline_spark.llm.multimodal import (
        attach_binary_payload,
        payload_blocks,
    )
    from python_etl_pipeline_spark.streaming.file_stream import (
        block_index_batch_writer,
        block_index_from_dir,
        stream_block_dedup_available_now,
    )

    schema = "doc_id long, text string"
    b1 = [(1, "a" * 64 + "b" * 64), (2, "c" * 64)]
    b2 = [(3, "a" * 64 + "d" * 64), (4, "c" * 64)]  # overlaps b1

    src = tmp_path / "src"
    src.mkdir()
    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    def write(path, rows):
        pq.write_table(
            pa.table(
                {
                    "doc_id": [r[0] for r in rows],
                    "text": [r[1] for r in rows],
                }
            ),
            path,
        )

    def full_blocks(rows):
        df = spark.createDataFrame(rows, schema)
        m = attach_binary_payload(df, "text", "doc_id")
        return {
            r["h"]
            for r in payload_blocks(m).select("h").distinct().collect()
        }

    write(str(src / "b1.parquet"), b1)
    stream_block_dedup_available_now(spark, str(src), schema, index_dir, ckpt)
    idx1 = {r["h"] for r in block_index_from_dir(spark, index_dir).collect()}
    assert idx1 == full_blocks(b1)

    write(str(src / "b2.parquet"), b2)
    stream_block_dedup_available_now(spark, str(src), schema, index_dir, ckpt)
    idx2 = block_index_from_dir(spark, index_dir)
    assert {r["h"] for r in idx2.collect()} == full_blocks(b1 + b2)
    # no hash stored twice across batch partitions
    raw = spark.read.parquet(index_dir)
    assert raw.count() == raw.select("h").distinct().count()

    # redelivery idempotency (direct writer call, same batch_id)
    step = block_index_batch_writer(spark, index_dir)
    before = raw.count()
    step(spark.createDataFrame(b2, schema), 1)
    assert spark.read.parquet(index_dir).count() == before
