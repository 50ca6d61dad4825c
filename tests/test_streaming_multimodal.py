"""Structured Streaming front-end + multimodal plumbing tests."""

import pytest
from pyspark.sql import functions as F

from geopetl_spark import LakeTable
from geopetl_spark.functions import multimodal as MM
from geopetl_spark.sources.cdc_gen import write_cdc_log
from geopetl_spark.streaming.pipeline import IngestConfig, run_ingest
from geopetl_spark.streaming.stream_ingest import stream_ingest, windowed_counts_stream
from tests.test_cdc_engine import DOC_SCHEMA


def test_stream_ingest_matches_batch_ingest(spark, tmp_path):
    """readStream+foreachBatch front-end produces byte-identical final state
    to the batch epoch loop on the same log."""
    log = str(tmp_path / "log")
    write_cdc_log(spark, log, 3000, n_keys=150, events_per_epoch=1000)

    bt = str(tmp_path / "batch-lake")
    LakeTable(spark, bt).create(DOC_SCHEMA, key_col="doc_id", n_buckets=8)
    run_ingest(spark, IngestConfig(log_path=log, table_path=bt, checkpoint_path=str(tmp_path / "bck")))

    st = str(tmp_path / "stream-lake")
    LakeTable(spark, st).create(DOC_SCHEMA, key_col="doc_id", n_buckets=8)
    cfg = IngestConfig(log_path=log, table_path=st, checkpoint_path=str(tmp_path / "sck"))
    stream_ingest(spark, cfg, max_files_per_trigger=4)

    assert LakeTable(spark, bt).checksum() == LakeTable(spark, st).checksum()

    # restart the stream on the same checkpoint: no new data -> state unchanged
    cs = LakeTable(spark, st).checksum()
    stream_ingest(spark, cfg, max_files_per_trigger=4)
    assert LakeTable(spark, st).checksum() == cs


def test_windowed_counts_stream_matches_batch(spark, sf_dir):
    q = windowed_counts_stream(spark, f"{sf_dir}/events.parquet", window="1 hour", watermark="2 hours")
    q.awaitTermination()
    got = {
        (r["window"]["start"], r["event_type"]): r["n"]
        for r in spark.sql("select * from windowed_counts").collect()
    }
    want = {
        (r["ws"], r["event_type"]): r["n"]
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.date_trunc("hour", "ts").cast("timestamp").alias("ws"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0


@pytest.fixture()
def blobs(spark):
    rows = [
        (1, MM.make_fake_image(32, 16, seed=1)),
        (2, MM.make_fake_image(8, 8, seed=2)),
        (3, b"\x89PNG\r\n\x1a\nrealpngbytes"),  # real codec -> stub error path
        (4, None),
    ]
    return spark.createDataFrame(rows, "id long, blob binary")


def test_blob_metadata(blobs):
    out = {r["id"]: (r["blob_size"], r["blob_mime"]) for r in MM.attach_blob_metadata(blobs).collect()}
    assert out[1][1] == "image/x-fake"
    assert out[3][1] == "image/png"
    assert out[1][0] == 8 + 256  # header + payload
    assert out[4] == (None, "application/octet-stream")


def test_decode_images_stub(blobs):
    out = {r["id"]: r for r in MM.decode_images(blobs).collect()}
    assert (out[1]["width"], out[1]["height"]) == (32, 16)
    assert out[1]["decode_error"] is None and out[1]["mean_pixel"] > 0
    # PNG magic with garbage chunks: captured error, row survives
    # (poisoned blob doesn't kill the partition)
    assert out[3]["width"] is None and out[3]["decode_error"].startswith("ValueError")
    assert out[4]["decode_error"] is not None


def test_resize_and_frame_sample(blobs):
    resized = {r["id"]: r["blob"] for r in MM.resize_images(blobs, 4, 4).collect()}
    w, h, _ = MM._decode_fake(bytes(resized[1]))
    assert (w, h) == (4, 4)
    frames = MM.frame_sample_stub(blobs, every_n=16).collect()
    assert len(frames) > 1 and all(r["byte_offset"] >= 8 for r in frames)
