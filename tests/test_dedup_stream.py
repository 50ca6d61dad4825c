"""Streaming exact dedup (dropDuplicatesWithinWatermark): cross-micro-batch
duplicates within the watermark horizon are dropped; result matches the
batch distinct-on-key."""

import sys
import datetime as dt

sys.path.insert(0, ".")
from geopetl_spark.streaming.dedup_stream import dedup_stream  # noqa: E402


def test_dedup_stream_matches_batch_distinct(spark, tmp_path):
    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows_a = [(i, base + dt.timedelta(minutes=i), f"v{i}") for i in range(50)]
    # second file: 30 duplicates of the first batch + 10 fresh keys, all
    # inside the 2h watermark horizon
    rows_b = [(i, base + dt.timedelta(minutes=i + 1), f"dup{i}") for i in range(30)]
    rows_b += [(100 + i, base + dt.timedelta(minutes=i), f"v{100+i}") for i in range(10)]
    src = str(tmp_path / "src")
    schema = "event_id long, ts timestamp, payload string"
    spark.createDataFrame(rows_a, schema).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(rows_b, schema).coalesce(1).write.mode("append").parquet(src)

    # default (production) surface: a streaming DataFrame for the caller's sink
    streaming_df = dedup_stream(spark, src, keys=["event_id"], watermark="2 hours")
    assert streaming_df.isStreaming

    q = dedup_stream(spark, src, keys=["event_id"], watermark="2 hours",
                     query_name="dd_test", max_files_per_trigger=1, sink="memory")
    q.awaitTermination()
    got = spark.table("dd_test").select("event_id")
    assert got.count() == 60                      # 50 + 10 fresh, 30 dups dropped
    assert got.distinct().count() == 60
    batch_keys = {r.event_id for r in spark.read.parquet(src).select("event_id").distinct().collect()}
    assert {r.event_id for r in got.collect()} == batch_keys


def test_dedup_stream_foreachbatch_into_lake(spark, tmp_path):
    """The PRODUCTION sink path now that dedup_stream returns a streaming
    frame: watermarked stream dedup -> foreachBatch -> exactly-once lake
    MERGE. Final lake state must equal a batch ingest of the distinct
    events."""
    from pyspark.sql import functions as F

    from geopetl_spark import LakeTable
    from tests.test_cdc_engine import DOC_SCHEMA

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        ("I", i, f"k{i % 20}", [i], 1, "s", base + dt.timedelta(minutes=i)) for i in range(40)
    ]
    rows += rows[:15]  # duplicate deliveries inside the watermark horizon
    src = str(tmp_path / "cdc_src")
    schema = "op string, lsn long, doc_id string, tokens array<int>, n_tok int, source string, ts timestamp"
    spark.createDataFrame(rows, schema).coalesce(2).write.mode("overwrite").parquet(src)

    tp = str(tmp_path / "lake")
    LakeTable(spark, tp).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    table = LakeTable(spark, tp)

    stream = dedup_stream(spark, src, keys=["doc_id", "lsn"], watermark="2 hours")

    def apply_batch(batch, epoch_id):
        table.merge(batch, epoch_id=epoch_id, lsn_col="lsn", op_col="op")

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # batch truth: latest lsn per key over the distinct event set
    from geopetl_spark.operators.dedup_cdc import event_order, latest_per_key

    distinct = spark.read.parquet(src).dropDuplicates(["doc_id", "lsn"])
    truth = latest_per_key(distinct, "doc_id", event_order(distinct, lsn_col="lsn", op_col="op"))
    got = {r.doc_id: r.tokens for r in table.read().collect()}
    want = {r.doc_id: r.tokens for r in truth.collect()}
    assert got == want and len(got) == 20
