"""CDC engine tests — the north rule's correctness contract.

Carry-overs from the reference's test strategy (SURVEY §5: round-trip
fidelity, write-without-key, null handling, idempotent re-read) plus the
CDC-specific cases the north rule adds: out-of-order LSN dedup, exactly-once
re-commit of the same epoch, additive schema evolution, skew salting
correctness, checkpointed replay reproducing byte-identical state.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geopetl_spark import LakeTable, generate_cdc_events
from geopetl_spark.operators.dedup_cdc import (
    dedup_exact_events,
    latest_per_key,
    latest_per_key_window,
)
from geopetl_spark.sources.cdc_gen import write_cdc_log
from geopetl_spark.streaming.checkpoint import Checkpoint
from geopetl_spark.streaming.lineage import LineageLog
from geopetl_spark.streaming.pipeline import IngestConfig, run_ingest

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)

N_EVENTS = 4000
N_KEYS = 250
EPB = 1000  # events per epoch


@pytest.fixture(scope="module")
def events(spark):
    df = generate_cdc_events(
        spark, N_EVENTS, n_keys=N_KEYS, n_hot=3, hot_fraction=0.3, events_per_epoch=EPB
    ).cache()
    df.count()
    yield df
    df.unpersist()


def expected_final_state(events):
    """Oracle final state computed the 'obvious' way: drop duplicate
    deliveries, take the max-LSN event per key, drop deletes."""
    latest = latest_per_key_window(dedup_exact_events(events))
    return latest.filter(F.col("op") != "D").select("doc_id", "tokens", "n_tok", "source")


def rows_by_key(df):
    return {r["doc_id"]: (list(r["tokens"] or []), r["n_tok"], r["source"]) for r in df.collect()}


def test_generator_determinism(spark):
    a = generate_cdc_events(spark, 1000, n_keys=50).collect()
    b = generate_cdc_events(spark, 1000, n_keys=50).collect()
    assert a == b
    c = generate_cdc_events(spark, 1000, n_keys=50, seed=7).collect()
    assert a != c


def test_generator_planted_properties(spark, events):
    # duplicates exist (at-least-once transport)
    total = events.count()
    distinct_lsn = events.select("lsn").distinct().count()
    assert total > distinct_lsn == N_EVENTS
    # hot keys are hot
    top = events.groupBy("doc_id").count().orderBy(F.desc("count")).first()
    assert top["count"] > 3 * (total / N_KEYS)
    # arrival order is not LSN order
    first_rows = events.limit(50).select("lsn").collect()
    lsns = [r[0] for r in first_rows]
    assert lsns != sorted(lsns)


def test_salted_dedup_matches_window_dedup(events):
    a = rows_by_key(latest_per_key(events).select("doc_id", "tokens", "n_tok", "source"))
    b = rows_by_key(
        latest_per_key_window(dedup_exact_events(events)).select("doc_id", "tokens", "n_tok", "source")
    )
    assert a == b


def test_merge_final_state_token_equality(spark, events, tmp_lake):
    """Per-row token-array equality vs the oracle final state (the
    BASELINE.json input_hint invariant)."""
    t = LakeTable(spark, tmp_lake).create(DOC_SCHEMA, key_col="doc_id", n_buckets=16)
    for e in range(N_EVENTS // EPB):
        t.merge(events.filter(F.col("epoch") == e), epoch_id=e)
    got = rows_by_key(t.read())
    want = rows_by_key(expected_final_state(events))
    assert got == want


def test_exactly_once_epoch_recommit(spark, events, tmp_lake):
    t = LakeTable(spark, tmp_lake).create(DOC_SCHEMA, key_col="doc_id", n_buckets=8)
    t.merge(events.filter(F.col("epoch") == 0), epoch_id=0)
    cs = t.checksum()
    v = t.manifest()["version"]
    res = t.merge(events.filter(F.col("epoch") == 0), epoch_id=0)
    assert res["operation"] == "skip"
    assert t.checksum() == cs
    assert t.manifest()["version"] == v  # no new snapshot published


def test_out_of_order_replay_cannot_regress_state(spark, events, tmp_lake):
    """Applying an OLD epoch after a newer one (without epoch bookkeeping)
    must not regress rows: the _lsn monotonic guard."""
    t = LakeTable(spark, tmp_lake).create(DOC_SCHEMA, key_col="doc_id", n_buckets=8)
    t.merge(events.filter(F.col("epoch") <= 1), epoch_id="a")
    cs = t.checksum()
    # replay epoch 0 under a *different* epoch id -> merge runs, but no row changes
    t.merge(events.filter(F.col("epoch") == 0), epoch_id="b")
    assert t.checksum() == cs


def test_epoch_by_epoch_equals_one_shot(spark, events, tmp_lake):
    t1 = LakeTable(spark, tmp_lake + "1").create(DOC_SCHEMA, key_col="doc_id", n_buckets=8)
    for e in range(N_EVENTS // EPB):
        t1.merge(events.filter(F.col("epoch") == e), epoch_id=e)
    t2 = LakeTable(spark, tmp_lake + "2").create(DOC_SCHEMA, key_col="doc_id", n_buckets=8)
    t2.merge(events, epoch_id="all")
    assert t1.checksum() == t2.checksum()
    shutil.rmtree(tmp_lake + "1", ignore_errors=True)
    shutil.rmtree(tmp_lake + "2", ignore_errors=True)


def test_deletes_remove_rows(spark, tmp_lake):
    t = LakeTable(spark, tmp_lake).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    data = [
        ("I", 1, "k1", [1, 2], 2, "s"),
        ("I", 2, "k2", [3], 1, "s"),
        ("D", 3, "k1", None, None, None),
    ]
    df = t.spark.createDataFrame(data, "op string, lsn long, doc_id string, tokens array<int>, n_tok int, source string")
    t.merge(df, epoch_id=0)
    state = rows_by_key(t.read())
    assert set(state) == {"k2"}


def test_additive_schema_evolution(spark, tmp_lake):
    t = LakeTable(spark, tmp_lake).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    df0 = spark.createDataFrame(
        [("I", 1, "k1", [1], 1, "s")],
        "op string, lsn long, doc_id string, tokens array<int>, n_tok int, source string",
    )
    t.merge(df0, epoch_id=0)
    # epoch 1 carries a new column
    df1 = spark.createDataFrame(
        [("U", 2, "k2", [2], 1, "s", 0.5)],
        "op string, lsn long, doc_id string, tokens array<int>, n_tok int, source string, quality float",
    )
    t.merge(df1, epoch_id=1)
    assert "quality" in t.schema().fieldNames()
    rows = {r["doc_id"]: r["quality"] for r in t.read().collect()}
    assert rows["k2"] == pytest.approx(0.5)
    assert rows["k1"] is None  # old rows surface NULL for the new column


def test_incompatible_schema_drift_rejected(spark, tmp_lake):
    t = LakeTable(spark, tmp_lake).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    bad = spark.createDataFrame(
        [("I", 1, "k1", "not-an-array", 1, "s")],
        "op string, lsn long, doc_id string, tokens string, n_tok int, source string",
    )
    with pytest.raises(TypeError):
        t.merge(bad, epoch_id=0)


def test_full_refresh_and_append_modes(spark, tmp_lake):
    t = LakeTable(spark, tmp_lake).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    df = spark.createDataFrame(
        [("k1", [1], 1, "s"), ("k2", [2], 1, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    t.write(df, mode="overwrite")  # ≈ tooraclesde truncate=True
    assert t.read().count() == 2
    t.write(df, mode="append")  # ≈ appendoraclesde
    assert t.read().count() == 4
    t.write(df.limit(1), mode="overwrite")  # full refresh replaces
    assert t.read().count() == 1
    t.truncate()  # W1
    assert t.read().count() == 0 and t.count() == 0


def test_write_guards(spark, tmp_lake):
    t = LakeTable(spark, tmp_lake).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    empty = spark.createDataFrame([], DOC_SCHEMA)
    with pytest.raises(ValueError):
        t.write(empty, fail_on_empty=True)  # W6 empty-input guard
    with pytest.raises(ValueError):
        LakeTable(spark, tmp_lake + "-missing").write(empty)  # refuse write to absent table
    with pytest.raises(ValueError):
        LakeTable(spark, tmp_lake).create(DOC_SCHEMA)  # already exists


def test_time_travel_and_history(spark, tmp_lake):
    t = LakeTable(spark, tmp_lake).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    df = spark.createDataFrame([("k1", [1], 1, "s")], DOC_SCHEMA)
    t.write(df, mode="overwrite")
    v1 = t.manifest()["version"]
    t.write(spark.createDataFrame([("k2", [2], 1, "s")], DOC_SCHEMA), mode="append")
    assert t.read().count() == 2
    assert t.read(version=v1).count() == 1  # time travel
    assert [h["version"] for h in t.history()] == [0, 1, 2]


def test_bucket_pruned_read(spark, tmp_lake):
    t = LakeTable(spark, tmp_lake).create(DOC_SCHEMA, key_col="doc_id", n_buckets=8)
    df = spark.createDataFrame(
        [(f"k{i}", [i], 1, "s") for i in range(100)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    t.write(df, mode="overwrite")
    m = t.manifest()
    some_bucket = int(next(iter(m["buckets"])))
    pruned = t.read(buckets=[some_bucket], include_system=True)
    assert pruned.count() > 0
    assert pruned.select("_bucket").distinct().collect()[0][0] == some_bucket


def test_pipeline_resume_from_checkpoint(spark, events, tmp_path):
    """Kill the loop mid-way, resume, final state byte-identical to an
    uninterrupted run (the checkpointed-replay clause of the north rule)."""
    log = str(tmp_path / "log")
    write_cdc_log(spark, log, N_EVENTS, n_keys=N_KEYS, events_per_epoch=EPB)

    def fresh(tag):
        tp = str(tmp_path / f"lake-{tag}")
        LakeTable(spark, tp).create(DOC_SCHEMA, key_col="doc_id", n_buckets=8)
        return IngestConfig(log_path=log, table_path=tp, checkpoint_path=str(tmp_path / f"ck-{tag}"))

    cfg_a = fresh("a")
    run_ingest(spark, cfg_a)  # uninterrupted

    cfg_b = fresh("b")
    run_ingest(spark, cfg_b, max_epochs=2)  # "crash" after 2 epochs
    # resume (also deliberately re-apply the last epoch: idempotent)
    ck = Checkpoint(cfg_b.checkpoint_path)
    assert ck.load()["last_epoch"] == 1
    run_ingest(spark, cfg_b, start_epoch=1)
    assert LakeTable(spark, cfg_a.table_path).checksum() == LakeTable(spark, cfg_b.table_path).checksum()

    # lineage recorded per epoch with offsets + throughput
    lin = LineageLog(cfg_a.checkpoint_path).read()
    assert len(lin) == N_EVENTS // EPB
    assert all(e["rows"] > 0 and e["events_per_sec"] > 0 for e in lin)
    assert all(p["max_lsn"] >= p["min_lsn"] for e in lin for p in e["partitions"])
    assert all(e["snapshot_id"] for e in lin)


def test_pipeline_with_schema_drift(spark, tmp_path):
    log = str(tmp_path / "log")
    write_cdc_log(spark, log, 3000, n_keys=100, events_per_epoch=1000, drift_epoch=2)
    tp = str(tmp_path / "lake")
    LakeTable(spark, tp).create(DOC_SCHEMA, key_col="doc_id", n_buckets=8)
    cfg = IngestConfig(log_path=log, table_path=tp, checkpoint_path=str(tmp_path / "ck"))
    run_ingest(spark, cfg)
    t = LakeTable(spark, tp)
    assert "quality" in t.schema().fieldNames()
    q = t.read().select("quality").where(F.col("quality").isNotNull()).count()
    assert q > 0


def test_pipeline_epoch_discovery_ignores_non_epoch_entries(spark, tmp_path):
    """Epochs are discovered from the log's ``_epoch_part=<n>`` dir names:
    entries Spark's file index skips and epoch dirs not yet holding a data
    file are ignored, and an empty log has no epochs to run."""
    log = tmp_path / "log"
    write_cdc_log(spark, str(log), 2000, n_keys=100, events_per_epoch=1000)
    (log / "_SUCCESS").touch()
    (log / ".hidden").touch()
    (log / "_temporary" / "0").mkdir(parents=True)
    (log / "_temporary" / "0" / "part-0.parquet").touch()
    (log / "_epoch_part=7").mkdir()  # a writer has not landed its file yet
    (log / "_epoch_part=8").mkdir()
    (log / "_epoch_part=8" / ".part-0.parquet.crc").touch()
    (log / "_epoch_part=8" / "_SUCCESS").touch()
    tp = str(tmp_path / "lake")
    LakeTable(spark, tp).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    cfg = IngestConfig(log_path=str(log), table_path=tp, checkpoint_path=str(tmp_path / "ck"))
    assert [r.epoch for r in run_ingest(spark, cfg)] == [0, 1]
    assert run_ingest(spark, cfg) == []  # caught up

    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").touch()
    cfg_e = IngestConfig(log_path=str(empty), table_path=tp, checkpoint_path=str(tmp_path / "ck-e"))
    version = LakeTable(spark, tp).manifest()["version"]
    assert run_ingest(spark, cfg_e) == []
    assert LakeTable(spark, tp).manifest()["version"] == version
