"""CDC engine tests — the north rule's correctness contract.

Carry-overs from the reference's test strategy (SURVEY §5: round-trip
fidelity, write-without-key, null handling, idempotent re-read) plus the
CDC-specific cases the north rule adds: out-of-order LSN dedup, exactly-once
re-commit of the same epoch, additive schema evolution, hot-key dedup
correctness, checkpointed replay reproducing byte-identical state.
"""

import os
import shutil

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geopetl_spark import LakeTable, generate_cdc_events
from geopetl_spark.operators.dedup_cdc import event_order, latest_per_key
from geopetl_spark.sources.cdc_gen import write_cdc_log
from geopetl_spark.streaming.checkpoint import Checkpoint
from geopetl_spark.streaming.lineage import LineageLog
from geopetl_spark.streaming.pipeline import IngestConfig, read_epoch, run_ingest

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


def reference_latest(events):
    """The latest event per key the 'obvious' way, independent of the
    engine's reduction: a ``row_number`` window ordered by lsn, commit_ts,
    then op rank (D > U > I), all descending. Duplicate deliveries are
    identical rows, so whichever copy ranks first is the same row."""
    op_rank = F.when(F.col("op") == "D", 2).when(F.col("op") == "U", 1).otherwise(0)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("lsn").desc(), F.col("commit_ts").desc(), op_rank.desc()
    )
    return events.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def expected_final_state(events):
    """Oracle final state: the reference latest event per key, deletes
    dropped."""
    latest = reference_latest(events)
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


def test_latest_per_key_matches_row_number_reference(events):
    cols = ["doc_id", "tokens", "n_tok", "source", "op", "lsn"]
    a = latest_per_key(events, "doc_id", event_order(events)).select(*cols)
    b = reference_latest(events).select(*cols)
    assert a.count() == b.count() == N_KEYS
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_latest_per_key_hot_key_matches_reference(spark):
    """One key carries half of 400k events; the other half spreads over
    5,000 keys. (lsn, commit_ts, op) is unique per event but arrives out of
    order, and each LSN is shared by 4 events, so the ts and op levels of
    the order decide too. The one-exchange reduction must pick exactly the
    reference's row for every key, the hot one included."""
    n = 400_000
    p = F.pmod(F.col("id") * 7919, F.lit(n))  # a permutation of 0..n-1
    events = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), ((F.col("id") / 2).cast("long") % 5000).cast("string")))
        .alias("doc_id"),
        (p / 4).cast("long").alias("lsn"),
        F.timestamp_seconds(p % 2).alias("commit_ts"),
        F.when((p / 2).cast("long") % 2 == 1, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.col("id").alias("payload"),
    )
    a = latest_per_key(events, "doc_id", event_order(events))
    b = reference_latest(events)
    assert a.count() == b.count() == 5001
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    hot = a.filter("doc_id = 'hot'").first()
    assert hot["lsn"] == (n - 1) // 4


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


def test_checkpoint_save_fsyncs_before_replace(tmp_path, monkeypatch):
    """The checkpoint's temp file is fsynced before the rename publishes it,
    so a crash cannot leave a renamed but empty or torn checkpoint; the
    directory is fsynced after it, so the rename survives a power loss."""
    calls = []
    fsync, replace = os.fsync, os.replace

    def spy_fsync(fd):
        calls.append("fsync")
        fsync(fd)

    def spy_replace(src, dst):
        calls.append("replace")
        replace(src, dst)

    monkeypatch.setattr(os, "fsync", spy_fsync)
    monkeypatch.setattr(os, "replace", spy_replace)
    ck = Checkpoint(str(tmp_path / "ck"))
    ck.save(3, {"p": 7})
    assert calls == ["fsync", "replace", "fsync"]
    assert ck.load()["last_epoch"] == 3


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


def test_pipeline_reads_each_epoch_with_its_own_columns(spark, tmp_path):
    """Two writers: epoch 0's files have no ``quality`` column, epoch 1's
    do. Each epoch is read under its own files' schema, so epoch 1 brings
    ``quality`` in and the table schema evolves (a read of the whole log
    root takes one file's schema and can drop it)."""
    log = tmp_path / "log"
    ev = generate_cdc_events(spark, 2000, n_keys=100, events_per_epoch=1000, drift_epoch=1)
    ev.filter("epoch = 0").drop("quality").write.parquet(str(log / "_epoch_part=0"))
    ev.filter("epoch = 1").write.parquet(str(log / "_epoch_part=1"))
    tp = str(tmp_path / "lake")
    LakeTable(spark, tp).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    cfg = IngestConfig(log_path=str(log), table_path=tp, checkpoint_path=str(tmp_path / "ck"))
    assert [r.epoch for r in run_ingest(spark, cfg)] == [0, 1]
    t = LakeTable(spark, tp)
    assert "quality" in t.schema().fieldNames()
    want = {
        r["doc_id"]: r["quality"]
        for r in reference_latest(ev).filter(F.col("op") != "D").collect()
    }
    got = {r["doc_id"]: r["quality"] for r in t.read().collect()}
    assert got == want
    assert any(q is not None for q in got.values())


def test_read_epoch_runs_no_spark_job(spark, tmp_path):
    """The epoch's schema comes from its parquet footers: building the
    epoch's DataFrame adds no job to a fresh job group."""
    log = str(tmp_path / "log")
    write_cdc_log(spark, log, 2000, n_keys=100, events_per_epoch=1000)
    sc = spark.sparkContext
    group = f"read-epoch-{os.getpid()}"
    sc.setJobGroup(group, "read_epoch")
    try:
        df = read_epoch(spark, log, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert "_epoch_part" not in df.columns
    assert set(df.select("epoch").distinct().toPandas()["epoch"]) == {1}


def test_read_epoch_infers_files_without_spark_schema(spark, tmp_path):
    """A file written outside Spark carries no Spark schema in its footer:
    only that file's schema is inferred, unioned with the labelled ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    log = tmp_path / "log"
    spark.createDataFrame([("k1", 1)], "doc_id string, lsn long").write.parquet(
        str(log / "_epoch_part=0")
    )
    pq.write_table(
        pa.table({"doc_id": ["k2"], "lsn": pa.array([2], pa.int64()), "lang": ["fr"]}),
        str(log / "_epoch_part=0" / "part-foreign.parquet"),
    )
    df = read_epoch(spark, str(log), 0)
    assert df.columns == ["doc_id", "lsn", "lang"]
    assert sorted(map(tuple, df.collect())) == [("k1", 1, None), ("k2", 2, "fr")]


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
