"""Poison-row quarantine + lineage observability surface."""

import os
import time

from pyspark.sql import functions as F

from geopetl_spark import LakeTable
from geopetl_spark.streaming.lineage import LineageLog, partition_lineage, read_lineage
from geopetl_spark.streaming.pipeline import IngestConfig, apply_epoch
from tests.test_cdc_engine import DOC_SCHEMA


def test_null_key_and_lsn_rows_quarantined(spark, tmp_path):
    tp = str(tmp_path / "lake")
    LakeTable(spark, tp).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    t = LakeTable(spark, tp)
    cfg = IngestConfig(log_path="unused", table_path=tp, checkpoint_path=str(tmp_path / "ck"))
    batch = spark.createDataFrame(
        [
            ("I", 1, None, [1], 1, "s"),      # null key  -> quarantine
            ("I", None, "k2", [2], 1, "s"),   # null LSN  -> quarantine
            ("I", 3, "k3", [3], 1, "s"),      # valid
        ],
        "op string, lsn long, doc_id string, tokens array<int>, n_tok int, source string",
    )
    res = apply_epoch(spark, cfg, t, batch, epoch=0, lineage_log=LineageLog(cfg.checkpoint_path))
    assert res.commit["rows_quarantined"] == 2
    state = {r["doc_id"] for r in t.read().collect()}
    assert state == {"k3"}  # no junk NULL-key row, no null-LSN row
    # quarantined rows preserved verbatim for replay/forensics
    q = spark.read.parquet(os.path.join(cfg.checkpoint_path, "quarantine", "epoch=0"))
    assert q.count() == 2
    assert {r["doc_id"] for r in q.collect()} == {None, "k2"}

    lin = read_lineage(spark, cfg.checkpoint_path)
    row = lin.collect()[0]
    # lineage records what ARRIVED from the source (pre-quarantine): 3 rows
    # in, 2 quarantined, 1 applied
    assert row["rows"] == 3 and row["rows_quarantined"] == 2
    assert row["min_lsn"] == 1 and row["max_lsn"] == 3


def test_reapply_skip_path_still_accounts_quarantine(spark, tmp_path, monkeypatch):
    """Re-applying an already-committed epoch takes the merge skip path; the
    fallback lineage scan must still report poison rows (previously lost)
    and keeps per-partition granularity (partition_id >= 0). The lineage
    phase times that scan."""
    from geopetl_spark.streaming import pipeline

    def slow_lineage(*args, **kwargs):
        time.sleep(0.3)
        return partition_lineage(*args, **kwargs)

    monkeypatch.setattr(pipeline, "partition_lineage", slow_lineage)
    tp = str(tmp_path / "lake")
    LakeTable(spark, tp).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    t = LakeTable(spark, tp)
    cfg = IngestConfig(log_path="unused", table_path=tp, checkpoint_path=str(tmp_path / "ck"))
    batch = spark.createDataFrame(
        [
            ("I", 1, None, [1], 1, "s"),
            ("I", None, "k2", [2], 1, "s"),
            ("I", 3, "k3", [3], 1, "s"),
        ],
        "op string, lsn long, doc_id string, tokens array<int>, n_tok int, source string",
    )
    log = LineageLog(cfg.checkpoint_path)
    apply_epoch(spark, cfg, t, batch, epoch=0, lineage_log=log)
    res2 = apply_epoch(spark, cfg, t, batch, epoch=0, lineage_log=log)  # deliberate re-apply
    assert res2.commit["operation"] == "skip"
    assert set(res2.commit["phase_sec"]) == {"lineage", "merge"}
    assert res2.commit["phase_sec"]["lineage"] >= 0.3
    assert res2.commit["rows_quarantined"] == 2
    second = log.read()[1]
    assert all(p["partition_id"] >= 0 for p in second["partitions"])
    assert "invalid_rows" not in second["partitions"][0]  # folded into the summary
    assert sum(p["rows"] for p in second["partitions"]) == 3


def test_clean_batch_quarantines_nothing(spark, tmp_path):
    tp = str(tmp_path / "lake")
    LakeTable(spark, tp).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    cfg = IngestConfig(log_path="unused", table_path=tp, checkpoint_path=str(tmp_path / "ck"))
    batch = spark.createDataFrame(
        [("I", 1, "k1", [1], 1, "s")],
        "op string, lsn long, doc_id string, tokens array<int>, n_tok int, source string",
    )
    res = apply_epoch(spark, cfg, LakeTable(spark, tp), batch, epoch=0)
    assert res.commit["rows_quarantined"] == 0
    assert not os.path.exists(os.path.join(cfg.checkpoint_path, "quarantine"))


def test_ingest_takes_the_key_from_the_table(spark, tmp_path):
    """The epoch's key is the one the table's manifest records: into a
    table keyed on ``id``, a NULL-``id`` event is quarantined and the rest
    merge. The config names only paths and the merge strategy."""
    from dataclasses import fields

    assert [f.name for f in fields(IngestConfig)] == [
        "log_path", "table_path", "checkpoint_path", "merge_strategy"
    ]
    tp = str(tmp_path / "lake")
    schema = "id string, tokens array<int>, n_tok int, source string"
    t = LakeTable(spark, tp).create(spark.createDataFrame([], schema).schema, key_col="id", n_buckets=4)
    cfg = IngestConfig(log_path="unused", table_path=tp, checkpoint_path=str(tmp_path / "ck"))
    batch = spark.createDataFrame(
        [
            ("I", 1, None, [1], 1, "s"),      # null key  -> quarantine
            ("I", 2, "k2", [2], 1, "s"),
            ("U", 3, "k2", [3], 1, "s"),
            ("I", 4, "k4", [4], 1, "s"),
        ],
        f"op string, lsn long, {schema}",
    )
    res = apply_epoch(spark, cfg, t, batch, epoch=0)
    assert res.commit["rows_quarantined"] == 1
    assert sorted((r["id"], r["tokens"]) for r in t.read().collect()) == [("k2", [3]), ("k4", [4])]
    q = spark.read.parquet(os.path.join(cfg.checkpoint_path, "quarantine", "epoch=0"))
    assert [r["lsn"] for r in q.collect()] == [1]
