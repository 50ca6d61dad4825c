"""Merge-on-read mode: delta-file merges must produce IDENTICAL logical
state to copy-on-write merges under every CDC contract (exactly-once replay,
out-of-order LSNs, deletes, schema evolution), and compaction must fold
deltas back into the base losslessly.

Rationale (VERDICT round 1): CoW rewrites every touched bucket — in the
uniform-key big-epoch regime that is a full-table rewrite per epoch. MoR
writes O(batch) delta files and defers reconciliation to read/compact.
"""

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geopetl_spark import LakeTable, generate_cdc_events

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)


def _mk(spark, tmp_path, name, **props):
    return LakeTable(spark, str(tmp_path / name)).create(
        DOC_SCHEMA, key_col="doc_id", n_buckets=8, properties=props or None
    )


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string, op string, lsn long"
    )


@pytest.fixture(scope="module")
def events(spark):
    df = generate_cdc_events(spark, 3000, n_keys=150, events_per_epoch=1000).cache()
    yield df
    df.unpersist()  # session-scoped SparkSession: don't leak storage into later modules


def _count_repartitions(spark, monkeypatch) -> list:
    """Record every ``DataFrame.repartition`` call from here on."""
    calls = []
    cls = type(spark.range(1))
    original = cls.repartition

    def spy(self, *args, **kwargs):
        calls.append(args)
        return original(self, *args, **kwargs)

    monkeypatch.setattr(cls, "repartition", spy)
    return calls


def _files_per_dir(t, dirs_by_bucket: str = "deltas") -> list[int]:
    return [
        len(glob.glob(os.path.join(d, "*.parquet")))
        for dirs in t.manifest()[dirs_by_bucket].values()
        for d in dirs
    ]


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_merge_writes_whole_buckets_with_no_write_shuffle(spark, tmp_path, events, monkeypatch, strategy):
    """16 Murmur3 buckets at the session's P=8 shuffle partitions: the
    per-key reduce's exchange (the dedup for MoR, the bucket fold for CoW)
    already holds whole buckets per task, so the write adds no repartition
    and no join, every bucket dir it writes holds exactly one parquet file,
    and every row is in its own bucket."""
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    t = LakeTable(spark, str(tmp_path / strategy)).create(DOC_SCHEMA, key_col="doc_id", n_buckets=16)
    assert t.describe()["layout"]["bucket_expr"] == "pmod(hash(doc_id), 16)"
    calls = _count_repartitions(spark, monkeypatch)
    plans = []
    write = LakeTable._write_snapshot_data

    def spy(self, df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return write(self, df, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "_write_snapshot_data", spy)
    for e in range(3):
        t.merge(events.filter(F.col("epoch") == e), epoch_id=e, strategy=strategy)
    assert calls == []
    assert len(plans) == 3 and not any("Join" in p for p in plans)
    # MoR adds a delta dir per touched bucket per epoch; CoW keeps one per bucket
    files = _files_per_dir(t, "deltas" if strategy == "mor" else "buckets")
    assert (len(files) > 16 if strategy == "mor" else len(files) == 16) and set(files) == {1}
    stored = t.read(include_system=True)
    assert stored.filter(F.col("_bucket") != F.pmod(F.hash("doc_id"), F.lit(16))).count() == 0


def test_mor_merge_repartitions_when_p_does_not_divide_buckets(spark, tmp_path, events, monkeypatch):
    """12 buckets at P=8: tasks would split buckets, so the write keeps its
    repartition — still one file per bucket dir, same state as CoW."""
    mor = LakeTable(spark, str(tmp_path / "mor12")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=12)
    cow = LakeTable(spark, str(tmp_path / "cow12")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=12)
    calls = _count_repartitions(spark, monkeypatch)
    for e in range(3):
        mor.merge(events.filter(F.col("epoch") == e), epoch_id=e, strategy="mor")
    assert len(calls) == 3
    for e in range(3):
        cow.merge(events.filter(F.col("epoch") == e), epoch_id=e, strategy="cow")
    assert mor.checksum() == cow.checksum()
    files = _files_per_dir(mor)
    assert len(files) > 12 and set(files) == {1}


# One MERGE rule, table-driven: (steps, expected live state). A step is
# ("write", [(key, tokens)]) or (strategy, [(key, tokens, op, lsn)]); a None
# strategy takes the test's parameter. Expected states are written by hand.
_TIE_CASES = {
    "write_rows_lose_to_any_merge": (
        [
            ("write", [("a", [1]), ("b", [2]), ("c", [3])]),
            (None, [("a", [9], "U", 1), ("b", None, "D", 1)]),
        ],
        {"a": [9], "c": [3]},
    ),
    "equal_lsn_later_commit_wins": (
        [(None, [("a", [1], "I", 5)]), (None, [("a", [2], "U", 5)])],
        {"a": [2]},
    ),
    "late_replay_loses": (
        [
            (None, [("a", [1], "I", 10)]),
            (None, [("a", [2], "U", 20)]),
            (None, [("a", [3], "U", 15)]),
        ],
        {"a": [2]},
    ),
    "delete_then_late_older_upsert_stays_deleted": (
        [
            (None, [("a", [1], "I", 1), ("b", [2], "I", 2)]),
            (None, [("a", None, "D", 3)]),
            (None, [("a", [7], "U", 2)]),
        ],
        {"b": [2]},
    ),
    "mor_then_cow": (
        [
            ("mor", [("a", [1], "I", 1), ("b", [2], "I", 2), ("c", [3], "I", 3)]),
            ("cow", [("a", [4], "U", 5), ("c", None, "D", 6)]),
            ("mor", [("b", [5], "U", 2)]),  # equal LSN: later commit wins
            ("cow", [("a", [6], "U", 4), ("c", [7], "U", 5)]),  # late replays lose
        ],
        {"a": [4], "b": [5]},
    ),
}


@pytest.mark.parametrize(
    "case,strategy",
    [(c, s) for c in _TIE_CASES if c != "mor_then_cow" for s in ("cow", "mor")]
    + [("mor_then_cow", None)],
)
def test_one_merge_rule_for_both_strategies(spark, tmp_path, case, strategy):
    steps, expected = _TIE_CASES[case]
    t = _mk(spark, tmp_path, "tie")
    for epoch, (how, rows) in enumerate(steps):
        if how == "write":
            t.write(spark.createDataFrame([(k, tok, len(tok), "s") for k, tok in rows], DOC_SCHEMA))
        else:
            batch = _batch(spark, [(k, tok, tok and len(tok), "s", op, lsn) for k, tok, op, lsn in rows])
            t.merge(batch, epoch_id=epoch, strategy=how or strategy)
    assert {r["doc_id"]: r["tokens"] for r in t.read().collect()} == expected


def test_mor_equals_cow_final_state(spark, tmp_path, events):
    """The headline equivalence: same epochs through both strategies ->
    byte-identical logical state (order-independent checksum)."""
    cow = _mk(spark, tmp_path, "cow")
    mor = _mk(spark, tmp_path, "mor")
    for e in range(3):
        batch = events.filter(F.col("epoch") == e)
        cow.merge(batch, epoch_id=e, strategy="cow")
        mor.merge(batch, epoch_id=e, strategy="mor")
    assert mor.manifest()["summary"]["mode"] == "mor"
    assert mor.manifest()["deltas"]  # deltas actually accumulated
    assert cow.checksum() == mor.checksum()
    assert cow.read().count() == mor.read().count()


def test_mor_strategy_from_table_property(spark, tmp_path, events):
    t = _mk(spark, tmp_path, "prop", **{"write.merge-mode": "mor"})
    t.merge(events.filter(F.col("epoch") == 0), epoch_id=0)
    assert t.manifest()["summary"]["mode"] == "mor"
    with pytest.raises(ValueError):
        t.merge(events.filter(F.col("epoch") == 1), epoch_id=1, strategy="nope")


def test_mor_exactly_once_epoch_recommit(spark, tmp_path, events):
    t = _mk(spark, tmp_path, "eo")
    b0 = events.filter(F.col("epoch") == 0)
    t.merge(b0, epoch_id=0, strategy="mor")
    cs = t.checksum()
    res = t.merge(b0, epoch_id=0, strategy="mor")  # replayed epoch
    assert res["operation"] == "skip"
    assert t.checksum() == cs


def test_mor_out_of_order_replay_cannot_regress(spark, tmp_path):
    t = _mk(spark, tmp_path, "ooo")
    t.merge(_batch(spark, [("k", [1], 1, "s", "U", 10)]), epoch_id=0, strategy="mor")
    t.merge(_batch(spark, [("k", [9, 9], 2, "s", "U", 20)]), epoch_id=1, strategy="mor")
    # an older event replayed under a NEW epoch id must lose to lsn=20
    t.merge(_batch(spark, [("k", [5], 1, "s", "U", 15)]), epoch_id=2, strategy="mor")
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["tokens"] == [9, 9]


def test_mor_deletes_are_tombstones(spark, tmp_path):
    t = _mk(spark, tmp_path, "del")
    t.merge(_batch(spark, [("a", [1], 1, "s", "I", 1), ("b", [2], 1, "s", "I", 2)]),
            epoch_id=0, strategy="mor")
    t.merge(_batch(spark, [("a", None, None, None, "D", 3)]), epoch_id=1, strategy="mor")
    assert {r["doc_id"] for r in t.read().collect()} == {"b"}
    # late replay of an older upsert cannot resurrect the deleted key
    t.merge(_batch(spark, [("a", [7], 1, "s", "U", 2)]), epoch_id=2, strategy="mor")
    assert {r["doc_id"] for r in t.read().collect()} == {"b"}


def test_mor_compact_folds_deltas(spark, tmp_path, events):
    t = _mk(spark, tmp_path, "cmp")
    for e in range(3):
        t.merge(events.filter(F.col("epoch") == e), epoch_id=e, strategy="mor")
    cs = t.checksum()
    n = t.read().count()
    assert t.manifest()["deltas"]
    assert t.count() == n  # total_rows is None -> count() falls back to a scan
    t.compact()
    assert t.manifest()["deltas"] == {}
    assert t.checksum() == cs
    assert t.count() == n  # metadata-exact again after compaction
    # post-compact merges keep working (seq ordering survives the rewrite)
    t.merge(_batch(spark, [("newkey", [1], 1, "s", "I", 10_000_000)]),
            epoch_id="post", strategy="mor")
    assert t.read().filter("doc_id = 'newkey'").count() == 1


def test_cow_merge_folds_affected_bucket_deltas(spark, tmp_path):
    """Mixed-mode: a CoW merge over a table with MoR deltas reduces the
    affected buckets' deltas into the rewrite and drops them from the
    manifest — no double-apply on later reads."""
    t = _mk(spark, tmp_path, "mix")
    cow_ref = _mk(spark, tmp_path, "mixref")
    b0 = _batch(spark, [("a", [1], 1, "s", "I", 1), ("b", [2], 1, "s", "I", 2)])
    b1 = _batch(spark, [("a", [3, 3], 2, "s", "U", 5)])
    t.merge(b0, epoch_id=0, strategy="mor")
    t.merge(b1, epoch_id=1, strategy="cow")
    cow_ref.merge(b0, epoch_id=0, strategy="cow")
    cow_ref.merge(b1, epoch_id=1, strategy="cow")
    assert t.checksum() == cow_ref.checksum()
    # key 'a' bucket's delta folded away
    m = t.manifest()
    akey_bucket = t.read(include_system=True).filter("doc_id = 'a'").select("_bucket").collect()[0][0]
    assert str(akey_bucket) not in m.get("deltas", {})


def test_mor_schema_evolution(spark, tmp_path):
    t = _mk(spark, tmp_path, "evo")
    t.merge(_batch(spark, [("a", [1], 1, "s", "I", 1)]), epoch_id=0, strategy="mor")
    wide = spark.createDataFrame(
        [("b", [2], 1, "s", "fr", "I", 2)],
        "doc_id string, tokens array<int>, n_tok int, source string, lang string, op string, lsn long",
    )
    t.merge(wide, epoch_id=1, strategy="mor")
    rows = {r["doc_id"]: r["lang"] for r in t.read().collect()}
    assert rows == {"a": None, "b": "fr"}  # old rows surface NULL in the new column


def test_mor_vacuum_keeps_live_deltas(spark, tmp_path, events):
    t = _mk(spark, tmp_path, "vac")
    for e in range(2):
        t.merge(events.filter(F.col("epoch") == e), epoch_id=e, strategy="mor")
    cs = t.checksum()
    t.vacuum(keep_last_versions=1)
    assert t.checksum() == cs  # delta dirs referenced by the kept manifest survive
