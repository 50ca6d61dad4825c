"""Zone-map data skipping: per-dir column min/max (the manifest's
``dir_stats``) harvested from parquet footers at write time, conservative
predicate pruning at read time (simple AND-range conjunctions only): a
bucket prunes when every base and MoR delta dir of it provably misses.
Every referenced dir has a record after every op; a column with no zone
never prunes, and a dir with no ``_lsn`` zone is always read by the
changelog."""

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, ".")
from geopetl_spark import LakeTable  # noqa: E402
from geopetl_spark.plans import gates  # noqa: E402
from tests.test_cdc_engine import DOC_SCHEMA  # noqa: E402


def _rows(spark, lo, hi):
    return spark.createDataFrame(
        [(f"k{i}", [i], i, "src", "I", i) for i in range(lo, hi)],
        "doc_id string, tokens array<int>, n_tok int, source string, op string, lsn long",
    ).drop("op", "lsn")


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "lake")).create(
        DOC_SCHEMA, key_col="doc_id", n_buckets=4
    )
    t.write(_rows(spark, 0, 200), mode="overwrite")
    return t


def test_zones_recorded_with_correct_global_range(table):
    stats = table.manifest()["dir_stats"]
    assert stats
    mins, maxs = [], []
    for b, s in stats.items():
        z = s["zones"]
        assert set(z) >= {"doc_id", "n_tok", "source"}
        mins.append(z["n_tok"][0])
        maxs.append(z["n_tok"][1])
        assert z["source"] == ["src", "src"]
    assert min(mins) == 0 and max(maxs) == 199


def test_distributed_harvest_identical_to_driver_serial(table, spark, monkeypatch):
    """The executor-side footer harvest (commit path, large epochs) must be
    byte-identical to the driver-serial reference on the same files."""
    m = table.manifest()
    dirs = [d for dl in m["buckets"].values() for d in dl]
    serial = {d: LakeTable._file_stats([d]) for d in dirs}
    monkeypatch.setitem(gates.LIMITS, "harvest_driver_files", 0)  # force the job path
    distributed = table._harvest_stats(dirs)
    assert distributed == serial
    # and the records the ORIGINAL commit stored match both
    assert m["dir_stats"] == serial


def test_pruning_excludes_provably_empty_buckets(table):
    m = table.manifest()
    # out-of-range predicate -> every bucket provably empty
    assert table._pruned_buckets(m, "n_tok > 5000") == set(m["buckets"].keys())
    assert table._pruned_buckets(m, "n_tok = 9999") == set(m["buckets"].keys())
    assert table._pruned_buckets(m, "source = 'other'") == set(m["buckets"].keys())
    # in-range -> nothing provably empty (every bucket spans the range)
    assert table._pruned_buckets(m, "n_tok >= 0") == set()
    # BETWEEN and IN prune via their range envelopes (round 5)
    assert table._pruned_buckets(m, "n_tok between 5000 and 6000") == set(m["buckets"].keys())
    assert table._pruned_buckets(m, "n_tok in (7000, 8000)") == set(m["buckets"].keys())
    assert table._pruned_buckets(m, "source in ('zz1', 'zz2')") == set(m["buckets"].keys())
    assert table._pruned_buckets(m, "n_tok between 0 and 199") == set()
    assert table._pruned_buckets(m, "n_tok in (5, 9000)") == set()  # envelope spans zones
    # complex expressions disable pruning, never wrong results
    assert table._pruned_buckets(m, "n_tok > 5000 or n_tok < 0") == set()
    assert table._pruned_buckets(m, "abs(n_tok) > 5000") == set()
    assert table._pruned_buckets(m, "n_tok is null") == set()
    assert table._pruned_buckets(m, "n_tok not between 0 and 5000") == set()
    assert table._pruned_buckets(m, "n_tok not in (1, 2)") == set()
    assert table._pruned_buckets(m, "source = 'a between 1 and 3'") == set()


def test_pruned_read_matches_unpruned_filter(table):
    full = table.read()
    for where in ("n_tok > 150", "n_tok <= 10", "n_tok = 42 and source = 'src'", "n_tok > 5000",
                  "n_tok between 40 and 60", "n_tok in (5, 42, 7000)",
                  "n_tok between 20 and 30 and source = 'src'"):
        got = sorted(r.doc_id for r in table.read(where=where).collect())
        exp = sorted(r.doc_id for r in full.filter(where).collect())
        assert got == exp, where


def test_append_widens_zones(table, spark):
    table.write(_rows(spark, 1000, 1050), mode="append")
    stats = table.manifest()["dir_stats"]
    maxs = [s["zones"]["n_tok"][1] for s in stats.values() if s.get("zones")]
    assert max(maxs) == 1049
    # the old range is still covered: nothing in [0,200) is prunable
    assert table._pruned_buckets(table.manifest(), "n_tok = 100") == set()


def test_per_dir_pruning_within_append_buckets(table, spark):
    """Round-5 extension: an append-heavy bucket's UNION zones are wide
    ([0,1049]) so bucket-level pruning is blind, but each DIR keeps its own
    zones — a predicate inside only one append's range scans only that
    append's dirs. Results must equal the unpruned filter either way."""
    table.write(_rows(spark, 1000, 1050), mode="append")
    all_files = len(table.read().inputFiles())
    hi = table.read(where="n_tok >= 1000")
    lo = table.read(where="n_tok < 200")
    assert 0 < len(hi.inputFiles()) < all_files
    assert 0 < len(lo.inputFiles()) < all_files
    assert sorted(r.doc_id for r in hi.collect()) == sorted(f"k{i}" for i in range(1000, 1050))
    assert sorted(r.doc_id for r in lo.collect()) == sorted(f"k{i}" for i in range(200))
    # with MoR deltas present anywhere, per-dir pruning turns OFF (the
    # read-time reduce makes rows interdependent) but results stay right
    batch = spark.createDataFrame(
        [("k0", [7], 5, "src", "U", 10_000)],
        "doc_id string, tokens array<int>, n_tok int, source string, op string, lsn long",
    )
    table.merge(batch, epoch_id=7, lsn_col="lsn", op_col="op", strategy="mor")
    hi2 = table.read(where="n_tok >= 1000")
    assert sorted(r.doc_id for r in hi2.collect()) == sorted(f"k{i}" for i in range(1000, 1050))
    got_k0 = table.read(where="n_tok = 5").collect()
    assert {r.doc_id for r in got_k0} >= {"k0"}


def test_mor_delta_bucket_survives_pruning_when_delta_matches(table, spark):
    batch = spark.createDataFrame(
        [("k0", [7], 7000, "src", "U", 10_000)],
        "doc_id string, tokens array<int>, n_tok int, source string, op string, lsn long",
    )
    table.merge(batch, epoch_id=99, lsn_col="lsn", op_col="op", strategy="mor")
    m = table.manifest()
    delta_buckets = set(m["deltas"].keys())
    assert delta_buckets
    # n_tok = 7000 is outside every BASE zone, but the delta bucket must
    # survive pruning (its DELTA zones cover 7000)
    pruned = table._pruned_buckets(m, "n_tok = 7000")
    assert pruned.isdisjoint(delta_buckets)
    got = {r.doc_id for r in table.read(where="n_tok = 7000").collect()}
    assert got == {"k0"}


def test_mor_delta_bucket_prunes_when_base_and_delta_both_miss(table, spark):
    """Round-4 directive #6: a delta-carrying bucket prunes when base AND
    delta zones provably miss, and MoR reads stay equal to the unpruned
    filter."""
    batch = spark.createDataFrame(
        [("k0", [7], 150, "src", "U", 10_000)],  # in-band update, zones stay ≤ 199-ish
        "doc_id string, tokens array<int>, n_tok int, source string, op string, lsn long",
    )
    table.merge(batch, epoch_id=99, lsn_col="lsn", op_col="op", strategy="mor")
    m = table.manifest()
    delta_buckets = set(m["deltas"].keys())
    assert delta_buckets and all(d in m["dir_stats"] for dl in m["deltas"].values() for d in dl)
    # predicate outside BOTH base (0..199) and delta (150) zones -> every
    # bucket, delta-carrying ones included, provably misses
    pruned = table._pruned_buckets(m, "n_tok > 5000")
    assert delta_buckets <= pruned
    assert pruned == set(m["buckets"]) | delta_buckets
    # correctness: pruned read == unpruned filter, on both sides of the zone
    full = table.read()
    for where in ("n_tok > 5000", "n_tok = 150", "n_tok <= 10"):
        got = sorted(r.doc_id for r in table.read(where=where).collect())
        exp = sorted(r.doc_id for r in full.filter(where).collect())
        assert got == exp, where
    # a second delta commit WIDENS the delta zones
    batch2 = spark.createDataFrame(
        [("k1", [8], 6000, "src", "U", 10_001)],
        "doc_id string, tokens array<int>, n_tok int, source string, op string, lsn long",
    )
    table.merge(batch2, epoch_id=100, lsn_col="lsn", op_col="op", strategy="mor")
    m2 = table.manifest()
    b_k1 = [
        b for b, dl in m2["deltas"].items()
        if any(m2["dir_stats"][d]["zones"].get("n_tok", [0, 0])[1] == 6000 for d in dl)
    ]
    assert b_k1
    assert b_k1[0] not in table._pruned_buckets(m2, "n_tok = 6000")
    got = {r.doc_id for r in table.read(where="n_tok = 6000").collect()}
    assert got == {"k1"}


def test_bucket_prunes_when_every_dir_misses(table, spark):
    """A bucket prunes when each of its dirs misses, even where the union of
    its dirs' ranges covers the predicate: base dirs hold n_tok 0..199 and
    1000..1049, a MoR delta holds 5, and n_tok = 500 falls in the gap. The
    pruned read scans fewer files and equals the unpruned filter."""
    table.write(_rows(spark, 1000, 1050), mode="append")
    table.merge(_batch(spark, [("k0", [7], 5, "src", "U", 10_000)]),
                epoch_id=7, lsn_col="lsn", op_col="op", strategy="mor")
    m = table.manifest()
    assert table._pruned_buckets(m, "n_tok = 500") == set(m["buckets"]) | set(m["deltas"])
    full = table.read()
    assert len(table.read(where="n_tok = 500").inputFiles()) < len(full.inputFiles())
    for where in ("n_tok = 500", "n_tok = 5", "n_tok = 1010", "n_tok between 300 and 900"):
        assert _rowset(table.read(where=where)) == _rowset(full.filter(where)), where


_MANIFEST_KEYS = {
    "format_version", "version", "snapshot_id", "parent", "epoch_id", "committed_epochs",
    "key_col", "n_buckets", "schema", "buckets", "deltas", "dir_stats", "lsn_watermark",
    "bulk_write_versions", "changelog_min_version", "changelog_min_reason", "summary",
    "properties", "owner", "acl", "created_at", "committed_at",
}


def _assert_dir_stats_invariant(t):
    m = t.manifest()
    assert set(m) == _MANIFEST_KEYS
    dirs = {d for part in (m["buckets"], m["deltas"]) for dl in part.values() for d in dl}
    assert set(m["dir_stats"]) == dirs
    for d in dirs:
        assert m["dir_stats"][d] == LakeTable._file_stats([d]), d


def test_dir_stats_hold_exactly_the_referenced_dirs(table, spark, tmp_path):
    """After create() and every manifest-publishing op, the manifest has
    exactly the format's keys and ``dir_stats`` holds one record per
    referenced base and delta dir, each equal to the driver-serial harvest
    of that dir; a known row count equals the rows read."""
    _assert_dir_stats_invariant(
        LakeTable(spark, str(tmp_path / "new")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    )
    _assert_dir_stats_invariant(table)  # overwrite
    table.write(_rows(spark, 1000, 1050), mode="append")
    _assert_dir_stats_invariant(table)
    table.write(
        spark.createDataFrame([("a1", [9], 9, "s", 50), ("k5", [5], 500, "s", 51)],
                              "doc_id string, tokens array<int>, n_tok int, source string, _lsn long"),
        mode="append",
    )
    _assert_dir_stats_invariant(table)
    table.merge(_batch(spark, [("k1", [1], 1, "s", "U", 60)]), epoch_id=1,
                lsn_col="lsn", op_col="op", strategy="cow")
    _assert_dir_stats_invariant(table)
    assert table.count() == table.read().count()
    _mor(table, spark, [("k2", None, None, "s", "D", 61), ("k3", [3], 3, "s", "U", 62)], 2)
    _assert_dir_stats_invariant(table)
    # a CoW merge folds its buckets' base and delta dirs
    table.merge(_batch(spark, [("k3", [4], 4, "s", "U", 63)]), epoch_id=3,
                lsn_col="lsn", op_col="op", strategy="cow")
    _assert_dir_stats_invariant(table)
    table.compact()
    _assert_dir_stats_invariant(table)
    _mor(table, spark, [("k4", None, None, "s", "D", 64)], 4)
    table.compact(drop_tombstones=True)
    _assert_dir_stats_invariant(table)
    assert table.count() == table.read().count()
    table.rebucket(8)
    _assert_dir_stats_invariant(table)
    table.truncate()
    _assert_dir_stats_invariant(table)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, op string, lsn long",
    )


def test_changelog_emits_only_post_watermark_state(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "cl")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=8)
    t.merge(
        _batch(spark, [(f"k{i}", [i], i, "s", "I", i + 1) for i in range(20)]),
        epoch_id=0, lsn_col="lsn", op_col="op",
    )
    v1 = t.manifest()["version"]
    assert t.manifest()["lsn_watermark"] == 20
    # epoch 1: one update, one delete
    t.merge(
        _batch(spark, [("k3", [99], 99, "s", "U", 100), ("k7", None, None, "s", "D", 101)]),
        epoch_id=1, lsn_col="lsn", op_col="op",
    )
    assert t.manifest()["lsn_watermark"] == 101
    changes = {r.doc_id: (r.n_tok, r._deleted, r._lsn) for r in t.read_changes(v1).collect()}
    assert changes == {"k3": (99, False, 100), "k7": (None, True, 101)}
    # changelog from table creation = full CDC-derived state (19 live + 1 tombstone)
    assert t.read_changes(0).count() == 20
    # _lsn zone pruning: only the buckets epoch 1 touched are read
    m = t.manifest()
    pruned = t._pruned_buckets(m, f"_lsn > {20}")
    touched = len(m["buckets"]) - len(pruned)
    assert 1 <= touched <= 2, (touched, pruned)


def test_changelog_mor_and_bulk_rows_excluded(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "cl2")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    t.merge(
        _batch(spark, [(f"k{i}", [i], i, "s", "I", i + 1) for i in range(10)]),
        epoch_id=0, lsn_col="lsn", op_col="op",
    )
    v1 = t.manifest()["version"]
    # bulk-written rows carry no LSN -> can never surface in the changelog,
    # so a window spanning the bulk append RAISES by default (round-4
    # directive #5: no silently-missed backfills)...
    t.write(_rows(spark, 500, 505), mode="append")
    with pytest.raises(ValueError, match="bulk-append"):
        t.read_changes(v1)
    # MoR epoch: delta-only change still surfaces through the reduce
    t.merge(
        _batch(spark, [("k2", [7], 777, "s", "U", 50)]),
        epoch_id=1, lsn_col="lsn", op_col="op", strategy="mor",
    )
    # ...and on_bulk='ignore' opts into the documented merge-only view
    got = {r.doc_id: r.n_tok for r in t.read_changes(v1, on_bulk="ignore").collect()}
    assert got == {"k2": 777}
    # a window STARTING at/after the bulk commit is clean — no raise
    v_bulk = t.manifest()["bulk_write_versions"][-1]
    assert t.read_changes(v_bulk).count() == 1
    # compaction folds deltas but must not regress the watermark or
    # resurrect pre-watermark rows in the changelog
    wm_before = t.manifest()["lsn_watermark"]
    t.compact()
    assert t.manifest()["lsn_watermark"] == wm_before
    got2 = {r.doc_id: r.n_tok for r in t.read_changes(v1, on_bulk="ignore").collect()}
    assert got2 == {"k2": 777}


def test_changelog_retention_contract_on_history_breaks(spark, tmp_path):
    """ADVICE r4: overwrite / truncate / tombstone-dropping compaction
    advance changelog_min_version; stale incremental reads raise instead of
    silently losing delete events."""
    t = LakeTable(spark, str(tmp_path / "cl4")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    t.merge(
        _batch(spark, [(f"k{i}", [i], i, "s", "I", i + 1) for i in range(6)]),
        epoch_id=0, lsn_col="lsn", op_col="op",
    )
    v1 = t.manifest()["version"]
    t.merge(
        _batch(spark, [("k1", None, None, "s", "D", 100)]),
        epoch_id=1, lsn_col="lsn", op_col="op",
    )
    # before the drop: the delete surfaces as a tombstone
    assert {r.doc_id for r in t.read_changes(v1).collect()} == {"k1"}
    t.compact(drop_tombstones=True)
    v_compact = t.manifest()["version"]
    # after the drop: reading across the break must raise, not lose "k1"
    with pytest.raises(ValueError, match="predates"):
        t.read_changes(v1)
    # restarting the changelog from the break is fine
    assert t.read_changes(v_compact).count() == 0
    # overwrite breaks history too
    t.write(_rows(spark, 0, 3), mode="overwrite")
    with pytest.raises(ValueError, match="predates"):
        t.read_changes(v_compact)
    # a since_version vacuumed out of the retention window (no history
    # break — just manifest retention) raises a retention error, not a
    # raw FileNotFoundError
    t2 = LakeTable(spark, str(tmp_path / "cl5")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    t2.merge(_batch(spark, [("a", [1], 1, "s", "I", 1)]), epoch_id=0, lsn_col="lsn", op_col="op")
    t2.merge(_batch(spark, [("b", [2], 2, "s", "I", 2)]), epoch_id=1, lsn_col="lsn", op_col="op")
    t2.vacuum(keep_last_versions=1)
    with pytest.raises(ValueError, match="vacuumed"):
        t2.read_changes(1)


def test_iter_changes_tails_per_commit_deltas(spark, tmp_path):
    """The CDC-out subscriber loop: one (version, delta, summary) per
    data-changing commit; metadata-only commits and watermark-neutral
    maintenance rewrites yield nothing."""
    t = LakeTable(spark, str(tmp_path / "tail")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    t.merge(
        _batch(spark, [(f"k{i}", [i], i, "s", "I", i + 1) for i in range(5)]),
        epoch_id=0, lsn_col="lsn", op_col="op",
    )
    v0 = t.manifest()["version"]
    t.merge(_batch(spark, [("k1", [9], 9, "s", "U", 10)]), epoch_id=1, lsn_col="lsn", op_col="op")
    t.grant("alice", "SELECT")  # metadata-only commit: no yield
    t.merge(_batch(spark, [("k2", None, None, "s", "D", 11)]), epoch_id=2, lsn_col="lsn", op_col="op")
    t.compact()  # watermark-neutral rewrite: no yield
    out = [(v, {(r.doc_id, r._deleted) for r in df.collect()}, s) for v, df, s in t.iter_changes(v0)]
    assert [v for v, _, _ in out] == [v0 + 1, v0 + 3]
    assert out[0][1] == {("k1", False)}
    assert out[1][1] == {("k2", True)}
    assert out[0][2]["operation"] == "merge"
    # caught up: nothing more
    assert list(t.iter_changes(t.manifest()["version"])) == []
    # a bulk append inside the tail window raises per the on_bulk contract
    # (review finding: the tailing loop must not silently skip backfills)
    v_pre = t.manifest()["version"]
    t.write(
        spark.createDataFrame([("x1", [1], 1, "s")],
                              "doc_id string, tokens array<int>, n_tok int, source string"),
        mode="append",
    )
    with pytest.raises(ValueError, match="bulk-append"):
        list(t.iter_changes(v_pre))
    assert [v for v, _, _ in t.iter_changes(v_pre, on_bulk="ignore")] == [v_pre + 1]
    # a vacuumed resume point raises the retention error, not FileNotFoundError
    t.merge(_batch(spark, [("k0", [8], 8, "s", "U", 99)]), epoch_id=3, lsn_col="lsn", op_col="op")
    t.vacuum(keep_last_versions=1)
    with pytest.raises(ValueError, match="vacuumed"):
        list(t.iter_changes(v_pre))


def test_changelog_surfaces_evolved_columns(spark, tmp_path):
    """A column added by a later epoch appears in the changelog; rows from
    before the column existed would read as NULL under the evolved schema."""
    t = LakeTable(spark, str(tmp_path / "cl3")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    t.merge(
        _batch(spark, [("a", [1], 1, "s", "I", 1), ("b", [2], 2, "s", "I", 2)]),
        epoch_id=0, lsn_col="lsn", op_col="op",
    )
    v1 = t.manifest()["version"]
    evolved = spark.createDataFrame(
        [("a", [9], 9, "s", "web", "U", 10)],
        "doc_id string, tokens array<int>, n_tok int, source string, origin string, op string, lsn long",
    )
    t.merge(evolved, epoch_id=1, lsn_col="lsn", op_col="op")
    ch = t.read_changes(v1)
    assert "origin" in ch.columns
    rows = {r.doc_id: r.origin for r in ch.collect()}
    assert rows == {"a": "web"}


def _reduce_then_filter(t, since, to):
    """The reference formulation of ``read_changes``: reduce the whole
    snapshot, then apply the ``since`` watermark."""
    wm = t.manifest(since).get("lsn_watermark")
    df = t.read(version=to, include_system=True)
    df = df.filter(F.col("_lsn").isNotNull() if wm is None else F.col("_lsn") > wm)
    return df.drop("_bucket", "_seq")


def _rowset(df):
    return sorted(repr(tuple(r)) for r in df.select(*sorted(df.columns)).collect())


def _mor(t, spark, rows, epoch):
    t.merge(_batch(spark, rows), epoch_id=epoch, lsn_col="lsn", op_col="op", strategy="mor")
    return t.manifest()["version"]


def test_mor_changelog_equals_reduce_then_filter(spark, tmp_path):
    """Filtering to ``_lsn > wm`` before the merge-on-read reduce, and
    skipping dirs whose ``_lsn`` max is at or below ``wm``, return exactly
    the rows of the full reduce followed by the filter, on every window."""
    t = LakeTable(spark, str(tmp_path / "eq")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    _mor(t, spark, [(f"k{i}", [i], i, "s", "I", i + 1) for i in range(20)], 0)  # wm 20
    # an update, a delete, and late replays below the watermark (k3, k4
    # hold LSNs 4 and 5; the replays must lose and never surface)
    _mor(t, spark, [("k1", [1], 100, "s", "U", 30), ("k2", None, None, "s", "D", 31),
                    ("k3", [0], 0, "s", "U", 2), ("k4", [0], 0, "s", "U", 3)], 1)
    # an equal-LSN tie on k1: the later commit (higher _seq) wins
    _mor(t, spark, [("k1", [2], 200, "s", "U", 30), ("k5", [5], 500, "s", "U", 32)], 2)
    t.compact()  # folds the deltas inside later windows
    _mor(t, spark, [("k6", [6], 600, "s", "U", 40), ("k2", [2], 2, "s", "I", 41),
                    ("k7", [0], 0, "s", "U", 1)], 3)
    # an LSN-carrying append: a new key and an existing one, beside deltas
    t.write(
        spark.createDataFrame([("a1", [9], 9, "s", 50), ("k8", [8], 800, "s", 51)],
                              "doc_id string, tokens array<int>, n_tok int, source string, _lsn long"),
        mode="append",
    )
    _mor(t, spark, [("k8", None, None, "s", "D", 52)], 4)
    last = t.manifest()["version"]
    for to in range(1, last + 1):
        for since in range(0, to):
            got = t.read_changes(since, to)
            assert _rowset(got) == _rowset(_reduce_then_filter(t, since, to)), (since, to)
    # spot-check the semantics the reference encodes
    tie = {r.doc_id: r.n_tok for r in t.read_changes(1, 3).collect()}
    assert tie["k1"] == 200 and "k3" not in tie and "k4" not in tie
    assert {r.doc_id: r._deleted for r in t.read_changes(2, last).collect()}["k8"] is True


def test_one_commit_changelog_scans_only_that_commit(spark, tmp_path):
    """A one-commit window over uncompacted MoR deltas reads only that
    commit's files; without the per-dir ``_lsn`` ranges (as for LSN-less
    bulk rows) every dir is read and the rows are the same."""
    import json as _json

    t = LakeTable(spark, str(tmp_path / "scope")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    t.merge(_batch(spark, [(f"k{i}", [i], i, "s", "I", i + 1) for i in range(40)]),
            epoch_id=0, lsn_col="lsn", op_col="op")
    for e in range(1, 5):
        v = _mor(t, spark, [(f"k{i}", [e], e, "s", "U", 100 * e + i) for i in range(0, 40, 3)], e)
    m = t.manifest()
    assert all(len(dl) >= 4 for dl in m["deltas"].values())
    files = t.read_changes(v - 1, v).inputFiles()
    assert files and all(f"/snap-{v:08d}-" in f for f in files), files
    want = _rowset(t.read_changes(v - 1, v))
    # drop every dir's _lsn range: nothing can be pruned, the rows hold
    for rec in m["dir_stats"].values():
        rec["zones"].pop("_lsn")
    with open(t._manifest_path(v), "w") as fh:
        _json.dump(m, fh)
    stripped = t.read_changes(v - 1, v)
    assert _rowset(stripped) == want
    assert len(stripped.inputFiles()) > len(files)
    # every dir is read, base dirs included: the per-key reduce runs again
    assert _reduces(stripped)


def _reduces(df) -> bool:
    return "Aggregate" in df._jdf.queryExecution().optimizedPlan().toString()


def test_one_commit_mor_changelog_skips_the_reduce(spark, tmp_path):
    """A window whose surviving dirs are one merge-on-read commit's deltas
    reads them with no per-key reduce (no ``Aggregate`` in the optimized
    plan); a window over two MoR commits, or over a copy-on-write commit
    of a table that still holds deltas, keeps the reduce. Every window
    returns the reduce-then-filter rows."""
    t = LakeTable(spark, str(tmp_path / "short")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    t.merge(_batch(spark, [(f"k{i}", [i], i, "s", "I", i + 1) for i in range(40)]),
            epoch_id=0, lsn_col="lsn", op_col="op")
    for e in range(1, 4):
        # updates of overlapping keys, a delete, and a late replay that loses
        rows = [(f"k{i}", [e], e, "s", "U", 100 * e + i) for i in range(e, 40, 3)]
        rows += [(f"k{e + 20}", None, None, "s", "D", 100 * e + 99), ("k0", [0], 0, "s", "U", 0)]
        v = _mor(t, spark, rows, e)
    one = t.read_changes(v - 1, v)
    assert not _reduces(one)
    assert _rowset(one) == _rowset(_reduce_then_filter(t, v - 1, v))
    assert "k0" not in {r.doc_id for r in one.collect()}
    two = t.read_changes(v - 2, v)
    assert _reduces(two)
    assert _rowset(two) == _rowset(_reduce_then_filter(t, v - 2, v))
    t.merge(_batch(spark, [("k1", [7], 7, "s", "U", 500)]), epoch_id=4,
            lsn_col="lsn", op_col="op", strategy="cow")
    vc = t.manifest()["version"]
    assert t.manifest()["deltas"]  # the buckets k1 does not hash to keep theirs
    cow = t.read_changes(vc - 1, vc)
    assert _reduces(cow)
    assert _rowset(cow) == _rowset(_reduce_then_filter(t, vc - 1, vc))
