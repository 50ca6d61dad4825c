"""Lake lifecycle: compaction, tombstone reclamation, vacuum, commit
conflicts, and the reference-style golden round-trip (SURVEY §5)."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geopetl_spark import LakeTable, generate_cdc_events
from geopetl_spark.lake.table import CommitConflict

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)


@pytest.fixture()
def merged_table(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "lake")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=8)
    ev = generate_cdc_events(spark, 3000, n_keys=150, events_per_epoch=1000)
    for e in range(3):
        t.merge(ev.filter(F.col("epoch") == e), epoch_id=e)
    return t


def _n_data_dirs(t):
    root = os.path.join(t.path, "data")
    return sum(len(dirs) == 0 for _, dirs, _ in os.walk(root))  # leaf dirs


def test_rebucket_preserves_state_and_reroutes_merges(merged_table, spark):
    """Bucket-count evolution (round-5): one rewrite under the new layout,
    logical state unchanged, watermark preserved, later merges route by the
    new count (and an MoR delta folds into the rewrite)."""
    t = merged_table
    before = t.checksum()
    wm = t.manifest()["lsn_watermark"]
    # leave an unfolded MoR delta so rebucket has to reduce it in
    delta = spark.createDataFrame(
        [("k00001", [9], 9, "s", "U", 10_000_000)],
        "doc_id string, tokens array<int>, n_tok int, source string, op string, lsn long",
    )
    t.merge(delta, epoch_id=98, lsn_col="lsn", op_col="op", strategy="mor")
    after_delta = t.checksum()
    t.rebucket(32)
    m = t.manifest()
    assert m["n_buckets"] == 32 and not m["deltas"]
    assert t.checksum() == after_delta != before
    assert m["lsn_watermark"] >= wm
    assert len(m["buckets"]) > 8  # keys actually spread over the new layout
    # a post-rebucket merge routes by the new bucket expr and stays correct
    up = spark.createDataFrame(
        [("k00002", [7], 7, "s", "U", 10_000_001)],
        "doc_id string, tokens array<int>, n_tok int, source string, op string, lsn long",
    )
    t.merge(up, epoch_id=99, lsn_col="lsn", op_col="op")
    got = {r.doc_id: r.n_tok for r in t.read(where="n_tok >= 7").collect() if r.doc_id in ("k00001", "k00002")}
    assert got == {"k00001": 9, "k00002": 7}


def test_timestamp_time_travel(merged_table, spark):
    """read(as_of_ts=) resolves to the latest commit at or before the
    timestamp (no flaky sleeps: the manifests' own committed_at stamps
    drive the probe points)."""
    t = merged_table
    hist = [h for h in t.history() if h["committed_at"] is not None]
    assert len(hist) >= 3  # create + 3 merges
    v_mid = hist[-2]["version"]
    ts_mid = hist[-2]["committed_at"]
    # exactly at a commit's stamp -> that commit; between commits -> the earlier one
    assert t.version_as_of(ts_mid) == v_mid
    assert t.read(as_of_ts=ts_mid).count() == t.read(version=v_mid).count()
    assert t.version_as_of(hist[-1]["committed_at"] + 1) == hist[-1]["version"]
    with pytest.raises(ValueError, match="no retained snapshot"):
        t.version_as_of(hist[0]["committed_at"] - 10)
    with pytest.raises(ValueError, match="not both"):
        t.read(version=1, as_of_ts=ts_mid)


def test_compact_preserves_state_and_reduces_dirs(merged_table):
    t = merged_table
    cs = t.checksum()
    dirs_before = sum(len(v) for v in t.manifest()["buckets"].values())
    t.compact()
    assert t.checksum() == cs
    dirs_after = sum(len(v) for v in t.manifest()["buckets"].values())
    assert dirs_after <= dirs_before


def test_compact_drop_tombstones(merged_table, spark):
    t = merged_table
    cs = t.checksum()
    had_tombstones = (
        t.read(include_system=True).filter(F.col("_deleted")).count() > 0
    )
    assert had_tombstones  # the generator plants deletes
    t.compact(drop_tombstones=True)
    assert t.checksum() == cs  # live state untouched
    assert t.read(include_system=True).filter(F.col("_deleted")).count() == 0


def test_vacuum_reclaims_old_snapshots(merged_table, spark):
    t = merged_table
    cs = t.checksum()
    t.compact()
    res = t.vacuum(keep_last_versions=1)
    assert res["removed_data_dirs"] > 0
    assert res["removed_manifests"] > 0
    assert t.checksum() == cs  # current snapshot fully readable
    # time travel beyond the kept window is gone
    with pytest.raises(Exception):
        t.read(version=0).count()


def test_commit_conflict_one_winner(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "lake")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    df = spark.createDataFrame([("k1", [1], 1, "s")], DOC_SCHEMA)
    # simulate a racing writer that published the same next version first
    m = t.manifest()
    racing = dict(m, version=m["version"] + 1, snapshot_id="racer")
    t._publish(racing)
    stale = LakeTable(spark, t.path)
    stale_m = dict(m, version=m["version"] + 1, snapshot_id="loser")
    with pytest.raises(CommitConflict):
        stale._publish(stale_m)
    assert t.manifest()["snapshot_id"] == "racer"  # winner's commit intact
    # a retry against the refreshed state succeeds
    t.write(df, mode="append")
    assert t.read().count() == 1


def test_describe_layout_surface(merged_table):
    """C6 analog (indexes/privileges, oracle_sde.py:784-824): describe()
    reports the physical layout and live stats."""
    d = merged_table.describe()
    assert d["key_col"] == "doc_id"
    assert d["layout"]["n_buckets"] == 8
    assert d["layout"]["bucket_expr"] == "pmod(hash(doc_id), 8)"
    assert d["total_rows"] == merged_table.read().count()
    assert d["tombstones"] is not None and d["tombstones"] >= 0
    assert d["committed_epochs"] == 3
    assert set(d["columns"]) == {"doc_id", "tokens", "n_tok", "source"}


def _upsert(spark, key, lsn):
    return spark.createDataFrame(
        [(key, [lsn], 1, "s", "U", lsn)],
        "doc_id string, tokens array<int>, n_tok int, source string, op string, lsn long",
    )


def test_table_of_another_format_version_is_refused(spark, tmp_path):
    """A manifest of another ``format_version`` is refused, not read:
    ``manifest()``, ``read()`` and ``merge()`` raise, naming the version
    found and asking for a re-ingest."""
    t = LakeTable(spark, str(tmp_path / "lake")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    assert t.manifest()["format_version"] == 2
    m = t.manifest()
    t._publish(dict(m, version=m["version"] + 1, format_version=1))
    for op in (t.manifest, t.read, lambda: t.merge(_upsert(spark, "k", 1), epoch_id=0)):
        with pytest.raises(ValueError, match=r"format_version 1; .*Re-ingest"):
            op()


def test_vacuum_keeps_a_commit_still_being_written(spark, tmp_path, monkeypatch):
    """A vacuum that runs while a merge-on-read commit is being published
    keeps the snapshot dir that commit has written but not yet published,
    so the manifest it then publishes names only dirs that exist."""
    t = LakeTable(spark, str(tmp_path / "lake")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    t.merge(_upsert(spark, "a", 1), epoch_id=0, strategy="mor")
    publish = LakeTable._publish
    vacuumed = []

    def publish_after_a_vacuum(self, manifest):
        if manifest["version"] == 2 and not vacuumed:
            vacuumed.append(LakeTable(spark, self.path).vacuum(keep_last_versions=1))
        publish(self, manifest)

    monkeypatch.setattr(LakeTable, "_publish", publish_after_a_vacuum)
    t.merge(_upsert(spark, "b", 2), epoch_id=1, strategy="mor")
    assert vacuumed == [{"removed_data_dirs": 0, "removed_manifests": 1}]
    assert sorted(r.doc_id for r in t.read().collect()) == ["a", "b"]


def test_write_buckets_a_narrower_key_by_its_stored_type(spark, tmp_path):
    """``write()`` of an int-keyed frame into a bigint-keyed table buckets
    each row by the stored bigint (Spark hashes an int and the same bigint
    apart), so a later merge of one of those keys finds its row and the
    key stays one row."""
    schema = T.StructType(
        [T.StructField("id", T.LongType(), False), T.StructField("v", T.StringType())]
    )
    t = LakeTable(spark, str(tmp_path / "lake")).create(schema, key_col="id", n_buckets=8)
    t.write(spark.range(50).selectExpr("CAST(id AS INT) AS id", "'w' AS v"), mode="append")
    stored = t.read(include_system=True).withColumn("f", F.input_file_name())
    want = F.pmod(F.hash(F.col("id").cast("long")), F.lit(8))
    assert stored.filter(F.col("_bucket") != want).count() == 0
    in_dir = F.col("f").contains(F.concat(F.lit("_bucket_p="), want.cast("string"), F.lit("/")))
    assert stored.filter(~in_dir).count() == 0
    upd = spark.createDataFrame([(7, "m", "U", 1)], "id long, v string, op string, lsn long")
    t.merge(upd, epoch_id=0, strategy="cow")
    assert [tuple(r) for r in t.read().filter("id = 7").collect()] == [(7, "m")]
    assert t.read().count() == 50


def test_concurrent_writers_do_not_clobber_data(spark, tmp_path):
    """Two writers racing to the same next VERSION write disjoint data dirs:
    the loser's mode-overwrite parquet write must never delete the winner's
    files (the manifest O_EXCL race only arbitrates the manifest — the data
    path must be conflict-free by construction)."""
    t = LakeTable(spark, str(tmp_path / "lake")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    m = t.manifest()
    v = m["version"] + 1
    staged_a = spark.createDataFrame([("a", [1], 1, "s")], DOC_SCHEMA)
    staged_a = staged_a.withColumn("_bucket", F.expr(t._bucket_int_sql("doc_id", 4))).withColumn(
        "_lsn", F.lit(1).cast("long")).withColumn("_deleted", F.lit(False))
    staged_b = spark.createDataFrame([("b", [2], 1, "s")], DOC_SCHEMA)
    staged_b = staged_b.withColumn("_bucket", F.expr(t._bucket_int_sql("doc_id", 4))).withColumn(
        "_lsn", F.lit(1).cast("long")).withColumn("_deleted", F.lit(False))
    written_a, _, n_a, _ = t._write_snapshot_data(staged_a, v, 4, "doc_id")
    written_b, _, n_b, _ = t._write_snapshot_data(staged_b, v, 4, "doc_id")  # same version!
    dirs_a = {d for dl in written_a.values() for d in dl}
    dirs_b = {d for dl in written_b.values() for d in dl}
    assert dirs_a.isdisjoint(dirs_b)
    # winner A's files are intact and readable after B's overwrite-mode write
    assert spark.read.parquet(*sorted(dirs_a)).count() == n_a == 1
    assert n_b == 1


def test_mixed_int_and_str_epoch_ids(spark, tmp_path):
    """Batch ingest uses int epochs, stream ingest uses 'stream-{n}' strings;
    a table that has seen both must keep committing (regression: bare
    sorted() on the mixed set raised TypeError)."""
    t = LakeTable(spark, str(tmp_path / "lake")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    def batch(k, lsn):
        return spark.createDataFrame(
            [(k, [1], 1, "s", "U", lsn)],
            "doc_id string, tokens array<int>, n_tok int, source string, op string, lsn long",
        )
    t.merge(batch("k1", 1), epoch_id=0)
    t.merge(batch("k2", 2), epoch_id="stream-0")
    t.merge(batch("k3", 3), epoch_id=1)  # would raise before the fix
    assert set(t.committed_epochs()) == {0, "stream-0", 1}
    assert t.read().count() == 3


# ---------------------------------------------------------------------------
# Reference test-strategy carry-over (SURVEY §5): golden edge-case rows
# round-tripped through the sink and compared field by field. Edge content
# from the reference's point.csv: NULL row, special characters, embedded
# quotes, negative/zero/large numbers, tz offsets, empty payload.
# ---------------------------------------------------------------------------

GOLDEN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("textfield", T.StringType(), True),
        T.StructField("ts_tz", T.TimestampType(), True),
        T.StructField("numericfield", T.DoubleType(), True),
        T.StructField("datefield", T.DateType(), True),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
    ]
)

import datetime as dt

GOLDEN_ROWS = [
    ("r01", None, None, None, None, None),  # all-NULL row (point.csv row 1)
    ("r02", "ab#$%c", dt.datetime(2019, 5, 15, 15, 53, 53, 522000, tzinfo=dt.timezone.utc), 1.0, dt.date(2005, 1, 1), [1, 2, 3]),
    ("r03", "d!@^&*?-=+ef", dt.datetime(2019, 5, 15, 19, 53, 53, tzinfo=dt.timezone(dt.timedelta(hours=-4))), -123.0, dt.date(2015, 3, 1), [0]),
    ("r04", 'y"ea::h', dt.datetime(2032, 4, 30, 0, 0, 0, tzinfo=dt.timezone(dt.timedelta(hours=5))), 2132134342.0, dt.date(2031, 2, 28), [2147483647 - 1]),
    ("r05", "qwe'qeqdqw", None, 0.0, None, []),  # empty payload ≈ POINT EMPTY
    ("r06", "po{}tato", None, 0.123456789, dt.date(1971, 1, 1), [7, 7, 7]),
    ("r07", "v[]im", None, None, None, None),
]


def test_golden_roundtrip_field_by_field(spark, tmp_path):
    """write -> read -> write -> read; both reads identical and equal to the
    golden rows (the reference's round-trip idempotence test,
    test_postgis.py:499-530, recast)."""
    src = spark.createDataFrame(GOLDEN_ROWS, GOLDEN_SCHEMA)
    t1 = LakeTable(spark, str(tmp_path / "g1")).create(GOLDEN_SCHEMA, key_col="doc_id", n_buckets=4)
    t1.write(src, mode="overwrite")
    read1 = {r["doc_id"]: r.asDict() for r in t1.read().collect()}

    t2 = LakeTable(spark, str(tmp_path / "g2")).create(GOLDEN_SCHEMA, key_col="doc_id", n_buckets=4)
    t2.write(t1.read(), mode="overwrite")
    read2 = {r["doc_id"]: r.asDict() for r in t2.read().collect()}

    golden = {r[0]: dict(zip(GOLDEN_SCHEMA.fieldNames(), r)) for r in GOLDEN_ROWS}
    assert read1 == read2  # round-trip idempotence
    for k, grow in golden.items():
        got = read1[k]
        for field, want in grow.items():
            if field == "ts_tz" and want is not None:
                # tz values compare in UTC (reference parses both sides
                # before compare, test_oraclesde.py:243-252)
                assert got[field].replace(tzinfo=dt.timezone.utc) == want.astimezone(dt.timezone.utc), field
            elif field == "tokens" and want is not None:
                assert (got[field] or []) == want, field  # token-array equality
            else:
                assert got[field] == want, (k, field)


# ---------------------------------------------------------------- round 6


def test_version_as_of_ignores_uncommitted_manifest(merged_table):
    """Advisor r5: _publish writes the manifest file BEFORE the pointer
    swap that defines the commit point. A crash in between leaves a
    complete manifest for a never-committed version — time travel must
    clamp to the pointer, never resolve past it."""
    import json as _json
    import time as _time

    t = merged_table
    committed = t.manifest()["version"]
    orphan = dict(t.manifest())
    orphan["version"] = committed + 1
    orphan["committed_at"] = _time.time()
    with open(t._manifest_path(committed + 1), "w") as fh:
        _json.dump(orphan, fh)
    try:
        assert t.version_as_of(_time.time() + 3600) == committed
        assert t.read(as_of_ts=_time.time() + 3600).count() == t.read().count()
    finally:
        os.unlink(t._manifest_path(committed + 1))


def test_committed_at_monotone_across_clock_step(spark, tmp_path, monkeypatch):
    """Advisor r5: a wall-clock step backwards between commits must not
    produce non-monotone committed_at stamps (version_as_of picks max
    version with stamp <= ts, which requires stamps ordered like
    versions)."""
    import time as real_time

    from geopetl_spark.lake import table as table_mod

    t = LakeTable(spark, str(tmp_path / "lake")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    ev = generate_cdc_events(spark, 600, n_keys=50, events_per_epoch=200)
    base = real_time.time()
    clock = {"now": base}
    monkeypatch.setattr(table_mod.time, "time", lambda: clock["now"])
    t.merge(ev.filter(F.col("epoch") == 0), epoch_id=0)
    clock["now"] = base - 500.0  # NTP step backwards
    t.merge(ev.filter(F.col("epoch") == 1), epoch_id=1)
    clock["now"] = base + 100.0
    t.merge(ev.filter(F.col("epoch") == 2), epoch_id=2)
    hist = sorted(t.history(), key=lambda h: h["version"])
    stamps = [h["committed_at"] for h in hist if h["committed_at"] is not None]
    assert stamps == sorted(stamps), stamps
    # and as-of at the (clamped) middle stamp resolves to the middle version
    v_mid = hist[-2]["version"]
    assert t.version_as_of(hist[-2]["committed_at"]) == v_mid


def test_bulk_append_with_lsn_is_changelog_visible(spark, tmp_path):
    """Advisor r5: write(mode='append') whose input already carries _lsn
    DOES surface in the changelog (the watermark advances from it), so it
    must not be recorded as a bulk-blind version; an LSN-less append still
    must be."""
    t = LakeTable(spark, str(tmp_path / "lake")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    ev = generate_cdc_events(spark, 400, n_keys=40, events_per_epoch=200)
    t.merge(ev.filter(F.col("epoch") == 0), epoch_id=0)
    v0 = t.manifest()["version"]

    rows = spark.createDataFrame(
        [("bk-%d" % i, [i, i + 1], 2, "backfill") for i in range(10)], DOC_SCHEMA
    ).withColumn("_lsn", (F.lit(10_000_000) + F.monotonically_increasing_id()).cast("long"))
    t.write(rows, mode="append")
    v1 = t.manifest()["version"]
    assert v1 not in t.manifest().get("bulk_write_versions", [])
    # the window spanning the LSN-carrying append is complete, not an error
    changed = t.read_changes(v0).select("doc_id").distinct().count()
    assert changed == 10

    lsnless = spark.createDataFrame([("nolsn-1", [1], 1, "bulk")], DOC_SCHEMA)
    t.write(lsnless, mode="append")
    v2 = t.manifest()["version"]
    assert v2 in t.manifest()["bulk_write_versions"]
    with pytest.raises(ValueError, match="bulk-append"):
        t.read_changes(v1)


def test_lsn_append_rejects_null_and_stale_lsns(spark, tmp_path):
    """Advisor r6: the _lsn-carrying-append exemption from bulk-blind
    bookkeeping is only sound when every provided LSN is non-null AND above
    the current watermark — rows failing either can never surface in
    read_changes (which filters _lsn > watermark) while the version looks
    changelog-complete. Both must be rejected loudly, before any write."""
    t = LakeTable(spark, str(tmp_path / "lake")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    ev = generate_cdc_events(spark, 400, n_keys=40, events_per_epoch=200)
    t.merge(ev.filter(F.col("epoch") == 0), epoch_id=0)
    v0 = t.manifest()["version"]
    wm = t.manifest()["lsn_watermark"]
    assert wm is not None

    nulls = spark.createDataFrame(
        [("nk-%d" % i, [i], 1, "backfill") for i in range(3)], DOC_SCHEMA
    ).withColumn("_lsn", F.lit(None).cast("long"))
    with pytest.raises(ValueError, match="null-_lsn"):
        t.write(nulls, mode="append")

    stale = spark.createDataFrame(
        [("sk-%d" % i, [i], 1, "backfill") for i in range(3)], DOC_SCHEMA
    ).withColumn("_lsn", F.lit(int(wm)).cast("long"))  # == watermark: invisible
    with pytest.raises(ValueError, match="lsn_watermark"):
        t.write(stale, mode="append")

    # neither rejected attempt committed a version or wrote data
    assert t.manifest()["version"] == v0


def test_lsn_append_is_checked_from_what_was_written(spark, tmp_path):
    """The _lsn check judges the written files, not a second evaluation of
    the input: an _lsn whose value changes between evaluations (a UDF that
    answers a row's first call with a fresh LSN and every later call with
    NULL) either commits only visible LSNs or commits nothing. A refused
    append leaves no data dir behind."""
    t = LakeTable(spark, str(tmp_path / "lake")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    ev = generate_cdc_events(spark, 400, n_keys=40, events_per_epoch=200)
    t.merge(ev.filter(F.col("epoch") == 0), epoch_id=0)
    v0, wm = t.manifest()["version"], t.manifest()["lsn_watermark"]
    marks = tmp_path / "evaluated"
    marks.mkdir()

    def first_call_lsn(doc_id):
        mark = marks / doc_id
        if mark.exists():
            return None
        mark.touch()
        return wm + 1 + int(doc_id.split("-")[1])

    lsn = F.udf(first_call_lsn, "long").asNondeterministic()
    rows = spark.createDataFrame([("ud-%d" % i, [i], 1, "backfill") for i in range(20)], DOC_SCHEMA)
    try:
        t.write(rows.withColumn("_lsn", lsn("doc_id")), mode="append")
    except ValueError:
        assert t.manifest()["version"] == v0
    else:
        got = t.read(include_system=True).filter(F.col("doc_id").startswith("ud-")).collect()
        assert len(got) == 20
        assert all(r["_lsn"] is not None and r["_lsn"] > wm for r in got)

    data = tmp_path / "lake" / "data"
    before = sorted(os.listdir(data))
    nulls = rows.withColumn("_lsn", F.lit(None).cast("long"))
    with pytest.raises(ValueError, match="null-_lsn"):
        t.write(nulls, mode="append")
    assert sorted(os.listdir(data)) == before
