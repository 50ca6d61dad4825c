"""Every commit point — the lake manifest and its ``_current`` pointer, the
ingest checkpoint, the consumer cursor — publishes through one durable
atomic replace (a link, for the manifest's exclusive claim): the published
temp file was fsynced first, its directory is fsynced after, and no two
writes share a temp name."""

import os
import stat
import sys

import pytest

sys.path.insert(0, ".")
from geopetl_spark import LakeTable  # noqa: E402
from geopetl_spark.lake.cursor import ConsumerCursor  # noqa: E402
from geopetl_spark.streaming import Checkpoint  # noqa: E402
from tests.test_cdc_engine import DOC_SCHEMA  # noqa: E402


def test_every_commit_point_fsyncs_before_replace(tmp_path, monkeypatch):
    synced: set[int] = set()
    replaced: list[tuple[str, str]] = []
    linked: list[tuple[str, str]] = []
    order: list[str] = []
    real_fsync, real_replace, real_link = os.fsync, os.replace, os.link

    def fsync(fd):
        st = os.fstat(fd)
        if stat.S_ISDIR(st.st_mode):
            order.append("fsync-dir")
        synced.add(st.st_ino)
        return real_fsync(fd)

    def replace(src, dst):
        assert os.stat(src).st_ino in synced, f"{src} renamed over {dst} before fsync"
        replaced.append((str(src), str(dst)))
        order.append("publish")
        return real_replace(src, dst)

    def link(src, dst):
        assert os.stat(src).st_ino in synced, f"{src} linked to {dst} before fsync"
        linked.append((str(src), str(dst)))
        order.append("publish")
        return real_link(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    monkeypatch.setattr(os, "link", link)
    t = LakeTable(None, str(tmp_path / "lake")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    t.grant("alice", "SELECT")
    Checkpoint(str(tmp_path / "ckpt")).save(1, {"p": 3})
    cursor = ConsumerCursor(str(tmp_path / "cursor.json"))
    cursor.advance(2)
    cursor.advance(3)
    dsts = [os.path.basename(d) for _, d in replaced]
    assert dsts.count("_current") == 2 and dsts.count("checkpoint.json") == 1
    assert dsts.count("cursor.json") == 2
    assert [os.path.basename(d) for _, d in linked] == ["manifest-00000000.json", "manifest-00000001.json"]
    published = replaced + linked
    assert len({s for s, _ in published}) == len(published)  # a fresh temp file per write
    assert not [n for n in os.listdir(t.manifest_dir) if ".tmp-" in n]  # linked temps removed
    assert order == ["publish", "fsync-dir"] * len(published)  # each new name made durable
    assert t.manifest()["version"] == 1 and cursor.load() == 3


class _Crash(BaseException):
    """The writer process dying at an injected point."""


def test_crash_before_manifest_claim_does_not_block_later_commits(tmp_path, monkeypatch):
    """A writer that dies with its manifest durable in a temp file but not
    yet published leaves the version unclaimed: the next commit takes it.
    A claim that left an empty file at the manifest name would make every
    later commit of that version a CommitConflict."""
    t = LakeTable(None, str(tmp_path / "lake")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)

    def crash(src, dst):
        raise _Crash(dst)

    with monkeypatch.context() as mp:
        mp.setattr(os, "link", crash)
        mp.setattr(os, "replace", crash)  # the step that publishes the name
        with pytest.raises(_Crash):
            t.grant("alice", "SELECT")
    assert not os.path.exists(t._manifest_path(1))
    assert t.manifest()["version"] == 0
    t.grant("bob", "SELECT")  # the next commit takes version 1
    assert t.manifest()["version"] == 1 and "bob" in t.privileges()
    assert [h["version"] for h in t.history()] == [0, 1]


def test_exclusive_write_refuses_an_existing_file(tmp_path):
    from geopetl_spark.atomic import atomic_write

    path = tmp_path / "manifest-00000001.json"
    atomic_write(str(path), "first", exclusive=True)
    with pytest.raises(FileExistsError):
        atomic_write(str(path), "second", exclusive=True)
    assert path.read_text() == "first"
    assert os.listdir(tmp_path) == ["manifest-00000001.json"]  # no temp file left
