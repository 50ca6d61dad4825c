"""Every commit point — the lake manifest and its ``_current`` pointer, the
ingest checkpoint, the consumer cursor — publishes through one durable
atomic replace: the renamed temp file was fsynced first, and no two writes
share a temp name."""

import os
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
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        synced.add(os.fstat(fd).st_ino)
        return real_fsync(fd)

    def replace(src, dst):
        assert os.stat(src).st_ino in synced, f"{src} renamed over {dst} before fsync"
        replaced.append((str(src), str(dst)))
        return real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    t = LakeTable(None, str(tmp_path / "lake")).create(DOC_SCHEMA, key_col="doc_id", n_buckets=4)
    t.grant("alice", "SELECT")
    Checkpoint(str(tmp_path / "ckpt")).save(1, {"p": 3})
    cursor = ConsumerCursor(str(tmp_path / "cursor.json"))
    cursor.advance(2)
    cursor.advance(3)
    dsts = [os.path.basename(d) for _, d in replaced]
    assert dsts.count("_current") == 2 and dsts.count("checkpoint.json") == 1
    assert dsts.count("cursor.json") == 2
    assert len({s for s, _ in replaced}) == len(replaced)  # a fresh temp file per write
    assert t.manifest()["version"] == 1 and cursor.load() == 3


def test_exclusive_write_refuses_an_existing_file(tmp_path):
    from geopetl_spark.atomic import atomic_write

    path = tmp_path / "manifest-00000001.json"
    atomic_write(str(path), "first", exclusive=True)
    with pytest.raises(FileExistsError):
        atomic_write(str(path), "second", exclusive=True)
    assert path.read_text() == "first"
    assert os.listdir(tmp_path) == ["manifest-00000001.json"]  # no temp file left
