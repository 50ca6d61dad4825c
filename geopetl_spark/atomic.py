"""The one durable, atomic file replace behind every commit point: the lake
manifest and its ``_current`` pointer, the ingest checkpoint and the
changelog consumer cursor.

A crash at any instant leaves a reader the old content or the new, never a
torn file: the bytes are made durable in a uniquely named temp file before
``os.replace`` (atomic on POSIX) publishes them, and the parent directory
is fsynced after, so the new name survives a power loss too.
"""

from __future__ import annotations

import os
import uuid


def atomic_write(path: str, text: str, exclusive: bool = False) -> None:
    """Replace ``path`` with ``text``: write a temp file beside it (uuid
    name, so concurrent writers in one process never share it), flush and
    fsync it, ``os.replace`` it over ``path``, then fsync the directory.

    ``exclusive``: publish with ``os.link`` of the durable temp file instead
    of the replace, so ``path`` is claimed and filled in one step (the
    optimistic commit claim of a manifest version). If ``path`` already
    exists the temp file is removed and ``FileExistsError`` raised; a
    writer that dies at any point leaves ``path`` absent or complete."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    if exclusive:
        try:
            os.link(tmp, path)
        finally:
            os.unlink(tmp)
    else:
        os.replace(tmp, path)
    fd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
