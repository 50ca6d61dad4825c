"""The one durable, atomic file replace behind every commit point: the lake
manifest and its ``_current`` pointer, the ingest checkpoint and the
changelog consumer cursor.

A crash at any instant leaves a reader the old content or the new, never a
torn file: the bytes are made durable in a uniquely named temp file before
``os.replace`` (atomic on POSIX) publishes them.
"""

from __future__ import annotations

import os
import uuid


def atomic_write(path: str, text: str, exclusive: bool = False) -> None:
    """Replace ``path`` with ``text``: write a temp file beside it (uuid
    name, so concurrent writers in one process never share it), flush and
    fsync it, then ``os.replace`` it over ``path``.

    ``exclusive``: once the temp file is durable, claim ``path`` with
    ``O_CREAT | O_EXCL`` before the replace; if ``path`` already exists the
    temp file is removed and ``FileExistsError`` raised (the optimistic
    commit claim of a manifest version)."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    if exclusive:
        try:
            os.close(os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        except FileExistsError:
            os.unlink(tmp)
            raise
    os.replace(tmp, path)
