"""Durable consumer cursor for the changelog-tail subscriber.

A tailing consumer (``run.py --follow``) owns exactly one piece of state:
the last table version it fully emitted. This module persists that state
with the same discipline the engine uses for its own ingest checkpoint —
write-temp + ``os.replace`` (atomic on POSIX) + fsync — so a killed tail
resumes from its cursor instead of replaying from the caller-remembered
version.

Delivery semantics are commit-after-process (the Kafka consumer
discipline): the CLI advances the cursor AFTER printing a commit's line,
so a kill inside the print→advance window re-emits that one commit on
resume (at-least-once on the boundary, exactly-once everywhere else).
Advancing before emitting would invert this into silent loss on the same
window, which a CDC subscriber must never risk.

Parity note: the reference (geopetl) has no subscriber state at all — its
extract is a full-table re-read per run (``geopetl/postgis.py:54-129``).
The cursor is what turns the engine's incremental changelog into a
resumable subscription.
"""

from __future__ import annotations

import json
import os
import time

from ..atomic import atomic_write


class ConsumerCursor:
    """One JSON file: ``{"version": N, "updated_at": <unix>}``."""

    def __init__(self, path: str):
        self.path = path

    def load(self) -> int | None:
        """Last fully-emitted version, or None if no cursor exists yet."""
        try:
            with open(self.path) as f:
                doc = json.load(f)
        except FileNotFoundError:
            return None
        except (json.JSONDecodeError, OSError) as e:
            # a torn cursor would silently restart the tail from the seed
            # version and double-emit history — refuse loudly instead
            raise ValueError(
                f"unreadable consumer cursor at {self.path}: {e}; "
                "delete it to restart the tail from an explicit version"
            ) from e
        if not isinstance(doc.get("version"), int):
            raise ValueError(
                f"malformed consumer cursor at {self.path}: {doc!r}"
            )
        return doc["version"]

    def advance(self, version: int) -> None:
        """Atomically persist ``version`` as fully emitted.

        Never moves backwards: a stale advance (e.g. a re-emitted boundary
        commit racing a newer one) keeps the max, so the cursor is
        monotone like the table's own committed_at stamps.
        """
        cur = None
        try:
            cur = self.load()
        except ValueError:
            pass  # torn file: overwrite with good state
        if cur is not None and cur >= version:
            return
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        atomic_write(self.path, json.dumps({"version": int(version), "updated_at": time.time()}))
