"""Checkpoint state for the micro-batch ingest loop.

The reference's transaction unit is a 1000-row buffer commit
(``/root/reference/geopetl/oracle_sde.py:1050-1074``) with no resume state:
a crash mid-load leaves partial data and no record of progress. Here the
checkpoint is a tiny JSON file (fsync + atomic ``os.replace``) recording the
last completed epoch plus source offsets; combined with the lake's epoch-keyed
commits, resume-from-checkpoint replays at most one epoch, and that replay
is skipped by the sink's idempotency check — exactly-once end to end.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from ..atomic import atomic_write


class Checkpoint:
    def __init__(self, path: str):
        self.path = path
        self.file = os.path.join(path, "checkpoint.json")

    def load(self) -> dict[str, Any]:
        if not os.path.exists(self.file):
            return {"last_epoch": None, "offsets": {}, "updated_at": None}
        with open(self.file) as fh:
            return json.load(fh)

    def save(self, last_epoch: Any, offsets: dict | None = None) -> None:
        os.makedirs(self.path, exist_ok=True)
        state = {
            "last_epoch": last_epoch,
            "offsets": offsets or {},
            "updated_at": time.time(),
        }
        atomic_write(self.file, json.dumps(state))

    def next_epoch_after(self, default_start: int = 0) -> int:
        last = self.load()["last_epoch"]
        return default_start if last is None else int(last) + 1
