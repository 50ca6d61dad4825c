"""The one size gate: every small/large path choice the engine makes —
collect to the driver or stay distributed, add a broadcast hint or shuffle.

One table of limits (:data:`LIMITS`, one entry per decision) and one
predicate per kind of size: :func:`small_bytes` for a plan-size estimate,
:func:`small_count` for a count the caller knows exactly. Both sides of
every gate produce the same rows; only the plan differs. ``LIMITS`` is read
at call time, so a test forces the other path with
``monkeypatch.setitem(gates.LIMITS, kind, 0)``. There is no conf key, env
var or parameter for a limit: no two callers need different values.
"""

from __future__ import annotations

import os
import warnings
from urllib.parse import urlparse

from pyspark.sql import DataFrame

__all__ = ["LIMITS", "small_bytes", "small_count"]

LIMITS: dict[str, int] = {
    # estimated bytes of the input relation (plan statistics)
    "ngram_broadcast": 128 << 20,  # dfreq table + candidates broadcast
    "minhash_broadcast": 128 << 20,  # candidates broadcast
    "decontaminate_broadcast": 64 << 20,  # benchmark shingles broadcast
    "near_dup_kernel": 128 << 20,  # per-bucket pair kernel vs equi-join
    "ivf_driver_train": 128 << 20,  # driver Lloyd vs distributed Lloyd
    "top_revenue_prefilter": 64 << 20,  # semi-join pre-filter broadcast
    # exact counts
    "components_driver_edges": 1_000_000,  # driver union-find vs star rounds
    "stratify_case_groups": 64,  # CASE chain vs broadcast join
    # Local-FS footer reads are ~0.5 ms, so the measured crossover is ~2k
    # files (tools/bench_harvest.py); on an object store a footer is 1-2
    # GETs and it drops to tens of files, so the limit splits the difference.
    "harvest_driver_files": 512,  # driver footer loop vs one Spark job
}

_PROBE_WARNED = False


def _plan_stats_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate, via the JVM bridge. This is
    PRIVATE Spark API (`_jdf`, stable across 3.x-4.x but unversioned):
    isolated here so a Spark upgrade that moves it degrades to the public
    fallback in :func:`small_bytes` instead of silently changing join
    strategies. Returns None when unavailable."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes().toString())
    except Exception:
        return None


def small_bytes(df: DataFrame, kind: str, scale: int = 1) -> bool:
    """Is ``scale`` × the estimated size of ``df`` within ``LIMITS[kind]``?
    ``scale`` is how much larger than ``df`` the relation that takes the
    small path is (a shingle explode is ~n× its text). No Spark job either
    way.

    Primary probe: Catalyst plan statistics (:func:`_plan_stats_size_bytes`,
    accounts for filters/projections). Public-API fallback when the private
    bridge is gone: sum of the plan's input-file sizes (``df.inputFiles()``)
    — on-disk compressed bytes, an UNDERestimate of in-memory size, so the
    fallback limit is tightened 4× (parquet's typical compression ratio).
    Conservatively False when neither probe answers (with a loud one-time
    warning) or the relation reads no files, so at real corpus scale — or
    on a probe-less Spark — every gate takes its large, distributed path."""
    limit = LIMITS[kind] // scale
    sz = _plan_stats_size_bytes(df)
    if sz is not None:
        return sz <= limit
    try:
        files = df.inputFiles()
        if not files:
            return False
        total = 0
        for f in files:
            total += os.path.getsize(urlparse(f).path or f)
            if total > limit // 4:
                return False
        return True
    except Exception:
        global _PROBE_WARNED
        if not _PROBE_WARNED:
            _PROBE_WARNED = True
            warnings.warn(
                "size probes unavailable (Catalyst plan stats AND inputFiles "
                "both failed); every size gate takes its large path",
                stacklevel=2,
            )
        return False


def small_count(n: int, kind: str) -> bool:
    """Is a known count ``n`` within ``LIMITS[kind]``?"""
    return n <= LIMITS[kind]
