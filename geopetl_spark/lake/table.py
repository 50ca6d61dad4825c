"""Snapshot-manifest lake table: the engine's exactly-once sink.

No Iceberg runtime jar ships in this environment, so the sink is a
from-scratch copy-on-write table format with Iceberg-like semantics,
implemented on parquet + JSON manifests:

* **Atomic snapshot commits** — data files are written to a new immutable
  snapshot directory, then a manifest (file inventory + schema + epochs) is
  published and the ``_current`` pointer is swapped with ``os.replace``
  (atomic on POSIX; on an object store this swap maps to a catalog/metastore
  CAS — the single point to port).
* **Exactly-once epochs** — every commit records its ``epoch_id``; a replayed
  epoch is detected in :meth:`LakeTable.merge` and skipped, upgrading the
  reference's commit-per-1000-rows at-least-once loads
  (``/root/reference/geopetl/oracle_sde.py:1050-1074``) to idempotent
  exactly-once.
* **Hash-bucket layout** — rows are bucketed by ``pmod(hash(key), N)``,
  Spark's own Murmur3 shuffle hash, so a merge writes straight from its
  per-key reduce's exchange. Each snapshot keeps one parquet directory per
  touched bucket, and the manifest carries forward untouched buckets'
  directories from the parent snapshot. MERGE therefore costs O(changed
  buckets), not O(table) — the same copy-on-write economics as Iceberg's.

  **Regime limits, named:** a uniformly-keyed epoch touches all N buckets
  and CoW rewrites the full table per epoch. The mitigations, by table size:
  (a) raise ``n_buckets`` with the table (bucket count is a create-time
  spec, like Iceberg partition specs); (b) switch the table or the epoch to
  **merge-on-read** (``strategy='mor'``): O(batch) delta files + read-time
  ``max_by(_lsn,_seq)`` reconcile + background ``compact()`` — implemented
  below, state-equivalent to CoW by construction and test; (c) within-bucket
  key-range file stats would prune further at 10^10+ rows (future work —
  requires per-file min/max key tracking in the manifest).
* **Per-dir stats** — the manifest field ``dir_stats`` holds one record
  ``{"rows", "live", "zones"}`` per base or delta dir the manifest
  references (column min/max from the dir's parquet footers, harvested at
  write time). Every stats fact is derived from these records: bucket and
  dir pruning, changelog dir pruning, the copy-on-write row count and
  ``describe()``'s tombstones. Every commit keeps the records of exactly
  the dirs it references, so no referenced dir is ever without one.
* **One table format** — the manifest carries ``"format_version": 2``, and
  ``create()`` writes every field a later commit reads. A manifest of any
  other version is refused (:meth:`LakeTable.manifest` raises): an older
  table is re-ingested, not upgraded in place (Delta's reader-version
  check works the same way).
* **Additive schema evolution** — the manifest schema evolves via
  :func:`geopetl_spark.schema.evolve_schema`; reads always apply the current
  manifest schema, so files written before a column existed surface NULLs
  (the reference instead *errors* on unknown fields,
  ``oracle_sde.py:923-927`` — upgraded per the north rule).

Write-path parity with the reference:

* ``write(mode='overwrite')``  ≈ ``tooraclesde(truncate=True)``
  (``oracle_sde.py:35-61``) — full refresh.
* ``write(mode='append')``     ≈ ``appendoraclesde`` (``oracle_sde.py:74-82``)
  — blind append, no key reconciliation.
* ``merge(...)``               ≈ the ``increment=True`` upsert path (W3,
  ``oracle_sde.py:987-999``) recast as LSN-ordered key-partitioned MERGE.
* ``truncate()``               ≈ W1 (``oracle_sde.py:1076-1082``) including
  "RESTART IDENTITY": committed-epoch bookkeeping resets.
* auto-create from schema document ≈ ``topostgis`` create path
  (``postgis.py:90-100, 275-333``).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schema as schema_mod
from ..atomic import atomic_write
from ..operators.dedup_cdc import event_order, latest_per_key
from ..plans import gates
from ..sqltext import cast, quote, select_sql

BUCKET_COL = "_bucket"
LSN_COL = "_lsn"
DELETED_COL = "_deleted"  # tombstone flag: deletes persist so a late replay of
# an older event for the key compares against the tombstone's LSN and cannot
# resurrect it (classic log-compaction semantics). compact(drop_tombstones=
# True) reclaims them once the replay horizon has passed.
SEQ_COL = "_seq"  # commit-order tiebreak of the merge order (_stored_order):
# on equal _lsn the row a later commit wrote wins, in both merge strategies.
# Rows loaded by write() carry none (NULL) -> sorts below any merged commit.
_PART_COL = "_bucket_p"  # physical partition dir column (duplicated from _bucket)
_SYSTEM_COLS = (BUCKET_COL, LSN_COL, DELETED_COL, SEQ_COL)
_LIVE = f"NOT coalesce({DELETED_COL}, false)"  # the filter that drops tombstones
FORMAT_VERSION = 2  # the one manifest shape this module reads and writes


class CommitConflict(Exception):
    """Another writer committed the same table version first (optimistic
    concurrency loser); re-read the table state and retry the operation."""


class LakeTable:
    """A versioned, hash-bucketed, copy-on-write parquet table."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self.manifest_dir = os.path.join(self.path, "_manifests")
        self.current_ptr = os.path.join(self.path, "_current")

    # ------------------------------------------------------------------ DDL

    def exists(self) -> bool:
        # table-existence check, ≈ W7 (oracle_sde.py:49-51 / postgis.py:90)
        return os.path.exists(self.current_ptr)

    def create(
        self,
        schema: T.StructType,
        key_col: str = "doc_id",
        n_buckets: int = 64,
        if_not_exists: bool = False,
        properties: dict[str, Any] | None = None,
        owner: str | None = None,
    ) -> "LakeTable":
        if self.exists():
            if if_not_exists:
                return self
            raise ValueError(f"lake table already exists at {self.path}")
        if key_col not in schema.fieldNames():
            raise ValueError(f"key column {key_col!r} not in schema")
        if owner is None:
            import getpass

            try:
                owner = getpass.getuser()
            except (KeyError, OSError):
                owner = "unknown"
        user_schema = T.StructType([f for f in schema.fields if f.name not in _SYSTEM_COLS])
        manifest = {
            "format_version": FORMAT_VERSION,
            "version": 0,
            "snapshot_id": uuid.uuid4().hex,
            "parent": None,
            "epoch_id": None,
            "committed_epochs": [],
            "key_col": key_col,
            "n_buckets": int(n_buckets),
            "schema": json.loads(user_schema.json()),
            "buckets": {},  # bucket id (str) -> list of base data dirs
            "deltas": {},  # bucket id (str) -> list of MoR delta dirs
            "dir_stats": {},  # data dir -> {"rows", "live", "zones"}
            "lsn_watermark": None,
            "bulk_write_versions": [],
            "changelog_min_version": None,
            "changelog_min_reason": None,
            "summary": {"total_rows": 0, "operation": "create"},
            "properties": properties or {},
            "owner": owner,
            # informational grants surface (C6 tail): principal -> sorted ops.
            # The owner starts with ALL; see grant()/revoke()/privileges().
            "acl": {owner: ["ALL"]},
            "created_at": time.time(),
            "committed_at": 0.0,  # stamped by _publish
        }
        os.makedirs(self.manifest_dir, exist_ok=True)
        self._publish(manifest)
        return self

    @classmethod
    def create_from_schema_doc(
        cls, spark: SparkSession, path: str, doc: dict, n_buckets: int = 64
    ) -> "LakeTable":
        """Auto-create from a JSON schema document (S11/topostgis analog,
        postgis.py:275-333: reference does DROP+CREATE; here create-if-absent)."""
        schema = schema_mod.doc_to_schema(doc)
        key = (doc.get("primaryKey") or [schema.fields[0].name])[0]
        return cls(spark, path).create(schema, key_col=key, if_not_exists=True, n_buckets=n_buckets)

    # ----------------------------------------------------------- manifests

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, f"manifest-{version:08d}.json")

    def _publish(self, manifest: dict) -> None:
        """Optimistic-concurrency commit: the manifest version file is
        claimed exclusively — two writers racing to publish the same next
        version see exactly one winner; the loser gets CommitConflict and
        must re-read the table and retry its operation (same contract as
        Iceberg's atomic swap). The manifest body and then the pointer are
        each written by :func:`atomic_write` (fsync before the rename or
        link), so after a crash the pointer names a complete manifest."""
        # Commit-time stamp for timestamp time travel.  Clamped to the
        # parent's stamp, which the manifest still carries from its parent
        # (create() passes 0), so committed_at is monotone in version even
        # across a wall-clock step backwards (Iceberg snapshot-log semantics:
        # version_as_of picks max version with stamp <= ts, which requires
        # stamps ordered like versions).
        manifest["committed_at"] = max(time.time(), manifest["committed_at"])
        mpath = self._manifest_path(manifest["version"])
        try:
            atomic_write(mpath, json.dumps(manifest), exclusive=True)
        except FileExistsError:
            raise CommitConflict(
                f"version {manifest['version']} was committed concurrently at {self.path}"
            ) from None
        atomic_write(self.current_ptr, os.path.basename(mpath))  # pointer swap = commit

    def _commit(self, m: dict, summary: dict, **fields: Any) -> dict:
        """Publish the version after ``m``: ``m`` with ``fields`` replaced,
        a new snapshot id, ``m`` as parent and ``summary``. Returns
        ``summary``."""
        self._publish(
            {
                **m,
                **fields,
                "version": m["version"] + 1,
                "snapshot_id": uuid.uuid4().hex,
                "parent": m["snapshot_id"],
                "summary": summary,
            }
        )
        return summary

    def manifest(self, version: int | None = None) -> dict:
        """The current manifest, or that of ``version``. Raises
        ``ValueError`` on a manifest of another ``format_version``."""
        if version is None:
            with open(self.current_ptr) as fh:
                name = fh.read().strip()
            mpath = os.path.join(self.manifest_dir, name)
        else:
            mpath = self._manifest_path(version)
        return self._load(mpath)

    def _load(self, mpath: str) -> dict:
        with open(mpath) as fh:
            m = json.load(fh)
        found = m.get("format_version")
        if found != FORMAT_VERSION:
            raise ValueError(
                f"lake table at {self.path} has format_version {found!r}; this "
                f"engine reads only format_version {FORMAT_VERSION}. Re-ingest "
                f"the table into a new one."
            )
        return m

    def _manifests(self) -> Iterator[dict]:
        """Every retained manifest, in version order."""
        for name in sorted(os.listdir(self.manifest_dir)):
            if name.startswith("manifest-") and name.endswith(".json"):
                yield self._load(os.path.join(self.manifest_dir, name))

    def version_as_of(self, ts: float) -> int:
        """Latest version committed at or before unix timestamp ``ts`` —
        Iceberg-style timestamp time travel, resolved against the retained
        manifest window (vacuum prunes old manifests, so travel reaches
        only what retention kept; a ts before the window raises)."""
        # Clamp to the committed pointer: _publish writes the manifest file
        # BEFORE the atomic pointer swap that defines the commit point, so a
        # writer crashed (or observed) in between leaves a complete manifest
        # for a never-committed version.  Never resolve past the pointer.
        committed = self.manifest()["version"]
        best = max(
            (m["version"] for m in self._manifests()
             if m["version"] <= committed and m["committed_at"] <= ts),
            default=None,
        )
        if best is None:
            raise ValueError(
                f"no retained snapshot committed at or before ts={ts} "
                f"(vacuum may have pruned the window, or the table predates "
                f"commit timestamps)"
            )
        return best

    def history(self) -> list[dict]:
        return [
            {
                "version": m["version"],
                "snapshot_id": m["snapshot_id"],
                "epoch_id": m["epoch_id"],
                "operation": m["summary"]["operation"],
                "total_rows": m["summary"]["total_rows"],
                "committed_at": m["committed_at"],
            }
            for m in self._manifests()
        ]

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.manifest()["schema"])

    def committed_epochs(self) -> set:
        return set(self.manifest()["committed_epochs"])

    @property
    def key_col(self) -> str:
        return self.manifest()["key_col"]

    # ---------------------------------------------------------------- reads

    def _read_schema(self, manifest: dict) -> T.StructType:
        base = T.StructType.fromJson(manifest["schema"])
        fields = list(base.fields)
        fields.append(T.StructField(BUCKET_COL, T.IntegerType(), True))
        fields.append(T.StructField(LSN_COL, T.LongType(), True))
        fields.append(T.StructField(DELETED_COL, T.BooleanType(), True))
        fields.append(T.StructField(SEQ_COL, T.LongType(), True))
        return T.StructType(fields)

    # ------------------------------------------------------- zone pruning

    _ZONE_PRED_RE = re.compile(
        r"^\s*(\w+)\s*(<=|>=|=|<|>)\s*('([^']*)'|-?\d+(?:\.\d+)?)\s*$"
    )
    _ZONE_LIT = r"(?:'[^']*'|-?\d+(?:\.\d+)?)"
    _ZONE_BETWEEN_RE = re.compile(
        rf"(?i)\b(\w+)\s+between\s+({_ZONE_LIT})\s+and\s+({_ZONE_LIT})"
    )
    _ZONE_IN_RE = re.compile(
        rf"^\s*(\w+)\s+in\s+\(\s*({_ZONE_LIT}(?:\s*,\s*{_ZONE_LIT})*)\s*\)\s*$",
        re.IGNORECASE,
    )

    @staticmethod
    def _zone_lit(raw: str) -> object:
        if raw.startswith("'"):
            return raw[1:-1]
        return float(raw) if "." in raw else int(raw)

    @classmethod
    def _parse_zone_preds(cls, where: str) -> list[tuple[str, str, object]] | None:
        """AND-conjunctions of ``col OP literal`` (OP in =,<,<=,>,>=),
        ``col BETWEEN a AND b`` (rewritten to the two range bounds before
        the AND split, so its inner AND doesn't confuse the conjunction
        parser), and ``col IN (v1, ...)`` (pruned against the value list's
        min/max envelope). Returns None for anything richer
        (OR/NOT/LIKE/IS NULL/functions/parens beyond the IN-list) —
        pruning then stays off and the full filter still runs in the
        plan."""
        where = cls._ZONE_BETWEEN_RE.sub(r"\1 >= \2 and \1 <= \3", where)
        in_parts: list[tuple[str, str, object]] = []
        rest_parts: list[str] = []
        for part in re.split(r"(?i)\band\b", where):
            mi = cls._ZONE_IN_RE.match(part)
            if mi:
                vals = [cls._zone_lit(v.strip()) for v in re.findall(cls._ZONE_LIT, mi.group(2))]
                if len({isinstance(v, str) for v in vals}) != 1:
                    return None  # mixed-type IN list: stay off
                # a zone overlapping [min(vals), max(vals)] MAY contain a
                # member; outside the envelope it provably cannot
                in_parts.append((mi.group(1), ">=", min(vals)))
                in_parts.append((mi.group(1), "<=", max(vals)))
            else:
                rest_parts.append(part)
        rest = " and ".join(rest_parts)
        if rest.strip() and re.search(r"(?i)\b(or|not|in|like|between|is|null)\b|[()]", rest):
            return None
        preds: list[tuple[str, str, object]] = list(in_parts)
        for part in rest_parts:
            if not part.strip():
                return None
            mt = cls._ZONE_PRED_RE.match(part)
            if not mt:
                return None
            col, op, raw, s = mt.group(1), mt.group(2), mt.group(3), mt.group(4)
            val: object = s if s is not None else (float(raw) if "." in raw else int(raw))
            preds.append((col, op, val))
        return preds or None

    @staticmethod
    def _zones_may_match(zones: dict, preds: list[tuple[str, str, object]]) -> bool:
        """False only when a predicate PROVABLY excludes the zone range
        (null-safe: parquet min/max ignore nulls, and null comparisons are
        UNKNOWN under every accepted operator, so a pruned dir can hold no
        qualifying row)."""
        for col, op, val in preds:
            z = zones.get(col)
            if not z:
                continue  # no stats for this column -> cannot prune on it
            lo, hi = z
            if isinstance(val, str) != isinstance(lo, str):
                continue  # type mismatch -> be conservative
            if (
                (op == "=" and (val < lo or val > hi))
                or (op == ">" and hi <= val)
                or (op == ">=" and hi < val)
                or (op == "<" and lo >= val)
                or (op == "<=" and lo > val)
            ):
                return False
        return True

    @classmethod
    def _dir_misses(cls, stats: dict, d: str, preds: list[tuple[str, str, object]]) -> bool:
        """True when dir ``d``'s ``dir_stats`` record provably holds no row
        matching ``preds``."""
        return not cls._zones_may_match(stats[d]["zones"], preds)

    @staticmethod
    def _advance_watermark(m: dict, wstats: dict) -> int | None:
        """Monotone LSN high-water mark, advanced from the _lsn zone maps
        the writer just harvested — no extra jobs, never regresses (compact
        rewrites old data; its harvest can only confirm the mark)."""
        prev = m["lsn_watermark"]
        vals = [s["zones"][LSN_COL][1] for s in wstats.values() if LSN_COL in s["zones"]]
        cur = int(max(vals)) if vals else None
        if prev is None:
            return cur
        if cur is None:
            return int(prev)
        return max(int(prev), cur)

    def _pruned_buckets(self, m: dict, where: str | None) -> set[str]:
        """Bucket keys that provably hold no row matching ``where`` (zone-map
        data skipping): a bucket prunes iff every one of its base and delta
        dirs has a ``dir_stats`` record whose zones provably miss. Pruning
        is all-or-nothing per bucket, because dropping only some of a
        bucket's dirs before the read-time reduce could resurrect
        superseded state; dropping all of them is sound, since if every
        stored row fails the predicate so does every row the reduce keeps."""
        if not where:
            return set()
        preds = self._parse_zone_preds(where)
        if not preds:
            return set()
        stats = m["dir_stats"]
        deltas = m["deltas"]
        return {
            b
            for b in set(m["buckets"]) | set(deltas)
            if all(
                self._dir_misses(stats, d, preds)
                for d in (*m["buckets"].get(b, []), *deltas.get(b, []))
            )
        }

    def read(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        fields: list[str] | None = None,
        where: str | None = None,
        limit: int | None = None,
        include_system: bool = False,
        as_of_ts: float | None = None,
    ) -> DataFrame:
        """Read a snapshot (time travel via ``version=`` or a unix
        timestamp ``as_of_ts=`` — resolved to the latest retained commit at
        or before it).

        Bucket pruning is manifest-level **file pruning**: only the data
        directories of requested buckets are scanned — the engine's own
        partition pruning, independent of (and additive to) parquet
        row-group stats on ``_bucket``. ``where=`` additionally applies
        **zone-map data skipping** from the manifest's per-dir column
        min/max (``dir_stats``): a whole bucket is skipped when every one of
        its dirs provably misses a simple range/equality conjunction, and —
        on tables with no MoR deltas — single dirs that provably miss are
        skipped inside surviving buckets. The filter itself always still
        runs — pruning only removes provably-empty scans.

        Merge-on-read: when the manifest carries delta dirs for the selected
        buckets, base and delta rows are unioned and reduced per key via
        ``max_by`` on (_lsn, _seq) — the read-time tax MoR trades for O(batch)
        writes; ``compact()`` folds deltas back into the base to reclaim it.
        """
        if as_of_ts is not None:
            if version is not None:
                raise ValueError("pass version= or as_of_ts=, not both")
            version = self.version_as_of(as_of_ts)
        m = self.manifest(version)
        skip = self._pruned_buckets(m, where)
        # per-DIR pruning within surviving buckets (Iceberg prunes per file
        # for the same reason). Only sound when the table holds no MoR
        # deltas — with deltas, the read-time reduce makes rows
        # interdependent (dropping a dir could change which version of a
        # key survives the max_by); without them rows are independent and a
        # dir whose zones provably miss contributes nothing to the filter.
        preds = self._parse_zone_preds(where) if where and not m["deltas"] else None
        stats = m["dir_stats"]
        dirs: list[str] = []
        for b, dlist in m["buckets"].items():
            if (buckets is None or int(b) in set(buckets)) and b not in skip:
                dirs.extend(d for d in dlist if not (preds and self._dir_misses(stats, d, preds)))
        delta_dirs: list[str] = []
        for b, dlist in m["deltas"].items():
            # skip is all-or-nothing per bucket (base AND delta provably
            # miss), so dropping the delta dirs with the base is safe
            if (buckets is None or int(b) in set(buckets)) and b not in skip:
                delta_dirs.extend(dlist)
        df = self._scan(m, [*dirs, *delta_dirs])
        if delta_dirs:
            df = latest_per_key(df, m["key_col"], _stored_order())
        if not include_system:
            df = df.filter(_LIVE).drop(*_SYSTEM_COLS)
        if where:
            df = df.filter(where)
        if fields:
            df = df.select(*fields)
        if limit is not None:
            df = df.limit(limit)
        return df

    def _scan(self, m: dict, dirs: list[str]) -> DataFrame:
        """Raw rows of ``dirs`` under manifest ``m``'s read schema."""
        read_schema = self._read_schema(m)
        if not dirs:
            return self.spark.createDataFrame([], read_schema)
        return self.spark.read.schema(read_schema).parquet(*dirs)

    def _changelog_dirs(self, m: dict, wm: int | None) -> tuple[list[str], bool]:
        """Every base and delta dir of ``m`` that may hold a row with
        ``_lsn > wm``, and whether those dirs are one merge-on-read commit's
        deltas. A dir whose recorded ``_lsn`` max is at or below the
        watermark holds only rows that filter drops, so it is not read; a
        dir with no ``_lsn`` range (LSN-less bulk rows) is always read and
        never counts as one commit's delta."""
        preds = [] if wm is None else [(LSN_COL, ">", int(wm))]
        stats = m["dir_stats"]
        out: list[str] = []
        one_commit = True
        for is_delta, dirs_by_bucket in ((False, m["buckets"]), (True, m["deltas"])):
            for dlist in dirs_by_bucket.values():
                for d in dlist:
                    if self._dir_misses(stats, d, preds):
                        continue
                    out.append(d)
                    has_lsn = LSN_COL in stats[d]["zones"]
                    one_commit = one_commit and is_delta and has_lsn
        # a commit writes one dir per bucket, all in its one snapshot dir
        one_commit = one_commit and len({os.path.dirname(d) for d in out}) <= 1
        return out, one_commit

    def read_changes(
        self,
        since_version: int,
        to_version: int | None = None,
        on_bulk: str = "error",
    ) -> DataFrame:
        """Incremental changelog read (CDC-out, Iceberg-incremental-style):
        every key whose state changed after ``since_version``'s LSN
        watermark, as of ``to_version`` (default: current). Upserts surface
        as live rows, deletes as ``_deleted=True`` tombstones; columns =
        table schema + ``_lsn`` + ``_deleted``.

        Cost model: the read is O(the data the window's commits wrote), not
        O(table) or O(history). Each base and delta dir's ``dir_stats``
        record carries its ``_lsn`` [min, max], and a dir whose max is at or below the
        ``since_version`` watermark ``wm`` is not read, so a one-commit
        window reads that commit's dirs only. On a merge-on-read table the
        surviving rows are filtered to ``_lsn > wm`` first and only then
        reduced per key by max (``_lsn``, ``_seq``). That returns exactly
        the rows of reducing the whole table and filtering afterwards:

        * a key's max row has ``_lsn > wm`` exactly when some row of the
          key does (``_lsn`` leads the order, and NULL sorts lowest), and
        * then that max row also passes the filter, so it is the max of
          the key's surviving rows too.

        Pruning a dir only removes rows the filter would drop, so it cannot
        change either side. A dir with no recorded range (LSN-less bulk
        rows) is always read. A ``since_version`` predating the first merge
        (``wm`` None) yields the full CDC-derived state. Spark lists more
        than 32 dirs with a parallel listing job, so a window over a wide
        bucket count (over 32 delta dirs per commit) still pays that job.

        **One-commit rule:** when every dir left after that pruning is a
        delta dir with a recorded range and all of them sit in one
        snapshot dir (one merge-on-read commit), the reduce is skipped and
        the read runs no shuffle. The filtered rows are then already the
        reduce's output:

        * a MoR merge writes the deduped batch — at most one row per key,
          and a key never spans buckets, so the commit's dirs hold at most
          one row per key;
        * every other row of such a key is in a pruned dir, so its
          ``_lsn`` is at or below ``wm`` — below the surviving row's, which
          is therefore the key's max, exactly what the reduce keeps
          (the argument above, with the pruned dirs as the rest of the
          table).

        Every other window reduces: one holding a base dir, a dir with no
        recorded range, or the dirs of two or more commits.

        **Changelog-retention contract** (enforced, not advisory):

        * History breaks — ``write(mode='overwrite')``, ``truncate()``, and
          ``compact(drop_tombstones=True)`` (which physically removes
          delete events) — advance ``changelog_min_version``; a
          ``since_version`` older than it RAISES, because an incremental
          read across the break would silently miss deletes or rewritten
          state. Consumers must resync from a full snapshot ``read()``.
          Operationally: drop tombstones only once every changelog
          consumer's checkpoint has passed them.
        * Bulk ``write(mode='append')`` commits load rows with no LSN,
          which the changelog can never surface. A read window spanning
          one raises by default so backfilled keys cannot be missed
          silently; pass ``on_bulk='ignore'`` to read the merge-only
          changes anyway (correct when the backfill is known disjoint
          from CDC keys, e.g. a separate source partition)."""
        if on_bulk not in ("error", "ignore"):
            raise ValueError(f"on_bulk must be 'error' or 'ignore', got {on_bulk!r}")
        m_to = self.manifest(to_version)
        min_v = m_to["changelog_min_version"]
        if min_v is not None and since_version < min_v:
            op = m_to["changelog_min_reason"]
            raise ValueError(
                f"changelog window since_version={since_version} predates "
                f"version {min_v} ({op}): incremental reads across it would "
                f"silently miss deletes or rewritten state. Resync from a "
                f"full snapshot read() and restart the changelog from "
                f"version {min_v} or later."
            )
        bulk = [v for v in m_to["bulk_write_versions"] if since_version < v <= m_to["version"]]
        if bulk and on_bulk == "error":
            raise ValueError(
                f"changelog window ({since_version}, {m_to['version']}] spans "
                f"bulk-append commit(s) at version(s) {bulk}: bulk-loaded rows "
                f"carry no LSN and never surface in the changelog, so a "
                f"consumer would silently miss the backfilled keys. Either "
                f"resync from a full snapshot read(), load backfills through "
                f"merge() with synthetic LSNs, or pass on_bulk='ignore' to "
                f"read the merge-only changes."
            )
        try:
            wm = self.manifest(since_version)["lsn_watermark"]
        except FileNotFoundError:
            raise ValueError(
                f"since_version={since_version} has been vacuumed out of the "
                f"retention window (oldest readable manifest governs "
                f"changelog resume points — keep vacuum's "
                f"keep_last_versions above the oldest consumer's lag). "
                f"Resync from a full snapshot read()."
            ) from None
        dirs, one_commit = self._changelog_dirs(m_to, wm)
        df = self._scan(m_to, dirs)
        # the watermark filter runs BEFORE the merge-on-read reduce (see
        # "Cost model" above for why that returns the same rows)
        df = df.filter(f"{LSN_COL} IS NOT NULL" if wm is None else f"{LSN_COL} > {int(wm)}")
        if m_to["deltas"] and not one_commit:
            df = latest_per_key(df, m_to["key_col"], _stored_order())
        return df.drop(BUCKET_COL, SEQ_COL)

    def iter_changes(
        self, since_version: int, on_bulk: str = "error"
    ):
        """Tail the changelog: yield ``(version, DataFrame, summary)`` for
        every commit after ``since_version`` that changed data, in commit
        order — the consumption loop a downstream CDC-out subscriber runs
        (each yielded frame is ``read_changes(v-1, v)``: that commit's
        delta only). Metadata-only commits (ACL changes) and
        watermark-neutral maintenance rewrites (compact/rebucket) yield
        nothing; every DATA commit — including bulk appends and history
        breaks — goes through :meth:`read_changes`, so the retention and
        ``on_bulk`` contracts raise here exactly as for a direct windowed
        read (a tailing consumer can never silently miss a backfill).
        Returns when caught up with the current version; callers poll by
        re-invoking from the last yielded version."""
        current = self.manifest()["version"]
        prev = since_version
        for v in range(since_version + 1, current + 1):
            try:
                m = self.manifest(v)
                wm_prev = self.manifest(prev)["lsn_watermark"]
            except FileNotFoundError:
                raise ValueError(
                    f"changelog tail from since_version={since_version} "
                    f"spans version(s) vacuumed out of the retention window "
                    f"(at or near v={v}); resync from a full snapshot "
                    f"read() and restart the tail from a retained version."
                ) from None
            op = m["summary"]["operation"]
            if op == "alter-acl":
                prev = v
                continue
            if op in ("compact", "rebucket") and m["lsn_watermark"] == wm_prev:
                prev = v  # state-preserving rewrite: nothing past the watermark
                continue
            df = self.read_changes(prev, to_version=v, on_bulk=on_bulk)
            yield v, df, dict(m["summary"])
            prev = v

    def count(self) -> int:
        # metadata-only row count, ≈ A1 (oracle_sde.py:1084-1091) served from
        # the snapshot summary like Iceberg's total-records. After an MoR
        # merge the exact live count is unknown without the read-time reduce
        # (key overlap between base and delta is data-dependent), so the
        # summary stores None and the count falls back to one reduced scan —
        # the same "counts are exact only after compaction" economics as
        # Iceberg MoR.
        total = self.manifest()["summary"]["total_rows"]
        if total is None:
            return self.read().count()
        return int(total)

    # --------------------------------------------------------------- writes

    @staticmethod
    def _bucket_sql(key_sql: str, n_buckets: int) -> str:
        return f"pmod(hash({key_sql}), {n_buckets})"

    @classmethod
    def _bucket_int_sql(cls, key_col: str, n_buckets: int) -> str:
        """The ``_bucket`` of a row, as SQL text over ``key_col``. Hash the
        key as stored: Spark hashes an int and the same bigint differently."""
        return f"CAST({cls._bucket_sql(quote(key_col), n_buckets)} AS INT)"

    def _shuffle_partitions(self) -> int:
        """P of a shuffle Spark plans itself (``SQLConf.numShufflePartitions``)."""
        get = self.spark.conf.get
        coalesce = "spark.sql.adaptive.coalescePartitions"
        aqe = get("spark.sql.adaptive.enabled") == get(f"{coalesce}.enabled") == "true"
        initial = aqe and get(f"{coalesce}.initialPartitionNum", None)
        return int(initial or get("spark.sql.shuffle.partitions"))

    def _snapshot_dir(self, version: int) -> str:
        # Unique per commit ATTEMPT, not per version: two writers racing to
        # version v each write their own data dir, so the O_EXCL manifest
        # check in _publish is the only arbiter — the loser's mode-overwrite
        # can never clobber the winner's just-written files. The manifest
        # stores explicit dir lists, so readers never guess the dir name;
        # vacuum() reclaims losers' orphans.
        return os.path.join(self.path, "data", f"snap-{version:08d}-{uuid.uuid4().hex[:8]}")

    def _write_snapshot_data(
        self, df: DataFrame, version: int, n_buckets: int, key: str, key_partitioned: bool = False,
        check: Callable[[list[dict]], None] | None = None,
    ) -> tuple[dict[str, list[str]], dict[str, dict], int, int]:
        """Write df (already carrying _bucket and _lsn) into one dir per
        bucket under the snapshot dir, sorted by ``key`` within each
        bucket; returns (bucket->dirs map, the written dirs' ``dir_stats``
        records, total rows, total live).

        ``_bucket`` is duplicated into a partition-dir column so bucket
        separation is physical (file pruning) while the value also stays
        inside the files (row-group stats + no basePath gymnastics on read).

        ``key_partitioned``: df's partitions are :func:`latest_per_key`'s,
        ``pmod(hash(key), P)``, and ``_bucket`` is ``pmod(hash(key), N)``.
        If P divides N, each task holds whole buckets (AQE coalescing only
        merges adjacent partitions), so no write shuffle is needed. The path
        changes only a bucket dir's file count, never a row's dir.

        ``check`` judges what was written (the per-file footer stats) before
        anything is returned; if it raises, the snapshot dir is removed, so
        a refused write leaves nothing behind."""
        snapdir = self._snapshot_dir(version)
        out = df.withColumn(_PART_COL, F.col(BUCKET_COL))
        if not (key_partitioned and n_buckets % self._shuffle_partitions() == 0):
            out = out.repartition(n_buckets, F.col(BUCKET_COL))  # one task per bucket
        # clustered files by key: better row-group pruning on key lookups
        out = out.sortWithinPartitions(_PART_COL, key)
        out.write.mode("overwrite").partitionBy(_PART_COL).parquet(snapdir)
        written: dict[str, list[str]] = {}
        for name in os.listdir(snapdir):
            if name.startswith(f"{_PART_COL}="):
                b = name.split("=", 1)[1]
                written[b] = [os.path.join(snapdir, name)]
        # Per-dir row accounting from parquet FOOTERS plus a read of only
        # the tombstone-flag column (RLE booleans, ~KBs/file) — zero
        # data-page rescans of what was just written (Iceberg keeps the same
        # stats in its manifests for the same reason). Small commits harvest
        # on the driver (no job-launch overhead); large commits fan the
        # footer reads out across executors so the commit path never
        # serializes O(files) metadata reads (see _harvest_stats).
        try:
            stats = self._harvest_stats([d for dl in written.values() for d in dl], check)
        except Exception:
            shutil.rmtree(snapdir, ignore_errors=True)
            raise
        n_rows = sum(v["rows"] for v in stats.values())
        n_live = sum(v["live"] for v in stats.values())
        return written, stats, n_rows, n_live

    @staticmethod
    def _file_stats(dirs: list[str]) -> dict:
        """(rows, live, zones) for a list of parquet dirs — the driver-serial
        reference harvest; see :func:`_stat_parquet_file` for the per-file
        extraction and :func:`_combine_file_stats` for the (order-
        independent) merge. Kept as the equality reference for the
        harvest."""
        return _combine_file_stats([_stat_parquet_file(p) for d in dirs for p in _parquet_files(d)])

    def _harvest_stats(
        self, dirs: list[str], check: Callable[[list[dict]], None] | None = None
    ) -> dict[str, dict]:
        """Dir → (rows, live, zones) for a just-written snapshot's dirs.

        The footer reads are the commit path's only O(files) work; at real
        epoch sizes (10³–10⁴ files across thousands of buckets) a serial
        driver loop would serialize that into every commit. Above the
        ``harvest_driver_files`` gate the per-file extraction fans out as
        one tiny Spark job over the file list (executors read footers in
        parallel, return one small stats dict per file — manifest-style
        metadata, never data), and only the per-dir combine runs on the
        driver. The combine is order-independent (sums + min/max widening +
        no-stats-column union), so both paths are byte-identical — asserted
        by ``tests/test_zone_maps.py``. ``check`` sees the per-file stats."""
        pairs = [(d, p) for d in dirs for p in _parquet_files(d)]
        if gates.small_count(len(pairs), "harvest_driver_files"):
            per_file = [(d, _stat_parquet_file(p)) for d, p in pairs]
        else:
            sc = self.spark.sparkContext
            n_slices = max(1, min(len(pairs) // 8, sc.defaultParallelism * 4))
            per_file = (
                sc.parallelize(pairs, n_slices)
                .map(lambda dp: (dp[0], _stat_parquet_file(dp[1])))
                .collect()
            )
        if check is not None:
            check([st for _, st in per_file])
        grouped: dict[str, list[dict]] = {d: [] for d in dirs}
        for d, st in per_file:
            grouped[d].append(st)
        return {d: _combine_file_stats(sts) for d, sts in grouped.items()}

    def write(
        self,
        df: DataFrame,
        mode: str = "overwrite",
        epoch_id: Any | None = None,
        fail_on_empty: bool = False,
    ) -> dict:
        """Full refresh (``overwrite`` ≈ truncate+load) or blind ``append``.

        An ``append`` whose ``df`` carries ``_lsn`` must carry no NULL
        ``_lsn`` and none at or below the watermark. The check reads the
        written files' footer stats, so it judges exactly the rows that
        would be committed; a refused append publishes no version and
        leaves no data behind."""
        if not self.exists():
            raise ValueError(
                f"no lake table at {self.path}; create() it first "
                "(reference refuses auto-create on SDE too, oracle_sde.py:55-57)"
            )
        if fail_on_empty and df.isEmpty():
            # empty-input write guard, W6 (oracle_sde.py:840-846)
            raise ValueError("refusing to write empty input (fail_on_empty=True)")
        m = self.manifest()
        new_schema = schema_mod.evolve_schema(self.schema(), _user_schema(df))
        # A caller-provided _lsn survives the conform: an LSN-carrying
        # append (backfill loaded with synthetic LSNs) advances the
        # watermark and surfaces in the changelog like merged rows do, so
        # it is NOT recorded as a bulk-blind version below. Other system
        # columns are always re-derived.
        lsn_synthesized = LSN_COL not in df.columns
        n_buckets = m["n_buckets"]
        key = m["key_col"]
        staged = _conform(
            df,
            new_schema,
            extra={
                LSN_COL: f"CAST({'NULL' if lsn_synthesized else quote(LSN_COL)} AS BIGINT)",
                DELETED_COL: "false",
            },
        )
        # the bucket of the conformed key: an incoming int key hashes apart
        # from the stored bigint of the same value
        staged = staged.withColumn(
            BUCKET_COL, F.expr(self._bucket_int_sql(key, n_buckets))
        )
        # Guard (advisor r6): an LSN-carrying append is exempted from the
        # bulk-blind marker below ONLY because its rows surface in
        # read_changes — which filters _lsn > watermark. Null LSNs or LSNs
        # at/below the current watermark would be silently invisible to
        # every changelog window while the version looks complete, so the
        # written files' footer stats are judged before the commit.
        wm = m["lsn_watermark"]
        check = None if lsn_synthesized or mode != "append" else lambda st: _refuse_invisible_lsns(st, wm)
        version = m["version"] + 1
        written, wstats, n_new, _live_new = self._write_snapshot_data(
            staged, version, n_buckets, key, check=check
        )

        if mode == "overwrite":
            buckets = written
            dir_stats = wstats
            total = n_new
            deltas = {}  # full refresh folds/discards all MoR deltas
        elif mode == "append":
            buckets = _extend_dirs(m["buckets"], written)
            dir_stats = {**m["dir_stats"], **wstats}
            deltas = m["deltas"]
            prev_total = m["summary"]["total_rows"]
            total = None if prev_total is None else prev_total + n_new
        else:
            raise ValueError(f"unknown write mode {mode!r}")

        # changelog-retention bookkeeping (see read_changes): an overwrite
        # breaks incremental history entirely; an append adds LSN-less rows
        # the changelog can never surface — record which, so read_changes
        # can refuse to be silently wrong
        history: dict[str, Any] = {}
        if mode == "overwrite":
            history["changelog_min_version"] = version
            history["changelog_min_reason"] = "write(mode='overwrite') full refresh"
        elif lsn_synthesized:
            # Only LSN-less appends are invisible to the changelog.  When the
            # caller's DataFrame already carries _lsn the appended rows DO
            # surface in read_changes (and advance the watermark), so marking
            # the version bulk would raise a false-positive on a window that
            # is actually complete.
            history["bulk_write_versions"] = [*m["bulk_write_versions"], version]
        return self._commit(
            m,
            {"total_rows": total, "operation": mode, "rows_written": n_new},
            **history,
            epoch_id=epoch_id,
            committed_epochs=_merge_epochs(m["committed_epochs"], epoch_id),
            schema=json.loads(new_schema.json()),
            buckets=buckets,
            deltas=deltas,
            dir_stats=dir_stats,
            lsn_watermark=self._advance_watermark(m, wstats),
        )

    def truncate(self) -> None:
        """W1: full-refresh reset including 'RESTART IDENTITY' — the
        committed-epoch bookkeeping resets with the data."""
        m = self.manifest()
        self._commit(
            m,
            {"total_rows": 0, "operation": "truncate"},
            epoch_id=None,
            committed_epochs=[],
            buckets={},
            deltas={},
            dir_stats={},
            lsn_watermark=None,
            changelog_min_version=m["version"] + 1,
            changelog_min_reason="truncate()",
        )

    # ---------------------------------------------------------------- MERGE

    def merge(
        self,
        changes: DataFrame,
        epoch_id: Any,
        lsn_col: str = "lsn",
        op_col: str = "op",
        strategy: str | None = None,
    ) -> dict:
        """Apply a CDC change batch as an idempotent key-partitioned MERGE.

        Semantics (north rule): LSN-ordered per-key dedup, then upsert
        (op I/U) or delete (op D) against current state; a source row older
        than the target row's ``_lsn`` never regresses state, so replaying
        any suffix of history is a no-op — combined with epoch-id skip this
        is the exactly-once contract.

        One rule resolves every strategy: per key, the stored row with the
        greatest ``(_lsn, _seq)`` wins (:func:`_stored_order`). The deduped
        batch is staged once with ``_lsn``, ``_deleted`` (op D: deletes are
        tombstones), ``_bucket`` and ``_seq`` = this commit's version, so on
        an equal LSN the later commit wins, and a NULL ``_lsn`` (rows loaded
        by :meth:`write`) loses to any merged row.

        ``strategy``: 'cow' (default) rewrites the affected buckets: their
        base and delta rows plus the batch, reduced per key — right when
        epochs touch few buckets. 'mor' (merge-on-read) appends the batch
        as per-bucket DELTA files and leaves the reduce to read time /
        compaction — right for the uniform-key big-epoch regime where CoW
        would rewrite the full table every epoch. Defaults to the table
        property ``write.merge-mode``. Both strategies produce identical
        logical state.
        """
        if not self.exists():
            raise ValueError(f"no lake table at {self.path}")
        m = self.manifest()
        if epoch_id is not None and epoch_id in set(m["committed_epochs"]):
            return {"operation": "skip", "reason": "epoch already committed", "epoch_id": epoch_id}
        mode = strategy or m["properties"].get("write.merge-mode", "cow")
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown merge strategy {mode!r}")

        key = m["key_col"]
        n_buckets = m["n_buckets"]
        version = m["version"] + 1

        new_schema = self._evolved_schema(m, changes, lsn_col, op_col)
        schema_json = json.loads(new_schema.json())
        staged = self._stage(m, changes, new_schema, lsn_col, op_col)
        # key_partitioned: the write's input is always a per-key reduce (the
        # dedup, or the fold below), so the buckets need no write shuffle
        # when P | N

        if mode == "mor":
            written, wstats, n_rows, n_live = self._write_snapshot_data(
                staged, version, n_buckets, key, key_partitioned=True
            )
            # merge-on-read bookkeeping: O(batch), no target read; the
            # read-time reduce resolves the deltas as a CoW merge would
            fields = {
                "deltas": _extend_dirs(m["deltas"], written),
                "dir_stats": {**m["dir_stats"], **wstats},
            }
            summary = {
                "operation": "merge",
                "mode": "mor",
                "total_rows": None,  # exact only after compaction (see count())
                "rows_written": n_rows,
                "live_rows_written": n_live,
                "buckets_affected": len(written),
                "delta_dirs": sum(len(v) for v in fields["deltas"].values()),
                "epoch_id": epoch_id,
            }
        else:
            # The staged batch is consumed twice (affected-bucket discovery +
            # the fold). Persisting it avoids re-running the dedup
            # aggregation over the raw batch — the deduped set is at most
            # one row per key, far smaller than the batch.
            staged = staged.persist()
            # Affected-bucket pruning: only buckets containing changed keys
            # are read and rewritten. The distinct-bucket list is tiny
            # (≤ n_buckets ints) — the one deliberate collect in the merge.
            affected = {str(r[0]) for r in staged.select(BUCKET_COL).distinct().collect()}
            # Fold: a key's base rows, delta rows and batch row share its
            # bucket, so one reduce over the affected buckets' dirs plus the
            # batch resolves the MERGE and folds those buckets' deltas.
            old = m["deltas"]
            dirs = [d for b in sorted(affected) for d in (*m["buckets"].get(b, []), *old.get(b, []))]
            target = self._scan({**m, "schema": schema_json}, dirs)
            resolved = latest_per_key(target.unionByName(staged), key, _stored_order())
            written, wstats, n_rows, n_live = self._write_snapshot_data(
                resolved, version, n_buckets, key, key_partitioned=True
            )
            staged.unpersist()

            buckets = {k: list(v) for k, v in m["buckets"].items() if k not in affected}
            buckets.update(written)  # carry forward untouched buckets, swap affected
            deltas = {k: list(v) for k, v in old.items() if k not in affected}
            folded = set(dirs)
            dir_stats = {d: s for d, s in m["dir_stats"].items() if d not in folded}
            dir_stats.update(wstats)
            fields = dict(buckets=buckets, deltas=deltas, dir_stats=dir_stats)
            # incremental live-row accounting from the dir records — no scan
            # of historical data. With unfolded deltas on other buckets the
            # exact live total is data-dependent (key overlap): count() then
            # scans.
            base = [d for dl in buckets.values() for d in dl]
            summary = {
                "operation": "merge",
                "total_rows": None if deltas else sum(dir_stats[d]["live"] for d in base),
                "rows_written": n_rows,
                "live_rows_written": n_live,
                "buckets_affected": len(affected),
                "epoch_id": epoch_id,
            }
        return self._commit(
            m,
            summary,
            epoch_id=epoch_id,
            committed_epochs=_merge_epochs(m["committed_epochs"], epoch_id),
            schema=schema_json,
            lsn_watermark=self._advance_watermark(m, wstats),
            **fields,
        )

    @staticmethod
    def _evolved_schema(m: dict, changes: DataFrame, lsn_col: str, op_col: str) -> T.StructType:
        """``m``'s schema evolved by the payload columns of a change batch
        (every column but the op, LSN, commit-ts and epoch ones)."""
        meta = (op_col, lsn_col, "commit_ts", "epoch")
        incoming = T.StructType([f for f in changes.schema.fields if f.name not in meta])
        return schema_mod.evolve_schema(T.StructType.fromJson(m["schema"]), incoming)

    def _stage(
        self,
        m: dict,
        changes: DataFrame,
        new_schema: T.StructType,
        lsn_col: str,
        op_col: str,
    ) -> DataFrame:
        """A change batch as the commit after ``m`` stores it: one row per
        key (:func:`latest_per_key` by :func:`event_order`), conformed to
        ``new_schema``, plus ``_lsn``, ``_deleted`` (op D), ``_bucket`` and
        ``_seq`` = the commit's version. The key is first cast to its stored
        type, so the shuffle partition and the bucket hash see one value.
        Each projection is SQL text, so no Column-API call is made per
        column."""
        key = m["key_col"]
        key_type = new_schema[key].dataType
        changes = select_sql(
            changes, [cast(quote(c), key_type, c) if c == key else quote(c) for c in changes.columns]
        )
        deduped = latest_per_key(changes, key, event_order(changes, lsn_col=lsn_col, op_col=op_col))
        bucket = self._bucket_int_sql(key, m["n_buckets"])
        system = {
            LSN_COL: f"CAST({quote(lsn_col)} AS BIGINT)",
            DELETED_COL: f"{quote(op_col)} = 'D'",
            BUCKET_COL: bucket,
            SEQ_COL: f"CAST({m['version'] + 1} AS BIGINT)",
        }
        return _conform(deduped, new_schema, extra=system)

    def vacuum(self, keep_last_versions: int = 1) -> dict:
        """Delete snapshot data directories not referenced by the last
        ``keep_last_versions`` manifests (and drop the older manifests).
        Reclaims copy-on-write garbage + orphans from crashed commits.
        Time travel remains possible only within the kept window. A
        snapshot dir of a version above the current one belongs to a commit
        still being written, so it is kept."""
        current = self.manifest()
        keep_versions = set(range(max(current["version"] - keep_last_versions + 1, 0), current["version"] + 1))
        referenced: set[str] = set()
        kept_manifests: set[str] = set()
        for v in keep_versions:
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                continue
            kept_manifests.add(os.path.basename(self._manifest_path(v)))
            referenced.update(os.path.normpath(d) for d in _data_dirs(m))

        removed_dirs = 0
        data_root = os.path.join(self.path, "data")
        if os.path.isdir(data_root):
            for snap in sorted(os.listdir(data_root)):
                snapdir = os.path.join(data_root, snap)
                # snap-<version>-<attempt> (see _snapshot_dir)
                if not os.path.isdir(snapdir) or int(snap.split("-")[1]) > current["version"]:
                    continue
                live = [
                    d for d in os.listdir(snapdir)
                    if os.path.normpath(os.path.join(snapdir, d)) in referenced
                ]
                if not live:
                    shutil.rmtree(snapdir)
                    removed_dirs += 1
                else:
                    for d in os.listdir(snapdir):
                        full = os.path.normpath(os.path.join(snapdir, d))
                        if full not in referenced and os.path.isdir(full):
                            shutil.rmtree(full)
                            removed_dirs += 1
        removed_manifests = 0
        for name in os.listdir(self.manifest_dir):
            if name.startswith("manifest-") and name not in kept_manifests:
                os.unlink(os.path.join(self.manifest_dir, name))
                removed_manifests += 1
        return {"removed_data_dirs": removed_dirs, "removed_manifests": removed_manifests}

    # ------------------------------------------------------------ utilities

    _VALID_OPS = ("ALL", "SELECT", "INSERT", "UPDATE", "DELETE")

    def grant(self, principal: str, ops: list[str] | str) -> dict:
        """Record privileges for ``principal`` (informational grants surface,
        C6 tail — mirrors the reference's privileges introspection,
        ``oracle_sde.py:784-799``, which likewise surfaces rather than
        enforces: enforcement lives in the storage/catalog layer, not the
        engine). The ACL change is a metadata-only commit: a new manifest
        version with the same data, so grants are versioned and replay-safe
        like every other table mutation."""
        ops = [ops] if isinstance(ops, str) else list(ops)
        bad = [o for o in ops if o.upper() not in self._VALID_OPS]
        if bad:
            raise ValueError(f"unknown ops {bad!r} (valid: {self._VALID_OPS})")
        m = self.manifest()
        acl = {k: list(v) for k, v in m["acl"].items()}
        merged = set(acl.get(principal, [])) | {o.upper() for o in ops}
        acl[principal] = sorted(merged if "ALL" not in merged else {"ALL"})
        note = f"grant {ops} to {principal}"
        return self._commit(m, {"operation": "alter-acl", "note": note,
                                "total_rows": m["summary"]["total_rows"]}, acl=acl)

    def revoke(self, principal: str, ops: list[str] | str | None = None) -> dict:
        """Remove privileges (all of them when ``ops`` is None). Revoking
        from the owner is allowed but the ownership fact itself persists."""
        m = self.manifest()
        acl = {k: list(v) for k, v in m["acl"].items()}
        if principal not in acl:
            return {"operation": "alter-acl", "noop": True}
        if ops is None:
            del acl[principal]
        else:
            ops = [ops] if isinstance(ops, str) else list(ops)
            requested = {o.upper() for o in ops}
            held = set(acl[principal])
            if "ALL" in requested:
                del acl[principal]
            else:
                if "ALL" in held:
                    # partial revoke from an ALL holder must NARROW: expand
                    # ALL to the concrete op list first, then subtract
                    held = set(self._VALID_OPS) - {"ALL"}
                remaining = held - requested
                if remaining:
                    acl[principal] = sorted(remaining)
                else:
                    del acl[principal]
        note = f"revoke {ops or 'ALL'} from {principal}"
        return self._commit(m, {"operation": "alter-acl", "note": note,
                                "total_rows": m["summary"]["total_rows"]}, acl=acl)

    def privileges(self) -> dict:
        """{principal: [ops]} — the grants surface (informational)."""
        return {k: list(v) for k, v in self.manifest()["acl"].items()}

    def describe(self) -> dict:
        """Informational layout/stats surface (C6 analog: the reference
        exposes ``indexes``/``privileges``, ``oracle_sde.py:784-824``; here
        the physical-design facts are the bucket layout and sort order, and
        the access facts are owner + ACL)."""
        m = self.manifest()
        stats = m["dir_stats"]
        return {
            "path": self.path,
            "version": m["version"],
            "snapshot_id": m["snapshot_id"],
            "key_col": m["key_col"],
            "columns": [f["name"] for f in m["schema"]["fields"]],
            "layout": {
                "type": "hash-bucket copy-on-write",
                "bucket_expr": self._bucket_sql(m["key_col"], m["n_buckets"]),
                "n_buckets": m["n_buckets"],
                "sort_within_buckets": m["key_col"],
            },
            "buckets_populated": len(m["buckets"]),
            "data_dirs": sum(len(v) for v in m["buckets"].values()),
            "delta_dirs": sum(len(v) for v in m["deltas"].values()),
            "total_rows": m["summary"]["total_rows"],
            "tombstones": sum(stats[d]["rows"] - stats[d]["live"] for d in _data_dirs(m)),
            "committed_epochs": len(m["committed_epochs"]),
            # the CDC-out surface a changelog consumer plans against
            "changelog": {
                "lsn_watermark": m["lsn_watermark"],
                "min_version": m["changelog_min_version"],
                "min_reason": m["changelog_min_reason"],
                "bulk_write_versions": list(m["bulk_write_versions"]),
            },
            "properties": m["properties"],
            "owner": m["owner"],
            "privileges": {k: list(v) for k, v in m["acl"].items()},
        }

    def checksum(self) -> int:
        """Order-independent state checksum: sum of xxhash64 over every row's
        canonical (key, payload) encoding — the 'byte-identical replay'
        equality check from the north rule."""
        df = self.read()
        cols = ", ".join(f"CAST({quote(c)} AS STRING)" for c in sorted(df.columns))
        return (
            df.selectExpr(f"xxhash64({cols}) AS h")
            .agg(F.sum(F.col("h").cast("decimal(38,0)")).alias("s"))
            .collect()[0]["s"]
            or 0
        )

    def rebucket(self, n_buckets: int) -> dict:
        """Bucket-count evolution (≈ Iceberg partition-spec evolution): at
        10^10 rows the create-time bucket count is wrong by definition —
        CoW rewrite cost per epoch is O(table/n_buckets · touched buckets),
        so the count must grow with the table. One full rewrite under the
        ``pmod(hash(key), n)`` layout; logical state (and therefore
        ``checksum()``) is unchanged, all zone/dir stats are rebuilt for
        the new layout, and subsequent merges route by the new count.
        Run it like compaction: between epochs, versioned, replay-safe."""
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        m = self.manifest()
        df = self.read(include_system=True).drop(BUCKET_COL)
        df = df.withColumn(BUCKET_COL, F.expr(self._bucket_int_sql(m["key_col"], n_buckets)))
        version = m["version"] + 1
        written, wstats, n, n_live = self._write_snapshot_data(
            df, version, n_buckets, m["key_col"], key_partitioned=any(m["deltas"].values())
        )
        return self._commit(
            m,
            {
                "operation": "rebucket",
                "total_rows": n_live,
                "rows_written": n,
                "n_buckets": int(n_buckets),
            },
            n_buckets=int(n_buckets),
            buckets=written,
            deltas={},  # the read above reduced any deltas into the rewrite
            dir_stats=wstats,
            lsn_watermark=self._advance_watermark(m, wstats),
        )

    def compact(self, drop_tombstones: bool = False) -> dict:
        """Rewrite every bucket's dirs into one snapshot (small-file cleanup).

        ``drop_tombstones=True`` also reclaims delete tombstones — only safe
        once (a) no replay older than the tombstones' LSNs can arrive (the
        checkpoint horizon has passed them), AND (b) no changelog consumer's
        ``since_version`` predates the deletes, since the delete events are
        physically removed. (b) is enforced: the commit advances
        ``changelog_min_version``, so a stale ``read_changes`` raises
        instead of silently losing deletes — tombstones must outlive the
        oldest ``since_version`` consumers may still use."""
        m = self.manifest()
        df = self.read(include_system=True)
        if drop_tombstones:
            df = df.filter(_LIVE)
        version = m["version"] + 1
        # a read() of a table with deltas ran the per-key reduction
        written, wstats, n, n_live = self._write_snapshot_data(
            df, version, m["n_buckets"], m["key_col"], key_partitioned=any(m["deltas"].values())
        )
        history: dict[str, Any] = {}
        if drop_tombstones:
            history["changelog_min_version"] = version
            history["changelog_min_reason"] = "compact(drop_tombstones=True) removed delete events"
        return self._commit(
            m,
            {"operation": "compact", "total_rows": n_live, "rows_written": n},
            **history,
            buckets=written,
            deltas={},  # the read above reduced deltas into the rewrite
            dir_stats=wstats,
            lsn_watermark=self._advance_watermark(m, wstats),
        )


def _parquet_files(d: str) -> list[str]:
    """The parquet data files of dir ``d``, in name order."""
    return [
        os.path.join(d, fn)
        for fn in sorted(os.listdir(d))
        if not fn.startswith((".", "_")) and fn.endswith(".parquet")
    ]


def _stat_parquet_file(path: str) -> dict:
    """Footer stats for ONE parquet file: row count from metadata, delete
    count from a read of only the ``_deleted`` column (RLE booleans,
    ~KBs/file), the ``_lsn`` NULL count, and per-column zone min/max over
    every row group for scalar int/float/bool/string columns. Columns with
    missing/unusable statistics are returned in ``nostat`` so the combiner
    can drop them table-wide (conservative: no pruning on them). Module-
    level + self-contained so it ships cleanly to executors for the
    distributed harvest."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    rows = md.num_rows
    deleted = 0
    lsn_nulls = 0
    zones: dict[str, list] = {}
    nostat: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name == LSN_COL:  # no null count kept: every row may be NULL
                st = col.statistics
                lsn_nulls += st.null_count if st is not None and st.has_null_count else g.num_rows
            if "." in name or name in nostat or (
                name.startswith("_") and name != LSN_COL
            ):
                # nested / system / known-unusable (the _lsn zone stays:
                # it drives changelog dir pruning)
                continue
            st = col.statistics
            ok = (
                st is not None
                and st.has_min_max
                and isinstance(st.min, (int, float, str, bool))
                and isinstance(st.max, (int, float, str, bool))
            )
            if not ok:
                nostat.add(name)
                zones.pop(name, None)
                continue
            z = zones.get(name)
            if z is None:
                zones[name] = [st.min, st.max]
            else:
                z[0] = min(z[0], st.min)
                z[1] = max(z[1], st.max)
    if rows and DELETED_COL in pf.schema_arrow.names:
        col = pf.read(columns=[DELETED_COL]).column(DELETED_COL)
        deleted = int(pc.sum(pc.cast(pc.fill_null(col, False), "int64")).as_py() or 0)
    return {"rows": rows, "deleted": deleted, "lsn_nulls": lsn_nulls, "zones": zones, "nostat": sorted(nostat)}


def _refuse_invisible_lsns(file_stats: list[dict], wm: int | None) -> None:
    """Raise unless every written row carries an ``_lsn`` above ``wm`` —
    the rows ``read_changes`` can surface. Judged from footer stats: the
    NULL count, and the ``_lsn`` zone minimum."""
    lsn_nulls = sum(s["lsn_nulls"] for s in file_stats)
    if lsn_nulls:
        raise ValueError(
            f"append with _lsn: {lsn_nulls} null-_lsn row(s) would never "
            "surface in read_changes; supply non-null LSNs or drop the _lsn "
            "column (the version is then recorded bulk-blind)"
        )
    if wm is None:
        return
    mn = min((s["zones"][LSN_COL][0] for s in file_stats if LSN_COL in s["zones"]), default=None)
    if mn is not None and int(mn) <= int(wm):
        raise ValueError(
            f"append with _lsn: min(_lsn)={mn} <= lsn_watermark={wm}; "
            "read_changes filters _lsn > watermark, so these rows would be "
            "invisible to every changelog window. Supply LSNs above the "
            "watermark or drop the _lsn column"
        )


def _combine_file_stats(file_stats: list[dict]) -> dict:
    """Merge per-file stats into one dir's ``dir_stats`` record. Order-
    independent by construction: row/delete counts sum, zone ranges widen
    via min/max, and any column lacking stats in ANY file is dropped
    (a column absent from a file's SCHEMA entirely is fine — its rows read
    as NULL there, and NULL comparisons are UNKNOWN under every pruning
    operator, so the other files' range remains a safe bound)."""
    rows = sum(s["rows"] for s in file_stats)
    deleted = sum(s["deleted"] for s in file_stats)
    dead: set[str] = set()
    for s in file_stats:
        dead.update(s["nostat"])
    zones: dict[str, list] = {}
    for s in file_stats:
        for name, (lo, hi) in s["zones"].items():
            if name in dead:
                continue
            z = zones.get(name)
            if z is None:
                zones[name] = [lo, hi]
            else:
                z[0] = min(z[0], lo)
                z[1] = max(z[1], hi)
    return {"rows": rows, "live": rows - deleted, "zones": zones}


def _data_dirs(m: dict) -> list[str]:
    """Every base and MoR delta dir manifest ``m`` references."""
    return [d for part in (m["buckets"], m["deltas"]) for dl in part.values() for d in dl]


def _extend_dirs(old: dict[str, list[str]], written: dict[str, list[str]]) -> dict[str, list[str]]:
    """``old``'s bucket -> dirs map with ``written``'s dirs appended."""
    out = {b: list(dl) for b, dl in old.items()}
    for b, dl in written.items():
        out.setdefault(b, []).extend(dl)
    return out


def _stored_order() -> Column:
    """The one MERGE rule, (_lsn, _seq): per key the greatest stored row
    wins — in the MoR read, compact, and the CoW merge's fold alike. On
    equal LSNs the later commit wins. NULL _lsn and NULL _seq (rows loaded
    by write()) sort lowest."""
    return F.expr(
        f"named_struct('l', coalesce({LSN_COL}, {-(1 << 62)}L), 's', coalesce({SEQ_COL}, -1L))"
    )


def _merge_epochs(old: list, epoch_id) -> list:
    """Record epoch_id into the committed-epoch set. Sorted with a type-stable
    key: batch epochs are ints while stream epochs are strings
    ('stream-{batch_id}'), and a bare sorted() on the mixed set raises
    TypeError, bricking every subsequent commit to the table."""
    s = set(old) | ({epoch_id} if epoch_id is not None else set())
    return sorted(s, key=lambda e: (isinstance(e, str), str(e)))


def _user_schema(df: DataFrame) -> T.StructType:
    return T.StructType([f for f in df.schema.fields if f.name not in _SYSTEM_COLS])


def _conform(df: DataFrame, schema: T.StructType, extra: dict[str, str]) -> DataFrame:
    """Project df onto schema in one SQL-text projection (W4 analog —
    order normalization before merge): a column of the schema's type
    passes through, one of another type is cast, a missing one becomes a
    typed NULL. ``extra`` appends columns as SQL text (name -> expression)."""
    have = {f.name: f.dataType for f in df.schema.fields}
    cols: list[str | Column] = []
    for f in schema.fields:
        if have.get(f.name) == f.dataType:
            cols.append(quote(f.name))
        else:
            cols.append(cast(quote(f.name) if f.name in have else "NULL", f.dataType, f.name))
    cols += [f"{e} AS {quote(n)}" for n, e in extra.items()]
    return select_sql(df, cols)
