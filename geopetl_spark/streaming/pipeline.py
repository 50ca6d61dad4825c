"""The micro-batch CDC ingest loop: binlog tail -> dedup -> MERGE -> lineage.

This is the engine's driver program (SURVEY §7 step 9). Each epoch:

1. read the epoch's dir of the change log with the schema its parquet
   footers carry — no schema-inference job (the log is written
   partitioned by epoch, see
   :func:`geopetl_spark.sources.cdc_gen.write_cdc_log`);
2. sanitize payloads (vectorized, JVM-side);
3. quarantine events with a NULL ``lsn`` or key (the key the table's
   manifest records);
4. idempotent MERGE of the rest into the lake table (epoch-keyed snapshot
   commit), which reduces the batch to one row per key by max (lsn, ts,
   op) first;
5. append per-partition lineage + throughput metrics;
6. advance the checkpoint.

Crash anywhere and rerun: epochs up to the checkpoint are skipped by the
checkpoint, the possibly-in-flight epoch is skipped by the sink's
committed-epoch check (or re-applied deterministically if its commit never
published) — the final state is byte-identical either way (asserted in
``tests/test_pipeline.py``).

A Structured Streaming front-end (``readStream`` + ``foreachBatch`` calling
:func:`apply_epoch`) drops in naturally — ``foreachBatch`` hands us exactly
the (DataFrame, epoch_id) pair this loop produces; batch mode is used here
because the sandbox's change log is a static parquet dir.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lake.table import LakeTable
from ..sqltext import quote
from ..transforms import sanitize_tokens
from .checkpoint import Checkpoint
from .lineage import LineageLog, partition_lineage


@dataclass
class IngestConfig:
    """Where an ingest reads, writes and keeps its resume state. The key
    comes from the table; the change log's envelope columns are ``op`` and
    ``lsn`` (:func:`geopetl_spark.sources.cdc_gen.write_cdc_log`)."""

    log_path: str
    table_path: str
    checkpoint_path: str  # checkpoint, lineage log and quarantined rows
    merge_strategy: str | None = None  # 'cow' | 'mor' | None (table property)


@dataclass
class EpochResult:
    epoch: int
    rows: int
    events_per_sec: float
    commit: dict = field(default_factory=dict)


_EPOCH_DIR = "_epoch_part="
# where Spark's parquet writer stores the file's Spark schema (JSON)
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _is_data_file(name: str) -> bool:
    # Spark's file index rule: names starting "_" or "." and in-flight
    # "._COPYING_" copies are not data
    return not name.startswith(("_", ".")) and not name.endswith("._COPYING_")


def _discover_epochs(log_path: str) -> list[int]:
    """The change log's epochs, ascending, from its ``_epoch_part=<n>``
    directory names: a listing, no Spark job. Entries Spark's file index
    skips (``_SUCCESS``, dot-files, ``_temporary``) and epoch dirs that hold
    no data file yet (a writer still landing them) are ignored, so an
    existing log with no populated epoch yields ``[]``. A missing log dir
    raises ``FileNotFoundError``."""
    epochs = []
    with os.scandir(log_path) as entries:
        for entry in entries:
            if not (entry.name.startswith(_EPOCH_DIR) and entry.is_dir()):
                continue
            try:
                epoch = int(entry.name[len(_EPOCH_DIR):])
            except ValueError:
                continue  # not an epoch partition value
            with os.scandir(entry.path) as files:
                if any(f.is_file() and _is_data_file(f.name) for f in files):
                    epochs.append(epoch)
    return sorted(epochs)


def _nullable(node):
    """A Spark schema JSON with every field, array element and map value
    nullable — what Spark's own parquet schema inference yields."""
    if isinstance(node, dict):
        out = {k: _nullable(v) for k, v in node.items()}
        for flag in ("nullable", "containsNull", "valueContainsNull"):
            if flag in out:
                out[flag] = True
        return out
    if isinstance(node, list):
        return [_nullable(v) for v in node]
    return node


def _files_schema(spark: SparkSession, files: list[str]) -> T.StructType:
    """The Spark schema the files' writer recorded in their parquet footers,
    as nullable as inference would make it, with fields unioned by name in
    first-seen order. Only files without that footer key cost an inference
    job."""
    import pyarrow.parquet as pq

    fields: dict[str, dict] = {}
    unlabeled = []
    for path in files:
        meta = pq.read_metadata(path).metadata or {}
        if _SPARK_SCHEMA_KEY not in meta:
            unlabeled.append(path)
            continue
        for f in json.loads(meta[_SPARK_SCHEMA_KEY])["fields"]:
            fields.setdefault(f["name"], _nullable(f))
    if unlabeled:
        inferred = spark.read.option("mergeSchema", "true").parquet(*unlabeled).schema
        for f in inferred.jsonValue()["fields"]:
            fields.setdefault(f["name"], f)
    return T.StructType.fromJson({"type": "struct", "fields": list(fields.values())})


def read_epoch(spark: SparkSession, log_path: str, epoch: int) -> DataFrame:
    """One epoch of the change log: a scan of its ``_epoch_part=<n>`` dir
    only, under the schema of that dir's own files. The schema comes from
    the parquet footers, so the read runs no Spark job."""
    path = os.path.join(log_path, f"{_EPOCH_DIR}{epoch}")
    with os.scandir(path) as entries:
        files = sorted(f.path for f in entries if f.is_file() and _is_data_file(f.name))
    return spark.read.schema(_files_schema(spark, files)).parquet(path)


def apply_epoch(
    spark: SparkSession,
    cfg: IngestConfig,
    table: LakeTable,
    batch: DataFrame,
    epoch: int,
    lineage_log: LineageLog | None = None,
) -> EpochResult:
    """Apply one micro-batch (usable directly as a foreachBatch body).
    Events with a NULL key or LSN go to a side-channel instead of the MERGE:
    a NULL key would land as a junk row, a NULL LSN breaks the ordering."""
    t0 = time.time()
    batch = sanitize_tokens(batch)
    # Lineage + poison accounting ride the dedup job as observed metrics
    # (CollectMetrics): the epoch is scanned exactly ONCE on the clean path —
    # no separate lineage pre-scan job, no extra job when the batch is clean.
    # Predicate and metrics are SQL text: one py4j call each.
    valid_sql = f"{quote(table.key_col)} IS NOT NULL AND lsn IS NOT NULL"
    invalid_sql = f"NOT ({valid_sql})"
    obs = Observation()
    metrics = [
        "count(1) AS rows",
        "min(lsn) AS min_lsn",
        "max(lsn) AS max_lsn",
        f"sum(CASE WHEN {invalid_sql} THEN 1 ELSE 0 END) AS invalid_rows",
    ]
    observed = batch.observe(obs, *[F.expr(m) for m in metrics])
    summary = table.merge(observed.filter(valid_sql), epoch_id=epoch, strategy=cfg.merge_strategy)
    t1 = time.time()
    n_quarantined = 0
    if summary.get("operation") == "skip":
        # nothing executed the observed plan — fall back to a direct scan so
        # a deliberate re-apply still records what arrived (rare path), with
        # the same poison-row accounting as the normal path
        plineage = partition_lineage(batch, invalid_pred=F.expr(invalid_sql))
        n_quarantined = sum(int(p.pop("invalid_rows", 0) or 0) for p in plineage)
    else:
        got = obs.get
        n_quarantined = int(got.get("invalid_rows") or 0)
        plineage = [
            {
                "partition_id": -1,
                "rows": int(got["rows"]),
                "min_lsn": got["min_lsn"],
                "max_lsn": got["max_lsn"],
            }
        ]
        if n_quarantined:
            # quarantined rows preserved verbatim for replay/forensics; the
            # write job exists only on the poison path
            qdir = f"{cfg.checkpoint_path}/quarantine/epoch={epoch}"
            batch.filter(invalid_sql).write.mode("overwrite").parquet(qdir)
            plineage[0]["rows_note"] = "pre-quarantine counts"
    t2 = time.time()
    summary = dict(summary)
    # merge = plan construction + the merge's jobs; lineage = what arrived:
    # the observed-metrics read, the re-apply scan, the quarantine write
    summary["phase_sec"] = {"lineage": round(t2 - t1, 3), "merge": round(t1 - t0, 3)}
    summary["rows_quarantined"] = n_quarantined
    n_rows = sum(p["rows"] for p in plineage)
    if lineage_log is not None:
        lineage_log.record(
            epoch=epoch,
            partitions=plineage,
            commit_summary=summary,
            snapshot_id=table.manifest()["snapshot_id"],
            started_at=t0,
            finished_at=t2,
        )
    return EpochResult(epoch=epoch, rows=n_rows, events_per_sec=n_rows / max(t2 - t0, 1e-9), commit=summary)


def run_ingest(
    spark: SparkSession,
    cfg: IngestConfig,
    max_epochs: int | None = None,
    start_epoch: int | None = None,
) -> list[EpochResult]:
    """Run the epoch loop from the checkpoint until the log is exhausted.
    A log with no populated epoch yet is exhausted from the start: nothing
    runs and the result is ``[]``."""
    table = LakeTable(spark, cfg.table_path)
    ckpt = Checkpoint(cfg.checkpoint_path)
    lineage_log = LineageLog(cfg.checkpoint_path)

    epochs = _discover_epochs(cfg.log_path)
    first = start_epoch if start_epoch is not None else ckpt.next_epoch_after(epochs[0] if epochs else 0)

    results: list[EpochResult] = []
    for epoch in [e for e in epochs if e >= first]:
        if max_epochs is not None and len(results) >= max_epochs:
            break
        batch = read_epoch(spark, cfg.log_path, epoch)
        res = apply_epoch(spark, cfg, table, batch, epoch, lineage_log)
        ckpt.save(last_epoch=epoch, offsets={"log_path": cfg.log_path})
        results.append(res)
    return results
