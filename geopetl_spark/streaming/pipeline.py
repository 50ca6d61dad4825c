"""The micro-batch CDC ingest loop: binlog tail -> dedup -> MERGE -> lineage.

This is the engine's driver program (SURVEY §7 step 9). Each epoch:

1. read the epoch's slice of the change log (partition-pruned parquet scan —
   the log is written partitioned by epoch, see
   :func:`geopetl_spark.sources.cdc_gen.write_cdc_log`);
2. sanitize payloads (vectorized, JVM-side);
3. salted two-phase per-key max-LSN dedup;
4. idempotent MERGE into the lake table (epoch-keyed snapshot commit);
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

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..lake.table import LakeTable
from ..operators.dedup_cdc import latest_per_key
from ..transforms import sanitize_tokens
from .checkpoint import Checkpoint
from .lineage import LineageLog, partition_lineage


@dataclass
class IngestConfig:
    log_path: str
    table_path: str
    checkpoint_path: str
    key_col: str = "doc_id"
    lsn_col: str = "lsn"
    op_col: str = "op"
    vocab_size: int | None = None
    n_salts: int = 32
    sanitize: bool = True
    quarantine: bool = True  # split events with null key/LSN into a
    # side-channel instead of poisoning the MERGE (a null key would
    # otherwise land as a junk row; a null LSN breaks ordering semantics)
    merge_strategy: str | None = None  # 'cow' | 'mor' | None (table property)


@dataclass
class EpochResult:
    epoch: int
    rows: int
    events_per_sec: float
    commit: dict = field(default_factory=dict)


_EPOCH_DIR = "_epoch_part="


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
            # Spark's file index rule: names starting "_" or "." and
            # in-flight "._COPYING_" copies are not data
            with os.scandir(entry.path) as files:
                if any(
                    f.is_file()
                    and not f.name.startswith(("_", "."))
                    and not f.name.endswith("._COPYING_")
                    for f in files
                ):
                    epochs.append(epoch)
    return sorted(epochs)


def read_epoch(spark: SparkSession, log_path: str, epoch: int) -> DataFrame:
    """Partition-pruned read of one epoch of the change log."""
    return spark.read.parquet(log_path).filter(F.col("_epoch_part") == epoch).drop("_epoch_part")


def apply_epoch(
    spark: SparkSession,
    cfg: IngestConfig,
    table: LakeTable,
    batch: DataFrame,
    epoch: int,
    lineage_log: LineageLog | None = None,
) -> EpochResult:
    """Apply one micro-batch (usable directly as a foreachBatch body)."""
    t0 = time.time()
    if cfg.sanitize:
        batch = sanitize_tokens(batch, vocab_size=cfg.vocab_size)
    # Lineage + poison accounting ride the dedup job as observed metrics
    # (CollectMetrics): the epoch is scanned exactly ONCE on the clean path —
    # no separate lineage pre-scan job, no extra job when the batch is clean.
    valid_pred = F.col(cfg.key_col).isNotNull() & F.col(cfg.lsn_col).isNotNull()
    obs = Observation()
    metrics = [
        F.count(F.lit(1)).alias("rows"),
        F.min(cfg.lsn_col).alias("min_lsn"),
        F.max(cfg.lsn_col).alias("max_lsn"),
    ]
    if cfg.quarantine:
        metrics.append(F.sum(F.when(~valid_pred, 1).otherwise(0)).alias("invalid_rows"))
    observed = batch.observe(obs, *metrics)
    to_merge = observed.filter(valid_pred) if cfg.quarantine else observed
    deduped = latest_per_key(
        to_merge,
        key_col=cfg.key_col,
        lsn_col=cfg.lsn_col,
        op_col=cfg.op_col,
        n_salts=cfg.n_salts,
    )
    summary = table.merge(
        deduped,
        epoch_id=epoch,
        lsn_col=cfg.lsn_col,
        op_col=cfg.op_col,
        assume_deduped=True,
        strategy=cfg.merge_strategy,
    )
    t1 = time.time()
    n_quarantined = 0
    if summary.get("operation") == "skip":
        # nothing executed the observed plan — fall back to a direct scan so
        # a deliberate re-apply still records what arrived (rare path), with
        # the same poison-row accounting as the normal path
        plineage = partition_lineage(
            batch, lsn_col=cfg.lsn_col, invalid_pred=(~valid_pred) if cfg.quarantine else None
        )
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
            batch.filter(~valid_pred).write.mode("overwrite").parquet(qdir)
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
