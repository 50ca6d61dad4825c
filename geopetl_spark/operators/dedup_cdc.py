"""LSN-ordered per-key CDC dedup — the engine's core reduction.

The reference's nearest concept is ``increment=True`` re-keying (W3,
``/root/reference/geopetl/oracle_sde.py:987-999``): the last write wins
because the DB key is regenerated per row. The north rule upgrades this to
real change-log semantics: among all events for a key, the one with the
highest (lsn, commit_ts, op) under a **total order** wins — the total order
is what makes checkpointed replay byte-identical (the reference's first-row
payload sniffing, ``oracle_sde.py:872-889``, is the cautionary tale for
order-dependent nondeterminism).

:func:`latest_per_key` is the one reduction: ``groupBy(key).agg(max_by(row,
order))``. Ingest dedup (ordered by :func:`event_order`), the
``cdc_latest_state`` query and the lake's merge-on-read reduce (ordered by
``(_lsn, _seq)``) all use it.

Why a hot key cannot pin one reducer: ``max_by`` is an aggregate, so Spark
plans a partial ``max_by`` below the single hash exchange. Each map task
folds all rows of a key it holds into one, so a key crosses the shuffle as
at most one row per map task, however many events it has — its reducer
merges a handful of partials, not the key's events. A
``row_number()``-over-window plan has no such combine: it ships and sorts
every event of the hot key in one task.

The exchange is ``hashpartitioning(key, P)``: a row lands in partition
``pmod(hash(key), P)``, which is what lets the lake write bucket-aligned
files straight from the reduction (see ``LakeTable._write_snapshot_data``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _op_rank_col(op_col: str):
    # op priority breaks exact (lsn, ts) ties deterministically: a delete at
    # the same LSN as an upsert wins (matches "tombstone last" binlog convention)
    return (
        F.when(F.col(op_col) == "D", F.lit(2))
        .when(F.col(op_col) == "U", F.lit(1))
        .otherwise(F.lit(0))
    )


def event_order(
    df: DataFrame,
    lsn_col: str = "lsn",
    ts_col: str = "commit_ts",
    op_col: str = "op",
) -> Column:
    """The change-event total order: ``(lsn, commit_ts, op_rank)``. A
    missing ts or op column contributes a constant."""
    return F.struct(
        F.col(lsn_col).cast("long").alias("lsn"),
        (
            # unix_micros needs TIMESTAMP; cast handles TIMESTAMP_NTZ inputs
            # (session TZ pinned to UTC so the conversion is deterministic)
            F.unix_micros(F.col(ts_col).cast("timestamp")) if ts_col in df.columns else F.lit(0)
        ).alias("ts"),
        (_op_rank_col(op_col) if op_col in df.columns else F.lit(0)).alias("op_rank"),
    )


def latest_per_key(df: DataFrame, key_col: str, order: Column) -> DataFrame:
    """One row per ``key_col``: the row with the greatest ``order``. One
    hash exchange on the key, with a partial aggregate beneath it. Output
    schema == input schema (column order kept)."""
    rest = [c for c in df.columns if c != key_col]
    latest = df.groupBy(key_col).agg(
        F.max_by(F.struct(*[F.col(c) for c in rest]), order).alias("_row")
    )
    return latest.select(
        *[F.col(c) if c == key_col else F.col("_row").getField(c).alias(c) for c in df.columns]
    )
