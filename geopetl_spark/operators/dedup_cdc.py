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

Why the expressions are SQL text: every Column-API call is one or more py4j
round trips from the Python driver to the JVM, so a plan built column by
column pays per column, every epoch. Measured on a 4-core host, local[4]:
``F.col`` 1.9–2.3 ms, ``F.col(c).getField(c).alias(c)`` 6.3 ms,
``withColumn`` 11–14 ms; unpacking a 7-column row as a ``select`` of
``getField`` calls took 80 ms where one ``selectExpr`` took 12 ms, and
``groupBy.agg(max_by(F.struct(...)))`` 43 ms where one ``F.expr`` struct took
12 ms. A SQL string is parsed JVM-side in one call, so these builders
make no Column-API call per column (a ``selectExpr`` still ships its
list of strings one element per round trip). The plans are unchanged:
the parser yields the same expression trees.
Identifiers go through :func:`geopetl_spark.sqltext.quote`, so any column
name works.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sqltext import quote

# the change-event op priority: breaks exact (lsn, ts) ties deterministically,
# a delete at the same LSN as an upsert wins ("tombstone last" binlog convention)
_OP_RANK = "CASE WHEN {op} = 'D' THEN 2 WHEN {op} = 'U' THEN 1 ELSE 0 END"


def event_order(
    df: DataFrame,
    lsn_col: str = "lsn",
    ts_col: str = "commit_ts",
    op_col: str = "op",
) -> Column:
    """The change-event total order: ``(lsn, commit_ts, op_rank)``. A
    missing ts or op column contributes a constant."""
    cols = set(df.columns)
    # unix_micros needs TIMESTAMP; the cast handles TIMESTAMP_NTZ inputs
    # (session TZ pinned to UTC so the conversion is deterministic)
    ts = f"unix_micros(CAST({quote(ts_col)} AS TIMESTAMP))" if ts_col in cols else "0"
    op = _OP_RANK.format(op=quote(op_col)) if op_col in cols else "0"
    return F.expr(f"named_struct('lsn', CAST({quote(lsn_col)} AS BIGINT), 'ts', {ts}, 'op_rank', {op})")


def latest_per_key(df: DataFrame, key_col: str, order: Column) -> DataFrame:
    """One row per ``key_col``: the row with the greatest ``order``. One
    hash exchange on the key, with a partial aggregate beneath it. Output
    schema == input schema (column order kept)."""
    cols = df.columns
    row = ", ".join(quote(c) for c in cols if c != key_col)
    latest = df.groupBy(F.expr(quote(key_col))).agg(
        F.max_by(F.expr(f"struct({row})"), order).alias("_row")
    )
    return latest.selectExpr(
        *[quote(c) if c == key_col else f"_row.{quote(c)} AS {quote(c)}" for c in cols]
    )
