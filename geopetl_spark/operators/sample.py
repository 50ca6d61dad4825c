"""Deterministic sampling / dataset splitting.

Training pipelines need train/valid/test assignment that is (a) stable — a
row's split never changes when other rows are added or the cluster size
changes — and (b) engine-portable, so an offline audit in another engine
reproduces it exactly. Random `df.sample`/`randomSplit` give neither (they
are partition-layout-dependent). Here the split is a pure function of the
row id: an md5-derived 56-bit integer hash (the same construction as
``functions.text.word_hash``, reproducible in DuckDB as
``('0x' || substr(md5(id), 1, 14))::BIGINT``) mapped onto contiguous bucket
ranges.

Scale shape: a per-row projection — no shuffle, no state, trivially
partition-parallel.

Reference parity: geopetl has no sampling surface; training-pipeline
extension (build spec) / SURVEY §2.7 gap fill.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import word_hash
from ..plans import gates

__all__ = ["hash_bucket", "split_by_hash", "deterministic_sample", "stratified_sample", "pack_sequences"]

N_BUCKETS = 10_000


def hash_bucket(id_col: Column, n_buckets: int = N_BUCKETS) -> Column:
    """Stable bucket in [0, n_buckets) from the row id (md5-derived)."""
    return word_hash(id_col.cast("string")) % F.lit(n_buckets)


def split_by_hash(
    df: DataFrame,
    id_col: str,
    weights: Mapping[str, float] | None = None,
    split_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split by hash-bucket range.

    ``weights`` maps split name -> fraction (must sum to 1 within 1e-9);
    insertion order defines the bucket ranges, so the mapping itself is part
    of the dataset contract. Default 90/5/5 train/valid/test."""
    weights = dict(weights or {"train": 0.90, "valid": 0.05, "test": 0.05})
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    b = hash_bucket(F.col(id_col))
    expr = F.lit(None).cast("string")
    hi = N_BUCKETS
    # build the CASE from the last range backwards; the first-named split
    # absorbs any rounding residue (lo forced to 0) so every bucket is covered
    items = list(weights.items())
    for idx, (name, w) in enumerate(reversed(items)):
        lo = 0 if idx == len(items) - 1 else hi - int(round(w * N_BUCKETS))
        expr = F.when((b >= F.lit(lo)) & (b < F.lit(hi)), F.lit(name)).otherwise(expr)
        hi = lo
    return df.withColumn(split_col, expr)


def pack_sequences(
    df: DataFrame,
    tokens_col: str,
    order_col: str = "doc_id",
    shard_col: str | None = None,
    budget: int = 2048,
    pack_col: str = "pack_id",
    offset_col: str = "pack_offset",
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style training layout):
    documents are laid end-to-end in ``order_col`` order and cut into
    fixed-``budget`` token packs; each doc gets the pack its FIRST token
    lands in (``pack_id``) and its offset within that pack — a doc whose
    tokens cross the boundary spans into the next pack(s), exactly as the
    training loader would consume it.

    Scale shape: packing is inherently sequential WITHIN an ordering, so
    the parallel unit is the shard — pass ``shard_col`` (a split, a hash
    bucket, a date partition) and each shard packs independently in one
    windowed cumulative sum (one shuffle, partitioned by shard). A global
    single-shard pack (``shard_col=None``) is supported but runs the window
    in ONE partition — fine for a tail job, wrong for the full corpus; at
    100 TB always shard.

    Determinism contract: ``(order_col, *tiebreak_cols)`` must TOTALLY
    order the rows within a shard — with duplicate keys the cumulative sum
    is partition-layout-dependent and pack assignment varies run to run.
    With a unique ordering the result is a pure function of (order, token
    counts), reproducible cross-engine (ANSI windowed SUM). Pass
    ``tiebreak_cols`` when ``order_col`` alone is not unique."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    part = [F.col(shard_col)] if shard_col else [F.lit(0)]
    w = (
        Window.partitionBy(*part)
        .orderBy(F.col(order_col), *[F.col(c) for c in tiebreak_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum(F.col(tokens_col).cast("long")).over(w), F.lit(0).cast("long"))
    return df.withColumn(pack_col, F.floor(prev / F.lit(budget)).cast("long")).withColumn(
        offset_col, (prev % F.lit(budget)).cast("long")
    )


def deterministic_sample(df: DataFrame, id_col: str, fraction: float) -> DataFrame:
    """Stable ``fraction`` sample: keeps rows whose hash bucket falls below
    the cutoff. Re-running, re-partitioning, or growing the corpus never
    changes whether a given row is sampled."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    cutoff = int(round(fraction * N_BUCKETS))
    return df.filter(hash_bucket(F.col(id_col)) < F.lit(cutoff))


def stratified_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    fractions: Mapping[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-group deterministic sampling — the data-mixture knob: upweight
    or downweight sources by keeping a different stable fraction of each
    (e.g. ``{"wiki": 1.0, "web": 0.1}``). Same hash-bucket construction as
    :func:`deterministic_sample`, so membership is stable under growth,
    repartitioning, and engine ports; groups not named keep
    ``default_fraction``.

    Two physically different plans, identical membership:

    * few named groups (the ``stratify_case_groups`` count gate,
      :mod:`geopetl_spark.plans.gates`): a chained ``CASE WHEN`` cutoff —
      a pure per-row projection + filter, no shuffle, no second relation
      in the plan;
    * many groups (thousands of sources in a production mixture): a
      **broadcast left join** against a (group, cutoff) literal table —
      the per-row work stays O(1) hash-probe instead of O(groups) branch
      evaluation, and the plan no longer grows with the config. Still no
      shuffle of ``df``: broadcast joins keep the big side's partitioning.
    """
    for g, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for group {g!r} must be in [0, 1], got {f}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError("default_fraction must be in [0, 1]")
    from pyspark.sql import types as T

    default_cut = int(round(default_fraction * N_BUCKETS))
    # The join path is taken only for STRING group columns (the mixture-
    # config case it exists for): a non-string key would go through
    # join-time casts that can diverge from the CASE path's literal
    # equality semantics (advisor r6), so other key types keep the CASE
    # plan at any group count.
    if gates.small_count(len(fractions), "stratify_case_groups") or not isinstance(
        df.schema[group_col].dataType, T.StringType
    ):
        cutoff = F.lit(default_cut)
        for g, f in fractions.items():
            cutoff = F.when(F.col(group_col) == F.lit(g), F.lit(int(round(f * N_BUCKETS)))).otherwise(cutoff)
        return df.filter(hash_bucket(F.col(id_col)) < cutoff)
    # collision-proof helper column name (advisor r6: a pre-existing
    # _strat_cutoff column made the filter ambiguous)
    cut_col = "_strat_cutoff"
    while cut_col in df.columns:
        cut_col = "_" + cut_col
    frac_tbl = df.sparkSession.createDataFrame(
        [(g, int(round(f * N_BUCKETS))) for g, f in fractions.items()],
        f"`{group_col}` string, `{cut_col}` int",
    )
    joined = df.join(F.broadcast(frac_tbl), on=group_col, how="left")
    return (
        joined.filter(
            hash_bucket(F.col(id_col)) < F.coalesce(F.col(cut_col), F.lit(default_cut))
        )
        .drop(cut_col)
        .select(*df.columns)  # same schema/order as the CASE path
    )
