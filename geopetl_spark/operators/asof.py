"""As-of (time-travel) join: for each left row, the most recent right row
with the same key and ``right_ts <= left_ts``.

Spark has no native as-of join (SURVEY §2.7 gap list). This implementation
is the union-sort-carry composition — one shuffle + one per-key sort, no
Python:

1. tag right rows ``_side=0`` and left rows ``_side=1``;
2. union on the common (key, ts) spine;
3. per key, sort by (ts, _side, _rrow) — a right row at the exact left
   timestamp sorts first, making the join boundary inclusive (matches DuckDB
   ``ASOF JOIN``'s ``>=``); the right-row struct itself is the total-order
   tiebreak, so two right rows with equal (key, ts) always carry the same
   deterministic winner;
4. ``last(struct(right_cols), ignorenulls=True)`` over the running window
   carries the latest right ROW forward as one struct — all carried values
   come from the same right row even when some of its columns are NULL
   (per-column ``last(..., ignorenulls)`` would stitch values from different
   rows, diverging from true ASOF JOIN semantics);
5. keep only left rows and unpack the struct.

At scale this is strictly cheaper than the windowed-equi-join alternative
(bucketize ts + equi-join + filter): one shuffle of |L|+|R| rows on the key,
sort amortized by Spark's shuffle sort machinery. A skewed key means many
rows in one key partition, handled by AQE local sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """Left as-of join. Right columns appear as ``<col><suffix>``; left rows
    with no prior right row get NULLs (LEFT ASOF semantics)."""
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (key, right_ts)]

    rrow_type = T.StructType([T.StructField(c, right.schema[c].dataType) for c in right_cols])
    l_tag = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        F.lit(None).cast(rrow_type).alias("_rrow"),
    )
    r_tag = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(l_tag.schema["_lrow"].dataType).alias("_lrow"),
        F.struct(*[F.col(c) for c in right_cols]).alias("_rrow"),
    )
    spine = l_tag.unionByName(r_tag)

    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts"), F.col("_side"), F.col("_rrow"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = spine.select(
        "_side",
        "_lrow",
        F.last(F.col("_rrow"), ignorenulls=True).over(w).alias("_crow"),
    )
    out = carried.filter(F.col("_side") == 1).select(
        F.col("_lrow.*"),
        *[F.col(f"_crow.{c}").alias(f"{c}{suffix}") for c in right_cols],
    )
    return out
