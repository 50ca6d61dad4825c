"""Vectorized payload transforms — the expression library.

Reference parity: geopetl's only true transform operator is row-at-a-time
WKT reprojection (``ReprojectView.__iter__``,
``/root/reference/geopetl/transform/reproject.py:29-35``) plus per-cell write
coercions (``_prepare_val`` ``oracle_sde.py:701-744``, ``_prepare_geom``
``oracle_sde.py:746-782``, ``prepare_val`` ``postgis.py:748-799``). The north
rule forbids per-row Python, so everything here is either a built-in column
expression (JVM, whole-stage codegen) or an Arrow-batched pandas UDF.

The payload analog of geometry normalization (None/'' -> 'POINT EMPTY',
NaN -> 0, MULTI promotion) is **token-array sanitization**: null -> empty
array, element nulls dropped, values clamped to the vocab range, dtype
enforced, n_tok recomputed.
"""

from __future__ import annotations

import pandas as pd
import pyarrow  # noqa: F401  (asserts the Arrow path is available)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sqltext import quote


def sanitize_tokens(
    df: DataFrame,
    tokens_col: str = "tokens",
    n_tok_col: str = "n_tok",
    vocab_size: int | None = None,
) -> DataFrame:
    """Token-array sanitization, all JVM-side (≈ _prepare_geom's
    empty/NaN/type repairs, oracle_sde.py:746-782):

    * NULL array        -> empty array (≈ ``'POINT EMPTY'`` for null geometry,
      oracle_sde.py:748-753)
    * NULL elements     -> dropped (≈ NaN->0 repair, oracle_sde.py:763-767)
    * out-of-vocab ids  -> clamped into [0, vocab_size) (≈ ST_Force_2D clamp)
    * n_tok             -> recomputed from the sanitized array

    The expressions are SQL text (with ``x -> ...`` lambdas): it runs on
    every ingest epoch, and a SQL string costs one py4j call where the
    Column API pays several per function (see ``operators/dedup_cdc``).
    """
    toks = f"filter(coalesce({quote(tokens_col)}, CAST(array() AS ARRAY<INT>)), x -> x IS NOT NULL)"
    if vocab_size is not None:
        toks = f"transform({toks}, x -> CAST(least(greatest(x, 0), {vocab_size - 1}) AS INT))"
    out = df.withColumn(tokens_col, F.expr(f"CAST({toks} AS ARRAY<INT>)"))
    return out.withColumn(n_tok_col, F.expr(f"CAST(size({quote(tokens_col)}) AS INT)"))


def normalize_strings(df: DataFrame, cols: list[str]) -> DataFrame:
    """Empty-string -> NULL and whitespace trim (≈ prepare_val's
    empty-value -> NULL mapping, postgis.py:758-775, and the reference
    tests' leading-space date strings, FIXTURES.md §1)."""
    out = df
    for c in cols:
        out = out.withColumn(c, F.nullif(F.trim(F.col(c)), F.lit("")))
    return out


def parse_timestamps(df: DataFrame, cols: dict[str, str]) -> DataFrame:
    """String -> timestamp with explicit formats (≈ _prepare_val's dateutil
    parse + reformat, oracle_sde.py:714-741, without per-row Python)."""
    out = df
    for c, fmt in cols.items():
        out = out.withColumn(c, F.to_timestamp(F.col(c), fmt))
    return out


# ---------------------------------------------------------------------------
# P8: payload metadata tagging round-trip. The reference prefixes 'SRID=n;'
# onto the serialized geometry on read when geom_with_srid=True
# (oracle_sde.py:1149-1150, postgis.py:993-994) and strips it again before
# write (_prepare_geom, oracle_sde.py:755-758). The engine analog tags the
# serialized token payload with a schema-version prefix 'V{n};'.
# ---------------------------------------------------------------------------

def tag_payload(
    df: DataFrame, tokens_col: str = "tokens", version: int = 1, out_col: str | None = None
) -> DataFrame:
    """Serialize the token array to its tagged text form ``V{n};1,2,3``
    (≈ EWKT 'SRID=n;POINT(...)'). NULL arrays stay NULL."""
    body = F.concat_ws(",", F.transform(F.col(tokens_col), lambda x: x.cast("string")))
    tagged = F.when(
        F.col(tokens_col).isNull(), F.lit(None).cast("string")
    ).otherwise(F.concat(F.lit(f"V{int(version)};"), body))
    return df.withColumn(out_col or tokens_col, tagged)


def strip_payload_tag(
    df: DataFrame,
    col: str,
    tokens_col: str = "tokens",
    version_col: str = "payload_version",
) -> DataFrame:
    """Inverse of :func:`tag_payload`: split ``V{n};1,2,3`` back into the
    typed token array plus its version tag (untagged strings parse with a
    NULL version, like the reference's tag-optional strip,
    oracle_sde.py:755-758)."""
    s = F.col(col)
    ver = F.nullif(F.regexp_extract(s, r"^V(\d+);", 1), F.lit("")).cast("int")
    body = F.regexp_replace(s, r"^V\d+;", "")
    toks = F.when(s.isNull(), F.lit(None).cast("array<int>")).otherwise(
        F.when(F.length(body) == 0, F.array().cast("array<int>")).otherwise(
            F.transform(F.split(body, ","), lambda x: x.cast("int"))
        )
    )
    return df.withColumn(version_col, ver).withColumn(tokens_col, toks)


# ---------------------------------------------------------------------------
# Reproject analog. The PRIMARY path is a built-in higher-order function —
# an affine remap never needs Python at all (JVM, whole-stage codegen). The
# pandas UDF below is the template for transforms that genuinely need Python
# (numpy/scipy on the whole Arrow batch) — and it must operate on the batch
# as flat numpy arrays, never `.map` per row.
# ---------------------------------------------------------------------------

def reproject_tokens(df: DataFrame, tokens_col: str, scale: float, offset: int) -> DataFrame:
    """``etl.reproject`` analog (transform/reproject.py:6-41), JVM-side: the
    elementwise affine remap compiles to ``transform(tokens, x -> ...)`` in
    whole-stage codegen — no Python on the hot path. In Spark the reference's
    chained 'view' is just withColumn, and its must-directly-follow-source
    limitation (reproject.py:25-26) disappears because metadata travels in
    the schema."""
    return df.withColumn(
        tokens_col,
        F.transform(F.col(tokens_col), lambda x: (x * F.lit(scale)).cast("int") + F.lit(int(offset))),
    )


def make_affine_transform_udf(scale: float, offset: int):
    """Template for payload transforms that genuinely need Python (the
    ReprojectView analog for numpy-class work, reproject_util.py:17-23).

    The pattern that scales: flatten the whole Arrow batch to ONE contiguous
    numpy array, apply the math once, and re-split at the original offsets.
    Per-row ``.map`` inside a pandas UDF is row-at-a-time Python with Arrow
    shipping costs on top — the worst of both worlds."""
    import numpy as np

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def remap(tokens: pd.Series) -> pd.Series:
        mask = tokens.isna()
        arrs = [a for a in tokens[~mask]]
        if not arrs:
            return tokens
        lengths = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
        flat = np.concatenate([np.asarray(a, dtype=np.float64) for a in arrs]) if lengths.sum() else np.array([], dtype=np.float64)
        out_flat = (flat * scale).astype(np.int64) + offset  # one vectorized op for the batch
        pieces = np.split(out_flat, np.cumsum(lengths)[:-1])
        out = pd.Series([None] * len(tokens), index=tokens.index, dtype=object)
        out[~mask] = pd.Series(pieces, index=tokens.index[~mask], dtype=object).values
        return out

    return remap
