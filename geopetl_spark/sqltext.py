"""SQL-text plan construction: identifiers, type strings, projections.

The epoch hot path builds its DataFrames from SQL text (see
:mod:`geopetl_spark.operators.dedup_cdc` for the per-call costs that
motivate it). These helpers make that safe for any column name and type:

* :func:`quote` — the one identifier quoting: backticks, with any backtick
  inside doubled, so names holding spaces, dots or backticks resolve as one
  column;
* :func:`sql_type` — a type string that Spark's type parser reads back as
  exactly the same ``DataType``, or ``None`` when the type has no such
  spelling (a UDT, char/varchar, a calendar interval, a collated string,
  a non-nullable nested field or element, field metadata);
* :func:`cast` — a cast as SQL text where :func:`sql_type` has a string,
  else as a Column;
* :func:`select_sql` — one projection from SQL strings (``selectExpr``), or
  a ``select`` when a :func:`cast` came back as a Column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def quote(name: str) -> str:
    """``name`` as a SQL identifier: wrapped in backticks, inner backticks
    doubled."""
    return "`" + name.replace("`", "``") + "`"


def sql_type(dt: T.DataType) -> str | None:
    """A SQL type string that parses back to ``dt`` exactly, or ``None``.

    Spark's type parser makes every nested field, array element and map
    value nullable and attaches no field metadata, so a type that differs
    from that has no exact spelling; nor do UDTs, char/varchar (read as
    string), calendar intervals or collated strings."""
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            inner = sql_type(f.dataType)
            if inner is None or not f.nullable or f.metadata:
                return None
            fields.append(f"{quote(f.name)}: {inner}")
        return f"STRUCT<{', '.join(fields)}>"
    if isinstance(dt, T.ArrayType):
        inner = sql_type(dt.elementType)
        return f"ARRAY<{inner}>" if inner is not None and dt.containsNull else None
    if isinstance(dt, T.MapType):
        k, v = sql_type(dt.keyType), sql_type(dt.valueType)
        if k is None or v is None or not dt.valueContainsNull:
            return None
        return f"MAP<{k}, {v}>"
    if isinstance(dt, (T.UserDefinedType, T.CharType, T.VarcharType, T.CalendarIntervalType)):
        return None
    if isinstance(dt, T.StringType) and not dt.isUTF8BinaryCollation():
        return None
    return dt.simpleString()


def cast(expr: str, dt: T.DataType, name: str) -> str | Column:
    """``CAST(expr AS dt) AS name`` as SQL text, or as a Column when ``dt``
    has no exact type string (:func:`sql_type`)."""
    t = sql_type(dt)
    if t is None:
        return F.expr(expr).cast(dt).alias(name)
    return f"CAST({expr} AS {t}) AS {quote(name)}"


def select_sql(df: DataFrame, exprs: list[str | Column]) -> DataFrame:
    """``df.selectExpr(*exprs)``; a Column among ``exprs`` (a cast with no
    exact type string, see :func:`cast`) makes it a ``select``."""
    if any(isinstance(e, Column) for e in exprs):
        return df.select(*[e if isinstance(e, Column) else F.expr(e) for e in exprs])
    return df.selectExpr(*exprs)
