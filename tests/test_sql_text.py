"""SQL-text plan construction: quoting, exact type strings, fixed py4j call
counts on the epoch path, odd column names end to end, and checkpoint
read-backs without schema inference."""

import os
import sys
import threading

import pytest
from py4j import clientserver
from pyspark.sql import types as T

sys.path.insert(0, ".")
from geopetl_spark import LakeTable  # noqa: E402
from geopetl_spark.operators.dedup_cdc import event_order, latest_per_key  # noqa: E402
from geopetl_spark.plans.ckpt import materialize  # noqa: E402
from geopetl_spark.sqltext import cast, quote, select_sql, sql_type  # noqa: E402

ODD = "we`ird col"  # a space and a backtick
ODD2 = "new `col"


def test_quote_resolves_any_name(spark):
    df = spark.range(1).selectExpr(f"id AS {quote(ODD)}", f"id + 1 AS {quote('a.b')}")
    assert df.columns == [ODD, "a.b"]
    out = df.selectExpr(f"{quote(ODD)} + {quote('a.b')} AS s")
    assert out.collect()[0]["s"] == 1


@pytest.mark.parametrize(
    "dt",
    [
        T.LongType(),
        T.StringType(),
        T.DecimalType(19, 4),
        T.TimestampType(),
        T.TimestampNTZType(),
        T.DayTimeIntervalType(),
        T.BinaryType(),
        T.ArrayType(T.IntegerType()),
        T.MapType(T.StringType(), T.ArrayType(T.DoubleType())),
        T.StructType([T.StructField(ODD, T.IntegerType()), T.StructField("x:y", T.DateType())]),
    ],
)
def test_sql_type_round_trips_through_the_parser(spark, dt):
    t = sql_type(dt)
    assert t is not None
    assert spark.sql(f"SELECT CAST(NULL AS {t}) AS c").schema["c"].dataType == dt


@pytest.mark.parametrize(
    "dt",
    [
        T.ArrayType(T.IntegerType(), containsNull=False),
        T.MapType(T.StringType(), T.LongType(), valueContainsNull=False),
        T.StructType([T.StructField("a", T.IntegerType(), nullable=False)]),
        T.StructType([T.StructField("a", T.IntegerType(), metadata={"comment": "x"})]),
        T.VarcharType(3),
    ],
)
def test_types_without_an_exact_string_fall_back_to_a_column_cast(spark, dt):
    assert sql_type(dt) is None
    df = spark.range(1).selectExpr("CAST(NULL AS ARRAY<BIGINT>) AS v")
    out = select_sql(df, [cast(quote("v"), T.ArrayType(T.IntegerType()), "a"), cast("NULL", dt, "b")])
    assert out.columns == ["a", "b"]


@pytest.fixture()
def py4j_calls(monkeypatch):
    """A counter of the Python -> JVM commands this thread sends (py4j's
    finalizer thread releases collected Java proxies on its own schedule),
    but for the ``add`` calls by which py4j ships a Python list to the JVM
    one element at a time."""
    calls = [0]
    send = clientserver.ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, command):
        op, _target, method = (command.split("\n", 3) + ["", ""])[:3]
        list_add = op == "c" and method == "add"
        calls[0] += threading.get_ident() == me and not list_add
        return send(self, command)

    monkeypatch.setattr(clientserver.ClientServerConnection, "send_command", counting)
    return calls


def _wide(spark, n_payload):
    payload = [f"CAST(id AS INT) AS {quote(f'c {i}')}" for i in range(n_payload)]
    return spark.range(4).selectExpr(
        "CAST(id % 2 AS STRING) AS doc_id", *payload, "'U' AS op", "id AS lsn"
    )


def test_hot_path_builders_make_the_same_py4j_calls_at_4_and_40_columns(
    spark, tmp_path, py4j_calls
):
    """``latest_per_key`` and the merge staging build their projections from
    SQL text, so no py4j round trip is made per column but the shipping of
    a projection's list of strings."""

    def build(n_payload, name):
        changes = _wide(spark, n_payload)
        schema = T.StructType([f for f in changes.schema.fields if f.name not in ("op", "lsn")])
        t = LakeTable(spark, str(tmp_path / name)).create(schema, n_buckets=16)
        m = t.manifest()
        before = py4j_calls[0]
        latest_per_key(changes, "doc_id", event_order(changes))
        new_schema = t._evolved_schema(m, changes, "lsn", "op")
        staged = t._stage(m, changes, new_schema, "lsn", "op")
        return py4j_calls[0] - before, staged

    build(4, "warm")  # warm the JVM-side class lookups
    (n4, staged4), (n40, staged40) = build(4, "w4"), build(40, "w40")
    assert n4 == n40, (n4, n40)
    assert len(staged40.columns) == len(staged4.columns) + 36
    assert staged4.columns[-4:] == ["_lsn", "_deleted", "_bucket", "_seq"]


def _odd_batch(spark, rows, extra=False):
    cols = f"doc_id string, {quote(ODD)} string, n_tok int, op string, lsn long"
    if extra:
        cols += f", {quote(ODD2)} int"
    return spark.createDataFrame(rows, cols)


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_odd_column_names_survive_merge_read_changelog_and_compact(spark, tmp_path, strategy):
    """A payload column whose name holds a space and a backtick, and one
    added later by additive evolution, survive merge, read, read_changes
    and compact."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField(ODD, T.StringType()),
            T.StructField("n_tok", T.IntegerType()),
        ]
    )
    t = LakeTable(spark, str(tmp_path / strategy)).create(schema, key_col="doc_id", n_buckets=4)
    t.merge(_odd_batch(spark, [("a", "x", 1, "I", 1), ("b", "y", 2, "I", 2), ("a", "z", 3, "U", 3)]),
            epoch_id=0, strategy=strategy)
    v1 = t.manifest()["version"]
    t.merge(_odd_batch(spark, [("b", "w", 4, "U", 4, 7), ("c", "v", 5, "I", 5, 8)], extra=True),
            epoch_id=1, strategy=strategy)
    want = {"a": ("z", 3, None), "b": ("w", 4, 7), "c": ("v", 5, 8)}
    got = t.read()
    assert got.columns == ["doc_id", ODD, "n_tok", ODD2]
    assert {r[0]: tuple(r[1:]) for r in got.collect()} == want
    ch = t.read_changes(v1)
    assert {r["doc_id"]: (r[ODD], r[ODD2]) for r in ch.collect()} == {"b": ("w", 7), "c": ("v", 8)}
    before = t.checksum()
    t.compact()
    assert {r[0]: tuple(r[1:]) for r in t.read().collect()} == want
    assert t.checksum() == before
    assert t.read(where=f"{quote(ODD)} = 'v'").count() == 1


def test_materialize_reads_back_without_schema_inference(spark):
    """The checkpoint read-back runs under the producer's schema: the whole
    call runs one job (the write), and the schema is what inference from
    the files gives."""
    df = spark.range(20).selectExpr(
        "id", "CAST(id AS STRING) AS s", "array(id, id + 1) AS arr", "named_struct('x', id) AS st"
    )
    sc = spark.sparkContext
    group = f"materialize-{os.getpid()}"
    sc.setJobGroup(group, "materialize")
    try:
        out = materialize(df, "t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    path = os.path.dirname(out.inputFiles()[0])
    assert out.schema == spark.read.parquet(path).schema
    assert sorted(out.collect()) == sorted(df.collect())
