"""``top_revenue_orders`` sums revenue exactly (DECIMAL), so Spark and its
DuckDB ``oracle_sql()`` twin agree on every row even where a double sum
lands on a rounding boundary. The benchmark's seeded tables of seed 203
hold such an order: summed over doubles in each engine's own order, the two
engines round it to different cents."""

import importlib.util
import os
import sys

sys.path.insert(0, ".")
import __spark_entry__ as entry  # noqa: E402

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _querydata():
    path = os.path.join(_ROOT, "perfbench", "querydata.py")
    spec = importlib.util.spec_from_file_location("perfbench_querydata", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_top_revenue_orders_matches_oracle_on_seed_203(spark, tmp_path):
    import duckdb

    data = str(tmp_path / "data")
    _querydata().generate(data, 203)
    got = sorted(tuple(r) for r in entry.queries()["top_revenue_orders"](spark, data).collect())
    con = duckdb.connect()
    try:
        for t in ("lineitem", "orders", "customer"):
            con.execute(f"create view {t} as select * from '{data}/{t}.parquet'")
        want = sorted(con.execute(entry.oracle_sql()["top_revenue_orders"]).fetchall())
    finally:
        con.close()
    assert len(got) == 10
    assert got == want
