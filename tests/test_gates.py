"""The one size gate (geopetl_spark/plans/gates.py): every small/large path
choice goes through it, and forcing a gate to its other side changes the
plan, never the rows."""

import importlib
import inspect
import pathlib
import pkgutil
import re
import sys

sys.path.insert(0, ".")
import __spark_entry__ as entry  # noqa: E402
import geopetl_spark  # noqa: E402
from geopetl_spark.operators import dedup_text as DD  # noqa: E402
from geopetl_spark.plans import gates  # noqa: E402


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _hinted(df) -> bool:
    """Does the optimized plan carry a broadcast hint? (On a tiny input
    Spark may broadcast by its own size rule either way.)"""
    return "strategy=broadcast" in df._jdf.queryExecution().optimizedPlan().toString()


def _public_functions(mod):
    for name, obj in vars(mod).items():
        if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
            continue
        if inspect.isfunction(obj):
            yield name, obj
        elif inspect.isclass(obj):
            for mname, m in vars(obj).items():
                m = getattr(m, "__func__", m)  # staticmethod / classmethod
                if not mname.startswith("_") and inspect.isfunction(m):
                    yield f"{name}.{mname}", m


def test_one_gate_owns_every_size_choice():
    """No public signature takes a per-site size knob, no module but the
    session reads the environment, and only gates.py reads plan stats."""
    knob = re.compile(r".*threshold_bytes|driver_max_.*|broadcast_.*")
    knobs = []
    for info in pkgutil.walk_packages(geopetl_spark.__path__, "geopetl_spark."):
        mod = importlib.import_module(info.name)
        for name, fn in _public_functions(mod):
            knobs += [f"{info.name}.{name}({p})" for p in inspect.signature(fn).parameters if knob.fullmatch(p)]
    assert knobs == []

    pkg = pathlib.Path(geopetl_spark.__file__).parent
    sources = {p: p.read_text() for p in [*pkg.rglob("*.py"), pathlib.Path(entry.__file__)]}
    env_readers = [p.name for p, s in sources.items() if re.search(r"os\.environ|getenv\(", s)]
    assert env_readers == ["session.py"]
    bridge = [p for p, s in sources.items() if "optimizedPlan().stats()" in s]
    assert bridge == [pkg / "plans" / "gates.py"]


def test_minhash_candidate_broadcast_forced_off_same_pairs(spark, sf_dir, monkeypatch):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    small = DD.minhash_lsh_pairs(docs, threshold=0.5, n=2)
    assert _hinted(small)
    small_rows = sorted(small.collect())
    monkeypatch.setitem(gates.LIMITS, "minhash_broadcast", 0)
    large = DD.minhash_lsh_pairs(docs, threshold=0.5, n=2)
    assert not _hinted(large)
    assert sorted(large.collect()) == small_rows and len(small_rows) > 0


def test_decontamination_broadcast_forced_off_same_ids(spark, sf_dir, monkeypatch):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.limit(20)
    small = DD.contaminated_doc_ids(docs, bench, n=3)
    assert _hinted(small)
    small_ids = sorted(r.doc_id for r in small.collect())
    monkeypatch.setitem(gates.LIMITS, "decontaminate_broadcast", 0)
    large = DD.contaminated_doc_ids(docs, bench, n=3)
    assert not _hinted(large)
    assert sorted(r.doc_id for r in large.collect()) == small_ids and len(small_ids) > 0


def test_top_revenue_prefilter_forced_off_same_rows(spark, sf_dir, monkeypatch):
    q = entry.queries()["top_revenue_orders"]
    small = q(spark, sf_dir)
    assert "LeftSemi" in _plan(small)
    small_rows = small.collect()
    monkeypatch.setitem(gates.LIMITS, "top_revenue_prefilter", 0)
    large = q(spark, sf_dir)
    assert "LeftSemi" not in _plan(large)
    assert large.collect() == small_rows and len(small_rows) > 0
