"""Connected components over dup-pair graphs: transitive chains, multiple
components, determinism, convergence guard, and the storage-lifetime
contract (no persisted RDDs after release)."""

import sys

import pytest

sys.path.insert(0, ".")
from geopetl_spark.operators.components import component_stats, dup_components  # noqa: E402
from geopetl_spark.plans import gates  # noqa: E402


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_transitive_chain_is_one_component(spark):
    # 1-2, 2-3, 3-4 never emits 1-4 as a pair, but all four are one cluster
    comps = dup_components(_pairs(spark, [(1, 2), (2, 3), (3, 4), (10, 11)]))
    got = {r.doc_id: r.component_id for r in comps.collect()}
    comps.unpersist(False)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_long_path_converges(spark):
    # a 12-hop path needs multiple propagation rounds
    comps = dup_components(_pairs(spark, [(i, i + 1) for i in range(12)]))
    got = {r.doc_id: r.component_id for r in comps.collect()}
    comps.unpersist(False)
    assert set(got.values()) == {0} and len(got) == 13


def test_component_stats_canonical_and_size(spark):
    comps = dup_components(_pairs(spark, [(5, 3), (3, 9), (20, 21)]))
    stats = {r.component_id: (r.n_members, r.canonical_doc_id) for r in component_stats(comps).collect()}
    comps.unpersist(False)
    assert stats == {3: (3, 3), 20: (2, 20)}


def test_deterministic_under_pair_order(spark):
    a = dup_components(_pairs(spark, [(1, 2), (2, 3)]))
    b = dup_components(_pairs(spark, [(2, 3), (1, 2)]))
    ra = sorted((r.doc_id, r.component_id) for r in a.collect())
    rb = sorted((r.doc_id, r.component_id) for r in b.collect())
    a.unpersist(False)
    b.unpersist(False)
    assert ra == rb


def test_max_iter_guard_raises_not_partial(spark, monkeypatch):
    # a zero driver limit pins the DISTRIBUTED path (the guard under test)
    monkeypatch.setitem(gates.LIMITS, "components_driver_edges", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_components(_pairs(spark, [(i, i + 1) for i in range(30)]), max_iter=1)


def test_deep_chain_converges_in_log_rounds(spark, monkeypatch):
    # a 199-hop duplicate chain (templated-page near-dup chains at web scale):
    # star alternation converges in O(log n) rounds, far under the default
    # budget — the scenario that could only raise under min-label propagation
    stats = {}
    monkeypatch.setitem(gates.LIMITS, "components_driver_edges", 0)
    comps = dup_components(_pairs(spark, [(i, i + 1) for i in range(199)]), stats=stats)
    got = {r.doc_id: r.component_id for r in comps.collect()}
    comps.unpersist(False)
    assert set(got.values()) == {0} and len(got) == 200
    assert stats["rounds"] <= 12, stats


def test_driver_and_distributed_paths_agree(spark, monkeypatch):
    # the r7 small-graph driver union-find must label BIT-identically to the
    # star alternation on an adversarial mix: chains, stars, self-loops,
    # isolated pairs, reversed/duplicated edges
    import random

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(40)]                   # long chain
    edges += [(100, 100 + i) for i in range(1, 15)]           # star
    edges += [(x, x) for x in (300, 301)]                     # self-loops
    edges += [(rng.randrange(400, 460), rng.randrange(400, 460)) for _ in range(80)]
    edges += [(b, a) for a, b in edges[:20]] + edges[:10]     # reversed + dups
    stats_d, stats_s = {}, {}
    drv = dup_components(_pairs(spark, edges), stats=stats_d)  # default: driver path
    monkeypatch.setitem(gates.LIMITS, "components_driver_edges", 0)
    dist = dup_components(_pairs(spark, edges), stats=stats_s)
    got_d = sorted((r.doc_id, r.component_id) for r in drv.collect())
    got_s = sorted((r.doc_id, r.component_id) for r in dist.collect())
    drv.unpersist(False)
    dist.unpersist(False)
    assert stats_d["rounds"] == 0 and stats_s["rounds"] > 0
    assert got_d == got_s


def test_entry_label_cache_bounded(spark, sf_dir):
    # the entry wrappers cache the label table per query key; re-entry must
    # RELEASE the previous call's cache, not accumulate pinned tables
    import __spark_entry__ as entry

    sf = sf_dir
    qs = entry.queries()
    qs["dedup_components"](spark, sf).count()
    qs["corpus_near_dedup_stats"](spark, sf).count()
    n1 = spark.sparkContext._jsc.getPersistentRDDs().size()
    qs["dedup_components"](spark, sf).count()
    qs["corpus_near_dedup_stats"](spark, sf).count()
    n2 = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert n2 <= n1, (n1, n2)
    for df in list(entry._COMPONENT_LABELS.values()):
        df.unpersist(False)
    entry._COMPONENT_LABELS.clear()


def test_empty_and_self_loop_pairs(spark):
    # empty pair set: no components, empty (typed) result
    empty = dup_components(_pairs(spark, []).filter("id_a is not null"))
    assert empty.collect() == []
    empty.unpersist(False)
    # self-loops only: every node labels itself
    comps = dup_components(_pairs(spark, [(7, 7), (9, 9)]))
    got = {r.doc_id: r.component_id for r in comps.collect()}
    comps.unpersist(False)
    assert got == {7: 7, 9: 9}


def test_storage_released_after_unpersist(spark):
    comps = dup_components(_pairs(spark, [(1, 2), (2, 3)]))
    comps.count()
    comps.unpersist(False)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
