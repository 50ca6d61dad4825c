"""The sub-quadratic (LSH-candidate) default of embedding_near_dup_pairs:
plan shape (bucket equi-join, no block-pair fan-out), value-exactness vs the
exact blocked mode, planted-near-dup recall in the realistic high-threshold
regime, and storage hygiene of the dedup_text operators (no leaked persists)."""

import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, ".")
from geopetl_spark.operators import ann as ANN  # noqa: E402
from geopetl_spark.operators import dedup_text as DD  # noqa: E402
from geopetl_spark.plans import gates  # noqa: E402


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_default_plan_is_bucket_keyed_not_block_fanout(spark, emb, monkeypatch):
    """The DEFAULT path must derive candidates from the (table, bucket) LSH
    key — NOT the B(B+1)/2 block-pair fan-out of the exact mode (which
    replicates every vector B times regardless of data). r7: below the
    small-corpus gate the bucket keying is a groupBy-_tb kernel (pairs are
    generated and thresholded per bucket, no pair rows materialized); above
    the gate it stays the bucket equi-join."""
    plan = _plan(ANN.embedding_near_dup_pairs(emb, threshold=0.4))
    # candidate generation keyed on the (table, bucket) key _tb, no pair scan
    assert "_tb" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # large-corpus path (gate forced off): the bucket EQUI-JOIN, with no
    # per-group kernel
    monkeypatch.setitem(gates.LIMITS, "near_dup_kernel", 0)
    big = _plan(ANN.embedding_near_dup_pairs(emb, threshold=0.4))
    assert "_tb" in big and "FlatMapGroupsInPandas" not in big
    assert "CartesianProduct" not in big
    # the exact mode (opt-in) still uses the block-pair fan-out
    blocked = _plan(ANN.embedding_near_dup_pairs(emb, threshold=0.4, method="blocked"))
    assert "FlatMapGroupsInPandas" in blocked


def test_near_dup_small_and_large_paths_agree(spark, emb, monkeypatch):
    """The r7 per-bucket kernel (small-corpus gate on) and the bucket
    equi-join + pair verify (gate off) must emit the identical pair set
    with identical 6dp similarities."""
    small = {
        (r.id_a, r.id_b): r.similarity
        for r in ANN.embedding_near_dup_pairs(emb, threshold=0.4).collect()
    }
    monkeypatch.setitem(gates.LIMITS, "near_dup_kernel", 0)
    large = {
        (r.id_a, r.id_b): r.similarity
        for r in ANN.embedding_near_dup_pairs(emb, threshold=0.4).collect()
    }
    assert small == large and len(small) > 0


def test_lsh_pairs_are_exact_valued_subset_of_blocked(spark, emb):
    """LSH approximates MEMBERSHIP only: every emitted pair must appear in
    the exact all-pairs result with the identical 6dp similarity."""
    lsh = {
        (r.id_a, r.id_b): r.similarity
        for r in ANN.embedding_near_dup_pairs(emb, threshold=0.4).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.similarity
        for r in ANN.embedding_near_dup_pairs(emb, threshold=0.4, method="blocked").collect()
    }
    assert set(lsh) <= set(exact)
    assert all(lsh[k] == exact[k] for k in lsh)
    assert len(lsh) > 0


def test_planted_near_dup_recall_high_threshold(spark):
    """In the regime the operator exists for (near-duplicates, sim >= 0.9,
    i.e. small angles) the 4x4-bit multi-table index must recover nearly all
    pairs. 40 random base vectors each get one small-perturbation copy."""
    rng = np.random.default_rng(42)
    base = rng.normal(size=(40, 64))
    noise = 0.05 * rng.normal(size=(40, 64))
    rows = []
    for i in range(40):
        rows.append((i, [float(x) for x in base[i]]))
        rows.append((1000 + i, [float(x) for x in base[i] + noise[i]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = ANN.embedding_near_dup_pairs(df, threshold=0.9)
    exact = ANN.embedding_near_dup_pairs(df, threshold=0.9, method="blocked")
    got_pairs = {(r.id_a, r.id_b) for r in got.collect()}
    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    assert len(exact_pairs) >= 35  # the plant worked: most copies are >= 0.9
    recall = len(got_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.9, f"planted-near-dup recall {recall:.2f}"


def test_auto_config_is_sized_from_threshold():
    """Defaults must SOLVE the collision model for the recall target, not
    ship one fixed config: aggressive (low) thresholds buy more tables."""
    # round-5 calibrated solver: sized for HALF the modeled miss rate, so
    # delivered recall meets the target despite cross-table correlation
    assert ANN.lsh_config_for(0.4)[:2] == (4, 18)
    assert ANN.lsh_config_for(0.9)[:2] == (4, 4)
    assert ANN.lsh_config_for(0.25)[:2] == (4, 25)
    # calibration=1 reproduces the uncalibrated round-4 sizing
    assert ANN.lsh_config_for(0.4, calibration=1.0)[:2] == (4, 14)
    for thr in (0.25, 0.4, 0.9):
        _, _, recall = ANN.lsh_config_for(thr)
        assert recall >= 0.9
    # unreachable targets warn instead of silently under-delivering
    with pytest.warns(UserWarning, match="capped"):
        nb, nt, recall = ANN.lsh_config_for(-0.5)
    assert nt == 64 and recall < 0.9


def test_gemm_paths_preserve_string_ids(spark):
    rows = [(f"doc-{i:03d}", [float((i * 7 + d) % 11) - 5.0 for d in range(16)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    # near-dup lsh path: string ids survive end-to-end
    out = ANN.embedding_near_dup_pairs(df, threshold=0.3, n_bits=4, n_tables=4)
    assert dict(out.dtypes)["id_a"] == "string"
    out.count()
    # exact brute-force gemm: string ids survive
    topk = ANN.cosine_topk(df.limit(3), df, k=2)
    assert dict(topk.dtypes)["neighbor_id"] == "string"
    assert topk.count() == 6
    # blocked mode requires integer ids -- loud, not mangled
    with pytest.raises(ValueError, match="integer id"):
        ANN.embedding_near_dup_pairs(df, threshold=0.3, method="blocked")


def _lsh_topk_reference(rows, qids, k, n_bits, dim):
    """Pure-Python lsh_bucketed_topk: bucket = sign bits of the first
    ``dim`` components against _hyperplane_weight planes, unit vectors and
    cosine by left-to-right float sums, round half-up to 6dp, then
    (similarity desc, neighbor_id asc) top-k among same-bucket rows."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def seq_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def bucket(v):
        planes = [[ANN._hyperplane_weight(d, j) for d in range(dim)] for j in range(n_bits)]
        return sum(1 << j for j in range(n_bits) if seq_dot(v[:dim], planes[j]) > 0)

    def unit(v):
        nrm = math.sqrt(seq_dot(v, v))
        return [x / nrm for x in v]

    def round6(x):
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))

    vecs = dict(rows)
    buckets = {i: bucket(v) for i, v in rows}
    out = []
    for q in qids:
        cands = sorted(
            (-round6(seq_dot(unit(vecs[q]), unit(vecs[n]))), n)
            for n in vecs
            if n != q and buckets[n] == buckets[q]
        )
        out += [(q, n, -negs, r) for r, (negs, n) in enumerate(cands[:k], start=1)]
    return sorted(out)


def test_lsh_topk_honors_dim_like_python_reference(spark):
    """Only the first ``dim`` components enter the bucket dot, and the
    numpy scan reproduces a left-to-right pure-Python evaluation exactly.
    k=5 reaches past each query's exact copies (period 17), so the two
    widths bucket differently and return different neighbors."""
    rows = [(i, [float((i * 13 + d) % 17) - 8.0 for d in range(64)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id < 5")
    got = {}
    for dim in (32, 64):
        got[dim] = sorted(tuple(r) for r in ANN.lsh_bucketed_topk(q, df, k=5, n_bits=4, dim=dim).collect())
        assert got[dim] == _lsh_topk_reference(rows, range(5), 5, 4, dim), f"dim={dim}"
    assert got[32] != got[64]
    with pytest.raises(Exception, match="exceeds vector length"):
        ANN.lsh_bucketed_topk(q, df, k=5, n_bits=4, dim=65).collect()


def test_near_dup_pair_slabs_match_one_slab(monkeypatch):
    """The per-bucket pair kernel's slabs: forcing many small slabs yields
    exactly the pairs (and order) of the single-slab np.triu_indices, and
    no multi-row slab exceeds the slab size."""
    n = 50
    one = list(ANN._pair_slabs(n))
    assert len(one) == 1
    ii, jj = np.triu_indices(n, k=1)
    assert np.array_equal(one[0][0], ii) and np.array_equal(one[0][1], jj)
    for slab in (1, 7, 100, 600):
        monkeypatch.setattr(ANN, "_PAIR_SLAB", slab)
        slabs = list(ANN._pair_slabs(n))
        assert len(slabs) > 1
        assert np.array_equal(np.concatenate([s[0] for s in slabs]), ii)
        assert np.array_equal(np.concatenate([s[1] for s in slabs]), jj)
        for si, _ in slabs:
            assert len(si) <= slab or len(np.unique(si)) == 1
    assert list(ANN._pair_slabs(1)) == [] and list(ANN._pair_slabs(0)) == []


def test_near_dup_rejects_unknown_method(spark, emb):
    with pytest.raises(ValueError, match="unknown method"):
        ANN.embedding_near_dup_pairs(emb, threshold=0.4, method="fold")


def test_ngram_broadcast_hint_auto_on_small_and_off_when_forced(spark, sf_dir, monkeypatch):
    """Plan shape: the small-corpus size gate turns the df-table join into
    a broadcast hash join; a zero limit forces it back off."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    on = DD.ngram_jaccard_pairs(docs, threshold=0.8, n=3)
    assert "BroadcastHashJoin" in _plan(on)
    monkeypatch.setitem(gates.LIMITS, "ngram_broadcast", 0)
    off = DD.ngram_jaccard_pairs(docs, threshold=0.8, n=3)
    assert "strategy=broadcast" not in off._jdf.queryExecution().optimizedPlan().toString()
    got_on = sorted((r.id_a, r.id_b, r.jaccard) for r in on.collect())
    got_off = sorted((r.id_a, r.id_b, r.jaccard) for r in off.collect())
    assert got_on == got_off and len(got_on) > 0


def test_small_relation_public_fallback(spark, sf_dir, monkeypatch):
    """Round-4 directive: when the private Catalyst plan-stats bridge is
    unavailable (Spark upgrade), the probe falls back to public
    inputFiles() sizes — still auto-on for a small parquet relation and
    auto-off at a tiny threshold — instead of silently disabling hints."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mem = spark.createDataFrame([(1,)], "x int")
    monkeypatch.setattr(gates, "_plan_stats_size_bytes", lambda df: None)
    monkeypatch.setitem(gates.LIMITS, "ngram_broadcast", 128 * 1024 * 1024)
    assert gates.small_bytes(docs, "ngram_broadcast") is True
    # no input files (in-memory relation) -> conservative False
    assert gates.small_bytes(mem, "ngram_broadcast") is False
    monkeypatch.setitem(gates.LIMITS, "ngram_broadcast", 1)
    assert gates.small_bytes(docs, "ngram_broadcast") is False


def test_embed_near_dedup_stats_entry(spark, sf_dir):
    """The composed semantic near-dedup query: 4 integer-stat buckets,
    survivors never exceed the corpus, and the component-label cache is
    released on re-entry (shared _fresh_components discipline)."""
    import __spark_entry__ as entry

    out = entry.queries()["embed_near_dedup_stats"](spark, sf_dir)
    rows = {r.bucket: (r.n_survivors, r.sum_vec_id) for r in out.collect()}
    assert set(rows) == {0, 1, 2, 3}
    n_emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert 0 < sum(n for n, _ in rows.values()) <= n_emb
    for df in list(entry._COMPONENT_LABELS.values()):
        df.unpersist(False)
    entry._COMPONENT_LABELS.clear()


def test_decontamination_broadcasts_small_benchmark(spark, sf_dir):
    """Plan shape: a small benchmark side becomes a broadcast LEFT-SEMI
    hash join (the corpus is never exchanged on the shingle key)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.limit(20)
    plan = _plan(DD.contaminated_doc_ids(docs, bench, n=3))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_decontamination_flags_planted_overlap(spark):
    """contaminated_doc_ids: docs sharing an n-gram with the benchmark are
    flagged, disjoint docs are not, and a benchmark too short for the
    shingle width flags nothing."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "totally different words here entirely"),
            (3, "xx alpha beta gamma delta yy"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, "alpha beta gamma delta")], "doc_id long, text string")
    got = {r.doc_id for r in DD.contaminated_doc_ids(docs, bench, n=4).collect()}
    assert got == {1, 3}
    assert DD.contaminated_doc_ids(docs, bench, n=5).count() == 0


def test_components_string_ids(spark):
    """dup_components is id-type generic: string doc ids cluster by
    lexicographic minimum."""
    from geopetl_spark.operators.components import dup_components

    pairs = spark.createDataFrame(
        [("doc-b", "doc-a"), ("doc-b", "doc-c"), ("x", "y")], "id_a string, id_b string"
    )
    comps = dup_components(pairs)
    got = {r.doc_id: r.component_id for r in comps.collect()}
    comps.unpersist(False)
    assert got == {"doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a", "x": "x", "y": "x"}


def test_dedup_operators_leave_no_persistent_rdds(spark, sf_dir):
    """Directive: the shingle cache must not leak into session storage —
    executing the jaccard/minhash operators leaves getPersistentRDDs empty."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    DD.ngram_jaccard_pairs(docs, threshold=0.8, n=3).count()
    DD.minhash_lsh_pairs(docs, threshold=0.8, n=3).count()
    ANN.embedding_near_dup_pairs(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), threshold=0.4
    ).count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
