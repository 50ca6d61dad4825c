"""Normalization/redaction semantics on planted PII, and IVF ANN behavior
(assignment determinism, probe coverage, recall against brute force)."""

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, ".")
from geopetl_spark.functions import text as TXT  # noqa: E402
from geopetl_spark.operators import ann as ANN  # noqa: E402
from geopetl_spark.plans import gates  # noqa: E402


def test_normalize_text(spark):
    df = spark.createDataFrame(
        [("Hello,   WORLD!  x2\n\ttabs",), ("",), ("...",)], "t string"
    )
    got = [r[0] for r in df.select(TXT.normalize_text(F.col("t"))).collect()]
    assert got == ["hello world x2 tabs", "", ""]


def test_redact_pii_planted(spark):
    df = spark.createDataFrame(
        [
            ("mail me at jane.doe+x@example.co.uk or call +1 (555) 123-4567",),
            ("no pii here at all",),
            ("two mails: a@b.io c@d.org and digits 00 12",),
        ],
        "t string",
    )
    out = df.select(
        TXT.redact_pii(F.col("t")).alias("r"), TXT.pii_count(F.col("t")).alias("n")
    ).collect()
    assert out[0].r == "mail me at [EMAIL] or call [PHONE]"
    assert out[0].n == 2
    assert out[1].r == "no pii here at all" and out[1].n == 0
    assert out[2].r == "two mails: [EMAIL] [EMAIL] and digits 00 12"
    assert out[2].n == 2


def test_word_repetition_stats_planted(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam ham"),
            (2, "six totally distinct words right here"),
            (3, "  "),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in TXT.word_repetition_stats(df).collect()}
    assert out[1].n_words == 6 and out[1].n_distinct_words == 2
    assert out[1].dup_word_frac == pytest.approx(1 - 2 / 6, abs=1e-6)
    assert out[1].top_word_frac == pytest.approx(5 / 6, abs=1e-6)
    assert out[1].is_repetitive is True
    assert out[2].dup_word_frac == 0.0 and out[2].is_repetitive is False
    assert 3 not in out  # whitespace-only doc has no words


def test_unigram_logprob_orders_common_above_rare(spark):
    """A doc of corpus-common words must outscore a doc of hapaxes under
    the corpus's own unigram model; decimal summation keeps the score
    deterministic."""
    rows = [(i, "the quick brown fox") for i in range(20)]
    rows.append((100, "zxq1 vvw2 kkj3 qqp4"))  # all hapaxes
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.avg_logprob for r in TXT.unigram_logprob_scores(df).collect()}
    assert out[0] == out[19]  # identical docs, identical scores
    assert out[100] < out[0]  # rare-word doc scores strictly lower
    # deterministic across invocations
    out2 = {r.doc_id: r.avg_logprob for r in TXT.unigram_logprob_scores(df).collect()}
    assert out == out2


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_ivf_assign_is_deterministic_and_total(spark, emb):
    cen = ANN.ivf_centroid_array(emb, 8)
    a1 = ANN.ivf_assign(emb, cen).select("vec_id", "centroid_id")
    rows1 = {r.vec_id: r.centroid_id for r in a1.collect()}
    rows2 = {r.vec_id: r.centroid_id for r in a1.collect()}
    assert rows1 == rows2                      # stable across runs
    assert len(rows1) == emb.count()           # every vector assigned
    cids = {r.cid for r in cen.select(F.explode("_centroids").alias("c")).select("c.cid").collect()}
    assert set(rows1.values()) <= cids
    # a centroid row is its own nearest centroid (cos=1.0)
    for cid in cids:
        assert rows1[cid] == cid


def test_ivf_topk_recall_vs_brute_force(spark, emb):
    q = emb.filter(F.col("vec_id") < 20)
    exact = ANN.cosine_topk(q, emb, k=5)
    approx = ANN.ivf_topk(q, emb, k=5, n_centroids=8, nprobe=2)
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    ap = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    # every query answered with a full top-5, and meaningful recall
    assert approx.groupBy("query_id").count().filter("count != 5").count() == 0
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low"


def test_ivf_search_is_equi_join_not_cross(spark, emb):
    q = emb.filter(F.col("vec_id") < 20)
    plan = ANN.ivf_topk(q, emb, k=5)._jdf.queryExecution().executedPlan().toString()
    # a single probe SCAN over the index — no pair join at all; the only
    # nested-loop join allowed is the 1-row centroid-array broadcast, and
    # never a cross/pair-space scan.
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_trainer_driver_and_distributed_agree(spark, emb, monkeypatch):
    """The small-corpus driver trainer must reproduce the distributed
    map-side-combine trainer BIT-for-bit (integer cluster sums are
    order-free; every float op is the same kernel in the same sequence)."""
    local = ANN.ivf_train_centroids(emb, n_centroids=6, n_iter=3)
    monkeypatch.setitem(gates.LIMITS, "ivf_driver_train", 0)
    dist = ANN.ivf_train_centroids(emb, n_centroids=6, n_iter=3)
    assert local.collect() == dist.collect()


@pytest.mark.parametrize(
    "name", ["embed_cosine_topk", "embed_lsh_ann", "embed_ivf_ann", "embed_near_dup"]
)
def test_embedding_query_matches_oracle(spark, sf_dir, name):
    """Each embedding search kernel against its independent DuckDB twin:
    same columns, row count, and order-insensitive value hash (the
    correctness gate of tools/check_oracle.py, on the test data)."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracle import TABLES, value_hash

    sdf = entry.queries()[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")
    res = con.execute(entry.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows) > 0
    assert value_hash(sdf.columns, srows) == value_hash(dcols, drows)
    for key in [k for k in entry._IVF_INDEX if k[1] == sf_dir]:
        entry._IVF_INDEX.pop(key)[1].unpersist(False)


def test_ivf_train_centroids_improves_objective_and_is_deterministic(spark, emb):
    """Spherical k-means training: (a) deterministic for a fixed input
    layout, (b) raises the mean similarity-to-assigned-centroid vs the
    smallest-id seeding, (c) plugs straight into ivf_topk."""
    from pyspark.sql import functions as F

    seed = ANN.ivf_centroid_array(emb, 8)
    t1 = ANN.ivf_train_centroids(emb, n_centroids=8, n_iter=4)
    t2 = ANN.ivf_train_centroids(emb, n_centroids=8, n_iter=4)
    assert t1.collect() == t2.collect()

    def objective(cen):
        a = ANN.ivf_assign(emb, cen)
        cen_rows = cen.collect()[0]["_centroids"]
        lut = {int(r["cid"]): r["u"] for r in cen_rows}
        rows = a.select("_unit", "centroid_id").collect()
        import numpy as np

        sims = [
            float(np.cumsum(np.array(r["_unit"]) * np.array(lut[r["centroid_id"]]))[-1])
            for r in rows
        ]
        return sum(sims) / len(sims)

    assert objective(t1) > objective(seed) + 0.005

    q = emb.filter(F.col("vec_id") < 10)
    out = ANN.ivf_topk(q, emb, k=5, nprobe=2, centroids=t1)
    assert out.count() == 50
    assert out.columns == ["query_id", "neighbor_id", "similarity", "rank"]


def test_ivf_trained_recall_vs_seeded_and_entry_serves_it(spark, emb, sf_dir):
    """Round-4 directive #3: the trained index is measured against the
    exact cosine_topk ground truth and SERVED by the entry. On isotropic
    synthetic vectors trained centroids improve the clustering objective
    (asserted above) but recall at fixed nprobe is statistically flat —
    the guard here is 'no regression' plus an absolute floor; the honest
    numbers live in BENCH/BASELINE.md (tools/measure_ivf_recall.py)."""
    q = emb.filter(F.col("vec_id") < 20)
    truth = {(r.query_id, r.neighbor_id) for r in ANN.cosine_topk(q, emb, k=5).collect()}

    def recall(cen):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ANN.ivf_topk(q, emb, k=5, nprobe=2, centroids=cen).collect()
        }
        return len(got & truth) / len(truth)

    r_seed = recall(ANN.ivf_centroid_array(emb, 8))
    r_train = recall(ANN.ivf_train_centroids(emb, n_centroids=8, n_iter=5))
    assert r_train >= 0.5, (r_train, r_seed)
    assert r_train >= r_seed - 0.1, (r_train, r_seed)

    # the serving entry exercises trained centroids end-to-end and memoizes
    # the index under the (applicationId, sf, 'trained') key
    import __spark_entry__ as entry

    out = entry.queries()["embed_ivf_trained"](spark, sf_dir)
    assert out.columns == ["query_id", "neighbor_id", "similarity", "rank"]
    assert out.count() == 100
    app = spark.sparkContext.applicationId
    assert (app, sf_dir, "trained") in entry._IVF_INDEX
    # eviction discipline: a stale foreign-session entry is purged on access
    cen, asg = entry._IVF_INDEX[(app, sf_dir, "trained")]
    entry._IVF_INDEX[("dead-app", sf_dir, "seeded")] = (cen, asg)
    entry._ivf_index_for(spark, sf_dir, "trained")
    assert ("dead-app", sf_dir, "seeded") not in entry._IVF_INDEX
    for k in list(entry._IVF_INDEX):
        entry._IVF_INDEX.pop(k)[1].unpersist(False)


@pytest.fixture(scope="module")
def planted(spark):
    """Planted-cluster corpus: 12 well-separated base directions, 40
    members each jittered slightly — the regime where IVF structure exists
    and a recall target is meaningfully solvable."""
    import numpy as np

    rng = np.random.default_rng(7)
    bases = rng.normal(size=(12, 32))
    bases /= np.linalg.norm(bases, axis=1, keepdims=True)
    rows = []
    vid = 0
    for b in bases:
        for _ in range(40):
            v = b + 0.08 * rng.normal(size=32)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_config_for_meets_recall_target(spark, planted):
    """The calibration solver (lsh_config_for's IVF twin) returns the
    smallest nprobe whose measured recall meets the target, and a search
    run with exactly that config delivers it."""
    q = planted.filter(F.col("vec_id") % 40 == 0)  # one query per cluster
    n_cen, nprobe, recall, cen = ANN.ivf_config_for(
        q, planted, recall_target=0.9, k=5, n_centroids=12
    )
    assert n_cen == 12 and 1 <= nprobe <= 12
    assert recall >= 0.9
    truth = {
        (r.query_id, r.neighbor_id) for r in ANN.cosine_topk(q, planted, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in ANN.ivf_topk(q, planted, k=5, nprobe=nprobe, centroids=cen).collect()
    }
    assert len(got & truth) / len(truth) >= 0.9
    # the config is minimal: one fewer probe would miss the target
    if nprobe > 1:
        _, np2, r2, _ = ANN.ivf_config_for(
            q, planted, recall_target=0.9, k=5, n_centroids=12, n_iter=5
        )
        assert np2 == nprobe  # deterministic
        got_less = {
            (r.query_id, r.neighbor_id)
            for r in ANN.ivf_topk(q, planted, k=5, nprobe=nprobe - 1, centroids=cen).collect()
        }
        assert len(got_less & truth) / len(truth) < 0.9


def test_ivf_config_for_is_sized_from_target(spark, planted):
    """Higher targets never shrink nprobe; an extreme target still
    terminates (probing all cells == exhaustive => recall 1.0); defaults
    derive n_centroids from ~sqrt(corpus)."""
    q = planted.filter(F.col("vec_id") % 40 == 0)
    _, np_lo, _, _ = ANN.ivf_config_for(q, planted, recall_target=0.5, n_centroids=12)
    _, np_hi, r_hi, _ = ANN.ivf_config_for(q, planted, recall_target=0.99, n_centroids=12)
    assert np_hi >= np_lo
    assert r_hi >= 0.99
    n_cen, _, _, _ = ANN.ivf_config_for(q, planted, recall_target=0.5)
    assert n_cen == 22  # round(sqrt(480))
    with pytest.raises(ValueError):
        ANN.ivf_config_for(q, planted, recall_target=1.5)
