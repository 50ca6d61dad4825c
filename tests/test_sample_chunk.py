"""Deterministic splitting/sampling and array chunking semantics."""

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, ".")
from geopetl_spark.functions.arrays import chunk_array  # noqa: E402
from geopetl_spark.operators.sample import (  # noqa: E402
    deterministic_sample,
    split_by_hash,
    stratified_sample,
)
from geopetl_spark.plans import gates  # noqa: E402


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(0, 5000).withColumnRenamed("id", "doc_id")


def test_split_total_and_stability(spark, ids):
    out = split_by_hash(ids, "doc_id")
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "valid", "test"}
    assert sum(counts.values()) == 5000           # every row assigned (no NULL split)
    assert counts["train"] > counts["valid"] and counts["train"] > counts["test"]
    # ~90/5/5 within tolerance
    assert abs(counts["train"] / 5000 - 0.90) < 0.03
    # stability under corpus growth: the first 5000 rows keep their split
    bigger = split_by_hash(spark.range(0, 20000).withColumnRenamed("id", "doc_id"), "doc_id")
    small_map = {r.doc_id: r.split for r in out.collect()}
    big_map = {r.doc_id: r.split for r in bigger.filter("doc_id < 5000").collect()}
    assert small_map == big_map


def test_split_bad_weights(spark, ids):
    with pytest.raises(ValueError):
        split_by_hash(ids, "doc_id", weights={"a": 0.5, "b": 0.4})


def test_deterministic_sample_is_subset_monotone(spark, ids):
    s10 = {r.doc_id for r in deterministic_sample(ids, "doc_id", 0.1).collect()}
    s20 = {r.doc_id for r in deterministic_sample(ids, "doc_id", 0.2).collect()}
    assert s10 <= s20                              # growing fraction only adds rows
    assert abs(len(s10) / 5000 - 0.1) < 0.02
    with pytest.raises(ValueError):
        deterministic_sample(ids, "doc_id", 1.5)


def test_stratified_sample_per_group_rates(spark, ids):
    """Per-group rates hold, membership agrees with the flat sampler (same
    hash family), unnamed groups get the default, and rates are stable."""
    grouped = ids.withColumn(
        "src", F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b")
    )
    kept = stratified_sample(grouped, "doc_id", "src", {"a": 1.0, "b": 0.2})
    counts = {r.src: r.n for r in kept.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert counts["a"] == 2500                      # 100% of evens
    assert abs(counts["b"] / 2500 - 0.2) < 0.04     # ~20% of odds
    # membership for group b == the flat 0.2 sampler's membership
    flat = {r.doc_id for r in deterministic_sample(ids, "doc_id", 0.2).collect()}
    b_kept = {r.doc_id for r in kept.filter("src = 'b'").collect()}
    assert b_kept == {i for i in flat if i % 2 == 1}
    # unnamed group -> default_fraction (0 keeps nothing)
    none_kept = stratified_sample(grouped, "doc_id", "src", {"a": 0.5})
    assert none_kept.filter("src = 'b'").count() == 0
    with pytest.raises(ValueError):
        stratified_sample(grouped, "doc_id", "src", {"a": 1.5})


def test_stratified_sample_join_path_equivalence(spark, ids, monkeypatch):
    """Above the stratify_case_groups limit of named groups the sampler
    switches to a broadcast join against a fractions table; membership,
    schema, and column order must be identical to the chained-CASE path,
    and the plan must broadcast (never shuffle the corpus side)."""
    grouped = ids.withColumn("src", F.concat(F.lit("g"), (F.col("doc_id") % 10).cast("string")))
    fr = {f"g{i}": (i + 1) / 20 for i in range(10)}  # g0=0.05 .. g9=0.5
    case_path = stratified_sample(grouped, "doc_id", "src", fr, default_fraction=0.1)
    monkeypatch.setitem(gates.LIMITS, "stratify_case_groups", 4)
    join_path = stratified_sample(grouped, "doc_id", "src", fr, default_fraction=0.1)
    assert join_path.columns == case_path.columns == grouped.columns
    a = {(r.doc_id, r.src) for r in case_path.collect()}
    b = {(r.doc_id, r.src) for r in join_path.collect()}
    assert a == b and len(a) > 0
    plan = join_path._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    # unnamed group still gets the default fraction through the left join
    extra = grouped.withColumn("src", F.lit("unnamed"))
    kept = stratified_sample(extra, "doc_id", "src", fr, default_fraction=0.1)
    flat = deterministic_sample(ids, "doc_id", 0.1)
    assert {r.doc_id for r in kept.collect()} == {r.doc_id for r in flat.collect()}


def test_stratified_sample_nonstring_key_and_collision(spark, ids, monkeypatch):
    """Advisor r6 hardening: (a) a NON-string group column above the join
    threshold must keep the CASE plan (join-time casts could diverge from
    literal-equality semantics) and stay membership-identical; (b) a
    pre-existing _strat_cutoff column must not break the join path."""
    # (a) integer group column, many named groups
    grouped = ids.withColumn("src", (F.col("doc_id") % 10).cast("int"))
    fr = {str(i): (i + 1) / 20 for i in range(10)}
    base = stratified_sample(grouped, "doc_id", "src", fr, default_fraction=0.1)
    monkeypatch.setitem(gates.LIMITS, "stratify_case_groups", 4)
    low = stratified_sample(grouped, "doc_id", "src", fr, default_fraction=0.1)
    assert "BroadcastHashJoin" not in low._jdf.queryExecution().executedPlan().toString()
    assert {r.doc_id for r in base.collect()} == {r.doc_id for r in low.collect()}

    # (b) string key + clashing helper column name: no AnalysisException,
    # membership identical to the CASE path, input column preserved
    clash = ids.withColumn(
        "src", F.concat(F.lit("g"), (F.col("doc_id") % 10).cast("string"))
    ).withColumn("_strat_cutoff", F.lit(99))
    fr_s = {f"g{i}": (i + 1) / 20 for i in range(10)}
    joined = stratified_sample(clash, "doc_id", "src", fr_s, default_fraction=0.1)
    assert "_strat_cutoff" in joined.columns  # the caller's column survives
    monkeypatch.setitem(gates.LIMITS, "stratify_case_groups", 64)
    case = stratified_sample(clash, "doc_id", "src", fr_s, default_fraction=0.1)
    assert {r.doc_id for r in joined.collect()} == {r.doc_id for r in case.collect()}


def test_chunk_array_semantics(spark):
    df = spark.createDataFrame(
        [(1, list(range(10))), (2, list(range(4))), (3, []), (4, None)],
        "id int, toks array<long>",
    )
    out = {
        r.id: r.chunks
        for r in df.select("id", chunk_array(F.col("toks"), size=4, overlap=1).alias("chunks")).collect()
    }
    # stride 3, n=10: starts 0,3,6 -> [0..3],[3..6],[6..9]; no trailing
    # all-overlap chunk
    assert out[1] == [[0, 1, 2, 3], [3, 4, 5, 6], [6, 7, 8, 9]]
    assert out[2] == [[0, 1, 2, 3]]
    assert out[3] == []
    assert out[4] is None or out[4] == []          # NULL array -> size() = -1 path
    with pytest.raises(ValueError):
        chunk_array(F.col("toks"), size=0)
    with pytest.raises(ValueError):
        chunk_array(F.col("toks"), size=4, overlap=4)


def test_pack_sequences_concat_and_chunk(spark):
    from geopetl_spark.operators.sample import pack_sequences

    df = spark.createDataFrame(
        [(1, "a", 1000), (2, "a", 1500), (3, "a", 100), (4, "b", 3000)],
        "doc_id long, shard string, n_tok long",
    )
    out = {
        r.doc_id: (r.pack_id, r.pack_offset)
        for r in pack_sequences(df, "n_tok", shard_col="shard", budget=2048).collect()
    }
    # shard a: doc1 starts at 0 (pack 0), doc2 at 1000 (pack 0, crosses into
    # pack 1), doc3 at 2500 (pack 1, offset 452)
    assert out[1] == (0, 0)
    assert out[2] == (0, 1000)
    assert out[3] == (1, 2500 - 2048)
    # shard b packs independently from offset 0
    assert out[4] == (0, 0)


def test_pack_sequences_tiebreak_makes_duplicate_order_deterministic(spark):
    from geopetl_spark.operators.sample import pack_sequences

    # duplicate order_col values: without a tiebreaker the cumulative sum is
    # partition-layout-dependent; with one it is a pure function of the data
    rows = [(i % 3, f"d{i}", 100 + i) for i in range(30)]
    df = spark.createDataFrame(rows, "grp long, doc_id string, n_tok long").repartition(8)
    runs = [
        {
            r.doc_id: (r.pack_id, r.pack_offset)
            for r in pack_sequences(
                df, "n_tok", order_col="grp", budget=256, tiebreak_cols=("doc_id",)
            ).collect()
        }
        for _ in range(3)
    ]
    assert runs[0] == runs[1] == runs[2]


def test_pack_sequences_global_and_validation(spark):
    from geopetl_spark.operators.sample import pack_sequences
    import pytest as _pt

    df = spark.createDataFrame([(1, 5), (2, 5)], "doc_id long, n_tok long")
    out = {r.doc_id: r.pack_id for r in pack_sequences(df, "n_tok", budget=8).collect()}
    assert out == {1: 0, 2: 0}
    with _pt.raises(ValueError):
        pack_sequences(df, "n_tok", budget=0)
