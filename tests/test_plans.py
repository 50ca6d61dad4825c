"""Plan-shape assertions: the physical plans we designed for are the plans
Catalyst actually produces (SURVEY §4 — what's free must actually be free)."""

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, ".")
import __spark_entry__ as entry  # noqa: E402


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_broadcast_join_chosen_for_dims(spark, sf_dir):
    """region/nation are tiny dims: the join must be broadcast, never
    sort-merge (no shuffle of the customer side on the dim key)."""
    plan = _plan(entry.queries()["region_customer_counts"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_anti_join_operators(spark, sf_dir):
    plan = _plan(entry.queries()["semi_anti_customers"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_q1_aggregate_is_partial_then_final(spark, sf_dir):
    """groupBy aggregations must have a map-side partial stage (HashAggregate
    appears twice around the exchange) — no naive shuffle-everything."""
    plan = _plan(entry.queries()["q1_pricing_summary"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_limit_becomes_take_ordered(spark, sf_dir):
    """order-by + limit must compile to TakeOrderedAndProject (top-k without
    a global sort)."""
    plan = _plan(entry.queries()["top_revenue_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_salted_dedup_is_aggregation_not_window_sort(spark, sf_dir):
    """latest_per_key compiles to one aggregation with exactly one hash
    exchange and a partial max_by beneath it, not a window sort: the map-side
    combine sends each key across the shuffle as at most one row per map
    task — the skew-defeating property (SURVEY §4 custom work #2)."""
    plan = _plan(entry.queries()["cdc_latest_state"](spark, sf_dir))
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    below_exchange = plan[plan.index("Exchange hashpartitioning"):]
    assert "partial_max_by" in below_exchange


def test_minhash_lsh_never_joins_shingle_pair_space(spark, sf_dir):
    """the LSH verify must compute Jaccard for CANDIDATES only: the physical
    plan may join on band_key and on candidate ids, but an unfiltered
    shingle = shingle self-join (the quadratic space LSH exists to avoid)
    must not appear anywhere."""
    import re

    plan = _plan(entry.queries()["dedup_minhash_lsh"](spark, sf_dir))
    assert "band_key" in plan  # candidates still come from the band equi-join
    assert not re.search(r"shingle#\d+L?\s*=\s*shingle#\d+", plan)


def test_simhash_is_single_aggregate_no_bit_explode(spark, sf_dir):
    """simhash compiles to one partial+final aggregation over the words
    explode — no second explode (words x 48 bits) and no extra shuffle."""
    from geopetl_spark.operators.dedup_text import simhash

    plan = _plan(simhash(spark.read.parquet(f"{sf_dir}/documents.parquet")))
    assert plan.count("Generate explode") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_whole_stage_codegen_covers_scan_filter(spark, sf_dir):
    from geopetl_spark import from_parquet

    df = from_parquet(spark, f"{sf_dir}/lineitem.parquet", where="l_orderkey < 100")
    # codegen'd operators are star-prefixed in the compact plan string
    assert "*(1) Filter" in _plan(df)


def test_cdc_log_epoch_read_prunes_partitions(spark, tmp_path):
    """the ingest loop's per-epoch read must hit only that epoch's partition
    dir: the scan is of the ``_epoch_part=<n>`` dir itself, so every input
    file lies in it."""
    import os

    from geopetl_spark.sources.cdc_gen import write_cdc_log
    from geopetl_spark.streaming.pipeline import read_epoch

    log = str(tmp_path / "log")
    write_cdc_log(spark, log, 2000, n_keys=100, events_per_epoch=1000)
    df = read_epoch(spark, log, 1)
    files = df.inputFiles()
    assert files and all(f"{os.sep}_epoch_part=1{os.sep}" in f for f in files)
    # and the scan reads 1 of 2 partitions: row count proves pruning semantics
    assert df.count() in range(900, 1200)


def test_range_join_is_equi_join_not_nested_loop(spark, sf_dir):
    """The binned range join must compile to a hash/sort-merge EQUI-join on
    the bin key — never BroadcastNestedLoopJoin or CartesianProduct (the
    O(L*R) plans the operator exists to avoid)."""
    plan = _plan(entry.queries()["range_value_bands"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan
