"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the engine's primary
metric — CDC MERGE-apply throughput (change-events/sec) on a synthetic
change log ingested through the full pipeline (generate → sanitize → per-key
dedup → exactly-once MERGE → lineage).

Prints ONE JSON line:
  {"metric": "...", "value": <total query sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "cdc": {...}}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry
from geopetl_spark import LakeTable, get_spark
from geopetl_spark.run import DOC_SCHEMA
from geopetl_spark.sources.cdc_gen import write_cdc_log
from geopetl_spark.streaming.pipeline import IngestConfig, run_ingest

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
CDC_EVENTS = int(os.environ.get("SPARK_GRAFT_BENCH_EVENTS", "1000000"))

HEADLINE = [
    "cdc_latest_state",
    "q1_pricing_summary",
    "top_revenue_orders",
    "window_top3_orders",
    "sessionize",
    "tumbling_window_counts",
    "text_fingerprint",
    "text_lang_quality",
    "bpe_encode_stats",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "embed_cosine_topk",
    "embed_near_dup",
    "embed_lsh_ann",
    "embed_ivf_ann",
    "embed_ivf_ann_warm",
    "embed_ivf_trained",
    "vocab_top_terms",
    "tfidf_top_terms",
    "range_value_bands",
    "corpus_clean_stats",
    "corpus_near_dedup_stats",
    "embed_near_dedup_stats",
    "decontaminate_stats",
    "doc_repetition_stats",
    "doc_unigram_logprob",
    "stratified_sample_stats",
    "pack_sequences",
]


def bench_queries(spark) -> dict[str, float]:
    qs = entry.queries()
    out: dict[str, float] = {}
    # untimed Python-worker warmup: the first Arrow-batched query otherwise
    # pays the one-time pyspark daemon/worker spawn (~1s) — steady-state
    # throughput is the quantity under measurement, not process startup
    spark.range(2).mapInPandas(lambda it: it, schema="id long").count()
    for name in HEADLINE:
        fn = qs[name]
        # time construction + execution together: construction is a few ms
        # of analysis for lazy plans, but EAGER operators (the iterative
        # connected-components loop) do their real work at build time and
        # must be charged for it (r1/r2 timed execution only; the delta for
        # lazy queries is file-listing noise)
        t0 = time.time()
        fn(spark, SF_DIR).count()
        out[name] = round(time.time() - t0, 3)
    return out


def bench_cdc(spark) -> dict:
    """Both merge strategies over the SAME log; reports throughput per
    strategy, MoR compaction cost, and asserts state equivalence (the
    CoW-vs-MoR checksum equality is part of the benchmark contract)."""
    work = tempfile.mkdtemp(prefix="bench_cdc_")
    try:
        log = os.path.join(work, "log")
        write_cdc_log(
            spark,
            log,
            CDC_EVENTS,
            n_keys=max(CDC_EVENTS // 20, 1000),
            events_per_epoch=max(CDC_EVENTS // 2, 10_000),
            n_hot=7,
            hot_fraction=0.15,
        )
        out: dict = {}
        checksums = {}
        for strategy in ("cow", "mor"):
            tp = os.path.join(work, f"lake_{strategy}")
            t = LakeTable(spark, tp).create(DOC_SCHEMA, key_col="doc_id", n_buckets=64)
            cfg = IngestConfig(
                log_path=log,
                table_path=tp,
                checkpoint_path=os.path.join(work, f"ck_{strategy}"),
                merge_strategy=strategy,
            )
            t0 = time.time()
            results = run_ingest(spark, cfg)
            elapsed = time.time() - t0
            events = sum(r.rows for r in results)
            row = {
                "events": events,
                "epochs": len(results),
                "elapsed_sec": round(elapsed, 3),
                "events_per_sec": round(events / max(elapsed, 1e-9), 1),
            }
            if strategy == "mor":
                tc = time.time()
                t.compact()
                row["compact_sec"] = round(time.time() - tc, 3)
            checksums[strategy] = t.checksum()
            out[strategy] = row
        out["state_equal_cow_vs_mor"] = checksums["cow"] == checksums["mor"]
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    spark = get_spark(app_name="geopetl_spark_bench", master=f"local[{CPUS}]")
    queries = bench_queries(spark)
    cdc = bench_cdc(spark)
    total = round(sum(queries.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline query wall-clock at sf (plus CDC merge-apply throughput in .cdc)",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": SF_DIR.rstrip("/").split("sf")[-1],
                "cdc": cdc,
                "cpus": int(CPUS),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
