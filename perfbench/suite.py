"""``query_suite``: the 29 headline queries over seeded inputs.

Each query is timed as build + ``.count()``, the way ``bench.py`` times it,
starting from cold memos: the memoized IVF indexes and component label
tables are released before every pass. The untimed Python-worker warm-up
of ``bench.py`` runs during set-up. A pass is the 29 queries in order; a
further pass starts only while a whole pass still fits in the window, and
each query's latency is its median over the passes.

Correctness: every query's row count must equal the row count of its
DuckDB twin in ``oracle_sql()``, run on the same inputs outside the timed
region. A seed-chosen subset of ``HASH_CHECKS`` queries is also collected
after the timed region and compared by an order-insensitive value hash
(stringified cells, columns sorted by name), the same check the repository's
oracle gate makes.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import random
import re
import time
import traceback

import harness
import querydata

# bench.HEADLINE, frozen so that a change to bench.py does not change the
# benchmark
HEADLINE = [
    "cdc_latest_state", "q1_pricing_summary", "top_revenue_orders",
    "window_top3_orders", "sessionize", "tumbling_window_counts",
    "text_fingerprint", "text_lang_quality", "bpe_encode_stats",
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
    "embed_cosine_topk", "embed_near_dup", "embed_lsh_ann", "embed_ivf_ann",
    "embed_ivf_ann_warm", "embed_ivf_trained", "vocab_top_terms",
    "tfidf_top_terms", "range_value_bands", "corpus_clean_stats",
    "corpus_near_dedup_stats", "embed_near_dedup_stats", "decontaminate_stats",
    "doc_repetition_stats", "doc_unigram_logprob", "stratified_sample_stats",
    "pack_sequences",
]
HASH_CHECKS = 2
# Never value-hash checked: its round(sum / n, 6) lands on exact .5 ties in
# the 7th decimal on about half the seeds, where Spark's and DuckDB's
# round() disagree in the last digit. Its row count is still checked.
NO_HASH_CHECK = {"doc_unigram_logprob"}
SETUP_ROUNDS = 3

# DuckDB inlines every reference to a CTE, so the unrolled Lloyd iterations
# of the trained-IVF oracle re-run exponentially often; materializing each
# CTE once gives the same rows (verified on every headline oracle).
_CTE_HEAD = re.compile(r"((?:\bwith|,)\s*)([A-Za-z_]\w*)\s+as\s+\(", re.I)


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def references(data_dir: str, oracles: dict[str, str]) -> dict[str, tuple[int, str]]:
    """Query -> (row count, value hash) of its DuckDB twin."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in querydata.TABLES:
            con.execute(f"create view {t} as select * from '{data_dir}/{t}.parquet'")
        out = {}
        for name in HEADLINE:
            res = con.execute(_CTE_HEAD.sub(r"\1\2 as materialized (", oracles[name]))
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[name] = (len(rows), value_hash(cols, rows))
        return out
    finally:
        con.close()


def reset_memos(entry) -> None:
    """Release the memoized IVF indexes and component label tables."""
    for _cen, assigned in entry._IVF_INDEX.values():
        assigned.unpersist(False)
    entry._IVF_INDEX.clear()
    for labels in entry._COMPONENT_LABELS.values():
        labels.unpersist(False)
    entry._COMPONENT_LABELS.clear()


def run(ctx: harness.Context) -> tuple[dict, dict]:
    import __spark_entry__ as entry

    spark = ctx.start_spark()
    tr = ctx.tracer

    round_s = []
    for r in range(SETUP_ROUNDS):
        data = ctx.path(f"data{r}")
        t0 = time.perf_counter()
        with tr.span("setup.querydata"):
            querydata.generate(data, ctx.seed)
        round_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    with tr.span("setup.warmup"):
        # bench.py's untimed Python-worker warm-up
        spark.range(2).mapInPandas(lambda it: it, schema="id long").count()
    warmup_s = time.perf_counter() - t0
    setup_s = ctx.session_s + harness.median(round_s) + warmup_s

    refs = references(data, entry.oracle_sql())
    qs = entry.queries()
    times: dict[str, list[float]] = {name: [] for name in HEADLINE}
    counts: dict[str, list[int]] = {name: [] for name in HEADLINE}
    with tr.span("window"):
        t_start = time.perf_counter()
        last = 0.0
        while not last or time.perf_counter() - t_start + last <= ctx.seconds:
            reset_memos(entry)
            t_pass = time.perf_counter()
            for name in HEADLINE:
                with tr.span("query", query=name):
                    t0 = time.perf_counter()
                    try:
                        n = qs[name](spark, data).count()
                    except Exception:  # the query counts as failed
                        traceback.print_exc()
                        n = -1
                    times[name].append(time.perf_counter() - t0)
                counts[name].append(n)
            last = time.perf_counter() - t_pass
    rss = harness.peak_rss_mb()
    for name in HEADLINE:
        for n in counts[name]:
            ctx.op(n == refs[name][0], f"query {name}: {n} rows, reference {refs[name][0]}")

    pool = [name for name in HEADLINE if name not in NO_HASH_CHECK]
    for name in random.Random(ctx.seed).sample(pool, HASH_CHECKS):
        try:
            df = qs[name](spark, data)
            got = value_hash(df.columns, [tuple(r) for r in df.collect()])
        except Exception:  # the check counts as failed
            traceback.print_exc()
            got = None
        ctx.op(got == refs[name][1], f"query {name}: value hash differs from its oracle")

    lat = [harness.median(times[name]) for name in HEADLINE]
    print(
        f"perfbench: query_suite {len(times[HEADLINE[0]])} pass(es) of {len(HEADLINE)} queries "
        f"(closed loop, one client) over {querydata.SIZES}; total {sum(lat):.3f}s, "
        f"p50 {harness.median(lat):.3f}s, tail: {harness.tail(lat)}; "
        f"peak RSS {rss:.0f} MB",
        flush=True,
    )
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": harness.median(lat),
        "latency_geomean_s": harness.geomean(lat),
        "busy_s": sum(lat),
    }
    return e2e, {"gen_s": round_s, "busy_s": sum(lat), "peak_rss_mb": rss}
