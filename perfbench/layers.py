"""Per-layer metrics of a traced run, from its spans and the event log.

Times are medians over the calls made inside the measured window, and a
layer's time is its span's self time (duration minus its child spans).
Spark figures (jobs, executor time, shuffle, spill, input and output bytes,
task skew) are the event-log totals of the job groups in a span's subtree.
A layer that a workload leaves idle reports 0.
"""

from __future__ import annotations

import statistics

import eventlog
import spans as sp


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class _Trace:
    def __init__(self, spans: list[dict], digest: dict[str, dict]):
        self.spans = spans
        self.digest = digest
        self.self_s = sp.self_times(spans)
        self.by_id = {s["id"]: s for s in spans}
        window = [s for s in spans if s["name"] == "window"]
        self.window = window[0] if window else None
        self.inside = (
            {s["id"] for s in sp.subtree(spans, self.window["id"])} if self.window else set()
        )

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["id"] in self.inside]

    def spark(self, span: dict) -> dict:
        """Event-log totals of the span's subtree, with its task skew."""
        groups = [self.digest.get(s["group"], {}) for s in sp.subtree(self.spans, span["id"])]
        out = eventlog.combine(groups)
        own = self.digest.get(span["group"], {})
        med = own.get("median_task_ms") or 0
        out["task_skew"] = own.get("max_task_ms", 0) / med if med else 0.0
        return out

    def dur(self, span: dict) -> float:
        return span["end"] - span["start"]

    def ancestor_attr(self, span: dict, key: str):
        while span is not None:
            if key in span["attrs"]:
                return span["attrs"][key]
            span = self.by_id.get(span["parent"])
        return None


def selfsum_error(spans: list[dict], name: str = "pipeline.run_ingest") -> float:
    """Largest gap between a span's duration and the summed self times of
    its subtree (0 up to float rounding when the spans nest)."""
    self_s = sp.self_times(spans)
    err = 0.0
    for s in spans:
        if s["name"] == name:
            total = sum(self_s[c["id"]] for c in sp.subtree(spans, s["id"]))
            err = max(err, abs(total - (s["end"] - s["start"])))
    return err


def per_layer(
    spans: list[dict], digest: dict[str, dict], cores: int, info: dict, query_names: list[str]
) -> dict[str, float]:
    t = _Trace(spans, digest)
    m: dict[str, float] = {}

    win = t.spark(t.window) if t.window else eventlog.combine([])
    m["session.start_s"] = info["session_s"]
    m["mem.peak_rss_mb"] = info["peak_rss_mb"]
    m["inputs.gen_s"] = _med(info["gen_s"])
    m["trace.busy_s"] = info["busy_s"]
    m["trace.wrapper_s"] = info["wrapper_s"]
    m["spark.jobs"] = win["jobs"]
    m["spark.executor_s"] = win["executor_run_ms"] / 1000.0
    m["spark.driver_only_s"] = info["busy_s"] - m["spark.executor_s"] / cores

    # ---- ingest pipeline (live_tail_mor) ------------------------------------
    ingests = t.named("pipeline.run_ingest")
    m["pipeline.discovery_s"] = _med([t.self_s[s["id"]] for s in ingests])
    m["pipeline.apply_epoch_s"] = _med([t.self_s[s["id"]] for s in t.named("pipeline.apply_epoch")])
    ing = [t.spark(s) for s in ingests]
    m["pipeline.jobs_per_epoch"] = _med([g["jobs"] for g in ing])
    m["pipeline.driver_only_s"] = _med(
        [t.dur(s) - g["executor_run_ms"] / 1000.0 / cores for s, g in zip(ingests, ing)]
    )
    m["checkpoint.save_s"] = _med([t.self_s[s["id"]] for s in t.named("checkpoint.save")])
    m["lineage.record_s"] = _med([t.self_s[s["id"]] for s in t.named("lineage.record")])
    m["lake.manifest_bytes"] = info.get("manifest_bytes", 0)

    merges = t.named("lake.merge")
    mg = [t.spark(s) for s in merges]
    stats = info.get("stats", {})
    epochs = [(s["attrs"].get("result") or {}).get("epoch_id") for s in merges]
    m["lake.merge_s"] = _med([t.self_s[s["id"]] for s in merges])
    m["lake.merge.jobs"] = _med([g["jobs"] for g in mg])
    m["lake.merge.executor_s"] = _med([g["executor_run_ms"] / 1000.0 for g in mg])
    m["lake.merge.shuffle_bytes"] = _med(
        [g["shuffle_read_bytes"] + g["shuffle_write_bytes"] for g in mg]
    )
    m["lake.merge.spill_bytes"] = _med([g["spill_bytes"] for g in mg])
    m["lake.merge.task_skew"] = _med([g["task_skew"] for g in mg])
    m["lake.merge.write_amp"] = _med(
        [g["output_bytes"] / stats[e]["bytes"] for g, e in zip(mg, epochs) if e in stats]
    )
    m["lake.merge.buckets_affected"] = _med(
        [(s["attrs"].get("result") or {}).get("buckets_affected", 0) for s in merges]
    )
    m["dedup.keep_ratio"] = _med(
        [
            (s["attrs"].get("result") or {}).get("rows_written", 0) / stats[e]["rows"]
            for s, e in zip(merges, epochs)
            if e in stats
        ]
    )

    reads = t.named("consumer.read")
    m["lake.read_changes_s"] = _med([t.dur(s) for s in reads])
    bpr = []
    for s in reads:
        e = t.ancestor_attr(s, "epoch")
        if e in stats and stats[e]["keys"]:
            bpr.append(t.spark(s)["input_bytes"] / stats[e]["keys"])
    m["lake.read_changes.bytes_per_row"] = _med(bpr)
    compacts = t.named("lake.compact")
    m["lake.compact_s"] = _med([t.self_s[s["id"]] for s in compacts])
    m["lake.compact.bytes_rewritten"] = _med([t.spark(s)["output_bytes"] for s in compacts])
    m["lake.vacuum_s"] = _med([t.self_s[s["id"]] for s in t.named("lake.vacuum")])
    m["tail.backlog_max_epochs"] = info.get("backlog_max", 0)
    m["tail.land_lag_max_s"] = info.get("land_lag", 0.0)

    # ---- query layer (query_suite) --------------------------------------------
    per_query: dict[str, list[dict]] = {}
    for s in t.named("query"):
        per_query.setdefault(s["attrs"]["query"], []).append(s)
    for name in query_names:
        qs = per_query.get(name, [])
        g = [t.spark(s) for s in qs]
        m[f"query.{name}_s"] = _med([t.dur(s) for s in qs])
        m[f"query.{name}.jobs"] = _med([x["jobs"] for x in g])
        m[f"query.{name}.shuffle_bytes"] = _med(
            [x["shuffle_read_bytes"] + x["shuffle_write_bytes"] for x in g]
        )
    return m
