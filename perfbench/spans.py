"""Spans for the traced run.

A span records (name, start, end, parent, run id) in memory; the spans are
written out when the run ends. Every span sets its own Spark job group, so
the event log attributes each Spark job to the innermost open span and
task metrics roll up per span (see ``eventlog.py``). Spans are recorded by
wrappers this module installs at runtime on the program's public functions
(``install``), and by the benchmark around its own calls; nothing in the
program is edited.

The untraced run uses ``NullTracer``, whose spans cost one context-manager
call and touch no Spark state.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield attrs


class Tracer:
    enabled = True

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        # time spent in span bookkeeping itself (job-group calls included)
        self.wrapper_s = 0.0

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "group": f"{self.run_id}:{sid}",
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        self.wrapper_s += rec["start"] - t_in
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.wrapper_s += time.perf_counter() - rec["end"]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part its children cover (spans on one
    thread nest strictly, so children never overlap)."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def subtree(spans: list[dict], root_id: int) -> list[dict]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [s for s in spans if s["id"] == root_id]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


# (owner import path, attribute, span name)
_TARGETS = [
    ("geopetl_spark.streaming.pipeline", "run_ingest", "pipeline.run_ingest"),
    ("geopetl_spark.streaming.pipeline", "apply_epoch", "pipeline.apply_epoch"),
    ("geopetl_spark.lake.table:LakeTable", "merge", "lake.merge"),
    ("geopetl_spark.lake.table:LakeTable", "read_changes", "lake.read_changes"),
    ("geopetl_spark.lake.table:LakeTable", "compact", "lake.compact"),
    ("geopetl_spark.lake.table:LakeTable", "vacuum", "lake.vacuum"),
    ("geopetl_spark.streaming.checkpoint:Checkpoint", "save", "checkpoint.save"),
    ("geopetl_spark.streaming.lineage:LineageLog", "record", "lineage.record"),
]


def _owner(path: str):
    import importlib

    mod, _, cls = path.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


def install(tracer: Tracer):
    """Wrap every target in a span; returns a function that restores the
    originals. A wrapped call's return value is kept on the span when it is
    a dict (the lake's commit summaries)."""
    saved = []
    for owner_path, attr, name in _TARGETS:
        owner = _owner(owner_path)
        orig = owner.__dict__[attr]

        def make(orig=orig, name=name):
            @functools.wraps(orig)
            def wrapped(*args, **kwargs):
                with tracer.span(name) as attrs:
                    out = orig(*args, **kwargs)
                    if isinstance(out, dict):
                        attrs["result"] = dict(out)
                    return out

            return wrapped

        setattr(owner, attr, make())
        saved.append((owner, attr, orig))

    def uninstall():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return uninstall
