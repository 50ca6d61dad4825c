"""The geopetl_spark benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <live_tail_mor|query_suite> \\
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The workload's inputs are generated
from ``--seed``; the program under test is imported from the checkout.
The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` turns on spans and the Spark event log and reports the
per-layer metrics instead (see ``perfbench/README.md``). A traced run
also writes its spans and event-log digest to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import eventlog
import harness
import layers
import suite
import tail

WORKLOADS = {"live_tail_mor": tail.run, "query_suite": suite.run}


def _declared(section: str) -> dict[str, str]:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def _import_program() -> None:
    """Import the program from the checkout, and only from there."""
    sys.path.insert(0, harness.ROOT)
    import __spark_entry__  # noqa: F401
    import geopetl_spark

    root = os.path.realpath(harness.ROOT)
    if not os.path.realpath(geopetl_spark.__file__).startswith(root + os.sep):
        raise SystemExit(f"geopetl_spark imported from outside the checkout: {geopetl_spark.__file__}")


def _traced_metrics(ctx: harness.Context, info: dict) -> dict[str, float]:
    digest = eventlog.digest(ctx.path("eventlog"))
    spans = ctx.tracer.spans
    info = dict(info, session_s=ctx.session_s, wrapper_s=ctx.tracer.wrapper_s)
    metrics = layers.per_layer(spans, digest, ctx.cores, info, suite.HEADLINE)
    out = os.path.join(harness.ROOT, ".bench_out")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{ctx.workload}-{ctx.seed}")
    ctx.tracer.write(stem + ".spans.jsonl")
    with open(stem + ".groups.json", "w", encoding="utf-8") as fh:
        json.dump(digest, fh, indent=1, sort_keys=True)
    ingest = (
        f"span self times sum to each run_ingest wall within {layers.selfsum_error(spans):.2e}s; "
        if any(s["name"] == "pipeline.run_ingest" for s in spans)
        else ""
    )
    print(
        f"perfbench: traced {len(spans)} spans; {ingest}span bookkeeping "
        f"{ctx.tracer.wrapper_s:.4f}s; traced busy {info['busy_s']:.3f}s (tracing overhead = "
        f"this minus busy_s of an untraced run)",
        flush=True,
    )
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _import_program()
    declared = _declared("per_layer" if args.trace else "end_to_end")
    with harness.Context(args.workload, args.seed, args.seconds, bool(args.trace)) as ctx:
        print(
            f"perfbench: {args.workload} seed={args.seed} local[{ctx.cores}] "
            f"driver memory {harness.DRIVER_MEMORY}; work dir on {harness.filesystem_of(ctx.work)}",
            flush=True,
        )
        e2e, info = WORKLOADS[args.workload](ctx)
        ctx.stop_spark()  # flushes the event log
        metrics = _traced_metrics(ctx, info) if args.trace else e2e
    missing = sorted(set(declared) - set(metrics))
    if missing:
        raise SystemExit(f"metrics declared in BENCHMARK.json but not measured: {missing}")
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in declared.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
