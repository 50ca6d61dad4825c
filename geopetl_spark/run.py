"""spark-submit entry point for the CDC ingest engine.

Usage (cluster):
    spark-submit --py-files geopetl_spark.zip -m geopetl_spark.run \\
        --log /data/cdc_log --table /lake/docs --checkpoint /lake/_ckpt

Usage (sandbox, two parallelism levels for the scaling-efficiency evidence):
    python -m geopetl_spark.run --generate 200000 --cores 8  --workdir /tmp/cdc8
    python -m geopetl_spark.run --generate 200000 --cores 32 --workdir /tmp/cdc32
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import types as T

from .lake.cursor import ConsumerCursor
from .lake.table import LakeTable
from .session import get_spark
from .sources.cdc_gen import write_cdc_log
from .streaming.pipeline import IngestConfig, run_ingest

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)


def main(argv: list[str] | None = None) -> dict:
    p = argparse.ArgumentParser(description="geopetl_spark CDC ingest")
    p.add_argument("--log", help="path to the CDC event log (parquet, epoch-partitioned)")
    p.add_argument("--table", help="lake table path")
    p.add_argument("--checkpoint", help="checkpoint dir")
    p.add_argument("--workdir", help="shorthand: derive log/table/checkpoint under this dir")
    p.add_argument("--generate", type=int, default=0, help="generate N synthetic events first")
    p.add_argument("--events-per-epoch", type=int, default=50_000)
    p.add_argument("--n-keys", type=int, default=10_000)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--cores", type=int, default=None, help="local[N] parallelism")
    p.add_argument("--max-epochs", type=int, default=None)
    p.add_argument(
        "--merge-strategy", choices=["cow", "mor"], default=None,
        help="cow = rewrite affected buckets (default); mor = O(batch) delta "
        "writes with read-time reconcile + compaction (uniform-key big-epoch regime)",
    )
    p.add_argument("--drift-epoch", type=int, default=None)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument(
        "--changes-since", type=int, default=None, metavar="VERSION",
        help="CDC-out mode: instead of ingesting, print the incremental "
        "changelog (upserts + delete tombstones) past table VERSION's LSN "
        "watermark, and exit",
    )
    p.add_argument(
        "--changes-on-bulk", choices=["error", "ignore"], default="error",
        help="changelog windows spanning a bulk-append commit raise by "
        "default (backfilled rows carry no LSN and cannot surface); "
        "'ignore' opts into the documented merge-only view",
    )
    p.add_argument(
        "--follow", type=int, default=None, metavar="VERSION",
        help="changelog-tail mode: print one JSON line per data-changing "
        "commit after VERSION (doc count + tombstones + summary), then "
        "exit when caught up — the CDC-out subscriber loop at the CLI",
    )
    p.add_argument(
        "--cursor", default=None, metavar="PATH",
        help="durable consumer cursor for --follow: resume the tail from "
        "the version recorded at PATH (the --follow VERSION only seeds a "
        "missing cursor); advanced atomically after each emitted commit, "
        "so a killed tail resumes where it left off",
    )
    p.add_argument(
        "--max-commits", type=int, default=None, metavar="N",
        help="stop the --follow tail after emitting N commits (bounded "
        "consumption; with --cursor this deterministically models a "
        "consumer killed mid-stream)",
    )
    p.add_argument(
        "--maintain", default=None, metavar="OP",
        help="maintenance mode: run one table operation and exit — "
        "'compact', 'compact-drop-tombstones', 'vacuum', or 'rebucket:N' "
        "(bucket-count evolution; state/checksum unchanged). Run between "
        "ingest invocations, like any lakehouse maintenance job.",
    )
    args = p.parse_args(argv)

    if args.workdir:
        args.log = args.log or os.path.join(args.workdir, "cdc_log")
        args.table = args.table or os.path.join(args.workdir, "lake")
        args.checkpoint = args.checkpoint or os.path.join(args.workdir, "ckpt")
    if not (args.log and args.table and args.checkpoint):
        p.error("--log/--table/--checkpoint (or --workdir) required")

    master = f"local[{args.cores}]" if args.cores else None
    spark = get_spark(app_name="geopetl_spark.ingest", master=master)

    if args.generate:
        write_cdc_log(
            spark,
            args.log,
            args.generate,
            n_keys=args.n_keys,
            events_per_epoch=args.events_per_epoch,
            drift_epoch=args.drift_epoch,
            seed=args.seed,
        )

    table = LakeTable(spark, args.table)
    if args.changes_since is not None:
        if not table.exists():
            p.error(f"no lake table at {args.table}")
        ch = table.read_changes(args.changes_since, on_bulk=args.changes_on_bulk)
        n_del = ch.filter("_deleted").count()
        out = {
            "mode": "changes",
            "since_version": args.changes_since,
            "current_version": table.manifest()["version"],
            "changed_rows": ch.count(),
            "delete_tombstones": n_del,
            "lsn_watermark": table.manifest()["lsn_watermark"],
        }
        print(json.dumps(out))
        return out
    if args.follow is not None:
        if not table.exists():
            p.error(f"no lake table at {args.table}")
        cursor = ConsumerCursor(args.cursor) if args.cursor else None
        start = args.follow
        if cursor is not None:
            held = cursor.load()
            if held is not None:
                start = held  # cursor wins; --follow only seeds a fresh one
        results = []
        for v, ch, summary in table.iter_changes(start, on_bulk=args.changes_on_bulk):
            n_del = ch.filter("_deleted").count()
            row = {
                "mode": "follow",
                "version": v,
                "operation": summary.get("operation"),
                "changed_rows": ch.count(),
                "delete_tombstones": n_del,
            }
            print(json.dumps(row), flush=True)
            results.append(row)
            if cursor is not None:
                # commit-after-process: v is durably acked only once its
                # line is out; a kill inside this window re-emits v on
                # resume (at-least-once on the boundary, never loss)
                cursor.advance(v)
            if args.max_commits is not None and len(results) >= args.max_commits:
                break
        return {"mode": "follow", "commits": results}
    if args.maintain is not None:
        if not table.exists():
            p.error(f"no lake table at {args.table}")
        op = args.maintain
        if op == "compact":
            summary = table.compact()
        elif op == "compact-drop-tombstones":
            summary = table.compact(drop_tombstones=True)
        elif op == "vacuum":
            summary = table.vacuum()
        elif op.startswith("rebucket:"):
            try:
                n = int(op.split(":", 1)[1])
            except ValueError:
                p.error(f"--maintain rebucket:N needs an integer bucket count, got {op!r}")
            if n < 1:
                p.error(f"--maintain rebucket:N needs N >= 1, got {n}")
            summary = table.rebucket(n)
        else:
            p.error(f"unknown --maintain op {op!r}")
        out = {"mode": "maintain", "op": op, **summary, "checksum": str(table.checksum())}
        print(json.dumps(out))
        return out
    if not table.exists():
        table.create(DOC_SCHEMA, key_col="doc_id", n_buckets=args.n_buckets)

    cfg = IngestConfig(
        log_path=args.log,
        table_path=args.table,
        checkpoint_path=args.checkpoint,
        merge_strategy=args.merge_strategy,
    )
    t0 = time.time()
    results = run_ingest(spark, cfg, max_epochs=args.max_epochs)
    elapsed = time.time() - t0
    total_rows = sum(r.rows for r in results)
    out = {
        "epochs": len(results),
        "events": total_rows,
        "elapsed_sec": elapsed,
        "events_per_sec": total_rows / max(elapsed, 1e-9),
        "final_rows": table.count(),
        "checksum": str(table.checksum()),
    }
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
