"""Per-epoch phase profile of the CDC ingest loop.

Runs one ingest at a chosen parallelism / epoch size and prints each epoch's
copy-on-write merge phase timings (``merge_phase_sec``: dedup+bucket-
discovery, reduce+write, count bookkeeping) from the lineage log — the
measurement that decides which per-epoch fixed cost to fuse next.

Usage: python tools/profile_epochs.py [--events 4000000] [--cores 16] [--epochs 4]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geopetl_spark import LakeTable, get_spark  # noqa: E402
from geopetl_spark.run import DOC_SCHEMA  # noqa: E402
from geopetl_spark.sources.cdc_gen import write_cdc_log  # noqa: E402
from geopetl_spark.streaming.lineage import LineageLog  # noqa: E402
from geopetl_spark.streaming.pipeline import IngestConfig, run_ingest  # noqa: E402


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--events", type=int, default=4_000_000)
    p.add_argument("--cores", type=int, default=16)
    p.add_argument("--epochs", type=int, default=4)
    args = p.parse_args()

    work = tempfile.mkdtemp(prefix="profile_")
    spark = get_spark(app_name=f"profile-{args.cores}", master=f"local[{args.cores}]")
    try:
        log = os.path.join(work, "log")
        write_cdc_log(
            spark, log, args.events,
            n_keys=max(args.events // 20, 1000),
            events_per_epoch=args.events // args.epochs,
            n_hot=7, hot_fraction=0.15, max_tokens=128,
        )
        tp, ck = os.path.join(work, "lake"), os.path.join(work, "ck")
        LakeTable(spark, tp).create(DOC_SCHEMA, key_col="doc_id", n_buckets=64)
        cfg = IngestConfig(log_path=log, table_path=tp, checkpoint_path=ck)
        t0 = time.time()
        results = run_ingest(spark, cfg)
        elapsed = time.time() - t0
        per_epoch = []
        for e in sorted(LineageLog(ck).read(), key=lambda e: str(e["epoch"])):
            cs = e.get("commit") or {}
            per_epoch.append(
                {
                    "epoch": e["epoch"],
                    "rows": e["rows"],
                    "events_per_sec": round(e["events_per_sec"], 1),
                    "elapsed_sec": round(e["elapsed_sec"], 2),
                    "phases": cs.get("merge_phase_sec"),
                }
            )
        total_events = sum(r.rows for r in results)
        print(
            json.dumps(
                {
                    "cores": args.cores,
                    "events": total_events,
                    "events_per_sec": round(total_events / max(elapsed, 1e-9), 1),
                    "per_epoch": per_epoch,
                },
                indent=2,
                default=str,
            )
        )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
