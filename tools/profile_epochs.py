"""Per-epoch profile of the CDC ingest loop.

Runs one ingest at a chosen parallelism / epoch size, one epoch per
``run_ingest(max_epochs=1)`` call, and prints for each epoch:

* rows, throughput and wall seconds from the lineage log;
* ``py4j_calls``: Python -> JVM round trips the driver thread made,
  counted at py4j's ``ClientServerConnection.send_command`` — the
  plan-construction fixed cost;
* ``jobs``: Spark jobs the epoch ran (one job group per epoch);
* ``changelog``: the same two counts, plus seconds, for a consumer's
  ``read_changes(prev, v).count()`` of that epoch's commit.

These are the measurements that decide which per-epoch fixed cost to cut
next.

Usage: python tools/profile_epochs.py [--events 4000000] [--cores 16] [--epochs 4]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j import clientserver  # noqa: E402

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
        table = LakeTable(spark, tp).create(DOC_SCHEMA, key_col="doc_id", n_buckets=64)
        cfg = IngestConfig(log_path=log, table_path=tp, checkpoint_path=ck)
        sc = spark.sparkContext
        calls = [0]
        send = clientserver.ClientServerConnection.send_command
        me = threading.get_ident()

        def counting(self, command):
            # py4j's finalizer thread releases collected proxies on its own
            # schedule: count only this thread's commands
            calls[0] += threading.get_ident() == me
            return send(self, command)

        def measured(group, fn):
            """``fn()`` run in job group ``group``: (result, {py4j_calls, jobs, sec})."""
            sc.setJobGroup(group, group)
            before, t = calls[0], time.time()
            try:
                out = fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return out, {
                "py4j_calls": calls[0] - before,
                "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                "sec": round(time.time() - t, 3),
            }

        clientserver.ClientServerConnection.send_command = counting
        results, counts = [], {}
        prev = table.manifest()["version"]
        elapsed = 0.0
        try:
            while True:
                n = len(results)
                res, ingest = measured(
                    f"profile-epoch-{n}", lambda: run_ingest(spark, cfg, max_epochs=1)
                )
                if not res:
                    break
                elapsed += ingest.pop("sec")
                v = table.manifest()["version"]
                _, read = measured(
                    f"profile-changelog-{n}", lambda: table.read_changes(prev, v).count()
                )
                counts[str(res[0].epoch)] = {**ingest, "changelog": read}
                results += res
                prev = v
        finally:
            clientserver.ClientServerConnection.send_command = send
        per_epoch = []
        for e in sorted(LineageLog(ck).read(), key=lambda e: str(e["epoch"])):
            per_epoch.append(
                {
                    "epoch": e["epoch"],
                    "rows": e["rows"],
                    "events_per_sec": round(e["events_per_sec"], 1),
                    "elapsed_sec": round(e["elapsed_sec"], 2),
                    **counts.get(str(e["epoch"]), {}),
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
