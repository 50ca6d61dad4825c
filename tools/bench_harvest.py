"""Micro-benchmark for the commit-path zone-map harvest (round-4 judge
directive #1): driver-serial footer loop vs executor-distributed harvest as
files-per-epoch grows. Produces the BENCH/BASELINE.md table.

Usage: python tools/bench_harvest.py [--sizes 64,256,1024,4096]
"""

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="64,256,1024,4096")
    ap.add_argument("--rows-per-file", type=int, default=200)
    args = ap.parse_args()

    import pyarrow as pa
    import pyarrow.parquet as pq

    from geopetl_spark.lake.table import LakeTable
    from geopetl_spark.plans import gates
    from geopetl_spark.session import get_spark

    spark = get_spark(app_name="bench-harvest")
    work = tempfile.mkdtemp(prefix="harvest-bench-")
    try:
        for n_files in [int(s) for s in args.sizes.split(",")]:
            root = os.path.join(work, f"files-{n_files}")
            # one dir per "bucket", 8 files per bucket — the shape a real
            # epoch commit hands _harvest_stats
            n_buckets = max(n_files // 8, 1)
            dirs = [os.path.join(root, f"b{b}") for b in range(n_buckets)]
            for d in dirs:
                os.makedirs(d)
            for i in range(n_files):
                b = i % n_buckets
                tbl = pa.table(
                    {
                        "doc_id": [f"k{i}-{j}" for j in range(args.rows_per_file)],
                        "n_tok": list(range(args.rows_per_file)),
                        "_lsn": [i * 1000 + j for j in range(args.rows_per_file)],
                        "_deleted": [j % 17 == 0 for j in range(args.rows_per_file)],
                    }
                )
                pq.write_table(tbl, os.path.join(root, f"b{b}", f"part-{i:05d}.parquet"))

            t0 = time.perf_counter()
            serial = {d: LakeTable._file_stats([d]) for d in dirs}
            t_serial = time.perf_counter() - t0

            table = LakeTable(spark, os.path.join(work, f"tbl-{n_files}"))
            saved = gates.LIMITS["harvest_driver_files"]
            gates.LIMITS["harvest_driver_files"] = 0  # force the job path
            try:
                t0 = time.perf_counter()
                dist = table._harvest_stats(dirs)
                t_dist = time.perf_counter() - t0
            finally:
                gates.LIMITS["harvest_driver_files"] = saved
            assert dist == serial, f"harvest mismatch at {n_files} files"
            print(
                f"files={n_files:5d} buckets={n_buckets:4d} "
                f"serial={t_serial:7.3f}s distributed={t_dist:7.3f}s "
                f"speedup={t_serial / t_dist:5.2f}x  (byte-identical)"
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
