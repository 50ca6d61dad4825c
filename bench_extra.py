"""Optimization-round measurement harness (guide §1.1/§1.4) — bench.py is
FROZEN for the driver, so all extra instrumentation lives here.

Per query it can report, over N repeats:
  * ``count_sec``  — the exact thing bench.py times (`fn(...).count()`);
  * ``noop_sec``   — full-materialization time via the noop sink
                     (`df.write.format("noop")`), isolating computation;
and it can dump ``.explain("formatted")`` per query into a plans directory
(plans/r07/<query>_{before,after}.txt for the judge).

Usage:
  python bench_extra.py [--repeats N] [--mode count|noop|both]
                        [--explain-dir plans/r07 --explain-tag before]
                        [query ...]

Contract parity with bench.py: reads $SPARK_GRAFT_SF_DIR and
$SPARK_GRAFT_CPUS, warms the Python-worker daemon the same way, runs the
queries in the same order. Memoized state is reset before every repeat so
cold queries stay cold: the component label tables before every query, the
IVF index before `embed_ivf_ann` and `embed_ivf_trained`; `embed_ivf_ann_warm`
keeps the IVF memo (it measures the warm path by contract).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry
from bench import HEADLINE
from geopetl_spark import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _reset_memos(name: str) -> None:
    """Cold queries must not inherit a previous repeat's memoized state:
    the IVF index and the persisted component label tables."""
    if name == "embed_ivf_ann" or name == "embed_ivf_trained":
        for _cen, asg in entry._IVF_INDEX.values():
            asg.unpersist(False)
        entry._IVF_INDEX.clear()
    for labels in entry._COMPONENT_LABELS.values():
        labels.unpersist(False)
    entry._COMPONENT_LABELS.clear()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--mode", choices=["count", "noop", "both"], default="count")
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--explain-tag", default="before")
    args = ap.parse_args()

    names = args.queries or HEADLINE
    spark = get_spark(app_name="geopetl_spark_bench_extra", master=f"local[{CPUS}]")
    spark.range(2).mapInPandas(lambda it: it, schema="id long").count()

    qs = entry.queries()
    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        rec: dict = {}
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = fn(spark, SF_DIR)
            with open(
                os.path.join(args.explain_dir, f"{name}_{args.explain_tag}.txt"), "w"
            ) as fh:
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                ))
        for mode in ("count", "noop"):
            if args.mode not in (mode, "both"):
                continue
            times = []
            for _ in range(args.repeats):
                _reset_memos(name)
                spark.sparkContext.setJobDescription(f"{name} [{mode}]")
                t0 = time.time()
                df = fn(spark, SF_DIR)
                if mode == "count":
                    df.count()
                else:
                    df.write.format("noop").mode("overwrite").save()
                times.append(round(time.time() - t0, 3))
                spark.sparkContext.setJobDescription(None)
            rec[f"{mode}_sec"] = times
            rec[f"{mode}_min"] = min(times)
            rec[f"{mode}_median"] = round(statistics.median(times), 3)
        out[name] = rec
        print(json.dumps({name: rec}), flush=True)
    print(json.dumps({"summary": out, "sf_dir": SF_DIR, "cpus": int(CPUS)}))
    spark.stop()


if __name__ == "__main__":
    main()
