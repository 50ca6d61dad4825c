"""``live_tail_mor``: an open-loop live tail on a merge-on-read table.

One small epoch of change events becomes due every ``INTERVAL_S`` seconds,
whether or not the tailer has kept up. An epoch arrives by moving its
partition dir from a staging area into the change log. Per due epoch the
tailer calls ``run_ingest(max_epochs=1)``, then a consumer reads that
commit's changes with ``LakeTable.read_changes(prev_merge_version, v)``.
``compact()`` and ``vacuum()`` run inline every ``COMPACT_EVERY`` epochs.

Freshness of an epoch is the time from its due time to the moment its
changes have been read by the consumer, so a stall charges every epoch
that waits behind it. Set-up runs ``SETUP_ROUNDS`` times, each ending with
epoch 0 ingested and read as the warm-up; the last round's table is tailed.

Correctness, checked outside the timed window:

* every ``run_ingest`` call commits exactly the due epoch, with the row
  count the staged log holds for it;
* every changelog read returns exactly that epoch's distinct-key count;
* the final ``LakeTable.checksum()`` equals the checksum of a reference
  state computed here with a ``row_number`` window over the whole log
  (latest event per key, deletes removed), never through the engine's
  dedup or merge.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import time
import traceback

import harness

EVENTS_PER_EPOCH = 5_000
N_KEYS = 20_000
N_HOT = 7
HOT_FRACTION = 0.15
N_BUCKETS = 16
INTERVAL_S = 3.5
COMPACT_EVERY = 4
SETUP_ROUNDS = 3


def _land(staging: str, log: str, epoch: int) -> None:
    """An epoch arrives: its partition dir moves into the change log."""
    name = f"_epoch_part={epoch}"
    os.rename(os.path.join(staging, name), os.path.join(log, name))


def _epoch_stats(staging: str, log: str) -> dict[int, dict]:
    """Per generated epoch (staged or landed): rows, distinct keys and
    input bytes."""
    import duckdb

    files = glob.glob(os.path.join(staging, "*", "*.parquet")) + glob.glob(
        os.path.join(log, "*", "*.parquet")
    )
    con = duckdb.connect()
    try:
        rows = con.execute(
            "select epoch, count(*), count(distinct doc_id) "
            "from read_parquet($files) group by epoch",
            {"files": files},
        ).fetchall()
    finally:
        con.close()
    out = {}
    for epoch, n, keys in rows:
        part = f"{os.sep}_epoch_part={epoch}{os.sep}"
        mine = [f for f in files if part in f]
        out[int(epoch)] = {
            "rows": int(n),
            "keys": int(keys),
            "bytes": sum(os.path.getsize(f) for f in mine),
        }
    return out


def _reference_checksum(spark, log: str) -> int:
    """Latest event per key over the whole log minus deletes, with the
    ingest's token sanitizing, hashed like ``LakeTable.checksum``."""
    spark.read.parquet(log).createOrReplaceTempView("perfbench_log")
    state = spark.sql(
        """
        select doc_id, filter(tokens, x -> x is not null) as tokens,
               size(filter(tokens, x -> x is not null)) as n_tok, source
        from (select *, row_number() over (
                  partition by doc_id
                  order by lsn desc, commit_ts desc,
                           case op when 'D' then 2 when 'U' then 1 else 0 end desc) as rn
              from perfbench_log)
        where rn = 1 and op <> 'D'
        """
    )
    cols = ", ".join(f"cast({c} as string)" for c in sorted(state.columns))
    state.createOrReplaceTempView("perfbench_state")
    s = spark.sql(
        f"select sum(cast(xxhash64({cols}) as decimal(38,0))) as s from perfbench_state"
    ).collect()[0]["s"]
    return s or 0


def run(ctx: harness.Context) -> tuple[dict, dict]:
    from geopetl_spark import LakeTable
    from geopetl_spark.run import DOC_SCHEMA
    from geopetl_spark.sources.cdc_gen import write_cdc_log
    from geopetl_spark.streaming import pipeline

    n_due = max(1, math.ceil(ctx.seconds / INTERVAL_S))
    spark = ctx.start_spark()
    tr = ctx.tracer

    # ---- set-up, repeated: generate the staged log, create the table, and
    # ingest and read epoch 0 as the warm-up; the last round's table is used
    round_s, gen_s = [], []
    for r in range(SETUP_ROUNDS):
        base = ctx.path(f"round{r}")
        staging, log = os.path.join(base, "staging"), os.path.join(base, "log")
        t0 = time.perf_counter()
        with tr.span("setup"):
            write_cdc_log(
                spark,
                staging,
                (n_due + 1) * EVENTS_PER_EPOCH,
                n_keys=N_KEYS,
                n_hot=N_HOT,
                hot_fraction=HOT_FRACTION,
                events_per_epoch=EVENTS_PER_EPOCH,
                seed=ctx.seed,
            )
            gen_s.append(time.perf_counter() - t0)
            table = LakeTable(spark, os.path.join(base, "table")).create(
                DOC_SCHEMA, key_col="doc_id", n_buckets=N_BUCKETS
            )
            cfg = pipeline.IngestConfig(
                log_path=log,
                table_path=table.path,
                checkpoint_path=os.path.join(base, "checkpoint"),
                merge_strategy="mor",
            )
            os.makedirs(log)
            _land(staging, log, 0)
            pipeline.run_ingest(spark, cfg, max_epochs=1)
            prev = table.manifest()["version"]
            warm = table.read_changes(0, prev).count()
        round_s.append(time.perf_counter() - t0)
        if r < SETUP_ROUNDS - 1:
            shutil.rmtree(base)
    stats = _epoch_stats(staging, log)
    if warm != stats[0]["keys"]:
        raise RuntimeError(f"warm-up changelog read returned {warm} rows, expected {stats[0]['keys']}")
    setup_s = ctx.session_s + harness.median(round_s)

    # ---- the open loop -----------------------------------------------------
    fresh, busy, backlog_max, land_lag = [], 0.0, 0, 0.0
    landed = 0
    with tr.span("window"):
        t_start = time.perf_counter()
        due = [t_start + k * INTERVAL_S for k in range(n_due)]
        for k in range(n_due):
            epoch = k + 1
            now = time.perf_counter()
            if now < due[k]:
                time.sleep(due[k] - now)
            now = time.perf_counter()
            while landed < n_due and due[landed] <= now:
                land_lag = max(land_lag, now - due[landed])
                _land(staging, log, landed + 1)
                landed += 1
            backlog_max = max(backlog_max, landed - k)
            with tr.span("tail.epoch", epoch=epoch):
                t0 = time.perf_counter()
                try:
                    res = pipeline.run_ingest(spark, cfg, max_epochs=1)
                    ok = len(res) == 1 and res[0].epoch == epoch and res[0].rows == stats[epoch]["rows"]
                except Exception:  # keep the loop going; the epoch counts as failed
                    traceback.print_exc()
                    ok = False
                ctx.op(ok, f"epoch {epoch} commit")
                try:
                    with tr.span("consumer.read"):
                        v = table.manifest()["version"]
                        n = table.read_changes(prev, v).count()
                    ok = n == stats[epoch]["keys"]
                    prev = v
                except Exception:  # the read counts as failed
                    traceback.print_exc()
                    ok = False
                t2 = time.perf_counter()
                ctx.op(ok, f"epoch {epoch} changelog read")
                fresh.append(t2 - due[k])
                if epoch % COMPACT_EVERY == 0:
                    table.compact()
                    table.vacuum(keep_last_versions=2)
                busy += time.perf_counter() - t0

    rss = harness.peak_rss_mb()
    # ---- final state against the independent reference ---------------------
    got = table.checksum()
    want = _reference_checksum(spark, log)
    ctx.op(got == want, f"final state checksum {got} != reference {want}")

    print(
        f"perfbench: live_tail_mor {n_due} epochs of {EVENTS_PER_EPOCH} events due every "
        f"{INTERVAL_S}s (open loop), {N_KEYS} keys, {N_BUCKETS} buckets; freshness p50 "
        f"{harness.median(fresh):.3f}s, tail: {harness.tail(fresh)}; "
        f"backlog max {backlog_max}, generator late by at most {land_lag:.3f}s; "
        f"peak RSS {rss:.0f} MB; freshness by epoch {[round(f, 3) for f in fresh]}",
        flush=True,
    )
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": harness.median(fresh),
        "latency_geomean_s": harness.geomean(fresh),
        "busy_s": busy,
    }
    info = {
        "peak_rss_mb": rss,
        "gen_s": gen_s,
        "stats": stats,
        "backlog_max": backlog_max,
        "land_lag": land_lag,
        "busy_s": busy,
        "manifest_bytes": os.path.getsize(
            os.path.join(table.manifest_dir, f"manifest-{table.manifest()['version']:08d}.json")
        ),
    }
    return e2e, info
