#!/usr/bin/env python
"""Extra measurement harness for the optimization round (guide §1).

Not part of the frozen driver contract (bench.py is untouched). Modes:

  python bench_extra.py plans [out_dir]      # .explain('formatted') per headline query
  python bench_extra.py time  [names...]     # median-of-3 noop-sink timing per query
  python bench_extra.py replay [n_events]    # replay phases + ingest_metrics() catch-up
  python bench_extra.py reads  [rounds]      # plan/exec p50 + plan-time jobs per read

$SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS as in bench.py.
"""

from __future__ import annotations

import io
import json
import os
import statistics
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from observability_platform___databricks_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "cdc_lww_latest",
    "cdc_hourly_rollup",
    "cdc_prev_event_gap",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "join_theta_overpriced",
    "topn_per_group",
    "exact_percentiles",
    "doc_exact_dedup",
    "doc_minhash_lsh",
    "doc_simhash_neardup",
    "doc_quality",
    "emb_cosine_topk",
    "emb_neardup_pairs",
    "emb_lsh_topk_batch",
]


def _spark():
    extra = {}
    if os.path.isdir("/dev/shm"):
        extra["spark.local.dir"] = "/dev/shm/spark-local"
    spark = get_spark(
        app_name="cdc-bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _materialize(df):
    df.write.format("noop").mode("overwrite").save()


def _n_jobs(spark) -> int:
    """Spark jobs submitted so far, from the status store."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return jsc.statusStore().jobsList(None).size()


def _warmup(spark):
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from observability_platform___databricks_etl_pipeline_spark.functions.sanitize import sanitize_udf

    spark.range(CPUS * 4).selectExpr("cast(id as string) s").repartition(CPUS).select(
        sanitize_udf("s")
    ).collect()


def cmd_plans(out_dir: str, names: list[str]) -> None:
    from observability_platform___databricks_etl_pipeline_spark.queries import QUERIES

    os.makedirs(out_dir, exist_ok=True)
    spark = _spark()
    _warmup(spark)
    for name in names or HEADLINE:
        df = QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


def cmd_time(names: list[str], trials: int = 3) -> None:
    from observability_platform___databricks_etl_pipeline_spark.queries import QUERIES

    spark = _spark()
    _warmup(spark)
    out = {}
    per = {n: [] for n in (names or HEADLINE)}
    for _ in range(trials):
        for name in names or HEADLINE:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            _materialize(QUERIES[name](spark, SF_DIR))
            per[name].append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
    for name, ts in per.items():
        out[name] = {
            "median": round(statistics.median(ts), 3),
            "min": round(min(ts), 3),
            "samples": [round(t, 3) for t in ts],
        }
    print(json.dumps(out, indent=1))


def cmd_replay(n_events: int) -> None:
    """Replay a persistent WAL (generated once, reused across invocations so
    A/B variants compare against identical input), then time the
    ``ingest_metrics()`` catch-up that builds the replay's rollups (wall
    seconds and Spark jobs; its time also lands in the ``rollup_build``
    phase). BX_WAL_BASE overrides the base dir; the WAL is only regenerated
    when missing."""
    import shutil

    os.environ["CDC_TIMING"] = "1"
    spark = _spark()
    _warmup(spark)
    from observability_platform___databricks_etl_pipeline_spark.gen.changelog import (
        generate_changelog,
        write_wal,
    )
    from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine

    chunk = max(100_000, n_events // 2)
    tmp_root = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    base = os.environ.get("BX_WAL_BASE", f"{tmp_root}/cdc-bx-{n_events}")
    os.makedirs(base, exist_ok=True)
    wal = f"{base}/wal"
    if not os.path.isdir(wal) or not os.listdir(wal):
        write_wal(generate_changelog(spark, n_events, n_repos=50, n_paths=500), wal, chunk_size=chunk)
    trials = int(os.environ.get("BX_REPLAY_TRIALS", "2"))
    for t in range(trials):
        tbl = f"{base}/tbl{t}"
        shutil.rmtree(tbl, ignore_errors=True)
        eng = CDCEngine(spark, tbl, n_buckets=32)
        t0 = time.perf_counter()
        eng.replay(wal)
        dt = time.perf_counter() - t0
        j0 = _n_jobs(spark)
        t0 = time.perf_counter()
        eng.ingest_metrics()
        rollup_s = time.perf_counter() - t0
        print(
            json.dumps(
                {
                    "trial": t,
                    "replay_sec": round(dt, 3),
                    "events_per_sec": round(n_events / dt, 1),
                    "phases": {k: round(v, 3) for k, v in eng.phase_seconds.items()},
                    "rollup_catchup_sec": round(rollup_s, 3),
                    "rollup_catchup_jobs": _n_jobs(spark) - j0,
                }
            )
        )
        shutil.rmtree(tbl, ignore_errors=True)


def cmd_reads(rounds: int = 6) -> None:
    """Plan and execute the engine's reads on a tail-shaped table: a
    20k-event WAL in 4 chunks of 5k events at 8 paths per repo, chunk 0
    preloaded, then chunks 1-3 replayed one call each. For ``scan``
    (``current_state``), ``lookup``, ``changes`` (the last batch) and a
    ``format("lakevault")`` read, prints the plan p50 (building the
    DataFrame), the exec p50 (a noop-sink write) and the Spark jobs
    submitted while planning, summed over ``rounds``."""
    import shutil
    import tempfile

    spark = _spark()
    _warmup(spark)
    from observability_platform___databricks_etl_pipeline_spark.gen.changelog import (
        generate_changelog,
        write_wal,
    )
    from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine
    from observability_platform___databricks_etl_pipeline_spark.sources.lakevault_ds import (
        register,
    )

    register(spark)
    base = tempfile.mkdtemp(prefix="cdc-bx-reads-")
    try:
        wal, tbl = f"{base}/wal", f"{base}/tbl"
        write_wal(generate_changelog(spark, 20_000, n_paths=8, seed=11), wal, chunk_size=5_000)
        eng = CDCEngine(spark, tbl)
        for chunk in range(4):
            eng.replay(wal, chunks=[chunk])
        head = eng.vault.current_snapshot_id()
        kinds = {
            "scan": eng.current_state,
            "lookup": lambda: eng.lookup("org/hot-repo"),
            "changes": lambda: eng.changes(head - 1),
            "ds_scan": lambda: spark.read.format("lakevault").load(tbl),
        }
        per = {k: {"plan": [], "exec": [], "plan_jobs": 0} for k in kinds}
        for r in range(rounds + 1):  # round 0 warms every kind up
            for kind, build in kinds.items():
                j0 = _n_jobs(spark)
                t0 = time.perf_counter()
                df = build()
                plan_s = time.perf_counter() - t0
                j1 = _n_jobs(spark)
                t0 = time.perf_counter()
                _materialize(df)
                exec_s = time.perf_counter() - t0
                if r:
                    per[kind]["plan"].append(plan_s)
                    per[kind]["exec"].append(exec_s)
                    per[kind]["plan_jobs"] += j1 - j0
        out = {
            k: {
                "plan_p50_s": round(statistics.median(v["plan"]), 3),
                "exec_p50_s": round(statistics.median(v["exec"]), 3),
                "plan_jobs": v["plan_jobs"],
            }
            for k, v in per.items()
        }
        print(json.dumps({"rounds": rounds, "reads": out}, indent=1))
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    if mode == "plans":
        out_dir = sys.argv[2] if len(sys.argv) > 2 else "plans/r06/_scratch"
        cmd_plans(out_dir, sys.argv[3:])
    elif mode == "time":
        cmd_time(sys.argv[2:])
    elif mode == "replay":
        cmd_replay(int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000)
    elif mode == "reads":
        cmd_reads(int(sys.argv[2]) if len(sys.argv) > 2 else 6)
    else:
        raise SystemExit(f"unknown mode {mode}")
