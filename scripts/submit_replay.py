#!/usr/bin/env python
"""spark-submit entrypoint for the CDC replay engine.

Cluster usage (the north-rule deployment shape)::

    zip -r engine.zip observability_platform___databricks_etl_pipeline_spark
    spark-submit --py-files engine.zip \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        scripts/submit_replay.py --wal /data/wal --table /data/table \
        [--buckets 256] [--max-batches N] [--gen-events N]

Local smoke::

    python scripts/submit_replay.py --wal /tmp/w --table /tmp/t --gen-events 100000

Exit code 0 only if every batch satisfied the conservation invariant.
Prints one JSON line with replay metrics (the driver-side contract).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--wal", required=True, help="WAL directory (chunk=N subdirs)")
    ap.add_argument("--table", required=True, help="LakeVault table root")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--max-batches", type=int, default=None)
    ap.add_argument(
        "--gen-events", type=int, default=None,
        help="generate a deterministic WAL of N events at --wal first (testing)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine

    # under spark-submit the session inherits the submitted master/conf;
    # standalone it falls back to local[all]
    # standalone (no spark-submit): the 1g driver default OOMs generating
    # test WALs — size it like the engine's session factory does. Under a
    # real spark-submit the JVM is already up and this config is inert; the
    # submitted --conf/--driver-memory win.
    spark = (
        SparkSession.builder.appName("cdc-replay")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    if args.gen_events:
        from observability_platform___databricks_etl_pipeline_spark.gen.changelog import (
            generate_changelog,
            write_wal,
        )

        write_wal(
            generate_changelog(spark, args.gen_events),
            args.wal,
            chunk_size=max(100_000, args.gen_events // 8),
        )

    engine = CDCEngine(spark, args.table, n_buckets=args.buckets)
    t0 = time.perf_counter()
    res = engine.replay(args.wal, max_batches=args.max_batches)
    elapsed = time.perf_counter() - t0

    applied = [b for b in res.batches if not b.skipped]
    rows = sum(b.rows_read for b in applied)
    ok = all(b.conserved() for b in applied)
    print(
        json.dumps(
            {
                "snapshot_id": res.snapshot_id,
                "batches_applied": len(applied),
                "batches_skipped": len(res.batches) - len(applied),
                "rows_read": rows,
                "events_applied": res.events_applied,
                "elapsed_sec": round(elapsed, 2),
                "events_per_sec": round(rows / elapsed, 1) if elapsed > 0 else None,
                "conserved": ok,
                "checkpoint": engine.checkpoint(),
            }
        )
    )
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
