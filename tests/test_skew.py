"""Skew: one hot repo holding ≥50% of events must not break or imbalance the
replay (SURVEY.md §5 test plan). The merge repartitions raw rows on
(repo, path) before its max_by, so a hot repo spreads over its paths; a
single hot (repo, path) key still sorts on one reducer, and
operators/dedup.py::salted_repartition is the two-level escape hatch."""

import pyspark.sql.functions as F

from observability_platform___databricks_etl_pipeline_spark.gen.changelog import generate_changelog, write_wal
from observability_platform___databricks_etl_pipeline_spark.operators.dedup import salted_repartition
from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine
from tests.oracle import replay_oracle


def test_hot_repo_replay_correct(spark, tmp_path):
    wal = str(tmp_path / "wal")
    # hot_pct=70: uglier skew than the standard fixture
    write_wal(
        generate_changelog(spark, 6000, seed=31, hot_pct=70, n_repos=10),
        wal,
        chunk_size=3000,
    )
    eng = CDCEngine(spark, str(tmp_path / "tbl"), n_buckets=8)
    res = eng.replay(wal)
    assert all(b.skipped or b.conserved() for b in res.batches)
    exp = replay_oracle(wal)
    got = {
        (r["repo"], r["path"]): r["content_sha256"] for r in eng.current_state().collect()
    }
    assert got == {k: v["content_sha256"] for k, v in exp.items()}

    # per-bucket rows in the vault: the hot repo concentrates in one bucket by
    # design (bucket = hash(repo,path) spreads paths, so check no bucket holds
    # everything)
    snap = eng.vault.snapshot()
    per_bucket: dict[int, int] = {}
    for f in snap.files:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + f["rows"]
    total = sum(per_bucket.values())
    assert max(per_bucket.values()) < 0.5 * total, per_bucket


def test_salted_repartition_spreads_hot_key(spark):
    df = spark.range(0, 10_000).select(
        F.when(F.col("id") % 2 == 0, "hot").otherwise(F.concat(F.lit("k"), F.col("id"))).alias("k"),
        F.col("id"),
    )
    parts = salted_repartition(df, ["k"], n=8, salt_buckets=8)
    sizes = parts.groupBy(F.spark_partition_id().alias("p")).count().collect()
    counts = [r["count"] for r in sizes]
    # without salting the 'hot' key (50% of rows) would pin one partition at
    # >50%; with salt no partition should exceed ~35%
    assert max(counts) < 0.35 * 10_000, counts
