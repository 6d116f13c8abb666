"""Resume-from-checkpoint mid-replay: kill after batch k, restart, assert
identical final state and no double-apply (BASELINE.json north_star)."""

import pytest

from observability_platform___databricks_etl_pipeline_spark.gen.changelog import generate_changelog, write_wal
from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine
from tests.oracle import replay_oracle


@pytest.fixture(scope="module")
def wal(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("walres") / "wal")
    write_wal(generate_changelog(spark, 5000, seed=13), d, chunk_size=1000)
    return d


def test_crash_and_resume_equals_straight_replay(spark, tmp_path, wal):
    # straight replay
    a = CDCEngine(spark, str(tmp_path / "a"), n_buckets=8)
    a.replay(wal)
    state_a = {
        (r["repo"], r["path"]): (r["content_sha256"], r["last_seq"])
        for r in a.current_state().collect()
    }

    # crashed replay: die after 2 batches, then resume with a fresh engine
    root_b = str(tmp_path / "b")
    b1 = CDCEngine(spark, root_b, n_buckets=8)
    with pytest.raises(RuntimeError, match="simulated crash"):
        b1.replay(wal, fail_after_batches=2)
    cp = b1.checkpoint()
    assert cp is not None and len(cp["chunks_committed"]) == 2

    b2 = CDCEngine(spark, root_b, n_buckets=8)
    res = b2.replay(wal)
    assert sum(1 for x in res.batches if x.skipped) == 2  # no double-apply
    state_b = {
        (r["repo"], r["path"]): (r["content_sha256"], r["last_seq"])
        for r in b2.current_state().collect()
    }
    assert state_a == state_b
    assert state_a  # non-trivial

    # and both equal the oracle
    exp = replay_oracle(wal)
    assert {k: v["content_sha256"] for k, v in exp.items()} == {
        k: v[0] for k, v in state_b.items()
    }


def test_crash_mid_batch_before_commit(spark, tmp_path, wal):
    """A batch whose data files were written but whose pointer swap never
    happened must re-apply cleanly (orphan files are invisible)."""
    root = str(tmp_path / "c")
    eng = CDCEngine(spark, root, n_buckets=8)
    eng.replay(wal, max_batches=1)
    sid = eng.vault.current_snapshot_id()
    # simulate a dead attempt: stage a write dir that never got committed
    orphan = eng.vault.new_write_dir("deadattempt")
    (eng.current_state().limit(5).withColumn("__bucket", eng.vault.bucket_expr())
     .write.mode("overwrite").partitionBy("__bucket").parquet(orphan))
    assert eng.vault.current_snapshot_id() == sid  # invisible
    res = CDCEngine(spark, root, n_buckets=8).replay(wal)
    assert res.snapshot_id > sid
    # final state still equals oracle
    exp = replay_oracle(wal)
    got = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in CDCEngine(spark, root, n_buckets=8).current_state().collect()
    }
    assert got == {k: v["content_sha256"] for k, v in exp.items()}


def test_rollup_backfill_on_resume(spark, tmp_path):
    """The rollup is derived data built on read: a crash can leave a
    committed batch without its rollup. The next ingest_metrics() must
    rebuild the hole idempotently."""
    import os
    import shutil

    from observability_platform___databricks_etl_pipeline_spark.gen.changelog import generate_changelog, write_wal
    from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine

    wal = str(tmp_path / "wal")
    write_wal(generate_changelog(spark, 4000, seed=3), wal, chunk_size=2000)
    eng = CDCEngine(spark, str(tmp_path / "tbl"), n_buckets=4)
    res = eng.replay(wal)
    applied = [b for b in res.batches if not b.skipped]
    gone = os.path.join(eng.metrics_dir, f"batch_id={applied[0].batch_id}")
    eng.ingest_metrics()
    assert os.path.isdir(gone)
    shutil.rmtree(gone)  # simulate a crash that lost the rollup

    eng2 = CDCEngine(spark, str(tmp_path / "tbl"), n_buckets=4)
    res2 = eng2.replay(wal)
    assert all(b.skipped for b in res2.batches)  # nothing re-applied
    eng2.ingest_metrics()
    assert os.path.isdir(gone)  # rollup hole backfilled
    roll = spark.read.parquet(eng.metrics_dir)
    assert roll.where(f"batch_id = '{applied[0].batch_id}'").count() > 0


def test_failed_batch_joins_its_quarantine_write(spark, tmp_path, wal, monkeypatch):
    """A batch that fails in the merge must not leave its quarantine write
    running in the background: an in-process retry of the same batch would
    race it on the same quarantine dir."""
    import threading
    import time

    from pyspark.sql import DataFrameWriter

    real_parquet = DataFrameWriter.parquet
    finished = threading.Event()

    def slow_quarantine(self, path, *a, **kw):
        if "quarantine" not in path:
            return real_parquet(self, path, *a, **kw)
        time.sleep(2)  # still in flight when the merge raises
        real_parquet(self, path, *a, **kw)
        finished.set()

    def failing_merge(*_a, **_kw):
        raise RuntimeError("merge failed")

    root = str(tmp_path / "q")
    eng = CDCEngine(spark, root, n_buckets=8)
    monkeypatch.setattr(DataFrameWriter, "parquet", slow_quarantine)
    monkeypatch.setattr(eng, "_merge_maxby", failing_merge)
    with pytest.raises(RuntimeError, match="merge failed"):
        eng.replay(wal, max_batches=1)
    assert finished.is_set(), "quarantine write outlived the failed batch"
    monkeypatch.undo()

    # the retry rewrites the same batch's quarantine rows exactly once
    res = CDCEngine(spark, root, n_buckets=8).replay(wal, max_batches=1)
    b = res.batches[0]
    assert b.quarantined > 0 and b.conserved()
    q = spark.read.parquet(f"{root}/quarantine/batch_id={b.batch_id}")
    assert q.count() == b.quarantined
