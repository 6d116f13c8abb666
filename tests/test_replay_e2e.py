"""Golden end-to-end replay: engine final state == sequential oracle,
per-row sha256(content) equality (the BASELINE.json invariant), conservation
invariant per batch, idempotent re-replay."""

import pytest

from observability_platform___databricks_etl_pipeline_spark.gen.changelog import generate_changelog, write_wal
from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine
from tests.oracle import replay_oracle

N = 6000


@pytest.fixture(scope="module")
def wal(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("walmod") / "wal")
    write_wal(generate_changelog(spark, N, seed=42), d, chunk_size=2000)
    return d


def _final_state(engine):
    rows = engine.current_state().collect()
    return {(r["repo"], r["path"]): r.asDict() for r in rows}


def test_full_replay_matches_oracle(spark, tmp_path, wal):
    engine = CDCEngine(spark, str(tmp_path / "tbl"), n_buckets=8)
    res = engine.replay(wal)

    # conservation invariant (generalizes reference 03:281-297) per batch
    for b in res.batches:
        assert b.skipped or b.conserved(), f"not conserved: {b}"

    got = _final_state(engine)
    exp = replay_oracle(wal)
    assert set(got) == set(exp), (
        f"key sets differ: extra={list(set(got)-set(exp))[:5]} missing={list(set(exp)-set(got))[:5]}"
    )
    mismatch = [
        (k, got[k]["content_sha256"], exp[k]["content_sha256"])
        for k in exp
        if got[k]["content_sha256"] != exp[k]["content_sha256"]
    ]
    assert not mismatch, f"{len(mismatch)} sha mismatches, first: {mismatch[:3]}"
    # full row equality on shared semantics
    for k in exp:
        for f in ("commit", "lang", "content", "last_seq"):
            assert got[k][f] == exp[k][f], (k, f, got[k][f], exp[k][f])


def test_replay_is_idempotent(spark, tmp_path, wal):
    root = str(tmp_path / "tbl2")
    engine = CDCEngine(spark, root, n_buckets=8)
    engine.replay(wal)
    sid = engine.vault.current_snapshot_id()
    state1 = _final_state(engine)

    res2 = CDCEngine(spark, root, n_buckets=8).replay(wal)  # fresh engine, same table
    assert all(b.skipped for b in res2.batches)
    assert engine.vault.current_snapshot_id() == sid  # no new snapshots
    assert _final_state(CDCEngine(spark, root, n_buckets=8)) == state1


def test_quarantine_and_metrics(spark, tmp_path, wal):
    root = str(tmp_path / "tbl3")
    engine = CDCEngine(spark, root, n_buckets=8)
    res = engine.replay(wal)
    q = spark.read.parquet(engine.quarantine_dir)
    assert q.count() == sum(b.quarantined for b in res.batches)
    assert q.count() > 0
    engine.ingest_metrics()  # the rollup is built on read
    roll = spark.read.parquet(engine.metrics_dir)
    assert roll.count() > 0
    assert {"repo", "events", "p95_content_len", "batch_id"} <= set(roll.columns)
    # manifests carry offsets + metrics for every non-skipped batch
    for b in res.batches:
        man = engine.vault.manifest(b.batch_id)
        assert man is not None and man["offsets"] and man["metrics"]["rows_read"] == b.rows_read


def test_accessors_metrics_quarantine_lineage(spark, tmp_path, wal):
    root = str(tmp_path / "tbl4")
    eng = CDCEngine(spark, root, n_buckets=8)
    res = eng.replay(wal)
    # lineage: one manifest per applied batch, in commit order, conserving
    manifests = eng.lineage()
    assert len(manifests) == sum(1 for b in res.batches if not b.skipped)
    for man in manifests:
        assert man["offsets"] and man["lineage"]
    # quarantine accessor sees the dead-letter rows
    assert eng.quarantine().count() == sum(b.quarantined for b in res.batches)
    # rollup accessor: conservation against batch metrics at repo grain
    roll = eng.ingest_metrics()
    assert roll.where("repo = 'org/hot-repo'").count() > 0


def test_engine_expire_bounds_side_tables(spark, tmp_path, wal):
    """CDCEngine.expire: quarantine / ingest_metrics per-batch subdirs and
    lineage manifest JSONs older than the retention window are swept, while
    the exactly-once batch-id set stays complete (re-replay still skips) and
    retained side data stays queryable."""
    import os

    root = str(tmp_path / "tbl-exp")
    engine = CDCEngine(spark, root, n_buckets=8)
    res = engine.replay(wal)
    n_batches = len([b for b in res.batches if not b.skipped])
    assert n_batches >= 3
    engine.ingest_metrics()  # the rollup is built on read
    assert len(os.listdir(engine.metrics_dir)) == n_batches

    engine.expire(keep_last=2, keep_side_batches=1)
    last_bid = engine.vault.snapshot().committed_batches[-1]
    kept_metrics = os.listdir(engine.metrics_dir)
    assert kept_metrics == [f"batch_id={last_bid}"]
    if os.path.isdir(engine.quarantine_dir):
        assert all(
            d == f"batch_id={last_bid}" for d in os.listdir(engine.quarantine_dir)
        )
    mdir = os.path.join(engine.vault.vault_dir, "manifests")
    assert [f[:-5] for f in os.listdir(mdir)] == [last_bid]
    # retained rollup still reads; exactly-once set survives retention
    assert engine.ingest_metrics().count() > 0
    res2 = CDCEngine(spark, root, n_buckets=8).replay(wal)
    assert all(b.skipped for b in res2.batches)


def test_expire_tombstones_block_rollup_resurrection(spark, tmp_path, wal):
    """replay() after expire() must NOT backfill the side metrics the
    retention pass just removed (the write dirs are still on disk, so the
    backfill would regrow every swept dir without the tombstone)."""
    import os

    root = str(tmp_path / "tbl-ts")
    eng = CDCEngine(spark, root, n_buckets=8, with_rollup=True)
    eng.replay(wal)
    eng.expire(keep_last=10, keep_side_batches=1)  # keep data files, sweep side dirs
    last_bid = eng.vault.snapshot().committed_batches[-1]
    assert os.listdir(eng.metrics_dir) == [f"batch_id={last_bid}"]

    res = CDCEngine(spark, root, n_buckets=8, with_rollup=True).replay(wal)
    assert all(b.skipped for b in res.batches)
    assert os.listdir(eng.metrics_dir) == [f"batch_id={last_bid}"]  # not resurrected


ROLLUP_GATE_COLS = [
    "batch_id", "repo", "events", "inserts", "updates", "deletes", "bytes", "first_seq", "last_seq",
]


def _rollup_rows(eng):
    return sorted(tuple(r) for r in eng.ingest_metrics().select(*ROLLUP_GATE_COLS).collect())


def test_replay_runs_no_rollup_job(spark, tmp_path, wal):
    """The rollup is built on read: a replay writes nothing under
    metrics_dir, as the SQL status store shows, and the first
    ingest_metrics() builds it in one write."""
    import os

    eng = CDCEngine(spark, str(tmp_path / "tbl-lazy"), n_buckets=8)
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def rollup_writes():
        bus.waitUntilEmpty()
        execs = store.executionsList()
        plans = [execs.apply(i).physicalPlanDescription() for i in range(execs.size())]
        return [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p and eng.metrics_dir in p]

    res = eng.replay(wal, max_batches=1)
    assert [b.skipped for b in res.batches] == [False]
    assert not os.path.exists(eng.metrics_dir)
    assert rollup_writes() == []

    assert eng.ingest_metrics().count() > 0
    assert len(rollup_writes()) == 1
    assert os.listdir(eng.metrics_dir) == [f"batch_id={res.batches[0].batch_id}"]


@pytest.fixture(scope="module")
def twin_rollup(spark, tmp_path_factory, wal):
    """Rollup rows of a table replayed from ``wal`` and built before any expire."""
    twin = CDCEngine(spark, str(tmp_path_factory.mktemp("twin") / "tbl"), n_buckets=8)
    twin.replay(wal)
    return _rollup_rows(twin)


@pytest.mark.parametrize("engine_kw", [{}, {"with_rollup": False}], ids=["default", "rollup_false"])
def test_expire_builds_rollups_before_it_sweeps(spark, tmp_path, wal, twin_rollup, engine_kw):
    """expire() deletes the older batches' write dirs, which are the
    rollups' only source: the rollups it builds first must equal those of a
    twin table whose rollups were built before any expire. An engine built
    with the ignored with_rollup=False keeps the same order, so a later
    engine's ingest_metrics() reads every rollup."""
    import os

    root = str(tmp_path / "tbl-a")
    eng = CDCEngine(spark, root, n_buckets=8, **engine_kw)
    eng.replay(wal)
    first = eng.lineage()[0]
    assert first["metrics"]["inserted"] > 0

    eng.expire(keep_last=1)
    first_wd = os.path.join(eng.root, first["write_dir"])
    assert not any(fn.endswith(".parquet") for _dp, _dn, fns in os.walk(first_wd) for fn in fns)
    assert _rollup_rows(CDCEngine(spark, root, n_buckets=8)) == twin_rollup
    assert {r[0] for r in twin_rollup} == set(eng.vault.snapshot().committed_batches)


def test_ingest_metrics_after_expire_regrows_no_swept_dir(spark, tmp_path, wal):
    """The rollup builder honours expire()'s tombstones: a build after the
    side sweep leaves only the kept batch's rollup dir."""
    import os

    eng = CDCEngine(spark, str(tmp_path / "tbl-ts2"), n_buckets=8)
    eng.replay(wal)
    eng.expire(keep_last=10, keep_side_batches=1)  # keep data files, sweep side dirs
    last_bid = eng.vault.snapshot().committed_batches[-1]
    assert eng.ingest_metrics().select("batch_id").distinct().count() == 1
    assert os.listdir(eng.metrics_dir) == [f"batch_id={last_bid}"]


def test_rollup_build_leaves_nothing_pending(spark, tmp_path, wal, monkeypatch):
    """Every pending batch leaves a build with a dir or a tombstone, so the
    next build reads no manifest. A batch with nothing to roll up (here a
    manifest written before ``write_dir`` existed) gets an empty dir. A batch
    whose rollup dir was lost after expire() swept its write dir is
    tombstoned instead of failing every later read."""
    import json
    import os
    import shutil

    eng = CDCEngine(spark, str(tmp_path / "tbl-pend"), n_buckets=8)
    eng.replay(wal)
    bids = eng.vault.snapshot().committed_batches
    b0, b2 = bids[0], bids[-1]
    eng.expire(keep_last=1)  # builds every rollup, sweeps b0's write dir
    shutil.rmtree(os.path.join(eng.metrics_dir, f"batch_id={b0}"))
    shutil.rmtree(os.path.join(eng.metrics_dir, f"batch_id={b2}"))
    mpath = os.path.join(eng.vault.vault_dir, "manifests", f"{b2}.json")
    man = eng.vault.manifest(b2)
    del man["write_dir"]
    with open(mpath, "w") as f:
        json.dump(man, f)

    kept = {r[0] for r in eng.ingest_metrics().select("batch_id").distinct().collect()}
    assert kept == set(bids[1:-1])
    assert b0 in eng._expired_side_batches()
    assert os.listdir(os.path.join(eng.metrics_dir, f"batch_id={b2}")) == []

    def no_manifest_read(_bid):
        raise AssertionError("a pending-batch scan read a manifest")

    monkeypatch.setattr(eng.vault, "manifest", no_manifest_read)
    assert eng.ingest_metrics().select("batch_id").distinct().count() == len(kept)
    eng.expire(keep_last=1)


def test_failed_rollup_build_raises_before_expire_deletes(spark, tmp_path, wal, monkeypatch):
    """A rollup build that fails raises from ingest_metrics(), and from
    expire() before it deletes any file."""
    import os

    from observability_platform___databricks_etl_pipeline_spark.plans import replay as replay_mod

    eng = CDCEngine(spark, str(tmp_path / "tbl-fail"), n_buckets=8)
    eng.replay(wal, max_batches=2)

    def on_disk():
        return {os.path.join(dp, fn) for dp, _dn, fns in os.walk(eng.root) for fn in fns}

    def boom(*_a, **_kw):
        raise OSError("write dir unreadable")

    monkeypatch.setattr(replay_mod, "read_parquet_pinned", boom)
    with pytest.raises(OSError, match="unreadable"):
        eng.ingest_metrics()
    before, ids = on_disk(), eng.vault.snapshot_ids()
    with pytest.raises(OSError, match="unreadable"):
        eng.expire(keep_last=1)
    assert before <= on_disk()
    assert eng.vault.snapshot_ids() == ids

    monkeypatch.undo()
    eng.expire(keep_last=1)
    assert eng.vault.snapshot_ids() == ids[-1:]
    assert eng.ingest_metrics().select("batch_id").distinct().count() == 2


@pytest.mark.parametrize("crash_after", [2, 6, 12])
def test_crash_mid_expire_rerun_and_resume(spark, tmp_path, wal, crash_after, monkeypatch):
    """r4 verdict #6 — end-to-end crash DURING expire(): kill the deletion
    pass after N os.remove calls, rerun expire, resume replay. Must hold:
    no leaked orphans (on-disk parquet == live snapshot files after a final
    sweep), no resurrected side dirs (retention tombstones respected by the
    resumed replay), exactly-once intact, final state == oracle."""
    import os as _os
    import shutil as _shutil

    root = str(tmp_path / f"tbl-{crash_after}")
    eng = CDCEngine(spark, root, n_buckets=8, with_rollup=True)
    eng.replay(wal, max_batches=2)

    real_remove = _os.remove
    calls = {"n": 0}

    def exploding_remove(path):
        calls["n"] += 1
        if calls["n"] > crash_after:
            raise OSError(f"injected crash at remove #{calls['n']}: {path}")
        return real_remove(path)

    monkeypatch.setattr(_os, "remove", exploding_remove)
    crashed = False
    try:
        eng.expire(keep_last=1, keep_side_batches=1)
    except OSError:
        crashed = True
    monkeypatch.setattr(_os, "remove", real_remove)
    if not crashed:
        pytest.skip(f"fewer than {crash_after} removals at this shape")

    # rerun the SAME expire — must complete despite half-deleted metadata
    eng.expire(keep_last=1, keep_side_batches=1)

    # resume: the first 2 batches skip (exactly-once survives the crashed
    # expiry), every remaining chunk applies
    eng2 = CDCEngine(spark, root, n_buckets=8, with_rollup=True)
    res = eng2.replay(wal)
    assert [b.skipped for b in res.batches] == [True, True] + [False] * (
        len(res.batches) - 2
    )

    # swept batches stay swept (no resurrected side dirs) — only batches
    # newer than the retention tombstones may own side subdirs
    tombstoned = eng2._expired_side_batches()
    assert tombstoned
    for d in (eng2.quarantine_dir, eng2.metrics_dir):
        if _os.path.isdir(d):
            for sub in _os.listdir(d):
                assert sub.split("=", 1)[1] not in tombstoned, f"resurrected: {d}/{sub}"

    # final state still equals the sequential oracle
    got = _final_state(eng2)
    exp = replay_oracle(wal)
    assert {k: v["content_sha256"] for k, v in got.items()} == {
        k: v["content_sha256"] for k, v in exp.items()
    }

    # no orphans: after a final zero-grace sweep, on-disk parquet under
    # data/ is exactly the union of live snapshots' file lists
    eng2.vault.expire_snapshots(keep_last=1, orphan_grace_sec=0.0)
    live = set()
    for sid in eng2.vault.snapshot_ids():
        live.update(f["path"] for f in eng2.vault.snapshot(sid).files)
    on_disk = {
        _os.path.relpath(_os.path.join(dp, fn), eng2.vault.root)
        for dp, _dn, fns in _os.walk(eng2.vault.data_dir)
        for fn in fns
        if fn.endswith(".parquet")
    }
    assert on_disk == live
