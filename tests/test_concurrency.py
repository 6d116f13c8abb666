"""Optimistic-concurrency commit protocol (Iceberg-style CAS + rebase).

Reference analog: the reference's Delta writes rely on Delta's own
optimistic transaction log (``01_ingest_raw_logs.py:213-218`` appends can
interleave safely); LakeVault now provides the same guarantee from scratch:
the snapshot-file CLAIM is an atomic ``os.link`` CAS, losers rebase when
their write is provably independent (disjoint buckets / pure adds / delta
appends) and raise ``CommitConflict`` when it is not.
"""

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.functions as F

from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import (
    CommitConflict,
    LakeVault,
    _atomic_claim_json,
)

SCHEMA = "repo string, path string, last_seq long, is_deleted boolean"
COLS = [
    ("repo", "string"),
    ("path", "string"),
    ("last_seq", "long"),
    ("is_deleted", "boolean"),
]


def _mk(spark, tmp_path, rows, n_buckets=4):
    v = LakeVault.create(
        spark, str(tmp_path / "tbl"), COLS, n_buckets=n_buckets
    )
    _stage_and_commit(spark, v, rows, batch_id="b0")
    return v


def _stage(spark, v, rows, tag="w"):
    wd = v.new_write_dir(tag)
    df = spark.createDataFrame(rows, SCHEMA)
    (
        df.withColumn("__bucket", v.bucket_expr())
        .repartition(1, "__bucket")
        .write.mode("overwrite")
        .partitionBy("__bucket")
        .parquet(wd)
    )
    return wd


def _stage_and_commit(spark, v, rows, batch_id, **kw):
    wd = _stage(spark, v, rows, tag=batch_id)
    return v.commit(
        add_write_dir=wd, replace_buckets=None, batch_id=batch_id,
        manifest={"batch_id": batch_id}, **kw,
    )


def _bucket_of(spark, v, repo, path):
    df = spark.createDataFrame([(repo, path)], "repo string, path string")
    return df.select(v.bucket_expr().alias("b")).collect()[0]["b"]


def _distinct_bucket_keys(spark, v):
    """Two (repo, path) keys guaranteed to live in different buckets."""
    cands = [("r%d" % i, "f%d.py" % i) for i in range(16)]
    b0 = _bucket_of(spark, v, *cands[0])
    for c in cands[1:]:
        if _bucket_of(spark, v, *c) != b0:
            return cands[0], c
    raise AssertionError("no distinct buckets among candidates")


def _race(fns):
    """Run callables simultaneously (barrier start); return (results, errors)
    index-aligned."""
    barrier = threading.Barrier(len(fns))
    results: list = [None] * len(fns)
    errors: list = [None] * len(fns)

    def run(i, fn):
        barrier.wait()
        try:
            results[i] = fn()
        except Exception as e:  # noqa: BLE001 — recorded for assertions
            errors[i] = e

    with ThreadPoolExecutor(len(fns)) as ex:
        list(ex.map(lambda t: run(*t), enumerate(fns)))
    return results, errors


def test_concurrent_disjoint_commits_both_land(spark, tmp_path):
    ka, kb = None, None
    v = LakeVault.create(spark, str(tmp_path / "tbl"), COLS, n_buckets=4)
    ka, kb = _distinct_bucket_keys(spark, v)
    _stage_and_commit(
        spark, v, [(*ka, 1, False), (*kb, 1, False)], batch_id="b0"
    )
    base = v.current_snapshot_id()
    ba, bb = _bucket_of(spark, v, *ka), _bucket_of(spark, v, *kb)

    # each writer COW-replaces its OWN bucket with an updated row
    wa = _stage(spark, v, [(*ka, 2, False)], tag="wa")
    wb = _stage(spark, v, [(*kb, 3, False)], tag="wb")
    va, vb = LakeVault.load(spark, v.root), LakeVault.load(spark, v.root)

    _, errs = _race([
        lambda: va.commit(add_write_dir=wa, replace_buckets=[ba],
                          batch_id="batch-a", manifest={"batch_id": "batch-a"}),
        lambda: vb.commit(add_write_dir=wb, replace_buckets=[bb],
                          batch_id="batch-b", manifest={"batch_id": "batch-b"}),
    ])
    assert errs == [None, None], errs
    assert v.current_snapshot_id() == base + 2

    # the CAS loser rebased: both batches exactly-once, both rows updated
    assert {"batch-a", "batch-b"} <= v.committed_batches()
    got = {(r["repo"], r["path"]): r["last_seq"] for r in v.scan().collect()}
    assert got == {ka: 2, kb: 3}

    # the INTERMEDIATE snapshot is a consistent table too (time travel):
    # exactly one of the two batches, and its scan returns 2 rows
    mid = v.snapshot(base + 1)
    mid_batches = set(mid.committed_batches) - {"b0"}
    assert len(mid_batches) == 1
    assert v.scan(snapshot_id=base + 1).count() == 2

    # the loser's abandoned attempt left no stray metadata behind
    referenced: set = set()
    for sid in v.snapshot_ids():
        s = v.snapshot(sid)
        referenced.update(r["path"] for r in s.manifest_refs)
        referenced.update(sg["path"] for sg in s.batch_log)
    for sub in ("filelists", "batchlog"):
        on_disk = {
            os.path.join(sub, fn)
            for fn in os.listdir(os.path.join(v.vault_dir, sub))
        }
        assert on_disk <= referenced, (sub, on_disk - referenced)


def test_concurrent_overlapping_cow_conflicts(spark, tmp_path):
    v = _mk(spark, tmp_path, [("r1", "a.py", 1, False)])
    b = _bucket_of(spark, v, "r1", "a.py")
    base = v.current_snapshot_id()

    wa = _stage(spark, v, [("r1", "a.py", 2, False)], tag="wa")
    wb = _stage(spark, v, [("r1", "a.py", 3, False)], tag="wb")
    va, vb = LakeVault.load(spark, v.root), LakeVault.load(spark, v.root)

    _, errs = _race([
        lambda: va.commit(add_write_dir=wa, replace_buckets=[b],
                          batch_id="batch-a", manifest={"batch_id": "batch-a"}),
        lambda: vb.commit(add_write_dir=wb, replace_buckets=[b],
                          batch_id="batch-b", manifest={"batch_id": "batch-b"}),
    ])
    conflicts = [e for e in errs if e is not None]
    assert len(conflicts) == 1 and isinstance(conflicts[0], CommitConflict)
    assert v.current_snapshot_id() == base + 1
    # winner's row is live and consistent
    [row] = v.scan().collect()
    assert row["last_seq"] in (2, 3)
    winner = "batch-a" if errs[0] is None else "batch-b"
    loser = "batch-b" if winner == "batch-a" else "batch-a"
    assert winner in v.committed_batches()
    # the loser's pre-CAS lineage manifest must NOT survive the conflict —
    # it would claim the batch landed in the winner's snapshot
    assert v.manifest(winner) is not None
    assert v.manifest(loser) is None


def test_delta_append_rebases_over_cow_replace(spark, tmp_path):
    v = _mk(spark, tmp_path, [("r1", "a.py", 1, False)])
    b = _bucket_of(spark, v, "r1", "a.py")

    # A COW-rewrites the bucket (e.g. a compaction of seq-2 content);
    # B delta-appends a NEWER event for the same key. Whatever the CAS
    # order, B must rebase (its rows are new source events) and LWW must
    # surface seq 3.
    wa = _stage(spark, v, [("r1", "a.py", 2, False)], tag="wa")
    wb = _stage(spark, v, [("r1", "a.py", 3, False)], tag="wb")
    va, vb = LakeVault.load(spark, v.root), LakeVault.load(spark, v.root)

    _, errs = _race([
        lambda: va.commit(add_write_dir=wa, replace_buckets=[b],
                          batch_id="batch-a", manifest={"batch_id": "batch-a"}),
        lambda: vb.commit(add_write_dir=wb, replace_buckets=None, delta=True,
                          batch_id="batch-b", manifest={"batch_id": "batch-b"}),
    ])
    # the delta append NEVER conflicts; the COW side conflicts only if it
    # lost the CAS (the delta then changed its bucket's ref set)
    assert errs[1] is None
    if errs[0] is not None:
        assert isinstance(errs[0], CommitConflict)
    else:
        [row] = v.scan().collect()
        assert row["last_seq"] == 3  # MOR fold: delta beats the rewrite
        assert {"batch-a", "batch-b"} <= v.committed_batches()


def test_version_pointer_roll_forward_after_claim_crash(spark, tmp_path):
    """A writer that crashed between the snapshot CLAIM and the version.json
    refresh left a complete, durable snapshot — everyone rolls forward over
    it and the next commit builds on top."""
    v = _mk(spark, tmp_path, [("r1", "a.py", 1, False)])
    head = v.current_snapshot_id()

    # simulate the crashed claimant: a fully-written child snapshot file,
    # version.json never updated (exactly what a crash after the CAS leaves)
    crashed = v.snapshot().to_json()
    crashed["parent_id"] = crashed["snapshot_id"]
    crashed["snapshot_id"] = head + 1
    assert _atomic_claim_json(v._snap_path(head + 1), crashed)
    with open(os.path.join(v.vault_dir, "version.json")) as f:
        assert json.load(f)["snapshot_id"] == head  # hint is stale

    assert v.current_snapshot_id() == head + 1  # rolled forward
    assert v.scan().count() == 1  # and readable

    sid = _stage_and_commit(spark, v, [("r2", "b.py", 2, False)], batch_id="b2")
    assert sid == head + 2  # built ON TOP of the crashed claim
    with open(os.path.join(v.vault_dir, "version.json")) as f:
        assert json.load(f)["snapshot_id"] == head + 2  # hint caught up
    assert v.scan().count() == 2


def test_batchlog_segments_immutable_and_gced(spark, tmp_path):
    v = _mk(spark, tmp_path, [("r1", "a.py", 1, False)])
    for i in range(1, 5):
        _stage_and_commit(
            spark, v, [("r1", "a.py", 1 + i, False)], batch_id=f"b{i}"
        )
    # every historical snapshot still reads the exact batch prefix it was
    # committed with (immutable segments — no tail was ever rewritten)
    for k, sid in enumerate(v.snapshot_ids()[1:], start=1):
        assert set(v.snapshot(sid).committed_batches) == {
            f"b{j}" for j in range(k)
        }, sid

    segs_before = os.listdir(os.path.join(v.vault_dir, "batchlog"))
    assert len(segs_before) >= 5  # one immutable tail per append

    v.expire_snapshots(keep_last=2, orphan_grace_sec=0.0)
    kept = {sid for sid in v.snapshot_ids()}
    live = set()
    for sid in kept:
        live.update(s["path"] for s in v.snapshot(sid).batch_log)
    on_disk = {
        os.path.join("batchlog", fn)
        for fn in os.listdir(os.path.join(v.vault_dir, "batchlog"))
    }
    assert on_disk == live  # superseded tails swept, referenced ones kept
    # the full exactly-once id set survived expiry
    assert v.committed_batches() == {f"b{i}" for i in range(5)}


def test_schema_change_vs_concurrent_write_conflicts(spark, tmp_path):
    v = _mk(spark, tmp_path, [("r1", "a.py", 1, False)])
    b = _bucket_of(spark, v, "r1", "a.py")
    evolved = v.snapshot().schema.add_column("quality", "double")

    we = v.new_write_dir("ev")
    spark.createDataFrame(
        [("r1", "a.py", 2, False, 0.5)], SCHEMA + ", quality double"
    ).withColumn("__bucket", v.bucket_expr()).repartition(1, "__bucket").write.mode(
        "overwrite"
    ).partitionBy("__bucket").parquet(we)
    ww = _stage(spark, v, [("r1", "a.py", 3, False)], tag="ww")

    va, vb = LakeVault.load(spark, v.root), LakeVault.load(spark, v.root)
    _, errs = _race([
        lambda: va.commit(add_write_dir=we, replace_buckets=[b],
                          batch_id="ev", manifest={"batch_id": "ev"},
                          new_schema=evolved),
        lambda: vb.commit(add_write_dir=ww, replace_buckets=[b],
                          batch_id="ww", manifest={"batch_id": "ww"}),
    ])
    # overlapping bucket → exactly one loses; if the schema commit won, the
    # plain writer sees a schema change on rebase and must also conflict
    conflicts = [e for e in errs if e is not None]
    assert len(conflicts) == 1 and isinstance(conflicts[0], CommitConflict)
    assert v.scan().count() == 1  # winner readable either way


def test_stale_hint_survives_expiry(spark, tmp_path):
    """A writer that crashed after its CAS leaves version.json stale;
    expire_snapshots must catch the hint up to the head before deleting
    snapshots, or roll-forward would face a hole and brick every read.
    A late hint write from the stalled winner must also never regress it."""
    v = _mk(spark, tmp_path, [("r1", "a.py", 1, False)])
    for i in range(2, 7):
        _stage_and_commit(
            spark, v, [("r1", "a.py", i, False)], batch_id=f"b{i}"
        )
    head = v.current_snapshot_id()
    # stale hint: pretend the first commit's winner never refreshed it
    from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import _atomic_write_json
    _atomic_write_json(
        os.path.join(v.vault_dir, "version.json"), {"snapshot_id": 1}
    )
    assert v.current_snapshot_id() == head  # roll-forward still walks

    v.expire_snapshots(keep_last=2, orphan_grace_sec=0.0)
    assert v.current_snapshot_id() == head  # hint caught up pre-delete
    # pure adds: all 6 rows live, and the table is still fully readable
    assert v.scan().count() == 6
    assert v.scan().agg(F.max("last_seq")).collect()[0][0] == 6

    # the stalled winner wakes and tries to re-publish its old hint: the
    # monotone refresh must refuse the regression
    v._refresh_version_hint(1)
    with open(os.path.join(v.vault_dir, "version.json")) as f:
        assert json.load(f)["snapshot_id"] == head
    assert v.scan().count() == 6


def test_expire_sweeps_crashed_claim_temps(spark, tmp_path):
    """A writer SIGKILLed inside the claim leaves a .claim-* temp in
    snapshots/ (and atomic-write temps elsewhere); expire sweeps them once
    past the grace window, and never sweeps young ones."""
    v = _mk(spark, tmp_path, [("r1", "a.py", 1, False)])
    snaps = os.path.join(v.vault_dir, "snapshots")
    old = os.path.join(snaps, ".claim-999-deadbeef")
    young = os.path.join(snaps, ".claim-999-cafebabe")
    tmp_old = os.path.join(v.vault_dir, "version.json.tmp.999.deadbeef")
    for p in (old, young, tmp_old):
        with open(p, "w") as f:
            f.write("{}")
    past = time.time() - 3600
    os.utime(old, (past, past))
    os.utime(tmp_old, (past, past))

    v.expire_snapshots(keep_last=10, orphan_grace_sec=300.0)
    assert not os.path.exists(old)
    assert not os.path.exists(tmp_old)
    assert os.path.exists(young)  # inside the grace window: kept


def test_two_mor_engines_concurrent_ingest(spark, tmp_path):
    """CAPSTONE: two merge-on-read engines ingesting DIFFERENT WALs into
    ONE table CONCURRENTLY. MOR batches are pure delta appends, which the
    optimistic protocol always rebases, so both replays land exactly-once
    whatever the interleaving; auto-compact (the only contention point)
    is best-effort and skips on CommitConflict. Final state must equal a
    SERIAL replay of both WALs (disjoint key spaces keep the LWW outcome
    interleaving-independent)."""
    import pyspark.sql.functions as SF

    from observability_platform___databricks_etl_pipeline_spark.gen import generate_changelog, write_wal
    from observability_platform___databricks_etl_pipeline_spark.plans import CDCEngine

    def mk_wal(seed, prefix, path):
        df = generate_changelog(
            spark, 3000, seed=seed, with_schema_evolution=False
        ).withColumn("repo", SF.concat(SF.lit(prefix), SF.col("repo")))
        write_wal(df, path, chunk_size=1000)

    wal_a, wal_b = str(tmp_path / "wal_a"), str(tmp_path / "wal_b")
    mk_wal(7, "a-", wal_a)
    mk_wal(13, "b-", wal_b)

    def state(engine):
        return sorted(
            (r["repo"], r["path"], r["last_seq"],
             r["lang"], r["content"])
            for r in engine.current_state().collect()
        )

    # serial oracle: one engine, both WALs in sequence
    serial = CDCEngine(spark, str(tmp_path / "serial"), n_buckets=8,
                       write_mode="mor",
                       mor_compact_threshold=2)
    serial.replay(wal_a)
    serial.replay(wal_b)
    want = state(serial)

    # concurrent: two engines, one table (created before the race),
    # threshold 2 so auto-compact contends mid-race
    root = str(tmp_path / "conc")
    ea = CDCEngine(spark, root, n_buckets=8,
                   write_mode="mor", mor_compact_threshold=2)
    eb = CDCEngine(spark, root, n_buckets=8,
                   write_mode="mor", mor_compact_threshold=2)

    results, errs = _race([
        lambda: ea.replay(wal_a),
        lambda: eb.replay(wal_b),
    ])
    assert errs == [None, None], errs
    for res in results:
        assert all(b.skipped or b.conserved() for b in res.batches)

    assert state(ea) == want
    # every batch from both WALs is exactly-once in the shared log
    bids = {CDCEngine.batch_id(w, c) for w in (wal_a, wal_b) for c in range(3)}
    assert bids <= ea.vault.committed_batches()
    # re-replay of either WAL is a full no-op
    res3 = CDCEngine(spark, root, n_buckets=8,
                     write_mode="mor").replay(wal_a)
    assert all(b.skipped for b in res3.batches)
