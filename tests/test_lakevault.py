import pyspark.sql.functions as F

from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import LakeVault


def _mk(spark, tmp_path, rows):
    root = str(tmp_path / "tbl")
    v = LakeVault.create(
        spark, root, [("repo", "string"), ("path", "string"), ("last_seq", "long"), ("is_deleted", "boolean")]
    )
    wd = v.new_write_dir("init")
    df = spark.createDataFrame(rows, "repo string, path string, last_seq long, is_deleted boolean")
    (
        df.withColumn("__bucket", v.bucket_expr())
        .repartition(2, "__bucket")
        .write.mode("overwrite")
        .partitionBy("__bucket")
        .parquet(wd)
    )
    v.commit(add_write_dir=wd, replace_buckets=None, batch_id="b0", manifest={"batch_id": "b0"})
    return v


def test_create_commit_scan(spark, tmp_path):
    v = _mk(spark, tmp_path, [("r1", "a.py", 1, False), ("r2", "b.py", 2, False)])
    assert v.current_snapshot_id() == 1
    got = {(r["repo"], r["path"]) for r in v.scan().collect()}
    assert got == {("r1", "a.py"), ("r2", "b.py")}
    # manifest stats registered
    snap = v.snapshot()
    assert sum(f["rows"] for f in snap.files) == 2
    assert all(f["bucket"] is not None for f in snap.files)


def test_idempotent_commit(spark, tmp_path):
    v = _mk(spark, tmp_path, [("r1", "a.py", 1, False)])
    sid = v.current_snapshot_id()
    again = v.commit(add_write_dir=None, replace_buckets=[], batch_id="b0", manifest={})
    assert again == sid  # replayed batch is a no-op


def test_time_travel_and_bucket_pruning(spark, tmp_path):
    v = _mk(spark, tmp_path, [("r1", "a.py", 1, False)])
    wd = v.new_write_dir("b1")
    df2 = spark.createDataFrame([("r9", "z.py", 9, False)], "repo string, path string, last_seq long, is_deleted boolean")
    (
        df2.withColumn("__bucket", v.bucket_expr())
        .repartition(1, "__bucket")
        .write.mode("overwrite")
        .partitionBy("__bucket")
        .parquet(wd)
    )
    v.commit(add_write_dir=wd, replace_buckets=[], batch_id="b1", manifest={"batch_id": "b1"})
    assert v.scan().count() == 2
    assert v.scan(snapshot_id=1).count() == 1  # time travel
    # bucket pruning reads only matching files
    b_of_r9 = v.scan().where(F.col("repo") == "r9").collect()
    bucket = [f["bucket"] for f in v.snapshot().files if f["rows"] == 1 and f["path"].find("b1") >= 0]
    pruned = v.scan(buckets=bucket[:1])
    assert pruned.count() >= 1
    assert b_of_r9[0]["repo"] == "r9"


def test_schema_add_and_rename_by_id(spark, tmp_path):
    v = _mk(spark, tmp_path, [("r1", "a.py", 1, False)])
    s1 = v.snapshot().schema.add_column("quality", "double")
    # commit a new file under evolved schema
    wd = v.new_write_dir("ev")
    df2 = spark.createDataFrame(
        [("r2", "b.py", 2, False, 0.5)],
        "repo string, path string, last_seq long, is_deleted boolean, quality double",
    )
    (
        df2.withColumn("__bucket", v.bucket_expr())
        .repartition(1, "__bucket")
        .write.mode("overwrite")
        .partitionBy("__bucket")
        .parquet(wd)
    )
    v.commit(add_write_dir=wd, replace_buckets=[], batch_id="b1", manifest={}, new_schema=s1)
    rows = {r["repo"]: r for r in v.scan().collect()}
    assert rows["r1"]["quality"] is None  # null-backfilled old file
    assert rows["r2"]["quality"] == 0.5

    # rename: metadata-only, old files still readable, data preserved
    s2 = v.snapshot().schema.rename_column("quality", "quality_score")
    v.commit(add_write_dir=None, replace_buckets=[], batch_id="b2", manifest={}, new_schema=s2)
    rows = {r["repo"]: r for r in v.scan().collect()}
    assert rows["r2"]["quality_score"] == 0.5
    assert "quality" not in v.scan().columns


def test_compact_and_expire(spark, tmp_path):
    v = _mk(spark, tmp_path, [(f"r{i}", f"p{i}.py", i, False) for i in range(20)])
    before_files = len(v.snapshot().files)
    v.compact()
    assert v.scan().count() == 20
    removed = v.expire_snapshots(keep_last=1)
    assert removed  # old snapshots gone
    assert v.scan().count() == 20  # current state intact
    assert len(v.snapshot().files) <= before_files + 2


def test_commit_metadata_cost_flat_in_table_size(spark, tmp_path):
    """The manifest layer's contract: a commit writes O(affected buckets)
    metadata — snapshot JSON size and the set of (re)written manifest files
    must NOT grow with the number of accumulated commits/files. Batch ids
    append to a tail segment, not a rewritten inline list."""
    import json as _json
    import os as _os

    from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import LakeVault

    root = str(tmp_path / "t")
    v = LakeVault.create(spark, root, [("repo", "string"), ("path", "string"),
                                       ("content_sha256", "string"), ("last_seq", "long")],
                         key_cols=("repo", "path"), n_buckets=4)
    df = spark.range(40).selectExpr(
        "concat('r', id % 4) repo", "concat('p', id) path",
        "cast(md5(cast(id as string)) as string) content_sha256", "id last_seq")

    def one_commit(i):
        wd = v.new_write_dir(f"c{i}")
        (df.withColumn("__bucket", v.bucket_expr())
           .repartition(2).write.mode("overwrite").partitionBy("__bucket").parquet(wd))
        before = set()
        fl = _os.path.join(v.vault_dir, "filelists")
        if _os.path.isdir(fl):
            before = {(f, _os.path.getmtime(_os.path.join(fl, f))) for f in _os.listdir(fl)}
        v.commit(add_write_dir=wd, replace_buckets=[0, 1, 2, 3], batch_id=f"b{i}",
                 manifest={"i": i}, summary={"operation": "merge"})
        after = {(f, _os.path.getmtime(_os.path.join(fl, f))) for f in _os.listdir(fl)}
        changed = after - before
        return len(changed), _os.path.getsize(v._snap_path(v.current_snapshot_id()))

    sizes, writes = [], []
    for i in range(12):
        w, s = one_commit(i)
        writes.append(w)
        sizes.append(s)

    # manifests written per commit: exactly the affected buckets, every time
    assert max(writes[2:]) == min(writes[2:]) == 4
    # snapshot JSON size flat (no inline file list / batch list growth):
    # allow only the few bytes the growing batch-log prefix count costs
    assert sizes[-1] - sizes[2] < 200, sizes
    # batch log: one tail segment holds all ids
    snap = v.snapshot()
    assert len(snap.batch_log) == 1 and snap.batch_log[0]["n"] == 12
    assert set(snap.committed_batches) == {f"b{i}" for i in range(12)}
    # and the data is still all there
    assert v.scan().count() == 40


def test_pre_manifest_inline_snapshot_raises(spark, tmp_path):
    """A head snapshot in the pre-manifest inline format (file entries and
    batch ids listed in the snapshot JSON, no manifest refs or batch log) is
    not read: scan() and commit() raise a ValueError naming the snapshot
    instead of reading it as an empty table."""
    import json as _json

    import pytest as _pytest

    v = _mk(spark, tmp_path, [("r1", "a.py", 1, False), ("r2", "b.py", 2, False)])
    snap = v.snapshot()
    inline = snap.to_json()
    inline.pop("manifest_refs"), inline.pop("batch_log")
    inline["files"] = snap.files
    inline["committed_batches"] = snap.committed_batches
    with open(v._snap_path(snap.snapshot_id), "w") as f:
        _json.dump(inline, f)

    v2 = LakeVault.load(spark, v.root)
    with _pytest.raises(ValueError, match=f"snapshot {snap.snapshot_id} is in the pre-manifest"):
        v2.scan()
    with _pytest.raises(ValueError, match="pre-manifest"):
        v2.commit(add_write_dir=None, replace_buckets=[], batch_id="b1",
                  manifest={"batch_id": "b1"})


def test_expire_snapshots_removes_orphaned_manifests(spark, tmp_path):
    """expire_snapshots must delete manifest files referenced ONLY by
    expired snapshots, while keeping every manifest a live snapshot needs."""
    import os as _os

    from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import LakeVault

    root = str(tmp_path / "t")
    v = LakeVault.create(spark, root, [("repo", "string"), ("path", "string"),
                                       ("content_sha256", "string"), ("last_seq", "long")],
                         key_cols=("repo", "path"), n_buckets=4)
    df = spark.range(20).selectExpr(
        "concat('r', id % 4) repo", "concat('p', id) path",
        "cast(md5(cast(id as string)) as string) content_sha256", "id last_seq")
    for i in range(6):
        wd = v.new_write_dir(f"c{i}")
        (df.withColumn("__bucket", v.bucket_expr())
           .repartition(1).write.mode("overwrite").partitionBy("__bucket").parquet(wd))
        v.commit(add_write_dir=wd, replace_buckets=[0, 1, 2, 3], batch_id=f"b{i}",
                 manifest={"i": i}, summary={"operation": "merge"})

    fl = _os.path.join(v.vault_dir, "filelists")
    before = len(_os.listdir(fl))
    removed = v.expire_snapshots(keep_last=2)
    assert removed
    after = len(_os.listdir(fl))
    assert after < before
    live = {r["path"] for sid in v.snapshot_ids() for r in v.snapshot(sid).manifest_refs}
    assert all(_os.path.join("filelists", f) in live for f in _os.listdir(fl))
    assert v.scan().count() == 20


def _commit_df(spark, v, df, batch_id, *, replace_buckets, delta=False, replace_all=False):
    wd = v.new_write_dir(batch_id)
    (df.withColumn("__bucket", v.bucket_expr())
       .repartition(1).write.mode("overwrite").partitionBy("__bucket").parquet(wd))
    v.commit(add_write_dir=wd, replace_buckets=replace_buckets, batch_id=batch_id,
             manifest={"batch_id": batch_id}, summary={"operation": "merge"},
             delta=delta, replace_all=replace_all)


def test_expire_with_shared_carried_manifests(spark, tmp_path):
    """r3 ADVICE (high): two expired snapshots sharing a carried manifest —
    the normal MOR lifecycle (a delta commit carries its parent's refs; a
    later compact/COW drops them) — must expire cleanly. The single-pass
    walk deleted the shared manifest while processing the older snapshot,
    then crashed opening it for the newer one, leaving expiry permanently
    broken and that snapshot's data files leaked."""
    import os as _os

    from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import LakeVault

    root = str(tmp_path / "t")
    v = LakeVault.create(spark, root, [("repo", "string"), ("path", "string"),
                                       ("content_sha256", "string"), ("last_seq", "long")],
                         key_cols=("repo", "path"), n_buckets=4)
    df = spark.range(16).selectExpr(
        "concat('r', id % 4) repo", "concat('p', id) path",
        "cast(md5(cast(id as string)) as string) content_sha256", "id last_seq")
    _commit_df(spark, v, df, "base", replace_buckets=None)            # snap 1
    _commit_df(spark, v, df.limit(4), "d1", replace_buckets=[], delta=True)  # snap 2 carries snap 1's refs
    for i in range(3):                                                 # snaps 3-5 drop them
        _commit_df(spark, v, df, f"cow{i}", replace_buckets=None, replace_all=True)

    removed = v.expire_snapshots(keep_last=2)          # expires 0,1,2,3
    assert set(removed) == {0, 1, 2, 3}
    # rerun is a clean no-op, data intact, no dangling metadata
    assert v.expire_snapshots(keep_last=2) == []
    assert v.scan().count() == 16
    live_refs = {r["path"] for sid in v.snapshot_ids() for r in v.snapshot(sid).manifest_refs}
    fl = _os.path.join(v.vault_dir, "filelists")
    assert {f"filelists/{f}" for f in _os.listdir(fl)} == live_refs
    # every data file on disk is referenced by a live snapshot (no leaks)
    on_disk = {
        _os.path.relpath(_os.path.join(dp, fn), root)
        for dp, _dn, fns in _os.walk(v.data_dir) for fn in fns if fn.endswith(".parquet")
    }
    live_files = {f["path"] for sid in v.snapshot_ids() for f in v.snapshot(sid).files}
    assert on_disk == live_files


def test_expire_sweeps_crash_orphaned_write_dirs(spark, tmp_path):
    """A crash between the data-phase write and commit() leaves a
    parquet-bearing staging dir no snapshot references; expire must sweep it
    once the commit attempt is dead — while never touching an in-flight
    writer's dir (staged for current_snapshot_id + 1)."""
    import os as _os

    from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import LakeVault

    root = str(tmp_path / "t")
    v = LakeVault.create(spark, root, [("repo", "string"), ("path", "string"),
                                       ("content_sha256", "string"), ("last_seq", "long")],
                         key_cols=("repo", "path"), n_buckets=4)
    df = spark.range(8).selectExpr(
        "concat('r', id % 4) repo", "concat('p', id) path",
        "cast(md5(cast(id as string)) as string) content_sha256", "id last_seq")
    # simulate the crash: full parquet written, commit never happens
    orphan = v.new_write_dir("crashed")
    (df.withColumn("__bucket", v.bucket_expr())
       .repartition(1).write.mode("overwrite").partitionBy("__bucket").parquet(orphan))
    assert any(fn.endswith(".parquet") for _, _, fns in _os.walk(orphan) for fn in fns)
    # the orphan's attempt id is still current+1 → must be left alone (could
    # be an in-flight writer)
    v.expire_snapshots(keep_last=3)
    assert _os.path.isdir(orphan)
    # a real commit supersedes the attempt — but within the mtime grace
    # window the dir is STILL protected (r4 ADVICE: a writer that computed
    # its attempt id just before an interleaving commit looks dead by the
    # attempt-id test alone)
    _commit_df(spark, v, df, "b0", replace_buckets=None)
    v.expire_snapshots(keep_last=3)
    assert _os.path.isdir(orphan)
    # once the grace elapses (grace 0 = operator asserts no writer is in
    # flight) the provably-dead dir is swept
    v.expire_snapshots(keep_last=3, orphan_grace_sec=0.0)
    assert not _os.path.isdir(orphan)
    assert v.scan().count() == 8  # committed data untouched


def test_manifest_stats_harvest_many_files_submits_no_spark_job(spark, tmp_path):
    """r3 verdict #2: a 500-file commit must register every file with correct
    rows/min/max stats, and the footer reads run on the driver: registering
    the files submits no Spark job."""
    import os as _os

    from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import LakeVault

    root = str(tmp_path / "t")
    v = LakeVault.create(spark, root, [("repo", "string"), ("path", "string"),
                                       ("last_seq", "long")],
                         key_cols=("repo", "path"), n_buckets=4)
    df = spark.range(2000).selectExpr(
        "concat('r', id % 40) repo", "concat('p', id) path", "id last_seq")
    wd = v.new_write_dir("many")
    # 125 tasks x 4 bucket dirs => ~500 files
    (df.withColumn("__bucket", v.bucket_expr())
       .repartition(125).write.mode("overwrite").partitionBy("__bucket").parquet(wd))
    n_files = sum(1 for dp, _dn, fns in _os.walk(wd) for f in fns if f.endswith(".parquet"))
    assert n_files >= 400

    sc = spark.sparkContext._jsc.sc()
    store = sc.statusStore()
    sc.listenerBus().waitUntilEmpty()
    jobs_before = store.jobsList(None).size()
    entries = v._register_written_files(wd, 0)
    sc.listenerBus().waitUntilEmpty()
    assert store.jobsList(None).size() == jobs_before
    assert len(entries) == n_files
    assert sum(e["rows"] for e in entries) == 2000
    assert all(e["min_key"] is not None and e["min_key"] <= e["max_key"]
               for e in entries if e["rows"] > 0)

    v.commit(add_write_dir=wd, replace_buckets=None, batch_id="many",
             manifest={"batch_id": "many"})
    assert v.scan().count() == 2000
    assert sum(f["rows"] for f in v.snapshot().files) == 2000


def test_lifecycle_property_commits_compact_expire(spark, tmp_path):
    """Model-checked lifecycle: a deterministic pseudo-random interleaving of
    COW bucket-replaces, MOR delta-appends, bucket-scoped compactions,
    full compactions and expiries must always read back exactly the model's
    LWW state (key -> last_seq winner), and expiry must never delete a file
    a live snapshot still references."""
    import os as _os
    import random as _random

    import pyspark.sql.functions as F

    from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import LakeVault

    rng = _random.Random(1234)
    root = str(tmp_path / "t")
    v = LakeVault.create(spark, root, [("repo", "string"), ("path", "string"),
                                       ("content_sha256", "string"), ("last_seq", "long"),
                                       ("is_deleted", "boolean")],
                         key_cols=("repo", "path"), n_buckets=4)
    model: dict[tuple[str, str], int] = {}
    seq = 0

    def write_batch(delta: bool, i: int):
        nonlocal seq
        keys = [(f"r{rng.randrange(6)}", f"p{rng.randrange(12)}") for _ in range(rng.randrange(3, 9))]
        rows = []
        for repo, path in keys:
            seq += 1
            model[(repo, path)] = seq
            rows.append((repo, path, f"sha{seq}", seq, False))
        df = spark.createDataFrame(
            rows, "repo string, path string, content_sha256 string, last_seq long, is_deleted boolean")
        wd = v.new_write_dir(f"s{i}")
        if delta:
            # MOR: append only this batch's winners as delta files
            (df.withColumn("__bucket", v.bucket_expr())
               .repartition(1).write.mode("overwrite").partitionBy("__bucket").parquet(wd))
            v.commit(add_write_dir=wd, replace_buckets=[], batch_id=f"b{i}",
                     manifest={"i": i}, delta=True, summary={"operation": "merge"})
        else:
            # COW: merge batch over the affected buckets' current rows
            buckets = sorted({r["b"] for r in
                              df.select(v.bucket_expr().alias("b")).distinct().collect()})
            existing = v.scan(buckets=buckets)
            merged = (existing.unionByName(df)
                      .groupBy("repo", "path")
                      .agg(F.max_by(F.struct("content_sha256", "last_seq", "is_deleted"),
                                    F.col("last_seq")).alias("w"))
                      .select("repo", "path", "w.content_sha256", "w.last_seq", "w.is_deleted"))
            (merged.withColumn("__bucket", v.bucket_expr())
                   .repartition(1).write.mode("overwrite").partitionBy("__bucket").parquet(wd))
            v.commit(add_write_dir=wd, replace_buckets=buckets, batch_id=f"b{i}",
                     manifest={"i": i}, summary={"operation": "merge"})

    def check():
        got = {(r["repo"], r["path"]): r["last_seq"] for r in v.scan().collect()}
        assert got == model, (
            f"state diverged: extra={set(got) - set(model)} missing={set(model) - set(got)} "
            f"wrong={[k for k in got if k in model and got[k] != model[k]][:5]}"
        )
        # no dangling references: every live snapshot's files exist on disk
        for sid in v.snapshot_ids():
            for f in v.snapshot(sid).files:
                assert _os.path.exists(_os.path.join(root, f["path"])), (sid, f["path"])

    for i in range(24):
        op = rng.random()
        if op < 0.45:
            write_batch(delta=True, i=i)
        elif op < 0.8:
            write_batch(delta=False, i=i)
        elif op < 0.9:
            v.compact(buckets=[rng.randrange(4)])
        else:
            v.compact()
        if rng.random() < 0.4:
            v.expire_snapshots(keep_last=rng.choice([1, 2, 3]))
        check()
    v.expire_snapshots(keep_last=1)
    check()


def test_distributed_harvest_preserves_numeric_key_stats(spark, tmp_path):
    """min/max key stats must keep their TYPE through the harvest of a
    many-file commit: a numeric first key column stored as '9'/'100' strings
    would mis-prune lexicographically against key ranges."""
    from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import LakeVault

    root = str(tmp_path / "t")
    v = LakeVault.create(spark, root, [("k", "long"), ("path", "string"),
                                       ("last_seq", "long")],
                         key_cols=("k", "path"), n_buckets=4)
    df = spark.range(600).selectExpr("id k", "concat('p', id) path", "id last_seq")
    wd = v.new_write_dir("nk")
    (df.withColumn("__bucket", v.bucket_expr())
       .repartition(40).write.mode("overwrite").partitionBy("__bucket").parquet(wd))
    entries = v._register_written_files(wd, 0)
    assert all(isinstance(e["min_key"], int) for e in entries if e["min_key"] is not None)

    v.commit(add_write_dir=wd, replace_buckets=None, batch_id="nk", manifest={})
    # numeric key-range pruning works end-to-end (superset guarantee + filter)
    import pyspark.sql.functions as F
    got = v.scan(key_range=(5, 9)).where(F.col("k").between(5, 9)).count()
    assert got == 5


def test_nan_key_probes_keep_the_file_holding_nan(spark, tmp_path):
    """Spark sorts NaN above every other value. A Spark-written file holding
    1.0, NaN and 2.0 records max = NaN in its footer, and a pyarrow-written
    one (the lakevault writer) records [1.0, 2.0], skipping NaN. Neither may
    let a probe that matches the NaN row prune the file: the NaN point probe
    on both read paths, and ``k >= 5`` on a key range. One bucket and one
    write task, so the NaN row shares its file with the others."""
    from observability_platform___databricks_etl_pipeline_spark.sources import lakevault_ds

    nan = float("nan")
    rows = [(1.0, 1, 10), (nan, 2, 20), (2.0, 3, 30)]
    cols = [("k", "double"), ("last_seq", "long"), ("v", "int")]
    ddl = "k double, last_seq long, v int"
    lakevault_ds.register(spark)

    sv = LakeVault.create(spark, str(tmp_path / "spark"), cols, key_cols=("k",), n_buckets=1)
    wd = sv.new_write_dir("nan")
    (spark.createDataFrame(rows, ddl).withColumn("__bucket", sv.bucket_expr())
       .repartition(1).write.mode("overwrite").partitionBy("__bucket").parquet(wd))
    sv.commit(add_write_dir=wd, replace_buckets=None, batch_id="nan", manifest={})
    assert sv.scan().where(F.isnan("k")).count() == 1
    assert sv.scan(key_equals=(nan,)).where(F.isnan("k")).count() == 1
    ds = spark.read.format("lakevault").load(sv.root)
    assert ds.where(F.col("k") == nan).count() == 1

    pv = LakeVault.create(spark, str(tmp_path / "arrow"), cols, key_cols=("k",), n_buckets=1)
    spark.createDataFrame(rows, ddl).coalesce(1).write.format("lakevault").mode("append").save(
        pv.root
    )
    assert pv.scan().where("k >= 5").count() == 1  # the NaN row
    assert pv.scan(key_range=(5.0, None)).where("k >= 5").count() == 1
    assert pv.scan(key_equals=(nan,)).where(F.isnan("k")).count() == 1


# ---- per-column stats + data skipping (round 5) ---------------------------


def _mk_scored(spark, tmp_path, with_quality=False):
    cols = [("repo", "string"), ("path", "string"), ("score", "long"),
            ("content_sha256", "string"), ("last_seq", "long"),
            ("is_deleted", "boolean")]
    if with_quality:
        cols.insert(3, ("quality", "double"))
    return LakeVault.create(spark, str(tmp_path / "t"), cols,
                            key_cols=("repo", "path"), n_buckets=4)


def _scored_df(spark, prefix, base_score, quality=None):
    exprs = ["concat('r', id % 4) repo", f"concat('{prefix}', id) path",
             f"id + {base_score} score"]
    if quality is not None:
        exprs.append(f"cast(id as double) / 10 + {quality} quality")
    exprs += ["cast(md5(cast(id as string)) as string) content_sha256",
              "id last_seq", "false is_deleted"]
    return spark.range(100).selectExpr(*exprs)


def test_column_stats_data_skipping(spark, tmp_path):
    """scan(column_ranges=...) skips files whose manifest col_stats span
    can't intersect the range — and stays a superset (row-filter parity)."""
    v = _mk_scored(spark, tmp_path)
    _commit_df(spark, v, _scored_df(spark, "lo", 0), "lo", replace_buckets=[])
    _commit_df(spark, v, _scored_df(spark, "hi", 1000), "hi", replace_buckets=[])
    assert all(e.get("col_stats", {}).get("score") for e in v.snapshot().files)

    full = v.scan().where("score >= 1000").orderBy("path")
    pruned = v.scan(column_ranges={"score": (1000, None)}).where("score >= 1000").orderBy("path")
    assert pruned.collect() == full.collect()
    # the skip actually happened: no file from the lo commit is read
    assert 0 < len(pruned.inputFiles()) < len(v.scan().inputFiles())
    assert all("-lo-" not in p for p in pruned.inputFiles())
    # half-open low side + point range
    assert (v.scan(column_ranges={"score": (None, 50)}).where("score <= 50").count()
            == full.sparkSession.createDataFrame([], "x int").count() + 51)
    assert all("-hi-" not in p
               for p in v.scan(column_ranges={"score": (None, 50)}).inputFiles())
    # unknown column is a loud error, not a silent no-op
    import pytest as _pytest
    with _pytest.raises(ValueError, match="column_ranges"):
        v.scan(column_ranges={"nope": (1, 2)})


def test_column_skipping_survives_rename(spark, tmp_path):
    """col_stats are stored under the file's PHYSICAL column names and
    looked up by column id — a rename must not zero out skipping (nor,
    worse, mis-prune). Mirrors the gate WAL's quality->quality_score
    rename."""
    v = _mk_scored(spark, tmp_path, with_quality=True)
    _commit_df(spark, v, _scored_df(spark, "lo", 0, quality=0.0), "lo", replace_buckets=[])
    _commit_df(spark, v, _scored_df(spark, "hi", 0, quality=100.0), "hi", replace_buckets=[])
    s2 = v.snapshot().schema.rename_column("quality", "quality_score")
    v.commit(add_write_dir=None, replace_buckets=[], batch_id="ren", manifest={}, new_schema=s2)

    full = v.scan().where("quality_score >= 100").orderBy("path")
    pruned = (v.scan(column_ranges={"quality_score": (100.0, None)})
                .where("quality_score >= 100").orderBy("path"))
    assert pruned.collect() == full.collect()
    assert full.count() == 100
    assert all("-lo-" not in p for p in pruned.inputFiles())


def test_column_skipping_noop_under_mor_deltas(spark, tmp_path):
    """A MOR delta can carry the WINNING row of a key whose value moved out
    of range; skipping by a non-key column there would resurrect the stale
    in-range base row. The scan must disable column skipping while deltas
    are live (correct result, no pruning) and re-enable it after compact."""
    v = _mk_scored(spark, tmp_path)
    _commit_df(spark, v, _scored_df(spark, "k", 1000), "base", replace_buckets=None)
    # update every key: score drops OUT of [1000, inf), seq advances
    upd = _scored_df(spark, "k", 0).withColumn("last_seq", F.col("last_seq") + 1000)
    _commit_df(spark, v, upd, "upd", replace_buckets=[], delta=True)

    ranged = v.scan(column_ranges={"score": (1000, None)}).where("score >= 1000")
    assert ranged.count() == 0  # LWW winners all < 1000: nothing resurrected
    assert set(v.scan(column_ranges={"score": (1000, None)}).inputFiles()) == set(
        v.scan().inputFiles())  # skipping was a no-op, not a wrong prune
    v.compact()
    after = v.scan(column_ranges={"score": (1000, None)})
    assert after.where("score >= 1000").count() == 0
    assert len(after.inputFiles()) == 0  # deltas folded: skipping active again


def test_compact_cluster_by_makes_column_skipping_prune(spark, tmp_path):
    """Without clustering, every file straddles the score predicate and
    column-range skipping prunes nothing; compact(cluster_by=["score"])
    range-sorts the rows so per-file score spans are tight and scan()
    drops whole files within buckets (Iceberg sort-order / ZORDER play)."""
    v = _mk_scored(spark, tmp_path)
    # interleaved scores: every bucket's single file spans ~0..199
    df = spark.range(200).selectExpr(
        "concat('r', id % 4) repo", "concat('p', id) path",
        "(id * 37) % 200 score",
        "cast(md5(cast(id as string)) as string) content_sha256",
        "id last_seq", "false is_deleted",
    )
    _commit_df(spark, v, df, "a", replace_buckets=None)

    expected = sorted(
        (r["repo"], r["path"], r["score"])
        for r in v.scan().where("score >= 150").collect()
    )
    # pre-compact: the range predicate intersects every file's span
    before = v.scan(column_ranges={"score": (150, None)})
    assert len(before.inputFiles()) == len(v.scan().inputFiles())

    sid = v.compact(target_file_rows=50, cluster_by=["score"])
    assert v.snapshot(sid).summary["cluster_by"] == ["score"]

    after = v.scan(column_ranges={"score": (150, None)})
    got = sorted(
        (r["repo"], r["path"], r["score"])
        for r in after.where("score >= 150").collect()
    )
    assert got == expected  # clustering rewrote layout, not content
    n_all = len(v.scan().inputFiles())
    n_hit = len(after.inputFiles())
    assert 0 < n_hit < n_all, (n_hit, n_all)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="cluster_by"):
        v.compact(cluster_by=["nope"])

    # validation fires even on an EMPTY table (a typo'd maintenance job
    # must fail on its first run, not once data arrives)
    empty = _mk_scored(spark, tmp_path / "empty")
    with _pytest.raises(ValueError, match="cluster_by"):
        empty.compact(cluster_by=["nope"])


def test_delete_where_rewrites_only_affected_buckets(spark, tmp_path):
    """Predicate DELETE: matching rows vanish, NULL-predicate rows are
    KEPT (SQL semantics), and only buckets containing matches are
    rewritten — untouched buckets carry by manifest reference."""
    v = _mk_scored(spark, tmp_path, with_quality=True)
    # quality NULL for r0 rows → predicate `quality < 0.2 AND score >= 150`
    # is NULL there; scores interleave so matches cluster in some buckets
    df = spark.range(200).selectExpr(
        "concat('r', id % 4) repo", "concat('p', id) path",
        "id score",
        "case when id % 4 = 0 then cast(null as double) "
        "     else (id % 10) / 10.0 end quality",
        "cast(md5(cast(id as string)) as string) content_sha256",
        "id last_seq", "false is_deleted",
    )
    _commit_df(spark, v, df, "a", replace_buckets=None)
    pre = {f["path"]: f for f in v.snapshot().files}

    # matches only ids 150 and 151 (quality<0.2 ⇒ id%10 in {0,1}, NULLs
    # excluded; 150≤score<160) — 2 keys can occupy at most 2 of the 4 buckets, so the
    # carried-by-reference assertion below is guaranteed non-vacuous
    expected = sorted(
        r["path"]
        for r in v.scan().where(
            "NOT coalesce(quality < 0.2 AND score >= 150 AND score < 160, false)"
        ).collect()
    )
    sid = v.delete("quality < 0.2 AND score >= 150 AND score < 160")
    snap = v.snapshot(sid)
    assert snap.summary["operation"] == "delete"
    affected = set(snap.summary["buckets"])
    assert 0 < len(affected) <= 2 < v.n_buckets

    got = sorted(r["path"] for r in v.scan().collect())
    assert got == expected  # matches gone, NULL-predicate rows kept

    # untouched buckets: identical file entries carried by reference
    post = {f["path"]: f for f in snap.files}
    for p, f in pre.items():
        if f["bucket"] not in affected:
            assert p in post and post[p]["rows"] == f["rows"]
    # derivable deleted count from the committed summary alone
    after_rows = sum(
        r["rows"] for r in snap.manifest_refs if r["bucket"] in affected
    )
    removed = snap.summary["rows_before"] - after_rows
    assert removed == 200 - len(expected)
    assert snap.summary["rows_before_exact"] is True

    # no-op delete: nothing matches → same snapshot id, zero new commits
    assert v.delete("score > 100000") == sid


def test_update_where_original_row_semantics(spark, tmp_path):
    """Predicate UPDATE evaluates set expressions against the ORIGINAL row
    (even when assigned columns reference each other), casts to the
    existing column type, and rewrites only affected buckets."""
    v = _mk_scored(spark, tmp_path, with_quality=True)
    df = spark.range(100).selectExpr(
        "concat('r', id % 4) repo", "concat('p', id) path",
        "id score", "(id % 10) / 10.0 quality",
        "cast(md5(cast(id as string)) as string) content_sha256",
        "id last_seq", "false is_deleted",
    )
    _commit_df(spark, v, df, "a", replace_buckets=None)

    # swap-style assignment: score := score + quality*10, quality := score/100
    # — both must see ORIGINAL values (quality's expr uses original score)
    sid = v.update(
        {"score": "score + cast(quality * 10 as long)", "quality": "score / 100.0"},
        where="score >= 50",
    )
    snap = v.snapshot(sid)
    assert snap.summary["operation"] == "update"
    rows = {r["path"]: r for r in v.scan().collect()}
    for i in range(100):
        r = rows[f"p{i}"]
        if i >= 50:
            assert r["score"] == i + (i % 10), i       # original quality*10
            assert abs(r["quality"] - i / 100.0) < 1e-12, i  # original score
        else:
            assert r["score"] == i and abs(r["quality"] - (i % 10) / 10.0) < 1e-12
    # schema unchanged (casts applied)
    assert [c["name"] for c in snap.schema.columns] == [
        c["name"] for c in v.snapshot(sid - 1).schema.columns
    ]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="key columns"):
        v.update({"path": "'x'"}, where="score > 0")
    with _pytest.raises(ValueError, match="not in the current schema"):
        v.update({"nope": "1"}, where="score > 0")
    # no matches → no-op
    assert v.update({"score": "0"}, where="score > 100000") == sid


def test_delete_folds_mor_deltas_in_affected_buckets(spark, tmp_path):
    """DELETE over a table with live MOR deltas: the rewrite folds the
    deltas of affected buckets (LWW winners judged, not stale base rows),
    and the delete predicate applies to the FOLDED state."""
    v = _mk_scored(spark, tmp_path)
    base = spark.range(40).selectExpr(
        "concat('r', id % 4) repo", "concat('p', id) path", "id score",
        "cast(md5(cast(id as string)) as string) content_sha256",
        "id last_seq", "false is_deleted",
    )
    _commit_df(spark, v, base, "a", replace_buckets=None)
    # delta moves p0..p9 scores up to 1000+: they now match `score >= 1000`
    delta = spark.range(10).selectExpr(
        "concat('r', id % 4) repo", "concat('p', id) path",
        "id + 1000 score",
        "cast(md5(concat('d', cast(id as string))) as string) content_sha256",
        "id + 100 last_seq", "false is_deleted",
    )
    _commit_df(spark, v, delta, "d", replace_buckets=None, delta=True)

    v.delete("score >= 1000")
    got = sorted(int(r["path"][1:]) for r in v.scan().collect())
    assert got == list(range(10, 40))  # updated winners deleted, rest intact
    # affected buckets' deltas folded away by the rewrite
    assert not any(f.get("delta") for f in v.snapshot().files)


def test_restore_rolls_content_forward(spark, tmp_path):
    """RESTORE: a new snapshot carries the target's refs/schema — content
    equals the old state, history and the exactly-once batch log intact;
    expire keeps the restored refs live; expired targets refuse cleanly."""
    v = _mk_scored(spark, tmp_path)
    _commit_df(spark, v, _scored_df(spark, "a", 0), "b1", replace_buckets=None)
    good = v.current_snapshot_id()
    good_rows = sorted(r["path"] for r in v.scan().collect())

    # the "bad write": a full-bucket replace that drops half the rows
    bad_df = v.scan().where("score < 10")
    wd = v.new_write_dir("bad")
    (bad_df.withColumn("__bucket", v.bucket_expr())
        .repartition(1).write.mode("overwrite").partitionBy("__bucket").parquet(wd))
    v.commit(add_write_dir=wd, replace_buckets=list(range(v.n_buckets)),
             batch_id="bad", manifest={"batch_id": "bad"})
    assert len(v.scan().collect()) < len(good_rows)

    sid = v.restore(good)
    assert sid == v.current_snapshot_id()
    assert sorted(r["path"] for r in v.scan().collect()) == good_rows
    assert v.snapshot(sid).summary["restored_from"] == good
    # history intact: the bad snapshot is still time-travelable
    assert v.scan(snapshot_id=sid - 1).count() < len(good_rows)
    # exactly-once survives: the bad batch is still a recorded no-op
    assert "bad" in v.committed_batches()
    assert v.commit(add_write_dir=None, replace_buckets=[], batch_id="bad",
                    manifest={}) == sid

    # restoring the current head is a no-op
    assert v.restore(sid) == sid

    # expire: restored refs are referenced by the head → files stay live
    v.expire_snapshots(keep_last=1, orphan_grace_sec=0.0)
    assert sorted(r["path"] for r in v.scan().collect()) == good_rows
    # the expired bad snapshot is no longer restorable — clean refusal
    import pytest as _pytest
    with _pytest.raises((FileNotFoundError, ValueError)):
        v.restore(sid - 1)


def test_dml_guards_and_pinned_base_conflict(spark, tmp_path):
    """Guard rails from the r5 review: (1) commit(base_snapshot_id=...)
    pinned at a snapshot an interleaved commit has since overlapped raises
    CommitConflict instead of clobbering; (2) predicate DML refuses tables
    with bucket-less manifest entries; (3) update({}) refuses."""
    import json as _json

    import pytest as _pytest

    from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import CommitConflict

    v = _mk_scored(spark, tmp_path)
    df = spark.range(40).selectExpr(
        "concat('r', id % 4) repo", "concat('p', id) path", "id score",
        "cast(md5(cast(id as string)) as string) content_sha256",
        "id last_seq", "false is_deleted",
    )
    _commit_df(spark, v, df, "a", replace_buckets=None)
    pinned = v.current_snapshot_id()
    some_bucket = v.snapshot().files[0]["bucket"]

    # a long-running rewrite computed against `pinned`...
    wd = v.new_write_dir("slow")
    (df.limit(3).withColumn("__bucket", v.bucket_expr())
       .repartition(1).write.mode("overwrite").partitionBy("__bucket").parquet(wd))
    # ...while another commit lands on an overlapping bucket
    _commit_df(spark, v, df.limit(8), "interleaved", replace_buckets=None)

    with _pytest.raises(CommitConflict, match="concurrent writes to buckets"):
        v.commit(add_write_dir=wd, replace_buckets=[some_bucket],
                 batch_id=None, base_snapshot_id=pinned)

    with _pytest.raises(ValueError, match="at least one column assignment"):
        v.update({}, where="score > 0")

    # bucket-less entry → DML refuses (a scoped rewrite would let
    # matching rows in that file silently survive)
    snap = v.snapshot()
    doctored = snap.to_json()
    doctored["manifest_refs"][0]["bucket"] = None
    with open(v._snap_path(snap.snapshot_id), "w") as f:
        _json.dump(doctored, f)
    v2 = LakeVault.load(spark, v.root)
    with _pytest.raises(ValueError, match="bucket-less"):
        v2.delete("score > 0")
    with _pytest.raises(ValueError, match="bucket-less"):
        v2.update({"score": "0"}, where="score > 0")


def test_inspection_metadata_tables(spark, tmp_path):
    """inspect_snapshots / inspect_partitions / inspect_files /
    inspect_schemas answer from table metadata only (no data file reads) and
    agree with the manifest ground truth, including after schema evolution
    and at a time-travel snapshot."""
    v = _mk(spark, tmp_path, [("r1", "a.py", 1, False), ("r2", "b.py", 2, False)])
    sid1 = v.current_snapshot_id()
    # evolve in three committed steps: add -> rename -> drop of a scratch
    # column (each version lands in schema history), plus one data commit
    sch = v.snapshot().schema.add_column("tmp", "double")
    wd = v.new_write_dir("more")
    df = spark.createDataFrame(
        [("r3", "c.py", 3, False, 1.5)],
        "repo string, path string, last_seq long, is_deleted boolean, tmp double",
    )
    (
        df.withColumn("__bucket", v.bucket_expr())
        .repartition(1, "__bucket").write.mode("overwrite")
        .partitionBy("__bucket").parquet(wd)
    )
    v.commit(add_write_dir=wd, replace_buckets=None, batch_id="b1",
             manifest={"batch_id": "b1"}, new_schema=sch)
    v.commit(add_write_dir=None, replace_buckets=[], batch_id="b1r",
             manifest={"batch_id": "b1r"},
             new_schema=v.snapshot().schema.rename_column("tmp", "tmp2"))
    v.commit(add_write_dir=None, replace_buckets=[], batch_id="b2",
             manifest={"batch_id": "b2"},
             new_schema=v.snapshot().schema.drop_column("tmp2"))

    snaps = {r["snapshot_id"]: r for r in v.inspect_snapshots().collect()}
    assert set(snaps) == set(v.snapshot_ids())
    head = v.snapshot()
    assert snaps[head.snapshot_id]["total_files"] == len(head.files)
    assert snaps[head.snapshot_id]["total_rows"] == sum(f["rows"] for f in head.files)
    assert snaps[min(snaps)]["operation"] == "create"

    parts = v.inspect_partitions().collect()
    assert sum(r["n_files"] for r in parts) == len(head.files)
    assert sum(r["rows"] for r in parts) == 3
    assert all(r["delta_files"] == 0 for r in parts)

    files = v.inspect_files().collect()
    assert len(files) == len(head.files)
    assert {f["path"] for f in files} == {f["path"] for f in head.files}
    assert sum(f["rows"] for f in files) == 3
    # time travel: the metadata table is snapshot-pinned like scan()
    old_files = v.inspect_files(sid1).collect()
    assert len(old_files) == len(v.snapshot(sid1).files)
    assert sum(f["rows"] for f in old_files) == 2

    sv = v.inspect_schemas().collect()
    by_version = {}
    for r in sv:
        by_version.setdefault(r["schema_id"], {})[r["name"]] = (r["column_id"], r["type"])
    versions = sorted(by_version)
    assert any("tmp" in cols for cols in by_version.values())
    # rename kept the id; drop removed the name from the head version
    ids = {cols["tmp"][0] for cols in by_version.values() if "tmp" in cols}
    ids2 = {cols["tmp2"][0] for cols in by_version.values() if "tmp2" in cols}
    assert ids == ids2  # same column id across the rename
    assert "tmp2" not in by_version[versions[-1]]


def _mk_merge_tbl(spark, tmp_path, name="mtbl"):
    root = str(tmp_path / name)
    v = LakeVault.create(
        spark, root,
        [("repo", "string"), ("path", "string"), ("last_seq", "long"),
         ("lang", "string"), ("score", "double")],
        key_cols=("repo", "path"), n_buckets=8,
    )
    rows = [(f"r{i % 4}", f"f{i}.py", i, "python", float(i)) for i in range(40)]
    wd = v.new_write_dir("seed")
    df = spark.createDataFrame(
        rows, "repo string, path string, last_seq long, lang string, score double"
    )
    (
        df.withColumn("__bucket", v.bucket_expr())
        .repartition(4, "__bucket").write.mode("overwrite")
        .partitionBy("__bucket").parquet(wd)
    )
    v.commit(add_write_dir=wd, replace_buckets=None, batch_id="seed",
             manifest={"batch_id": "seed"})
    return v, {(r[0], r[1]): r for r in rows}


def test_merge_upsert_default(spark, tmp_path):
    """Default MERGE = upsert: matched rows take every shared non-key column
    from the source, unmatched source rows insert (missing columns typed
    null), untouched buckets carry by manifest reference (file identity)."""
    v, base = _mk_merge_tbl(spark, tmp_path)
    before_files = {f["path"]: f for f in v.snapshot().files}
    src = spark.createDataFrame(
        [("r0", "f0.py", 100, 9.5), ("r9", "new.py", 101, 1.0)],
        "repo string, path string, last_seq long, score double",
    )  # no 'lang' column: update leaves it, insert null-backfills it
    v.merge(src)
    got = {(r["repo"], r["path"]): r for r in v.scan().collect()}
    assert len(got) == 41
    u = got[("r0", "f0.py")]
    assert (u["last_seq"], u["score"], u["lang"]) == (100, 9.5, "python")
    i = got[("r9", "new.py")]
    assert (i["last_seq"], i["score"], i["lang"]) == (101, 1.0, None)
    # every other row unchanged
    for k, r in base.items():
        if k in (("r0", "f0.py"),):
            continue
        assert (got[k]["last_seq"], got[k]["score"]) == (r[2], r[4])
    # bucket scoping: files of buckets the source never touched are the
    # SAME file entries (carried by reference, not rewritten)
    src_buckets = {
        r["__b"] for r in src.select(v.bucket_expr().alias("__b")).distinct().collect()
    }
    after_files = {f["path"]: f for f in v.snapshot().files}
    for p, f in before_files.items():
        if f["bucket"] not in src_buckets:
            assert p in after_files, f"untouched bucket {f['bucket']} was rewritten"


def test_merge_expressions_and_delete_clause(spark, tmp_path):
    """Expression assignments see both sides (t./s.); the delete clause wins
    over update on the rows it matches; insert can be disabled."""
    v, _ = _mk_merge_tbl(spark, tmp_path, "mtbl2")
    src = spark.createDataFrame(
        [("r0", "f0.py", 1.0), ("r1", "f1.py", 2.0), ("r9", "ghost.py", 3.0)],
        "repo string, path string, bump double",
    )
    v.merge(
        src,
        when_matched_update={"score": "t.score + s.bump", "lang": "'merged'"},
        when_matched_delete="s.bump > 1.5",
        when_not_matched_insert=False,
    )
    got = {(r["repo"], r["path"]): r for r in v.scan().collect()}
    assert ("r9", "ghost.py") not in got          # insert disabled
    assert ("r1", "f1.py") not in got             # delete clause (bump 2.0)
    assert got[("r0", "f0.py")]["score"] == 1.0   # 0.0 + 1.0
    assert got[("r0", "f0.py")]["lang"] == "merged"
    assert len(got) == 39


def test_merge_guards(spark, tmp_path):
    """Cardinality violation, null keys, key reassignment, unknown columns
    and bad sentinel all raise before any write."""
    import pytest

    v, _ = _mk_merge_tbl(spark, tmp_path, "mtbl3")
    sid = v.current_snapshot_id()
    dup = spark.createDataFrame(
        [("r0", "f0.py", 1.0), ("r0", "f0.py", 2.0)],
        "repo string, path string, score double",
    )
    with pytest.raises(ValueError, match="multiple rows per key"):
        v.merge(dup)
    nk = spark.createDataFrame(
        [(None, "f0.py", 1.0)], "repo string, path string, score double"
    )
    with pytest.raises(ValueError, match="null key"):
        v.merge(nk)
    ok = spark.createDataFrame(
        [("r0", "f0.py", 1.0)], "repo string, path string, score double"
    )
    with pytest.raises(ValueError, match="key columns"):
        v.merge(ok, when_matched_update={"repo": "'x'"})
    with pytest.raises(ValueError, match="not in the current schema"):
        v.merge(ok, when_matched_update={"nope": "1"})
    with pytest.raises(ValueError, match="sentinel"):
        v.merge(ok, when_matched_update="all")
    missing = spark.createDataFrame([(1.0,)], "score double")
    with pytest.raises(ValueError, match="lacks key columns"):
        v.merge(missing)
    # mistyped key: murmur3 of the wrong dtype hashes to the wrong bucket,
    # which would land files outside replace_buckets — must raise up front
    mistyped = spark.createDataFrame(
        [(0, "f0.py", 1.0)], "repo long, path string, score double"
    )
    with pytest.raises(ValueError, match="wrong bucket"):
        v.merge(mistyped)
    assert v.current_snapshot_id() == sid  # nothing committed


def test_merge_empty_source_noop(spark, tmp_path):
    v, _ = _mk_merge_tbl(spark, tmp_path, "mtbl4")
    sid = v.current_snapshot_id()
    empty = spark.createDataFrame([], "repo string, path string, score double")
    assert v.merge(empty) == sid


def test_merge_folds_mor_deltas(spark, tmp_path):
    """A merge into buckets carrying MOR delta files folds them: the rewrite
    reads the LWW view and the committed bucket has no deltas left."""
    v, _ = _mk_merge_tbl(spark, tmp_path, "mtbl5")
    delta = spark.createDataFrame(
        [("r0", "f0.py", 50, "go", 7.0)],
        "repo string, path string, last_seq long, lang string, score double",
    )
    _commit_df(spark, v, delta, "d1", replace_buckets=[], delta=True)
    assert any(f.get("delta") for f in v.snapshot().files)
    src = spark.createDataFrame(
        [("r0", "f0.py", 99, 0.5)],
        "repo string, path string, last_seq long, score double",
    )
    v.merge(src)
    got = {(r["repo"], r["path"]): r for r in v.scan().collect()}
    u = got[("r0", "f0.py")]
    # merge saw the post-delta LWW row (lang 'go') and updated seq/score
    assert (u["last_seq"], u["lang"], u["score"]) == (99, "go", 0.5)
    src_buckets = {
        r["__b"] for r in src.select(v.bucket_expr().alias("__b")).distinct().collect()
    }
    assert not any(
        f.get("delta") for f in v.snapshot().files if f["bucket"] in src_buckets
    )
