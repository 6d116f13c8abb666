"""The ``lakevault`` Spark data source (sources/lakevault_ds.py): parity of
``spark.read.format("lakevault")`` with ``LakeVault.scan()`` across schema
evolution and merge-on-read, filter-pushdown file pruning, the batch change
feed vs ``scan_changes``, and the Structured Streaming change feed with
checkpoint restart."""

import datetime

import pyspark.sql.functions as F
import pytest

from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import LakeVault
from observability_platform___databricks_etl_pipeline_spark.sources import lakevault_ds
from observability_platform___databricks_etl_pipeline_spark.sources.lakevault_ds import (
    _SnapshotBatchReader,
)

COLS = [
    ("repo", "string"),
    ("path", "string"),
    ("last_seq", "long"),
    ("n", "int"),
    ("ts", "timestamp"),
]
DDL = "repo string, path string, last_seq long, n int, ts timestamp"


def _ts(s):
    return datetime.datetime(2024, 1, 1, 0, 0, s)


def _commit(spark, v, rows, batch_id, ddl=DDL, replace_buckets=None, delta=False):
    wd = v.new_write_dir(batch_id)
    df = spark.createDataFrame(rows, ddl)
    (
        df.withColumn("__bucket", v.bucket_expr())
        .repartition(2, "__bucket")
        .write.mode("overwrite")
        .partitionBy("__bucket")
        .parquet(wd)
    )
    return v.commit(
        add_write_dir=wd,
        replace_buckets=replace_buckets,
        batch_id=batch_id,
        manifest={"batch_id": batch_id},
        delta=delta,
    )


def _register(spark):
    # idempotent: re-registering the same name just replaces the entry
    lakevault_ds.register(spark)


def _rows(df):
    def norm(v):
        if hasattr(v, "asDict"):  # Row (the _before struct)
            return tuple(norm(x) for x in v)
        return v

    return sorted(tuple(norm(v) for v in r) for r in df.collect())


@pytest.fixture()
def evolved_mor_table(spark, tmp_path):
    """A table that exercises every read-side alignment rule: rows written
    under schema v0, then rename + add + int→long promotion, rows under the
    new schema, then a MOR delta commit whose winners must LWW-beat base
    rows (including a duplicate last_seq resolved by commit ordinal)."""
    root = str(tmp_path / "t")
    v = LakeVault.create(spark, root, COLS, key_cols=("repo", "path"), n_buckets=4)
    base = [
        ("r1", "a.py", 1, 10, _ts(1)),
        ("r1", "b.py", 2, 20, _ts(2)),
        ("r2", "c.py", 3, 30, _ts(3)),
        ("r3", "d.py", 4, 40, _ts(4)),
    ]
    _commit(spark, v, base, "b0")
    # rename n -> size, promote size int->long, add quality double
    s = v.snapshot().schema.rename_column("n", "size")
    s = s.promote_column("size", "long")
    s = s.add_column("quality", "double")
    v.commit(add_write_dir=None, replace_buckets=None, batch_id="schema1", new_schema=s)
    ddl2 = "repo string, path string, last_seq long, size long, ts timestamp, quality double"
    _commit(
        spark,
        v,
        [("r4", "e.py", 5, 50, _ts(5), 0.5)],
        "b1",
        ddl=ddl2,
    )
    # MOR deltas: update r1/a.py (higher seq) and r2/c.py (SAME seq 3 — the
    # later commit ordinal must win), insert r5/f.py
    _commit(
        spark,
        v,
        [
            ("r1", "a.py", 9, 11, _ts(9), 0.9),
            ("r2", "c.py", 3, 31, _ts(3), 0.3),
            ("r5", "f.py", 6, 60, _ts(6), 0.6),
        ],
        "b2",
        ddl=ddl2,
        delta=True,
    )
    return root, v


def test_ds_batch_matches_scan_across_evolution_and_mor(spark, evolved_mor_table):
    root, v = evolved_mor_table
    _register(spark)
    ds = spark.read.format("lakevault").load(root)
    assert ds.columns == v.scan().columns
    assert _rows(ds) == _rows(v.scan())
    # the MOR winners specifically
    got = {(r["repo"], r["path"]): (r["size"], r["quality"]) for r in ds.collect()}
    assert got[("r1", "a.py")] == (11, 0.9)
    assert got[("r2", "c.py")] == (31, 0.3)  # equal seq: later commit wins
    assert got[("r1", "b.py")] == (20, None)  # v0 row: promoted + null backfill


def test_ds_time_travel_and_tag(spark, evolved_mor_table):
    root, v = evolved_mor_table
    _register(spark)
    sids = v.snapshot_ids()
    first_data = sids[1]  # snapshot written by b0
    ds0 = spark.read.format("lakevault").option("snapshotId", first_data).load(root)
    assert _rows(ds0) == _rows(v.scan(first_data))
    assert ds0.columns == ["repo", "path", "last_seq", "n", "ts"]  # pre-rename schema
    v.create_tag("audited", first_data)
    dst = spark.read.format("lakevault").option("tag", "audited").load(root)
    assert _rows(dst) == _rows(v.scan(first_data))


def test_ds_filter_pushdown_prunes_files(spark, tmp_path):
    """An EqualTo on the first key column reaches the manifest pruner: the
    planned file set is a strict subset of the snapshot's files that still
    holds the key's bucket, and the row-level result matches scan()+filter
    (pruning is a superset, Spark re-applies the predicate)."""
    from pyspark.sql.datasource import EqualTo

    from observability_platform___databricks_etl_pipeline_spark.plans.sparkhash import bucket_of

    root = str(tmp_path / "t")
    v = LakeVault.create(spark, root, COLS, key_cols=("repo", "path"), n_buckets=8)
    rows = [(f"r{i}", f"p{i}.py", i, i, _ts(i % 60)) for i in range(40)]
    _commit(spark, v, rows, "b0")
    snap = v.snapshot()
    all_files = {f["path"] for f in snap.files}
    assert len(all_files) > 1

    rd = _SnapshotBatchReader({"path": root})
    list(rd.pushFilters([EqualTo(("repo",), "r7")]))
    planned = {f["path"] for p in rd.partitions() for f in p.files}
    b = bucket_of(["r7", "p7.py"], 8)
    assert {f["path"] for f in snap.files if f["bucket"] == b} <= planned < all_files

    _register(spark)
    ds = spark.read.format("lakevault").load(root).where(F.col("repo") == "r7")
    assert _rows(ds) == _rows(v.scan().where(F.col("repo") == "r7"))
    # a filter Spark can't prune on still returns correct rows
    ds2 = spark.read.format("lakevault").load(root).where(F.col("n") % 10 == 3)
    assert _rows(ds2) == _rows(v.scan().where(F.col("n") % 10 == 3))


def test_ds_changes_batch_matches_scan_changes(spark, evolved_mor_table):
    root, v = evolved_mor_table
    _register(spark)
    sids = v.snapshot_ids()
    a, b = sids[1], sids[-1]
    ds = (
        spark.read.format("lakevault")
        .option("feed", "changes")
        .option("fromSnapshotId", a)
        .option("toSnapshotId", b)
        .load(root)
    )
    ref = v.scan_changes(a, b)
    assert ds.columns == ref.columns
    assert _rows(ds) == _rows(ref)
    kinds = {(r["repo"], r["path"]): r["_change_type"] for r in ds.collect()}
    assert kinds[("r4", "e.py")] == "insert"
    assert kinds[("r1", "a.py")] == "update"


def test_ds_changes_requires_from_snapshot(spark, evolved_mor_table):
    root, _ = evolved_mor_table
    _register(spark)
    with pytest.raises(Exception, match="fromSnapshotId"):
        spark.read.format("lakevault").option("feed", "changes").load(root).collect()


def test_ds_stream_requires_changes_feed(spark, evolved_mor_table):
    root, _ = evolved_mor_table
    _register(spark)
    q = (
        spark.readStream.format("lakevault")
        .load(root)
        .writeStream.format("noop")
        .trigger(availableNow=True)
        .start()
    )
    try:
        # streamReader() runs when the query starts; the guard surfaces
        # through the streaming engine as a query failure
        with pytest.raises(Exception, match="feed"):
            q.awaitTermination(120)
    finally:
        q.stop()


def test_ds_streaming_change_feed_with_restart(spark, tmp_path):
    """availableNow run #1 drains changes since startingSnapshotId; more
    commits; run #2 on the SAME checkpoint emits only the new interval —
    offsets are snapshot ids and survive restart."""
    root = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    v = LakeVault.create(spark, root, COLS, key_cols=("repo", "path"), n_buckets=4)
    _commit(spark, v, [("r1", "a.py", 1, 10, _ts(1)), ("r2", "b.py", 2, 20, _ts(2))], "b0")
    start = 0
    head1 = v.current_snapshot_id()
    _register(spark)

    out_dir = str(tmp_path / "out")

    def run():
        before = set()
        import glob
        import os

        before = {p for p in glob.glob(f"{out_dir}/*.parquet")}
        q = (
            spark.readStream.format("lakevault")
            .option("feed", "changes")
            .option("startingSnapshotId", start)
            .load(root)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        new = [p for p in glob.glob(f"{out_dir}/*.parquet") if p not in before]
        if not new:
            return spark.read.parquet(out_dir).limit(0)
        return spark.read.parquet(*new)

    got1 = run()
    assert _rows(got1) == _rows(v.scan_changes(start, head1))
    assert sorted(r["_change_type"] for r in got1.collect()) == ["insert", "insert"]

    # advance the table: update one key, add one — COW replace of one bucket
    bucket = (
        spark.createDataFrame([("r1", "a.py", 0, 0, _ts(0))], DDL)
        .select(v.bucket_expr().alias("b"))
        .first()["b"]
    )
    carried = v.scan().where(v.bucket_expr() == bucket).where(
        ~((F.col("repo") == "r1") & (F.col("path") == "a.py"))
    )
    rewrite = [tuple(r) for r in carried.collect()] + [("r1", "a.py", 9, 11, _ts(9))]
    _commit(spark, v, rewrite, "b1", replace_buckets=[bucket])
    head2 = v.current_snapshot_id()

    got2 = run()
    assert _rows(got2) == _rows(v.scan_changes(head1, head2))
    assert [r["_change_type"] for r in got2.collect()] == ["update"]


def test_ds_reads_apply_equality_deletes(spark, tmp_path):
    """MOR DELETE parity: the data source's arrow readers must apply
    equality-delete files exactly like scan() — including the ordinal rule
    that lets a post-delete re-insert (with a lower last_seq) survive —
    and the changes feed must emit the deletes."""
    root = str(tmp_path / "t")
    v = LakeVault.create(spark, root, COLS, key_cols=("repo", "path"), n_buckets=4)
    _commit(
        spark,
        v,
        [
            ("r1", "a.py", 10, 1, _ts(1)),
            ("r1", "b.yml", 11, 2, _ts(2)),
            ("r2", "c.yml", 12, 3, _ts(3)),
            ("r3", "d.go", 13, 4, _ts(4)),
        ],
        "b0",
    )
    a = v.current_snapshot_id()
    v.delete("path like '%.yml'", mode="mor")
    # re-insert one deleted key with a LOWER seq via a delta append: the
    # ordinal rule must revive it on both read paths
    _commit(spark, v, [("r2", "c.yml", 5, 30, _ts(5))], "b1", delta=True)
    b = v.current_snapshot_id()

    _register(spark)
    ds = spark.read.format("lakevault").load(root)
    assert _rows(ds) == _rows(v.scan())
    keys = {(r["repo"], r["path"]): r["last_seq"] for r in ds.collect()}
    assert ("r1", "b.yml") not in keys
    assert keys[("r2", "c.yml")] == 5

    ch = (
        spark.read.format("lakevault")
        .option("feed", "changes")
        .option("fromSnapshotId", a)
        .option("toSnapshotId", b)
        .load(root)
    )
    assert _rows(ch) == _rows(v.scan_changes(a, b))


def test_lww_fold_shared_key_prefix_regression():
    """Regression: rows whose FIRST key column matches their sorted
    neighbor (many paths under one repo — the normal shape) must not
    collapse; a run ends when ANY key column differs."""
    import pyarrow as pa

    from observability_platform___databricks_etl_pipeline_spark.sources.lakevault_ds import _lww_fold

    t = pa.table(
        {
            "repo": ["r1"] * 4 + ["r2"] * 2,
            "path": ["a", "a", "b", "c", "a", "b"],
            "last_seq": [1, 5, 2, 3, 4, 6],
            "__ord": [1, 2, 1, 1, 1, 1],
        }
    )
    out = _lww_fold(t, ["repo", "path"], ["last_seq", "__ord"])
    got = {(r["repo"], r["path"]): r["last_seq"] for r in out.to_pylist()}
    assert got == {
        ("r1", "a"): 5,
        ("r1", "b"): 2,
        ("r1", "c"): 3,
        ("r2", "a"): 4,
        ("r2", "b"): 6,
    }


def test_ds_fully_keyed_probe_prunes_to_one_bucket(spark, tmp_path):
    """EqualTo on EVERY key column lets the planner hash the key itself
    (plans/sparkhash.py) and keep only that bucket's files — the partition
    count drops to the key's bucket, and rows still match scan()."""
    from pyspark.sql.datasource import EqualTo

    from observability_platform___databricks_etl_pipeline_spark.plans.sparkhash import bucket_of

    root = str(tmp_path / "t")
    v = LakeVault.create(spark, root, COLS, key_cols=("repo", "path"), n_buckets=16)
    rows = [(f"org/r{i % 5}", f"f{i}.py", i, i, _ts(i % 60)) for i in range(200)]
    _commit(spark, v, rows, "b0")
    snap = v.snapshot()

    rd = _SnapshotBatchReader({"path": root})
    list(rd.pushFilters([EqualTo(("repo",), "org/r3"), EqualTo(("path",), "f13.py")]))
    parts = rd.partitions()
    b = bucket_of(["org/r3", "f13.py"], 16)
    bucket_files = {f["path"] for f in snap.files if f["bucket"] == b}
    planned = {f["path"] for p in parts for f in p.files}
    assert planned == bucket_files

    _register(spark)
    ds = (
        spark.read.format("lakevault")
        .load(root)
        .where((F.col("repo") == "org/r3") & (F.col("path") == "f13.py"))
    )
    assert [tuple(r) for r in ds.collect()] == [
        ("org/r3", "f13.py", 13, 13, _ts(13))
    ]


# ---------------------------------------------------------------------------
# read-partition packing: whole buckets, in bucket order, by manifest bytes
# ---------------------------------------------------------------------------

_MIB = 1 << 20


def _fake_files(sizes_by_bucket):
    """Manifest-shaped file entries: ``{bucket: [bytes, ...]}``."""
    return [
        {"path": f"b{b}/f{i}.parquet", "schema_id": 0, "ord": 1, "bucket": b, "bytes": n}
        for b, sizes in sizes_by_bucket.items()
        for i, n in enumerate(sizes)
    ]


def _fake_snap(files):
    from types import SimpleNamespace

    return SimpleNamespace(files=files, schemas={0: SimpleNamespace(columns=[])}, n_buckets=64)


def _bucket_groups(file_groups):
    """Per partition, the buckets it holds; asserts no bucket is split."""
    groups = [sorted({f["bucket"] for f in g}) for g in file_groups]
    seen = [b for g in groups for b in g]
    assert len(seen) == len(set(seen)), f"a bucket spans partitions: {groups}"
    return groups


def test_pack_many_small_buckets_is_one_partition():
    files = _fake_files({b: [200_000] for b in range(16)})
    parts = lakevault_ds._group_read_partitions("/t", _fake_snap(files), files, [], ["k"])
    assert _bucket_groups(p.files for p in parts) == [list(range(16))]


def test_pack_splits_only_at_bucket_boundaries():
    """Each bucket holds two 15 MiB files (2 x (15 + 4 open) = 38 MiB), so
    three buckets fit under the 128 MiB cap and the fourth starts a new
    partition; a bucket bigger than the cap stays whole on its own."""
    sizes = {b: [15 * _MIB, 15 * _MIB] for b in range(6)}
    sizes[6] = [200 * _MIB]
    sizes[7] = [_MIB]
    files = _fake_files(sizes)
    parts = lakevault_ds._group_read_partitions("/t", _fake_snap(files), files, [], ["k"])
    assert _bucket_groups(p.files for p in parts) == [[0, 1, 2], [3, 4, 5], [6], [7]]
    assert {f["path"] for p in parts for f in p.files} == {f["path"] for f in files}


def test_pack_legacy_bucketless_files_with_deltas_stay_one_partition():
    files = _fake_files({b: [100 * _MIB] for b in range(3)})
    files.append(dict(files[0], path="legacy.parquet", bucket=None))
    files[0]["delta"] = True
    parts = lakevault_ds._group_read_partitions("/t", _fake_snap(files), files, [], ["k"])
    assert len(parts) == 1 and len(parts[0].files) == len(files)


def test_pack_changes_partitions_by_both_sides():
    """The change feed packs affected buckets by the bytes of BOTH
    snapshots' files; unaffected buckets are never planned."""
    from types import SimpleNamespace

    before = _fake_files({b: [20 * _MIB] for b in range(8)})
    # buckets 0-5 rewritten: a before and an after file of 20 + 4 MiB each,
    # so 48 MiB per bucket and two buckets per partition (3 x 48 > 128)
    after = [f for f in before if f["bucket"] >= 6] + [
        dict(f, path=f"new/{f['path']}") for f in before if f["bucket"] < 6
    ]
    snaps = {1: _fake_snap(before), 2: _fake_snap(after)}
    v = SimpleNamespace(snapshot=snaps.__getitem__, key_cols=("k",), root="/t")
    parts = lakevault_ds._plan_changes_partitions(v, 1, 2, [])
    assert _bucket_groups(p.before for p in parts) == [[0, 1], [2, 3], [4, 5]]
    assert _bucket_groups(p.after for p in parts) == [[0, 1], [2, 3], [4, 5]]
    # nothing changed: one empty partition, as Spark needs at least one
    (empty,) = lakevault_ds._plan_changes_partitions(v, 2, 2, [])
    assert empty.before == [] and empty.after == []


def test_ds_packed_merge_buckets_match_scan_and_changes(spark, evolved_mor_table):
    """Packing puts several merge-on-read buckets (deltas AND equality
    deletes, across a rename) in one partition; the partition-local deletes,
    fold and diff must still equal scan() and scan_changes()."""
    root, v = evolved_mor_table
    a = v.snapshot_ids()[1]
    v.delete("path = 'b.py' or path = 'd.py'", mode="mor")
    _commit(
        spark,
        v,
        [("r3", "d.py", 2, 41, _ts(2), 0.4), ("r6", "g.py", 7, 70, _ts(7), 0.7)],
        "b3",
        ddl="repo string, path string, last_seq long, size long, ts timestamp, quality double",
        delta=True,
    )
    snap = v.snapshot()
    merge_buckets = {f["bucket"] for f in snap.files if f.get("delta") or f.get("eq_delete")}
    parts = _SnapshotBatchReader({"path": root}).partitions()
    assert max(len({f["bucket"] for f in p.files} & merge_buckets) for p in parts) >= 2

    _register(spark)
    assert _rows(spark.read.format("lakevault").load(root)) == _rows(v.scan())
    b = v.current_snapshot_id()
    ch = (
        spark.read.format("lakevault")
        .option("feed", "changes")
        .option("fromSnapshotId", a)
        .option("toSnapshotId", b)
        .load(root)
    )
    assert _rows(ch) == _rows(v.scan_changes(a, b))


# ---------------------------------------------------------------------------
# NaN keys: Spark joins and groups NaN == NaN; only nulls match nothing
# ---------------------------------------------------------------------------

F_COLS = [("k", "double"), ("last_seq", "long"), ("v", "int")]
F_DDL = "k double, last_seq long, v int"


def _float_keyed(spark, tmp_path, n_buckets=2):
    root = str(tmp_path / "f")
    v = LakeVault.create(spark, root, F_COLS, key_cols=("k",), n_buckets=n_buckets)
    nan = float("nan")
    _commit(spark, v, [(1.0, 1, 10), (nan, 2, 20), (None, 3, 30), (2.0, 4, 40)], "f0",
            ddl=F_DDL)
    return root, v


def _printed(df):
    # NaN != NaN and None does not order against a float: compare the
    # printed rows
    return sorted(
        repr(tuple(tuple(x) if hasattr(x, "asDict") else x for x in r)) for r in df.collect()
    )


def test_ds_nan_keyed_equality_delete_matches_scan(spark, tmp_path):
    """A MOR delete of the NaN key removes the NaN-keyed row on both read
    paths; a null-keyed delete row matches nothing, like Spark's join."""
    root, v = _float_keyed(spark, tmp_path)
    a = v.current_snapshot_id()
    v.delete("isnan(k) or k is null or k = 2.0", mode="mor")
    b = v.current_snapshot_id()
    ref = v.scan()
    assert not any(r["k"] is not None and r["k"] != r["k"] for r in ref.collect())

    _register(spark)
    assert _printed(spark.read.format("lakevault").load(root)) == _printed(ref)
    ch = (
        spark.read.format("lakevault")
        .option("feed", "changes")
        .option("fromSnapshotId", a)
        .option("toSnapshotId", b)
        .load(root)
    )
    assert _printed(ch) == _printed(v.scan_changes(a, b))


def test_ds_nan_keyed_update_is_one_update(spark, tmp_path):
    """A NaN-keyed row updated between two snapshots is one ``update`` in
    both change feeds, not a delete plus an insert, and the two null-keyed
    rows (one per snapshot) never pair up."""
    root, v = _float_keyed(spark, tmp_path, n_buckets=1)
    a = v.current_snapshot_id()
    _commit(spark, v, [(float("nan"), 5, 21), (None, 6, 31)], "f1", ddl=F_DDL, delta=True)
    b = v.current_snapshot_id()
    ref = v.scan_changes(a, b)
    kinds = sorted((repr(r["k"]), r["_change_type"]) for r in ref.collect())
    assert ("nan", "update") in kinds

    _register(spark)
    assert _printed(spark.read.format("lakevault").load(root)) == _printed(v.scan())
    ch = (
        spark.read.format("lakevault")
        .option("feed", "changes")
        .option("fromSnapshotId", a)
        .option("toSnapshotId", b)
        .load(root)
    )
    assert _printed(ch) == _printed(ref)


def test_lww_fold_keeps_null_and_nan_keys_apart():
    """Spark's groupBy makes one group of null keys and another of NaN keys.
    numpy reads a null double as NaN, so the fold must not let the two
    meet when they sort next to each other."""
    import pyarrow as pa

    from observability_platform___databricks_etl_pipeline_spark.sources.lakevault_ds import _lww_fold

    nan = float("nan")
    t = pa.table(
        {
            "k": pa.array([None, nan, None, nan], pa.float64()),
            "last_seq": [1, 2, 3, 4],
            "__ord": [1, 1, 1, 1],
        }
    )
    out = _lww_fold(t, ["k"], ["last_seq", "__ord"]).to_pylist()
    assert sorted(r["last_seq"] for r in out) == [3, 4]
