"""Incremental snapshot-diff read (r4 verdict #3): LakeVault.scan_changes
emits exactly the per-key changes between two snapshots from manifest
metadata (cost O(affected buckets)), and CDCEngine.changes maps tombstone
transitions into the logical insert/update/delete feed a downstream
consumer tails."""

import pyspark.sql.functions as F
import pytest

from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import LakeVault

COLS = [
    ("repo", "string"),
    ("path", "string"),
    ("last_seq", "long"),
    ("is_deleted", "boolean"),
]
DDL = "repo string, path string, last_seq long, is_deleted boolean"


def _commit(spark, v, rows, batch_id, replace_buckets=None):
    wd = v.new_write_dir(batch_id)
    df = spark.createDataFrame(rows, DDL)
    (
        df.withColumn("__bucket", v.bucket_expr())
        .repartition(1, "__bucket")
        .write.mode("overwrite")
        .partitionBy("__bucket")
        .parquet(wd)
    )
    return v.commit(
        add_write_dir=wd,
        replace_buckets=replace_buckets,
        batch_id=batch_id,
        manifest={"batch_id": batch_id},
    )


def test_scan_changes_classifies_and_prunes(spark, tmp_path):
    """insert/update/delete classification between snapshots; carried-but-
    unchanged rows never appear; the affected-bucket set is exactly the
    buckets of post-A files (the metadata the pruning runs on)."""
    root = str(tmp_path / "t")
    v = LakeVault.create(spark, root, COLS, key_cols=("repo", "path"), n_buckets=8)
    base = [("r1", "a.py", 1, False), ("r1", "b.py", 2, False), ("r2", "c.py", 3, False)]
    a = _commit(spark, v, base, "b0")

    # COW-style bucket replacement: r1/a.py updated, r1/b.py carried
    # verbatim, r9/new.py inserted, r2/c.py's bucket replaced WITHOUT it
    # (physical delete)
    b_r1a = spark.createDataFrame([("r1", "a.py", 0, False)], DDL).select(
        v.bucket_expr().alias("b")
    ).first()["b"]
    b_r2c = spark.createDataFrame([("r2", "c.py", 0, False)], DDL).select(
        v.bucket_expr().alias("b")
    ).first()["b"]
    def bucket_of(row):
        return spark.createDataFrame([row], DDL).select(v.bucket_expr().alias("b")).first()["b"]

    touched = sorted({b_r1a, b_r2c})
    # stage: the touched buckets' post-state (a.py updated, c.py GONE — a
    # pure-delete rewrite of its bucket — plus any co-bucketed carried
    # rows), and a brand-new key appended to its own (untouched) bucket
    rows_after = [("r1", "a.py", 10, False), ("r9", "new.py", 11, False)]
    carried = [r for r in base if r[:2] not in {("r1", "a.py"), ("r2", "c.py")}]
    rewrite = rows_after + [r for r in carried if bucket_of(r) in touched]
    b = _commit(spark, v, rewrite, "b1", replace_buckets=touched)

    ch = v.scan_changes(a, b)
    got = {(r["repo"], r["path"]): r["_change_type"] for r in ch.collect()}
    want = {("r1", "a.py"): "update", ("r9", "new.py"): "insert"}
    if b_r2c != b_r1a and b_r2c != bucket_of(("r9", "new.py", 11, False)):
        # c.py's bucket was replaced with nothing — the case an ord-based
        # affected set would MISS (no post-A file lands there)
        want[("r2", "c.py")] = "delete"
    # carried rows in rewritten buckets (r1/b.py if co-bucketed) are ABSENT
    assert got == want

    # metadata-only affected set == buckets whose live file set changed
    def per_bucket(sid):
        out = {}
        for f in v.snapshot(sid).files:
            out.setdefault(f["bucket"], set()).add(f["path"])
        return out

    pa, pb = per_bucket(a), per_bucket(b)
    affected = {k for k in set(pa) | set(pb) if pa.get(k, set()) != pb.get(k, set())}
    assert b_r2c in affected  # the delete-only bucket is in the scan set

    # post-image values for update/insert; pre-image for delete
    vals = {(r["repo"], r["path"]): r["last_seq"] for r in ch.collect()}
    assert vals[("r1", "a.py")] == 10 and vals[("r9", "new.py")] == 11
    if ("r2", "c.py") in want:
        assert vals[("r2", "c.py")] == 3


def test_scan_changes_same_snapshot_empty_and_order_check(spark, tmp_path):
    root = str(tmp_path / "t2")
    v = LakeVault.create(spark, root, COLS, key_cols=("repo", "path"), n_buckets=4)
    a = _commit(spark, v, [("r1", "a.py", 1, False)], "b0")
    assert v.scan_changes(a, a).count() == 0
    with pytest.raises(ValueError):
        v.scan_changes(a + 1, a)


def test_scan_changes_across_schema_evolution(spark, tmp_path):
    """A column added between A and B reads as a typed null at A; a row
    whose only movement is the new column's value classifies as update."""
    root = str(tmp_path / "t3")
    v = LakeVault.create(spark, root, COLS, key_cols=("repo", "path"), n_buckets=4)
    a = _commit(spark, v, [("r1", "a.py", 1, False), ("r1", "b.py", 2, False)], "b0")

    schema2 = v.snapshot().schema.add_column("quality", "double")
    wd = v.new_write_dir("b1")
    df = spark.createDataFrame(
        [("r1", "a.py", 1, False, 0.5)], DDL + ", quality double"
    )
    (
        df.withColumn("__bucket", v.bucket_expr())
        .repartition(1, "__bucket")
        .write.mode("overwrite")
        .partitionBy("__bucket")
        .parquet(wd)
    )
    bkt = df.select(v.bucket_expr().alias("b")).first()["b"]
    b = v.commit(
        add_write_dir=wd,
        replace_buckets=[bkt],
        batch_id="b1",
        manifest={"batch_id": "b1"},
        new_schema=schema2,
    )
    ch = v.scan_changes(a, b)
    rows = {(r["repo"], r["path"]): r for r in ch.collect()}
    assert set(rows) == {("r1", "a.py")}
    r = rows[("r1", "a.py")]
    assert r["_change_type"] == "update" and r["quality"] == 0.5
    assert r["_before"]["quality"] is None  # typed null at A

    # RENAME between B and C is metadata-only: the diff aligns by COLUMN ID
    # (a name-based alignment would fabricate an update for every row with
    # a non-null value in the renamed column — the bug the gate caught)
    schema3 = v.snapshot().schema.rename_column("quality", "q_score")
    c = v.commit(
        add_write_dir=None,
        replace_buckets=[],
        batch_id="b2",
        manifest={"batch_id": "b2"},
        new_schema=schema3,
    )
    assert v.scan_changes(b, c).count() == 0  # no data moved
    rows2 = {(r["repo"], r["path"]): r for r in v.scan_changes(a, c).collect()}
    assert set(rows2) == {("r1", "a.py")}
    assert rows2[("r1", "a.py")]["q_score"] == 0.5


def test_engine_changes_tombstone_transitions(spark, tmp_path):
    """CDCEngine.changes maps vault-level rows to the logical feed:
    live→tombstone is a DELETE carrying the pre-image, tombstone→live a
    re-INSERT, tombstone churn invisible."""
    from observability_platform___databricks_etl_pipeline_spark.gen.changelog import write_wal
    from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine

    def ev(seq, repo, path, op, content):
        return (
            seq,
            None,
            repo,
            path,
            f"c{seq}",
            op,
            "python",
            content,
            None,
        )

    ddl = (
        "seq long, ts timestamp, repo string, path string, commit string, "
        "op string, lang string, content string, props map<string,string>"
    )
    chunk1 = [
        ev(1, "r1", "a.py", "insert", "one"),
        ev(2, "r1", "b.py", "insert", "two"),
        ev(3, "r1", "c.py", "insert", "three"),
        ev(4, "r1", "d.py", "delete", None),  # born dead
    ]
    chunk2 = [
        ev(11, "r1", "a.py", "delete", None),  # live -> tombstone
        ev(12, "r1", "b.py", "update", "two-v2"),  # live -> live
        ev(13, "r1", "d.py", "delete", None),  # tombstone churn
        ev(14, "r1", "e.py", "insert", "five"),  # new key
    ]
    wal = str(tmp_path / "wal")
    write_wal(
        spark.createDataFrame(chunk1 + chunk2, ddl).withColumn(
            "ts", F.timestamp_seconds(F.lit(1704067200) + F.col("seq"))
        ),
        wal,
        chunk_size=10,
    )
    eng = CDCEngine(spark, str(tmp_path / "tbl"), n_buckets=4)
    eng.replay(wal)
    lin = eng.lineage()
    assert len(lin) == 2
    a = lin[0]["snapshot_id"]

    ch = eng.changes(a)
    got = {(r["repo"], r["path"]): r for r in ch.collect()}
    assert {k: v["_change_type"] for k, v in got.items()} == {
        ("r1", "a.py"): "delete",
        ("r1", "b.py"): "update",
        ("r1", "e.py"): "insert",
    }
    # the delete carries the pre-image (what WAS live), not the tombstone
    assert got[("r1", "a.py")]["last_seq"] == 1
    assert got[("r1", "a.py")]["is_deleted"] is False
    assert got[("r1", "b.py")]["last_seq"] == 12

    # full-window feed from table creation: every live row is an insert,
    # dead-born keys invisible
    full = eng.changes(0)
    types = {(r["repo"], r["path"]): r["_change_type"] for r in full.collect()}
    assert types == {
        ("r1", "b.py"): "insert",
        ("r1", "c.py"): "insert",
        ("r1", "e.py"): "insert",
    }


def test_engine_changes_mor_mode(spark, tmp_path):
    """scan_changes folds MOR delta files the same way scan does — the
    logical feed is identical to what a COW table produces for the same
    WAL window."""
    from observability_platform___databricks_etl_pipeline_spark.gen.changelog import (
        generate_changelog,
        write_wal,
    )
    from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine

    wal = str(tmp_path / "wal")
    write_wal(generate_changelog(spark, 3000, seed=9), wal, chunk_size=1000)
    feeds = {}
    for mode in ("cow", "mor"):
        eng = CDCEngine(
            spark, str(tmp_path / f"tbl-{mode}"), n_buckets=4, write_mode=mode
        )
        eng.replay(wal)
        a = eng.lineage()[0]["snapshot_id"]
        feeds[mode] = {
            (r["repo"], r["path"]): (r["_change_type"], r["last_seq"], r["content_sha256"])
            for r in eng.changes(a).collect()
        }
    assert feeds["cow"] == feeds["mor"]
    assert len(feeds["cow"]) > 0


def test_tail_spans_resume_and_materialize(spark, tmp_path):
    """CDCEngine.tail: a durable-cursor change-feed consumer. Spans never
    overlap and cover every snapshot transition once (applying them in order
    to an empty store materializes current_state); a consumer that crashes
    mid-batch gets the SAME span redelivered on restart (at-least-once with
    a deterministic batch_id for idempotent upgrade)."""
    from observability_platform___databricks_etl_pipeline_spark.gen.changelog import (
        generate_changelog,
        write_wal,
    )
    from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine

    wal = str(tmp_path / "wal")
    write_wal(generate_changelog(spark, 3000, seed=21), wal, chunk_size=1000)
    eng = CDCEngine(spark, str(tmp_path / "tbl"), n_buckets=4)
    cp = str(tmp_path / "consumer-cp")

    store: dict = {}

    def apply(feed):
        for r in feed.collect():
            k = (r["repo"], r["path"])
            if r["_change_type"] == "delete":
                store.pop(k, None)
            else:
                store[k] = (r["last_seq"], r["content_sha256"])

    # batch 1 lands; first tail batch is the whole table as inserts
    eng.replay(wal, max_batches=1)
    s1 = eng.vault.current_snapshot_id()
    g1 = eng.tail(cp, poll_interval_s=0.01, max_idle_polls=2)
    b1 = next(g1)
    assert (b1.from_snapshot_id, b1.to_snapshot_id) == (0, s1)
    assert b1.batch_id == f"tail-0-{s1}"
    assert {r["_change_type"] for r in b1.feed.select("_change_type").distinct().collect()} <= {
        "insert"
    }
    apply(b1.feed)

    # crash before requesting the next batch: cursor must NOT advance
    g1.close()
    g2 = eng.tail(cp, poll_interval_s=0.01, max_idle_polls=2)
    b1r = next(g2)
    assert b1r.batch_id == b1.batch_id  # same span redelivered
    apply(b1r.feed)  # idempotent by key: same store either way

    # consumer asks for more -> cursor advances, then drains on idle
    with pytest.raises(StopIteration):
        next(g2)

    # two more batches land while the consumer is away; one span covers both
    eng.replay(wal)
    s3 = eng.vault.current_snapshot_id()
    assert s3 > s1
    g3 = eng.tail(cp, poll_interval_s=0.01, max_idle_polls=2)
    b2 = next(g3)
    assert (b2.from_snapshot_id, b2.to_snapshot_id) == (s1, s3)
    apply(b2.feed)
    with pytest.raises(StopIteration):
        next(g3)

    want = {
        (r["repo"], r["path"]): (r["last_seq"], r["content_sha256"])
        for r in eng.current_state().collect()
    }
    assert store == want and len(want) > 0


def test_tail_cursor_predating_retention_raises(spark, tmp_path):
    """A cursor pointing at an expired snapshot fails loudly with the
    remediation (re-seed from a live snapshot), never silently re-reads a
    wrong span."""
    from observability_platform___databricks_etl_pipeline_spark.gen.changelog import (
        generate_changelog,
        write_wal,
    )
    from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine

    wal = str(tmp_path / "wal")
    write_wal(generate_changelog(spark, 3000, seed=22), wal, chunk_size=1000)
    eng = CDCEngine(spark, str(tmp_path / "tbl"), n_buckets=4)
    eng.replay(wal)
    eng.expire(keep_last=1)

    g = eng.tail(str(tmp_path / "cp"), poll_interval_s=0.01, max_idle_polls=1)
    with pytest.raises(RuntimeError, match="predates this table's retention"):
        next(g)


def test_tail_exactly_once_downstream_mirror(spark, tmp_path):
    """The TailBatch.batch_id contract, end to end: a downstream LakeVault
    mirror commits each span under the span's deterministic batch id, so the
    at-least-once redelivery a crash-before-cursor-advance causes is
    absorbed by commit idempotency — the mirror never double-applies and
    converges to the source's live state."""
    from observability_platform___databricks_etl_pipeline_spark.gen.changelog import (
        generate_changelog,
        write_wal,
    )
    from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import LakeVault
    from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine

    wal = str(tmp_path / "wal")
    # schema evolution off: a mirror that follows renames needs column-id
    # bookkeeping (test_scan_changes_across_schema_evolution covers the
    # id-aligned diff); THIS test pins the at-least-once/idempotency contract
    write_wal(
        generate_changelog(spark, 3000, seed=23, with_schema_evolution=False),
        wal,
        chunk_size=1500,
    )
    eng = CDCEngine(spark, str(tmp_path / "tbl"), n_buckets=4)
    cp = str(tmp_path / "cp")
    mirror_root = str(tmp_path / "mirror")
    mirror = None

    def apply_span(tb):
        nonlocal mirror
        feed = tb.feed.withColumn(
            "is_deleted", F.col("_change_type") == "delete"
        ).drop("_change_type")
        if mirror is None:
            cols = [(f.name, f.dataType.simpleString()) for f in feed.schema.fields]
            mirror = LakeVault.create(
                spark, mirror_root, cols, key_cols=("repo", "path"), n_buckets=4
            )
        keyed = feed.withColumn("__bucket", mirror.bucket_expr())
        buckets = sorted(
            r["__bucket"] for r in keyed.select("__bucket").distinct().collect()
        )
        carried = (
            mirror.scan(buckets=buckets)
            .where(~F.col("is_deleted"))
            .join(feed.select("repo", "path"), on=["repo", "path"], how="left_anti")
            .select(*feed.columns)
        )
        wd = mirror.new_write_dir(tb.batch_id)
        (
            carried.unionByName(feed)
            .withColumn("__bucket", mirror.bucket_expr())
            .repartition(1, "__bucket")
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(wd)
        )
        return mirror.commit(
            add_write_dir=wd,
            replace_buckets=buckets,
            batch_id=tb.batch_id,
            manifest={"batch_id": tb.batch_id},
        )

    def live(vault_scan):
        return {
            (r["repo"], r["path"]): (r["last_seq"], r["content_sha256"])
            for r in vault_scan.where(~F.col("is_deleted")).collect()
        }

    # span 1: process + commit downstream, then CRASH before cursor advance
    eng.replay(wal, max_batches=1)
    g1 = eng.tail(cp, poll_interval_s=0.01, max_idle_polls=2)
    sid_after_first = apply_span(next(g1))
    g1.close()  # cursor still at 0

    # restart: span 1 redelivered; the duplicate commit must no-op
    g2 = eng.tail(cp, poll_interval_s=0.01, max_idle_polls=2)
    tb = next(g2)
    assert tb.from_snapshot_id == 0  # proof of redelivery
    assert apply_span(tb) == sid_after_first  # idempotent: snapshot unchanged
    with pytest.raises(StopIteration):
        next(g2)

    # span 2 after more source batches; normal path
    eng.replay(wal)
    g3 = eng.tail(cp, poll_interval_s=0.01, max_idle_polls=2)
    for tb in g3:
        apply_span(tb)

    assert live(mirror.scan()) == live(eng.vault.scan())
    assert len(live(mirror.scan())) > 0


def test_scan_changes_reads_only_affected_bucket_files(spark, tmp_path):
    """The O(buckets touched) claim, physically: the diff plan's input file
    set is confined to buckets whose live file set changed — untouched
    buckets' files never reach Spark."""
    root = str(tmp_path / "t4")
    v = LakeVault.create(spark, root, COLS, key_cols=("repo", "path"), n_buckets=8)
    base = [(f"r{i}", f"f{i}.py", i, False) for i in range(40)]
    a = _commit(spark, v, base, "b0")

    # touch exactly one key -> one bucket rewritten
    target = ("r7", "f7.py", 99, False)
    bkt = spark.createDataFrame([target], DDL).select(
        v.bucket_expr().alias("b")
    ).first()["b"]
    rewrite = [target] + [
        r
        for r in base
        if r[:2] != ("r7", "f7.py")
        and spark.createDataFrame([r], DDL).select(v.bucket_expr().alias("b")).first()["b"]
        == bkt
    ]
    b = _commit(spark, v, rewrite, "b1", replace_buckets=[bkt])

    ch = v.scan_changes(a, b)
    read = set(ch.inputFiles())
    all_files = set(v.scan(b).inputFiles()) | set(v.scan(a).inputFiles())
    assert read and read < all_files  # strictly pruned
    assert all(f"__bucket={bkt}/" in p or f"__bucket={bkt}%" in p for p in read), read
    got = {(r["repo"], r["path"]): r["_change_type"] for r in ch.collect()}
    assert got == {("r7", "f7.py"): "update"}
