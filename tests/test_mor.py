"""Merge-on-read delta mode: same golden semantics as COW, ~1x write
amplification, compact() folds deltas back into base files."""

import os

import pyspark.sql.functions as F

from observability_platform___databricks_etl_pipeline_spark.gen.changelog import generate_changelog, write_wal
from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine
from tests.oracle import replay_oracle


def _state(eng):
    return {
        (r["repo"], r["path"]): (r["content_sha256"], r["last_seq"])
        for r in eng.current_state().collect()
    }


def test_mor_matches_cow_and_oracle(spark, tmp_path):
    wal = str(tmp_path / "wal")
    write_wal(generate_changelog(spark, 6000, seed=21), wal, chunk_size=1500)

    cow = CDCEngine(spark, str(tmp_path / "cow"), n_buckets=8)
    rc = cow.replay(wal)
    mor = CDCEngine(spark, str(tmp_path / "mor"), n_buckets=8, write_mode="mor")
    rm = mor.replay(wal)

    assert _state(mor) == _state(cow)
    exp = replay_oracle(wal)
    assert {k: v["content_sha256"] for k, v in exp.items()} == {
        k: v[0] for k, v in _state(mor).items()
    }
    assert all(b.skipped or b.conserved() for b in rm.batches)

    # the point of MOR: amplification ~1x vs COW's rewrite-the-bucket
    amp = lambda r: sum(b.bytes_written for b in r.batches if not b.skipped) / max(
        sum(b.logical_bytes for b in r.batches if not b.skipped), 1
    )
    assert amp(rm) < 0.6 * amp(rc)
    # and the snapshot actually carries delta entries
    assert any(f.get("delta") for f in mor.vault.snapshot().files)


def test_mor_crash_resume(spark, tmp_path):
    wal = str(tmp_path / "wal")
    write_wal(generate_changelog(spark, 4000, seed=22), wal, chunk_size=1000)
    root = str(tmp_path / "t")
    try:
        CDCEngine(spark, root, n_buckets=4, write_mode="mor").replay(
            wal, fail_after_batches=2
        )
    except RuntimeError:
        pass
    res = CDCEngine(spark, root, n_buckets=4, write_mode="mor").replay(wal)
    assert sum(1 for b in res.batches if b.skipped) >= 2
    exp = replay_oracle(wal)
    got = _state(CDCEngine(spark, root, n_buckets=4, write_mode="mor"))
    assert {k: v["content_sha256"] for k, v in exp.items()} == {k: v[0] for k, v in got.items()}


def test_mor_compact_folds_deltas_then_more_batches(spark, tmp_path):
    wal = str(tmp_path / "wal")
    write_wal(generate_changelog(spark, 4000, seed=23), wal, chunk_size=1000)
    root = str(tmp_path / "t")
    eng = CDCEngine(spark, root, n_buckets=4, write_mode="mor")
    eng.replay(wal, max_batches=2)
    assert any(f.get("delta") for f in eng.vault.snapshot().files)
    before = _state(eng)

    eng.vault.compact(target_file_rows=100_000)
    assert not any(f.get("delta") for f in eng.vault.snapshot().files)
    assert _state(eng) == before

    # later MOR batches keep merging correctly against the compacted base
    eng2 = CDCEngine(spark, root, write_mode="mor")
    eng2.replay(wal)
    exp = replay_oracle(wal)
    got = _state(eng2)
    assert {k: v["content_sha256"] for k, v in exp.items()} == {k: v[0] for k, v in got.items()}


def test_mor_point_lookup_merges(spark, tmp_path):
    """Key-range pruned lookup on a MOR table returns the merged row, not a
    stale base version."""
    wal = str(tmp_path / "wal")
    write_wal(generate_changelog(spark, 4000, seed=24), wal, chunk_size=1000)
    eng = CDCEngine(spark, str(tmp_path / "t"), n_buckets=4, write_mode="mor")
    eng.replay(wal)
    full = {
        r["path"]: r["content_sha256"]
        for r in eng.current_state().where(F.col("repo") == "org/hot-repo").collect()
    }
    looked = {r["path"]: r["content_sha256"] for r in eng.lookup("org/hot-repo").collect()}
    assert looked == full and looked


def test_mor_schema_evolution_across_base_and_delta(spark, tmp_path):
    """Delta files written under evolved schemas must merge with base files
    written under earlier ones: scan() re-projects by column id per schema
    version BEFORE the LWW merge, so renamed columns keep their values and
    pre-add rows backfill NULL — same contract as COW."""
    wal = str(tmp_path / "wal")
    write_wal(generate_changelog(spark, 4000, seed=21), wal, chunk_size=800)
    cow = CDCEngine(spark, str(tmp_path / "cow"), n_buckets=8)
    cow.replay(wal)
    mor = CDCEngine(spark, str(tmp_path / "mor"), n_buckets=8, write_mode="mor")
    mor.replay(wal)

    def full(eng):
        return {
            (r["repo"], r["path"]): (r["content_sha256"], r["quality_score"])
            for r in eng.current_state().collect()
        }

    assert full(mor) == full(cow)
    assert "quality_score" in mor.current_state().columns
    assert mor.current_state().where(F.col("quality_score").isNotNull()).count() > 0


def _one_event_wal(spark, wal_dir, seq, content, tag):
    from pyspark.sql import functions as SF

    row = spark.range(1).select(
        SF.lit(seq).cast("long").alias("seq"),
        SF.timestamp_seconds(SF.lit(1704067200) + seq).alias("ts"),
        SF.lit("org/dup-repo").alias("repo"),
        SF.lit("src/dup.py").alias("path"),
        SF.md5(SF.lit(tag)).alias("commit"),
        SF.lit("update").alias("op"),
        SF.lit(None).cast("string").alias("lang"),
        SF.lit(content).alias("content"),
        SF.create_map(SF.lit("k"), SF.lit("1")).alias("props"),
    )
    write_wal(row, wal_dir, chunk_size=1000)


def test_duplicate_seq_across_commits_canonical_winner(spark, tmp_path):
    """The same seq delivered twice (re-bootstrapped producer writing a
    second WAL) must resolve IDENTICALLY on the COW write path and the MOR
    read path: later COMMIT wins (canonical (last_seq, commit-ordinal)
    order). Contents are chosen so a sha-based read tiebreak would pick the
    WRONG (earlier) row — the regression this test pins down."""
    import hashlib

    c1, c2 = "zebra zulu content", "alpha apple content"
    # stale (first-delivered) row gets the LARGER sha so a content-hash
    # tiebreak on read would resurrect it
    if hashlib.sha256(c1.encode()).hexdigest() < hashlib.sha256(c2.encode()).hexdigest():
        c1, c2 = c2, c1
    stale, fresh = c1, c2
    fresh_sha = hashlib.sha256(fresh.encode()).hexdigest()

    finals = {}
    for mode in ("cow", "mor"):
        wal1 = str(tmp_path / f"wal1-{mode}")
        wal2 = str(tmp_path / f"wal2-{mode}")
        _one_event_wal(spark, wal1, 100, stale, "first-delivery")
        _one_event_wal(spark, wal2, 100, fresh, "second-delivery")
        eng = CDCEngine(
            spark, str(tmp_path / f"t-{mode}"), n_buckets=4, write_mode=mode,
        )
        eng.replay(wal1)
        eng.replay(wal2)
        rows = eng.current_state().collect()
        assert len(rows) == 1
        finals[mode] = rows[0]["content_sha256"]

    assert finals["cow"] == fresh_sha  # write side: batch beats table
    assert finals["mor"] == fresh_sha  # read side: later commit ordinal wins


def test_bucket_scoped_compact_folds_only_selected(spark, tmp_path):
    """compact(buckets=[...]) folds ONLY those buckets' deltas (incremental
    maintenance, O(selected buckets) not O(table)); scan results unchanged;
    later MOR batches keep merging correctly."""
    wal = str(tmp_path / "wal")
    write_wal(generate_changelog(spark, 4000, seed=25), wal, chunk_size=1000)
    eng = CDCEngine(
        spark, str(tmp_path / "t"), n_buckets=4, write_mode="mor",
        mor_compact_threshold=0,  # manual compaction under test
    )
    eng.replay(wal, max_batches=3)
    before = _state(eng)
    deltas_by_bucket = lambda: {
        b: sum(1 for f in eng.vault.snapshot().files if f.get("delta") and f["bucket"] == b)
        for b in range(4)
    }
    pre = deltas_by_bucket()
    assert pre[0] > 0 and pre[1] > 0

    untouched_before = sorted(
        f["path"] for f in eng.vault.snapshot().files if f["bucket"] in (2, 3)
    )
    eng.vault.compact(buckets=[0, 1], target_file_rows=100_000)

    post = deltas_by_bucket()
    assert post[0] == 0 and post[1] == 0          # selected buckets folded
    assert post[2] == pre[2] and post[3] == pre[3]  # others untouched
    # untouched buckets' file entries carried verbatim, not rewritten
    untouched_after = sorted(
        f["path"] for f in eng.vault.snapshot().files if f["bucket"] in (2, 3)
    )
    assert untouched_after == untouched_before
    assert _state(eng) == before

    eng2 = CDCEngine(spark, str(tmp_path / "t"), write_mode="mor", mor_compact_threshold=0)
    eng2.replay(wal)
    exp = replay_oracle(wal)
    got = _state(eng2)
    assert {k: v["content_sha256"] for k, v in exp.items()} == {k: v[0] for k, v in got.items()}


def test_mor_auto_compact_bounds_delta_count(spark, tmp_path):
    """The auto-compact policy keeps per-bucket delta piles at or under the
    threshold across a long MOR replay — read cost is bounded without
    operator intervention — and the final state still matches the oracle."""
    wal = str(tmp_path / "wal")
    write_wal(generate_changelog(spark, 6000, seed=26), wal, chunk_size=500)  # 12+ batches
    eng = CDCEngine(
        spark, str(tmp_path / "t"), n_buckets=4, write_mode="mor",
        mor_compact_threshold=2,
    )
    eng.replay(wal)
    per_bucket = {}
    for f in eng.vault.snapshot().files:
        if f.get("delta"):
            per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert all(n <= 2 for n in per_bucket.values()), per_bucket
    exp = replay_oracle(wal)
    got = _state(eng)
    assert {k: v["content_sha256"] for k, v in exp.items()} == {k: v[0] for k, v in got.items()}
