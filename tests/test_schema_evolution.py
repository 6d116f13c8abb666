"""Schema-evolution replay: add-column and rename-column events mid-stream
(BASELINE.json north_star; reference analog mergeSchema=true writes,
01_ingest_raw_logs.py:217, upgraded to column-id rename promotion)."""

import pyspark.sql.functions as F

from observability_platform___databricks_etl_pipeline_spark.gen.changelog import generate_changelog, write_wal
from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine
from tests.oracle import replay_oracle


def test_add_and_rename_column_replay(spark, tmp_path):
    wal = str(tmp_path / "wal")
    write_wal(generate_changelog(spark, 4000, seed=21), wal, chunk_size=800)
    eng = CDCEngine(spark, str(tmp_path / "tbl"), n_buckets=8)
    eng.replay(wal)

    state = eng.current_state()
    # final schema carries the RENAMED column only
    assert "quality_score" in state.columns
    assert "quality" not in state.columns

    # values extracted from props after the add_column event, preserved
    # across the rename (column-id identity, no rewrite)
    got = {
        (r["repo"], r["path"]): r["quality_score"]
        for r in state.where(F.col("quality_score").isNotNull()).collect()
    }
    assert got, "no extracted quality values"

    exp = replay_oracle(wal)
    exp_q = {k: v.get("quality_score") for k, v in exp.items() if v.get("quality_score") is not None}
    assert got == exp_q

    # rows written before the add_column event are null-backfilled
    n_null = state.where(F.col("quality_score").isNull()).count()
    assert n_null > 0

    # schema history is versioned in snapshots (resume-safe, SURVEY §7 hard-(b))
    snap = eng.vault.snapshot()
    assert len(snap.schemas) >= 3  # base, +add, +rename
    names_by_version = [
        [c["name"] for c in s.columns] for _, s in sorted(snap.schemas.items())
    ]
    assert any("quality" in names for names in names_by_version)
    assert "quality_score" in names_by_version[-1]


def _mini_wal_df(spark, rows):
    import datetime

    ddl = (
        "seq long, ts timestamp, repo string, path string, commit string, "
        "op string, lang string, content string, props map<string,string>"
    )
    ts = datetime.datetime(2024, 1, 1)
    return spark.createDataFrame([(r[0], ts, *r[1:]) for r in rows], ddl)


def test_rename_preserves_carried_rows_in_rewritten_buckets(spark, tmp_path):
    """Round-1 regression (ADVICE high): rows carried through a bucket rewrite
    in the SAME batch as a rename_column must keep their values — the evolved
    projection maps by column id, not name. n_buckets=1 forces every earlier
    row to be carried through the post-rename rewrite."""
    rows = [
        (0, "__schema__", "__schema__", "c0", "add_column", None, None,
         {"column": "quality", "type": "double"}),
        (1, "r1", "a.py", "c1", "insert", "python", "x = 1", {"quality": "2.5"}),
        (2, "r1", "b.py", "c2", "insert", "python", "x = 2", {"quality": "1.5"}),
        (10, "__schema__", "__schema__", "c3", "rename_column", None, None,
         {"from": "quality", "to": "quality_score"}),
        (11, "r1", "c.py", "c4", "insert", "python", "x = 3", {"quality": "3.5"}),
    ]
    wal = str(tmp_path / "wal_rn")
    write_wal(_mini_wal_df(spark, rows), wal, chunk_size=10)
    eng = CDCEngine(spark, str(tmp_path / "tbl_rn"), n_buckets=1)
    eng.replay(wal)
    got = {
        r["path"]: r["quality_score"] for r in eng.current_state().collect()
    }
    # a.py / b.py were CARRIED through the chunk-1 rewrite (rename batch);
    # pre-fix they lost their values to lit(None)
    assert got == {"a.py": 2.5, "b.py": 1.5, "c.py": 3.5}

    oracle = replay_oracle(wal)
    assert {k[1]: v.get("quality_score") for k, v in oracle.items()} == got


def test_malformed_schema_events_do_not_abort(spark, tmp_path):
    """Schema-op events with missing props keys are counted and skipped,
    never a driver KeyError mid-replay (ADVICE low)."""
    rows = [
        (0, "__schema__", "__schema__", "c0", "add_column", None, None, {}),  # no 'column'
        (1, "__schema__", "__schema__", "c1", "rename_column", None, None,
         {"to": "x"}),  # no 'from'
        (2, "__schema__", "__schema__", "c2", "rename_column", None, None,
         {"from": "nope", "to": "y"}),  # unknown column
        (3, "r1", "a.py", "c3", "insert", "python", "x = 1", {}),
    ]
    wal = str(tmp_path / "wal_bad")
    write_wal(_mini_wal_df(spark, rows), wal, chunk_size=100)
    eng = CDCEngine(spark, str(tmp_path / "tbl_bad"), n_buckets=2)
    res = eng.replay(wal)
    m = res.batches[0]
    assert m.schema_ops == 3 and m.schema_ops_invalid == 3
    assert m.conserved()
    assert [r["path"] for r in eng.current_state().collect()] == ["a.py"]
    # no extra column was created
    assert "x" not in eng.current_state().columns and "y" not in eng.current_state().columns


def test_schema_evolution_survives_resume(spark, tmp_path):
    wal = str(tmp_path / "wal2")
    write_wal(generate_changelog(spark, 4000, seed=22), wal, chunk_size=800)
    root = str(tmp_path / "tbl2")
    import pytest

    with pytest.raises(RuntimeError):
        CDCEngine(spark, root, n_buckets=8).replay(wal, fail_after_batches=3)
    eng = CDCEngine(spark, root, n_buckets=8)
    eng.replay(wal)
    exp = replay_oracle(wal)
    got = {
        (r["repo"], r["path"]): (r["content_sha256"], r["quality_score"])
        for r in eng.current_state().collect()
    }
    assert got == {k: (v["content_sha256"], v.get("quality_score")) for k, v in exp.items()}


def test_promote_type_replay(spark, tmp_path):
    """Type promotion e2e (Iceberg widening): the quality column is born
    FLOAT, renamed, then promoted to DOUBLE mid-stream — float-era files are
    widened at read time by column id (no rewrite), double-era extractions
    keep full precision. Engine state must equal the Python oracle, which
    emulates the float32 round-trip."""
    wal = str(tmp_path / "wal_pr")
    write_wal(
        generate_changelog(spark, 4000, seed=23, with_type_promotion=True),
        wal, chunk_size=800,
    )
    eng = CDCEngine(spark, str(tmp_path / "tbl_pr"), n_buckets=8)
    res = eng.replay(wal)
    assert sum(b.schema_ops_invalid for b in res.batches) == 0
    assert sum(b.schema_ops for b in res.batches) == 3

    state = eng.current_state()
    assert dict(state.dtypes)["quality_score"] == "double"
    got = {
        (r["repo"], r["path"]): (r["content_sha256"], r["quality_score"])
        for r in state.collect()
    }
    exp = replay_oracle(wal)
    assert got == {
        k: (v["content_sha256"], v.get("quality_score")) for k, v in exp.items()
    }
    # schema history: base, +add(float), +rename, +promote(double)
    snap = eng.vault.snapshot()
    assert len(snap.schemas) >= 4
    types_by_version = [
        {c["name"]: c["type"] for c in s.columns} for _, s in sorted(snap.schemas.items())
    ]
    assert types_by_version[-1]["quality_score"] == "double"
    assert any(t.get("quality") == "float" or t.get("quality_score") == "float"
               for t in types_by_version)


def test_promote_preserves_float_era_precision(spark, tmp_path):
    """Float-era rows widen to the float32 value (0.1f != 0.1d); double-era
    rows keep full precision — the lossless-widening contract, pinned."""
    rows = [
        (0, "__schema__", "__schema__", "c0", "add_column", None, None,
         {"column": "quality", "type": "float"}),
        (1, "r1", "a.py", "c1", "insert", "python", "x = 1", {"quality": "0.1"}),
        (10, "__schema__", "__schema__", "c2", "promote_type", None, None,
         {"column": "quality", "type": "double"}),
        (11, "r1", "b.py", "c3", "insert", "python", "x = 2", {"quality": "0.1"}),
    ]
    wal = str(tmp_path / "wal_fp")
    write_wal(_mini_wal_df(spark, rows), wal, chunk_size=10)
    eng = CDCEngine(spark, str(tmp_path / "tbl_fp"), n_buckets=1)
    eng.replay(wal)
    state = eng.current_state()
    assert dict(state.dtypes)["quality"] == "double"
    got = {r["path"]: r["quality"] for r in state.collect()}
    import struct as _s

    f32 = _s.unpack("<f", _s.pack("<f", 0.1))[0]
    assert got == {"a.py": f32, "b.py": 0.1}
    assert got["a.py"] != got["b.py"]  # the precision boundary is observable
    oracle = replay_oracle(wal)
    assert {k[1]: v.get("quality") for k, v in oracle.items()} == got


def test_promote_invalid_ops_skipped(spark, tmp_path):
    """Narrowing, cross-family, unknown-column, key-column and missing-props
    promote events are counted invalid and skipped — never a driver abort,
    never a schema change."""
    rows = [
        (0, "__schema__", "__schema__", "c0", "add_column", None, None,
         {"column": "quality", "type": "double"}),
        (1, "__schema__", "__schema__", "c1", "promote_type", None, None,
         {"column": "quality", "type": "float"}),  # narrowing: invalid
        (2, "__schema__", "__schema__", "c2", "promote_type", None, None,
         {"column": "quality", "type": "string"}),  # cross-family: invalid
        (3, "__schema__", "__schema__", "c3", "promote_type", None, None,
         {"column": "nope", "type": "long"}),  # unknown column: invalid
        (4, "__schema__", "__schema__", "c4", "promote_type", None, None,
         {"column": "repo", "type": "long"}),  # key column: invalid
        (5, "__schema__", "__schema__", "c5", "promote_type", None, None,
         {"column": "quality"}),  # missing 'type': invalid
        (6, "r1", "a.py", "c6", "insert", "python", "x = 1", {"quality": "1.5"}),
    ]
    wal = str(tmp_path / "wal_inv")
    write_wal(_mini_wal_df(spark, rows), wal, chunk_size=100)
    eng = CDCEngine(spark, str(tmp_path / "tbl_inv"), n_buckets=2)
    res = eng.replay(wal)
    m = res.batches[0]
    assert m.schema_ops == 6 and m.schema_ops_invalid == 5
    state = eng.current_state()
    assert dict(state.dtypes)["quality"] == "double"
    assert {r["path"]: r["quality"] for r in state.collect()} == {"a.py": 1.5}


def test_promote_survives_resume(spark, tmp_path):
    """Crash-resume across a promote_type batch: the committed schema version
    carries the widened type; re-applying the batch is idempotent."""
    import pytest

    wal = str(tmp_path / "wal_pres")
    write_wal(
        generate_changelog(spark, 4000, seed=24, with_type_promotion=True),
        wal, chunk_size=800,
    )
    root = str(tmp_path / "tbl_pres")
    with pytest.raises(RuntimeError):
        CDCEngine(spark, root, n_buckets=8).replay(wal, fail_after_batches=5)
    eng = CDCEngine(spark, root, n_buckets=8)
    eng.replay(wal)
    exp = replay_oracle(wal)
    got = {
        (r["repo"], r["path"]): (r["content_sha256"], r["quality_score"])
        for r in eng.current_state().collect()
    }
    assert got == {k: (v["content_sha256"], v.get("quality_score")) for k, v in exp.items()}
    assert dict(eng.current_state().dtypes)["quality_score"] == "double"


def test_promote_column_unit():
    """TableSchema.promote_column: lattice, idempotency, id stability."""
    import pytest

    from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import TableSchema

    s = TableSchema.from_names([("k", "string"), ("n", "int"), ("x", "float")])
    s2 = s.promote_column("n", "long")
    assert [c["type"] for c in s2.columns] == ["string", "long", "float"]
    assert [c["id"] for c in s2.columns] == [c["id"] for c in s.columns]
    assert s2.schema_id == s.schema_id + 1
    assert s2.promote_column("n", "long") is s2  # idempotent re-apply
    s3 = s2.promote_column("x", "double")
    assert {c["name"]: c["type"] for c in s3.columns}["x"] == "double"
    with pytest.raises(ValueError):
        s3.promote_column("n", "int")  # narrowing
    with pytest.raises(ValueError):
        s3.promote_column("k", "long")  # cross-family
    with pytest.raises(KeyError):
        s3.promote_column("missing", "long")


def test_rename_onto_existing_column_is_skipped_as_invalid(spark, tmp_path):
    """A WAL rename_column targeting an EXISTING name must be counted as an
    invalid schema op and skipped — committing it would produce duplicate
    column names and permanently brick scan()."""
    import pyspark.sql.functions as F

    from observability_platform___databricks_etl_pipeline_spark.gen.changelog import write_wal
    from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine

    def ev(seq, op, props, repo="r1", path="a.py", commit="c", content="x"):
        return (seq, T0 + dt.timedelta(seconds=seq), repo, path, commit, op, None, content, props)

    import datetime as dt

    T0 = dt.datetime(2024, 1, 1)
    rows = [
        ev(1, "insert", None),
        ev(2, "add_column", {"column": "quality", "type": "double"}),
        ev(3, "rename_column", {"from": "quality", "to": "lang"}),  # ONTO existing: invalid
        ev(4, "update", {"quality": "0.5"}),
    ]
    schema = ("seq long, ts timestamp, repo string, path string, commit string,"
              " op string, lang string, content string, props map<string,string>")
    wal = str(tmp_path / "wal")
    write_wal(spark.createDataFrame(rows, schema), wal, chunk_size=10)
    eng = CDCEngine(spark, str(tmp_path / "tbl"), n_buckets=4)
    res = eng.replay(wal)
    assert sum(b.schema_ops_invalid for b in res.batches) == 1
    state = eng.current_state()
    assert state.columns.count("lang") == 1 and "quality" in state.columns
    assert state.where(F.col("quality") == 0.5).count() == 1

def test_drop_column_replay(spark, tmp_path):
    """Iceberg drop e2e: the evolved column is added, renamed, promoted and
    finally DROPPED mid-stream — final state carries no quality column at
    all, values written before the drop are unreachable, and the engine
    equals the Python oracle on the full row."""
    wal = str(tmp_path / "wal_dr")
    write_wal(
        generate_changelog(
            spark, 4000, seed=25, with_type_promotion=True, with_drop_column=True
        ),
        wal, chunk_size=800,
    )
    eng = CDCEngine(spark, str(tmp_path / "tbl_dr"), n_buckets=8)
    res = eng.replay(wal)
    assert sum(b.schema_ops_invalid for b in res.batches) == 0
    assert sum(b.schema_ops for b in res.batches) == 4

    state = eng.current_state()
    assert "quality_score" not in state.columns
    assert "quality" not in state.columns
    got = {
        (r["repo"], r["path"]): r["content_sha256"] for r in state.collect()
    }
    exp = replay_oracle(wal)
    assert set(exp) == set(got)
    assert got == {k: v["content_sha256"] for k, v in exp.items()}
    for v in exp.values():
        assert "quality_score" not in v and "quality" not in v
    # schema history keeps every version: the dropped column is still
    # readable via time travel to a pre-drop snapshot
    snap = eng.vault.snapshot()
    pre_drop = [
        sid for sid, s in snap.schemas.items()
        if "quality_score" in [c["name"] for c in s.columns]
    ]
    assert pre_drop, "pre-drop schema versions must remain in history"


def test_drop_then_readd_is_a_new_column(spark, tmp_path):
    """The id-reuse contract, pinned: drop then re-add the same NAME yields a
    NEW column id — rows written under the first generation read as NULL
    after the re-add; only post-re-add values surface."""
    rows = [
        (0, "__schema__", "__schema__", "c0", "add_column", None, None,
         {"column": "quality", "type": "double"}),
        (1, "r1", "a.py", "c1", "insert", "python", "x = 1", {"quality": "1.5"}),
        (10, "__schema__", "__schema__", "c2", "drop_column", None, None,
         {"column": "quality"}),
        (11, "r1", "b.py", "c3", "insert", "python", "x = 2", {"quality": "9.9"}),
        (20, "__schema__", "__schema__", "c4", "add_column", None, None,
         {"column": "quality", "type": "double"}),
        (21, "r1", "c.py", "c5", "insert", "python", "x = 3", {"quality": "2.5"}),
    ]
    wal = str(tmp_path / "wal_ra")
    write_wal(_mini_wal_df(spark, rows), wal, chunk_size=2)
    eng = CDCEngine(spark, str(tmp_path / "tbl_ra"), n_buckets=1)
    eng.replay(wal)
    state = eng.current_state()
    got = {r["path"]: r["quality"] for r in state.collect()}
    # a.py: written under generation 1 (id N) -> NULL under generation 2;
    # b.py: written while dropped -> NULL; c.py: generation 2 value
    assert got == {"a.py": None, "b.py": None, "c.py": 2.5}
    oracle = replay_oracle(wal)
    assert {k[1]: v.get("quality") for k, v in oracle.items()} == got
    # two distinct ids for the two generations
    snap = eng.vault.snapshot()
    ids = {
        c["id"]
        for s in snap.schemas.values()
        for c in s.columns
        if c["name"] == "quality"
    }
    assert len(ids) == 2


def test_drop_invalid_ops_skipped(spark, tmp_path):
    """Drops of base, key, unknown and missing-prop columns are counted
    invalid and skipped — never a driver abort, never a schema change."""
    rows = [
        (0, "__schema__", "__schema__", "c0", "add_column", None, None,
         {"column": "quality", "type": "double"}),
        (1, "__schema__", "__schema__", "c1", "drop_column", None, None,
         {"column": "repo"}),  # key column: invalid
        (2, "__schema__", "__schema__", "c2", "drop_column", None, None,
         {"column": "content"}),  # base column: invalid
        (3, "__schema__", "__schema__", "c3", "drop_column", None, None,
         {"column": "nope"}),  # unknown: invalid
        (4, "__schema__", "__schema__", "c4", "drop_column", None, None,
         {}),  # missing props: invalid
        (5, "r1", "a.py", "c5", "insert", "python", "x = 1", {"quality": "1.5"}),
    ]
    wal = str(tmp_path / "wal_di")
    write_wal(_mini_wal_df(spark, rows), wal, chunk_size=100)
    eng = CDCEngine(spark, str(tmp_path / "tbl_di"), n_buckets=2)
    res = eng.replay(wal)
    m = res.batches[0]
    assert m.schema_ops == 5 and m.schema_ops_invalid == 4
    state = eng.current_state()
    assert set(state.columns) >= {"repo", "content", "quality"}
    assert {r["path"]: r["quality"] for r in state.collect()} == {"a.py": 1.5}


def test_drop_survives_resume(spark, tmp_path):
    """Crash-resume across a drop_column batch: the committed schema version
    has the column gone; resume completes to the oracle state."""
    import pytest

    wal = str(tmp_path / "wal_dres")
    write_wal(
        generate_changelog(
            spark, 4000, seed=26, with_type_promotion=True, with_drop_column=True
        ),
        wal, chunk_size=800,
    )
    root = str(tmp_path / "tbl_dres")
    with pytest.raises(RuntimeError):
        CDCEngine(spark, root, n_buckets=8).replay(wal, fail_after_batches=5)
    eng = CDCEngine(spark, root, n_buckets=8)
    eng.replay(wal)
    state = eng.current_state()
    assert "quality_score" not in state.columns
    exp = replay_oracle(wal)
    got = {
        (r["repo"], r["path"]): r["content_sha256"] for r in state.collect()
    }
    assert got == {k: v["content_sha256"] for k, v in exp.items()}


def test_drop_column_unit():
    """TableSchema.drop_column: id retirement, idempotency shape, errors."""
    import pytest

    from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import TableSchema

    s = TableSchema.from_names([("k", "string"), ("q", "double")])
    s2 = s.drop_column("q")
    assert [c["name"] for c in s2.columns] == ["k"]
    assert s2.next_id == s.next_id  # id retired, never reused
    assert s2.schema_id == s.schema_id + 1
    s3 = s2.add_column("q", "double")
    assert {c["name"]: c["id"] for c in s3.columns}["q"] != {
        c["name"]: c["id"] for c in s.columns
    }["q"]
    with pytest.raises(KeyError):
        s2.drop_column("q")  # already gone


def test_rename_of_base_or_key_column_is_skipped_as_invalid(spark, tmp_path):
    """A WAL rename of a base or key column is a poison event: the engine
    references those names everywhere (bucket_expr, merge, sanitize), so
    committing the rename would brick every later batch. It must be counted
    invalid and skipped — same policy as drop_column/promote_type on them."""
    import datetime as dt

    import pyspark.sql.functions as F

    from observability_platform___databricks_etl_pipeline_spark.gen.changelog import write_wal
    from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine

    T0 = dt.datetime(2024, 1, 1)

    def ev(seq, op, props, repo="r1", path="a.py", commit="c", content="x"):
        return (seq, T0 + dt.timedelta(seconds=seq), repo, path, commit, op, None, content, props)

    rows = [
        ev(1, "insert", None),
        ev(2, "rename_column", {"from": "repo", "to": "r2"}),      # key: invalid
        ev(3, "rename_column", {"from": "content", "to": "body"}), # base: invalid
        ev(4, "add_column", {"column": "quality", "type": "double"}),
        ev(5, "rename_column", {"from": "quality", "to": "score"}),  # evolved: fine
        ev(6, "update", {"quality": "0.5"}),
    ]
    schema = ("seq long, ts timestamp, repo string, path string, commit string,"
              " op string, lang string, content string, props map<string,string>")
    wal = str(tmp_path / "wal")
    write_wal(spark.createDataFrame(rows, schema), wal, chunk_size=10)
    eng = CDCEngine(spark, str(tmp_path / "tbl"), n_buckets=4)
    res = eng.replay(wal)
    assert sum(b.schema_ops_invalid for b in res.batches) == 2
    state = eng.current_state()
    assert "repo" in state.columns and "content" in state.columns
    assert "score" in state.columns and "quality" not in state.columns
    assert state.where(F.col("score") == 0.5).count() == 1
    # replay is still resumable (nothing poisoned): a second replay no-ops
    res2 = CDCEngine(spark, str(tmp_path / "tbl"), n_buckets=4).replay(wal)
    assert all(b.skipped for b in res2.batches)
