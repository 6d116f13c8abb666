"""format("lakevault") WRITE side: batch append and Structured Streaming
sink as delta upserts with exactly-once microbatch commits."""

import pyspark.sql.functions as F
import pytest

from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import LakeVault
from observability_platform___databricks_etl_pipeline_spark.sources import lakevault_ds

COLS = [
    ("repo", "string"),
    ("path", "string"),
    ("last_seq", "long"),
    ("lang", "string"),
]
DDL = "repo string, path string, last_seq long, lang string"


def _mk(spark, tmp_path, name="t"):
    v = LakeVault.create(
        spark, str(tmp_path / name), COLS, key_cols=("repo", "path"), n_buckets=8
    )
    wd = v.new_write_dir("b0")
    (
        spark.createDataFrame(
            [("r1", "a.py", 1, "python"), ("r2", "b.go", 2, "go")], DDL
        )
        .withColumn("__bucket", v.bucket_expr())
        .repartition(1, "__bucket")
        .write.mode("overwrite")
        .partitionBy("__bucket")
        .parquet(wd)
    )
    v.commit(add_write_dir=wd, replace_buckets=None, batch_id="b0")
    return v


def _state(v):
    return {(r["repo"], r["path"]): (r["last_seq"], r["lang"]) for r in v.scan().collect()}


def test_batch_write_upserts_by_key(spark, tmp_path):
    v = _mk(spark, tmp_path)
    lakevault_ds.register(spark)
    df = spark.createDataFrame(
        [("r1", "a.py", 9, "py3"), ("r3", "c.rs", 3, "rust")], DDL
    )
    df.write.format("lakevault").mode("append").save(v.root)
    got = _state(v)
    assert got[("r1", "a.py")] == (9, "py3")  # upsert won by seq
    assert got[("r3", "c.rs")] == (3, "rust")  # insert
    assert got[("r2", "b.go")] == (2, "go")  # untouched
    # appended as deltas: original files still live
    assert any(f.get("delta") for f in v.snapshot().files)


def test_batch_write_bucket_column_fast_path_matches(spark, tmp_path):
    v1 = _mk(spark, tmp_path, "plain")
    v2 = _mk(spark, tmp_path, "fast")
    lakevault_ds.register(spark)
    rows = [(f"r{i}", f"f{i}.py", 100 + i, "x") for i in range(20)]
    df = spark.createDataFrame(rows, DDL)
    df.write.format("lakevault").mode("append").save(v1.root)
    df.withColumn("__bucket", v2.bucket_expr()).write.format("lakevault").mode(
        "append"
    ).save(v2.root)
    assert _state(v1) == _state(v2)
    # the JVM-computed buckets landed where the manifests say they did:
    # point probes prune to one bucket and still find the row
    from observability_platform___databricks_etl_pipeline_spark.plans.sparkhash import bucket_of

    snap = v2.snapshot()
    for repo, path, seq, _ in rows[:5]:
        b = bucket_of([repo, path], 8)
        hit = [
            f
            for f in snap.files
            if f["bucket"] == b and f.get("delta")
        ]
        assert hit  # the delta landed in the hash-correct bucket


def test_batch_write_exactly_once_by_batchid(spark, tmp_path):
    v = _mk(spark, tmp_path)
    lakevault_ds.register(spark)
    df = spark.createDataFrame([("r9", "z.py", 50, "py")], DDL)
    df.write.format("lakevault").mode("append").option("batchId", "load-1").save(v.root)
    sid = v.current_snapshot_id()
    df.write.format("lakevault").mode("append").option("batchId", "load-1").save(v.root)
    assert v.current_snapshot_id() == sid  # replay was a commit-level no-op
    assert _state(v)[("r9", "z.py")] == (50, "py")


def test_write_guards(spark, tmp_path):
    v = _mk(spark, tmp_path)
    lakevault_ds.register(spark)
    df = spark.createDataFrame([("r1", "a.py", 1, "x")], DDL)
    with pytest.raises(Exception, match="append-only"):
        df.write.format("lakevault").mode("overwrite").save(v.root)
    with pytest.raises(Exception, match="input columns"):
        df.drop("lang").write.format("lakevault").mode("append").save(v.root)
    v2 = LakeVault.create(
        spark,
        str(tmp_path / "noseq"),
        [("repo", "string"), ("path", "string"), ("lang", "string")],
        key_cols=("repo", "path"),
        n_buckets=2,
    )
    with pytest.raises(Exception, match="last_seq"):
        df.drop("last_seq").write.format("lakevault").mode("append").save(v2.root)


def test_stream_write_exactly_once_across_restart(spark, tmp_path):
    """A file-source stream sinks into the table via availableNow; rerunning
    the SAME query on the same checkpoint replays no rows (batch ids burn),
    and new input files flow through on the next run."""
    v = _mk(spark, tmp_path)
    lakevault_ds.register(spark)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([("r5", "s1.py", 10, "py"), ("r6", "s2.py", 11, "go")], DDL).write.mode(
        "append"
    ).parquet(src)

    def run():
        q = (
            spark.readStream.schema(DDL)
            .parquet(src)
            .writeStream.format("lakevault")
            .option("checkpointLocation", ckpt)
            .option("streamId", "ingest-1")
            .trigger(availableNow=True)
            .start(v.root)
        )
        q.awaitTermination(120)

    run()
    got = _state(v)
    assert got[("r5", "s1.py")] == (10, "py") and got[("r6", "s2.py")] == (11, "go")
    sid = v.current_snapshot_id()

    run()  # no new input: no rows replayed, no duplicate state
    assert _state(v) == got

    spark.createDataFrame([("r5", "s1.py", 99, "py3")], DDL).write.mode("append").parquet(src)
    run()
    assert _state(v)[("r5", "s1.py")] == (99, "py3")
    assert v.current_snapshot_id() > sid


def test_timestamp_first_key_entry_is_the_footer_stats(spark, tmp_path):
    """A table whose first key column is a timestamp: the writer builds its
    manifest entry from the file footer, like every engine-written file, so
    the commit stores no key stats for the datetime key instead of failing
    to serialize it, and the entry equals ``_parquet_footer_stats``."""
    import datetime
    import os

    from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import (
        _parquet_footer_stats,
    )

    v = LakeVault.create(
        spark,
        str(tmp_path / "ts"),
        [("ts", "timestamp"), ("path", "string"), ("last_seq", "long")],
        key_cols=("ts", "path"),
        n_buckets=4,
    )
    lakevault_ds.register(spark)
    ts = datetime.datetime(2024, 1, 1, 12, 30, 0)
    spark.createDataFrame([(ts, "a.py", 1)], "ts timestamp, path string, last_seq long").write.format(
        "lakevault"
    ).mode("append").save(v.root)
    (entry,) = v.snapshot().files
    rows, nbytes, kmin, kmax, cstats = _parquet_footer_stats(
        os.path.join(v.root, entry["path"]), "ts"
    )
    assert (entry["rows"], entry["bytes"], entry["min_key"], entry["max_key"]) == (
        rows,
        nbytes,
        kmin,
        kmax,
    )
    assert entry.get("col_stats", {}) == cstats
    assert [tuple(r) for r in v.scan().collect()] == [(ts, "a.py", 1)]
