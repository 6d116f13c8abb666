"""Differential property test: the ``lakevault`` data source's pyarrow read
path against the table's own Spark reads. The data source must replicate
column-id alignment, equality-delete application, the LWW fold and the
change diff in Python workers (they cannot run Spark plans), so hypothesis
generates small histories that exercise all four and asserts

- ``format("lakevault")`` at a snapshot == ``scan()`` at that snapshot;
- ``feed=changes`` between two snapshots == ``scan_changes`` between them.

Histories: a double key holding nulls and NaNs, ``last_seq`` drawn from a
tiny range so it repeats across commits, merge-on-read delta appends (some
through the engine's commit, some through ``df.write.format("lakevault")``),
``delete(mode="mor")`` equality deletes, and one rename + add between
commits.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import (
    LakeVault,
    snapshot_ddl,
)
from observability_platform___databricks_etl_pipeline_spark.sources import lakevault_ds

KEYS = {"1": 1.0, "2": 2.0, "3": 3.0, "nan": float("nan"), "null": None}
DELETE_ATOMS = ["isnan(k)", "k is null", "k = 1.0", "k = 2.0", "k = 3.0"]

# one row per key and commit: within a commit a key has one winner
rows_st = st.dictionaries(
    st.sampled_from(sorted(KEYS)),
    st.tuples(st.integers(0, 3), st.integers(0, 9)),  # (last_seq, value)
    min_size=1,
    max_size=5,
)
step_st = st.one_of(
    st.tuples(st.just("delta"), rows_st, st.booleans()),  # bool: via format()
    st.tuples(st.just("delete"), st.sets(st.sampled_from(DELETE_ATOMS), min_size=1, max_size=2)),
)


def _df(spark, v, rows):
    return spark.createDataFrame(rows, snapshot_ddl(v.snapshot().schema.columns))


def _commit(spark, v, rows, batch_id, delta):
    wd = v.new_write_dir(batch_id)
    (
        _df(spark, v, rows)
        .withColumn("__bucket", v.bucket_expr())
        .repartition(2, "__bucket")
        .write.mode("overwrite")
        .partitionBy("__bucket")
        .parquet(wd)
    )
    v.commit(add_write_dir=wd, replace_buckets=None, batch_id=batch_id, delta=delta)


def _rows(v, picked, evolved):
    out = []
    for key, (seq, val) in sorted(picked.items()):
        row = (KEYS[key], seq, val)
        out.append(row + (val / 2,) if evolved else row)
    return out


def _printed(df):
    # NaN != NaN and None does not order against a float: compare the
    # printed rows
    return sorted(
        repr(tuple(tuple(x) if hasattr(x, "asDict") else x for x in r)) for r in df.collect()
    )


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    base=rows_st,
    steps=st.lists(step_st, min_size=2, max_size=4),
    evolve_at=st.integers(0, 4),
    data=st.data(),
)
def test_ds_reads_match_scan_and_scan_changes(spark, tmp_path_factory, base, steps, evolve_at, data):
    root = str(tmp_path_factory.mktemp("prop") / "t")
    v = LakeVault.create(
        spark, root, [("k", "double"), ("last_seq", "long"), ("v", "int")], key_cols=("k",),
        n_buckets=2,
    )
    lakevault_ds.register(spark)
    _commit(spark, v, _rows(v, base, False), "base", delta=False)
    evolved = False
    for i, step in enumerate(steps):
        if i == evolve_at:
            s = v.snapshot().schema.rename_column("v", "w").add_column("q", "double")
            v.commit(add_write_dir=None, replace_buckets=None, batch_id=f"evolve{i}", new_schema=s)
            evolved = True
        if step[0] == "delta":
            _, picked, via_ds = step
            rows = _rows(v, picked, evolved)
            if via_ds:
                _df(spark, v, rows).write.format("lakevault").mode("append").save(root)
            else:
                _commit(spark, v, rows, f"d{i}", delta=True)
        else:
            v.delete(" or ".join(sorted(step[1])), mode="mor")

    sids = v.snapshot_ids()
    for sid in {sids[-1], data.draw(st.sampled_from(sids[1:]), label="snapshot")}:
        ds = spark.read.format("lakevault").option("snapshotId", sid).load(root)
        assert _printed(ds) == _printed(v.scan(sid)), f"snapshot {sid}"
    for _ in range(2):
        a, b = sorted(data.draw(st.lists(st.sampled_from(sids), min_size=2, max_size=2)))
        ch = (
            spark.read.format("lakevault")
            .option("feed", "changes")
            .option("fromSnapshotId", a)
            .option("toSnapshotId", b)
            .load(root)
        )
        assert _printed(ch) == _printed(v.scan_changes(a, b)), f"changes {a}..{b}"
