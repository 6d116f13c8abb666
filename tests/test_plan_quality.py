"""Physical-plan assertions: the plans we ship are the plans we designed.

Checks (SURVEY.md §4): parquet filter pushdown + column pruning reach the
scan, small dims broadcast, aggregations keep map-side partial aggregation
(the skew-immunity argument for LWW dedup), and top-k plans as
TakeOrderedAndProject rather than a global sort.
"""

import re

import pyspark.sql.functions as F

from observability_platform___databricks_etl_pipeline_spark.queries import QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_and_pruning(spark, sf01_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf01_dir)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read unused columns
    assert "l_partkey" not in plan.split("ReadSchema")[1][:400]


def test_broadcast_join_on_small_dim(spark, sf01_dir):
    plan = _plan(QUERIES["join_region_rollup"](spark, sf01_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partial_aggregation_in_lww(spark, sf01_dir):
    """max_by keeps a partial (map-side) aggregate before the exchange —
    the property that makes hot keys collapse before the shuffle."""
    df = (
        spark.read.parquet(f"{sf01_dir}/events.parquet")
        .groupBy("user_id", "event_type")
        .agg(F.max_by("value", "event_id").alias("v"))
    )
    plan = _plan(df)
    assert "partial_max_by" in plan
    assert plan.index("partial_max_by") > plan.index("max_by")  # final after partial


def test_topk_plans_as_take_ordered(spark, sf01_dir):
    plan = _plan(QUERIES["q3_shipping_priority"](spark, sf01_dir))
    assert "TakeOrderedAndProject" in plan


def test_q3_orders_side_is_not_force_broadcast(spark, sf01_dir):
    """q3 hints only the customer dimension: with broadcasting disabled by
    size, the lineitem ⋈ filtered-orders join must not be a BroadcastHashJoin
    (no unconditional broadcast of a relation derived from a fact table)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(QUERIES["q3_shipping_priority"](spark, sf01_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    joins = re.findall(r"(\w+Join) \[([^\]]*)\]", plan)
    li_joins = [j for j, keys in joins if "l_orderkey" in keys]
    assert li_joins and "BroadcastHashJoin" not in li_joins, joins
    assert "BroadcastHashJoin" in [j for j, keys in joins if "o_custkey" in keys], joins


def test_anti_join_strategy(spark, sf01_dir):
    plan = _plan(QUERIES["join_anti_inactive_parts"](spark, sf01_dir))
    assert "LeftAnti" in plan


def test_wholestage_codegen_on_text_ops(spark, sf01_dir):
    """Text analysis stays JVM-side (no Python in the plan)."""
    plan = _plan(QUERIES["doc_quality"](spark, sf01_dir))
    assert "WholeStageCodegen" in plan or plan.lstrip().startswith("*(")
    assert "Python" not in plan


def _final_plan_tree(desc: str) -> list[str]:
    """Operator names of an AQE plan's final tree, top-down, from a status
    store ``physicalPlanDescription`` (the tree is the first paragraph)."""
    tree = desc.split("\n\n")[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    return re.findall(r"([A-Za-z][A-Za-z ]*?) \(\d+\)", tree)


def test_engine_merge_has_single_exchange_per_side(spark, tmp_path):
    """The executed merge-write plan shuffles once and sorts once: the one
    Exchange feeds the Sort under the max_by SortAggregate, whose output
    (ordered by __bucket) goes to WriteFiles with no Exchange and no Sort
    between them — at 4 buckets (n_buckets divides shuffle.partitions = 8)
    and at 16 (shuffle.partitions divides n_buckets). Also: scan() prunes by
    bucket."""
    from observability_platform___databricks_etl_pipeline_spark.gen.changelog import (
        generate_changelog,
        write_wal,
    )
    from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine

    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == 8
    wal = str(tmp_path / "wal")
    write_wal(generate_changelog(spark, 2000, seed=3), wal, chunk_size=2000)
    store = spark._jsparkSession.sharedState().statusStore()
    for n_buckets in (4, 16):
        eng = CDCEngine(
            spark, str(tmp_path / f"t{n_buckets}"), n_buckets=n_buckets
        )
        eng.replay(wal)

        execs = store.executionsList()
        descs = [execs.apply(i).physicalPlanDescription() for i in range(execs.size())]
        writes = [
            d for d in descs if "InsertIntoHadoopFsRelationCommand" in d and "SortAggregate" in d
        ]
        assert writes, "no merge write found in the SQL status store"
        ops = _final_plan_tree(writes[-1])
        assert ops.count("Exchange") == 1, (n_buckets, ops)
        assert ops.count("Sort") == 1, (n_buckets, ops)
        agg = ops.index("SortAggregate")
        assert "Sort" not in ops[ops.index("WriteFiles") : agg], (n_buckets, ops)
        assert ops[agg:].index("Sort") < ops[agg:].index("Exchange"), (n_buckets, ops)

        # scan path: bucket pruning keeps non-matching files out of the plan
        snap = eng.vault.snapshot()
        some_bucket = snap.files[0]["bucket"]
        pruned = eng.vault.scan(buckets=[some_bucket])
        n_pruned = len([f for f in snap.files if f["bucket"] == some_bucket])
        assert pruned.count() == sum(
            f["rows"] for f in snap.files if f["bucket"] == some_bucket
        )
        assert n_pruned < len(snap.files)


def test_key_range_pruning_after_compact(spark, tmp_path):
    """Manifest min/max key stats prune at FILE level: after a compact()
    (range-clustered files), a point lookup lists strictly fewer files than
    the full scan and returns identical rows (VERDICT r1 #6)."""
    from observability_platform___databricks_etl_pipeline_spark.gen.changelog import (
        generate_changelog,
        write_wal,
    )
    from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine

    wal = str(tmp_path / "wal")
    write_wal(
        generate_changelog(spark, 8000, seed=13, hot_pct=10, n_repos=40),
        wal,
        chunk_size=8000,
    )
    eng = CDCEngine(spark, str(tmp_path / "t"), n_buckets=4)
    eng.replay(wal)
    # force many small range-clustered files
    eng.vault.compact(target_file_rows=300)
    snap = eng.vault.snapshot()
    assert all(f["min_key"] is not None for f in snap.files)

    repo = "org/repo-0007"
    pruned = eng.lookup(repo)
    full = eng.current_state().where(F.col("repo") == repo)
    assert len(pruned.inputFiles()) < len(eng.current_state().inputFiles())
    got = {(r["path"], r["content_sha256"]) for r in pruned.collect()}
    want = {(r["path"], r["content_sha256"]) for r in full.collect()}
    assert got == want and got


def test_rebucket_compact_then_replay(spark, tmp_path):
    """compact(n_buckets=N) re-buckets atomically with its snapshot; later
    batches merge correctly under the new bucket function (VERDICT r1 #9)."""
    from observability_platform___databricks_etl_pipeline_spark.gen.changelog import (
        generate_changelog,
        write_wal,
    )
    from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine
    from tests.oracle import replay_oracle

    wal = str(tmp_path / "wal")
    write_wal(generate_changelog(spark, 4000, seed=17), wal, chunk_size=1000)
    root = str(tmp_path / "t")
    eng = CDCEngine(spark, root, n_buckets=2)
    eng.replay(wal, max_batches=2)
    assert eng.vault.n_buckets == 2
    eng.vault.compact(target_file_rows=1000, n_buckets=8)
    assert eng.vault.n_buckets == 8
    eng2 = CDCEngine(spark, root)  # reload, finish replay
    eng2.replay(wal)
    exp = replay_oracle(wal)
    got = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in eng2.current_state().collect()
    }
    assert got == {k: v["content_sha256"] for k, v in exp.items()}
    assert {f["bucket"] for f in eng2.vault.snapshot().files} <= set(range(8))
    assert max(f["bucket"] for f in eng2.vault.snapshot().files) > 1


def test_stratified_sample_is_map_only(spark, sf01_dir):
    """Sampling must be a narrow filter: no shuffle, no Python, codegen'd."""
    from observability_platform___databricks_etl_pipeline_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf01_dir}/documents.parquet")
    kept = stratified_sample(docs, "lang", {"en": 0.25}, 0.5, "doc_id")
    plan = _plan(kept)
    assert "Exchange" not in plan
    assert "Python" not in plan and "Batch EvalPython" not in plan
    assert "*(1) Filter" in plan  # whole-stage-codegen'd narrow filter


def test_props_parse_stays_jvm_side(spark, sf01_dir):
    """from_json(MAP) + typed extraction must not leave the JVM."""
    df = QUERIES["events_props_parse"](spark, sf01_dir)
    plan = _plan(df)
    assert "Python" not in plan
    # only props/event_type read from the scan
    read = plan.split("ReadSchema")[1][:200]
    assert "props" in read and "value" not in read


def test_bucket_expr_matches_hashpartitioning(spark, sf01_dir):
    """Load-bearing invariant for the shuffle-free bucket write: bucket_expr
    (pmod(murmur3(keys), n)) must equal the partition id HashPartitioning
    assigns for groupBy(keys) when shuffle.partitions == n. Pinned here so a
    Spark upgrade that changes hashing/seed fails loudly instead of silently
    degrading into a 1000-small-files write."""
    old = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        df = spark.read.parquet(f"{sf01_dir}/documents.parquet").select(
            F.col("doc_id").cast("string").alias("repo"), F.col("lang").alias("path")
        )
        got = (
            df.groupBy("repo", "path")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("pid", F.spark_partition_id())
            .withColumn("bk", F.pmod(F.hash("repo", "path"), F.lit(n)))
        )
        assert got.where("pid <> bk").count() == 0
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old)


def test_batch_ann_broadcasts_queries_not_corpus(spark, sf01_dir):
    """lsh_topk_batch must plan the query×corpus join as a BROADCAST of the
    (tiny) query frame — the corpus side is never shuffled for the join; the
    only corpus exchange is the per-qid top-k window over the candidate set."""
    plan = QUERIES["emb_lsh_topk_batch"](spark, sf01_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # corpus is never shuffled for the join


def test_read_planning_submits_no_spark_job(spark, tmp_path):
    """Building ``current_state()``, ``lookup()``, ``changes()``, a
    bucket-pruned ``scan()`` and the rollup's read of a partitioned write dir
    submits no Spark job: every read of the table's files takes its schema
    from a file footer instead of an inference job.
    The table mixes four schema versions (int column ``n`` renamed to
    ``hits``, promoted to long, then ``note`` added), a MOR delta, an
    equality delete, and a caller-committed file whose ``score`` is decimal
    on disk while the table calls it double."""
    from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import (
        LakeVault,
        read_parquet_pinned,
    )
    from observability_platform___databricks_etl_pipeline_spark.plans.replay import (
        BASE_COLUMNS,
        CDCEngine,
    )
    from observability_platform___databricks_etl_pipeline_spark.plans.sparkhash import bucket_of

    root = str(tmp_path / "t")
    v = LakeVault.create(
        spark, root, [*BASE_COLUMNS, ("n", "int"), ("score", "double")],
        key_cols=("repo", "path"), n_buckets=4,
    )

    def commit(p, extra, new_schema=None, delta=False, where="true"):
        wd = v.new_write_dir(p)
        df = spark.range(4).selectExpr(
            "concat('r', id % 2) repo", f"concat('{p}', id) path", "'c' commit",
            "'py' lang", f"concat('{p}x', id) content", f"concat('{p}h', id) content_sha256",
            "id last_seq", "false is_deleted", *extra,
        ).where(where)
        (df.withColumn("__bucket", v.bucket_expr()).repartition(1)
           .write.mode("overwrite").partitionBy("__bucket").parquet(wd))
        return v.commit(add_write_dir=wd, replace_buckets=None, batch_id=p,
                        manifest={"batch_id": p}, new_schema=new_schema, delta=delta)

    # caller-committed: score is decimal(6,2) on disk, double in the schema
    commit("a", ["cast(id as int) n", "cast(id as decimal(6,2)) score"])
    s = v.snapshot().schema.rename_column("n", "hits")
    commit("b", ["cast(id as int) hits", "cast(id as double) score"], new_schema=s)
    s = s.promote_column("hits", "long")
    commit("c", ["id hits", "cast(id as double) score"], new_schema=s)
    s = s.add_column("note", "string")
    since = commit("d", ["id hits", "cast(id as double) score", "concat('n', id) note"],
                   new_schema=s)
    # MOR delta: a1 updated, b2 tombstoned
    wd = v.new_write_dir("e")
    (spark.createDataFrame(
        [("r1", "a1", "c", "py", "upd", "uh", 100, False, 41, 4.5, "new"),
         ("r0", "b2", "c", "py", None, "dh", 100, True, 2, 2.0, None)],
        "repo string, path string, commit string, lang string, content string, "
        "content_sha256 string, last_seq long, is_deleted boolean, hits long, "
        "score double, note string")
     .withColumn("__bucket", v.bucket_expr()).repartition(1)
     .write.mode("overwrite").partitionBy("__bucket").parquet(wd))
    v.commit(add_write_dir=wd, replace_buckets=None, batch_id="e",
             manifest={"batch_id": "e"}, delta=True)
    v.delete("path = 'c3'", mode="mor")  # equality-delete file

    def row(p, i, note=None):
        return (f"r{i % 2}", f"{p}{i}", "c", "py", f"{p}x{i}", f"{p}h{i}", i, False,
                i, float(i), note)

    live = {row(p, i, f"n{i}" if p == "d" else None) for p in "abcd" for i in range(4)}
    live -= {row("a", 1), row("b", 2), row("c", 3)}
    live.add(("r1", "a1", "c", "py", "upd", "uh", 100, False, 41, 4.5, "new"))
    buckets = sorted({bucket_of([r[0], r[1]], 4) for r in live})[:2]
    tomb = ("r0", "b2", "c", "py", None, "dh", 100, True, 2, 2.0, None)

    eng = CDCEngine(spark, root, n_buckets=4)
    sc = spark.sparkContext._jsc.sc()
    store = sc.statusStore()
    sc.listenerBus().waitUntilEmpty()
    jobs_before = store.jobsList(None).size()
    state = eng.current_state()
    look = eng.lookup("r1")
    feed = eng.changes(since)
    pruned = v.scan(buckets=buckets)
    write_dir = read_parquet_pinned(spark, [wd])  # the rollup's read of a write dir
    sc.listenerBus().waitUntilEmpty()
    assert store.jobsList(None).size() == jobs_before

    assert {tuple(r) for r in state.collect()} == live
    assert {tuple(r) for r in look.collect()} == {r for r in live if r[0] == "r1"}
    assert {tuple(r) for r in pruned.collect()} == {
        r for r in live | {tomb} if bucket_of([r[0], r[1]], 4) in buckets
    }
    assert write_dir.columns[-3:] == ["score", "note", "__bucket"]
    assert {(r["path"], r["_change_type"], r["content"]) for r in feed.collect()} == {
        ("a1", "update", "upd"),
        ("b2", "delete", "bx2"),
        ("c3", "delete", "cx3"),
    }
