"""Deterministic, fully-distributed WAL / change-log generator.

Reference analog: ``notebooks/00_generate_sample_data.py:26-221`` (driver-side
per-row synthetic trace generator, wall-clock-seeded). This one is the
opposite by design: every column is a pure function of the row id via
``xxhash64(id, salt)`` — no ``rand()``, no wall clock — so the SAME code
produces byte-identical data at any parallelism, any partition count, and any
scale (10k rows for pytest, 10^7+ for bench, 10^10 on a real cluster), and the
pytest oracle can simply read the written WAL back rather than re-deriving it.

Event mix (FIXTURES.md §2): ~3% exact-duplicate events (same key+content, new
seq), ~2% same-key-different-content duplicates (LWW exercised), ~5% deletes,
block-local out-of-order ``seq``, one hot repo holding ~hot_pct% of events
(skew), ~0.5% malformed rows (null repo → quarantine), one ``add_column`` and
one ``rename_column`` event mid-stream (plus one ``promote_type`` widening
when ``with_type_promotion=True`` and one ``drop_column`` when
``with_drop_column=True``), redactable tokens embedded in ~6% of
contents so sanitization is observable.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

CHANGELOG_COLUMNS = ["seq", "ts", "repo", "path", "commit", "op", "lang", "content", "props"]

_WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark data slow filter customer line value column row agg "
    "query group index file commit branch diff patch lake vault snapshot "
    "schema state offset replay shard bucket salt skew probe build tree leaf "
    "node graph edge plan cost rule push prune code gen stage task core"
).split()

_EXTS = ("py", "md", "rs", "c", "json", "go", "java", "ts", "sh", "yaml", "sql", "txt")
_EXT_LANG = {
    "py": "python", "md": "markdown", "rs": "rust", "c": "c", "json": "json",
    "go": "go", "java": "java", "ts": "typescript", "sh": "shell",
    "yaml": "yaml", "sql": "sql", "txt": "text",
}

_EPOCH = 1704067200  # 2024-01-01T00:00:00Z, fixed (no wall clock anywhere)


def _h(col: Column, salt: int, seed: int) -> Column:
    """Deterministic non-negative 63-bit draw from (col, salt, seed)."""
    return F.abs(F.xxhash64(col, F.lit(salt), F.lit(seed)))


def generate_changelog(
    spark: SparkSession,
    n_events: int,
    n_repos: int = 50,
    n_paths: int = 500,
    hot_pct: int = 50,
    seed: int = 42,
    with_schema_evolution: bool = True,
    with_type_promotion: bool = False,
    with_drop_column: bool = False,
    n_partitions: int | None = None,
) -> DataFrame:
    """Build the change-log DataFrame: columns ``CHANGELOG_COLUMNS``.

    Entirely native expressions over ``spark.range`` — zero Python UDFs, zero
    shuffles; generation parallelizes linearly with cores.
    """
    parts = n_partitions or max(8, min(256, n_events // 50_000 or 8))
    df = spark.range(0, n_events, 1, parts)
    idc = F.col("id")

    # duplicate-event wiring: dup_exact replays id-1's event verbatim (new
    # seq); dup_lww reuses id-2's key but fresh content (LWW race).
    dup_exact = (F.pmod(_h(idc, 1, seed), F.lit(33)) == 0) & (idc > 0)
    dup_lww = (F.pmod(_h(idc, 2, seed), F.lit(47)) == 0) & (idc > 1) & ~dup_exact
    e = F.when(dup_exact, idc - 1).when(dup_lww, idc - 2).otherwise(idc)
    # content seed: exact dup copies the source event's content; LWW dup
    # carries NEW content under the old key.
    cseed = F.when(dup_exact, e).otherwise(idc)

    hot = F.pmod(_h(e, 3, seed), F.lit(100)) < hot_pct
    repo = F.when(hot, F.lit("org/hot-repo")).otherwise(
        F.concat(F.lit("org/repo-"), F.lpad(F.pmod(_h(e, 4, seed), F.lit(n_repos)).cast("string"), 4, "0"))
    )
    ext = F.element_at(F.array(*[F.lit(x) for x in _EXTS]), (F.pmod(_h(e, 7, seed), F.lit(len(_EXTS))) + 1).cast("int"))
    path = F.concat(
        F.lit("src/dir"),
        F.pmod(_h(e, 5, seed), F.lit(20)).cast("string"),
        F.lit("/file_"),
        F.pmod(_h(e, 6, seed), F.lit(n_paths)).cast("string"),
        F.lit("."),
        ext,
    )
    commit = F.lower(F.lpad(F.conv(_h(e, 8, seed).cast("string"), 10, 16), 40, "0"))

    is_delete = F.pmod(_h(e, 9, seed), F.lit(100)) < 5
    op_known = F.when(is_delete, F.lit("delete")).otherwise(
        F.when(F.pmod(_h(e, 14, seed), F.lit(100)) < 60, F.lit("insert")).otherwise(F.lit("update"))
    )
    # ~2% null op → engine's classify fallback
    op = F.when(F.pmod(_h(idc, 10, seed), F.lit(53)) == 0, F.lit(None).cast("string")).otherwise(op_known)

    # lang: null for ~30% (engine must infer from path/content)
    lang_known = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in _EXT_LANG]),
            F.array(*[F.lit(v) for v in _EXT_LANG.values()]),
        ),
        ext,
    )
    lang = F.when(F.pmod(_h(idc, 15, seed), F.lit(10)) < 3, F.lit(None).cast("string")).otherwise(lang_known)

    words = F.array(*[F.lit(w) for w in _WORDS])
    content_words = F.concat_ws(
        " ",
        *[F.element_at(words, (F.pmod(_h(cseed, 1000 + i, seed), F.lit(len(_WORDS))) + 1).cast("int")) for i in range(25)],
    )
    redactable = F.pmod(_h(cseed, 16, seed), F.lit(17)) == 0
    secret_tail = F.concat(
        F.lit(" contact user"),
        F.pmod(_h(cseed, 17, seed), F.lit(1000)).cast("string"),
        F.lit("@example.com token=Bearer abc"),
        F.pmod(_h(cseed, 18, seed), F.lit(100000)).cast("string"),
        F.lit("XYZsecret card 4111 1111 1111 1111 ip 10.0.0."),
        F.pmod(_h(cseed, 19, seed), F.lit(255)).cast("string"),
    )
    content = F.when(is_delete, F.lit(None).cast("string")).otherwise(
        F.when(redactable, F.concat(content_words, secret_tail)).otherwise(content_words)
    )
    lang = F.when(is_delete, F.lit(None).cast("string")).otherwise(lang)

    # malformed rows (~0.5%): null repo → quarantine path
    malformed = F.pmod(_h(idc, 12, seed), F.lit(211)) == 0
    repo = F.when(malformed, F.lit(None).cast("string")).otherwise(repo)

    # block-local out-of-order seq: reverse each block of 4 ids — a true
    # permutation of [0, n) with inversions everywhere.
    seq = (idc - F.pmod(idc, F.lit(4))) + (F.lit(3) - F.pmod(idc, F.lit(4)))
    seq = F.when(seq >= n_events, idc).otherwise(seq)  # tail block safety

    ts = F.timestamp_seconds(F.lit(_EPOCH) + idc)
    # ~30% of rows carry a 'quality' prop so the add_column evolution has
    # observable values to extract (null before the column exists)
    qval = (F.pmod(_h(idc, 21, seed), F.lit(1000)).cast("double") / 100.0).cast("string")
    props = F.when(
        F.pmod(_h(idc, 22, seed), F.lit(10)) < 3,
        F.create_map(
            F.lit("k"), F.pmod(_h(idc, 20, seed), F.lit(100)).cast("string"),
            F.lit("quality"), qval,
        ),
    ).otherwise(F.create_map(F.lit("k"), F.pmod(_h(idc, 20, seed), F.lit(100)).cast("string")))

    out = df.select(
        seq.alias("seq"),
        ts.alias("ts"),
        repo.alias("repo"),
        path.alias("path"),
        commit.alias("commit"),
        op.alias("op"),
        lang.alias("lang"),
        content.alias("content"),
        props.alias("props"),
    )

    if with_schema_evolution and n_events >= 9:
        # evolution script: (seq slot, op, props). With promotion enabled the
        # column is born FLOAT and widened to DOUBLE after the rename, so the
        # table ends with data files under three schema versions of the same
        # column id; default (promotion off) reproduces the historical
        # two-event stream byte-for-byte.
        a_id, r_id = n_events // 3, (2 * n_events) // 3
        born_type = "float" if with_type_promotion else "double"
        evo: list[tuple[int, str, dict[str, str]]] = [
            (a_id, "add_column", {"column": "quality", "type": born_type}),
            (r_id, "rename_column", {"from": "quality", "to": "quality_score"}),
        ]
        if with_type_promotion:
            evo.append(
                ((5 * n_events) // 6, "promote_type",
                 {"column": "quality_score", "type": "double"})
            )
        if with_drop_column:
            # drop the evolved column late in the stream: the final state
            # must not carry quality_score at all, and pre-drop values must
            # be unreachable (Iceberg drop semantics — id never reused)
            evo.append(
                ((11 * n_events) // 12, "drop_column", {"column": "quality_score"})
            )
        rows = spark.createDataFrame(
            [(i, int(s), op, pr) for i, (s, op, pr) in enumerate(evo)],
            "idx long, seq long, op string, props map<string,string>",
        )
        schema_rows = rows.select(
            F.col("seq"),
            F.timestamp_seconds(F.lit(_EPOCH) + F.col("seq")).alias("ts"),
            F.lit("__schema__").alias("repo"),
            F.lit("__schema__").alias("path"),
            F.lower(F.lpad(F.conv((F.col("idx") + 1).cast("string"), 10, 16), 40, "0")).alias("commit"),
            F.col("op"),
            F.lit(None).cast("string").alias("lang"),
            F.lit(None).cast("string").alias("content"),
            F.col("props"),
        )
        # displace the data events whose seq we reuse: shift them to the
        # end of the seq space so seq stays unique.
        displaced = F.col("seq")
        for i, (sid, _, _) in enumerate(evo):
            displaced = F.when(F.col("seq") == sid, F.lit(n_events + i)).otherwise(displaced)
        out = out.withColumn("seq", displaced).unionByName(schema_rows)

    return out


def write_wal(df: DataFrame, wal_dir: str, chunk_size: int = 100_000) -> list[int]:
    """Write the change log as an offset-chunked Parquet WAL.

    Layout: ``wal_dir/chunk=<k>/part-*.parquet`` where ``k = seq // chunk_size``
    — the engine's batch unit (reference analog: Kafka offset ranges,
    ``00_ingest_from_log_hub.py:415-420``). Returns the sorted chunk ids.
    """
    # files_per_chunk spreads each chunk over that many hash slots, but the
    # repartition below names no partition count, so AQE coalesces the small
    # shuffle partitions: a 5k-event chunk lands in 1-2 files and a 1M-event
    # chunk in ~7, not 8+. A chunk's merge map stage runs one task per file.
    files_per_chunk = max(8, min(32, chunk_size // 50_000))
    (
        # null-seq (malformed) rows land in chunk 0 so they still reach the
        # engine's quarantine path instead of a hive-null partition dir
        df.withColumn(
            "chunk", F.coalesce((F.col("seq") / F.lit(chunk_size)).cast("long"), F.lit(0))
        )
        .repartition(F.col("chunk"), F.pmod(F.col("seq"), F.lit(files_per_chunk)))
        .sortWithinPartitions("seq")
        .write.mode("overwrite")
        .partitionBy("chunk")
        .parquet(wal_dir)
    )
    from observability_platform___databricks_etl_pipeline_spark.sources.wal import list_chunks

    return list_chunks(wal_dir)
