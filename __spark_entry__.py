"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: the CDC engine replaying a change log derived
from the sf0.001 ``documents`` table into a copy-on-write LakeVault table,
returning the final-state rollup.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 plus the training-data ops; oracles are ANSI SQL for DuckDB over
the same parquet views. Registry lives in
``observability_platform___databricks_etl_pipeline_spark/queries.py``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from observability_platform___databricks_etl_pipeline_spark.queries import (  # noqa: E402
    ORACLES,
    QUERIES,
)

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CDC replay of a WAL derived from documents → COW table →
    per-lang rollup of the final state."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    wal_df = docs.select(
        F.col("doc_id").alias("seq"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("ts"),
        F.concat(F.lit("corpus/"), F.col("source")).alias("repo"),
        F.concat(F.lit("docs/doc_"), F.col("doc_id"), F.lit(".txt")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.lit("insert").alias("op"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.create_map(F.lit("n_chars"), F.col("n_chars").cast("string")).alias("props"),
    )
    base = tempfile.mkdtemp(prefix="cdc-flagship-")
    try:
        wal = f"{base}/wal"
        from observability_platform___databricks_etl_pipeline_spark.gen.changelog import write_wal

        write_wal(wal_df, wal, chunk_size=250)
        eng = CDCEngine(spark, f"{base}/tbl", n_buckets=8)
        eng.replay(wal)
        out = (
            eng.current_state()
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("files"),
                F.countDistinct("repo").alias("repos"),
                F.sum(F.length("content")).alias("bytes"),
            )
            .orderBy(F.col("files").desc(), "lang")
        )
        out = spark.createDataFrame(out.collect(), out.schema)  # materialize before cleanup
        return out
    finally:
        shutil.rmtree(base, ignore_errors=True)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
