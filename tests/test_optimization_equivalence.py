"""r6 optimization equivalences: every rewritten kernel must equal its
pre-optimization reference implementation on real corpora.

- _shingles: regex lookahead extraction == the sequence/transform/slice HOF
  (same arrays: order and multiplicity included)
- quality_score punct count: translate keep-set == the regex char class
- exact_percentiles helper: two-phase selection == native percentile()
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF001 = "/root/testdata/sf0.01"


def _hof_shingles(text_col, k):
    """The pre-r6 reference shingle implementation (HOF chain)."""
    words = F.split(F.lower(F.regexp_replace(F.trim(text_col), r"\s+", " ")), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n < k, F.array(F.concat_ws(" ", words))).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
    )


def test_shingles_regex_equals_hof(spark):
    from observability_platform___databricks_etl_pipeline_spark.operators.dedup import _shingles

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    extra = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "one"),
            (5, "one two"),
            (6, "one two three"),
            (7, "  Tabs\tand\nnewlines   spaced  out "),
            (8, "a b c d e f g"),
        ],
        "doc_id long, text string",
    )
    for k in (1, 3, 5):
        for df in (docs, extra):
            # null text: the old HOF chain accidentally emitted a [''] shingle
            # (greatest(null,0)=0 -> concat_ws over a null slice); the regex
            # path yields none, matching the DuckDB oracle's unnest(null) —
            # compare on non-null text and pin the null behavior separately
            # raw arrays, not distinct sets: order and multiplicity must match
            nn = df.where(F.col("text").isNotNull()).select(
                "doc_id",
                _shingles(F.col("text"), k).alias("a"),
                _hof_shingles(F.col("text"), k).alias("b"),
            )
            bad = nn.where(~F.col("a").eqNullSafe(F.col("b"))).limit(5).collect()
            assert not bad, f"k={k}: {bad}"
        nulls = extra.where(F.col("text").isNull()).select(
            F.explode(F.array_distinct(_shingles(F.col("text"), k))).alias("s")
        )
        assert nulls.count() == 0


def test_punct_translate_equals_regex(spark):
    docs = spark.read.parquet(f"{SF001}/documents.parquet").select("text").union(
        spark.createDataFrame(
            [("",), ("\x0b\f\r\t\n ",), ("a.b,c!",), ("héllo wörld — naïve",), (None,)],
            "text string",
        )
    )
    from observability_platform___databricks_etl_pipeline_spark.functions.text import _PUNCT_KEEP

    old = F.regexp_count(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"))
    new = F.length(F.translate(F.col("text"), _PUNCT_KEEP, ""))
    assert docs.where(~old.eqNullSafe(new)).count() == 0


def test_two_phase_percentile_equals_native(spark):
    from observability_platform___databricks_etl_pipeline_spark.queries import (
        _exact_group_percentile,
    )

    li = spark.read.parquet(f"{SF001}/lineitem.parquet")
    for col, q in (("l_quantity", 0.5), ("l_extendedprice", 0.95), ("l_discount", 0.31)):
        native = (
            li.groupBy("l_returnflag")
            .agg(F.expr(f"percentile({col}, {q})").alias("p"))
            .collect()
        )
        ours = _exact_group_percentile(li, "l_returnflag", col, q, "p").collect()
        a = {r["l_returnflag"]: r["p"] for r in native}
        b = {r["l_returnflag"]: r["p"] for r in ours}
        assert a == b, (col, q, a, b)
