"""Native-expression transform == fused pandas-UDF transform (r6).

The replay hot path now runs classify + sanitize + lang-infer as native
whole-stage-codegen expressions (guide §4.1); these tests pin bit-for-bit
equivalence with the pandas kernels over (a) the deterministic WAL generator's
full event mix (redactable secrets, deletes, null ops/langs, malformed rows)
and (b) the sf0.001 documents corpus the flagship replays, plus (c) edge
cases the generator never emits (padded ops, non-ASCII text next to
redactable shapes). The replay engine runs only the native path; its
end-to-end result is pinned against the oracle by
tests/test_replay_e2e.py::test_full_replay_matches_oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from observability_platform___databricks_etl_pipeline_spark.functions.classify import (
    classify_op_expr,
)
from observability_platform___databricks_etl_pipeline_spark.functions.langinfer import (
    infer_lang_expr,
)
from observability_platform___databricks_etl_pipeline_spark.functions.sanitize import (
    sanitize_guarded_expr,
)
from observability_platform___databricks_etl_pipeline_spark.functions.transform import (
    transform_udf,
)

SF0001 = "/root/testdata/sf0.001"


def _native_struct(op, path, content):
    out_op = classify_op_expr(op, content)
    san = F.when(out_op != "delete", sanitize_guarded_expr(content))
    lang = infer_lang_expr(path, san)
    return F.struct(out_op.alias("op"), san.alias("content"), lang.alias("lang"))


def _compare(df):
    both = df.select(
        "op",
        "path",
        "content",
        transform_udf(F.col("op"), F.col("path"), F.col("content")).alias("p"),
        _native_struct(F.col("op"), F.col("path"), F.col("content")).alias("n"),
    )
    diff = both.where(
        ~(F.col("p.op").eqNullSafe(F.col("n.op")))
        | ~(F.col("p.content").eqNullSafe(F.col("n.content")))
        | ~(F.col("p.lang").eqNullSafe(F.col("n.lang")))
    )
    rows = diff.limit(5).collect()
    assert not rows, f"native transform diverges from pandas kernels: {rows}"


def test_generator_mix_equivalence(spark):
    from observability_platform___databricks_etl_pipeline_spark.gen.changelog import (
        generate_changelog,
    )

    df = generate_changelog(spark, 20_000, n_repos=10, n_paths=50)
    _compare(df.select("op", "path", "content"))


def test_documents_corpus_equivalence(spark):
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    df = docs.select(
        F.lit("insert").alias("op"),
        F.concat(F.lit("docs/doc_"), F.col("doc_id"), F.lit(".txt")).alias("path"),
        F.col("text").alias("content"),
    )
    _compare(df)


def test_edge_cases_equivalence(spark):
    rows = [
        (None, "a.py", None),                       # null op + null content -> delete
        (None, "a.py", "x"),                        # null op + content -> update
        ("RM", "b.unknownext", "text the thing"),   # alias, unmapped ext
        ("create", "noext", "#!/bin/sh\necho hi"),  # shebang rule
        ("m", "f.weird", "import os\nrest"),        # python rule
        ("update", "f.qqq", "fn main() -> i32 {"),  # rust rule
        ("u", "g.zzz", "func handler(w) {"),        # go rule
        ("delete", "x.py", "content anyway"),       # delete masks content
        ("i", "p.md", "mail me a@b.co password: hunter2 Bearer abcdefgh1234"),
        ("i", "p.md", "4111 1111 1111 1111 and 10.0.0.7"),
        ("weird-op", "p.sql", ""),                  # empty content -> update
        ("\tdelete\n", "w.py", "x"),                # padded ops strip all whitespace
        (" rm\t", "w.py", "x"),
        ("insert\r\n", "w.py", "x"),
        ("\u00a0d\u3000", "w.py", "x"),             # Unicode spaces, as str.strip()
        # ASCII-only regex classes on every path (functions/sanitize.py):
        ("i", "p.md", " ".join(["\uff11" * 4] * 4)),  # fullwidth card number
        ("i", "p.md", "\uff11\uff10.\uff10.\uff10.\uff17"),     # fullwidth IP
        ("i", "p.md", "bearer\u00a0abcdefgh1234"),  # NBSP is not \s
        ("i", "c.zzz", "def caf\u00e9(x):"),         # \w+ stops at the accent
        # \b is an ASCII word boundary on every path (Java 17's is Unicode)
        ("i", "p.md", "\u00e94111 1111 1111 1111"),  # card number after a letter
        ("i", "p.md", "\u00e910.0.0.7"),             # IP after a letter
        ("i", "c.zzz", "\u00e9def f(x):"),           # python rule after a letter
    ]
    df = spark.createDataFrame(rows, "op string, path string, content string")
    _compare(df)
