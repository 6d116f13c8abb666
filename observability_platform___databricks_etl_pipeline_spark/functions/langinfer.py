r"""Language inference for source files: extension map + content heuristics.

Reference semantics: severity/keyword classification done per-row on the
driver (``00_ingest_from_loghub.py:233``, ``10_dashboard_video.py:133-142``)
recast for the CDC engine's input shape ``(repo, path, commit, lang, content)``
— infer ``lang`` when the WAL event carries none. Vectorized: extension lookup
via ``Series.str.extract`` + ``map``, shebang/keyword fallback via ``str.contains``.
``\w`` and ``\s`` are ASCII-only on both paths (``re.ASCII`` here, Java's
default natively), so ``def café(`` is not a Python signature. ``\b`` is
ASCII on both paths too: the native rules spell it out over ``\w``
(``functions/sanitize.py::java_regex``), so ``édef f(x):`` is Python.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from observability_platform___databricks_etl_pipeline_spark.functions.sanitize import java_regex

EXT_LANG: dict[str, str] = {
    "py": "python",
    "rs": "rust",
    "c": "c",
    "h": "c",
    "cc": "cpp",
    "cpp": "cpp",
    "go": "go",
    "java": "java",
    "js": "javascript",
    "ts": "typescript",
    "rb": "ruby",
    "sh": "shell",
    "md": "markdown",
    "json": "json",
    "yaml": "yaml",
    "yml": "yaml",
    "toml": "toml",
    "sql": "sql",
    "scala": "scala",
    "txt": "text",
}


def infer_lang_series(path: pd.Series, content: pd.Series) -> pd.Series:
    """Vectorized: extension map first, content heuristics as fallback."""
    ext = path.str.extract(r"\.([A-Za-z0-9]+)$", expand=False).str.lower()
    lang = ext.map(EXT_LANG)
    # content fallbacks in PRIORITY ORDER — each rule fires only where no
    # earlier rule (or the extension map) matched. The previous mask chain
    # froze `unknown` once, so a LATER rule overwrote an earlier match on
    # multi-matching content (a '#!/bin/sh' script containing 'func x('
    # came out 'go') — first-match is the documented fallback semantics and
    # what the sequential reference reducer implements.
    if lang.isna().any():
        c = content.where(lang.isna(), "").fillna("")
        rules = [
            (c.str.startswith("#!/bin/"), "shell"),
            (c.str.contains(r"#!.*\bpython", regex=True, flags=re.ASCII), "python"),
            (c.str.contains(r"\bdef \w+\(|\bimport \w+", regex=True, flags=re.ASCII), "python"),
            (c.str.contains(r"\bfn \w+\(.*\)\s*->", regex=True, flags=re.ASCII), "rust"),
            (c.str.contains(r"\bfunc \w+\(", regex=True, flags=re.ASCII), "go"),
        ]
        for cond, val in rules:
            lang = lang.mask(lang.isna() & cond, val)
    return lang.fillna("unknown")


@F.pandas_udf(StringType())
def infer_lang_udf(path: pd.Series, content: pd.Series) -> pd.Series:
    return infer_lang_series(path, content)


def infer_lang_expr(path: "F.Column", content: "F.Column") -> "F.Column":
    """Native-expression equivalent of ``infer_lang_series``: extension map
    first, then the content-heuristic rules in the same first-match priority
    order (Java ``RLIKE`` is a substring search like ``re.search``).
    Equivalence is pinned by tests/test_transform_native.py."""
    ext = F.lower(F.regexp_extract(path, r"\.([A-Za-z0-9]+)$", 1))
    by_ext = None
    for k, v in EXT_LANG.items():
        cond = ext == k
        by_ext = F.when(cond, F.lit(v)) if by_ext is None else by_ext.when(cond, F.lit(v))
    c = F.coalesce(content, F.lit(""))
    rules = (
        F.when(c.startswith("#!/bin/"), F.lit("shell"))
        .when(c.rlike(java_regex(r"#!.*\bpython")), F.lit("python"))
        .when(c.rlike(java_regex(r"\bdef \w+\(|\bimport \w+")), F.lit("python"))
        .when(c.rlike(java_regex(r"\bfn \w+\(.*\)\s*->")), F.lit("rust"))
        .when(c.rlike(java_regex(r"\bfunc \w+\(")), F.lit("go"))
    )
    return F.coalesce(by_ext, rules, F.lit("unknown"))
