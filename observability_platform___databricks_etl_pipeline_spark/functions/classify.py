"""Change-op classification / normalization as a vectorized pandas UDF.

Reference semantics: ``when/otherwise`` severity flagging
(``02_enrich_events.py:320-323``) and keyword classification
(``00_ingest_from_loghub.py:233``), recast for CDC ops: normalize free-form op
strings from heterogeneous WAL producers into the canonical set
``{insert, update, delete, add_column, rename_column}``, with a deterministic
fallback when ``op`` is null/unknown (null content → delete, else upsert).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

CANONICAL_OPS = ("insert", "update", "delete", "add_column", "rename_column")

_ALIASES: dict[str, str] = {
    "insert": "insert",
    "i": "insert",
    "c": "insert",
    "create": "insert",
    "add": "insert",
    "update": "update",
    "u": "update",
    "modify": "update",
    "m": "update",
    "delete": "delete",
    "d": "delete",
    "remove": "delete",
    "rm": "delete",
    "add_column": "add_column",
    "rename_column": "rename_column",
}


# The characters Python's ``str.strip()`` removes (``str.isspace``), as a Java
# regex class: ``F.trim`` strips only spaces and Java's ``\s`` misses
# U+001C-001F, U+0085 and the Unicode spaces.
_WS = r"[\t-\r\x1c-\x20\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"


def classify_op_series(op: pd.Series, content: pd.Series) -> pd.Series:
    norm = op.str.strip().str.lower().map(_ALIASES)
    # fallback: unknown/null op → delete if no content else update
    fallback = pd.Series("update", index=op.index).mask(content.isna(), "delete")
    return norm.fillna(fallback)


@F.pandas_udf(StringType())
def classify_op_udf(op: pd.Series, content: pd.Series) -> pd.Series:
    return classify_op_series(op, content)


def classify_op_expr(op: "F.Column", content: "F.Column") -> "F.Column":
    """Native-expression equivalent of ``classify_op_series`` (same alias
    table, same null/unknown fallback) — zero-Python codegen path for the
    replay hot loop; equivalence is pinned by tests/test_transform_native.py."""
    norm = F.lower(F.regexp_replace(op, f"^{_WS}+|{_WS}+$", ""))
    mapped = None
    for k, v in _ALIASES.items():
        cond = norm == k
        mapped = F.when(cond, F.lit(v)) if mapped is None else mapped.when(cond, F.lit(v))
    fallback = F.when(content.isNull(), F.lit("delete")).otherwise(F.lit("update"))
    return F.coalesce(mapped, fallback)
