r"""Content sanitization (PII/secret redaction) as a vectorized pandas UDF.

Reference semantics: ``docs/PRODUCTION_DATA_GUIDE.md:64-99`` (``sanitize_log``:
email / credit-card / IP redaction + secret masking, written there as per-row
driver Python with ``re.sub``). Re-expressed as Arrow-batched
``pandas.Series.str.replace`` — the vectorized slow-path mandated by the north
rule. Idempotent: sanitize(sanitize(x)) == sanitize(x) (the replacement tokens
match none of the patterns), which the test suite asserts because the engine
may re-run a batch after a crash-before-commit.

Regex contract: ``\d``, ``\w`` and ``\s`` are ASCII-only on every path —
Java's defaults (native path), RE2's (DuckDB oracle) and ``re.ASCII`` here —
so fullwidth or Arabic-Indic digits are never redacted as card numbers or
IPs, and a non-breaking space does not separate ``bearer`` from its token.
``re.ASCII`` also keeps ``(?i)`` ASCII-only here, as it is in Java. Java 17's
``\b`` counts any Unicode letter or digit as a word character, so the native
path spells a word boundary out over ASCII ``\w`` (``JAVA_ASCII_WB``); RE2's
``\b`` is already ASCII. One residual: RE2's ``(?i)`` folds ``ſ`` into ``s``,
so the oracle redacts ``ſecret=x``, which both engine paths keep.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# Order matters: credit-card before generic long-number heuristics, bearer
# tokens before emails (a token may embed '@'). Patterns mirror
# docs/PRODUCTION_DATA_GUIDE.md:74-97 but are anchored to avoid re-matching
# their own replacement tokens.
_PATTERNS: list[tuple[str, str]] = [
    # bearer / api tokens (PRODUCTION_DATA_GUIDE.md:86-90)
    (r"(?i)bearer\s+[A-Za-z0-9\-_\.=]{8,}", "[REDACTED_TOKEN]"),
    (r"(?i)(api[_-]?key|secret|password)\s*[=:]\s*\S+", r"\1=[REDACTED_SECRET]"),
    # email (PRODUCTION_DATA_GUIDE.md:74-78)
    (r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "[REDACTED_EMAIL]"),
    # credit-card-like 13-19 digit runs with optional separators
    (r"\b(?:\d[ \-]?){13,19}\b", "[REDACTED_CC]"),
    # IPv4 (PRODUCTION_DATA_GUIDE.md:91-95)
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[REDACTED_IP]"),
]


def sanitize_series(s: pd.Series) -> pd.Series:
    """Vectorized redaction over a pandas Series of strings (nulls pass
    through); ASCII character classes, as the module docstring states."""
    out = s
    for pat, repl in _PATTERNS:
        out = out.str.replace(pat, repl, regex=True, flags=re.ASCII)
    return out


@F.pandas_udf(StringType())
def sanitize_udf(s: pd.Series) -> pd.Series:
    return sanitize_series(s)


# Necessity guard: a single cheap scan that is IMPLIED by every redaction
# pattern — p1 needs 'bearer', p2 needs 'api'/'secret'/'password', p3 needs
# '@', p4/p5 need a digit. A row that fails the guard cannot match any
# pattern, so sanitize is the identity on it and the 5-pass replace chain
# (plus its per-pass string copies) is skipped. On corpora where redactable
# material is rare (the bench WAL: ~6% of rows) this removes ~94% of the
# regex work; on match-heavy corpora it adds one linear scan.
_GUARD_PATTERN = r"(?i)[0-9@]|bearer|secret|password|api"

# ``\b`` with Java's ASCII-only ``\w``: Java 17's own ``\b`` treats any
# Unicode letter as a word character, ``re.ASCII`` and RE2 do not.
JAVA_ASCII_WB = r"(?:(?<=\w)(?!\w)|(?<!\w)(?=\w))"


def java_regex(pat: str) -> str:
    """A Python ``re.ASCII`` pattern as the Java regex that matches the same
    strings (for these patterns): only ``\b`` needs rewriting."""
    return pat.replace(r"\b", JAVA_ASCII_WB)


def sanitize_guarded_expr(col: "str | F.Column") -> "F.Column":
    """``sanitize_sql_expr`` behind the necessity guard — bit-identical
    output (tests/test_transform_native.py pins it), much cheaper on
    mostly-clean content."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.rlike(_GUARD_PATTERN), sanitize_sql_expr(c)).otherwise(c)


def sanitize_sql_expr(col: "str | F.Column") -> "F.Column":
    """Native-function equivalent (chained ``regexp_replace``) — used by the
    oracle-facing queries so DuckDB can replicate it exactly, and available as
    a zero-Python fast path when sanitization must stay inside codegen."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in _PATTERNS:
        # Spark uses Java regex; (?i) inline flag and \1 backrefs are shared
        # with Python syntax for these patterns. Java wants $1, python \1.
        c = F.regexp_replace(c, java_regex(pat), repl.replace("\\1", "$1"))
    return c
