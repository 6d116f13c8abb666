"""Engine-independent reference for the benchmark's output checks.

DuckDB replays the generated WAL parquet files with one global arg-max
last-writer-wins per ``(repo, path)``: malformed rows (a null identity field)
and schema events are dropped, a null op falls back to delete/update by
whether content is null, and live content goes through the redaction rules
below before it is hashed. Sequence numbers are unique in every WAL the
benchmark writes, so the engine's per-batch merges compose to this single
arg-max.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

SCHEMA_OPS = ("add_column", "rename_column", "promote_type", "drop_column")

# The engine's documented redaction contract, applied in this order: bearer
# tokens, key=value secrets, emails, card-like digit runs, IPv4 addresses.
REDACTIONS = [
    (r"(?i)bearer\s+[A-Za-z0-9\-_\.=]{8,}", "[REDACTED_TOKEN]"),
    (r"(?i)(api[_-]?key|secret|password)\s*[=:]\s*\S+", r"\1=[REDACTED_SECRET]"),
    (r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "[REDACTED_EMAIL]"),
    (r"\b(?:\d[ \-]?){13,19}\b", "[REDACTED_CC]"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[REDACTED_IP]"),
]


def _redacted(expr: str) -> str:
    for pat, repl in REDACTIONS:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return expr


class Oracle:
    """Live state of a WAL prefix, computed without the engine."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")

    def close(self) -> None:
        self.con.close()

    def live(self, chunk_dirs: list[str], seq_below: int | None = None) -> pa.Table:
        """``(repo, path, last_seq, content_sha256)`` of every live key after
        replaying the events of ``chunk_dirs`` with ``seq < seq_below``."""
        files = ", ".join(f"'{d}/*.parquet'" for d in chunk_dirs)
        cap = f"AND seq < {int(seq_below)}" if seq_below is not None else ""
        ops = ", ".join(f"'{o}'" for o in SCHEMA_OPS)
        return self.con.execute(
            f"""
            WITH ev AS (
              SELECT seq, repo, path, content,
                     coalesce(lower(trim(op)),
                              CASE WHEN content IS NULL THEN 'delete' ELSE 'update' END) AS cop
              FROM read_parquet([{files}], hive_partitioning = false)
              WHERE seq IS NOT NULL AND repo IS NOT NULL AND path IS NOT NULL
                AND "commit" IS NOT NULL AND (op IS NULL OR op NOT IN ({ops})) {cap}
            ),
            w AS (
              SELECT repo, path, max(seq) AS last_seq, arg_max(cop, seq) AS fop,
                     arg_max(coalesce(content, ''), seq) AS c0
              FROM ev GROUP BY repo, path
            )
            SELECT repo, path, last_seq, sha256({_redacted('c0')}) AS content_sha256
            FROM w WHERE fop <> 'delete'
            """
        ).arrow()

    def mismatches(self, expected: pa.Table, actual: pa.Table) -> int:
        """Keys missing on either side plus keys whose ``last_seq`` or
        content hash differ."""
        self.con.register("exp_t", expected)
        self.con.register("act_t", actual)
        try:
            return self.con.execute(
                """
                SELECT count(*) FROM exp_t e FULL OUTER JOIN act_t a
                  ON e.repo = a.repo AND e.path = a.path
                WHERE e.repo IS NULL OR a.repo IS NULL
                   OR e.last_seq <> a.last_seq OR e.content_sha256 <> a.content_sha256
                """
            ).fetchone()[0]
        finally:
            self.con.unregister("exp_t")
            self.con.unregister("act_t")

    def count_repo(self, live: pa.Table, repo: str) -> int:
        self.con.register("live_t", live)
        try:
            return self.con.execute(
                "SELECT count(*) FROM live_t WHERE repo = ?", [repo]
            ).fetchone()[0]
        finally:
            self.con.unregister("live_t")

    def change_count(self, before: pa.Table, after: pa.Table) -> int:
        """Logical changes between two live states: keys that became live,
        keys that stopped being live, and live keys with a new winner."""
        self.con.register("a_t", before)
        self.con.register("b_t", after)
        try:
            return self.con.execute(
                """
                SELECT count(*) FROM a_t a FULL OUTER JOIN b_t b
                  ON a.repo = b.repo AND a.path = b.path
                WHERE a.repo IS NULL OR b.repo IS NULL OR a.last_seq <> b.last_seq
                """
            ).fetchone()[0]
        finally:
            self.con.unregister("a_t")
            self.con.unregister("b_t")
