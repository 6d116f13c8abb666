"""Single-threaded reference reducer ("oracle") for golden replay tests.

Applies the change log sequentially, chunk by chunk in seq order, with the
same declared semantics as the engine (FIXTURES.md §5):

- malformed rows (null seq/repo/path/commit) are quarantined,
- schema-evolution events are chunk-aligned barriers (applied, in seq order,
  before the chunk's data events — matching the engine's documented v1
  semantics),
- op classification fallback, sanitization, sha256 and lang inference are
  re-implemented here independently (plain ``re`` / ``hashlib`` / dict logic,
  not the engine's pandas code) so the comparison is meaningful; ``re.ASCII``
  follows the engine's ASCII-only regex contract (functions/sanitize.py),
- last-writer-wins per (repo, path) by seq; deletes are tombstones.
"""

from __future__ import annotations

import hashlib
import re
import struct

import duckdb

_PATTERNS = [
    (r"(?i)bearer\s+[A-Za-z0-9\-_\.=]{8,}", "[REDACTED_TOKEN]"),
    (r"(?i)(api[_-]?key|secret|password)\s*[=:]\s*\S+", r"\1=[REDACTED_SECRET]"),
    (r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "[REDACTED_EMAIL]"),
    (r"\b(?:\d[ \-]?){13,19}\b", "[REDACTED_CC]"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[REDACTED_IP]"),
]

_EXT_LANG = {
    "py": "python", "rs": "rust", "c": "c", "h": "c", "cc": "cpp", "cpp": "cpp",
    "go": "go", "java": "java", "js": "javascript", "ts": "typescript",
    "rb": "ruby", "sh": "shell", "md": "markdown", "json": "json",
    "yaml": "yaml", "yml": "yaml", "toml": "toml", "sql": "sql",
    "scala": "scala", "txt": "text",
}

_OP_ALIASES = {
    "insert": "insert", "i": "insert", "c": "insert", "create": "insert", "add": "insert",
    "update": "update", "u": "update", "modify": "update", "m": "update",
    "delete": "delete", "d": "delete", "remove": "delete", "rm": "delete",
    "add_column": "add_column", "rename_column": "rename_column",
    "promote_type": "promote_type", "drop_column": "drop_column",
}

SCHEMA_OPS = ["add_column", "rename_column", "promote_type", "drop_column"]

# mirror of plans.lakevault.TYPE_PROMOTIONS (lossless widenings only)
_TYPE_PROMOTIONS = {("int", "long"), ("float", "double")}


def sanitize(text: str | None) -> str | None:
    if text is None:
        return None
    for pat, repl in _PATTERNS:
        text = re.sub(pat, repl, text, flags=re.ASCII)
    return text


def infer_lang(path: str, content: str | None) -> str:
    m = re.search(r"\.([A-Za-z0-9]+)$", path or "")
    if m and m.group(1).lower() in _EXT_LANG:
        return _EXT_LANG[m.group(1).lower()]
    c = content or ""
    if c.startswith("#!/bin/"):
        return "shell"
    if re.search(r"#!.*\bpython", c, re.ASCII):
        return "python"
    if re.search(r"\bdef \w+\(|\bimport \w+", c, re.ASCII):
        return "python"
    if re.search(r"\bfn \w+\(.*\)\s*->", c, re.ASCII):
        return "rust"
    if re.search(r"\bfunc \w+\(", c, re.ASCII):
        return "go"
    return "unknown"


def classify_op(op: str | None, content: str | None) -> str:
    norm = _OP_ALIASES.get((op or "").strip().lower())
    if norm:
        return norm
    return "delete" if content is None else "update"


def _n(x):
    """pandas null (NaN/None/NaT) → None, else the value."""
    try:
        import pandas as pd

        if x is None or (not isinstance(x, (list, dict, tuple)) and pd.isna(x)):
            return None
    except (TypeError, ValueError):
        pass
    return x


def _as_dict(props) -> dict:
    """Normalize DuckDB MAP repr ({'key': [...], 'value': [...]}) or dict."""
    if props is None:
        return {}
    if isinstance(props, dict):
        if set(props.keys()) == {"key", "value"} and isinstance(props.get("key"), (list, tuple)):
            return dict(zip(props["key"], props["value"]))
        return dict(props)
    return dict(props)


def replay_oracle(wal_dir: str) -> dict[tuple[str, str], dict]:
    """Return final state: {(repo, path): row-dict} (tombstones excluded)."""
    con = duckdb.connect()
    df = con.execute(
        f"SELECT * FROM read_parquet('{wal_dir}/chunk=*/*.parquet', hive_partitioning=true) "
        "ORDER BY chunk, seq"
    ).fetchdf()
    state: dict[tuple[str, str], dict] = {}
    # schema state: list of (name, type, prop_key); extraction active only
    # from the chunk where the column was added (chunk-aligned barrier)
    extra_cols: list[dict] = []
    base_names = {
        "repo", "path", "commit", "lang", "content",
        "content_sha256", "last_seq", "is_deleted",
    }
    for chunk in sorted(df["chunk"].unique()):
        cdf = df[df["chunk"] == chunk]
        # schema events first (chunk-aligned), in seq order. Mirror the
        # engine exactly: a MALFORMED schema event (null identity fields) is
        # quarantined like any malformed row; add_column onto an existing
        # name is an idempotent no-op; rename onto an existing name is an
        # invalid op and skipped (committing it would duplicate names).
        for _, r in cdf[cdf["op"].isin(SCHEMA_OPS)].iterrows():
            if any(
                _n(r[f]) is None for f in ("seq", "repo", "path", "commit")
            ):
                continue  # quarantined, not applied (engine: ~malformed filter)
            props = _as_dict(r["props"])
            if r["op"] == "add_column":
                if "column" not in props:
                    continue  # malformed schema event: skipped (engine counts it)
                names = base_names | {c["name"] for c in extra_cols}
                if props["column"] not in names:
                    extra_cols.append(
                        {"name": props["column"], "type": props.get("type", "string"),
                         "prop": props["column"]}
                    )
            elif r["op"] == "drop_column":
                # base/key columns are load-bearing: engine counts those
                # drops invalid and skips. A legal drop is metadata-only,
                # but the column's VALUES become unreachable (scans stop
                # projecting the id) — mirror by popping from carried rows.
                # A later re-add of the same name is a NEW column id, so
                # pre-drop values never resurface.
                name = props.get("column")
                if name is None or name in base_names:
                    continue
                if not any(c["name"] == name for c in extra_cols):
                    continue  # unknown column: invalid, skipped
                extra_cols[:] = [c for c in extra_cols if c["name"] != name]
                for row in state.values():
                    row.pop(name, None)
            elif r["op"] == "promote_type":
                # widening only; key/base columns off-limits (engine: replay
                # counts those as invalid and skips). PROMOTION IS
                # METADATA-ONLY: carried state rows keep their values —
                # float32 values widen to double losslessly, so no rewrite.
                if "column" not in props or "type" not in props:
                    continue
                for c in extra_cols:
                    if c["name"] == props["column"]:
                        if c["type"] == props["type"]:
                            break  # idempotent re-apply
                        if (c["type"], props["type"]) in _TYPE_PROMOTIONS:
                            c["type"] = props["type"]
                        break  # illegal widening: skipped (engine counts it)
            else:
                if "from" not in props or "to" not in props:
                    continue  # malformed schema event: skipped
                names = base_names | {c["name"] for c in extra_cols}
                if props["to"] in names:
                    continue  # rename ONTO an existing name: invalid, skipped
                for c in extra_cols:
                    if c["name"] == props["from"]:
                        c["name"] = props["to"]
                        # rename is metadata-only: carried state rows keep
                        # their values under the NEW name (column-id identity)
                        for row in state.values():
                            if props["from"] in row:
                                row[props["to"]] = row.pop(props["from"])
        data = cdf[~cdf["op"].isin(SCHEMA_OPS) | cdf["op"].isna()]
        for _, r in data.iterrows():
            seq, repo, path = _n(r["seq"]), _n(r["repo"]), _n(r["path"])
            commit, rop = _n(r["commit"]), _n(r["op"])
            rcontent, rlang = _n(r["content"]), _n(r["lang"])
            if seq is None or repo is None or path is None or commit is None:
                continue  # quarantined
            op = classify_op(rop, rcontent)
            content = sanitize(rcontent)
            sha = hashlib.sha256((content or "").encode()).hexdigest()
            lang = rlang if rlang is not None else infer_lang(path, content)
            props = _as_dict(r["props"])
            key = (repo, path)
            prev = state.get(key)
            if prev is not None and prev["last_seq"] > int(seq):
                continue  # stale
            if prev is not None and prev["last_seq"] == int(seq):
                # engine tiebreak at equal seq: a BATCH row beats the carried
                # table row (max_by over (last_seq, src, ...)) — so a later
                # chunk's event wins; within ONE chunk both rows are batch
                # rows and the larger (null→'') content wins
                if prev.get("_chunk") == chunk and (prev.get("_raw_content") or "") >= (
                    rcontent or ""
                ):
                    continue
            row = {
                "repo": repo,
                "path": path,
                "commit": commit,
                "lang": None if op == "delete" else lang,
                "content": None if op == "delete" else content,
                "content_sha256": sha,
                "last_seq": int(seq),
                "is_deleted": op == "delete",
                "_chunk": chunk,
                "_raw_content": rcontent,
            }
            for c in extra_cols:
                v = props.get(c["prop"])
                if v is not None:
                    # mirror the engine's cast to the DECLARED column type
                    # (replay casts props values via .cast(type)), not just
                    # the double special case
                    if c["type"] == "double":
                        v = float(v)
                    elif c["type"] == "float":
                        # engine stores float32; emulate the precision loss
                        # so post-promotion doubles carry the same value a
                        # float-era file widens to
                        v = struct.unpack("<f", struct.pack("<f", float(v)))[0]
                    elif c["type"] in ("long", "int"):
                        try:
                            v = int(v)
                        except ValueError:
                            v = None
                    elif c["type"] == "boolean":
                        v = str(v).strip().lower() in ("true", "1", "t", "yes")
                row[c["name"]] = v
            state[key] = row
    out = {}
    for k, v in state.items():
        if not v["is_deleted"]:
            v = dict(v)
            v.pop("_chunk", None)
            v.pop("_raw_content", None)
            out[k] = v
    return out
