"""LakeVault — a from-scratch copy-on-write snapshot table format on Parquet.

The engine's durable state. Iceberg-shaped, implemented over plain Parquet +
JSON because (a) no Iceberg runtime jar is installed here and (b) the north
rule's idempotent commit manifests / checkpointed offsets live naturally in
the same metadata layer (SURVEY.md §7 "Decision — table format").

Replaces, from the reference: Delta append/overwrite sinks
(``01_ingest_raw_logs.py:213-218``, ``02_enrich_events.py:141-149``), Delta
time travel (``docs/WEEK_1-4_GUIDE.md:157-171``), ``OPTIMIZE`` compaction
(``01:255-262``) and ``VACUUM`` retention (``01:296-304`` — minus the
dangerous ``RETAIN 0 HOURS``).

Layout::

    root/
      _vault/version.json              roll-forward hint {"snapshot_id": N}
      _vault/snapshots/snap-<N>.json   immutable snapshot metadata; its
                                       atomic CLAIM is the commit point
                                       (refs only — O(manifests), not O(files))
      _vault/filelists/fl-<N>-<nonce>-b<B>.json  file-entry manifests, one
                                       per (commit attempt, bucket) — the
                                       Iceberg manifest-list idea
      _vault/batchlog/seg-<K>-<N>-<nonce>.json  immutable exactly-once
                                       batch-id segments; snapshots record
                                       (path, prefix len)
      _vault/manifests/<batch_id>.json idempotent commit manifests (lineage)
      data/<file>.parquet              data files (bucketed by key hash)

Atomicity & concurrency: plain metadata writes are
write-temp-then-``os.replace``; the commit point is a compare-and-swap —
``os.link`` of a fully-written temp onto the immutable ``snap-<N>.json``
path fails if another writer claimed N first (Iceberg's optimistic
protocol; Iceberg delegates the CAS to its catalog, here the POSIX
filesystem provides it — on an S3-style object store it would go through a
catalog service, same protocol). CAS losers rebase automatically when their
write provably doesn't depend on the interleaved commits (disjoint-bucket
replaces, pure adds, delta appends) and raise ``CommitConflict`` otherwise.

Scale notes (100 TB): manifests list data files with per-file row counts and
key min/max, so a merge prunes to affected buckets without listing the
filesystem — and because manifests are per-(commit, bucket), a commit writes
O(affected buckets) metadata regardless of table size: untouched buckets'
manifests are carried BY REFERENCE, and batch ids append to a ≤4096-id tail
segment instead of re-serializing the history (test:
``test_commit_metadata_cost_flat_in_table_size``). Column identity is by
**column id**, not name, so renames are metadata-only (no data rewrite)
exactly like Iceberg.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

SPARK_TYPE = {
    "string": "string",
    "long": "bigint",
    "double": "double",
    "boolean": "boolean",
    "timestamp": "timestamp",
    "int": "int",
    "float": "float",
}

# Legal type promotions (Iceberg spec §Schema Evolution: widening only —
# values written under the old type re-read losslessly under the new one;
# narrowing or cross-family casts are rejected as malformed schema ops).
TYPE_PROMOTIONS = {("int", "long"), ("float", "double")}

# Version tag of the bucket function (murmur3 F.hash over raw keys, pmod n).
# Stamped into table.json at create() and checked before any bucket-scoped
# operation: a table written under a DIFFERENT bucket function would silently
# compute wrong affected-bucket sets (carried rows excluded from merges), so
# mismatch fails loudly with a rebucket instruction instead.
BUCKET_FN = "murmur3-pmod-v2"


@dataclass
class TableSchema:
    """Column-id-addressed schema (Iceberg-style rename promotion)."""

    columns: list[dict[str, Any]]  # [{"id": int, "name": str, "type": str}]
    next_id: int
    schema_id: int = 0

    @staticmethod
    def from_names(cols: list[tuple[str, str]]) -> "TableSchema":
        columns = [
            {"id": i + 1, "name": n, "type": t} for i, (n, t) in enumerate(cols)
        ]
        return TableSchema(columns=columns, next_id=len(cols) + 1, schema_id=0)

    def names(self) -> list[str]:
        return [c["name"] for c in self.columns]

    def add_column(self, name: str, typ: str) -> "TableSchema":
        if name in self.names():
            return self  # idempotent re-apply (batch replayed after crash)
        cols = self.columns + [{"id": self.next_id, "name": name, "type": typ}]
        return TableSchema(cols, self.next_id + 1, self.schema_id + 1)

    def rename_column(self, old: str, new: str) -> "TableSchema":
        if old not in self.names():
            if new in self.names():
                return self  # idempotent re-apply
            raise KeyError(f"rename_column: no column named {old!r}")
        if new in self.names():
            # renaming ONTO an existing name would commit a schema with
            # duplicate column names — every later scan/merge fails on
            # ambiguous references, permanently. Raise so the replay path
            # counts the event as a malformed schema op and skips it.
            raise ValueError(f"rename_column: column {new!r} already exists")
        cols = [dict(c, name=new) if c["name"] == old else dict(c) for c in self.columns]
        return TableSchema(cols, self.next_id, self.schema_id + 1)

    def promote_column(self, name: str, new_type: str) -> "TableSchema":
        """Widen a column's type in place (same column id — Iceberg type
        promotion). Only the lossless widenings in ``TYPE_PROMOTIONS`` are
        legal; anything else (narrowing, cross-family) raises so the replay
        path counts the event as malformed and skips it. Re-applying the
        promotion a column already has (crash-retry of a committed batch)
        is an idempotent no-op."""
        by_name = {c["name"]: c for c in self.columns}
        if name not in by_name:
            raise KeyError(f"promote_type: no column named {name!r}")
        old_type = by_name[name]["type"]
        if old_type == new_type:
            return self  # idempotent re-apply
        if (old_type, new_type) not in TYPE_PROMOTIONS:
            raise ValueError(
                f"promote_type: {old_type!r} -> {new_type!r} is not a lossless widening"
            )
        cols = [
            dict(c, type=new_type) if c["name"] == name else dict(c) for c in self.columns
        ]
        return TableSchema(cols, self.next_id, self.schema_id + 1)

    def drop_column(self, name: str) -> "TableSchema":
        """Remove a column (Iceberg drop): METADATA-ONLY — data files keep
        their bytes; scans simply stop projecting the id, and the next COW
        rewrite of a bucket physically sheds it. The id is never reused
        (``next_id`` unchanged), so a later ``add_column`` of the same NAME
        is a genuinely new column that reads as typed nulls from every file
        written before the re-add — values of the dropped generation can
        never bleed into the new one. Dropping an unknown column raises so
        the replay path counts the event as malformed and skips it."""
        if name not in self.names():
            raise KeyError(f"drop_column: no column named {name!r}")
        cols = [dict(c) for c in self.columns if c["name"] != name]
        return TableSchema(cols, self.next_id, self.schema_id + 1)

    def to_json(self) -> dict[str, Any]:
        return {"columns": self.columns, "next_id": self.next_id, "schema_id": self.schema_id}

    @staticmethod
    def from_json(d: dict[str, Any]) -> "TableSchema":
        return TableSchema(d["columns"], d["next_id"], d.get("schema_id", 0))


@dataclass
class Snapshot:
    """Snapshot metadata. The snapshot JSON is O(manifests + batch-log
    segments), NOT O(files + batches): file entries live in per-(bucket,
    commit) MANIFEST files referenced by ``manifest_refs`` (Iceberg's
    manifest-list idea), and the exactly-once batch ids live in append-only
    BATCH-LOG segment files of which the snapshot records (path, prefix
    length). A commit therefore writes: its own new manifests (one per
    affected bucket), one batch-log segment tail, and a snapshot whose size
    is proportional to the number of LIVE manifests — it never re-serializes
    the full file list or batch history (round-2 verdict #8: at 10^6 files /
    10^4 batches the old inline snapshot was itself the bottleneck)."""

    snapshot_id: int
    parent_id: int | None
    schema: TableSchema
    # every schema version ever committed, keyed by schema_id — needed to
    # read data files written under older schemas (rename by column id)
    schemas: dict[int, TableSchema]
    # [{"path","bucket","n_files","rows","bytes","delta"}] — path relative
    # to the _vault dir; bucket is the single bucket the manifest covers
    # (None only for legacy/unknown groupings)
    manifest_refs: list[dict[str, Any]] = field(default_factory=list)
    # [{"path","n"}] append-only id segments; this snapshot owns the first
    # n ids of each segment (a crashed successor commit may have appended
    # more — invisible until ITS snapshot publishes)
    batch_log: list[dict[str, Any]] = field(default_factory=list)
    summary: dict[str, Any] = field(default_factory=dict)
    # bucket count is SNAPSHOT state (not table.json) so a re-bucketing
    # compact() is atomic with its commit: a crash in between can never leave
    # merges computing affected-bucket sets under the wrong bucket function
    n_buckets: int | None = None
    # runtime-only (never serialized): vault dir for lazy manifest loads,
    # plus caches. _files_cache doubles as the storage for legacy snapshots
    # whose file list was inline (pre-manifest format).
    vault_dir: str | None = None
    _files_cache: list[dict[str, Any]] | None = None
    _batches_cache: list[str] | None = None

    @property
    def files(self) -> list[dict[str, Any]]:
        if self._files_cache is None:
            out: list[dict[str, Any]] = []
            for ref in self.manifest_refs:
                with open(os.path.join(self.vault_dir, ref["path"])) as f:
                    out.extend(json.load(f)["files"])
            self._files_cache = out
        return self._files_cache

    @property
    def committed_batches(self) -> list[str]:
        if self._batches_cache is None:
            ids: list[str] = []
            for seg in self.batch_log:
                with open(os.path.join(self.vault_dir, seg["path"])) as f:
                    ids.extend(json.load(f)["ids"][: seg["n"]])
            self._batches_cache = ids
        return self._batches_cache

    def to_json(self) -> dict[str, Any]:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "schema": self.schema.to_json(),
            "schemas": {str(k): v.to_json() for k, v in self.schemas.items()},
            "manifest_refs": self.manifest_refs,
            "batch_log": self.batch_log,
            "summary": self.summary,
            "n_buckets": self.n_buckets,
        }

    @staticmethod
    def from_json(d: dict[str, Any], vault_dir: str | None = None) -> "Snapshot":
        snap = Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_id=d.get("parent_id"),
            schema=TableSchema.from_json(d["schema"]),
            schemas={int(k): TableSchema.from_json(v) for k, v in d["schemas"].items()},
            manifest_refs=d.get("manifest_refs", []),
            batch_log=d.get("batch_log", []),
            summary=d.get("summary", {}),
            n_buckets=d.get("n_buckets"),
            vault_dir=vault_dir,
        )
        # legacy inline format (pre-manifest): serve the lists from the
        # snapshot itself; the next commit migrates them into manifests
        if "files" in d:
            snap._files_cache = d["files"]
        if "committed_batches" in d:
            snap._batches_cache = d["committed_batches"]
        return snap

    def is_legacy(self) -> bool:
        return not self.manifest_refs and self._files_cache is not None and bool(self._files_cache)


def changed_buckets(a: list[dict[str, Any]], b: list[dict[str, Any]]) -> set[int] | None:
    """Buckets whose entries differ between two snapshots, given both sides'
    manifest refs (O(refs), what the commit path diffs) or file entries
    (what the read paths already hold). Entries are compared by path, which
    is unique per commit attempt and immutable, so every bucket a commit in
    between wrote, rewrote or emptied differs, and a ref-level answer is
    never smaller than the file-level one. None when the bucket-less
    entries differ: their keys could sit in any bucket, so the extent is
    unbounded. Callers check a change of ``n_buckets`` themselves."""

    def by_bucket(entries: list[dict[str, Any]]) -> dict[Any, set[str]]:
        out: dict[Any, set[str]] = {}
        for e in entries:
            out.setdefault(e["bucket"], set()).add(e["path"])
        return out

    ba, bb = by_bucket(a), by_bucket(b)
    if ba.pop(None, set()) != bb.pop(None, set()):
        return None
    return {k for k in set(ba) | set(bb) if ba.get(k, set()) != bb.get(k, set())}


# Per-column stats: strings longer than this are not recorded (a truncated
# max would need round-up semantics to stay a sound bound — skip instead;
# pruning conservatively keeps the file). Key min/max have no cap: keys are
# short by construction and their pruning predates this limit.
_STAT_STR_MAX = 64

# scan(column_equals=...) probes files' parquet bloom filters DRIVER-side
# only while the candidate set (post bucket/key/stats pruning) is at most
# this many files — beyond it the distributed reader-side row-group bloom
# filter is the scale path and the driver must not serially read blooms.
_BLOOM_PRUNE_MAX_FILES = 64


def _stat_val(v: Any) -> Any:
    """JSON-able, comparison-safe stat value or None (drop the column)."""
    if isinstance(v, bytes):
        v = v.decode("utf-8", "replace")
    if isinstance(v, str):
        return v if len(v) <= _STAT_STR_MAX else None
    if isinstance(v, (bool, int, float)):
        return v
    return None  # date/datetime/decimal: not JSON-able — no stats


def _parquet_footer_stats(full: str, key0: str) -> tuple[int, int, Any, Any, dict[str, list]]:
    """(rows, bytes, key_min, key_max, col_stats) from one parquet FOOTER —
    no data pages read. ``col_stats`` maps each leaf column's PHYSICAL name
    (the name under the schema version the file was written with — scan
    re-maps it by column id) to ``[min, max]``; a column appears only when
    EVERY row group carries min/max stats (a statless row group could hold
    anything, so a partial bound is not a bound). Shared by the driver-side
    and distributed harvest paths (must stay module-level: the executor path
    pickles it into a mapInPandas closure).

    NaN rule (the only one): Spark sorts NaN above every value, so a float
    span bounds its rows only if the footer rules NaN out. Spark's writer
    (parquet-mr) records NaN as the max; pyarrow skips NaN in min/max. A
    float span that may hide a NaN gets no stats, so pruning keeps the file."""
    md = pq.ParquetFile(full).metadata
    rows = md.num_rows
    kmin = kmax = None
    col_stats: dict[str, list] = {}
    nan_in_max = (md.created_by or "").startswith("parquet-mr")

    def span(mins: list, maxs: list) -> tuple[Any, Any]:
        if isinstance(maxs[0], float) and not (nan_in_max and all(v == v for v in maxs)):
            return None, None
        return min(mins), max(maxs)

    try:
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        if key0 in names:
            j = names.index(key0)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(j).statistics
                if st is not None and st.has_min_max:
                    mins.append(st.min)
                    maxs.append(st.max)
            if mins:
                kmin, kmax = span(mins, maxs)
                if isinstance(kmin, bytes):
                    kmin = kmin.decode("utf-8", "replace")
                    kmax = kmax.decode("utf-8", "replace")
                if not isinstance(kmin, (str, int, float)):
                    # non-JSON-able stat types (date/datetime/decimal key
                    # columns): store no stats rather than crash the manifest
                    # JSON write — pruning conservatively keeps the file.
                    # Applies identically on the driver and executor paths.
                    kmin = kmax = None
        for j, name in enumerate(names):
            if "." in name:
                continue  # nested leaf (array/struct path): not a scan target
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(j).statistics
                if st is None or not st.has_min_max:
                    mins = []
                    break
                mins.append(st.min)
                maxs.append(st.max)
            if not mins:
                continue
            lo, hi = (_stat_val(v) for v in span(mins, maxs))
            if lo is not None and hi is not None:
                col_stats[name] = [lo, hi]
    except Exception:
        pass
    return rows, os.path.getsize(full), kmin, kmax, col_stats


def _manifest_entry(
    root: str, full: str, bucket: int | None, schema_id: int, stats: tuple
) -> dict[str, Any]:
    """A manifest file entry from the file's ``_parquet_footer_stats``; the
    commit adds the ``delta``/``eq_delete`` flags and the ordinal."""
    rows, nbytes, kmin, kmax, cstats = stats
    entry = {
        "path": os.path.relpath(full, root),
        "rows": rows,
        "bytes": nbytes,
        "bucket": bucket,
        "schema_id": schema_id,
        "min_key": kmin,
        "max_key": kmax,
    }
    if cstats:
        entry["col_stats"] = cstats
    return entry


# Footer key under which Spark's parquet writer stores the row schema; Spark's
# own schema inference reads this key first.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _first_data_file(path: str) -> str | None:
    """``path`` itself, or the first parquet file under a directory (in
    sorted order, skipping the names Spark's listing skips: ``.*``, and
    ``_*`` unless it is a ``col=value`` partition dir such as ``__bucket=3``)."""
    if not os.path.isdir(path):
        return path
    for dp, dns, fns in os.walk(path):
        dns[:] = sorted(
            d for d in dns if not (d.startswith(".") or (d.startswith("_") and "=" not in d))
        )
        for fn in sorted(fns):
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                return os.path.join(dp, fn)
    return None


def read_parquet_pinned(spark: SparkSession, paths: list[str]) -> DataFrame:
    """``spark.read.parquet(*paths)`` with the schema read on the driver from
    the first file's footer (pyarrow, no data pages), so planning the read
    submits no Spark job; without a schema Spark runs a 1-task inference job
    on every read. The schema is the file's own, not the manifest's: files
    committed by callers may differ physically (a decimal column the table
    calls ``double``), and callers cast by column id after the read. A file
    without Spark's row-metadata key, or a directory with no parquet file,
    gets the inferring read."""
    first = _first_data_file(paths[0])
    reader = spark.read
    if first is not None:
        js = (pq.read_metadata(first).metadata or {}).get(_SPARK_ROW_METADATA)
        if js is not None:
            reader = reader.schema(StructType.fromJson(json.loads(js)))
    return reader.parquet(*paths)


def _q(name: str) -> str:
    """Backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def snapshot_ddl(cols: list[dict[str, Any]]) -> str:
    """DDL schema string of a snapshot's columns (``name type, ...``)."""
    return ", ".join(f"{_q(c['name'])} {SPARK_TYPE.get(c['type'], c['type'])}" for c in cols)


def lww_tie(columns: list[str]) -> list[str]:
    """Merge-on-read tie order after the key: ``(last_seq, commit ordinal)``,
    later commit wins at an equal ``last_seq``, matching the write-side rule
    "batch beats table at equal seq" (``replay._merge_maxby``). Within one
    commit a key appears at most once, so ``content_sha256`` is only a
    deterministic tail, used when the table has it."""
    return ["last_seq", "__ord"] + (["content_sha256"] if "content_sha256" in columns else [])


def _cast_by_id(cur_cols: list[dict[str, Any]], old_cols: list[dict[str, Any]]) -> list[str]:
    """SQL select list that re-maps columns written under ``old_cols`` onto
    ``cur_cols`` by column id: a renamed column keeps its values, a column
    added since reads as a typed null, every column is cast to its current
    type (int→long promotion, or a physical type a caller wrote)."""
    old_by_id = {c["id"]: c["name"] for c in old_cols}
    sel = []
    for c in cur_cols:
        typ = SPARK_TYPE.get(c["type"], c["type"])
        old = old_by_id.get(c["id"])
        src = "NULL" if old is None else _q(old)
        sel.append(f"CAST({src} AS {typ}) AS {_q(c['name'])}")
    return sel


def _atomic_write_json(path: str, obj: dict[str, Any]) -> None:
    # pid alone is not unique under concurrent commits: two threads of one
    # process racing on the SAME target (e.g. the version.json hint) would
    # share a temp path, truncate each other mid-write, and publish partial
    # JSON — the nonce keeps every in-flight write on its own inode
    tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _atomic_claim_json(path: str, obj: dict[str, Any]) -> bool:
    """Publish ``obj`` at ``path`` IF AND ONLY IF the path does not exist
    yet — the compare-and-swap primitive of the optimistic commit protocol
    (Iceberg delegates this CAS to its catalog; on a POSIX filesystem
    ``os.link`` of a fully-written temp file gives the same fail-on-exists
    atomicity). Returns False when another writer already claimed the path.

    The temp lives in the parent dir under a dotted name so directory
    listings that parse snapshot/segment file names never see it."""
    tmp = os.path.join(
        os.path.dirname(path), f".claim-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    )
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
        won = True
    except FileExistsError:
        # NFS caveat: a lost LINK reply is retransmitted and the retry sees
        # EEXIST even though OUR link landed — the classic hard-link-CAS
        # pitfall. The ground truth is the temp's link count: 2 means
        # ``path`` is our inode and we actually won.
        won = os.stat(tmp).st_nlink == 2
    os.unlink(tmp)
    return won


class CommitConflict(RuntimeError):
    """A concurrent commit made this one un-rebaseable: the caller must
    recompute its write against the new table head and retry. Raised only
    when the conflict is REAL (overlapping buckets, schema/bucket-count
    change, or a full-table rewrite) — disjoint-bucket and delta-append
    commits rebase automatically inside ``LakeVault.commit``."""


class LakeVault:
    """One copy-on-write table. Key columns define the merge identity."""

    def __init__(self, spark: SparkSession, root: str, branch: str | None = None):
        self.spark = spark
        self.root = root
        self.vault_dir = os.path.join(root, "_vault")
        self.data_dir = os.path.join(root, "data")
        # Branch handle (Iceberg branching / the write-audit-publish flow):
        # a branch is a SNAPSHOT-NAMESPACE overlay — its snapshot files and
        # version hint live under _vault/branches/<name>/ while data files,
        # manifests, batch-log segments and lineage manifests stay SHARED
        # with main (every path a snapshot references is vault_dir-relative
        # and nonce'd, so writers in different namespaces never collide).
        # Branch snapshot ids CONTINUE main's numbering from the fork point,
        # which is what makes publish_branch a pure metadata fast-forward:
        # the branch chain fork+1..head is already a valid main chain.
        self.branch_name = branch
        self._ns_dir = (
            os.path.join(self.vault_dir, "branches", branch)
            if branch
            else self.vault_dir
        )

    # ---- lifecycle -------------------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        columns: list[tuple[str, str]],
        key_cols: tuple[str, ...] = ("repo", "path"),
        n_buckets: int = 16,
        bloom_cols: list[str] | None = None,
    ) -> "LakeVault":
        v = LakeVault(spark, root)
        os.makedirs(os.path.join(v.vault_dir, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(v.vault_dir, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(v.vault_dir, "filelists"), exist_ok=True)
        os.makedirs(os.path.join(v.vault_dir, "batchlog"), exist_ok=True)
        os.makedirs(v.data_dir, exist_ok=True)
        schema = TableSchema.from_names(columns)
        snap = Snapshot(
            snapshot_id=0,
            parent_id=None,
            schema=schema,
            schemas={0: schema},
            summary={"operation": "create"},
            n_buckets=n_buckets,
            vault_dir=v.vault_dir,
        )
        _atomic_write_json(v._snap_path(0), snap.to_json())
        _atomic_write_json(
            os.path.join(v.vault_dir, "table.json"),
            {
                "key_cols": list(key_cols),
                "n_buckets": n_buckets,
                "bucket_fn": BUCKET_FN,
                "bloom_cols": list(bloom_cols or []),
            },
        )
        _atomic_write_json(os.path.join(v.vault_dir, "version.json"), {"snapshot_id": 0})
        return v

    @staticmethod
    def load(spark: SparkSession, root: str) -> "LakeVault":
        v = LakeVault(spark, root)
        if not os.path.exists(os.path.join(v.vault_dir, "version.json")):
            raise FileNotFoundError(f"no LakeVault table at {root}")
        return v

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.exists(os.path.join(root, "_vault", "version.json"))

    # ---- metadata --------------------------------------------------------

    def _snap_path(self, sid: int) -> str:
        """WRITE/CLAIM path for a snapshot in THIS handle's namespace."""
        return os.path.join(self._ns_dir, "snapshots", f"snap-{sid}.json")

    def _snap_read_path(self, sid: int) -> str:
        """READ path: a branch resolves ids at or below its fork point from
        the main namespace (the fork's history is shared, not copied)."""
        p = self._snap_path(sid)
        if self.branch_name and not os.path.exists(p):
            return os.path.join(self.vault_dir, "snapshots", f"snap-{sid}.json")
        return p

    @property
    def table_meta(self) -> dict[str, Any]:
        # table.json is immutable after create() (bucket count lives in the
        # snapshot) — cache it; bucket_expr reads it on the hot path.
        if getattr(self, "_table_meta_cache", None) is None:
            with open(os.path.join(self.vault_dir, "table.json")) as f:
                self._table_meta_cache = json.load(f)
        return self._table_meta_cache

    @property
    def key_cols(self) -> list[str]:
        return self.table_meta["key_cols"]

    @property
    def n_buckets(self) -> int:
        nb = self.snapshot().n_buckets
        return nb if nb is not None else self.table_meta["n_buckets"]

    def current_snapshot_id(self) -> int:
        """Head = highest contiguous snapshot above the version pointer.

        Under the optimistic commit protocol the snapshot file CLAIM (an
        atomic link, see ``_atomic_claim_json``) is the commit point;
        ``version.json`` is a monotone hint refreshed right after. A writer
        that crashed between the two leaves a complete, durable snapshot the
        pointer does not mention yet — every reader/writer rolls forward
        over it (the loop is O(crashed writers), i.e. almost always zero
        iterations). Only commit() advances the pointer file itself."""
        with open(os.path.join(self._ns_dir, "version.json")) as f:
            sid = json.load(f)["snapshot_id"]
        while os.path.exists(self._snap_path(sid + 1)):
            sid += 1
        return sid

    def _refresh_version_hint(self, sid: int) -> None:
        """Advance the roll-forward hint to ``sid`` — MONOTONE: a writer that
        stalled between its CAS and this refresh must not regress the hint
        past commits (or, worse, past an ``expire_snapshots`` that already
        deleted the snapshot the stale hint names — roll-forward cannot walk
        a hole, so a regressed hint would brick every read)."""
        try:
            with open(os.path.join(self._ns_dir, "version.json")) as f:
                if json.load(f)["snapshot_id"] >= sid:
                    return
        except (OSError, ValueError, KeyError):
            pass
        _atomic_write_json(
            os.path.join(self._ns_dir, "version.json"), {"snapshot_id": sid}
        )

    def snapshot(self, sid: int | None = None) -> Snapshot:
        sid = self.current_snapshot_id() if sid is None else sid
        with open(self._snap_read_path(sid)) as f:
            return Snapshot.from_json(json.load(f), vault_dir=self.vault_dir)

    @staticmethod
    def _list_snap_ids(d: str) -> list[int]:
        out: list[int] = []
        if not os.path.isdir(d):
            return out
        for f in os.listdir(d):
            # tolerate stray temps (crashed pre-CAS writers): only complete
            # snap-<N>.json names count
            if f.startswith("snap-") and f.endswith(".json"):
                try:
                    out.append(int(f[5 : -len(".json")]))
                except ValueError:
                    continue
        return sorted(out)

    def snapshot_ids(self) -> list[int]:
        own = self._list_snap_ids(os.path.join(self._ns_dir, "snapshots"))
        if self.branch_name:
            # shared pre-fork history + branch-local ids; a branch id
            # overrides nothing (namespaces are disjoint above the fork)
            fork = self._branch_meta["forked_at"]
            main = self._list_snap_ids(os.path.join(self.vault_dir, "snapshots"))
            return sorted(set(s for s in main if s <= fork) | set(own))
        return own

    def committed_batches(self) -> set[str]:
        return set(self.snapshot().committed_batches)

    def manifest(self, batch_id: str) -> dict[str, Any] | None:
        p = os.path.join(self.vault_dir, "manifests", f"{batch_id}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    # ---- branches & tags (write-audit-publish) ---------------------------
    # Iceberg's branching/tagging surface (refs), built on the namespace
    # overlay described in __init__. The canonical WAP flow:
    #
    #     vault.create_branch("audit")
    #     staged = vault.branch("audit")         # full LakeVault handle
    #     ... commit/replay/DML through `staged` — main readers see nothing
    #     ... audit queries over staged.scan() / staged.scan_changes(fork, head)
    #     vault.publish_branch("audit")          # atomic metadata fast-forward
    #
    # Publish is O(branch commits) metadata CAS ops and ZERO data movement;
    # a publish that races a main commit fails with CommitConflict exactly
    # like Iceberg's fast-forward (re-stage or rebase by re-replaying the
    # batches on a fresh branch). Reference analog: the notebooks validate
    # AFTER writing to the live table (02_enrich_events.py quality checks run
    # post-append) — WAP moves the audit BEFORE visibility.

    @property
    def _branch_meta(self) -> dict[str, Any]:
        with open(os.path.join(self._ns_dir, "branch.json")) as f:
            return json.load(f)

    def create_branch(self, name: str, at: int | None = None) -> "LakeVault":
        """Fork a branch at snapshot ``at`` (default: current main head) and
        return its handle. Main-handle only; branch names are flat."""
        if self.branch_name:
            raise ValueError("create_branch from the main handle only")
        # '-' and '.' are structural in attempt tokens (``w-<branch>.<id>-…``
        # staging dirs, ``fl-``/``seg-`` metadata names): a branch name
        # containing either would make the GC's token parse read the wrong
        # field — leaking crashed attempts forever or, worse, stripping the
        # in-flight protection from live filelist/segment files
        if not name or any(ch in name for ch in "/-.") or name.startswith("."):
            raise ValueError(
                f"invalid branch name {name!r} (letters/digits/underscore; "
                "no '/', '-', or '.')"
            )
        bdir = os.path.join(self.vault_dir, "branches", name)
        if os.path.isdir(bdir):
            raise ValueError(f"branch {name!r} already exists")
        fork = self.current_snapshot_id() if at is None else at
        # fail fast on a dangling fork point
        with open(self._snap_read_path(fork)):
            pass
        os.makedirs(os.path.join(bdir, "snapshots"), exist_ok=True)
        _atomic_write_json(os.path.join(bdir, "branch.json"), {"forked_at": fork})
        _atomic_write_json(os.path.join(bdir, "version.json"), {"snapshot_id": fork})
        return self.branch(name)

    def branch(self, name: str) -> "LakeVault":
        """Handle for an existing branch (same table, branch namespace)."""
        b = LakeVault(self.spark, self.root, branch=name)
        if not os.path.exists(os.path.join(b._ns_dir, "version.json")):
            raise FileNotFoundError(f"no branch {name!r} at {self.root}")
        return b

    def branches(self) -> list[str]:
        d = os.path.join(self.vault_dir, "branches")
        return sorted(n for n in os.listdir(d)) if os.path.isdir(d) else []

    def drop_branch(self, name: str) -> None:
        """Delete a branch's metadata namespace. Data files only the branch
        referenced become orphans that the next ``expire_snapshots`` sweeps
        (they are no longer in any retained ref's live set). The engine's
        branch-scoped side state (quarantine rejects, the checkpoint hint —
        written by ``CDCEngine(branch=...)`` under well-known names) goes
        with it: nothing sweeps those paths otherwise."""
        if self.branch_name:
            raise ValueError("drop_branch from the main handle only")
        bdir = os.path.join(self.vault_dir, "branches", name)
        if not os.path.isdir(bdir):
            raise FileNotFoundError(f"no branch {name!r} at {self.root}")
        shutil.rmtree(bdir)
        shutil.rmtree(
            os.path.join(self.root, f"quarantine-branch-{name}"), ignore_errors=True
        )
        try:
            os.remove(os.path.join(self.vault_dir, f"checkpoints-branch-{name}.json"))
        except OSError:
            pass

    def publish_branch(self, name: str, drop: bool = True) -> int:
        """Make the branch head visible on main — the WAP publish step.

        Publish is ONE new main snapshot at fork+1 carrying the branch
        head's manifest refs, schema, bucket count and batch log (the
        staged commits squash into a single published commit, like
        Iceberg's cherry-pick of a staged WAP snapshot; the granular
        staged history stays time-travelable on the branch until it is
        dropped). The single snapshot CAS is the entire commit point, so
        publication is ATOMIC: a main commit that raced past the fork wins
        the claim and publish raises ``CommitConflict`` with nothing
        partially merged — re-stage on the new head and retry. (The
        earlier chain-copy design claimed each staged snapshot in order,
        which could strand a PREFIX on main when a racing writer claimed
        the next id mid-walk.)

        Idempotent under crash-retry: if our identical publish snapshot
        already holds fork+1 (a prior call crashed after its CAS), the
        claim failure is recognized by content equality and the call
        completes. Exactly-once survives publication: the staged batch ids
        ride the branch's batch log into the published snapshot, so
        replaying a published chunk on main is a no-op."""
        if self.branch_name:
            raise ValueError("publish_branch from the main handle only")
        b = self.branch(name)
        fork = b._branch_meta["forked_at"]
        head_b = b.current_snapshot_id()
        if head_b == fork:
            if drop:
                self.drop_branch(name)
            return self.current_snapshot_id()
        bh = b.snapshot(head_b)
        new_id = fork + 1
        snap = Snapshot(
            snapshot_id=new_id,
            parent_id=fork,
            schema=bh.schema,
            schemas=dict(bh.schemas),
            manifest_refs=list(bh.manifest_refs),
            batch_log=list(bh.batch_log),
            n_buckets=bh.n_buckets,
            summary={
                "operation": "publish",
                "branch": name,
                "published_from": head_b,
                "staged_commits": head_b - fork,
                "added_files": 0,
                "added_bytes": 0,
                "total_files": sum(r["n_files"] for r in bh.manifest_refs),
                "total_rows": sum(r["rows"] for r in bh.manifest_refs),
            },
            vault_dir=self.vault_dir,
        )
        content = snap.to_json()
        if not _atomic_claim_json(self._snap_path(new_id), content):
            with open(self._snap_path(new_id)) as f:
                existing = json.load(f)
            if existing != content:
                raise CommitConflict(
                    f"cannot publish branch {name!r}: main advanced past the "
                    f"fork point {fork} — re-stage the branch on the current "
                    f"head and retry"
                )
            # else: our own prior (crashed) publish already claimed it
        self._refresh_version_hint(new_id)
        if drop:
            self.drop_branch(name)
        return new_id

    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Named immutable ref to a snapshot (Iceberg tag). Tagged snapshots
        and their files are retained by ``expire_snapshots`` until the tag
        is dropped."""
        if self.branch_name:
            raise ValueError("create_tag from the main handle only")
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"invalid tag name {name!r}")
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        with open(self._snap_read_path(sid)):
            pass
        p = os.path.join(self.vault_dir, "refs", f"tag-{name}.json")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        # CAS, not exists+write: two concurrent create_tag("v1") calls must
        # not both "succeed" with the loser's pin silently overwritten (the
        # next expire would delete the snapshot the loser believed immutable)
        if not _atomic_claim_json(p, {"snapshot_id": sid}):
            raise ValueError(f"tag {name!r} already exists")
        return sid

    def resolve_tag(self, name: str) -> int:
        p = os.path.join(self.vault_dir, "refs", f"tag-{name}.json")
        with open(p) as f:
            return json.load(f)["snapshot_id"]

    def tags(self) -> dict[str, int]:
        d = os.path.join(self.vault_dir, "refs")
        out: dict[str, int] = {}
        if os.path.isdir(d):
            for fn in os.listdir(d):
                if fn.startswith("tag-") and fn.endswith(".json"):
                    with open(os.path.join(d, fn)) as f:
                        out[fn[4 : -len(".json")]] = json.load(f)["snapshot_id"]
        return out

    def drop_tag(self, name: str) -> None:
        p = os.path.join(self.vault_dir, "refs", f"tag-{name}.json")
        if not os.path.exists(p):
            raise FileNotFoundError(f"no tag {name!r} at {self.root}")
        os.remove(p)

    # ---- inspection (metadata tables) -------------------------------------
    # Iceberg `table$snapshots` / `table$files` / Delta DESCRIBE HISTORY and
    # SHOW PARTITIONS analogs (reference: 04_hive_sql_analysis.py:66 shows
    # partitions via Hive; here the same answers come from table metadata
    # without touching a single data file). Register with
    # createOrReplaceTempView to query them in SQL.

    def inspect_snapshots(self) -> DataFrame:
        """One row per RETAINED snapshot (expired ones are gone by design):
        the DESCRIBE HISTORY surface. Driver-built from snapshot JSONs —
        O(snapshots), bounded by the expiry policy, never O(files)."""
        rows = []
        for sid in self.snapshot_ids():
            s = self.snapshot(sid)
            su = s.summary or {}
            op = su.get("operation")
            rows.append((
                s.snapshot_id, s.parent_id, s.schema.schema_id, s.n_buckets,
                None if op is None else str(op),
                su.get("added_files"), su.get("added_bytes"),
                su.get("total_files"), su.get("total_rows"),
            ))
        ddl = (
            "snapshot_id long, parent_id long, schema_id long, n_buckets long, "
            "operation string, added_files long, added_bytes long, "
            "total_files long, total_rows long"
        )
        return self.spark.createDataFrame(rows, ddl)

    def inspect_partitions(self, snapshot_id: int | None = None) -> DataFrame:
        """Per-bucket live footprint (SHOW PARTITIONS analog): file/row/byte
        counts and delta-pile depth. Built purely from ``manifest_refs``
        metadata — O(manifests), NEVER loads a manifest's file entries, so
        it stays cheap at any table size."""
        snap = self.snapshot(snapshot_id)
        agg: dict[Any, list[int]] = {}
        for r in snap.manifest_refs:
            a = agg.setdefault(r.get("bucket"), [0, 0, 0, 0])
            a[0] += r.get("n_files", 0)
            a[1] += r.get("rows", 0)
            a[2] += r.get("bytes", 0)
            a[3] += r.get("n_files", 0) if r.get("delta") else 0
        rows = [
            (b, v[0], v[1], v[2], v[3]) for b, v in sorted(
                agg.items(), key=lambda kv: (kv[0] is None, kv[0])
            )
        ]
        ddl = "bucket long, n_files long, rows long, bytes long, delta_files long"
        return self.spark.createDataFrame(rows, ddl)

    def inspect_files(self, snapshot_id: int | None = None) -> DataFrame:
        """One row per live data file at the snapshot (Iceberg
        ``table$files``): path, bucket, schema version, commit ordinal,
        row/byte counts, MOR flag and key span. O(files) driver rows — the
        same manifest read every commit's rebase check already performs; for
        tables where that is too big, ``inspect_partitions`` (O(manifests))
        and ``inspect_snapshots`` (O(snapshots)) answer the aggregate
        questions without loading file entries."""
        snap = self.snapshot(snapshot_id)
        rows = [
            (
                f["path"], f.get("bucket"), f.get("schema_id"), f.get("ord"),
                f.get("rows"), f.get("bytes"), bool(f.get("delta")),
                bool(f.get("eq_delete")),
                None if f.get("min_key") is None else str(f["min_key"]),
                None if f.get("max_key") is None else str(f["max_key"]),
            )
            for f in snap.files
        ]
        ddl = (
            "path string, bucket long, schema_id long, ord long, rows long, "
            "bytes long, delta boolean, eq_delete boolean, min_key string, max_key string"
        )
        return self.spark.createDataFrame(rows, ddl)

    def inspect_schemas(self) -> DataFrame:
        """Every schema version ever committed, one row per (version,
        column): the evolution audit trail — shows adds, renames (same id,
        new name), promotions (same id, new type) and drops (id absent from
        later versions)."""
        head = self.snapshot()
        rows = [
            (sid, c["id"], c["name"], c["type"])
            for sid, s in sorted(head.schemas.items())
            for c in s.columns
        ]
        ddl = "schema_id long, column_id long, name string, type string"
        return self.spark.createDataFrame(rows, ddl)

    # ---- scan (time travel + rename-by-id + bucket pruning) --------------

    @property
    def bloom_cols(self) -> list[str]:
        return self.table_meta.get("bloom_cols") or []

    def data_write_options(self) -> dict[str, str]:
        """Parquet writer options every data-file write applies. With
        ``bloom_cols`` configured the files carry parquet-native split-block
        bloom filters for those columns (adaptive sizing: measured ~+3%
        bytes at ~1% FPR for hash-like columns). Two payoffs at scale: the
        DISTRIBUTED one is free — Spark's parquet reader applies the blooms
        to row groups wherever an equality predicate is pushed down, which
        is the only skipping that works on a uniformly-distributed column
        like ``commit`` (min/max spans everything); the DRIVER one is
        ``scan(column_equals=...)`` pruning whole files from the plan via
        a ranged read of just the bloom bytes (plans/bloom.py)."""
        cols = self.bloom_cols
        if not cols:
            return {}
        opts = {"parquet.bloom.filter.adaptive.enabled": "true"}
        for c in cols:
            opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
        return opts

    def bucket_expr(self, df_or_cols: Any = None) -> F.Column:
        # Murmur3 (F.hash, seed 42) over the RAW key columns — bit-identical
        # to Spark's HashPartitioning partition id (pmod(murmur3(keys), n)).
        # This alignment is load-bearing: the replay merge repartitions on
        # key_cols into a divisor or multiple of n_buckets partitions, so each
        # write task holds whole buckets or a slice of one bucket, and the
        # bucket write keeps files per bucket bounded with no second shuffle
        # (see replay._merge_maxby).
        fn = self.table_meta.get("bucket_fn")
        if fn != BUCKET_FN:
            raise ValueError(
                f"table at {self.root} was written with bucket_fn={fn!r}, engine "
                f"expects {BUCKET_FN!r}: bucket-scoped reads/merges would be "
                f"silently wrong — rebucket via compact() on the old engine "
                f"version, or recreate the table"
            )
        return F.pmod(F.hash(*[F.col(k) for k in self.key_cols]), F.lit(self.n_buckets))

    def scan(
        self,
        snapshot_id: int | None = None,
        buckets: list[int] | None = None,
        key_range: tuple[str | None, str | None] | None = None,
        column_ranges: dict[str, tuple[Any, Any]] | None = None,
        column_equals: dict[str, Any] | None = None,
        key_equals: tuple[Any, ...] | None = None,
    ) -> DataFrame:
        """Snapshot-pinned scan. ``buckets`` prunes at file level via manifest
        metadata (reference analog: Delta partition filter ``02:69-74`` —
        but here the pruning happens before Spark ever lists a file).
        ``key_range=(lo, hi)`` additionally skips files whose parquet-footer
        [min_key, max_key] span (first key column) doesn't intersect the
        range — the reference's timed pruning demo
        (``04_hive_sql_analysis.py:236-273``) generalized to key stats.
        ``column_ranges={col: (lo, hi)}`` extends that skipping to ANY
        column (Iceberg-style data skipping): a file is dropped when its
        manifest ``col_stats`` span for the column can't intersect the range
        (``None`` bound = open side). Column names are CURRENT names; each
        file's stats are looked up under the file's own schema version by
        column id, so skipping keeps working across renames; on a snapshot
        with live MOR delta files the column skipping is a no-op (see the
        inline note — dropping a delta winner would resurrect its stale base
        row). Pruning is a
        SUPERSET guarantee: kept files may contain out-of-range rows, so
        callers still apply the row predicate (files without stats — old
        manifests, long strings, all-null columns — are conservatively
        kept). Point lookup: ``key_range=(k, k)``.
        ``column_equals={col: v}`` is the POINT-PROBE variant: each entry is
        folded into ``column_ranges`` as ``(v, v)`` for min/max skipping,
        and — when bucket/key pruning has already shrunk the candidate set
        to at most ``_BLOOM_PRUNE_MAX_FILES`` (64) — each
        surviving file's parquet-native bloom filter is probed with a
        ranged read of just the bloom bytes (plans/bloom.py), dropping
        definite-absent files before Spark schedules a single task. Beyond
        the cap the driver-side probe is skipped on purpose: reading
        millions of blooms on the driver is not a plan — at that scale the
        same blooms are applied DISTRIBUTED by the parquet reader's
        row-group filter, since callers push the equality predicate anyway.
        Files without blooms (pre-bloom tables, unconfigured columns) are
        conservatively kept; the same MOR-delta caveat as ``column_ranges``
        applies (a delta may carry the winner that moved the value away —
        dropping it would resurrect the stale matching base row).
        Rename promotion: files written under older schema versions are read
        with their original column names and re-mapped to current names by
        column id; columns added later are backfilled as typed nulls.
        Planning submits no Spark job: each file group's read is pinned to
        the schema in its first file's footer (``read_parquet_pinned``), and
        the re-mapping is one ``selectExpr`` of SQL text per group.

        ``key_equals=(v0, v1, ...)`` is the FULLY-KEYED point probe: the
        driver computes the key's bucket itself (plans/sparkhash.py — a
        bit-exact Python replica of the murmur3 ``bucket_expr``), so one
        bucket's manifests survive before key-range/stats/bloom pruning even
        run — O(1/n_buckets) of the metadata touched, no Spark job. Also
        folds into ``key_range`` (first key). The bucket step is skipped —
        never wrong — when legacy bucket-less files exist. ``pruned_files``
        owns the probe, so the ``lakevault`` data source's fully-keyed
        filters prune the same way. Callers still apply the row predicate
        (same superset contract)."""
        snap = self.snapshot(snapshot_id)
        cur = snap.schema
        files = self.pruned_files(
            snap,
            buckets=buckets,
            key_range=key_range,
            column_ranges=column_ranges,
            column_equals=column_equals,
            key_equals=key_equals,
        )
        del_files = [f for f in files if f.get("eq_delete")]
        files = [f for f in files if not f.get("eq_delete")]
        if not files:
            # nothing survived pruning, or only equality deletes: no live rows
            return self.spark.createDataFrame([], schema=snapshot_ddl(cur.columns))
        need_merge = any(f.get("delta") for f in files)
        # the commit ordinal is needed for the MOR LWW tiebreak AND for
        # equality-delete application (a delete removes rows of SMALLER ord)
        need_ord = need_merge or bool(del_files)
        # Group files by (schema_id, commit ordinal). The ordinal (the
        # snapshot id that ADDED the file) only matters when a merge-on-read
        # LWW pass runs — it is the canonical tiebreak (see below) — so COW
        # scans keep one group per schema version (no plan bloat). The group
        # count on MOR reads is bounded by the auto-compact policy (deltas
        # per bucket capped), so the union stays small.
        by_group: dict[tuple[int, int], list[str]] = {}
        for f in files:
            key = (f["schema_id"], f.get("ord", 0) if need_ord else 0)
            by_group.setdefault(key, []).append(os.path.join(self.root, f["path"]))
        parts: list[DataFrame] = []
        for (sid, ordv), paths in sorted(by_group.items()):
            sel = _cast_by_id(cur.columns, snap.schemas[sid].columns)
            if need_ord:
                sel.append(f"{ordv} AS __ord")
            parts.append(read_parquet_pinned(self.spark, paths).selectExpr(*sel))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if del_files:
            # Equality deletes (merge-on-read DELETE, plans §DML): each
            # delete file holds KEY columns only and removes every data row
            # of the same key whose commit ordinal is SMALLER than the
            # delete's — Iceberg v2 sequence-number semantics. Applied
            # BEFORE the LWW fold so a key re-inserted after the delete
            # (even with a lower last_seq) survives: the fold then runs
            # over post-delete survivors only. One extra equi-join against
            # the (small) delete key set; AQE broadcasts it when it fits.
            out = self._apply_eq_deletes(out, snap, del_files)
        if need_merge:
            # merge-on-read: delta files carry only each batch's winner rows
            # (incl. tombstones); the read view is LWW per key — one
            # partial-aggregated max_by, the same skew-immune shape as the
            # write-side merge, in the canonical ``lww_tie`` order, so MOR
            # scans, COW materialization and compact() all converge on the
            # same winner.
            # Pruning stays correct: base and delta rows of a key share the
            # same bucket and key-range span, so a pruned read is a pruned
            # superset merged the same way. COW tables (no delta entries)
            # never pay this aggregation.
            from observability_platform___databricks_etl_pipeline_spark.operators.dedup import lww_dedup

            out = lww_dedup(out, list(self.key_cols), lww_tie(out.columns))
        if need_ord:
            out = out.drop("__ord")
        return out

    def _apply_eq_deletes(
        self, out: DataFrame, snap: Snapshot, del_files: list[dict[str, Any]]
    ) -> DataFrame:
        """Anti-apply equality-delete files to a data scan carrying
        ``__ord``: a row survives iff no delete of its key has a larger
        ordinal (max-aggregated per key — stacked deletes collapse to one
        comparison). Delete files are read with ONLY the key columns (that
        is all they physically carry), names aligned by column id under
        each file's schema version."""
        keys = list(self.key_cols)
        key_cols = [c for c in snap.schema.columns if c["name"] in keys]
        by_group: dict[tuple[int, int], list[str]] = {}
        for f in del_files:
            by_group.setdefault((f["schema_id"], f["ord"]), []).append(
                os.path.join(self.root, f["path"])
            )
        parts: list[DataFrame] = []
        for (sid, ordv), paths in sorted(by_group.items()):
            sel = _cast_by_id(key_cols, snap.schemas[sid].columns)
            parts.append(
                read_parquet_pinned(self.spark, paths).selectExpr(*sel, f"{ordv} AS __del_ord")
            )
        dels = parts[0]
        for p in parts[1:]:
            dels = dels.unionByName(p)
        dmax = dels.groupBy(*keys).agg(F.max("__del_ord").alias("__del_ord"))
        return (
            out.join(dmax, keys, "left")
            .where(F.col("__del_ord").isNull() | (F.col("__ord") >= F.col("__del_ord")))
            .drop("__del_ord")
        )

    def pruned_files(
        self,
        snap: Snapshot,
        buckets: list[int] | None = None,
        key_range: tuple[str | None, str | None] | None = None,
        column_ranges: dict[str, tuple[Any, Any]] | None = None,
        column_equals: dict[str, Any] | None = None,
        key_equals: tuple[Any, ...] | None = None,
    ) -> list[dict[str, Any]]:
        """Manifest-metadata file pruning — the planning half of ``scan()``,
        shared with the ``lakevault`` Spark data source (sources/
        lakevault_ds.py) so both paths prune identically. Pure driver-side
        metadata (plus optional ranged bloom reads); never needs a
        SparkSession, so a metadata-only ``LakeVault(None, root)`` handle can
        call it. Superset guarantee as documented on ``scan()``: kept files
        may contain non-matching rows, callers still apply row predicates.
        ``key_equals`` is the fully-keyed probe documented on ``scan()``."""
        cur = snap.schema
        files = snap.files
        if key_equals is not None:
            if len(key_equals) != len(self.key_cols) or any(v is None for v in key_equals):
                raise ValueError(
                    "key_equals must provide one non-null value per key column "
                    f"{tuple(self.key_cols)} (got {key_equals!r})"
                )
            if key_range is None:
                key_range = (key_equals[0], key_equals[0])
            # legacy bucket-less files: the probe cannot be bucket-scoped
            if buckets is None and not any(f.get("bucket") is None for f in files):
                from observability_platform___databricks_etl_pipeline_spark.plans.sparkhash import bucket_of

                by_name = {c["name"]: c for c in cur.columns}
                nb = snap.n_buckets if snap.n_buckets is not None else self.table_meta["n_buckets"]
                buckets = [
                    bucket_of(list(key_equals), nb, types=[by_name[k]["type"] for k in self.key_cols])
                ]
        if column_equals:
            merged = dict(column_ranges or {})
            for col, v in column_equals.items():
                merged.setdefault(col, (v, v))
            column_ranges = merged
        if buckets is not None:
            bset = set(buckets)
            files = [f for f in files if f["bucket"] in bset]
        if key_range is not None:
            lo, hi = key_range
            files = [
                f
                for f in files
                if f.get("min_key") is None
                or f.get("max_key") is None
                or ((lo is None or f["max_key"] >= lo) and (hi is None or f["min_key"] <= hi))
            ]
        # Non-key column skipping is applied only when no candidate file is a
        # MOR delta: under the read-side LWW merge a delta file may carry the
        # WINNING row of a key whose value moved out of range — dropping it
        # would resurrect the stale in-range base row. (bucket/key_range
        # pruning stays safe under MOR because base and delta rows of a key
        # share bucket and key span.) Skipping the optimization is always
        # correct; compact() folds deltas and restores it.
        if column_ranges:
            cur_by_name = {c["name"]: c["id"] for c in cur.columns}
            unknown = sorted(set(column_ranges) - set(cur_by_name))
            if unknown:
                raise ValueError(
                    f"column_ranges refers to columns not in the current schema: {unknown}"
                )
        # eq_delete files disable value-based skipping like MOR deltas do:
        # a delete file carries only key columns, so a non-key stat/bloom
        # probe has no sound answer for it — dropping it would RESURRECT
        # every row it deletes. compact() folds deletes and restores both
        # optimizations.
        if column_ranges and not any(
            f.get("delta") or f.get("eq_delete") for f in files
        ):

            def _survives(f: dict[str, Any]) -> bool:
                cs = f.get("col_stats")
                if not cs:
                    return True  # pre-col_stats manifest: keep
                old_by_id = {c["id"]: c["name"] for c in snap.schemas[f["schema_id"]].columns}
                for col, (lo, hi) in column_ranges.items():
                    span = cs.get(old_by_id.get(cur_by_name[col]))
                    if span is None:
                        continue  # no sound bound for this column in this file
                    try:
                        if (lo is not None and span[1] < lo) or (hi is not None and span[0] > hi):
                            return False
                    except TypeError:
                        # caller's bound type doesn't compare with the stored
                        # stat type (e.g. str range on an int column): keep
                        # the file — the row predicate decides
                        continue
                return True

            files = [f for f in files if _survives(f)]
        if (
            column_equals
            and files
            and len(files) <= _BLOOM_PRUNE_MAX_FILES
            and not any(f.get("delta") or f.get("eq_delete") for f in files)
        ):
            from observability_platform___databricks_etl_pipeline_spark.plans.bloom import probe_file

            cur_by_name = {c["name"]: c["id"] for c in cur.columns}

            def _bloom_keeps(f: dict[str, Any]) -> bool:
                # physical name AND type come from the file's own schema
                # version: renames keep probing, and an int→long promoted
                # column hashes 4 bytes against old files, 8 against new
                old_by_id = {c["id"]: c for c in snap.schemas[f["schema_id"]].columns}
                probes: dict[str, tuple[Any, str | None]] = {}
                for col, v in column_equals.items():
                    if v is None:
                        continue  # null probe: bloom can't answer, keep
                    oc = old_by_id.get(cur_by_name[col])
                    if oc is None:
                        return False  # column added after this file: all-null
                    probes[oc["name"]] = (v, oc.get("type"))
                return not probes or probe_file(os.path.join(self.root, f["path"]), probes)

            files = [f for f in files if _bloom_keeps(f)]
        return files


    def scan_changes(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> DataFrame:
        """Incremental snapshot-diff read — "the table as a changelog", the
        Iceberg/Delta incremental-consumption primitive (r4 verdict #3): the
        per-key changes between two snapshots, WITHOUT re-reading the whole
        table. Downstream pipelines tail this the way this engine tails its
        WAL (reference analog: the Bronze→Silver→Gold chain re-reads whole
        partitions, ``02_enrich_events.py:69-74``, precisely because Delta's
        incremental read isn't used there).

        Cost is O(buckets touched since ``from_snapshot_id``), driven purely
        by manifest metadata: the affected-bucket set is every bucket whose
        live FILE SET differs between the two snapshots (files are
        immutable, so any data change implies a file-set change — including
        a bucket replaced with nothing by a pure-delete rewrite). Both
        sides scan ONLY those buckets and the diff join shuffles only their
        rows; untouched buckets are carried by reference in the manifests
        and never reach Spark.

        Returns one row per key whose row-state differs between the two
        snapshots, with columns:

        - the key columns;
        - ``_change_type``: ``insert`` (absent at A, present at B),
          ``update`` (present at both, any column differs), ``delete``
          (present at A, physically absent at B — note an engine-level
          tombstone lands as ``update`` here; ``CDCEngine.changes`` maps
          tombstone transitions to logical insert/update/delete);
        - every non-key column: the POST-image (B) for insert/update, the
          pre-image (A) for delete;
        - ``_before``: struct of the A-side non-key columns (null for
          insert) so callers can classify transitions without re-reading A.

        The A side is re-mapped to B's schema (columns added between A and
        B read as typed nulls at A — identical to how B itself reads files
        written under A's schema), so the struct comparison is well-typed
        across schema evolution. If the table was re-bucketed between A and
        B the before side falls back to a full scan (pre-rebucket bucket
        ids are not comparable); the rewrite that re-bucketed it made every
        bucket "affected" anyway.

        Like ``scan()``, planning submits no Spark job: both sides' reads
        are footer-pinned, and the alignment, struct build and change
        classification are SQL-text projections (``selectExpr``)."""
        snap_b = self.snapshot(to_snapshot_id)
        to_id = snap_b.snapshot_id
        if from_snapshot_id > to_id:
            raise ValueError(
                f"scan_changes: from_snapshot_id {from_snapshot_id} is newer "
                f"than to_snapshot_id {to_id}"
            )
        snap_a = self.snapshot(from_snapshot_id)
        # affected = buckets whose live file set differs between A and B
        # (this also catches a bucket REPLACED WITH NOTHING); None (legacy
        # bucket-less files changed) means a full diff. Pure manifest
        # metadata, never lists the filesystem.
        affected = changed_buckets(snap_a.files, snap_b.files)
        b_buckets = None if affected is None else sorted(affected)
        # a rebucket between A and B changes what bucket ids MEAN at A
        a_buckets = None if snap_a.n_buckets != snap_b.n_buckets else b_buckets

        after = self.scan(to_id, buckets=b_buckets)
        before = self.scan(from_snapshot_id, buckets=a_buckets)
        # align the A side to B's schema BY COLUMN ID (the same rename-
        # promotion rule scan() applies to old-schema files): a column
        # renamed between A and B is the SAME column, a column added since
        # A reads as a typed null at A. Each projection below is one
        # selectExpr of SQL text, not a Column-API call chain per column.
        keys = list(self.key_cols)
        qkeys = [_q(k) for k in keys]
        non_key = [_q(c["name"]) for c in snap_b.schema.columns if c["name"] not in keys]
        b_side = before.selectExpr(
            *_cast_by_id(snap_b.schema.columns, snap_a.schema.columns)
        ).selectExpr(*qkeys, f"struct({', '.join(non_key)}) AS _before")
        a_side = after.selectExpr(*qkeys, f"struct({', '.join(non_key)}) AS __after")
        j = b_side.join(a_side, keys, "full_outer")
        # a NULL condition falls through to the next branch, so a key whose
        # images are equal (<=>) gets no change type and is filtered out
        change = (
            "CASE WHEN _before IS NULL THEN 'insert' WHEN __after IS NULL THEN 'delete' "
            "WHEN NOT (_before <=> __after) THEN 'update' END"
        )
        img = "IF(__after IS NULL, _before, __after)"
        return (
            j.selectExpr(*qkeys, f"{change} AS _change_type", "_before", "__after")
            .where("_change_type IS NOT NULL")
            .selectExpr(
                *qkeys, "_change_type", *[f"({img}).{c} AS {c}" for c in non_key], "_before"
            )
        )


    # ---- commit ----------------------------------------------------------

    # Above this many files, footer stats are harvested by EXECUTORS instead
    # of a serial driver loop: a batch writing thousands of files on an
    # object store would otherwise make the commit tail driver-serial (the
    # shape Iceberg avoids by collecting per-file stats during the write).
    # Below it, one Spark job costs more than the loop it replaces.
    _STAT_HARVEST_DRIVER_MAX = 64

    def _register_written_files(
        self, write_dir: str, schema_id: int, delta: bool = False, eq_delete: bool = False
    ) -> list[dict[str, Any]]:
        """Walk a Spark-written bucket-partitioned directory and produce file
        entries with parquet-footer stats (rows + key min/max) — the manifest
        stats that make bucket pruning and key-range pruning free. The walk
        itself is metadata-only; the footer reads go distributed past
        ``_STAT_HARVEST_DRIVER_MAX`` files so commit cost never becomes
        driver-serial in files-per-batch."""
        key0 = self.key_cols[0]
        files: list[tuple[str, int | None]] = []
        for dirpath, _dirnames, filenames in os.walk(write_dir):
            bucket = None
            for part in dirpath.split(os.sep):
                if part.startswith("__bucket="):
                    bucket = int(part.split("=", 1)[1])
            for fn in filenames:
                if fn.endswith(".parquet"):
                    files.append((os.path.join(dirpath, fn), bucket))
        if not files:
            return []

        if len(files) <= self._STAT_HARVEST_DRIVER_MAX:
            stats = {full: _parquet_footer_stats(full, key0) for full, _b in files}
        else:
            stats = self._harvest_stats_distributed([full for full, _b in files], key0)

        entries: list[dict[str, Any]] = []
        for full, bucket in files:
            entry = _manifest_entry(self.root, full, bucket, schema_id, stats[full])
            if delta:
                entry["delta"] = True  # absent (not False) in COW entries: old snapshots stay readable
            if eq_delete:
                # equality-delete file (Iceberg v2 analog): rows are KEY
                # columns only; at read time they remove every data row of
                # the same key with a SMALLER commit ordinal (see scan()).
                entry["eq_delete"] = True
            entries.append(entry)
        return entries

    def _harvest_stats_distributed(
        self, paths: list[str], key0: str
    ) -> dict[str, tuple[int, int, Any, Any, dict[str, list]]]:
        """Footer-stat harvest as ONE parallel Spark job over the path list:
        executors open footers (pyarrow, ~KB reads), the driver collects only
        (path, rows, bytes, min, max) tuples — O(files) bytes, not O(files)
        serial round-trips. Key min/max travel JSON-ENCODED through the
        transport column so their TYPE (str vs int vs float key columns)
        survives the typed DataFrame and the resulting manifest entries are
        byte-identical to the driver path's (a string-coerced '9' would
        mis-prune against a numeric key range)."""
        import pandas as pd

        def harvest(it):
            for pdf in it:
                recs = []
                for p in pdf["path"]:
                    rows, nbytes, kmin, kmax, cstats = _parquet_footer_stats(p, key0)
                    recs.append(
                        (p, rows, nbytes, json.dumps(kmin), json.dumps(kmax), json.dumps(cstats))
                    )
                yield pd.DataFrame(
                    recs, columns=["path", "rows", "bytes", "min_key", "max_key", "col_stats"]
                )

        n_slices = max(1, min(len(paths), self.spark.sparkContext.defaultParallelism))
        rows = (
            self.spark.createDataFrame([(p,) for p in paths], "path string")
            .repartition(n_slices)
            .mapInPandas(
                harvest,
                "path string, rows long, bytes long, min_key string, max_key string, "
                "col_stats string",
            )
            .collect()
        )
        return {
            r["path"]: (
                r["rows"],
                r["bytes"],
                json.loads(r["min_key"]),
                json.loads(r["max_key"]),
                json.loads(r["col_stats"]),
            )
            for r in rows
        }

    def _write_manifests(
        self, entries: list[dict[str, Any]], tag: str
    ) -> list[dict[str, Any]]:
        """Group file entries per bucket and write one manifest file each;
        return the refs. Per-bucket grouping is what makes bucket
        replacement METADATA-ONLY: a COW/compact commit drops whole refs of
        the replaced buckets and never rewrites the other buckets'
        manifests."""
        groups: dict[Any, list[dict[str, Any]]] = {}
        for e in entries:
            groups.setdefault(e["bucket"], []).append(e)
        refs: list[dict[str, Any]] = []
        for bucket, ents in sorted(groups.items(), key=lambda kv: (kv[0] is None, kv[0])):
            rel = os.path.join(
                "filelists", f"fl-{tag}-b{'x' if bucket is None else bucket}.json"
            )
            _atomic_write_json(os.path.join(self.vault_dir, rel), {"files": ents})
            refs.append(
                {
                    "path": rel,
                    "bucket": bucket,
                    "n_files": len(ents),
                    "rows": sum(e["rows"] for e in ents),
                    "bytes": sum(e.get("bytes", 0) for e in ents),
                    "delta": any(e.get("delta") for e in ents),
                }
            )
        return refs

    def _kept_refs(
        self,
        parent: Snapshot,
        replace_buckets: list[int] | None,
        replace_all: bool,
        tag: str,
    ) -> list[dict[str, Any]]:
        """Parent manifests carried into the child snapshot. O(refs) — file
        entries are only loaded for a legacy inline snapshot (one-time
        migration) or a bucket-less manifest intersecting the replacement."""
        if replace_all:
            return []
        refs = parent.manifest_refs
        if parent.is_legacy():
            refs = self._write_manifests(parent.files, f"{tag}-migrated")
        if replace_buckets is None:
            return list(refs)
        rb = set(replace_buckets)
        kept: list[dict[str, Any]] = []
        residual: list[dict[str, Any]] = []
        for r in refs:
            if r["bucket"] is not None:
                if r["bucket"] not in rb:
                    kept.append(r)
                continue
            # bucket-less manifest: filter per file (conservative path).
            # Entries from ALL bucket-less refs are pooled and written in ONE
            # _write_manifests call — per-ref calls would reuse the same
            # fl-{tag}-residual-b{bucket}.json name when two refs share a
            # bucket, silently overwriting the first ref's entries.
            with open(os.path.join(self.vault_dir, r["path"])) as f:
                residual.extend(e for e in json.load(f)["files"] if e["bucket"] not in rb)
        if residual:
            kept.extend(self._write_manifests(residual, f"{tag}-residual"))
        return kept

    _BATCH_SEG_CAP = 4096

    def _append_batch_log(
        self, parent: Snapshot, batch_id: str | None, tag: str
    ) -> list[dict[str, Any]]:
        """Append one id to the batch log by writing a NEW tail-segment file
        (≤ _BATCH_SEG_CAP ids) named by the commit attempt's unique ``tag``
        — segment files are IMMUTABLE once written. Immutability is what
        makes the batch log safe under optimistic concurrency: an in-place
        tail rewrite would let a losing writer clobber the winner's
        just-published segment (same path, same prefix length, different
        id — a silent exactly-once violation). Each snapshot records its
        own (path, prefix len) pairs, so older snapshots keep reading the
        exact segment bytes they were committed with; superseded tails are
        garbage-collected by ``expire_snapshots`` once unreferenced."""
        if parent._batches_cache is not None and not parent.batch_log and parent._batches_cache:
            # legacy inline batches: migrate once into full segments
            segs: list[dict[str, Any]] = []
            ids = list(parent.committed_batches)
            os.makedirs(os.path.join(self.vault_dir, "batchlog"), exist_ok=True)
            for k in range(0, len(ids), self._BATCH_SEG_CAP):
                chunk = ids[k : k + self._BATCH_SEG_CAP]
                rel = os.path.join("batchlog", f"seg-{len(segs)}-{tag}.json")
                _atomic_write_json(os.path.join(self.vault_dir, rel), {"ids": chunk})
                segs.append({"path": rel, "n": len(chunk)})
        else:
            segs = [dict(s) for s in parent.batch_log]
        if batch_id is None:
            return segs
        os.makedirs(os.path.join(self.vault_dir, "batchlog"), exist_ok=True)
        if segs and segs[-1]["n"] < self._BATCH_SEG_CAP:
            tail = segs[-1]
            with open(os.path.join(self.vault_dir, tail["path"])) as f:
                ids = json.load(f)["ids"][: tail["n"]]
            ids.append(batch_id)
            rel = os.path.join("batchlog", f"seg-{len(segs) - 1}-{tag}.json")
            _atomic_write_json(os.path.join(self.vault_dir, rel), {"ids": ids})
            segs[-1] = {"path": rel, "n": len(ids)}
        else:
            rel = os.path.join("batchlog", f"seg-{len(segs)}-{tag}.json")
            _atomic_write_json(os.path.join(self.vault_dir, rel), {"ids": [batch_id]})
            segs.append({"path": rel, "n": 1})
        return segs

    def _check_rebase(
        self,
        base: Snapshot,
        head: Snapshot,
        *,
        replace_buckets: list[int] | None,
        replace_all: bool,
        new_n_buckets: int | None,
        delta: bool,
    ) -> None:
        """Decide whether a commit built against ``base`` may replay on top
        of ``head`` (concurrent commits landed in between). Raises
        CommitConflict when the write's CONTENT could be stale; otherwise
        the commit is order-independent and rebases by re-pointing refs:

        - delta appends: always safe — their rows are new source events
          whose LWW outcome depends only on (last_seq, commit ordinal), and
          the rebase re-stamps the ordinal above every intervening commit;
        - pure adds / COW replaces of buckets NO intervening commit
          touched: the replaced content is byte-identical either way;
        - anything whose inputs the interleaved commits may have changed
          (overlapping buckets, schema evolution, re-bucketing, full-table
          rewrites): conflict — recompute against the new head."""
        if replace_all or new_n_buckets is not None:
            raise CommitConflict(
                "full-table rewrite/re-bucketing cannot rebase onto "
                f"concurrent commits (base {base.snapshot_id} → head "
                f"{head.snapshot_id}); recompute against the new head"
            )
        if head.schema.schema_id != base.schema.schema_id:
            raise CommitConflict(
                "concurrent schema change "
                f"(schema {base.schema.schema_id} → {head.schema.schema_id})"
            )
        if head.n_buckets != base.n_buckets:
            raise CommitConflict("concurrent re-bucketing")
        if delta or not replace_buckets:
            return
        # a legacy inline snapshot carries no refs to diff
        changed = (
            None
            if base.is_legacy() or head.is_legacy()
            else changed_buckets(base.manifest_refs, head.manifest_refs)
        )
        if changed is None:
            raise CommitConflict(
                "concurrent bucket-less writes or a legacy inline snapshot — "
                "cannot prove disjointness"
            )
        overlap = set(replace_buckets) & changed
        if overlap:
            raise CommitConflict(
                f"concurrent writes to buckets {sorted(overlap)[:8]} — "
                "recompute the merge against the new head and retry"
            )

    def commit(
        self,
        *,
        add_write_dir: str | None,
        replace_buckets: list[int] | None,
        batch_id: str | None,
        manifest: dict[str, Any] | None = None,
        new_schema: TableSchema | None = None,
        summary: dict[str, Any] | None = None,
        replace_all: bool = False,
        new_n_buckets: int | None = None,
        delta: bool = False,
        eq_delete: bool = False,
        guard_buckets: list[int] | None = None,
        add_entries: list[dict[str, Any]] | None = None,
        max_conflict_retries: int = 10,
        base_snapshot_id: int | None = None,
    ) -> int:
        """Produce snapshot N+1 = (parent manifests minus replaced buckets)
        + one new manifest per bucket written under ``add_write_dir``;
        publish it with an OPTIMISTIC-CONCURRENCY compare-and-swap. Commit
        cost is O(affected buckets + live manifest refs), independent of
        table file count and batch history length — the snapshot JSON never
        re-serializes the full file list or batch history (measured flat in
        BENCH/BASELINE.md).

        Concurrency (Iceberg's optimistic protocol; CAS = atomic link of
        the immutable snapshot file, ``version.json`` demoted to a
        roll-forward hint, see ``current_snapshot_id``): every attempt's
        metadata files carry a unique nonce so two claimants of the same
        snapshot id never collide on disk; the CAS loser re-reads the head,
        REBASES when its content provably does not depend on the
        interleaved commits (disjoint-bucket COW replaces, pure adds, delta
        appends — the ordinal is re-stamped above the new head) and raises
        ``CommitConflict`` otherwise so the caller can recompute.
        Maintenance (``expire_snapshots`` / full-table ``compact``) remains
        one-operator-at-a-time by contract.

        Idempotent per ``batch_id``: if the batch is already in the head's
        batch log the commit is a no-op (returns current id).

        ``base_snapshot_id`` pins the snapshot the caller COMPUTED this
        write against (a long-running rewrite job may finish after other
        commits landed): the rebase check then compares against that
        snapshot even on the first attempt, so an interleaved commit to an
        overlapping bucket raises ``CommitConflict`` instead of being
        silently clobbered. Unpinned commits (the default) treat the head
        at entry as their base — correct when the write was derived from
        the current head moments before."""
        base: Snapshot | None = (
            self.snapshot(base_snapshot_id) if base_snapshot_id is not None else None
        )
        entries_cache: list[dict[str, Any]] | None = None
        for _attempt in range(max_conflict_retries + 1):
            parent = self.snapshot()
            if batch_id is not None and batch_id in parent.committed_batches:
                return parent.snapshot_id
            if base is None:
                base = parent
            elif parent.snapshot_id != base.snapshot_id:
                try:
                    # guard_buckets widens the conflict check WITHOUT
                    # replacing refs: an equality-delete commit adds files
                    # only, but its key set was derived from a predicate
                    # evaluated at the base snapshot — an interleaved write
                    # to the same buckets could add rows the predicate no
                    # longer matches, which the key-only delete would still
                    # kill. Conflict instead (same rule as a COW replace).
                    self._check_rebase(
                        base,
                        parent,
                        replace_buckets=(
                            replace_buckets
                            if replace_buckets is not None
                            else guard_buckets
                        ),
                        replace_all=replace_all,
                        new_n_buckets=new_n_buckets,
                        delta=delta and not guard_buckets,
                    )
                except CommitConflict:
                    self._drop_uncommitted_manifest(batch_id, manifest)
                    raise

            schema = new_schema or parent.schema
            schemas = dict(parent.schemas)
            if schema.schema_id not in schemas:
                schemas[schema.schema_id] = schema

            new_id = parent.snapshot_id + 1
            nonce = uuid.uuid4().hex[:8]
            tag = f"{self._attempt_token(new_id)}-{nonce}"
            os.makedirs(os.path.join(self.vault_dir, "filelists"), exist_ok=True)
            kept_refs = self._kept_refs(parent, replace_buckets, replace_all, tag)

            new_refs: list[dict[str, Any]] = []
            if add_entries is not None:
                # pre-registered entries (the stream writer computes stats
                # EXECUTOR-side at write time and lists exact paths, so a
                # retried task's orphan file in the same dir is never
                # picked up): stamp the flags here, ordinal below
                if entries_cache is None:
                    entries_cache = [dict(e) for e in add_entries]
                    for e in entries_cache:
                        e.setdefault("schema_id", schema.schema_id)
                        if delta:
                            e["delta"] = True
                        if eq_delete:
                            e["eq_delete"] = True
            if add_write_dir is not None or add_entries is not None:
                if entries_cache is None:
                    # footer stats harvested ONCE; only the ordinal differs
                    # between attempts
                    entries_cache = self._register_written_files(
                        add_write_dir, schema.schema_id, delta=delta, eq_delete=eq_delete
                    )
                for e in entries_cache:
                    # commit ordinal: the snapshot that added the file — the
                    # canonical LWW tiebreak on merge-on-read scans (later
                    # commit wins at equal last_seq, matching the write side)
                    e["ord"] = new_id
                new_refs = self._write_manifests(entries_cache, tag)
            new_entries = entries_cache if entries_cache is not None else []

            batch_log = self._append_batch_log(parent, batch_id, tag)
            refs = kept_refs + new_refs
            parent_nb = parent.n_buckets if parent.n_buckets is not None else self.table_meta["n_buckets"]
            snap = Snapshot(
                snapshot_id=new_id,
                parent_id=parent.snapshot_id,
                schema=schema,
                schemas=schemas,
                manifest_refs=refs,
                batch_log=batch_log,
                n_buckets=new_n_buckets if new_n_buckets is not None else parent_nb,
                summary={
                    **(summary or {}),
                    "added_files": len(new_entries),
                    "added_bytes": sum(f.get("bytes", 0) for f in new_entries),
                    # totals from ref metadata only — never loads file entries
                    "total_files": sum(r["n_files"] for r in refs),
                    "total_rows": sum(r["rows"] for r in refs),
                },
                vault_dir=self.vault_dir,
            )
            if batch_id is not None and manifest is not None:
                _atomic_write_json(
                    os.path.join(self.vault_dir, "manifests", f"{batch_id}.json"),
                    {**manifest, "snapshot_id": new_id},
                )
            # the ONLY visibility point: the atomic CLAIM of the snapshot
            # file is the commit — crash anywhere above leaves orphans only;
            # crash after it leaves a complete snapshot readers roll forward
            # to (version.json is just the hint that skips the roll-forward
            # walk).
            if _atomic_claim_json(self._snap_path(new_id), snap.to_json()):
                self._refresh_version_hint(new_id)
                return new_id
            # lost the race: drop this attempt's nonce'd metadata (best
            # effort — a crash here just leaves files expire() sweeps) and
            # rebase against the new head
            for r in refs + batch_log:
                if nonce in r["path"]:
                    try:
                        os.unlink(os.path.join(self.vault_dir, r["path"]))
                    except OSError:
                        pass
        self._drop_uncommitted_manifest(batch_id, manifest)
        raise CommitConflict(
            f"lost the snapshot CAS {max_conflict_retries + 1} times in a row"
        )

    def _drop_uncommitted_manifest(self, batch_id: str | None, manifest) -> None:
        """A conflicting commit attempt wrote its lineage manifest pre-CAS
        (so a crash can never leave a COMMITTED batch without lineage); if
        the batch never landed, drop that manifest on the way out — left
        behind it would claim the batch landed in another writer's snapshot.
        Batch ids have a single writer by contract (the engine's retry of a
        WAL chunk), so nobody else's manifest can live at this path."""
        if batch_id is None or manifest is None:
            return
        if batch_id in self.snapshot().committed_batches:
            return
        try:
            os.unlink(os.path.join(self.vault_dir, "manifests", f"{batch_id}.json"))
        except OSError:
            pass

    def _attempt_token(self, new_id: int) -> str:
        """Attempt id as encoded in staging-dir / metadata file names:
        ``<id>`` on main, ``<branch>.<id>`` on a branch — the namespace must
        travel with the id, or expire()'s "attempt above the current head ⇒
        possibly in-flight" guard would compare a branch-local id against
        MAIN's head and sweep a live branch writer's staging dir."""
        return f"{self.branch_name}.{new_id}" if self.branch_name else str(new_id)

    def new_write_dir(self, tag: str) -> str:
        """Unique staging dir for a snapshot attempt's data files."""
        d = os.path.join(
            self.data_dir,
            f"w-{self._attempt_token(self.current_snapshot_id() + 1)}-{tag}-{int(time.time_ns())}",
        )
        os.makedirs(d, exist_ok=True)
        return d

    # ---- maintenance (OPTIMIZE / VACUUM analogs) --------------------------

    def compact(
        self,
        target_file_rows: int = 2_000_000,
        n_buckets: int | None = None,
        buckets: list[int] | None = None,
        cluster_by: list[str] | None = None,
    ) -> int:
        """Bin-pack + CLUSTER data files into a new snapshot.

        Rows are range-partitioned on the cluster columns (the key columns
        by default — so each task holds a contiguous span) and still
        written ``partitionBy(__bucket)`` — every bucket therefore gets
        several files with TIGHT, mostly-disjoint min/max spans on those
        columns, which is what makes ``scan(key_range=...)`` prune
        effectively. Reference analog: ``OPTIMIZE`` + ``ZORDER``
        (``01:255-262``) as a maintenance job, not on the hot path.

        ``cluster_by`` re-clusters on ARBITRARY columns instead (e.g. an
        event-time column): the per-column manifest stats then make
        ``scan(column_ranges={col: (lo, hi)})`` skip whole files WITHIN a
        bucket — without clustering those stats still guarantee
        correctness but every file's span tends to straddle the predicate,
        so nothing prunes. Clustering is what turns the r5 data-skipping
        metadata into actual scan savings, exactly the Iceberg
        sort-order/Delta ZORDER play.

        ``buckets`` makes the compaction INCREMENTAL: only those buckets'
        files are read (their MOR deltas folded via the scan merge), rewritten
        and swapped via ``commit(replace_buckets=...)`` — the rest of the
        table is untouched metadata. This is the regular maintenance shape at
        scale (the reference's ``OPTIMIZE`` bin-packs only small files for
        the same reason): cost is O(selected buckets), never O(table). The
        full-table path (``buckets=None``) remains for explicit rebucketing
        and global re-clustering.

        ``n_buckets`` re-buckets the table (COW write-amplification lever: a
        table that grew 100× wants proportionally more buckets so a batch
        rewrites a smaller fraction). Re-bucketing moves rows ACROSS buckets,
        so it requires the full-table path (``buckets`` must be None). The
        new count is recorded IN the committed snapshot — atomic with the
        data; bucket-scoped reads of PRE-rebucket snapshots are no longer
        meaningful (full scans of them still are)."""
        snap = self.snapshot()
        cluster_cols = list(cluster_by) if cluster_by else list(self.key_cols)
        unknown = sorted(set(cluster_cols) - set(snap.schema.names()))
        if unknown:
            # validate BEFORE the empty-table early return: a typo'd
            # maintenance job must fail on its first run, not once the
            # table first has data
            raise ValueError(
                f"cluster_by refers to columns not in the current schema: {unknown}"
            )
        if not snap.files:
            return snap.snapshot_id
        if buckets is not None:
            if n_buckets is not None and n_buckets != self.n_buckets:
                raise ValueError(
                    "re-bucketing moves rows across buckets — it requires a "
                    "full-table compact (buckets=None)"
                )
            bset = sorted(set(buckets))
            sel = [f for f in snap.files if f["bucket"] in set(bset)]
            if not sel:
                return snap.snapshot_id
            # pinned scan folds these buckets' deltas (LWW)
            df = self.scan(snapshot_id=snap.snapshot_id, buckets=bset)
            return self._rewrite_buckets(
                df,
                bset,
                sum(f["rows"] for f in sel),
                "compact",
                {
                    "operation": "compact",
                    "buckets": bset,
                    "cluster_by": cluster_cols,
                },
                base_snapshot_id=snap.snapshot_id,
                target_file_rows=target_file_rows,
                sort_cols=cluster_cols,
            )
        nb = n_buckets if n_buckets is not None else self.n_buckets
        bucket = F.pmod(F.hash(*[F.col(k) for k in self.key_cols]), F.lit(nb))
        df = self.scan(snapshot_id=snap.snapshot_id)
        n_out = max(1, int(sum(f["rows"] for f in snap.files) // target_file_rows + 1))
        wd = self.new_write_dir("compact")
        (
            df.withColumn("__bucket", bucket)
            .repartitionByRange(n_out, *cluster_cols)
            .sortWithinPartitions(*cluster_cols)
            .write.mode("overwrite")
            .options(**self.data_write_options())
            .partitionBy("__bucket")
            .parquet(wd)
        )
        return self.commit(
            add_write_dir=wd,
            replace_buckets=None,
            batch_id=None,
            replace_all=True,
            summary={"operation": "compact", "cluster_by": cluster_cols},
            base_snapshot_id=snap.snapshot_id,
            new_n_buckets=nb,
        )

    def _rewrite_buckets(
        self,
        df: DataFrame,
        buckets: list[int],
        approx_rows: int,
        tag: str,
        summary: dict[str, Any],
        *,
        base_snapshot_id: int,
        target_file_rows: int,
        sort_cols: list[str] | None = None,
    ) -> int:
        """Shared bucket-scoped COW rewrite (compact/delete/update): write
        ``df`` range-partitioned + sorted on ``sort_cols`` (key columns by
        default, keeping point-lookup spans tight), then commit it as a
        replacement of ``buckets`` PINNED to the snapshot the caller
        computed against — a commit that interleaved with the rewrite job
        raises ``CommitConflict`` instead of being clobbered."""
        cols = sort_cols if sort_cols is not None else list(self.key_cols)
        n_out = max(1, int(approx_rows // target_file_rows + 1))
        wd = self.new_write_dir(tag)
        (
            df.withColumn("__bucket", self.bucket_expr())
            .repartitionByRange(n_out, *cols)
            .sortWithinPartitions(*cols)
            .write.mode("overwrite")
            .options(**self.data_write_options())
            .partitionBy("__bucket")
            .parquet(wd)
        )
        return self.commit(
            add_write_dir=wd,
            replace_buckets=buckets,
            batch_id=None,
            summary=summary,
            base_snapshot_id=base_snapshot_id,
        )

    def _dml_snapshot(self) -> Snapshot:
        """Pinned snapshot for a predicate-DML run, with the bucket-less
        legacy guard: a ``bucket=None`` manifest entry can't be scoped by
        ``replace_buckets``, so a DML that ignored it would report success
        while matching rows in that file silently survive."""
        snap = self.snapshot()
        if any(r["bucket"] is None for r in snap.manifest_refs):
            raise ValueError(
                "table has bucket-less (legacy) file entries — run compact() "
                "to migrate them into buckets before predicate DML"
            )
        return snap

    def _affected_buckets(
        self,
        snapshot_id: int,
        pred: F.Column,
        column_ranges: dict[str, tuple[Any, Any]] | None,
    ) -> list[int]:
        """Buckets containing at least one row where ``pred`` IS TRUE — one
        probe job over the (optionally stats-pruned) pinned snapshot
        projecting only the bucket hash, so Parquet reads just the key +
        predicate columns."""
        probe = self.scan(snapshot_id=snapshot_id, column_ranges=column_ranges).where(pred)
        return sorted(
            r["__b"]
            for r in probe.select(self.bucket_expr().alias("__b")).distinct().collect()
        )

    def delete(
        self,
        where: str | F.Column,
        column_ranges: dict[str, tuple[Any, Any]] | None = None,
        target_file_rows: int = 2_000_000,
        mode: str = "cow",
    ) -> int:
        """Predicate DELETE (row-level DML): remove every row where the
        predicate is TRUE by COW-rewriting ONLY the buckets that contain
        matches; all other buckets carry into the new snapshot by manifest
        reference. SQL semantics: rows where the predicate evaluates to
        NULL are KEPT.

        Reference analog: the Bronze retention step *intends* an
        age-predicate delete but ships only a VACUUM
        (``01_ingest_raw_logs.py:285-304``); this is that maintenance
        operation (retention sweeps, GDPR erasure) as a table primitive.
        Per-KEY deletes on the hot path belong to the CDC replay (delete
        ops → LWW tombstones), not here.

        Scale shape (100 TB): the probe is one scan projecting only the
        bucket hash (column-pruned to key + predicate columns, file-pruned
        further by ``column_ranges`` manifest stats when the caller passes
        the predicate's span); the rewrite reads only affected buckets and
        their MOR deltas fold in the process. Rewritten buckets are
        re-range-partitioned on the key columns so point-lookup pruning
        stays tight. ``rows_deleted`` is exact when the affected buckets
        carried no deltas (manifest row totals), else reported as an upper
        bound (pre-fold delta rows double-count).

        ``mode="mor"`` writes EQUALITY-DELETE files instead of rewriting
        (Iceberg v2 merge-on-read DELETE): one job projects just the
        matched KEYS, written per-bucket and committed as ``eq_delete``
        manifest entries; no data file is touched. Scans remove every row
        of a deleted key with a smaller commit ordinal (so a later
        re-insert of the key survives), ``scan_changes`` emits the deletes,
        and ``compact()`` folds the delete files away. Cost is O(matched
        keys) — the GDPR-erasure shape for a 100 TB table where COW
        rewrites of hot buckets are too expensive per request; the deletes
        amortize into the next compaction. Trade-offs while delete files
        are live: scans pay one extra equi-join, and value-based file
        skipping (column stats / blooms) is disabled like under MOR deltas.
        A concurrent write to an affected bucket raises ``CommitConflict``
        (the key set was derived from a predicate evaluated at this
        snapshot)."""
        if mode not in ("cow", "mor"):
            raise ValueError(f"delete: unknown mode {mode!r} (use 'cow' or 'mor')")
        pred = F.expr(where) if isinstance(where, str) else where
        snap = self._dml_snapshot()
        affected = self._affected_buckets(snap.snapshot_id, pred, column_ranges)
        if not affected:
            return snap.snapshot_id
        if mode == "mor":
            keys = list(self.key_cols)
            matched = (
                self.scan(snapshot_id=snap.snapshot_id, buckets=affected)
                .where(F.coalesce(pred, F.lit(False)))
                .select(*keys)
            )
            wd = self.new_write_dir("eqdelete")
            (
                matched.withColumn("__bucket", self.bucket_expr())
                .repartition(max(1, min(len(affected), 32)), "__bucket")
                .write.mode("overwrite")
                .partitionBy("__bucket")
                .parquet(wd)
            )
            return self.commit(
                add_write_dir=wd,
                replace_buckets=None,
                batch_id=None,
                delta=True,
                eq_delete=True,
                guard_buckets=affected,
                base_snapshot_id=snap.snapshot_id,
                summary={
                    "operation": "delete",
                    "mode": "mor",
                    "predicate": str(where),
                    "buckets": affected,
                },
            )
        bset = set(affected)
        touched = [f for f in snap.files if f["bucket"] in bset]
        before_rows = sum(f["rows"] for f in touched)
        had_deltas = any(f.get("delta") for f in touched)
        kept = self.scan(snapshot_id=snap.snapshot_id, buckets=affected).where(
            ~F.coalesce(pred, F.lit(False))
        )
        return self._rewrite_buckets(
            kept,
            affected,
            before_rows,
            "delete",
            {
                "operation": "delete",
                "predicate": str(where),
                "buckets": affected,
                # deleted count = rows_before − sum(refs.rows over these
                # buckets) of the committed snapshot, metadata-only; exact
                # unless the buckets carried deltas (pre-fold double count)
                "rows_before": before_rows,
                "rows_before_exact": not had_deltas,
            },
            base_snapshot_id=snap.snapshot_id,
            target_file_rows=target_file_rows,
        )

    def update(
        self,
        set_exprs: dict[str, str | F.Column],
        where: str | F.Column,
        column_ranges: dict[str, tuple[Any, Any]] | None = None,
        target_file_rows: int = 2_000_000,
        mode: str = "cow",
    ) -> int:
        """Predicate UPDATE (row-level DML): for every row where the
        predicate is TRUE, replace each ``set_exprs`` column with its
        expression — evaluated against the ORIGINAL row (standard SQL
        UPDATE semantics, even when one assigned column references
        another). Values are cast to the column's existing type, so the
        table schema never drifts. Only buckets containing matches are
        COW-rewritten; the rest carry by manifest reference (same probe +
        rewrite shape as ``delete`` — see its scale notes).

        ``mode="mor"`` DELTA-APPENDS the updated rows instead of rewriting:
        an updated row keeps its ``last_seq`` but lands under a HIGHER
        commit ordinal, so the read-side LWW fold's canonical order
        ``(last_seq, ordinal)`` makes it win over the base row — the same
        "batch beats table at equal seq" rule the CDC merge uses, no new
        machinery. Cost is O(matched rows); the superseded base rows
        amortize into the next compaction. A concurrent write to an
        affected bucket raises ``CommitConflict`` (the new values were
        computed from rows read at this snapshot)."""
        if mode not in ("cow", "mor"):
            raise ValueError(f"update: unknown mode {mode!r} (use 'cow' or 'mor')")
        pred = F.expr(where) if isinstance(where, str) else where
        if mode == "mor" and "last_seq" not in self.snapshot().schema.names():
            raise ValueError(
                "update(mode='mor') delta-appends updated rows, which the "
                "read-side LWW fold resolves by (last_seq, commit ordinal) — "
                "this table has no last_seq column; use mode='cow'"
            )
        if not set_exprs:
            raise ValueError("update requires at least one column assignment")
        snap = self._dml_snapshot()
        unknown = sorted(set(set_exprs) - set(snap.schema.names()))
        if unknown:
            raise ValueError(
                f"update targets columns not in the current schema: {unknown}"
            )
        if set(set_exprs) & set(self.key_cols):
            raise ValueError(
                "update cannot reassign key columns (that is a delete + "
                f"insert of a different identity): {sorted(set(set_exprs) & set(self.key_cols))}"
            )
        affected = self._affected_buckets(snap.snapshot_id, pred, column_ranges)
        if not affected:
            return snap.snapshot_id
        bset = set(affected)
        touched = [f for f in snap.files if f["bucket"] in bset]
        base = self.scan(snapshot_id=snap.snapshot_id, buckets=affected)
        # stage: match flag + new values computed while every ORIGINAL
        # column is still in scope (a single final select would let an
        # assigned name lateral-bind to its own replacement)
        staged = base.withColumn("__m", F.coalesce(pred, F.lit(False)))
        types = {f.name: f.dataType for f in base.schema.fields}
        for c, e in set_exprs.items():
            expr = F.expr(e) if isinstance(e, str) else e
            staged = staged.withColumn(f"__new_{c}", expr.cast(types[c]))
        if mode == "mor":
            # only the MATCHED rows, with assignments applied — appended as
            # a delta whose higher ordinal out-ranks the base rows at equal
            # last_seq in the scan-side LWW fold
            upd = staged.where(F.col("__m")).select(
                *[
                    F.col(f"__new_{c}").alias(c) if c in set_exprs else F.col(c)
                    for c in base.columns
                ]
            )
            wd = self.new_write_dir("morupdate")
            (
                upd.withColumn("__bucket", self.bucket_expr())
                .repartition(max(1, min(len(affected), 32)), "__bucket")
                .write.mode("overwrite")
                .partitionBy("__bucket")
                .parquet(wd)
            )
            return self.commit(
                add_write_dir=wd,
                replace_buckets=None,
                batch_id=None,
                delta=True,
                guard_buckets=affected,
                base_snapshot_id=snap.snapshot_id,
                summary={
                    "operation": "update",
                    "mode": "mor",
                    "predicate": str(where),
                    "set": sorted(set_exprs),
                    "buckets": affected,
                },
            )
        out = staged.select(
            *[
                F.when(F.col("__m"), F.col(f"__new_{c}")).otherwise(F.col(c)).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in base.columns
            ]
        )
        return self._rewrite_buckets(
            out,
            affected,
            sum(f["rows"] for f in touched),
            "update",
            {
                "operation": "update",
                "predicate": str(where),
                "set": sorted(set_exprs),
                "buckets": affected,
            },
            base_snapshot_id=snap.snapshot_id,
            target_file_rows=target_file_rows,
        )

    def merge(
        self,
        source: DataFrame,
        *,
        when_matched_update: dict[str, str | F.Column] | str | None = "source",
        when_matched_delete: str | F.Column | None = None,
        when_not_matched_insert: bool = True,
        target_file_rows: int = 2_000_000,
    ) -> int:
        """MERGE INTO (Delta's flagship DML, the third row-level primitive
        next to ``delete``/``update``): join ``source`` to the table on the
        KEY columns and, per row:

        - matched + ``when_matched_delete`` condition TRUE → row removed
          (clause precedence: delete wins over update, Delta's first-match
          rule with the delete clause listed first);
        - matched (otherwise) → columns replaced per ``when_matched_update``
          — the sentinel ``"source"`` (default) assigns every shared
          non-key column from the source row; a dict maps target column →
          expression over ``t.<col>`` (target) and ``s.<col>`` (source);
          ``None`` leaves matched rows unchanged;
        - unmatched source row + ``when_not_matched_insert`` → inserted,
          each table column taken from the source when present else typed
          null, all cast to the table schema (never drifts it).

        The join is key-equality by design: it is what makes the bucket
        scoping exact, so only buckets CONTAINING SOURCE KEYS are
        COW-rewritten (probe = one map-side aggregation of the source's
        bucket hashes — O(n_buckets) rows to the driver) and every other
        bucket carries into the new snapshot by manifest reference. MOR
        deltas in rewritten buckets fold in the process. At 100 TB the cost
        is O(source + touched buckets), the same shape as the CDC replay's
        write-side merge.

        Multiple source rows per key raise (ambiguous merge — SQL MERGE's
        cardinality violation), checked in the same probe aggregation at no
        extra pass. Expressions referencing source columns must qualify
        them (``s.col``); unqualified names resolve to the target.

        Reference analog: the Silver upsert the reference approximates with
        full-partition overwrite (``02_enrich_events.py:69-74,146``) —
        here it touches only the buckets the source hits."""
        snap = self._dml_snapshot()
        keys = list(self.key_cols)
        missing = [k for k in keys if k not in source.columns]
        if missing:
            raise ValueError(f"merge source lacks key columns: {missing}")
        # Key TYPES must match the table before anything hashes: the probe's
        # bucket_expr hashes the source dtype, and murmur3(int 5) !=
        # murmur3(long 5) — a mistyped key silently lands new files in
        # buckets OUTSIDE replace_buckets (duplicate keys after commit).
        # Lossless widenings are cast up front; anything else raises.
        by_name = {c["name"]: c for c in snap.schema.columns}
        src_types = {f.name: f.dataType.simpleString() for f in source.schema.fields}
        for k in keys:
            want_logical = by_name[k]["type"]
            want = SPARK_TYPE.get(want_logical, want_logical)
            have = src_types[k]
            if have == want:
                continue
            have_logical = {v: lg for lg, v in SPARK_TYPE.items()}.get(have, have)
            if (have_logical, want_logical) in TYPE_PROMOTIONS:
                source = source.withColumn(k, F.col(k).cast(want))
            else:
                raise ValueError(
                    f"merge source key column {k!r} is {have}, table expects "
                    f"{want} — a mistyped key hashes to the wrong bucket; "
                    "cast the source explicitly"
                )
        names = snap.schema.names()
        if isinstance(when_matched_update, str):
            if when_matched_update != "source":
                raise ValueError(
                    "when_matched_update must be a dict, None, or the "
                    f"sentinel 'source' (got {when_matched_update!r})"
                )
            when_matched_update = {
                c: f"s.{c}" for c in source.columns if c in names and c not in keys
            }
        if when_matched_update:
            unknown = sorted(set(when_matched_update) - set(names))
            if unknown:
                raise ValueError(
                    f"merge assigns columns not in the current schema: {unknown}"
                )
            bad = sorted(set(when_matched_update) & set(keys))
            if bad:
                raise ValueError(
                    f"merge cannot reassign key columns: {bad} (a key change "
                    "is a delete + insert of a different identity)"
                )
        # ONE probe pass over the source: per-bucket row count AND key
        # cardinality — affected buckets and the duplicate-key check from
        # the same map-side-combined aggregation (O(n_buckets) driver rows).
        null_key = None
        for k in keys:
            e = F.col(k).isNull()
            null_key = e if null_key is None else (null_key | e)
        probe = (
            source.select(*keys, self.bucket_expr().alias("__b"), null_key.alias("__nk"))
            .groupBy("__b")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("__nk").cast("long")).alias("nn"),
                F.countDistinct(*keys).alias("d"),
            )
            .collect()
        )
        if any(r["nn"] for r in probe):
            raise ValueError(
                "merge source has rows with null key columns — a null key "
                "never matches and cannot identify an insert; filter them out"
            )
        if any(r["n"] != r["d"] for r in probe):
            raise ValueError(
                "merge source has multiple rows per key (SQL MERGE "
                "cardinality violation) — deduplicate the source first"
            )
        affected = sorted(int(r["__b"]) for r in probe)
        if not affected:
            return snap.snapshot_id
        src_rows = sum(r["n"] for r in probe)
        bset = set(affected)
        touched = [f for f in snap.files if f["bucket"] in bset]

        tgt = self.scan(snapshot_id=snap.snapshot_id, buckets=affected)
        types = {f.name: f.dataType for f in tgt.schema.fields}
        t = tgt.withColumn("__t", F.lit(1)).alias("t")
        s = source.withColumn("__s", F.lit(1)).alias("s")
        cond = None
        for k in keys:
            c = F.col(f"t.{k}") == F.col(f"s.{k}")
            cond = c if cond is None else (cond & c)
        j = t.join(s, cond, "full_outer")
        matched = F.col("__t").isNotNull() & F.col("__s").isNotNull()
        if when_matched_delete is not None:
            del_cond = (
                F.expr(when_matched_delete)
                if isinstance(when_matched_delete, str)
                else when_matched_delete
            )
            j = j.where(~(matched & F.coalesce(del_cond, F.lit(False))))
        upd = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in (when_matched_update or {}).items()
        }
        if not when_not_matched_insert:
            j = j.where(F.col("__t").isNotNull())
        sel = []
        for c in names:
            t_c = F.col(f"t.{c}")
            s_c = (
                F.col(f"s.{c}") if c in source.columns
                else F.lit(None)
            ).cast(types[c])
            ins = s_c  # unmatched source row: insert image
            mat = upd[c].cast(types[c]) if c in upd else t_c
            if c in keys:
                sel.append(F.coalesce(t_c, F.col(f"s.{c}").cast(types[c])).alias(c))
            else:
                sel.append(
                    F.when(matched, mat)
                    .when(F.col("__t").isNotNull(), t_c)
                    .otherwise(ins)
                    .alias(c)
                )
        out = j.select(*sel)
        return self._rewrite_buckets(
            out,
            affected,
            sum(f["rows"] for f in touched) + src_rows,
            "merge",
            {
                "operation": "merge",
                "buckets": affected,
                "source_rows": int(src_rows),
                "matched_update": sorted(upd) if upd else [],
                "matched_delete": when_matched_delete is not None,
                "not_matched_insert": bool(when_not_matched_insert),
            },
            base_snapshot_id=snap.snapshot_id,
            target_file_rows=target_file_rows,
        )

    def restore(self, snapshot_id: int) -> int:
        """Roll the table back to a prior snapshot's CONTENT by committing a
        NEW snapshot that carries that snapshot's manifest refs, schema and
        bucket count (Delta's ``RESTORE TABLE ... TO VERSION`` — the
        forward-rolling repair for a bad write). History is untouched: the
        pointer never rewinds, time travel still sees the bad commits, and
        ``expire_snapshots`` eventually GCs them (the restored refs are now
        referenced by the head, so their manifests/files stay live). The
        batch log is NOT restored — exactly-once ids are facts about which
        batches were ever ingested, not table content; a replayed batch
        stays a no-op after a restore.

        Requires the target snapshot to still be within retention (its
        manifests must exist). Restore is a full-table maintenance
        operation: a commit that interleaves with it raises
        ``CommitConflict`` here via the snapshot-claim CAS rather than
        being silently clobbered."""
        cur = self.snapshot()
        if snapshot_id == cur.snapshot_id:
            return cur.snapshot_id
        old = self.snapshot(snapshot_id)  # FileNotFoundError if expired
        if old.is_legacy() or cur.is_legacy():
            # a legacy inline snapshot keeps files/batches IN the JSON —
            # carrying its (empty) refs/batch_log would publish an empty
            # table and drop the exactly-once ids; any commit migrates
            raise ValueError(
                "restore needs manifest-format snapshots on both sides — "
                "run any commit (e.g. compact()) to migrate the legacy "
                "inline snapshot first"
            )
        # fail fast if the old refs were already GC'd (shouldn't happen for
        # a listed snapshot, but a clear error beats a broken head)
        for r in old.manifest_refs:
            if not os.path.exists(os.path.join(self.vault_dir, r["path"])):
                raise ValueError(
                    f"snapshot {snapshot_id} is no longer restorable: "
                    f"manifest {r['path']} was expired"
                )
        schemas = dict(cur.schemas)
        schemas.setdefault(old.schema.schema_id, old.schema)
        refs = list(old.manifest_refs)
        new_id = cur.snapshot_id + 1
        snap = Snapshot(
            snapshot_id=new_id,
            parent_id=cur.snapshot_id,
            schema=old.schema,
            schemas=schemas,
            manifest_refs=refs,
            batch_log=list(cur.batch_log),
            n_buckets=old.n_buckets,
            summary={
                "operation": "restore",
                "restored_from": snapshot_id,
                "added_files": 0,
                "added_bytes": 0,
                "total_files": sum(r["n_files"] for r in refs),
                "total_rows": sum(r["rows"] for r in refs),
            },
            vault_dir=self.vault_dir,
        )
        if not _atomic_claim_json(self._snap_path(new_id), snap.to_json()):
            raise CommitConflict(
                "a concurrent commit interleaved with restore — re-check the "
                "head and retry if rolling back is still intended"
            )
        self._refresh_version_hint(new_id)
        return new_id

    def expire_snapshots(
        self, keep_last: int = 3, orphan_grace_sec: float = 300.0
    ) -> list[int]:
        """Delete snapshot metadata + unreferenced data files older than the
        last ``keep_last`` snapshots (VACUUM analog — never retain-0: the
        current snapshot and its files are always kept).

        CONCURRENCY CONTRACT: commits are optimistically concurrent (CAS +
        rebase, see ``commit``), but MAINTENANCE is one-operator-at-a-time:
        expire() must not run concurrently with another expire(), and any
        in-flight writer's BASE snapshot must be within the retained window
        (a writer rebasing across expired metadata would load deleted
        manifests). The orphan sweep's attempt-id test alone is not
        airtight even then — a writer that computed its attempt id before
        an interleaving commit published would look dead — so staging dirs
        touched within ``orphan_grace_sec`` are additionally skipped (belt
        and braces; a genuinely dead dir is swept by the NEXT expire once
        the grace elapses). Pass 0 only when no writer can possibly be in
        flight.

        TWO-PASS by necessity: expired snapshots routinely SHARE carried
        manifests with each other (a delta commit carries its parent's refs;
        a later compact drops them), so deletion must happen strictly after
        every expired snapshot's file list has been enumerated — deleting
        while walking breaks later ``.files`` loads mid-expiry and leaks the
        data files the broken snapshot referenced."""
        if self.branch_name:
            raise ValueError(
                "expire_snapshots runs on the main handle only (it reasons "
                "over GLOBAL file liveness; branch lifecycle is "
                "create/publish/drop)"
            )
        ids = self.snapshot_ids()
        head = self.current_snapshot_id()
        # catch the hint up to the head BEFORE deleting anything: a stale
        # hint (a writer crashed between its CAS and the hint refresh) below
        # the retained window would leave roll-forward facing a hole
        self._refresh_version_hint(head)
        keep = set(ids[-keep_last:]) | {head}
        # named refs pin snapshots past the keep_last window: every tagged
        # snapshot, and every live branch's FORK-POINT snapshot (the branch
        # head resolves against it until the branch's first commit, and its
        # roll-forward starts there)
        keep.update(s for s in self.tags().values() if s in ids)
        for bname in self.branches():
            try:
                fork = self.branch(bname)._branch_meta["forked_at"]
            except (OSError, KeyError, ValueError):
                continue
            if fork in ids:
                keep.add(fork)
        expired_ids = [sid for sid in ids if sid not in keep]
        # pass 1: enumerate everything while all manifests still exist
        live_files: set[str] = set()
        live_manifests: set[str] = set()
        live_segs: set[str] = set()
        for sid in keep:
            snap = self.snapshot(sid)
            live_manifests.update(r["path"] for r in snap.manifest_refs)
            live_segs.update(s["path"] for s in snap.batch_log)
            live_files.update(f["path"] for f in snap.files)
        # every snapshot of every live branch is a retained ref too: its
        # manifests/segments/files must survive main's GC (branch metadata
        # itself is never deleted here — drop_branch owns that)
        for bname in self.branches():
            b = self.branch(bname)
            for bsid in self._list_snap_ids(os.path.join(b._ns_dir, "snapshots")):
                snap = b.snapshot(bsid)
                live_manifests.update(r["path"] for r in snap.manifest_refs)
                live_segs.update(s["path"] for s in snap.batch_log)
                live_files.update(f["path"] for f in snap.files)
        dead_files: set[str] = set()
        dead_manifests: set[str] = set()
        for sid in expired_ids:
            snap = self.snapshot(sid)
            dead_manifests.update(r["path"] for r in snap.manifest_refs)
            if snap.is_legacy():
                dead_files.update(f["path"] for f in snap.files)
                continue
            for ref in snap.manifest_refs:
                try:
                    with open(os.path.join(self.vault_dir, ref["path"])) as f:
                        dead_files.update(e["path"] for e in json.load(f)["files"])
                except FileNotFoundError:
                    # a PRIOR crashed expiry already deleted this manifest.
                    # Deletion order is data files → manifests → snapshots,
                    # so that run had finished the ENTIRE data-file pass
                    # before touching any manifest — nothing this manifest
                    # listed can still be leaked; re-runs just carry on.
                    continue
        # pass 2: data files, then manifests, then snapshot JSONs — so a
        # crash mid-expiry leaves reruns able to re-enumerate what's left
        for rel in sorted(dead_files - live_files):
            p = os.path.join(self.root, rel)
            if os.path.exists(p):
                os.remove(p)
        for rel in sorted(dead_manifests - live_manifests):
            p = os.path.join(self.vault_dir, rel)
            if os.path.exists(p):
                os.remove(p)
        for sid in expired_ids:
            if os.path.exists(self._snap_path(sid)):
                os.remove(self._snap_path(sid))
        cur = self.current_snapshot_id()
        # metadata GC: batch-log segments and filelists NO retained snapshot
        # references — superseded tails of the immutable batch log, plus
        # leftovers of CAS-losing commit attempts that crashed before their
        # own cleanup. Same safety rails as the staging-dir sweep below: a
        # file whose encoded attempt id is above the current head may belong
        # to an in-flight claimant (never touched), and anything younger
        # than the grace window is skipped until it has verifiably gone
        # quiet.
        live_meta = live_manifests | live_segs
        # attempt-token liveness, namespace-aware: '<id>' compares against
        # MAIN's head; '<branch>.<id>' against that branch's head (a live
        # branch writer stages for branch_head+1, which can be far below
        # main's numbering — comparing it to main would sweep an in-flight
        # write). A dropped branch has no head: nothing of its can be
        # in-flight beyond the grace window.
        branch_heads = {b: self.branch(b).current_snapshot_id() for b in self.branches()}

        def _maybe_inflight(token: str) -> bool | None:
            """True: possibly in-flight (never sweep). False: dead attempt.
            None: unparseable (caller's legacy policy applies)."""
            name, dot, att = token.partition(".")
            try:
                if dot:
                    head = branch_heads.get(name)
                    return head is not None and int(att) > head
                return int(token) > cur
            except ValueError:
                return None

        for sub in ("batchlog", "filelists"):
            d = os.path.join(self.vault_dir, sub)
            if not os.path.isdir(d):
                continue
            for fn in os.listdir(d):
                rel = os.path.join(sub, fn)
                if rel in live_meta or not fn.endswith(".json"):
                    continue
                parts = fn[: -len(".json")].split("-")
                if fn.startswith("seg-"):
                    # seg-<idx>-<token>-<nonce>; legacy seg-<idx> has no
                    # attempt token (grace window alone applies)
                    token = parts[2] if len(parts) >= 3 else ""
                else:
                    # fl-<token>-... (nonce'd and legacy alike)
                    token = parts[1] if len(parts) >= 2 else ""
                if _maybe_inflight(token):
                    continue
                full = os.path.join(d, fn)
                try:
                    if (time.time() - os.path.getmtime(full)) < orphan_grace_sec:
                        continue
                    os.remove(full)
                except OSError:
                    continue
        # crash temps: a writer SIGKILLed inside an atomic write/claim leaves
        # its temp file behind (``.claim-*`` in snapshots/, ``*.tmp.*``
        # anywhere) — referenced by nothing, swept once past the grace
        temp_dirs = ["", "snapshots", "batchlog", "filelists", "manifests"] + [
            os.path.join("branches", b, "snapshots") for b in self.branches()
        ]
        for sub in temp_dirs:
            d = os.path.join(self.vault_dir, sub)
            if not os.path.isdir(d):
                continue
            for fn in os.listdir(d):
                if not (fn.startswith(".claim-") or ".tmp." in fn):
                    continue
                full = os.path.join(d, fn)
                try:
                    if (time.time() - os.path.getmtime(full)) < orphan_grace_sec:
                        continue
                    os.remove(full)
                except OSError:
                    continue
        # orphan GC: a crash between the data-phase write and commit() leaves
        # a parquet-bearing staging dir referenced by NO snapshot, forever.
        # Sweep dirs whose commit attempt is dead (encoded attempt id ≤ the
        # current snapshot id — an in-flight writer stages for current+1, so
        # it is never touched) and whose files no retained snapshot lists.
        for d in os.listdir(self.data_dir):
            full = os.path.join(self.data_dir, d)
            if not os.path.isdir(full):
                continue
            parts = d.split("-")
            inflight = _maybe_inflight(parts[1]) if len(parts) >= 2 else None
            if inflight is None or inflight:
                # possible in-flight writer (stages for its namespace's
                # head+1) or a dir this engine didn't name: never touched —
                # not even when it currently holds no parquet (the window
                # between new_write_dir() and the first task commit)
                continue
            try:
                recent = (time.time() - os.path.getmtime(full)) < orphan_grace_sec
            except OSError:
                recent = True  # racing a concurrent rmtree/commit: skip
            if recent:
                # grace window: a writer that computed its attempt id just
                # before an interleaving commit would fail the attempt-id
                # test while still writing — mtime keeps it safe until it
                # has verifiably gone quiet
                continue
            parquet = [
                os.path.relpath(os.path.join(dp, fn), self.root)
                for dp, _dn, fns in os.walk(full)
                for fn in fns
                if fn.endswith(".parquet")
            ]
            if not parquet or not any(p in live_files for p in parquet):
                shutil.rmtree(full, ignore_errors=True)
        return expired_ids
