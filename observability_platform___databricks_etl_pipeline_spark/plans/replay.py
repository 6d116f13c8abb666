"""CDC replay engine: WAL chunks → transform → LWW dedup → COW MERGE commit.

The end-to-end lifecycle the reference spreads over three notebooks + a job
DAG (``jobs/hourly_etl.json:11-107``: ingest→enrich→aggregate) collapsed into
one deterministic micro-batch loop with exactly-once semantics the reference
lacks (its ``batch_id = datetime.now()`` + blind ``mode("append")`` duplicates
data on rerun — ``01_ingest_raw_logs.py:178,213-218``).

Per-batch plan — exactly TWO Spark jobs, ONE data shuffle:

job 1 (control plane, narrow scan — no content column decoded):
  - collect schema-evolution events (chunk-aligned barrier, seq order) and
    the malformed-row trickle (quarantined via a driver-side pyarrow write,
    full scan-free; reference analog: corrupt-record counting
    ``01:132-152`` — but kept, not dropped)
  - ``df.observe`` rides the same pass: row counts, quarantine counts,
    per-WAL-partition offset high-water marks, and the affected-COW-bucket
    set (collect_set) — zero dedicated stats jobs, vs the reference's
    count()-after-every-stage storm (``02:76-362``)

job 2 (data plane):
  - union: batch events ∪ existing rows of ONLY the affected buckets
    (manifest file pruning — no filesystem listing)
  - ONE aggregation: ``max_by(payload, (last_seq, src, content))`` per
    (repo, path) — the composition of dedup-by-(repo,path,commit), LWW and
    table merge in one pass over raw rows repartitioned on the key first (no
    map-side collapse: a hot repo spreads over its paths, but every event of
    one hot (repo, path) sorts on one reducer)                     [1 shuffle]
  - fused vectorized transform (classify + sanitize + lang-infer: one
    struct-returning Arrow pandas UDF, one JVM↔Python round trip; sha256 via
    native ``F.sha2``), applied only where the batch won
  - merge action counts + dedup accounting ride the bucket write via a
    second ``df.observe``; write replaced buckets   [1 write repartition]

then the atomic commit: manifest → snapshot → version-pointer ``os.replace``.
Schema-evolution note: schema ops act as chunk-aligned barriers (applied
before the chunk's data events); exact intra-chunk ordering would require
splitting the chunk at schema-event seqs — deliberately out of scope, and
the test oracle (tests/oracle.py) implements the same declared semantics.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from observability_platform___databricks_etl_pipeline_spark.functions.hashing import content_sha256
from observability_platform___databricks_etl_pipeline_spark.functions.transform import transform_udf
from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import (
    LakeVault,
    TableSchema,
    _atomic_write_json,
)
from observability_platform___databricks_etl_pipeline_spark.sources.wal import (
    N_WAL_PARTITIONS,
    list_chunks,
    read_chunk,
    wal_partition,
)

# canonical final-state columns (FIXTURES.md §1 + engine-managed)
BASE_COLUMNS: list[tuple[str, str]] = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
    ("content_sha256", "string"),
    ("last_seq", "long"),
    ("is_deleted", "boolean"),
]
SCHEMA_OPS = ("add_column", "rename_column", "promote_type", "drop_column")
_TIMING = os.environ.get("CDC_TIMING", "") == "1"


@dataclass
class BatchMetrics:
    batch_id: str
    chunk: int
    rows_read: int = 0
    quarantined: int = 0
    schema_ops: int = 0
    schema_ops_invalid: int = 0  # counted within schema_ops; applied = schema_ops - invalid
    deduped: int = 0  # batch rows collapsed by LWW dedup (all levels)
    inserted: int = 0
    updated: int = 0
    deleted: int = 0
    delete_noop: int = 0
    stale_ignored: int = 0
    skipped: bool = False
    # COW write-amplification accounting: parquet bytes physically written vs
    # uncompressed content bytes the batch logically changed (amplification =
    # written / logical; >> 1 means rewrites dominated by carried rows)
    bytes_written: int = 0
    logical_bytes: int = 0

    def conserved(self) -> bool:
        applied = (
            self.inserted
            + self.updated
            + self.deleted
            + self.delete_noop
            + self.stale_ignored
        )
        return (
            self.rows_read
            == self.quarantined + self.schema_ops + self.deduped + applied
        )

    def to_json(self) -> dict[str, Any]:
        return dict(self.__dict__)


@dataclass
class ReplayResult:
    batches: list[BatchMetrics] = field(default_factory=list)
    events_applied: int = 0
    snapshot_id: int = -1


@dataclass
class TailBatch:
    """One span of the table's change feed, yielded by ``CDCEngine.tail``.

    ``batch_id`` is deterministic in the snapshot span, so an idempotent
    downstream sink (e.g. another CDCEngine, or any exactly-once writer
    keyed on batch id) deduplicates the at-least-once redelivery a crash
    between processing and cursor advance can cause — the same offset-range
    identity trick the engine itself uses on its WAL."""

    from_snapshot_id: int
    to_snapshot_id: int
    feed: DataFrame

    @property
    def batch_id(self) -> str:
        return f"tail-{self.from_snapshot_id}-{self.to_snapshot_id}"


class CDCEngine:
    """Reusable change-event processor over a LakeVault COW table."""

    def __init__(
        self,
        spark: SparkSession,
        table_root: str,
        n_buckets: int = 16,
        with_rollup: bool = True,
        merge_strategy: str | None = None,
        write_mode: str | None = None,
        mor_compact_threshold: int | None = None,
        branch: str | None = None,
        bloom_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.root = table_root
        self.with_rollup = with_rollup
        # Write-audit-publish: an engine constructed with branch="x" replays
        # into that branch's snapshot namespace — main readers see nothing
        # until LakeVault.publish_branch("x") fast-forwards main (see
        # lakevault.py "branches & tags"). The branch must already exist
        # (vault.create_branch). Quarantine output is branch-scoped so a
        # dropped branch doesn't leave its rejects in the main diagnostics.
        self.branch = branch
        # MOR auto-compact policy: after a commit, any bucket holding more
        # than this many DELTA files is folded back into base files via a
        # bucket-scoped compact() — so read-side merge cost stays bounded
        # without operator intervention, and the compaction itself is
        # O(selected buckets), never O(table). 0 disables. Env override:
        # CDC_MOR_COMPACT_THRESHOLD.
        self.mor_compact_threshold = (
            mor_compact_threshold
            if mor_compact_threshold is not None
            else int(os.environ.get("CDC_MOR_COMPACT_THRESHOLD", "8"))
        )
        # 'cow' (default): a batch rewrites its affected buckets in full —
        # reads stay merge-free, writes pay amplification (measured 1.5-1.8x
        # on the updates-heavy bench). 'mor' (merge-on-read): a batch
        # appends ONLY its winner rows (incl. tombstones) as delta files —
        # write amplification ~1x, reads pay one LWW max_by until compact()
        # folds deltas back into base files. Same golden-tested semantics;
        # the classic trade, chosen per table. Env override: CDC_WRITE_MODE.
        self.write_mode = write_mode or os.environ.get("CDC_WRITE_MODE", "cow")
        if self.write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be 'cow' or 'mor', got {self.write_mode!r}")
        # 'maxby' (default): union → repartition on the key → sort-agg
        # max_by per key (one content exchange, no map-side collapse; the
        # bucket write adds a second repartition unless n_buckets divides
        # shuffle.partitions). 'bucket_pandas': ONE content shuffle —
        # groupBy(__bucket) → Arrow applyInPandas LWW reduction → direct
        # partitionBy write (the reduction output is already
        # bucket-partitioned). Same semantics, golden-tested against the same
        # oracle; see BENCH/BASELINE.md for the measured pick. Env override:
        # CDC_MERGE=bucket_pandas.
        self.merge_strategy = (
            merge_strategy or os.environ.get("CDC_MERGE", "maxby")
        )
        # parquet-native bloom filters for point probes on hash-like columns
        # (table-creation-time config, lives in table.json; existing tables
        # keep whatever they were created with). Opt-in: write cost is ~+3%
        # file bytes + bloom-build CPU per batch. Env: CDC_BLOOM_COLS=commit
        if bloom_cols is None:
            env_bloom = os.environ.get("CDC_BLOOM_COLS", "")
            bloom_cols = [c.strip() for c in env_bloom.split(",") if c.strip()] or None
        if LakeVault.exists(table_root):
            self.vault = LakeVault.load(spark, table_root)
        else:
            self.vault = LakeVault.create(
                spark,
                table_root,
                BASE_COLUMNS,
                key_cols=("repo", "path"),
                n_buckets=n_buckets,
                bloom_cols=bloom_cols,
            )
        if branch is not None:
            self.vault = self.vault.branch(branch)
        self.quarantine_dir = os.path.join(
            table_root, "quarantine" if branch is None else f"quarantine-branch-{branch}"
        )
        self.metrics_dir = os.path.join(table_root, "ingest_metrics")
        # informational fast-resume hint (exactly-once truth lives in the
        # batch log); branch-scoped so a staged replay never clobbers main's
        self.checkpoint_path = os.path.join(
            table_root,
            "_vault",
            "checkpoints.json" if branch is None else f"checkpoints-branch-{branch}.json",
        )
        # cumulative wall-clock per replay phase across this engine's life —
        # always collected (a dict update per phase), printed per-batch only
        # under CDC_TIMING=1, and exported by bench.py so an outlier replay
        # number self-attributes to a phase instead of whipsawing the
        # headline (r3 verdict #1: a 2.3x phantom regression shipped because
        # the replay metric was the one single-trial, unattributed number).
        self.phase_seconds: dict[str, float] = {}
        # set by replay(): rollup jobs overlap the next batch on this pool;
        # None (e.g. streaming _apply_chunk) → rollup runs inline
        self._rollup_pool = None
        self._rollup_futs: list = []

    # ---- public API --------------------------------------------------------

    def replay(
        self,
        wal_dir: str,
        chunks: list[int] | None = None,
        max_batches: int | None = None,
        fail_after_batches: int | None = None,
    ) -> ReplayResult:
        """Replay WAL chunks in order; exactly-once per chunk via commit
        manifests. ``fail_after_batches`` simulates a crash for resume tests.
        Safe to call repeatedly — committed chunks are skipped in O(1)."""
        from concurrent.futures import ThreadPoolExecutor

        chunks = chunks if chunks is not None else list_chunks(wal_dir)
        committed = self.vault.committed_batches()
        result = ReplayResult()

        todo: list[int] = []
        for chunk in chunks:
            if self.batch_id(wal_dir, chunk) in committed:
                result.batches.append(
                    BatchMetrics(batch_id=self.batch_id(wal_dir, chunk), chunk=chunk, skipped=True)
                )
            else:
                todo.append(chunk)
        if max_batches is not None:
            todo = todo[:max_batches]

        # Pipelined micro-batches: chunk k+1's control phase (scan, stats,
        # schema events, quarantine — all table-state-independent) runs on a
        # background thread while chunk k's merge+commit runs. Commits stay
        # strictly sequential; a crash cancels nothing that matters (the
        # prefetched control work is idempotent side-effect-wise).
        pool = ThreadPoolExecutor(max_workers=1)
        # Rollup jobs run on their own thread: the rollup is derived data
        # over IMMUTABLE just-written bucket files, so it overlaps the next
        # batch's control/merge instead of extending the critical path.
        # A crash can leave a committed batch without its rollup — resume
        # backfills it idempotently below (metrics are eventually-consistent
        # derived data, never part of the exactly-once commit).
        rpool = ThreadPoolExecutor(max_workers=1)
        self._rollup_pool = rpool
        rollup_futs: list = []
        self._rollup_futs = rollup_futs
        if self.with_rollup:
            for b in result.batches:  # committed-batch backfill (crash hole)
                if b.skipped and not os.path.isdir(
                    os.path.join(self.metrics_dir, f"batch_id={b.batch_id}")
                ):
                    rollup_futs.append(rpool.submit(self._rollup_backfill, b.batch_id))
        try:
            fut = None
            for i, chunk in enumerate(todo):
                bid = self.batch_id(wal_dir, chunk)
                ctrl = fut.result() if fut is not None else self._control_phase(wal_dir, chunk, bid)
                fut = None
                if i + 1 < len(todo):
                    nxt = todo[i + 1]
                    fut = pool.submit(
                        self._control_phase, wal_dir, nxt, self.batch_id(wal_dir, nxt)
                    )
                m = self._data_phase(wal_dir, chunk, bid, ctrl)
                result.batches.append(m)
                result.events_applied += m.inserted + m.updated + m.deleted
                self._write_checkpoint(wal_dir, chunks)
                if fail_after_batches is not None and i + 1 >= fail_after_batches:
                    raise RuntimeError(f"simulated crash after {i + 1} batches")
            for rf in rollup_futs:
                rf.result()  # surface real rollup failures
        finally:
            pool.shutdown(wait=False, cancel_futures=True)
            rpool.shutdown(wait=True)  # never leave a rollup mid-write
            self._rollup_pool = None
        result.snapshot_id = self.vault.current_snapshot_id()
        self._write_checkpoint(wal_dir, chunks)
        return result

    def current_state(
        self,
        snapshot_id: int | None = None,
        column_ranges: dict | None = None,
        column_equals: dict | None = None,
    ) -> DataFrame:
        """Live rows of the final-state table (tombstones filtered).
        ``column_ranges={col: (lo, hi)}`` turns on manifest data skipping for
        the caller's predicate columns; ``column_equals={col: v}`` adds
        bloom-filter file pruning for point probes on bloom-enabled columns
        (superset guarantees both — still apply the row filter; see
        ``LakeVault.scan``)."""
        return self.vault.scan(
            snapshot_id, column_ranges=column_ranges, column_equals=column_equals
        ).where(~F.col("is_deleted"))

    def lookup(self, repo: str) -> DataFrame:
        """Point lookup of one repo's live files: manifest key-range pruning
        (min/max repo per file) skips every data file whose span can't
        contain it — after a compact() the scan touches a handful of files
        instead of the table (reference's timed pruning demo,
        ``04_hive_sql_analysis.py:236-273``, upgraded to key stats)."""
        return (
            self.vault.scan(key_range=(repo, repo))
            .where((F.col("repo") == repo) & ~F.col("is_deleted"))
        )

    def changes(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> DataFrame:
        """Logical change feed between two snapshots — the read-side half of
        the CDC engine (r4 verdict #3): what a downstream pipeline consumes
        to incrementally follow THIS table, the way this engine follows its
        WAL. Built on ``LakeVault.scan_changes`` (cost O(buckets touched
        since A), manifest-metadata-driven), then tombstone transitions are
        mapped to the logical feed a consumer expects:

        - row appears, live              → ``insert``
        - tombstone → live               → ``insert`` (re-insert after delete)
        - live → live, any column moved  → ``update``
        - live → tombstone               → ``delete`` (pre-image values —
          what WAS live — because the tombstone row itself carries the
          delete event's bookkeeping, not the deleted content)
        - tombstone churn (T→T) and rows born dead are dropped: they never
          were and never became visible state.

        Columns: the table's columns (minus ``_before``) plus
        ``_change_type``."""
        ch = self.vault.scan_changes(from_snapshot_id, to_snapshot_id)
        vt = F.col("_change_type")
        before_del = F.col("_before")["is_deleted"]
        after_del = F.col("is_deleted")  # pre-image here only when vt='delete'
        logical = (
            F.when((vt == "insert") & ~after_del, F.lit("insert"))
            .when((vt == "update") & before_del & ~after_del, F.lit("insert"))
            .when((vt == "update") & ~before_del & ~after_del, F.lit("update"))
            .when((vt == "update") & ~before_del & after_del, F.lit("delete"))
            .when((vt == "delete") & ~after_del, F.lit("delete"))
        )
        out_cols = [c for c in ch.columns if c not in ("_change_type", "_before")]
        # logical deletes surface the PRE-image (the last live row); every
        # other change surfaces the post-image scan_changes already built
        use_before = (vt == "update") & ~before_del & after_del
        return (
            ch.withColumn("_logical", logical)
            .where(F.col("_logical").isNotNull())
            .select(
                *[
                    F.when(use_before, F.col("_before")[c]).otherwise(F.col(c)).alias(c)
                    if c not in self.vault.key_cols
                    else F.col(c)
                    for c in out_cols
                ],
                F.col("_logical").alias("_change_type"),
            )
        )

    def tail(
        self,
        checkpoint_dir: str,
        start_snapshot_id: int = 0,
        poll_interval_s: float = 1.0,
        max_idle_polls: int | None = None,
    ):
        """Continuously consume this table's change feed — the downstream
        half of ``changes()`` (Delta/Iceberg streaming-read analog): yields a
        ``TailBatch`` per new snapshot span, with a durable cursor in
        ``checkpoint_dir`` so a restarted consumer resumes where it left off.

        Contract (mirrors how the engine itself tails its WAL):

        - the cursor advances AFTER the consumer returns from processing a
          yielded batch (i.e. when it asks for the next one) — a consumer
          crash mid-batch re-delivers the same span on restart
          (at-least-once), and ``TailBatch.batch_id`` is deterministic in the
          span so an idempotent sink upgrades that to exactly-once;
        - spans never overlap and cover every snapshot transition once:
          applying the feeds in order to an empty store materializes
          ``current_state()`` (pinned by test);
        - ``start_snapshot_id=0`` (on a fresh checkpoint) emits the whole
          existing table as inserts first — Delta's ``startingVersion=0``;
        - a cursor that predates retention (its snapshot expired) raises
          with the remediation instead of silently re-reading wrong spans;
        - ``max_idle_polls`` bounds waiting for tests/drains: the generator
          returns after that many consecutive empty polls (``None`` = run
          until the caller breaks).
        """
        os.makedirs(checkpoint_dir, exist_ok=True)
        cursor_path = os.path.join(checkpoint_dir, "cursor.json")
        if os.path.exists(cursor_path):
            with open(cursor_path) as f:
                last = json.load(f)["snapshot_id"]
        else:
            last = start_snapshot_id
        idle = 0
        while True:
            head = self.vault.current_snapshot_id()
            if head > last:
                idle = 0
                try:
                    feed = self.changes(last, head)
                except FileNotFoundError as e:
                    raise RuntimeError(
                        f"tail cursor at snapshot {last} predates this table's "
                        f"retention (expire_snapshots removed it): {e}. "
                        "Re-seed the consumer from a full scan at a live "
                        "snapshot, then tail from there."
                    ) from e
                yield TailBatch(last, head, feed)
                # the consumer came back for more => the span is processed
                _atomic_write_json(cursor_path, {"snapshot_id": head})
                last = head
            else:
                idle += 1
                if max_idle_polls is not None and idle >= max_idle_polls:
                    return
                time.sleep(poll_interval_s)

    def ingest_metrics(self) -> DataFrame:
        """Per-batch per-repo rollup table (Gold analog; empty if rollup off)."""
        if not os.path.isdir(self.metrics_dir):
            return self.spark.createDataFrame([], "repo string, events long, batch_id string")
        return self.spark.read.parquet(self.metrics_dir)

    def quarantine(self) -> DataFrame:
        """Dead-letter rows (malformed events) across all batches."""
        if not os.path.isdir(self.quarantine_dir):
            return self.spark.createDataFrame([], "seq long, repo string, batch_id string")
        return self.spark.read.option("mergeSchema", "true").parquet(self.quarantine_dir)

    def lineage(self) -> list[dict[str, Any]]:
        """Commit manifests of the current snapshot's batches, in commit
        order — offsets, metrics and input-chunk lineage per batch."""
        out = []
        for b in self.vault.snapshot().committed_batches:
            man = self.vault.manifest(b)
            if man is not None:
                out.append(man)
        return out

    def expire(self, keep_last: int = 3, keep_side_batches: int = 64) -> list[int]:
        """Retention for the table AND its side state (the reference's VACUUM,
        ``01_ingest_raw_logs.py:296-304``, extended to engine-owned dirs):

        - snapshots / manifests / data files via ``vault.expire_snapshots``
          (incl. crash-orphaned staging dirs — see lakevault two-pass expiry)
        - ``quarantine/`` and ``ingest_metrics/`` per-batch subdirs, plus
          commit-manifest lineage JSONs, for every batch OLDER than the last
          ``keep_side_batches`` committed batches. The batch IDS themselves
          are never dropped (the exactly-once skip set is tiny and must be
          complete forever); only their per-batch side DATA is retention-
          bounded — without this, the side dirs grow one subdir per batch
          for the life of the table."""
        import shutil

        removed = self.vault.expire_snapshots(keep_last=keep_last)
        batches = self.vault.snapshot().committed_batches  # commit order
        keep = set(batches[-keep_side_batches:]) if keep_side_batches > 0 else set(batches)
        # batches staged on LIVE branches are committed state too (their
        # branch's log has them; publish carries them to main): their side
        # data and lineage manifests must survive main's retention sweep.
        # ONLY the post-fork ids though — a branch's batch log cumulatively
        # contains every pre-fork main batch, and folding those in would
        # silently disable the keep_side_batches bound for all history
        staged: set[str] = set()
        for bname in self.vault.branches():
            staged |= set(self.vault.branch(bname).snapshot().committed_batches)
        staged -= set(batches)
        keep |= staged
        expired_bids = [b for b in batches if b not in keep]
        for d in (self.quarantine_dir, self.metrics_dir):
            if not os.path.isdir(d):
                continue
            for sub in os.listdir(d):
                if sub.startswith("batch_id=") and sub.split("=", 1)[1] not in keep:
                    shutil.rmtree(os.path.join(d, sub), ignore_errors=True)
        mdir = os.path.join(self.vault.vault_dir, "manifests")
        if os.path.isdir(mdir):
            committed = set(batches) | staged
            for fn in os.listdir(mdir):
                if not fn.endswith(".json") or fn[:-5] in keep:
                    continue
                full = os.path.join(mdir, fn)
                if fn[:-5] not in committed:
                    # not a committed batch: either a concurrent writer's
                    # pre-CAS lineage (it writes the manifest just before
                    # its commit claim) or a dead attempt's leftover — only
                    # the latter is safe to sweep, and age tells them apart
                    try:
                        if (time.time() - os.path.getmtime(full)) < 300.0:
                            continue
                    except OSError:
                        continue
                os.remove(full)
        # tombstone the swept batch ids: replay()'s skipped-batch rollup
        # BACKFILL would otherwise find the still-live write dirs and regrow
        # every side dir this retention pass just bounded
        if expired_bids:
            prior = self._expired_side_batches()
            _atomic_write_json(
                self._side_retention_path(),
                {"expired": sorted(prior | set(expired_bids))},
            )
        return removed

    @staticmethod
    def batch_id(wal_dir: str, chunk: int) -> str:
        """Deterministic batch identity = hash of the offset range — replaces
        the reference's wall-clock batch id (``01:178``)."""
        return hashlib.sha256(f"{os.path.abspath(wal_dir)}|chunk={chunk}".encode()).hexdigest()[:24]

    # ---- internals -----------------------------------------------------------

    def _tick(self, label: str, t0: float) -> float:
        now = time.perf_counter()
        self.phase_seconds[label] = self.phase_seconds.get(label, 0.0) + (now - t0)
        if _TIMING:
            print(f"    [cdc-timing] {label}: {now - t0:.2f}s", flush=True)
        return now

    def _write_checkpoint(self, wal_dir: str, chunks: list[int]) -> None:
        snap = self.vault.snapshot()
        committed = set(snap.committed_batches)
        done = [c for c in chunks if self.batch_id(wal_dir, c) in committed]
        _atomic_write_json(
            self.checkpoint_path,
            {
                "wal_dir": os.path.abspath(wal_dir),
                "snapshot_id": snap.snapshot_id,
                "chunks_committed": done,
                "next_chunk": (max(done) + 1) if done else 0,
            },
        )

    def checkpoint(self) -> dict[str, Any] | None:
        if not os.path.exists(self.checkpoint_path):
            return None
        with open(self.checkpoint_path) as f:
            return json.load(f)

    def _extra_columns(self, schema: TableSchema) -> list[dict[str, Any]]:
        base_ids = {i + 1 for i in range(len(BASE_COLUMNS))}
        return [c for c in schema.columns if c["id"] not in base_ids]

    def _control_phase(self, wal_dir: str, chunk: int, bid: str) -> dict:
        """Table-state-independent half of a batch: chunk scan + observation
        (row counts, quarantine counts, offsets, affected buckets), schema
        events, quarantine write. Because it never reads the COW table, the
        replay loop PREFETCHES it for chunk k+1 while chunk k's merge runs —
        pipelined micro-batches (one background thread, Spark schedules the
        jobs concurrently)."""
        spark = self.spark
        m = BatchMetrics(batch_id=bid, chunk=chunk)
        _t0 = time.perf_counter()
        nshuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))

        malformed = (
            F.col("seq").isNull()
            | F.col("repo").isNull()
            | F.col("path").isNull()
            | F.col("commit").isNull()
        )
        # Row counts, malformed counts and per-WAL-partition offset
        # high-water marks ride the first action over the cached batch via
        # df.observe — no dedicated stats jobs (replaces the reference's
        # count()-after-every-stage storm, 02_enrich_events.py:76-362).
        obs_in = Observation()
        in_aggs = [
            F.count(F.lit(1)).alias("rows_read"),
            F.sum(malformed.cast("long")).alias("quarantined"),
            # affected COW buckets ride the same pass (collect_set is tiny:
            # ≤ n_buckets longs) — no dedicated distinct job
            F.collect_set(
                F.when(
                    ~malformed & (~F.col("op").isin(*SCHEMA_OPS) | F.col("op").isNull()),
                    self.vault.bucket_expr(),
                )
            ).alias("buckets"),
        ] + [
            F.max(F.when(wal_partition() == p, F.col("seq"))).alias(f"hwm_{p}")
            for p in range(N_WAL_PARTITIONS)
        ]
        # No up-front repartition/cache: the merge aggregation below does its
        # own exchange, so repartitioning here would be a second full shuffle
        # of the batch, and caching a batch that is read ~2x from fast
        # columnar parquet wastes memory. Single-file chunks (unsplittable →
        # single-task scan) are the one case where an explicit spread pays.
        raw = read_chunk(spark, wal_dir, chunk)
        chunk_dir = os.path.join(wal_dir, f"chunk={chunk}")
        n_files = sum(1 for f in os.listdir(chunk_dir) if f.endswith(".parquet"))
        if n_files < max(4, nshuffle // 4):
            raw = raw.repartition(nshuffle, "repo", "path")
        # narrow control-plane view: job 1 below needs only the key/identity
        # columns, op and props (schema events) — content (~80% of the
        # bytes), ts and lang are never decoded here (r6: ts/lang dropped
        # too; the quarantine write keeps them via its own projection)
        ctrl = raw.drop("content", "ts", "lang").observe(obs_in, *in_aggs)

        # job 1 (tiny result; populates the observation): schema-evolution
        # events only — the malformed trickle stays distributed (collecting
        # it through py4j is serial, data-proportional work that caps scaling
        # at low core counts). Column pruning keeps this scan narrow.
        schema_rows = sorted(
            ctrl.where(F.col("op").isin(*SCHEMA_OPS) & ~malformed).collect(),
            key=lambda r: r["seq"],
        )
        stats = obs_in.get
        m.rows_read = int(stats["rows_read"] or 0)
        m.quarantined = int(stats["quarantined"] or 0)
        offsets = {
            str(p): stats[f"hwm_{p}"]
            for p in range(N_WAL_PARTITIONS)
            if stats.get(f"hwm_{p}") is not None
        }
        m.schema_ops = len(schema_rows)

        _t0 = self._tick("control_phase", _t0)
        return {
            "m": m,
            "raw": raw,
            "malformed": malformed,
            "schema_rows": schema_rows,
            "offsets": offsets,
            "buckets": sorted(int(b) for b in (stats.get("buckets") or [])),
            "nshuffle": nshuffle,
        }

    def _data_phase(self, wal_dir: str, chunk: int, bid: str, ctrl: dict) -> BatchMetrics:
        """Table-state-dependent half: schema evolution + single-aggregation
        MERGE + bucket write + atomic commit. Strictly sequential across
        batches (each snapshot builds on its parent)."""
        spark = self.spark
        m: BatchMetrics = ctrl["m"]
        raw = ctrl["raw"]
        schema_rows = ctrl["schema_rows"]
        offsets = ctrl["offsets"]
        malformed = ctrl["malformed"]
        _t0 = time.perf_counter()

        qfut = None
        if m.quarantined:
            # Quarantine write lives in the DATA phase (not the prefetched
            # control phase) so a crash in chunk k never leaves dead-letter
            # rows on disk for a chunk k+1 that was never committed.
            # Per-batch subdir + overwrite => idempotent under crash-retry.
            # Distributed narrow write (no content column decoded — the WAL
            # chunk named in the manifest lineage retains the full payload):
            # a parallel job, never a serial driver-side funnel. r6: the job
            # runs on a side thread OVERLAPPING the merge job (guide §2.6 —
            # Spark back-fills its tasks into the merge's straggler tail) and
            # is joined BEFORE the commit below, so the crash contract is
            # unchanged: either both jobs finished and the batch commits, or
            # neither effect is visible to a resumed replay.
            from concurrent.futures import ThreadPoolExecutor

            qdir = os.path.join(self.quarantine_dir, f"batch_id={bid}")
            ctrl_cols = [c for c in raw.columns if c != "content"]

            def _qwrite():
                (
                    raw.select(*ctrl_cols)
                    .where(malformed)
                    .write.mode("overwrite")
                    .parquet(qdir)
                )

            qpool = ThreadPoolExecutor(max_workers=1)
            qfut = qpool.submit(_qwrite)
            qpool.shutdown(wait=False)

        schema = self.vault.snapshot().schema
        for r in schema_rows:
            p = r["props"] or {}
            # malformed schema events (missing props keys, rename of an
            # unknown column, rename ONTO an existing column — committing
            # that would brick every later scan on duplicate names) are
            # counted and skipped — never a driver abort mid-replay (they
            # stay in the WAL chunk named in the lineage)
            try:
                if r["op"] == "add_column":
                    before = schema.names()
                    schema = schema.add_column(p["column"], p.get("type", "string"))
                    for c in schema.columns:
                        if c["name"] == p["column"] and c["name"] not in before:
                            c["prop"] = p["column"]  # stable props-key across renames
                elif r["op"] == "drop_column":
                    # base columns (ids 1..len(BASE_COLUMNS)) are
                    # load-bearing — identity, LWW order, tombstones,
                    # sanitize inputs — and the key columns bucket the
                    # table; dropping any of them is an invalid op. Only
                    # evolved (extra) columns are droppable.
                    by_name = {c["name"]: c for c in schema.columns}
                    if p["column"] not in by_name:
                        raise KeyError(p["column"])
                    base_ids = {i + 1 for i in range(len(BASE_COLUMNS))}
                    if (
                        by_name[p["column"]]["id"] in base_ids
                        or p["column"] in self.vault.key_cols
                    ):
                        raise ValueError("drop_column on a base/key column")
                    schema = schema.drop_column(p["column"])
                elif r["op"] == "promote_type":
                    # widening only (TYPE_PROMOTIONS); key columns are
                    # off-limits — the murmur3 bucket hash of int(v) and
                    # long(v) differ, so promoting a key would silently
                    # re-bucket every existing row out from under the
                    # manifest's bucket assignments.
                    if p["column"] in self.vault.key_cols:
                        raise ValueError("promote_type on a key column")
                    schema = schema.promote_column(p["column"], p["type"])
                else:
                    # base columns (identity, LWW order, transform inputs)
                    # and key columns are referenced BY NAME throughout the
                    # engine (bucket_expr, merge, sanitize) — a WAL rename
                    # of one would commit a schema that bricks every later
                    # replay batch, the same poison the drop/promote guards
                    # reject. Only evolved (extra) columns are renamable.
                    by_name = {c["name"]: c for c in schema.columns}
                    if p["from"] not in by_name:
                        raise KeyError(p["from"])
                    base_ids = {i + 1 for i in range(len(BASE_COLUMNS))}
                    if (
                        by_name[p["from"]]["id"] in base_ids
                        or p["from"] in self.vault.key_cols
                    ):
                        raise ValueError("rename_column on a base/key column")
                    schema = schema.rename_column(p["from"], p["to"])
            except (KeyError, ValueError):
                m.schema_ops_invalid += 1
        extra_cols = self._extra_columns(schema)

        data = raw.where(~malformed).where(
            ~F.col("op").isin(*SCHEMA_OPS) | F.col("op").isNull()
        )

        affected = ctrl["buckets"]

        if not affected:
            if qfut is not None:
                qfut.result()  # quarantine rows are part of this batch's effects
            new_schema = schema if m.schema_ops else None
            self.vault.commit(
                add_write_dir=None,
                replace_buckets=[],
                batch_id=bid,
                manifest=self._manifest(bid, wal_dir, chunk, offsets, m),
                new_schema=new_schema,
                summary={"operation": "merge", "chunk": chunk},
            )
            return m

        # MERGE as ONE aggregation: batch events UNION existing rows of the
        # affected buckets; winner per (repo,path) is max_by over
        # (last_seq, src, content) — the composition of dedup-by-commit,
        # LWW-by-path and table merge in a single partial-aggregated pass
        # (skew-immune: the hot repo collapses map-side before the exchange).
        # scan() reads the PARENT snapshot (columns named per the PARENT
        # schema), so the re-projection onto the evolved schema maps by
        # COLUMN ID, not name — a column renamed this batch keeps its values
        # on carried rows (Iceberg-style rename promotion); only genuinely
        # new ids backfill as typed nulls.
        from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import SPARK_TYPE

        existing = self.vault.scan(buckets=affected)
        parent_by_id = {c["id"]: c["name"] for c in self.vault.snapshot().schema.columns}
        cur_names = [c["name"] for c in schema.columns]
        sel = []
        for c in schema.columns:
            typ = SPARK_TYPE.get(c["type"], c["type"])
            pname = parent_by_id.get(c["id"])
            if pname is not None and pname in existing.columns:
                sel.append(F.col(pname).cast(typ).alias(c["name"]))
            else:
                sel.append(F.lit(None).cast(typ).alias(c["name"]))
        ex = existing.select(*sel).withColumn("__src", F.lit(0))
        # r6 (guide §2.3, project before the exchange): the merge only ever
        # reads ``props`` to extract the evolved columns' keys, and the set of
        # evolved columns is known BEFORE the merge (schema events are
        # chunk-aligned barriers) — so extract exactly those values here and
        # drop the map from the shuffled/sorted rows.
        prop_cols = [
            F.col("props").getItem(c.get("prop", c["name"])).alias(f"__prop_{c['id']}")
            for c in extra_cols
        ]
        b_in = data.select(
            F.col("repo"),
            F.col("path"),
            F.col("commit"),
            F.col("lang"),
            F.col("content"),
            F.col("seq").alias("last_seq"),
            F.col("op"),
            *prop_cols,
            F.lit(1).alias("__src"),
        )
        both = ex.unionByName(b_in, allowMissingColumns=True)
        val_cols = [c for c in both.columns if c not in ("repo", "path")]
        src = F.col("__src")
        if self.merge_strategy == "bucket_pandas":
            merged = self._merge_bucket_pandas(both)
        else:
            merged = self._merge_maxby(both, val_cols)

        live_old = F.col("old_seq").isNotNull() & ~F.coalesce(F.col("old_deleted"), F.lit(False))

        # Single-path finish: the fused transform (classify + sanitize +
        # lang-infer) runs as NATIVE whole-stage-codegen expressions — the
        # r6 optimization (guide §4.1: built-ins beat even Arrow UDFs; the
        # Arrow round trip alone was measured at ~13.6 s of the 42.6 s merge
        # phase at 20M events/local[32]). Every expression is gated on
        # ``is_batch``, so carried table rows skip the regex work entirely
        # inside codegen (the pandas UDF paid the boundary for every merged
        # row). Each expensive intermediate (__op, __san, __lang_new) is its
        # own column: CollapseProject keeps multiply-referenced non-cheap
        # aliases in separate projections, so sanitize runs ONCE per row even
        # though content and content_sha256 both read it. Equivalence with
        # the pandas kernels is pinned by tests/test_transform_native.py;
        # CDC_TRANSFORM=pandas selects the previous fused-UDF path (kept for
        # A/B and as the §2.10 vectorized-UDF surface).
        is_batch = src == 1
        if os.environ.get("CDC_TRANSFORM", "native") == "pandas":
            b = self._apply_transform_pandas(merged, is_batch, live_old)
        else:
            from observability_platform___databricks_etl_pipeline_spark.functions.classify import (
                classify_op_expr,
            )
            from observability_platform___databricks_etl_pipeline_spark.functions.langinfer import (
                infer_lang_expr,
            )
            from observability_platform___databricks_etl_pipeline_spark.functions.sanitize import (
                sanitize_guarded_expr,
            )

            b = (
                merged.withColumn(
                    "__op",
                    F.when(is_batch, classify_op_expr(F.col("op"), F.col("content"))),
                )
                .withColumn(
                    "__san",
                    F.when(
                        is_batch & (F.col("__op") != "delete"),
                        sanitize_guarded_expr(F.col("content")),
                    ),
                )
                .withColumn(
                    "__lang_new",
                    F.when(
                        is_batch & F.col("lang").isNull(),
                        infer_lang_expr(F.col("path"), F.col("__san")),
                    ),
                )
                .withColumn(
                    "content",
                    F.when(is_batch, F.col("__san")).otherwise(F.col("content")),
                )
                .withColumn(
                    "content_sha256",
                    F.when(is_batch, content_sha256(F.col("__san"))).otherwise(
                        F.col("content_sha256")
                    ),
                )
                .withColumn(
                    "lang",
                    F.when(
                        is_batch, F.coalesce(F.col("lang"), F.col("__lang_new"))
                    ).otherwise(F.col("lang")),
                )
                .withColumn(
                    "is_deleted",
                    F.when(is_batch, F.col("__op") == "delete").otherwise(
                        F.col("is_deleted")
                    ),
                )
                .withColumn(
                    "__action",
                    F.when(
                        ~is_batch,
                        F.when(F.col("new_seq").isNull(), F.lit("carry")).otherwise(
                            F.lit("stale")
                        ),
                    )
                    .when(
                        F.col("__op") == "delete",
                        F.when(live_old, F.lit("delete")).otherwise(F.lit("delete_noop")),
                    )
                    .when(live_old, F.lit("update"))
                    .otherwise(F.lit("insert")),
                )
            )
        for c in extra_cols:
            b = b.withColumn(
                c["name"],
                F.when(
                    is_batch, F.col(f"__prop_{c['id']}").cast(c["type"])
                ).otherwise(F.col(c["name"]).cast(c["type"])),
            )
        out_meta = b

        out_cols = [*cur_names, "__bucket", "__action", "n_events"]
        out_meta = out_meta.select(*out_cols)

        # job 3: the bucket write — action counts + dedup accounting ride it
        # via observe (one pass computes metrics AND writes files)
        obs_out = Observation()
        act = F.col("__action")
        out = out_meta.observe(
            obs_out,
            F.sum((act == "insert").cast("long")).alias("inserted"),
            F.sum((act == "update").cast("long")).alias("updated"),
            F.sum((act == "delete").cast("long")).alias("deleted"),
            F.sum((act == "delete_noop").cast("long")).alias("delete_noop"),
            F.sum((act == "stale").cast("long")).alias("stale"),
            F.sum(F.when(F.col("n_events") > 0, F.col("n_events") - 1).otherwise(0)).alias(
                "deduped"
            ),
            F.sum(
                F.when(
                    act.isin("insert", "update"),
                    F.coalesce(F.length("content"), F.lit(0)).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("logical_bytes"),
        ).select(
            *cur_names,
            "__action",
            F.length("content").alias("__content_len"),
            "__bucket",
        )
        # __action/__content_len are written into the bucket files: they
        # cost ~nothing (RLE-dictionary string + int), scan() projects by
        # schema so readers never see them, and they let the rollup run
        # post-write over the files already on tmpfs/disk with the content
        # column PRUNED from the re-read — instead of persisting the
        # content-bearing merge frame (round-1 issue: rollup 2×'d the data
        # phase; a MEMORY_AND_DISK persist still paid a full columnar cache
        # build of the payload)
        if os.environ.get("CDC_EXPLAIN_DIR"):
            # instrumentation only (guide §7.2): dump the merge+transform
            # plan that feeds the bucket write, one file per batch
            try:
                ed = os.environ["CDC_EXPLAIN_DIR"]
                os.makedirs(ed, exist_ok=True)
                plan = out._jdf.queryExecution().explainString(
                    self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
                with open(os.path.join(ed, f"merge-{bid[:8]}.txt"), "w") as f:
                    f.write(plan)
            except Exception:
                pass
        n_out = max(len(affected), 1)
        wd = self.vault.new_write_dir(bid[:8])
        if self.write_mode == "mor":
            # merge-on-read: append ONLY this batch's winner rows (incl.
            # tombstones) as delta files — carried rows are never rewritten,
            # so write amplification ~1x. The filter sits AFTER the observe
            # node: metrics still count carry/stale over the full merged set.
            out = out.where(
                F.col("__action").isin("insert", "update", "delete", "delete_noop")
            )
        # no per-batch sortWithinPartitions: key-clustering for scan locality
        # is compact()'s job (the Z-order analog runs as maintenance, not on
        # the hot path — sorting the whole table every batch bought nothing)
        # no-default get: Spark 4 VALIDATES a fallback passed to conf.get
        # ("0" is rejected), and the no-arg form returns the session's
        # EFFECTIVE value anyway — exactly what the alignment check needs
        # (a plain spark-submit session without an explicit setting crashed
        # here before)
        shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
        wopts = self.vault.data_write_options()
        if self.merge_strategy == "bucket_pandas":
            # the pandas reduction's output is already hash(__bucket)-
            # partitioned: write directly — this is the shuffle we saved
            out.write.mode("overwrite").options(**wopts).partitionBy("__bucket").parquet(wd)
        elif shuffle_p and shuffle_p % self.vault.n_buckets == 0:
            # bucket-aligned direct write: the merge agg's exchange is
            # HashPartitioning(repo, path, P) with pid = pmod(murmur3, P),
            # and __bucket = pmod(murmur3, n_buckets) over the same keys
            # (bucket_expr) — with n_buckets | P every reduce task holds
            # exactly one bucket (a few adjacent ones after AQE coalesce),
            # so partitionBy lands the same file layout with NO second
            # content shuffle. This halves shuffle bytes per batch.
            out.write.mode("overwrite").options(**wopts).partitionBy("__bucket").parquet(wd)
        else:
            (
                out.repartition(n_out, "__bucket")
                .write.mode("overwrite")
                .options(**wopts)
                .partitionBy("__bucket")
                .parquet(wd)
            )
        acts = obs_out.get
        m.inserted = int(acts["inserted"] or 0)
        m.updated = int(acts["updated"] or 0)
        m.deleted = int(acts["deleted"] or 0)
        m.delete_noop = int(acts["delete_noop"] or 0)
        m.stale_ignored = int(acts["stale"] or 0)
        m.deduped = int(acts["deduped"] or 0)
        m.logical_bytes = int(acts["logical_bytes"] or 0)
        m.bytes_written = sum(
            os.path.getsize(os.path.join(dp, fn))
            for dp, _dn, fns in os.walk(wd)
            for fn in fns
            if fn.endswith(".parquet")
        )
        if qfut is not None:
            qfut.result()  # must land before the commit (crash contract)
        _t0 = self._tick("merge_transform_write", _t0)

        if self.with_rollup:
            # rollup over the files this batch just wrote (already on disk —
            # the scale-safe second pass: a content-pruned parquet re-read of
            # immutable files, not a merge re-run and not a cache of the full
            # payload). Off the critical path when replay() provides a pool.
            if self._rollup_pool is not None:
                self._rollup_futs.append(
                    self._rollup_pool.submit(self._rollup_from_dir, wd, bid)
                )
            else:
                self._rollup_from_dir(wd, bid)
            _t0 = self._tick("rollup_submit", _t0)

        new_schema = schema if schema.schema_id != self.vault.snapshot().schema.schema_id else None
        self.vault.commit(
            add_write_dir=wd,
            # MOR appends deltas and keeps every parent file; COW swaps the
            # affected buckets for their rewritten versions
            replace_buckets=[] if self.write_mode == "mor" else affected,
            batch_id=bid,
            manifest=self._manifest(bid, wal_dir, chunk, offsets, m),
            new_schema=new_schema,
            summary={"operation": "merge", "chunk": chunk},
            delta=self.write_mode == "mor",
        )
        _t0 = self._tick("commit_manifest", _t0)

        if self.write_mode == "mor" and self.mor_compact_threshold > 0:
            # auto-compact: fold any bucket whose delta-file pile crossed the
            # threshold back into base files. Bucket-scoped — reads/rewrites
            # ONLY those buckets — so amortized maintenance cost stays
            # proportional to churn, and scan()'s per-commit union-group
            # count stays bounded. Crash-safe: the compact is its own
            # commit; a crash before it just re-triggers on the next batch.
            # Census from manifest REFS alone — each ref already carries
            # (bucket, n_files, delta), so this is O(live refs) with zero
            # manifest-file reads; loading snapshot().files here would be an
            # O(total files) metadata read per batch, defeating the
            # O(affected buckets) commit-cost contract (r3 ADVICE, medium).
            per_bucket: dict[int, int] = {}
            for r in self.vault.snapshot().manifest_refs:
                if r.get("delta") and r.get("bucket") is not None:
                    per_bucket[r["bucket"]] = per_bucket.get(r["bucket"], 0) + r["n_files"]
            over = sorted(b for b, n in per_bucket.items() if n > self.mor_compact_threshold)
            if over:
                from observability_platform___databricks_etl_pipeline_spark.plans.lakevault import CommitConflict

                try:
                    self.vault.compact(buckets=over)
                except CommitConflict:
                    # a concurrent ingest's commit interleaved with this
                    # opportunistic fold — skip it; the pile is still over
                    # threshold, so the NEXT batch simply re-triggers the
                    # compact (maintenance is best-effort, replay is not)
                    pass
                _t0 = self._tick("auto_compact", _t0)

        return m

    def _apply_transform_pandas(self, merged: DataFrame, is_batch, live_old) -> DataFrame:
        """The pre-r6 fused pandas-UDF transform path (one Arrow round trip),
        selectable via CDC_TRANSFORM=pandas — kept as the vectorized-UDF
        surface and the A/B reference for the native-expression default."""
        return (
            merged.withColumn(
                "__t", transform_udf(F.col("op"), F.col("path"), F.col("content"))
            )
            .withColumn("__op", F.when(is_batch, F.col("__t.op")))
            .withColumn(
                "content", F.when(is_batch, F.col("__t.content")).otherwise(F.col("content"))
            )
            .withColumn(
                "content_sha256",
                F.when(is_batch, content_sha256(F.col("__t.content"))).otherwise(
                    F.col("content_sha256")
                ),
            )
            .withColumn(
                "lang",
                F.when(is_batch, F.coalesce(F.col("lang"), F.col("__t.lang"))).otherwise(
                    F.col("lang")
                ),
            )
            .withColumn(
                "is_deleted",
                F.when(is_batch, F.col("__t.op") == "delete").otherwise(F.col("is_deleted")),
            )
            .withColumn(
                "__action",
                F.when(
                    ~is_batch,
                    F.when(F.col("new_seq").isNull(), F.lit("carry")).otherwise(F.lit("stale")),
                )
                .when(
                    F.col("__t.op") == "delete",
                    F.when(live_old, F.lit("delete")).otherwise(F.lit("delete_noop")),
                )
                .when(live_old, F.lit("update"))
                .otherwise(F.lit("insert")),
            )
        )

    def _merge_maxby(self, both: DataFrame, val_cols: list[str]) -> DataFrame:
        """Default merge: ONE aggregation — max_by(payload, (last_seq, src,
        content)) per (repo, path), fed by an explicit repartition on the key.

        r6 physical-plan fix: max_by's buffer holds var-len structs, which
        HashAggregateExec cannot mutate in place, so Spark plans this as
        SortAggregate — and the default partial+final pair SORTED the full
        content-bearing batch TWICE (map side and reduce side) and shuffled
        the partial buffers, which carry content in BOTH the ordering struct
        and the value struct (content crossed the wire twice). Exchanging the
        raw rows first (one shuffle, content once, no sort) lets one reduce-
        side Sort feed both agg phases: measured 10.8-14.7 s → 5.4-6.6 s for
        the 10M-row batch agg at local[32]. Trade-off, documented: a single
        pathologically hot (repo, path) key no longer collapses map-side —
        its rows sort on one reduce task; two-level (key, salt) aggregation
        remains the escape hatch for that shape (operators/dedup.py::
        salted_repartition). The repartition's HashPartitioning(repo, path)
        is murmur3-aligned with bucket_expr, so the bucket write downstream
        stays shuffle-free when n_buckets divides shuffle.partitions."""
        src = F.col("__src")
        wpay = F.struct(*[F.col(c) for c in val_cols])
        nshuffle = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        return (
            both.repartition(nshuffle, "repo", "path")
            .groupBy("repo", "path")
            .agg(
                F.max_by(
                    wpay,
                    F.struct(F.col("last_seq"), src, F.coalesce(F.col("content"), F.lit(""))),
                ).alias("w"),
                F.max(F.when(src == 0, F.col("last_seq"))).alias("old_seq"),
                F.max(F.when(src == 1, F.col("last_seq"))).alias("new_seq"),
                F.max(F.when(src == 0, F.col("is_deleted"))).alias("old_deleted"),
                F.sum(src).alias("n_events"),
            )
            .select(
                "repo",
                "path",
                *[F.col(f"w.{c}").alias(c) for c in val_cols],
                "old_seq",
                "new_seq",
                "old_deleted",
                "n_events",
            )
            .withColumn("__bucket", self.vault.bucket_expr())
        )

    def _merge_bucket_pandas(self, both: DataFrame) -> DataFrame:
        """Single-shuffle merge: exchange once on __bucket (a pure function
        of the key, so all rows of a key co-locate), then an Arrow-batched
        pandas reduction does LWW per key inside each bucket. The output is
        already partitioned by __bucket, so the bucket write needs NO second
        repartition — total content-shuffle volume is halved vs 'maxby'
        (minus the map-side dup collapse, ~the duplicate fraction).
        Parallelism = number of affected buckets: size n_buckets ≥ cores
        (compact(n_buckets=...) re-buckets grown tables). Ordering semantics
        are IDENTICAL to max_by over (last_seq, src, content): pandas string
        comparison is code-point order == Spark's UTF8String byte order."""
        import pandas as pd  # noqa: F401  (worker-side)
        from pyspark.sql.types import BooleanType, LongType, StructField, StructType

        withb = both.withColumn("__bucket", self.vault.bucket_expr())
        out_schema = StructType(
            list(withb.schema.fields)
            + [
                StructField("old_seq", LongType()),
                StructField("new_seq", LongType()),
                StructField("old_deleted", BooleanType()),
                StructField("n_events", LongType()),
            ]
        )
        names = [f.name for f in out_schema.fields]

        def reduce_bucket(pdf):
            import pandas as pd

            key = ["repo", "path"]
            pdf = pdf.assign(__ck=pdf["content"].fillna("")).sort_values(
                key + ["last_seq", "__src", "__ck"], kind="mergesort"
            )
            g = pdf.groupby(key, sort=False)
            w = g.tail(1).drop(columns="__ck")
            stats = (
                pdf.assign(
                    _os=pdf["last_seq"].where(pdf["__src"] == 0),
                    _ns=pdf["last_seq"].where(pdf["__src"] == 1),
                    _od=pdf["is_deleted"].where(pdf["__src"] == 0),
                )
                .groupby(key, sort=False)
                .agg(
                    old_seq=("_os", "max"),
                    new_seq=("_ns", "max"),
                    old_deleted=("_od", "max"),
                    n_events=("__src", "sum"),
                )
                .reset_index()
            )
            out = w.merge(stats, on=key, how="left")
            out["old_deleted"] = out["old_deleted"].astype(object).where(
                out["old_deleted"].notna(), None
            )
            return out.reindex(columns=names)

        return withb.groupBy("__bucket").applyInPandas(reduce_bucket, out_schema)

    def _apply_chunk(self, wal_dir: str, chunk: int, bid: str) -> BatchMetrics:
        ctrl = self._control_phase(wal_dir, chunk, bid)
        return self._data_phase(wal_dir, chunk, bid, ctrl)

    def _manifest(
        self, bid: str, wal_dir: str, chunk: int, offsets: dict[str, int], m: BatchMetrics
    ) -> dict[str, Any]:
        return {
            "batch_id": bid,
            "offsets": offsets,
            "metrics": m.to_json(),
            "lineage": [f"{os.path.abspath(wal_dir)}/chunk={chunk}"],
        }

    def _rollup_from_dir(self, data_dir: str, bid: str) -> None:
        """Build the per-batch rollup from a written bucket dir: prune to the
        slim metadata columns (__content_len stands in for the payload, so
        the content column is never re-read), keep this batch's winners."""
        winners = (
            self.spark.read.parquet(data_dir)
            .select("repo", "commit", "last_seq", "__action", "__content_len")
            .where(F.col("__action").isin("insert", "update", "delete", "delete_noop"))
            .withColumn(
                "__op",
                F.when(F.col("__action") == "delete_noop", F.lit("delete")).otherwise(
                    F.col("__action")
                ),
            )
        )
        self._write_rollup(winners, bid)

    def _rollup_backfill(self, bid: str) -> None:
        """Recompute a committed batch's missing rollup (crash landed between
        commit and the async rollup write). The batch's immutable write dir
        is discoverable by its bid tag; files written before __action/
        __content_len existed (or already compacted away) are skipped — the
        rollup is best-effort derived data, never replay state. Batches
        whose side data was REMOVED by ``expire()`` are recorded in a
        tombstone file and never resurrected. A crashed earlier attempt can
        leave a second dir with the same bid tag holding only write-task
        garbage, so every match is tried newest-first rather than trusting
        glob order."""
        import glob as _glob

        if bid in self._expired_side_batches():
            return
        dirs = _glob.glob(os.path.join(self.vault.data_dir, f"w-*-{bid[:8]}-*"))
        for d in sorted(dirs, key=os.path.getmtime, reverse=True):
            try:
                self._rollup_from_dir(d, bid)
                return
            except Exception:
                continue

    def _side_retention_path(self) -> str:
        return os.path.join(self.vault.vault_dir, "side_retention.json")

    def _expired_side_batches(self) -> set[str]:
        p = self._side_retention_path()
        if not os.path.exists(p):
            return set()
        with open(p) as f:
            return set(json.load(f).get("expired", []))

    def _write_rollup(self, winners, bid: str) -> None:
        """Per-batch per-repo ingest rollup — the Gold-layer analog
        (``03_build_flow_dataset.py:66-114``): counts, op mix, byte volume,
        content-length percentiles, seq range, sample commits."""
        (
            winners.withColumn("content_len", F.col("__content_len"))
            .groupBy("repo")
            .agg(
                F.count(F.lit(1)).alias("events"),
                F.sum((F.col("__op") == "insert").cast("long")).alias("inserts"),
                F.sum((F.col("__op") == "update").cast("long")).alias("updates"),
                F.sum((F.col("__op") == "delete").cast("long")).alias("deletes"),
                F.sum(F.coalesce(F.col("content_len"), F.lit(0))).alias("bytes"),
                F.expr("percentile_approx(content_len, 0.5)").alias("p50_content_len"),
                F.expr("percentile_approx(content_len, 0.95)").alias("p95_content_len"),
                F.min("last_seq").alias("first_seq"),
                F.max("last_seq").alias("last_seq"),
                # deterministic hash-thinned sample: collect_set over every
                # distinct commit builds multi-thousand-element sets per repo
                # before the slice; thin to ~2.4% first (still "a sample")
                F.slice(
                    F.collect_set(
                        F.when(F.abs(F.xxhash64("commit")) % 41 == 0, F.col("commit"))
                    ),
                    1,
                    5,
                ).alias("sample_commits"),
            )
            .write.mode("overwrite")  # per-batch subdir => idempotent on retry
            .parquet(os.path.join(self.metrics_dir, f"batch_id={bid}"))
        )
