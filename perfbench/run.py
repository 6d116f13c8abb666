#!/usr/bin/env python3
"""Seeded closed-loop benchmark of the CDC engine on ``local[3]``.

Run from the repository root::

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 20 --trace 0

One client process drives the engine through its public API and times each
call from outside. A run is: set-up (Spark start, WAL generation, preload,
one untimed warm-up call of every timed kind), a timed region of fixed work
(an ingest phase, then a serve phase) that takes about ``--seconds`` on a
4-core host, then the output checks. The work does not depend on
``--seconds`` or on the speed of the code, so every run of a workload
measures the same calls. The last stdout line is one JSON object;
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics and writes the spans to ``.perfbench/traces/``.

Workloads (sizes in ``WORKLOADS``; why each exists in ``perfbench/README.md``):

- ``bulk_replay``: a fresh table per trial, one ``replay`` call over a WAL of
  a few large chunks; serve phase reads the last trial's table.
- ``tail_upsert``: a preloaded table, then small chunks replayed one call at
  a time as they "arrive", with ``expire`` every few chunks; serve phase
  reads the resulting multi-snapshot table.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import pyarrow as pa
import pyarrow.compute as pc

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from observability_platform___databricks_etl_pipeline_spark import get_spark  # noqa: E402
from observability_platform___databricks_etl_pipeline_spark.functions.classify import (  # noqa: E402
    classify_op_expr,
)
from observability_platform___databricks_etl_pipeline_spark.functions.langinfer import (  # noqa: E402
    infer_lang_expr,
)
from observability_platform___databricks_etl_pipeline_spark.functions.sanitize import (  # noqa: E402
    sanitize_guarded_expr,
)
from observability_platform___databricks_etl_pipeline_spark.gen import (  # noqa: E402
    generate_changelog,
    write_wal,
)
from observability_platform___databricks_etl_pipeline_spark.plans import CDCEngine  # noqa: E402
from observability_platform___databricks_etl_pipeline_spark.sources.lakevault_ds import (  # noqa: E402
    register as register_lakevault,
)
from observability_platform___databricks_etl_pipeline_spark.sources.wal import (  # noqa: E402
    list_chunks,
    read_chunk,
)
from oracle import Oracle  # noqa: E402
from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from tracing import StageStats, Tracer, peak_rss_mb  # noqa: E402

# Held fixed on both sides of every comparison. Three task threads on the
# 4-core host leave a core to the driver, the JVM's JIT and GC threads and
# the Python workers: at local[4] the same runs spread ~2.5x wider.
MASTER = "local[3]"
SHUFFLE_PARTITIONS = 8
N_BUCKETS = 16  # CDCEngine's default
DRIVER_MEMORY = "2g"
HOT_REPO = "org/hot-repo"
COLD_REPOS = [f"org/repo-{i:04d}" for i in range(50)]

# One WAL per workload: ``chunks`` chunks of ``chunk`` events. ``n_paths``
# sizes the key space so that later chunks are updates-heavy: the hot repo
# (half the events) is mostly covered after 30k events at 48 paths, and after
# 5k events at 8 paths, where tail chunks then update ~40% existing keys.
# The timed work is fixed, whatever the speed of the code: ``trials`` bulk
# trials, or every tail chunk after the preload, then SERVE_ROUNDS rounds.
WORKLOADS = {
    "bulk_replay": {"chunk": 30_000, "chunks": 2, "n_paths": 48, "trials": 2,
                    "schema_evolution": True},
    # chunk 0 preloads the table (the warm-up replay), the other 3 arrive timed
    "tail_upsert": {"chunk": 5_000, "chunks": 4, "n_paths": 8,
                    "schema_evolution": False, "expire_every": 2},
}
KEEP_SNAPSHOTS = 3
SERVE_ROUNDS = 2
READ_KINDS = ("scan", "lookup", "lookup_hot", "changes", "ds_scan")

END_TO_END = {
    "events_per_s": "1/s",
    "batch_latency_p50_s": "s",
    "write_amplification": "ratio",
    "space_amplification": "ratio",
    "read_ops_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def process_age_s() -> float:
    """Seconds since this process started (Linux ``/proc``)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, fn)) for dp, _dn, fns in os.walk(path) for fn in fns
    )


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Table:
    """One engine table plus what the checks need to know about it."""

    def __init__(self, spark, root: str) -> None:
        self.root = root
        self.eng = CDCEngine(spark, root, n_buckets=N_BUCKETS)
        self.chunk_dirs: list[str] = []  # WAL chunks replayed into it, in order
        self.bounds: dict[int, int] = {0: 0}  # snapshot id -> exclusive WAL seq bound


class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        self.workload = args.workload
        self.cfg = WORKLOADS[args.workload]
        self.seed = args.seed
        self.seconds = args.seconds  # nominal: the timed work is fixed
        self.traced = args.trace == 1
        self.corrupt = args.corrupt_expected
        self.tracer = Tracer(self.traced)
        self.rng = random.Random(args.seed)
        self.work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
        self.ops: list[dict] = []  # every timed call
        self.layer: dict[str, float] = {}
        self.problems: list[str] = []
        self.timed_s = 0.0  # wall of the timed calls (checks excluded)
        self.rounds = 0
        self.setup_s = None
        self.oracle = Oracle()
        self._live_cache: dict[tuple, pa.Table] = {}
        self.spark = None

    # ---- set-up ------------------------------------------------------------

    def start_session(self) -> None:
        for d in ("local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp  # gettempdir() may have cached /tmp already
        # every JVM of the launch (spark-submit's launcher too) keeps its
        # temporary files inside the work dir
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        # Python workers (the lakevault data source reader) import the package
        pp = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
        self.spark = get_spark(
            app_name="perfbench",
            master=MASTER,
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._jvm = self.spark.sparkContext._gateway.proc
        register_lakevault(self.spark)

    def gen_wal(self) -> str:
        """Write the workload's seeded WAL. With schema evolution the
        generator moves two data events to seqs ``n, n+1``, so asking for
        ``n - 2`` events keeps every seq below ``n`` and the chunk count
        exact."""
        cfg = self.cfg
        n = cfg["chunk"] * cfg["chunks"] - (2 if cfg["schema_evolution"] else 0)
        df = generate_changelog(
            self.spark, n, n_paths=cfg["n_paths"], seed=self.seed,
            with_schema_evolution=cfg["schema_evolution"],
        )
        path = os.path.join(self.work, "wal")
        write_wal(df, path, chunk_size=cfg["chunk"])
        return path

    def setup(self) -> None:
        with self.tracer.span("session") as sp:
            self.start_session()
        self.layer["session.start_s"] = sp["wall_s"]
        with self.tracer.span("gen") as sp:
            self.wal = self.gen_wal()
        self.layer["gen.wal_write_s"] = sp["wall_s"]
        with self.tracer.span("preload") as sp:
            # the warm-up call of the timed kind replays the WAL's first
            # chunk; on tail_upsert that table is the preloaded one
            warm = self.table = Table(self.spark, os.path.join(self.work, "warm"))
            self.replay(warm, [0], timed=False)
        self.layer["setup.preload_s"] = sp["wall_s"]
        with self.tracer.span("warmup") as sp:
            self.serve_round(warm, timed=False)
        self.layer["setup.warmup_s"] = sp["wall_s"]
        if self.workload == "bulk_replay":
            shutil.rmtree(warm.root, ignore_errors=True)

    # ---- timed calls ---------------------------------------------------------

    def _call(self, kind: str, timed: bool, fn, **attrs) -> dict:
        if timed and self.setup_s is None:
            self.setup_s = process_age_s()
        op = {"kind": kind, "ok": True}
        with self.tracer.span(kind, **attrs) as sp:
            try:
                fn(op)
            except Exception:  # a failed call is counted, the run goes on
                traceback.print_exc(file=sys.stderr)
                op["ok"] = False
                self.problems.append(f"{kind} raised")
        op["wall_s"], op["span"] = sp["wall_s"], sp
        if timed:
            self.timed_s += sp["wall_s"]
            self.ops.append(op)
        return op

    def replay(self, t: Table, chunks: list[int] | None, timed: bool = True) -> dict:
        eng, wal, chunk_size = t.eng, self.wal, self.cfg["chunk"]

        def call(op):
            before = dict(eng.phase_seconds)
            sid0 = eng.vault.current_snapshot_id()
            res = eng.replay(wal, chunks=chunks)
            done = [b for b in res.batches if not b.skipped]
            op.update(
                batches=len(done),
                bytes_written=sum(b.bytes_written for b in done),
                logical_bytes=sum(b.logical_bytes for b in done),
                rows_read=sum(b.rows_read for b in done),
                deduped=sum(b.deduped for b in done),
                applied=sum(b.inserted + b.updated + b.deleted for b in done),
                stale_ignored=sum(b.stale_ignored for b in done),
                quarantined=sum(b.quarantined for b in done),
                **{
                    name: eng.phase_seconds.get(key, 0.0) - before.get(key, 0.0)
                    for name, key in (("control_s", "control_phase"),
                                      ("merge_s", "merge_transform_write"),
                                      ("commit_s", "commit_manifest"))
                },
            )
            bad = [b.batch_id for b in done if not b.conserved()]
            if bad or len(done) != len(chunks or list_chunks(wal)):
                op["ok"] = False
                self.problems.append(f"replay: {len(done)} batches committed, not conserved: {bad}")
            for c in sorted({b.chunk for b in done}):
                t.chunk_dirs.append(os.path.join(wal, f"chunk={c}"))
            for sid in range(sid0 + 1, res.snapshot_id + 1):
                chunk = eng.vault.snapshot(sid).summary.get("chunk")
                t.bounds[sid] = (chunk + 1) * chunk_size

        return self._call("replay", timed, call, chunks=chunks)

    def expire(self, t: Table) -> dict:
        return self._call("expire", True, lambda op: t.eng.expire(keep_last=KEEP_SNAPSHOTS))

    def read(self, kind: str, build, check: tuple, timed: bool) -> dict:
        """Plan a read, then materialize it to the noop sink; the row counts
        the check needs ride the same pass as an observation."""
        def call(op):
            with self.tracer.span(f"{kind}.plan") as p:
                df = build()
            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"),
                            F.sum((~F.col("is_deleted")).cast("long")).alias("live"))
            with self.tracer.span(f"{kind}.exec") as e:
                df.write.format("noop").mode("overwrite").save()
            got = obs.get
            op.update(plan_s=p["wall_s"], exec_s=e["wall_s"], check=check,
                      rows=got["rows"], live=got["live"] or 0)

        return self._call(kind, timed, call)

    def serve_round(self, t: Table, timed: bool = True) -> None:
        eng, spark = t.eng, self.spark
        # lookups alternate a seeded cold repo with the hot repo; both touch
        # every bucket's files, so their cost differs little and a run's read
        # figures barely depend on how many rounds fit in its serve phase
        self.rounds += 1
        repo = self.rng.choice(COLD_REPOS) if self.rounds % 2 else HOT_REPO
        head = eng.vault.current_snapshot_id()
        frm = head - 1  # the last batch's changes
        self.read("scan", eng.current_state, ("scan",), timed)
        self.read("lookup" if self.rounds % 2 else "lookup_hot", lambda: eng.lookup(repo),
                  ("lookup", repo), timed)
        self.read("changes", lambda: eng.changes(frm), ("changes", frm, head), timed)
        self.read("ds_scan", lambda: spark.read.format("lakevault").load(t.root),
                  ("ds",), timed)

    def timed(self) -> Table:
        cfg = self.cfg
        with self.tracer.span("ingest"):
            if self.workload == "bulk_replay":
                table = None
                for n in range(cfg["trials"]):
                    t = Table(self.spark, os.path.join(self.work, f"tbl-{n}"))
                    with self.tracer.span("trial", n=n):
                        op = self.replay(t, None)
                        self.expire(t)
                    self.check_state(t, op)
                    if table is not None:
                        shutil.rmtree(table.root, ignore_errors=True)
                    table = t
            else:
                table = self.table
                for n in range(1, cfg["chunks"]):
                    op = self.replay(table, [n])
                    if n % cfg["expire_every"] == 0:
                        self.expire(table)
                if n % cfg["expire_every"]:
                    self.expire(table)  # retention before serving, as an operator would
                self.check_state(table, op)
        with self.tracer.span("serve"):
            for _ in range(SERVE_ROUNDS):
                self.serve_round(table)
        return table

    # ---- output checks (outside the timed region) ------------------------------

    def live(self, chunk_dirs: list[str], seq_below: int | None = None) -> pa.Table:
        key = (tuple(chunk_dirs), seq_below)
        if key not in self._live_cache:
            self._live_cache[key] = self.oracle.live(chunk_dirs, seq_below)
        return self._live_cache[key]

    def check_state(self, t: Table, op: dict) -> None:
        """HEAD live state vs the reference; a mismatch fails ``op``."""
        expected = self.live(t.chunk_dirs)
        if self.corrupt and expected.num_rows:
            shas = expected.column("content_sha256").to_pylist()
            shas[0] = "0" * 64
            i = expected.schema.get_field_index("content_sha256")
            expected = expected.set_column(i, "content_sha256", pa.array(shas))
        # hash the content the engine returns; its stored hash column must agree
        sha = F.sha2(F.coalesce(F.col("content"), F.lit("")), 256)
        state = (
            t.eng.current_state()
            .select(
                "repo", "path", "last_seq", sha.alias("content_sha256"),
                (~F.col("content_sha256").eqNullSafe(sha)).alias("stale_hash"),
                F.col("content").contains("@example.com").alias("leak"),
                F.coalesce(F.length("content"), F.lit(0)).alias("content_len"),
            )
            .toArrow()
        )
        t.content_bytes = pc.sum(state.column("content_len")).as_py() or 0
        bad = self.oracle.mismatches(expected, state.select(["repo", "path", "last_seq", "content_sha256"]))
        stale = pc.sum(state.column("stale_hash")).as_py() or 0
        leaks = pc.sum(state.column("leak")).as_py() or 0
        if bad or stale or leaks:
            op["ok"] = False
            self.problems.append(f"state: {bad} rows differ from the reference, "
                                 f"{stale} with a stored hash not of their content, {leaks} unredacted")

    def check_reads(self, t: Table) -> None:
        """Row counts each timed read observed, against the reference."""
        live = self.live(t.chunk_dirs)
        for op in self.ops:
            check = op.get("check")
            if check is None or not op["ok"]:
                continue
            if check[0] == "scan":
                ok = op["rows"] == live.num_rows
            elif check[0] == "lookup":
                ok = op["rows"] == self.oracle.count_repo(live, check[1])
            elif check[0] == "changes":
                _, frm, to = check
                ok = op["rows"] == self.oracle.change_count(
                    self.live(t.chunk_dirs, t.bounds[frm]), self.live(t.chunk_dirs, t.bounds[to])
                )
            else:
                ok = op["live"] == live.num_rows
            if not ok:
                op["ok"] = False
                self.problems.append(f"read {check} differs from the reference")

    # ---- metrics -------------------------------------------------------------

    def end_to_end(self, t: Table) -> dict[str, float]:
        rep = [o for o in self.ops if o["kind"] == "replay" and o["ok"]]
        reads = [o for o in self.ops if o["kind"] in READ_KINDS and o["ok"]]
        logical = sum(o["logical_bytes"] for o in rep)
        return {
            "events_per_s": median(o["rows_read"] / o["wall_s"] for o in rep),
            "batch_latency_p50_s": median(o["wall_s"] / o["batches"] for o in rep),
            "write_amplification": sum(o["bytes_written"] for o in rep) / logical if logical else 0.0,
            "space_amplification": du(t.root) / t.content_bytes if t.content_bytes else 0.0,
            "read_ops_per_s": len(reads) / sum(o["wall_s"] for o in reads) if reads else 0.0,
            "setup_s": self.setup_s or 0.0,
            "peak_rss_mb": peak_rss_mb() + peak_rss_mb(self._jvm.pid),
        }

    def per_layer(self, t: Table, e2e: dict[str, float]) -> dict[str, float]:
        """Layer metrics of the traced run, each a median over the calls of
        one kind unless named otherwise."""
        spark, eng = self.spark, t.eng
        stats = StageStats(spark)
        for op in self.ops:
            sp = op["span"]
            op["stages"] = stats.window(sp["start"], sp["end"])
        rep = [o for o in self.ops if o["kind"] == "replay"]
        L = dict(self.layer)

        def med(ops, fn):
            return median(fn(o) for o in ops)

        for name, key in (("executor_run_s", "run_s"), ("executor_cpu_s", "cpu_s"),
                          ("gc_s", "gc_s"), ("jobs", "jobs"), ("tasks", "tasks"),
                          ("shuffle_write_bytes", "shuffle_write"),
                          ("shuffle_read_bytes", "shuffle_read"), ("spill_bytes", "spill"),
                          ("task_time_max_over_median", "skew")):
            L[f"replay.{name}"] = med(rep, lambda o: o["stages"][key])
        for name, key in (("replay.control_s", "control_s"),
                          ("replay.merge_transform_write_s", "merge_s"),
                          ("replay.commit_s", "commit_s"), ("replay.rows_read", "rows_read"),
                          ("replay.deduped", "deduped"), ("replay.applied", "applied"),
                          ("replay.stale_ignored", "stale_ignored"),
                          ("replay.quarantined", "quarantined"),
                          ("lakevault.bytes_written", "bytes_written")):
            L[name] = med(rep, lambda o: o[key])
        rows = sum(o["rows_read"] for o in rep)
        L["replay.useful_ratio"] = sum(o["applied"] for o in rep) / rows if rows else 0.0
        L["lakevault.expire_s"] = med([o for o in self.ops if o["kind"] == "expire"],
                                      lambda o: o["wall_s"])
        snap = eng.vault.snapshot()
        L["lakevault.live_files"] = len(snap.files)
        L["lakevault.snapshots"] = len(eng.vault.snapshot_ids())
        L["lakevault.metadata_bytes"] = du(eng.vault.vault_dir)
        for kind in READ_KINDS:
            name = "lakevault_ds.scan_p50_s" if kind == "ds_scan" else f"lakevault.{kind}_p50_s"
            L[name] = med([o for o in self.ops if o["kind"] == kind], lambda o: o["wall_s"])
        for kind in ("scan", "lookup", "changes"):
            ops = [o for o in self.ops if o["kind"] == kind]
            L[f"lakevault.{kind}.plan_s"] = med(ops, lambda o: o["plan_s"])
            L[f"lakevault.{kind}.exec_s"] = med(ops, lambda o: o["exec_s"])
        lookups = [o for o in self.ops if o["kind"] == "lookup"]
        L["lakevault.files_per_lookup"] = med(
            lookups, lambda o: len(eng.vault.pruned_files(snap, key_range=(o["check"][1],) * 2)))
        live = self.live(t.chunk_dirs)
        L["lakevault.rows_examined_per_row_returned"] = med(
            lookups,
            lambda o: o["stages"]["input_records"]
            / max(self.oracle.count_repo(live, o["check"][1]), 1),
        )
        changes = [o for o in self.ops if o["kind"] == "changes"]

        def changed_files(o):
            """Files in the buckets whose file sets differ between the span's ends."""
            a, b = ({} for _ in range(2))
            for side, sid in ((a, o["check"][1]), (b, o["check"][2])):
                for f in eng.vault.snapshot(sid).files:
                    side.setdefault(f["bucket"], set()).add(f["path"])
            return sum(len(a.get(k, set()) | b.get(k, set()))
                       for k in set(a) | set(b) if a.get(k) != b.get(k))

        L["lakevault.changes_files"] = med(changes, changed_files)
        L["lakevault.changes_shuffle_bytes"] = med(changes, lambda o: o["stages"]["shuffle_write"])
        ds = [o for o in self.ops if o["kind"] == "ds_scan"]
        L["lakevault_ds.plan_s"] = med(ds, lambda o: o["plan_s"])
        L["lakevault_ds.executor_run_s"] = med(ds, lambda o: o["stages"]["run_s"])
        L["lakevault_ds.partitions"] = spark.read.format("lakevault").load(t.root).rdd.getNumPartitions()
        # single-layer probes over the ingest WAL's chunks, outside the timed region
        wal_rates, fn_rates = [], []
        for d in t.chunk_dirs[-2:]:
            wal_dir, chunk = d.rsplit("/chunk=", 1)
            n = read_chunk(spark, wal_dir, int(chunk)).count()
            with self.tracer.span("probe.wal_scan") as sp:
                read_chunk(spark, wal_dir, int(chunk)).write.format("noop").mode("overwrite").save()
            wal_rates.append(n / sp["wall_s"])
            df = read_chunk(spark, wal_dir, int(chunk))
            df = df.select(
                "path",
                classify_op_expr(F.col("op"), F.col("content")).alias("op"),
                sanitize_guarded_expr(F.col("content")).alias("content"),
            ).select("op", "content", infer_lang_expr(F.col("path"), F.col("content")).alias("lang"))
            with self.tracer.span("probe.transform") as sp:
                df.write.format("noop").mode("overwrite").save()
            fn_rates.append(n / sp["wall_s"])
        L["sources.wal.scan_rows_per_s"] = median(wal_rates)
        L["functions.transform_rows_per_s"] = median(fn_rates)
        L["driver.peak_rss_mb"] = peak_rss_mb()
        L["jvm.peak_rss_mb"] = peak_rss_mb(self._jvm.pid)
        for k, v in e2e.items():
            L[f"traced.{k}"] = v
        return L

    # ---- driver ----------------------------------------------------------------

    def execute(self) -> dict:
        with self.tracer.span("workload", workload=self.workload, seed=self.seed):
            with self.tracer.span("setup"):
                self.setup()
            with self.tracer.span("timed"):
                table = self.timed()
            with self.tracer.span("check"):
                self.check_reads(table)
            e2e = self.end_to_end(table)
            metrics = self.per_layer(table, e2e) if self.traced else e2e
        failed = sum(not o["ok"] for o in self.ops)
        rows = [(k, v, END_TO_END.get(k) or layer_unit(k)) for k, v in metrics.items()]
        for k, v, unit in rows:
            print(f"{self.workload:12s} {k:42s} {v:16.4f} {unit}")
        if not self.traced:
            # the per-read-type medians are per-layer metrics in the JSON; shown
            # here with the failure ratio so one command prints them all
            extra = {f"{k}_p50_s": median(o["wall_s"] for o in self.ops if o["kind"] == k)
                     for k in READ_KINDS}
            extra["failed_ops_ratio"] = failed / max(len(self.ops), 1)
            for k, v in extra.items():
                print(f"{self.workload:12s} {k:42s} {v:16.4f} {'ratio' if k.startswith('failed') else 's'}")
        print(f"{self.workload:12s} {'timed calls (fixed work)':42s} {self.timed_s:16.4f} s"
              f" (--seconds {self.seconds:g})")
        for p in self.problems:
            print(f"CHECK FAILED: {p}")
        if self.traced:
            out = os.path.join(ROOT, ".perfbench", "traces", f"{self.workload}-seed{self.seed}.json")
            self.tracer.write(out)
            print(f"spans written to {out}")
        return {
            "correct": failed == 0 and not self.problems,
            "attempted": len(self.ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit} for k, v, unit in rows},
        }

    def close(self) -> None:
        self.oracle.close()
        if self.spark is not None:
            self.spark.stop()
            # the JVM exits when its stdin closes; wait for it (and the
            # Python workers it started) to end
            self._jvm.stdin.close()
            try:
                self._jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._jvm.kill()
                self._jvm.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def layer_unit(name: str) -> str:
    if name.startswith("traced."):
        return END_TO_END[name.split(".", 1)[1]]
    for suffix, unit in (("_rows_per_s", "1/s"), ("_s", "s"), ("_bytes", "bytes"),
                         ("bytes_written", "bytes"),
                         ("_mb", "MB"), ("_ratio", "ratio"), ("_over_median", "ratio"),
                         ("_per_row_returned", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="flip one expected row before the state check (proves the check can fail)")
    args = ap.parse_args(argv)
    run = Run(args)
    try:
        result = run.execute()
    finally:
        run.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
