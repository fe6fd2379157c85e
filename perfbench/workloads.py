"""The four benchmark workloads.

Each workload has a `setup` (untimed work, reported as ``setup_s``), a
`timed` section that runs for the requested seconds and records one
latency sample per operation, and a `check` that compares the engine's
outputs with a DuckDB oracle outside the timed section.

In traced mode the benchmark wraps its own calls into the engine in
spans (see spans.py); the table objects it hands the engine get
instance-level wrappers around their commit and compaction methods, and
tables are created with a tracing commit-store wrapper. No engine code changes.
"""

from __future__ import annotations

import glob
import os
import statistics
import threading
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

from gen import Feed, write_parquet
from orientdb_neo4j_importer_plugin_spark.cdc import apply_changes
from orientdb_neo4j_importer_plugin_spark.lake import SnapshotTable
from orientdb_neo4j_importer_plugin_spark.lake.commitstore import LocalFSCommitStore
from orientdb_neo4j_importer_plugin_spark.operators import dedup as D
from orientdb_neo4j_importer_plugin_spark.operators import repetition as RP
from orientdb_neo4j_importer_plugin_spark.operators import transcripts as TR
from orientdb_neo4j_importer_plugin_spark.oracle import reduce_events_duckdb
from orientdb_neo4j_importer_plugin_spark.schema import CHANGE_EVENT, TRANSCRIPTS_V1
from orientdb_neo4j_importer_plugin_spark.streaming.cdf_source import LakeCdfDataSource
from orientdb_neo4j_importer_plugin_spark.streaming.runner import CdcStreamRunner
from pyspark.sql import functions as F

STATE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


class Ctx:
    """What a workload needs: session, tracer, scratch dir, config, seed."""

    def __init__(self, spark, tracer, work, scale_cfg, feed_cfg, spark_cfg, seed):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.scale = scale_cfg
        self.feed_cfg = feed_cfg
        self.spark_cfg = spark_cfg
        self.seed = seed
        self.commits: list[dict] = []
        self.compactions: list[dict] = []

    def feed(self, wl_cfg: dict, salt: int) -> Feed:
        cfg = {**self.feed_cfg, **wl_cfg}
        return Feed(self.seed * 1009 + salt, cfg)

    def new_table(self, root: str, schema=TRANSCRIPTS_V1) -> SnapshotTable:
        store = TracedStore(LocalFSCommitStore(), self.tracer) if self.tracer.enabled else None
        with self.tracer.span("lake.table.create"):
            t = SnapshotTable.create(
                self.spark,
                root,
                schema,
                "conv_id",
                num_buckets=self.spark_cfg["num_buckets"],
                commit_store=store,
            )
        if self.tracer.enabled:
            instrument_table(t, self)
        return t


# -- instrumentation (traced mode only) ----------------------------------------


class TracedStore:
    """Commit-store wrapper: a span per call, marked when it lost a race."""

    def __init__(self, inner, tracer):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):
        fn = getattr(self._inner, name)
        if not callable(fn) or name == "mutex":
            return fn
        tracer = self._tracer

        def wrapped(*a, **kw):
            with tracer.span("lake.commitstore", method=name) as s:
                out = fn(*a, **kw)
            s.attrs["lost"] = (name == "claim_version" and out is None) or (
                name == "swap_pointer" and out is False
            )
            return out

        return wrapped


def instrument_table(table: SnapshotTable, ctx: Ctx) -> None:
    """Instance-level spans around the table's commit and compaction."""
    for name in ("commit_delta_append", "commit_bucket_rewrite"):
        fn = getattr(table, name)

        def commit(*a, _fn=fn, _name=name, **kw):
            touched = kw.get("touched_buckets", a[1] if len(a) > 1 else [])
            before = table.current().version
            with ctx.tracer.span("lake.table.commit", method=_name) as s:
                snap = _fn(*a, **kw)
            ctx.commits.append(
                {"span": s.id, "before": before, "after": snap.version,
                 "touched": len(touched or []), "table": table}
            )
            return snap

        setattr(table, name, commit)
    compact_fn = table.compact

    def compact(*a, **kw):
        before = table.current().version
        with ctx.tracer.span("lake.table.compact") as s:
            snap = compact_fn(*a, **kw)
        ctx.compactions.append(
            {"span": s.id, "before": before, "after": snap.version, "table": table}
        )
        return snap

    table.compact = compact


# -- helpers --------------------------------------------------------------------


def force(df) -> None:
    """Run a DataFrame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def ts_us(v):
    return None if v is None else round(v.timestamp() * 1_000_000)


def norm_state(rows) -> list[tuple]:
    return sorted(
        (r[0], r[1], r[2], r[3], r[4], ts_us(r[5])) for r in rows
    )


def engine_state(table: SnapshotTable) -> list[tuple]:
    df = table.read()
    cols = [F.col(c) if c in df.columns else F.lit(None).alias(c) for c in STATE_COLS]
    return norm_state(df.select(*cols).collect())


def oracle_state(src: str | list[str]) -> list[tuple]:
    """LWW final state by DuckDB: `oracle.reduce_events_duckdb` over a WAL
    glob, or the same reduction over an explicit file list."""
    if isinstance(src, str):
        return norm_state(reduce_events_duckdb(src, has_tool=True).fetchall())
    con = duckdb.connect()
    rows = con.execute(f"{oracle_state_rel(src)} SELECT * FROM state").fetchall()
    return norm_state(rows)


def read_parquet_sql(files: list[str]) -> str:
    lst = ", ".join(f"'{f}'" for f in files)
    return f"read_parquet([{lst}], union_by_name=true)"


def oracle_state_rel(files: list[str]) -> str:
    has_tool = any("tool" in pq.read_schema(f).names for f in files)
    tool = "tool" if has_tool else "CAST(NULL AS VARCHAR) AS tool"
    return f"""
WITH ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM {read_parquet_sql(files)}
),
state AS (
  SELECT conv_id, turn_idx, role, text, {tool}, ts FROM ranked
  WHERE rn = 1 AND op <> 'D'
)"""


def diff_count(a: list[tuple], b: list[tuple]) -> int:
    da = {r[:2]: r for r in a}
    db = {r[:2]: r for r in b}
    return sum(1 for k in da.keys() | db.keys() if da.get(k) != db.get(k))


# -- stream_tail ------------------------------------------------------------------


class StreamTail:
    """Open loop: a generator thread lands pre-generated WAL chunks at a
    fixed rate; CdcStreamRunner(mode="mor", compact_every=k) tails them."""

    name = "stream_tail"
    CHUNK_ROWS = 25
    TOOL_FROM = 0.5  # the tool column appears halfway through the chunks
    DRAIN_TIMEOUT_S = 60

    def __init__(self, ctx: Ctx, cfg: dict | None = None):
        self.ctx = ctx
        self.cfg = cfg or ctx.scale[self.name]

    def setup(self, rep: int | str, seconds: float) -> dict:
        c, ctx = self.cfg, self.ctx
        d = os.path.join(ctx.work, f"stream{rep}")
        feed = ctx.feed(c, 1)
        base_dir = os.path.join(d, "wal_base")
        os.makedirs(base_dir)
        base = feed.events(c["base_events"])
        feed.write_batch(base, base_dir, 1, with_tool=False)
        # the warm-up chunk, enough chunks for the window at the fixed rate,
        # then the bursts
        sizes = [self.CHUNK_ROWS] * (int(seconds * c["chunks_per_s"]) + 1)
        sizes += [c["burst_rows"]] * c["bursts"]
        chunks = feed.chunk_tables(feed.events(sum(sizes)), sizes, self.TOOL_FROM)
        staged = os.path.join(d, "staged")
        os.makedirs(staged)
        paths = []
        for i, t in enumerate(chunks):
            p = os.path.join(staged, f"chunk-{i:05d}.parquet")
            write_parquet(t, p, self.CHUNK_ROWS // 4)
            paths.append(p)
        table = ctx.new_table(os.path.join(d, "table"))
        apply_changes(ctx.spark.read.parquet(base_dir), table, batch_id="base")
        return {"dir": d, "table": table, "staged": paths,
                "rows": [t.num_rows for t in chunks],
                "base_files": glob.glob(base_dir + "/*.parquet"), "landed": []}

    def land(self, st: dict, i: int, due: float) -> None:
        src = st["staged"][i]
        dst = os.path.join(st["feed_dir"], os.path.basename(src))
        os.replace(src, dst)
        st["landed"].append((dst, due, time.time(), st["rows"][i]))

    def drain(self, st: dict, upto: int) -> bool:
        """Wait until the runner has processed chunks 0..upto."""
        q, n = st["query"], sum(st["rows"][: upto + 1])
        deadline = time.time() + self.DRAIN_TIMEOUT_S
        while sum(p["numInputRows"] for p in q.recentProgress) < n:
            if time.time() > deadline or q.exception() is not None:
                return False
            time.sleep(0.02)
        return True

    def warmup(self, st: dict) -> None:
        """Start the runner and drain the first chunk: query start and
        first-batch compilation stay out of the timed section."""
        c, ctx = self.cfg, self.ctx
        st["feed_dir"] = os.path.join(st["dir"], "wal")
        os.makedirs(st["feed_dir"])
        st["runner"] = CdcStreamRunner(
            ctx.spark, st["feed_dir"], st["table"], os.path.join(st["dir"], "ckpt"),
            event_schema=CHANGE_EVENT, mode="mor", compact_every=c["compact_every"],
        )
        st["query"] = st["runner"].start(available_now=False)
        self.land(st, 0, time.time())
        st["drained"] = self.drain(st, 0)

    def timed(self, st: dict, seconds: float) -> dict:
        c, q = self.cfg, st["query"]
        n = len(st["staged"]) - 1 - c["bursts"]
        rate = c["chunks_per_s"]
        t0 = time.time()

        def generator():
            for i in range(n):
                due = t0 + i / rate
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                self.land(st, i + 1, due)

        g = threading.Thread(target=generator, name="perfbench-wal-generator")
        g.start()
        g.join()
        ok = st["drained"] and self.drain(st, n)
        # drain capacity: one burst chunk at a time into the idle runner
        for i in range(n + 1, n + 1 + c["bursts"]):
            self.land(st, i, time.time())
            ok = ok and self.drain(st, i)
        wall = time.time() - t0
        progress = list(q.recentProgress)
        q.stop()
        q.awaitTermination(30)
        if self.ctx.tracer.enabled:
            self.trace_batches(progress, t0, t0 + wall)
        # freshness: chunk due time -> commit time of the snapshot holding it
        file_batch = source_log(os.path.join(st["dir"], "ckpt"))
        commit_at = batch_commit_times(st["table"], st["runner"].batch_id_prefix)
        fresh, late, waits, drains = [], [], [], []
        starts = {p["batchId"]: iso_s(p["timestamp"]) for p in progress}
        missing = 0
        landed = st["landed"]
        for i, (path, due, at, rows) in enumerate(landed[1:], start=1):
            b = file_batch.get(os.path.basename(path))
            if b is None or b not in commit_at:
                missing += 1
                continue
            if i > n:
                # a burst lands in an idle runner; its batch commits before
                # any compaction that batch triggers
                drains.append(rows / (commit_at[b] - at))
                continue
            fresh.append(commit_at[b] - due)
            late.append(at - due)
            if b in starts:
                waits.append(max(starts[b] - at, 0.0))
        st.update(drained=ok, missing=missing, queue_waits=waits,
                  progress=[p for p in progress if trigger_end(p) > t0])
        return {
            "t0": t0,
            "wall": wall,
            "latencies": fresh,
            "throughput": statistics.median(drains) if drains else 0.0,
            "attempted": len(landed) - 1,
            "failed": missing,
            "generator_late_s_max": max(late) if late else 0.0,
            "chunks_unmatched": missing,
            "samples": len(fresh),
        }

    def trace_batches(self, progress: list[dict], lo: float, hi: float) -> None:
        """Spans for the micro-batches Spark ran in [lo, hi], from its
        progress reports: the trigger as `streaming.runner` (from `lo` on,
        when it started polling before the window opened) and, inside it,
        addBatch (the foreachBatch apply, compaction included) as
        `cdc.apply`, placed just before the closing offset commit. The
        commit and compaction spans the table wrappers opened on the
        stream's thread move under the apply span they fall in. Time with
        no micro-batch running is idle and carries no span."""
        tracer = self.ctx.tracer
        root = tracer.default_parent
        opened = [s for s in tracer.spans if s.parent == root]
        applies = []
        for p in progress:
            start, end, d = iso_s(p["timestamp"]), trigger_end(p), p["durationMs"]
            if end <= lo or start >= hi:
                continue
            b = tracer.record("streaming.runner", max(start, lo), end, root,
                              batch=p["batchId"])
            if d.get("addBatch"):
                a_end = end - d.get("commitOffsets", 0) / 1e3
                applies.append(tracer.record(
                    "cdc.apply", a_end - d["addBatch"] / 1e3, a_end, b.id))
        for s in opened:
            mid = (s.start + s.end) / 2
            s.parent = next((a.id for a in applies if a.start <= mid <= a.end), root)

    def check(self, st: dict) -> tuple[int, int]:
        # wal_base/ and wal/ hold exactly the files the engine was given
        ok = engine_state(st["table"]) == oracle_state(st["dir"] + "/wal*/*.parquet")
        return 1, 0 if (ok and st["drained"]) else 1

    def wal_bytes(self, st: dict) -> int:
        return sum(os.path.getsize(f) for f in st["base_files"]) + sum(
            os.path.getsize(p) for p, *_ in st["landed"]
        )


def iso_s(ts: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def trigger_end(progress: dict) -> float:
    return iso_s(progress["timestamp"]) + progress["durationMs"].get("triggerExecution", 0) / 1e3


def source_log(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log."""
    import json

    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def batch_commit_times(table: SnapshotTable, prefix: str) -> dict[int, float]:
    """Micro-batch id -> commit time of the snapshot that applied it."""
    out = {}
    cur = table.current().version
    for v in range(1, cur + 1):
        snap = table.snapshot_at(v)
        for lin in snap.lineage[-1:]:
            bid = str(lin.get("batch_id") or "")
            if bid.startswith(prefix + "-"):
                out.setdefault(int(bid.rsplit("-", 1)[1]), snap.committed_at)
    return out


# -- bulk_backfill ------------------------------------------------------------------


class BulkBackfill:
    """Closed loop: apply_changes(mode="cow") on a few large batches, one of
    which evolves the schema; repeated on a fresh table until time is up."""

    name = "bulk_backfill"
    HOT_SHARE = 0.3  # of the events go to the hot conversations
    TOOL_BATCH = 1  # the first batch that carries the tool column

    def __init__(self, ctx: Ctx, cfg: dict | None = None):
        self.ctx = ctx
        self.cfg = cfg or ctx.scale[self.name]

    def setup(self, rep: int | str, seconds: float) -> dict:
        c, ctx = self.cfg, self.ctx
        d = os.path.join(ctx.work, f"bulk{rep}")
        feed = ctx.feed({**c, "hot_share": self.HOT_SHARE}, 2)
        batches = []
        for i in range(c["n_batches"]):
            bd = os.path.join(d, "wal", f"b{i}")
            cols = feed.events(c["batch_events"])
            batches.append(
                feed.write_batch(cols, bd, c["files_per_batch"], with_tool=i >= self.TOOL_BATCH)
            )
        return {"dir": d, "batches": batches}

    def warmup(self, st: dict) -> None:
        """One untimed apply of the first batch's first file into a scratch
        table: compiles the apply path before timing starts."""
        table = self.ctx.new_table(os.path.join(st["dir"], "warmup"))
        apply_changes(
            self.ctx.spark.read.parquet(st["batches"][0][0]),
            table, batch_id="warmup", mode="cow",
        )

    def timed(self, st: dict, seconds: float) -> dict:
        ctx = self.ctx
        lat, events, applied = [], 0, 0
        t0 = time.time()
        cycle = 0
        results = []
        while cycle == 0 or time.time() - t0 < seconds:
            table = ctx.new_table(os.path.join(st["dir"], f"table{cycle}"))
            for i, files in enumerate(st["batches"]):
                a = time.perf_counter()
                with ctx.tracer.span("cdc.apply"):
                    res = apply_changes(
                        ctx.spark.read.parquet(os.path.dirname(files[0])),
                        table, batch_id=f"b{i}", mode="cow",
                    )
                lat.append(time.perf_counter() - a)
                events += res.events_in
                applied += 1
                results.append(res)
            st["table"] = table
            cycle += 1
        wall = time.time() - t0
        st["results"] = results
        return {
            "t0": t0,
            "wall": wall,
            "latencies": lat,
            "throughput": events / sum(lat),
            "attempted": applied,
            "failed": 0,
            "samples": len(lat),
        }

    def check(self, st: dict) -> tuple[int, int]:
        ok = engine_state(st["table"]) == oracle_state(st["dir"] + "/wal/b*/*.parquet")
        return 1, 0 if ok else 1

    def wal_bytes(self, st: dict) -> int:
        return sum(os.path.getsize(f) for b in st["batches"] for f in b)


# -- lake_reads ----------------------------------------------------------------------


class LakeReads:
    """Read side of the lake layer over a MOR table with a compacted base,
    pending deltas, COW versions and one schema change: full scans, batched
    point lookups, changelogs, changelog materialization, change-feed reads,
    and the curation operators over the table state."""

    name = "lake_reads"

    def __init__(self, ctx: Ctx, cfg: dict | None = None):
        self.ctx = ctx
        self.cfg = cfg or ctx.scale[self.name]

    # setup steps: a COW base, a MOR delta, a compaction, a COW batch that
    # adds the tool column (schema change), a trailing MOR delta
    PLAN = ("base", "mor", "compact", "cow", "mor")
    TOOL_FROM_BATCH = 2
    HOT_LOOKUP_SHARE = 0.5  # of the looked-up keys come from hot conversations
    SCAN_EVERY = 4  # a full scan after every this many lookups

    def setup(self, rep: int | str, seconds: float) -> dict:
        c, ctx = self.cfg, self.ctx
        d = os.path.join(ctx.work, f"reads{rep}")
        feed = ctx.feed(c, 3)
        table = ctx.new_table(os.path.join(d, "table"))
        batches: list[list[str]] = []
        versions = {0: 0}  # table version -> number of batches applied
        modes = {}  # version -> kind
        for step in self.PLAN:
            if step == "compact":
                snap = table.compact()
            else:
                n = c["base_events"] if step == "base" else c["delta_events"]
                i = len(batches)
                bd = os.path.join(d, "wal", f"b{i}")
                batches.append(feed.write_batch(
                    feed.events(n), bd, 2, with_tool=i >= self.TOOL_FROM_BATCH))
                res = apply_changes(
                    ctx.spark.read.parquet(bd), table, batch_id=f"b{i}",
                    mode="mor" if step == "mor" else "cow",
                )
                snap = table.snapshot_at(res.snapshot_version)
            versions[snap.version] = len(batches)
            modes[snap.version] = step
        cur = table.current().version
        for v in range(1, cur + 1):
            # a schema-evolution commit lands just before its batch's commit
            versions.setdefault(v, versions[v - 1])
            modes.setdefault(v, "schema")
        kinds = [modes[v] for v in range(1, cur + 1)]
        # append-only window: the trailing MOR versions; rewrite window: the
        # compaction and COW versions
        first_tail = max(v for v in range(1, cur + 1) if kinds[v - 1] != "mor")
        first_rw = min(v for v in range(1, cur + 1) if kinds[v - 1] == "compact")
        windows = [(first_tail, cur), (first_rw - 1, first_tail)]
        keys = sorted({(r[0], r[1]) for r in oracle_state([f for b in batches for f in b])})
        rng = np.random.default_rng(ctx.seed * 31 + 7)
        hot_convs = self._hot_convs(batches)
        hot = [k for k in keys if k[0] in hot_convs]
        return {"dir": d, "table": table, "batches": batches, "versions": versions,
                "windows": windows, "keys": keys, "hot": hot or keys,
                "rng": rng, "lookups": []}

    @staticmethod
    def _hot_convs(batches) -> set[str]:
        files = [f for b in batches for f in b]
        rows = duckdb.sql(
            f"SELECT conv_id FROM {read_parquet_sql(files)} GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 5"
        ).fetchall()
        return {r[0] for r in rows}

    def lookup_keys(self, st: dict) -> list[dict]:
        rng = st["rng"]
        out = []
        for _ in range(self.cfg["keys_per_lookup"]):
            pool = st["hot"] if rng.random() < self.HOT_LOOKUP_SHARE else st["keys"]
            k = pool[int(rng.integers(0, len(pool)))]
            out.append({"conv_id": k[0], "turn_idx": k[1]})
        return out

    def warmup(self, st: dict) -> None:
        """Compile the lookup path and start the Python workers that
        lake_cdf reads run on, as a long-running reader session would have."""
        for _ in range(3):
            force(st["table"].lookup_many(self.lookup_keys(st)))
        spark = self.ctx.spark
        n = spark.sparkContext.defaultParallelism
        force(spark.range(0, n, 1, n).mapInArrow(lambda batches: batches, "id long"))

    def timed(self, st: dict, seconds: float) -> dict:
        """Point lookups for `seconds`, with a full scan after every few;
        then changelogs, materialization, lake_cdf reads and the curation
        operators, once each."""
        spark, table = self.ctx.spark, st["table"]
        span = self.ctx.tracer.span
        lat = []
        ops: dict[str, list[float]] = {}

        def timed_op(kind: str, span_name: str, fn, **attrs):
            a = time.perf_counter()
            with span(span_name, **attrs):
                out = fn()
            ops.setdefault(kind, []).append(time.perf_counter() - a)
            return out

        t0 = time.time()
        while not lat or time.time() - t0 < seconds:
            keys = self.lookup_keys(st)
            a = time.perf_counter()
            with span("lake.table.lookup_many"):
                force(table.lookup_many(keys))
            lat.append(time.perf_counter() - a)
            st["lookups"].append(keys)
            if len(lat) % self.SCAN_EVERY == 0:
                timed_op("scan", "lake.table.read", lambda: force(table.read()))
        if "scan" not in ops:
            timed_op("scan", "lake.table.read", lambda: force(table.read()))
        for i, (lo, hi) in enumerate(st["windows"]):
            timed_op(f"changelog{i}", "lake.table.changelog",
                     lambda: force(table.changelog(lo, hi)))
            timed_op(f"envelope{i}", "lake.table.changelog_envelope",
                     lambda: force(table.changelog_envelope(lo, hi)))
        st["materialized"] = timed_op(
            "materialize", "lake.table.materialize_changelog", table.materialize_changelog)
        for mode in ("filelevel", "rowlevel"):
            timed_op(f"cdf_{mode}", "streaming.cdf_source.read",
                     lambda: force(cdf_reader(spark, table.root, mode)), mode=mode)
        state = table.read()
        docs = documents(state)
        for name, fn, _ in CURATE_OPS:
            timed_op(f"op.{name}", f"operators.{name}", lambda: force(fn(state, docs)))
        wall = time.time() - t0
        st["ops"] = ops
        return {
            "t0": t0,
            "wall": wall,
            "latencies": lat,
            "attempted": len(lat) + sum(len(v) for v in ops.values()),
            "failed": 0,
            "samples": len(lat),
            "scans": len(ops["scan"]),
            "op_s": {k: sum(v) for k, v in ops.items()},
        }

    def throughput(self, st: dict) -> float:
        """Rows produced per second by the non-lookup read operations; row
        counts come from the (untimed) checks."""
        rows = st["rows_out"]
        done = sum(rows[k] * len(v) for k, v in st["ops"].items() if k in rows)
        busy = sum(sum(v) for k, v in st["ops"].items() if k in rows)
        return done / busy

    def check(self, st: dict) -> tuple[int, int]:
        table, spark = st["table"], self.ctx.spark
        batches, versions = st["batches"], st["versions"]
        attempted = failed = 0
        states = {}
        rows_out = st["rows_out"] = {}

        def state_at(v):
            n = versions[v]
            if n not in states:
                states[n] = oracle_state([f for b in batches[:n] for f in b]) if n else []
            return states[n]

        cur = table.current().version
        final = state_at(cur)
        st["final_keys"] = {r[:2] for r in final}
        rows_out["scan"] = len(final)
        attempted += 1
        failed += engine_state(table) != final
        # lookups: the first and last timed calls, re-run and compared
        by_key = {r[:2]: r for r in final}
        for keys in (st["lookups"][0], st["lookups"][-1]):
            got = norm_state(table.lookup_many(keys).select(*STATE_COLS).collect())
            want = sorted({by_key[(k["conv_id"], k["turn_idx"])]
                           for k in keys if (k["conv_id"], k["turn_idx"]) in by_key})
            attempted += 1
            failed += got != want
        # changelog / envelope row counts vs the oracle's per-window diff
        for i, (lo, hi) in enumerate(st["windows"]):
            want = diff_count(state_at(lo), state_at(hi))
            for kind, fn in (("changelog", table.changelog),
                             ("envelope", table.changelog_envelope)):
                n = fn(lo, hi).count()
                rows_out[f"{kind}{i}"] = n
                attempted += 1
                failed += n != want
        # row-level CDF: per-version row counts vs per-version diffs
        per_v = dict(
            cdf_reader(spark, table.root, "rowlevel")
            .groupBy("_commit_version").count().collect()
        )
        rows_out["cdf_rowlevel"] = rows_out["materialize"] = sum(per_v.values())
        for v in range(1, cur + 1):
            attempted += 1
            failed += per_v.get(v, 0) != diff_count(state_at(v - 1), state_at(v))
        # file-level CDF emits every row of every file a commit added; its
        # row count comes from those files' footers
        rows_out["cdf_filelevel"] = sum(
            pq.read_metadata(f).num_rows
            for v in range(1, cur + 1)
            for f in added_data_files(table, v)
        )
        # curation operators vs their DuckDB twins over the oracle state
        con = duckdb.connect()
        cte = oracle_state_rel([f for b in batches for f in b])
        con.execute(f"CREATE TEMP VIEW state_v AS {cte} SELECT * FROM state")
        con.execute(DOCS_SQL)
        state = table.read().persist()
        docs = documents(state)
        for name, fn, sql in CURATE_OPS:
            got = frame_rows(fn(state, docs).toPandas())
            want = frame_rows(con.execute(sql(cte)).fetchdf())
            rows_out[f"op.{name}"] = len(got[1])
            attempted += 1
            failed += got != want
        state.unpersist()
        return attempted, int(failed)

    def wal_bytes(self, st: dict) -> int:
        return sum(os.path.getsize(f) for b in st["batches"] for f in b)


def cdf_reader(spark, root: str, mode: str):
    return (
        spark.read.format("lake_cdf").option("path", root)
        .option("mode", mode).option("fromVersion", 0).load()
    )


def file_diff(table: SnapshotTable, before: int, after: int) -> tuple[list[str], list[str]]:
    """(files added, files removed) between two versions of a table; added
    files as absolute paths."""
    old = set(table.snapshot_at(before).all_files()) if before > 0 else set()
    new = set(table.snapshot_at(after).all_files())
    added = [f if os.path.isabs(f) else os.path.join(table.root, f)
             for f in sorted(new - old)]
    return added, sorted(old - new)


def added_data_files(table: SnapshotTable, v: int) -> list[str]:
    """Data files commit `v` added (what file-level lake_cdf reads for v)."""
    return file_diff(table, v - 1, v)[0]


def register_sources(spark) -> None:
    spark.dataSource.register(LakeCdfDataSource)


# -- curate ---------------------------------------------------------------------------


def documents(state):
    return state.select(
        (F.substring("conv_id", 2, 7).cast("long") * 1000 + F.col("turn_idx")).alias("doc_id"),
        "text",
    ).filter(F.col("text").isNotNull())


DOCS_SQL = """CREATE OR REPLACE TEMP VIEW documents AS
SELECT CAST(substr(conv_id, 2, 7) AS BIGINT) * 1000 + turn_idx AS doc_id, text
FROM state_v WHERE text IS NOT NULL"""

CURATE_OPS = [
    ("training_examples", lambda st, docs: TR.training_examples(st),
     lambda cte: TR.training_examples_sql(cte)),
    ("tool_usage_stats", lambda st, docs: TR.tool_usage_stats(st),
     lambda cte: TR.tool_usage_stats_sql(cte)),
    ("conversation_integrity", lambda st, docs: TR.conversation_integrity(st),
     lambda cte: TR.conversation_integrity_sql(cte)),
    ("ngram_jaccard_pairs", lambda st, docs: D.ngram_jaccard_pairs(docs),
     lambda cte: D.ngram_jaccard_pairs_sql()),
    ("minhash_lsh_pairs", lambda st, docs: D.minhash_lsh_pairs(docs),
     lambda cte: D.minhash_lsh_pairs_sql()),
    ("repetition_signals", lambda st, docs: RP.repetition_signals(docs),
     lambda cte: RP.repetition_signals_sql()),
]


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if v != v else round(v, 6)
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if hasattr(v, "timestamp"):
        return ts_us(v)
    if hasattr(v, "item"):
        return v.item()
    return v


def frame_rows(df) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False)]
    return cols, sorted(rows, key=repr)


WORKLOADS = {w.name: w for w in (StreamTail, BulkBackfill, LakeReads)}
