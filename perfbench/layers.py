"""Per-layer metrics of a traced run.

Every metric is emitted on every workload; a layer the workload does not
call reports 0. Span names map onto the engine's modules (see README.md).
"""

from __future__ import annotations

import os
import statistics

import numpy as np
import pyarrow.parquet as pq

from spans import self_times, union_len
from workloads import CURATE_OPS, added_data_files, cdf_reader, file_diff, tree_bytes

# spans whose self time is booked to the layer of the same name
LAYERS = (
    "streaming.runner", "cdc.apply", "lake.table.commit", "lake.commitstore",
    "lake.table.compact", "lake.table.create", "lake.table.read",
    "lake.table.lookup", "lake.table.changelog", "lake.table.materialize",
    "streaming.cdf_source", "operators",
)
# spans booked to a layer of another name
RENAMED = {
    "lake.table.lookup_many": "lake.table.lookup",
    "lake.table.changelog_envelope": "lake.table.changelog",
    "lake.table.materialize_changelog": "lake.table.materialize",
    "streaming.cdf_source.read": "streaming.cdf_source",
}
OPERATORS = [name for name, _, _ in CURATE_OPS]


def layer_of(name: str) -> str | None:
    if name.startswith("operators."):
        return "operators"
    return RENAMED.get(name, name if name in LAYERS else None)


def pct(values, q) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if values else 0.0


def med(values) -> float:
    return statistics.median(values) if values else 0.0


def row_groups(paths) -> int:
    return sum(pq.ParquetFile(p).metadata.num_row_groups for p in paths)


def workload_extras(wl, st) -> dict:
    """Figures that need the live session or the table; taken after the
    timed section and the checks."""
    table = st.get("table")
    out = {"write_amp": tree_bytes(table.root) / wl.wal_bytes(st) if table else 0.0}
    if wl.name != "lake_reads":
        return out
    spark, root = wl.ctx.spark, table.root
    snap = table.current()
    out["files_per_scan"] = len(snap.base_files()) + len(snap.delta_files())
    # the change set the two lake_cdf reads cover: full history
    row_files = [f for v in range(1, snap.version + 1) for f in table.changelog_files(v) or []]
    file_files = [f for v in range(1, snap.version + 1) for f in added_data_files(table, v)]
    out["cdf_read_tasks"] = sum(
        cdf_reader(spark, root, m).rdd.getNumPartitions() for m in ("filelevel", "rowlevel")
    )
    out["cdf_row_groups"] = row_groups(row_files) + row_groups(file_files)
    out["changelog_files"] = len(row_files)
    out["lookup_rows_out"] = sum(
        len({(k["conv_id"], k["turn_idx"]) for k in keys} & st["final_keys"])
        for keys in st["lookups"]
    )
    return out


def compute(workload, tracer, log, ctx, st, res, extra):
    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    selfs = self_times(spans)
    jobs_by_span = log.attribute(spans)
    root = next(s for s in spans if s.name == f"workload.{workload}")

    def ancestors(s):
        while s.parent is not None:
            s = by_id[s.parent]
            yield s

    def subtree(s, stop=()) -> list:
        """`s` and its descendants, not descending into spans named in stop."""
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo += [c for c in spans if c.parent == x.id and c.name not in stop]
        return out

    # spans of the timed section: under the root and inside its wall
    timed = [
        s for s in spans
        if (s is root or root in list(ancestors(s)))
        and s.start < root.end and s.end > root.start
    ]

    def named(name):
        return [s for s in timed if s.name == name]

    def jobs(span_list):
        return [j for s in span_list for j in jobs_by_span.get(s.id, [])]

    def dur(s):
        return s.end - s.start

    m: dict[str, tuple[float, str]] = {}

    # -- streaming.runner ----------------------------------------------------
    prog = [p for p in st.get("progress", []) if p["numInputRows"] > 0]
    dms = [p["durationMs"] for p in prog]
    m["runner.batches"] = (len(prog), "count")
    m["runner.trigger_s_p50"] = (med([d.get("triggerExecution", 0) / 1e3 for d in dms]), "s")
    m["runner.offset_s"] = (
        sum((d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1e3 for d in dms), "s")
    m["runner.wal_commit_s"] = (sum(d.get("walCommit", 0) / 1e3 for d in dms), "s")
    m["runner.queue_wait_s_p50"] = (med(st.get("queue_waits", [])), "s")

    # -- cdc.apply / cdc.lww: one apply per cdc.apply span (a micro-batch's
    # addBatch on stream_tail, compaction included) --------------------------
    compacts = named("lake.table.compact")
    tops = named("cdc.apply")
    apply_spans = [x for a in tops for x in subtree(a, stop=("lake.table.compact",))]
    apply_walls = [dur(a) for a in tops]
    apply_total = max(sum(apply_walls) - sum(dur(c) for c in compacts), 0.0)
    calls = len(tops)
    if workload == "stream_tail":
        rm = st["runner"].metrics
        dedup = rm.keys_changed / rm.events_in if rm.events_in else 0.0
    else:
        rs = [r for r in st.get("results", []) if r.events_in > 0]
        dedup = (sum(r.keys_changed for r in rs) / sum(r.events_in for r in rs)) if rs else 0.0
    commits = [
        s for s in named("lake.table.commit")
        if not any(a.name == "lake.table.compact" for a in ancestors(s))
    ]
    apply_jobs = jobs(apply_spans)
    at = log.totals(apply_jobs)
    m["apply.s_p50"] = (med(apply_walls), "s")
    m["apply.resolve_s"] = (max(apply_total - sum(dur(c) for c in commits), 0.0), "s")
    m["apply.jobs_per_call"] = (len(apply_jobs) / calls if calls else 0.0, "count")
    m["lww.dedup_ratio"] = (dedup, "ratio")
    m["lww.shuffle_write_bytes"] = (at.shuffle_write_bytes, "bytes")
    m["lww.spill_bytes"] = (at.spill_bytes, "bytes")
    skew = 0.0
    reduce_stages = [
        log.stages[sid] for j in apply_jobs for sid in j.stages
        if sid in log.stages and log.stage_job.get(sid) == j.id
        and log.stages[sid].shuffle_read_bytes > 0
    ]
    if reduce_stages:
        big = max(reduce_stages, key=lambda a: a.run_s)
        if med(big.task_s) > 0:
            skew = max(big.task_s) / med(big.task_s)
    m["lww.task_skew"] = (skew, "ratio")

    # -- WAL scan: input of apply stages whose plan reads the WAL --------------
    wal_jobs = [
        j for j in apply_jobs
        if j.execution is not None and "/wal" in log.plans.get(j.execution, "")
    ]
    wt = log.totals(wal_jobs)
    m["scan.input_bytes"] = (wt.input_bytes, "bytes")
    m["scan.records"] = (wt.input_records, "count")
    m["scan.tasks"] = (wt.tasks, "count")
    m["scan.busy_s"] = (wt.run_s, "s")

    # -- lake.table commit ------------------------------------------------------
    recs = {c["span"]: c for c in ctx.commits}
    files_added = bytes_written = touched = 0
    meta = 0.0
    for s in commits:
        c = recs.get(s.id)
        if c is not None:
            add, _ = file_diff(c["table"], c["before"], c["after"])
            files_added += len(add)
            bytes_written += sum(os.path.getsize(f) for f in add)
            touched += c["touched"]
        cj = jobs(subtree(s))
        spark_s = union_len([(j.start, j.end or j.start) for j in cj])
        meta += max(dur(s) - spark_s, 0.0)
    n_commits = len(commits)
    m["commit.s_p50"] = (med([dur(s) for s in commits]), "s")
    m["commit.meta_s"] = (meta / n_commits if n_commits else 0.0, "s")
    m["commit.files_added"] = (files_added / n_commits if n_commits else 0.0, "count")
    m["commit.bytes_written"] = (bytes_written / n_commits if n_commits else 0.0, "bytes")
    m["commit.touched_buckets"] = (touched / n_commits if n_commits else 0.0, "count")

    # -- lake.commitstore -------------------------------------------------------
    store = named("lake.commitstore")
    m["store.calls"] = (len(store), "count")
    m["store.s"] = (sum(dur(s) for s in store), "s")
    m["store.retries"] = (sum(s.attrs.get("lost", False) for s in store), "count")

    # -- lake.table.compact -----------------------------------------------------
    crecs = {c["span"]: c for c in ctx.compactions}
    f_in = f_out = b_out = 0
    for s in compacts:
        c = crecs.get(s.id)
        if c is None:
            continue
        add, rem = file_diff(c["table"], c["before"], c["after"])
        f_in += len(rem)
        f_out += len(add)
        b_out += sum(os.path.getsize(f) for f in add)
    m["compact.s_p50"] = (med([dur(s) for s in compacts]), "s")
    m["compact.bytes_rewritten"] = (b_out, "bytes")
    m["compact.files_in"] = (f_in, "count")
    m["compact.files_out"] = (f_out, "count")

    # -- lake.table read path ---------------------------------------------------
    reads = named("lake.table.read")
    rt = log.totals(jobs(reads))
    rows_out = st.get("rows_out", {})
    scanned = rows_out.get("scan", 0) * len(reads)
    m["read.files_per_scan"] = (extra.get("files_per_scan", 0), "count")
    m["read.rows_in_per_row_out"] = (rt.input_records / scanned if scanned else 0.0, "ratio")
    m["read.tasks"] = (rt.tasks / len(reads) if reads else 0.0, "count")
    lt = log.totals(jobs(named("lake.table.lookup_many")))
    lrows = extra.get("lookup_rows_out", 0)
    m["lookup.rows_read_per_row_out"] = (lt.input_records / lrows if lrows else 0.0, "ratio")

    # -- changelog / materialize / lake_cdf ---------------------------------------
    cl = named("lake.table.changelog") + named("lake.table.changelog_envelope")
    m["changelog.s_per_window"] = (med([dur(s) for s in cl]), "s")
    m["changelog.shuffle_bytes"] = (log.totals(jobs(cl)).shuffle_write_bytes, "bytes")
    mat = named("lake.table.materialize_changelog")
    n_ver = st.get("materialized") or 0
    m["materialize.s_per_version"] = (sum(dur(s) for s in mat) / n_ver if n_ver else 0.0, "s")
    m["materialize.files_per_version"] = (
        extra.get("changelog_files", 0) / n_ver if n_ver else 0.0, "count")
    m["cdf.read_tasks"] = (extra.get("cdf_read_tasks", 0), "count")
    m["cdf.row_groups"] = (extra.get("cdf_row_groups", 0), "count")

    # -- operators --------------------------------------------------------------
    op_spans = [s for s in timed if s.name.startswith("operators.")]
    for name in OPERATORS:
        mine = named(f"operators.{name}")
        m[f"op.{name}.s"] = (med([dur(s) for s in mine]), "s")
        m[f"op.{name}.rows_out"] = (rows_out.get(f"op.{name}", 0), "count")
    m["op.python_eval_s"] = (log.totals(jobs(op_spans)).python_s, "s")
    m["op.pair_candidates"] = (
        sum(rows_out.get(f"op.{n}", 0) for n in ("ngram_jaccard_pairs", "minhash_lsh_pairs")),
        "count")

    # -- whole timed section ------------------------------------------------------
    tt = log.totals(jobs(timed))
    m["spark.jobs"] = (len(jobs(timed)), "count")
    m["spark.tasks"] = (tt.tasks, "count")
    m["spark.run_s"] = (tt.run_s, "s")
    m["spark.cpu_s"] = (tt.cpu_s, "s")
    m["spark.gc_s"] = (tt.gc_s, "s")
    m["spark.sched_delay_s"] = (tt.sched_delay_s, "s")
    m["spark.shuffle_read_bytes"] = (tt.shuffle_read_bytes, "bytes")
    m["spark.shuffle_write_bytes"] = (tt.shuffle_write_bytes, "bytes")
    m["table.write_amp"] = (extra.get("write_amp", 0.0), "ratio")
    m["jvm.heap_peak_mb"] = (extra["heap_peak_mb"], "MB")

    # -- self time per layer --------------------------------------------------------
    per_layer = dict.fromkeys(LAYERS, 0.0)
    for s in timed:
        lay = layer_of(s.name)
        if lay is not None:
            per_layer[lay] += selfs[s.id]
    for lay in sorted(per_layer):
        m[f"self_s.{lay}"] = (per_layer[lay], "s")
    # the timed wall minus idle time: on stream_tail, the time no micro-batch
    # ran (the offered rate leaves the runner idle between batches)
    wall = dur(root)
    busy = wall
    if workload == "stream_tail":
        busy = union_len(
            (max(s.start, root.start), min(s.end, root.end)) for s in named("streaming.runner")
        )
    layer_self = sum(per_layer.values())
    m["trace.wall_s"] = (wall, "s")
    m["trace.busy_s"] = (busy, "s")
    m["trace.layer_self_s"] = (layer_self, "s")
    m["trace.coverage"] = (layer_self / busy if busy else 0.0, "ratio")
    m["trace.latency_p50_s"] = (pct(res["latencies"], 50), "s")

    report = []
    for s in spans:
        t = log.totals(jobs_by_span.get(s.id, []))
        report.append({
            "run_id": tracer.run_id, "id": s.id, "name": s.name, "parent": s.parent,
            "start": s.start, "end": s.end, "self_s": selfs[s.id], "attrs": s.attrs,
            "jobs": len(jobs_by_span.get(s.id, [])), "tasks": t.tasks,
            "run_s": t.run_s, "cpu_s": t.cpu_s, "gc_s": t.gc_s,
            "sched_delay_s": t.sched_delay_s,
            "shuffle_read_bytes": t.shuffle_read_bytes,
            "shuffle_write_bytes": t.shuffle_write_bytes,
        })
    return m, report

