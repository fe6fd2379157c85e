#!/usr/bin/env python3
"""CDC engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload stream_tail --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the run is traced (Spark
event log on, spans around every engine call) and the metrics are the
per-layer ones. The line before it stamps the host, versions, commit and
seed. Spans of a traced run are written to .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "orientdb_neo4j_importer_plugin_spark"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default="full", help="config.json scale (full|tiny)")
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def memory_mb(spark) -> tuple[float, float]:
    """(footprint, JVM heap peak), in MiB, at the end of a run.

    The footprint is the JVM heap still live after a full GC, plus the peak
    use of the JVM's non-heap pools (metaspace, code cache) and the Python
    driver's VmHWM: memory the program holds, not the heap G1 chose to
    commit. The heap peak sums the heap pools' peak use; it also follows
    G1's young-generation sizing, so it is noisier."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    peaks = {"HEAP": 0, "NON_HEAP": 0}
    for p in mf.getMemoryPoolMXBeans():
        peaks[p.getType().name()] += p.getPeakUsage().getUsed()
    jvm.System.gc()
    live = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    footprint = (live + peaks["NON_HEAP"]) / 2**20 + vm_hwm_mb("self")
    return footprint, peaks["HEAP"] / 2**20


def become_subreaper() -> None:
    """Processes orphaned below this one (Spark's Python worker daemon,
    say) are re-parented here rather than to init, so stop_processes can
    find and wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def child_pids() -> list[int]:
    me = os.getpid()
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                # "pid (comm) state ppid ...": comm may hold spaces
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(d))
    return out


def live_children() -> list[int]:
    """This process's children still running; ended ones are reaped."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if pid == 0:
            break
    return child_pids()


def stop_processes(jvm_wait_s: float = 60.0, grace_s: float = 10.0) -> None:
    """Stop the JVM and every other process the run started, and wait
    until each has ended. The JVM exits when its stdin closes; anything
    still running after it gets SIGTERM, then SIGKILL after `grace_s`."""
    pyspark = sys.modules.get("pyspark")
    proc = getattr(pyspark.SparkContext._gateway, "proc", None) if pyspark else None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(jvm_wait_s)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline, sent = time.monotonic() + grace_s, set()
        while pids := live_children():
            if time.monotonic() > deadline:
                break
            for pid in set(pids) - sent:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                sent.add(pid)
            time.sleep(0.05)
        else:
            return


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
        return out.stdout.strip() or None
    except OSError:
        return None


def stamp(spark, args) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "java": jvm.System.getProperty("java.version"),
        "spark": spark.version,
        "python": platform.python_version(),
        "commit": git_commit(),
        "seed": args.seed,
        "workload": args.workload,
        "scale": args.scale,
        "trace": args.trace,
        "master": spark.sparkContext.master,
    }


def session(cfg: dict, work: str, event_dir: str | None):
    from orientdb_neo4j_importer_plugin_spark.session import get_spark

    n = nproc()
    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    conf = {
        "spark.driver.memory": cfg["driver_memory"],
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        # row groups of ~1 MiB in every parquet file the engine writes, so
        # large change files span several row groups
        "spark.hadoop.parquet.block.size": str(cfg["parquet_block_bytes"]),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if event_dir:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(master=f"local[{n}]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "config.json")) as fh:
        cfg = json.load(fh)
    scale = cfg["scales"][args.scale]
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path[:0] = [HERE, ROOT]
    become_subreaper()
    # a SIGTERM unwinds through the finally below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result, info = run(args, cfg, scale, work)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info, sort_keys=True))
    print(json.dumps(result))
    return 0


def run(args, cfg, scale, work):
    import layers
    from spans import EventLog, Tracer
    from workloads import WORKLOADS, Ctx, register_sources

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    spark = session(cfg["spark"], work, event_dir)
    try:
        register_sources(spark)
        run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
        tracer = Tracer(bool(args.trace), run_id, spark.sparkContext if args.trace else None)
        ctx = Ctx(spark, tracer, work, scale, cfg["feed"], cfg["spark"], args.seed)
        wl = WORKLOADS[args.workload](ctx)
        # untimed: the same setup at tiny scale compiles the engine's paths,
        # so the setup samples below measure setup work, not JIT warm-up
        prewarm = time.perf_counter()
        WORKLOADS[args.workload](ctx, cfg["scales"]["tiny"][args.workload]).setup(
            "prewarm", args.seconds
        )
        prewarm = time.perf_counter() - prewarm
        setups, st = [], None
        for rep in range(scale[args.workload]["setup_reps"]):
            t = time.perf_counter()
            st = wl.setup(rep, args.seconds)
            setups.append(time.perf_counter() - t)
        # only the timed section's commits count in the per-layer figures
        ctx.commits.clear()
        ctx.compactions.clear()
        warm = time.perf_counter()
        wl.warmup(st)
        warm = time.perf_counter() - warm
        with tracer.span(f"workload.{args.workload}") as root_span:
            if root_span is not None:
                tracer.default_parent = root_span.id
            res = wl.timed(st, args.seconds)
        if root_span is not None:
            # the timed wall, without the bookkeeping after it
            root_span.start, root_span.end = res["t0"], res["t0"] + res["wall"]
            tracer.default_parent = None
        check_s = time.perf_counter()
        checked, mismatched = wl.check(st)
        check_s = time.perf_counter() - check_s
        throughput = res["throughput"] if "throughput" in res else wl.throughput(st)
        info = {
            **stamp(spark, args),
            "setup_s_samples": setups,
            "prewarm_s": prewarm,
            "warmup_s": warm,
            "timed_wall_s": res["wall"],
            "check_s": check_s,
            "samples": res["samples"],
            "latency_samples": [round(x, 4) for x in res["latencies"]],
        }
        for k in ("generator_late_s_max", "chunks_unmatched", "scans", "op_s"):
            if k in res:
                info[k] = res[k]
        info["jvm_hwm_mb"] = vm_hwm_mb(spark.sparkContext._jvm.ProcessHandle.current().pid())
        footprint, heap_peak = memory_mb(spark)
        lat = res["latencies"]
        e2e = {
            "setup_s": (layers.med(setups), "s"),
            "latency_p50_s": (layers.pct(lat, 50), "s"),
            "latency_p90_s": (layers.pct(lat, 90), "s"),
            "rows_per_s": (throughput, "1/s"),
            "mem_mb": (footprint, "MB"),
        }
        extra = layers.workload_extras(wl, st) if args.trace else {}
        extra["heap_peak_mb"] = heap_peak
    finally:
        spark.stop()
    attempted = res["attempted"] + checked
    failed = res["failed"] + mismatched
    if args.trace:
        log = EventLog(next(
            os.path.join(event_dir, f) for f in os.listdir(event_dir)
        ))
        metrics, span_report = layers.compute(
            args.workload, tracer, log, ctx, st, res, extra
        )
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"spans-{run_id}.json"), "w") as fh:
            json.dump({"info": info, "spans": span_report}, fh, indent=1)
        info["spans_file"] = os.path.relpath(fh.name, ROOT)
    else:
        metrics = e2e
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    info["error_rate"] = failed / attempted
    return result, info


if __name__ == "__main__":
    sys.exit(main())
