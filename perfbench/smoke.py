#!/usr/bin/env python3
"""Fast smoke test of the benchmark at tiny scale.

    python3 perfbench/smoke.py

From the repository root. For every workload it runs run.py untraced and
traced at --scale tiny and checks that:

* every end-to-end metric (untraced) and every per-layer metric (traced)
  of BENCHMARK.json is reported with its unit, and the outputs are correct;
* on the traced run, the layer spans' self times sum to within 10% of the
  workload's busy time (the timed wall minus the stream runner's idle
  time);
* a different seed generates different inputs but the same metric names.

It prints the tracing overhead per workload (traced minus untraced median
operation latency) and exits non-zero on the first failed check.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SECONDS = "3"


def run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", SECONDS, "--trace", str(trace),
         "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed={seed} trace={trace} failed:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check(ok: bool, msg: str) -> None:
    if not ok:
        raise SystemExit(f"FAILED: {msg}")


def check_metrics(res: dict, spec: list[dict], what: str) -> None:
    got = res["metrics"]
    for m in spec:
        check(m["name"] in got, f"{what}: missing {m['name']}")
        check(got[m["name"]]["unit"] == m["unit"], f"{what}: unit of {m['name']}")
    check(res["correct"] and res["failed"] == 0, f"{what}: outputs incorrect: {res}")


def input_digest(seed: int) -> str:
    """Hash of the files the generator writes for one bulk batch."""
    sys.path.insert(0, HERE)
    from gen import Feed

    cfg = json.load(open(os.path.join(HERE, "config.json")))
    wl = cfg["scales"]["tiny"]["stream_tail"]
    feed = Feed(seed, {**cfg["feed"], **wl})
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_smoke") as d:
        paths = feed.write_batch(feed.events(500), d, 2, with_tool=True)
        h = hashlib.sha256()
        for p in paths:
            h.update(open(p, "rb").read())
        return h.hexdigest()


def main() -> int:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    check(input_digest(1) == input_digest(1), "same seed must give the same inputs")
    check(input_digest(1) != input_digest(2), "another seed must change the inputs")
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    # every workload, registered or not, including bulk_backfill
    for w in WORKLOADS:
        plain = run(w, 1, 0)
        check_metrics(plain, bench["end_to_end"], f"{w} untraced")
        other = run(w, 2, 0)
        check(set(other["metrics"]) == set(plain["metrics"]), f"{w}: names vary by seed")
        traced = run(w, 1, 1)
        check_metrics(traced, bench["per_layer"], f"{w} traced")
        cover = traced["metrics"]["trace.coverage"]["value"]
        check(0.9 <= cover <= 1.1, f"{w}: layer self times cover {cover:.3f} of the busy time")
        overhead = (traced["metrics"]["trace.latency_p50_s"]["value"]
                    - plain["metrics"]["latency_p50_s"]["value"])
        print(f"{w}: ok; layer coverage {cover:.3f}; tracing overhead "
              f"{overhead:+.3f} s on latency_p50_s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
