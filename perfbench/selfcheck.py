#!/usr/bin/env python3
"""Self-check of the benchmark. Run from the repository root:

    python3 perfbench/selfcheck.py

Checks, without Spark: the percentile rule (a percentile is reported only
with at least ten samples beyond it), the open-loop latency maths on a
synthetic schedule (one stalled batch must raise the latency of every later
event), and span nesting and self-time accounting on a synthetic trace.

Then runs every workload of BENCHMARK.json briefly at ``--small`` scale
(sf0.001 tables, small streams), untraced and traced, and checks that every
metric BENCHMARK.json names is emitted with its unit and sample count, that
the reported tail percentile has at least ten samples beyond it, and that
the traced spans nest and each operation's self times sum to no more than
its wall time. Exits non-zero on any failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import ROOT_SPANS, Tracer, beyond, hd_percentile, percentile, tail_percentile  # noqa: E402
from workloads import open_loop_latencies, worst_per_batch  # noqa: E402

FAILURES: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        FAILURES.append(what)


def check_percentiles() -> None:
    expect(tail_percentile(1000) == 99.0, "1000 samples report p99")
    expect(tail_percentile(45) == 75.0, "45 samples report p75, not p90")
    expect(tail_percentile(30) == 50.0, "30 samples report no tail beyond p50")
    vals = [float(i) for i in range(1, 101)]
    expect(percentile(vals, 90) == 90.0 and beyond(vals, 90) == 10,
           "p90 of 1..100 is 90 with 10 samples beyond")
    expect(abs(hd_percentile([float(i) for i in range(1, 102)], 50) - 51.0) < 1e-6,
           "Harrell-Davis p50 of 1..101 is 51")
    lo, hi = [100.0] * 23 + [200.0] * 22, [100.0] * 22 + [200.0] * 23
    expect(percentile(hi, 50) - percentile(lo, 50) == 100.0
           and 0 < hd_percentile(hi, 50) - hd_percentile(lo, 50) < 25.0,
           "one sample crossing between two clusters moves the Harrell-Davis p50 "
           "by a fraction of the gap")


def _simulate(stall_batch: int | None):
    """Chunks of 10 events due once a second; a batch starts when the
    previous one ended (or the next chunk is due), takes every chunk due by
    then and runs 0.3 s -- 4 s for ``stall_batch``."""
    n_chunks, per = 8, 10
    bounds = [i * per for i in range(n_chunks + 1)]
    due = [float(i) for i in range(n_chunks)]
    published, got = {}, {}
    t, nxt, bid = 0.0, 0, 0
    while nxt < n_chunks:
        t = max(t, due[nxt])
        take = [c for c in range(nxt, n_chunks) if due[c] <= t]
        t += 4.0 if bid == stall_batch else 0.3
        published[bid] = t
        got[bid] = [("c", e) for c in take for e in range(bounds[c], bounds[c + 1])]
        nxt, bid = take[-1] + 1, bid + 1
    return open_loop_latencies(bounds, due, published, got)


def check_open_loop() -> None:
    base, _, base_backlog = _simulate(None)
    lat, batch_of, backlog = _simulate(2)
    expect(all(abs(x - 0.3) < 1e-9 for x in base), "unstalled schedule: every chunk 0.3 s late")
    # batch 2 takes chunk 2 (due at 2 s) and runs until 6 s: chunks 2..5
    # all wait for it, including those due after it began -- time from the
    # pickup by a batch (a closed loop's clock) would show 0.3 s for them
    expect(all(x > b for x, b in zip(lat[2:6], base[2:6])),
           "a stalled batch raises the latency of every chunk due while it ran")
    expect(abs(lat[6] - 0.3) < 1e-9, "latency recovers once the backlog is drained")
    expect(max(lat) >= 4.0 and max(backlog) > max(base_backlog),
           "the stall shows as latency and as backlog")
    # batch 2 ran 2..6 s; batch 3 then took chunks 3..6, all due by 6 s
    worst = worst_per_batch(lat, batch_of)
    expect(batch_of[3:7] == [3, 3, 3, 3] and len(worst) == len(set(batch_of)),
           "chunks one batch completes count as one sample")
    expect(abs(worst[3] - (6.3 - 3.0)) < 1e-9,
           "a batch's worst latency is that of the oldest chunk it delivered")


def check_synthetic_trace() -> None:
    tr = Tracer(True)
    with tr.span("op", op="x"):
        with tr.span("layer.a"):
            time.sleep(0.02)
            with tr.span("layer.b"):
                time.sleep(0.03)
        with tr.span("layer.c"):
            time.sleep(0.01)
    st = tr.self_times()
    wall = tr.spans[0].end - tr.spans[0].start
    expect(abs(sum(st.values()) - wall) < 1e-9, "synthetic trace: self times sum to the wall")
    expect(tr.check(0.10) == [], "synthetic trace: spans nest and the root is accounted")


def check_spans_file(path: str, tolerance: float) -> None:
    spans = [json.loads(line) for line in open(path, encoding="utf-8")]
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            if not (p["start"] - 1e-6 <= s["start"] and s["end"] <= p["end"] + 1e-6):
                expect(False, f"{path}: span {s['name']} escapes {p['name']}")
                return
            children.setdefault(s["parent"], []).append(s)
    worst = 0.0
    n_ops = 0
    for s in spans:
        if s["parent"] is None and s["name"] in ROOT_SPANS:
            n_ops += 1
            wall = s["end"] - s["start"]
            covered = sum(c["end"] - c["start"] for c in children.get(s["id"], []))
            if covered > wall + 1e-6:
                expect(False, f"{path}: children of {s['op']} exceed its wall")
                return
            if wall > 0.05:
                worst = max(worst, (wall - covered) / wall)
    expect(n_ops > 0 and worst <= tolerance,
           f"{os.path.basename(path)}: {n_ops} operations nest; worst unattributed "
           f"share {worst:.3f} <= {tolerance}")


def check_runs() -> None:
    from run import TRACE_TOLERANCE

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    seed = 7
    for wl in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(seed), "--seconds", "2", "--trace", str(trace), "--small"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                expect(False, f"{wl} trace={trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            record, result = json.loads(lines[-2]), json.loads(lines[-1])
            wanted = spec["per_layer" if trace else "end_to_end"]
            missing = [m["name"] for m in wanted
                       if m["name"] not in result["metrics"]
                       or result["metrics"][m["name"]]["unit"] != m["unit"]]
            expect(not missing, f"{wl} trace={trace}: every metric emitted with its unit {missing}")
            no_count = [m["name"] for m in wanted if m["name"] not in record["metrics"]
                        or not isinstance(record["metrics"][m["name"]].get("samples"), int)]
            expect(not no_count, f"{wl} trace={trace}: every metric has a sample count")
            expect(result["correct"] and result["failed"] == 0 and result["attempted"] > 0,
                   f"{wl} trace={trace}: outputs correct ({result['failed']} of "
                   f"{result['attempted']} failed)")
            tail = record["tail"]
            expect(tail["percentile"] == 50.0 or tail["beyond"] >= 10,
                   f"{wl} trace={trace}: {tail['metric']} has {tail['beyond']} "
                   f"of {tail['samples']} {tail['unit']} samples beyond it")
            if tail["unit"] == "batch":
                n_batches = len(set(record["series"]["live_chunk_batch"]))
                expect(tail["samples"] == n_batches,
                       f"{wl} trace={trace}: the tail counts {tail['samples']} samples "
                       f"for {n_batches} publishing batches")
            if trace:
                check_spans_file(os.path.join(ROOT, ".perfbench_runs", f"{wl}-{seed}-spans.jsonl"),
                                 TRACE_TOLERANCE)


def main() -> int:
    check_percentiles()
    check_open_loop()
    check_synthetic_trace()
    if "--no-runs" not in sys.argv:
        check_runs()
    print(f"{len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
