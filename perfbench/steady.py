#!/usr/bin/env python3
"""Steadiness check: N runs of one workload, one seed each.

    python3 perfbench/steady.py --workload ingest_merge --runs 10 --seed0 100
    python3 perfbench/steady.py --from runs.jsonl [--workload W]

Runs `run.py` N times with seeds seed0 .. seed0+N-1 (or reads the run
records a previous `run.py --record` wrote), then prints, per metric,
the median, the quartiles and (Q3 - Q1) / median, and flags every
end-to-end metric whose spread exceeds its bound in BENCHMARK.json.
Exits 1 when any metric is flagged or any run failed a check.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def bounds():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    return b, {m["name"]: m["bound"] for m in b["end_to_end"]}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--from", dest="src", help="read run records instead of running")
    ap.add_argument("--record", help="append the run records here (with --runs)")
    a = ap.parse_args(argv)
    bench, bound = bounds()
    rows = []
    if a.src:
        with open(a.src) as f:
            rows = [json.loads(line) for line in f if line.strip()]
        rows = [r for r in rows if r["host"]["trace"] == 0 and
                (a.workload is None or r["host"]["workload"] == a.workload)]
    else:
        if not a.workload:
            ap.error("--workload is required unless --from is given")
        record = a.record or os.path.join(HERE, ".work", "steady.jsonl")
        os.makedirs(os.path.dirname(record), exist_ok=True)
        start = sum(1 for _ in open(record)) if os.path.exists(record) else 0
        for i in range(a.runs):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                   "--seed", str(a.seed0 + i), "--seconds", str(bench["run_seconds"]),
                   "--trace", "0", "--record", record]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            last = r.stdout.strip().splitlines()[-1:] or ["(no output)"]
            print(f"run {i + 1}/{a.runs} seed {a.seed0 + i}: exit {r.returncode} {last[0]}",
                  flush=True)
        with open(record) as f:
            rows = [json.loads(line) for line in list(f)[start:]]
    if len(rows) < 2:
        print("need at least two runs")
        return 1
    bad = 0
    by_wl = {}
    for r in rows:
        by_wl.setdefault(r["host"]["workload"], []).append(r)
    for wl, rs in sorted(by_wl.items()):
        print(f"\n{wl}: {len(rs)} runs, seeds {sorted(r['host']['seed'] for r in rs)}")
        print(f"{'metric':16s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>8s} {'bound':>6s}")
        for name in rs[0]["metrics"]:
            vals = [r["metrics"][name] for r in rs]
            m, q1, q3, s = stats.spread(vals)
            b = bound.get(name)
            flag = ""
            if b is not None and s > b:
                flag, bad = "  EXCEEDS BOUND", bad + 1
            print(f"{name:16s} {m:10.4f} {q1:10.4f} {q3:10.4f} {s:8.2%} "
                  f"{'' if b is None else format(b, '.2f'):>6s}{flag}")
        failed = sum(r["failed"] for r in rs)
        if failed:
            bad += 1
            print(f"FAILED checks: {failed} of {sum(r['attempted'] for r in rs)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
