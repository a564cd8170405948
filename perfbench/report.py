#!/usr/bin/env python3
"""Per-layer report: where each workload's time goes.

    python3 perfbench/report.py --seed 7                # run, then report
    python3 perfbench/report.py --from runs.jsonl       # report on records
    python3 perfbench/report.py --seed 7 --crosscheck   # also check job counts

For every workload of BENCHMARK.json it takes one untraced and one
traced run of the same seed (run.py --record), then prints each layer's
self time per warm pass beside the end-to-end metric it feeds, the
unattributed remainder of the pass, and the tracing overhead (traced
vs untraced pass_s).

--crosscheck runs graft.BenchSubset on the seed's inputs and the
benchmark's own listeners through the same procedure, and compares
jobs, stages and tasks per gate; they must match exactly.
"""
import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402

# per-layer metric -> the end-to-end metric it should move
FEEDS = {
    "graft.warm_s": "setup_s",
    "queries.self_s": "pass_s",
    "graph.superstep_s": "pass_s",
    "ml.self_s": "pass_s",
    "stats.self_s": "pass_s",
    "operators.merge_write_s": "pass_s (write_p50_s)",
    "operators.compact_s": "pass_s",
    "operators.merge_read_s": "pass_s (read_p50_s)",
    "sources.zonemap_s": "pass_s",
    "streaming.self_s": "pass_s",
    "catalyst.planning_s": "pass_s, cold_pass_s",
    "spark.jobs": "pass_s",
    "spark.busy_share": "pass_s, cpu_s",
    "storage.write_amp": "write_p50_s, space_amp",
    "sources.files_read_share": "pass_s",
    "streaming.batch_s": "pass_s",
    "jvm.gc_s": "pass_s",
    "jvm.jit_cpu_s": "cold_pass_s",
    "bench.unattributed_s": "pass_s",
}

CROSSCHECK_GATES = ["q84_rf_model_metrics", "q90_pagerank_exact",
                    "q243_incremental_dedup_index", "q282_merge_stream"]


def bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def collect_runs(seed, record):
    b = bench()
    for w in b["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", str(seed), "--seconds", str(b["run_seconds"]),
                   "--trace", str(trace), "--record", record]
            r = subprocess.run(cmd, stdout=subprocess.DEVNULL)
            if r.returncode != 0:
                raise SystemExit(f"run failed: {' '.join(cmd)}")


def table(rows):
    by = {}
    for r in rows:
        by.setdefault(r["host"]["workload"], {})[r["host"]["trace"]] = r
    wls = sorted(w for w in by if 0 in by[w] and 1 in by[w])
    if not wls:
        raise SystemExit("need one untraced and one traced run per workload")
    print(f"{'layer metric':26s} " + " ".join(f"{w:>16s}" for w in wls) + "   feeds")
    for name in bench()["per_layer"]:
        n = name["name"]
        vals = " ".join(f"{by[w][1]['metrics'][n]:16.4f}" for w in wls)
        print(f"{n:26s} {vals}   {FEEDS.get(n, '')}")
    print()
    for w in wls:
        untraced = by[w][0]["metrics"]["pass_s"]
        traced = by[w][1]["metrics"]["bench.pass_s"]
        spans = traced - by[w][1]["metrics"]["bench.unattributed_s"]
        print(f"{w}: pass_s untraced {untraced:.3f} s, traced {traced:.3f} s "
              f"(overhead {traced / untraced - 1:+.1%}); op spans cover {spans:.3f} s, "
              f"unattributed {traced - spans:.3f} s")
        top = max((m for m in FEEDS if m.endswith("_s") and "." in m
                   and m.split(".")[0] not in ("bench", "jvm", "catalyst", "graft")),
                  key=lambda m: by[w][1]["metrics"][m])
        print(f"  layer with most self time: {top} {by[w][1]['metrics'][top]:.3f} s")


def crosscheck(seed):
    scale, _ = run.WORKLOADS["paper_pipeline"]
    data = run.inputs(seed, scale)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=data, SPARK_GRAFT_CPUS=str(run.CPUS),
               SPARK_GRAFT_ONLY=",".join(CROSSCHECK_GATES))
    os.makedirs(os.path.join(run.WORK, "tmp"), exist_ok=True)
    cmd = run.java_cmd([])[:-1] + ["graft.BenchSubset"]
    r = subprocess.run(cmd, env=env, capture_output=True, text=True, cwd=run.WORK, timeout=900)
    theirs = {}
    for line in r.stdout.splitlines():
        m = re.match(r"\[subset\] (\S+)\s.*jobs=(\d+)\s+stages=(\d+)\s+tasks=(\d+)", line)
        if m:
            theirs[m.group(1)] = {"jobs": int(m.group(2)), "stages": int(m.group(3)),
                                  "tasks": int(m.group(4))}
    out = os.path.join(run.WORK, "crosscheck.json")
    subprocess.run(run.java_cmd(["--data", data, "--out", out, "--crosscheck",
                                 ",".join(CROSSCHECK_GATES)]),
                   cwd=run.WORK, capture_output=True, timeout=900, check=True)
    ours = json.load(open(out))
    ok = True
    for g in CROSSCHECK_GATES:
        same = theirs.get(g) == ours.get(g)
        ok &= same
        print(f"{g:32s} BenchSubset {theirs.get(g)}  benchmark {ours.get(g)}  "
              f"{'match' if same else 'MISMATCH'}")
    return ok


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--from", dest="src")
    ap.add_argument("--crosscheck", action="store_true")
    a = ap.parse_args(argv)
    build.build()
    src = a.src
    if not src:
        src = os.path.join(run.WORK, f"report-{a.seed}.jsonl")
        if os.path.exists(src):
            os.remove(src)
        collect_runs(a.seed, src)
    with open(src) as f:
        table([json.loads(line) for line in f if line.strip()])
    if a.crosscheck:
        print()
        return 0 if crosscheck(a.seed) else 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
