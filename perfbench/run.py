#!/usr/bin/env python3
"""The benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload paper_pipeline --seed 1 --seconds 10 --trace 0

Builds the engine from source (once per source hash), generates the
seed's inputs (once per seed, under perfbench/.work), computes the
expected digests of oracle-checked ops with DuckDB (once per seed),
then runs the workload in a fresh JVM on local[4] as a closed loop: one
thread issues the ops one at a time.  Prints the metrics by name
and unit, then, as the last line, the JSON result.  With --trace 1 the
metrics are the per-layer ones of BENCHMARK.json.

The JVM's first set-up and its cold pass run on the inputs of the fixed
check seed in pinned.json, where every op is checked: against DuckDB,
or, for ops with no DuckDB oracle (the seeded RF of q84), against the
digest pinned in pinned.json.  After an intended change to such an op,
run once and copy the digests printed as `pinned` into pinned.json.
Then come SETUPS set-ups (session build, input registration, memo
warm-up) and the warm passes on the run seed's inputs.  setup_s is the
median of those set-ups; the first set-up, from JVM start, is printed as
first_setup_s, and the cold pass as cold_pass_s.

Exit code 0 with a result line, anything else without one.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = 4
XMX = "4g"
SETUPS = 3  # warm re-set-ups; setup_s is their median
JVM_TIMEOUT_S = 170
# the JVM's class-data sharing archive of the classes a run loads: the
# first run after a build writes it at exit, later runs map it, which
# cuts class loading out of the first set-up and the cold pass
CDS = os.path.join(build.OUT, "classes.jsa")
KEEP_SEEDS = 3  # generated input sets kept

# workload -> (table scale relative to sf0.1, oracle keys of its gate ops)
WORKLOADS = {
    "paper_pipeline": (0.1, ["q03_join_agg", "q118_kcore", "q53_bray_curtis"]),
    "ingest_merge": (0.1, []),
}
PINNED = os.path.join(HERE, "pinned.json")

# ingest_merge's inputs: batches 0 .. n_batches-2 merge on read, the last
# one streams; the range scan reads o_custkey in `zone`
INGEST = dict(n_batches=3, batch_rows=200, n_deletes=20, n_lookups=2, lookup_keys=64,
              zone=(300, 360))

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# span metrics (layer.metric) of the ops; see BENCHMARK.json
SPAN_METRICS = ["queries.self_s", "graph.superstep_s", "ml.self_s", "stats.self_s",
                "operators.merge_write_s", "operators.compact_s", "operators.merge_read_s",
                "sources.zonemap_s", "streaming.self_s"]


def inputs(seed, scale, ingest=False):
    """Generate (once) the seed's input set at `scale`, plus
    ingest_merge's batches when `ingest`; returns its dir."""
    base = os.path.join(WORK, "data", f"scale-{scale:g}" + ("-ingest" if ingest else ""))
    d = os.path.join(base, f"seed-{seed}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.tables(d, seed, scale=scale)
        if ingest:
            gen.ingest(os.path.join(d, "ingest"), seed, scale=scale, **INGEST)
        open(os.path.join(d, "done"), "w").close()
    os.utime(os.path.join(d, "done"))
    # keep the most recently used input sets only
    sets = sorted((os.path.getmtime(os.path.join(base, s, "done")), s)
                  for s in os.listdir(base) if os.path.exists(os.path.join(base, s, "done")))
    for _, s in sets[:-KEEP_SEEDS]:
        shutil.rmtree(os.path.join(base, s), ignore_errors=True)
    return d


def java_cmd(main_args):
    return (["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:-UseDynamicNumberOfCompilerThreads",
             "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", build.classpath(), "graft.perfbench.Main"] + main_args)


def gate_sql():
    path = os.path.join(build.OUT, "oracles.json")
    if not os.path.exists(path):
        subprocess.run(java_cmd(["--dump-oracles", path + ".tmp"]), check=True,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120)
        os.replace(path + ".tmp", path)
    return json.load(open(path))


def cpu_stat():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(workload, data_dir, check_dir, seconds, trace):
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(os.path.join(WORK, "tmp"))
    out = os.path.join(run_dir, "record.json")
    log = os.path.join(WORK, "jvm.log")
    args = ["--workload", workload,
            "--data", data_dir, "--expected", os.path.join(data_dir, "expected.json"),
            "--check-data", check_dir, "--check-expected", os.path.join(check_dir, "expected.json"),
            "--pinned", PINNED, "--work", run_dir,
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--setups", str(SETUPS), "--cpus", str(CPUS), "--out", out]
    dump = CDS + ".tmp"
    if os.path.exists(dump):
        os.remove(dump)
    cds = f"-XX:SharedArchiveFile={CDS}" if os.path.exists(CDS) else f"-XX:ArchiveClassesAtExit={dump}"
    cmd = java_cmd(args)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd[:1] + [cds] + cmd[1:], stdout=lf, stderr=subprocess.STDOUT,
                             cwd=run_dir)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"JVM run exceeded {JVM_TIMEOUT_S} s (log: {log})")
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            tail = lf.read()[-3000:]
        raise RuntimeError(f"JVM run failed with code {rc}:\n{tail}")
    if os.path.exists(dump):
        os.replace(dump, CDS)
    return json.load(open(out))


def warm_pass(rec):
    """The warm pass that lost the least CPU to hypervisor steal."""
    return min(rec["passes"][1:], key=lambda p: p["steal_pct"])


def end_to_end(rec):
    warm = warm_pass(rec)
    return {
        "setup_s": (stats.median(rec["setup_s"]), "s"),
        "first_setup_s": (rec["first_setup_s"], "s"),
        "cold_pass_s": (rec["passes"][0]["wall_s"], "s"),
        "pass_s": (warm["wall_s"], "s"),
        "cpu_s": (warm["cpu_s"], "s"),
        "live_heap_mb": (rec["live_heap_mb"], "MB"),
    }


def latency_classes(rec):
    """Percentiles within each class of identical work shape, over the
    reported warm pass; failed ops count as +inf."""
    chosen = warm_pass(rec)["pass"]
    by = {}
    for o in rec["ops"]:
        if o["pass"] == chosen:
            by.setdefault(o["klass"], []).append(o["s"] if o["ok"] else float("inf"))
    out = {}
    for k, xs in by.items():
        t = stats.tail(xs)
        out[k] = {"n": len(xs), "p50_s": stats.median(xs),
                  "tail_pct": t[0] if t else None, "tail_s": t[1] if t else None}
    return out


def per_layer(rec):
    warm = warm_pass(rec)
    ops = [o for o in rec["ops"] if o["pass"] == warm["pass"]]

    def total(f):
        return sum(f(o) for o in ops)

    def counter(name):
        return total(lambda o: o.get("counters", {}).get(name, 0))

    m = {"graft.warm_s": (stats.median(rec["warm_s"]), "s")}
    for name in SPAN_METRICS:
        layer, metric = name.split(".", 1)
        m[name] = (total(lambda o: o["s"] if (o["layer"], o["metric"]) == (layer, metric)
                         else 0.0), "s")
    pass_s = warm["wall_s"]
    m["bench.pass_s"] = (pass_s, "s")
    m["bench.unattributed_s"] = (pass_s - total(lambda o: o["s"]), "s")
    m["catalyst.planning_s"] = (counter("planning_ns") / 1e9, "s")
    for c in ("jobs", "stages", "tasks", "single_task_stages"):
        m[f"spark.{c}"] = (counter(c), "count")
    m["spark.busy_share"] = (counter("task_run_ms") / 1e3 / (pass_s * int(rec["cpus"])), "ratio")
    m["spark.shuffle_mb"] = (counter("shuffle_bytes") / 1048576.0, "MB")
    m["spark.spill_mb"] = (counter("spill_bytes") / 1048576.0, "MB")
    writes = [o for o in ops if "user_bytes" in o]
    user = sum(o["user_bytes"] for o in writes)
    m["storage.write_amp"] = (sum(o["bytes_written"] for o in writes) / user if user else 0.0,
                              "ratio")
    m["storage.files_written"] = (sum(o["files_written"] for o in writes) / len(writes)
                                  if writes else 0.0, "count")
    m["storage.files_live"] = (warm.get("files_live", 0), "count")
    shares = [o["files_read_share"] for o in ops if "files_read_share" in o]
    m["sources.files_read_share"] = (stats.median(shares) if shares else 0.0, "ratio")
    m["streaming.batches"] = (counter("stream_batches"), "count")
    nb = counter("stream_batches")
    m["streaming.batch_s"] = (counter("stream_batch_ms") / 1e3 / nb if nb else 0.0, "s")
    m["streaming.wal_commit_s"] = (counter("wal_commit_ms") / 1e3 / nb if nb else 0.0, "s")
    m["jvm.gc_s"] = (warm["gc_s"], "s")
    m["jvm.jit_cpu_s"] = (rec["passes"][0]["jit_cpu_s"], "s")
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="append the full run record (JSON line) here")
    a = ap.parse_args(argv)
    try:
        src = build.build()
        scale, keys = WORKLOADS[a.workload]
        ingest = a.workload == "ingest_merge"
        with open(PINNED) as f:
            check_dir = inputs(json.load(f)["seed"], scale, ingest)
        data_dir = inputs(a.seed, scale, ingest)
        for d in (check_dir, data_dir):
            exp_path = os.path.join(d, "expected.json")
            oracle.expected(d, keys, gate_sql(), exp_path)
            if ingest:
                oracle.ingest_expected(d, INGEST["n_batches"] - 1, INGEST["zone"], exp_path)
        load0, stat0, t0 = os.getloadavg()[0], cpu_stat(), time.time()
        rec = run_jvm(a.workload, data_dir, check_dir, a.seconds, a.trace == 1)
        stat1, load1 = cpu_stat(), os.getloadavg()[0]
    except (build.BuildError, RuntimeError, OSError, subprocess.SubprocessError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    host = {"nproc": os.cpu_count(), "cpus": CPUS, "xmx": XMX, "xmx_mb": rec["xmx_mb"],
            "spark_version": rec["spark_version"], "git_sha": git_sha(), "source_sha": src,
            "seed": a.seed, "workload": a.workload, "trace": a.trace,
            "wall_s": round(time.time() - t0, 3),
            "steal_pct": round(100.0 * (stat1[1] - stat0[1]) / max(1, stat1[0] - stat0[0]), 3),
            "load_avg_start": load0, "load_avg_end": load1,
            "setup_steal_pct": [round(x, 3) for x in rec["setup_steal_pct"]],
            "pass_steal_pct": [round(p["steal_pct"], 3) for p in rec["passes"]]}
    attempted, failed = int(rec["attempted"]), int(rec["failed"])
    e2e = end_to_end(rec)
    lat = latency_classes(rec)
    print("host " + json.dumps(host, sort_keys=True))
    for k, (v, u) in e2e.items():
        print(f"{k:24s} {v:12.4f} {u}")
    print(f"{'failed_share':24s} {failed / attempted:12.4f} ratio  ({failed}/{attempted})")
    for k, v in rec["extra"].items():
        print(f"{k:24s} {v:12.4f} ratio")
    for k in ("read", "write"):
        if k in lat:
            c = lat[k]
            tail = (f"p{c['tail_pct']:g} {c['tail_s']:.4f} s" if c["tail_pct"] is not None
                    else "no tail (fewer than 20 samples)")
            print(f"{k + '_p50_s':24s} {c['p50_s']:12.4f} s  n={c['n']}  {k}_tail: {tail}")
    for k, d in rec["pinned"].items():
        print(f"pinned {k} {d}")
    for f in rec["failures"]:
        print("FAILED " + f)
    if a.trace:
        metrics = per_layer(rec)
        for k, (v, u) in metrics.items():
            print(f"{k:28s} {v:12.4f} {u}")
    else:
        metrics = e2e
    # the result line carries exactly the metrics BENCHMARK.json defines
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["per_layer" if a.trace else "end_to_end"]]
    result = {k: metrics[k] for k in names}
    if a.record:
        row = dict(host=host, metrics={k: v for k, (v, _) in metrics.items()},
                   latency=lat, extra=rec["extra"], attempted=attempted, failed=failed,
                   failures=rec["failures"], record=rec)
        with open(a.record, "a") as f:
            f.write(json.dumps(row, sort_keys=True) + "\n")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
