#!/usr/bin/env python3
"""Per-op Spark jobs, stages and tasks of a traced perfbench run.

Usage:
    python3 perfbench/run.py --workload W --seed S --seconds 1 --trace 1 --record REC
    python3 tools/perf_jobs_table.py REC [LABEL]

Reads the run records (JSON lines) that `--record` appends and prints,
for the warm pass the run reports (the least-stolen one), each op's
wall time and the jobs, stages and tasks its listener counters saw,
then the pass totals. LABEL, when given, goes into each table's header
(e.g. the commit the run was made from).
"""
import json
import sys


def table(row, label):
    rec = row["record"]
    warm = min(rec["passes"][1:], key=lambda p: p["steal_pct"])
    h = row["host"]
    out = [f"# perfbench/run.py --workload {h['workload']} --seed {h['seed']} --seconds 1 "
           f"--trace 1; {label or h['git_sha']}; cpus={h['cpus']} nproc={h['nproc']}; "
           f"warm pass {warm['pass']}: wall_s={warm['wall_s']:.3f} steal_pct={warm['steal_pct']:.2f}",
           f"{'op':22s} {'s':>7s} {'jobs':>5s} {'stages':>6s} {'tasks':>6s}"]
    tot = [0, 0, 0]
    for o in rec["ops"]:
        if o["pass"] != warm["pass"]:
            continue
        c = o.get("counters", {})
        v = [int(c.get(k, 0)) for k in ("jobs", "stages", "tasks")]
        tot = [a + b for a, b in zip(tot, v)]
        out.append(f"{o['op']:22s} {o['s']:7.3f} {v[0]:5d} {v[1]:6d} {v[2]:6d}")
    out.append(f"{'total':22s} {'':7s} {tot[0]:5d} {tot[1]:6d} {tot[2]:6d}")
    return "\n".join(out)


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    label = argv[2] if len(argv) == 3 else None
    with open(argv[1]) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    print("\n\n".join(table(r, label) for r in rows))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
