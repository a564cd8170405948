#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <out>/<name> parquet (Spark result) and runs the matching
oracle SQL from <out>/oracle_sql.json in DuckDB over <sfDir>'s tables;
sorts columns by name, sorts rows, compares values exactly. Each oracle's
line ends with the seconds DuckDB took to run it, and the five slowest
oracles are listed at the end.
"""
import sys, json, glob, os, time
import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # unify datetime resolution: pandas reads Spark parquet as [ns],
    # DuckDB returns [us] — same instants, and the driver's round-1
    # results show it does not distinguish them (q60-q62 passed)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for f in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(f).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_bad = 0
    secs = {}
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            continue
        got = pd.read_parquet(path)
        if name not in oracle:
            status = f"ROWS-ONLY rows={len(got)}"
            if len(got) == 0:
                status += " !!! EMPTY"
                n_bad += 1
            # the driver canonicalizes rows-only output too: an
            # unsortable cell (e.g. an array column) errors the query
            # outright in the driver harness (round-1 q36), so emulate
            # its sort here.
            try:
                canon(got)
            except Exception as e:
                status += f" !!! SORT-ERR {type(e).__name__}: {e}"
                n_bad += 1
            print(f"{name:28s} {status}")
            continue
        t0 = time.perf_counter()
        want = con.execute(oracle[name]).fetchdf()
        secs[name] = time.perf_counter() - t0
        took = f"duckdb={secs[name]:.2f}s"
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f"{name:28s} COLS-MISMATCH got={list(g.columns)} want={list(w.columns)} {took}")
            n_bad += 1
            continue
        # the driver hashes exact typed representations: a value-equal
        # column with a different dtype (DuckDB HUGEINT -> float64 vs
        # Spark BIGINT -> int64) fails its hash. pandas `==` coerces and
        # hid exactly that in round 1 — compare dtypes strictly first.
        gt, wt = [str(t) for t in g.dtypes], [str(t) for t in w.dtypes]
        if gt != wt:
            bad = [(c, a, b) for c, a, b in zip(g.columns, gt, wt) if a != b]
            print(f"{name:28s} DTYPE-MISMATCH {bad} {took}")
            n_bad += 1
            continue
        if len(g) != len(w):
            print(f"{name:28s} ROWCOUNT got={len(g)} want={len(w)} {took}")
            n_bad += 1
            continue
        diff_cols = []
        for c in g.columns:
            a, b = g[c], w[c]
            try:
                same = (a.values == b.values) | (a.isna().values & b.isna().values)
                if not same.all():
                    diff_cols.append((c, int((~same).sum())))
            except Exception as e:
                diff_cols.append((c, f"cmp-error {e}"))
        if diff_cols:
            print(f"{name:28s} VALUE-DIFF {diff_cols} {took}")
            for c, _ in diff_cols[:1]:
                mask = ~((g[c].values == w[c].values))
                print("   got :", g[mask].head(3).to_dict("records"))
                print("   want:", w[mask].head(3).to_dict("records"))
            n_bad += 1
        else:
            print(f"{name:28s} OK rows={len(g)} {took}")
    slowest = sorted(secs.items(), key=lambda kv: -kv[1])[:5]
    print("\nslowest DuckDB oracles: " +
          ", ".join(f"{n} {t:.2f}s" for n, t in slowest))
    print(f"\n{'ALL OK' if n_bad == 0 else f'{n_bad} FAILURES'}")
    return n_bad


if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1], sys.argv[2]) else 0)
