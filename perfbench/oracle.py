"""Expected result digests, computed with DuckDB over the generated inputs.

For a gate the expected result is its oracle SQL (the same SQL that
``tools/check_oracle.py`` runs).  Digests use the encoding of ``Digest.scala``: columns
in name order, one canonical string per row, sorted row hashes hashed
again.
"""
import datetime
import decimal
import hashlib
import json
import os
import struct

import duckdb

EPOCH = datetime.datetime(1970, 1, 1)


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i" + str(v)
    if isinstance(v, float):
        if v != v:
            return "fnan"
        bits = struct.unpack(">Q", struct.pack(">d", 0.0 if v == 0.0 else v))[0]
        return "f" + format(bits, "x")
    if isinstance(v, decimal.Decimal):
        s = v.normalize()
        return "d" + ("0" if s == 0 else format(s, "f"))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return "t" + str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "D" + str((v - EPOCH.date()).days)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    return "o" + str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    hs = sorted(hashlib.sha256("\x1f".join(cell(r[i]) for i in order).encode()).hexdigest()
                for r in rows)
    return hashlib.sha256("\n".join(hs).encode()).hexdigest()


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(data_dir, 'duckdb-tmp')}'")
    for f in sorted(os.listdir(data_dir)):
        if not f.endswith(".parquet"):
            continue
        p = os.path.join(data_dir, f)
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{src}')")
    return con


def expected(data_dir, keys, gate_sql, out_path):
    """Write {key: digest} for `keys` to out_path (once per input set)."""
    have = {}
    if os.path.exists(out_path):
        have = json.load(open(out_path))
    missing = [k for k in keys if k not in have]
    if missing:
        con = connect(data_dir)
        for k in missing:
            cur = con.execute(gate_sql[k])
            cols = [d[0] for d in cur.description]
            have[k] = digest(cols, cur.fetchall())
        tmp = out_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(have, f, indent=1, sort_keys=True)
        os.replace(tmp, out_path)
    return have


def ingest_expected(data_dir, writes, zone, out_path):
    """Expected digests of ingest_merge's checked reads, from a model of
    the merge table that DuckDB folds: upserts replace or insert by key,
    deletes remove.  Writes {key: digest} into out_path's JSON."""
    have = json.load(open(out_path)) if os.path.exists(out_path) else {}
    if "ingest.table" in have:
        return have
    ing = os.path.join(data_dir, "ingest")
    con = connect(data_dir)

    def dig(sql, params=None):
        cur = con.execute(sql, params) if params else con.execute(sql)
        return digest([d[0] for d in cur.description], cur.fetchall())

    def apply(b):
        up = f"read_parquet('{ing}/upsert-{b:03d}.parquet')"
        de = f"read_parquet('{ing}/delete-{b:03d}.parquet')"
        con.execute(f"""CREATE OR REPLACE TEMP TABLE s AS
            SELECT * FROM s WHERE o_orderkey NOT IN (SELECT o_orderkey FROM {de})
                              AND o_orderkey NOT IN (SELECT o_orderkey FROM {up})
            UNION ALL SELECT * FROM {up}""")

    lookups = json.load(open(os.path.join(ing, "lookups.json")))
    con.execute("CREATE TEMP TABLE s AS SELECT * FROM orders")
    have["ingest.zonemap_scan"] = dig(
        "SELECT * FROM orders WHERE o_custkey BETWEEN ? AND ?", list(zone))
    for b in range(writes):
        apply(b)
        have[f"ingest.lookup_{b}"] = dig(
            "SELECT * FROM s WHERE o_orderkey IN (SELECT unnest(?::BIGINT[]))", [lookups[b]])
    apply(writes)  # the streamed batch
    have["ingest.merge_stream"] = dig("SELECT count(*) AS n FROM s")
    have["ingest.table"] = dig("SELECT * FROM s")
    tmp = out_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(have, f, indent=1, sort_keys=True)
    os.replace(tmp, out_path)
    return have
