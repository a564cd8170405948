"""Seeded input generators for the benchmark.

Every table has the schema of the engine's TPC-H-style test tables
(region, nation, customer, supplier, part, orders, lineitem, documents)
and is drawn from a numpy Generator seeded with the run's seed, so the
same seed always writes the same bytes.

Two input sets:

- ``tables(dir, seed, scale=1.0)``: the star schema at ``scale`` times
  sf0.1; every foreign key finds its row.
- ``ingest(dir, seed, ...)``: fixed-size upsert+delete batches and point
  lookup key sets against the orders table, skewed toward recent keys.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01 = {"customer": 15000, "supplier": 1000, "part": 20000,
        "orders": 150000, "lineitem": 600000, "documents": 5000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("a the data spark stream batch merge join agg group sort hash scan "
         "filter key value row column table query order line part customer "
         "vector window big small fast slow").split()

DAY_US = 86400 * 1000000
EPOCH_1995 = 9131          # days from 1970-01-01 to 1995-01-01
ORDER_DAYS = 2404          # 1995-01-01 .. 2001-08-01
SHIP_DAYS = 2499           # 1995-01-02 .. 2001-11-04


def _ts(days):
    return pa.array(days.astype(np.int64) * DAY_US, type=pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    # fixed writer options: no pandas metadata, one row group per file,
    # so the bytes are a pure function of the table
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1, table.num_rows), write_statistics=True)


def _documents(rng, n, key0):
    texts, dup_of = [], rng.random(n) < 0.05
    for i in range(n):
        if dup_of[i] and i > 0:
            # a near-duplicate of an earlier doc: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(words), max(1, len(words) // 10), replace=False):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    keys = np.arange(key0, key0 + n, dtype=np.int64)
    return pa.table({
        "doc_id": keys,
        "text": pa.array(texts, type=pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{k % 20}" for k in keys], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def sizes(scale):
    """Row counts at `scale` times sf0.1."""
    return {t: max(1, round(c * scale)) for t, c in SF01.items()}


def _keyed(rng, n):
    """The keyed tables, `n[t]` rows each, keys 0 .. n[t] - 1."""
    ck = np.arange(n["customer"], dtype=np.int64)
    sk = np.arange(n["supplier"], dtype=np.int64)
    pk = np.arange(n["part"], dtype=np.int64)
    ok = np.arange(n["orders"], dtype=np.int64)
    out = {}
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck], type=pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, len(ck)), type=pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(ck)),
        "c_mktsegment": _pick(rng, SEGMENTS, len(ck)),
    })
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{k:09d}" for k in sk], type=pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, len(sk)), type=pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(sk)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, names, len(pk)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
                            type=pa.string()),
        "p_type": _pick(rng, PART_TYPES, len(pk)),
        "p_size": pa.array(rng.integers(1, 51, len(pk)), type=pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n["customer"], len(ok)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], len(ok)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, len(ok)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, ORDER_DAYS + 1, len(ok))),
        "o_orderpriority": _pick(rng, PRIORITIES, len(ok)),
    })
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": pa.array(rng.integers(1, 8, m), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _ts(EPOCH_1995 + 1 + rng.integers(0, SHIP_DAYS + 1, m)),
    })
    out["documents"] = _documents(rng, n["documents"], 0)
    return out


def tables(out_dir, seed, scale=1.0):
    """Write the tables at `scale` times sf0.1 under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    _write(pa.table({"r_regionkey": pa.array(range(5), type=pa.int32()),
                     "r_name": pa.array(REGIONS, type=pa.string())}),
           os.path.join(out_dir, "region.parquet"))
    _write(pa.table({"n_nationkey": pa.array(range(25), type=pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)], type=pa.string()),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())}),
           os.path.join(out_dir, "nation.parquet"))
    rng = np.random.default_rng([seed, 0])
    for name, t in _keyed(rng, sizes(scale)).items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))


def ingest(out_dir, seed, n_batches, batch_rows, n_deletes, n_lookups, lookup_keys, zone,
           scale=1.0):
    """Upsert/delete batches and lookup key sets against the orders table
    of `tables(..., scale=scale)`.

    Batch b upserts `batch_rows` rows: 3/4 rewrite existing keys drawn
    with a bias toward recent (high) keys, 1/4 insert fresh keys above
    every key used so far; it also deletes `n_deletes` existing keys.
    No key is both upserted and deleted in one batch.  Each lookup set
    holds `lookup_keys` keys, recent-biased, with one in eight absent.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1000])
    n = sizes(scale)
    n0 = n["orders"]
    next_key = n0
    for b in range(n_batches):
        n_ins = batch_rows // 4
        pool = n0 + b * n_ins
        # recent-biased existing keys: the square of a uniform leans toward 1
        want = batch_rows - n_ins + n_deletes
        picked = np.unique((pool - 1 - (rng.random(4 * want) ** 2 * pool).astype(np.int64)))
        picked = rng.permutation(picked)[:want]
        upd, dele = picked[:batch_rows - n_ins], picked[batch_rows - n_ins:]
        ins = np.arange(next_key, next_key + n_ins, dtype=np.int64)
        next_key += n_ins
        keys = np.concatenate([upd, ins])
        m = len(keys)
        ups = {
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, n["customer"], m),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], m),
            "o_totalprice": _money(rng, 1000.0, 500000.0, m),
            "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, ORDER_DAYS + 1, m)),
            "o_orderpriority": _pick(rng, PRIORITIES, m),
        }
        _write(pa.table(ups), os.path.join(out_dir, f"upsert-{b:03d}.parquet"))
        _write(pa.table({"o_orderkey": np.sort(dele)}),
               os.path.join(out_dir, f"delete-{b:03d}.parquet"))
    sets = []
    for _ in range(n_lookups):
        keys = set()
        while len(keys) < lookup_keys:
            if rng.random() < 0.125:
                keys.add(next_key + 1000 + int(rng.integers(0, 10 ** 6)))
            else:
                keys.add(next_key - 1 - int(rng.random() ** 2 * next_key))
        sets.append(sorted(keys))
    with open(os.path.join(out_dir, "lookups.json"), "w") as f:
        json.dump(sets, f)
    with open(os.path.join(out_dir, "zone.json"), "w") as f:
        json.dump([list(zone)], f)
