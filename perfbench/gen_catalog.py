#!/usr/bin/env python3
"""Seeded catalog corpus: the tables and column layout of
`tools/gen_testdata.py`, with the seed and the scale as arguments and the
fixed region/nation dimensions written here, so the corpus depends on
nothing outside this directory.

`scale` multiplies the sf0.01 row counts (scale 10 is the sf0.1 shape).
Same seed and scale give byte-identical parquet files.

Usage: python3 perfbench/gen_catalog.py <seed> <scale> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(table, out, name):
    pq.write_table(table, f"{out}/{name}.parquet")
    return table.num_rows


def write_corpus(seed, scale, out):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    rows = {}
    rows["region"] = write(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), out, "region")
    rows["nation"] = write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }), out, "nation")

    def n_of(base):
        return max(1, int(round(base * scale)))

    n_cust, n_supp, n_part = n_of(1500), n_of(100), n_of(2000)
    n_ord, n_li, n_ev = n_of(15000), n_of(60000), n_of(10000)
    n_doc, n_vec = n_of(500), n_of(500)

    rows["customer"] = write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(rng, ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                   "BUILDING", "FURNITURE"], n_cust),
    }), out, "customer")

    rows["supplier"] = write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp),
    }), out, "supplier")

    adjs = ["small", "large", "shiny", "plain", "rusty", "green", "red"]
    nouns = ["ring", "bolt", "gear", "pipe", "valve", "wheel", "plate"]
    a, b = rng.integers(0, 7, n_part), rng.integers(0, 7, n_part)
    rows["part"] = write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adjs[x]} {nouns[y]}" for x, y in zip(a, b)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 6, n_part)],
        "p_type": pick(rng, ["ECONOMY", "STANDARD", "PROMO", "MEDIUM", "SMALL",
                             "LARGE"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": money(rng, 900.0, 999.9, n_part),
    }), out, "part")

    day_ms = 86400000
    base95 = np.datetime64("1995-01-01").astype("datetime64[ms]").astype(np.int64)
    odate = base95 + rng.integers(0, 2405, n_ord) * day_ms
    rows["orders"] = write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(rng, ["P", "O", "F"], n_ord),
        "o_totalprice": money(rng, 1000.0, 400000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }), out, "orders")

    sdate = base95 + rng.integers(1, 2500, n_li) * day_ms
    rows["lineitem"] = write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 901.0, 104998.0, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": pick(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(sdate, pa.timestamp("ms")),
    }), out, "lineitem")

    # events: ts strictly increasing micros over ~30 days, stored as NANOS
    base24_us = np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
    span_us = 30 * 86400000000
    ts_us = base24_us + np.cumsum(rng.integers(1, 2 * span_us // n_ev, n_ev))
    rows["events"] = write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts_us * 1000, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, int(15 * scale) + 10, n_ev), pa.int64()),
        "event_type": pick(rng, ["click", "view", "purchase", "signup", "error"],
                           n_ev),
        "value": money(rng, 0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), out, "events")

    vocab = np.asarray((
        "window merge spark batch table join line agg small slow "
        "stream customer group data vector big the a query shuffle "
        "sort hash scan filter index column row cache plan stage "
        "task node disk memory net key value count sum").split(), dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 101)))])
             for _ in range(n_doc)]
    rows["documents"] = write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(rng, ["en", "de", "zh", "fr", "es"], n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts]), pa.int64()),
    }), out, "documents")

    emb = rng.uniform(-0.3125, 0.3125, (n_vec, 64)).astype(np.float32)
    rows["embeddings"] = write(pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * n_vec + 1, 64), pa.int32()),
            pa.array(emb.reshape(-1), pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    }), out, "embeddings")

    files = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
    stats = {"files": len(files), "rows": sum(rows.values()),
             "bytes": sum(os.path.getsize(f"{out}/{f}") for f in files),
             "tables": rows, "scale": scale}
    with open(f"{out}/corpus.json", "w") as f:
        json.dump({"seed": seed, "stats": stats}, f, indent=1, sort_keys=True)
    return stats


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    print(json.dumps(write_corpus(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3])))
