"""Seeded input generator for the benchmark.

Each table is a seeded sample, without replacement, of the key space of the
sf0.1 TPC-H-ish tables the engine reads (TESTDATA.md in the repository root
describes them), at a fixed row count per workload. Non-key columns are drawn
from the sf0.1 value ranges. Foreign keys point into the sampled parent keys,
so joins find partners; `(l_orderkey, l_linenumber)` is sampled without
replacement, so the engine's `sample_id` stays unique and the DuckDB oracle's
total ordering holds.

Row order is shuffled by the seed and every table is written as a directory
of two parquet files split at a seeded row. The same seed gives byte-identical
files; a different seed gives a different key set.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 key-space sizes: the population each table samples from.
POPULATION = {
    "orders": 150_000,
    "customer": 15_000,
    "part": 20_000,
    "supplier": 1_000,
    "documents": 5_000,
    "embeddings": 2_000,
    "events": 100_000,
}
MAX_LINES_PER_ORDER = 7
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
EMBEDDING_DIM = 64
EPOCH = dt.datetime(1970, 1, 1)


def sizes_for(lineitem_rows, documents_rows, embeddings_rows):
    """Row count of every table. The parent tables keep the sf0.1 ratios to
    lineitem (4 lines per order, 10 orders per customer), so the join fan-out
    matches the full-size data."""
    orders = max(1, lineitem_rows // 4)
    return {
        "lineitem": lineitem_rows,
        "orders": orders,
        "customer": max(1, min(POPULATION["customer"], orders // 10)),
        "part": max(1, min(POPULATION["part"], lineitem_rows // 30)),
        "supplier": max(1, min(POPULATION["supplier"], lineitem_rows // 600)),
        "documents": documents_rows,
        "embeddings": embeddings_rows,
        "events": max(1, lineitem_rows // 6),
    }


def _days(rng, lo, hi, n):
    """n timestamps at whole days, uniform in [lo, hi], as microseconds."""
    span = (hi - lo).days
    d = rng.integers(0, span + 1, n)
    base = int((lo - EPOCH).total_seconds()) * 1_000_000
    return base + d.astype(np.int64) * 86_400_000_000


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, options, n, p=None):
    return pa.array(np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)].tolist(),
                    type=pa.string())


def _sample_keys(rng, population, n):
    if n > population:
        raise ValueError(f"cannot sample {n} keys without replacement from {population}")
    return np.sort(rng.choice(population, n, replace=False)).astype(np.int64)


def make_tables(seed, sizes):
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    cust = _sample_keys(rng, POPULATION["customer"], sizes["customer"])
    t["customer"] = pa.table({
        "c_custkey": cust,
        "c_name": pa.array([f"Customer#{k:09d}" for k in cust]),
        "c_nationkey": pa.array(rng.integers(0, 25, len(cust)), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(cust)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], len(cust)),
    })
    supp = _sample_keys(rng, POPULATION["supplier"], sizes["supplier"])
    t["supplier"] = pa.table({
        "s_suppkey": supp,
        "s_name": pa.array([f"Supplier#{k:09d}" for k in supp]),
        "s_nationkey": pa.array(rng.integers(0, 25, len(supp)), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(supp)),
    })
    part = _sample_keys(rng, POPULATION["part"], sizes["part"])
    adj = ["large", "hot", "cold", "old", "blue", "new", "red", "small"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "anvil", "spring", "valve"]
    t["part"] = pa.table({
        "p_partkey": part,
        "p_name": pa.array([f"{adj[rng.integers(8)]} {noun[rng.integers(8)]}" for _ in part]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, len(part))]),
        "p_type": _pick(rng, ["LARGE", "ECONOMY", "STANDARD", "MEDIUM", "SMALL", "PROMO"], len(part)),
        "p_size": pa.array(rng.integers(1, 51, len(part)), pa.int32()),
        "p_retailprice": np.round(900.0 + (part % 1000) * 0.1, 1),
    })

    orders = _sample_keys(rng, POPULATION["orders"], sizes["orders"])
    t["orders"] = pa.table({
        "o_orderkey": orders,
        "o_custkey": cust[rng.integers(0, len(cust), len(orders))],
        "o_orderstatus": _pick(rng, ["O", "P", "F"], len(orders)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, len(orders)),
        "o_orderdate": _ts(_days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), len(orders))),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], len(orders)),
    })

    # (order, line) pairs without replacement from the sampled orders' lines
    n_li = sizes["lineitem"]
    slots = rng.choice(len(orders) * MAX_LINES_PER_ORDER, n_li, replace=False)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lpart = part[rng.integers(0, len(part), n_li)]
    t["lineitem"] = pa.table({
        "l_orderkey": orders[slots // MAX_LINES_PER_ORDER],
        "l_partkey": lpart,
        "l_suppkey": supp[rng.integers(0, len(supp), n_li)],
        "l_linenumber": pa.array(slots % MAX_LINES_PER_ORDER + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (lpart % 1000) * 0.1) * rng.uniform(1.0, 2.1, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(_days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_li)),
    })

    # documents: bag-of-words text; 5% are a copy of another document with
    # " dup" appended (edit distance 4), the near-dup pairs the dedup and
    # edit-distance operators look for
    docs = _sample_keys(rng, POPULATION["documents"], sizes["documents"])
    texts = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
             for _ in docs]
    for i in np.flatnonzero(rng.random(len(docs)) < 0.05):
        texts[i] = texts[rng.integers(0, len(docs))] + " dup"
    t["documents"] = pa.table({
        "doc_id": docs,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, len(docs), p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(len(docs))]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })

    vecs = _sample_keys(rng, POPULATION["embeddings"], sizes["embeddings"])
    emb = rng.normal(0.0, 0.125, (len(vecs), EMBEDDING_DIM)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": vecs,
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, len(vecs)), pa.int32()),
    })

    ev = _sample_keys(rng, POPULATION["events"], sizes["events"])
    t0 = int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds()) * 1_000_000
    t["events"] = pa.table({
        "event_id": ev,
        "ts": _ts(np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, len(ev)))),
        "user_id": rng.integers(0, 1500, len(ev)).astype(np.int64),
        "event_type": _pick(rng, ["signup", "click", "error", "view", "purchase"], len(ev)),
        "value": np.round(rng.exponential(60.0, len(ev)), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, len(ev))]),
    })
    return t, rng


def write(out_dir, seed, sizes):
    """Write every table as `<out_dir>/<table>.parquet/part-{0,1}.parquet`.
    Returns the row count of each table."""
    tables, rng = make_tables(seed, sizes)
    counts = {}
    for name, table in tables.items():
        table = table.take(rng.permutation(table.num_rows))
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        n = table.num_rows
        cut = int(rng.integers(int(n * 0.4), int(n * 0.6) + 1)) if n > 1 else n
        for i, piece in enumerate((table.slice(0, cut), table.slice(cut))):
            pq.write_table(piece, os.path.join(d, f"part-{i}.parquet"))
        counts[name] = n
    return counts
