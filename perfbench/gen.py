"""Seeded synthetic corpus with the schema and value domains of the
registry's parquet fixtures (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings).

The same (sf, seed) always writes the same files. Row counts follow the
fixture scale rules: most tables scale linearly with sf; documents and
embeddings have a floor of 500 rows.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000      # 1995-01-01 in µs
EPOCH_2024 = 1_704_067_200_000_000    # 2024-01-01 in µs


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us):
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def counts(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def events(sf, seed):
    """The events table as numpy columns (also the source workloads' payloads)."""
    rng = np.random.default_rng([seed, 7])
    n = counts(sf)["events"]
    users = max(1, counts(sf)["customer"] // 10)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n)),
        "user_id": rng.integers(0, users, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_corpus(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    c = counts(sf)
    rng = np.random.default_rng([seed, 1])
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = c["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n)})
    n = c["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = c["part"]
    keys = np.arange(n, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(rng.choice(ADJ, n), " "), rng.choice(NOUN, n)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": rng.choice(PTYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    n = c["orders"]
    _write(out, "orders", {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, c["customer"], n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n)})
    n = c["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, c["orders"], n),
        "l_partkey": rng.integers(0, c["part"], n),
        "l_suppkey": rng.integers(0, c["supplier"], n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2499, n)) * DAY_US)})
    ev = events(sf, seed)
    _write(out, "events", dict(ev, ts=_ts(ev["ts"])))
    _write(out, "documents", _documents(np.random.default_rng([seed, 3]), c["documents"]))
    n = c["embeddings"]
    erng = np.random.default_rng([seed, 4])
    vecs = erng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(erng.integers(0, 10, n), pa.int32())})


def write_payloads(path, sf, seed):
    """The events table as stream payloads: `user_id TAB json` per line."""
    ev = events(sf, seed)
    ts = (np.datetime64("1970-01-01T00:00:00", "us") + ev["ts"].astype("timedelta64[us]"))
    with open(path, "w") as f:
        for i in range(len(ev["event_id"])):
            f.write("%d\t%s\n" % (ev["user_id"][i], json.dumps({
                "event_id": int(ev["event_id"][i]), "ts": str(ts[i]),
                "user_id": int(ev["user_id"][i]), "event_type": str(ev["event_type"][i]),
                "value": float(ev["value"][i]), "props": str(ev["props"][i])})))
