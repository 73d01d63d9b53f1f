"""Seeded input generator for the end-to-end benchmark.

Writes one parquet directory per sync cycle under OUT/cycle_NNN/ and a
manifest (OUT/manifest.json) with the rows and bytes of every table, a
content hash per table, and the churn applied between cycles.

  sync  : region, nation, customer, orders (the star schema the
          `queries/` Drupal-shaped fixtures derive from)
  corpus: documents (doc_id, text, lang, source, n_chars)

Cycle 0 is a fresh snapshot; every later cycle churns the previous one:
customers removed and added (with their orders), customer names (and so
the derived e-mails) changed, and orders re-dated across the as-of date
the membership and leadership windows are evaluated at. For the corpus,
documents are removed and added, some of the added ones near-duplicates
of existing documents.

Same seed -> byte-identical parquet files; the RNG is numpy's PCG64.

  python3 e2ebench/gen.py --kind sync --seed 1 --cycles 4 --scale 2000 --out /tmp/x
"""
import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [  # (name, region) as in TPC-H
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1)]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])

DAY0 = np.datetime64("1992-01-01")
N_DAYS = int((np.datetime64("2001-12-31") - DAY0).astype(int))
ORDERS_PER_CUSTOMER = 10
# churn per cycle, as shares of the previous snapshot
CUST_REMOVE, CUST_ADD, CUST_RENAME, ORDER_REDATE = 0.03, 0.03, 0.03, 0.04
DOC_REMOVE, DOC_ADD, DOC_NEAR_DUP = 0.04, 0.04, 0.10


def _dates_distinct_per_customer(cust, days):
    """Shift order days forward until no customer has two orders on one
    day, so (customer, order date) is a key of the leadership extract."""
    days = days.copy()
    while True:
        order = np.lexsort((days, cust))
        c, d = cust[order], days[order]
        dup = np.zeros(len(c), bool)
        dup[1:] = (c[1:] == c[:-1]) & (d[1:] == d[:-1])
        if not dup.any():
            return days
        idx = order[dup]
        days[idx] = (days[idx] + 1) % N_DAYS


def _orders_for(rng, custkeys, first_key):
    n = rng.poisson(ORDERS_PER_CUSTOMER, len(custkeys)).clip(1, None)
    cust = np.repeat(custkeys, n)
    keys = first_key + np.arange(len(cust), dtype=np.int64) * 4 + rng.integers(0, 4, len(cust))
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": cust.astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), len(cust)),
        "o_totalprice": np.round(rng.uniform(900.0, 450000.0, len(cust)), 2),
        "o_orderday": _dates_distinct_per_customer(cust, rng.integers(0, N_DAYS, len(cust))),
        "o_orderpriority": rng.choice(np.array(PRIORITIES), len(cust)),
    }


def _customers_for(rng, keys):
    return {
        "c_custkey": keys.astype(np.int64),
        "c_name": np.array([f"Customer#{k:09d}" for k in keys], dtype=object),
        "c_nationkey": rng.integers(0, 25, len(keys)).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, len(keys)), 2),
        "c_mktsegment": rng.choice(np.array(SEGMENTS), len(keys)),
    }


def _concat(a, b):
    return {k: np.concatenate([a[k], b[k]]) for k in a}


def _take(t, mask):
    return {k: v[mask] for k, v in t.items()}


def _sync_tables(cust, orders):
    days = orders["o_orderday"]
    o = {k: v for k, v in orders.items() if k != "o_orderday"}
    o["o_orderdate"] = (DAY0 + days.astype("timedelta64[D]")).astype("datetime64[us]")
    order = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
             "o_orderpriority"]
    return {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [n for n, _ in NATIONS],
                            "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32())}),
        "customer": pa.table({k: cust[k] for k in
                              ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]}),
        "orders": pa.table({k: o[k] for k in order}),
    }


def sync_cycles(seed, cycles, scale):
    """Yield (tables, churn) per cycle; `scale` is the customer count."""
    rng = np.random.default_rng([seed, 1])
    cust = _customers_for(rng, np.arange(1, scale + 1))
    orders = _orders_for(rng, cust["c_custkey"], 1)
    yield _sync_tables(cust, orders), {}
    for c in range(1, cycles):
        n = len(cust["c_custkey"])
        gone = rng.random(n) < CUST_REMOVE
        kept_keys = cust["c_custkey"][~gone]
        cust = _take(cust, ~gone)
        orders = _take(orders, np.isin(orders["o_custkey"], kept_keys))
        rename = rng.random(len(cust["c_custkey"])) < CUST_RENAME
        cust["c_name"] = cust["c_name"].copy()
        for i in np.flatnonzero(rename):
            cust["c_name"][i] = f"Member{c:02d}#{cust['c_custkey'][i]:09d}"
        redate = rng.random(len(orders["o_orderkey"])) < ORDER_REDATE
        shift = rng.integers(30, 400, redate.sum()) * rng.choice([-1, 1], redate.sum())
        days = orders["o_orderday"].copy()
        days[redate] = (days[redate] + shift) % N_DAYS
        orders["o_orderday"] = _dates_distinct_per_customer(orders["o_custkey"], days)
        n_add = int(round(n * CUST_ADD))
        new_keys = cust["c_custkey"].max() + 1 + np.arange(n_add)
        cust = _concat(cust, _customers_for(rng, new_keys))
        orders = _concat(orders, _orders_for(rng, new_keys, int(orders["o_orderkey"].max()) + 1))
        yield _sync_tables(cust, orders), {
            "customers_removed": int(gone.sum()), "customers_added": n_add,
            "emails_changed": int(rename.sum()), "orders_redated": int(redate.sum())}


def _doc_texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    return [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]


def _near_dup(rng, text):
    toks = text.split()
    for i in rng.integers(0, len(toks), rng.integers(1, 4)):
        toks[i] = "dup"
    return " ".join(toks)


def _docs_for(rng, first_id, n, pool):
    texts = _doc_texts(rng, n)
    if pool:
        for i in np.flatnonzero(rng.random(n) < DOC_NEAR_DUP):
            texts[i] = _near_dup(rng, pool[rng.integers(0, len(pool))])
    return {
        "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": rng.choice(np.array(LANGS[0]), n, p=LANGS[1]),
        "source": np.array([f"src{i % 20}" for i in range(first_id, first_id + n)], dtype=object),
    }


def _corpus_tables(docs):
    t = pa.table({k: docs[k] for k in ["doc_id", "text", "lang", "source"]})
    n_chars = pa.array([len(s) for s in docs["text"]], pa.int64())
    return {"documents": t.append_column("n_chars", n_chars)}


def corpus_cycles(seed, cycles, scale):
    """Yield (tables, churn) per cycle; `scale` is the document count."""
    rng = np.random.default_rng([seed, 2])
    docs = _docs_for(rng, 0, scale, None)
    # near-duplicates inside the first snapshot too
    for i in np.flatnonzero(rng.random(scale) < DOC_NEAR_DUP):
        docs["text"][i] = _near_dup(rng, docs["text"][rng.integers(0, scale)])
    yield _corpus_tables(docs), {}
    for _ in range(1, cycles):
        n = len(docs["doc_id"])
        gone = rng.random(n) < DOC_REMOVE
        docs = _take(docs, ~gone)
        n_add = int(round(n * DOC_ADD))
        docs = _concat(docs, _docs_for(rng, int(docs["doc_id"].max()) + 1, n_add,
                                       list(docs["text"])))
        yield _corpus_tables(docs), {"documents_removed": int(gone.sum()),
                                     "documents_added": n_add}


def _sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def generate(kind, seed, cycles, scale, out):
    gen = {"sync": sync_cycles, "corpus": corpus_cycles}[kind]
    manifest = {"kind": kind, "seed": seed, "scale": scale, "cycles": []}
    for c, (tables, churn) in enumerate(gen(seed, cycles, scale)):
        d = os.path.join(out, f"cycle_{c:03d}")
        os.makedirs(d, exist_ok=True)
        info = {"dir": d, "churn": churn, "tables": {}}
        for name, t in tables.items():
            p = os.path.join(d, f"{name}.parquet")
            pq.write_table(t, p, compression="snappy")
            info["tables"][name] = {"rows": t.num_rows, "bytes": os.path.getsize(p),
                                    "sha256": _sha256(p)}
        manifest["cycles"].append(info)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--kind", choices=["sync", "corpus"], required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cycles", type=int, required=True)
    ap.add_argument("--scale", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    m = generate(a.kind, a.seed, a.cycles, a.scale, a.out)
    print(json.dumps([{"churn": c["churn"], "rows": {k: v["rows"] for k, v in c["tables"].items()}}
                      for c in m["cycles"]]))


if __name__ == "__main__":
    main()
