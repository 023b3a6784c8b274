"""Input tables of the query_mix workload, made from a seed.

The ten queries of the mix read four of the engine's tables: `lineitem`,
`events`, `nation` and `documents`. This module writes them as one
parquet file each, with the columns, types and value domains the engine's
loaders (`graft.Tables`) expect: a TPC-H-like `lineitem`, an `events`
stream of five event types over a month, 25 nations in five regions, and
short documents over a 30-word vocabulary of which about 5% are a copy
of an earlier document with " dup" appended (the near duplicates
`dedup_minhash_lsh` looks for). `sf` scales the row counts like the
TPC-H scale factor: sf 0.1 is 600,000 lineitem, 100,000 events and 5,000
documents.

  python3 perfbench/tables.py OUT_DIR [--sf 0.02] [--seed 42]
"""

import argparse
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SOURCES = 20
DUP_SHARE = 0.05


def us(y, m, d):
    return int(datetime.datetime(y, m, d, tzinfo=datetime.timezone.utc)
               .timestamp()) * 1_000_000


def lineitem(rng, sf):
    n = int(6_000_000 * sf)
    orders = int(1_500_000 * sf)
    day0, days = us(1995, 1, 2) // 86_400_000_000, 2498
    return pa.table({
        "l_orderkey": rng.integers(0, orders, n),
        "l_partkey": rng.integers(0, int(200_000 * sf), n),
        "l_suppkey": rng.integers(0, int(10_000 * sf), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array((day0 + rng.integers(0, days + 1, n)) * 86_400_000_000,
                               pa.timestamp("us")),
    })


def events(rng, sf):
    n = int(1_000_000 * sf)
    t0 = us(2024, 1, 1)
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def nation():
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def documents(rng, sf):
    n = max(500, int(50_000 * sf))
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": [f"src{i % SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write(out, sf, seed):
    """Write the four tables under `out` as <name>.parquet."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, table in (("lineitem", lineitem(rng, sf)), ("events", events(rng, sf)),
                        ("nation", nation()), ("documents", documents(rng, sf))):
        pq.write_table(table, os.path.join(out, name + ".parquet"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, default=0.02)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()
    write(args.out, args.sf, args.seed)


if __name__ == "__main__":
    main()
