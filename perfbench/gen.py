"""Seeded table generator for the benchmark.

Writes the parquet tables the engine's catalog and detection pipeline
read (`region nation customer supplier part orders lineitem events
documents`), with the column names, physical types and value ranges of
the engine's fixture tables, at any scale factor. The same
(seed, sf) always gives byte-identical data.

    python3 perfbench/gen.py <outDir> <sf> <seed> [table ...]
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL = "region nation customer supplier part orders lineitem events documents".split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, seed):
    """Yield (name, pyarrow.Table) for every table at scale `sf`."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = max(int(6_000_000 * sf), 10)
    n_evt = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 3)
    n_docs = max(int(50_000 * sf), 10)

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    yield "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -1000, 10000, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    yield "part", pa.table({
        "p_partkey": pk,
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    order_days = rng.integers(0, 2405, n_ord)
    yield "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + order_days * US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    yield "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * US_PER_DAY)})
    # events: ascending timestamps over 30 days, exponential values
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_evt))
    yield "events", pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + ts),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = [" ".join(rng.choice(WORDS, int(k))) for k in rng.integers(10, 101, n_docs)]
    for i in range(0, n_docs, 625):  # a few exact and near duplicates
        j = int(rng.integers(0, n_docs))
        texts[j] = texts[i] if i % 1250 == 0 else texts[i] + " dup"
    yield "documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def write(out_dir, sf, seed, only=None):
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, table in tables(sf, seed):
        if only is None or name in only:
            pq.write_table(table, out / f"{name}.parquet", compression="snappy")


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]), set(sys.argv[4:]) or None)
