"""Seeded generator for the relational and text tables the benchmark reads.

The tables follow the column names and types of the engine's oracle
fixtures (a TPC-H-like star schema plus `events`, `documents` and
`embeddings`), so every query of the engine's inventory runs on them
unchanged. Row counts scale linearly with `sf`; the same (seed, sf)
always writes byte-identical parquet files.

    python3 perfbench/gen_data.py <out_dir> <seed> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "small", "large", "steel", "brass", "white"]
NOUNS = ["anvil", "widget", "ring", "bolt", "gear", "valve", "spring", "plate"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base, rng, span, n):
    d = np.datetime64(base, "us") + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d, pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def tables(seed: int, sf: float) -> dict:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(20, int(10_000 * sf))
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(50, int(15_000 * sf))
    n_doc, n_emb = max(200, int(50_000 * sf)), max(200, int(20_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    out = {}
    out["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32([i % 5 for i in range(25)])})
    out["customer"] = pa.table({
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{c} {n}" for c in COLORS for n in NOUNS]
    out["part"] = pa.table({
        "p_partkey": i64(np.arange(n_part)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    out["orders"] = pa.table({
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", rng, 2405, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days("1995-01-02", rng, 2499, n_li)})
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    # documents: one in twenty is an earlier document plus " dup", the
    # near-duplicate shape the dedup operators look for
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            ws = rng.integers(0, len(WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(WORDS[w] for w in ws))
    out["documents"] = pa.table({
        "doc_id": i64(np.arange(n_doc)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n_doc),
        "n_chars": i64([len(t) for t in texts])})
    emb = rng.standard_normal((n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": i64(np.arange(n_emb)),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb))})
    return out


def write(out_dir: str, seed: int, sf: float) -> None:
    """Write every table to `<out_dir>/<name>.parquet`; a `_DONE` marker
    makes a finished directory reusable across runs of the same seed."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    open(os.path.join(out_dir, "_DONE"), "w").close()


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
