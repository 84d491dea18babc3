"""Seeded generator of the registry's parquet tables.

Writes the ten tables the registry queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
column names, types and value ranges of the repository's TPC-H-ish test
data, at a given scale factor. The same (seed, sf) gives the same tables.

    python3 perfbench/gen_tables.py OUT_DIR SEED [SF]
"""
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, span_days, n):
    return pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, span_days, n), unit="D")


def frames(seed: int, sf: float) -> dict:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users, n_doc = int(1_000_000 * sf), max(int(15_000 * sf), 10), int(50_000 * sf)
    i32 = np.int32
    out = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32)}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": money(rng, -999.99, 9999.99, n_supp)}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(rng, 1000, 500_000, n_ord),
            "o_orderdate": days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)}),
    }
    qty = rng.integers(1, 51, n_line).astype(float)
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": days(rng, "1995-01-02", 2498, n_line)})
    # events: one month of traffic, microsecond timestamps in event_id order
    gaps = rng.integers(1, int(2 * 30 * 86400e6 / n_ev), n_ev)
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(gaps), unit="us"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": money(rng, 0.01, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(10, 100, n_doc)]
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vec = rng.standard_normal((n_doc, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": list(vec),
        "label": rng.integers(0, 10, n_doc).astype(i32)})
    return out


def write(out_dir: Path, seed: int, sf: float) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions=false")
    con.execute("SET autoload_known_extensions=false")
    for name, df in frames(seed, sf).items():
        con.register("frame", df)
        cast = "embedding::FLOAT[] AS embedding" if name == "embeddings" else None
        select = "SELECT * REPLACE (" + cast + ") FROM frame" if cast else "SELECT * FROM frame"
        con.execute(f"COPY ({select}) TO '{out_dir / (name + '.parquet')}' (FORMAT PARQUET)")
        con.unregister("frame")
    con.close()


if __name__ == "__main__":
    write(Path(sys.argv[1]), int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.01)
