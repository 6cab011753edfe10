"""Seeded relational tables for the ``query_mix`` workload.

Writes the ten parquet tables the registered queries read (``region
nation customer supplier part orders lineitem events documents
embeddings``), with the column names and types of the engine's test
tables and similar value distributions, so every query and its DuckDB
oracle run on inputs made from the seed alone.

    python3 perfbench/relational.py --seed 1 --out <dir>
"""

from __future__ import annotations

import argparse
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
# the ``query_mix`` tables: 6,000 lineitem rows
SCALE = 0.001
WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
COLORS = ("blue", "cold", "hot", "red", "small", "green", "big", "old")
THINGS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")


def _day(base: str, offsets: np.ndarray) -> np.ndarray:
    return np.datetime64(base, "D") + offsets.astype("timedelta64[D]")


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables; ``scale`` 0.01 gives 60,000 lineitem rows."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 64)
    n_ord = max(int(1_500_000 * scale), 100)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * scale), 500)
    n_doc = max(int(50_000 * scale), 50)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": (rng.random(n_cust) * 10_999.0 - 999.0).round(2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": (rng.random(n_supp) * 10_999.0 - 999.0).round(2),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{COLORS[c]} {THINGS[h]}" for c, h in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": (900.0 + (pk % 1000) / 10.0).round(1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": (1000.0 + rng.random(n_ord) * 499_000.0).round(2),
        "o_orderdate": _day("1995-01-01", rng.integers(0, 2400, n_ord)).astype(
            "datetime64[us]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": (qty * (900.0 + rng.random(n_line) * 1200.0)).round(2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _day("1995-01-02", rng.integers(0, 2500, n_line)).astype(
            "datetime64[us]"),
    })
    gaps = np.maximum(rng.exponential(259e6, n_ev).astype(np.int64), 1)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"],
                                 n_ev),
        "value": np.maximum(rng.exponential(50.0, n_ev).round(2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lens = rng.integers(10, 100, n_doc)
    words = np.array(WORDS)
    text = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    # a few exact duplicates for the dedup queries
    for i in rng.choice(np.arange(1, n_doc), size=max(n_doc // 50, 1), replace=False):
        text[i] = text[i - 1]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": text,
        "lang": rng.choice(["de", "en", "en", "en", "es", "fr", "zh"], n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(s) for s in text], dtype=np.int64),
    })
    emb = rng.standard_normal((n_doc, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_doc).astype(np.int32),
    })
    return t


def generate(seed: int, out_dir: str) -> dict:
    """Write ``<out_dir>/<table>.parquet``; return ``{"rows", "digest"}``,
    the digest being an md5 over every file written, in table order."""
    os.makedirs(out_dir, exist_ok=True)
    md5 = hashlib.md5()
    rows = 0
    for name, table in build(seed, SCALE).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        with open(path, "rb") as fh:
            md5.update(fh.read())
        rows += table.num_rows
    return {"rows": rows, "digest": md5.hexdigest()}


def main() -> None:
    p = argparse.ArgumentParser(description="Write seeded query-mix tables.")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    info = generate(a.seed, a.out)
    print(f"rows={info['rows']} digest={info['digest']}")


if __name__ == "__main__":
    main()
