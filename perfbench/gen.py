"""Seeded input generator for the benchmark.

Writes the four tables the benchmark's queries read (orders, lineitem,
customer, documents) as one single-row-group parquet file each, with the
schemas of the engine's TPC-H-style test tables. Every value comes from
``random.Random(seed)``: the same seed gives byte-identical tables, another
seed gives other keys, dates, prices and texts at the same sizes.

The tables are generated rather than copied so that a run reads nothing
outside its checkout. Shapes follow the engine's fixtures:

- order dates are whole days, so every derived week range is valid;
- each ``documents`` text is a bag of words over a small vocabulary, and
  about 5% of the documents are near-duplicates of an earlier one (its
  text plus the token ``dup``), which gives the dedup kernels real pairs;
- ``Sources.balanced`` switches on the number of input splits, so the
  file and row-group counts are recorded in ``manifest.json``.

Usage: python3 perfbench/gen.py <out_dir> <seed>
"""
import datetime
import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ORDERS = 20000          # rows of `orders`; the other tables scale with it
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en"] * 10 + ["de"] * 4 + ["fr"] * 3 + ["es"] * 3 + ["zh"] * 3
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
DAY0 = datetime.datetime(1995, 1, 1)
DAYS = 2404             # 1995-01-01 .. 2001-08-01


def sizes(orders: int) -> dict:
    """Row counts of the generated tables for a given `orders` size."""
    return {"orders": orders, "customer": max(orders // 10, 10),
            "supplier": max(orders // 150, 10), "part": max(orders // 8, 10),
            "documents": max(orders // 30, 20)}


def tables(seed: int, orders: int = ORDERS) -> dict:
    rnd = random.Random(seed)
    n = sizes(orders)
    # a seeded key shift (the ScaleGen replica shift, by a seed-chosen
    # replica index): keys differ per seed, so hash placement does too
    shift = rnd.randrange(1, 100) * 10_000_000

    cust = {"c_custkey": [], "c_name": [], "c_nationkey": [], "c_acctbal": [],
            "c_mktsegment": []}
    for i in range(n["customer"]):
        cust["c_custkey"].append(shift + i)
        cust["c_name"].append(f"Customer#{i:09d}")
        cust["c_nationkey"].append(rnd.randrange(25))
        cust["c_acctbal"].append(round(rnd.uniform(-999.99, 9999.99), 2))
        cust["c_mktsegment"].append(rnd.choice(SEGMENTS))

    ords = {"o_orderkey": [], "o_custkey": [], "o_orderstatus": [],
            "o_totalprice": [], "o_orderdate": [], "o_orderpriority": []}
    line = {"l_orderkey": [], "l_partkey": [], "l_suppkey": [],
            "l_linenumber": [], "l_quantity": [], "l_extendedprice": [],
            "l_discount": [], "l_tax": [], "l_returnflag": [],
            "l_linestatus": [], "l_shipdate": []}
    for i in range(orders):
        key = shift + i
        date = DAY0 + datetime.timedelta(days=rnd.randrange(DAYS))
        ords["o_orderkey"].append(key)
        ords["o_custkey"].append(shift + rnd.randrange(n["customer"]))
        ords["o_orderstatus"].append(rnd.choice("FOP"))
        ords["o_totalprice"].append(round(rnd.uniform(1000.0, 500000.0), 2))
        ords["o_orderdate"].append(date)
        ords["o_orderpriority"].append(rnd.choice(PRIORITIES))
        for ln in range(1, rnd.randrange(1, 8) + 1):
            qty = float(rnd.randrange(1, 51))
            line["l_orderkey"].append(key)
            line["l_partkey"].append(shift + rnd.randrange(n["part"]))
            line["l_suppkey"].append(shift + rnd.randrange(n["supplier"]))
            line["l_linenumber"].append(ln)
            line["l_quantity"].append(qty)
            line["l_extendedprice"].append(round(qty * rnd.uniform(900, 2000), 2))
            line["l_discount"].append(rnd.randrange(11) / 100)
            line["l_tax"].append(rnd.randrange(9) / 100)
            line["l_returnflag"].append(rnd.choice("ANR"))
            line["l_linestatus"].append(rnd.choice("OF"))
            line["l_shipdate"].append(date + datetime.timedelta(days=rnd.randrange(1, 122)))

    docs = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for i in range(n["documents"]):
        if i > 10 and rnd.random() < 0.05:
            text = docs["text"][rnd.randrange(i)] + " dup"
        else:
            text = " ".join(rnd.choice(VOCAB) for _ in range(rnd.randrange(8, 91)))
        docs["doc_id"].append(shift + i)
        docs["text"].append(text)
        docs["lang"].append(rnd.choice(LANGS))
        docs["source"].append(f"src{rnd.randrange(20)}")
        docs["n_chars"].append(len(text))

    ts = pa.timestamp("us")
    return {
        "customer": pa.table(cust, schema=pa.schema([
            ("c_custkey", pa.int64()), ("c_name", pa.string()),
            ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string())])),
        "orders": pa.table(ords, schema=pa.schema([
            ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
            ("o_orderdate", ts), ("o_orderpriority", pa.string())])),
        "lineitem": pa.table(line, schema=pa.schema([
            ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()), ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
            ("l_shipdate", ts)])),
        "documents": pa.table(docs, schema=pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()),
            ("lang", pa.string()), ("source", pa.string()),
            ("n_chars", pa.int64())])),
    }


def generate(out_dir: str, seed: int, orders: int = ORDERS) -> dict:
    """Write the tables for `seed` under `out_dir` (idempotent: an existing
    complete directory is reused) and return its manifest."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if manifest.get("seed") == seed and manifest.get("orders") == orders:
            return manifest
    os.makedirs(out_dir, exist_ok=True)
    manifest = {"seed": seed, "orders": orders, "tables": {}}
    for name, table in tables(seed, orders).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=table.num_rows)
        manifest["tables"][name] = {
            "rows": table.num_rows, "files": 1,
            "row_groups": pq.ParquetFile(path).metadata.num_row_groups}
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2])), sort_keys=True))
