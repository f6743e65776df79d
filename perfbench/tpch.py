"""Seeded TPC-H-shaped tables for the catalog workload.

Plain Python (``random.Random(seed)``) written with pyarrow, so the
same seed gives byte-identical parquet. Row counts and value domains
follow the repo's sf0.01 test tables (same column names and types):
1,500 customers, 15,000 orders, ~60,000 lineitems, 100 suppliers, 2,000
parts, 10,000 events, 500 documents and 500 64-d embeddings.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
PART_WORDS = ("small", "red", "blue", "large", "steel", "ring", "widget", "bolt", "gear")
PART_TYPES = ("ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO")
WORDS = (
    "a the data table row column key value scan join agg sort group filter "
    "window batch stream spark query line part order customer merge hash "
    "vector fast slow big small"
).split()
LANGS = ("en", "en", "en", "es", "de", "fr", "zh")

SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "events": 10000, "documents": 500, "embeddings": 500,
}
EPOCH = dt.datetime(1995, 1, 1)


def _day(rng: random.Random, lo: int, hi: int) -> dt.datetime:
    return EPOCH + dt.timedelta(days=rng.randint(lo, hi))


def _write(out: str, name: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(cols, schema=schema), os.path.join(out, f"{name}.parquet"))


def generate(out: str, seed: int) -> None:
    """Write every catalog table under ``out``."""
    rng = random.Random(f"tpch:{seed}")
    os.makedirs(out, exist_ok=True)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    _write(out, "region", {"r_regionkey": list(range(5)), "r_name": list(REGIONS)},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out, "nation", {
        "n_nationkey": list(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % 5 for i in range(25)],
    }, pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    nc = SIZES["customer"]
    _write(out, "customer", {
        "c_custkey": list(range(nc)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": [rng.randrange(25) for _ in range(nc)],
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(nc)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(nc)],
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                  ("c_acctbal", f64), ("c_mktsegment", s)]))

    ns = SIZES["supplier"]
    _write(out, "supplier", {
        "s_suppkey": list(range(ns)), "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": [rng.randrange(25) for _ in range(ns)],
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(ns)],
    }, pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))

    npart = SIZES["part"]
    _write(out, "part", {
        "p_partkey": list(range(npart)),
        "p_name": [f"{rng.choice(PART_WORDS)} {rng.choice(PART_WORDS)}" for _ in range(npart)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(npart)],
        "p_type": [rng.choice(PART_TYPES) for _ in range(npart)],
        "p_size": [rng.randint(1, 50) for _ in range(npart)],
        "p_retailprice": [round(900 + 0.1 * i, 2) for i in range(npart)],
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                  ("p_size", i32), ("p_retailprice", f64)]))

    no = SIZES["orders"]
    odate = [_day(rng, 0, 2403) for _ in range(no)]
    _write(out, "orders", {
        "o_orderkey": list(range(no)),
        "o_custkey": [rng.randrange(nc) for _ in range(no)],
        "o_orderstatus": [rng.choice("OFP") for _ in range(no)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(no)],
        "o_orderdate": odate,
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(no)],
    }, pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                  ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))

    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")}
    for ok in range(no):
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            li["l_orderkey"].append(ok)
            li["l_partkey"].append(rng.randrange(npart))
            li["l_suppkey"].append(rng.randrange(ns))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(odate[ok] + dt.timedelta(days=rng.randint(1, 121)))
    _write(out, "lineitem", li, pa.schema([
        ("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
        ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
        ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))

    ne = SIZES["events"]
    t0 = dt.datetime(2024, 1, 1)
    _write(out, "events", {
        "event_id": list(range(ne)),
        "ts": [t0 + dt.timedelta(microseconds=rng.randrange(30 * 86400 * 10**6))
               for _ in range(ne)],
        "user_id": [rng.randrange(150) for _ in range(ne)],
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(ne)],
        "value": [round(rng.uniform(0.01, 490), 2) for _ in range(ne)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(ne)],
    }, pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                  ("value", f64), ("props", s)]))

    nd = SIZES["documents"]
    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(8, 90))) for _ in range(nd)]
    # a few exact duplicates for the dedup entries
    for k in range(0, nd, 25):
        texts[k + 1] = texts[k]
    _write(out, "documents", {
        "doc_id": list(range(nd)), "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": [len(t) for t in texts],
    }, pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))

    nv = SIZES["embeddings"]
    _write(out, "embeddings", {
        "vec_id": list(range(nv)),
        "embedding": [[rng.gauss(0, 0.15) for _ in range(64)] for _ in range(nv)],
        "label": [rng.randrange(10) for _ in range(nv)],
    }, pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))
