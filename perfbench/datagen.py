"""Deterministic synthetic inputs for the benchmark.

The tables follow the schema the engine's registry is written against
(a TPC-H-shaped star plus ``events``, ``documents`` and ``embeddings``)
at a given scale factor.  The table contents are fixed (``DATA_SEED``);
the benchmark seed only draws statement parameters, so a cache of the
generated files stays valid across seeds.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# bump when the generator changes so a stale cache is rebuilt
VERSION = "3"

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "green"]
NOUN = ["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]

# per-replica key offsets for the derived scale (tools/make_scaled_sf.py):
# every primary and foreign key moves by the same base, so joins stay as
# selective as in the source; region and nation keep a single copy.
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
}
KEY_BASE = 10_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: dt.date, rng, span, n):
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def base_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
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
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(dt.date(1995, 1, 1), rng, 2404, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(dt.date(1995, 1, 2), rng, 2498, n_li),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n_ev // 66), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(2.0, 30.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        if i % 50 == 49:  # near-duplicate of an earlier document
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=[0.4, .15, .15, .15, .15])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.15, (10, 64))
    emb = (centers[labels] + rng.normal(0, 0.08, (n_emb, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def _write(tables: dict[str, pa.Table], out: str) -> None:
    os.makedirs(out, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))


def write_replica(tables: dict[str, pa.Table], reps: int, out: str) -> None:
    """Key-offset replica: ``reps`` copies of every keyed TPC-H table, one
    file per copy under ``<table>.parquet/`` so a scan splits by copy."""
    _write({"region": tables["region"], "nation": tables["nation"]}, out)
    for name, keys in KEY_COLS.items():
        src = tables[name]
        tdir = os.path.join(out, f"{name}.parquet")
        os.makedirs(tdir)
        for r in range(reps):
            part = src
            for k in keys:
                i = part.schema.get_field_index(k)
                part = part.set_column(
                    i, k, pa.array(src[k].to_numpy() + r * KEY_BASE))
            pq.write_table(part, os.path.join(tdir, f"part-{r:05d}.parquet"))


def supplier_ratings_csv(tables: dict[str, pa.Table], reps: int,
                         path: str) -> None:
    """A second backend: one CSV of per-supplier ratings, keyed like the
    replica's ``supplier`` table."""
    rng = np.random.default_rng(DATA_SEED + 1)
    one = tables["supplier"]["s_suppkey"].to_numpy()
    keys = np.concatenate([one + r * KEY_BASE for r in range(reps)])
    tiers = np.array(["gold", "silver", "bronze"])
    with open(path, "w") as fh:
        fh.write("s_suppkey,tier,score\n")
        for k, t, s in zip(keys, tiers[rng.integers(0, 3, len(keys))],
                           rng.integers(0, 101, len(keys))):
            fh.write(f"{k},{t},{s}\n")


def ensure(root: str, sf: float, reps: int, pipeline_sf: float) -> dict:
    """Build (once) and return the input paths under ``root``: ``base``
    (scale ``sf``), ``replica`` (``reps`` key-offset copies of its TPC-H
    tables), ``ratings`` (the CSV database file) and ``pipeline`` (all
    tables at scale ``pipeline_sf``)."""
    top = os.path.join(root, f"v{VERSION}_sf{sf}_x{reps}_p{pipeline_sf}")
    paths = {
        "base": os.path.join(top, "base"),
        "replica": os.path.join(top, "replica"),
        "ratings": os.path.join(top, "ratings", "ratings.csv"),
        "pipeline": os.path.join(top, "pipeline"),
    }
    if os.path.exists(os.path.join(top, "DONE")):
        return paths
    shutil.rmtree(top, ignore_errors=True)
    tables = base_tables(sf)
    _write(tables, paths["base"])
    write_replica(tables, reps, paths["replica"])
    os.makedirs(os.path.dirname(paths["ratings"]))
    supplier_ratings_csv(tables, reps, paths["ratings"])
    _write(base_tables(pipeline_sf), paths["pipeline"])
    open(os.path.join(top, "DONE"), "w").close()
    return paths
