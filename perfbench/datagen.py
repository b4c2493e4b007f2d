"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the declared queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one parquet file each, with the schemas and value
distributions of the project's TPC-H-like test data (FIXTURES.md §A).
The tables are a pure function of ``scale`` and a fixed generator
seed; the benchmark's ``--seed`` drives only what each workload does
with them.

Differences from the test data that the workloads rely on:
``l_linenumber`` runs 1..n inside each order (n <= 7), so
``l_orderkey * 8 + l_linenumber`` is a unique row key for the CDC table.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]

US_PER_DAY = 86_400_000_000
# 1995-01-01 in days since the epoch
DAY0 = 9131


def _ts_us(days):
    return pa.array(np.asarray(days, dtype=np.int64) * US_PER_DAY,
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(scale):
    """Returns {name: pyarrow.Table} for the given scale factor."""
    rng = np.random.default_rng(GEN_SEED)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_evt = max(1_000, int(1_000_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1)})

    odate = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts_us(DAY0 + odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})

    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = np.arange(len(okey)) - starts + 1
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us(DAY0 + odate[okey] + rng.integers(1, 122, n_li))})

    evt_us = np.sort(rng.integers(0, 30 * US_PER_DAY, n_evt))
    # 2024-01-01 in days since the epoch
    evt_ts = pa.array(19723 * US_PER_DAY + evt_us, type=pa.timestamp("us"))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": evt_ts,
        "user_id": pa.array(rng.integers(0, max(150, n_evt // 66), n_evt),
                            pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        if i % 20 == 19 and i > 0:
            # near-duplicate of an earlier document, tagged like the
            # test data's near-dups
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), n)]))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    emb = rng.normal(0.0, 0.1, (n_emb, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def write(scale, out_dir):
    """Writes every table to ``out_dir/<name>.parquet`` (idempotent: a
    completed directory carries a ``_DONE`` marker)."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(scale).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write("ok\n")
    return out_dir
