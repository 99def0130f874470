"""Deterministic fixture tables for the benchmark.

The tables follow the schemas and value domains the library is written
against (TPC-H-ish star schema plus `events`, `documents` and
`embeddings`): key ranges, categorical domains, exact two-decimal money
columns, midnight-aligned dates, micro-second event timestamps ordered by
`event_id`, near-duplicate documents (5 % of texts are another text plus
" dup"), unit-norm 64-dim embeddings.

The fixtures are fixed: they come from FIXTURE_SEED, not from the workload
seed, so every workload seed runs against the same tables (the workload
seed drives the request stream, the deltas and the query order). Their
size is the library's scale factor 0.1: 600k lineitem rows, 17 MB.

    python3 fixtures.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
LAYOUT_VERSION = 2

N_SUPP, N_CUST, N_PART = 1_000, 15_000, 20_000
N_ORD, N_LINE, N_EV, N_USERS = 150_000, 600_000, 100_000, 1_500
N_DOCS, N_EMB = 5_000, 2_000

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
ADJ = "blue old large hot cold red small new".split()
NOUN = "widget gizmo ring gear bolt plate rod anvil".split()
P_TYPES = "LARGE ECONOMY STANDARD SMALL MEDIUM PROMO".split()
SEGMENTS = "MACHINERY HOUSEHOLD BUILDING FURNITURE AUTOMOBILE".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "signup click error view purchase".split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TABLES = ["region", "nation", "supplier", "customer", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

DAY_US = 86_400_000_000


def _us(date):
    return int(np.datetime64(date, "us").astype(np.int64))


def _money(rng, lo, hi, n):
    """Uniform money values, exact at two decimals (integer cents / 100)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, first, last, n):
    lo, hi = _us(first) // DAY_US, _us(last) // DAY_US
    return rng.integers(lo, hi + 1, n).astype(np.int64) * DAY_US


def _ts(values):
    return pa.array(values, type=pa.int64()).cast(pa.timestamp("us"))


def _strings(prefix, keys, width):
    return pa.array([f"{prefix}{k:0{width}d}" for k in keys], pa.string())


def tables():
    """All fixture tables, by name."""
    rng = np.random.default_rng(FIXTURE_SEED)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPP, dtype=np.int64)),
        "s_name": _strings("Supplier#", range(N_SUPP), 9),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPP)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUST, dtype=np.int64)),
        "c_name": _strings("Customer#", range(N_CUST), 9),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUST),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUST))})
    pk = np.arange(N_PART, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(ADJ, N_PART), rng.choice(NOUN, N_PART))]),
        "p_brand": pa.array([f"Brand#{b}"
                             for b in rng.integers(1, 26, N_PART)]),
        "p_type": pa.array(rng.choice(P_TYPES, N_PART)),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    # every customer has at least one order: the first N_CUST orders walk
    # a permutation of the customers, the rest pick uniformly
    cust = np.concatenate([rng.permutation(N_CUST),
                           rng.integers(0, N_CUST, N_ORD - N_CUST)])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORD, dtype=np.int64)),
        "o_custkey": pa.array(cust.astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], N_ORD)),
        "o_totalprice": _money(rng, 1000.0, 499999.99, N_ORD),
        "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", N_ORD)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORD))})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORD, N_LINE, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINE, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINE, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINE), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINE).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 104999.99, N_LINE),
        "l_discount": rng.integers(0, 11, N_LINE) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINE) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], N_LINE)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], N_LINE)),
        "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", N_LINE))})
    t0, t1 = _us("2024-01-01"), _us("2024-01-31")
    ts = np.sort(rng.integers(t0, t1, N_EV))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EV, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EV, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EV)),
        "value": np.round(rng.exponential(50.0, N_EV), 2),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, N_EV)])})
    texts = [" ".join(rng.choice(VOCAB, int(k)))
             for k in rng.integers(10, 101, N_DOCS)]
    for i in rng.choice(N_DOCS, N_DOCS // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, N_DOCS))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.standard_normal((N_EMB, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_EMB, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMB), pa.int32())})
    return out


def write(out_dir):
    """Write every table as one parquet file under `out_dir` (idempotent:
    a stamp file marks a complete set)."""
    stamp = os.path.join(out_dir, f".complete-v{LAYOUT_VERSION}")
    if os.path.exists(stamp):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables().items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, compression="snappy")
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    open(stamp, "w").close()


if __name__ == "__main__":
    write(sys.argv[1])
