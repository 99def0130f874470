"""Seeded inputs for each workload.

Everything the program under test receives is generated here from the
workload seed: the `soql_client` request stream (templates, predicate
constants, offsets, the sampled output checks) and its write deltas, and
the query order of every batch pass. The fixture tables themselves are
fixed (fixtures.py).

Each `soql_client` block holds the same multiset of request templates --
ten reads and one write -- in a seeded order, so two seeds differ in
constants and order but not in mix.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fixtures import (LANGS, N_CUST, N_ORD, N_USERS, PRIORITIES, TABLES,
                      VOCAB)

# heavy_batch: ROADMAP direction 4's heavy operators (task time, shuffle)
HEAVY_BATCH = ["q97_curation_pipeline", "q86_dedup_ngram", "q145_fuzzy_match",
               "q146_interval_overlap"]
# iterative: one query per loop shape (fixed rounds, convergence-counted
# rounds, per-round checkpoints)
ITERATIVE = ["q157_pagerank", "q159_bfs_hops", "q202_kcore_peel"]

# untimed units run before the timed ones: the first executions of a
# query shape are dominated by JIT and code generation. The heavy queries
# settle after one execution; the iterative ones are still speeding up
# after six, and two passes are what the time budget allows.
PRIME_BLOCKS = 1
PRIME_PASSES = {"heavy_batch": 1, "iterative": 2}
READ_CHECK_SHARE = 0.3
PAGE_SIZE = 8
DELTA_UPDATES, DELTA_NEW = 40, 10
BASE_MAX_ORDERDATE = np.datetime64("2001-08-01", "D")


def _day(rng, first, last):
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return np.datetime64(int(rng.integers(lo, hi + 1)), "D")


def _ts(day):
    return f"TIMESTAMP '{day} 00:00:00'"


def _order_all(cols, first=None):
    """An $order over every output column (a total order on the output,
    so offsets and row-by-row checks are deterministic)."""
    head = [first] if first else []
    name = first.split()[0] if first else None
    return head + [c for c in cols if c != name]


def _sql(table, p):
    """The request as plain Spark SQL over the raw parquet view."""
    sel = ", ".join(p.get("select") or ["*"])
    where = []
    if p.get("q"):
        cols = p["q_cols"]
        terms = p["q"].split()
        where.append("(" + " OR ".join(
            "(" + " AND ".join(f"array_contains(split({c}, ' '), '{t}')"
                               for t in terms) + ")" for c in cols) + ")")
    if p.get("where"):
        where.append(f"({p['where']})")
    s = f"SELECT {sel} FROM raw_{table}"
    if where:
        s += " WHERE " + " AND ".join(where)
    if p.get("group"):
        s += " GROUP BY " + ", ".join(p["group"])
    if p.get("order"):
        s += " ORDER BY " + ", ".join(p["order"])
    if p.get("limit") is not None:
        s += f" LIMIT {p['limit']}"
    if p.get("offset"):
        s += f" OFFSET {p['offset']}"
    return s


def _read(template, rng):
    """One read request of `template` with seeded constants."""
    r = {"kind": "dataFor", "template": template}
    if template == "list":
        return {"kind": "list", "template": "list",
                "expect_tables": sorted(TABLES)}
    if template == "lineitem_range":
        d = _day(rng, "1995-01-02", "2001-09-30")
        cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
                "l_shipdate"]
        p = {"select": cols,
             "where": f"l_shipdate >= {_ts(d)} AND "
                      f"l_shipdate < {_ts(d + 30)} AND "
                      f"l_quantity < {int(rng.integers(5, 40))}",
             "order": _order_all(cols, "l_extendedprice desc"),
             "limit": 20, "offset": int(rng.integers(0, 40))}
        r.update(table="lineitem", params=p)
    elif template == "lineitem_group":
        d = _day(rng, "1996-01-01", "2001-06-30")
        p = {"select": ["l_returnflag", "l_linestatus", "count(*) AS n",
                        "round(sum(l_extendedprice), 2) AS revenue"],
             "where": f"l_discount >= {int(rng.integers(0, 9)) / 100} AND "
                      f"l_shipdate < {_ts(d)}",
             "group": ["l_returnflag", "l_linestatus"],
             "order": ["l_returnflag", "l_linestatus"]}
        r.update(table="lineitem", params=p)
    elif template == "orders_top":
        cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
        status = str(rng.choice(["O", "F", "P"]))
        p = {"select": cols,
             "where": f"o_orderstatus = '{status}' AND "
                      f"o_totalprice > {int(rng.integers(100, 450)) * 1000}",
             "order": _order_all(cols, "o_totalprice desc"),
             "limit": 25, "offset": int(rng.integers(0, 50))}
        r.update(table="orders", params=p)
    elif template == "orders_group":
        d = _day(rng, "1995-01-01", "2001-06-30")
        p = {"select": ["o_orderpriority", "count(*) AS n",
                        "round(avg(o_totalprice), 2) AS avg_price"],
             "where": f"o_orderdate >= {_ts(d)}",
             "group": ["o_orderpriority"], "order": ["o_orderpriority"]}
        r.update(table="orders", params=p)
    elif template == "events_user":
        cols = ["event_id", "ts", "event_type", "value"]
        p = {"select": cols,
             "where": f"user_id = {int(rng.integers(0, N_USERS))} AND "
                      f"value > {int(rng.integers(0, 40))}",
             "order": _order_all(cols, "event_id"),
             "limit": 30, "offset": int(rng.integers(0, 10))}
        r.update(table="events", params=p)
    elif template == "events_group":
        d = _day(rng, "2024-01-01", "2024-01-25")
        p = {"select": ["event_type", "count(*) AS n",
                        "round(sum(value), 2) AS total"],
             "where": f"ts >= {_ts(d)} AND ts < {_ts(d + 5)}",
             "group": ["event_type"], "order": ["event_type"]}
        r.update(table="events", params=p)
    elif template == "documents_q":
        cols = ["doc_id", "lang", "n_chars"]
        p = {"q": " ".join(rng.choice(VOCAB, 2, replace=False)),
             "q_cols": ["text", "lang", "source"],
             "select": cols,
             "where": f"lang = '{rng.choice(LANGS)}'",
             "order": _order_all(cols, "n_chars desc"), "limit": 20}
        r.update(table="documents", params=p)
    elif template == "documents_group":
        p = {"select": ["source", "count(*) AS n",
                        "round(avg(n_chars), 2) AS avg_chars"],
             "where": f"lang = '{rng.choice(LANGS)}'",
             "group": ["source"], "order": ["source"]}
        r.update(table="documents", params=p)
    elif template == "fetch_pages":
        cols = ["o_orderkey", "o_totalprice", "o_orderstatus"]
        c = int(rng.integers(0, N_CUST - 2))
        p = {"select": cols,
             "where": f"o_custkey >= {c} AND o_custkey < {c + 2}",
             "order": _order_all(cols, "o_orderkey")}
        r = {"kind": "fetchPages", "template": template, "table": "orders",
             "params": p, "page_size": PAGE_SIZE}
    else:
        raise ValueError(template)
    r["sql"] = _sql(r["table"], r["params"])
    r["params"] = {k: v for k, v in r["params"].items() if k != "q_cols"}
    return r


READS = ["list", "lineitem_range", "lineitem_group", "orders_top",
         "orders_group", "events_user", "events_group", "documents_q",
         "documents_group", "fetch_pages"]


def _delta(rng, k, path):
    """Write delta k: updated and new orders stamped k+1 days after the
    fixture's newest order date, so every write moves the watermark."""
    day = BASE_MAX_ORDERDATE + (k + 1)
    keys = np.concatenate([
        rng.choice(N_ORD, DELTA_UPDATES, replace=False),
        N_ORD + k * DELTA_NEW + np.arange(DELTA_NEW)]).astype(np.int64)
    n = len(keys)
    us = day.astype("datetime64[us]").astype(np.int64)
    table = pa.table({
        "o_orderkey": pa.array(keys),
        "o_custkey": pa.array(rng.integers(0, N_CUST, n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n)),
        "o_totalprice": rng.integers(100_000, 50_000_000, n) / 100.0,
        "o_orderdate": pa.array(np.full(n, us), pa.int64())
        .cast(pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n))})
    pq.write_table(table, path, compression="snappy")
    return n


def soql_plan(seed, units, run_dir):
    rng = np.random.default_rng([seed, 1])
    delta_dir = os.path.join(run_dir, "deltas")
    os.makedirs(delta_dir, exist_ok=True)
    deltas = 0

    def block():
        nonlocal deltas
        out = []
        for t in rng.permutation(READS + ["write"]):
            if t == "write":
                path = os.path.join(delta_dir, f"delta-{deltas:04d}.parquet")
                rows = _delta(rng, deltas, path)
                deltas += 1
                out.append({"kind": "write", "template": "write",
                            "delta": path, "rows": rows})
            else:
                r = _read(str(t), rng)
                r["check"] = bool(rng.random() < READ_CHECK_SHARE)
                out.append(r)
        return out

    prime = [block() for _ in range(PRIME_BLOCKS)]
    return {"prime": prime, "blocks": [block() for _ in range(units)]}


def batch_plan(seed, units, workload):
    rng = np.random.default_rng([seed, 2])
    queries = HEAVY_BATCH if workload == "heavy_batch" else ITERATIVE
    prime = PRIME_PASSES[workload]
    passes = [[queries[i] for i in rng.permutation(len(queries))]
              for _ in range(prime + units)]
    return {"queries": queries, "prime": passes[:prime],
            "passes": passes[prime:]}
