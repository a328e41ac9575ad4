"""Seeded input generators: every byte the engine reads comes from here.

The same seed gives byte-identical parquet files. Shapes and value
domains follow the engine's synthetic star schema (the tables
``tables.load_table`` knows), so the registry queries and their DuckDB
oracles run on them unchanged; only the values differ between seeds,
never the row counts, so the work per op is the same on every seed.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
ADJ = np.array(["blue", "hot", "large", "old", "red", "small", "tiny", "cold"])
NOUN = np.array(["bolt", "gizmo", "plate", "ring", "rod", "widget", "nut", "gear"])
WORDS = np.array(
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small big query group filter "
    "stream customer vector dup".split()
)
LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])

_EPOCH = dt.datetime(1970, 1, 1)


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so resizing one table never
    # changes another's values
    return np.random.default_rng([seed, sum(map(ord, stream))])


def _days(rng, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    base = (dt.datetime.combine(lo, dt.time()) - _EPOCH).days
    span = (hi - lo).days
    us = (base + rng.integers(0, span + 1, n)).astype("int64") * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def star_schema(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten engine tables at scale factor ``sf`` under
    ``out_dir`` (``<name>.parquet`` each); returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_orders = int(150_000 * sf), int(1_500_000 * sf)
    n_line, n_part = int(6_000_000 * sf), int(200_000 * sf)
    n_supp, n_events = max(int(10_000 * sf), 10), int(1_000_000 * sf)
    n_docs, n_users = max(int(50_000 * sf), 50), max(int(15_000 * sf), 20)
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731

    _write(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    _write(p("customer"), {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": SEGMENTS[r.integers(0, 5, n_cust)],
    })
    r = _rng(seed, "supplier")
    _write(p("supplier"), {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99),
    })
    r = _rng(seed, "part")
    keys = np.arange(n_part, dtype="int64")
    _write(p("part"), {
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(ADJ[r.integers(0, 8, n_part)], " "),
                              NOUN[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": PART_TYPES[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1),
    })
    r = _rng(seed, "orders")
    _write(p("orders"), {
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": r.integers(0, n_cust, n_orders).astype("int64"),
        "o_orderstatus": STATUSES[r.integers(0, 3, n_orders)],
        "o_totalprice": _money(r, n_orders, 1000.0, 500_000.0),
        "o_orderdate": _days(r, n_orders, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": PRIORITIES[r.integers(0, 5, n_orders)],
    })
    r = _rng(seed, "lineitem")
    _write(p("lineitem"), {
        "l_orderkey": r.integers(0, n_orders, n_line).astype("int64"),
        "l_partkey": r.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": r.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": r.integers(1, 8, n_line).astype("int32"),
        "l_quantity": r.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(r, n_line, 900.0, 105_000.0),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    r = _rng(seed, "events")
    t0 = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1e6)
    ts = np.sort(r.integers(0, 30 * 86_400_000_000, n_events)) + t0
    _write(p("events"), {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": r.integers(0, n_users, n_events).astype("int64"),
        "event_type": EVENT_TYPES[r.integers(0, 5, n_events)],
        "value": _money(r, n_events, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
    })
    r = _rng(seed, "documents")
    words = [WORDS[r.integers(0, len(WORDS), r.integers(8, 90))] for _ in range(n_docs)]
    # the last tenth of the corpus are near-duplicates of long earlier
    # documents (one word replaced), so the dedup operators have pairs
    # to find: a replaced word in >= 50 keeps a pair's word-trigram
    # Jaccard above 0.85
    n_orig = n_docs - n_docs // 10
    long_docs = [i for i in range(n_orig) if len(words[i]) >= 50]
    for d in range(n_orig, n_docs):
        src = int(long_docs[r.integers(0, len(long_docs))])
        w = words[src].copy()
        at = int(r.integers(0, len(w)))
        w[at] = WORDS[(np.flatnonzero(WORDS == w[at])[0] + 1) % len(WORDS)]
        words[d] = w
    texts = [" ".join(w) for w in words]
    _write(p("documents"), {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": LANGS[r.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    r = _rng(seed, "embeddings")
    vecs = r.standard_normal((n_docs, 8)).astype("float32")
    _write(p("embeddings"), {
        "vec_id": np.arange(n_docs, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": r.integers(0, 4, n_docs).astype("int32"),
    })
    return {"customer": n_cust, "orders": n_orders, "lineitem": n_line}


def customer_entities(path: str, seed: int, n: int, dup_share: float = 0.05) -> np.ndarray:
    """Customer-shaped entity set for the REST stub: ``n`` distinct ids
    plus ``dup_share`` of them served twice (same id, other payload),
    so validate/dedup has work. Returns the distinct ids."""
    r = _rng(seed, "entities")
    ids = r.choice(np.arange(1, 10 * n), n, replace=False).astype("int64")
    dups = r.choice(ids, int(n * dup_share), replace=False)
    keys = np.concatenate([ids, dups])
    m = len(keys)
    _write(path, {
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": r.integers(0, 25, m).astype("int32"),
        "c_acctbal": _money(r, m, -999.99, 9999.99),
        "c_mktsegment": SEGMENTS[r.integers(0, 5, m)],
    })
    return np.sort(ids)


def txn_batches(out_dir: str, seed: int, n_base: int, n_upserts: int,
                upsert_rows: int, delete_rows: int) -> dict:
    """Base orders rows, keyed upsert batches and a delete key set for
    the txn workload, plus the closed-form state they must produce.

    Each upsert batch updates ``upsert_rows // 2`` live keys (with a
    changed ``o_custkey``) and inserts as many new keys; batches touch
    disjoint keys. The delete removes ``delete_rows`` live keys that no
    upsert touched."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "txn")
    state = {
        int(k): int(c)
        for k, c in zip(range(n_base), r.integers(0, 100_000, n_base))
    }

    def frame(keys, custs) -> dict:
        k = len(keys)
        return {
            "o_orderkey": np.asarray(keys, dtype="int64"),
            "o_custkey": np.asarray(custs, dtype="int64"),
            "o_orderstatus": STATUSES[r.integers(0, 3, k)],
            "o_totalprice": _money(r, k, 1000.0, 500_000.0),
        }

    _write(os.path.join(out_dir, "base.parquet"),
           frame(list(state), list(state.values())))
    perm = r.permutation(n_base)
    half = upsert_rows // 2
    next_key = n_base
    n_updates = n_inserts = 0
    for i in range(n_upserts):
        upd = perm[i * half:(i + 1) * half].tolist()
        new = list(range(next_key, next_key + half))
        next_key += half
        custs = r.integers(100_000, 200_000, 2 * half)
        _write(os.path.join(out_dir, f"upsert{i}.parquet"), frame(upd + new, custs))
        for k, c in zip(upd + new, custs):
            state[int(k)] = int(c)
        n_updates += len(upd)
        n_inserts += len(new)
    gone = perm[n_upserts * half:n_upserts * half + delete_rows].tolist()
    _write(os.path.join(out_dir, "delete.parquet"),
           {"o_orderkey": np.asarray(gone, dtype="int64")})
    for k in gone:
        del state[int(k)]
    return {
        "cdf": {
            "insert": n_base + n_inserts,
            "update_preimage": n_updates,
            "update_postimage": n_updates,
            "delete": len(gone),
        },
        "rows": len(state),
        "sum_custkey": sum(state.values()),
    }
