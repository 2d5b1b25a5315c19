"""Seeded input generator.

Every input a workload hands to the engine is written here, before any
timing starts: parquet files plus a JSON operation schedule.  The same
seed gives byte-identical files (numpy's PCG64 stream, fixed parquet
writer options).  The engine under test only ever sees these files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Keyed-table shape shared by the ingest and serve workloads: key ``k``
# (base keys are the even numbers 0 .. 2N-2, odd keys are new), value
# ``v`` (zone-mapped), group ``g`` (indexed / aggregated), write order
# ``seq``.  ``v2`` is derived by the Each(ExpressionFunction) step.
V_MAX = 1000
G_VALUES = 32
DERIVED = "v2"
DERIVED_EXPR = "v * 2 + 1"


def derived(v: int) -> int:
    """``DERIVED_EXPR`` evaluated in Python, for the expected state."""
    return v * 2 + 1


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", use_dictionary=False,
                   write_statistics=True)


def _keyed(k, v, g, seq) -> pa.Table:
    return pa.table({
        "k": pa.array(k, pa.int64()), "v": pa.array(v, pa.int64()),
        "g": pa.array(g, pa.int64()), "seq": pa.array(seq, pa.int64()),
    })


def _base(rng, n_rows: int) -> pa.Table:
    return _keyed(np.arange(n_rows, dtype=np.int64) * 2,
                  rng.integers(0, V_MAX, n_rows), rng.integers(0, G_VALUES, n_rows),
                  np.zeros(n_rows, dtype=np.int64))


def ingest(seed: int, out: str, n_rows: int = 12000, batch_rows: int = 400,
           n_batches: int = 48, maintain_every: int = 3) -> dict:
    """Base table plus a stream of upsert batches.  Keys are uniform over
    the key space; each batch holds 10% new (odd) keys and 10% repeats
    of keys earlier in the same batch (higher ``seq`` wins)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    _write(_base(rng, n_rows), os.path.join(out, "base.parquet"))
    n_new = n_dup = batch_rows // 10
    seq = 1
    batches = []
    for b in range(n_batches):
        k = np.concatenate([
            rng.integers(0, n_rows, batch_rows - n_new - n_dup) * 2,
            rng.integers(0, n_rows, n_new) * 2 + 1,
        ])
        k = np.concatenate([k, rng.choice(k, n_dup)])
        order = rng.permutation(batch_rows)
        t = _keyed(k[order], rng.integers(0, V_MAX, batch_rows),
                   rng.integers(0, G_VALUES, batch_rows),
                   np.arange(seq, seq + batch_rows, dtype=np.int64)[rng.permutation(batch_rows)])
        seq += batch_rows
        name = f"batch-{b:04d}.parquet"
        _write(t, os.path.join(out, name))
        batches.append(name)
    sched = {"base": "base.parquet", "batches": batches, "batch_rows": batch_rows,
             "maintain_every": maintain_every, "n_rows": n_rows}
    return _save_schedule(out, sched)


# serve: op mix per block of 20 operations (70/15/10/5 %), shuffled
# inside each block so every block has the same composition; the 14
# multi-gets of a block ask for these key counts (mean 5.5, as 1-10).
SERVE_BLOCK = ("get",) * 14 + ("scan",) * 3 + ("index",) * 2 + ("write",)
GET_SIZES = (1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 2, 4, 7, 9)


def serve(seed: int, out: str, n_rows: int = 20000, n_blocks: int = 40,
          scan_rows: int = 500, hot_keys: int = 64, write_rows: int = 5,
          zipf_a: float = 1.2) -> dict:
    """Loaded table plus a closed-loop operation schedule: Zipf-skewed
    multi-gets of 1-10 keys (``GET_SIZES`` per block), key-range scans of
    ``scan_rows`` base keys, index lookups on ``g``, and small upserts of
    the hottest keys."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    _write(_base(rng, n_rows), os.path.join(out, "base.parquet"))
    by_rank = rng.permutation(n_rows) * 2  # Zipf rank -> key
    hot = np.sort(by_rank[:hot_keys])

    def zipf_keys(n):
        return [int(by_rank[(r - 1) % n_rows]) for r in rng.zipf(zipf_a, n)]

    seq = 1
    sizes: list[int] = []

    def make(kind):
        nonlocal seq, sizes
        if kind == "get":
            if not sizes:
                sizes = [int(n) for n in rng.permutation(np.array(GET_SIZES))]
            return {"kind": kind, "keys": zipf_keys(sizes.pop())}
        if kind == "scan":
            start = int(rng.integers(0, n_rows - scan_rows)) * 2
            return {"kind": kind, "start": start, "stop": start + 2 * scan_rows}
        if kind == "index":
            return {"kind": kind, "value": int(rng.integers(0, G_VALUES))}
        # ``write_rows`` hot keys adjacent in key order: few buckets touched.
        start = int(rng.integers(0, hot_keys - write_rows + 1))
        k = hot[start:start + write_rows]
        name = f"write-{seq:06d}.parquet"
        _write(_keyed(k, rng.integers(0, V_MAX, write_rows),
                      rng.integers(0, G_VALUES, write_rows),
                      np.arange(seq, seq + write_rows, dtype=np.int64)),
               os.path.join(out, name))
        seq += write_rows
        return {"kind": kind, "path": name}

    # Warm-up runs one operation of each kind before timing starts.
    warm = [make(kind) for kind in ("get", "scan", "index", "write")]
    ops = [make(str(kind)) for _ in range(n_blocks)
           for kind in rng.permutation(np.array(SERVE_BLOCK))]
    sched = {"base": "base.parquet", "warm": warm, "ops": ops,
             "block": len(SERVE_BLOCK), "n_rows": n_rows}
    return _save_schedule(out, sched)


ANALYTIC_QUERIES = (
    "join_star_revenue", "agg_pricing_summary", "q21_suppliers_kept_waiting",
    "dedup_minhash_lsh", "similarity_cosine_topk",
)
_WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
          "line sort window order data column join small customer query big "
          "stream group filter vector the a").split()
_EPOCH_US = 694224000 * 10**6  # 1992-01-01 in microseconds


def analytic(seed: int, out: str, n_orders: int = 15000, n_customers: int = 1500,
             n_suppliers: int = 100, n_docs: int = 500, n_vecs: int = 500,
             n_passes: int = 32) -> dict:
    """A TPC-H-shaped star schema plus documents and embeddings (the
    tables the five registry queries read), and the per-pass query
    order, permuted by the seed."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    day = 86400 * 10**6

    def put(name, cols):
        _write(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": pa.array(regions)})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": pa.array(range(n_customers), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_customers), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_customers), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], n_customers)),
    })
    put("supplier", {
        "s_suppkey": pa.array(range(n_suppliers), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_suppliers)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_suppliers), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_suppliers), 2)),
    })
    odate = _EPOCH_US + rng.integers(0, 2400, n_orders) * day
    put("orders", {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)),
    })
    lines = rng.integers(1, 8, n_orders)
    lok = np.repeat(np.arange(n_orders), lines)
    n_li = len(lok)
    lnum = np.concatenate([np.arange(1, c + 1) for c in lines])
    put("lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_suppliers, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 95000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(odate[lok] + rng.integers(1, 122, n_li) * day,
                               pa.timestamp("us")),
    })
    # Documents: random word sequences; a quarter are near-copies of an
    # earlier document with a few words replaced, so MinHash finds pairs.
    texts = []
    for i in range(n_docs):
        if i >= 8 and rng.random() < 0.25:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    put("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "zh"], n_docs)),
        "source": pa.array([f"src{i % 7}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32) * 0.1
    put("embeddings", {
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    order = [[ANALYTIC_QUERIES[i] for i in rng.permutation(len(ANALYTIC_QUERIES))]
             for _ in range(n_passes)]
    return _save_schedule(out, {"passes": order})


def _save_schedule(out: str, sched: dict) -> dict:
    """Write the schedule (file names relative to ``out``) and return it."""
    with open(os.path.join(out, "schedule.json"), "w") as f:
        json.dump(sched, f, sort_keys=True)
    return sched


GENERATORS = {"ingest": ingest, "serve": serve, "analytic": analytic}
