"""Seeded inputs for the benchmark.

Everything the program under test reads is made here from the workload
seed: the TPC-H-style tables plus `events`, `documents` and `embeddings`
(the schemas of the program's test tables), the Runner's seeded journal
and recompile schedule, and the order in which entries run. The same seed
gives byte-identical inputs.
"""
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Vocabulary and value domains of the program's test tables.
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD"]
ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "big"]
NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "pin"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
EMB_DIM = 64

def rng_for(seed, stream):
    """Independent generator per (seed, stream), so adding a table or a
    decision never shifts the values of another."""
    return np.random.default_rng([seed, stream])


def _write(table, path):
    # One row group per file, like the program's test tables.
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype(
        "datetime64[us]")


def make_tables(seed, sf, out_dir):
    """Writes the ten tables at scale factor `sf` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_docs = max(20, int(50_000 * sf))
    n_vecs = min(2000, n_docs)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")

    r = rng_for(seed, 1)
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")

    r = rng_for(seed, 2)
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out_dir}/supplier.parquet")

    r = rng_for(seed, 3)
    names = [f"{a} {n}" for a in ADJ for n in NOUN]
    keys = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.array(names)[r.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[r.integers(0, len(PTYPES), n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    }), f"{out_dir}/part.parquet")

    r = rng_for(seed, 4)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["P", "O", "F"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")

    r = rng_for(seed, 5)
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, n_line, "1995-01-02", "2001-11-04"),
    }), f"{out_dir}/lineitem.parquet")

    r = rng_for(seed, 6)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ts = np.sort(r.integers(start, start + span, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(r.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    }), f"{out_dir}/events.parquet")

    r = rng_for(seed, 7)
    texts = [" ".join(np.array(WORDS)[r.integers(0, len(WORDS), k)])
             for k in r.integers(10, 101, n_docs)]
    # 5% planted near-duplicates: another document's text plus " dup"
    for i in np.flatnonzero(r.random(n_docs) < 0.05):
        texts[i] = texts[(i + 1 + r.integers(0, n_docs - 1)) % n_docs] + " dup"
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out_dir}/documents.parquet")

    r = rng_for(seed, 8)
    v = r.standard_normal((n_vecs, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vecs), pa.int32()),
    }), f"{out_dir}/embeddings.parquet")


def entry_order(names, seed):
    """The seed sets the order the entries run in."""
    return [names[i] for i in rng_for(seed, 10).permutation(len(names))]


# --- Runner soak -----------------------------------------------------------

# `graft.engine.ExecutionRecord`, as Spark's encoder writes it.
JOURNAL_SCHEMA = pa.schema([
    pa.field("path", pa.string()),
    pa.field("startedAt", pa.int64(), nullable=False),
    pa.field("finishedAt", pa.int64(), nullable=False),
    pa.field("result", pa.string()),
    pa.field("status", pa.string()),
])


def seed_journal(journal_dir, paths, n_records, end_ms, interval_ms, seed):
    """History of `n_records` executions of `paths`, spaced one interval
    apart and ending before `end_ms`, in the layout `Journal.save` makes:
    one parquet file per record."""
    os.makedirs(journal_dir, exist_ok=True)
    r = rng_for(seed, 11)
    per = -(-n_records // len(paths))
    for k in range(n_records):
        path = paths[k % len(paths)]
        started = end_ms - (per - k // len(paths)) * interval_ms
        took = int(r.integers(50, 2000))
        ok = r.random() < 0.95
        rec = pa.table({
            "path": [path], "startedAt": [started],
            "finishedAt": [started + took],
            "result": ["OK" if ok else "ERROR"],
            "status": ["SUCCEED" if ok else "FAILED"],
        }, schema=JOURNAL_SCHEMA)
        name = uuid.UUID(int=int(r.integers(0, 2**63)) << 64
                         | int(r.integers(0, 2**63)))
        pq.write_table(rec, f"{journal_dir}/part-00000-{name}-c000.snappy.parquet",
                       compression="snappy")
    open(f"{journal_dir}/_SUCCESS", "w").close()


def recompile_schedule(seed, n_ticks, block, scala_scripts):
    """One hot recompile in each block of `block` ticks: the seed picks the
    tick within the block and the script rewritten before it. The rate is
    the same for every seed, so the seed moves no percentile."""
    r = rng_for(seed, 12)
    out = []
    for b in range(0, n_ticks - block + 1, block):
        out.append([b + int(r.integers(0, block)),
                    scala_scripts[int(r.integers(0, len(scala_scripts)))]])
    return out
