"""Seeded generator of the benchmark's tables.

`write_tables` writes the ten fixture tables the registry queries read
(region ... embeddings), with the schemas FIXTURES.md documents and the row
counts of its sf0.1 column. The tables are cached under a stamp of this
file, and recorded_counts.json is tied to that stamp: re-record it
(record_counts.py) after any change here.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"supplier": 1000, "customer": 15000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000}
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
EPOCH = datetime.date(1970, 1, 1)


def _day(y, m, d):
    return (datetime.date(y, m, d) - EPOCH).days


def _ts_days(days):
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _write(table, path):
    pq.write_table(table, path)


def write_tables(out_dir, seed):
    """Write the ten fixture tables under `out_dir` from `seed`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s),
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    }), f"{out_dir}/nation.parquet")

    n = ROWS["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), f64),
    }), f"{out_dir}/supplier.parquet")

    n = ROWS["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), f64),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n),
    }), f"{out_dir}/customer.parquet")

    n = ROWS["part"]
    adj = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    names = np.char.add(np.char.add(np.array(adj)[rng.integers(0, 8, n)], " "),
                        np.array(noun)[rng.integers(0, 8, n)])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": pa.array(names.tolist(), s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], s),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2), f64),
    }), f"{out_dir}/part.parquet")

    n = ROWS["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n), f64),
        "o_orderdate": _ts_days(rng.integers(_day(1995, 1, 1), _day(2001, 8, 1) + 1, n)),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n),
    }), f"{out_dir}/orders.parquet")

    n = ROWS["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64"), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n), f64),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, f64),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts_days(rng.integers(_day(1995, 1, 2), _day(2001, 11, 4) + 1, n)),
    }), f"{out_dir}/lineitem.parquet")

    n = ROWS["events"]
    start = _day(2024, 1, 1) * 86_400_000_000
    ts = np.sort(rng.integers(start, start + 30 * 86_400_000_000, n))
    _write(pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), i64),
        "event_type": _pick(rng, ["click", "purchase", "error", "signup", "view"], n),
        "value": pa.array(np.round(rng.exponential(60.0, n), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], s),
    }), f"{out_dir}/events.parquet")

    # Documents: words from a small vocabulary; about one in twenty is a
    # near-duplicate of an earlier document (its text plus " dup") and a
    # few are exact copies, so the dedup operators find pairs.
    n = ROWS["documents"]
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 101))]))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(np.array(["en", "en", "en", "fr", "es", "zh", "de"], dtype=object)[
            np.minimum(rng.integers(0, 7, n), 6)].tolist(), s),
        "source": pa.array([f"src{i % 20}" for i in range(n)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    }), f"{out_dir}/documents.parquet")

    # Embeddings: unit vectors around ten label centroids.
    n = ROWS["embeddings"]
    labels = rng.integers(0, 10, n)
    cents = rng.normal(0.0, 1.0, (10, 64))
    vecs = cents[labels] * 0.3 + rng.normal(0.0, 1.0, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(pa.table({
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    }), f"{out_dir}/embeddings.parquet")
