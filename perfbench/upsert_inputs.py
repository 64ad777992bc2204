"""Seeded generator of the upsert_daily inputs.

`write_upsert_inputs` derives them from the generated `orders` table: the
history the target starts with, one parquet slice per daily load, seeded
restatements, and the plan that orders them.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UPSERT_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()), ("o_orderpriority", pa.string()), ("o_day", pa.int64())])
NEW_KEY_BASE = 10_000_000
# Restatement sizes. They are the benchmark's own choice, not taken from a
# trace of real restatements: one restatement after every third load, each
# revising about as many keys as a daily slice holds (sf0.1 orders spread
# over 2405 days, about 62 a day) and adding a few new ones, so that the
# pass mixes MERGE updates with inserts. Restatements take about a twelfth
# of the passes (2.9 of 34.1 s in a traced run); the load metrics
# (sources.load_s, sources.load_p50_s) hardly depend on their sizes, and
# restatements are timed on their own (sources.restate_s).
RESTATE_EVERY = 3    # a restatement follows every third load
RESTATED_KEYS = 40   # already-loaded keys each restatement revises
NEW_KEYS = 5         # new keys each restatement adds


def _orders_by_day(data_dir):
    t = pq.read_table(f"{data_dir}/orders.parquet")
    days = t.column("o_orderdate").cast(pa.int64()).to_numpy() // 86_400_000_000
    cols = {c: t.column(c).to_numpy(zero_copy_only=False) for c in UPSERT_SCHEMA.names[:-1]}
    cols["o_day"] = days
    return cols


def _rows(cols, mask):
    return pa.table({c: pa.array(cols[c][mask], UPSERT_SCHEMA.field(c).type)
                     for c in UPSERT_SCHEMA.names})


def write_upsert_inputs(data_dir, work_dir, seed, loads):
    """Inputs of upsert_daily: the target starts with every order before
    the last `loads` days, which are then loaded one per day; after every RESTATE_EVERY-th load, a restatement revises
    RESTATED_KEYS already-loaded keys and adds NEW_KEYS new ones. The seed
    picks the restated keys and their revised values.
    """
    rng = np.random.default_rng(seed)
    cols = _orders_by_day(data_dir)
    days = np.unique(cols["o_day"])
    load_days = days[-loads:]
    first = load_days[0]
    os.makedirs(f"{work_dir}/slices", exist_ok=True)
    os.makedirs(f"{work_dir}/restate", exist_ok=True)
    pq.write_table(_rows(cols, cols["o_day"] < first), f"{work_dir}/history.parquet")
    plan, new_key = [], NEW_KEY_BASE
    for i, d in enumerate(load_days):
        name = f"day-{int(d)}.parquet"
        pq.write_table(_rows(cols, cols["o_day"] == d), f"{work_dir}/slices/{name}")
        plan.append(f"load {name}")
        if (i + 1) % RESTATE_EVERY:
            continue
        loaded = np.flatnonzero(cols["o_day"] <= d)
        pick = np.sort(rng.choice(loaded, RESTATED_KEYS, replace=False))
        revised = _rows(cols, pick).to_pydict()
        revised["o_totalprice"] = list(np.round(
            np.array(revised["o_totalprice"]) * rng.uniform(0.5, 1.5, RESTATED_KEYS), 2))
        revised["o_orderstatus"] = list(np.array(["F", "O", "P"], dtype=object)[
            rng.integers(0, 3, RESTATED_KEYS)])
        for _ in range(NEW_KEYS):
            for c, v in (("o_orderkey", new_key), ("o_custkey", int(rng.integers(0, 15000))),
                         ("o_orderstatus", "O"),
                         ("o_totalprice", float(np.round(rng.uniform(1000.0, 500000.0), 2))),
                         ("o_orderpriority", "3-MEDIUM"), ("o_day", int(d))):
                revised[c].append(v)
            new_key += 1
        name = f"restate-{i + 1}.parquet"
        pq.write_table(pa.Table.from_pydict(revised, UPSERT_SCHEMA), f"{work_dir}/restate/{name}")
        plan.append(f"restate {name}")
    with open(f"{work_dir}/plan.txt", "w") as f:
        f.write("\n".join(plan) + "\n")
    return plan
