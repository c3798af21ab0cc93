"""Seeded inputs: the ten tables the registry queries and the migration
DAG read, drawn by the run's seed from the pool in ``perfbench/data/``
(a sample of the repository's reference test data, see
``make_data.py``), plus the seeded churn that drives the migrate
workload's refresh rounds.

Everything is numpy + pyarrow in this process, so drawing inputs starts
no Spark job and the same seed always gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import make_data

# Share of the pool (scale factor 0.02) one run draws.
DRAW_SHARE = 0.5

# Source-id columns of the six migrated tables. Lineitem needs all four:
# (l_orderkey, l_linenumber) alone repeats in the reference data.
SOURCE_KEYS = {
    "nation": ("n_nationkey",),
    "supplier": ("s_suppkey",),
    "customer": ("c_custkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
}
# Column each refresh round rewrites on its "updated" rows.
UPDATE_COL = {
    "nation": "n_name",
    "supplier": "s_acctbal",
    "customer": "c_acctbal",
    "part": "p_retailprice",
    "orders": "o_totalprice",
    "lineitem": "l_quantity",
}


def load(seed: int) -> dict[str, pa.Table]:
    """Half of the pool, drawn by ``seed``: about scale factor 0.01
    (lineitem ~60k rows), with every order's customer and every line
    item's order drawn too."""
    pool = {
        t: pq.read_table(os.path.join(make_data.POOL_DIR, f"{t}.parquet"))
        for t in make_data.TABLES
    }
    return make_data.sample(pool, np.random.default_rng(seed), DRAW_SHARE)


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def check_unique_keys(tables: dict[str, pa.Table]) -> None:
    """Raise unless every migrated table's source-id tuple is unique:
    the executor accepts duplicate source ids silently and re-runs then
    fan out, so the benchmark must never feed it any."""
    for name, cols in SOURCE_KEYS.items():
        tbl = tables[name]
        keys = np.stack([tbl[c].to_numpy().astype(np.int64) for c in cols], axis=1)
        n_distinct = len(np.unique(keys, axis=0))
        if n_distinct != tbl.num_rows:
            raise ValueError(
                f"{name}: {tbl.num_rows - n_distinct} duplicate source ids on {cols}"
            )


# Shares of a source's rows one refresh round updates, deletes and adds.
CHURN = (0.01, 0.002, 0.002)


def churn(
    rng: np.random.Generator, tbl: pa.Table, name: str, next_key: int
) -> tuple[pa.Table, pa.Table, int]:
    """One refresh round for one source table: rewrite UPDATE_COL on
    CHURN[0] of the rows, drop CHURN[1] of them and add CHURN[2] new
    rows cloned from live ones under fresh leading keys. Returns (new
    table, the dropped rows' keys, next unused leading key)."""
    n = tbl.num_rows
    k = SOURCE_KEYS[name]
    n_upd, n_del, n_ins = (int(round(n * f)) for f in CHURN)
    order = rng.permutation(n)
    upd, dele = order[:n_upd], order[n_upd:n_upd + n_del]
    cols = {c: tbl[c].to_numpy(zero_copy_only=False).copy() for c in tbl.column_names}

    uc = UPDATE_COL[name]
    if cols[uc].dtype.kind == "f":
        cols[uc][upd] = np.round(cols[uc][upd] + 1.0, 2)
    else:
        cols[uc][upd] = np.array([f"{v}'" for v in cols[uc][upd]], dtype=object)

    dropped = tbl.take(pa.array(dele)).select(list(k))
    live = np.ones(n, bool)
    live[dele] = False
    src = rng.choice(np.flatnonzero(live), n_ins, replace=False) if n_ins else np.array([], int)
    new_cols = {c: np.concatenate([v[live], v[src]]) for c, v in cols.items()}
    lead = k[0]
    new_lead = np.arange(next_key, next_key + n_ins)
    new_cols[lead][live.sum():] = new_lead.astype(new_cols[lead].dtype)
    out = pa.table({c: pa.array(new_cols[c], tbl.schema.field(c).type) for c in tbl.column_names})
    return out, dropped, next_key + n_ins
