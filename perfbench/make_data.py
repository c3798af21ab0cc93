"""Build the benchmark's input pool, ``perfbench/data/``, from the
repository's reference test data at scale factor 0.1 (TESTDATA.md).

    python3 perfbench/make_data.py <reference sf0.1 directory>

The pool is a fixed sample (seed 0) of a fifth of the reference data,
so scale factor 0.02, that keeps every order's customer and every line
item's order: customers are sampled, then the orders of the sampled
customers, then the line items of those orders. Parts, suppliers,
events, documents and embeddings are sampled on their own; region and
nation are kept whole. Rows and values are the reference data's, except
that the ids of events, documents and embeddings are renumbered densely
(DENSE_IDS). ``inputs.load`` draws each run's inputs from this pool by
the run's seed.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
POOL_DIR = os.path.join(HERE, "data")
POOL_SHARE = 0.2
TABLES = (
    "region", "nation", "supplier", "customer", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
WHOLE = ("region", "nation")
# Ids no other table references, renumbered 0..n-1 in row order after
# sampling: registry queries select by id range (q50 takes the vectors
# with vec_id < 10 as its queries).
DENSE_IDS = {"events": "event_id", "documents": "doc_id", "embeddings": "vec_id"}
# child table -> (its foreign key, parent table, the parent's key)
CHILD_OF = {
    "orders": ("o_custkey", "customer", "c_custkey"),
    "lineitem": ("l_orderkey", "orders", "o_orderkey"),
}


def sample(tables: dict[str, pa.Table], rng: np.random.Generator, share: float) -> dict:
    """A ``share`` of every independent table, drawn with ``rng``, and
    of each child table the rows whose parent was drawn. Row order is
    kept, and the ids in DENSE_IDS are renumbered."""
    out = {}
    for name in TABLES:
        tbl = tables[name]
        if name in WHOLE:
            out[name] = tbl
        elif name in CHILD_OF:
            fk, parent, pk = CHILD_OF[name]
            out[name] = tbl.filter(pc.is_in(tbl[fk], value_set=out[parent][pk]))
        else:
            n = tbl.num_rows
            pick = np.sort(rng.choice(n, int(round(n * share)), replace=False))
            out[name] = tbl.take(pa.array(pick))
        if name in DENSE_IDS:
            col = DENSE_IDS[name]
            ids = pa.array(np.arange(out[name].num_rows), tbl.schema.field(col).type)
            out[name] = out[name].set_column(tbl.schema.get_field_index(col), col, ids)
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    ref = {t: pq.read_table(os.path.join(argv[0], f"{t}.parquet")) for t in TABLES}
    pool = sample(ref, np.random.default_rng(0), POOL_SHARE)
    os.makedirs(POOL_DIR, exist_ok=True)
    for name, tbl in pool.items():
        pq.write_table(tbl, os.path.join(POOL_DIR, f"{name}.parquet"), compression="zstd")
        print(f"{name}: {tbl.num_rows} of {ref[name].num_rows} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
