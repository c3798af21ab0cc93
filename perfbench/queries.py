"""The ``queries`` workload: registry queries over the drawn input tables,
each output checked against its DuckDB oracle with the comparison of
``tools/check_oracle.py``.

The set mixes the lakehouse storage paths (versioned-table commits,
deletion-vector deletes, compaction, merge, change files and the Python
streaming source) with the operator paths (SimHash dedup, PQ KNN), the
curation pipeline of ``a2b_spark/curate.py`` and one plain relational
control. None of them
touches ``exec.*`` or ``mapping.*``, so this workload is the control
for migration changes, and q01 is the control for operator changes.
"""

from __future__ import annotations

import os
import sys
import time
import uuid

# short name -> family (the per-layer sums group by family)
QUERY_SET = {
    "q149": "stream",   # commit-time change files + a2b_table_changes stream
    "q154": "table",    # overwrite, compact, DV delete_keys, merge, read
    "q27": "dedup",     # SimHash near-duplicate detection
    "q170": "curate",   # curate.run_curation: the curation CLI's stages
    "q50": "knn",       # product-quantized KNN
    "q01": "control",   # TPC-H Q1 shape, plain SQL
}


def redirect_scratch(scratch_dir: str) -> None:
    """Point the registry's scratch tables at ``scratch_dir`` instead of
    /tmp, so a run writes only inside its own directory and leaves
    nothing behind when that directory is removed."""
    from a2b_spark.queries import round7

    original = round7._scratch_path

    def scratch_path(sf_dir: str, qtag: str) -> str:
        return os.path.join(
            scratch_dir,
            f"a2b_{qtag}_{os.path.basename(os.path.normpath(sf_dir))}_{uuid.uuid4().hex[:8]}",
        )

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("a2b_spark.queries") and (
            getattr(mod, "_scratch_path", None) is original
        ):
            mod._scratch_path = scratch_path


class QueriesWorkload:
    def __init__(self, spark, data_dir: str, scratch_dir: str, repo_root: str):
        from a2b_spark.queries import ORACLES, QUERIES

        sys.path.insert(0, os.path.join(repo_root, "tools"))
        import check_oracle

        self.check_oracle = check_oracle
        self.spark = spark
        self.data_dir = data_dir
        full = {n.split("_", 1)[0]: n for n in QUERIES}
        self.names = {q: full[q] for q in QUERY_SET}
        self.fns = {q: QUERIES[full[q]] for q in QUERY_SET}
        self.oracle_sql = {q: ORACLES[full[q]] for q in QUERY_SET}
        self.oracle: dict = {}
        self.con = check_oracle.make_duckdb_con(data_dir)
        redirect_scratch(scratch_dir)

    def run(self, q: str) -> dict:
        """Build and execute one query, collecting its result; returns
        the timings, the result and the DataFrame (for its plan)."""
        t0 = time.perf_counter()
        df = self.fns[q](self.spark, self.data_dir)
        t1 = time.perf_counter()
        pdf = df.toPandas()
        t2 = time.perf_counter()
        return {"build_s": t1 - t0, "exec_s": t2 - t1, "df": df, "pdf": pdf}

    def round_steps(self) -> list[tuple]:
        """One pass: every query once."""
        return [("op", q, lambda q=q: self.run(q)) for q in QUERY_SET]

    trace_steps = round_steps

    def setup(self, run_op) -> None:
        """Warm pass: one round, billed to set-up."""
        for _, name, fn in self.round_steps():
            run_op(name, fn)

    def check_output(self, q: str, out: dict) -> list[str]:
        cg = self.check_oracle
        if q not in self.oracle:
            self.oracle[q] = self.con.sql(self.oracle_sql[q]).arrow()
        otab = self.oracle[q]
        return cg.type_gate(out["df"].schema, otab.schema) + cg.compare(
            self.names[q], out["pdf"], otab.to_pandas()
        )
