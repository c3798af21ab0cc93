"""The ``migrate`` workload: the paper's keyed re-run loop over a
six-migration DAG (nation, supplier, customer, part, orders, lineitem).

Phases: ``load`` is the first incremental run of every migration in
``resolve_order`` (it writes every row and stores the row hashes); each
``delta`` round applies seeded churn to every source and re-runs the
migrations with ``run_migration(incremental=True, orphan_policy="prune")``
in ``resolve_order`` (``run_pipeline`` has no incremental flag);
``resync`` is a full non-incremental ``run_pipeline`` with prune.
Orders resolve their customer through ``ReferenceStore.resolve``;
lineitem carries a four-column source id.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from a2b_spark.core.migration import IdField, Migration, MigrationRegistry
from a2b_spark.exec import executor, runner
from a2b_spark.exec.references import ReferenceStore
from a2b_spark.mapping.store import MappingStore
from a2b_spark.sinks.parquet import ParquetDestination
from a2b_spark.sources.base import DataFrameSource

import inputs

TABLES = ("nation", "supplier", "customer", "part", "orders", "lineitem")
DEPENDS = {
    "supplier": ("nation",),
    "customer": ("nation",),
    "orders": ("customer",),
    "lineitem": ("orders", "part", "supplier"),
}
# destination column -> source column, per migration (orders.customer_id
# and customer.name are computed, see _transform)
COLUMNS = {
    "nation": {"name": "n_name", "region": "n_regionkey"},
    "supplier": {"name": "s_name", "nation": "s_nationkey", "balance": "s_acctbal"},
    "customer": {"nation": "c_nationkey", "balance": "c_acctbal", "segment": "c_mktsegment"},
    "part": {
        "name": "p_name", "brand": "p_brand", "type": "p_type",
        "size": "p_size", "price": "p_retailprice",
    },
    "orders": {
        "status": "o_orderstatus", "total": "o_totalprice",
        "date": "o_orderdate", "priority": "o_orderpriority",
    },
    "lineitem": {
        "qty": "l_quantity", "price": "l_extendedprice", "discount": "l_discount",
        "tax": "l_tax", "flag": "l_returnflag", "status": "l_linestatus",
        "shipdate": "l_shipdate",
    },
}


def _quiet(stage, name, result) -> None:
    pass


class MigrateWorkload:
    """Owns the source tables (in memory, written as one parquet file
    per table and round), the registry and the mapping store."""

    def __init__(
        self, spark, tables: dict[str, pa.Table], work_dir: str, seed: int, max_parallel: int
    ):
        self.spark = spark
        self.work_dir = work_dir
        self.rng = np.random.default_rng(seed + 1)
        self.max_parallel = max_parallel
        self.src = {t: tables[t] for t in TABLES}
        self.src_path: dict[str, str] = {}
        self.next_key = {
            t: pc.max(self.src[t][inputs.SOURCE_KEYS[t][0]]).as_py() + 1 for t in TABLES
        }
        self.round_no = 0
        self.dropped: dict[str, pa.Table] = {}
        self.pruned: dict[str, set] = {t: set() for t in TABLES}  # every key ever dropped
        self.problems: list[str] = []  # found by the delta rounds
        self._write_sources()
        self.mapper = MappingStore(spark, os.path.join(work_dir, "maps"))
        self.registry = MigrationRegistry()
        self.refs = ReferenceStore(spark, self.registry, self.mapper)
        for t in TABLES:
            self.registry.register(self._migration(t))
        self.order = self.registry.resolve_order(self.registry.select())

    def _write_sources(self) -> None:
        for t in TABLES:
            p = os.path.join(self.work_dir, "src", f"{t}_{self.round_no}.parquet")
            os.makedirs(os.path.dirname(p), exist_ok=True)
            pq.write_table(self.src[t], p)
            self.src_path[t] = p

    def _migration(self, t: str) -> Migration:
        return Migration(
            name=t,
            source=DataFrameSource(lambda spark, t=t: spark.read.parquet(self.src_path[t])),
            destination=ParquetDestination(
                os.path.join(self.work_dir, "dest", t), key_cols=("id",)
            ),
            source_ids=tuple(IdField(c) for c in inputs.SOURCE_KEYS[t]),
            destination_ids=(IdField("id"),),
            transform=lambda df, t=t: self._transform(t, df),
            depends=DEPENDS.get(t, ()),
        )

    def _transform(self, t: str, df):
        cols = [F.col(s).alias(d) for d, s in COLUMNS[t].items()]
        if t == "customer":
            cols.append(F.upper("c_name").alias("name"))
        if t == "orders":
            df = self.refs.resolve(df, "customer", on={"o_custkey": "c_custkey"})
            cols.append(F.col("__ref_customer.id").alias("customer_id"))
        return df.select("__src__", "__dest_id", *cols)

    # ---------------------------------------------------------- phases
    def resync(self) -> dict:
        """The full non-incremental pipeline with prune."""
        results = runner.run_pipeline(
            self.spark, self.registry, self.mapper, orphan_policy="prune",
            max_parallel=self.max_parallel, progress=_quiet,
        )
        for r in results.values():
            self._check_orphans(r)
        return results

    def advance_sources(self) -> None:
        """Apply one round of seeded churn to every source."""
        self.round_no += 1
        self.dropped.clear()
        for t in TABLES:
            self.src[t], self.dropped[t], self.next_key[t] = inputs.churn(
                self.rng, self.src[t], t, self.next_key[t]
            )
            self.pruned[t] |= set(zip(*(c.to_pylist() for c in self.dropped[t].columns)))
        self._write_sources()

    def incremental(self, m: Migration):
        r = executor.run_migration(
            self.spark, m, self.mapper, orphan_policy="prune", incremental=True
        )
        self._check_orphans(r)
        return r

    def _check_orphans(self, r) -> None:
        want = self.dropped[r.migration].num_rows if r.migration in self.dropped else 0
        if r.orphan_count != want:
            self.problems.append(
                f"round {self.round_no} {r.migration}: pruned {r.orphan_count} orphans,"
                f" seed dropped {want}"
            )

    def round_steps(self) -> list[tuple]:
        """One refresh round: fresh churn, then each migration of the
        delta as a timed step."""
        return [("untimed", "churn", self.advance_sources)] + [
            ("op", f"delta.{m.name}", lambda m=m: self.incremental(m)) for m in self.order
        ]

    def trace_steps(self) -> list[tuple]:
        """The traced run adds a resync after its delta round, so the
        runner's levels are traced too."""
        return self.round_steps() + [
            ("untimed", "churn", self.advance_sources),
            ("op", "resync", self.resync),
        ]

    def setup(self, run_op) -> None:
        """Warm pass: the load."""
        for m in self.order:
            run_op(f"load.{m.name}", lambda m=m: self.incremental(m))

    def check_output(self, name: str, out) -> list[str]:
        return []

    # ----------------------------------------------------- correctness
    def check(self) -> list[str]:
        """Compare the destination and mapping tables against the live
        sources and an independent pandas recomputation of the
        transforms. Returns the problems found."""
        problems = list(self.problems)
        dest_ids: dict[str, object] = {}
        for t in TABLES:
            m = self.registry.get(t)
            keys = list(inputs.SOURCE_KEYS[t])
            src = self.src[t].to_pandas()
            dest = m.destination.read_snapshot(self.spark).toPandas()
            mp = self.mapper.load(t, m.source_ids, m.destination_ids).toPandas()
            if len(dest) != len(src):
                problems.append(f"{t}: {len(dest)} destination rows, {len(src)} live sources")
            if dest["id"].duplicated().any():
                problems.append(f"{t}: duplicate destination ids")
            if mp[[f"source_{k}" for k in keys]].duplicated().any():
                problems.append(f"{t}: duplicate mapping source ids")
            mp = mp.rename(columns={f"source_{k}": k for k in keys})
            live = src[keys].merge(mp, on=keys, how="left")
            if live["dest_id"].isna().any():
                problems.append(f"{t}: {int(live['dest_id'].isna().sum())} live sources unmapped")
            if set(live["dest_id"].dropna()) != set(dest["id"]):
                problems.append(f"{t}: mapped ids of live sources differ from destination ids")
            # prune keeps the mapping rows of pruned entities (id stability)
            mapped = set(mp[keys].itertuples(index=False, name=None))
            want = set(src[keys].itertuples(index=False, name=None)) | self.pruned[t]
            if mapped != want:
                problems.append(
                    f"{t}: mapping source ids differ from live plus pruned source ids"
                    f" ({len(mapped - want)} extra, {len(want - mapped)} missing)"
                )
            dest_ids[t] = live[keys + ["dest_id"]]
            got = dest.merge(live[keys + ["dest_id"]], left_on="id", right_on="dest_id")
            exp = src.rename(columns={s: d for d, s in COLUMNS[t].items()})
            if t == "customer":
                exp["name"] = src["c_name"].str.upper()
            if t == "orders":
                cm = dest_ids["customer"].rename(
                    columns={"c_custkey": "o_custkey", "dest_id": "customer_id"}
                )
                exp = exp.merge(cm, on="o_custkey", how="left")
            cmp_cols = list(COLUMNS[t]) + (["name"] if t == "customer" else []) + (
                ["customer_id"] if t == "orders" else []
            )
            both = got[keys + cmp_cols].merge(exp[keys + cmp_cols], on=keys, suffixes=("", "__exp"))
            if len(both) != len(src):
                problems.append(f"{t}: {len(src) - len(both)} live sources not in destination")
            for c in cmp_cols:
                a, b = both[c], both[f"{c}__exp"]
                diff = ~((a == b) | (a.isna() & b.isna()))
                if diff.any():
                    problems.append(f"{t}.{c}: {int(diff.sum())} values differ from the transform")
        return problems
