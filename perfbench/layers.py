"""Per-layer metrics of a traced round, from the spans, the operation
records and the Spark status store. A layer the workload does not
touch reports 0."""

from __future__ import annotations

from spans import union_s

FAMILY_METRIC = {
    "knn": "operators.knn_s",
    "dedup": "operators.dedup_s",
    "curate": "curate.cli_s",
    "control": "relational.control_s",
}


def _levels(workload) -> dict[str, int]:
    reg = getattr(workload, "registry", None)
    if reg is None:
        return {}
    batches = reg.parallel_batches(reg.resolve_order(reg.select()))
    return {m.name: i for i, level in enumerate(batches) for m in level}


def _runner(tracer, workload) -> tuple[float, float, float]:
    """(Σ level wall, Σ migration wall ÷ Σ level wall, rows in per
    second) over the traced run_pipeline calls."""
    level_of = _levels(workload)
    level_s = mig_s = rows = pipe_s = 0.0
    for p in (s for s in tracer.spans if s["name"] == "runner.run_pipeline"):
        kids = [s for s in tracer.spans if s["parent"] == p["id"] and "migration" in s]
        by_level: dict[int, list[dict]] = {}
        for k in kids:
            by_level.setdefault(level_of[k["migration"]], []).append(k)
        for ks in by_level.values():
            level_s += max(k["end"] for k in ks) - min(k["start"] for k in ks)
        mig_s += sum(k["end"] - k["start"] for k in kids)
        rows += sum(k["rows_in"] for k in kids)
        pipe_s += p["end"] - p["start"]
    return level_s, (mig_s / level_s if level_s else 0.0), (rows / pipe_s if pipe_s else 0.0)


def per_layer(tracer, records: list[dict], workload, session_s: float, round_s: float) -> dict:
    """Metric name -> (value, unit)."""
    from queries import QUERY_SET

    in_pipeline = set()
    for p in tracer.spans:
        if p["name"] == "runner.run_pipeline":
            in_pipeline |= {s["id"] for s in tracer.spans if s["parent"] == p["id"]}
    delta_runs = [
        s for s in tracer.spans
        if s["name"] == "executor.run_migration" and s["id"] not in in_pipeline
    ]
    rows_in = sum(s["rows_in"] for s in delta_runs)
    level_s, overlap, rows_per_s = _runner(tracer, workload)
    commits = [s for s in tracer.spans if s["name"] == "table.commit"]
    total_bytes = sum(s["total_bytes"] for s in commits)

    query_recs = [r for r in records if "build_s" in r]
    family = {name: 0.0 for name in FAMILY_METRIC.values()}
    for r in query_recs:
        key = FAMILY_METRIC.get(QUERY_SET.get(r["name"]))
        if key:
            family[key] += r["wall"]
    streams = [r for r in records if r["trigger_s"] > 0]

    jobs = stages = tasks = shuffle = spill = failed_tasks = 0
    injob = gap = 0.0
    worst = 0.0
    for r in records:
        js = [j for j in tracer.jobs_between(r["jobs_lo"], r["jobs_hi"]) if j["start"] and j["end"]]
        jobs += len(js)
        for j in js:
            stages += j["stages"]
            tasks += j["tasks"]
            shuffle += j["shuffle_write_bytes"]
            spill += j["spill_bytes"]
            failed_tasks += j["failed_tasks"]
        raw = union_s((j["start"], j["end"]) for j in js)
        clipped = union_s(
            (max(j["start"], r["start"]), min(j["end"], r["end"]))
            for j in js if min(j["end"], r["end"]) > max(j["start"], r["start"])
        )
        r.update(jobs=len(js), injob_s=clipped, gap_s=r["wall"] - clipped)
        injob += clipped
        gap += r["wall"] - clipped
        worst = max(worst, abs(raw - clipped) / r["wall"])

    m = {
        "session.start_s": (session_s, "s"),
        "runner.level_s": (level_s, "s"),
        "runner.overlap": (overlap, "ratio"),
        "runner.rows_per_s": (rows_per_s, "rows/s"),
        "executor.prepare_s": (tracer.total("executor.prepare"), "s"),
        "executor.run_s": (tracer.total("executor.run_migration"), "s"),
        "executor.fixed_s": (sum(r["wall"] for r in records if r["name"] == "delta.nation"), "s"),
        "executor.write_ratio": (
            sum(s["rows_written"] for s in delta_runs) / rows_in if rows_in else 0.0, "ratio"
        ),
        "mapping.load_s": (tracer.total("mapping.load"), "s"),
        "mapping.merge_s": (tracer.total("mapping.merge"), "s"),
        "references.resolve_s": (tracer.total("references.resolve"), "s"),
        "table.merge_s": (tracer.total("table.merge"), "s"),
        "table.delete_keys_s": (tracer.total("table.delete_keys"), "s"),
        "table.overwrite_s": (tracer.total("table.overwrite"), "s"),
        "table.compact_s": (tracer.total("table.compact"), "s"),
        "table.read_s": (tracer.total("table.read"), "s"),
        "table.commits": (len(commits), "count"),
        "table.rewrite_ratio": (
            sum(s["new_bytes"] for s in commits) / total_bytes if total_bytes else 0.0, "ratio"
        ),
        "stats.harvest_s": (tracer.total("stats.harvest"), "s"),
        "stream.trigger_s": (sum(r["trigger_s"] for r in streams), "s"),
        "stream.outside_trigger_s": (sum(r["wall"] - r["trigger_s"] for r in streams), "s"),
        "query.build_s": (sum(r["build_s"] for r in query_recs), "s"),
        "query.exec_s": (sum(r["exec_s"] for r in query_recs), "s"),
        **{k: (v, "s") for k, v in family.items()},
        **{
            f"catalyst.{p}_ms": (sum(r["catalyst_ms"][p] for r in query_recs), "ms")
            for p in ("analysis", "optimization", "planning")
        },
        "spark.jobs": (jobs, "count"),
        "spark.stages": (stages, "count"),
        "spark.tasks": (tasks, "count"),
        "spark.injob_s": (injob, "s"),
        "spark.gap_s": (gap, "s"),
        "spark.shuffle_write_bytes": (shuffle, "B"),
        "spark.spill_bytes": (spill, "B"),
        "spark.failed_tasks": (failed_tasks, "count"),
        "trace.round_s": (round_s, "s"),
        "trace.overhead_s": (tracer.own_s, "s"),
        "trace.accounting_error": (worst, "ratio"),
    }
    return m
