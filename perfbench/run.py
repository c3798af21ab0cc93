"""Benchmark entry point.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 10 --trace 0

Runs one workload on one Spark session at local[<cores>] and prints, as
the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it records the host, the Spark master and parallelism,
the source revision and the seed. Everything the run writes lives under
``.perfbench/`` in the checkout; the per-run directory is removed at
exit and a traced run leaves its spans in ``.perfbench/trace-*.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("migrate", "queries")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """An eighth of the host's RAM, between 1 and 4 GiB: the inputs are
    small, and the host is shared."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1024, min(4096, total_kb // 1024 // 8))


def pin_environment(run_dir: str) -> None:
    """Session settings for this host, set before Spark starts: the
    core count and a driver memory that fits the host, the repository
    on PYTHONPATH (Python streaming sources are unpickled in worker
    processes that must import a2b_spark), and every temporary path
    inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_memory_mb()}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CONF"] = json.dumps({
        # no hsperfdata files in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job of the run from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    import tempfile

    tempfile.tempdir = tmp


def source_revision() -> dict:
    """The git sha when the checkout is a repository, and always a
    digest of the program's sources (a2b_spark/), which identifies the
    code in a plain checkout too."""
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        sha = None
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "a2b_spark"))):
        for f in sorted(files):
            if f.endswith((".py", ".json")):
                h.update(os.path.relpath(os.path.join(d, f), ROOT).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return {"git_sha": sha, "source_sha256": h.hexdigest()}


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """Peak resident sets (VmHWM) of this Python driver, the JVM and the
    JVM's Python worker processes, in MB."""
    return {
        "driver": _status_kb(os.getpid(), "VmHWM") / 1024.0,
        "jvm": _status_kb(jvm_pid, "VmHWM") / 1024.0,
        "workers": sum(_status_kb(p, "VmHWM") for p in descendants(jvm_pid)) / 1024.0,
    }


def median_by_op(samples: dict[str, list[float]]) -> dict[str, float]:
    return {k: statistics.median(v) for k, v in samples.items() if v}


class Bench:
    """Runs a workload's operations, times them and counts failures."""

    def __init__(self, workload, tracer):
        self.w = workload
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.records: list[dict] = []  # traced operations

    def run_op(self, name: str, fn, record: bool = False):
        """Run one operation and time it. A raised error counts as a
        failed operation and returns None; otherwise returns a thunk
        that checks the output, to be called outside the timed region."""
        self.attempted += 1
        traced = self.tracer is not None and self.tracer.enabled
        rec = {"name": name}
        if traced:
            rec["jobs_lo"] = self.tracer.max_job_id()
        t0, w0 = time.perf_counter(), time.time()
        try:
            with self.tracer.span("op", op=name) if traced else contextlib.nullcontext():
                out = fn()
        except Exception as exc:  # noqa: BLE001 - a failed operation is a result
            self.failed += 1
            self.problems.append(f"{name}: raised {type(exc).__name__}: {exc}")
            return None
        wall = time.perf_counter() - t0
        print(f"# {name} {wall:.3f}s", file=sys.stderr, flush=True)
        if traced:
            rec.update(start=w0, end=w0 + wall, wall=wall)
            rec["jobs_hi"] = self.tracer.max_job_id()
            rec["trigger_s"] = self.tracer.take_streams()
            if isinstance(out, dict) and "build_s" in out:
                rec["build_s"], rec["exec_s"] = out["build_s"], out["exec_s"]
                rec["catalyst_ms"] = catalyst_ms(out["df"])
            self.records.append(rec)
        if record:
            self.samples.setdefault(name, []).append(wall)
        return lambda: self.check(name, out)

    def check(self, name: str, out) -> None:
        """A wrong output counts as a failed operation."""
        problems = self.w.check_output(name, out)
        if problems:
            self.failed += 1
            self.problems += [f"{name}: {p}" for p in problems]

    def warm(self) -> list:
        """The workload's warm pass; returns the check thunks of its
        operations, so their checks stay out of the set-up time."""
        checks = []
        self.w.setup(lambda name, fn: checks.append(self.run_op(name, fn)))
        return [c for c in checks if c is not None]

    def measure(self, seconds: float, steps) -> int:
        """Run whole rounds of ``steps()`` for ``seconds``: at least one,
        and another only if one more round of the last one's length
        still fits. Returns the number of rounds."""
        t_start = time.perf_counter()
        n = 0
        while True:
            t_round = time.perf_counter()
            for kind, name, fn in steps():
                if kind == "op":
                    check = self.run_op(name, fn, record=True)
                    if check is not None:
                        check()
                else:
                    fn()
            n += 1
            now = time.perf_counter()
            if (now - t_start) + (now - t_round) > seconds:
                return n


def catalyst_ms(df) -> dict:
    """Analysis / optimization / planning milliseconds of the query's
    final plan, from ``queryExecution().tracker()``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        got = phases.get(p)
        out[p] = got.get().durationMs() if got.isDefined() else 0
    return out


def end_to_end(samples: dict[str, list[float]]) -> tuple[float, float]:
    """(round_s, op_geomean_s) from the per-operation medians."""
    med = median_by_op(samples)
    return sum(med.values()), math.exp(sum(math.log(v) for v in med.values()) / len(med))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "a2b_spark")):
        print(f"error: no a2b_spark package under {ROOT}", file=sys.stderr)
        return 2
    # SIGTERM unwinds like an error, so the session stops and the run
    # directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        pin_environment(run_dir)
        return run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: str) -> int:
    sys.path.insert(0, ROOT)
    t_setup = time.perf_counter()
    from a2b_spark.session import get_spark

    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t_setup
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    try:
        return run_workload(args, run_dir, spark, session_s, t_setup, jvm_pid)
    finally:
        stop_spark(spark, jvm_pid)


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    procs = [jvm_pid] + descendants(jvm_pid)
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    # a process that has exited but is not yet reaped keeps /proc/<pid>
    # without a resident set
    while time.time() < deadline and any(_status_kb(p, "VmRSS") for p in procs):
        time.sleep(0.1)


def run_workload(args, run_dir, spark, session_s, t_setup, jvm_pid) -> int:
    import inputs

    tables = inputs.load(args.seed)
    inputs.check_unique_keys(tables)
    data_dir = os.path.join(run_dir, "data")
    inputs.write_tables(tables, data_dir)

    if args.workload == "migrate":
        import migrate

        w = migrate.MigrateWorkload(
            spark, tables, os.path.join(run_dir, "migrate"), args.seed, max_parallel=cores()
        )
    else:
        import queries

        w = queries.QueriesWorkload(spark, data_dir, os.path.join(run_dir, "scratch"), ROOT)

    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer(spark)
        tracer.install()

    bench = Bench(w, tracer)
    warm_checks = bench.warm()
    setup_s = time.perf_counter() - t_setup
    for check in warm_checks:
        check()

    steal0, total0 = cpu_jiffies()
    if tracer is None:
        n_rounds = bench.measure(args.seconds, w.round_steps)
    else:
        tracer.enabled = True
        n_rounds = bench.measure(0, w.trace_steps)
        tracer.enabled = False
    steal1, total1 = cpu_jiffies()
    rss = peak_rss_mb(jvm_pid)
    sc = spark.sparkContext
    host = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "cores": cores(),
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "sf": 0.1 * inputs.make_data.POOL_SHARE * inputs.DRAW_SHARE,
        "rows": {k: v.num_rows for k, v in tables.items()},
        **source_revision(),
        "rounds": n_rounds,
        # share of the CPUs' time the hypervisor gave to other guests
        # while the window ran; wall times grow with it
        "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "peak_rss_mb": rss,
        "op_medians_s": median_by_op(bench.samples),
    }

    if hasattr(w, "check"):  # a final state check counts as one operation
        bench.attempted += 1
        state_problems = w.check()
        if state_problems:
            bench.failed += 1
            bench.problems += state_problems
    for p in bench.problems:
        print(f"MISMATCH {p}", file=sys.stderr)

    if tracer is None:
        round_s, geomean_s = end_to_end(bench.samples)
        metrics = {
            "setup_s": (setup_s, "s"),
            "round_s": (round_s, "s"),
            "op_geomean_s": (geomean_s, "s"),
            "peak_rss_mb": (sum(rss.values()), "MB"),
        }
    else:
        import layers

        round_ops = {name for kind, name, _ in w.round_steps() if kind == "op"}
        metrics = layers.per_layer(
            tracer, bench.records, w, session_s,
            round_s=sum(r["wall"] for r in bench.records if r["name"] in round_ops),
        )
        tracer.dump(
            os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-seed{args.seed}.json"),
            {"host": host, "records": bench.records, "metrics": metrics},
        )
        tracer.uninstall()

    expected = {m["name"]: m["unit"] for m in spec()["per_layer" if args.trace else "end_to_end"]}
    got = {k: u for k, (_, u) in metrics.items()}
    if got != expected:
        raise RuntimeError(f"metric names/units differ from BENCHMARK.json: {got} != {expected}")

    print(json.dumps({"host": host}))
    print(json.dumps({
        "correct": not bench.problems,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not bench.problems else 1


if __name__ == "__main__":
    sys.exit(main())
