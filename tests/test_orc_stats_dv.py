"""ORC fast paths for the versioned table (round-13 verdict item 6):
the _STATS sidecar, pruned reads, stats-scoped merge/delete planning
and deletion vectors all work under fmt="orc". The one design
difference vs parquet — pyarrow exposes no ORC footer statistics, so
NEW files are harvested by ONE distributed aggregation
(stats.collect_file_stats_spark) while hardlinked files still reuse
the base sidecar by inode — must be invisible in the sidecar shape
and in every pruning decision."""

import datetime as dt
import math
import os

import pytest
from pyspark.sql import functions as F

from a2b_spark.storage.stats import (
    STATS_FILE,
    collect_file_stats_spark,
    load_stats,
    normalize_predicates,
    predicates_to_column,
)
from a2b_spark.storage.table import DV_DIR, VersionedParquetTable


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _data_files(vdir):
    out = []
    for root, dirs, files in os.walk(vdir):
        dirs[:] = [d for d in dirs if "=" in d or not d.startswith(("_", "."))]
        out.extend(
            os.path.join(root, f) for f in files if not f.startswith(("_", "."))
        )
    return sorted(out)


@pytest.fixture()
def orc_ranged(spark, tmp_path):
    """3 ORC files with DISJOINT k-ranges, the same fixture shape as
    the parquet skipping tests — every skip decision must match."""
    t = VersionedParquetTable(str(tmp_path / "t"), key_cols=("k",), fmt="orc")
    df = spark.range(0, 300).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.concat(F.lit("name_"), F.col("id")).alias("s"),
    )
    t.overwrite(df.repartitionByRange(3, "k"))
    return t


def test_orc_stats_sidecar_written_and_covers_every_file(orc_ranged):
    vdir = os.path.join(orc_ranged.path, orc_ranged.current_version())
    s = load_stats(vdir)
    assert s is not None and len(s["files"]) == 3
    for entry in s["files"].values():
        assert entry["rows"] > 0
        assert set(entry["cols"]) == {"k", "v", "s"}
        k = entry["cols"]["k"]
        assert k["t"] == "i" and k["min"] is not None and k["max"] is not None
        assert k["nulls"] == 0


def test_orc_prune_skips_and_read_pruned_is_exact(spark, orc_ranged):
    t = orc_ranged
    kept, total = t.prune_files([("k", "=", 5)])
    assert total == 3 and len(kept) == 1  # files genuinely skipped
    for preds in (
        [("k", "=", 5)],
        [("k", "<", 10)],
        [("k", ">=", 290)],
        [("k", "between", (95, 105))],
        [("k", ">", 100), ("v", "<=", 250)],
        [("s", "=", "name_7")],
    ):
        got = _rows(t.read_pruned(spark, preds))
        want = _rows(
            t.read(spark).filter(
                predicates_to_column(normalize_predicates(preds))
            )
        )
        assert got == want, preds
    assert len(t.prune_files([("k", "<", 10)])[0]) == 1
    assert len(t.prune_files([("k", "between", (95, 105))])[0]) <= 2


def test_orc_partitioned_merge_reuses_hardlinked_stats(spark, tmp_path):
    """Untouched-partition files hardlink across an ORC merge and their
    sidecar entries carry over by inode — the distributed harvest runs
    over the touched partition's new files only."""
    t = VersionedParquetTable(
        str(tmp_path / "p"), key_cols=("k",), partition_by=("p",), fmt="orc"
    )
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(90)], "k long, p int, x double"
    )
    t.overwrite(df)
    v1 = t.current_version()
    s1 = load_stats(os.path.join(t.path, v1))
    t.merge(spark.createDataFrame([(0, 0, 999.0)], "k long, p int, x double"))
    v2 = t.current_version()
    s2 = load_stats(os.path.join(t.path, v2))
    assert s2 is not None
    data_rels = {
        os.path.relpath(p, os.path.join(t.path, v2))
        for p in _data_files(os.path.join(t.path, v2))
    }
    assert set(s2["files"]) == data_rels
    for rel, entry in s2["files"].items():
        if "p=1/" in rel:
            assert entry == s1["files"][rel]
            assert os.stat(os.path.join(t.path, v2, rel)).st_nlink > 1
    got = _rows(t.read_pruned(spark, [("x", ">=", 999.0)]))
    assert got == [(0, 999.0, 0)]
    assert _rows(t.read(spark).filter(F.col("x") >= 999.0)) == got


def test_orc_distributed_harvest_type_matrix(spark, tmp_path):
    """collect_file_stats_spark against one ORC file holding every
    supported stats type plus nulls and a NaN: tags, encoded values and
    null counts must land in the parquet sidecar shape; NaN bounds
    encode to None (never-prune), long string maxima drop to None."""
    rows = [
        (1, 1.5, "aaa", True, dt.datetime(2026, 1, 2, 3, 4, 5, 123456),
         dt.date(2026, 1, 2)),
        (2, float("nan"), "z" * 100, False, dt.datetime(2026, 6, 1), None),
        (3, None, None, None, None, dt.date(2026, 3, 1)),
    ]
    df = spark.createDataFrame(
        rows, "k long, x double, s string, b boolean, ts timestamp, d date"
    )
    p = str(tmp_path / "one")
    df.coalesce(1).write.format("orc").save(p)
    rels = [
        f for f in os.listdir(p) if not f.startswith(("_", "."))
    ]
    assert len(rels) == 1
    out = collect_file_stats_spark(spark, p, rels, "orc")
    entry = out[rels[0]]
    assert entry["rows"] == 3
    c = entry["cols"]
    assert c["k"] == {"t": "i", "min": 1, "max": 3, "nulls": 0}
    assert c["x"]["t"] == "f" and c["x"]["min"] == 1.5
    assert c["x"]["max"] is None  # NaN bound -> unknown, never prunes
    assert c["x"]["nulls"] == 1
    assert c["s"]["min"] == "aaa" and c["s"]["max"] is None  # >64 chars
    assert c["b"] == {"t": "b", "min": False, "max": True, "nulls": 1}
    # timestamps travel as unix_micros and decode to naive UTC
    assert c["ts"]["t"] == "ts"
    assert c["ts"]["min"] == "2026-01-02T03:04:05.123456"
    assert c["ts"]["max"] == "2026-06-01T00:00:00"
    assert c["d"] == {
        "t": "d", "min": "2026-01-02", "max": "2026-03-01", "nulls": 1,
    }
    assert not math.isnan(c["x"]["min"])


def test_orc_harvest_odd_column_names(spark, tmp_path):
    """The distributed harvest never re-parses column names (repo
    odd-name rule: positional toDF rename) — dotted, spaced and
    colon-bearing names all land in the sidecar with correct stats,
    and the ':'-joined sidecar layout round-trips them."""
    p = str(tmp_path / "odd")
    df = spark.createDataFrame(
        [(1, 2, "x"), (5, None, "y")],
        "`a.b` long, `c d` long, `e:f` string",
    )
    df.coalesce(1).write.format("orc").save(p)
    rels = [f for f in os.listdir(p) if not f.startswith(("_", "."))]
    out = collect_file_stats_spark(spark, p, rels, "orc")
    c = out[rels[0]]["cols"]
    assert c["a.b"] == {"t": "i", "min": 1, "max": 5, "nulls": 0}
    assert c["c d"] == {"t": "i", "min": 2, "max": 2, "nulls": 1}
    assert c["e:f"] == {"t": "s", "min": "x", "max": "y", "nulls": 0}


def test_orc_dv_delete_rewrites_zero_files(spark, tmp_path):
    t = VersionedParquetTable(
        str(tmp_path / "dv"), key_cols=("k",), retention=10,
        fmt="orc", deletion_vectors=True,
    )
    t.overwrite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(40)], "k long, v string"
        )
    )
    base = t.current_version()
    base_files = {
        os.path.basename(p)
        for p in _data_files(os.path.join(t.path, base))
    }
    t.delete_keys(spark.createDataFrame([(3,), (7,)], "k long"))
    vdir = os.path.join(t.path, t.current_version())
    files = _data_files(vdir)
    # EVERY data file hardlinked, none rewritten, none added
    assert {os.path.basename(p) for p in files} == base_files
    assert all(os.stat(p).st_nlink > 1 for p in files)
    assert os.path.isdir(os.path.join(vdir, DV_DIR))
    assert {r.k for r in t.read(spark).collect()} == set(range(40)) - {3, 7}
    # time travel still sees the pre-delete rows
    assert {r.k for r in t.read(spark, version=base).collect()} == set(
        range(40)
    )
    # pruned reads apply the vector too
    got = {r.k for r in t.read_pruned(spark, [("k", "<=", 10)]).collect()}
    assert got == set(range(11)) - {3, 7}
    # full rewrite purges physically and clears the vector
    t.compact(spark, target_file_bytes=1 << 30, min_files=1, cluster_by=["k"])
    vdir = os.path.join(t.path, t.current_version())
    assert not os.path.isdir(os.path.join(vdir, DV_DIR))
    raw = spark.read.format("orc").load(_data_files(vdir))
    assert {r.k for r in raw.collect()} == set(range(40)) - {3, 7}


def test_orc_dv_merge_reintroduces_tombstoned_key(spark, tmp_path):
    t = VersionedParquetTable(
        str(tmp_path / "re"), key_cols=("k",), retention=10,
        fmt="orc", deletion_vectors=True,
    )
    # key-clustered MULTI-file layout so the file-pruned merge path
    # engages (a single-file table full-rewrites, which legitimately
    # purges the vector instead of carrying it)
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "k long, v string"
    )
    t.overwrite(df.repartitionByRange(3, "k"))
    t.delete_keys(spark.createDataFrame([(3,), (30,)], "k long"))
    t.merge(spark.createDataFrame([(3, "REBORN")], "k long, v string"))
    rows = t.read(spark).filter(F.col("k").isin(3, 30)).collect()
    assert [(r.k, r.v) for r in rows] == [(3, "REBORN")]
    dv = spark.read.parquet(os.path.join(t.path, t.current_version(), DV_DIR))
    assert {r.k for r in dv.collect()} == {30}
    assert t.read(spark).count() == 39


def test_orc_type_widening_reads_natively(spark, tmp_path):
    """TYPE WIDENING is metadata-only under ORC too: the ORC reader
    upcasts old physical int32/float32 pages under the widened sidecar
    schema (the parquet claim, verified for ORC), and a post-widen
    merge re-reads the old hardlinked files without rewrite errors."""
    t = VersionedParquetTable(str(tmp_path / "w"), key_cols=("k",), fmt="orc")
    t.overwrite(spark.createDataFrame([(1, 5, 1.5)], "k long, v int, f float"))
    t.widen_column(spark, "v", "double")
    t.widen_column(spark, "f", "double")
    got = t.read(spark)
    assert got.schema.simpleString() == "struct<k:bigint,v:double,f:double>"
    assert _rows(got) == [(1, 5.0, 1.5)]
    t.merge(spark.createDataFrame([(2, 7.5, 2.5)], "k long, v double, f double"))
    assert _rows(t.read(spark)) == [(1, 5.0, 1.5), (2, 7.5, 2.5)]


def test_orc_appends_stream_reads_orc_data_files(spark, tmp_path):
    """The vectorized appends source streams the table's OWN data
    files — under ORC those are .orc, read stripe-wise through
    pyarrow.orc (the parquet iter_batches twin). Partition-dir values
    and _commit_version constants resolve identically."""
    from a2b_spark.storage.cdf import VersionAppendsDataSource

    t = VersionedParquetTable(
        str(tmp_path / "a"), key_cols=("k",), partition_by=("epoch",),
        partitions_derived_from_keys=True, retention=10, fmt="orc",
    )
    t.append(
        spark.createDataFrame(
            [(1, 0, 10.0), (2, 0, 20.0)], "k long, epoch int, x double"
        )
    )
    t.append(
        spark.createDataFrame([(3, 1, 30.0)], "k long, epoch int, x double")
    )
    spark.dataSource.register(VersionAppendsDataSource)
    out_dir = str(tmp_path / "out")
    (
        spark.readStream.format("a2b_table_appends")
        .option("path", t.path)
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = {
        (r.k, r.epoch, r.x, r._commit_version)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {(1, 0, 10.0, 1), (2, 0, 20.0, 1), (3, 1, 30.0, 2)}


def test_orc_changes_stream_initial_load(spark, tmp_path):
    """a2b_table_changes streams an ORC table's INITIAL commit as
    inserts straight from the .orc data files (the change files under
    _cdf/ stay parquet regardless of table format)."""
    from a2b_spark.storage.cdf import TableChangesDataSource

    t = VersionedParquetTable(
        str(tmp_path / "c"), key_cols=("k",), retention=10, fmt="orc"
    )
    t.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    )
    t.enable_cdf()
    t.merge(spark.createDataFrame([(2, "B2"), (3, "c")], "k long, v string"))
    spark.dataSource.register(TableChangesDataSource)
    out_dir = str(tmp_path / "out")
    (
        spark.readStream.format("a2b_table_changes")
        .option("path", t.path)
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = {
        (r.k, r.v, r.change) for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {
        (1, "a", "insert"), (2, "b", "insert"),
        (2, "B2", "update"), (3, "c", "insert"),
    }


def test_orc_stats_scoped_merge_prunes_files(spark, tmp_path):
    """The _prunable_key_files planning step engages under ORC: a
    1-key merge against a key-clustered multi-file table rewrites only
    the file whose stats band holds the key — the others hardlink."""
    t = VersionedParquetTable(str(tmp_path / "m"), key_cols=("k",), fmt="orc")
    df = spark.range(0, 300).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    t.overwrite(df.repartitionByRange(3, "k"))
    t.merge(spark.createDataFrame([(5, "UPDATED")], "k long, v string"))
    vdir = os.path.join(t.path, t.current_version())
    files = _data_files(vdir)
    linked = [p for p in files if os.stat(p).st_nlink > 1]
    assert len(linked) >= 2  # untouched key-ranges carried by hardlink
    got = dict((r.k, r.v) for r in t.read(spark).collect())
    assert got[5] == "UPDATED" and len(got) == 300


def test_orc_footer_harvest_matches_distributed(spark, tmp_path):
    """The driver-side JVM footer harvest (collect_orc_footer_stats —
    zero Spark jobs) must be value-identical to the distributed
    aggregation it replaces, across every supported tag plus the traps:
    NaN doubles (max dropped), an ALL-NaN double (both bounds dropped —
    ORC leaves min uninitialized), all-null columns, >64-char string
    maxima, exact timestamp micros, and TIMESTAMP_NTZ (physically an
    int64 of micros — the catalyst-type attribute restores tag 'ts')."""
    import datetime as dt

    from a2b_spark.storage.stats import collect_orc_footer_stats

    rows = [
        (1, 1.5, float("nan"), "aaa", True,
         dt.datetime(2026, 1, 2, 3, 4, 5, 123456), dt.date(2026, 1, 2),
         None, dt.datetime(2025, 7, 1, 12, 0, 0, 654321)),
        (2, float("nan"), float("nan"), "z" * 100, False,
         dt.datetime(2026, 6, 1), None, None, None),
        (3, None, float("nan"), None, None, None, dt.date(2026, 3, 1),
         None, dt.datetime(2025, 7, 2)),
    ]
    df = spark.createDataFrame(
        rows,
        "k long, x double, allnan double, s string, b boolean, "
        "ts timestamp, d date, allnull int, tn timestamp_ntz",
    )
    p = str(tmp_path / "ftr")
    df.coalesce(1).write.format("orc").save(p)
    rels = [f for f in os.listdir(p) if not f.startswith(("_", "."))]
    assert len(rels) == 1
    footer = collect_orc_footer_stats(spark, p, rels)
    distributed = collect_file_stats_spark(spark, p, rels, "orc")
    assert footer == distributed
    c = footer[rels[0]]["cols"]
    assert c["x"]["min"] == 1.5 and c["x"]["max"] is None
    assert c["allnan"] == {"t": "f", "min": None, "max": None, "nulls": 0}
    assert c["allnull"] == {"t": "i", "min": None, "max": None, "nulls": 3}
    assert c["ts"]["min"] == "2026-01-02T03:04:05.123456"
    assert c["s"]["min"] == "aaa" and c["s"]["max"] is None
    # NTZ rides the file as physical bigint micros; the catalyst-type
    # attribute restores the logical tag, matching the distributed path
    assert c["tn"]["t"] == "ts"
    assert c["tn"]["min"] == "2025-07-01T12:00:00.654321"


def test_orc_footer_harvest_multifile_and_odd_names(spark, tmp_path):
    """Per-file entries keyed by relative path (partition dirs
    included), odd column names never re-parsed — and the harvest
    answers without running a single Spark job."""
    from a2b_spark.storage.stats import collect_orc_footer_stats

    p = str(tmp_path / "mf")
    df = spark.createDataFrame(
        [(1, 2, "x", 0), (5, None, "y", 0), (9, 4, "q", 1)],
        "`a.b` long, `c d` long, `e:f` string, part int",
    )
    df.repartition(1).write.format("orc").partitionBy("part").save(p)
    rels = []
    for root, dirs, files in os.walk(p):
        dirs[:] = [d for d in dirs if "=" in d or not d.startswith(("_", "."))]
        rels += [
            os.path.relpath(os.path.join(root, f), p)
            for f in files
            if not f.startswith(("_", "."))
        ]
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs_before = store.jobsList(None).size()
    footer = collect_orc_footer_stats(spark, p, sorted(rels))
    assert store.jobsList(None).size() == jobs_before  # zero Spark jobs
    assert footer == collect_file_stats_spark(spark, p, sorted(rels), "orc")
    merged_cols = {}
    for e in footer.values():
        merged_cols.update(e["cols"])
    assert merged_cols["a.b"]["t"] == "i" and merged_cols["e:f"]["t"] == "s"


def test_orc_footer_harvest_closes_its_readers(spark, tmp_path):
    """Every ORC Reader the footer harvest opens is closed again: an
    unclosed reader keeps its file open in the JVM until GC, so a
    harvest over many files must leave no descriptor on the table."""
    from a2b_spark.storage.stats import collect_orc_footer_stats

    p = str(tmp_path / "fds")
    spark.range(48).repartition(24).write.format("orc").save(p)
    rels = sorted(f for f in os.listdir(p) if not f.startswith(("_", ".")))
    assert len(rels) >= 20
    assert collect_orc_footer_stats(spark, p, rels) is not None
    fd_dir = f"/proc/{spark._jvm.java.lang.ProcessHandle.current().pid()}/fd"
    held = []
    for fd in os.listdir(fd_dir):
        try:
            target = os.readlink(os.path.join(fd_dir, fd))
        except OSError:  # closed while listing
            continue
        if target.startswith(p + os.sep):
            held.append(target)
    assert held == []


def test_orc_footer_harvest_fallback_conditions(spark, tmp_path):
    """None (-> distributed fallback) on oversize batches and on
    unreadable files; never a partial answer."""
    from a2b_spark.storage import stats as stats_mod
    from a2b_spark.storage.stats import collect_orc_footer_stats

    p = str(tmp_path / "fb")
    spark.range(3).coalesce(1).write.format("orc").save(p)
    rels = [f for f in os.listdir(p) if not f.startswith(("_", "."))]
    too_many = rels * (stats_mod.MAX_FOOTER_HARVEST_FILES + 1)
    assert collect_orc_footer_stats(spark, p, too_many) is None
    bad = str(tmp_path / "bad.orc")
    with open(bad, "wb") as f:
        f.write(b"not an orc file")
    assert collect_orc_footer_stats(spark, str(tmp_path), ["bad.orc"]) is None
