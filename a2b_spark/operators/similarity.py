"""Similarity search over embedding columns.

- knn_bruteforce: exact top-k by cosine. Cost O(|queries|·|corpus|) —
  correct baseline; fine when |queries| is small or as the per-bucket
  kernel. The corpus side stays distributed and is scored in
  Arrow-batched numpy against a broadcast query matrix; the driver
  never sees corpus rows, and top-k uses WindowGroupLimit (partial
  per-partition limit before the shuffle).
- knn_lsh: SRP-LSH bucketed candidate generation + exact re-rank —
  the scale path (no all-pairs cross join).
- knn_ivf: spherical k-means cells, cell probing, exact re-rank.
- knn_ivf_pq / knn_pq: one IVF-PQ core (residual PQ codes, masked ADC
  scan, shortlist, exact re-rank). PQ = IVF-PQ with one zero centroid:
  ``x − 0.0`` and ``0.0 + a`` are exact, so its codebooks, codes and
  ADC scores equal a standalone PQ's bit for bit.
- nearest_in_set: nearest neighbor in a small broadcast reference set
  (decontamination); kmeans_fit / kmeans_assign: clustering.

knn_bruteforce, knn_pq and knn_ivf_pq collect their query side through
one bounded prologue (``max_query_rows``, ``on_overflow``).

Determinism for the oracle: dot products and norms are evaluated as
the same left-to-right IEEE-754 float64 fold the DuckDB oracle uses
(a per-dimension loop of vectorized adds — bit-identical to a
sequential per-pair fold), rounding stays JVM-side (F.round,
HALF_UP), ranking is (sim DESC, id ASC) row_number — stable across
engines.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from a2b_spark.functions.vectors import as_double
from a2b_spark.operators.dedup import spread



def _topk_window(scored: DataFrame, k: int) -> DataFrame:
    """Shared deterministic top-k epilogue: (cos desc, corpus_id asc)
    row_number — the determinism contract of every KNN operator.

    NaN cosines (zero-norm vectors: 0/0 in the numpy kernel) are
    dropped FIRST — Spark orders NaN above every double, so without
    the filter a direction-less vector would win rank 1 of every
    query it became a candidate for."""
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("corpus_id"))
    return (
        scored.filter(~F.isnan("cos"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "corpus_id", "cos", F.col("rk").cast("int").alias("rk"))
    )


def _exact_rerank(
    cands: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Shared exact-cosine re-rank: candidate (query_id, corpus_id)
    pairs join their vectors back by id (the vector payload never rode
    the candidate shuffle), score with the oracle-parity cosine fold,
    and keep the deterministic top-k."""
    from a2b_spark.functions.vectors import pair_cosine_raw

    qv = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("corpus_id"), as_double(vec_col).alias("cv"))
    # NO broadcast hint on the query vectors: this re-rank also serves
    # the on_overflow='lsh' fallback whose whole purpose is query sets
    # too large to broadcast (a forced hint would hit Spark's 8 GB
    # broadcast ceiling exactly on the path meant to degrade
    # gracefully); AQE still broadcasts small query sides on its own
    scored = (
        cands.join(qv, "query_id")
        .join(cv, "corpus_id")
        .withColumn("cos", F.round(pair_cosine_raw()(F.col("qv"), F.col("cv")), 6))
    )
    return _topk_window(scored, k)


def _empty_knn_result(corpus: DataFrame, id_col: str) -> DataFrame:
    id_type = corpus.schema[id_col].dataType
    return corpus.sparkSession.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("query_id", id_type),
                T.StructField("corpus_id", id_type),
                T.StructField("cos", T.DoubleType()),
                T.StructField("rk", T.IntegerType()),
            ]
        ),
    )


def _vectors(col: pd.Series) -> np.ndarray:
    """Stack an array-valued pandas column into a float64 matrix."""
    return np.vstack([np.asarray(v, dtype=np.float64) for v in col])


def _fold_norms(mat: np.ndarray) -> np.ndarray:
    """Row norms as the oracle's exact sequential per-dimension fold."""
    acc = np.zeros(len(mat))
    for i in range(mat.shape[1]):
        acc = acc + mat[:, i] * mat[:, i]
    return np.sqrt(acc)


def _fold_dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """All-pairs dot products ``a @ b.T`` in the same fold order as
    :func:`_fold_norms` (bit-identical to a sequential per-pair fold)."""
    dots = np.zeros((len(a), len(b)))
    for i in range(a.shape[1]):
        dots = dots + np.outer(a[:, i], b[:, i])
    return dots


def _unit(v: np.ndarray) -> np.ndarray:
    """Row-wise L2 normalization; zero rows stay zero."""
    n = np.linalg.norm(v, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return v / n


def _cells(u: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """Coarse-cell assignment of unit rows: argmax cosine against the
    centroids, ties to the lowest cell index."""
    return (u @ cent.T).argmax(axis=1).astype(np.int32)


def _probe_order(sims: np.ndarray, p: int) -> np.ndarray:
    """The ``p`` best cells per row by descending similarity; the
    stable sort makes the probe set deterministic."""
    return np.argsort(-sims, axis=1, kind="stable")[:, :p]


def _train_sample(corpus: DataFrame, vec_col: str, id_col: str, n: int) -> np.ndarray:
    """Bounded deterministic training sample: the vectors of the ``n``
    smallest ids (``orderBy(id).limit(n)`` → TakeOrdered, no full
    sort) — the only corpus rows the driver ever holds."""
    tr = corpus.select(as_double(vec_col).alias("v")).orderBy(F.col(id_col)).limit(n)
    return _vectors(tr.toPandas()["v"])


def _collect_query_side(
    op: str,
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    max_query_rows: int,
    on_overflow: str,
) -> tuple[DataFrame, DataFrame, pd.DataFrame, DataFrame | None]:
    """Query-side prologue of the broadcast KNN operators
    (knn_bruteforce, knn_pq, knn_ivf_pq): drop null vectors on both
    sides, then collect the (query_id, v) query side under the explicit
    ``max_query_rows`` bound — one eager action at construction time,
    before any training work, so the lsh fallback wastes nothing.

    Returns ``(queries, corpus, qp, done)``. ``done`` is the finished
    result when there is nothing to broadcast — the ``knn_lsh``
    fallback of an over-limit query side, or the empty result of an
    empty one — and None otherwise."""
    if on_overflow not in {"raise", "lsh"}:
        raise ValueError(f"on_overflow must be 'raise' or 'lsh', got {on_overflow!r}")
    queries = queries.filter(F.col(vec_col).isNotNull())
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    qp = (
        queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("v"))
        .limit(max_query_rows + 1)
        .toPandas()
    )
    done = None
    if len(qp) > max_query_rows:
        if on_overflow != "lsh":
            raise ValueError(
                f"{op} query side exceeds max_query_rows={max_query_rows}; "
                "use knn_lsh (distributed candidates) or raise the bound explicitly"
            )
        # recall-oriented params, NOT knn_lsh's near-dup defaults
        # (8x16 misses ~half the true top-k at mid similarity):
        # 4 bits x 32 tables -> miss ~1e-3 at cos 0.5, ~1e-2 at
        # cos 0.3, at the cost of n/16-sized buckets
        done = knn_lsh(queries, corpus, vec_col, id_col, k, n_bits=4, n_tables=32)
    elif len(qp) == 0:
        done = _empty_knn_result(corpus, id_col)
    return queries, corpus, qp, done


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    max_query_rows: int = 100_000,
    on_overflow: str = "raise",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (self-matches
    excluded). The query set is collected and broadcast — by contract
    it is small (point-lookup side); the corpus never leaves the
    executors.

    NOTE this collect is an eager action at construction time and the
    query matrix lives in driver + every executor's memory:
    ``max_query_rows`` (default 100k ≈ 0.6 GB at dim=768) makes the
    contract explicit — a larger query side raises instead of OOMing
    the driver. ``on_overflow="lsh"`` reroutes an over-limit query set
    to :func:`knn_lsh` (fully distributed candidates, approximate) so
    a 100×-scaled pipeline degrades gracefully instead of aborting.
    Null-vector rows are dropped on both sides."""
    queries, corpus, qp, done = _collect_query_side(
        "knn_bruteforce", queries, corpus, vec_col, id_col, k, max_query_rows, on_overflow
    )
    if done is not None:
        return done
    qmat = _vectors(qp["v"])
    qids = qp["query_id"].to_numpy()
    bq = corpus.sparkSession.sparkContext.broadcast((qids, qmat, _fold_norms(qmat)))

    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("corpus_id", id_type),
            T.StructField("cos_raw", T.DoubleType()),
        ]
    )
    c = spread(corpus.select(F.col(id_col).alias("cid"), as_double(vec_col).alias("cv")))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, mq, nq = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mc = _vectors(pdf["cv"])
            ids_c = pdf["cid"].to_numpy()
            nc = len(ids_c)
            cnorm = _fold_norms(mc)
            # block over queries: an unblocked |queries|x|batch| float64
            # tile is 8 GB at the documented 100k-query contract limit
            # (same cap discipline as _ivf_pq's adc_scan); blocking over
            # query ROWS leaves each pair's per-dimension fold order
            # untouched, so cosines stay bit-identical
            qblock = max(1, 4_000_000 // max(nc, 1))
            for s in range(0, len(ids_q), qblock):
                idq = ids_q[s : s + qblock]
                dots = _fold_dots(mq[s : s + qblock], mc)  # same fold as cosine(qv, cv)
                cos = dots / (nq[s : s + qblock][:, None] * cnorm[None, :])
                iq, ic = np.broadcast_arrays(idq[:, None], ids_c[None, :])
                keep = iq != ic
                yield pd.DataFrame(
                    {"query_id": iq[keep], "corpus_id": ic[keep], "cos_raw": cos[keep]}
                )

    scored = c.mapInPandas(score, out_schema).withColumn(
        "cos", F.round(F.col("cos_raw"), 6)
    )
    return _topk_window(scored, k)


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 5,
) -> list:
    """Full Lloyd's k-means over the embedding column — the iterative
    companion to :func:`kmeans_assign` (which is one assignment step).
    Deterministic within a session/config: seeds are the k smallest
    ids, assignment breaks ties to the lower centroid index, and an
    empty cluster keeps its previous centroid. The per-dimension mean
    is a double-precision F.avg, whose partial-sum merge order can
    differ across partition layouts — so cross-config runs agree to
    float accumulation order (typically every bit, but a 1-ulp wobble
    near a rounded-distance tie boundary is possible); bit-exact
    cross-engine replay is only claimed for the single assignment
    step (q89), not the iterated loop.

    Iteration shape (the engine's iterative-algorithm idiom, same as
    the connected-components loop): per round, ONE in-row assignment
    pass (no join — literal centroids, see kmeans_assign) + ONE
    posexplode/groupBy shuffle for the per-(cluster, dim) means + a
    BOUNDED k·dim-scalar driver pull to rebuild the centroid literals.
    Driver traffic is O(k·dim·iters), independent of row count; no
    lineage growth because each round's plan restarts from the stable
    input frame. Returns the final centroids as a list of k lists.
    """
    if k < 1 or iters < 1:
        raise ValueError(f"k and iters must be >= 1 (got k={k}, iters={iters})")
    # pin the working frame: the loop reads it 2·iters+1 times, and an
    # unpinned nondeterministic upstream (sample(), repartitionByRange)
    # could present different vectors to different iterations — the
    # same hazard class _materialize exists for (and skips the
    # repeated upstream recompute)
    base = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("__id"), as_double(vec_col).alias("__v"))
        .localCheckpoint(eager=True)
    )
    seeds = base.orderBy("__id").limit(k).collect()
    if not seeds:
        raise ValueError("kmeans_fit: no non-null vectors")
    cents = [list(r["__v"]) for r in seeds]
    dim = len(cents[0])
    for _ in range(iters):
        assigned = kmeans_assign(base, "__v", "__id", k=len(cents), _centroids=cents)
        stats = (
            assigned.join(base, "__id")
            .select("cluster_id", F.posexplode("__v").alias("__d", "__x"))
            .groupBy("cluster_id", "__d")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        nxt = [list(c) for c in cents]  # empty cluster keeps its centroid
        for r in stats:
            nxt[r["cluster_id"]][r["__d"]] = r["__m"]
        cents = nxt
    assert all(len(c) == dim for c in cents)
    return cents


def kmeans_assign(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    round_digits: int = 6,
    _centroids: list | None = None,
) -> DataFrame:
    """One k-means ASSIGNMENT step with deterministic seeding: the k
    centroids are the vectors of the k smallest ids (engine-portable —
    no RNG), and every vector is assigned to the centroid minimizing
    squared L2, ties broken by centroid index. The semantic-clustering
    primitive of corpus curation (mixture balancing, topic capping,
    diversity sampling) reduced to its oracle-checkable core; the
    full deterministic iterate loop is :func:`kmeans_fit` (which
    passes its current centroids via ``_centroids`` to skip the seed
    collect).

    Returns (id_col, cluster_id, dist2) with dist2 rounded to
    ``round_digits``; the argmin also compares ROUNDED distances so
    both engines make the identical choice even when two centroids
    differ past the 6th decimal (the q28 discipline).

    Scale shape: the k seed rows are a bounded driver pull (k·dim
    literals, same contract as knn_bruteforce's broadcast query side);
    assignment is one in-row transform + array_min over a k-element
    struct array — NO join, NO shuffle, O(n·k·dim) flops stage-local,
    and the plan stays a single projection over the scan."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    df = df.filter(F.col(vec_col).isNotNull())
    if _centroids is not None:
        seeds = [{"v": c} for c in _centroids]
    else:
        seeds = (
            df.select(F.col(id_col), as_double(vec_col).alias("v"))
            .orderBy(id_col)
            .limit(k)
            .collect()
        )
    if not seeds:
        raise ValueError("kmeans_assign: no non-null vectors to seed from")
    if len(seeds) > 64:
        # Large-k scale path (SemDeDup's k ∝ n regime): the literal
        # centroid-array expression is O(k·dim) interpreted HOF work
        # PER ROW — measured 20× super-linear when k grew with the
        # corpus (round-7 trajectory: q113 x100 at k=800 took 166s,
        # with this path 18s). One Arrow-batched mapInPandas computes
        # the full n×k distance matrix as a numpy matmul
        # (|x|² − 2x·C + |C|²); ties still break to the smallest cid
        # (argmin returns the first minimum). Float caveat, by design:
        # the matmul accumulation order differs from the small-k
        # path's sequential fold, so the two paths can disagree only
        # when two rounded distances straddle a 0.5·10^-digits
        # boundary — measure-zero for continuous embeddings, pinned
        # equal on the real corpus by tests/test_operators.py. Every
        # oracle SF uses k=8, i.e. the expression path.
        C = np.array([list(row["v"]) for row in seeds], dtype=np.float64)
        c2 = (C * C).sum(axis=1)
        # StructType, never a DDL f-string: an id column needing
        # backticks (space/hyphen/reserved word) must work identically
        # on both k paths (the project's odd-column-name rule)
        out_schema = T.StructType(
            [
                T.StructField(id_col, df.schema[id_col].dataType),
                T.StructField("cluster_id", T.IntegerType()),
                T.StructField("dist2", T.DoubleType()),
            ]
        )

        def _assign(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = _vectors(pdf["__v"])
                d2 = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + c2[None, :]
                d2r = np.round(d2, round_digits)
                cid = d2r.argmin(axis=1)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].values,
                        "cluster_id": cid.astype("int32"),
                        "dist2": d2r[np.arange(len(cid)), cid],
                    }
                )

        return df.select(F.col(id_col), as_double(vec_col).alias("__v")).mapInPandas(
            _assign, out_schema
        )
    cents = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("cid"),
                F.array(*[F.lit(float(x)) for x in row["v"]]).alias("cv"),
            )
            for j, row in enumerate(seeds)
        ]
    )
    v = as_double(vec_col)
    scored = F.transform(
        cents,
        lambda c: F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(v, c["cv"], lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                round_digits,
            ).alias("d"),
            c["cid"].alias("cid"),
        ),
    )
    best = F.array_min(scored)
    return df.select(
        F.col(id_col),
        best["cid"].cast("int").alias("cluster_id"),
        best["d"].alias("dist2"),
    )


def _kmeans_fit(sample: np.ndarray, n_cells: int, iters: int, seed: int) -> np.ndarray:
    """Deterministic spherical k-means (Lloyd) on a driver-side sample:
    vectors and centroids are L2-normalized, assignment is argmax
    cosine. Seeded init + stable argmax make retrains reproducible."""
    x = _unit(sample)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)].copy()
    for _ in range(iters):
        assign = _cells(x, cent)
        for j in range(len(cent)):
            pts = x[assign == j]
            if len(pts):
                c = pts.sum(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    cent[j] = c / n
    return cent


def knn_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 8,
    train_sample: int = 100_000,
    iters: int = 10,
    seed: int = 20260813,
) -> DataFrame:
    """IVF (inverted-file) approximate KNN — the coarse-quantizer scale
    path alongside SRP-LSH:

    1. TRAIN: spherical k-means on a bounded, deterministic corpus
       sample (``orderBy(id).limit(train_sample)`` → TakeOrdered, no
       full sort; the sample is the only data the driver ever holds).
    2. ASSIGN: broadcast centroids; each corpus vector lands in exactly
       ONE cell (Arrow-batched argmax) — so probe×assign join output is
       already duplicate-free, no candidate dedup pass (unlike LSH,
       where a pair collides in up to n_tables buckets).
    3. PROBE: each query ranks cells by centroid cosine and probes the
       top ``n_probe`` — compute scales by n_probe/n_cells.
    4. RE-RANK: candidates join back to vectors by id (the vector
       payload never rides the cell shuffle); exact cosine, top-k
       window — identical determinism contract to knn_bruteforce.

    Unlike knn_ivf_pq, the query side is never collected: probing runs
    distributed, so there is no ``max_query_rows`` bound.

    Recall is 1 iff every true neighbor's cell is probed; with
    separated clusters n_probe ≪ n_cells suffices. This synthetic
    corpus has near-uniform background similarity (cos ≈ 0.4), the
    hardest regime for any coarse quantizer, hence the conservative
    default n_probe = n_cells/2; real embedding corpora support
    n_probe/n_cells ≈ 1/16-1/32."""

    queries = queries.filter(F.col(vec_col).isNotNull())
    corpus = corpus.filter(F.col(vec_col).isNotNull())

    spark = corpus.sparkSession
    sample = _train_sample(corpus, vec_col, id_col, train_sample)
    bc = spark.sparkContext.broadcast(_kmeans_fit(sample, n_cells, iters, seed))

    id_type = corpus.schema[id_col].dataType

    def cell_schema(out_id: str) -> T.StructType:
        return T.StructType(
            [T.StructField(out_id, id_type), T.StructField("cell", T.IntegerType())]
        )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cells = _cells(_unit(_vectors(pdf["v"])), c)
            yield pd.DataFrame({"corpus_id": pdf["corpus_id"].to_numpy(), "cell": cells})

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        p = min(n_probe, len(c))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            top = _probe_order(_unit(_vectors(pdf["v"])) @ c.T, p).astype(np.int32)
            ids = pdf["query_id"].to_numpy()
            yield pd.DataFrame(
                {"query_id": np.repeat(ids, p), "cell": top.reshape(-1)}
            )

    assigned = spread(
        corpus.select(F.col(id_col).alias("corpus_id"), as_double(vec_col).alias("v"))
    ).mapInPandas(assign, cell_schema("corpus_id"))
    probes = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("v")
    ).mapInPandas(probe, cell_schema("query_id"))

    cands = (
        probes.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id")
    )
    return _exact_rerank(cands, queries, corpus, vec_col, id_col, k)


def knn_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_bits: int = 8,
    n_tables: int = 16,
) -> DataFrame:
    """Approximate top-k: n_tables independent SRP signatures; a corpus
    vector is a candidate if it shares any table's bucket with the
    query. Candidate ids join back to their vectors (buckets carry
    only (id, table, bucket) — the vector payload never rides the
    ×n_tables bucket shuffle), then exact-cosine re-rank in an
    Arrow-batched numpy kernel. Shuffles on (table, bucket) and on the
    candidate id joins only — never |q|×|c|.

    Tuning: P(candidate) per table = (1-θ/π)^n_bits. Defaults (8 bits ×
    16 tables) target the advertised near-dup regime (cos ≥ 0.9 →
    per-table p ≈ 0.29, miss ≈ 0.4%) with 256 buckets/table so bucket
    joins stay tiny. For mid-similarity KNN over small corpora, drop
    bits and raise tables instead — 2 bits × 32 tables gives recall ≈ 1
    even for orthogonal neighbors ((1-0.25)³² ≈ 1e-4 miss) at the cost
    of n/4-sized buckets."""
    from a2b_spark.functions.vectors import srp_buckets
    from a2b_spark.operators.dedup import _dedup_pairs, _ids_packable

    # null vectors bucket nowhere and NaN-poison the re-rank — drop them
    queries = queries.filter(F.col(vec_col).isNotNull())
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    qb = srp_buckets(queries, vec_col, id_col, n_bits, n_tables).withColumnRenamed(
        id_col, "query_id"
    )
    cb = srp_buckets(spread(corpus), vec_col, id_col, n_bits, n_tables).withColumnRenamed(
        id_col, "corpus_id"
    )
    raw = (
        qb.join(cb, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id")
    )
    # a pair can collide in many of the n_tables buckets: dedup on the
    # packed 64-bit key when ids allow (parquet min/max stats make the
    # packability probe ~free); ordered pair here, not unordered
    cands = _dedup_pairs(
        raw,
        corpus.schema[id_col].dataType,
        _ids_packable(corpus, id_col) and _ids_packable(queries, id_col),
        a="query_id",
        b="corpus_id",
    )
    return _exact_rerank(cands, queries, corpus, vec_col, id_col, k)


def _kmeans_l2(sample: np.ndarray, n_cent: int, iters: int, seed: int) -> np.ndarray:
    """Deterministic plain-L2 Lloyd k-means for PQ subquantizers
    (seeded init, first-index argmin ties, empty cells keep their old
    centroid). Runs on a driver-side sample only."""
    rng = np.random.default_rng(seed)
    cent = sample[rng.choice(len(sample), size=min(n_cent, len(sample)), replace=False)].copy()
    for _ in range(iters):
        d2 = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(len(cent)):
            pts = sample[assign == j]
            if len(pts):
                cent[j] = pts.mean(axis=0)
    return cent


def _ivf_pq(
    op: str,
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    m: int,
    ks: int,
    shortlist: int,
    train_sample: int,
    iters: int,
    seed: int,
    max_query_rows: int,
    on_overflow: str,
    *,
    coarse: Callable[[np.ndarray], np.ndarray],
    n_probe: int,
) -> DataFrame:
    """The IVF-PQ core behind knn_pq and knn_ivf_pq (Jégou et al.
    TPAMI'11 §IV, the FAISS ``IVFADC`` index):

    1. TRAIN: on a bounded deterministic corpus sample (unit rows),
       ``coarse`` gives the (n_cells, d) coarse centroids; per-subspace
       L2 codebooks of ``ks`` centroids are then fit on the RESIDUALS
       x - centroid[cell] — residual PQ quantizes a far tighter
       distribution than raw vectors, so the same m bytes carry more
       precision. Driver-side, like knn_ivf's coarse quantizer.
    2. ENCODE: broadcast centroids and codebooks; one Arrow pass maps
       each corpus vector to (cell, m codes). At 100 TB this is the
       point: 64 float32 dims (256 B) become m=8 bytes — the whole
       index fits in a fraction of the executors' memory, and the scan
       never rereads the raw vectors.
    3. SCAN (ADC with cell pruning): each query builds an m × ks
       inner-product lookup table against the codebooks; approx IP =
       <q, centroid_cell> + Σ_j lut[q, j, code_j]. Rows whose cell the
       query does not probe are masked out INSIDE the kernel, so unlike
       a probes⋈codes shuffle join the code table is scanned exactly
       once, and each (query, batch) is pruned to its top-``shortlist``
       before leaving the kernel — the shuffle feeding the global
       shortlist window carries O(|q|·shortlist·n_batches) id pairs,
       never the |q|×|c| stream, and no vector payload rides it.
    4. RE-RANK: deterministic ``shortlist`` per query by (ADC desc, id
       asc), then exact cosine on the shortlist only — identical
       determinism contract (pair_cosine_raw + round 6 + row_number)
       to the other KNN operators, so with full probing and a shortlist
       that covers the true top-k the output equals exact KNN and the
       exact-KNN SQL serves as the oracle.

    knn_pq passes one zero centroid: every residual is then the vector
    itself (``x − 0.0``) and every cell score starts the ADC sum at 0.0
    (``0.0 + a``) — both exact, so PQ comes out bit-identical without a
    branch here."""
    queries, corpus, qp, done = _collect_query_side(
        op, queries, corpus, vec_col, id_col, k, max_query_rows, on_overflow
    )
    if done is not None:
        return done
    spark = corpus.sparkSession

    # ---- TRAIN (driver-side bounded sample): coarse cells, then
    # per-subspace L2 codebooks on the residuals x - centroid[cell]
    sample = _unit(_train_sample(corpus, vec_col, id_col, train_sample))
    d = sample.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    cent = coarse(sample)  # (n_cells, d), unit rows or zero
    resid = sample - cent[_cells(sample, cent)]
    books = np.stack(
        [
            _kmeans_l2(resid[:, j * dsub : (j + 1) * dsub], ks, iters, seed + j)
            for j in range(m)
        ]
    )  # (m, ks, dsub)
    bc = spark.sparkContext.broadcast((cent, books))

    # ---- ENCODE corpus → (corpus_id, cell, code)
    id_type = corpus.schema[id_col].dataType
    code_schema = T.StructType(
        [
            T.StructField("corpus_id", id_type),
            T.StructField("cell", T.IntegerType()),
            T.StructField("code", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c, cb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = _unit(_vectors(pdf["v"]))
            cells = _cells(v, c)
            r = v - c[cells]
            codes = np.empty((len(v), m), dtype=np.int32)
            for j in range(m):
                sub = r[:, j * dsub : (j + 1) * dsub]
                d2 = ((sub[:, None, :] - cb[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1).astype(np.int32)
            yield pd.DataFrame(
                {
                    "corpus_id": pdf["corpus_id"].to_numpy(),
                    "cell": cells,
                    "code": list(codes),
                }
            )

    codes = spread(
        corpus.select(F.col(id_col).alias("corpus_id"), as_double(vec_col).alias("v"))
    ).mapInPandas(encode, code_schema)

    # ---- query-side tables (driver): LUTs, centroid IPs, probe mask;
    # they ride the broadcast — the query side was collected under the
    # explicit max_query_rows bound
    qm = _unit(_vectors(qp["v"]))
    # luts[q, j, c] = <query_j_sub, codebook_j_c>
    luts = np.einsum("qjd,jcd->qjc", qm.reshape(len(qm), m, dsub), books)
    qcent = qm @ cent.T  # (nq, n_cells)
    probe_mask = np.zeros_like(qcent, dtype=bool)
    np.put_along_axis(probe_mask, _probe_order(qcent, min(n_probe, len(cent))), True, axis=1)
    qids = qp["query_id"].to_numpy()
    bq = spark.sparkContext.broadcast((qids, luts, qcent, probe_mask))

    adc_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("corpus_id", id_type),
            T.StructField("adc", T.DoubleType()),
        ]
    )

    def adc_scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """ADC scoring with BOUNDED memory and output: queries are
        processed in blocks (score matrix capped at ~32 MB regardless
        of |queries|). Per-batch pruning is lossless for the global
        shortlist window: a row in the global top-``shortlist`` under
        (adc desc, id asc) is in its own batch's top-``shortlist``
        under the same order, so sorting corpus ids ascending first and
        using a stable argsort on -adc reproduces the window's exact
        tiebreak (ADC ties are common — identical codes score equal)."""
        ids_q, tables, qc, mask = bq.value
        nq = len(ids_q)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.vstack([np.asarray(c, dtype=np.int64) for c in pdf["code"]])
            cells = pdf["cell"].to_numpy()
            ids_c = pdf["corpus_id"].to_numpy()
            order = np.argsort(ids_c, kind="stable")
            ids_c, cmat, cells = ids_c[order], cmat[order], cells[order]
            nc = len(cmat)
            top = min(shortlist, nc)
            qblock = max(1, 4_000_000 // max(nc, 1))
            for s in range(0, nq, qblock):
                tq = tables[s : s + qblock]
                idq = ids_q[s : s + qblock]
                scores = qc[s : s + qblock][:, cells].copy()
                for j in range(m):
                    scores += tq[:, j, :][:, cmat[:, j]]
                # unprobed cells and self-matches leave the shortlist race
                scores[~mask[s : s + qblock][:, cells]] = -np.inf
                scores[idq[:, None] == ids_c[None, :]] = -np.inf
                idx = np.argsort(-scores, axis=1, kind="stable")[:, :top]
                sel = np.take_along_axis(scores, idx, axis=1).reshape(-1)
                keep = np.isfinite(sel)
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(idq, top)[keep],
                        "corpus_id": ids_c[idx.reshape(-1)][keep],
                        "adc": sel[keep],
                    }
                )

    adc = codes.mapInPandas(adc_scan, adc_schema)
    ws = W.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("corpus_id"))
    cands = (
        adc.withColumn("__sr", F.row_number().over(ws))
        .filter(F.col("__sr") <= shortlist)
        .select("query_id", "corpus_id")
    )
    return _exact_rerank(cands, queries, corpus, vec_col, id_col, k)


def knn_pq(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    m: int = 8,
    ks: int = 16,
    shortlist: "int | str" = 256,
    train_sample: int = 100_000,
    iters: int = 10,
    seed: int = 20260813,
    max_query_rows: int = 100_000,
    on_overflow: str = "raise",
) -> DataFrame:
    """Product-quantization approximate KNN (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI'11) — the
    memory-bound scale path alongside SRP-LSH (hash-based) and IVF
    (partition-based). It is the IVF-PQ core with one zero coarse
    centroid: the ``m`` codes of ``ks`` centroids quantize the
    normalized vector itself, and the ADC scan prunes no cell (the
    train, encode, scan and re-rank stages are described on
    ``_ivf_pq``).

    Recall knob: P(true neighbor outside shortlist) falls with
    shortlist/|corpus|; on corpora with real cluster structure
    shortlist ≈ 4k·m is plenty. The synthetic near-uniform corpus
    (cos ≈ 0.4 background) is the hard regime — the wired query uses
    ``shortlist="auto"`` (max(256, n/25)) so the covered share of the
    corpus holds as n grows and recall stays exactly 1 (checked in
    pytest against bruteforce and at a 10x corpus by
    tools/check_recall.py)."""
    if shortlist == "auto":
        # a FIXED shortlist shrinks RELATIVELY as the corpus grows
        # (4% of 6k vectors but 0.4% of 60k — measured 7/50 top-k
        # misses at a 10x corpus before this): scale it with n. This
        # costs nothing asymptotically — PQ-without-IVF scans all n
        # codes anyway, so an n/25 re-rank stays O(n) with a tiny
        # constant; the sublinear-scan composition is knn_ivf_pq.
        shortlist = max(256, corpus.filter(F.col(vec_col).isNotNull()).count() // 25)
    elif not isinstance(shortlist, int):
        raise ValueError(f"shortlist must be an int or 'auto', got {shortlist!r}")
    return _ivf_pq(
        "knn_pq", queries, corpus, vec_col, id_col, k, m, ks, shortlist,
        train_sample, iters, seed, max_query_rows, on_overflow,
        coarse=lambda sample: np.zeros((1, sample.shape[1])),
        n_probe=1,
    )


def knn_ivf_pq(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 8,
    m: int = 8,
    ks: int = 16,
    shortlist: int = 256,
    train_sample: int = 100_000,
    iters: int = 10,
    seed: int = 20260813,
    max_query_rows: int = 100_000,
    on_overflow: str = "raise",
) -> DataFrame:
    """IVF-PQ approximate KNN (Jégou et al. TPAMI'11 §IV, the FAISS
    ``IVFADC`` index) — the composition of the coarse quantizer
    (knn_ivf) and product quantization (knn_pq) that production ANN
    systems run at corpus scale: ``n_cells`` spherical k-means cells,
    residual PQ codes, and an ADC scan that masks all but each query's
    ``n_probe`` best cells (the stages are described on ``_ivf_pq``).
    With n_probe = n_cells and a covering shortlist, recall is exactly
    1 and the exact-KNN SQL serves as the oracle."""
    return _ivf_pq(
        "knn_ivf_pq", queries, corpus, vec_col, id_col, k, m, ks, shortlist,
        train_sample, iters, seed, max_query_rows, on_overflow,
        coarse=lambda sample: _kmeans_fit(sample, n_cells, iters, seed),
        n_probe=n_probe,
    )


def nearest_in_set(
    df: DataFrame,
    ref: DataFrame,
    vec_col: str,
    id_col: str,
    exclude_self: bool = False,
    max_ref_rows: int = 100_000,
) -> DataFrame:
    """For every vector in ``df``, its single nearest neighbor (by
    cosine) inside a small REFERENCE set — the embedding-space
    decontamination primitive: score a 100 TB corpus against a
    benchmark/eval suite and flag anything that lands too close
    (Lee et al. 2022 "Deduplicating Training Data", §5 applies the
    same shape to eval leakage).

    Returns (id_col, ref_id, cos) with cos rounded to 6; the argmax
    compares ROUNDED cosines with ties broken to the smallest ref id,
    so both engines (and any partitioning) pick the identical winner.

    Scale shape: the reference set is a bounded driver pull
    (``max_ref_rows`` guard, same contract as knn_bruteforce's query
    side) broadcast to every executor; the corpus is scored in one
    Arrow-batched mapInPandas pass — NO join, NO shuffle, O(n·r·dim)
    flops stage-local. Inner products use the same per-dimension
    sequential fold as the module's other kernels (oracle parity).

    ``exclude_self`` masks pairs with equal ids (reference drawn from
    the corpus itself); rows whose every reference is masked drop out.
    """
    br = broadcast_reference_set(ref, vec_col, id_col, max_ref_rows)
    return nearest_with_broadcast(df, br, vec_col, id_col, exclude_self)


def broadcast_reference_set(
    ref: DataFrame, vec_col: str, id_col: str, max_ref_rows: int = 100_000
):
    """Collect + broadcast a reference embedding set ONCE for reuse
    across many scoring passes (the streaming decontamination filter
    scores every micro-batch against the same benchmark — re-collecting
    per batch would re-ship the matrix each trigger). Bounded driver
    pull under the knn_bruteforce contract; refs are sorted by id so
    the argmax's first-hit tie break lands on the smallest ref id."""
    rpd = (
        ref.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("rid"), as_double(vec_col).alias("rv"))
        .orderBy("rid")  # argmax first-hit => smallest rid on ties
        .limit(max_ref_rows + 1)
        .toPandas()
    )
    if len(rpd) > max_ref_rows:
        raise ValueError(
            f"nearest_in_set reference side exceeds max_ref_rows={max_ref_rows}; "
            "pre-reduce the reference set (sample/centroids) or raise the bound"
        )
    if len(rpd) == 0:
        raise ValueError("nearest_in_set: empty reference set")
    R = _vectors(rpd["rv"])
    rids = rpd["rid"].to_numpy()
    rnorm = _fold_norms(R)
    # a zero-norm reference has no direction — cosine against it is
    # 0/0 = NaN, and ONE such column NaN-poisons argmax for EVERY
    # corpus row (np.argmax propagates NaN), silently emptying the
    # output and disabling decontamination. Drop them here.
    ok = rnorm > 0.0
    if not ok.all():
        rids, R, rnorm = rids[ok], R[ok], rnorm[ok]
    if len(rids) == 0:
        raise ValueError("nearest_in_set: every reference vector has zero norm")
    return ref.sparkSession.sparkContext.broadcast((rids, R, rnorm))


def nearest_with_broadcast(
    df: DataFrame,
    br,
    vec_col: str,
    id_col: str,
    exclude_self: bool = False,
) -> DataFrame:
    """nearest_in_set's scoring pass against an ALREADY-broadcast
    reference set (see broadcast_reference_set)."""
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("ref_id", id_type),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_r, mr, nr = br.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _vectors(pdf["__v"])
            ids_v = pdf[id_col].to_numpy()
            m = len(ids_v)
            vnorm = _fold_norms(V)  # zero-norm rows yield NaN cos and drop
            # block over the reference axis: an unblocked batch×refs
            # float64 tile is 8 GB at the 100k-ref contract limit.
            # Blocks scan left-to-right over the id-ascending refs and
            # update only on STRICTLY greater cos, so ties still land
            # on the smallest ref id; each pair's per-dimension fold is
            # untouched (bit-identical cosines).
            best_cos = np.full(m, -np.inf)
            best_rid = np.empty(m, dtype=ids_r.dtype)
            rblock = max(1, 4_000_000 // max(m, 1))
            for s in range(0, len(ids_r), rblock):
                nrb, idr = nr[s : s + rblock], ids_r[s : s + rblock]
                dots = _fold_dots(V, mr[s : s + rblock])  # same fold as cosine(v, r)
                cos = np.round(dots / (vnorm[:, None] * nrb[None, :]), 6)
                if exclude_self:
                    cos[ids_v[:, None] == idr[None, :]] = -np.inf
                arg = cos.argmax(axis=1)  # first max = smallest rid in block
                val = cos[np.arange(m), arg]
                upd = val > best_cos  # NaN never updates; strict keeps earlier rid
                best_cos[upd] = val[upd]
                best_rid[upd] = idr[arg[upd]]
            keep = np.isfinite(best_cos)
            yield pd.DataFrame(
                {
                    id_col: ids_v[keep],
                    "ref_id": best_rid[keep],
                    "cos": best_cos[keep],
                }
            )

    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), as_double(vec_col).alias("__v"))
        .mapInPandas(score, out_schema)
    )
