"""Operator-level tests on the driver testdata (sf0.001: 500 docs,
500 embeddings — same documents as sf0.01)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from a2b_spark.operators import dedup as D
from a2b_spark.operators import similarity as S


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_exact_dedup_deterministic(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = D.exact_dedup(df, ["o_custkey"], ["o_orderdate", "o_orderkey"])
    assert out.count() == df.select("o_custkey").distinct().count()
    # survivor = earliest orderdate (then smallest key)
    first = out.filter(F.col("o_custkey") == df.select("o_custkey").first()[0]).first()
    all_rows = df.filter(F.col("o_custkey") == first.o_custkey).orderBy(
        "o_orderdate", "o_orderkey"
    ).first()
    assert first.o_orderkey == all_rows.o_orderkey


def test_minhash_matches_exact_jaccard(docs):
    exact = {
        (r.id_a, r.id_b)
        for r in D.exact_jaccard_pairs(docs, "text", "doc_id", 0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in D.minhash_near_dup_pairs(docs, "text", "doc_id", 0.8).collect()
    }
    assert exact, "testdata should contain planted near-duplicates"
    assert lsh == exact, "LSH+verify must equal exact pairs at this threshold"


def test_simhash_finds_planted_dups(docs):
    exact = {
        (r.id_a, r.id_b)
        for r in D.exact_jaccard_pairs(docs, "text", "doc_id", 0.9).collect()
    }
    sim = {
        (r.id_a, r.id_b)
        for r in D.simhash_near_dup_pairs(docs, "text", "doc_id", 3).collect()
    }
    # simhash is a different similarity — require substantial overlap,
    # not equality
    assert len(exact & sim) >= len(exact) // 2


def test_knn_bruteforce_shape_and_selfexclusion(embs):
    q = embs.filter(F.col("vec_id") < 5)
    out = S.knn_bruteforce(q, embs, "embedding", "vec_id", k=3).collect()
    assert len(out) == 15
    assert all(r.query_id != r.corpus_id for r in out)
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        sims = [r.cos for r in sorted(rows, key=lambda r: r.rk)]
        assert sims == sorted(sims, reverse=True)


def test_knn_lsh_recall(embs):
    q = embs.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.corpus_id)
        for r in S.knn_bruteforce(q, embs, "embedding", "vec_id", k=5).collect()
    }
    # at 2 bits × 32 tables the miss probability is ~1e-4 even for
    # orthogonal neighbors — output must equal exact KNN (q30 contract)
    approx = {
        (r.query_id, r.corpus_id)
        for r in S.knn_lsh(q, embs, "embedding", "vec_id", k=5, n_bits=2, n_tables=32).collect()
    }
    assert approx == exact
    # near-dup-tuned defaults (8×16) target cos>=0.9 pairs; on this
    # mid-similarity corpus they only need to run and find *some*
    # true neighbors
    dflt = {
        (r.query_id, r.corpus_id)
        for r in S.knn_lsh(q, embs, "embedding", "vec_id", k=5).collect()
    }
    assert len(exact & dflt) / len(exact) >= 0.1


def test_null_text_robustness(spark, docs):
    """Null text must not crash the signature kernels (regression:
    np.asarray(None) raised inside the simhash/minhash UDFs); null-text
    docs simply can't pair."""
    from pyspark.sql import types as T

    extra = spark.createDataFrame(
        [(90001, None), (90002, "x y z " * 10)],
        T.StructType(
            [
                T.StructField("doc_id", docs.schema["doc_id"].dataType),
                T.StructField("text", T.StringType()),
            ]
        ),
    )
    mixed = docs.select("doc_id", "text").unionByName(extra)
    sim = D.simhash_near_dup_pairs(mixed, "text", "doc_id", 3).collect()
    assert all(r.id_a != 90001 and r.id_b != 90001 for r in sim)
    mh = D.minhash_near_dup_pairs(mixed, "text", "doc_id", 0.8).collect()
    assert all(r.id_a != 90001 and r.id_b != 90001 for r in mh)


def test_null_vector_robustness(spark, embs):
    """Null embedding rows are dropped, not crash-inducing, across the
    cosine kernels (regression: np.vstack shape mismatch)."""
    from pyspark.sql import types as T

    extra = spark.createDataFrame(
        [(90001, None)],
        T.StructType(
            [
                T.StructField("vec_id", embs.schema["vec_id"].dataType),
                T.StructField("embedding", embs.schema["embedding"].dataType),
            ]
        ),
    )
    mixed = embs.select("vec_id", "embedding").unionByName(extra)
    q = mixed.filter((F.col("vec_id") < 3) | (F.col("vec_id") == 90001))
    out = S.knn_bruteforce(q, mixed, "embedding", "vec_id", k=3).collect()
    assert all(r.query_id != 90001 and r.corpus_id != 90001 for r in out)
    lsh = S.knn_lsh(q, mixed, "embedding", "vec_id", k=3).collect()
    assert all(r.query_id != 90001 and r.corpus_id != 90001 for r in lsh)
    dup = D.embedding_dup_pairs_lsh(mixed, "embedding", "vec_id", 0.99).collect()
    assert all(r.id_a != 90001 and r.id_b != 90001 for r in dup)


def test_knn_bruteforce_query_bound(embs):
    with pytest.raises(ValueError, match="max_query_rows"):
        S.knn_bruteforce(embs, embs, "embedding", "vec_id", k=3, max_query_rows=10)
    for fn in (S.knn_pq, S.knn_ivf_pq):
        with pytest.raises(ValueError, match="max_query_rows"):
            fn(embs, embs, "embedding", "vec_id", k=3, max_query_rows=10)


def test_knn_empty_query_side_returns_empty_result(embs):
    """An empty query side answers zero rows in the KNN result schema."""
    q = embs.filter(F.col("vec_id") < 0)
    for fn in (S.knn_pq, S.knn_ivf_pq):
        out = fn(q, embs, "embedding", "vec_id", k=3)
        id_type = embs.schema["vec_id"].dataType
        assert [(f.name, f.dataType) for f in out.schema] == [
            ("query_id", id_type),
            ("corpus_id", id_type),
            ("cos", T.DoubleType()),
            ("rk", T.IntegerType()),
        ]
        assert out.count() == 0


def test_knn_overflow_falls_back_to_lsh(embs):
    """on_overflow='lsh' reroutes an over-limit query side to the
    distributed LSH path instead of aborting — the 100× degradation
    contract. High-recall LSH params → output equals exact KNN, so the
    fallback result is checked against bruteforce per query."""
    q = embs.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.corpus_id)
        for r in S.knn_bruteforce(q, embs, "embedding", "vec_id", k=3).collect()
    }
    for fn in (S.knn_bruteforce, S.knn_pq, S.knn_ivf_pq):
        out = fn(
            q, embs, "embedding", "vec_id", k=3, max_query_rows=2, on_overflow="lsh"
        ).collect()
        assert all(r.query_id != r.corpus_id for r in out)
        # the fallback must use recall-oriented LSH params (4x32), not
        # the near-dup defaults — require near-exact recovery, so a
        # param regression to the miss-half-the-neighbors regime fails
        got = {(r.query_id, r.corpus_id) for r in out}
        assert len(exact & got) / len(exact) >= 0.9
    for fn in (S.knn_pq, S.knn_ivf_pq):
        with pytest.raises(ValueError, match="on_overflow"):
            fn(q, embs, "embedding", "vec_id", on_overflow="bogus")


def test_embedding_lsh_matches_exact(embs):
    """The scale-path LSH dedup must equal the exact all-pairs join at
    its configured parameters (recall ~1 by the SRP collision math)."""
    exact = {
        (r.id_a, r.id_b, r.cos)
        for r in D.embedding_dup_pairs_exact(embs, "embedding", "vec_id", 0.45).collect()
    }
    lsh = {
        (r.id_a, r.id_b, r.cos)
        for r in D.embedding_dup_pairs_lsh(embs, "embedding", "vec_id", 0.45).collect()
    }
    assert exact, "testdata should contain embedding near-duplicates"
    assert lsh == exact


def test_asof_join_basic_ties_and_nulls(spark):
    """ASOF semantics: latest right at-or-before left ts; equal-ts right
    rows match (<= contract) with the tiebreak column picking the
    winner; NULL keys never match (DuckDB ASOF JOIN parity)."""
    from a2b_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c"), (None, 10, "d"), (1, None, "e")],
        "k int, ts int, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, 10, 100),  # equal-ts tie with rid 101
            (1, 10, 101),  # wins at left ts=10 (greatest tiebreak)
            (1, 15, 102),  # wins at left ts=20
            (2, 6, 103),   # after left ts=5 -> no match
            (None, 1, 104),  # NULL key: must never match anything
            (1, None, 105),  # NULL ts: must never match anything
        ],
        "k int, ts int, rid int",
    )
    out = {
        r.tag: r.rid
        for r in asof_join(
            left, right, on=["k"], ts_col="ts", right_cols=["rid"], right_tiebreak="rid"
        ).collect()
    }
    assert out == {"a": 101, "b": 102, "c": None, "d": None, "e": None}


def test_knn_ivf_full_probe_matches_bruteforce(spark, embs):
    """n_probe == n_cells probes every cell -> recall exactly 1: IVF
    output must equal exact bruteforce KNN."""
    q = embs.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.corpus_id, r.rk)
        for r in S.knn_bruteforce(q, embs, "embedding", "vec_id", k=3).collect()
    }
    ivf = {
        (r.query_id, r.corpus_id, r.rk)
        for r in S.knn_ivf(
            q, embs, "embedding", "vec_id", k=3, n_cells=8, n_probe=8
        ).collect()
    }
    assert exact == ivf


def test_knn_ivf_partial_probe_recall(spark, embs):
    """The n_probe < n_cells speedup path: probing half the cells on
    this near-uniform synthetic corpus must still recover most true
    neighbors (and exercises the partial-probe join shape)."""
    q = embs.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.corpus_id)
        for r in S.knn_bruteforce(q, embs, "embedding", "vec_id", k=3).collect()
    }
    ivf = {
        (r.query_id, r.corpus_id)
        for r in S.knn_ivf(
            q, embs, "embedding", "vec_id", k=3, n_cells=8, n_probe=4
        ).collect()
    }
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.5, f"partial-probe recall collapsed: {recall}"


def test_winnow_shared_run_guarantee(spark):
    """Winnowing's core property: documents sharing a run of >= k+w-1
    tokens share at least one fingerprint; short docs still fingerprint."""
    from a2b_spark.functions.text import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens = k+w-1
    df = spark.createDataFrame(
        [
            (1, f"one two three {shared} four"),
            (2, f"{shared} nine ten eleven twelve"),
            (3, "completely different words here entirely now"),
            (4, "tiny doc"),  # < k tokens -> whole-doc fingerprint
        ],
        "doc_id int, text string",
    )
    out = winnow_fingerprints(df, "text", "doc_id", k=5, w=4)
    fps = {r.doc_id: set(r.fps) for r in out.collect()}
    assert fps[1] & fps[2], "shared 8-token run must share a fingerprint"
    assert not (fps[1] & fps[3])
    assert len(fps[4]) == 1


def test_range_join_matches_naive_predicate(spark):
    """Binned range join must equal the naive BETWEEN predicate join,
    including intervals spanning many bins and bin-boundary points."""
    from a2b_spark.operators.rangejoin import range_join

    pts = spark.createDataFrame(
        [(1, "u", 0), (2, "u", 100), (3, "u", 999), (4, "u", 1000), (5, "v", 500)],
        "pid int, k string, t long",
    )
    ivs = spark.createDataFrame(
        [(10, "u", 0, 99), (11, "u", 100, 2500), (12, "v", 400, 600), (13, "u", 999, 1000)],
        "iid int, k string, s long, e long",
    )
    naive = {
        (r.pid, r.iid)
        for r in pts.join(ivs, "k").filter("t BETWEEN s AND e").collect()
    }
    binned = {
        (r.pid, r.iid)
        for r in range_join(pts, ivs, "t", "s", "e", equi_keys=["k"], bin_width=100).collect()
    }
    assert naive == binned and naive  # non-trivial match set
    # auto bin width (p95 interval length) must give identical results
    auto = {
        (r.pid, r.iid)
        for r in range_join(pts, ivs, "t", "s", "e", equi_keys=["k"], bin_width="auto").collect()
    }
    assert auto == naive


def test_range_join_auto_width_bounds_outlier_expansion(spark):
    """Auto width with a sentinel outlier interval: p95 sizing keeps
    normal intervals at ~2 bins while the one open-ended sentinel
    replicates by its span/width ratio — bounded and well under the
    guard, with no manual knob. A pathological width choice (min
    interval length) would instead explode the sentinel into millions
    of rows or trip the guard."""
    from a2b_spark.operators.rangejoin import range_join

    # 99 normal ~100-wide intervals + one 100_000-wide sentinel
    rows = [(i, i * 100, i * 100 + 99) for i in range(99)] + [(99, 0, 100_000)]
    ivs = spark.createDataFrame(rows, "iid int, s long, e long")
    pts = spark.createDataFrame([(i, i * 37 % 9900) for i in range(200)], "pid int, t long")
    naive = {
        (r.pid, r.iid)
        for r in pts.crossJoin(ivs).filter("t BETWEEN s AND e").collect()
    }
    out = range_join(pts, ivs, "t", "s", "e", bin_width="auto")
    got = {(r.pid, r.iid) for r in out.collect()}
    assert got == naive and naive
    # the auto width must be ≥ the normal interval length, so the
    # sentinel's replication is ~span/width ≈ 1000, not span bins
    # (guard default 65_536 stays untripped — proven by the collect)


def test_range_join_span_guard(spark):
    """A pathological interval (sentinel end date vs tiny bin width)
    must raise with a clear message instead of exploding into millions
    of rows; intervals under the cap join normally."""
    from a2b_spark.operators.rangejoin import range_join

    pts = spark.createDataFrame([(1, 5)], "pid int, t long")
    ivs = spark.createDataFrame(
        [(10, 0, 9), (11, 0, 10_000_000)], "iid int, s long, e long"
    )
    bad = range_join(pts, ivs, "t", "s", "e", bin_width=1, max_bins_per_interval=1000)
    with pytest.raises(Exception, match="range_join: interval"):
        bad.collect()
    # reversed interval (end < start): sequence() would generate a
    # DESCENDING |span|+1-element explode — must raise, not explode
    rev = spark.createDataFrame([(12, 10_000_000, 0)], "iid int, s long, e long")
    with pytest.raises(Exception, match="range_join: interval"):
        range_join(pts, rev, "t", "s", "e", bin_width=1, max_bins_per_interval=1000).collect()
    # same-bin reversal (end < start but both in bin 0) is the same
    # data defect and must raise too, not silently match nothing
    rev2 = spark.createDataFrame([(13, 5, 3)], "iid int, s long, e long")
    with pytest.raises(Exception, match="range_join: interval"):
        range_join(pts, rev2, "t", "s", "e", bin_width=10, max_bins_per_interval=1000).collect()
    ok = range_join(
        pts,
        ivs.filter("iid = 10"),
        "t",
        "s",
        "e",
        bin_width=1,
        max_bins_per_interval=1000,
    )
    assert [(r.pid, r.iid) for r in ok.collect()] == [(1, 10)]


def test_hash_sample_stable_and_bounded(spark, docs):
    from a2b_spark.operators.rangejoin import hash_sample

    s1 = {r.doc_id for r in hash_sample(docs, "doc_id", 10).select("doc_id").collect()}
    s2 = {r.doc_id for r in hash_sample(docs, "doc_id", 10).select("doc_id").collect()}
    assert s1 == s2  # deterministic
    n = docs.count()
    assert 0 < len(s1) < n * 0.25  # ~10%, loose bound
    # nested property: a 5% sample is a subset of the 10% sample
    s5 = {r.doc_id for r in hash_sample(docs, "doc_id", 5).select("doc_id").collect()}
    assert s5 <= s1


def test_connected_components_vs_union_find(spark):
    from a2b_spark.operators.graph import connected_components

    cases = [
        # chain of 9 (forces multiple star rounds), reversed direction
        [(i + 1, i) for i in range(8)],
        # two components + clique + duplicate & self edges
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (1, 2), (5, 5)],
        # star already
        [(100, 1), (100, 2), (100, 3)],
    ]
    for edges in cases:
        # brute-force union-find reference
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expect = {n: find(n) for n in parent}

        df = spark.createDataFrame(edges, ["a", "b"])
        # both execution paths must agree with the reference:
        # default = driver union-find fast path (edges under threshold),
        # collect_threshold=0 = distributed Kiveris star loop
        for thresh in (1 << 20, 0):
            got = {
                r["node"]: r["component"]
                for r in connected_components(
                    df, "a", "b", collect_threshold=thresh
                ).collect()
            }
            assert got == expect, f"edges={edges} thresh={thresh}"


def test_prefix_filter_recall_vs_naive_all_pairs(spark, docs):
    """The PPJoin prefix filter must be recall-exact: compare
    exact_jaccard_pairs against a brute-force all-pairs jaccard over
    the same k-gram hash sets, at thresholds that stress the prefix
    length arithmetic (incl. t*|s| landing on integers)."""
    sub = docs.limit(120)
    sh = D.kgram_hash_docs(sub, "text", "doc_id", 3)
    full = (
        sh.alias("a")
        .join(sh.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            D.jaccard(F.col("a.khs"), F.col("b.khs")).alias("j"),
        )
    )
    for t in (0.5, 0.8, 0.9):
        naive = {
            (r.id_a, r.id_b)
            for r in full.filter(F.col("j") >= t).collect()
        }
        pref = {
            (r.id_a, r.id_b)
            for r in D.exact_jaccard_pairs(sub, "text", "doc_id", t).collect()
        }
        assert pref == naive, f"threshold {t}: prefix filter lost/invented pairs"


def test_stratified_hash_sample(spark, docs):
    from a2b_spark.operators.rangejoin import hash_sample, stratified_hash_sample

    rates = {"en": 20, "es": 100}
    out = stratified_hash_sample(docs, "doc_id", "lang", rates, salt="x")
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    src = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # unlisted strata dropped entirely
    assert set(counts) <= set(rates)
    # 100% stratum kept in full
    if "es" in src:
        assert counts.get("es", 0) == src["es"]
    # nested-rate property: the 20% en sample is a subset of the 50% one
    s20 = {r.doc_id for r in out.filter(F.col("lang") == "en").select("doc_id").collect()}
    s50 = {
        r.doc_id
        for r in stratified_hash_sample(docs, "doc_id", "lang", {"en": 50}, salt="x")
        .select("doc_id")
        .collect()
    }
    assert s20 <= s50
    # per-stratum cut equals the flat hash_sample cut at the same rate
    flat20 = {
        r.doc_id
        for r in hash_sample(docs.filter(F.col("lang") == "en"), "doc_id", 20, salt="x")
        .select("doc_id")
        .collect()
    }
    assert s20 == flat20


def test_repetition_stats_hand_checked(spark):
    from a2b_spark.functions.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x")], "doc_id bigint, text string"
    )
    out = {r.doc_id: r for r in repetition_stats(df, "text", "doc_id").collect()}
    r1 = out[1]
    assert r1.n_words == 6
    assert r1.dup_word_ratio == pytest.approx(4 / 6)
    # bigrams: "a b" x3, "b a" x2 -> top "a b", 3*len("a b")=9 chars of 11
    assert r1.top_bigram == "a b"
    assert r1.top_bigram_char_ratio == pytest.approx(9 / 11)
    r2 = out[2]
    assert r2.n_words == 1 and r2.dup_word_ratio == 0.0
    assert r2.top_bigram == "" and r2.top_bigram_char_ratio == 0.0


def test_ngram_decontaminate_exact_overlap(spark):
    corpus = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6"),   # shares the 5-gram w2..w6 with bench
            (2, "zz yy xx ww vv"),       # no overlap
            (3, "s1 s2"),                # short doc, exact copy in bench
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(100, "w2 w3 w4 w5 w6 qq"), (101, "s1 s2")], "doc_id bigint, text string"
    )
    out = {
        r.doc_id: r.n_shared_ngrams
        for r in D.ngram_decontaminate(corpus, bench, "text", "doc_id", n=5).collect()
    }
    assert out == {1: 1, 3: 1}
    # null/empty texts reduce to the empty gram on both sides — they
    # must NOT cross-match as "contamination"
    corpus2 = spark.createDataFrame(
        [(7, None), (8, "")], "doc_id bigint, text string"
    )
    bench2 = spark.createDataFrame([(100, "")], "doc_id bigint, text string")
    assert D.ngram_decontaminate(corpus2, bench2, "text", "doc_id", n=5).count() == 0


def test_containment_catches_embedded_benchmark(spark):
    """The asymmetric leakage shape: a long train doc embedding a
    short benchmark doc wholesale has containment ≈ 1 but tiny
    jaccard — containment must flag it, and the any-overlap /
    jaccard views are deliberately different contracts."""
    filler = " ".join(f"f{i}" for i in range(200))
    bench_text = "b1 b2 b3 b4 b5 b6 b7"
    corpus = spark.createDataFrame(
        [
            (1, filler + " " + bench_text + " " + filler),  # embeds bench 100%
            (2, "b1 b2 b3 b4 b5 zz"),  # shares 1 of bench's 3 5-grams
            (3, filler),  # nothing shared
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id bigint, text string")
    out = {
        r.doc_id: (r.n_shared_ngrams, r.bench_ngrams, r.containment)
        for r in D.containment_contaminated_pairs(
            corpus, bench, "text", "doc_id", n=5, threshold=0.5
        ).collect()
    }
    # bench has 3 distinct 5-grams; doc 1 contains all 3; doc 2 only 1
    assert out == {1: (3, 3, 1.0)}
    # jaccard of doc 1 vs bench is tiny — the near-dup view would miss
    # the embedded benchmark (doc1/doc3 sharing filler is fine)
    j = (
        D.minhash_near_dup_pairs(corpus.union(bench), "text", "doc_id", threshold=0.8)
        .filter("id_a = 100 or id_b = 100")
        .count()
    )
    assert j == 0
    # threshold is honored: at 0.3, doc 2's 1/3 containment qualifies
    lo = {
        r.doc_id
        for r in D.containment_contaminated_pairs(
            corpus, bench, "text", "doc_id", n=5, threshold=0.3
        ).collect()
    }
    assert lo == {1, 2}
    with pytest.raises(ValueError):
        D.containment_contaminated_pairs(corpus, bench, "text", "doc_id", threshold=0)


def test_kmeans_assign_hand_checked(spark):
    """Deterministic seeding + argmin with index tiebreak, no shuffle
    in the plan (in-row transform over literal centroids)."""
    rows = [
        (0, [0.0, 0.0]),   # centroid 0
        (1, [10.0, 10.0]), # centroid 1
        (2, [1.0, 0.0]),   # near centroid 0
        (3, [9.0, 10.0]),  # near centroid 1
        (4, [5.0, 5.0]),   # equidistant -> tie broken to centroid 0
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {
        r.vec_id: (r.cluster_id, r.dist2)
        for r in S.kmeans_assign(df, "embedding", "vec_id", k=2).collect()
    }
    assert out[0] == (0, 0.0) and out[1] == (1, 0.0)
    assert out[2] == (0, 1.0) and out[3] == (1, 1.0)
    assert out[4] == (0, 50.0)  # tie: lower centroid index wins
    # no exchange in the physical plan — the operator is join-free
    plan = S.kmeans_assign(df, "embedding", "vec_id", k=2)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError):
        S.kmeans_assign(df, "embedding", "vec_id", k=0)


def test_redact_pii_planted_and_engine_parity(spark):
    """Planted PII must be redacted, and the Spark pass must agree
    byte-for-byte with the DuckDB oracle expression on PII-bearing
    text (the wired q60 corpus is PII-free, so parity on actual
    redactions is proven here)."""
    import duckdb

    from a2b_spark.functions.text import redact_pii

    texts = [
        "mail bob.smith+x@ex-ample.co.uk today",
        "server at 192.168.0.1 port 80",
        "call +1 (555) 123-4567 now",
        "plain text with no pii at all",
        "a@b.io and 10.0.0.255 and 555-867-5309",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id bigint, t string"
    )
    got = {r.id: r.c for r in df.select("id", redact_pii(F.col("t")).alias("c")).collect()}
    assert "[EMAIL]" in got[0] and "bob" not in got[0]
    assert "[IP]" in got[1] and "192" not in got[1]
    assert "[PHONE]" in got[2] and "555" not in got[2]
    assert got[3] == texts[3]
    con = duckdb.connect()
    oracle = con.execute(
        r"""
        SELECT regexp_replace(
                 regexp_replace(
                   regexp_replace(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
                 '\b\+?\d[\d\-() ]{7,}\d\b', '[PHONE]', 'g')
        FROM (SELECT unnest(?) AS t)
        """,
        [texts],
    ).fetchall()
    assert [o[0] for o in oracle] == [got[i] for i in range(len(texts))]


def test_quantize_int8_roundtrip_and_edges(spark, embs):
    """Round-trip error <= scale/2 per coordinate; zero vectors
    quantize to zeros with scale 1; codes stay in [-127, 127]."""
    from a2b_spark.functions.vectors import dequantize_int8, quantize_int8

    base = embs.select("vec_id", "embedding").limit(50)
    qz = base.select("vec_id", "embedding", quantize_int8(F.col("embedding")).alias("qs"))
    chk = qz.select(
        "vec_id",
        F.col("qs.scale").alias("scale"),
        F.array_max(
            F.zip_with(
                F.transform("embedding", lambda x: x.cast("double")),
                dequantize_int8(F.col("qs")),
                lambda a, b: F.abs(a - b),
            )
        ).alias("max_err"),
        F.array_max(F.transform("qs.q", lambda q: F.abs(q.cast("int")))).alias("max_q"),
    ).collect()
    for r in chk:
        assert r.max_err <= r.scale / 2 + 1e-12, (r.vec_id, r.max_err, r.scale)
        assert r.max_q <= 127
    zero = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<float>")
    zr = zero.select(quantize_int8(F.col("embedding")).alias("qs")).first().qs
    assert zr.scale == 1.0 and list(zr.q) == [0, 0, 0]


def test_zero_norm_vector_never_wins_knn(spark, embs):
    """A zero-norm vector has no direction: its cosine is NaN in the
    numpy kernel, and Spark sorts NaN ABOVE every double — without the
    rerank guard it would take rank 1 of every query. It must simply
    never appear."""
    from pyspark.sql import types as T

    extra = spark.createDataFrame(
        [(90002, [0.0] * 64)],
        T.StructType(
            [
                T.StructField("vec_id", embs.schema["vec_id"].dataType),
                T.StructField("embedding", embs.schema["embedding"].dataType),
            ]
        ),
    )
    mixed = embs.select("vec_id", "embedding").unionByName(extra)
    q = mixed.filter(F.col("vec_id") < 3)
    for fn, kw in [
        (S.knn_bruteforce, {}),
        (S.knn_lsh, {"n_bits": 2, "n_tables": 8}),
    ]:
        out = fn(q, mixed, "embedding", "vec_id", k=3, **kw).collect()
        assert all(r.corpus_id != 90002 for r in out), fn.__name__
        assert all(r.cos == r.cos for r in out), "NaN leaked"  # NaN != NaN


def test_unigram_surprisal_empty_corpus(spark):
    from a2b_spark.operators.ranking import unigram_surprisal

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    out = unigram_surprisal(empty, "text", "doc_id")
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["doc_id", "n_tokens", "surprisal_e7"]


def test_quality_features_empty_text_ansi_safe(spark):
    """Empty text must yield punct_ratio 0.0, not an ANSI
    DIVIDE_BY_ZERO error; null text stays null."""
    from a2b_spark.functions.text import quality_features

    df = spark.createDataFrame([(1, ""), (2, None), (3, "a b.")], "doc_id bigint, text string")
    feats = quality_features(F.col("text"))
    rows = {r.doc_id: r for r in df.select("doc_id", *[c.alias(n) for n, c in feats.items()]).collect()}
    assert rows[1].punct_ratio == 0.0
    assert rows[2].punct_ratio is None
    assert rows[3].punct_ratio == pytest.approx(1 / 4)


def test_quantize_int8_nonfinite_ansi_safe(spark):
    """NaN/Inf coordinates must quantize to 0 (scale from the finite
    ones), not abort the job with an ANSI CAST_INVALID_INPUT."""
    from a2b_spark.functions.vectors import quantize_int8

    df = spark.createDataFrame(
        [(1, [float("nan"), 12.7, -12.7]), (2, [float("inf"), 1.0, -1.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r.qs for r in df.select("vec_id", quantize_int8(F.col("embedding")).alias("qs")).collect()}
    assert list(out[1].q) == [0, 127, -127] and out[1].scale == 12.7 / 127
    assert list(out[2].q) == [0, 127, -127] and out[2].scale == 1.0 / 127


def test_fetch_pair_payloads_single_scan_pivot(spark):
    """The melt/join/re-widen helper must attach the right payload to
    the right SIDE, including when one id appears in many pairs and on
    both sides."""
    from a2b_spark.operators.dedup import _fetch_pair_payloads

    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "id_a long, id_b long"
    )
    payloads = spark.createDataFrame(
        [(1, [10, 11]), (2, [20]), (3, [30, 31, 32])], "doc_id long, khs array<bigint>"
    )
    got = {
        (r["id_a"], r["id_b"]): (r["sh_a"], r["sh_b"])
        for r in _fetch_pair_payloads(
            cands, payloads, "doc_id", "khs", "sh_a", "sh_b"
        ).collect()
    }
    assert got == {
        (1, 2): ([10, 11], [20]),
        (1, 3): ([10, 11], [30, 31, 32]),
        (2, 3): ([20], [30, 31, 32]),
    }


def test_tables_equal_detects_drift(spark, sf_dir):
    from a2b_spark.operators.validate import tables_equal

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    shuffled = cust.repartition(7)  # order/partitioning must not matter
    assert tables_equal(cust, shuffled, decimals={"c_acctbal": 2})
    # one lost row
    assert not tables_equal(
        cust, cust.filter(F.col("c_custkey") != 3), decimals={"c_acctbal": 2}
    )
    # one mangled value
    mangled = cust.withColumn(
        "c_name",
        F.when(F.col("c_custkey") == 5, F.lit("oops")).otherwise(F.col("c_name")),
    )
    assert not tables_equal(cust, mangled, decimals={"c_acctbal": 2})
    # duplicated pair (xor-invisible, caught by count+sum)
    dup = cust.unionAll(cust.limit(2))
    assert not tables_equal(cust, dup, decimals={"c_acctbal": 2})


def test_kmeans_fit_matches_numpy_lloyds(spark):
    """Full Lloyd's loop vs a numpy reference with identical seeding,
    tie-break, and empty-cluster rules — plus convergence on clearly
    separated clusters and run-to-run determinism."""
    import numpy as np

    rng = np.random.RandomState(3)
    blobs = np.vstack(
        [rng.randn(30, 4) * 0.1 + c for c in ([0, 0, 0, 0], [5, 5, 5, 5], [-5, 5, -5, 5])]
    )
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(blobs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = S.kmeans_fit(df, "embedding", "vec_id", k=3, iters=6)
    got2 = S.kmeans_fit(df, "embedding", "vec_id", k=3, iters=6)
    assert got == got2  # deterministic

    # numpy reference with the same deterministic rules
    cents = blobs[:3].copy()
    for _ in range(6):
        d2 = np.round(((blobs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 6)
        assign = d2.argmin(axis=1)  # argmin takes lowest index on ties
        for j in range(3):
            if (assign == j).any():
                cents[j] = blobs[assign == j].mean(axis=0)
    assert np.allclose(np.array(got), cents, atol=1e-9)

    # converged centroids sit on the true blob means
    true_means = np.array(
        [blobs[i * 30 : (i + 1) * 30].mean(axis=0) for i in range(3)]
    )
    best = np.array(sorted(got, key=lambda c: c[0]))
    ref = np.array(sorted(true_means.tolist(), key=lambda c: c[0]))
    assert np.allclose(best, ref, atol=1e-6)


def test_top_k_per_group_salted_equals_plain_window(spark):
    """Salted two-phase top-k == naive window, ranks included, on a
    skewed distribution (one group holds 90% of rows) and for k larger
    than some groups (short groups keep all rows)."""
    from a2b_spark.operators.topk import top_k_per_group

    rows = [("hot", i, i % 977) for i in range(9000)] + [
        ("cold", i, i) for i in range(2)
    ]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    order = [F.desc("v"), F.asc("id")]
    a = sorted(
        map(tuple, top_k_per_group(df, ["g"], order, k=5, salts=32).collect())
    )
    b = sorted(
        map(tuple, top_k_per_group(df, ["g"], order, k=5, salts=1).collect())
    )
    assert a == b
    assert sum(1 for r in a if r[0] == "cold") == 2  # short group keeps all
    with pytest.raises(ValueError):
        top_k_per_group(df, ["g"], order, k=0)


def test_dedup_keep_best_null_scores_lose(spark):
    """A null-score cluster member must never be the survivor — the
    min_by rewrite has to preserve the old DESC NULLS LAST behavior
    (round-5 review finding)."""
    text = "p q r s t u v w x y z " * 6
    df = spark.createDataFrame(
        [(1, text, None), (2, text + "extra", 10), (3, text + "more stuff", 5)],
        "doc_id long, text string, score int",
    )
    rows = D.dedup_keep_best(
        df, "text", "doc_id", score_col="score", threshold=0.7
    ).collect()
    # the three docs are mutual near-dups: one cluster, and the
    # null-score doc 1 must lose to the best-scored doc 2
    assert {r.doc_id for r in rows} == {2}, rows


def test_multimodal_null_rows_dropped(spark):
    """NULL payload/id rows must be skipped (failed fetches), not
    abort the job with bytes(None) inside the kernel (round-5 review)."""
    from a2b_spark.operators import multimodal as MM

    df = spark.createDataFrame(
        [(1, bytearray(b"ok-payload")), (2, None), (None, bytearray(b"x"))],
        "media_id long, payload binary",
    )
    assert {r.media_id for r in MM.decode_media(df, "payload", "media_id").collect()} == {1}
    assert {r.media_id for r in MM.resize_media(df, "payload", "media_id", 8, 8).collect()} == {1}
    assert {r.media_id for r in MM.sample_frames(df, "payload", "media_id").collect()} == {1}


def test_asof_join_string_and_timestamp_tiebreaks(spark):
    """Tiebreaks keep their own type: a string tiebreak must order
    lexically (a cast to long raised under ANSI), and sub-second
    timestamp tiebreaks must not truncate to whole seconds
    (round-5 review)."""
    from a2b_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100)], "k int, ts long")
    right = spark.createDataFrame(
        [(1, 100, "v1", "a"), (1, 100, "v9", "b")], "k int, ts long, ver string, v string"
    )
    out = asof_join(
        left, right, on=["k"], ts_col="ts", right_cols=["v"], right_tiebreak="ver"
    ).collect()
    assert len(out) == 1 and out[0]["v"] == "b"  # 'v9' > 'v1'

    right2 = spark.createDataFrame(
        [(1, 100, 0.25, "early"), (1, 100, 0.75, "late")],
        "k int, ts long, sub double, v string",
    )
    out2 = asof_join(
        left, right2, on=["k"], ts_col="ts", right_cols=["v"], right_tiebreak="sub"
    ).collect()
    assert out2[0]["v"] == "late"  # 0.75 > 0.25 (a long cast made both 0)


def test_top_k_per_group_map_column_safe(spark):
    """The salted pre-pass must not hash row columns: a MapType column
    used to fail analysis under the default salts (round-5 review)."""
    from a2b_spark.operators.topk import top_k_per_group

    df = spark.createDataFrame(
        [("g", i, {"a": i}) for i in range(20)], "g string, v long, m map<string,int>"
    )
    out = top_k_per_group(df, ["g"], [F.desc("v"), F.asc("v")], k=3)
    assert sorted(r.v for r in out.collect()) == [17, 18, 19]


def test_salted_join_rejects_right_preserving_joins(spark):
    from a2b_spark.operators.skew import salted_join

    l = spark.createDataFrame([(1, "a")], "k int, lv string")
    r = spark.createDataFrame([(1, "b"), (2, "c")], "k int, rv string")
    # inner works and does not duplicate
    assert salted_join(l, r, ["k"]).count() == 1
    with pytest.raises(ValueError, match="unmatched right rows"):
        salted_join(l, r, ["k"], how="full")
    with pytest.raises(ValueError, match="unmatched right rows"):
        salted_join(l, r, ["k"], how="right")


def test_edit_distance_pairs_matches_bruteforce(spark):
    """Pigeonhole recall: every equal-length pair at levenshtein <= 1
    must survive the halves blocking — substitutions in the FIRST and
    SECOND half, exact dups, odd/even lengths, and non-matches."""
    from pyspark.sql import functions as F

    from a2b_spark.operators.editjoin import edit_distance_pairs

    vals = [
        (1, "abcdef"), (2, "xbcdef"),   # sub in first half
        (3, "abcdxf"),                  # sub in second half
        (4, "abcdef"),                  # exact dup of 1
        (5, "abcde"),                   # shorter (never matches 1-4)
        (6, "abcdx"),                   # d=1 vs 5, odd length
        (7, "zzzzzz"),                  # no match
        (8, "qrs"),  (9, "qts"),        # tiny strings, sub at middle
        (10, ""),    (11, ""),          # empty strings (exact pair)
    ]
    df = spark.createDataFrame(vals, "id long, v string")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit_distance_pairs(df, "v", "id", 1, same_length=True).collect()
    }
    import itertools

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (i, j, lev(a, b))
        for (i, a), (j, b) in itertools.combinations(vals, 2)
        if len(a) == len(b) and lev(a, b) <= 1
    }
    assert got == want, (got ^ want)


def test_edit_distance_pairs_general_k_matches_bruteforce(spark):
    """General-k PassJoin (round-10): TRUE edit distance at k=1..3 —
    the multi-match-aware substring windows must lose no pair and the
    thresholded verify admit no extra, across length changes, empty
    strings, and strings shorter than k+1 (zero-length segments).
    Dense corpus: binary alphabet, lengths 0..10, exhaustive brute
    force as the spec."""
    import itertools
    import random

    from a2b_spark.operators.editjoin import edit_distance_pairs

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(7)
    vals = [
        (i, "".join(rng.choice("ab") for _ in range(rng.randint(0, 10))))
        for i in range(120)
    ]
    df = spark.createDataFrame(vals, "id long, v string")
    for k in (1, 2, 3):
        got = {
            (r.id_a, r.id_b, r.dist)
            for r in edit_distance_pairs(df, "v", "id", k).collect()
        }
        want = {
            (i, j, lev(a, b))
            for (i, a), (j, b) in itertools.combinations(vals, 2)
            if lev(a, b) <= k
        }
        assert got == want, (k, len(got - want), len(want - got))
    # same_length restriction composes with the general scheme
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in edit_distance_pairs(df, "v", "id", 2, same_length=True).collect()
    }
    want = {
        (i, j, lev(a, b))
        for (i, a), (j, b) in itertools.combinations(vals, 2)
        if len(a) == len(b) and lev(a, b) <= 2
    }
    assert got == want
    # beyond the supported window: loud, not silent degradation
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="max_dist"):
        edit_distance_pairs(df, "v", "id", 4)


def test_table_profile_counts_and_canon(spark):
    """Profiler: null counts, exact distincts, canonical min/max —
    including a fully-null column and a double column's fixed-scale
    decimal rendering."""
    from a2b_spark.operators.profile import table_profile

    df = spark.createDataFrame(
        [(1, "b", 2.5, None), (2, "a", None, None), (2, "c", 10000.0, None)],
        "k long, s string, x double, z string",
    )
    rows = {r.col_name: r for r in table_profile(df).collect()}
    assert rows["k"].null_count == 0 and rows["k"].n_distinct == 2
    assert rows["k"].min_s == "1" and rows["k"].max_s == "2"
    assert rows["s"].min_s == "a" and rows["s"].max_s == "c"
    assert rows["x"].null_count == 1 and rows["x"].n_distinct == 2
    # doubles render through DECIMAL(28,4): never scientific notation
    assert rows["x"].min_s == "2.5000" and rows["x"].max_s == "10000.0000"
    assert rows["z"].null_count == 3 and rows["z"].n_distinct == 0
    assert rows["z"].min_s is None and rows["z"].max_s is None


def test_table_profile_single_scan(spark):
    """The profile of N columns must stay ONE scan (a single wide
    aggregate), not N per-column scans."""
    from a2b_spark.operators.profile import table_profile

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("m"), F.col("id").cast("string").alias("s")
    )
    plan = table_profile(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("range (") == 1


def test_semantic_dedup_subset_of_exact_pairs(embs):
    """Within-cluster semantic pairs are exactly the exact all-pairs
    cosine pairs whose endpoints share a k-means cluster — no pair
    invented, none lost inside a cluster."""
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in D.embedding_dup_pairs_exact(
            embs, "embedding", "vec_id", threshold=0.45
        ).collect()
    }
    assign = {
        r.vec_id: r.cluster_id
        for r in S.kmeans_assign(embs, "embedding", "vec_id", k=8).collect()
    }
    sem = {
        (r.id_a, r.id_b): (r.cluster_id, r.cos)
        for r in D.semantic_dedup_pairs(
            embs, "embedding", "vec_id", k=8, threshold=0.45
        ).collect()
    }
    expected = {
        p for p in exact if assign[p[0]] == assign[p[1]]
    }
    assert set(sem) == expected
    for (ia, ib), (cid, cos) in sem.items():
        assert assign[ia] == assign[ib] == cid
        assert cos == pytest.approx(exact[(ia, ib)], abs=2e-6)


def test_table_profile_odd_column_names(spark):
    """Names with hyphens/spaces/quotes must profile fine — the
    unpivot never routes names through the SQL parser (round-6
    review: an f-string stack() expr broke on any non-bare name)."""
    from a2b_spark.operators.profile import table_profile

    df = spark.createDataFrame([(1, "x")], ["a-b", "it's a col"])
    rows = {r.col_name: r for r in table_profile(df).collect()}
    assert rows["a-b"].min_s == "1"
    assert rows["it's a col"].n_distinct == 1


def _wedge_counts(adj):
    """(u, v) -> common-neighbor count over an (x, y) adjacency."""
    from pyspark.sql import functions as F

    return {
        (r.u, r.v): r.common
        for r in (
            adj.alias("a1")
            .join(adj.alias("a2"), "x")
            .filter(F.col("a1.y") < F.col("a2.y"))
            .groupBy(F.col("a1.y").alias("u"), F.col("a2.y").alias("v"))
            .agg(F.count(F.lit(1)).alias("common"))
        ).collect()
    }


def test_cap_adjacency_equivalence(spark, sf_dir):
    """On a graph whose max degree is below the cap (the co-supply
    graph at every test SF — max deg 58 at sf0.1), the capped wedge
    counts must be BIT-IDENTICAL to the uncapped ones: the q120 hub
    cap is a no-op until a hub actually exceeds it."""
    from pyspark.sql import functions as F

    from a2b_spark.operators.graph import cap_adjacency
    from a2b_spark.queries.reports import _cosupply_edges

    e = _cosupply_edges(spark, sf_dir)
    adj = e.select(F.col("u").alias("x"), F.col("v").alias("y")).unionAll(
        e.select(F.col("v").alias("x"), F.col("u").alias("y"))
    )
    max_deg = adj.groupBy("x").count().agg(F.max("count")).collect()[0][0]
    assert max_deg < 1024
    assert _wedge_counts(cap_adjacency(adj, cap=1024)) == _wedge_counts(adj)


def test_cap_adjacency_bounds_hub(spark):
    """A synthetic star hub (deg 500) capped at 16: per-center output
    is <= cap, deterministic across two runs, and spoke-only wedges
    survive exactly."""
    from a2b_spark.operators.graph import cap_adjacency

    hub = [("h", f"s{i}") for i in range(500)]
    # a small exact clique among low-degree vertices, untouched by the cap
    clique = [(a, b) for a in ("p", "q") for b in ("r", "t")]
    adj = spark.createDataFrame(hub + clique, ["x", "y"])
    capped1 = sorted(map(tuple, cap_adjacency(adj, cap=16).collect()))
    capped2 = sorted(map(tuple, cap_adjacency(adj, cap=16).collect()))
    assert capped1 == capped2, "md5-ordered cap must be run-deterministic"
    by_center = {}
    for x, y in capped1:
        by_center.setdefault(x, []).append(y)
    assert len(by_center["h"]) == 16
    assert sorted(by_center["p"]) == ["r", "t"]
    assert sorted(by_center["q"]) == ["r", "t"]
    # low-degree centers' wedges are exact even while the hub is capped
    w = _wedge_counts(cap_adjacency(adj, cap=16))
    assert w[("r", "t")] == 2  # via p and via q, both uncapped


def test_orient_by_degree_triangle_invariance(spark):
    """Triangle counts are orientation-invariant: degree-ordered
    orientation (the hub-safe plan) must count exactly what
    id-orientation counts, on a hub-heavy graph where the two
    orientations differ a lot. Out-degree must be bounded."""
    from pyspark.sql import functions as F

    from a2b_spark.operators.graph import orient_by_degree

    # hub 0 connected to everyone (id-orientation would give the hub
    # out-degree n); ring + chords add triangles through the hub
    n = 40
    und = [(0, i) for i in range(1, n)]
    und += [(i, i + 1) for i in range(1, n - 1)]
    und += [(1, n - 1)]
    e_id = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in und], ["u", "v"]
    ).distinct()

    def tri_count(e):
        return (
            e.alias("e1")
            .join(e.alias("e2"), F.col("e1.v") == F.col("e2.u"))
            .join(
                e.alias("e3"),
                (F.col("e1.u") == F.col("e3.u")) & (F.col("e2.v") == F.col("e3.v")),
            )
            .count()
        )

    e_deg = orient_by_degree(e_id)
    # every hub-adjacent ring edge forms a triangle with the hub: n-1 of
    # them (ring of n-1 nodes), plus no others
    assert tri_count(e_id) == n - 1
    assert tri_count(e_deg) == n - 1
    # degree orientation points ring nodes INTO the hub: hub out-deg 0
    out_deg = {r.u: r["count"] for r in e_deg.groupBy("u").count().collect()}
    assert out_deg.get(0, 0) == 0


def test_kmeans_assign_large_k_path_matches_expression_path(spark, sf_dir):
    """k=80 forces the numpy matmul path; verify its (cluster_id,
    dist2) against an independent exact recomputation (python
    math.fsum over the same seeds) for a sample of the real embedding
    corpus — the argmin and the rounded distance must agree with the
    small-k expression path's semantics."""
    import math

    from a2b_spark.operators.similarity import kmeans_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k = 80
    got = {
        r[0]: (r[1], r[2])
        for r in kmeans_assign(emb, "embedding", "vec_id", k=k).collect()
    }
    seeds = [
        [float(x) for x in r.embedding]
        for r in emb.filter("embedding IS NOT NULL").orderBy("vec_id").limit(k).collect()
    ]
    rows = emb.filter("embedding IS NOT NULL").collect()
    for r in rows[:50]:
        v = [float(x) for x in r.embedding]
        best = None
        for cid, c in enumerate(seeds):
            d = round(math.fsum((x - y) * (x - y) for x, y in zip(v, c)), 6)
            if best is None or (d, cid) < best:
                best = (d, cid)
        g_cid, g_d = got[r.vec_id]
        assert g_cid == best[1], (r.vec_id, got[r.vec_id], best)
        assert abs(g_d - best[0]) < 2e-6


def test_srp_plan_scales_buckets_and_preserves_oracle_config():
    from a2b_spark.operators.dedup import _srp_plan

    # every oracle SF (<= 2000 vectors) keeps the historical plan
    assert _srp_plan(50, 0.45) == (3, 36)
    assert _srp_plan(2000, 0.45) == (3, 36)
    # past that, bits grow with log(n) (~250-vector buckets) and
    # tables re-derive from the collision model
    b10, t10 = _srp_plan(20_000, 0.45)
    b100, t100 = _srp_plan(200_000, 0.45)
    assert b10 == 6 and b100 == 9
    assert t10 > 36 and t100 > t10  # recall budget holds
    # per-bucket tile work (n/2^b)^2 * 2^b * T must grow sub-quadratically
    def work(n):
        b, t = _srp_plan(n, 0.45)
        return t * n * n / (2 ** b)
    assert work(200_000) / work(20_000) < 50  # << the 100x of fixed buckets


def test_srp_partial_override_rederives_tables_for_pinned_bits():
    from a2b_spark.operators.dedup import _srp_plan, _srp_tables

    # a caller pinning n_bits must get a table count derived for THAT
    # width: at 8 bits the collision model needs far more tables than
    # the 3-bit auto plan's count to hold the 1e-2 miss budget
    import math

    for bits in (3, 6, 8, 12):
        t = _srp_tables(bits, 0.45)
        p1 = (1.0 - math.acos(0.45) / math.pi) ** bits
        miss = (1.0 - p1) ** t
        assert miss <= 0.01 or t == 256, (bits, t, miss)
    # monotone: narrower collisions need more tables
    assert _srp_tables(8, 0.45) > _srp_tables(3, 0.45)
    # the auto plan's own tables agree with the helper at its width
    b, t = _srp_plan(200_000, 0.45)
    assert t == _srp_tables(b, 0.45)


def test_nearest_in_set_exact_and_deterministic(spark):
    from a2b_spark.operators.similarity import nearest_in_set

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.6, 0.8, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    refs = [
        (10, [1.0, 0.0, 0.0]),
        (11, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    ref = spark.createDataFrame(refs, ["vec_id", "embedding"])
    got = {
        r.vec_id: (r.ref_id, r.cos)
        for r in nearest_in_set(df, ref, "embedding", "vec_id").collect()
    }
    assert got[1] == (10, 1.0)
    assert got[2] == (11, 1.0)
    assert got[3] == (11, 0.8)  # 0.8 vs ref 11 beats 0.6 vs ref 10
    assert got[4] == (11, 0.0)  # tie 0.0 vs -1.0? no: ref10 cos=-1, ref11 cos=0


def test_nearest_in_set_tie_breaks_to_smallest_ref_id(spark):
    from a2b_spark.operators.similarity import nearest_in_set

    df = spark.createDataFrame([(1, [1.0, 1.0])], ["vec_id", "embedding"])
    # both refs at identical rounded cosine -> smallest ref id wins
    ref = spark.createDataFrame(
        [(21, [1.0, 1.0]), (20, [2.0, 2.0])], ["vec_id", "embedding"]
    )
    [r] = nearest_in_set(df, ref, "embedding", "vec_id").collect()
    assert r.ref_id == 20 and r.cos == 1.0


def test_nearest_in_set_exclude_self_and_guards(spark):
    import pytest as _pytest

    from a2b_spark.operators.similarity import nearest_in_set

    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    # ref == corpus: without exclude_self every row matches itself
    got = {
        r.vec_id: r.ref_id
        for r in nearest_in_set(e, e, "embedding", "vec_id").collect()
    }
    assert got == {1: 1, 2: 2, 3: 3}
    got2 = {
        r.vec_id: r.ref_id
        for r in nearest_in_set(
            e, e, "embedding", "vec_id", exclude_self=True
        ).collect()
    }
    assert got2[1] == 2 and got2[2] == 1
    # single-row ref fully masked by exclude_self -> row drops out
    one = e.filter("vec_id = 1")
    only_self = nearest_in_set(one, one, "embedding", "vec_id", exclude_self=True)
    assert only_self.count() == 0
    with _pytest.raises(ValueError, match="empty reference"):
        nearest_in_set(e, e.filter("vec_id < 0"), "embedding", "vec_id")
    with _pytest.raises(ValueError, match="max_ref_rows"):
        nearest_in_set(e, e, "embedding", "vec_id", max_ref_rows=2)


def test_nearest_in_set_zero_norm_refs_dropped_not_poisoning(spark):
    """REGRESSION: one zero-norm reference used to NaN-poison argmax
    for EVERY corpus row (np.argmax propagates NaN), silently emptying
    the output — the streaming decontamination filter then let every
    contaminated doc through."""
    from a2b_spark.operators.similarity import nearest_in_set

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    ref = spark.createDataFrame(
        [(10, [0.0, 0.0]), (11, [1.0, 0.0])],  # first ref has zero norm
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: (r.ref_id, r.cos) for r in
           nearest_in_set(df, ref, "embedding", "vec_id").collect()}
    assert got == {1: (11, 1.0), 2: (11, 0.0)}
    import pytest as _pytest

    all_zero = spark.createDataFrame(
        [(10, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="zero norm"):
        nearest_in_set(df, all_zero, "embedding", "vec_id")


def test_nearest_in_set_ref_blocking_preserves_results(spark, sf_dir):
    """The blocked reference scan (memory cap) must be invisible:
    force tiny blocks by scoring many refs against few rows and
    compare with the brute expectation on real embeddings."""
    import numpy as np

    from a2b_spark.operators.similarity import nearest_in_set

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = e.filter("vec_id < 40")
    refs = e.filter("vec_id >= 40")
    got = {r.vec_id: (r.ref_id, r.cos) for r in
           nearest_in_set(corpus, refs, "embedding", "vec_id").collect()}
    rows = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in e.filter("embedding is not null").collect()}
    for vid, (rid, cos) in got.items():
        v = rows[vid]
        best = None
        for r_id in sorted(k for k in rows if k >= 40):
            r = rows[r_id]
            c = round(float(v @ r / (np.sqrt(v @ v) * np.sqrt(r @ r))), 6)
            if best is None or c > best[1]:
                best = (r_id, c)
        assert (rid, cos) == best, vid


def test_kmeans_assign_large_k_odd_column_name(spark):
    """REGRESSION: the >64-centroid path built its schema via DDL
    f-string — an id column with a space crashed it while the small-k
    expression path accepted it."""
    from a2b_spark.operators.similarity import kmeans_assign

    rows = [(i, [float(i % 7), float(i % 11)]) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc id", "embedding"])
    out = kmeans_assign(df, "embedding", "doc id", k=70)
    assert out.columns[0] == "doc id"
    assert out.count() == 200


def test_orient_by_degree_drops_self_loops(spark):
    """REGRESSION: a self-loop survived orientation and fabricated one
    phantom triangle per out-neighbor in the e1-e2-e3 chain."""
    from a2b_spark.operators.graph import orient_by_degree

    edges = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 3), (1, 3)], "u long, v long"
    )
    out = {(r.u, r.v) for r in orient_by_degree(edges).collect()}
    assert (1, 1) not in out
    assert len(out) == 3


def test_edit_distance_pairs_approx_recall_contract(spark):
    """k>3 scale path (round-11): q-gram minhash blocking + thresholded
    verify. Contract: ZERO false positives with exact dist values
    (every candidate is levenshtein-verified), and recall >= 0.95 on a
    realistic key corpus (deterministic: seed-fixed hashing makes the
    output a pure function of the data; the expected behavior at this
    config is exhaustive recall — the floor only allows for the
    documented short-string dilution)."""
    import itertools
    import random

    from a2b_spark.operators.editjoin import edit_distance_pairs_approx

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(11)
    words = ["alpha", "bravo", "chiffon", "midnight", "goldenrod",
             "lavender", "spring", "metallic", "cornsilk", "rosy"]

    def key():
        return " ".join(rng.choice(words) for _ in range(rng.randint(3, 6)))

    def perturb(s, edits):
        chars = list(s)
        for _ in range(edits):
            op = rng.choice("sid")
            if op == "s" and chars:
                chars[rng.randrange(len(chars))] = rng.choice("xyzq")
            elif op == "i":
                chars.insert(rng.randrange(len(chars) + 1), rng.choice("xyzq"))
            elif op == "d" and chars:
                del chars[rng.randrange(len(chars))]
        return "".join(chars)

    vals, nid = [], 0
    for _ in range(40):
        s = key()
        vals.append((nid, s)); nid += 1
        for e in (1, rng.randint(2, 4), rng.randint(4, 5)):
            vals.append((nid, perturb(s, e))); nid += 1
    df = spark.createDataFrame(vals, "id long, v string")

    for k in (4, 5):
        want = {
            (i, j): lev(a, b)
            for (i, a), (j, b) in itertools.combinations(vals, 2)
            if lev(a, b) <= k
        }
        got = {
            (r.id_a, r.id_b): r.dist
            for r in edit_distance_pairs_approx(
                df, "v", "id", max_dist=k
            ).collect()
        }
        # precision: no extra pair, every dist exact
        for pair, d in got.items():
            assert pair in want and want[pair] == d, (k, pair, d)
        # recall floor
        recall = len(got) / len(want)
        assert recall >= 0.95, (k, recall, len(want) - len(got))


def test_edit_distance_pairs_approx_edges(spark):
    from a2b_spark.operators.editjoin import edit_distance_pairs_approx

    df = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "abcdxfgh"), (3, None), (4, "a")],
        "id long, v string",
    )
    out = {(r.id_a, r.id_b, r.dist)
           for r in edit_distance_pairs_approx(df, "v", "id", 4).collect()}
    # null never pairs; 1-char string has no 2-grams (documented floor)
    assert out == {(1, 2, 1)}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="max_dist"):
        edit_distance_pairs_approx(df, "v", "id", 0)
    with _pytest.raises(ValueError, match="bands"):
        edit_distance_pairs_approx(df, "v", "id", 4, bands=7)


def test_frequency_cap_contract(spark):
    """Per-domain cap (rangejoin.frequency_cap): at most cap rows per
    group, deterministic across reruns AND repartitionings, 1-based
    contiguous ranks, small groups pass through whole, and the kept
    set is salt-sensitive (a different salt draws a different
    subset)."""
    from a2b_spark.operators.rangejoin import frequency_cap

    rows = [(i, "hot" if i < 900 else f"c{i % 7}") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, dom string")

    def run(d, salt="s1"):
        out = frequency_cap(d, ["dom"], "doc_id", 5, salt=salt).collect()
        return {(r.dom, r.rk): r.doc_id for r in out}

    a = run(df)
    b = run(df.repartition(13, "doc_id"))
    assert a == b  # partitioning-invariant
    per = {}
    for (dom, rk), _ in a.items():
        per.setdefault(dom, []).append(rk)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per.values())
    assert len(per["hot"]) == 5  # capped
    # groups under the cap keep everything (c0..c6 hold ~14 docs... cap 5)
    assert all(len(v) == 5 for v in per.values())
    small = spark.createDataFrame([(1, "x"), (2, "x")], "doc_id long, dom string")
    assert frequency_cap(small, ["dom"], "doc_id", 5).count() == 2
    assert run(df, salt="s2") != a  # the draw is salted
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cap"):
        frequency_cap(df, ["dom"], "doc_id", 0)


def test_frequency_cap_null_id_raises(spark):
    """NULL ids would sort NULLS FIRST in Spark but NULLS LAST in
    DuckDB — the draw must fail loudly at execution instead (the
    shuffle_shards NULL-key contract)."""
    from a2b_spark.operators.rangejoin import frequency_cap

    df = spark.createDataFrame(
        [(1, "a"), (None, "a")], "doc_id long, dom string"
    )
    with pytest.raises(Exception, match="NULL value in id column"):
        frequency_cap(df, ["dom"], "doc_id", 5).collect()


def test_boilerplate_line_removal(spark):
    """C4-style line dedup (operators/lines.py): lines in >= min_docs
    DISTINCT docs vanish from every doc, within-doc repeats don't
    count toward the threshold, blank lines are structure (preserved,
    never boilerplate), order and separator survive reassembly, and
    all-boilerplate docs come back empty rather than disappearing."""
    from a2b_spark.operators.lines import (
        boilerplate_lines,
        remove_boilerplate_lines,
    )

    docs = spark.createDataFrame(
        [
            (1, "COOKIE BANNER\nreal content one\n\nunique line A"),
            (2, "COOKIE BANNER\nreal content two"),
            (3, "self repeated\nself repeated\nunique line B"),
            (4, "COOKIE BANNER"),
            (5, ""),
            (6, None),
        ],
        "doc_id long, text string",
    )
    bp = {r.line: r.n_docs for r in
          boilerplate_lines(docs, "text", "doc_id", min_docs=2).collect()}
    # within-doc repetition (doc 3) does not reach the cross-doc bar
    assert bp == {"COOKIE BANNER": 3}

    out = {r.doc_id: r.text for r in
           remove_boilerplate_lines(docs, "text", "doc_id", 2).collect()}
    assert out[1] == "real content one\n\nunique line A"  # blank kept
    assert out[2] == "real content two"
    assert out[3] == "self repeated\nself repeated\nunique line B"
    assert out[4] == ""  # all-boilerplate doc survives, empty
    assert out[5] == "" and out[6] == ""  # empty/NULL docs survive
    assert set(out) == {1, 2, 3, 4, 5, 6}

    with pytest.raises(ValueError, match="min_docs"):
        remove_boilerplate_lines(docs, "text", "doc_id", 1)


def test_strip_lines_broadcast_gate(spark):
    """The boilerplate set is corpus-derived and unbounded (C4
    min_docs=2 on a crawl), so the anti join's broadcast must be
    count-gated, and every strategy must agree byte-for-byte: auto
    under the gate hints broadcast, auto OVER the gate falls back to
    the shuffled anti join (no hint in the analyzed plan), force
    always hints (the streaming twin's frozen set), never leaves it
    to AQE. Also pins the digest-only counting path: (lh, n_docs)
    schema, wired through digest_col without the line string ever
    re-entering the plan."""
    from a2b_spark.operators.lines import (
        boilerplate_lines,
        remove_boilerplate_lines,
        strip_lines,
    )

    docs = spark.createDataFrame(
        [
            (1, "COOKIE BANNER\nreal content one\n\nunique line A"),
            (2, "COOKIE BANNER\nreal content two"),
            (3, "self repeated\nself repeated\nunique line B"),
            (4, "COOKIE BANNER"),
            (5, ""),
            (6, None),
        ],
        "doc_id long, text string",
    )
    bpd = boilerplate_lines(
        docs, "text", "doc_id", min_docs=2, representative=False
    )
    assert bpd.columns == ["lh", "n_docs"]

    outs = {}
    hinted = {}
    for mode, kw in [
        ("auto_bc", dict(broadcast="auto")),
        ("auto_shuffle", dict(broadcast="auto", broadcast_max_digests=0)),
        ("force", dict(broadcast="force")),
        ("never", dict(broadcast="never")),
    ]:
        out = strip_lines(
            docs, "text", "doc_id", bpd, digest_col="lh", **kw
        )
        outs[mode] = sorted((r.doc_id, r.text) for r in out.collect())
        hinted[mode] = (
            "ResolvedHint" in out._jdf.queryExecution().analyzed().toString()
        )
    assert hinted == {
        "auto_bc": True,      # 1 digest <= gate -> broadcast
        "auto_shuffle": False,  # gate=0 -> shuffled fallback engages
        "force": True,
        "never": False,
    }
    ref = outs["auto_bc"]
    assert all(v == ref for v in outs.values())
    # the composition rides the digest path and matches the string path
    assert (
        sorted(
            (r.doc_id, r.text)
            for r in remove_boilerplate_lines(docs, "text", "doc_id", 2)
            .collect()
        )
        == ref
    )

    with pytest.raises(ValueError, match="broadcast"):
        strip_lines(docs, "text", "doc_id", bpd, broadcast="maybe")
