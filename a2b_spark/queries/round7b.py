"""Round-7b registry tranche.

Two groups:

- **q130–q135**: the last classic TPC-H optimizer shapes missing from
  the registry — Q14 (conditional-aggregate ratio), Q12 (join +
  two-way CASE counts), Q10 (fact→dim rollup with deterministic
  top-20), Q9 (multi-dimension profit rollup), Q6 (pure scan-agg with
  every predicate pushed to the scan), Q13 (LEFT-join count histogram
  including zero-order customers). The testdata has no partsupp /
  shipmode / comment columns, so documented stand-ins keep the
  join/optimizer shape identical: p_retailprice·qty·0.5 for supply
  cost, l_returnflag for ship mode, o_orderpriority='5-LOW' for the
  comment filter.
- **q136–q139**: LLM-pipeline curation operators — k-means cluster
  LABEL purity (the cluster-quality companion of q98's geometry
  profile), embedding-space benchmark decontamination via the new
  ``nearest_in_set`` broadcast-reference kernel (eval-leakage
  screening, Lee et al. 2022 §5), per-language Zipf slope by exact
  least squares over (ln rank, ln freq) of the top-200 terms (corpus
  naturalness diagnostic), and a Gopher-style rule report (Rae et
  al. 2021, Table A1 reduced to the integer-exact rules): per-source
  pass rates for token count, mean word length, stopword presence,
  and distinct-token ratio.

Float discipline as everywhere: DECIMAL accumulation, one final
DOUBLE cast, division-free predicates (4·nt ≤ sl, val·2000 > tot
style), ln() only on exact integers rounded to 7 before entering any
exact sum, and products kept under DECIMAL precision 38 by explicit
narrowing casts (the q128 precision-loss lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from a2b_spark.queries.relational import _t, dsum


# --------------------------------------------------------------- Q130
def q130_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotional revenue share per ship year — a
    conditional aggregate against its own total. Both sums accumulate
    in DECIMAL; the share is 100·(promo/total) with exactly one IEEE
    division and one multiply of the exact sums, identical in both
    engines. One lineitem scan + broadcast part join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    zero = F.lit(0).cast("decimal(18,6)")
    j = li.join(F.broadcast(p.select("p_partkey", "p_type")),
                li["l_partkey"] == p["p_partkey"])
    return (
        j.groupBy(F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).alias(
                "__promo"
            ),
            F.sum(rev).alias("__tot"),
        )
        .select(
            "ship_year",
            (
                F.lit(100.0)
                * (F.col("__promo").cast("double") / F.col("__tot").cast("double"))
            ).alias("promo_share"),
            F.col("__tot").cast("double").alias("total_revenue"),
        )
        .orderBy("ship_year")
    )


O_Q130 = """
SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS ship_year,
       100.0 * (CAST(SUM(CASE WHEN p_type = 'PROMO'
                   THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                   ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                       AS DOUBLE)) AS promo_share,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
         AS total_revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------- Q131
def q131_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per ship mode (l_returnflag standing in — the
    testdata has no l_shipmode), how many LATE lines (shipped >60 days
    after the order date) belong to high- vs low-priority orders —
    the two-way CASE count over a fact-fact join. Exact integer
    counts; the date cut is timestamp arithmetic, identical in both
    engines."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy(F.col("l_returnflag").alias("ship_mode"))
        .agg(
            # when/otherwise, not boolean casts: a NULL priority makes
            # `hi` NULL — sum(NULL.cast) silently skips the row while
            # the oracle's CASE ELSE counts it (null-parity rule)
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("ship_mode")
    )


O_Q131 = """
SELECT l_returnflag AS ship_mode,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------- Q132
def q132_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: the top-20 customers by revenue LOST to
    returned items in a two-quarter window — fact scan filtered on
    both sides of the orders join, rolled up per customer with the
    nation dimension broadcast. Deterministic top-20 by (revenue
    DESC, custkey): the revenue is an exact DECIMAL sum cast once to
    double, so the sort is reproducible across engines."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    ret = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    ow = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    cn = c.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("c_nationkey"), "n_name")),
        "c_nationkey",
    ).select("c_custkey", "c_name", "n_name")
    return (
        ret.join(ow, ret["l_orderkey"] == ow["o_orderkey"])
        .groupBy("o_custkey")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 6))
        .join(cn, F.col("o_custkey") == cn["c_custkey"])
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


O_Q132 = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation   ON n_nationkey = c_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-07-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --------------------------------------------------------------- Q133
def q133_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and ship year for
    parts whose name contains 'red' — the multi-dimension rollup with
    a substring part filter. Supply cost stands in as
    0.5·p_retailprice·l_quantity (no partsupp table); revenue and
    cost accumulate as SEPARATE exact DECIMAL sums and subtract in
    DECIMAL before the single double cast. part/supplier/nation all
    broadcast; one lineitem scan."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    pf = p.filter(F.col("p_name").contains("red")).select(
        "p_partkey", "p_retailprice"
    )
    sn = s.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("s_nationkey"), "n_name")),
        "s_nationkey",
    ).select("s_suppkey", "n_name")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    cost = (F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")).cast(
        "decimal(18,6)"
    )
    return (
        li.join(F.broadcast(pf), li["l_partkey"] == pf["p_partkey"])
        .join(F.broadcast(sn), li["l_suppkey"] == sn["s_suppkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg((F.sum(rev) - F.sum(cost)).cast("double").alias("profit"))
        .orderBy("nation", F.desc("ship_year"))
    )


O_Q133 = """
SELECT n_name AS nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS ship_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            - SUM(CAST(0.5 * p_retailprice * l_quantity AS DECIMAL(18,6)))
            AS DOUBLE) AS profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, ship_year DESC
"""


# --------------------------------------------------------------- Q134
def q134_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the forecast-revenue-change scan — a single
    aggregate whose EVERY predicate (ship-date range, discount band,
    quantity cap) pushes to the parquet scan, no join at all. The
    classic pushdown probe: the date cut is a RANGE on the raw column
    (year(col)==1996 wraps the column in a function and does NOT reach
    PushedFilters — the whole point of this query is that all three
    predicates prune row groups by min/max)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.02, 0.06))
            & (F.col("l_quantity") < 24)
        ).agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue", 6))
    )


O_Q134 = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE)
         AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 24
"""


# --------------------------------------------------------------- Q135
def q135_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of orders-per-customer
    INCLUDING zero-order customers — a LEFT outer join (customer keeps
    every row) with a join-side filter (priority '5-LOW' standing in
    for the comment exclusion), counted per customer, then
    histogrammed. COUNT of a nullable key counts only matches, so the
    left join's null rows land in the c_count=0 bucket."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    of = o.filter(F.col("o_orderpriority") != "5-LOW").select(
        "o_orderkey", "o_custkey"
    )
    per_c = (
        c.select("c_custkey")
        .join(of, c["c_custkey"] == of["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_c.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


O_Q135 = """
WITH per_c AS (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN (
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_orderpriority <> '5-LOW') o
  ON c_custkey = o_custkey
  GROUP BY 1)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_c GROUP BY 1
ORDER BY custdist DESC, c_count DESC
"""


# --------------------------------------------------------------- Q136
def q136_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster LABEL purity over the deterministic k-means assignment
    (q89's operator): per cluster, the majority ground-truth label,
    its count, and purity = majority/size — the standard external
    cluster-quality check used to validate a semantic-dedup or
    topic-capping clustering before trusting it at scale.

    The majority pick compares (count DESC, label ASC) so ties are
    deterministic in both engines; purity is one IEEE division of
    exact integers. Window runs over k·|labels| rows (tiny)."""
    from a2b_spark.operators.similarity import kmeans_assign

    e = _t(spark, sf_dir, "embeddings")
    a = kmeans_assign(e, "embedding", "vec_id", k=8)
    lab = a.join(e.select("vec_id", "label"), "vec_id")
    counts = lab.groupBy("cluster_id", "label").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = W.partitionBy("cluster_id").orderBy(F.desc("cnt"), F.asc("label"))
    top = (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("label").alias("majority_label"),
            F.col("cnt").alias("majority_cnt"),
        )
    )
    totals = counts.groupBy("cluster_id").agg(F.sum("cnt").cast("long").alias("n"))
    return (
        top.join(totals, "cluster_id")
        .select(
            "cluster_id",
            "n",
            "majority_label",
            "majority_cnt",
            (F.col("majority_cnt").cast("double") / F.col("n")).alias("purity"),
        )
        .orderBy("cluster_id")
    )


O_Q136 = """
WITH v AS (SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS vec
           FROM embeddings WHERE embedding IS NOT NULL),
c AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, vec AS cvec
      FROM v ORDER BY vec_id LIMIT 8),
scored AS (
  SELECT v.vec_id, v.label, c.cid,
         round(list_sum([ (v.vec[i+1] - c.cvec[i+1]) * (v.vec[i+1] - c.cvec[i+1])
                          for i in range(0, len(v.vec))]), 6) AS d
  FROM v CROSS JOIN c),
assigned AS (
  SELECT vec_id, label, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
  FROM scored),
counts AS (
  SELECT cid, label, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM assigned WHERE rk = 1 GROUP BY 1, 2),
top AS (
  SELECT cid, label, cnt,
         ROW_NUMBER() OVER (PARTITION BY cid ORDER BY cnt DESC, label ASC) AS rk2
  FROM counts),
totals AS (SELECT cid, CAST(SUM(cnt) AS BIGINT) AS n FROM counts GROUP BY 1)
SELECT t.cid AS cluster_id, totals.n, t.label AS majority_label,
       t.cnt AS majority_cnt, CAST(t.cnt AS DOUBLE) / totals.n AS purity
FROM top t JOIN totals ON t.cid = totals.cid
WHERE t.rk2 = 1
ORDER BY cluster_id
"""


# --------------------------------------------------------------- Q137
def q137_benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination: every corpus vector's
    single nearest neighbor inside the benchmark set (vec_id % 50 = 0
    stands in for the eval suite), top-50 closest pairs — the ranked
    eval-leakage report a curation pipeline runs before training.

    Scale shape: the NEW nearest_in_set kernel — benchmark is a
    bounded driver pull broadcast everywhere, the corpus is scored in
    one Arrow-batched mapInPandas pass (no join, no shuffle beyond
    the final tiny top-k); at 100 TB the corpus never moves and the
    benchmark rides the closure. Cosines use the module's sequential
    fold, so the oracle's list_inner_product matches bit-for-bit.

    Note the %50 stand-in grows the reference with the corpus — a
    test-data artifact. The operator's contract is a FIXED benchmark
    (eval suites don't scale with training data), making it linear in
    corpus size; see tools/scale_trajectory.py for why it is measured
    that way and not through this query."""
    from a2b_spark.operators.similarity import nearest_in_set

    e = _t(spark, sf_dir, "embeddings")
    bench = e.filter(F.col("vec_id") % 50 == 0)
    corpus = e.filter(F.col("vec_id") % 50 != 0)
    nn = nearest_in_set(corpus, bench, "embedding", "vec_id")
    return (
        nn.select("vec_id", "ref_id", "cos")
        .orderBy(F.desc("cos"), "vec_id")
        .limit(50)
    )


O_Q137 = """
WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS vec
           FROM embeddings WHERE embedding IS NOT NULL),
b AS (SELECT * FROM v WHERE vec_id % 50 = 0),
c AS (SELECT * FROM v WHERE vec_id % 50 <> 0),
scored AS (
  SELECT c.vec_id, b.vec_id AS ref_id,
         round(list_inner_product(c.vec, b.vec)
               / (sqrt(list_inner_product(c.vec, c.vec))
                  * sqrt(list_inner_product(b.vec, b.vec))), 6) AS cos
  FROM c CROSS JOIN b),
best AS (
  SELECT vec_id, ref_id, cos,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, ref_id ASC) AS rk
  FROM scored)
SELECT vec_id, ref_id, cos FROM best WHERE rk = 1
ORDER BY cos DESC, vec_id
LIMIT 50
"""


# --------------------------------------------------------------- Q138
def q138_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf slope: least-squares fit of ln(freq) against
    ln(rank) over the top-200 terms — the corpus-naturalness
    diagnostic (natural language sits near −1; templated or synthetic
    text drifts). The regression is EXPLICIT sums, not regr_slope:
    x = round(ln rank, 7) and y = round(ln freq, 7) enter as
    DECIMAL(9,7) (ln of exact integers — the q128 contract), every
    Σ is exact, the cross-products are kept under precision 38 by
    narrowing casts (Σx·Σy at the naive widths is precision 39 —
    Spark would silently drop scale), and the slope is ONE IEEE
    division of the two exact cast-to-double moments.

    Scale shape: one token explode + (lang, token) count, then the
    SALTED two-phase top-200 per language (a language's vocabulary is
    corpus-scale at 100 TB — a plain per-lang row_number window would
    sort it inside one task; the partition-id pre-pass bounds the
    final window at salts·k rows per language), then a 5-row
    aggregate."""
    from a2b_spark.operators.topk import top_k_per_group

    d = _t(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(F.split(F.col("text"), " ")).alias("token"))
    freq = tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    ranked = (
        top_k_per_group(
            freq, ["lang"], [F.desc("freq"), F.asc("token")], 200, rank_col="rank"
        )
        .select(
            "lang",
            F.round(F.log(F.col("rank").cast("double")), 7)
            .cast("decimal(9,7)")
            .alias("x"),
            F.round(F.log(F.col("freq").cast("double")), 7)
            .cast("decimal(9,7)")
            .alias("y"),
        )
    )
    agg = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("decimal(4,0)").alias("n"),
        F.sum("x").cast("decimal(12,7)").alias("sx"),
        F.sum("y").cast("decimal(12,7)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(19,14)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(19,14)").alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    # final round(…, 9): the num/den decimals carry scale 14, whose
    # scaled integers exceed 2^53 — DuckDB's int128→double cast
    # double-rounds there (the q86 lesson), leaving a 1-ULP gap
    return agg.select(
        "lang",
        F.col("n").cast("long").alias("n_terms"),
        F.round(num / den, 9).alias("zipf_slope"),
    ).orderBy("lang")


O_Q138 = """
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
freq AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS freq
  FROM tok GROUP BY 1, 2),
ranked AS (
  SELECT lang,
         CAST(round(ln(CAST(rank AS DOUBLE)), 7) AS DECIMAL(9,7)) AS x,
         CAST(round(ln(CAST(freq AS DOUBLE)), 7) AS DECIMAL(9,7)) AS y
  FROM (SELECT lang, freq,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY freq DESC, token ASC) AS rank
        FROM freq)
  WHERE rank <= 200),
agg AS (
  -- wider casts than the Spark twin ON PURPOSE: DuckDB multiplies
  -- DECIMAL(<=18) pairs in int64 and OVERFLOWS at these magnitudes;
  -- 19 digits force the HUGEINT path, and 19+19 = 38 stays bindable.
  -- The VALUES are identical exact decimals either way.
  SELECT lang,
         CAST(COUNT(*) AS DECIMAL(4,0)) AS n,
         CAST(SUM(x) AS DECIMAL(19,7)) AS sx,
         CAST(SUM(y) AS DECIMAL(19,7)) AS sy,
         CAST(SUM(x * y) AS DECIMAL(19,14)) AS sxy,
         CAST(SUM(x * x) AS DECIMAL(19,14)) AS sxx
  FROM ranked GROUP BY 1)
SELECT lang, CAST(n AS BIGINT) AS n_terms,
       round(CAST(CAST(n * sxy AS DECIMAL(30,14)) - CAST(sx * sy AS DECIMAL(30,14))
            AS DOUBLE)
         / CAST(CAST(n * sxx AS DECIMAL(30,14)) - CAST(sx * sx AS DECIMAL(30,14))
                AS DOUBLE), 9) AS zipf_slope
FROM agg ORDER BY lang
"""


# --------------------------------------------------------------- Q139
def q139_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule report (Rae et al. 2021, Table A1,
    reduced to the integer-exact subset — regex-derived quantities are
    banned from oracle comparison): per source, how many documents
    pass each rule and the all-rules pass rate.

    - r1 token count in [20, 90]
    - r2 mean word length in [4, 5] — division-free: 4·nt ≤ sl ≤ 5·nt,
      where sl = n_chars − (nt − 1) is EXACTLY the summed token length
      under single-space split (an identity, not an assumption)
    - r3 ≥ 2 stopword hits ('the','and','of','to','a' — Gopher's
      must-contain-stopwords rule)
    - r4 distinct-token ratio ≥ 0.5 (repetition guard): 2·distinct ≥ nt

    All counts are exact integers; the single division is the final
    pass rate. One scan, one per-source aggregate."""
    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    nt = F.size(ws)
    sl = F.col("n_chars") - (nt - F.lit(1))
    stop = F.array(*[F.lit(s) for s in ("the", "and", "of", "to", "a")])
    sw = F.size(F.filter(ws, lambda t: F.array_contains(stop, t)))
    r1 = (nt >= 20) & (nt <= 90)
    r2 = (4 * nt <= sl) & (sl <= 5 * nt)
    r3 = sw >= 2
    r4 = 2 * F.size(F.array_distinct(ws)) >= nt
    flagged = d.select(
        "source",
        r1.cast("long").alias("r1"),
        r2.cast("long").alias("r2"),
        r3.cast("long").alias("r3"),
        r4.cast("long").alias("r4"),
        (r1 & r2 & r3 & r4).cast("long").alias("all_pass"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("r1").cast("long").alias("pass_word_count"),
            F.sum("r2").cast("long").alias("pass_mean_word_len"),
            F.sum("r3").cast("long").alias("pass_stopwords"),
            F.sum("r4").cast("long").alias("pass_distinct_ratio"),
            F.sum("all_pass").cast("long").alias("pass_all"),
        )
        .select(
            "source",
            "n_docs",
            "pass_word_count",
            "pass_mean_word_len",
            "pass_stopwords",
            "pass_distinct_ratio",
            "pass_all",
            (F.col("pass_all").cast("double") / F.col("n_docs")).alias("pass_rate"),
        )
        .orderBy("source")
    )


O_Q139 = """
WITH t AS (
  SELECT source, n_chars, string_split(text, ' ') AS ws,
         len(string_split(text, ' ')) AS nt,
         n_chars - (len(string_split(text, ' ')) - 1) AS sl
  FROM documents),
f AS (
  SELECT source,
    CASE WHEN nt >= 20 AND nt <= 90 THEN 1 ELSE 0 END AS r1,
    CASE WHEN 4 * nt <= sl AND sl <= 5 * nt THEN 1 ELSE 0 END AS r2,
    CASE WHEN len([w for w in ws
                   if list_contains(['the','and','of','to','a'], w)]) >= 2
         THEN 1 ELSE 0 END AS r3,
    CASE WHEN 2 * len(list_distinct(ws)) >= nt THEN 1 ELSE 0 END AS r4
  FROM t)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(r1) AS BIGINT) AS pass_word_count,
       CAST(SUM(r2) AS BIGINT) AS pass_mean_word_len,
       CAST(SUM(r3) AS BIGINT) AS pass_stopwords,
       CAST(SUM(r4) AS BIGINT) AS pass_distinct_ratio,
       CAST(SUM(r1 * r2 * r3 * r4) AS BIGINT) AS pass_all,
       CAST(SUM(r1 * r2 * r3 * r4) AS DOUBLE) / COUNT(*) AS pass_rate
FROM f GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------- Q140
def q140_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping statistics driven end-to-end: orders lands in a
    real VersionedParquetTable (hash layout), gets CLUSTERED on
    o_orderdate via compact(cluster_by=...), and a date-range report
    runs through read_pruned — the scan touches only the files whose
    _STATS ranges intersect 1996-H1, asserted here, and the oracle
    recomputes the same report straight from the source table, so the
    driver hash proves pruning lost no rows. The lakehouse
    data-skipping contract (Delta/Iceberg) as an oracle-checked query.
    """
    import os

    from a2b_spark.storage.table import VersionedParquetTable

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    from a2b_spark.queries.round7 import _scratch_path

    # uuid-suffixed: concurrent invocations (bench + oracle check) must
    # not rmtree the version dir another run's lazy plan still reads;
    # stale siblings from prior runs are swept instead (>2h old)
    path = _scratch_path(sf_dir, "q140")
    t = VersionedParquetTable(path, key_cols=["o_orderkey"])
    t.overwrite(o.repartition(8, "o_orderkey"))  # hash layout: no skipping
    vdir = os.path.join(path, t.current_version())
    nbytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(vdir)
        for f in fs
        if not f.startswith(("_", "."))
    )
    # ~6 clustered files at ANY test SF so the date range provably skips
    t.compact(spark, target_file_bytes=max(1, nbytes // 6), cluster_by=["o_orderdate"])
    lo, hi = "1996-01-01T00:00:00", "1996-06-30T23:59:59"
    kept, total = t.prune_files([("o_orderdate", "between", (lo, hi))])
    if not (0 < len(kept) < total):  # raise, not assert: -O must not void it
        raise ValueError(f"file skipping did not engage: kept {len(kept)}/{total}")
    pruned = t.read_pruned(spark, [("o_orderdate", "between", (lo, hi))])
    return (
        pruned.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dsum("o_totalprice", "total_price", 2),
        )
        .orderBy("o_orderstatus")
    )


O_Q140 = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                      AND TIMESTAMP '1996-06-30 23:59:59'
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------- Q141
def q141_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed walk (storage/cdf.table_changes) driven
    end-to-end over THREE real commits: v1 = orders, v2 = reprice
    keys %89, v3 = delete keys %97 and insert max-key-shifted clones
    of keys %101. The query returns per-(commit, change) key counts
    and ranges; the oracle recomputes each commit's expected churn
    straight from the source table, so the driver hash certifies both
    the per-pair diffs and the version-range walk/tagging."""
    from a2b_spark.queries.round7 import _scratch_path
    from a2b_spark.storage.cdf import table_changes
    from a2b_spark.storage.table import VersionedParquetTable

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    path = _scratch_path(sf_dir, "q141")
    t = VersionedParquetTable(path, key_cols=["o_orderkey"], retention=5)
    t.overwrite(o)
    v2 = o.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    t.overwrite(v2)
    shift = o.agg(F.max("o_orderkey")).first()[0] + 1
    v3 = v2.filter(F.col("o_orderkey") % 97 != 0).unionByName(
        v2.filter(F.col("o_orderkey") % 101 == 0).select(
            (F.col("o_orderkey") + F.lit(shift)).alias("o_orderkey"),
            "o_totalprice",
            "o_orderpriority",
        )
    )
    t.overwrite(v3)
    return (
        table_changes(t, spark)
        .groupBy("_commit_version", "change")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("_commit_version", "change")
    )


O_Q141 = """
WITH s AS (SELECT MAX(o_orderkey) + 1 AS shift FROM orders)
SELECT * FROM (
  SELECT CAST(2 AS INTEGER) AS _commit_version, 'update' AS change,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
  FROM orders WHERE o_orderkey % 89 = 0
  HAVING COUNT(*) > 0
  UNION ALL
  SELECT CAST(3 AS INTEGER), 'delete', CAST(COUNT(*) AS BIGINT),
         MIN(o_orderkey), MAX(o_orderkey)
  FROM orders WHERE o_orderkey % 97 = 0
  HAVING COUNT(*) > 0
  UNION ALL
  SELECT CAST(3 AS INTEGER), 'insert', CAST(COUNT(*) AS BIGINT),
         MIN(o_orderkey + (SELECT shift FROM s)),
         MAX(o_orderkey + (SELECT shift FROM s))
  FROM orders WHERE o_orderkey % 101 = 0
  HAVING COUNT(*) > 0
) ORDER BY _commit_version, change
"""


QUERIES = {
    "q130_promo_revenue": q130_promo_revenue,
    "q131_late_shipment_priority": q131_late_shipment_priority,
    "q132_returned_revenue": q132_returned_revenue,
    "q133_nation_profit": q133_nation_profit,
    "q134_forecast_revenue": q134_forecast_revenue,
    "q135_order_count_distribution": q135_order_count_distribution,
    "q136_cluster_purity": q136_cluster_purity,
    "q137_benchmark_decontam": q137_benchmark_decontam,
    "q138_zipf_slope": q138_zipf_slope,
    "q139_gopher_rules": q139_gopher_rules,
    "q140_stats_pruned_scan": q140_stats_pruned_scan,
    "q141_table_changes": q141_table_changes,
}

ORACLES = {
    "q130_promo_revenue": O_Q130,
    "q131_late_shipment_priority": O_Q131,
    "q132_returned_revenue": O_Q132,
    "q133_nation_profit": O_Q133,
    "q134_forecast_revenue": O_Q134,
    "q135_order_count_distribution": O_Q135,
    "q136_cluster_purity": O_Q136,
    "q137_benchmark_decontam": O_Q137,
    "q138_zipf_slope": O_Q138,
    "q139_gopher_rules": O_Q139,
    "q140_stats_pruned_scan": O_Q140,
    "q141_table_changes": O_Q141,
}


