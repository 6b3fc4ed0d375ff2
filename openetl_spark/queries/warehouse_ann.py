"""PQ codebooks/ANN, declarative QuerySpec queries, warehouse/event analytics, IVFxPQ.

Split out of the monolithic catalog.py (r06, VERDICT r05 #6) —
importing this module REGISTERS its queries into the shared
QUERIES/ORACLE registries (openetl_spark.queries.base). Query names,
oracles, and iteration order are byte-identical to the pre-split
catalog; openetl_spark.catalog re-exports the full public surface.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from openetl_spark.operators import curation as C
from openetl_spark.operators import dedup as D
from openetl_spark.operators import joins as J
from openetl_spark.operators import similarity as S
from openetl_spark.operators import text as X
from openetl_spark.operators import timeseries as TS
from openetl_spark.plans.compiler import compile_connector
from openetl_spark.queries.base import ORACLE, QUERIES, _repo_root, load, query
from openetl_spark.queries.relational_extra import IVF_ORACLE_CENTROIDS, IVF_SIG_SQL, _corpus_sig, _ivf_layout
from openetl_spark.spec import Connector, Filter, FilterGroup, Sort, Transformation

PQ_ORACLE_CODEBOOKS = f"{_repo_root()}/spark-warehouse/pq_cache/codebooks_oracle.parquet"


def _upsert_oracle_codebooks(books, corpus_sig: int, n_codes: int, seed: int) -> None:
    """Idempotently merge one trained PQ codebook set into the
    consolidated oracle parquet (columns: corpus_sig, m, n_codes, seed,
    subspace, code, centroid double[]) — same contract as the IVF
    centroid parquet."""
    import os

    import pandas as pd

    m = len(books)
    rows = pd.DataFrame(
        [
            {
                "corpus_sig": int(corpus_sig),
                "m": int(m),
                "n_codes": int(n_codes),
                "seed": int(seed),
                "subspace": j,
                "code": c,
                "centroid": [float(x) for x in books[j][c]],
            }
            for j in range(m)
            for c in range(n_codes)
        ]
    )
    path = PQ_ORACLE_CODEBOOKS
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if os.path.exists(path):
        old = pd.read_parquet(path)
        same = (
            (old["corpus_sig"] == corpus_sig)
            & (old["m"] == m)
            & (old["n_codes"] == n_codes)
            & (old["seed"] == seed)
        )
        if same.sum() == m * n_codes:
            return
        rows = pd.concat([old[~same], rows], ignore_index=True)
    rows.to_parquet(path, index=False)


def _pq_codebooks(spark, sf_dir: str, m: int = 4, n_codes: int = 16, seed: int = 42):
    """Get-or-train the persisted PQ codebooks for one testdata corpus
    (train once offline, reuse in every query — the IVF posture), and
    maintain the oracle-readable consolidated parquet keyed by the same
    corpus content signature the IVF cache uses."""
    import json
    import os

    import numpy as np

    key = f"{os.path.basename(os.path.normpath(sf_dir))}_m{m}_c{n_codes}_s{seed}"
    root = os.path.join(_repo_root(), "spark-warehouse", "pq_cache", key)
    books_path = os.path.join(root, "codebooks.npy")
    meta_path = os.path.join(root, "meta.json")
    if not os.path.exists(books_path):
        e = load(spark, sf_dir, "embeddings", spread=True)
        books = S.train_pq_codebooks(e, m=m, n_codes=n_codes, seed=seed)
        os.makedirs(root, exist_ok=True)
        np.save(books_path, books)
        json.dump({"corpus_sig": _corpus_sig(spark, sf_dir)}, open(meta_path, "w"))
    books = np.load(books_path)
    meta = json.load(open(meta_path))
    _upsert_oracle_codebooks(books, meta["corpus_sig"], n_codes, seed)
    return books


@query(
    "pq_knn",
    f"""
    WITH cb AS (
      SELECT subspace, code, centroid
      FROM read_parquet('{PQ_ORACLE_CODEBOOKS}')
      WHERE corpus_sig = ({IVF_SIG_SQL})
        AND m = 4 AND n_codes = 16 AND seed = 42),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    enc AS (
      SELECT e.vec_id, s.subspace,
             (SELECT c.code FROM cb c WHERE c.subspace = s.subspace
              ORDER BY list_aggregate(list_transform(c.centroid, x -> x*x), 'sum')
                       - 2 * list_dot_product(
                           CAST(e.embedding AS DOUBLE[])[s.subspace*16+1 : s.subspace*16+16],
                           c.centroid) ASC,
                       c.code ASC
              LIMIT 1) AS code
      FROM embeddings e, (SELECT DISTINCT subspace FROM cb) s
      WHERE e.vec_id <> 0),
    tab AS (
      SELECT c.subspace, c.code,
             list_aggregate(list_transform(c.centroid, x -> x*x), 'sum')
             - 2 * list_dot_product(q.qv[c.subspace*16+1 : c.subspace*16+16], c.centroid)
             + list_aggregate(
                 list_transform(q.qv[c.subspace*16+1 : c.subspace*16+16], x -> x*x),
                 'sum') AS d
      FROM cb c, q)
    SELECT e.vec_id, round(sum(t.d), 4) AS adc_dist
    FROM enc e JOIN tab t ON t.subspace = e.subspace AND t.code = e.code
    GROUP BY e.vec_id
    ORDER BY adc_dist ASC, e.vec_id ASC
    LIMIT 10
    """,
)
def q_pq_knn(spark, sf_dir):
    """C28 scale path #3: product-quantization ADC top-k (Jégou et al.
    2011). The corpus is encoded as m=4 one-byte codes per vector (the
    production layout persists the codes; here they are derived
    scan-side to stay self-contained); the query's per-subspace
    distance table is a broadcast 1-row relation; approximate distance
    is a pure JVM array-lookup fold — the hot scan never touches float
    vectors. Complements IVF (which prunes WHICH rows are scanned) by
    compressing WHAT each row costs; at 100 TB the two compose
    (IVF-partitioned directories of PQ codes). The trained codebooks
    are data, persisted to a consolidated parquet the DuckDB oracle
    reads to re-derive encoding (same argmin formula and tiebreak),
    distance tables, and the summed top-k — full hash-checked oracle
    for an approximate index, like ivf_knn. Recall vs brute force is
    additionally pinned in tests."""
    books = _pq_codebooks(spark, sf_dir, m=4, n_codes=16, seed=42)
    e = load(spark, sf_dir, "embeddings", spread=True)
    corpus = S.with_pq_codes(e.filter(F.col("vec_id") != 0), books)
    qdf = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0)
    return S.pq_adc_knn(corpus, qdf, books, k=10)


@query(
    "declarative_star_join",
    """
    SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q_declarative_star_join(spark, sf_dir):
    """SURVEY §7 step 3 made first-class: the TPC-H Q5 star join
    expressed ENTIRELY as a JSON-able QuerySpec dict — joins (with dim
    broadcast hints), filters, a computed aggregate, grouping — and
    compiled by plans.compiler.compile_query into one lazy lineage.
    Same oracle as q5_regional_revenue: the declarative path must
    produce hash-identical results to the hand-built DataFrame query.
    This is the surface a reference user who writes Connector configs
    (not PySpark) graduates to for analytics."""
    from openetl_spark.plans.compiler import compile_query

    spec = {
        "table": "lineitem",
        "joins": [
            {"table": "orders", "on": [["l_orderkey", "o_orderkey"]]},
            {"table": "customer", "on": [["o_custkey", "c_custkey"]]},
            {"table": "supplier",
             "on": [["l_suppkey", "s_suppkey"], ["c_nationkey", "s_nationkey"]]},
            {"table": "nation", "on": [["c_nationkey", "n_nationkey"]],
             "broadcast": True},
            {"table": "region", "on": [["n_regionkey", "r_regionkey"]],
             "broadcast": True},
        ],
        "filters": [
            {"field": "r_name", "operator": "=", "value": "ASIA"},
            {"field": "o_orderdate", "operator": ">=",
             "value": "1996-01-01 00:00:00"},
            {"field": "o_orderdate", "operator": "<",
             "value": "1998-01-01 00:00:00"},
        ],
        "group_by": ["n_name"],
        "aggregates": [
            {"fn": "sum", "expr": "l_extendedprice * (1 - l_discount)",
             "alias": "revenue", "round_dp": 2},
        ],
    }
    return compile_query(spec, lambda t: load(spark, sf_dir, t))


@query(
    "declarative_window_topn",
    """
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders)
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3 AND o_custkey <= 100
    """,
)
def q_declarative_window_topn(spark, sf_dir):
    """QuerySpec's window surface: top-3 orders per customer as a pure
    dict — a declarative window term (row_number over a deterministic
    (price desc, key asc) ordering) filtered by the post-window HAVING
    stage. One hash shuffle on the high-cardinality customer key."""
    from openetl_spark.plans.compiler import compile_query

    spec = {
        "table": "orders",
        "filters": [{"field": "o_custkey", "operator": "<=", "value": 100}],
        "windows": [
            {"fn": "row_number", "alias": "rn",
             "partition_by": ["o_custkey"],
             "order_by": [{"field": "o_totalprice", "type": "desc"},
                          {"field": "o_orderkey", "type": "asc"}]},
        ],
        "having": [{"field": "rn", "operator": "<=", "value": 3}],
        "select": ["o_custkey", "o_orderkey", "o_totalprice", "rn"],
    }
    df = compile_query(spec, lambda t: load(spark, sf_dir, t))
    return df.withColumn("rn", F.col("rn").cast("long"))


@query(
    "grouped_quantiles",
    """
    WITH b AS (
      SELECT source, CAST(floor(n_chars / 4.0) AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2),
    cum AS (
      SELECT source, bin, c,
             sum(c) OVER (PARTITION BY source ORDER BY bin) AS cum,
             sum(c) OVER (PARTITION BY source) AS n
      FROM b)
    SELECT source,
           round(4.0 * min(CASE WHEN cum >= 0.50 * n THEN bin END), 2) AS p50_est,
           round(4.0 * min(CASE WHEN cum >= 0.90 * n THEN bin END), 2) AS p90_est,
           round(4.0 * min(CASE WHEN cum >= 0.99 * n THEN bin END), 2) AS p99_est
    FROM cum GROUP BY source
    """,
)
def q_grouped_quantiles(spark, sf_dir):
    """histogram_quantiles generalized to per-group percentiles: one
    scan produces per-(source, bin) counts (partial-agg map-side), the
    cumulative pass runs over the HISTOGRAM relation — its window
    partitions hold one group's ≤~150 bins, never one group's raw rows
    (contrast with percent_rank over raw data: one task per source at
    100 TB). Estimates are the crossing bin's lower edge — exact by
    construction, so the whole grouped sketch hash-matches the oracle
    and the error stays bounded by one bin width per group."""
    d = load(spark, sf_dir, "documents")
    w = 4.0
    b = (
        d.select(
            "source", F.floor(F.col("n_chars") / w).cast("long").alias("bin")
        )
        .groupBy("source", "bin")
        .agg(F.count("*").alias("c"))
    )
    win = (
        W.partitionBy("source").orderBy("bin")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    win_all = (
        W.partitionBy("source").orderBy("bin")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    cum = b.withColumn("cum", F.sum("c").over(win)).withColumn(
        "n", F.sum("c").over(win_all)
    )

    def est(q, alias):
        return F.round(
            w * F.min(F.when(F.col("cum") >= q * F.col("n"), F.col("bin"))), 2
        ).alias(alias)

    return cum.groupBy("source").agg(
        est(0.50, "p50_est"), est(0.90, "p90_est"), est(0.99, "p99_est")
    )


@query(
    "hybrid_search_rrf",
    """
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    st AS (
      SELECT count(*) AS n_docs, avg(CAST(len(toks) AS DOUBLE)) AS avgdl,
             count(*) FILTER (len(list_filter(toks, x -> x = 'spark')) > 0) AS df0,
             count(*) FILTER (len(list_filter(toks, x -> x = 'vector')) > 0) AS df1,
             count(*) FILTER (len(list_filter(toks, x -> x = 'dup')) > 0) AS df2
      FROM tk),
    pc AS (
      SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
             CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf0,
             CAST(len(list_filter(toks, x -> x = 'vector')) AS DOUBLE) AS tf1,
             CAST(len(list_filter(toks, x -> x = 'dup')) AS DOUBLE) AS tf2
      FROM tk),
    scored AS (
      SELECT doc_id,
             round(
               ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5))
                 * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             + ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5))
                 * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             + ln(1.0 + (n_docs - df2 + 0.5) / (df2 + 0.5))
                 * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS bm25
      FROM pc, st),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank
      FROM scored WHERE bm25 > 0.0
      ORDER BY bm25 DESC, doc_id ASC LIMIT 50),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    sem AS (
      SELECT e.vec_id AS doc_id,
             row_number() OVER (
               ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) DESC,
                        e.vec_id ASC) AS rank
      FROM embeddings e, q WHERE e.vec_id <> 0
      ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) DESC,
               e.vec_id ASC
      LIMIT 50)
    SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
           round(COALESCE(1.0 / (l.rank + 60), 0)
               + COALESCE(1.0 / (s.rank + 60), 0), 6) AS rrf_score
    FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    ORDER BY rrf_score DESC, doc_id ASC
    LIMIT 20
    """,
)
def q_hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval: lexical BM25 top-50 and semantic cosine top-50
    (documents and embeddings share the id space) fused by reciprocal
    rank — Σ 1/(60+rank) (Cormack et al. 2009), the score-free
    combination used when lexical and vector scores aren't comparable.
    Each branch is the already-proven scan shape (BM25's broadcast
    stats + TakeOrdered; brute-force cosine + TakeOrdered); the fusion
    joins two 50-row relations — candidate-sized, broadcast, free.
    Ranks derive from total orderings (rounded score, id), so the
    fused list is engine-reproducible end to end."""
    d = load(spark, sf_dir, "documents", spread=True)
    lex = X.bm25_topk(d, ["spark", "vector", "dup"], k=50)
    lex_ranked = lex.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
        .alias("rank"),
    )
    e = load(spark, sf_dir, "embeddings")
    sem = S.brute_force_knn_lazy(
        e.filter(F.col("vec_id") != 0),
        e.filter(F.col("vec_id") == 0),
        k=50,
    )
    sem_ranked = sem.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(W.orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc()))
        .alias("rank"),
    )
    return S.rrf_fuse([lex_ranked, sem_ranked], k=20, c=60)


@query(
    "dq_report",
    """
    WITH scan AS (
      SELECT CAST(count(CASE WHEN l_shipdate IS NULL THEN 1 END) AS BIGINT)
               AS not_null_l_shipdate,
             CAST(count(CASE WHEN l_quantity IS NOT NULL
                              AND l_quantity NOT BETWEEN 1 AND 50 THEN 1 END)
                  AS BIGINT) AS in_range_l_quantity,
             CAST(count(CASE WHEN l_returnflag IS NOT NULL
                              AND l_returnflag NOT IN ('A','N','R') THEN 1 END)
                  AS BIGINT) AS in_set_l_returnflag,
             CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
                  AS BIGINT) AS unique_l_orderkey_l_linenumber
      FROM lineitem),
    fk AS (
      SELECT CAST(count(*) AS BIGINT) AS fk_l_orderkey
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL)
    SELECT * FROM scan, fk
    """,
)
def q_dq_report(spark, sf_dir):
    """Declarative data-quality gate (functions/constraints.py): five
    rules — null check, range check, vocabulary check, composite-key
    uniqueness, referential integrity against orders — compiled into
    ONE conditional-count aggregate over one scan plus one anti-join
    scalar, never a job per rule. The report is lazy and composes into
    larger plans; `quarantine` reuses the identical predicates for the
    clean/violating split so the gate and the split cannot drift. At
    100 TB this is the ingest gate shape: linear scan, partial aggs,
    broadcast scalar joins."""
    from openetl_spark.functions import constraints as DQ

    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return DQ.check(
        l,
        [
            DQ.not_null("l_shipdate"),
            DQ.in_range("l_quantity", 1, 50),
            DQ.in_set("l_returnflag", ["A", "N", "R"]),
            DQ.unique("l_orderkey", "l_linenumber"),
            DQ.foreign_key(["l_orderkey"], o, ["o_orderkey"]),
        ],
    )


@query(
    "event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events)
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_event_transitions(spark, sf_dir):
    """Markov transition counts over user event sequences (the
    behavioral-analytics companion to funnel/retention): one window
    keyed on user_id — a high-cardinality partition key, so the single
    shuffle spreads across the cluster — then a partial-agg count of
    (from, to) pairs. Tie order inside a user is pinned by
    (ts, event_id), making the lead() deterministic across engines."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    return seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count("*").alias("n"))


@query(
    "corpus_report",
    """
    WITH d AS (
      SELECT doc_id, lang, source, md5(text) AS h,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
      FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           floor(sum(n_tok) * 10000.0 / count(*)) / 10000.0 AS avg_tokens,
           CAST(min(n_tok) AS BIGINT) AS min_tokens,
           CAST(max(n_tok) AS BIGINT) AS max_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_texts,
           floor(count(DISTINCT h) * 10000.0 / count(*)) / 10000.0
             AS distinct_ratio
    FROM d
    """,
)
def q_corpus_report(spark, sf_dir):
    """The profiling pass a curation run starts with: document count,
    token volume and length band, language/source coverage, and the
    exact-duplicate ratio via md5 text hashes — ONE aggregate over one
    scan (Spark plans the multi-distinct via Expand; every non-distinct
    metric still partial-aggregates map-side). Ratios use the
    floor-based fixed-point form (engine-divergence-free, see
    multires_rollup). At 100 TB the hash distinct-count is the
    expensive term; swapping in approx_count_distinct turns this into
    a single-pass sketch report (the approx_sketches query shows that
    oracle pattern)."""
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    base = d.select(
        "doc_id", "lang", "source",
        F.md5("text").alias("h"),
        F.size(toks).alias("n_tok"),
    )
    return base.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        (F.floor(F.sum("n_tok") * 10000.0 / F.count("*")) / 10000.0).alias(
            "avg_tokens"
        ),
        F.min("n_tok").cast("long").alias("min_tokens"),
        F.max("n_tok").cast("long").alias("max_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("h").alias("n_distinct_texts"),
        (F.floor(F.countDistinct("h") * 10000.0 / F.count("*")) / 10000.0).alias(
            "distinct_ratio"
        ),
    )


def _ivf_pq_layout(
    spark, sf_dir: str, n_lists: int = 16, seed: int = 42, m: int = 4,
    n_codes: int = 16,
):
    """Get-or-build the COMPOSED offline layout: corpus partitioned by
    IVF list id, carrying only (vec_id, pq_codes) inside each list
    directory — the float vectors never enter the hot layout. Reuses
    the persisted IVF quantizer and PQ codebooks (and keeps both
    oracle parquets maintained)."""
    import os

    cents, _ = _ivf_layout(spark, sf_dir, n_lists=n_lists, seed=seed)
    books = _pq_codebooks(spark, sf_dir, m=m, n_codes=n_codes, seed=seed)
    key = (
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"_l{n_lists}_m{m}_c{n_codes}_s{seed}"
    )
    data_path = os.path.join(
        _repo_root(), "spark-warehouse", "ivf_pq_cache", key, "corpus"
    )
    if not os.path.exists(data_path):
        e = load(spark, sf_dir, "embeddings", spread=True)
        enc = S.with_pq_codes(S.with_ivf_assignment(e, cents), books)
        enc.select("vec_id", "pq_codes", "ivf_list").write.partitionBy(
            "ivf_list"
        ).mode("overwrite").parquet(data_path)
    return cents, books, data_path


@query(
    "ivf_pq_knn",
    f"""
    WITH cents AS (
      SELECT list_id, centroid
      FROM read_parquet('{IVF_ORACLE_CENTROIDS}')
      WHERE corpus_sig = ({IVF_SIG_SQL})
        AND n_lists = 16 AND seed = 42),
    cb AS (
      SELECT subspace, code, centroid
      FROM read_parquet('{PQ_ORACLE_CODEBOOKS}')
      WHERE corpus_sig = ({IVF_SIG_SQL})
        AND m = 4 AND n_codes = 16 AND seed = 42),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    assign AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
             (SELECT c.list_id FROM cents c
              ORDER BY list_aggregate(list_transform(c.centroid, x -> x*x), 'sum')
                       - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid) ASC,
                       c.list_id ASC
              LIMIT 1) AS list_id
      FROM embeddings e WHERE e.vec_id <> 0),
    probe AS (
      SELECT c.list_id FROM cents c, q
      ORDER BY list_aggregate(list_transform(c.centroid, x -> x*x), 'sum')
               - 2 * list_dot_product(q.qv, c.centroid) ASC, c.list_id ASC
      LIMIT 8),
    cand AS (
      SELECT a.vec_id, a.v FROM assign a JOIN probe p ON a.list_id = p.list_id),
    enc AS (
      SELECT c.vec_id, s.subspace,
             (SELECT b.code FROM cb b WHERE b.subspace = s.subspace
              ORDER BY list_aggregate(list_transform(b.centroid, x -> x*x), 'sum')
                       - 2 * list_dot_product(
                           c.v[s.subspace*16+1 : s.subspace*16+16], b.centroid) ASC,
                       b.code ASC
              LIMIT 1) AS code
      FROM cand c, (SELECT DISTINCT subspace FROM cb) s),
    tab AS (
      SELECT b.subspace, b.code,
             list_aggregate(list_transform(b.centroid, x -> x*x), 'sum')
             - 2 * list_dot_product(q.qv[b.subspace*16+1 : b.subspace*16+16], b.centroid)
             + list_aggregate(
                 list_transform(q.qv[b.subspace*16+1 : b.subspace*16+16], x -> x*x),
                 'sum') AS d
      FROM cb b, q)
    SELECT e.vec_id, round(sum(t.d), 4) AS adc_dist
    FROM enc e JOIN tab t ON t.subspace = e.subspace AND t.code = e.code
    GROUP BY e.vec_id
    ORDER BY adc_dist ASC, e.vec_id ASC
    LIMIT 10
    """,
)
def q_ivf_pq_knn(spark, sf_dir):
    """C28 capstone: the composed IVF×PQ layout — partition pruning
    picks WHICH rows are scanned (n_probe of n_lists directories via
    the broadcast probe join), PQ compression picks WHAT each row
    costs (the directories store 4 one-byte codes per vector; the
    float embeddings never enter the hot path). This is the standard
    billion-vector serving layout (FAISS IVFPQ) expressed as parquet
    partitioning + relational ADC. Both trained artifacts are
    persisted parquet the oracle reads to re-derive assignment, probe
    selection, encoding, distance tables, and the pruned top-k."""
    cents, books, data_path = _ivf_pq_layout(spark, sf_dir)
    corpus = spark.read.parquet(data_path).filter(F.col("vec_id") != 0)
    qdf = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0)
    return S.ivf_pq_adc_knn(corpus, qdf, cents, books, k=10, n_probe=8)


@query(
    "bpe_pair_counts",
    """
    WITH wf AS (
      SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok <> '' GROUP BY 1),
    pairs AS (
      SELECT substring(word, CAST(i AS INT), 1) AS a,
             substring(word, CAST(i AS INT) + 1, 1) AS b, freq
      FROM wf, LATERAL (SELECT unnest(generate_series(1, length(word) - 1)) AS i) t)
    SELECT a, b, CAST(sum(freq) AS BIGINT) AS n
    FROM pairs GROUP BY a, b
    ORDER BY n DESC, a ASC, b ASC
    LIMIT 30
    """,
)
def q_bpe_pair_counts(spark, sf_dir):
    """Tokenizer training at scale, step one: the frequency-weighted
    adjacent character-pair counts BPE's first merge maximizes
    (Sennrich et al. 2016). The corpus is touched once to build the
    word-frequency dictionary; pair generation and counting run on the
    dictionary relation (distinct words, not tokens). The iterative
    trainer (operators/text.py::bpe_train) continues from here and is
    pinned against a pure-Python reference implementation in tests —
    this query oracle-checks the distributed statistic the loop is
    built on, with a total (n, a, b) ordering for engine-reproducible
    top-k membership."""
    d = load(spark, sf_dir, "documents", spread=True)
    return X.char_pair_counts(d, top=30)


@query(
    "per_group_sample",
    """
    WITH h AS (
      SELECT lang, doc_id,
             CAST(('0x' || substring(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 12))
                  AS BIGINT) AS hv
      FROM documents)
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn
      FROM h)
    WHERE rn <= 20
    """,
)
def q_per_group_sample(spark, sf_dir):
    """Deterministic 20-per-language sample: smallest seeded 48-bit
    hash ranks per group. The Spark plan is the SCALE path — broadcast
    approximate per-group thresholds bound the survivors to ~margin·k
    rows before the exact window, so no window partition is ever
    group-sized — while the oracle computes the direct window form in
    DuckDB, so the check also proves two-phase ≡ direct. See
    operators/curation.py::per_group_sample."""
    d = load(spark, sf_dir, "documents")
    return C.per_group_sample(
        d, k=20, group_cols=("lang",), key_col="doc_id", seed=42
    )


@query(
    "q20_dominant_supplier",
    """
    WITH lp AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'large%'
        AND l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
      GROUP BY 1, 2),
    tot AS (SELECT l_partkey, sum(qty) AS total_qty FROM lp GROUP BY 1),
    dom AS (
      SELECT lp.l_suppkey, CAST(count(*) AS BIGINT) AS n_parts_dominated
      FROM lp JOIN tot USING (l_partkey)
      WHERE lp.qty > 0.5 * tot.total_qty
      GROUP BY 1)
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation, d.n_parts_dominated
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN dom d ON d.l_suppkey = s.s_suppkey
    """,
)
def q_q20_dominant_supplier(spark, sf_dir):
    """TPC-H Q20 shape (completes the 22-query sweep): suppliers with
    an outsized share of a part family — partsupp's availqty threshold
    is proxied as 'shipped more than half of the part's 1995 volume'
    (the generated testdata's shipdates start 1995-01-02, so the 1995
    window is non-vacuous at every SF).
    Same plan skeleton as the real Q20: filtered part list broadcast
    into the fact scan, per-(part, supplier) aggregate, per-part scalar
    threshold re-joined by key, semi-ish reduction to suppliers.
    l_quantity is integer-valued, so sums are exact in double and the
    0.5·total comparison is order-independent — no fp boundary."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1996-01-01")
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_name").startswith("large"))
    lp = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    tot = lp.groupBy(F.col("l_partkey").alias("tp")).agg(
        F.sum("qty").alias("total_qty")
    )
    dom = (
        lp.join(tot, lp.l_partkey == F.col("tp"))
        .filter(F.col("qty") > 0.5 * F.col("total_qty"))
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_parts_dominated"))
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(dom, F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("n_name").alias("nation"),
            "n_parts_dominated",
        )
    )


@query(
    "rollup_anomalies",
    """
    WITH cells AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket_start, event_type,
             CAST(count(*) AS BIGINT) AS n_events, sum(value) AS s
      FROM events GROUP BY 1, 2),
    st AS (
      SELECT event_type, sum(s) / count(*) AS mean,
             sqrt(sum(s*s) / count(*) - (sum(s)/count(*)) * (sum(s)/count(*))) AS std
      FROM cells GROUP BY 1)
    SELECT c.event_type, c.bucket_start, c.n_events,
           round(c.s, 2) AS sum_value,
           round((c.s - st.mean) / st.std, 2) AS z_score
    FROM cells c JOIN st USING (event_type)
    WHERE st.std > 0 AND abs(round((c.s - st.mean) / st.std, 2)) > 2.5
    """,
)
def q_rollup_anomalies(spark, sf_dir):
    """Monitoring read on the continuous aggregate: per event type,
    15-min buckets whose value-sum deviates > 2.5σ from the type mean.
    Detection runs entirely on the CELL relation (one rollup scan +
    a broadcast per-group stats join) — at 100 TB the raw events are
    never re-read. Moments are explicit expressions (not builtin
    stddev) and the flag tests the ROUNDED z-score, so the DuckDB
    oracle is formula-identical. See
    operators/timeseries.py::anomalous_buckets."""
    e = load(spark, sf_dir, "events")
    cells = TS.partial_time_aggregate(e, "15 minutes", keys=("event_type",))
    return TS.anomalous_buckets(cells, by=("event_type",), threshold=2.5)


@query(
    "pq_rerank_knn",
    f"""
    WITH cb AS (
      SELECT subspace, code, centroid
      FROM read_parquet('{PQ_ORACLE_CODEBOOKS}')
      WHERE corpus_sig = ({IVF_SIG_SQL})
        AND m = 4 AND n_codes = 16 AND seed = 42),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    enc AS (
      SELECT e.vec_id, s.subspace,
             (SELECT c.code FROM cb c WHERE c.subspace = s.subspace
              ORDER BY list_aggregate(list_transform(c.centroid, x -> x*x), 'sum')
                       - 2 * list_dot_product(
                           CAST(e.embedding AS DOUBLE[])[s.subspace*16+1 : s.subspace*16+16],
                           c.centroid) ASC,
                       c.code ASC
              LIMIT 1) AS code
      FROM embeddings e, (SELECT DISTINCT subspace FROM cb) s
      WHERE e.vec_id <> 0),
    tab AS (
      SELECT c.subspace, c.code,
             list_aggregate(list_transform(c.centroid, x -> x*x), 'sum')
             - 2 * list_dot_product(q.qv[c.subspace*16+1 : c.subspace*16+16], c.centroid)
             + list_aggregate(
                 list_transform(q.qv[c.subspace*16+1 : c.subspace*16+16], x -> x*x),
                 'sum') AS d
      FROM cb c, q),
    shortlist AS (
      SELECT e.vec_id, round(sum(t.d), 4) AS adc_dist
      FROM enc e JOIN tab t ON t.subspace = e.subspace AND t.code = e.code
      GROUP BY e.vec_id
      ORDER BY adc_dist ASC, e.vec_id ASC
      LIMIT 50)
    SELECT v.vec_id,
           round(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), q.qv), 4)
             AS cosine_sim
    FROM embeddings v JOIN shortlist s ON v.vec_id = s.vec_id, q
    ORDER BY cosine_sim DESC, v.vec_id ASC
    LIMIT 10
    """,
)
def q_pq_rerank_knn(spark, sf_dir):
    """C28 two-stage ANN: PQ-ADC shortlist (stage 1 scans only the
    4-byte codes) → exact cosine re-rank of the 50 survivors (stage 2
    semi-joins the float vectors for shortlist rows only). The
    production read path for billion-vector search: cheap compressed
    scan bounds the candidates, exact math touches a point-lookup's
    worth of data. Full DuckDB oracle re-derives encode → distance
    tables → shortlist → re-rank from the persisted codebook parquet;
    convergence to brute force pinned in tests."""
    books = _pq_codebooks(spark, sf_dir, m=4, n_codes=16, seed=42)
    e = load(spark, sf_dir, "embeddings", spread=True)
    corpus = S.with_pq_codes(e.filter(F.col("vec_id") != 0), books)
    qdf = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0)
    return S.pq_rerank_knn(corpus, qdf, books, k=10, shortlist=50)


