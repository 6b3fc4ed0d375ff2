"""r08 analytics queries: PPJoin exact set-similarity join, Louvain
local-move communities, unigram-LM tokenizer seed statistics (VERDICT
r07 next-round items #4/#5/#7), the KMV distinct sketch (fifth
mergeable family, set-operation estimates), the k-truss peel on the
repeat-co-purchase core, and the containment join (directed
quotation/subset duplication).

Importing this module REGISTERS its queries into the shared
QUERIES/ORACLE registries (openetl_spark.queries.base); it is loaded
LAST by openetl_spark.catalog so all pre-existing names keep their
registration order.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from openetl_spark.operators import dedup as DD
from openetl_spark.queries.base import load, query
from openetl_spark.queries.dedup_text import shingle_cte

# ---------------------------------------------------------------------
# C121 — PPJoin: exact set-similarity join (Xiao et al., WWW 2008).
# The missing sibling between MinHash (approximate jaccard, C27) and
# Ed-Join (edit distance, C120): exact jaccard ≥ τ pairs, lossless.
# FULL oracle: every stage — shingles, corpus frequencies, the
# rarest-first total order, prefix lengths, the length and positional
# filters, overlap counts — is exact strings/integers, re-derived by
# DuckDB below; the brute-force losslessness differential lives in
# tests/test_analytics_graph.py.
# ---------------------------------------------------------------------

# τ = num/den as exact integer arithmetic: prefix p = l − ⌈τl⌉ + 1,
# positional threshold t = ⌈num(la+lb)/(num+den)⌉ (τ/(1+τ)), final
# test (num+den)·overlap ≥ num·(la+lb). Integer-ceil via (x+d−1)//d.
# Rendered by a GENERATOR so the randomized parameter sweep
# (tests/test_random_differential.py) runs the SAME oracle at other
# (τ, n) points; the registered query pins (3/5, n=5).


def ppjoin_oracle(num: int, den: int, n: int) -> str:
    s = num + den
    return f"""
    WITH {shingle_cte(n)},
    sh2 AS (SELECT doc_id AS id, s AS tok FROM sh WHERE s <> ''),
    freq AS (SELECT tok, count(*) AS f FROM sh2 GROUP BY 1),
    ranked AS (
      SELECT s.id, s.tok,
             row_number() OVER (PARTITION BY s.id ORDER BY f.f, s.tok) AS rn,
             count(*) OVER (PARTITION BY s.id) AS l
      FROM sh2 s JOIN freq f USING (tok)),
    pre AS (SELECT * FROM ranked WHERE rn <= l - (({num} * l + {den - 1}) // {den}) + 1),
    cand AS (
      SELECT a.id AS a, b.id AS b, a.l AS la, b.l AS lb
      FROM pre a JOIN pre b ON a.tok = b.tok AND a.id < b.id
      WHERE {den} * least(a.l, b.l) >= {num} * greatest(a.l, b.l)
      GROUP BY 1, 2, 3, 4
      HAVING 1 + least(a.l - min(a.rn), b.l - min(b.rn))
             >= ({num} * (a.l + b.l) + {s - 1}) // {s}),
    ov AS (
      SELECT c.a, c.b, c.la, c.lb, count(*) AS o
      FROM cand c
      JOIN sh2 ta ON ta.id = c.a
      JOIN sh2 tb ON tb.id = c.b AND tb.tok = ta.tok
      GROUP BY 1, 2, 3, 4)
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(o AS BIGINT) AS overlap,
           CAST(la AS BIGINT) AS la, CAST(lb AS BIGINT) AS lb,
           round(o / (la + lb - o), 6) AS jaccard
    FROM ov WHERE {s} * o >= {num} * (la + lb)
    """


_PPJOIN_ORACLE = ppjoin_oracle(3, 5, 5)


@query("ppjoin_pairs", _PPJOIN_ORACLE)
def q_ppjoin_pairs(spark, sf_dir):
    """C121: exact set-similarity self-join over the documents table —
    all pairs whose distinct word-5-gram shingle sets (the jaccard
    family's shingle_cte definition) have jaccard ≥ 3/5, by PPJoin
    (operators/dedup.ppjoin: prefix filtering + positional filter on
    the rarest-first token order, verify via one array_intersect).
    Exact and LOSSLESS where minhash_near_dups is probabilistic — the
    pair each stage is compared against is brute-forced in unit tests.
    τ rational (3/5) so every filter is bigint arithmetic; the only
    float is the output jaccard, one two-integer IEEE division rounded
    6dp on both engines."""
    d = load(spark, sf_dir, "documents")
    r = DD.ppjoin(d, "doc_id", "text", tau_num=3, tau_den=5, n=5)
    return r.select(
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        "overlap",
        "la",
        "lb",
        "jaccard",
    )


# ---------------------------------------------------------------------
# C122 — Louvain phase-1 local move (Blondel et al. 2008) seeded from
# the persisted LPA partition: makes graph_modularity's Q a QUALITY
# claim (a partition something optimizes) instead of a score nothing
# acts on. FULL oracle: the exact-integer score 2m·k_{i,c} −
# d_i·Σtot'(c) renders identically in DuckDB over the SAME persisted
# labels parquet (graph-signature keyed) and the shared co-purchase
# CTE.
# ---------------------------------------------------------------------

from openetl_spark.operators import graph as G  # noqa: E402
from openetl_spark.queries.analytics_r06 import CO_PURCHASE_CTE  # noqa: E402
from openetl_spark.queries.analytics_r07 import (  # noqa: E402
    LPA_ORACLE_LABELS,
    LPA_SIG_SQL,
    _lpa_layout,
)

_LOUVAIN_ORACLE = f"""
    WITH {CO_PURCHASE_CTE},
    sym AS (SELECT x AS u, y AS v FROM co
            UNION ALL SELECT y AS u, x AS v FROM co),
    lab AS MATERIALIZED (
      SELECT node, label FROM read_parquet('{LPA_ORACLE_LABELS}')
      WHERE graph_sig = ({LPA_SIG_SQL}) AND rounds = 4),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d
            FROM sym GROUP BY 1),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM co),
    stot AS (SELECT l.label AS c, CAST(sum(d.d) AS BIGINT) AS st
             FROM lab l JOIN deg d USING (node) GROUP BY 1),
    kic AS (SELECT s.u AS node, l.label AS c, CAST(count(*) AS BIGINT) AS k
            FROM sym s JOIN lab l ON s.v = l.node GROUP BY 1, 2),
    cand AS (SELECT node, c, max(k) AS k FROM (
               SELECT node, c, k FROM kic
               UNION ALL SELECT node, label AS c, CAST(0 AS BIGINT) FROM lab)
             GROUP BY 1, 2),
    sc AS (SELECT cand.node, cand.c,
                  2 * m.m * cand.k
                  - d.d * (st.st - CASE WHEN cand.c = l0.label
                                        THEN d.d ELSE 0 END) AS score
           FROM cand
           JOIN deg d ON cand.node = d.node
           JOIN lab l0 ON cand.node = l0.node
           JOIN stot st ON cand.c = st.c, m)
    SELECT node, CAST(c AS BIGINT) AS label FROM (
      SELECT node, c,
             row_number() OVER (PARTITION BY node
                                ORDER BY score DESC, c) AS rn
      FROM sc) t
    WHERE rn = 1
    """


@query("louvain_communities", _LOUVAIN_ORACLE)
def q_louvain_communities(spark, sf_dir):
    """C122: one synchronous Louvain local-move pass
    (operators/graph.louvain_move) over the co-purchase graph, seeded
    from the SAME persisted 4-round LPA partition graph_communities
    returns and graph_modularity scores — the all-integer move score
    (2m·k_{i,c} − d_i·Σtot'(c), ties to the smallest label) makes the
    whole pass bit-checkable cross-engine; tests assert Q(louvain) ≥
    Q(lpa) on this graph (tests/test_analytics_graph.py)."""
    labels_path, edges_path = _lpa_layout(spark, sf_dir, rounds=4)
    return G.louvain_move(
        spark.read.parquet(edges_path),
        spark.read.parquet(labels_path),
    )


# ---------------------------------------------------------------------
# C123 — unigram-LM tokenizer (SentencePiece's unigram model, Kudo
# 2018) next to BPE (C55): the Viterbi hard-EM training loop is pinned
# against a pure-Python reference in tests (the bpe_train discipline —
# per-iteration dictionaries are not SQL-renderable); what the driver
# CAN check end-to-end is the seed-vocabulary statistic the first
# iteration consumes, re-derived by DuckDB from the same word
# dictionary and substring enumeration.
# ---------------------------------------------------------------------

from openetl_spark.operators import text as X  # noqa: E402

_UNIGRAM_SEED_ORACLE = """
    WITH wf AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT UNNEST(list_filter(string_split(text, ' '), x -> x <> ''))
               AS word
        FROM documents)
      GROUP BY 1),
    subs AS (
      SELECT substr(w.word, i, L) AS piece, w.freq
      FROM wf w,
           UNNEST(generate_series(1, length(w.word))) AS t(i),
           UNNEST(generate_series(1, least(4, length(w.word) - i + 1)))
             AS u(L))
    SELECT piece, CAST(sum(freq) AS BIGINT) AS n
    FROM subs GROUP BY 1
    ORDER BY n DESC, piece ASC
    LIMIT 50
    """


@query("unigram_lm_stats", _UNIGRAM_SEED_ORACLE)
def q_unigram_lm_stats(spark, sf_dir):
    """C123: the unigram-LM seed-vocabulary relation
    (operators/text.unigram_seed_counts) — frequency-weighted
    occurrence counts of all word substrings of length ≤ 4 over the
    word dictionary, top-50 under the total order (n DESC, piece ASC)
    so the LIMIT is engine-deterministic. Exactly the statistic
    unigram_train's first E-step normalizes into p(piece); the EM loop
    itself is pinned vs a pure-Python reference in
    tests/test_operators.py (not SQL-renderable)."""
    return (
        X.unigram_seed_counts(load(spark, sf_dir, "documents"), max_len=4)
        .orderBy(F.col("n").desc(), F.col("piece").asc())
        .limit(50)
    )


# ---------------------------------------------------------------------
# C124 — KMV (k-minimum-values) distinct sketch: the FIFTH mergeable
# sketch family (histogram, CMS, HLL, Bloom, now KMV), and the one
# that buys SET-OPERATION estimates HLL structurally cannot (Beyer et
# al., SIGMOD 2007): two sketches union/intersect by plain relational
# algebra, so "distinct customers SHARED by two segments" is a
# kilobyte-relation join. FULL bit-exact cell oracle (the hll_cells
# discipline) + an intersection report whose floats are the same
# two-integer IEEE divisions on both engines.
# ---------------------------------------------------------------------

from openetl_spark.operators import sketches as SK  # noqa: E402

_KMV_K = 256
_KMV_HRANGE = float(1 << 60)

_KMV_H_CTE = """h AS (
      SELECT DISTINCT o_orderpriority,
             CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM orders)"""


@query(
    "kmv_cells",
    f"""
    WITH {_KMV_H_CTE}
    SELECT o_orderpriority, h FROM (
      SELECT o_orderpriority, h,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY h) AS rn
      FROM h) t
    WHERE rn <= {_KMV_K}
    """,
)
def q_kmv_cells(spark, sf_dir):
    """C124: KMV cells (k=256) of each order priority's distinct
    customer set (operators/sketches.kmv_cells) — the k smallest
    60-bit md5 hashes per group as a relation. The k-smallest
    selection routes through grouped_exact_ranks' two-level histogram
    rank, so no window ever holds a whole low-cardinality group
    (the r07 window_ranking_extras lesson); the oracle is the direct
    row_number rendering — legal there, DuckDB has no scale posture.
    Merge law (union-distinct → re-take k smallest) is
    property-tested; the estimate and intersection paths are
    driver-checked by kmv_intersection_report."""
    o = load(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    return SK.kmv_cells(o, "o_custkey", k=_KMV_K, keys=["o_orderpriority"])


@query(
    "kmv_intersection_report",
    f"""
    WITH {_KMV_H_CTE},
    cells AS (
      SELECT o_orderpriority AS p, h FROM (
        SELECT o_orderpriority, h,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY h) AS rn
        FROM h) t
      WHERE rn <= {_KMV_K}),
    prio AS (SELECT DISTINCT o_orderpriority AS p FROM orders),
    pairs AS (SELECT a.p AS pa, b.p AS pb
              FROM prio a JOIN prio b ON a.p < b.p),
    merged AS (
      SELECT pa, pb, h FROM (
        SELECT u.pa, u.pb, u.h,
               row_number() OVER (PARTITION BY u.pa, u.pb
                                  ORDER BY u.h) AS rn
        FROM (SELECT DISTINCT pr.pa, pr.pb, c.h
              FROM pairs pr JOIN cells c ON c.p = pr.pa OR c.p = pr.pb) u
        ) m
      WHERE rn <= {_KMV_K}),
    memb AS (
      SELECT m.pa, m.pb,
             CAST(count(*) AS BIGINT) AS n_merged,
             CAST(sum(CASE WHEN ca.h IS NOT NULL AND cb.h IS NOT NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
             max(m.h) AS hk
      FROM merged m
      LEFT JOIN cells ca ON ca.p = m.pa AND ca.h = m.h
      LEFT JOIN cells cb ON cb.p = m.pb AND cb.h = m.h
      GROUP BY 1, 2),
    ex AS (
      SELECT pr.pa, pr.pb, CAST(count(*) AS BIGINT) AS n_exact
      FROM pairs pr
      JOIN (SELECT DISTINCT o_orderpriority, o_custkey FROM orders) a
        ON a.o_orderpriority = pr.pa
      JOIN (SELECT DISTINCT o_orderpriority, o_custkey FROM orders) b
        ON b.o_orderpriority = pr.pb AND b.o_custkey = a.o_custkey
      GROUP BY 1, 2),
    fin AS (
      SELECT m.pa, m.pb, x.n_exact, m.n_merged, m.n_both,
             (CAST(m.n_both AS DOUBLE) / m.n_merged)
             * (CASE WHEN m.n_merged < {_KMV_K}
                     THEN CAST(m.n_merged AS DOUBLE)
                     ELSE ({_KMV_K} - 1) * {_KMV_HRANGE!r} / m.hk END)
               AS estimate
      FROM memb m JOIN ex x ON x.pa = m.pa AND x.pb = m.pb)
    SELECT pa, pb, n_exact, n_merged, n_both,
           estimate,
           abs(estimate - n_exact) <= 0.35 * n_exact AS within_bound
    FROM fin
    """,
)
def q_kmv_intersection_report(spark, sf_dir):
    """C124b: the KMV set-operation path driver-checked — for every
    pair of order priorities, the EXACT distinct shared-customer count
    (bigint, pinned verbatim) next to the KMV estimate: jaccard ≈
    members of the pair's MERGED sketch present in both sides, times
    the union estimate (k−1)·2^60/h_(k) (exact when the merged sketch
    is under-full). Both engines derive the floats from the SAME
    integers via the same two divisions + product, so even the
    estimate column hash-matches; within_bound (±35%, ≈3σ at k=256
    compounding jaccard and union error) is additionally asserted TRUE
    at test scale in pytest so a silent accuracy regression cannot
    hide behind engine agreement."""
    o = load(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    # persist (r12): the sketch relation feeds the merged-union build
    # AND both membership probes — left lazy, the whole kmv_cells
    # pipeline (distinct + histogram rank over orders) re-derived 3×
    # per invocation; `prio` likewise sits on both sides of its
    # self-join. Both relations are sketch-/grid-sized.
    cells = SK.kmv_cells(
        o, "o_custkey", k=_KMV_K, keys=["o_orderpriority"]
    ).withColumnRenamed("o_orderpriority", "p").persist()
    prio = o.select(F.col("o_orderpriority").alias("p")).distinct().persist()
    pairs = (
        prio.alias("a")
        .join(prio.alias("b"), F.col("a.p") < F.col("b.p"))
        .select(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
    )
    u = (
        pairs.join(
            F.broadcast(cells),
            (F.col("p") == F.col("pa")) | (F.col("p") == F.col("pb")),
        )
        .select("pa", "pb", "h")
        .distinct()
    )
    from pyspark.sql import Window

    w = Window.partitionBy("pa", "pb").orderBy("h")  # sketch-sized: <= 2k rows
    merged = u.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= _KMV_K
    )
    ca = cells.select(F.col("p").alias("pa"), "h", F.lit(1).alias("_ina"))
    cb = cells.select(F.col("p").alias("pb"), "h", F.lit(1).alias("_inb"))
    memb = (
        merged.join(F.broadcast(ca), ["pa", "h"], "left")
        .join(F.broadcast(cb), ["pb", "h"], "left")
        .groupBy("pa", "pb")
        .agg(
            F.count("*").cast("bigint").alias("n_merged"),
            F.sum(
                F.when(
                    F.col("_ina").isNotNull() & F.col("_inb").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_both"),
            F.max("h").alias("hk"),
        )
    )
    # persist (r12): both sides of the exact-arm pair join re-derived
    # the distinct (priority, customer) relation from the orders scan.
    dpc = o.distinct().persist()
    ex = (
        pairs.join(
            dpc.select(F.col("o_orderpriority").alias("pa"), "o_custkey"),
            "pa",
        )
        .join(
            dpc.select(F.col("o_orderpriority").alias("pb"), "o_custkey"),
            ["pb", "o_custkey"],
        )
        .groupBy("pa", "pb")
        .agg(F.count("*").cast("bigint").alias("n_exact"))
    )
    union_est = F.when(
        F.col("n_merged") < _KMV_K, F.col("n_merged").cast("double")
    ).otherwise((_KMV_K - 1) * _KMV_HRANGE / F.col("hk"))
    est = (F.col("n_both").cast("double") / F.col("n_merged")) * union_est
    return (
        memb.join(ex, ["pa", "pb"])
        .withColumn("estimate", est)
        .select(
            "pa",
            "pb",
            "n_exact",
            "n_merged",
            "n_both",
            "estimate",
            (
                F.abs(F.col("estimate") - F.col("n_exact"))
                <= 0.35 * F.col("n_exact")
            ).alias("within_bound"),
        )
    )


# ---------------------------------------------------------------------
# C125 — k-truss peel (Cohen 2008): the edge-analog of k-core, on the
# REPEAT-co-purchase core (pairs bought together in ≥ 2 distinct
# orders — the full co-purchase graph is a union of per-order cliques
# whose triangle mass is bench-hostile and analytically boring; the
# w ≥ 2 core is the graph where "cohesive" means something). Oracle:
# the kcore discipline — the same bounded peel rounds unrolled as
# MATERIALIZED CTEs, support counted per round by the naive
# common-neighbor join (legal in DuckDB, no scale posture; the Spark
# operator enumerates oriented wedges with O(√m) apex fan-out).
# ---------------------------------------------------------------------

from openetl_spark.queries.analytics_r07 import CO_PURCHASE_W_CTE  # noqa: E402


def ktruss_oracle(k: int, rounds: int) -> str:
    base = f"""
WITH {CO_PURCHASE_W_CTE},
e0 AS MATERIALIZED (SELECT x AS a, y AS b FROM cow WHERE w >= 2)"""
    prev = "e0"
    for i in range(1, rounds + 1):
        base += f""",
sym{i} AS MATERIALIZED (SELECT a AS u, b AS v FROM {prev}
         UNION ALL SELECT b AS u, a AS v FROM {prev}),
sup{i} AS MATERIALIZED (
  SELECT e.a, e.b, count(*) AS s
  FROM {prev} e
  JOIN sym{i} n1 ON n1.u = e.a
  JOIN sym{i} n2 ON n2.u = e.b AND n2.v = n1.v
  GROUP BY 1, 2),
e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev} e
  JOIN sup{i} s ON s.a = e.a AND s.b = e.b AND s.s >= {k - 2})"""
        prev = f"e{i}"
    return base + f"""
SELECT a, b FROM {prev}
"""


@query("ktruss_core", ktruss_oracle(k=3, rounds=4))
def q_ktruss_core(spark, sf_dir):
    """C125: the 3-truss of the repeat-co-purchase graph
    (operators/graph.ktruss) — every surviving edge sits in ≥ 1
    triangle of the surviving subgraph, peeled to fixpoint within 4
    bounded rounds (converges at every test SF; the kcore
    bounded-round determinism contract, RuntimeWarning on residual).
    Spark enumerates each triangle once via (degree, id)-oriented
    wedges (hub fan-out O(√m)) and explodes it to its three canonical
    edges for the support partial-agg; the oracle unrolls the same 4
    peels with naive common-neighbor support counts — same fixpoint,
    engine-appropriate shapes."""
    from openetl_spark.queries.analytics_r07 import (
        _graph_layout,
        _triangle_layout,
    )

    _, edges_w_path = _graph_layout(spark, sf_dir)
    e2 = (
        spark.read.parquet(edges_w_path)
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )
    # Round 1 peels the pristine core, whose triangle set is the
    # persisted layout (r10); later rounds re-enumerate on survivors.
    seed = spark.read.parquet(_triangle_layout(spark, sf_dir, core=True))
    return G.ktruss(e2, k=3, max_rounds=4, seed_triangles=seed)


# ---------------------------------------------------------------------
# C126 — containment join (quotation/subset duplication): the
# asymmetric sibling of C121 — overlap/|S_a| ≥ τ DIRECTED pairs, the
# duplication mode a symmetric jaccard join structurally under-scores
# (a short doc fully quoted in a long one has jaccard ≈ la/lb). FULL
# oracle: the same exact-integer stages with the asymmetric filters.
# ---------------------------------------------------------------------

def containment_oracle(num: int, den: int, n: int) -> str:
    return f"""
    WITH {shingle_cte(n)},
    sh2 AS (SELECT doc_id AS id, s AS tok FROM sh WHERE s <> ''),
    freq AS (SELECT tok, count(*) AS f FROM sh2 GROUP BY 1),
    ranked AS (
      SELECT s.id, s.tok,
             row_number() OVER (PARTITION BY s.id ORDER BY f.f, s.tok) AS rn,
             count(*) OVER (PARTITION BY s.id) AS l
      FROM sh2 s JOIN freq f USING (tok)),
    pre AS (SELECT * FROM ranked WHERE rn <= l - (({num} * l + {den - 1}) // {den}) + 1),
    cand AS (
      SELECT a.id AS a, b.id AS b, a.l AS la, b.l AS lb
      FROM pre a JOIN ranked b ON a.tok = b.tok AND a.id <> b.id
      WHERE {den} * b.l >= {num} * a.l
      GROUP BY 1, 2, 3, 4
      HAVING 1 + least(a.l - min(a.rn), b.l - min(b.rn))
             >= ({num} * a.l + {den - 1}) // {den}),
    ov AS (
      SELECT c.a, c.b, c.la, c.lb, count(*) AS o
      FROM cand c
      JOIN sh2 ta ON ta.id = c.a
      JOIN sh2 tb ON tb.id = c.b AND tb.tok = ta.tok
      GROUP BY 1, 2, 3, 4)
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(o AS BIGINT) AS overlap,
           CAST(la AS BIGINT) AS la, CAST(lb AS BIGINT) AS lb,
           round(o / la, 6) AS containment
    FROM ov WHERE {den} * o >= {num} * la
    """


_CONTAIN_ORACLE = containment_oracle(4, 5, 5)


@query("containment_pairs", _CONTAIN_ORACLE)
def q_containment_pairs(spark, sf_dir):
    """C126: exact containment self-join over the documents table —
    all directed pairs where ≥ 4/5 of doc a's distinct word-5-gram
    shingles appear in doc b (operators/dedup.containment_join): the
    quotation/subset duplication mode. Prefix filtering stays lossless
    with only the CONTAINED side prefixed (a true pair shares
    ≥ ⌈τ·ℓa⌉ tokens — pigeonhole on a's rarest-first prefix); the
    container side probes its full ranked token relation. τ rational →
    every filter bigint; brute-forced in unit tests including an
    explicit short-doc-quoted-in-long-doc pair and τ=1 exact
    containment."""
    d = load(spark, sf_dir, "documents")
    r = DD.containment_join(d, "doc_id", "text", tau_num=4, tau_den=5, n=5)
    return r.select(
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        "overlap",
        "la",
        "lb",
        "containment",
    )


# ---------------------------------------------------------------------
# C127 — exact weighted sampling without replacement. The float-free
# formulation: Efraimidis–Spirakis keys (u^{1/w}) need ln(), whose
# last-ulp differs across libm implementations and breaks cross-engine
# RANKING; the replication equivalence (item key = min of w iid seeded
# draws — the global draw order visits distinct items exactly as
# successive weighted sampling) keeps every key a 48-bit md5 integer,
# so the sample AND its inclusion order are FULL-oracle checkable.
# ---------------------------------------------------------------------

from openetl_spark.operators.curation import weighted_sample  # noqa: E402

_WSAMPLE_ORACLE = """
    WITH w AS (
      SELECT doc_id, lang,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> '')) AS wt
      FROM documents),
    d AS (SELECT doc_id, lang, wt FROM w WHERE wt > 0),
    draws AS (
      SELECT doc_id, lang, wt,
             CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)
                                  || ':' || CAST(r AS VARCHAR)), 1, 12)
                  AS BIGINT) AS h
      FROM d, UNNEST(generate_series(1, wt)) AS t(r)),
    keys AS (SELECT lang, doc_id, CAST(max(wt) AS BIGINT) AS n_tokens,
                    min(h) AS mh
             FROM draws GROUP BY 1, 2)
    SELECT lang, doc_id, n_tokens, CAST(rn AS BIGINT) AS pos FROM (
      SELECT lang, doc_id, n_tokens, mh,
             row_number() OVER (PARTITION BY lang
                                ORDER BY mh, doc_id) AS rn
      FROM keys) t
    WHERE rn <= 20
    """


@query("weighted_sample_docs", _WSAMPLE_ORACLE)
def q_weighted_sample_docs(spark, sf_dir):
    """C127: per language, 20 documents sampled WITHOUT replacement
    with inclusion order exactly proportional to token count
    (operators/curation.weighted_sample) — the quality-/size-weighted
    selection step of curation, deterministic and reproducible from
    the seed. Integer keys end-to-end (min of w seeded 48-bit md5
    draws per item; the k smallest per group via grouped_exact_ranks'
    two-level histogram rank — no group-sized window), so DuckDB
    re-derives the sample, its weights, and its inclusion ORDER
    bit-exactly; the statistical weight-proportionality is pinned
    separately over 120 seeds in tests/test_curation.py."""
    d = load(spark, sf_dir, "documents")
    words = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != "")
    base = d.select("doc_id", "lang", F.size(words).cast("long").alias("n_tokens"))
    return weighted_sample(
        base, 20, "n_tokens", ("lang",), key_col="doc_id", seed=42
    )
