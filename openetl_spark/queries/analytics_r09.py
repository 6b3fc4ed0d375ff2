"""r09 analytics queries: truss decomposition (max-k per edge),
multi-level Louvain (guarded move -> refine -> contract loop), and the
incremental containment join — VERDICT r08 next-round items #3/#4/#5.

Importing this module REGISTERS its queries into the shared
QUERIES/ORACLE registries (openetl_spark.queries.base); it is loaded
LAST by openetl_spark.catalog so all pre-existing names keep their
registration order.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from openetl_spark.operators import curation as C
from openetl_spark.operators import dedup as DD
from openetl_spark.operators import graph as G
from openetl_spark.queries.analytics_r06 import CO_PURCHASE_CTE
from openetl_spark.queries.analytics_r07 import (
    CO_PURCHASE_W_CTE,
    LPA_ORACLE_LABELS,
    LPA_SIG_SQL,
    _graph_layout,
    _lpa_layout,
)
from openetl_spark.queries.base import _repo_root, load, query
from openetl_spark.queries.dedup_text import shingle_cte

# ---------------------------------------------------------------------
# C128 — truss decomposition: max k per edge (VERDICT r08 #5).
# ---------------------------------------------------------------------


def trussness_oracle(max_k: int, rounds: int) -> str:
    """Unrolled peel-LADDER oracle: for each k = 3..max_k, ``rounds``
    peel iterations (the ktruss_oracle triple per round, MATERIALIZED),
    then the level's peeled set gets trussness k-1 via NOT EXISTS
    against the level's survivors; edges standing at max_k report the
    CAP. Exactly the operator's bounded-round ladder, so converged or
    not the two engines compute the same relation."""
    base = f"""
WITH {CO_PURCHASE_W_CTE},
b3 AS MATERIALIZED (SELECT x AS a, y AS b FROM cow WHERE w >= 2)"""
    prev_base = "b3"
    peels = []
    for k in range(3, max_k + 1):
        prev = prev_base
        for i in range(1, rounds + 1):
            nm = f"k{k}r{i}"
            base += f""",
sym_{nm} AS MATERIALIZED (SELECT a AS u, b AS v FROM {prev}
         UNION ALL SELECT b AS u, a AS v FROM {prev}),
sup_{nm} AS MATERIALIZED (
  SELECT e.a, e.b, count(*) AS s
  FROM {prev} e
  JOIN sym_{nm} n1 ON n1.u = e.a
  JOIN sym_{nm} n2 ON n2.u = e.b AND n2.v = n1.v
  GROUP BY 1, 2),
{nm} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev} e
  JOIN sup_{nm} s ON s.a = e.a AND s.b = e.b AND s.s >= {k - 2})"""
            prev = nm
        base += f""",
peel{k} AS (
  SELECT p.a, p.b, CAST({k - 1} AS INT) AS trussness FROM {prev_base} p
  WHERE NOT EXISTS (SELECT 1 FROM {prev} s WHERE s.a = p.a AND s.b = p.b))"""
        peels.append(f"SELECT a, b, trussness FROM peel{k}")
        prev_base = prev
    sel = "\nUNION ALL ".join(peels)
    return base + f"""
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, trussness FROM (
{sel}
UNION ALL SELECT a, b, CAST({max_k} AS INT) AS trussness FROM {prev_base}) t
"""


@query("trussness_parts", trussness_oracle(4, 6))
def q_trussness_parts(spark, sf_dir):
    """C128 (VERDICT r08 #5): truss DECOMPOSITION of the
    repeat-co-purchase graph (operators/graph.trussness) — the maximum
    k with each edge inside the k-truss, the edge-analog of k-core's
    in-core degree and the form a real user asks for ("how cohesive is
    each edge") rather than ktruss_core's single-k membership. The
    peel ladder runs k = 3..4 with 6 bounded rounds per level
    (converges at every test SF — measured; sf0.001's denser w>=2
    graph needs 5-6 rounds where sf0.01 needs 2); survivors at the
    max_k=4 cap report 4 (present at sf0.001, absent at sf0.01+). The
    oracle unrolls the identical ladder, so the capped output is
    bit-checkable either way."""
    from openetl_spark.queries.analytics_r07 import _triangle_layout

    _, edges_w_path = _graph_layout(spark, sf_dir)
    e2 = (
        spark.read.parquet(edges_w_path)
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )
    # Level 3 round 1 peels the pristine core — seed its enumeration
    # from the persisted triangle layout (r10).
    seed = spark.read.parquet(_triangle_layout(spark, sf_dir, core=True))
    return G.trussness(e2, max_k=4, max_rounds=6, seed_triangles=seed)


# ---------------------------------------------------------------------
# C129 — multi-level Louvain (VERDICT r08 #3): the full Blondel loop,
# every step guarded by the exact-integer modularity key 4mI - S.
# ---------------------------------------------------------------------


def _qkey_sql(lab: str) -> str:
    """The exact-integer modularity ordering key 4m*I - S of partition
    CTE ``lab`` over the shared co/deg/m prefix — for fixed m, Q =
    I/m - S/4m^2 orders exactly as this bigint (the louvain_refine
    guard), so no float ever decides a guard."""
    return (
        f"(SELECT 4 * (SELECT m FROM m) * "
        f"(SELECT CAST(count(*) AS BIGINT) FROM co c "
        f"JOIN {lab} pa ON c.x = pa.node JOIN {lab} pb ON c.y = pb.node "
        f"WHERE pa.label = pb.label) "
        f"- (SELECT CAST(coalesce(sum(dsum * dsum), 0) AS BIGINT) FROM ("
        f"SELECT CAST(sum(d.d) AS BIGINT) AS dsum FROM {lab} l "
        f"JOIN deg d USING (node) GROUP BY l.label) t))"
    )


def _move_pass_sql(lab: str, o: str) -> str:
    """One synchronous unweighted local-move pass from partition
    ``lab`` -> partition CTE ``o`` (the louvain_communities oracle
    body, factored so the multilevel oracle can reuse it)."""
    return f""",
stot_{o} AS (SELECT l.label AS c, CAST(sum(d.d) AS BIGINT) AS st
        FROM {lab} l JOIN deg d USING (node) GROUP BY 1),
kic_{o} AS (SELECT s.u AS node, l.label AS c, CAST(count(*) AS BIGINT) AS k
        FROM sym s JOIN {lab} l ON s.v = l.node GROUP BY 1, 2),
cand_{o} AS (SELECT node, c, max(k) AS k FROM (
        SELECT node, c, k FROM kic_{o}
        UNION ALL SELECT node, label AS c, CAST(0 AS BIGINT) AS k FROM {lab}) t
        GROUP BY 1, 2),
sc_{o} AS (SELECT cand.node, cand.c,
        2 * m.m * cand.k - d.d * (st.st - CASE WHEN cand.c = l0.label
                                               THEN d.d ELSE 0 END) AS score
        FROM cand_{o} cand
        JOIN deg d ON cand.node = d.node
        JOIN {lab} l0 ON cand.node = l0.node
        JOIN stot_{o} st ON cand.c = st.c, m),
{o} AS MATERIALIZED (SELECT node, CAST(c AS BIGINT) AS label FROM (
        SELECT node, c, row_number() OVER (PARTITION BY node
                       ORDER BY score DESC, c) AS rn FROM sc_{o}) t
        WHERE rn = 1)"""


def _guard_sql(cur: str, prop: str, g: str, out: str) -> str:
    """Keep ``prop`` only on STRICT exact-integer Q improvement over
    ``cur`` (the louvain_refine guard as a conditional relation)."""
    return f""",
{g} AS (SELECT ({_qkey_sql(prop)}) > ({_qkey_sql(cur)}) AS better),
{out} AS MATERIALIZED (
  SELECT node, label FROM {prop} WHERE (SELECT better FROM {g})
  UNION ALL
  SELECT node, label FROM {cur} WHERE NOT (SELECT better FROM {g}))"""


def _refine_sql(lab: str, lvl: int) -> str:
    """One refine level from partition ``lab``: contract by it
    (supernode = label, weights = inter-community edge counts,
    self-loops = internal counts), one SWAP-GUARDED weighted move pass
    from singleton supernodes (candidates restricted to c <= own — the
    Grappolo minimum-label rule the operator applies), project back ->
    prj_L{lvl}."""
    o = f"L{lvl}"
    return f""",
sup_{o} AS MATERIALIZED (
  SELECT least(la.label, lb.label) AS a, greatest(la.label, lb.label) AS b,
         CAST(count(*) AS BIGINT) AS w
  FROM co c JOIN {lab} la ON c.x = la.node JOIN {lab} lb ON c.y = lb.node
  GROUP BY 1, 2),
wsym_{o} AS (SELECT a AS u, b AS v, w FROM sup_{o} WHERE a <> b
       UNION ALL SELECT b AS u, a AS v, w FROM sup_{o} WHERE a <> b),
wm_{o} AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM sup_{o}),
wdeg_{o} AS (SELECT node, CAST(sum(dd) AS BIGINT) AS d FROM (
        SELECT u AS node, w AS dd FROM wsym_{o}
        UNION ALL SELECT a AS node, 2 * w AS dd FROM sup_{o} WHERE a = b) t
        GROUP BY 1),
wcand_{o} AS (SELECT node, c, max(k) AS k FROM (
        SELECT u AS node, v AS c, CAST(sum(w) AS BIGINT) AS k
        FROM wsym_{o} WHERE v <= u GROUP BY 1, 2
        UNION ALL SELECT node, node AS c, CAST(0 AS BIGINT) AS k
        FROM wdeg_{o}) t
        GROUP BY 1, 2),
wsc_{o} AS (SELECT cand.node, cand.c,
        2 * m.m * cand.k - di.d * (dc.d - CASE WHEN cand.c = cand.node
                                               THEN di.d ELSE 0 END) AS score
        FROM wcand_{o} cand
        JOIN wdeg_{o} di ON cand.node = di.node
        JOIN wdeg_{o} dc ON cand.c = dc.node, wm_{o} m),
wmv_{o} AS MATERIALIZED (SELECT node, label FROM (
        SELECT node, c AS label, row_number() OVER (PARTITION BY node
               ORDER BY score DESC, c) AS rn FROM wsc_{o}) t WHERE rn = 1),
prj_{o} AS MATERIALIZED (
  SELECT l.node, w.label FROM {lab} l JOIN wmv_{o} w ON l.label = w.node)"""


def louvain_multilevel_oracle(levels: int = 2) -> str:
    """The full multi-level loop unrolled: persisted LPA seed -> one
    guarded unweighted move pass -> ``levels`` x (contract +
    swap-guarded singleton weighted move + project + guard). Every
    guard is the exact-integer key, so which branch each level takes
    is itself bit-checked cross-engine."""
    sql = f"""
WITH {CO_PURCHASE_CTE},
sym AS (SELECT x AS u, y AS v FROM co UNION ALL SELECT y AS u, x AS v FROM co),
deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM co),
lab0 AS MATERIALIZED (
  SELECT node, label FROM read_parquet('{LPA_ORACLE_LABELS}')
  WHERE graph_sig = ({LPA_SIG_SQL}) AND rounds = 4)"""
    sql += _move_pass_sql("lab0", "mv0")
    sql += _guard_sql("lab0", "mv0", "g0", "lab1")
    cur = "lab1"
    for lvl in range(1, levels + 1):
        sql += _refine_sql(cur, lvl)
        nxt = f"lab{lvl + 1}"
        sql += _guard_sql(cur, f"prj_L{lvl}", f"g{lvl}", nxt)
        cur = nxt
    return sql + f"""
SELECT node, CAST(label AS BIGINT) AS label FROM {cur}
"""


@query("louvain_multilevel", louvain_multilevel_oracle(2))
def q_louvain_multilevel(spark, sf_dir):
    """C129 (VERDICT r08 #3): the FULL multi-level Louvain loop
    (operators/graph.louvain_multilevel, Blondel et al. 2008) over the
    co-purchase graph, seeded from the same persisted 4-round LPA
    partition louvain_communities starts from: one guarded synchronous
    local-move pass, then two contract-and-refine levels (each a
    swap-guarded weighted move on the contracted supergraph, projected
    back, kept only on STRICT exact-integer Q improvement). Q-monotone
    by construction — tests assert Q(multilevel) >= Q(one-pass) — and
    fully deterministic, so the oracle unrolls the identical loop
    INCLUDING which branch every guard takes."""
    labels_path, edges_path = _lpa_layout(spark, sf_dir, rounds=4)
    return G.louvain_multilevel(
        spark.read.parquet(edges_path),
        spark.read.parquet(labels_path),
        levels=2,
    )


# ---------------------------------------------------------------------
# C130 — incremental containment join (VERDICT r08 #4): quotation
# duplication ON ARRIVAL, the modality that had no incremental twin.
# ---------------------------------------------------------------------

_CI_BUCKET = C.hash_bucket_sql("doc_id", 100)


def containment_incremental_oracle(cut: int, num: int, den: int, n: int) -> str:
    """Brute-force directed containment with the incremental side
    rules: contained side NEW only (bucket >= cut); container side an
    INDEX doc (any id) or a smaller-id NEW doc; per flagged doc the
    partner is the smallest qualifying container (the operator's
    min-struct order)."""
    return f"""
    WITH {shingle_cte(n)},
    sh2 AS (SELECT doc_id AS id, s AS tok FROM sh WHERE s <> ''),
    side AS (SELECT doc_id AS id, ({_CI_BUCKET}) < {cut} AS is_index
             FROM documents),
    sizes AS (SELECT id, count(*) AS n FROM sh2 GROUP BY 1),
    inter AS (SELECT x.id AS a, y.id AS b, count(*) AS c
              FROM sh2 x JOIN sh2 y ON x.tok = y.tok AND x.id <> y.id
              GROUP BY 1, 2),
    pairs AS (
      SELECT inter.a, inter.b, round(inter.c / sa.n, 6) AS containment
      FROM inter
      JOIN sizes sa ON sa.id = inter.a
      JOIN side ba ON ba.id = inter.a
      JOIN side bb ON bb.id = inter.b
      WHERE NOT ba.is_index AND (bb.is_index OR inter.b < inter.a)
        AND {den} * inter.c >= {num} * sa.n),
    agg AS (SELECT a, CAST(count(*) AS BIGINT) AS n_containers,
                   min(b) AS contained_in
            FROM pairs GROUP BY 1)
    SELECT CAST(agg.a AS BIGINT) AS doc_id, agg.n_containers,
           CAST(agg.contained_in AS BIGINT) AS contained_in, p.containment
    FROM agg JOIN pairs p ON p.a = agg.a AND p.b = agg.contained_in
    """


@query("containment_incremental", containment_incremental_oracle(50, 4, 5, 5))
def q_containment_incremental(spark, sf_dir):
    """C130 (VERDICT r08 #4): directed containment dedup ON ARRIVAL
    (operators/dedup.containment_incremental) — the md5-bucket lower
    half of the corpus is the persisted prepare_ppjoin_index (its
    ``arr`` serves the container role; index text never re-read), the
    upper half arrives as the batch and every NEW doc >= 4/5 contained
    in an index doc or an earlier new doc is flagged. Lossless: the
    contained side's rarest-first prefix under the FROZEN index-half
    dictionary (unseen batch tokens rank at f = 0) must share a token
    with any qualifying container, so the exact brute-force oracle is
    the full answer. index x index pairs are never enumerated."""
    d = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    bucket = C.hash_bucket(F.col("doc_id"), 100)
    idx = d.filter(bucket < 50).withColumnRenamed("doc_id", "id")
    new = d.filter(bucket >= 50).withColumnRenamed("doc_id", "id")
    dic = DD.ppjoin_dictionary(idx, "text", n=5)
    prep = DD.prepare_ppjoin_index(idx, "id", "text", dic, 4, 5, n=5)
    fl = DD.containment_incremental(new, prep, dic, "id", "text", 4, 5, n=5)
    return fl.select(
        F.col("id").alias("doc_id"),
        "n_containers",
        "contained_in",
        "containment",
    )


# ---------------------------------------------------------------------
# C131 — AMS tug-of-war F2 sketch: self-join-size estimation, the
# sixth mergeable sketch family (and the deterministic counter-point
# to the KLL decision in SCALE.md — AMS state is a SUM, so Spark's
# unpinned merge trees cannot perturb it).
# ---------------------------------------------------------------------

from openetl_spark.operators import sketches as SK  # noqa: E402

_AMS_SEED, _AMS_K, _AMS_GROUPS = 42, 63, 9
_AMS_SIGN = (
    "CASE WHEN CAST('0x' || substr(md5('"
    + str(_AMS_SEED)
    + ":' || CAST(i AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR)), 1, 15)"
    " AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END"
)

_AMS_CELLS_SQL = f"""
    SELECT CAST(i AS INT) AS i, CAST(sum({_AMS_SIGN}) AS BIGINT) AS c
    FROM orders, UNNEST(generate_series(0, {_AMS_K - 1})) AS t(i)
    WHERE o_custkey IS NOT NULL
    GROUP BY 1
    """


@query("ams_cells", _AMS_CELLS_SQL)
def q_ams_cells(spark, sf_dir):
    """C131: the AMS tug-of-war counter relation over orders.o_custkey
    (operators/sketches.ams_cells, Alon-Matias-Szegedy 1996) — 63
    counters c_i = Σ_v s_i(v)·f_v with md5-derived ±1 signs, E[c_i²] =
    F₂ = the column's SELF-JOIN SIZE. Every cell is an exact bigint
    sum of ±1 terms, so the FULL relation is bit-checkable in DuckDB,
    per-batch cells merge by elementwise addition (linearity;
    merge-law property-tested), and a streaming twin appends cell
    logs. One posexplode of a 63-sign array; the corpus is touched
    once."""
    # spread=True: the 63-sign explode is CPU-dense per row and the
    # single-file local scan otherwise lands on ONE task (measured
    # 12 s -> sub-second at sf0.1); production multi-split scans pass
    # through shuffle-free (the conditional-spread contract).
    o = load(spark, sf_dir, "orders", spread=True)
    return SK.ams_cells(o, "o_custkey", k=_AMS_K, seed=_AMS_SEED)


_AMS_GSZ = _AMS_K // _AMS_GROUPS

_AMS_REPORT_SQL = f"""
    WITH cells AS ({_AMS_CELLS_SQL}),
    grp AS (SELECT i // {_AMS_GSZ} AS g, CAST(sum(c * c) AS BIGINT) AS s
            FROM cells GROUP BY 1),
    med AS (SELECT s FROM grp ORDER BY s LIMIT 1 OFFSET {_AMS_GROUPS // 2}),
    ex AS (SELECT CAST(sum(cnt * cnt) AS BIGINT) AS f2,
                  CAST(sum(cnt) AS BIGINT) AS n_rows,
                  CAST(count(*) AS BIGINT) AS n_distinct
           FROM (SELECT count(*) AS cnt FROM orders
                 WHERE o_custkey IS NOT NULL GROUP BY o_custkey) t)
    SELECT ex.f2 AS f2_exact, med.s / {_AMS_GSZ} AS f2_estimate,
           ex.n_rows, ex.n_distinct
    FROM ex, med
    """


@query("ams_f2_report", _AMS_REPORT_SQL)
def q_ams_f2_report(spark, sf_dir):
    """C131: the exact self-join size of orders.o_custkey NEXT TO the
    AMS estimate read from the same 63-counter cells
    (kmv_intersection_report's exact-beside-estimate discipline):
    median of 9 group-sums of c_i², divided by the group size — the
    one float in the row is that single IEEE division of two exact
    integers, so the report hash-matches bit-for-bit. At 100 TB the
    exact arm is ONE grouped count (the aggregation the optimizer
    would have to run anyway to know the truth); the estimate arm
    reads 63 cells."""
    o = load(spark, sf_dir, "orders", spread=True).filter(
        F.col("o_custkey").isNotNull()
    )
    cells = SK.ams_cells(o, "o_custkey", k=_AMS_K, seed=_AMS_SEED)
    est = SK.ams_f2_estimate(cells, groups=_AMS_GROUPS)
    cnt = o.groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    exact = cnt.agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("f2_exact"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_distinct"),
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "f2_exact", "f2_estimate", "n_rows", "n_distinct"
    )


# ---------------------------------------------------------------------
# C132 — q-digest: the DETERMINISTIC mergeable quantile summary (the
# alternative the KLL decision in SCALE.md names, delivered): document
# token-length quantile ranks with guaranteed error n·L/σ.
# ---------------------------------------------------------------------

_QD_L, _QD_SIGMA = 12, 32
_QD_PROBES = [32, 64, 128, 256, 512]


def _qdigest_cells_sql(log_universe: int, sigma: int) -> str:
    """Unrolled compress-sweep oracle: leaf counts of the documents'
    token lengths, then L bottom-up fold levels — each a pooled
    child-sum per parent, the t = n div sigma fold decision, and the
    three-way reassembly (untouched / kept children / folded parents).
    Pure integer arithmetic; MATERIALIZED per level (each cur feeds
    three readers)."""
    big = 1 << log_universe
    sql = f"""lens AS (
      SELECT len(list_filter(string_split_regex(trim(text), '\\s+'),
                 x -> x <> '')) AS x
      FROM documents WHERE text IS NOT NULL),
    nrel AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lens),
    cur{log_universe} AS MATERIALIZED (
      SELECT CAST(x + {big} AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS c
      FROM lens GROUP BY 1)"""
    for lvl in range(log_universe, 0, -1):
        lo, hi = 1 << lvl, 1 << (lvl + 1)
        sql += f""",
ch{lvl} AS (SELECT v, c FROM cur{lvl} WHERE v >= {lo} AND v < {hi}),
rest{lvl} AS (SELECT v, c FROM cur{lvl} WHERE v < {lo} OR v >= {hi}),
dec{lvl} AS (
  SELECT p.p, p.s, COALESCE(r.c, 0) AS pc,
         p.s + COALESCE(r.c, 0) < (SELECT n // {sigma} FROM nrel) AS fold
  FROM (SELECT v // 2 AS p, CAST(sum(c) AS BIGINT) AS s
        FROM ch{lvl} GROUP BY 1) p
  LEFT JOIN rest{lvl} r ON r.v = p.p),
cur{lvl - 1} AS MATERIALIZED (
  SELECT v, c FROM rest{lvl} r
  WHERE NOT EXISTS (SELECT 1 FROM dec{lvl} d WHERE d.fold AND d.p = r.v)
  UNION ALL
  SELECT v, c FROM ch{lvl} x
  WHERE NOT EXISTS (SELECT 1 FROM dec{lvl} d WHERE d.fold AND d.p = x.v // 2)
  UNION ALL
  SELECT CAST(p AS BIGINT) AS v, CAST(s + pc AS BIGINT) AS c
  FROM dec{lvl} WHERE fold)"""
    return sql


_QD_CELLS_SQL = f"""
    WITH {_qdigest_cells_sql(_QD_L, _QD_SIGMA)}
    SELECT v, c FROM cur0
    """


def _doc_token_lengths(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    words = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != "")
    return d.select(F.size(words).alias("x"))


@query("qdigest_cells", _QD_CELLS_SQL)
def q_qdigest_cells(spark, sf_dir):
    """C132: q-digest cells of the documents' token-length
    distribution (operators/sketches.qdigest_cells, Shrivastava et al.
    SenSys 2004) — the guaranteed-rank-error mergeable quantile
    summary whose state is a pure function of the frequency MULTISET
    (leaf counts + a deterministic bottom-up fold sweep), i.e. the
    determinism KLL/GK cannot offer under Spark's unpinned merge trees
    (SCALE.md r09, decision now DELIVERED as its named alternative).
    Universe 2^12 token lengths, sigma=32: kilobyte cell relation,
    ranks within n·12/32 of exact. The oracle unrolls the identical
    12-level sweep; every cell is exact bigint."""
    return SK.qdigest_cells(
        _doc_token_lengths(spark, sf_dir), "x", _QD_L, _QD_SIGMA
    )


_QD_RANK_SQL = f"""
    WITH {_qdigest_cells_sql(_QD_L, _QD_SIGMA)},
    anno AS (
      SELECT c,
             (v - (CAST(1 AS BIGINT) << (length(ltrim(bin(v), '0')) - 1)))
               * (CAST(1 AS BIGINT) << ({_QD_L} - (length(ltrim(bin(v), '0')) - 1))) AS lo,
             (v - (CAST(1 AS BIGINT) << (length(ltrim(bin(v), '0')) - 1)) + 1)
               * (CAST(1 AS BIGINT) << ({_QD_L} - (length(ltrim(bin(v), '0')) - 1))) AS hi
      FROM cur0),
    probes AS (SELECT CAST(q AS BIGINT) AS q
               FROM UNNEST({_QD_PROBES}) AS t(q)),
    bounds AS (
      SELECT q,
             CAST(sum(CASE WHEN hi <= q THEN c ELSE 0 END) AS BIGINT) AS rank_lo,
             CAST(sum(CASE WHEN hi <= q OR (lo < q AND q < hi)
                           THEN c ELSE 0 END) AS BIGINT) AS rank_hi
      FROM probes, anno GROUP BY 1),
    exact AS (
      SELECT p.q, CAST(count(*) FILTER (WHERE l.x < p.q) AS BIGINT) AS rank_exact
      FROM probes p, lens l GROUP BY 1)
    SELECT b.q, b.rank_lo, e.rank_exact, b.rank_hi,
           (b.rank_lo <= e.rank_exact AND e.rank_exact <= b.rank_hi) AS in_bounds
    FROM bounds b JOIN exact e ON b.q = e.q
    """


@query("qdigest_rank_report", _QD_RANK_SQL)
def q_qdigest_rank_report(spark, sf_dir):
    """C132: exact token-length ranks beside the q-digest rank BOUNDS
    at five fixed probes (the exact-next-to-estimate report
    discipline): rank_lo = mass of digest nodes entirely below the
    probe, rank_hi adds the straddling nodes, and the digest property
    guarantees rank_lo <= exact <= rank_hi with width <= 12·(n div
    32). Everything is exact integer arithmetic (depths from bit
    lengths, widths from shifts), so the report — in_bounds booleans
    included — hash-matches bit-for-bit. At 100 TB the digest arm
    reads a kilobyte relation; the exact arm is the one grouped count
    it replaces."""
    lens = _doc_token_lengths(spark, sf_dir).localCheckpoint()
    cells = SK.qdigest_cells(lens, "x", _QD_L, _QD_SIGMA)
    probes = lens.sparkSession.createDataFrame(
        [(q,) for q in _QD_PROBES], "q long"
    )
    bounds = SK.qdigest_rank_bounds(cells, _QD_L, probes)
    q = F.col("q").cast("long")
    exact = (
        probes.crossJoin(lens)
        .groupBy("q")
        .agg(
            F.sum(F.when(F.col("x") < q, 1).otherwise(0))
            .cast("bigint")
            .alias("rank_exact")
        )
    )
    return bounds.join(exact, "q").select(
        "q",
        "rank_lo",
        "rank_exact",
        "rank_hi",
        (
            (F.col("rank_lo") <= F.col("rank_exact"))
            & (F.col("rank_exact") <= F.col("rank_hi"))
        ).alias("in_bounds"),
    )


# ---------------------------------------------------------------------
# C133 — deterministic seeded random walks (node2vec/DeepWalk sampling
# primitive, cross-engine reproducible).
# ---------------------------------------------------------------------

_RW_SEED, _RW_LEN = 42, 6

# Process-local "verified this corpus already" memo (the
# _GRAPH_LAYOUT_VERIFIED discipline).
_WALKS_VERIFIED: set[str] = set()


def _walks_layout(spark, sf_dir: str) -> str:
    """Get-or-build the persisted walk corpus for one testdata corpus:
    run the 6-step seeded walks ONCE (offline sample), persist the
    (walker, step, node) relation, and let every consumer — the walk
    corpus query AND the skip-gram pair relation — read the artifact
    (the _graph_layout offline-build/online-query posture; measured
    ~7-8 s of iterative rounds per consumer per bench pass at sf0.1
    before this, ×2 consumers). The walks are a pure function of
    (graph, starts, seed), so the artifact is exactly what a re-run
    would produce; both consumers' oracles still re-derive the walks
    from lineitem/part from scratch, so a stale or corrupt artifact
    cannot hash-match anything. Meta (written LAST = build complete)
    records the corpus fingerprint + walk parameters and is verified
    once per process per corpus; a mismatch rebuilds."""
    import json
    import os
    import shutil

    repo = _repo_root()
    key = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(repo, "spark-warehouse", "walks_cache", key)
    walks_path = os.path.join(root, "walks")
    meta_path = os.path.join(root, "meta.json")
    want = {"length": _RW_LEN, "seed": _RW_SEED}
    if os.path.exists(meta_path) and key not in _WALKS_VERIFIED:
        meta = json.load(open(meta_path))
        rows = load(spark, sf_dir, "lineitem").count()
        parts = load(spark, sf_dir, "part").count()
        if (
            meta.get("lineitem_rows") != rows
            or meta.get("part_rows") != parts
            or {k: meta.get(k) for k in want} != want
        ):
            shutil.rmtree(root, ignore_errors=True)  # stale: rebuild
    if not os.path.exists(meta_path):
        edges_path, _ = _graph_layout(spark, sf_dir)
        edges = spark.read.parquet(edges_path)
        starts = (
            load(spark, sf_dir, "part")
            .filter(F.col("p_brand") == "Brand#13")
            .select("p_partkey")
        )
        walks = G.random_walks(edges, starts, length=_RW_LEN, seed=_RW_SEED)
        # The corpus is walkers × (length+1) rows — kilobytes; no
        # explicit-width spread needed (contrast the ~20 MB edge
        # relation).
        walks.write.mode("overwrite").parquet(walks_path)
        os.makedirs(root, exist_ok=True)
        json.dump(
            {
                **want,
                "lineitem_rows": load(spark, sf_dir, "lineitem").count(),
                "part_rows": load(spark, sf_dir, "part").count(),
            },
            open(meta_path, "w"),
        )
    _WALKS_VERIFIED.add(key)
    return walks_path


def _random_walks_ctes(length: int, seed: int) -> str:
    """The unrolled walk-step CTE chain ending in a ``walks(walker,
    step, node)`` relation — shared by the walk-corpus oracle and the
    skip-gram pair oracle (the jaccard_ctes single-source
    discipline)."""
    sql = f"""
WITH {CO_PURCHASE_CTE},
sym AS MATERIALIZED (SELECT x AS u, y AS v FROM co
        UNION ALL SELECT y AS u, x AS v FROM co),
w0 AS MATERIALIZED (
  SELECT p_partkey AS walker, p_partkey AS node FROM part
  WHERE p_brand = 'Brand#13')"""
    steps = ["SELECT CAST(walker AS BIGINT) AS walker, CAST(0 AS INT) AS step,"
             " CAST(node AS BIGINT) AS node FROM w0"]
    for t in range(1, length + 1):
        sql += f""",
w{t} AS MATERIALIZED (
  SELECT walker, node FROM (
    SELECT p.walker, s.v AS node,
           row_number() OVER (PARTITION BY p.walker ORDER BY
             CAST('0x' || substr(md5('{seed}:' || CAST(p.walker AS VARCHAR)
               || ':{t}:' || CAST(p.node AS VARCHAR) || ':'
               || CAST(s.v AS VARCHAR)), 1, 15) AS BIGINT), s.v) AS rn
    FROM w{t - 1} p JOIN sym s ON s.u = p.node) t
  WHERE rn = 1)"""
        steps.append(
            f"SELECT CAST(walker AS BIGINT) AS walker, CAST({t} AS INT) AS step,"
            f" CAST(node AS BIGINT) AS node FROM w{t}"
        )
    return sql + f""",
walks AS ({chr(10).join(['  ' + s if i == 0 else 'UNION ALL ' + s for i, s in enumerate(steps)])})"""


def _random_walks_oracle(length: int, seed: int) -> str:
    return (
        _random_walks_ctes(length, seed)
        + "\nSELECT walker, step, node FROM walks\n"
    )


@query("graph_random_walks", _random_walks_oracle(_RW_LEN, _RW_SEED))
def q_graph_random_walks(spark, sf_dir):
    """C133: 6-step seeded random walks from every Brand#13 part over
    the co-purchase graph (operators/graph.random_walks) — the
    node2vec/DeepWalk sampling primitive with a determinism contract:
    step t moves to the neighbor minimizing md5(seed, walker, t, u, v),
    a uniform neighbor choice in distribution over seeds yet a pure
    function of (graph, starts, seed) — so the full walk corpus
    hash-matches DuckDB's unrolled rendering, and a re-run (or a task
    retry, or a different partitioning) reproduces it bit-for-bit,
    which no rand()-based sampler does. Per step: one frontier⋈edges
    join + a min_by partial agg (the bfs_hops round shape with walker
    identity carried). Late r09: the walk corpus is sampled ONCE and
    persisted (_walks_layout — the offline-sample/online-train
    posture); this query and the skip-gram consumer read the
    artifact, while the oracle still re-derives every step from
    lineitem/part, so a stale artifact cannot hash-match."""
    return spark.read.parquet(_walks_layout(spark, sf_dir))


# ---------------------------------------------------------------------
# C134 — landmark harmonic centrality (Boldi-Vigna "Axioms for
# Centrality"): multi-source BFS with source identity carried, the
# centrality estimator that stays well-defined on this DISCONNECTED
# w>=2 core (unreachable pairs contribute 0, not infinity). Exact
# integers throughout: reciprocals rendered against lcm(1..6) = 60.
# ---------------------------------------------------------------------

# The w>=2 repeat-co-purchase core + its 16 md5-smallest landmark
# nodes — the deterministic cross-engine pivot-selection rule (the
# portable-hash discipline; md5 of the node id orders identically in
# both engines, and the explicit node tiebreak is unreachable since
# ids are distinct).
_CORE_LM_CTES = f"""{CO_PURCHASE_W_CTE},
core AS MATERIALIZED (SELECT x AS a, y AS b FROM cow WHERE w >= 2),
sym AS MATERIALIZED (SELECT a AS u, b AS v FROM core
        UNION ALL SELECT b AS u, a AS v FROM core),
vtx AS (SELECT DISTINCT u AS node FROM sym),
lm AS MATERIALIZED (
  SELECT node FROM vtx
  ORDER BY CAST('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 15)
                AS BIGINT), node
  LIMIT 16)"""


def _core_and_landmarks(spark, sf_dir):
    """Spark twin of _CORE_LM_CTES over the persisted graph layout
    (the oracle re-derives core/lm from lineitem, so a stale artifact
    cannot hash-match — the _graph_layout posture)."""
    _, edges_w_path = _graph_layout(spark, sf_dir)
    core = (
        spark.read.parquet(edges_w_path)
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )
    vtx = (
        core.select(F.col("src").alias("node"))
        .union(core.select(F.col("dst").alias("node")))
        .distinct()
    )
    # persist (r12 session 3): lm is 16 rows but its derivation is a
    # corpus-scale distinct + TakeOrdered over the layout — consumers
    # that join it twice (effective_diameter_report's nset/elm arms,
    # the landmark pin joins) re-ran that pass per join. Lazy persist
    # (NOT localCheckpoint: the downstream joins are unhinted and must
    # keep seeing Catalyst's 16-row estimate to stay broadcast).
    lm = (
        vtx.orderBy(
            F.conv(
                F.substring(F.md5(F.col("node").cast("string")), 1, 15), 16, 10
            ).cast("bigint"),
            "node",
        )
        .limit(16)
        .persist()
    )
    return core, lm


@query(
    "harmonic_centrality",
    f"""
    WITH RECURSIVE {_CORE_LM_CTES},
    walk(source, node, hop) AS (
      SELECT node, node, 0 FROM lm
      UNION
      SELECT w.source, s.v, w.hop + 1
      FROM walk w JOIN sym s ON w.node = s.u
      WHERE w.hop < 6),
    d AS (SELECT source, node, min(hop) AS hop
          FROM walk GROUP BY 1, 2)
    SELECT node,
           CAST(sum(60 // hop) AS BIGINT) AS h60,
           CAST(count(*) AS BIGINT) AS n_reached
    FROM d WHERE hop >= 1
    GROUP BY node
    """,
)
def q_harmonic_centrality(spark, sf_dir):
    """C134: landmark-estimated harmonic centrality over the repeat-
    co-purchase core (operators/graph.harmonic_centrality): h60(v) =
    Σ over the 16 md5-smallest landmark nodes of 60/d(landmark, v),
    hop distances from ONE simultaneous multi-source BFS
    (landmark_hops — all landmarks share each round's frontier⋈edges
    join; state O(k·V), the Brandes-Pich pivot estimator shape) and
    every reciprocal exact against the lcm(1..6)=60 denominator — a
    bigint relation, hash-identical cross-engine with no rounding.
    The oracle is the declarative WITH RECURSIVE fixpoint with UNION
    dedup and min(hop), so the test proves the frontier/anti-join
    rounds ≡ the definition (the bfs_hops_parts discipline with the
    source key carried). r10: the hops relation reads from the
    persisted _landmark_hops_layout; the oracle still runs the
    recursive fixpoint from lineitem."""
    core, lm = _core_and_landmarks(spark, sf_dir)
    return G.harmonic_centrality(
        core, lm, max_hops=6, hops=_landmark_hops_layout(spark, sf_dir)
    )


# ---------------------------------------------------------------------
# C135 — HyperBall (Boldi-Vigna ICDMW 2013): the neighborhood-function
# / effective-diameter primitive — per-node HLL ball sketches advanced
# by max-merge along edges. State is a pure function of the graph
# (max is order-free), so the FULL cell relation is bit-exact
# cross-engine; the exact-ball column next to each estimate comes from
# the same landmark BFS as C134.
# ---------------------------------------------------------------------

_HB_P = 6                          # 64 registers per node
_HB_M = 1 << _HB_P
_HB_W = 60 - _HB_P
_HB_MSUF = 1 << _HB_W
_HB_HOPS = 4
# Flajolet alpha for m=64 (operators/sketches._alpha), rendered as
# CAST(repr AS DOUBLE) so both engines compare the same binary double
# (the _HLL_ALPHA_512 literal discipline — DuckDB would otherwise
# parse the bare literal as DECIMAL and carry exact-decimal
# arithmetic one ulp away from the JVM's).
_HB_ALPHA = "CAST(0.709 AS DOUBLE)"


def _hyperball_cells_sql() -> str:
    """The hyperball max-merge rounds unrolled as MATERIALIZED CTEs:
    c0 = each node's own singleton HLL cell; c_t = groupBy-max of
    c_{t-1} ∪ (c_{t-1} pushed across every edge) — the relational
    rendering of B_t(v) = {{v}} ∪ ⋃_nbr B_{{t-1}}(u)."""
    w1 = _HB_W + 1
    sql = f"""c0 AS MATERIALIZED (
  SELECT node, CAST(hh // {_HB_MSUF} AS INT) AS j,
         CAST(CASE WHEN hh % {_HB_MSUF} = 0 THEN {w1}
              ELSE {w1} - length(ltrim(bin(hh % {_HB_MSUF}), '0'))
              END AS INT) AS r
  FROM (SELECT node,
               CAST('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hh
        FROM vtx))"""
    prev = "c0"
    for t in range(1, _HB_HOPS + 1):
        sql += f""",
c{t} AS MATERIALIZED (
  SELECT node, j, max(r) AS r FROM (
    SELECT node, j, r FROM {prev}
    UNION ALL
    SELECT s.u AS node, c.j, c.r
    FROM {prev} c JOIN sym s ON c.node = s.v) m
  GROUP BY 1, 2)"""
        prev = f"c{t}"
    union = "\n    UNION ALL ".join(
        f"SELECT CAST({t} AS INT) AS t, node, j, r FROM c{t}"
        for t in range(_HB_HOPS + 1)
    )
    return sql + f""",
cells AS ({union})"""


def _landmark_hops_layout(spark, sf_dir: str):
    """Get-or-build the persisted landmark-hops relation (source,
    node, hop) for one corpus's w ≥ 2 core at max_hops=6 (r10): the
    multi-source BFS is a pure function of (graph, landmarks), yet
    four consumers (harmonic_centrality, hyperball_report,
    hyperball_harmonic_report, effective_diameter_report) each paid
    the 6-round frontier sweep per invocation (~3.5 s at sf0.1).
    Hop-truncated sub-relations are exact filters (hop ≤ t of the
    6-hop min-distance relation IS the t-hop relation), so one
    artifact serves every max_hops ≤ 6 consumer. Same staleness
    governance as _hyperball_layout (inside the graph_cache root);
    every consumer's oracle re-derives the BFS as a WITH RECURSIVE
    fixpoint from lineitem, so a wrong artifact cannot hash-match."""
    import os

    from openetl_spark.queries.analytics_r07 import (
        _get_or_build_layout,
        _graph_layout,
    )

    edges_path, _ = _graph_layout(spark, sf_dir)
    root = os.path.dirname(edges_path)

    def build():
        core, lm = _core_and_landmarks(spark, sf_dir)
        return G.landmark_hops(core, lm, max_hops=6)

    return spark.read.parquet(
        _get_or_build_layout(spark, root, "landmark_hops_h6", build)
    )


def _hyperball_layout(spark, sf_dir: str):
    """Get-or-build the persisted HyperBall cell relation (t, node,
    j, r) for one corpus's w ≥ 2 core (r10): the cells are a pure
    function of the graph (max-merge is order-free), yet all four
    cell consumers (hyperball_cells / hyperball_report /
    hyperball_harmonic_report / effective_diameter_report) paid the
    4-round max-merge sweep per invocation (~5 s each at sf0.1) —
    the _triangle_layout discipline applied to the sketch state.
    Lives inside the graph_cache/<corpus> root, so _graph_layout's
    fingerprint check (rmtree on staleness) governs it; parquet
    _SUCCESS is the build-complete marker. Every consumer's oracle
    re-derives the cells from lineitem via the unrolled MATERIALIZED
    CTEs, so a wrong artifact cannot hash-match. Returns the cells
    DataFrame."""
    import os

    from openetl_spark.operators import sketches as SK
    from openetl_spark.queries.analytics_r07 import (
        _get_or_build_layout,
        _graph_layout,
    )

    edges_path, _ = _graph_layout(spark, sf_dir)
    root = os.path.dirname(edges_path)

    def build():
        core, _ = _core_and_landmarks(spark, sf_dir)
        return SK.hyperball(core, hops=_HB_HOPS, p=_HB_P)

    return spark.read.parquet(
        _get_or_build_layout(
            spark, root, f"hyperball_h{_HB_HOPS}_p{_HB_P}", build
        )
    )


@query(
    "hyperball_cells",
    f"""
    WITH {_CORE_LM_CTES},
    {_hyperball_cells_sql()}
    SELECT t, node, j, r FROM cells JOIN lm USING (node)
    """,
)
def q_hyperball_cells(spark, sf_dir):
    """C135: HyperBall ball-sketch cells over the repeat-co-purchase
    core (operators/sketches.hyperball, p=6): for t = 0..4, node v's
    sparse HLL registers of B_t(v), advanced per hop by ONE
    cells⋈edges join + groupBy-max (state ≤ V·64 rows per hop at ANY
    scale — the whole point vs the Σ|B_t(v)|-row exact ball relation).
    Max-merge is associative/commutative/idempotent, so the cells are
    a pure function of the graph — bit-identical under any execution
    order, and the oracle re-derives every register from the same
    60-bit md5 arithmetic with the rounds unrolled as MATERIALIZED
    CTEs (the hll_cells FULL-oracle discipline). Output filtered to
    the 16 landmark nodes to keep the driver compare bounded; the
    merge sweep itself runs over the FULL core. r10: the cells read
    from the persisted corpus-keyed layout (_hyperball_layout); the
    oracle still re-derives every register from lineitem."""
    _, lm = _core_and_landmarks(spark, sf_dir)
    cells = _hyperball_layout(spark, sf_dir)
    return cells.join(lm, "node").select("t", "node", "j", "r")


@query(
    "hyperball_report",
    f"""
    WITH RECURSIVE {_CORE_LM_CTES},
    {_hyperball_cells_sql()},
    walk(source, node, hop) AS (
      SELECT node, node, 0 FROM lm
      UNION
      SELECT w.source, s.v, w.hop + 1
      FROM walk w JOIN sym s ON w.node = s.u
      WHERE w.hop < {_HB_HOPS}),
    d AS (SELECT source, node, min(hop) AS hop FROM walk GROUP BY 1, 2),
    exact AS (
      SELECT source AS node, t.t,
             CAST(count(*) FILTER (WHERE hop <= t.t) AS BIGINT) AS n_exact
      FROM d, UNNEST(generate_series(0, {_HB_HOPS})) AS t(t)
      GROUP BY 1, 2),
    est AS (
      SELECT t, node,
             CAST(count(*) AS BIGINT) AS n_set,
             sum(power(2.0, -r)) AS s
      FROM cells JOIN lm USING (node)
      GROUP BY 1, 2),
    fin AS (
      SELECT node, t, n_set,
             CASE WHEN {_HB_ALPHA} * {_HB_M} * {_HB_M} / (s + ({_HB_M} - n_set))
                       <= 2.5 * {_HB_M} AND n_set < {_HB_M}
                  THEN {_HB_M}.0 * ln({_HB_M}.0 / ({_HB_M} - n_set))
                  ELSE {_HB_ALPHA} * {_HB_M} * {_HB_M} / (s + ({_HB_M} - n_set))
                  END AS estimate
      FROM est)
    SELECT f.node, f.t, f.n_set, x.n_exact,
           abs(f.estimate - x.n_exact)
             <= CAST(0.39 AS DOUBLE) * x.n_exact + CAST(3.0 AS DOUBLE)
             AS within_bound
    FROM fin f JOIN exact x ON f.node = x.node AND f.t = x.t
    """,
)
def q_hyperball_report(spark, sf_dir):
    """C135b: the HyperBall estimate path driver-checked — for each of
    the 16 landmarks and each hop t = 0..4, the EXACT ball size
    |B_t(v)| (bigint from the same landmark BFS as C134, hash-pinned
    verbatim) next to the sketch's register occupancy and a boolean
    asserting the Flajolet estimate (with its linear-counting
    small-ball branch) lands within 3σ = 3·1.04/√64 = 39% plus an
    additive 3-count floor — the floor covers the tiny-ball regime
    where one register collision among ≤ 5 hashed ids is worth more
    than 39% (the hll_distinct_report discipline: booleans tolerate
    the one-ulp float-summation-order difference, while an estimator
    bug — wrong α, missing branch, rho off-by-one — flips them red).
    The effective-diameter readout is the smallest t with est(t) ≥
    0.9·est(hops), left as arithmetic over these rows (and r10's
    effective_diameter_report). r10: cells from _hyperball_layout."""
    core, lm = _core_and_landmarks(spark, sf_dir)
    from openetl_spark.operators import sketches as SK

    cells = _hyperball_layout(spark, sf_dir).join(lm, "node")
    est = SK.hll_estimate(cells, p=_HB_P, keys=["t", "node"])
    hops = _landmark_hops_layout(spark, sf_dir).filter(
        F.col("hop") <= _HB_HOPS
    )
    ts = spark.range(_HB_HOPS + 1).select(F.col("id").cast("int").alias("t"))
    exact = (
        hops.crossJoin(F.broadcast(ts))
        .filter(F.col("hop") <= F.col("t"))
        .groupBy(F.col("source").alias("node"), "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    )
    return (
        est.join(exact, ["node", "t"])
        .select(
            "node",
            "t",
            F.col("n_registers_set").cast("bigint").alias("n_set"),
            "n_exact",
            (
                F.abs(F.col("estimate") - F.col("n_exact"))
                <= 0.39 * F.col("n_exact") + 3.0
            ).alias("within_bound"),
        )
    )


# ---------------------------------------------------------------------
# C136 — DSIR importance selection (Xie et al., NeurIPS 2023): hashed
# unigram+bigram bucket counts, an importance log-ratio dictionary
# fitted once per corpus and persisted as a shared oracle-readable
# artifact (the IVF-centroid discipline), and per-document scores in
# EXACT bigint micro-nats — the float ln lives only in the B-sized
# driver-side fit, never in the per-document path.
# ---------------------------------------------------------------------

_DSIR_B = 1024

# Collision-resistant order-independent corpus digest (the r09
# md5-XOR LPA_SIG_SQL discipline, over the documents relation).
DOC_SIG_SQL = (
    "SELECT CAST(bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) "
    "|| ':' || md5(text)), 1, 15) AS BIGINT)) AS BIGINT) FROM documents"
)

DSIR_ORACLE_RATIOS = "{}/spark-warehouse/dsir_cache/ratios_oracle.parquet".format(
    _repo_root()
)


def _doc_sig(spark, sf_dir) -> int:
    """Spark rendering of DOC_SIG_SQL."""
    d = load(spark, sf_dir, "documents")
    return int(
        d.agg(
            F.expr(
                "cast(bit_xor(cast(conv(substr(md5(concat("
                "cast(doc_id as string), ':', md5(text))), 1, 15), "
                "16, 10) as bigint)) as bigint)"
            )
        ).first()[0]
    )


def _dsir_layout(spark, sf_dir):
    """Get-or-build the DSIR log-ratio dictionary for one corpus
    (target = lang='en' documents, source = the full corpus): fit the
    two hashed-bucket unigram LMs distributed (one groupBy over the
    bucketed feature relation), compute the B integer micro-nat
    log-ratios driver-side (B = 1024 rows — the vocabulary-sized
    boundary collect), and upsert them into the consolidated
    oracle-readable parquet keyed by the corpus digest. Returns the
    (b, r_unats) DataFrame. Both engines then score documents from
    the SAME integer artifact, so a one-ulp libm difference cannot
    exist anywhere in the compare path."""
    import os

    import pandas as pd

    return _dsir_layout_for(
        spark,
        sf_dir,
        DSIR_ORACLE_RATIOS,
        lambda d: d.filter(F.col("lang") == "en").select("doc_id"),
    )


def _dsir_layout_for(spark, sf_dir, path, target_fn):
    """The shared get-or-build DSIR dictionary machinery (r10 review —
    the retarget dictionary previously copy-pasted this body): fit the
    two hashed-bucket LMs with ``target_fn(documents)`` as the target
    slice, persist the integer log-ratios into ``path`` keyed by the
    corpus digest with an ATOMIC temp-file + os.replace() upsert
    (ADVICE r09 — a concurrent process on another corpus can never
    serve DuckDB a torn parquet; a lost race only costs one refit)."""
    import os

    import pandas as pd

    sig = _doc_sig(spark, sf_dir)
    if os.path.exists(path):
        old = pd.read_parquet(path)
        mine = old[(old["corpus_sig"] == sig) & (old["n_buckets"] == _DSIR_B)]
        if len(mine) == _DSIR_B:
            return spark.createDataFrame(
                mine[["b", "r_unats"]].astype("int64")
            )
    d = load(spark, sf_dir, "documents")
    feats = C.dsir_features(d, n_buckets=_DSIR_B)
    totals = C.dsir_bucket_totals(feats, target_fn(d)).collect()
    ratios = C.dsir_log_ratios(totals, _DSIR_B)
    rows = pd.DataFrame(ratios, columns=["b", "r_unats"])
    rows.insert(0, "corpus_sig", sig)
    rows.insert(1, "n_buckets", _DSIR_B)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if os.path.exists(path):
        old = pd.read_parquet(path)
        keep = old[~((old["corpus_sig"] == sig) & (old["n_buckets"] == _DSIR_B))]
        rows = pd.concat([keep, rows], ignore_index=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    rows.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return spark.createDataFrame(
        [(int(b), int(r)) for b, r in ratios], "b bigint, r_unats bigint"
    )


@query(
    "dsir_scores",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
      FROM documents),
    uni AS (SELECT doc_id, unnest(w) AS g FROM toks),
    big AS (
      SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
      FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
      WHERE len(w) >= 2),
    feat AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % {_DSIR_B} AS b,
             count(*) AS f
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
      GROUP BY 1, 2),
    r AS (
      SELECT b, r_unats
      FROM read_parquet('{DSIR_ORACLE_RATIOS}')
      WHERE corpus_sig = ({DOC_SIG_SQL}) AND n_buckets = {_DSIR_B}),
    sc AS (
      SELECT doc_id,
             CAST(sum(f) AS BIGINT) AS n_feats,
             CAST(sum(f * r_unats) AS BIGINT) AS score_unats
      FROM feat JOIN r USING (b)
      GROUP BY 1)
    SELECT doc_id, n_feats, score_unats, score_unats > 0 AS selected
    FROM sc
    """,
)
def q_dsir_scores(spark, sf_dir):
    """C136: DSIR importance scores over the documents corpus
    (operators/curation.dsir_features/dsir_scores): target = the
    lang='en' slice, source = everything; features = hashed word
    unigram+bigram occurrence counts (B=1024 buckets of the portable
    60-bit md5); per-doc score = Σ f_b·r_b in exact bigint micro-nats
    against the persisted log-ratio dictionary (_dsir_layout — fitted
    once per corpus with add-1 smoothing, the IVF-centroid shared-
    artifact discipline, keyed by the md5-XOR corpus digest so a
    stale dictionary cannot hash-match). ``selected`` = importance
    weight > 1, the deterministic top-importance variant of the
    paper's Gumbel resample. The oracle re-derives every feature from
    raw text and scores from the SAME artifact — the one float (ln)
    lives upstream of the shared integers, so the full relation is
    hash-exact. The scale story: the vocabulary never exists as a
    relation (buckets are fixed-width), the dictionary broadcasts at
    kilobytes, and scoring is one explode + two partial aggs per
    document regardless of corpus size."""
    d = load(spark, sf_dir, "documents")
    ratios = _dsir_layout(spark, sf_dir)
    feats = C.dsir_features(d, n_buckets=_DSIR_B)
    return C.dsir_scores(feats, ratios)


@query(
    "walk_skipgram_pairs",
    _random_walks_ctes(_RW_LEN, _RW_SEED)
    + """
SELECT a.node AS u, b.node AS v, CAST(count(*) AS BIGINT) AS n
FROM walks a JOIN walks b
  ON a.walker = b.walker AND a.step <> b.step
 AND abs(a.step - b.step) <= 2
GROUP BY 1, 2
""",
)
def q_walk_skipgram_pairs(spark, sf_dir):
    """C133b: the skip-gram training-pair relation over the C133 walk
    corpus (operators/graph.walk_skipgram_pairs, window=2) — what a
    node2vec/DeepWalk embedding actually trains on: per ordered node
    pair, how often they co-occur within 2 steps on a walk. Because
    the walks are a pure function of (graph, starts, seed), so is this
    relation — exact bigint counts, hash-identical cross-engine
    (contrast any rand()-sampled walk corpus, where the training set
    itself is unreproducible). One walker-keyed self-join with the
    band predicate + a partial-agg count; never touches the graph
    again. Reads the persisted walk corpus (_walks_layout); the
    oracle re-derives every walk step from scratch."""
    walks = spark.read.parquet(_walks_layout(spark, sf_dir))
    return G.walk_skipgram_pairs(walks, window=2)


# ---------------------------------------------------------------------
# C137 — per-node local clustering + link-prediction candidate
# features over the w>=2 core: the two classic graph-ML relations
# next to the triangle census — both all-bigint (the one lcc division
# is IEEE over exact integers, the triangle_stats discipline).
# ---------------------------------------------------------------------


@query(
    "local_clustering",
    f"""
    WITH {_CORE_LM_CTES},
    deg AS (SELECT u AS node, count(*) AS d FROM sym GROUP BY 1),
    npairs AS (
      SELECT s1.u AS node, CAST(count(*) AS BIGINT) AS tri
      FROM sym s1
      JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v
      JOIN core e ON e.a = s1.v AND e.b = s2.v
      GROUP BY 1)
    SELECT d.node, CAST(d.d AS BIGINT) AS d,
           CAST(coalesce(n.tri, 0) AS BIGINT) AS tri,
           CASE WHEN d.d >= 2
                THEN 2.0 * coalesce(n.tri, 0) / (d.d * (d.d - 1))
                ELSE 0.0 END AS lcc
    FROM deg d LEFT JOIN npairs n ON d.node = n.node
    """,
)
def q_local_clustering(spark, sf_dir):
    """C137: Watts-Strogatz local clustering coefficient per node of
    the repeat-co-purchase core (operators/graph.local_clustering):
    the fraction of each node's neighbor pairs that are themselves
    adjacent. The operator explodes the degree-ordered oriented
    triangle relation (each triangle once, O(√m) hub fan-out) to its
    three corners for one partial-agg count — cost is the triangle
    relation, never the Σd² neighbor-pair relation the naive form
    scans; the oracle IS that naive form (adjacent neighbor pairs per
    node), so the test proves oriented ≡ definitional. d and tri are
    exact bigints; lcc = 2·tri/(d·(d−1)) is one IEEE division of
    exact integers — bit-identical cross-engine. r10: the triangle
    relation reads from the persisted core layout (_triangle_layout);
    the oracle still re-derives from lineitem."""
    from openetl_spark.queries.analytics_r07 import _triangle_layout

    core, _ = _core_and_landmarks(spark, sf_dir)
    tri = spark.read.parquet(_triangle_layout(spark, sf_dir, core=True))
    return G.local_clustering(core, triangles=tri)


@query(
    "link_prediction_features",
    f"""
    WITH {_CORE_LM_CTES},
    deg AS (SELECT u AS node, count(*) AS d FROM sym GROUP BY 1),
    cand AS (
      SELECT s1.v AS a, s2.v AS b, CAST(count(*) AS BIGINT) AS cn
      FROM sym s1
      JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v
      WHERE NOT EXISTS (SELECT 1 FROM core e
                        WHERE e.a = s1.v AND e.b = s2.v)
      GROUP BY 1, 2)
    SELECT c.a, c.b, c.cn,
           CAST(da.d * db.d AS BIGINT) AS pa,
           CAST(da.d + db.d - c.cn AS BIGINT) AS jden
    FROM cand c
    JOIN deg da ON da.node = c.a
    JOIN deg db ON db.node = c.b
    """,
)
def q_link_prediction_features(spark, sf_dir):
    """C137b: link-prediction candidate features (Liben-Nowell &
    Kleinberg) over the repeat-co-purchase core
    (operators/graph.link_prediction_features): every NON-edge pair at
    distance exactly 2 — the friend-of-friend candidates, the only
    pairs a common-neighbor predictor can rank — with the classic
    exact-integer columns: common-neighbor count, preferential
    attachment deg_a·deg_b, and the Jaccard denominator
    |Γ(a) ∪ Γ(b)| (the score cn/jden is the ranker's one division,
    left out so the relation stays all-bigint and hash-exact).
    Candidates are generated THROUGH the graph (one wedge self-join +
    one anti-join — the Σd(d−1)/2 budget triangle counting already
    pays), never all-pairs; on hub-heavy graphs the w-threshold on
    the core is the documented volume cap."""
    core, _ = _core_and_landmarks(spark, sf_dir)
    return G.link_prediction_features(core)


# ---------------------------------------------------------------------
# C138 — privacy auditing: k-anonymity / distinct-l-diversity report +
# suppression enforcement, the measurement-and-gate pair next to the
# PII redaction transform (a redacted corpus can still re-identify
# through quasi-identifier combinations — this family measures that).
# ---------------------------------------------------------------------

_KA_KMIN, _KA_LMIN = 5, 2


@query(
    "k_anonymity_report",
    f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT))
                AS BIGINT) AS l,
           count(*) < {_KA_KMIN}
             OR count(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT))
                < {_KA_LMIN} AS at_risk
    FROM customer
    GROUP BY 1, 2
    """,
)
def q_k_anonymity_report(spark, sf_dir):
    """C138: k-anonymity / l-diversity audit of the customer relation
    (operators/curation.k_anonymity) under the quasi-identifier
    (nation, market segment) with the account-balance band as the
    sensitive attribute: per QI group, k = how many records an
    attacker narrows to, l = distinct sensitive bands in the group
    (distinct-l — a large group that agrees on one band still leaks
    it), and the at_risk flag k < 5 OR l < 2. One partial-agg
    groupBy; every column exact bigint/boolean, hash-identical
    cross-engine. The PII transform removes direct identifiers; THIS
    measures re-identification through combinations — the other half
    of a privacy gate."""
    d = load(spark, sf_dir, "customer").withColumn(
        "_band", F.floor(F.col("c_acctbal") / 2000).cast("bigint")
    )
    rep = C.k_anonymity(d, ["c_nationkey", "c_mktsegment"], "_band")
    return rep.select(
        "c_nationkey",
        "c_mktsegment",
        "k",
        "l",
        ((F.col("k") < _KA_KMIN) | (F.col("l") < _KA_LMIN)).alias("at_risk"),
    )


@query(
    "k_anonymity_enforced",
    f"""
    WITH kept AS (
      SELECT c_nationkey, c_mktsegment
      FROM customer
      GROUP BY 1, 2
      HAVING count(*) >= {_KA_KMIN})
    SELECT c.c_nationkey, c.c_mktsegment, CAST(count(*) AS BIGINT) AS k
    FROM customer c
    JOIN kept k2
      ON c.c_nationkey IS NOT DISTINCT FROM k2.c_nationkey
     AND c.c_mktsegment IS NOT DISTINCT FROM k2.c_mktsegment
    GROUP BY 1, 2
    """,
)
def q_k_anonymity_enforced(spark, sf_dir):
    """C138b: suppression ENFORCEMENT driver-checked
    (operators/curation.suppress_small_groups, k_min=5): the surviving
    corpus re-audited — every group in this result has k ≥ 5 by
    construction (the oracle's HAVING is the definition; the operator
    is the groupBy + QI join that produces the same surviving rows).
    The suppressed corpus keeps ALL original columns — this query
    aggregates it back to group sizes so the driver compare stays
    group-cardinality-sized."""
    d = load(spark, sf_dir, "customer")
    kept = C.suppress_small_groups(d, ["c_nationkey", "c_mktsegment"], _KA_KMIN)
    return kept.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )


# ---------------------------------------------------------------------
# C139 — Mondrian k-anonymization (LeFevre et al., ICDE 2006): the
# GENERALIZATION mechanism next to C138's suppression — greedy
# median splits, deterministic by exact-integer dimension choice.
# ---------------------------------------------------------------------

_MON_K, _MON_DEPTH = 25, 3


def mondrian_oracle(k: int, depth: int) -> str:
    """The greedy loop unrolled: per level, per leaf — stats, the
    widest-normalized-dimension pick (exact-integer cross-multiply
    against the global ranges), the lower median (ASC order
    statistic), the k-guard, and the relabel. State relations carry
    (id, d1, d2, leaf) exactly like the operator."""
    base = """
WITH base AS MATERIALIZED (
  SELECT c_custkey AS id,
         CAST(round(c_acctbal * 100) AS BIGINT) AS d1,
         CAST(c_nationkey AS BIGINT) AS d2
  FROM customer),
rg AS (SELECT greatest(max(d1) - min(d1), 1) AS r1,
              greatest(max(d2) - min(d2), 1) AS r2 FROM base),
cur0 AS MATERIALIZED (SELECT id, d1, d2, 'r' AS leaf FROM base)"""
    prev = "cur0"
    for i in range(1, depth + 1):
        base += f""",
st{i} AS (
  SELECT leaf, count(*) AS n,
         min(d1) AS mn1, max(d1) AS mx1,
         min(d2) AS mn2, max(d2) AS mx2
  FROM {prev} GROUP BY 1),
pk{i} AS (
  SELECT leaf, n,
         CASE WHEN (mx1 - mn1) * (SELECT r2 FROM rg)
                   >= (mx2 - mn2) * (SELECT r1 FROM rg)
              THEN 1 ELSE 2 END AS dim
  FROM st{i}),
vl{i} AS (
  SELECT c.id, c.d1, c.d2, c.leaf,
         CASE p.dim WHEN 1 THEN c.d1 ELSE c.d2 END AS val, p.n
  FROM {prev} c JOIN pk{i} p USING (leaf)),
md{i} AS (
  SELECT leaf, val AS m FROM (
    SELECT leaf, val, n,
           row_number() OVER (PARTITION BY leaf ORDER BY val, id) AS rn
    FROM vl{i}) t
  WHERE rn = (n + 1) // 2),
ct{i} AS (
  SELECT v.leaf,
         sum(CASE WHEN v.val <= m.m THEN 1 ELSE 0 END) AS ln,
         max(v.n) AS n
  FROM vl{i} v JOIN md{i} m USING (leaf) GROUP BY 1),
cur{i} AS MATERIALIZED (
  SELECT v.id, v.d1, v.d2,
         CASE WHEN c.ln >= {k} AND c.n - c.ln >= {k}
              THEN v.leaf || (CASE WHEN v.val <= m.m THEN 'L' ELSE 'R' END)
              ELSE v.leaf END AS leaf
  FROM vl{i} v JOIN md{i} m USING (leaf) JOIN ct{i} c ON c.leaf = v.leaf)"""
        prev = f"cur{i}"
    return base + f"""
SELECT leaf, CAST(count(*) AS BIGINT) AS n,
       min(d1) AS bal_lo, max(d1) AS bal_hi,
       min(d2) AS nat_lo, max(d2) AS nat_hi
FROM {prev} GROUP BY 1
"""


@query("mondrian_regions", mondrian_oracle(_MON_K, _MON_DEPTH))
def q_mondrian_regions(spark, sf_dir):
    """C139: Mondrian k-anonymization of the customer relation
    (operators/curation.mondrian_partition, k=25, depth=3) over the
    integer QI (account balance in cents, nation): recursive lower-
    median splits on the widest range-normalized dimension, each cut
    taken only when both halves keep ≥ k records — every published
    region is k-anonymous by construction and NO record is dropped
    (the generalization counterpart of C138's suppression gate). The
    dimension pick is an exact-integer cross-multiplication and the
    median an exact order statistic (grouped_exact_ranks' two-level
    histogram — at scale the leaf count reaches n/k, so a
    leaf-partitioned window is the wall this avoids), so the whole
    region table — ids, bounds, counts — is bigint and
    hash-identical cross-engine; the oracle unrolls the identical
    greedy loop with window-function order statistics (legal in
    DuckDB, no scale posture)."""
    d = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("d1"),
        F.col("c_nationkey").cast("bigint").alias("d2"),
    )
    out = C.mondrian_partition(
        d, ["d1", "d2"], "id", k_min=_MON_K, depth=_MON_DEPTH
    )
    return out.groupBy(F.col("_leaf").alias("leaf")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("d1").alias("bal_lo"),
        F.max("d1").alias("bal_hi"),
        F.min("d2").alias("nat_lo"),
        F.max("d2").alias("nat_hi"),
    )


@query(
    "t_closeness_report",
    """
    WITH base AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS band
      FROM customer),
    gl AS (SELECT band, count(*) AS G FROM base GROUP BY 1),
    glc AS (SELECT band,
                   CAST(sum(G) OVER (ORDER BY band) AS BIGINT) AS cum_glob
            FROM gl),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS N FROM base),
    bc AS (SELECT CAST(count(*) AS BIGINT) AS B FROM gl),
    grp AS (SELECT c_nationkey, c_mktsegment, band, count(*) AS g
            FROM base GROUP BY 1, 2, 3),
    gs AS (SELECT c_nationkey, c_mktsegment, CAST(sum(g) AS BIGINT) AS n
           FROM grp GROUP BY 1, 2),
    grid AS (SELECT gs.c_nationkey, gs.c_mktsegment, gs.n,
                    glc.band, glc.cum_glob
             FROM gs CROSS JOIN glc),
    cum AS (
      SELECT t.*, CAST(sum(coalesce(t.g, 0)) OVER (
               PARTITION BY c_nationkey, c_mktsegment ORDER BY band)
             AS BIGINT) AS cum_grp
      FROM (SELECT grid.*, grp.g FROM grid
            LEFT JOIN grp USING (c_nationkey, c_mktsegment, band)) t),
    fin AS (
      SELECT c_nationkey, c_mktsegment, n,
             CAST(sum(abs(cum_grp * (SELECT N FROM nt) - cum_glob * n))
                  AS BIGINT) AS emd_num,
             CAST(((SELECT B FROM bc) - 1) * n * (SELECT N FROM nt)
                  AS BIGINT) AS emd_den
      FROM cum GROUP BY 1, 2, 3)
    SELECT c_nationkey, c_mktsegment, n, emd_num, emd_den,
           4 * emd_num <= emd_den AS within_t
    FROM fin
    """,
)
def q_t_closeness_report(spark, sf_dir):
    """C138c: t-closeness audit (operators/curation.t_closeness) —
    the third metric of the privacy triad: per QI group (nation,
    segment), the 1-D Earth Mover's Distance between the group's
    account-balance-band distribution and the global one, carried as
    the exact-integer pair emd_num/emd_den (t = num/den; each
    cumulative difference |cumg·N − cumG·n| clears the denominators,
    so no float exists). within_t is the t ≤ 1/4 threshold by
    cross-multiplication. A group can pass k AND l yet fail here —
    "everyone in this group sits in the top balance bands" is exactly
    the leak EMD sees and diversity counting misses. The only windows
    run over B-row band partitions (B = 6 here, a constant at any
    corpus size)."""
    d = load(spark, sf_dir, "customer").withColumn(
        "band", F.floor(F.col("c_acctbal") / 2000).cast("bigint")
    )
    rep = C.t_closeness(d, ["c_nationkey", "c_mktsegment"], "band")
    return rep.select(
        "c_nationkey",
        "c_mktsegment",
        "n",
        "emd_num",
        "emd_den",
        (4 * F.col("emd_num") <= F.col("emd_den")).alias("within_t"),
    )


# ---------------------------------------------------------------------
# C140 — node2vec second-order biased walks: the p/q-biased sampler
# over C133's first-order one, weights rendered integer so the
# replication-equivalence draw keeps the corpus bit-reproducible.
# ---------------------------------------------------------------------

_N2V_LEN, _N2V_SEED = 4, 42
_N2V_WR, _N2V_WS, _N2V_WO = 1, 2, 1  # p = q = 2 at L = 2


def _node2vec_oracle(length: int, seed: int, wr: int, ws: int, wo: int) -> str:
    sql = f"""
WITH {CO_PURCHASE_CTE},
sym AS MATERIALIZED (SELECT x AS u, y AS v FROM co
        UNION ALL SELECT y AS u, x AS v FROM co),
v0 AS MATERIALIZED (
  SELECT p_partkey AS walker, CAST(NULL AS BIGINT) AS prev,
         CAST(p_partkey AS BIGINT) AS node
  FROM part WHERE p_brand = 'Brand#13')"""
    steps = ["SELECT CAST(walker AS BIGINT) AS walker, CAST(0 AS INT) AS step,"
             " node FROM v0"]
    prev = "v0"
    for t in range(1, length + 1):
        sql += f""",
cd{t} AS (
  SELECT p.walker, p.node AS u, s.v,
         CASE WHEN s.v = p.prev THEN {wr}
              WHEN e.x IS NOT NULL THEN {ws}
              ELSE {wo} END AS w
  FROM {prev} p
  JOIN sym s ON s.u = p.node
  LEFT JOIN co e ON e.x = least(p.prev, s.v)
               AND e.y = greatest(p.prev, s.v)),
v{t} AS MATERIALIZED (
  SELECT walker, CAST(u AS BIGINT) AS prev, CAST(v AS BIGINT) AS node
  FROM (
    SELECT walker, u, v,
           row_number() OVER (PARTITION BY walker ORDER BY
             CAST('0x' || substr(md5('{seed}:' || CAST(walker AS VARCHAR)
               || ':{t}:' || CAST(u AS VARCHAR) || ':'
               || CAST(v AS VARCHAR) || ':' || CAST(j AS VARCHAR)),
               1, 15) AS BIGINT), v, j) AS rn
    FROM cd{t}, UNNEST(generate_series(1, w)) AS d(j)) q
  WHERE rn = 1)"""
        steps.append(
            f"SELECT CAST(walker AS BIGINT) AS walker, CAST({t} AS INT) AS step,"
            f" node FROM v{t}"
        )
        prev = f"v{t}"
    return sql + "\n" + "\nUNION ALL ".join(steps) + "\n"


def _node2vec_walk_ctes(length: int, seed: int, wr: int, ws: int, wo: int) -> str:
    """The _node2vec_oracle CTE chain re-expressed to END in a
    ``walks(walker, step, node)`` relation (r10 — the
    _random_walks_ctes single-source discipline), so the biased
    corpus oracle and the biased skip-gram pair oracle share one
    derivation. The step CTEs are textually identical to
    _node2vec_oracle's; only the final UNION moves inside a CTE."""
    body = _node2vec_oracle(length, seed, wr, ws, wo)
    # The oracle text is "<CTE chain>\n<UNION of step selects>\n";
    # the chain's last line is the closing "  WHERE rn = 1)".
    marker = "  WHERE rn = 1)\n"
    cut = body.rindex(marker) + len(marker)
    head, union = body[:cut], body[cut:]
    return head.rstrip("\n") + ",\nwalks AS (\n" + union.strip() + "\n)"


# Process-local memo (the _WALKS_VERIFIED discipline).
_N2V_VERIFIED: set[str] = set()


def _node2vec_layout(spark, sf_dir: str) -> str:
    """Get-or-build the persisted BIASED (node2vec) walk corpus for
    one testdata corpus (VERDICT r09 #6): the second-order walks are
    a pure function of (graph, starts, seed, weights), yet the
    corpus query re-ran the 4-step frontier⋈edges +
    adjacency-classification loop per invocation (~4-6 s at sf0.1),
    and landing the skip-gram consumer would have doubled that — the
    _walks_layout offline-sample/online-train posture applied to the
    biased corpus. Both consumers' oracles re-derive every step
    (including the classification join and replication draws) from
    lineitem/part, so a stale artifact cannot hash-match."""
    import json
    import os
    import shutil

    repo = _repo_root()
    key = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(repo, "spark-warehouse", "walks_cache", key)
    walks_path = os.path.join(root, "n2v_walks")
    meta_path = os.path.join(root, "n2v_meta.json")
    want = {
        "length": _N2V_LEN,
        "seed": _N2V_SEED,
        "weights": [_N2V_WR, _N2V_WS, _N2V_WO],
    }
    if os.path.exists(meta_path) and key not in _N2V_VERIFIED:
        meta = json.load(open(meta_path))
        rows = load(spark, sf_dir, "lineitem").count()
        parts = load(spark, sf_dir, "part").count()
        if (
            meta.get("lineitem_rows") != rows
            or meta.get("part_rows") != parts
            or {k: meta.get(k) for k in want} != want
        ):
            shutil.rmtree(walks_path, ignore_errors=True)
            os.remove(meta_path)
    if not os.path.exists(meta_path):
        from openetl_spark.queries.analytics_r07 import _get_or_build_layout

        def build():
            edges_path, _ = _graph_layout(spark, sf_dir)
            edges = spark.read.parquet(edges_path)
            starts = (
                load(spark, sf_dir, "part")
                .filter(F.col("p_brand") == "Brand#13")
                .select("p_partkey")
            )
            return G.node2vec_walks(
                edges, starts, length=_N2V_LEN, seed=_N2V_SEED,
                w_return=_N2V_WR, w_stay=_N2V_WS, w_out=_N2V_WO,
            )

        os.makedirs(root, exist_ok=True)
        # A walks directory WITHOUT meta is stale by definition (a
        # crash in the rename→meta-write window, possibly under older
        # params): rebuild rather than let _get_or_build_layout adopt
        # it and stamp fresh meta claiming the current params over an
        # artifact built with different ones (ADVICE r10).
        shutil.rmtree(walks_path, ignore_errors=True)
        _get_or_build_layout(spark, root, "n2v_walks", build)
        # Atomic meta write (review r10): a concurrent reader must
        # never json.load a half-written file.
        tmp = f"{meta_path}.tmp.{os.getpid()}"
        json.dump(
            {
                **want,
                "lineitem_rows": load(spark, sf_dir, "lineitem").count(),
                "part_rows": load(spark, sf_dir, "part").count(),
            },
            open(tmp, "w"),
        )
        os.replace(tmp, meta_path)
    _N2V_VERIFIED.add(key)
    return walks_path


@query(
    "node2vec_walks",
    _node2vec_walk_ctes(_N2V_LEN, _N2V_SEED, _N2V_WR, _N2V_WS, _N2V_WO)
    + "\nSELECT walker, step, node FROM walks\n",
)
def q_node2vec_walks(spark, sf_dir):
    """C140: second-order node2vec walks from every Brand#13 part
    over the co-purchase graph (operators/graph.node2vec_walks,
    weights (1, 2, 1) ⇒ p = q = 2): the transition weight depends on
    the PREVIOUS node — discourage immediate returns and far jumps,
    prefer staying within the previous node's neighborhood — and the
    weighted choice is the Efraimidis-Spirakis replication draw (min
    of w seeded md5 integers), so the biased corpus is still a pure
    function of (graph, starts, seed, weights): bit-identical in
    DuckDB's unrolled rendering, reproducible across retries and
    partitionings, which no rand()-based biased sampler is. Per step
    one frontier⋈edges join + one adjacency-classification LEFT join
    + a bounded explode + a min_by partial agg. r10: the biased
    corpus persists once per corpus (_node2vec_layout — the
    _walks_layout posture); the oracle still re-derives every step
    including the classification join."""
    return spark.read.parquet(_node2vec_layout(spark, sf_dir))


@query(
    "node2vec_skipgram_pairs",
    _node2vec_walk_ctes(_N2V_LEN, _N2V_SEED, _N2V_WR, _N2V_WS, _N2V_WO)
    + """
SELECT a.node AS u, b.node AS v, CAST(count(*) AS BIGINT) AS n
FROM walks a JOIN walks b
  ON a.walker = b.walker AND a.step <> b.step
 AND abs(a.step - b.step) <= 2
GROUP BY 1, 2
""",
)
def q_node2vec_skipgram_pairs(spark, sf_dir):
    """C144: the skip-gram (center, context) training-pair counts
    over the BIASED node2vec corpus (VERDICT r09 #6's second half —
    the first-order corpus had its pair consumer in r09, the biased
    one now reads from its artifact the same way): one walker-keyed
    self-join + partial-agg count within a ±2-step window over the
    persisted _node2vec_layout corpus, so the second-order training
    set is read-from-artifact end-to-end and bit-reproducible across
    engines. The oracle re-derives the biased walks from lineitem
    (every replication draw and classification join) via the SHARED
    _node2vec_walk_ctes fragment, then applies the identical pair
    window."""
    walks = spark.read.parquet(_node2vec_layout(spark, sf_dir))
    return G.walk_skipgram_pairs(walks, window=2)


@query(
    "link_prediction_hits",
    f"""
    WITH {_CORE_LM_CTES},
    mk AS (
      SELECT a, b,
             CASE WHEN CAST('0x' || substr(md5(CAST(a AS VARCHAR) || ':'
                       || CAST(b AS VARCHAR)), 1, 15) AS BIGINT) % 5 = 0
                  THEN 1 ELSE 0 END AS t
      FROM core),
    test AS (SELECT a, b FROM mk WHERE t = 1),
    train AS (SELECT a, b FROM mk WHERE t = 0),
    tsym AS (SELECT a AS u, b AS v FROM train
             UNION ALL SELECT b AS u, a AS v FROM train),
    deg AS (SELECT u AS node, count(*) AS d FROM tsym GROUP BY 1),
    cand AS (
      SELECT s1.v AS a, s2.v AS b, CAST(count(*) AS BIGINT) AS cn
      FROM tsym s1
      JOIN tsym s2 ON s1.u = s2.u AND s1.v < s2.v
      WHERE NOT EXISTS (SELECT 1 FROM train e
                        WHERE e.a = s1.v AND e.b = s2.v)
      GROUP BY 1, 2),
    feat AS (
      SELECT c.a, c.b, c.cn,
             CAST(da.d + db.d - c.cn AS BIGINT) AS jden
      FROM cand c
      JOIN deg da ON da.node = c.a
      JOIN deg db ON db.node = c.b),
    bd AS (SELECT a AS node, b AS v, cn, jden FROM feat
           UNION ALL SELECT b AS node, a AS v, cn, jden FROM feat),
    rk AS (
      SELECT node, v,
             row_number() OVER (PARTITION BY node
               ORDER BY CAST(cn AS DOUBLE) / jden DESC, cn DESC, v) AS r
      FROM bd),
    tr AS (
      SELECT t.a, t.b, least(r1.r, r2.r) AS best
      FROM test t
      LEFT JOIN rk r1 ON r1.node = t.a AND r1.v = t.b
      LEFT JOIN rk r2 ON r2.node = t.b AND r2.v = t.a)
    SELECT k,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN best IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_reachable,
           CAST(sum(CASE WHEN best <= k THEN 1 ELSE 0 END)
                AS BIGINT) AS hits
    FROM tr, UNNEST([1, 5, 10]) AS kk(k)
    GROUP BY k
    """,
)
def q_link_prediction_hits(spark, sf_dir):
    """C137c: the link-prediction EVALUATION harness
    (operators/graph.link_prediction_eval) — the ann/pq/lsh
    recall-report discipline on the graph side: hold out the
    deterministic md5 fifth of core edges, generate common-neighbor
    candidates on the training remainder (the C137 wedge shape),
    rank each node's candidates by the Jaccard score (ONE IEEE
    division of exact integers as the sort value, integer
    tiebreaks), and report hits@{{1,5,10}} with the reachability
    denominator exposed (a held-out edge whose endpoints sit farther
    than 2 apart in the training graph is unrankable by ANY
    common-neighbor method — n_reachable makes that honest instead
    of silently deflating recall). All counts exact bigints."""
    core, _ = _core_and_landmarks(spark, sf_dir)
    return G.link_prediction_eval(core, holdout_mod=5, ks=(1, 5, 10))


# ---------------------------------------------------------------------
# C131b — AGMS join-size estimation (Alon-Gibbons-Matias-Szegedy,
# PODS 1999): the inner-product act of the tug-of-war sketch — what a
# query optimizer reads to size an equi-join before running it.
# ---------------------------------------------------------------------


def _ams_sign_sql(val: str) -> str:
    return (
        "CASE WHEN CAST('0x' || substr(md5('"
        + str(_AMS_SEED)
        + f":' || CAST(i AS VARCHAR) || ':' || CAST({val} AS VARCHAR)), 1, 15)"
        " AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END"
    )


@query(
    "ams_join_size_report",
    f"""
    WITH ca AS (
      SELECT CAST(i AS INT) AS i,
             CAST(sum({_ams_sign_sql('l_partkey')}) AS BIGINT) AS c
      FROM lineitem, UNNEST(generate_series(0, {_AMS_K - 1})) AS t(i)
      WHERE l_returnflag = 'R' AND l_partkey IS NOT NULL
      GROUP BY 1),
    cb AS (
      SELECT CAST(i AS INT) AS i,
             CAST(sum({_ams_sign_sql('l_partkey')}) AS BIGINT) AS c
      FROM lineitem, UNNEST(generate_series(0, {_AMS_K - 1})) AS t(i)
      WHERE l_returnflag = 'A' AND l_partkey IS NOT NULL
      GROUP BY 1),
    grp AS (
      SELECT a.i // {_AMS_GSZ} AS g, CAST(sum(a.c * b.c) AS BIGINT) AS s
      FROM ca a JOIN cb b USING (i)
      WHERE a.i < {_AMS_GSZ * _AMS_GROUPS}
      GROUP BY 1),
    med AS (SELECT s FROM grp ORDER BY s LIMIT 1 OFFSET {_AMS_GROUPS // 2}),
    fr AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
           FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
    fa AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
           FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1),
    ex AS (SELECT CAST(coalesce(sum(fr.cnt * fa.cnt), 0) AS BIGINT) AS j
           FROM fr JOIN fa USING (l_partkey)),
    f2 AS (SELECT (SELECT CAST(sum(cnt * cnt) AS BIGINT) FROM fr) AS f2r,
                  (SELECT CAST(sum(cnt * cnt) AS BIGINT) FROM fa) AS f2a)
    SELECT ex.j AS j_exact,
           med.s / {_AMS_GSZ} AS j_estimate,
           abs(med.s / {_AMS_GSZ} - ex.j)
             <= 3 * sqrt(CAST(2 AS DOUBLE) * f2.f2r * f2.f2a / {_AMS_GSZ})
             AS within_bound
    FROM ex, med, f2
    """,
)
def q_ams_join_size_report(spark, sf_dir):
    """C131b: equi-join CARDINALITY estimation from two AMS sketches
    sharing one sign family (operators/sketches
    .ams_inner_product_estimate, AGMS PODS 1999): the exact size of
    the R-returns ⋈ A-returns self-join of lineitem on l_partkey
    (genuine multiplicities on BOTH sides — the case where naive
    distinct-count estimates fail) next to the sketch estimate read
    from 2×63 counters, with the AGMS variance bound
    3·√(2·F₂(A)·F₂(B)/7) as the within_bound boolean. The median of
    group-sums is one specific integer and the estimate ONE IEEE
    division, so the report hash-matches bit-for-bit; the exact arm
    is the grouped-count join the optimizer would otherwise have to
    run — at 100 TB the estimate arm reads 126 cells."""
    li = load(spark, sf_dir, "lineitem", spread=True).filter(
        F.col("l_partkey").isNotNull()
    )
    ra = li.filter(F.col("l_returnflag") == "R")
    aa = li.filter(F.col("l_returnflag") == "A")
    # r12: both arms need each side's distinct-value frequency vector
    # (the sketch derives from it, the exact join-size and F₂ sums ARE
    # it) — compute it once per side, persist, and share (8 lineitem
    # scans → 2 in the plan; cells bit-identical via
    # ams_cells_from_freq, which is ams_cells' own internal path).
    freq_r = (
        ra.groupBy("l_partkey")
        .agg(F.count("*").cast("bigint").alias("_f"))
        .persist()
    )
    freq_a = (
        aa.groupBy("l_partkey")
        .agg(F.count("*").cast("bigint").alias("_f"))
        .persist()
    )
    cells_r = SK.ams_cells_from_freq(freq_r, "l_partkey", k=_AMS_K, seed=_AMS_SEED)
    cells_a = SK.ams_cells_from_freq(freq_a, "l_partkey", k=_AMS_K, seed=_AMS_SEED)
    est = SK.ams_inner_product_estimate(cells_r, cells_a, groups=_AMS_GROUPS)
    fr = freq_r.select("l_partkey", F.col("_f").alias("cr"))
    fa = freq_a.select("l_partkey", F.col("_f").alias("ca"))
    ex = (
        fr.join(fa, "l_partkey")
        .agg(
            F.coalesce(F.sum(F.col("cr") * F.col("ca")), F.lit(0))
            .cast("bigint")
            .alias("j_exact")
        )
    )
    f2r = fr.agg(F.sum(F.col("cr") * F.col("cr")).cast("bigint").alias("f2r"))
    f2a = fa.agg(F.sum(F.col("ca") * F.col("ca")).cast("bigint").alias("f2a"))
    return (
        ex.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(f2r))
        .crossJoin(F.broadcast(f2a))
        .select(
            "j_exact",
            "j_estimate",
            (
                F.abs(F.col("j_estimate") - F.col("j_exact"))
                <= 3
                * F.sqrt(
                    F.lit(2.0) * F.col("f2r") * F.col("f2a") / _AMS_GSZ
                )
            ).alias("within_bound"),
        )
    )


@query(
    "hyperball_harmonic_report",
    f"""
    WITH RECURSIVE {_CORE_LM_CTES},
    {_hyperball_cells_sql()},
    walk(source, node, hop) AS (
      SELECT node, node, 0 FROM lm
      UNION
      SELECT w.source, s.v, w.hop + 1
      FROM walk w JOIN sym s ON w.node = s.u
      WHERE w.hop < {_HB_HOPS}),
    d AS (SELECT source, node, min(hop) AS hop FROM walk GROUP BY 1, 2),
    exact AS (
      SELECT source AS node,
             CAST(sum(60 // hop) AS BIGINT) AS h60_exact,
             CAST(count(*) AS BIGINT) AS n_within
      FROM d WHERE hop >= 1 GROUP BY 1),
    est AS (
      SELECT t, node,
             CAST(count(*) AS BIGINT) AS n_set,
             sum(power(2.0, -r)) AS s
      FROM cells JOIN lm USING (node)
      GROUP BY 1, 2),
    fin AS (
      SELECT node, t,
             CASE WHEN {_HB_ALPHA} * {_HB_M} * {_HB_M} / (s + ({_HB_M} - n_set))
                       <= 2.5 * {_HB_M} AND n_set < {_HB_M}
                  THEN {_HB_M}.0 * ln({_HB_M}.0 / ({_HB_M} - n_set))
                  ELSE {_HB_ALPHA} * {_HB_M} * {_HB_M} / (s + ({_HB_M} - n_set))
                  END AS estimate
      FROM est),
    hest AS (
      SELECT f1.node,
             sum((f1.estimate - f0.estimate) / f1.t) AS h_est
      FROM fin f1 JOIN fin f0 ON f0.node = f1.node AND f0.t = f1.t - 1
      GROUP BY 1)
    SELECT x.node, x.h60_exact, x.n_within,
           abs(CAST(60 AS DOUBLE) * h.h_est - x.h60_exact)
             <= CAST(0.35 AS DOUBLE) * x.h60_exact + CAST(180 AS DOUBLE)
             AS within_bound
    FROM exact x JOIN hest h ON h.node = x.node
    """,
)
def q_hyperball_harmonic_report(spark, sf_dir):
    """C135c: HyperBall-derived HARMONIC centrality estimates — the
    geometric-centrality payoff Boldi-Vigna built the counters for:
    ĥ(v) = Σ_t (b̂_t(v) − b̂_{t-1}(v))/t over the per-node ball-size
    estimates, which at 100 TB prices EVERY node's centrality from
    the V·2^p cell relation where the exact form needs a BFS per
    node. Driver-checked on the 16 landmark pivots, where the exact
    truncated harmonic sum IS computable (one multi-source BFS —
    C134's machinery): h60_exact and the reach count are hash-pinned
    bigints, and the boolean asserts the sketch estimate lands within
    35% + a 180-floor of the exact value (the worst observed across
    both test corpora is 24% — the p=6 sketch differencing amplifies
    register noise, documented; raise p to tighten). The estimate
    itself stays OUT of the hashed columns (a 4-term float sum's
    addition order is engine-unpinned — the hll_distinct_report
    discipline: booleans tolerate the ulp, hashed columns never carry
    it). r10: cells from the persisted _hyperball_layout."""
    core, lm = _core_and_landmarks(spark, sf_dir)
    from openetl_spark.operators import sketches as SK

    cells = _hyperball_layout(spark, sf_dir).join(lm, "node")
    est = SK.hll_estimate(cells, p=_HB_P, keys=["t", "node"])
    e1 = est.select("node", "t", F.col("estimate").alias("_e1"))
    e0 = est.select(
        "node", (F.col("t") + 1).alias("t"), F.col("estimate").alias("_e0")
    )
    hest = (
        e1.join(e0, ["node", "t"])
        .groupBy("node")
        .agg(
            F.sum((F.col("_e1") - F.col("_e0")) / F.col("t")).alias("_h")
        )
    )
    hops = _landmark_hops_layout(spark, sf_dir).filter(
        F.col("hop") <= _HB_HOPS
    )
    exact = (
        hops.filter(F.col("hop") >= 1)
        .groupBy(F.col("source").alias("node"))
        .agg(
            F.sum(F.expr("60 div hop")).cast("bigint").alias("h60_exact"),
            F.count(F.lit(1)).cast("bigint").alias("n_within"),
        )
    )
    return exact.join(hest, "node").select(
        "node",
        "h60_exact",
        "n_within",
        (
            F.abs(F.lit(60.0) * F.col("_h") - F.col("h60_exact"))
            <= 0.35 * F.col("h60_exact") + 180.0
        ).alias("within_bound"),
    )
