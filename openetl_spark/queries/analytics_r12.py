"""Round-12 analytics queries: the betweenness SCALAR off the C150
pair-dependency rationals as a deterministic scaled floor sum (C157),
NMI as hashed exact integers via a persisted micro-nat dictionary
(C158), frequent triples — the A-priori level-3 extension of the
C156 association rules (C159), Markov removal-effect attribution in
deterministic fixed-point bigints (C160), and the ε-DP discrete-
Laplace histogram release off a persisted inverse-CDF artifact
(C161), per-series EWMA as an exact fixed-point grouped-map scan
(C162), the CUSUM change-point statistic on the same substrate
(C163), TextRank keywords — the graph×text composition riding
the existing weighted PageRank (C164), and Holt level+trend
smoothing — the two-state scan with sign-safe shifted divisions
(C165).

Reference parity note: the reference (OpenETL, TypeScript) has no
analytics engine — these are build-extension components mandated by
the driver brief (LLM-scale curation/graph analytics), implemented
Spark-first with DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from openetl_spark.operators import analytics as A
from openetl_spark.operators import graph as G
from openetl_spark.operators import similarity as S
from openetl_spark.queries.base import _repo_root, load, query
from openetl_spark.queries.analytics_r10 import (
    _FULL_LM_CTES,
    _full_graph_and_landmarks,
    _path_counts_ctes,
    _path_counts_full_layout,
)
from openetl_spark.queries.analytics_r11 import _IVF_ASSIGN_CTES
from openetl_spark.queries.relational_extra import (
    IVF_SIG_SQL,
    _corpus_sig,
    _ivf_layout,
)


# ---------------------------------------------------------------------
# C157 — the betweenness scalar (VERDICT r11 #3): bc(v) = Σ_pairs
# δ_st(v) rendered as the scaled floor sum Σ (2^20·dep_num) div
# dep_den — exact bigints end to end, no float anywhere, strictly
# tighter than a boolean-pinned estimate.
# ---------------------------------------------------------------------

_BC_K = 1 << 20
_BC_DEN_BOUND = 1 << 43  # 2^(63-20): K·(dep_num mod dep_den) must fit

# The C150 dependency relation as a reusable CTE suffix (the
# landmark_betweenness oracle's SELECT, named).
_DEPS_CTES = f"""{_FULL_LM_CTES},
    {_path_counts_ctes(6)},
    pc AS (SELECT source, node, hop, sigma FROM v6),
    dlm AS (
      SELECT source, node AS target, hop AS d_st, sigma AS sigma_st
      FROM pc WHERE node IN (SELECT node FROM lm) AND source < node),
    deps AS (
      SELECT a.node,
             CAST(a.sigma * b.sigma AS BIGINT) AS dep_num,
             CAST(d.sigma_st AS BIGINT) AS dep_den
      FROM pc a
      JOIN pc b ON a.node = b.node AND a.source < b.source
      JOIN dlm d ON d.source = a.source AND d.target = b.source
                AND a.hop + b.hop = d.d_st
      WHERE a.node <> a.source AND a.node <> b.source)"""


@query(
    "betweenness_report",
    f"""
    WITH {_DEPS_CTES}
    SELECT node,
           CAST(count(*) AS BIGINT) AS n_pairs,
           -- the engine's overflow guard, MIRRORED (the
           -- cluster_agreement discipline): K·(num mod den) must fit
           -- bigint, so den < 2^43 or both engines fail identically
           CAST(sum(
             {_BC_K} * (dep_num //
               CASE WHEN dep_den >= {_BC_DEN_BOUND}
                    THEN CAST(error('landmark_betweenness_scores: '
                              'dep_den exceeds 2^43 — the 2^20-scaled '
                              'floor term overflows bigint') AS BIGINT)
                    ELSE dep_den END)
             + ({_BC_K} * (dep_num % dep_den)) // dep_den
           ) AS BIGINT) AS bc_k
    FROM deps
    GROUP BY node
    """,
)
def q_betweenness_report(spark, sf_dir):
    """C157: the per-node betweenness SCALAR off the persisted
    full-graph σ layout (operators/graph.landmark_betweenness_scores
    — the C150 completion, VERDICT r11 #3): bc(v) estimated over the
    full co-purchase graph's 16 landmark pairs (the pair-grain
    substrate — see _FULL_LM_CTES for why the w≥2 core vacuates at
    sf0.1) as Σ δ_st(v), rendered as the deterministic
    scaled floor sum bc_k = Σ (2^20·dep_num) div dep_den — every term
    an exact bigint computed overflow-safely as K·q + (K·r) div den,
    so the whole relation hashes cross-engine with NO float and no
    boolean-pinning: bc(v) = bc_k/2^20 within n_pairs/2^20 ≤ 1.2e-4.
    The pair-grain rationals stay available as landmark_betweenness
    (C150); this is the collapsed scalar a ranking consumer wants.
    Reads the persisted σ layout; the oracle re-derives the 6-round
    frontier-sum sweep from lineitem and mirrors the overflow guard
    via error()."""
    _, lm = _full_graph_and_landmarks(spark, sf_dir)
    pc = _path_counts_full_layout(spark, sf_dir)
    deps = G.landmark_pair_dependencies(pc, lm)
    return G.landmark_betweenness_scores(deps, scale_bits=20)


# ---------------------------------------------------------------------
# C158 — NMI as HASHED exact integers (VERDICT r11 #4): the micro-nat
# dictionary trick. cluster_agreement_report pins MI behind invariant
# booleans because Σ-of-float addition order is engine-unpinned; here
# every log factor lives on the bounded cell GRID, so it is fitted
# once driver-side (pure Python, persisted, corpus-sig keyed — the
# DSIR artifact discipline) and MI/H become exact bigint sums both
# engines derive from the same artifact.
# ---------------------------------------------------------------------

NMI_ORACLE_DICT = (
    f"{_repo_root()}/spark-warehouse/nmi_cache/micronats_oracle.parquet"
)
_NMI_SCALE = 10**6


def _nmi_micronat_dict(spark, sf_dir: str) -> int:
    """Fit-or-reuse the micro-nat dictionary for one corpus's IVF
    (n_lists=16, seed=42) contingency grid; returns the corpus sig.
    The consolidated parquet holds every fitted corpus keyed by the
    IVF corpus signature (the centroid-parquet governance): the cell
    grid is a pure function of the corpus through the sig-governed
    IVF layout, so a matching sig implies a matching grid. Fit cost:
    one collect of the ≤ clusters×labels cell grid (the DSIR
    driver-side-fit class — bounded, never corpus-sized)."""
    import os

    import pandas as pd

    sig = _corpus_sig(spark, sf_dir)
    if os.path.exists(NMI_ORACLE_DICT):
        old = pd.read_parquet(NMI_ORACLE_DICT)
        if (old["corpus_sig"] == sig).any():
            return sig
    else:
        old = None
    _, data_path = _ivf_layout(spark, sf_dir, n_lists=16, seed=42)
    grid = (
        spark.read.parquet(data_path)
        .groupBy(
            F.col("ivf_list").cast("int").alias("c"),
            F.col("label").cast("int").alias("l"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cell"))
        .collect()
    )
    fitted = S.contingency_micronat_dict(
        [(r["c"], r["l"], r["n_cell"]) for r in grid], scale=_NMI_SCALE
    )
    new = pd.DataFrame(fitted, columns=["kind", "a", "b", "micronats"])
    new.insert(0, "corpus_sig", sig)
    new["corpus_sig"] = new["corpus_sig"].astype("int64")
    new["micronats"] = new["micronats"].astype("int64")
    if old is not None:
        new = pd.concat(
            [old[old["corpus_sig"] != sig], new], ignore_index=True
        )
    os.makedirs(os.path.dirname(NMI_ORACLE_DICT), exist_ok=True)
    tmp = f"{NMI_ORACLE_DICT}.tmp.{os.getpid()}"
    new.to_parquet(tmp, index=False)
    os.replace(tmp, NMI_ORACLE_DICT)
    return sig


@query(
    "cluster_nmi_report",
    f"""
    WITH {_IVF_ASSIGN_CTES},
    d AS (SELECT kind, a, b, micronats
          FROM read_parquet('{NMI_ORACLE_DICT}')
          WHERE corpus_sig = ({IVF_SIG_SQL})),
    tot AS (SELECT CAST(sum(n_cell) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_cells
            FROM cells),
    mi AS (SELECT CAST(sum(c.n_cell * d.micronats) AS BIGINT) AS mi_micro,
                  CAST(count(*) AS BIGINT) AS n_cells_scored
           FROM cells c
           JOIN d ON d.kind = 'cell' AND d.a = c.list_id AND d.b = c.label),
    hu AS (SELECT CAST(sum(r.n_cluster * d.micronats) AS BIGINT) AS hu_micro
           FROM rows_ r JOIN d ON d.kind = 'row' AND d.a = r.list_id),
    hv AS (SELECT CAST(sum(l.n_label * d.micronats) AS BIGINT) AS hv_micro
           FROM cols_ l JOIN d ON d.kind = 'col' AND d.a = l.label)
    SELECT n, n_cells, n_cells_scored, mi_micro, hu_micro, hv_micro
    FROM tot, mi, hu, hv
    """,
)
def q_cluster_nmi_report(spark, sf_dir):
    """C158: normalized mutual information of the IVF quantizer vs
    the embeddings ground truth with MI HASHED, not boolean-pinned
    (operators/similarity.contingency_micronat_dict — the DSIR
    dictionary trick on the contingency logs, VERDICT r11 #4): every
    log factor ln(n·n_ij/(a_i·b_j)) depends only on the bounded
    (cluster × label) cell grid, so it is fitted once driver-side in
    pure Python at 10⁻⁶-nat resolution, persisted corpus-sig-keyed,
    and both engines derive n·MI·10⁶ = Σ n_ij·mn_ij, n·H_u·10⁶ =
    Σ a_i·mn_i, n·H_v·10⁶ = Σ b_j·mn_j as exact bigint sums over the
    same artifact — NMI ≈ 2·mi_micro/(hu_micro+hv_micro) is one
    reader-side division. n_cells_scored = n_cells pins dictionary
    completeness in the hashed row. The fit math is pure-python
    pinned in tests; the cells/marginals re-derive from raw tables on
    the oracle side, so a stale assignment reds out as a count
    mismatch (the centroid-artifact governance)."""
    sig = _nmi_micronat_dict(spark, sf_dir)
    _, data_path = _ivf_layout(spark, sf_dir, n_lists=16, seed=42)
    cells = (
        spark.read.parquet(data_path)
        .groupBy(
            F.col("ivf_list").cast("int").alias("list_id"),
            F.col("label").cast("int").alias("label"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cell"))
    )
    d = spark.read.parquet(NMI_ORACLE_DICT).filter(
        F.col("corpus_sig") == F.lit(sig)
    )
    tot = cells.agg(
        F.sum("n_cell").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )
    dc = d.filter(F.col("kind") == "cell").select(
        F.col("a").alias("list_id"),
        F.col("b").alias("label"),
        "micronats",
    )
    mi = (
        cells.join(F.broadcast(dc), ["list_id", "label"])
        .agg(
            F.sum(F.col("n_cell") * F.col("micronats"))
            .cast("bigint")
            .alias("mi_micro"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells_scored"),
        )
    )
    rows_m = cells.groupBy("list_id").agg(
        F.sum("n_cell").cast("bigint").alias("_na")
    )
    hu = (
        rows_m.join(
            F.broadcast(
                d.filter(F.col("kind") == "row").select(
                    F.col("a").alias("list_id"), "micronats"
                )
            ),
            "list_id",
        )
        .agg(
            F.sum(F.col("_na") * F.col("micronats"))
            .cast("bigint")
            .alias("hu_micro")
        )
    )
    cols_m = cells.groupBy("label").agg(
        F.sum("n_cell").cast("bigint").alias("_nb")
    )
    hv = (
        cols_m.join(
            F.broadcast(
                d.filter(F.col("kind") == "col").select(
                    F.col("a").alias("label"), "micronats"
                )
            ),
            "label",
        )
        .agg(
            F.sum(F.col("_nb") * F.col("micronats"))
            .cast("bigint")
            .alias("hv_micro")
        )
    )
    return (
        tot.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hu))
        .crossJoin(F.broadcast(hv))
        .select(
            "n", "n_cells", "n_cells_scored", "mi_micro",
            "hu_micro", "hv_micro",
        )
    )


# ---------------------------------------------------------------------
# C159 — frequent triples (VERDICT r11 #6): the A-priori level-3
# extension of C156. Downward closure makes the candidate relation
# collision-sized — triples only from frequent pairs, never a 3-way
# basket self-join. Grain: p_brand, NOT p_partkey — the first cut ran
# at partkey grain and the full-scale sweep caught it vacuating at
# sf0.1 (20k parts ⇒ the expected number of triples co-purchased
# TWICE is ≈0.14, and it only shrinks as the catalog grows; the same
# sparsity that forced the σ queries onto the full graph). Brand
# baskets (25 values) have triple supports that GROW linearly with
# corpus size — non-vacuous at every SF and at 100 TB — and the
# candidate space is bounded by C(25,3), so the rule relation never
# scales with the corpus.
# ---------------------------------------------------------------------

_AR3_MINSUP = 2


@query(
    "association_rules_k3",
    f"""
    WITH b AS (
      SELECT DISTINCT l_orderkey AS o, p_brand AS it
      FROM lineitem JOIN part ON p_partkey = l_partkey),
    cow AS (
      SELECT lx.it AS x, ry.it AS y,
             CAST(count(DISTINCT lx.o) AS BIGINT) AS n_both
      FROM b lx JOIN b ry ON lx.o = ry.o AND lx.it < ry.it
      GROUP BY 1, 2),
    fp AS (SELECT x, y, n_both FROM cow WHERE n_both >= {_AR3_MINSUP}),
    cand AS (
      SELECT ab.x, ab.y, ac.y AS z
      FROM fp ab JOIN fp ac ON ab.x = ac.x AND ab.y < ac.y
      WHERE EXISTS (SELECT 1 FROM fp yz
                    WHERE yz.x = ab.y AND yz.y = ac.y)),
    tri AS (
      SELECT c.x, c.y, c.z,
             CAST(count(DISTINCT bx.o) AS BIGINT) AS n_triple
      FROM cand c
      JOIN b bx ON bx.it = c.x
      JOIN b by_ ON by_.o = bx.o AND by_.it = c.y
      JOIN b bz ON bz.o = bx.o AND bz.it = c.z
      GROUP BY 1, 2, 3
      HAVING count(DISTINCT bx.o) >= {_AR3_MINSUP}),
    items AS (
      SELECT it, CAST(count(DISTINCT o) AS BIGINT) AS n_it
      FROM b GROUP BY 1),
    total AS (
      SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_baskets FROM b),
    rules AS (
      SELECT x AS ante_a, y AS ante_b, z AS consequent, n_triple FROM tri
      UNION ALL
      SELECT x, z, y, n_triple FROM tri
      UNION ALL
      SELECT y, z, x, n_triple FROM tri)
    SELECT r.ante_a, r.ante_b, r.consequent, r.n_triple,
           p.n_both AS n_ante,
           i.n_it AS n_cons,
           t.n_baskets,
           CAST(r.n_triple AS DOUBLE) / p.n_both AS confidence,
           CAST(r.n_triple * t.n_baskets AS BIGINT) AS lift_num,
           CAST(p.n_both * i.n_it AS BIGINT) AS lift_den
    FROM rules r
    JOIN fp p ON p.x = r.ante_a AND p.y = r.ante_b
    JOIN items i ON i.it = r.consequent, total t
    """,
)
def q_association_rules_k3(spark, sf_dir):
    """C159: level-3 A-priori association rules {a, b} → c over the
    order baskets at BRAND grain (operators/analytics.
    association_rules_k3 — the natural C156 extension a market-basket
    user hits next): brand triples frequent in ≥ {_AR3_MINSUP}
    baskets, candidates generated from the frequent-pair relation by
    downward closure (shared-prefix join + closure semi-join —
    bounded by C(25,3), never a 3-way basket self-join), supports
    counted by chaining three equi-joins against the deduplicated
    (order, brand) basket relation (TID-list intersection). Metrics
    mirror C156 exactly: confidence one IEEE division of bigints,
    lift the exact rational (n_triple·n_baskets, n_ante·n_cons).
    Brand grain is the scale-honest choice: partkey-grain triple
    supports VANISH as the catalog grows (measured: zero w≥2 triples
    at sf0.1), while category-grain supports grow linearly with the
    corpus — the rendering a real retailer runs."""
    from openetl_spark.operators.skew import broadcast_if_small

    li = load(spark, sf_dir, "lineitem")
    pt = load(spark, sf_dir, "part")
    bk = li.join(
        broadcast_if_small(pt.select("p_partkey", "p_brand")),
        li.l_partkey == F.col("p_partkey"),
    ).select("l_orderkey", "p_brand")
    return A.association_rules_k3(
        bk, "l_orderkey", "p_brand", min_support=_AR3_MINSUP
    )


# ---------------------------------------------------------------------
# C160 — Markov removal-effect attribution: the principled successor
# to last-touch (C109). The corpus-scale work is ONE window pass
# (markov_transition_counts); the absorbing-chain solve is 2^-26
# fixed-point bigint value iteration on the channel-vocabulary-sized
# count relation — bit-identical cross-engine, so everything except
# the final share division hashes exactly. The oracle re-derives the
# transitions from events and UNROLLS the same H iterations as
# generated chained CTEs (the path_counts sweep discipline).
# ---------------------------------------------------------------------

from openetl_spark.operators.analytics import (  # noqa: E402
    MARKOV_H,
    MARKOV_K,
)


def _markov_oracle_sql() -> str:
    k = MARKOV_K
    # MATERIALIZED is load-bearing: each step references the previous
    # level twice, so an inlining planner would expand 2^H scans.
    step = """
    p{j} AS MATERIALIZED (
      SELECT pr.rm, pr.state,
             CAST(sum(e.tp * CASE WHEN e.t = 'CONV' THEN {k}
                                  WHEN e.t = 'NULL' OR e.t = pr.rm THEN 0
                                  ELSE COALESCE(pv.p, 0) END) // {k}
                  AS BIGINT) AS p
      FROM p{i} pr
      JOIN tp e ON e.f = pr.state
      LEFT JOIN p{i} pv ON pv.rm = pr.rm AND pv.state = e.t
      GROUP BY 1, 2)"""
    steps = ",".join(
        step.format(i=i, j=i + 1, k=k) for i in range(MARKOV_H)
    )
    return f"""
    WITH seq AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 'CONV'
                  ELSE event_type END AS s,
             lag(CASE WHEN event_type = 'purchase' THEN 'CONV'
                      ELSE event_type END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
             lead(CASE WHEN event_type = 'purchase' THEN 'CONV'
                       ELSE event_type END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events),
    tr AS (
      SELECT CASE WHEN prev IS NULL OR prev = 'CONV' THEN 'START'
                  ELSE prev END AS f,
             s AS t
      FROM seq
      UNION ALL
      SELECT s, 'NULL' FROM seq WHERE nxt IS NULL AND s <> 'CONV'),
    cnt AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n
            FROM tr GROUP BY 1, 2),
    deg AS (SELECT f, CAST(sum(n) AS BIGINT) AS d FROM cnt GROUP BY 1),
    tp AS (SELECT c.f, c.t, ({k} * c.n) // g.d AS tp
           FROM cnt c JOIN deg g USING (f)),
    states AS (SELECT DISTINCT f AS state FROM cnt),
    variants AS (
      SELECT '__base__' AS rm
      UNION ALL
      SELECT state FROM states WHERE state <> 'START'),
    p0 AS (SELECT v.rm, s.state, CAST(0 AS BIGINT) AS p
           FROM variants v CROSS JOIN states s),
    {steps},
    fin AS (SELECT rm, p FROM p{MARKOV_H} WHERE state = 'START'),
    base AS (SELECT p AS bp FROM fin WHERE rm = '__base__'),
    eff AS (
      SELECT f.rm AS channel, b.bp AS base_p_k, f.p AS removal_p_k,
             b.bp - f.p AS effect_k
      FROM fin f, base b WHERE f.rm <> '__base__'),
    tot AS (SELECT CAST(sum(effect_k) AS BIGINT) AS te FROM eff),
    ins AS (SELECT t AS channel, CAST(sum(n) AS BIGINT) AS n_in
            FROM cnt WHERE t NOT IN ('CONV', 'NULL') GROUP BY 1)
    SELECT e.channel, i.n_in, e.base_p_k, e.removal_p_k, e.effect_k,
           CASE WHEN t.te > 0 THEN CAST(e.effect_k AS DOUBLE) / t.te
                ELSE NULL END AS share
    FROM eff e JOIN ins i USING (channel), tot t
    """


@query("markov_attribution", _markov_oracle_sql())
def q_markov_attribution(spark, sf_dir):
    """C160: removal-effect (Markov-chain) attribution over the event
    stream (operators/analytics.markov_attribution — Anderl et al.
    2016): journeys split at every purchase (START → touches → CONV,
    streams ending on a touch absorb into NULL), first-order
    transition counts from ONE user-keyed window pass, then the
    absorbing-chain conversion probability from START solved in
    2^-26 fixed-point bigints (H=48 floor-division value-iteration
    rounds) — once for the base chain and once per channel with that
    channel removed (it keeps absorbing traffic but converts
    nothing). effect_k = base − removal is an exact bigint; share is
    the one IEEE division. The vocabulary-sized chain solve runs
    driver-side on the collected count relation (the Mondrian/NMI
    bounded-fit discipline); the oracle re-derives the transitions
    from events and replays the identical integer recursion as
    unrolled CTEs."""
    e = load(spark, sf_dir, "events")
    return A.markov_attribution(e)


# ---------------------------------------------------------------------
# C161 — ε-differentially-private histogram release (discrete
# Laplace / two-sided geometric — the Census TopDown mechanism) with
# deterministic seeded noise: the inverse-CDF threshold table is
# fitted once driver-side and persisted (the NMI micro-nat artifact
# discipline); both engines derive the SAME noise by range-joining
# the same artifact against a 2^60 md5-composed uniform, so the whole
# release is exact integers and hashes cross-engine.
# ---------------------------------------------------------------------

from openetl_spark.operators.curation import (  # noqa: E402
    discrete_laplace_thresholds,
    dp_histogram_release,
    dp_uniform_sql,
)

DP_ORACLE_BOUNDS = (
    f"{_repo_root()}/spark-warehouse/dp_cache/discrete_laplace_bounds.parquet"
)
_DP_EPS_MICRO = 10**6  # ε = 1.0
_DP_BOUND = 64


def _dp_bounds(spark):
    """Fit-or-reuse the (ε=1, bound=64) discrete-Laplace threshold
    artifact; returns it as a DataFrame. Mechanism tables are
    corpus-INdependent (a pure function of ε/bound/scale), so the
    consolidated parquet is keyed by (eps_micro, bound) only."""
    import os

    import pandas as pd

    if os.path.exists(DP_ORACLE_BOUNDS):
        old = pd.read_parquet(DP_ORACLE_BOUNDS)
        mine = old[
            (old["eps_micro"] == _DP_EPS_MICRO) & (old["bound"] == _DP_BOUND)
        ]
        if len(mine):
            return spark.createDataFrame(mine[["k", "lo", "hi"]])
    else:
        old = None
    t = discrete_laplace_thresholds(_DP_EPS_MICRO, _DP_BOUND)
    new = pd.DataFrame(t, columns=["k", "lo", "hi"])
    for c in new.columns:
        new[c] = new[c].astype("int64")
    new.insert(0, "eps_micro", _DP_EPS_MICRO)
    new.insert(1, "bound", _DP_BOUND)
    if old is not None:
        new = pd.concat(
            [
                old[
                    (old["eps_micro"] != _DP_EPS_MICRO)
                    | (old["bound"] != _DP_BOUND)
                ],
                new,
            ],
            ignore_index=True,
        )
    os.makedirs(os.path.dirname(DP_ORACLE_BOUNDS), exist_ok=True)
    tmp = f"{DP_ORACLE_BOUNDS}.tmp.{os.getpid()}"
    new.to_parquet(tmp, index=False)
    os.replace(tmp, DP_ORACLE_BOUNDS)
    return spark.createDataFrame(new[["k", "lo", "hi"]])


@query(
    "dp_event_counts",
    f"""
    WITH c AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    u AS (SELECT *,
                 {dp_uniform_sql("(event_type || '|' || day)")} AS uu
          FROM c),
    b AS (SELECT k, lo, hi FROM read_parquet('{DP_ORACLE_BOUNDS}')
          WHERE eps_micro = {_DP_EPS_MICRO} AND bound = {_DP_BOUND})
    SELECT event_type, day, n,
           CAST(b.k AS BIGINT) AS noise_k,
           CAST(n + b.k AS BIGINT) AS released,
           CAST(greatest(n + b.k, 0) AS BIGINT) AS released_nonneg
    FROM u JOIN b ON uu >= lo AND uu < hi
    """,
)
def q_dp_event_counts(spark, sf_dir):
    """C161: ε=1 differentially-private release of the (event_type,
    day) activity histogram (operators/curation.
    dp_histogram_release): truncated discrete-Laplace noise (Ghosh-
    Roughgarden-Sundararajan's optimal mechanism for counting
    queries; the Census TopDown noise family) drawn DETERMINISTICALLY
    — a 2^60 uniform composed from five salted md5 hash buckets of
    the CELL KEY, range-joined against the persisted inverse-CDF
    threshold artifact — so the release is reproducible/auditable and
    bit-identical cross-engine (swap the key-derived uniform for a
    secret seed in production and nothing else changes). Unit
    sensitivity: one event moves one cell by 1. Everything released
    is an exact integer; true n is emitted for test comparability
    only. Shape: one partial-agg count + a broadcast 129-row range
    join — corpus-linear, output bounded by the cell grid."""
    e = load(spark, sf_dir, "events")
    bounds = _dp_bounds(spark)
    cells = e.select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    return dp_histogram_release(cells, ["event_type", "day"], bounds)


# ---------------------------------------------------------------------
# C162 — per-series EWMA in exact fixed-point: the sequential-
# stateful scan (no closed DataFrame form — floors interleave with
# the recursion) as an Arrow-batched grouped map, oracle-replayed as
# a DuckDB recursive CTE over the per-series row_number.
# ---------------------------------------------------------------------

from openetl_spark.operators import timeseries as T  # noqa: E402

_EWMA_K = 1 << 20


@query(
    "ewma_user_values",
    f"""
    WITH RECURSIVE x AS (
      SELECT user_id, event_id, ts,
             -- negative guard MIRRORED (python floor-div and SQL //
             -- disagree below zero; the engine raises in the scan)
             CASE WHEN value < 0
                  THEN CAST(error('ewma_fixed_point: negative input')
                            AS BIGINT)
                  ELSE CAST(floor(value * 100) AS BIGINT) END AS xi
      FROM events),
    s AS (SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM x),
    rec AS (
      SELECT user_id, event_id, rn, xi, xi * {_EWMA_K} AS ewma_k
      FROM s WHERE rn = 1
      UNION ALL
      SELECT n.user_id, n.event_id, n.rn, n.xi,
             (n.xi * {_EWMA_K} + r.ewma_k) // 2
      FROM rec r
      JOIN s n ON n.user_id = r.user_id AND n.rn = r.rn + 1)
    SELECT user_id, event_id, xi, ewma_k FROM rec
    """,
)
def q_ewma_user_values(spark, sf_dir):
    """C162: exponentially-weighted moving average (α = 1/2) of each
    user's event-value series in 2^-20 fixed-point cents
    (operators/timeseries.ewma_fixed_point): values quantized ONCE by
    floor(value·100) — the only float touch, identical IEEE in both
    engines — then s_t = (x_t·K + s_{t-1}) div 2 as pure bounded
    integers, so the full corpus-sized relation hashes cross-engine.
    The recursion has no closed DataFrame form; the engine runs it as
    an Arrow-batched grouped map (one shuffle on user_id, linear
    in-partition scan, one integer of state per series — the
    custom-stateful-operator ladder's prescribed rung), the oracle as
    a recursive CTE joining each level to the next row_number. Series
    length is ~67 at every SF (events and users scale together), so
    recursion depth is bounded and per-group work constant."""
    e = load(spark, sf_dir, "events")
    x = e.select(
        "user_id", "event_id", "ts",
        F.floor(F.col("value") * 100).cast("bigint").alias("xi"),
    )
    return T.ewma_fixed_point(
        x, "user_id", ("ts", "event_id"), "xi"
    ).select("user_id", "event_id", "xi", "ewma_k")


# ---------------------------------------------------------------------
# C163 — CUSUM change-point statistic (Page 1954): the sequential-
# detection classic next to the EWMA scan, same grouped-map engine
# shape and recursive-CTE oracle — and NO rounding anywhere (max/+
# only), so even centering may go negative safely.
# ---------------------------------------------------------------------

_CUSUM_SLACK = 1000  # cents: the k allowance subtracted per step
_CUSUM_THR = 10000  # cents: alarm when g exceeds this


@query(
    "cusum_alerts",
    f"""
    WITH RECURSIVE x AS (
      SELECT user_id, event_id, ts,
             CAST(floor(value * 100) AS BIGINT) AS xi
      FROM events),
    m AS (SELECT user_id, CAST(sum(xi) // count(*) AS BIGINT) AS mu
          FROM x GROUP BY 1),
    s AS (SELECT x.user_id, x.event_id, x.ts,
                 x.xi - m.mu AS c,
                 row_number() OVER (
                   PARTITION BY x.user_id ORDER BY x.ts, x.event_id) AS rn
          FROM x JOIN m USING (user_id)),
    rec AS (
      SELECT user_id, event_id, rn, c,
             greatest(CAST(0 AS BIGINT), c - {_CUSUM_SLACK}) AS cusum_g
      FROM s WHERE rn = 1
      UNION ALL
      SELECT n.user_id, n.event_id, n.rn, n.c,
             greatest(CAST(0 AS BIGINT),
                      r.cusum_g + n.c - {_CUSUM_SLACK})
      FROM rec r
      JOIN s n ON n.user_id = r.user_id AND n.rn = r.rn + 1)
    SELECT user_id, event_id, c, cusum_g,
           cusum_g > {_CUSUM_THR} AS alarm
    FROM rec
    """,
)
def q_cusum_alerts(spark, sf_dir):
    """C163: one-sided CUSUM change-point detection over each user's
    mean-centered event-value series (operators/timeseries.
    cusum_fixed_point — Page 1954): xi = floor(value·100) cents, the
    per-series in-control level as the INTEGER mean sum(xi) div n
    (one partial agg + an equi-join back — at 100 TB this is the
    usual two-pass centering, no window), then
    g_t = max(0, g_{t-1} + (c_t − slack)) with alarm when g > thr.
    Unlike the EWMA there is no floor division at all — max and + are
    exact on any sign — so centering below zero is safe and the whole
    corpus-sized relation hashes cross-engine. slack=1000/thr=10000
    cents give a ~26% alarm mix on the testdata (measured), so both
    branches of the alarm predicate are exercised at every SF."""
    e = load(spark, sf_dir, "events")
    x = e.select(
        "user_id", "event_id", "ts",
        F.floor(F.col("value") * 100).cast("bigint").alias("xi"),
    )
    # `div`, not `/`: integer division stays exact (a double quotient
    # truncated back to bigint can land one off the true floor once
    # sums outgrow the 53-bit mantissa at real scale)
    mu = x.groupBy("user_id").agg(
        F.expr("sum(xi) div count(*)").cast("bigint").alias("mu")
    )
    centered = x.join(mu, "user_id").select(
        "user_id", "event_id", "ts",
        (F.col("xi") - F.col("mu")).alias("c"),
    )
    return T.cusum_fixed_point(
        centered, "user_id", ("ts", "event_id"), "c",
        target=0, slack=_CUSUM_SLACK, threshold=_CUSUM_THR,
    ).select("user_id", "event_id", "c", "cusum_g", "alarm")


# ---------------------------------------------------------------------
# C164 — TextRank keywords: the graph×text composition (Mihalcea &
# Tarau 2004) — corpus-linear co-occurrence edge derivation feeding
# the existing weighted PageRank operator unchanged; the oracle
# unrolls the same power iteration (the pagerank_nations float
# discipline: per-round sums differ only in addition order ~1e-16,
# damped, collapsed by the shared fixed 6dp floor-round).
# ---------------------------------------------------------------------

from openetl_spark.operators import text as X  # noqa: E402

_TR_ITERS = 10
_TR_DAMPING = 0.85
_TR_WINDOW = 2


def _pagerank_iter_ctes(iters: int, damping: float) -> str:
    """The d{i}/r{i} unrolled power-iteration chain of
    analytics_r06.pagerank_oracle(), generalized: expects CTEs named
    nodes/nn/outw/frac/tele/r0 upstream; leaves the final rank
    relation as r{iters}. (1-d) rendered with repr() — the
    pagerank_oracle binary-double discipline."""
    out = ""
    prev = "r0"
    # MATERIALIZED is load-bearing past ~5 iterations: each level
    # references the previous twice (dangling + contributions), so an
    # inlining planner would expand 2^iters scans of the whole
    # upstream chain (the markov_attribution lesson).
    for i in range(1, iters + 1):
        out += f""",
    d{i} AS MATERIALIZED (
             SELECT COALESCE(sum(r.pr), 0) AS dang FROM {prev} r
             WHERE r.node NOT IN (SELECT src FROM outw)),
    r{i} AS MATERIALIZED (
      SELECT t.node,
             {(1.0 - damping)!r} * t.p
             + {damping!r} * (COALESCE(c.contrib, 0)
                              + (SELECT dang FROM d{i}) * t.p) AS pr
      FROM tele t LEFT JOIN (
        SELECT f.dst AS node, sum(r.pr * f.frac) AS contrib
        FROM {prev} r JOIN frac f ON r.node = f.src GROUP BY 1) c
      ON t.node = c.node)"""
        prev = f"r{i}"
    return out


@query(
    "textrank_keywords",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS tk
      FROM documents),
    t AS (SELECT doc_id, unnest(tk) AS w,
                 generate_subscripts(tk, 1) AS pos
          FROM toks),
    prp AS (
      SELECT w AS a,
             lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS b
      FROM t
      UNION ALL
      SELECT w, lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos)
      FROM t),
    fw AS (SELECT a, b FROM prp WHERE b IS NOT NULL AND a <> b),
    und AS (SELECT a, b FROM fw UNION ALL SELECT b, a FROM fw),
    edges AS MATERIALIZED (
              SELECT a AS src, b AS dst, CAST(count(*) AS DOUBLE) AS w
              FROM und GROUP BY 1, 2),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
    frac AS (SELECT e.src, e.dst, e.w / o.ow AS frac
             FROM edges e JOIN outw o ON e.src = o.src),
    tele AS (SELECT node, 1.0 / (SELECT n FROM nn) AS p FROM nodes),
    r0 AS (SELECT node, p AS pr FROM tele)
    {_pagerank_iter_ctes(_TR_ITERS, _TR_DAMPING)},
    strength AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS strength
                 FROM edges GROUP BY 1)
    SELECT r.node AS word, s.strength,
           floor(r.pr * 1000000.0 + 0.5) / 1000000.0 AS pr
    FROM r{_TR_ITERS} r JOIN strength s ON r.node = s.node
    """,
)
def q_textrank_keywords(spark, sf_dir):
    """C164: TextRank keyword scores over the document corpus
    (operators/text.cooccurrence_edges + operators/graph.pagerank —
    Mihalcea & Tarau 2004, the graph×text composition): the symmetric
    within-2-tokens co-occurrence graph derived corpus-linearly (one
    posexplode + one doc-keyed lead() window pass, no token
    self-join; the edge relation is vocabulary²-bounded), then 10
    rounds of the repo's weighted PageRank UNCHANGED — dangling mass,
    uniform restart, fixed iteration count. strength (a word's total
    incident co-occurrence weight) is an exact bigint; pr rides the
    pagerank_nations float discipline (per-round sums differ only in
    addition order ~1e-16, damped, both engines collapsed by the
    shared 6dp floor-round). The oracle re-derives tokens, graph, and
    the unrolled power iteration in SQL."""
    d = load(spark, sf_dir, "documents")
    edges = X.cooccurrence_edges(d, window=_TR_WINDOW)
    ranks = G.pagerank(edges, weight="w", iters=_TR_ITERS,
                       damping=_TR_DAMPING)
    strength = edges.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").cast("bigint").alias("strength")
    )
    return ranks.join(strength, "node").select(
        F.col("node").alias("word"),
        "strength",
        (F.floor(F.col("rank") * 1000000.0 + F.lit(0.5)) / 1000000.0)
        .alias("pr"),
    )


# ---------------------------------------------------------------------
# C165 — Holt double-exponential smoothing: the two-state (level +
# trend) extension of C162. The trend numerator goes NEGATIVE on
# falling series, where python floor-div and SQL // disagree — every
# division is offset-shifted ((y + M·d) div d − M) so both engines
# divide positives and truncation IS floor.
# ---------------------------------------------------------------------

from openetl_spark.operators.timeseries import HOLT_SHIFT  # noqa: E402


@query(
    "holt_user_values",
    f"""
    WITH RECURSIVE x AS (
      SELECT user_id, event_id, ts,
             CASE WHEN value < 0
                  THEN CAST(error('holt_fixed_point: negative input')
                            AS BIGINT)
                  ELSE CAST(floor(value * 100) AS BIGINT) END AS xi
      FROM events),
    s AS (SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM x),
    rec AS (
      SELECT user_id, event_id, rn, xi,
             xi * {1 << 20} AS level_k, CAST(0 AS BIGINT) AS trend_k
      FROM s WHERE rn = 1
      UNION ALL
      SELECT n.user_id, n.event_id, n.rn, n.xi, lv.l, 
             ((lv.l - r.level_k + r.trend_k + {2 * HOLT_SHIFT}) // 2)
               - {HOLT_SHIFT}
      FROM rec r
      JOIN s n ON n.user_id = r.user_id AND n.rn = r.rn + 1
      CROSS JOIN LATERAL (
        SELECT ((n.xi * {1 << 20} + r.level_k + r.trend_k
                 + {2 * HOLT_SHIFT}) // 2) - {HOLT_SHIFT} AS l) lv)
    SELECT user_id, event_id, xi, level_k, trend_k FROM rec
    """,
)
def q_holt_user_values(spark, sf_dir):
    """C165: Holt level+trend smoothing (α = β = 1/2) of each user's
    event-value series in 2^-20 fixed-point cents
    (operators/timeseries.holt_fixed_point — Holt 1957, the
    two-state extension of the C162 EWMA): l_t = (x_t·K +
    (l+b)_{t-1}) fdiv 2, b_t = ((l_t − l_{t-1}) + b_{t-1}) fdiv 2.
    The trend numerator is negative on falling series — python
    floor-div and SQL // disagree below zero, so every division is
    offset-shifted ((y + 2M) div 2 − M with M = 2^41), making both
    engines divide positives where truncation IS floor; the whole
    corpus-sized relation hashes cross-engine. Same grouped-map
    engine shape as C162/C163 (two integers of state); the oracle
    replays the shifted recursion as a recursive CTE with the level
    update factored through LATERAL so it is computed once per
    step."""
    e = load(spark, sf_dir, "events")
    x = e.select(
        "user_id", "event_id", "ts",
        F.floor(F.col("value") * 100).cast("bigint").alias("xi"),
    )
    return T.holt_fixed_point(
        x, "user_id", ("ts", "event_id"), "xi"
    ).select("user_id", "event_id", "xi", "level_k", "trend_k")
