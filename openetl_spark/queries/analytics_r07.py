"""r07 analytics queries: community detection (label propagation) with
Newman modularity, weighted shortest paths (Bellman-Ford SSSP), the
mergeable-HLL cell relation + estimate report, Bloom-filter prefilter
decontamination, and the Ed-Join edit-distance similarity join —
VERDICT r06 next-round items #5/#6/#7 plus the C118–C120 extensions.

Importing this module REGISTERS its queries into the shared
QUERIES/ORACLE registries (openetl_spark.queries.base); it is loaded
LAST by openetl_spark.catalog so all pre-existing names keep their
registration order.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from openetl_spark.operators import graph as G
from openetl_spark.operators import sketches as SK
from openetl_spark.queries.analytics_r06 import (
    CO_PURCHASE_CTE,
    co_purchase_edges,
)
from openetl_spark.queries.base import _repo_root, load, query

# ---------------------------------------------------------------------
# C115 — community detection by label propagation.
# ---------------------------------------------------------------------


def _lpa_rounds_ctes(rounds: int) -> tuple[str, str]:
    """The shared WITH-prefix of the LPA oracles: co-purchase edges,
    symmetric view, l0 = identity labeling, and ``rounds`` unrolled
    synchronous rounds. Returns (ctes_sql, final_cte_name) so both
    graph_communities and graph_modularity render the SAME rounds (the
    jaccard_ctes single-source discipline)."""
    base = f"""
WITH {CO_PURCHASE_CTE},
sym AS MATERIALIZED (SELECT x AS u, y AS v FROM co
        UNION ALL SELECT y AS u, x AS v FROM co),
l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM sym)"""
    prev = "l0"
    for i in range(1, rounds + 1):
        base += f""",
l{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT s.u AS node, l.label AS label,
           row_number() OVER (PARTITION BY s.u
                              ORDER BY count(*) DESC, l.label) AS rn
    FROM sym s JOIN {prev} l ON s.v = l.node
    GROUP BY s.u, l.label) t
  WHERE rn = 1)"""
        prev = f"l{i}"
    return base, prev


def lpa_oracle(rounds: int = 4) -> str:
    """Unrolled synchronous-LPA oracle (the kcore_oracle discipline):
    l0 = every node its own label; l_{i+1} = per node the most frequent
    neighbor label in l_i, ties to the SMALLEST label (row_number over
    (count DESC, label) — the operator's min_by struct order rendered
    as a window, legal here because the oracle has no scale posture).
    Every round CTE is MATERIALIZED: each l_i is referenced by a join
    that DuckDB would otherwise inline and re-compute exponentially
    (the measured kcore_oracle pathology)."""
    base, prev = _lpa_rounds_ctes(rounds)
    return base + f"""
SELECT node, CAST(label AS BIGINT) AS label FROM {prev}
"""


def modularity_oracle(rounds: int = 4) -> str:
    """Newman modularity of the ``rounds``-round LPA partition: Q =
    (Σe_c)/m − (Σd_c²)/(4m²) with every aggregate an exact bigint, so
    the final value is two IEEE divisions of identical integers —
    bit-deterministic with no rounding (the triangle_stats
    discipline).

    r08: the partition comes from the PERSISTED layout (consolidated
    oracle parquet keyed by the exact graph signature — the
    PQ_ORACLE_CODEBOOKS discipline) instead of re-unrolling the LPA
    rounds: graph_communities' oracle already pins the artifact
    against a from-scratch derivation every compare, so re-deriving it
    here only duplicated ~5 s of work per bench run."""
    return f"""
WITH {CO_PURCHASE_CTE},
sym AS (SELECT x AS u, y AS v FROM co
        UNION ALL SELECT y AS u, x AS v FROM co),
lab AS MATERIALIZED (
  SELECT node, label FROM read_parquet('{LPA_ORACLE_LABELS}')
  WHERE graph_sig = ({LPA_SIG_SQL}) AND rounds = {rounds}),
deg AS (SELECT u AS node, count(*) AS d FROM sym GROUP BY 1),
dc AS (SELECT l.label, sum(d.d) AS dsum
       FROM lab l JOIN deg d ON l.node = d.node GROUP BY 1),
tot AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM co) AS n_edges,
         (SELECT CAST(count(*) AS BIGINT) FROM dc) AS n_communities,
         (SELECT CAST(count(*) AS BIGINT)
          FROM co c JOIN lab a ON c.x = a.node
                    JOIN lab b ON c.y = b.node
          WHERE a.label = b.label) AS internal_edges,
         COALESCE((SELECT CAST(sum(dsum * dsum) AS BIGINT) FROM dc), 0)
           AS sum_deg_sq)
SELECT n_edges, n_communities, internal_edges, sum_deg_sq,
       CASE WHEN n_edges > 0 THEN
         internal_edges / CAST(n_edges AS DOUBLE)
         - sum_deg_sq / (4.0 * CAST(n_edges AS DOUBLE)
                             * CAST(n_edges AS DOUBLE))
       END AS modularity
FROM tot
"""


# ---------------------------------------------------------------------
# The persisted LPA partition (r08, VERDICT r07 #3): graph_communities
# and graph_modularity SHARE one 4-round labeling instead of each
# recomputing the rounds (~5 s of duplicated prefix at sf0.1). The
# labeling is built ONCE per corpus and persisted as a layout artifact
# (the _ivf_layout / PQ_ORACLE_CODEBOOKS discipline): Spark reads the
# parquet; the DuckDB oracle for graph_communities re-derives the SAME
# rounds from scratch (so the artifact is pinned against an
# independent derivation every compare), while graph_modularity's
# oracle scores the PERSISTED partition via the consolidated
# oracle-readable parquet, keyed by an exact graph signature.
# ---------------------------------------------------------------------

LPA_ORACLE_LABELS = "{}/spark-warehouse/lpa_cache/labels_oracle.parquet".format(
    _repo_root()
)

# Collision-resistant, order-independent content digest of the
# canonical edge set: XOR over DISTINCT (x < y) pairs of the 60-bit
# md5 integer of 'x:y' — the hll/kmv portable-hash discipline
# (conv(substr(md5,1,15),16,10) ≡ CAST('0x'||substr(md5,1,15) AS
# BIGINT)), bit-identical in both engines. r09 (ADVICE): replaces the
# linear checksum sum(x·131071 + y), whose value was invariant under
# any edge-set change preserving the coordinate sums. XOR (not SUM)
# because DuckDB widens sum(BIGINT) to HUGEINT while Spark wraps —
# XOR of 60-bit values stays exactly representable in both. Edges are
# DISTINCT, so XOR's pair-cancellation property is safe here.
# Rendered inside the oracle's WITH, where ``co`` is already the
# distinct canonical pair relation. Bump _SIG_V when changing this
# scheme — the layout metas record it and stale caches self-rebuild.
_SIG_V = 2

# Corpora whose persisted layout fingerprint was verified this process
# (the check is one parquet-footer count per corpus, not per query).
_GRAPH_LAYOUT_VERIFIED: set[str] = set()

LPA_SIG_SQL = (
    "SELECT CAST(bit_xor(CAST('0x' || substr(md5(CAST(x AS VARCHAR) "
    "|| ':' || CAST(y AS VARCHAR)), 1, 15) AS BIGINT)) AS BIGINT) FROM co"
)


def _lpa_graph_sig(edges) -> int:
    """Spark rendering of LPA_SIG_SQL over the raw edge pairs
    (canonicalized to the oracle's DISTINCT x < y form first)."""
    return int(
        edges.select(
            F.least("src", "dst").alias("x"), F.greatest("src", "dst").alias("y")
        )
        .distinct()
        .agg(
            F.expr(
                "cast(bit_xor(cast(conv(substr(md5(concat("
                "cast(x as string), ':', cast(y as string))), 1, 15), "
                "16, 10) as bigint)) as bigint)"
            )
        )
        .first()[0]
    )


def _upsert_oracle_labels(pdf, graph_sig: int, rounds: int) -> None:
    """Idempotently merge one corpus's labeling into the consolidated
    oracle parquet (columns: graph_sig, rounds, node, label) — the
    _upsert_oracle_centroids discipline."""
    import os

    import pandas as pd

    rows = pdf[["node", "label"]].copy()
    rows.insert(0, "graph_sig", int(graph_sig))
    rows.insert(1, "rounds", int(rounds))
    path = LPA_ORACLE_LABELS
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if os.path.exists(path):
        old = pd.read_parquet(path)
        same = (old["graph_sig"] == graph_sig) & (old["rounds"] == rounds)
        if same.sum() == len(rows):
            return
        rows = pd.concat([old[~same], rows], ignore_index=True)
    rows.to_parquet(path, index=False)


def _graph_layout(spark, sf_dir: str) -> tuple[str, str]:
    """Get-or-build the persisted co-purchase GRAPH layout for one
    testdata corpus: the canonical undirected edge list
    (``G.canonicalize`` of the co-purchase pairs — the one definition
    of canonical the graph operators assume) and the weighted edge list (distinct-order co-occurrence
    counts) — the two relations every graph query previously re-derived
    from the lineitem self-join per invocation (~1.5–2 s each at
    sf0.1, × 7 queries). The offline-build/online-query posture of
    _ivf_layout applied to the graph family. Returns (edges_path,
    edges_w_path).

    Correctness posture: the persisted edges need no separate pinning —
    every consumer's oracle re-derives co/cow from lineitem, so a wrong
    artifact cannot hash-match anything (the _lpa_layout argument,
    now shared by triangles/kcore/bfs/assortativity/sssp/ktruss).

    r09 (ADVICE): the cache key is the sf_dir basename, so regenerated
    testdata under the same path would silently reuse stale edges —
    the meta now records a cheap corpus fingerprint (lineitem row
    count, a parquet-footer-only count) plus the signature-scheme
    version, verified ONCE per process per corpus; a mismatch rebuilds
    the layout instead of surfacing as persistent oracle mismatches."""
    import json
    import os
    import shutil

    repo = _repo_root()
    key = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(repo, "spark-warehouse", "graph_cache", key)
    edges_path = os.path.join(root, "edges")
    edges_w_path = os.path.join(root, "edges_w")
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path) and key not in _GRAPH_LAYOUT_VERIFIED:
        meta = json.load(open(meta_path))
        rows = load(spark, sf_dir, "lineitem").count()
        if meta.get("sig_v") != _SIG_V or meta.get("lineitem_rows") != rows:
            shutil.rmtree(root, ignore_errors=True)  # stale: rebuild below
    if not os.path.exists(meta_path):  # meta written LAST = build complete
        par = spark.sparkContext.defaultParallelism
        und = G.canonicalize(co_purchase_edges(spark, sf_dir))
        # Explicit-width write: the edge relation is ~20 MB at sf0.1,
        # which a size-based read coalesces into ONE scan partition —
        # starving every downstream join of parallelism (measured
        # graph_triangles 6.1 -> 8.2 s). Pre-spread files so scans
        # start wide; at cluster scale the writer width follows
        # defaultParallelism automatically.
        und.repartition(par).write.mode("overwrite").parquet(edges_path)
        co_purchase_edges_weighted(spark, sf_dir).repartition(
            par
        ).write.mode("overwrite").parquet(edges_w_path)
        os.makedirs(root, exist_ok=True)
        sig = _lpa_graph_sig(spark.read.parquet(edges_path))
        json.dump(
            {
                "graph_sig": sig,
                "sig_v": _SIG_V,
                "lineitem_rows": load(spark, sf_dir, "lineitem").count(),
            },
            open(meta_path, "w"),
        )
    _GRAPH_LAYOUT_VERIFIED.add(key)
    return edges_path, edges_w_path


def _get_or_build_layout(spark, root: str, name: str, build_fn) -> str:
    """Get-or-build one persisted relation under a cache root (r10,
    review): build into a pid-suffixed temp directory and atomically
    os.rename() into place — two same-corpus processes can then never
    interleave part files inside one directory (the check-_SUCCESS-
    then-overwrite race; the DSIR atomic-upsert discipline applied to
    directory artifacts). The rename loser discards its build — every
    layout is a pure function of the corpus, so both builds are
    identical anyway. A _SUCCESS-less leftover directory (crashed
    build) is cleared before the rename. Explicit-width files for the
    scan-parallelism reason documented on the edge layout."""
    import os
    import shutil

    path = os.path.join(root, name)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        par = spark.sparkContext.defaultParallelism
        build_fn().repartition(par).write.mode("overwrite").parquet(tmp)
        if os.path.exists(path) and not os.path.exists(
            os.path.join(path, "_SUCCESS")
        ):
            shutil.rmtree(path, ignore_errors=True)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    return path


def _triangle_layout(spark, sf_dir: str, core: bool = False) -> str:
    """Get-or-build the persisted ORIENTED-TRIANGLE relation (u, a, b)
    for one testdata corpus (VERDICT r09 #3): the static triangle set
    is a pure function of the graph, yet graph_triangles,
    local_clustering, and the first k-truss peel round each paid the
    wedge self-join per invocation (~up to 4× per bench at ~10 s for
    the full graph) — the _lpa_layout lesson (modularity 8.2 → 1.1 s)
    applied to the triangle census. ``core=True`` enumerates over the
    w ≥ 2 repeat-co-purchase core (the local_clustering / k-truss
    graph), else the full co-purchase graph (graph_triangles).

    Lives INSIDE the graph_cache/<corpus> root, so _graph_layout's
    fingerprint check (lineitem row count + signature-scheme version,
    rmtree on mismatch) governs its staleness too; the parquet
    _SUCCESS marker is the build-complete flag. Correctness posture:
    every consumer's oracle re-derives triangles from lineitem, so a
    wrong artifact cannot hash-match anything (the _graph_layout
    argument). Explicit-width write for the same scan-parallelism
    reason as the edge relation."""
    import os

    edges_path, edges_w_path = _graph_layout(spark, sf_dir)
    root = os.path.dirname(edges_path)

    def build():
        if core:
            edges = (
                spark.read.parquet(edges_w_path)
                .filter(F.col("w") >= 2)
                .select("src", "dst")
            )
        else:
            edges = spark.read.parquet(edges_path)
        und, deg = G._undirected_simple(edges, "src", "dst")
        return G._oriented_triangles(und, deg)

    return _get_or_build_layout(
        spark, root, "triangles_core" if core else "triangles_full", build
    )


def _lpa_layout(spark, sf_dir: str, rounds: int = 4) -> tuple[str, str]:
    """Get-or-build the persisted LPA labeling for one testdata
    corpus: run label_propagation ONCE, write the (node, label)
    relation AND the canonical undirected edge list (a < b distinct —
    the lineitem self-join every graph query would otherwise redo) as
    parquet, record the exact graph signature, and keep the
    consolidated oracle parquet current. Returns (labels_path,
    edges_path). The persisted edges need no separate pinning: wrong
    edges would break graph_communities' from-scratch oracle (labels)
    and graph_modularity's lineitem-derived totals alike.

    The toPandas() here is node-cardinality-sized (~2k rows at sf0.1)
    and happens only on the one-time layout build / oracle upsert —
    the boundary-legal media-fingerprint-persist posture, never on a
    per-query path."""
    import json
    import os
    import shutil

    import pandas as pd

    repo = _repo_root()
    key = f"{os.path.basename(os.path.normpath(sf_dir))}_r{rounds}"
    root = os.path.join(repo, "spark-warehouse", "lpa_cache", key)
    labels_path = os.path.join(root, "labels")
    meta_path = os.path.join(root, "meta.json")
    # r08: the canonical edge list lives in the corpus-wide graph
    # layout (shared by every graph query), not per-rounds here.
    # _graph_layout fingerprint-verifies (and rebuilds) its cache, so
    # its meta signature is authoritative here: a labels meta whose
    # graph_sig disagrees (regenerated corpus, sig-scheme bump) is
    # stale and rebuilds (r09, ADVICE).
    edges_path, _ = _graph_layout(spark, sf_dir)
    graph_meta = json.load(
        open(os.path.join(os.path.dirname(edges_path), "meta.json"))
    )
    if os.path.exists(meta_path):
        meta = json.load(open(meta_path))
        if meta.get("graph_sig") != graph_meta["graph_sig"]:
            shutil.rmtree(root, ignore_errors=True)
    if not os.path.exists(meta_path):  # meta written LAST = build complete
        und = spark.read.parquet(edges_path).localCheckpoint()
        labels = G.label_propagation(und, rounds=rounds)
        labels.write.mode("overwrite").parquet(labels_path)
        os.makedirs(root, exist_ok=True)
        sig = _lpa_graph_sig(und)
        json.dump({"graph_sig": sig}, open(meta_path, "w"))
    meta = json.load(open(meta_path))
    _upsert_oracle_labels(
        pd.read_parquet(labels_path), meta["graph_sig"], rounds
    )
    return labels_path, edges_path


@query("graph_communities", lpa_oracle(rounds=4))
def q_graph_communities(spark, sf_dir):
    """C115: communities of the part co-purchase graph by synchronous
    label propagation (operators/graph.label_propagation, Raghavan et
    al. 2007) — 4 fixed rounds, ties to the smallest label (the
    deterministic variant; classic LPA's random order/ties would be
    uncheckable cross-engine). Labels are exact part keys: the whole
    (node, label) relation hash-matches with no rounding.

    r08 (VERDICT r07 #3): the labeling is computed once per corpus and
    PERSISTED (_lpa_layout); this query reads the artifact while the
    oracle still unrolls all 4 rounds from the shared CO_PURCHASE_CTE
    with MATERIALIZED round CTEs — every compare therefore pins the
    persisted partition against a from-scratch independent derivation,
    and graph_modularity scores the same artifact without recomputing
    the rounds."""
    labels_path, _ = _lpa_layout(spark, sf_dir, rounds=4)
    return spark.read.parquet(labels_path).select("node", "label")


# ---------------------------------------------------------------------
# C116 — weighted single-source shortest paths (Bellman-Ford).
# The weighted co-purchase graph: edge weight = number of distinct
# orders the pair co-occurs in (exact bigint, so path sums stay exact
# integers — the cross-engine hash discipline). ONE edge definition
# shared by the Spark builder and the oracle fragment below, the
# CO_PURCHASE_CTE single-source discipline.
# ---------------------------------------------------------------------

CO_PURCHASE_W_CTE = """cow AS MATERIALIZED (
      SELECT a.l_partkey AS x, b.l_partkey AS y,
             CAST(count(DISTINCT a.l_orderkey) AS BIGINT) AS w
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2)"""


def co_purchase_edges_weighted(spark, sf_dir):
    """Spark twin of CO_PURCHASE_W_CTE."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count_distinct(F.col("a.l_orderkey")).alias("w"))
    )


def sssp_oracle(rounds: int = 6) -> str:
    """Unrolled Bellman-Ford oracle: d0 = seeds at distance 0;
    d_{i+1}(v) = min(d_i(v), min over edges (u,v) of d_i(u) + w) — the
    textbook relaxation round as one UNION ALL + min groupBy per round,
    each MATERIALIZED. After i rounds d_i(v) is exactly the minimum
    weight over paths of ≤ i edges, the same invariant the operator's
    frontier optimization preserves, so d_rounds ≡ sssp(max_rounds =
    rounds) whether or not the fixpoint has arrived (a WITH RECURSIVE
    path enumeration would instead explode combinatorially on this
    dense graph — distinct (node, dist) states, not nodes)."""
    base = f"""
WITH {CO_PURCHASE_W_CTE},
symw AS MATERIALIZED (SELECT x AS u, y AS v, w FROM cow
         UNION ALL SELECT y AS u, x AS v, w FROM cow),
d0 AS MATERIALIZED (SELECT p_partkey AS node, CAST(0 AS BIGINT) AS dist
       FROM part WHERE p_brand = 'Brand#13')"""
    prev = "d0"
    for i in range(1, rounds + 1):
        base += f""",
d{i} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM {prev}
    UNION ALL
    SELECT s.v AS node, d.dist + s.w AS dist
    FROM {prev} d JOIN symw s ON d.node = s.u) t
  GROUP BY node)"""
        prev = f"d{i}"
    return base + f"""
SELECT node, CAST(dist AS BIGINT) AS dist FROM {prev}
"""


@query("sssp_parts", sssp_oracle(rounds=6))
def q_sssp_parts(spark, sf_dir):
    """C116: weighted shortest paths over the co-purchase graph from
    the Brand#13 seed set (operators/graph.sssp — frontier Bellman-
    Ford, one shuffle per relaxation round, observe()-metered early
    stop). Edge weight = distinct-order co-occurrence count, so path
    distances are exact bigint sums — hash-identical cross-engine with
    no rounding. max_rounds=6 matches the oracle's 6 unrolled rounds
    (min weight over ≤ 6-edge paths; the bfs_hops/kcore bounded-round
    determinism contract — negative weights are impossible here, the
    weight is a count ≥ 1)."""
    seeds = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#13")
        .select("p_partkey")
    )
    _, edges_w_path = _graph_layout(spark, sf_dir)
    return G.sssp(
        spark.read.parquet(edges_w_path),
        seeds,
        max_rounds=6,
    )


# ---------------------------------------------------------------------
# C117 — mergeable HyperLogLog register cells (the third sketch family
# after the histogram and CMS, VERDICT r06 #7): FULL bit-exact oracle —
# DuckDB re-derives every register from the same md5 arithmetic.
# ---------------------------------------------------------------------

# 2^(60-9): the register-index / suffix split point for p=9.
_HLL_M_SUFFIX = 1 << 51


@query(
    "hll_cells",
    f"""
    WITH h AS (
      SELECT o_orderpriority,
             CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM orders)
    SELECT o_orderpriority,
           CAST(h // {_HLL_M_SUFFIX} AS INT) AS j,
           CAST(max(CASE WHEN h % {_HLL_M_SUFFIX} = 0 THEN 52
                    ELSE 52 - length(ltrim(bin(h % {_HLL_M_SUFFIX}), '0'))
                    END) AS INT) AS r
    FROM h GROUP BY 1, 2
    """,
)
def q_hll_cells(spark, sf_dir):
    """C117: HLL register cells (p=9, 512 registers) of each order
    priority's distinct customer set (operators/sketches.hll_cells).
    One partial-agg groupBy on (priority, register) — the shuffle
    carries ≤ 512 cells per priority at ANY corpus size, and two
    corpora's cells merge by max (property-tested). Everything is
    exact integer arithmetic on a 60-bit md5 prefix: register index by
    integer div, leading-zero rank via the bit length of the suffix
    (Spark bin() strips leading zeros; DuckDB pads, hence its
    ltrim-form) — a FULL bit-exact oracle where approx_sketches'
    engine-native HLL allows only an inequality check. The float-side
    estimate (hll_estimate) is pinned by tests/test_sketches.py
    against exact counts, not by this oracle."""
    o = load(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    return SK.hll_cells(o, "o_custkey", keys=["o_orderpriority"], p=9)


# ---------------------------------------------------------------------
# C118 — Bloom-filter prefilter decontamination (the fourth mergeable
# sketch: OR-merge bit positions; GPT-3 Appendix C's production
# posture — a bloom gate over eval n-grams in front of the exact
# join). FULL oracle: the double-hash positions are exact integer md5
# arithmetic, so even the FALSE-POSITIVE set is engine-identical.
# ---------------------------------------------------------------------

_BLOOM_M, _BLOOM_K = 1 << 18, 4

# One n-gram definition shared with decontaminate_ngram's oracle (the
# CO_PURCHASE_CTE single-source discipline, applied to token 5-grams).
_NG_CTES = """toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
      FROM documents),
    ng AS MATERIALIZED (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS g
      FROM toks, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
      WHERE len(w) >= 5)"""


@query(
    "bloom_decontaminate",
    f"""
    WITH {_NG_CTES},
    evg AS (SELECT DISTINCT g FROM ng WHERE doc_id % 20 = 0),
    cells AS MATERIALIZED (
      SELECT DISTINCT (h1 + i * h2) % {_BLOOM_M} AS pos FROM (
        SELECT CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h1,
               CAST('0x' || substr(md5(g), 16, 15) AS BIGINT) AS h2
        FROM evg), UNNEST([0, 1, 2, 3]) AS t(i)),
    ppos AS (
      SELECT doc_id, g, (h1 + i * h2) % {_BLOOM_M} AS pos FROM (
        SELECT doc_id, g,
               CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h1,
               CAST('0x' || substr(md5(g), 16, 15) AS BIGINT) AS h2
        FROM ng WHERE doc_id % 20 <> 0), UNNEST([0, 1, 2, 3]) AS t(i)),
    ghit AS (
      SELECT doc_id, g,
             min(CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END) AS bloom_hit
      FROM ppos p LEFT JOIN cells c ON p.pos = c.pos
      GROUP BY doc_id, g),
    agg AS (
      SELECT h.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(h.bloom_hit) AS BIGINT) AS n_bloom_hits,
             CAST(sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_confirmed
      FROM ghit h LEFT JOIN evg e ON h.g = e.g
      GROUP BY 1)
    SELECT doc_id, n_grams, n_bloom_hits, n_confirmed
    FROM agg WHERE n_bloom_hits >= 1
    """,
)
def q_bloom_decontaminate(spark, sf_dir):
    """C118: Bloom-prefiltered benchmark decontamination — the eval
    slice's (doc_id % 20 == 0) distinct 5-grams populate a bloom-cell
    relation (operators/sketches.bloom_cells, m=2^18 / k=4 — sized so
    the filter stays unsaturated at sf0.1's ~13k eval grams); every
    training 5-gram probes it (bloom_probe: no false negatives — every
    exactly-shared gram is flagged, pinned by n_bloom_hits ≥
    n_confirmed per doc), and the per-doc rollup reports bloom hits
    next to exact-join confirmations, so the filter's false-positive
    overhead is VISIBLE in the result instead of silently inflating
    the downstream exact join. The whole pipeline — both hash slices,
    the double-hash positions, the all-k membership — is exact integer
    arithmetic, so the oracle reproduces the identical FP set
    (GPT-3's Appendix-C bloom gate, made auditable)."""
    d = load(spark, sf_dir, "documents")
    from openetl_spark.operators.curation import ngrams

    # r12 session 3: ng (the corpus-wide 5-gram explode + distinct —
    # the query's dominant scan+shuffle) still ran TWICE after the
    # evg checkpoint below: once building evg, once feeding the
    # training-side probe. Lazy persist pays the explode+distinct once
    # per invocation and serves both consumers (the change-7 banded-
    # relation discipline; persist, not localCheckpoint, so Catalyst
    # keeps the size stats feeding the downstream broadcast decisions).
    ng = d.select(
        "doc_id", F.explode(ngrams(F.col("text"), 5)).alias("g")
    ).distinct().persist()
    # r12 optimization: evg (the distinct EVAL grams — dictionary-
    # sized: the eval slice is 1/20 of docs) feeds BOTH the bloom-cell
    # build and the exact-confirmation arm; left lazy, each consumer
    # re-ran the corpus-wide 5-gram explode+distinct (3 full passes
    # for the query). One localCheckpoint of the small relation cuts
    # that to 2 passes (evg build + the training-side probe); the ng
    # persist above now makes the remaining two consumers share ONE
    # explode+distinct execution.
    evg = (
        ng.filter(F.col("doc_id") % 20 == 0)
        .select("g")
        .distinct()
        .localCheckpoint()
    )
    cells = SK.bloom_cells(evg, "g", m_bits=_BLOOM_M, k=_BLOOM_K)
    probe = ng.filter(F.col("doc_id") % 20 != 0)
    flagged = SK.bloom_probe(cells, probe, "g", m_bits=_BLOOM_M, k=_BLOOM_K)
    exact = evg.withColumn("_ev", F.lit(1))
    return (
        flagged.join(F.broadcast(exact), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.col("bloom_hit").cast("int")).cast("bigint").alias(
                "n_bloom_hits"
            ),
            F.sum(
                F.when(F.col("_ev").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_confirmed"),
        )
        .filter(F.col("n_bloom_hits") >= 1)
        .select("doc_id", "n_grams", "n_bloom_hits", "n_confirmed")
    )


@query("graph_modularity", modularity_oracle(rounds=4))
def q_graph_modularity(spark, sf_dir):
    """C119: Newman modularity of graph_communities' 4-round LPA
    partition over the co-purchase graph (operators/graph.modularity)
    — the quality score that makes a community assignment auditable
    instead of taken on faith. Exact-integer formulation (internal
    edges, per-community degree sums, their squares are all bigints;
    Q is two IEEE divisions of identical integers) so the single
    result row hash-matches with no rounding.

    r08 (VERDICT r07 #3): scores the PERSISTED 4-round labeling from
    _lpa_layout instead of recomputing the rounds inline — the ~5 s
    duplicated LPA prefix at sf0.1 is gone, and the oracle reads the
    SAME persisted partition (consolidated parquet, graph-signature
    keyed) whose correctness graph_communities' from-scratch oracle
    pins every compare."""
    labels_path, edges_path = _lpa_layout(spark, sf_dir, rounds=4)
    return G.modularity(
        spark.read.parquet(edges_path),
        spark.read.parquet(labels_path),
    )


# ---------------------------------------------------------------------
# C117b — the HLL ESTIMATE path under a driver oracle (the
# approx_sketches inequality discipline: the float estimate is
# re-derived by DuckDB from the SAME cells and the SAME formula, and
# what hash-matches are the exact counts + the accuracy booleans —
# robust to the one-ulp summation-order difference floats allow).
# ---------------------------------------------------------------------

# Flajolet bias constant for m=512 registers, inlined as the same repr
# literal on both engines (the pagerank (1-d) literal discipline).
_HLL_ALPHA_512 = repr(0.7213 / (1 + 1.079 / 512))
# 3 standard errors at m=512: 3 * 1.04 / sqrt(512), rounded up.
_HLL_3SIGMA = "0.138"


@query(
    "hll_distinct_report",
    f"""
    WITH h AS (
      SELECT o_orderpriority, o_custkey,
             CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM orders),
    cells AS (
      SELECT o_orderpriority,
             h // {_HLL_M_SUFFIX} AS j,
             max(CASE WHEN h % {_HLL_M_SUFFIX} = 0 THEN 52
                 ELSE 52 - length(ltrim(bin(h % {_HLL_M_SUFFIX}), '0'))
                 END) AS r
      FROM h GROUP BY 1, 2),
    est AS (
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n_registers_set,
             CAST({_HLL_ALPHA_512} AS DOUBLE) * 512 * 512
               / (sum(power(2.0, -r)) + (512 - count(*))) AS raw
      FROM cells GROUP BY 1),
    ex AS (
      SELECT o_orderpriority,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact
      FROM orders GROUP BY 1),
    fin AS (
      SELECT e.o_orderpriority, x.n_exact, e.n_registers_set,
             CASE WHEN e.raw <= 2.5 * 512 AND e.n_registers_set < 512
                  THEN 512.0 * ln(512.0 / (512 - e.n_registers_set))
                  ELSE e.raw END AS estimate
      FROM est e JOIN ex x ON e.o_orderpriority = x.o_orderpriority)
    SELECT o_orderpriority, n_exact, n_registers_set,
           abs(estimate - n_exact) <= {_HLL_3SIGMA} * n_exact
             AS within_3sigma
    FROM fin
    """,
)
def q_hll_distinct_report(spark, sf_dir):
    """C117b: the HLL estimate path driver-checked — per priority, the
    EXACT distinct customer count (bigint, hash-pinned verbatim) next
    to the register occupancy and a boolean asserting the Flajolet
    estimate (with its linear-counting small-range branch) lands
    within 3 standard errors (3·1.04/√512 ≈ 0.138) of it. DuckDB
    re-derives the cells bit-identically (hll_cells' FULL oracle) and
    the estimate by the SAME formula with the SAME repr'd α literal —
    the booleans tolerate the one-ulp float-summation-order difference
    while an estimator bug (wrong α, missing small-range branch, rho
    off-by-one) flips them red on both the exact-vs-estimate and
    occupancy columns (the approx_sketches inequality discipline, now
    with a white-box estimator instead of Spark's opaque sketch)."""
    o = load(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    est = SK.hll_estimate(
        SK.hll_cells(o, "o_custkey", keys=["o_orderpriority"], p=9),
        p=9,
        keys=["o_orderpriority"],
    )
    exact = o.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("n_exact")
    )
    return exact.join(est, "o_orderpriority").select(
        "o_orderpriority",
        "n_exact",
        "n_registers_set",
        (
            F.abs(F.col("estimate") - F.col("n_exact"))
            <= float(_HLL_3SIGMA) * F.col("n_exact")
        ).alias("within_3sigma"),
    )


# ---------------------------------------------------------------------
# C120 — edit-distance similarity join (Ed-Join: prefix-filtered
# q-gram candidates + levenshtein verify — the scalable string
# similarity join next to the jaccard/minhash token family).
# ---------------------------------------------------------------------

# chr(31)×4 rendered for the DuckDB side (q=5 padding).
_ED_PAD = "repeat(chr(31), 4)"


@query(
    "edit_similarity_pairs",
    f"""
    WITH base AS (SELECT c_custkey AS id, c_name AS s FROM customer),
    grams AS MATERIALIZED (
      SELECT DISTINCT id, s, substr(p, i, 5) AS g FROM (
        SELECT id, s, {_ED_PAD} || s || {_ED_PAD} AS p FROM base) b,
        UNNEST(generate_series(1, length(p) - 4)) AS t(i)),
    freq AS (SELECT g, count(*) AS f FROM grams GROUP BY 1),
    sig AS MATERIALIZED (
      SELECT id, s, g FROM (
        SELECT gr.id, gr.s, gr.g,
               row_number() OVER (PARTITION BY gr.id
                                  ORDER BY f.f, gr.g) AS rn
        FROM grams gr JOIN freq f ON gr.g = f.g) t
      WHERE rn <= 6
      UNION ALL
      SELECT id, s, '' FROM base WHERE length(s) <= 2),
    cand AS (
      SELECT DISTINCT a.id AS ia, a.s AS sa, b.id AS ib, b.s AS sb
      FROM sig a JOIN sig b ON a.g = b.g AND a.id < b.id),
    ok AS (
      SELECT ia, ib, levenshtein(sa, sb) AS dist
      FROM cand
      WHERE abs(length(sa) - length(sb)) <= 1 AND levenshtein(sa, sb) <= 1)
    SELECT CAST(dist AS INT) AS dist,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(ia) AS BIGINT) AS min_a,
           CAST(max(ib) AS BIGINT) AS max_b
    FROM ok GROUP BY 1
    """,
)
def q_edit_similarity_pairs(spark, sf_dir):
    """C120: all customer-name pairs within edit distance 1
    (operators/dedup.edit_similarity_join — Ed-Join prefix filtering,
    q=5): zero-padded sequential keys like 'Customer#000000042' are
    the ADVERSARIAL case for naive q-gram blocking (every name shares
    the corporate prefix), and exactly where rarest-first signatures
    shine — the digit-region grams that survive into the 6-gram
    signatures have corpus frequencies in the single digits, so
    candidate buckets stay tiny while the all-pairs cross product
    never materializes. The result is the per-distance pair census
    (plus min/max pair endpoints as extra hash anchors); the oracle
    re-derives padding, distinct grams, the (frequency, gram) total
    order, signatures, candidates, and distances — every step exact
    strings/integers, FULL-oracle checkable including the filter's
    candidate set."""
    from openetl_spark.operators.dedup import edit_similarity_join

    # spread=True: single-file local scans would build ~3.3M padded
    # grams in one task (the shingling fan-out rule).
    c = load(spark, sf_dir, "customer", spread=True).select(
        "c_custkey", "c_name"
    )
    pairs = edit_similarity_join(c, "c_custkey", "c_name", tau=1, q=5)
    return pairs.groupBy(F.col("dist").cast("int").alias("dist")).agg(
        F.count("*").alias("n_pairs"),
        F.min("a").cast("bigint").alias("min_a"),
        F.max("b").cast("bigint").alias("max_b"),
    )
