"""Graph / multi-criteria / interval analytics (r06, third session):
the graph family (pagerank_nations, graph_triangles, bfs_hops_parts —
first-class next to connected components), skyline_parts (Pareto
frontier), and time-weighted averages + last-touch attribution over
the event stream.

Importing this module REGISTERS its queries into the shared
QUERIES/ORACLE registries (openetl_spark.queries.base); it is loaded
LAST by openetl_spark.catalog so all pre-existing names keep their
registration order.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from openetl_spark.operators import analytics as A
from openetl_spark.operators import graph as G
from openetl_spark.operators import timeseries as TS
from openetl_spark.operators.text import _round_fixed
from openetl_spark.queries.base import load, query

# ---------------------------------------------------------------------
# C106 — PageRank (graph analytics). Oracle: the power iteration is a
# FIXED number of rounds, so it unrolls into one CTE per round — DuckDB
# re-derives the edge weights, out-degree normalization, dangling mass,
# and all five damped updates from the raw tables. Float determinism:
# both engines start from identical doubles (1/N, identical parquet
# counts); per-round sums differ only in summation order (~1e-16),
# damped — the shared fixed 6dp floor-round collapses both renderings.
# ---------------------------------------------------------------------


_TELE_UNIFORM = "SELECT node, 1.0 / (SELECT n FROM nn) AS p FROM nodes"


def pagerank_oracle(
    iters: int = 5, damping: float = 0.85, tele_sql: str = _TELE_UNIFORM
) -> str:
    """Unrolled-CTE PageRank oracle over the nation trade graph.

    One parameterized builder (the jaccard_ctes()/winnow_oracle()
    discipline) so the Spark operator's parameters appear exactly once.
    ``tele_sql`` is the restart-distribution relation (node, p) — the
    uniform 1/N default is classic PageRank; a seed-uniform relation
    makes it personalized. Both the (1-d) restart and the dangling
    mass multiply p, exactly as the Spark operator computes, so the
    engines stay bit-identical before the shared 6dp floor-round. The
    (1-d) literal is rendered with repr() so DuckDB parses the very
    double Python computed for the Spark side (1 - 0.85 is not 0.15 in
    binary; rendering '0.15' would diverge in the 17th digit).
    """
    base = f"""
WITH edges AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         CAST(count(*) AS DOUBLE) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
frac AS (SELECT e.src, e.dst, e.w / o.ow AS frac
         FROM edges e JOIN outw o ON e.src = o.src),
tele AS ({tele_sql}),
r0 AS (SELECT node, p AS pr FROM tele)"""
    prev = "r0"
    for i in range(1, iters + 1):
        base += f""",
d{i} AS (SELECT COALESCE(sum(r.pr), 0) AS dang FROM {prev} r
         WHERE r.node NOT IN (SELECT src FROM outw)),
r{i} AS (
  SELECT t.node,
         {(1.0 - damping)!r} * t.p
         + {damping!r} * (COALESCE(c.contrib, 0)
                          + (SELECT dang FROM d{i}) * t.p) AS pr
  FROM tele t LEFT JOIN (
    SELECT f.dst AS node, sum(r.pr * f.frac) AS contrib
    FROM {prev} r JOIN frac f ON r.node = f.src GROUP BY 1) c
  ON t.node = c.node)"""
        prev = f"r{i}"
    return base + f"""
SELECT n.n_name, floor(r.pr * 1000000.0 + 0.5) / 1000000.0 AS pr
FROM {prev} r JOIN nation n ON r.node = n.n_nationkey
"""


@query("pagerank_nations", pagerank_oracle())
def q_pagerank_nations(spark, sf_dir):
    """C106: weighted PageRank over the nation-level trade graph (edge
    customer_nation → supplier_nation, weight = lineitem count). The
    edge build is the corpus-scale part — a three-way equi-join over
    lineitem/orders/customer/supplier with map-side partial counts;
    the iteration then runs on the node/edge relations (25 nations
    here; the operator's join-agg rounds scale to billions of nodes —
    see operators/graph.pagerank scale notes). Ranks floor-rounded to
    6dp on both engines."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("double").alias("w"))
    )
    ranks = G.pagerank(edges, "src", "dst", "w", damping=0.85, iters=5)
    return ranks.join(
        F.broadcast(nat), ranks["node"] == nat["n_nationkey"]
    ).select("n_name", _round_fixed(F.col("rank"), 6).alias("pr"))


# ---------------------------------------------------------------------
# C113 — personalized PageRank (teleport to a seed distribution).
# ---------------------------------------------------------------------

_TELE_REGION0 = """
SELECT nd.node,
       CASE WHEN s.node IS NOT NULL
            THEN 1.0 / (SELECT CAST(count(*) AS DOUBLE)
                        FROM nation WHERE n_regionkey = 0)
            ELSE 0.0 END AS p
FROM nodes nd
LEFT JOIN (SELECT n_nationkey AS node FROM nation WHERE n_regionkey = 0) s
  ON nd.node = s.node"""


@query("personalized_pagerank", pagerank_oracle(tele_sql=_TELE_REGION0))
def q_personalized_pagerank(spark, sf_dir):
    """C113: personalized PageRank on the same nation trade graph —
    the restart distribution is uniform over region-0 nations instead
    of all nodes, so ranks measure proximity to that seed set (the
    recommendation/trust-propagation form of C106). Same operator,
    same parameterized oracle builder: only the teleport relation
    differs, on both engines. The seed-set size is a region-cardinality
    scalar; dangling mass also restarts on the seeds (the standard
    personalized completion, matching the operator)."""
    nat = load(spark, sf_dir, "nation")
    seeds = nat.filter(F.col("n_regionkey") == 0).select(
        F.col("n_nationkey").alias("node")
    )
    k = seeds.count()  # region-sized scalar, mirrored by the oracle subquery
    tele = seeds.select("node", F.lit(1.0 / k).alias("p"))
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("double").alias("w"))
    )
    ranks = G.pagerank(edges, "src", "dst", "w", damping=0.85, iters=5, teleport=tele)
    return ranks.join(
        F.broadcast(nat), ranks["node"] == nat["n_nationkey"]
    ).select("n_name", _round_fixed(F.col("rank"), 6).alias("pr"))


# ---------------------------------------------------------------------
# C107 — skyline / Pareto frontier.
# ---------------------------------------------------------------------

@query(
    "skyline_parts",
    """
    SELECT p.p_partkey, p.p_name, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
    """,
)
def q_skyline_parts(spark, sf_dir):
    """C107: skyline of part — cheapest-for-the-size Pareto frontier
    (minimize p_retailprice, maximize p_size). The operator runs the
    two-phase distributed plan (per-bucket local BNL prune, then an
    exact pass over the small survivor union — operators/analytics);
    the oracle is the textbook NOT EXISTS dominance predicate, so the
    test proves the pruned plan ≡ the quadratic definition. Dominance
    compares raw parquet doubles — no rounding needed, both engines
    read identical bits."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice", "p_size"
    )
    return A.skyline(p, maximize=["p_size"], minimize=["p_retailprice"])


# ---------------------------------------------------------------------
# C108 — time-weighted average (TimescaleDB time_weight LOCF parity).
# ---------------------------------------------------------------------

@query(
    "time_weighted_avg",
    """
    WITH obs AS (
      SELECT user_id, value,
             CAST(epoch_us(lead(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id))
                  - epoch_us(ts) AS DOUBLE) AS dt
      FROM events)
    SELECT user_id,
           floor(sum(value * dt) / sum(dt) * 1000000.0 + 0.5) / 1000000.0
             AS twa,
           CAST(floor(sum(dt) / 1000000.0) AS BIGINT) AS span_s
    FROM obs WHERE dt IS NOT NULL
    GROUP BY user_id HAVING sum(dt) > 0
    """,
)
def q_time_weighted_avg(spark, sf_dir):
    """C108: per-user time-weighted average of event value —
    last-observation-carried-forward weighting (TimescaleDB
    time_weight('LOCF')): each value is weighted by how long it stayed
    current, the correct mean for irregular sampling. One keyed lead
    window + partial-agg groupBy (operators/timeseries
    .time_weighted_avg); deltas are exact epoch-microsecond integers on
    both engines, the final ratio floor-rounds at 6dp."""
    e = load(spark, sf_dir, "events")
    return TS.time_weighted_avg(
        e, keys=["user_id"], ts="ts", value="value", order_tiebreak=["event_id"]
    )


# ---------------------------------------------------------------------
# C109 — marketing attribution (last touch).
# ---------------------------------------------------------------------

@query(
    "attribution_last_touch",
    """
    WITH attr AS (
      SELECT event_type, value,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel
      FROM events)
    SELECT COALESCE(channel, 'direct') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           floor(sum(value) * 100.0 + 0.5) / 100.0 AS revenue
    FROM attr
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def q_attribution_last_touch(spark, sf_dir):
    """C109: last-touch revenue attribution — every purchase credits
    the user's most recent preceding touch event (click/view);
    purchases with no prior touch fall to 'direct'. The classic
    attribution window: one keyed ignore-nulls last() over
    (ts, event_id)-ordered user history (deterministic tie order, the
    event_transitions discipline), then a tiny partial-agg rollup.
    Revenue is rounded via _round_fixed (floor(x*100+0.5)/100 on both
    engines) — engine-native round() diverges on representable
    half-cent boundaries (ADVICE r06)."""
    e = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin("click", "view"), F.col("event_type")
    )
    attr = e.select(
        "event_type",
        "value",
        F.last(touch, ignorenulls=True).over(w).alias("channel"),
    )
    return (
        attr.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"))
        .agg(
            F.count("*").alias("n_purchases"),
            _round_fixed(F.sum("value"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------
# The part co-purchase graph — the ONE edge definition the triangle and
# BFS queries share, on both engines (the jaccard_ctes() single-source
# discipline: a future change to the graph — a quantity filter, a
# de-skew — edits exactly one Spark builder and one SQL fragment).
# ---------------------------------------------------------------------

# Canonical x < y co-occurrence pairs of parts within an order.
CO_PURCHASE_CTE = """co AS (
      SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""


def co_purchase_edges(spark, sf_dir):
    """Spark twin of CO_PURCHASE_CTE before its DISTINCT: x < y pairs,
    one row per co-occurrence, so not canonical. The graph operators
    take canonical edges — pass these through
    ``operators.graph.canonicalize`` (as ``_graph_layout`` does), or
    read the persisted layout via ``_layout_edges``."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
    )




def _layout_edges(spark, sf_dir):
    """Persisted canonical co-purchase edges (r08): the corpus-wide
    graph layout built once by analytics_r07._graph_layout — imported
    lazily because r07 imports THIS module at load time (the layout is
    only needed at query-call time, when both modules exist). Every
    consumer's oracle still derives co from lineitem, so a wrong
    artifact cannot hash-match."""
    from openetl_spark.queries.analytics_r07 import _graph_layout

    edges_path, _ = _graph_layout(spark, sf_dir)
    return spark.read.parquet(edges_path)


# ---------------------------------------------------------------------
# C110 — triangle counting / global clustering coefficient.
# ---------------------------------------------------------------------

@query(
    "graph_triangles",
    f"""
    WITH {CO_PURCHASE_CTE},
    deg AS (
      SELECT node, count(*) AS d
      FROM (SELECT x AS node FROM co UNION ALL SELECT y FROM co)
      GROUP BY 1),
    tri AS (
      SELECT count(*) AS t
      FROM co e1
      JOIN co e2 ON e2.x = e1.x AND e2.y > e1.y
      JOIN co e3 ON e3.x = e1.y AND e3.y = e2.y),
    agg AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
             (SELECT CAST(count(*) AS BIGINT) FROM co) AS n_edges,
             (SELECT CAST(sum(d * (d - 1)) / 2 AS BIGINT) FROM deg)
               AS n_wedges,
             (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges > 0
                THEN 3.0 * n_triangles / n_wedges ELSE 0.0 END
             AS global_clustering
    FROM agg
    """,
)
def q_graph_triangles(spark, sf_dir):
    """C110: exact triangle census of the part co-purchase graph
    (parts co-occurring in an order are adjacent). The operator runs
    the degree-ordered-orientation count (operators/graph
    .triangle_stats — wedge fan-out capped at O(√m) per node, the
    Suri & Vassilvitskii shape); the oracle enumerates triangles by
    the naive x<y<z three-way join, so the test proves the oriented
    plan ≡ the definition. All counts are exact integers; the
    clustering coefficient is one IEEE division of exact integers on
    both engines — bit-identical without rounding. r10: the triangle
    relation reads from the corpus-keyed persisted layout
    (_triangle_layout — a pure function of the graph, previously
    re-enumerated by up to four consumers per bench); the oracle
    still derives everything from lineitem."""
    from openetl_spark.queries.analytics_r07 import _triangle_layout

    tri = spark.read.parquet(_triangle_layout(spark, sf_dir))
    return G.triangle_stats(_layout_edges(spark, sf_dir), triangles=tri)


# ---------------------------------------------------------------------
# C111 — multi-source BFS / unweighted shortest hops.
# ---------------------------------------------------------------------

@query(
    "bfs_hops_parts",
    f"""
    WITH RECURSIVE {CO_PURCHASE_CTE},
    sym AS (SELECT x AS u, y AS v FROM co
            UNION ALL SELECT y AS u, x AS v FROM co),
    seeds AS (SELECT p_partkey AS node FROM part WHERE p_brand = 'Brand#13'),
    walk(node, hop) AS (
      SELECT node, 0 FROM seeds
      UNION
      SELECT s.v, w.hop + 1
      FROM walk w JOIN sym s ON w.node = s.u
      WHERE w.hop < 4)
    SELECT node, CAST(min(hop) AS BIGINT) AS hop
    FROM walk GROUP BY node
    """,
)
def q_bfs_hops_parts(spark, sf_dir):
    """C111: multi-source BFS over the part co-purchase graph — hop
    distance from the Brand#13 seed set (unweighted shortest path;
    level-synchronous frontier expansion, operators/graph.bfs_hops).
    The oracle is DuckDB's WITH RECURSIVE walk with UNION dedup and
    min(hop) per node, so the test proves the frontier/anti-join plan
    ≡ the declarative fixpoint. Hop labels are exact integers —
    hash-identical cross-engine with no rounding. max_hops=4 matches
    the oracle's hop < 4 recursion guard (the dense co-purchase graph
    saturates earlier; the bound is the determinism contract)."""
    seeds = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#13")
        .select("p_partkey")
    )
    out = G.bfs_hops(_layout_edges(spark, sf_dir), seeds, max_hops=4)
    return out.select("node", F.col("hop").cast("bigint").alias("hop"))


# ---------------------------------------------------------------------
# C112 — degree assortativity.
# ---------------------------------------------------------------------

@query(
    "graph_assortativity",
    f"""
    WITH {CO_PURCHASE_CTE},
    deg AS (
      SELECT node, count(*) AS d
      FROM (SELECT x AS node FROM co UNION ALL SELECT y FROM co)
      GROUP BY 1),
    sym AS (SELECT x AS u, y AS v FROM co
            UNION ALL SELECT y AS u, x AS v FROM co),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(d1.d) AS DOUBLE) AS sx,
             CAST(sum(d1.d * d1.d) AS DOUBLE) AS sxx,
             CAST(sum(d1.d * d2.d) AS DOUBLE) AS sxy
      FROM sym s
      JOIN deg d1 ON s.u = d1.node
      JOIN deg d2 ON s.v = d2.node)
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           CASE WHEN n * sxx - sx * sx > 0
                THEN sign((n * sxy - sx * sx) / (n * sxx - sx * sx))
                     * floor(abs((n * sxy - sx * sx) / (n * sxx - sx * sx))
                             * 1000000.0 + 0.5) / 1000000.0
           END AS assortativity
    FROM m
    """,
)
def q_graph_assortativity(spark, sf_dir):
    """C112: degree assortativity of the part co-purchase graph
    (operators/graph.degree_assortativity — Newman 2002 symmetric
    form). Every moment is an exact integer sum cast to double, so
    both engines evaluate the identical closed form; the oracle
    recomputes it relationally from the shared CO_PURCHASE_CTE."""
    return G.degree_assortativity(_layout_edges(spark, sf_dir))


# ---------------------------------------------------------------------
# C114 — k-core (dense-subgraph peeling).
# ---------------------------------------------------------------------


def kcore_oracle(k: int, rounds: int = 8) -> str:
    """Unrolled fixed-round peeling oracle (the pagerank_oracle()
    discipline): c0 = all nodes; c_{i+1} = nodes whose degree within
    c_i is ≥ k. Peeling is monotone, so once the sequence converges
    the remaining unrolled rounds are identity and c_rounds equals the
    true k-core whenever the fixpoint arrives within ``rounds``
    (measured ≤ 4 at every testdata SF for the shipped k; 8 is the
    margin — the same bounded-round contract as the BFS oracle).

    Every round CTE is MATERIALIZED: each c_i is referenced twice by
    c_{i+1}, and DuckDB inlines plain CTEs, so without the hint the
    unrolled chain re-computes c_1 2^rounds times over the
    corpus-scale edge list (measured: 368 s at sf0.01 inlined vs
    seconds materialized)."""
    base = f"""
WITH {CO_PURCHASE_CTE},
sym AS MATERIALIZED (SELECT x AS u, y AS v FROM co
        UNION ALL SELECT y AS u, x AS v FROM co),
c0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM sym)"""
    prev = "c0"
    for i in range(1, rounds + 1):
        base += f""",
c{i} AS MATERIALIZED (
  SELECT node FROM (
    SELECT s.u AS node, count(*) AS d
    FROM sym s
    JOIN {prev} a ON s.u = a.node
    JOIN {prev} b ON s.v = b.node
    GROUP BY 1) WHERE d >= {k})"""
        prev = f"c{i}"
    return base + f"""
SELECT s.u AS node, CAST(count(*) AS BIGINT) AS core_degree
FROM sym s
JOIN {prev} a ON s.u = a.node
JOIN {prev} b ON s.v = b.node
GROUP BY 1
"""


@query("kcore_parts", kcore_oracle(k=65))
def q_kcore_parts(spark, sf_dir):
    """C114: the 65-core of the part co-purchase graph — the dense
    cohesive subgraph after iterative peeling (operators/graph.kcore,
    Seidman 1983), with each member's degree inside the core. k=65
    peels real mass at every testdata SF while leaving a non-empty
    core (measured: 188/1992/19845 members at sf0.001/0.01/0.1,
    fixpoint ≤ 4 rounds). The oracle unrolls 8 peel rounds from the
    shared CO_PURCHASE_CTE; counts are exact integers — no rounding."""
    return G.kcore(_layout_edges(spark, sf_dir), k=65, max_rounds=8)
