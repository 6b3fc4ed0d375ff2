"""Graph analytics over edge DataFrames — the iterative-algorithm
family next to ``dedup.connected_components`` (min-label propagation).

The reference has no graph surface (its operators stop at per-row
transforms, `src/transformations.ts`); this is Spark-native extension
territory: PageRank as repeated join-aggregate rounds, the same
execution shape GraphX/Pregel lowers to, but expressed on DataFrames
so Catalyst/AQE handle skew and partial aggregation.

Scale notes (100 TB framing): each iteration is ONE shuffle — ranks
join edges on the source key (partial-agg combine on the map side),
re-aggregated by destination. Node and edge relations stay distributed
end-to-end; the only driver-side values are two scalars (node count,
initial rank), and the per-round dangling-mass total rides a 1-row
broadcast cross-join, never a corpus collect. Lineage is truncated
every round with ``localCheckpoint`` exactly as
``connected_components`` does (iterative self-joins otherwise grow the
logical plan superlinearly; see that docstring for the measured
rationale).

Input contract: the undirected operators (every operator built on
``_undirected_simple``, plus ``bfs_hops``, ``sssp``, ``landmark_hops``
and ``landmark_path_counts``) take CANONICAL edges — ``src < dst``, no
self-loops, no duplicate pairs, and for weighted input one row per
pair. The persisted graph layouts are canonical by construction
(``queries/analytics_r07._graph_layout`` writes ``canonicalize()``'s
output); raw edge lists go through ``canonicalize()`` once, at the
boundary, instead of every operator re-normalizing its input.
``contract_graph``, ``louvain_refine`` and ``harmonic_centrality``
(without ``hops``) accept raw edges and canonicalize them themselves;
``pagerank`` reads a directed edge list and is outside the contract.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Driver-fold bound (r12 session 3, the qdigest-fold discipline): when
# the FILTERED edge relation is at most this many rows (the
# broadcast-class size test — ~a few MB collected), the power
# iteration runs driver-side on the collected edges instead of
# iters scheduled join-agg rounds, each a job + shuffle +
# localCheckpoint barrier. The corpus-scale work (building the edge
# relation) stays distributed either way; for the nation trade graph
# the relation is DOMAIN-bounded (<= 25x25 rows at any corpus size),
# so the fast path is the steady state at 100 TB too. Above the bound
# the distributed loop below remains the path. Collected fresh per
# invocation (nothing memoized across runs).
_PAGERANK_DRIVER_FOLD_MAX_EDGES = 100_000


def _pagerank_fold_local(
    rows: list, damping: float, iters: int, tele_rows: list | None
) -> list[tuple]:
    """The pagerank power iteration on collected (src, dst, w) rows —
    the SAME double arithmetic as the distributed join-agg rounds
    ((1-d)·p + d·(contrib + dang·p), dangling mass on p), folded in a
    deterministic sorted order. Per-round sums can differ from the
    distributed rendering only in float addition order (~1e-16,
    damped), the identical tolerance the DuckDB oracles already
    absorb via the shared fixed 6dp floor-round (see
    queries/analytics_r06.pagerank_oracle). Bit-equality of the two
    paths at the rounded surface is pinned by a unit test that forces
    both via the threshold."""
    outw: dict = {}
    nodes = set()
    for s, d, w in rows:
        nodes.add(s)
        nodes.add(d)
        outw[s] = outw.get(s, 0.0) + w
    order = sorted(nodes)
    n = float(len(order))
    frac = [(s, d, w / outw[s]) for s, d, w in sorted(rows)]
    if tele_rows is None:
        p = {v: 1.0 / n for v in order}
    else:
        p = {v: 0.0 for v in order}
        for v, pv in sorted(tele_rows):
            if v in p:
                p[v] = p[v] + pv
    rank = dict(p)
    for _ in range(iters):
        dang = 0.0
        for v in order:
            if v not in outw:
                dang += rank[v]
        contrib = {v: 0.0 for v in order}
        for s, d, fr in frac:
            contrib[d] += rank[s] * fr
        rank = {
            v: (1.0 - damping) * p[v]
            + damping * (contrib[v] + dang * p[v])
            for v in order
        }
    return [(v, rank[v]) for v in order]


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    iters: int = 5,
    teleport: DataFrame | None = None,
) -> DataFrame:
    """Weighted PageRank by ``iters`` rounds of power iteration.

    PageRank (Page et al. 1999): rank(v) = (1-d)/N + d * (Σ_{u→v}
    rank(u)·w(u,v)/outw(u) + dangling/N), where ``dangling`` is the
    total rank held by nodes with no out-edges, redistributed
    uniformly (the standard stochastic-matrix completion — dropping it
    leaks mass and the ranks no longer sum to 1).

    ``edges`` is a directed edge list; ``weight`` (optional) weights
    each edge, default 1.0. Multi-edges are legal — their weights add.
    Edges with NULL or non-positive weight are DROPPED up front: a
    zero-weight edge carries no rank mass, but counting its source as
    having out-edges would make the normalization 0/0 → NaN poison
    (and NULLs would silently leak mass past the dangling-node
    redistribution). A node whose every out-edge is dropped is a
    dangling node; a node touched only by dropped edges is absent.
    Fixed iteration count rather than convergence detection: the
    per-round delta is a float (unlike the integral label sum in
    connected_components), so a tolerance-based stop would make the
    OUTPUT depend on float summation order; a fixed ``iters`` keeps
    the result deterministic and cross-engine comparable.

    ``teleport`` (optional) personalizes the walk (Page et al.'s
    personalized PageRank): a (node, p) DataFrame giving the restart
    distribution — the (1-d) restart mass AND the dangling mass both
    land on p instead of uniformly. p must cover graph nodes and sum
    to 1 (graph nodes absent from ``teleport`` get p = 0; teleport
    rows for nodes outside the graph are ignored, so mass put there
    is silently lost — keep p on graph nodes). The default (None) is
    the uniform p = 1/N, i.e. classic PageRank.

    Returns (node, rank) over all nodes appearing as a src or dst.
    """
    w = (
        F.col(weight).cast("double")
        if weight is not None
        else F.lit(1.0)
    )
    e = (
        edges.select(
            F.col(src).alias("e_src"), F.col(dst).alias("e_dst"), w.alias("e_w")
        )
        .filter(F.col("e_w") > 0)  # NULL/zero/negative: see docstring
        .localCheckpoint()
    )
    if e.count() <= _PAGERANK_DRIVER_FOLD_MAX_EDGES:
        # Driver fold on the bounded edge relation (see the constant's
        # comment). The node column type follows the same src∪dst
        # coercion as the distributed path. NULL endpoints carry
        # SQL-specific join semantics the fold does not emulate —
        # those graphs stay on the distributed path below.
        rows = [(r[0], r[1], r[2]) for r in e.collect()]
        if not any(s is None or d is None for s, d, _ in rows):
            node_type = (
                e.select(F.col("e_src").alias("node"))
                .union(e.select(F.col("e_dst").alias("node")))
                .schema["node"]
                .dataType
            )
            spark = e.sparkSession
            from pyspark.sql.types import DoubleType, StructField, StructType

            out_schema = StructType(
                [StructField("node", node_type), StructField("rank", DoubleType())]
            )
            if not rows:
                return spark.createDataFrame([], out_schema)
            tele_rows = None
            if teleport is not None:
                t_node, t_p = teleport.columns[0], teleport.columns[1]
                # NULL teleport nodes never join a (non-NULL) graph
                # node on the distributed path — same here.
                tele_rows = [
                    (r[0], r[1])
                    for r in teleport.select(
                        F.col(t_node), F.col(t_p).cast("double")
                    ).collect()
                    if r[0] is not None
                ]
            return spark.createDataFrame(
                _pagerank_fold_local(rows, damping, iters, tele_rows),
                out_schema,
            )
    nodes = (
        e.select(F.col("e_src").alias("node"))
        .union(e.select(F.col("e_dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    # Node count is a scalar (kilobytes at any corpus scale) — the one
    # permitted driver-side value, mirrored by the oracle's (SELECT n).
    n = float(nodes.count())
    if n == 0:  # empty edge list: no nodes, no ranks (1/N undefined)
        return nodes.select("node", F.lit(0.0).alias("rank"))
    outw = e.groupBy("e_src").agg(F.sum("e_w").alias("ow"))
    # Per-source contribution fraction is rank-independent — compute it
    # once so each iteration joins a single prepared relation.
    frac = e.join(outw, "e_src").select(
        "e_src", "e_dst", (F.col("e_w") / F.col("ow")).alias("frac")
    ).localCheckpoint()
    # Materialized once: it sits inside every round's dangling-mass
    # anti-join, and left lazy the distinct would re-run per round.
    has_out = frac.select(F.col("e_src").alias("node")).distinct().localCheckpoint()

    # (node, p) restart distribution: uniform 1/N, or the caller's
    # personalization vector left-joined onto the graph's node set.
    if teleport is None:
        base = nodes.select("node", F.lit(1.0 / n).alias("p"))
    else:
        t_node, t_p = teleport.columns[0], teleport.columns[1]
        # Aggregate first: a duplicate node row in the personalization
        # vector would otherwise fan out every downstream rank row and
        # silently inflate total mass (review r06). Duplicate masses add.
        tele = (
            teleport.select(
                F.col(t_node).alias("node"), F.col(t_p).cast("double").alias("p")
            )
            .groupBy("node")
            .agg(F.sum("p").alias("p"))
        )
        base = nodes.join(tele, "node", "left").select(
            "node", F.coalesce(F.col("p"), F.lit(0.0)).alias("p")
        )
    base = base.localCheckpoint()

    ranks = base.select("node", "p", F.col("p").alias("rank")).localCheckpoint()
    for _ in range(iters):
        # Dangling mass: 1-row relation, broadcast cross-joined so the
        # whole round stays one lazy plan (no per-round collect).
        dangling = (
            ranks.join(has_out, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang"))
        )
        contrib = (
            ranks.join(frac, ranks["node"] == frac["e_src"])
            .groupBy("e_dst")
            .agg(F.sum(F.col("rank") * F.col("frac")).alias("contrib"))
        )
        ranks = (
            base.join(contrib, base["node"] == contrib["e_dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "p",
                (
                    F.lit(1.0 - damping) * F.col("p")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dang") * F.col("p")
                    )
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks.select("node", "rank")


def canonicalize(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """The canonical form of an undirected edge list — the input
    contract of this module's graph operators (module docstring):
    every edge oriented ``src < dst`` (least/greatest), self-loops
    dropped, duplicate and reversed pairs collapsed to one row. With
    ``weight``, parallel edges collapse to their MINIMUM weight (the
    shortest-path reading of a multigraph; NULL weights are ignored by
    the min, so an all-NULL pair keeps a NULL weight, which ``sssp``
    drops). Columns keep their names: (src, dst) or (src, dst,
    weight).

    Lazy — one distinct (or min-aggregate) shuffle when executed.
    Callers that read the result more than once materialize it
    (``localCheckpoint``) or persist it, as ``_graph_layout`` does by
    writing it to parquet."""
    e = edges.select(
        F.least(F.col(src), F.col(dst)).alias(src),
        F.greatest(F.col(src), F.col(dst)).alias(dst),
        *([F.col(weight)] if weight is not None else []),
    ).filter(F.col(src) != F.col(dst))
    if weight is None:
        return e.distinct()
    return e.groupBy(src, dst).agg(F.min(weight).alias(weight))


def _undirected_simple(
    edges: DataFrame,
    src: str,
    dst: str,
    materialize: bool = False,
):
    """(und, deg) of the undirected simple graph of the canonical
    ``edges``: the pairs renamed to (a, b), a < b, and per-node
    degrees. Shared by every undirected operator so the degree
    definition can never diverge between them.

    ``materialize``: operators that re-read ``und`` several times (the
    peel ladders, the wedge self-joins, the moment aggregate's sym+deg
    double read) localCheckpoint it once, coalesced to the width AQE
    would pick after a shuffle of the same bytes (relation bytes /
    ``advisoryPartitionSizeInBytes``, floor 1). Coalesce narrows
    without moving bytes and is a no-op when that width exceeds the
    scan's split count, i.e. at corpus scale. Repeat readers then hit
    an in-memory relation at a packed task width instead of re-reading
    parquet at the writer's width each round (measured 1.2–1.6×
    slower at sf0.1). The byte size comes from the optimized plan's
    statistics, which Catalyst estimates from the unfiltered scan: on
    a filtered input such as the ``w >= 2`` core the estimate — and so
    the width — overshoots the rows that survive the filter."""
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if materialize:
        sess = edges.sparkSession
        advisory = sess._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            sess.conf.get(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
            )
        )
        size = int(
            und._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        # ceil div; an unknown size (RDD-backed input reports
        # Long.MaxValue) caps at Java's int range, where coalesce is a
        # no-op
        target = min(max(1, -(-size // max(1, advisory))), 2**31 - 1)
        und = und.coalesce(target).localCheckpoint()
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    return und, deg


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    triangles: DataFrame | None = None,
) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    UNDIRECTED simple graph of the canonical ``edges``.

    The scalable shape (Suri & Vassilvitskii, WWW 2011 node-iterator++
    / MR triangle counting): orient every undirected edge from its
    lower endpoint to its higher endpoint under the total order
    (degree, id). Each triangle then has exactly ONE apex — the node
    ordered below both others — so enumerating wedges from oriented
    out-edges and probing the third edge counts every triangle once,
    and the per-node wedge fan-out is bounded by the oriented
    out-degree, which the (degree, id) order caps at O(√m) even at
    hub nodes: the wedge relation stays ~m^{3/2} worst-case instead of
    Σ deg² (quadratic at a hub). Three shuffles total: degree agg,
    wedge self-join on the apex, third-edge semi-join.

    Returns a single-row DataFrame: n_nodes, n_edges, n_wedges
    (open+closed paths of length 2 = Σ C(deg,2)), n_triangles, and the
    global clustering coefficient 3·triangles / wedges (0 when the
    graph has no wedge).

    ``triangles``: an optional precomputed oriented-triangle relation
    for EXACTLY this edge set (the _oriented_triangles schema — one
    row per triangle), e.g. a corpus-keyed persisted layout; when
    given, the wedge self-join is skipped and only the count is read
    from it. Callers own the edges↔triangles consistency contract
    (the layout's fingerprint discipline).
    """
    und, deg = _undirected_simple(edges, src, dst)
    if triangles is not None:
        tri = triangles.agg(F.count("*").alias("n_triangles"))
    else:
        tri = _oriented_triangles(und, deg).agg(
            F.count("*").alias("n_triangles")
        )
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.coalesce(  # empty graph: sum() is NULL, the wedge count is 0
            (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("bigint"), F.lit(0)
        ).alias("n_wedges"),
    )
    n_edges = und.agg(F.count("*").alias("n_edges"))
    out = (
        stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") > 0,
                   3.0 * F.col("n_triangles") / F.col("n_wedges"))
            .otherwise(F.lit(0.0))
            .alias("global_clustering"),
        )
    )
    return out


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 10,
) -> DataFrame:
    """Multi-source breadth-first search over the UNDIRECTED graph of
    ``edges``: minimum hop distance from the ``sources`` node set
    (single-column DataFrame), the unweighted single/multi-source
    shortest path. Unreached nodes are absent from the result;
    ``max_hops`` bounds adversarial chain graphs exactly like
    ``connected_components.max_iter``.

    Level-synchronous frontier expansion — the Pregel BFS lowered to
    DataFrames: each round is one equi-join of the CURRENT frontier
    against the symmetric edge list plus an anti-join against the
    visited set (both shuffles on the node key), so a round's cost is
    proportional to the edges INCIDENT to the frontier, never the
    whole graph re-scanned. The frontier-empty stop rides the round's
    ``localCheckpoint`` materialization as an ``observe()`` metric
    (one job per round, the connected_components discipline), and the
    checkpoint truncates the growing union lineage.
    """
    from pyspark.sql import Observation

    # Canonical input: both orientations are distinct by construction.
    # Checkpointed because it is consumed once per frontier round.
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .localCheckpoint()
    )
    seed_col = sources.columns[0]
    visited = (
        sources.select(F.col(seed_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).alias("hop"))
        .localCheckpoint()
    )
    frontier = visited.select("node")
    for h in range(1, max_hops + 1):
        obs = Observation()
        # r12 session 3 (one job per round, was two): the frontier
        # expansion is lazily persisted and the SINGLE visited
        # checkpoint materializes it — the cache serves the next
        # round's frontier join with zero recompute, and no separate
        # frontier materialization job runs. The observe rides the
        # checkpointed union with a new-row stamp (metrics do not
        # propagate out of a cached relation); the stamp never leaves
        # this loop.
        nxt = (
            frontier.join(sym, frontier["node"] == sym["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .persist()
        )
        visited = (
            visited.select("node", "hop", F.lit(0).alias("_new"))
            .union(
                nxt.select(
                    "node", F.lit(h).alias("hop"), F.lit(1).alias("_new")
                )
            )
            .observe(obs, F.sum("_new").alias("n"))
            .select("node", "hop")
            .localCheckpoint()
        )
        if int(obs.get["n"] or 0) == 0:
            break
        frontier = nxt
    return visited


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman, PRL 2002): the Pearson
    correlation of the degrees at the two ends of every edge of the
    undirected simple graph, each edge contributing both orientations
    (the standard symmetric form, so the marginal moments of the two
    endpoints coincide). Positive = hubs attach to hubs (social
    graphs), negative = hubs attach to leaves (technological graphs).

    Shape: degree agg, two broadcast-or-hash joins onto the symmetric
    edge list, ONE moment aggregate — every moment is an exact integer
    sum (degrees are ints; Σ d_u·d_v over the edge list fits a long at
    any realistic graph size), so both engines cast identical integers
    to double and the closed-form r is bit-deterministic before its
    presentation rounding. Returns one row: n_edges, assortativity
    (NULL on degree-regular graphs, where the variance is 0).
    """
    und, deg = _undirected_simple(edges, src, dst, materialize=True)
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    pairs = (
        sym.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "da"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "db"), "v")
        .select("da", "db")
    )
    m = pairs.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("da").cast("double").alias("sx"),
        F.sum(F.col("da") * F.col("da")).cast("double").alias("sxx"),
        F.sum(F.col("da") * F.col("db")).cast("double").alias("sxy"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")) / denom
    # Sign-aware fixed rounding (r can be negative, so _round_fixed's
    # nonnegative form is extended with signum): engine round() HALF_UPs
    # the decimal rendering on Spark but rounds the binary double in
    # DuckDB, and a ratio of integer moments CAN land on an exact .5
    # decimal boundary (the 2^a·5^b-denominator class) — the oracle
    # renders the identical sign/floor form.
    rounded = F.signum(r) * F.floor(F.abs(r) * 1e6 + F.lit(0.5)) / 1e6
    return m.select(
        (F.col("n") / 2).cast("bigint").alias("n_edges"),
        F.when(denom > 0, rounded).alias("assortativity"),
    )


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 8,
) -> DataFrame:
    """The k-core of the undirected simple graph: the maximal subgraph
    in which every node has degree ≥ k (Seidman 1983), found by
    iterative peeling — drop every node below degree k, recompute
    degrees in what remains, repeat to fixpoint. The classic "dense
    cohesive subgraph" extractor (and the standard prefilter before
    expensive community analysis).

    Each round is two equi-joins of the symmetric edge list against the
    current survivor set plus one partial-agg degree count — cost
    proportional to edges incident to survivors. The fixpoint stop
    rides each round's localCheckpoint as an observe() metric (one job
    per round, the connected_components discipline); peeling is
    monotone, so once converged further rounds are no-ops and a
    fixed-round unrolling (the oracle's form) equals the fixpoint
    whenever convergence happens within ``max_rounds`` — the bound is
    the determinism contract, exactly like bfs_hops.max_hops.

    Returns (node, core_degree): the members of the k-core with their
    degree INSIDE the core (≥ k by construction ONCE the fixpoint is
    reached); empty if the whole graph peels away. If peeling has NOT
    converged within ``max_rounds`` (adversarial long-path graphs), the
    survivor set may still contain sub-k nodes — the function emits a
    ``RuntimeWarning`` naming the residual delta so standalone callers
    get a signal instead of silently-wrong membership (ADVICE r06);
    oracle parity is unaffected because the oracle unrolls the same
    bounded rounds.
    """
    import warnings

    from pyspark.sql import Observation

    und, deg = _undirected_simple(edges, src, dst, materialize=True)
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).localCheckpoint()
    cur = None  # round 1 reads degrees straight from ``deg`` below
    prev_n = deg.count()

    def core_degree(members: DataFrame) -> DataFrame:
        return (
            sym.join(members, sym["u"] == members["node"], "left_semi")
            .join(
                members.select(F.col("node").alias("vn")),
                F.col("v") == F.col("vn"),
                "left_semi",
            )
            .groupBy(F.col("u").alias("node"))
            .agg(F.count("*").alias("core_degree"))
        )

    converged = False
    last_removed = prev_n  # max_rounds=0: nothing was ever verified
    for rnd in range(max_rounds):
        obs = Observation()
        # Round 1's member set is ALL nodes, so core_degree(members)
        # is exactly the full-graph degree relation _undirected_simple
        # already built — read it directly instead of paying two
        # semi-joins + a distinct over sym for an identity filter
        # (r10; round accounting unchanged, so the oracle's fixed
        # unrolling still matches).
        base = (
            deg.select("node", F.col("d").alias("core_degree"))
            if rnd == 0
            else core_degree(cur)
        )
        cur = (
            base.filter(F.col("core_degree") >= k)
            .select("node")
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        n = obs.get["n"]
        if n == prev_n or n == 0:
            # n == 0 is a fixpoint without a verification round: the
            # empty set peels to itself, so finishing on an
            # everything-removed round is exact, not suspect
            # (review r07: it previously warned spuriously).
            converged = True
            break
        last_removed = prev_n - n
        prev_n = n
    if not converged:
        warnings.warn(
            f"kcore(k={k}): peeling did not reach a fixpoint within "
            f"max_rounds={max_rounds} (last round still removed "
            f"{last_removed} nodes); the returned set may contain nodes "
            "with core_degree < k — raise max_rounds for the exact core",
            RuntimeWarning,
            stacklevel=2,
        )
    if cur is None:  # max_rounds=0: the unfiltered degree relation
        return deg.select("node", F.col("d").alias("core_degree"))
    return core_degree(cur)


def core_numbers(
    edges: DataFrame,
    max_k: int = 4,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 12,
) -> DataFrame:
    """Core DECOMPOSITION — the maximum k such that each node belongs
    to the k-core (Seidman 1983; Batagelj-Zaversnik's peel order, here
    as the level-synchronous ladder): the node analog of trussness'
    max-k-per-edge, and the form a real user asks for ("how embedded
    is each node") rather than kcore's single-k membership. Every node
    with ≥ 1 edge is in the 1-core, so core ≥ 1 everywhere.

    The ladder: for k = 2..max_k, members_k = kcore(G_{k-1}, k) (each
    level a bounded-round peel — the kcore contract, RuntimeWarning on
    residual) and the nodes of G_{k-1} \\ members_k get core k−1.
    Nodes still standing at max_k report core = max_k — an explicit
    CAP (their true core may be higher; raise max_k), mirrored exactly
    by the oracle so the capped output stays bit-checkable — the
    trussness cap contract. Long peel CHAINS are the round-count
    hazard (a path peels one layer per round — measured 11 rounds for
    k=3 on the sf0.01 w≥2 core), hence the higher default
    ``max_rounds`` than kcore's single-k call.

    Returns (node, core), one row per node of the simple graph.
    """
    import warnings

    from pyspark.sql import Observation

    if max_k < 2:
        raise ValueError(f"core_numbers: max_k must be >= 2, got {max_k}")
    und, _ = _undirected_simple(edges, src, dst, materialize=True)
    sym = (
        und.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(und.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .localCheckpoint()
    )
    spark = sym.sparkSession
    out = spark.createDataFrame([], "node long, core int")
    cur_nodes = sym.select(F.col("u").alias("node")).distinct().localCheckpoint()
    for k in range(2, max_k + 1):
        # The bounded peel is inlined (NOT a kcore() call) so a level's
        # membership is EXACTLY the raw last-round filter output — the
        # relation the oracle's unrolled n{k}_{rounds} CTE holds.
        # kcore's return re-scores survivors (core_degree over the
        # final set), which in the non-converged case silently drops
        # survivors whose last in-core neighbor left in the final
        # round — a divergence the bounded-round contract forbids.
        members = cur_nodes
        prev_n = members.count()
        converged = prev_n == 0
        last_removed = prev_n
        for _ in range(max_rounds):
            if prev_n == 0:
                converged = True
                break
            obs = Observation()
            mu = members.withColumnRenamed("node", "u")
            mv = members.withColumnRenamed("node", "v")
            members = (
                sym.join(mu, "u", "left_semi")
                .join(mv, "v", "left_semi")
                .groupBy(F.col("u").alias("node"))
                .agg(F.count(F.lit(1)).alias("_d"))
                .filter(F.col("_d") >= k)
                .select("node")
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint()
            )
            n = obs.get["n"]
            if n == prev_n:
                converged = True
                prev_n = n
                break
            last_removed = prev_n - n
            prev_n = n
        if not converged and prev_n > 0:
            warnings.warn(
                f"core_numbers(k={k}): peel did not reach a fixpoint within "
                f"max_rounds={max_rounds} (last round still removed "
                f"{last_removed} nodes); survivors may include sub-k nodes "
                "— raise max_rounds for the exact decomposition",
                RuntimeWarning,
                stacklevel=2,
            )
        peeled = cur_nodes.join(members, "node", "left_anti").select(
            F.col("node").cast("long").alias("node"),
            F.lit(k - 1).cast("int").alias("core"),
        )
        out = out.unionByName(peeled)
        cur_nodes = members
        if prev_n == 0:
            break
    return out.unionByName(
        cur_nodes.select(
            F.col("node").cast("long").alias("node"),
            F.lit(max_k).cast("int").alias("core"),
        )
    )


def bipartite_stats(
    incidence: DataFrame,
    left: str,
    right: str,
    codeg: DataFrame | None = None,
) -> DataFrame:
    """Exact BUTTERFLY census of a bipartite graph (Sanei-Mehri,
    Sariyüce & Tirthapura, KDD 2018): butterflies (2×2 bicliques —
    the bipartite analog of triangles, since bipartite graphs have
    none), caterpillars (3-paths — the open motif), and the bipartite
    clustering coefficient 4·butterflies / caterpillars (Lind,
    González & Herrmann 2005; 0 when caterpillar-free). The cohesion
    primitive for order×item / user×page incidence data, where
    triangle machinery is structurally silent.

    Counting identities (all exact bigint):
    - butterflies = Σ over right-vertex pairs C(codeg(u,v), 2), with
      codeg the number of left vertices adjacent to both — ONE sum
      over the codegree relation;
    - caterpillars = Σ over edges (o, p) of (d(o)−1)·(d(p)−1);
    - wedges_left/right = Σ C(d, 2) per side.

    ``codeg``: optional precomputed codegree relation (x, y, w), x < y
    over the RIGHT side — e.g. the persisted weighted co-occurrence
    layout, which IS this relation; when absent, one self-join of the
    incidence list on the left key builds it (the m·d_max-bounded
    pair enumeration — the standard exact-count cost; at 100 TB you
    cap it with a degree threshold upstream or move to the paper's
    sampling estimators). Returns one row: n_left, n_right, n_edges,
    wedges_left, wedges_right, butterflies, caterpillars, and the
    one-IEEE-division clustering coefficient.
    """
    # persist (r12): dl, dr, and the caterpillar join all consume this
    # relation — left lazy, the incidence DISTINCT (a full shuffle of
    # the corpus) executed once per consumer chain (5 lineitem scans
    # in the captured plan); the degree relations below are node-sized
    # and each feed two aggregates.
    inc = incidence.select(
        F.col(left).alias("_l"), F.col(right).alias("_r")
    ).distinct().persist()
    if codeg is None:
        a, b = inc.alias("a"), inc.alias("b")
        codeg = (
            a.join(
                b,
                (F.col("a._l") == F.col("b._l"))
                & (F.col("a._r") < F.col("b._r")),
            )
            .groupBy(F.col("a._r").alias("x"), F.col("b._r").alias("y"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        )
    dl = inc.groupBy("_l").agg(F.count(F.lit(1)).alias("_dl")).persist()
    dr = inc.groupBy("_r").agg(F.count(F.lit(1)).alias("_dr")).persist()
    sides = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_left"),
        F.sum(F.expr("_dl * (_dl - 1) div 2")).cast("bigint").alias("wedges_left"),
    ).crossJoin(
        F.broadcast(
            dr.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_right"),
                F.sum(F.expr("_dr * (_dr - 1) div 2"))
                .cast("bigint")
                .alias("wedges_right"),
            )
        )
    )
    bf = codeg.agg(
        F.coalesce(F.sum(F.expr("w * (w - 1) div 2")), F.lit(0))
        .cast("bigint")
        .alias("butterflies")
    )
    cat = (
        inc.join(dl, "_l")
        .join(dr, "_r")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            F.coalesce(
                F.sum((F.col("_dl") - 1) * (F.col("_dr") - 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("caterpillars"),
        )
    )
    return (
        sides.crossJoin(F.broadcast(bf))
        .crossJoin(F.broadcast(cat))
        .select(
            "n_left",
            "n_right",
            "n_edges",
            "wedges_left",
            "wedges_right",
            "butterflies",
            "caterpillars",
            F.when(
                F.col("caterpillars") > 0,
                4.0 * F.col("butterflies") / F.col("caterpillars"),
            )
            .otherwise(F.lit(0.0))
            .alias("bipartite_clustering"),
        )
    )


def vertex_butterflies(codeg: DataFrame) -> DataFrame:
    """Per-vertex butterfly participation over the RIGHT side from a
    codegree relation (x, y, w), x < y: b(u) = Σ over pairs incident
    to u of C(w, 2) — the local density signal (a vertex with heavy
    butterfly mass co-occurs with the same partners again and again:
    the bot/template/bundle detector on user×page or order×item
    data). One explode of each pair to its two endpoints + a
    partial-agg sum; rows with b = 0 are omitted (pairs with w < 2
    contribute nothing). Returns (node, butterflies, max_codeg)."""
    return (
        codeg.filter(F.col("w") >= 2)
        .select(
            F.explode(F.array("x", "y")).alias("node"),
            F.expr("w * (w - 1) div 2").alias("_b"),
            "w",
        )
        .groupBy("node")
        .agg(
            F.sum("_b").cast("bigint").alias("butterflies"),
            F.max("w").cast("bigint").alias("max_codeg"),
        )
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al., Phys. Rev. E 2007) over the undirected simple graph of
    ``edges``: every node starts as its own label; each round, every
    node adopts the most frequent label among its neighbors, ties
    broken by the SMALLEST label. Densely connected clusters converge
    to one label within a few rounds; the bridge edges between
    clusters can't outvote intra-cluster mass.

    Determinism contract: classic LPA randomizes update order and tie
    breaks; this variant is fully synchronous with a total tie order
    (count DESC, label ASC) and a FIXED round count, so the output is
    a pure function of the graph — cross-engine comparable against an
    oracle that unrolls the same rounds (synchronous LPA can oscillate
    between two labelings on bipartite-ish structure instead of
    converging; a fixed ``rounds`` makes that a defined result rather
    than a hang, the kcore/bfs bounded-round contract).

    Shape per round: ONE shuffle — labels join the symmetric edge list
    on the neighbor key (map-side combine into (node, label) partial
    counts), then ``min_by(label, (-count, label))`` picks the mode
    per node as an aggregate, NOT a per-node window (no sort of the
    neighborhood, no corpus-scale window partitions). Labels are the
    node ids themselves (numeric or any orderable type); lineage is
    truncated per round with localCheckpoint.

    Returns (node, label) for every node with ≥ 1 incident edge.
    """
    und, _ = _undirected_simple(edges, src, dst)
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).localCheckpoint()
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    ).localCheckpoint()
    for _ in range(rounds):
        votes = (
            sym.join(labels, sym["v"] == labels["node"])
            .groupBy(F.col("u").alias("n"), "label")
            .agg(F.count("*").alias("c"))
        )
        labels = (
            votes.groupBy(F.col("n").alias("node"))
            .agg(
                F.min_by(
                    "label", F.struct((-F.col("c")).alias("nc"), F.col("label"))
                ).alias("label")
            )
            .localCheckpoint()
        )
    return labels


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    weight: str = "w",
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 6,
) -> DataFrame:
    """Single/multi-source shortest paths over the UNDIRECTED weighted
    graph of ``edges`` by frontier-based Bellman-Ford: ``max_rounds``
    relaxation rounds, each improving distances along one more edge —
    after round i, dist(v) is exactly the minimum weight over paths of
    ≤ i edges (the textbook invariant), so a bounded run is a defined
    result and an ample bound is the true SSSP (paths of ≤ max_rounds
    hops; the bfs_hops/kcore bounded-round contract — the oracle
    unrolls the SAME rounds). Negative weights are rejected up front:
    on an UNDIRECTED graph any negative edge is a negative cycle
    (u→v→u), under which shortest paths are undefined — so unlike
    directed Bellman-Ford there is no meaningful negative-weight mode
    to support. The precondition is one eager single-column count —
    column pruning reaches the scan, so it reads only the weight
    column, and failing BEFORE any round is the point (a lazy check
    would surface mid-computation). NULL-weight edges are dropped.

    The frontier optimization (only nodes whose distance improved last
    round can improve their neighbors — Pregel SSSP) changes cost, not
    results: each round joins the FRONTIER against the symmetric edge
    list (cost ∝ edges incident to improved nodes, not the graph),
    takes min per destination (partial-agg combine), and anti-joins
    the settled distance table for strict improvements. Convergence
    (empty frontier) stops early via the round's observe() metric —
    one job per round, lineage localCheckpoint-truncated.

    Returns (node, dist): minimum path weight from the ``sources``
    node set (single-column DataFrame, distance 0). Unreached nodes
    are absent. Integer weights stay exact bigints end-to-end (the
    cross-engine hash discipline); float weights work but inherit IEEE
    addition.
    """
    from pyspark.sql import Observation

    w = F.col(weight)
    neg = edges.filter(w < 0).count()
    if neg:
        raise ValueError(
            f"sssp: {neg} negative-weight edge(s) — on an undirected "
            "graph every negative edge is a negative cycle; shortest "
            "paths are undefined"
        )
    base = edges.filter(w.isNotNull()).select(
        F.col(src).alias("u"), F.col(dst).alias("v"), w.alias("w")
    )
    # Canonical input has one row per pair (parallel edges already
    # collapsed to their cheapest by canonicalize); both directions
    # are usable.
    sym = base.union(
        base.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    ).localCheckpoint()
    seed_col = sources.columns[0]
    # Seed distance takes the WEIGHT's type so every round's dist + w
    # and the dist-table unions stay one type (bigint weights never
    # touch a double; float weights don't break the union).
    w_type = sym.schema["w"].dataType.simpleString()
    dist = (
        sources.select(F.col(seed_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast(w_type).alias("dist"))
        .localCheckpoint()
    )
    frontier = dist
    for _ in range(max_rounds):
        obs = Observation()
        cand = (
            frontier.join(sym, frontier["node"] == sym["u"])
            .select(F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("nd"))
            .groupBy("node")
            .agg(F.min("nd").alias("nd"))
        )
        # r12 session 3 (one job per round, was two): improved is
        # referenced twice in the dist update (anti-join + union), so
        # it is lazily persisted and the SINGLE dist checkpoint
        # materializes the whole round; the cache serves the second
        # reference and the next round's frontier join with zero
        # recompute. The observe rides the checkpointed union with a
        # round stamp (metrics do not propagate out of a cached
        # relation, so it cannot sit on `improved` itself); the stamp
        # column never leaves this loop.
        improved = (
            cand.join(dist.withColumnRenamed("dist", "old"), "node", "left")
            .filter(F.col("old").isNull() | (F.col("nd") < F.col("old")))
            .select("node", F.col("nd").alias("dist"))
            .persist()
        )
        dist = (
            dist.join(improved, "node", "left_anti")
            .select("node", "dist", F.lit(0).alias("_new"))
            .union(improved.select("node", "dist", F.lit(1).alias("_new")))
            .observe(obs, F.sum("_new").alias("n"))
            .select("node", "dist")
            .localCheckpoint()
        )
        if int(obs.get["n"] or 0) == 0:
            break
        frontier = improved
    return dist


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Newman modularity Q of a node partition over the undirected
    simple graph of ``edges`` (Newman & Girvan 2004): Q = Σ_c [e_c/m −
    (d_c/2m)²] — the fraction of edges inside communities minus the
    expectation under the degree-preserving null model. The standard
    quality score for a community assignment (LPA, Louvain, …).

    Exact-integer formulation: Q = (Σ_c e_c)/m − (Σ_c d_c²)/(4m²), so
    every aggregate is an exact bigint (internal-edge count, per-label
    degree sums, their squares) and the final value is two IEEE
    divisions of identical integers on any engine — bit-deterministic
    with NO rounding step (the triangle_stats/assortativity
    discipline). Shape: degree agg + two label joins onto the
    canonical edge list + one label-keyed partial agg; the three
    1-row totals meet by broadcast cross-join — nothing corpus-sized
    reaches the driver.

    ``labels`` is (node, label) — nodes absent from it, or carrying a
    NULL label, contribute no internal edges and no community degree
    (their edges still count in m): "unlabeled" is not a community, so
    a partial labeling is scored against the full graph. Returns one
    row: n_edges, n_communities, internal_edges, sum_deg_sq,
    modularity (NULL on an empty graph).
    """
    und, deg = _undirected_simple(edges, src, dst)
    n_node, n_label = labels.columns[0], labels.columns[1]
    lab = labels.select(
        F.col(n_node).alias("node"), F.col(n_label).alias("label")
    ).filter(F.col("label").isNotNull())
    m_rel = und.agg(F.count("*").alias("n_edges"))
    internal = (
        und.join(
            lab.select(F.col("node").alias("a"), F.col("label").alias("la")),
            "a",
        )
        .join(
            lab.select(F.col("node").alias("b"), F.col("label").alias("lb")),
            "b",
        )
        .filter(F.col("la") == F.col("lb"))
        .agg(F.count("*").alias("internal_edges"))
    )
    dc = (
        lab.join(deg, "node")
        .groupBy("label")
        .agg(F.sum("d").alias("dsum"))
    )
    dsq = dc.agg(
        F.count("*").alias("n_communities"),
        F.coalesce(
            F.sum(F.col("dsum") * F.col("dsum")), F.lit(0)
        ).alias("sum_deg_sq"),
    )
    m2 = F.col("n_edges").cast("double")
    return (
        m_rel.crossJoin(F.broadcast(internal))
        .crossJoin(F.broadcast(dsq))
        .select(
            "n_edges",
            "n_communities",
            "internal_edges",
            "sum_deg_sq",
            F.when(
                F.col("n_edges") > 0,
                F.col("internal_edges") / m2
                - F.col("sum_deg_sq") / (4.0 * m2 * m2),
            ).alias("modularity"),
        )
    )


def louvain_move(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    pre: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """ONE synchronous Louvain local-move pass (Blondel, Guillaume,
    Lambiotte & Lefebvre, J. Stat. Mech. 2008, phase 1) over the
    undirected simple graph of ``edges``, starting from the partition
    ``labels`` (node, label): every node simultaneously evaluates
    moving into each NEIGHBOR community (its own community always a
    candidate) and takes the modularity-maximizing one, ties to the
    smallest label.

    The gain of inserting node i (degree d_i, removed from its own
    community first — the standard phase-1 bookkeeping) into community
    c is ΔQ(c) = k_{i,c}/m − d_i·Σtot'(c)/(2m²), where k_{i,c} is the
    number of i's edges into c and Σtot'(c) the community degree sum
    EXCLUDING i. Multiplying by the positive constant 2m² gives the
    EXACT-INTEGER score 2m·k_{i,c} − d_i·Σtot'(c): argmax is
    unchanged, every quantity is a bigint, and the whole pass renders
    identically in DuckDB (the modularity/triangle_stats exact-integer
    discipline) — no floats anywhere.

    Determinism contract: classic Louvain sweeps nodes sequentially in
    arbitrary order (result depends on the sweep); this variant moves
    ALL nodes simultaneously against the frozen input partition with a
    total tie order (score DESC, label ASC), so the output is a pure
    function of (graph, labels) — cross-engine checkable. A
    synchronous pass does not inherit serial Louvain's monotonic-Q
    guarantee; on real clustered graphs it improves Q (asserted on the
    co-purchase graph in tests and by the louvain_communities /
    graph_modularity pairing), and a fixed pass count is a defined
    result (the bounded-round kcore/bfs/LPA contract).

    Shape: degree agg + community-degree agg (label-keyed partial
    aggs), ONE labels⋈edges join for k_{i,c} (map-side combinable),
    candidate scores met by community-sized joins (broadcast when
    small), winner per node via min_by aggregate — never a per-node
    window over the corpus. m is a 1-row broadcast.

    ``pre`` (r09): a precomputed ``_undirected_simple`` result
    (und, deg) — callers that already hold it (louvain_multilevel runs
    this pass plus four guard keys and two contractions on ONE graph)
    pass it to share one degree relation.

    Returns (node, label): the post-move partition, same node set as
    ``labels`` restricted to nodes of the graph.
    """
    und, deg = (
        pre
        if pre is not None
        else _undirected_simple(edges, src, dst)
    )
    n_node, n_label = labels.columns[0], labels.columns[1]
    lab = labels.select(
        F.col(n_node).alias("node"), F.col(n_label).alias("label")
    ).filter(F.col("label").isNotNull())
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    m_rel = und.agg(F.count("*").cast("long").alias("m"))
    stot = (
        lab.join(deg, "node")
        .groupBy("label")
        .agg(F.sum("d").cast("long").alias("st"))
        .withColumnRenamed("label", "c")
    )
    kic = (
        sym.join(
            lab.select(F.col("node").alias("v"), F.col("label").alias("c")),
            "v",
        )
        .groupBy(F.col("u").alias("node"), "c")
        .agg(F.count("*").cast("long").alias("k"))
    )
    # Own community is always a candidate (k may be 0 when i has no
    # neighbor in it); the union row is dominated by any real k.
    cand = (
        kic.unionByName(
            lab.select("node", F.col("label").alias("c"), F.lit(0).cast("long").alias("k"))
        )
        .groupBy("node", "c")
        .agg(F.max("k").alias("k"))
    )
    from openetl_spark.operators.skew import broadcast_if_small

    own = lab.select("node", F.col("label").alias("c0"))
    d_i = deg.select("node", F.col("d").cast("long").alias("d"))
    score = (
        2 * F.col("m") * F.col("k")
        - F.col("d")
        * (F.col("st") - F.when(F.col("c") == F.col("c0"), F.col("d")).otherwise(F.lit(0)))
    )
    scored = (
        cand.join(d_i, "node")
        .join(own, "node")
        .join(broadcast_if_small(stot), "c")
        .crossJoin(F.broadcast(m_rel))
        .select("node", "c", score.alias("score"))
    )
    return scored.groupBy("node").agg(
        F.min_by(
            "c", F.struct((-F.col("score")).alias("ns"), F.col("c"))
        ).alias("label")
    )


def _oriented_triangles(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Every triangle of the canonical edge set ``und`` exactly once,
    as (u, a, b) — apex u below both others under the (degree, id)
    total order, (a, b) the canonical third edge. The triangle_stats
    wedge shape (Suri & Vassilvitskii 2011: oriented out-degree caps
    hub fan-out at O(√m)), kept as a relation instead of a count."""
    oriented = (
        und.join(deg.withColumnRenamed("node", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("d", "db"), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v")),
    ).select(
        F.col("e1.u").alias("u"),
        F.least(F.col("e1.v"), F.col("e2.v")).alias("a"),
        F.greatest(F.col("e1.v"), F.col("e2.v")).alias("b"),
    )
    return wedges.join(und, ["a", "b"])  # inner: wedge closed => triangle


def ktruss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 3,
    seed_triangles: DataFrame | None = None,
) -> DataFrame:
    """The k-truss of the undirected simple graph: the maximal
    subgraph in which every EDGE participates in ≥ k−2 triangles of
    the subgraph (Cohen 2008) — the edge-analog of k-core and a much
    tighter cohesion filter (a k-truss is always inside the
    (k−1)-core, never vice versa). Found by iterative peeling: count
    per-edge triangle support, drop every edge below k−2, recompute in
    what remains, repeat.

    Per round: one oriented-wedge triangle enumeration
    (_oriented_triangles — apex orientation caps hub fan-out at
    O(√m), the triangle_stats shape) with each triangle exploded to
    its THREE canonical edges and a partial-agg count per edge; the
    filtered survivor set localCheckpoints and the removed-edge count
    rides the round's observe() metric (one job per round — the
    kcore discipline). Peeling is monotone, so a fixed-round unrolling
    (the oracle's form) equals the fixpoint whenever convergence
    happens within ``max_rounds``; if it has NOT converged a
    RuntimeWarning names the residual delta (the kcore contract).

    Returns the surviving canonical edge set (a, b), a < b; empty if
    everything peels (k higher than the graph's trussness).

    ``seed_triangles``: optional precomputed oriented-triangle
    relation for EXACTLY the input edge set — round 1's survivor
    graph IS the input, so its enumeration can come from a persisted
    layout; later rounds re-enumerate on survivors (inherent to the
    peel). Support counting reads only the three corners, so the
    seed's apex labeling (degree order of whatever graph it was
    enumerated on) is irrelevant.
    """
    import warnings

    from pyspark.sql import Observation

    if k < 3:
        raise ValueError(f"ktruss: k must be >= 3 (edges need k-2 >= 1 triangles), got {k}")
    cur, _ = _undirected_simple(edges, src, dst)
    prev_n = cur.count()
    converged = prev_n == 0
    for rnd in range(max_rounds):
        if prev_n == 0:
            converged = True
            break
        deg = (
            cur.select(F.col("a").alias("node"))
            .union(cur.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        if rnd == 0 and seed_triangles is not None:
            tri = seed_triangles
        else:
            tri = _oriented_triangles(cur, deg)
        tri_edges = tri.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("u", "a").alias("x"),
                        F.greatest("u", "a").alias("y"),
                    ),
                    F.struct(
                        F.least("u", "b").alias("x"),
                        F.greatest("u", "b").alias("y"),
                    ),
                    F.struct(F.col("a").alias("x"), F.col("b").alias("y")),
                )
            ).alias("e")
        ).select("e.x", "e.y")
        support = tri_edges.groupBy("x", "y").agg(F.count("*").alias("s"))
        obs = Observation()
        nxt = (
            cur.join(
                support.filter(F.col("s") >= k - 2).select(
                    F.col("x").alias("a"), F.col("y").alias("b")
                ),
                ["a", "b"],
                "left_semi",
            )
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        n = obs.get["n"]
        removed = prev_n - n
        cur, prev_n = nxt, n
        if removed == 0:
            converged = True
            break
    if not converged:
        # one more support pass to name the residual honestly
        deg = (
            cur.select(F.col("a").alias("node"))
            .union(cur.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        sup = (
            _oriented_triangles(cur, deg)
            .select(
                F.explode(
                    F.array(
                        F.struct(F.least("u", "a").alias("x"), F.greatest("u", "a").alias("y")),
                        F.struct(F.least("u", "b").alias("x"), F.greatest("u", "b").alias("y")),
                        F.struct(F.col("a").alias("x"), F.col("b").alias("y")),
                    )
                ).alias("e")
            )
            .select("e.x", "e.y")
            .groupBy("x", "y")
            .agg(F.count("*").alias("s"))
        )
        weak = (
            cur.join(
                sup.filter(F.col("s") >= k - 2).select(
                    F.col("x").alias("a"), F.col("y").alias("b")
                ),
                ["a", "b"],
                "left_anti",
            ).count()
        )
        if weak:
            warnings.warn(
                f"ktruss(k={k}) did not converge within {max_rounds} "
                f"rounds: {weak} surviving edge(s) still below support "
                f"{k - 2}; raise max_rounds for the true truss",
                RuntimeWarning,
                stacklevel=2,
            )
    return cur


def _contract_pair(
    und: DataFrame, lab: DataFrame, moved: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Both Louvain contractions of ONE canonical edge list in ONE
    edge-scale pass (r12 session 3, §2.3): join both labelings, count
    by the (lab super-edge, moved super-edge) 4-key once, and derive
    each supergraph as a cell-scale exact bigint re-aggregate — sum of
    counts per coarser key ≡ contract_graph's direct count
    (bit-identity pinned by a unit test). Requires ``lab`` and
    ``moved`` to cover the same graph nodes (louvain_move's output
    contract), so an edge survives the lab joins iff it survives the
    moved joins. Returns (sup_lab, sup_mov), both lazy over a
    checkpointed cell relation."""
    cells = (
        und.join(
            lab.select(F.col("node").alias("a"), F.col("label").alias("_la")),
            "a",
        )
        .join(
            lab.select(F.col("node").alias("b"), F.col("label").alias("_lb")),
            "b",
        )
        .join(
            moved.select(F.col("node").alias("a"), F.col("label").alias("_ma")),
            "a",
        )
        .join(
            moved.select(F.col("node").alias("b"), F.col("label").alias("_mb")),
            "b",
        )
        .select(
            F.least("_la", "_lb").alias("_xa"),
            F.greatest("_la", "_lb").alias("_xb"),
            F.least("_ma", "_mb").alias("_ya"),
            F.greatest("_ma", "_mb").alias("_yb"),
        )
        .groupBy("_xa", "_xb", "_ya", "_yb")
        .agg(F.count("*").cast("long").alias("_c"))
        .localCheckpoint()
    )
    sup_lab = cells.groupBy(
        F.col("_xa").alias("a"), F.col("_xb").alias("b")
    ).agg(F.sum("_c").cast("long").alias("w"))
    sup_mov = cells.groupBy(
        F.col("_ya").alias("a"), F.col("_yb").alias("b")
    ).agg(F.sum("_c").cast("long").alias("w"))
    return sup_lab, sup_mov


def contract_graph(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    pre: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Louvain phase-2 contraction (Blondel et al. 2008): collapse the
    undirected simple graph onto a node partition — supernodes are
    labels, the super-edge weight between two communities is the
    number of original edges between them, and a community's internal
    edges become a SELF-LOOP of that weight. Modularity is invariant
    under this contraction, which is what makes the multi-level pass
    legal. One labels⋈edges join per endpoint + a partial-agg count;
    output is community-cardinality-sized.

    Returns (a, b, w) with a ≤ b (self-loops a = b carry the internal
    edge count). Nodes missing from ``labels`` are dropped with their
    edges (unlabeled is not a community — the modularity() contract).
    ``edges`` may be raw — they are canonicalized here. ``pre``:
    precomputed ``_undirected_simple`` result, as in louvain_move.
    """
    und, _ = (
        pre
        if pre is not None
        else _undirected_simple(canonicalize(edges, src, dst), src, dst)
    )
    n_node, n_label = labels.columns[0], labels.columns[1]
    lab = labels.select(
        F.col(n_node).alias("node"), F.col(n_label).alias("label")
    ).filter(F.col("label").isNotNull())
    mapped = (
        und.join(
            lab.select(F.col("node").alias("a"), F.col("label").alias("la")),
            "a",
        )
        .join(
            lab.select(F.col("node").alias("b"), F.col("label").alias("lb")),
            "b",
        )
        .select(
            F.least("la", "lb").alias("a"), F.greatest("la", "lb").alias("b")
        )
    )
    return mapped.groupBy("a", "b").agg(F.count("*").cast("long").alias("w"))


def louvain_move_weighted(
    edges_w: DataFrame,
    labels: DataFrame,
    swap_guard: bool = False,
) -> DataFrame:
    """ONE synchronous Louvain local-move pass over a WEIGHTED
    undirected graph given as canonical (a ≤ b, w) rows — self-loops
    allowed (they are what phase-2 contraction produces) — starting
    from the partition ``labels`` (node, label). The exact-integer
    score of louvain_move generalized to weights: m = Σw (total edge
    weight), weighted degree d_i = Σ_{j≠i} w(i,j) + 2·w(i,i),
    k_{i,c} = Σ_{j∈c, j≠i} w(i,j), score(c) = 2m·k_{i,c} −
    d_i·Σtot'(c). A node's own self-loop stays internal wherever it
    goes, so it cancels in the argmax and is correctly ignored in
    k_{i,c}. Same determinism contract as louvain_move (synchronous,
    ties to the smallest label); all arithmetic bigint.

    ``swap_guard`` (r09): restrict moves to communities with label ≤
    the node's own — the deterministic swap-breaking discipline of
    parallel Louvain (Lu, Halappanavar & Kalyanaraman, Parallel
    Computing 2015 §4.2 "minimum label" heuristic, as in Grappolo).
    Synchronous moves from SINGLETON communities otherwise pair-swap
    (u adopts v's label while v adopts u's — Q-neutral oscillation,
    measured: an unguarded singleton-seeded pass on two joined
    triangles returns the swapped singletons and the louvain_refine
    guard then rejects the whole level). With the rule on, any
    executed move strictly decreases the mover's label, so 2-cycles
    are impossible and label mass deterministically flows toward
    community minima. Off by default — coarse seed partitions (LPA)
    don't exhibit the hazard and the unrestricted argmax is strictly
    stronger there.

    Returns (node, label) for every node of the weighted graph that
    appears in ``labels``."""
    from openetl_spark.operators.skew import broadcast_if_small

    n_node, n_label = labels.columns[0], labels.columns[1]
    lab = labels.select(
        F.col(n_node).alias("node"), F.col(n_label).alias("label")
    ).filter(F.col("label").isNotNull())
    e = edges_w.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("w").cast("long").alias("w"),
    )
    m_rel = e.agg(F.sum("w").cast("long").alias("m"))
    nonself = e.filter(F.col("a") != F.col("b"))
    sym = nonself.select(
        F.col("a").alias("u"), F.col("b").alias("v"), "w"
    ).union(nonself.select(F.col("b").alias("u"), F.col("a").alias("v"), "w"))
    selfw = e.filter(F.col("a") == F.col("b")).select(
        F.col("a").alias("node"), (2 * F.col("w")).alias("sw")
    )
    deg = (
        sym.groupBy(F.col("u").alias("node"))
        .agg(F.sum("w").alias("dw"))
        .join(selfw, "node", "full")
        .select(
            "node",
            (F.coalesce("dw", F.lit(0)) + F.coalesce("sw", F.lit(0)))
            .cast("long")
            .alias("d"),
        )
    )
    stot = (
        lab.join(deg, "node")
        .groupBy("label")
        .agg(F.sum("d").cast("long").alias("st"))
        .withColumnRenamed("label", "c")
    )
    kic = (
        sym.join(
            lab.select(F.col("node").alias("v"), F.col("label").alias("c")),
            "v",
        )
        .groupBy(F.col("u").alias("node"), "c")
        .agg(F.sum("w").cast("long").alias("k"))
    )
    cand = (
        kic.unionByName(
            lab.join(deg, "node").select(  # only graph nodes
                "node", F.col("label").alias("c"), F.lit(0).cast("long").alias("k")
            )
        )
        .groupBy("node", "c")
        .agg(F.max("k").alias("k"))
    )
    own = lab.select("node", F.col("label").alias("c0"))
    score = (
        2 * F.col("m") * F.col("k")
        - F.col("d")
        * (F.col("st") - F.when(F.col("c") == F.col("c0"), F.col("d")).otherwise(F.lit(0)))
    )
    scored = (
        cand.join(deg, "node")
        .join(own, "node")
        .join(broadcast_if_small(stot), "c")
        .crossJoin(F.broadcast(m_rel))
        .select("node", "c", "c0", score.alias("score"))
    )
    if swap_guard:
        scored = scored.filter(F.col("c") <= F.col("c0"))
    return scored.groupBy("node").agg(
        F.min_by(
            "c", F.struct((-F.col("score")).alias("ns"), F.col("c"))
        ).alias("label")
    )


def louvain_refine(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """GUARDED Louvain phase-2: contract the partition
    (contract_graph), run one synchronous weighted local-move pass on
    the supergraph from singleton supernode communities
    (louvain_move_weighted with ``swap_guard`` — singleton seeds are
    exactly where synchronous pair-swaps oscillate, r09), project
    back — and keep the refined partition ONLY if its modularity
    strictly improves, else return the input unchanged. Q-MONOTONE BY
    CONSTRUCTION, which no synchronous pass is on its own
    (simultaneous moves can jointly overshoot — measured on the
    co-purchase graph at sf0.1, where an unguarded pass lowered Q from
    0.02643 to 0.02636).

    The comparison is EXACT: for fixed total edge count m, Q =
    I/m − S/(4m²) orders exactly as the bigint 4m·I − S (I = internal
    edges, S = Σ per-community degree², both from modularity()'s
    integer columns) — no float ever decides the guard, so the choice
    is deterministic and cross-engine reproducible. The two 1-row
    modularity collects are the only driver materialization (the
    observe()-class boundary every iterative operator here already
    crosses for its stopping decision).

    ``edges`` may be raw: they are canonicalized once here, and the
    contraction and both modularity scores read that relation.

    Returns (node, label): the better of {input, refined} partitions.
    """
    canon = canonicalize(edges, src, dst).localCheckpoint()
    n_node, n_label = labels.columns[0], labels.columns[1]
    lab1 = labels.select(
        F.col(n_node).alias("node"), F.col(n_label).alias("label")
    ).filter(F.col("label").isNotNull()).localCheckpoint()
    sup = contract_graph(
        canon, lab1, pre=_undirected_simple(canon, src, dst)
    ).localCheckpoint()
    sup_lab0 = (
        sup.select(F.col("a").alias("node"))
        .union(sup.select(F.col("b").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    moved = louvain_move_weighted(sup, sup_lab0, swap_guard=True)
    proj = (
        lab1.select("node", F.col("label").alias("_c1"))
        .join(
            moved.select(
                F.col("node").alias("_c1"), F.col("label").alias("label")
            ),
            "_c1",
        )
        .select("node", "label")
        .localCheckpoint()
    )

    def _score(lab: DataFrame) -> int:
        row = modularity(canon, lab, src, dst).first()
        # 4m·I − S: exact-bigint ordering of Q at fixed m
        return 4 * row["n_edges"] * row["internal_edges"] - row["sum_deg_sq"]

    return proj if _score(proj) > _score(lab1) else lab1


def trussness(
    edges: DataFrame,
    max_k: int = 6,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 4,
    seed_triangles: DataFrame | None = None,
) -> DataFrame:
    """Truss DECOMPOSITION (VERDICT r08 #5): the maximum k such that
    each edge belongs to the k-truss — the edge-analog of k-core's
    in-core degree, and the form a real user asks for ("how cohesive
    is each edge") rather than a single-k membership test (Cohen 2008;
    Wang & Cheng, VLDB 2012). Every edge of a simple graph is in the
    2-truss, so trussness ≥ 2 everywhere.

    The peel LADDER: G₂ = the simple graph; for k = 3..max_k, G_k =
    ktruss(G_{k−1}, k) (each level a bounded-round peel to fixpoint —
    the ktruss contract, RuntimeWarning on residual) and the edges of
    G_{k−1} \\ G_k get trussness k−1. Edges still standing at max_k are
    reported with trussness = max_k — an explicit CAP (their true
    trussness may be higher; raise max_k to resolve), mirrored exactly
    by the oracle so the capped output is still bit-checkable. The
    ladder is sequential by nature (level k needs level k−1's
    survivors); each level is the scale-safe oriented-wedge peel, the
    survivor set localCheckpoints between levels, and the early-empty
    stop is a 1-row count per level (the kcore/bfs iterative-stop
    boundary).

    Returns (a, b, trussness), a < b, one row per edge of the simple
    graph.
    """
    if max_k < 3:
        raise ValueError(f"trussness: max_k must be >= 3, got {max_k}")
    cur, _ = _undirected_simple(edges, src, dst)
    spark = cur.sparkSession
    out = spark.createDataFrame([], "a long, b long, trussness int")
    for k in range(3, max_k + 1):
        # Only level 3 round 1 runs on the pristine input edge set —
        # the one enumeration a persisted layout can stand in for.
        nxt = ktruss(
            cur,
            k=k,
            src="a",
            dst="b",
            max_rounds=max_rounds,
            seed_triangles=seed_triangles if k == 3 else None,
        )
        nxt = nxt.localCheckpoint()
        peeled = cur.join(nxt, ["a", "b"], "left_anti").select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            F.lit(k - 1).cast("int").alias("trussness"),
        )
        out = out.unionByName(peeled)
        cur = nxt
        if cur.limit(1).count() == 0:
            break
    return out.unionByName(
        cur.select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            F.lit(max_k).cast("int").alias("trussness"),
        )
    )


def louvain_multilevel(
    edges: DataFrame,
    labels: DataFrame,
    levels: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """The MULTI-LEVEL Louvain loop (Blondel et al. 2008, the full
    algorithm; VERDICT r08 #3): one synchronous local-move pass over
    the original graph, then ``levels`` contract-and-move refinements
    (louvain_refine: contract by the current partition, one weighted
    local-move pass on the supergraph from singleton supernodes,
    project back) — EVERY step guarded by the exact-integer modularity
    key 4m·I − S, so each level keeps its refinement only if Q
    strictly improves. Consequences, both load-bearing:

    - Q-MONOTONE BY CONSTRUCTION: Q(multilevel) ≥ Q(one local-move
      pass) ≥ min(Q(input), Q(move)) — asserted against
      louvain_communities in tests; a synchronous pass alone has no
      such guarantee (simultaneous moves can jointly overshoot).
    - DETERMINISTIC: every pass is a pure function of (graph,
      partition) (frozen-partition synchronous moves, total tie
      order), every guard compares exact bigints — the whole
      multi-level result is cross-engine bit-checkable, unlike classic
      sequential-sweep Louvain whose output depends on node order.

    Shape: the canonical edge list, degrees, and m are derived ONCE
    and shared by every move pass, contraction, and guard (the naive
    composition re-ran _undirected_simple's corpus-wide distinct and
    a full modularity() ~8 times — measured 17 s → ~6 s at sf0.1);
    each level is community-cardinality-sized after the first
    contraction (supergraphs shrink geometrically on real clustered
    graphs); the per-level guard is two 1-row collects over the
    pre-materialized relations (the iterative-stop boundary every
    operator in this family crosses). Fixed ``levels`` is the
    bounded-round determinism contract — the guard makes extra levels
    no-ops once Q stops improving, so unrolling more levels than
    needed equals the fixpoint.

    Returns (node, label) over the nodes of ``labels``.
    """
    n_node, n_label = labels.columns[0], labels.columns[1]
    lab = (
        labels.select(F.col(n_node).alias("node"), F.col(n_label).alias("label"))
        .filter(F.col("label").isNotNull())
        .localCheckpoint()
    )
    und, deg = _undirected_simple(edges, src, dst)
    deg = deg.localCheckpoint()
    # m from the MATERIALIZED degree relation (Σd = 2·|E| exactly) —
    # r13: und.count() was a second edge-scale pass over the corpus
    # (a full layout re-scan at scale) for a scalar the node-scale
    # checkpointed relation already determines.
    m = int(
        (deg.agg(F.coalesce(F.sum("d"), F.lit(0)).alias("s")).first()["s"])
        // 2
    )

    # r12 optimization (bit-identical guards, measured ~40% of the
    # query previously): the guard key 4m·I − S needs NO edge-scale
    # work once a contraction of the candidate partition exists —
    # I is the self-loop weight sum of the contracted graph (edges
    # internal to the partition: exactly the old und⋈p⋈p filter-count)
    # and S comes from the node-scale per-community degree sums
    # (stot), which COMPOSE through each level's relabeling by exact
    # bigint addition. Consequently the edge-scale work is two
    # contractions up front (lab and moved — one of which the old code
    # paid anyway as level 1's contract), and every level is
    # community-cardinality-sized end to end, including the guard and
    # the next level's contraction (composed on the supergraph:
    # summing super-edge weights by new label ≡ recounting original
    # edges). The old code paid an edge-scale guard job per candidate
    # (4×) plus an edge-scale contraction per level.

    def _stot(p: DataFrame) -> DataFrame:
        """(c, st): per-community sum of FULL node degrees — the exact
        S-term grouping of modularity()'s integer columns (node-scale
        aggregate, so partial labelings keep their old semantics:
        degrees count edges to unlabeled neighbors too)."""
        # left lazy: consumers embed this node-scale aggregate over
        # already-checkpointed inputs in their own (one or two) jobs —
        # cheaper than a dedicated materialization job per candidate
        return (
            p.join(deg, "node")
            .groupBy("label")
            .agg(F.sum("d").cast("long").alias("st"))
            .withColumnRenamed("label", "c")
        )

    def _key_from(sup_rel: DataFrame, st_rel: DataFrame) -> int:
        """4m·I − S from the contracted graph + stot relation; I and S
        meet by a 1-row broadcast cross-join so the guard costs ONE
        (community-scale) job."""
        i_rel = sup_rel.filter(F.col("a") == F.col("b")).agg(
            F.coalesce(F.sum("w"), F.lit(0)).alias("i")
        )
        s_rel = st_rel.agg(
            F.coalesce(F.sum(F.col("st") * F.col("st")), F.lit(0)).alias("s")
        )
        row = i_rel.crossJoin(F.broadcast(s_rel)).first()
        return 4 * m * int(row["i"]) - int(row["s"])

    moved = louvain_move(edges, lab, src, dst, pre=(und, deg)).localCheckpoint()
    # r12 session 3 (§2.3 "aggregate before you shuffle"): the lab and
    # moved contractions are BOTH pure groupBy-counts of the same und
    # pass — fused into ONE edge-scale join+shuffle keyed by the
    # 4-tuple (lab super-edge, moved super-edge); each supergraph is a
    # cell-scale exact bigint re-aggregate of the shared cell relation
    # (sum of counts per coarser key ≡ direct count — bit-identical,
    # pinned by a unit test against contract_graph). Edge coverage is
    # identical on both sides: louvain_move's output covers exactly
    # the labeled graph nodes, so an edge survives the lab joins iff
    # it survives the moved joins. Was: two contract_graph calls, two
    # corpus-scale shuffles + checkpoints.
    sup_lab, sup_mov = _contract_pair(und, lab, moved)
    st_lab = _stot(lab)
    st_mov = _stot(moved)
    klab = _key_from(sup_lab, st_lab)
    kmov = _key_from(sup_mov, st_mov)
    if kmov > klab:
        best, best_key, sup, stot = moved, kmov, sup_mov, st_mov
    else:
        best, best_key, sup, stot = lab, klab, sup_lab, st_lab
    # The chosen supergraph feeds every level-loop consumer — give it
    # the checkpoint the per-labeling contractions used to have
    # (community-scale job over the cell relation).
    sup = sup.localCheckpoint()
    for _ in range(levels):
        sup_lab0 = (
            sup.select(F.col("a").alias("node"))
            .union(sup.select(F.col("b").alias("node")))
            .distinct()
            .select("node", F.col("node").alias("label"))
        )
        moved_w = louvain_move_weighted(
            sup, sup_lab0, swap_guard=True
        ).localCheckpoint()
        la = moved_w.select(F.col("node").alias("a"), F.col("label").alias("la"))
        lb = moved_w.select(F.col("node").alias("b"), F.col("label").alias("lb"))
        cand_i = (
            sup.join(la, "a")
            .join(lb, "b")
            .filter(F.col("la") == F.col("lb"))
            .agg(F.coalesce(F.sum("w"), F.lit(0)).alias("i"))
        )
        cand_st = (
            stot.join(
                moved_w.select(F.col("node").alias("c"), F.col("label").alias("_l")),
                "c",
            )
            .groupBy("_l")
            .agg(F.sum("st").cast("long").alias("st"))
        )
        cand_s = cand_st.agg(
            F.coalesce(F.sum(F.col("st") * F.col("st")), F.lit(0)).alias("s")
        )
        row = cand_i.crossJoin(F.broadcast(cand_s)).first()
        pk = 4 * m * int(row["i"]) - int(row["s"])
        if pk > best_key:
            best = (
                best.select("node", F.col("label").alias("_c1"))
                .join(
                    moved_w.select(F.col("node").alias("_c1"), F.col("label")),
                    "_c1",
                )
                .select("node", "label")
                .localCheckpoint()
            )
            best_key = pk
            sup = (
                sup.join(la, "a")
                .join(lb, "b")
                .select(
                    F.least("la", "lb").alias("a"),
                    F.greatest("la", "lb").alias("b"),
                    "w",
                )
                .groupBy("a", "b")
                .agg(F.sum("w").cast("long").alias("w"))
                .localCheckpoint()
            )
            stot = cand_st.withColumnRenamed("_l", "c")
    return best


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    length: int = 6,
    seed: int = 42,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic seeded RANDOM WALKS over the undirected simple
    graph — the sampling primitive of node2vec/DeepWalk-style
    embedding pipelines (Grover & Leskovec, KDD 2016; Perozzi et al.,
    KDD 2014) made cross-engine reproducible: at step t the walker
    started at w standing on u moves to the neighbor v minimizing the
    60-bit md5 integer of (seed, w, t, u, v) — one iid-uniform-ranked
    draw per incident edge, so each step is a uniform neighbor choice
    in distribution over seeds, yet a PURE FUNCTION of (graph, starts,
    seed): bit-checkable in DuckDB (the portable-hash discipline) and
    stable across retries/partitionings, which no rand()-based walk
    is.

    Shape: per step ONE frontier⋈edges join (frontier = one row per
    live walker) + a min_by partial agg per walker — the bfs_hops
    round shape with walker identity carried; localCheckpoint per
    step truncates the iterative lineage. Walkers whose current node
    has no neighbor (possible only if a start node is isolated) stop
    emitting — documented, mirrored by the oracle's join semantics.

    Returns (walker, step, node): step 0 is the start row itself,
    1..``length`` the visited nodes.
    """
    if length < 1:
        raise ValueError(f"random_walks: length must be >= 1, got {length}")
    und, _ = _undirected_simple(edges, src, dst)
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).localCheckpoint()
    s_col = starts.columns[0]
    frontier = (
        starts.select(F.col(s_col).alias("walker"))
        .distinct()
        .select("walker", F.col("walker").alias("node"))
        .localCheckpoint()
    )
    out = frontier.select(
        "walker", F.lit(0).cast("int").alias("step"), F.col("node").cast("long").alias("node")
    )
    for t in range(1, length + 1):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit(str(seed)),
                        F.col("walker").cast("string"),
                        F.lit(str(t)),
                        F.col("node").cast("string"),
                        F.col("v").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        frontier = (
            frontier.join(sym, frontier["node"] == sym["u"])
            .select("walker", "v", h.alias("_h"))
            .groupBy("walker")
            .agg(
                F.min_by("v", F.struct(F.col("_h"), F.col("v"))).alias("node")
            )
            .localCheckpoint()
        )
        out = out.unionByName(
            frontier.select(
                "walker",
                F.lit(t).cast("int").alias("step"),
                F.col("node").cast("long").alias("node"),
            )
        )
    return out


def landmark_hops(
    edges: DataFrame,
    landmarks: DataFrame,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-LANDMARK hop distances over the undirected simple graph:
    (source, node, hop) for every landmark s and every node within
    ``max_hops`` of it — ``bfs_hops`` with the source identity CARRIED
    instead of min-merged, the primitive under landmark/pivot
    centrality estimators (Brandes & Pich, "Centrality Estimation in
    Large Networks", IJBC 2007) and the exact-ball column of the
    HyperBall report.

    Shape: ONE level-synchronous frontier keyed (source, node) — all
    landmarks expand SIMULTANEOUSLY in the same join (k landmarks cost
    one BFS whose frontier is ≤ k× wider, not k sequential BFS jobs),
    each round one frontier⋈edges equi-join + one anti-join against
    the visited set, both shuffles on the node key; frontier-empty
    stop rides the round's localCheckpoint as an observe() metric
    (the bfs_hops discipline). At 100 TB the landmark count is the
    explicit cost knob: state is O(k·V) rows, never V².
    """
    from pyspark.sql import Observation

    # Canonical input: both orientations are distinct by construction.
    # Checkpointed because it is consumed once per frontier round.
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .localCheckpoint()
    )
    s_col = landmarks.columns[0]
    visited = (
        landmarks.select(F.col(s_col).alias("source"))
        .distinct()
        .select("source", F.col("source").alias("node"), F.lit(0).alias("hop"))
        .localCheckpoint()
    )
    frontier = visited.select("source", "node")
    for h in range(1, max_hops + 1):
        obs = Observation()
        nxt = (
            frontier.join(sym, frontier["node"] == sym["u"])
            .select("source", F.col("v").alias("node"))
            .distinct()
            .join(visited, ["source", "node"], "left_anti")
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        if obs.get["n"] == 0:
            break
        visited = visited.union(
            nxt.select("source", "node", F.lit(h).alias("hop"))
        ).localCheckpoint()
        frontier = nxt.select("source", "node")
    return visited


def landmark_path_counts(
    edges: DataFrame,
    landmarks: DataFrame,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-landmark shortest-path COUNTS σ_s(v) (Brandes, "A Faster
    Algorithm for Betweenness Centrality", JMS 2001 — the forward
    sweep): for every landmark s and node v within ``max_hops``, the
    hop distance AND the number of distinct shortest s→v paths — an
    exact bigint, since σ obeys the level recurrence σ(v) =
    Σ_{u ∈ frontier_{t−1}, (u,v) ∈ E} σ(u). Path multiplicity is the
    robustness signal distance alone misses (two nodes at hop 3 via
    ONE path vs via 40 paths are very different neighbors), and σ is
    the ingredient betweenness/stress estimators consume.

    Shape: landmark_hops' simultaneous multi-source level-synchronous
    frontier (state O(k·V), one frontier⋈edges join + one partial-agg
    SUM + one anti-join per round — the sum replaces the distinct).
    Exact-integer contract: σ over ≤ 6 hops on a simple graph is
    far below bigint range; no float exists anywhere, so the full
    relation is hash-checkable cross-engine.

    Returns (source, node, hop, sigma); the landmark's own row is
    (s, s, 0, 1).
    """
    from pyspark.sql import Observation

    # Canonical input: both orientations are distinct by construction.
    # Checkpointed because it is consumed once per frontier round.
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .localCheckpoint()
    )
    s_col = landmarks.columns[0]
    visited = (
        landmarks.select(F.col(s_col).alias("source"))
        .distinct()
        .select(
            "source",
            F.col("source").alias("node"),
            F.lit(0).alias("hop"),
            F.lit(1).cast("bigint").alias("sigma"),
        )
        .localCheckpoint()
    )
    frontier = visited.select("source", "node", "sigma")
    for h in range(1, max_hops + 1):
        obs = Observation()
        nxt = (
            frontier.join(sym, frontier["node"] == sym["u"])
            .groupBy("source", F.col("v").alias("node"))
            .agg(F.sum("sigma").cast("bigint").alias("sigma"))
            .join(
                visited.select("source", "node"),
                ["source", "node"],
                "left_anti",
            )
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        if obs.get["n"] == 0:
            break
        visited = visited.union(
            nxt.select("source", "node", F.lit(h).alias("hop"), "sigma")
        ).localCheckpoint()
        frontier = nxt.select("source", "node", "sigma")
    return visited


def landmark_pair_dependencies(
    path_counts: DataFrame,
    landmarks: DataFrame,
) -> DataFrame:
    """Per-(landmark-pair, node) shortest-path DEPENDENCIES — the
    betweenness completion of the σ relation (Brandes 2001 §4: the
    pair dependency δ_st(v) = σ_st(v)/σ_st, with σ_st(v) =
    σ_s(v)·σ_t(v) exactly when d_s(v) + d_t(v) = d(s, t), i.e. v lies
    on a shortest s–t path). Betweenness proper sums δ over pairs —
    per-pair denominators σ_st differ, so that sum is float with
    engine-unpinned addition order; THIS relation keeps the pair
    grain and renders every dependency as the EXACT bigint rational
    (dep_num = σ_s(v)·σ_t(v), dep_den = σ_st) — the t_closeness
    num/den discipline, fully hash-checkable. Callers who want the
    scalar divide downstream; callers who want ranks compare by
    cross-multiplication.

    Integrity invariant (every shortest s–t path has exactly
    d_st − 1 interior nodes): per pair, Σ_v dep_num = dep_den·(d_st−1).

    ``path_counts``: the (source, node, hop, sigma) σ relation from
    ``landmark_path_counts`` over these landmarks. Shape: one
    self-join of σ on the node key (k²-fanout, ≤ C(k,2) pairs per
    node row) + a broadcast landmark-pair distance attach — no graph
    traversal; the σ relation already carries everything.

    Returns (source, target, node, d_st, dep_num, dep_den), interior
    nodes only, source < target.
    """
    s_col = landmarks.columns[0]
    lm_nodes = landmarks.select(F.col(s_col).alias("_lt")).distinct()
    dlm = (
        path_counts.join(
            F.broadcast(lm_nodes), path_counts["node"] == F.col("_lt")
        )
        .filter(F.col("source") < F.col("_lt"))
        .select(
            F.col("source").alias("_s"),
            F.col("_lt").alias("_t"),
            F.col("hop").alias("_dst"),
            F.col("sigma").alias("_sst"),
        )
    )
    a = path_counts.select(
        F.col("source").alias("_s"),
        "node",
        F.col("hop").alias("_ha"),
        F.col("sigma").alias("_sa"),
    )
    b = path_counts.select(
        F.col("source").alias("_t"),
        "node",
        F.col("hop").alias("_hb"),
        F.col("sigma").alias("_sb"),
    )
    return (
        a.join(b, "node")
        .filter(F.col("_s") < F.col("_t"))
        .join(F.broadcast(dlm), ["_s", "_t"])
        .filter(
            (F.col("_ha") + F.col("_hb") == F.col("_dst"))
            & (F.col("node") != F.col("_s"))
            & (F.col("node") != F.col("_t"))
        )
        .select(
            F.col("_s").alias("source"),
            F.col("_t").alias("target"),
            "node",
            F.col("_dst").cast("int").alias("d_st"),
            (F.col("_sa") * F.col("_sb")).cast("bigint").alias("dep_num"),
            F.col("_sst").cast("bigint").alias("dep_den"),
        )
    )


def landmark_betweenness_scores(
    pair_deps: DataFrame,
    scale_bits: int = 20,
) -> DataFrame:
    """Per-node landmark-estimated BETWEENNESS scalar from the
    pair-dependency rationals — the C150 completion (Brandes 2001 §4:
    bc(v) over a landmark-pair sample = Σ_{(s,t)} δ_st(v), the
    Bader-Madduri/Brandes-Pich pivot-sampling estimator): the scalar
    sum divides PER PAIR, so a float rendering carries
    engine-unpinned addition order. Rendered instead as the
    DETERMINISTIC scaled floor sum

        bc_k(v) = Σ_pairs (2^scale_bits · dep_num) div dep_den

    — each term an exact bigint (computed overflow-safely as
    K·q + (K·r) div den with q = num div den, r = num mod den), so
    the per-node sum of bigints is bit-identical across engines and
    partitionings and fully hash-checkable. The float estimate is
    bc_k / 2^scale_bits, within n_pairs/2^scale_bits of the true
    rational sum (each floor loses < 1/K; ≤ C(16,2) = 120 landmark
    pairs ⇒ absolute error ≤ 1.2e-4 at the default scale) — strictly
    tighter than the boolean-pinned estimate posture the HLL reports
    use, because here the terms are rationals, not logs.

    Overflow contract: K·r < 2^63 requires dep_den < 2^(63−scale_bits)
    (2^43 ≈ 8.8e12 shortest-path counts per landmark pair at the
    default — far beyond any ≤6-hop σ this layout produces); an
    execution-time guard raises past it, and oracles must mirror the
    same predicate via error() (the cluster_agreement discipline).

    Returns (node, n_pairs, bc_k): n_pairs = landmark pairs v is
    interior to. Shape: one partial-agg groupBy over the pair-grain
    relation — nothing touches the graph again.
    """
    if not 1 <= scale_bits <= 40:
        raise ValueError(
            f"landmark_betweenness_scores: scale_bits={scale_bits} "
            "must be in 1..40"
        )
    k_lit = 1 << scale_bits
    den_bound = 1 << (63 - scale_bits)
    guarded = pair_deps.withColumn(
        "_den",
        F.when(
            F.col("dep_den") >= F.lit(den_bound).cast("bigint"),
            F.raise_error(
                F.lit(
                    "landmark_betweenness_scores: dep_den exceeds "
                    f"2^{63 - scale_bits} — the 2^{scale_bits}-scaled "
                    "floor term overflows bigint; lower scale_bits"
                )
            ),
        ).otherwise(F.col("dep_den")),
    )
    term = (
        F.lit(k_lit).cast("bigint") * F.expr("dep_num div _den")
        + F.expr(f"(cast({k_lit} as bigint) * (dep_num % _den)) div _den")
    )
    return guarded.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(term).cast("bigint").alias("bc_k"),
    )


def harmonic_centrality(
    edges: DataFrame,
    landmarks: DataFrame,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
    hops: DataFrame | None = None,
) -> DataFrame:
    """Landmark-estimated HARMONIC centrality (Boldi & Vigna, "Axioms
    for Centrality", Internet Math 2014 — the closeness variant that
    is well-defined on disconnected graphs because unreachable pairs
    contribute 0, not ∞): for each node v, Σ over landmarks s≠v of
    1/d(s,v), distances truncated at ``max_hops``.

    EXACT-INTEGER form: with hop distances in 1..max_hops ≤ 6, every
    reciprocal is rendered against the common denominator L =
    lcm(1..6) = 60, so the score is the bigint h60(v) = Σ 60/d(s,v) —
    60/d is exact integer division for every d ≤ 6 — and no float
    exists anywhere (h60/60/k is the usual normalized estimate, left
    to the reader so the relation stays hash-checkable cross-engine).

    Returns (node, h60, n_reached): nodes reached by ≥ 1 landmark
    (including the landmarks themselves, whose own 0-distance row is
    excluded from the sum per the definition). Scale: the
    landmark_hops state is O(k·V); the final agg is one partial-agg
    groupBy on node.
    """
    if max_hops > 6:
        raise ValueError(
            f"harmonic_centrality: max_hops={max_hops} > 6 breaks the "
            "lcm(1..6)=60 exact-reciprocal rendering; raise the scale "
            "constant alongside (lcm(1..7)=420, lcm(1..10)=2520)"
        )
    # ``hops``: optional precomputed landmark_hops relation for EXACTLY
    # (edges, landmarks, max_hops) — e.g. a corpus-keyed persisted
    # layout; callers own the consistency contract. Without it, raw
    # ``edges`` are canonicalized for landmark_hops here.
    if hops is None:
        hops = landmark_hops(
            canonicalize(edges, src, dst), landmarks, max_hops=max_hops,
            src=src, dst=dst,
        )
    return (
        hops.filter(F.col("hop") >= 1)
        .groupBy("node")
        .agg(
            F.sum(F.expr("60 div hop")).cast("bigint").alias("h60"),
            F.count(F.lit(1)).cast("bigint").alias("n_reached"),
        )
    )


def walk_skipgram_pairs(
    walks: DataFrame,
    window: int = 2,
) -> DataFrame:
    """Skip-gram (center, context) pair counts from a walk corpus
    (walker, step, node) — the training-pair relation a
    node2vec/DeepWalk embedding consumes (Grover & Leskovec 2016 §3.1:
    walks are sentences, co-visited nodes within ``window`` steps are
    word2vec context pairs): (u, v, n) with n the number of walk
    positions where v appears within ``window`` steps of u (ordered —
    both directions of a co-visit are separate rows, word2vec's
    center/context asymmetry).

    Shape: one self-join of the walk relation on the walker key with
    the |Δstep| ≤ window band predicate, then a partial-agg count on
    (u, v) — per walker the join fans out ≤ 2·window rows per
    position, so the pair relation is O(corpus · window), linear in
    the walk corpus at any scale (the corpus itself is walkers ×
    length rows; nothing here touches the graph again).
    """
    if window < 1:
        raise ValueError(f"walk_skipgram_pairs: window must be >= 1, got {window}")
    a, b = walks.alias("a"), walks.alias("b")
    d = F.col("b.step") - F.col("a.step")
    return (
        a.join(
            b,
            (F.col("a.walker") == F.col("b.walker"))
            & (d != 0)
            & (F.abs(d) <= window),
        )
        .groupBy(
            F.col("a.node").alias("u"), F.col("b.node").alias("v")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def skipgram_negative_pairs(
    walks: DataFrame,
    window: int = 2,
    k: int = 2,
    n_buckets: int | None = None,
    density: int = 64,
) -> DataFrame:
    """The COMPLETE word2vec training table off a walk corpus:
    skip-gram (center, context) positives (``walk_skipgram_pairs``)
    plus ``k`` deterministic NEGATIVES per positive pair (Mikolov et
    al. 2013 §2.2 negative sampling) — drawn with the
    ``contrastive_negatives`` md5-bucket discipline so the whole
    training set is bit-reproducible across runs, engines, and
    partitionings (an rng-based sampler silently reshuffles every
    epoch's negatives; a persisted-corpus + hash-drawn training table
    is auditable end-to-end).

    Draw rule: candidates are the corpus VOCABULARY (distinct walked
    nodes), bucketed by md5(node) into ``n_buckets``; each positive
    pair probes the single bucket md5(u:v:p) picks, ranks that
    bucket's different-from-u-and-v candidates by md5(u:v:cand)
    (integer tiebreak), and keeps the first ``k``. Per-positive
    candidate volume is |vocab|/n_buckets — by default n_buckets
    AUTO-SCALES as max(1, |vocab| div ``density``), holding the
    per-pair candidate volume at ~density regardless of corpus size
    (the SemDeDup cluster-budget argument): at 10⁹ walked nodes
    that's ~16M buckets and still ~64 candidates per positive — the
    join stays linear in the pair relation. The vocab count is ONE
    bounded aggregate action (the observe class). Pairs whose probe
    bucket holds < k valid candidates emit fewer rows (documented, as
    in contrastive_negatives).

    Shape: pair relation ⋈ bucketed vocabulary on the bucket key,
    then a row_number window partitioned by the PAIR key
    (fine-grained — millions of partitions, never a low-cardinality
    window). The vocabulary is NODE-SET-sized — at the 10⁹-node scale
    this docstring argues, tens of GB — so its broadcast is
    conditional on Catalyst's size estimate (``broadcast_if_small``,
    the C121 dictionary discipline; VERDICT r11 #2): past the
    threshold the bucket-key equi-join shuffles, which AQE handles
    fine.

    Returns (u, v, n, negative, rnk): n the positive co-visit count,
    rnk ∈ 1..k the draw order.
    """
    from pyspark.sql import Window

    from openetl_spark.operators.curation import hash_bucket

    if k < 1 or (n_buckets is not None and n_buckets < 1) or density < 1:
        raise ValueError(
            f"skipgram_negative_pairs: k={k}, n_buckets={n_buckets}, "
            f"density={density} must be >= 1"
        )
    if n_buckets is None:
        n_buckets = max(
            1, walks.select("node").distinct().count() // density
        )
    pairs = walk_skipgram_pairs(walks, window=window)
    cand = (
        walks.select(F.col("node").alias("negative"))
        .distinct()
        .withColumn("_cb", hash_bucket(F.col("negative"), n_buckets))
    )
    key = F.concat(
        F.col("u").cast("string"), F.lit(":"), F.col("v").cast("string")
    )
    probed = pairs.withColumn(
        "_pb", hash_bucket(F.concat(key, F.lit(":p")), n_buckets)
    )
    from openetl_spark.operators.skew import broadcast_if_small

    j = probed.join(
        broadcast_if_small(cand),
        (F.col("_pb") == F.col("_cb"))
        & (F.col("negative") != F.col("u"))
        & (F.col("negative") != F.col("v")),
    )
    rk = F.md5(F.concat(key, F.lit(":"), F.col("negative").cast("string")))
    w = Window.partitionBy("u", "v").orderBy(rk, "negative")
    return (
        j.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("u", "v", "n", "negative", "rnk")
    )


def local_clustering(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    triangles: DataFrame | None = None,
) -> DataFrame:
    """Per-node LOCAL clustering coefficient (Watts & Strogatz, Nature
    1998) of the undirected simple graph: for each node with degree
    d ≥ 2, the fraction of its neighbor pairs that are themselves
    adjacent — (node, d, tri, lcc) with tri the node's triangle
    participation count and lcc = 2·tri / (d·(d−1)), ONE IEEE division
    of exact bigints (the triangle_stats global-clustering
    discipline, per node — no rounding, bit-identical cross-engine).
    Degree-1 nodes report lcc = 0.0 by convention.

    Triangles come from the degree-ordered oriented enumeration
    (_oriented_triangles — each triangle exactly once, hub fan-out
    O(√m)) exploded to its three corners for ONE partial-agg count
    per node: cost is the triangle relation, never the neighbor-pair
    relation (which is Σ d² — the quadratic trap on hub nodes).

    ``triangles``: optional precomputed oriented-triangle relation for
    EXACTLY this edge set (a persisted layout); apex labeling is
    irrelevant here — only the three corners are read — so any
    enumeration of the same triangle set works.
    """
    und, deg = _undirected_simple(edges, src, dst, materialize=True)
    tri = triangles if triangles is not None else _oriented_triangles(und, deg)
    per_node = (
        tri.select(F.explode(F.array("u", "a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tri"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            F.col("d").cast("bigint").alias("d"),
            F.coalesce(F.col("tri"), F.lit(0)).cast("bigint").alias("tri"),
            F.when(
                F.col("d") >= 2,
                2.0
                * F.coalesce(F.col("tri"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )


def link_prediction_features(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Link-prediction CANDIDATE features (Liben-Nowell & Kleinberg,
    CIKM 2003) over the undirected simple graph: for every NON-edge
    pair at distance exactly 2 (the friend-of-friend candidates — the
    only pairs any common-neighbor predictor can rank), the classic
    exact-integer feature columns: ``cn`` = common-neighbor count,
    ``pa`` = preferential attachment deg_a·deg_b, ``jden`` =
    |Γ(a) ∪ Γ(b)| = deg_a + deg_b − cn (the Jaccard denominator; the
    Jaccard score is the one division cn/jden, left to the ranker so
    the relation stays all-bigint and hash-exact cross-engine).

    Shape: one wedge self-join of the symmetric edge list on the
    middle node (candidate volume = wedge count, the same Σd(d−1)/2
    budget triangle counting already pays) + one anti-join against
    the edge set + two degree attaches. Nothing here is all-pairs:
    candidates are generated THROUGH the graph, so the relation is
    wedge-bounded at any scale (on hub-heavy graphs cap it upstream
    by running on a w-thresholded core, exactly as the k-truss family
    does).
    """
    und, deg = _undirected_simple(edges, src, dst, materialize=True)
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    cand = (
        s1.join(
            s2,
            (F.col("s1.u") == F.col("s2.u"))
            & (F.col("s1.v") < F.col("s2.v")),
        )
        .select(F.col("s1.v").alias("a"), F.col("s2.v").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
        .join(und, ["a", "b"], "left_anti")
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("_db"))
    return (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "cn",
            (F.col("_da") * F.col("_db")).cast("bigint").alias("pa"),
            (F.col("_da") + F.col("_db") - F.col("cn"))
            .cast("bigint")
            .alias("jden"),
        )
    )


def node2vec_walks(
    edges: DataFrame,
    starts: DataFrame,
    length: int = 4,
    seed: int = 42,
    w_return: int = 1,
    w_stay: int = 2,
    w_out: int = 1,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """SECOND-ORDER biased random walks (node2vec, Grover & Leskovec
    KDD 2016 §3.2) with the same cross-engine determinism contract as
    ``random_walks``: the transition weight from u to v depends on the
    PREVIOUS node — w_return if v IS the previous node (the 1/p
    term), w_stay if v is adjacent to it (distance 1, the BFS-ish
    term), w_out otherwise (distance 2, the 1/q term). Integer
    weights ARE the p/q grid: (w_return, w_stay, w_out) = L·(1/p, 1,
    1/q) for the common denominator L — the defaults (1, 2, 1)
    render p = q = 2 at L = 2.

    Weighted choice without floats: the walker moves to the candidate
    minimizing the 60-bit md5 of (seed, walker, t, u, v, j) over j =
    1..w(v) — the Efraimidis-Spirakis replication equivalence
    weighted_sample already uses, per step: P(v) = w(v)/Σw over
    seeds, yet the walk corpus is a PURE FUNCTION of (graph, starts,
    seed, weights). Step 1 has no previous node, so every candidate
    classifies as w_out — a uniform first hop, matching the
    first-order sampler.

    Shape per step: one frontier⋈edges join, one LEFT join against
    the canonical edge set to classify (prev, v) adjacency, one
    bounded explode (≤ max-weight copies), one min_by partial agg per
    walker. Returns (walker, step, node); step 0 is the start row.
    """
    if length < 1:
        raise ValueError(f"node2vec_walks: length must be >= 1, got {length}")
    if min(w_return, w_stay, w_out) < 1:
        raise ValueError("node2vec_walks: weights must be >= 1")
    und, _ = _undirected_simple(edges, src, dst)
    und = und.localCheckpoint()
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).localCheckpoint()
    s_col = starts.columns[0]
    frontier = (
        starts.select(F.col(s_col).alias("walker"))
        .distinct()
        .select(
            "walker",
            F.lit(None).cast("long").alias("prev"),
            F.col("walker").cast("long").alias("node"),
        )
        .localCheckpoint()
    )
    out = frontier.select(
        "walker", F.lit(0).cast("int").alias("step"), "node"
    )
    adj = und.select(
        F.col("a").alias("_pa"), F.col("b").alias("_pb"), F.lit(1).alias("_adj")
    )
    for t in range(1, length + 1):
        cand = (
            frontier.join(sym, frontier["node"] == sym["u"])
            .select("walker", "prev", "node", "v")
            .join(
                adj,
                (F.least("prev", "v") == F.col("_pa"))
                & (F.greatest("prev", "v") == F.col("_pb")),
                "left",
            )
            .withColumn(
                "_w",
                F.when(F.col("v") == F.col("prev"), F.lit(w_return))
                .when(F.col("_adj") == 1, F.lit(w_stay))
                .otherwise(F.lit(w_out)),
            )
        )
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit(str(seed)),
                        F.col("walker").cast("string"),
                        F.lit(str(t)),
                        F.col("node").cast("string"),
                        F.col("v").cast("string"),
                        F.col("j").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        frontier = (
            cand.withColumn(
                "j", F.explode(F.sequence(F.lit(1), F.col("_w")))
            )
            .select(
                "walker",
                F.col("node").alias("_u"),
                "v",
                h.alias("_h"),
                "j",
            )
            .groupBy("walker")
            .agg(
                F.min_by(
                    F.struct(F.col("v"), F.col("_u")),
                    F.struct(F.col("_h"), F.col("v"), F.col("j")),
                ).alias("_pick")
            )
            .select(
                "walker",
                F.col("_pick._u").alias("prev"),
                F.col("_pick.v").cast("long").alias("node"),
            )
            .localCheckpoint()
        )
        out = out.unionByName(
            frontier.select(
                "walker", F.lit(t).cast("int").alias("step"), "node"
            )
        )
    return out


def link_prediction_eval(
    edges: DataFrame,
    holdout_mod: int = 5,
    ks: Sequence[int] = (1, 5, 10),
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Link-prediction EVALUATION harness (the ann/pq/lsh
    recall-report discipline applied to C137's candidate features):
    hold out a deterministic md5 sample of edges (pair hash %
    ``holdout_mod`` == 0), compute common-neighbor candidates on the
    TRAINING remainder, rank each node's candidates by the Jaccard
    score, and report hits@k — for how many held-out edges does
    either endpoint rank the other inside its top k?

    Determinism: the holdout is a pure function of the edge pair (the
    portable-hash split, no rand()); the ranking key is the one IEEE
    division cn/jden of exact integers (identical in both engines)
    with (cn DESC, candidate id) tiebreaks, so ranks — and therefore
    every hit count — are cross-engine bit-checkable.

    Shape: the C137 candidate generation (wedge join, never
    all-pairs) + one row_number window partitioned per NODE — the
    per-node candidate list is 2-hop-neighborhood-bounded, and the
    w-threshold of the input core is the documented volume knob
    (exactly the k-truss family's posture on hub-heavy graphs).

    Returns one row per k: (k, n_test, n_reachable, hits) — all
    exact bigints. n_reachable counts held-out edges that appear in
    the candidate set at all (at distance 2 in the training graph);
    hits ≤ n_reachable ≤ n_test.
    """
    from pyspark.sql import Window

    if holdout_mod < 2:
        raise ValueError(f"link_prediction_eval: holdout_mod={holdout_mod} < 2")
    und, _ = _undirected_simple(edges, src, dst)
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("a").cast("string"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % holdout_mod
    )
    marked = und.withColumn("_t", (h == 0).cast("int")).localCheckpoint()
    test = marked.filter(F.col("_t") == 1).select("a", "b")
    train = marked.filter(F.col("_t") == 0).select("a", "b")
    feats = link_prediction_features(train, src="a", dst="b")
    both = feats.select(
        F.col("a").alias("node"), F.col("b").alias("v"), "cn", "jden"
    ).unionByName(
        feats.select(
            F.col("b").alias("node"), F.col("a").alias("v"), "cn", "jden"
        )
    )
    w = Window.partitionBy("node").orderBy(
        (F.col("cn") / F.col("jden")).desc(), F.col("cn").desc(), F.col("v")
    )
    ranked = both.withColumn("_rk", F.row_number().over(w))
    # Best rank per held-out edge across its two directed views.
    tr = (
        test.join(
            ranked.select(
                F.col("node").alias("a"), F.col("v").alias("b"),
                F.col("_rk").alias("_r1"),
            ),
            ["a", "b"],
            "left",
        )
        .join(
            ranked.select(
                F.col("v").alias("a"), F.col("node").alias("b"),
                F.col("_rk").alias("_r2"),
            ),
            ["a", "b"],
            "left",
        )
        .select(
            "a", "b",
            F.least(F.col("_r1"), F.col("_r2")).alias("_best"),
        )
        .localCheckpoint()
    )
    ks_df = tr.sparkSession.createDataFrame(
        [(int(k),) for k in sorted(ks)], "k int"
    )
    return (
        tr.crossJoin(F.broadcast(ks_df))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(F.when(F.col("_best").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_reachable"),
            F.sum(
                F.when(F.col("_best") <= F.col("k"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("hits"),
        )
    )
