"""Unit tests for the r06 third-session operators: pagerank (graph),
skyline (Pareto frontier), time_weighted_avg. The catalog oracles pin
the cross-engine renderings; these pin the operator SEMANTICS against
independent references (numpy power iteration, brute-force dominance,
hand-computed integrals)."""

import numpy as np
import pandas as pd
import pytest

from openetl_spark.operators import analytics as A
from openetl_spark.operators import graph as G
from openetl_spark.operators import timeseries as TS


# ------------------------------------------------------------ pagerank

def _numpy_pagerank(edges, n_nodes, damping=0.85, iters=5):
    """Independent dense reference: row-stochastic transition matrix
    with uniform dangling redistribution."""
    w = np.zeros((n_nodes, n_nodes))
    for s, d, wt in edges:
        w[s, d] += wt
    out = w.sum(axis=1)
    r = np.full(n_nodes, 1.0 / n_nodes)
    for _ in range(iters):
        contrib = np.zeros(n_nodes)
        for s in range(n_nodes):
            if out[s] > 0:
                contrib += r[s] * w[s] / out[s]
        dangling = r[out == 0].sum()
        r = (1 - damping) / n_nodes + damping * (contrib + dangling / n_nodes)
    return r


def test_pagerank_matches_numpy_reference_with_dangling(spark):
    rng = np.random.default_rng(7)
    n = 12
    edges = []
    for s in range(n - 2):  # nodes n-2, n-1 are dangling sinks
        for d in rng.choice(n, size=4, replace=False):
            if d != s:
                edges.append((int(s), int(d), float(rng.integers(1, 9))))
    df = spark.createDataFrame(edges, "src int, dst int, w double")
    got = {
        r["node"]: r["rank"]
        for r in G.pagerank(df, "src", "dst", "w", iters=5).collect()
    }
    want = _numpy_pagerank(edges, n)
    present = sorted(got)  # nodes with >=1 incident edge
    assert np.allclose([got[i] for i in present], want[present], atol=1e-12)
    # Mass conservation: ranks over ALL nodes sum to 1. Every node
    # appears in this graph, so the distributed result must too.
    assert set(present) == set(range(n))
    assert abs(sum(got.values()) - 1.0) < 1e-12


def test_pagerank_uniform_on_symmetric_cycle(spark):
    n = 6
    edges = [(i, (i + 1) % n) for i in range(n)]
    df = spark.createDataFrame(edges, "src int, dst int")
    ranks = [r["rank"] for r in G.pagerank(df, iters=8).collect()]
    assert len(ranks) == n
    assert max(ranks) - min(ranks) < 1e-15  # cycle is rank-symmetric
    assert abs(sum(ranks) - 1.0) < 1e-12


def test_pagerank_multi_edges_add(spark):
    """Two parallel unweighted edges must equal one edge of weight 2."""
    multi = spark.createDataFrame(
        [(0, 1), (0, 1), (0, 2), (1, 0), (2, 0)], "src int, dst int"
    )
    weighted = spark.createDataFrame(
        [(0, 1, 2.0), (0, 2, 1.0), (1, 0, 1.0), (2, 0, 1.0)],
        "src int, dst int, w double",
    )
    a = {r["node"]: r["rank"] for r in G.pagerank(multi, iters=4).collect()}
    b = {
        r["node"]: r["rank"]
        for r in G.pagerank(weighted, "src", "dst", "w", iters=4).collect()
    }
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-15)


def test_pagerank_driver_fold_equals_distributed(spark, monkeypatch):
    """r12 session 3: the size-conditional driver fold must agree with
    the distributed join-agg rounds it replaces — raw ranks within the
    float-addition-order tolerance, and EXACTLY at the 6dp
    floor-rounded surface the declared queries expose. Both arms
    (uniform + personalized teleport) are pinned; the distributed path
    is forced via the threshold."""
    rng = np.random.default_rng(11)
    n = 30
    edges = []
    for s in range(n - 3):
        for d in rng.choice(n, size=5, replace=False):
            if d != s:
                edges.append((int(s), int(d), float(rng.integers(1, 9))))
    df = spark.createDataFrame(edges, "src int, dst int, w double")
    tele = spark.createDataFrame(
        [(i, 0.25) for i in range(4)], "node int, p double"
    )

    def run():
        uni = {
            r["node"]: r["rank"]
            for r in G.pagerank(df, "src", "dst", "w", iters=5).collect()
        }
        per = {
            r["node"]: r["rank"]
            for r in G.pagerank(
                df, "src", "dst", "w", iters=5, teleport=tele
            ).collect()
        }
        return uni, per

    fast_uni, fast_per = run()
    monkeypatch.setattr(G, "_PAGERANK_DRIVER_FOLD_MAX_EDGES", -1)
    slow_uni, slow_per = run()
    for fast, slow in [(fast_uni, slow_uni), (fast_per, slow_per)]:
        assert fast.keys() == slow.keys()
        for k in fast:
            assert fast[k] == pytest.approx(slow[k], abs=1e-12)
            # the declared-query surface: fixed 6dp floor-round
            import math

            assert math.floor(fast[k] * 1e6 + 0.5) == math.floor(
                slow[k] * 1e6 + 0.5
            )


def test_contract_pair_equals_contract_graph(spark):
    """r12 session 3: the fused one-pass pair contraction must be
    bit-identical to contract_graph run per labeling (sum of 4-key
    cell counts per coarser key ≡ direct count)."""
    rng = np.random.default_rng(13)
    n = 40
    edges = []
    for s in range(n):
        for d in rng.choice(n, size=3, replace=False):
            if d != s:
                edges.append((int(s), int(d)))
    df = spark.createDataFrame(edges, "src int, dst int")
    lab = spark.createDataFrame(
        [(i, int(i % 5)) for i in range(n)], "node int, label int"
    )
    mov = spark.createDataFrame(
        [(i, int((i * 7) % 4)) for i in range(n)], "node int, label int"
    )
    und, _ = G._undirected_simple(G.canonicalize(df), "src", "dst")
    got_lab, got_mov = G._contract_pair(und, lab, mov)
    want_lab = G.contract_graph(df, lab)
    want_mov = G.contract_graph(df, mov)
    for got, want in [(got_lab, want_lab), (got_mov, want_mov)]:
        g = sorted(tuple(r) for r in got.collect())
        w = sorted(tuple(r) for r in want.collect())
        assert g == w


# ------------------------------------------------------------- skyline

def _brute_skyline(rows, maxs, mins):
    def dominates(q, p):
        ge = all(q[c] >= p[c] for c in maxs) and all(q[c] <= p[c] for c in mins)
        gt = any(q[c] > p[c] for c in maxs) or any(q[c] < p[c] for c in mins)
        return ge and gt

    return {
        p["id"]
        for p in rows
        if not any(dominates(q, p) for q in rows)
    }


_SHAPE_SEEDS = {"independent": 3, "anticorrelated": 4, "dupes": 5}


@pytest.mark.parametrize("shape", sorted(_SHAPE_SEEDS))
def test_skyline_matches_brute_force(spark, shape):
    # Fixed per-shape seeds: hash(str) is randomized per process, which
    # would make a failing dataset unreproducible (review r06).
    rng = np.random.default_rng(_SHAPE_SEEDS[shape])
    n = 400
    x = rng.integers(0, 60, n)
    if shape == "anticorrelated":
        y = 100 - x + rng.integers(0, 3, n)  # near-linear frontier: big skyline
    elif shape == "dupes":
        x = rng.integers(0, 6, n)  # heavy exact-tie mass
        y = rng.integers(0, 6, n)
    else:
        y = rng.integers(0, 60, n)
    rows = [
        {"id": i, "price": float(x[i]), "size": int(y[i])} for i in range(n)
    ]
    df = spark.createDataFrame(rows)
    got = A.skyline(df, maximize=["size"], minimize=["price"])
    got_ids = {r["id"] for r in got.collect()}
    assert got_ids == _brute_skyline(rows, maxs=["size"], mins=["price"])


def test_skyline_three_criteria_and_duplicates_kept(spark):
    rows = [
        {"id": 0, "a": 1.0, "b": 1.0, "c": 1.0},
        {"id": 1, "a": 1.0, "b": 1.0, "c": 1.0},  # exact dup of 0: both stay
        {"id": 2, "a": 2.0, "b": 0.5, "c": 1.0},
        {"id": 3, "a": 0.5, "b": 0.5, "c": 0.5},  # dominated by 0/1
        {"id": 4, "a": 0.0, "b": 3.0, "c": 0.0},
    ]
    df = spark.createDataFrame(rows)
    got = {r["id"] for r in A.skyline(df, maximize=["a", "b", "c"]).collect()}
    assert got == {0, 1, 2, 4}
    with pytest.raises(ValueError):
        A.skyline(df)
    with pytest.raises(ValueError, match="reserves"):
        A.skyline(df.withColumnRenamed("c", "__sk0"), maximize=["a", "b"])


def test_local_skyline_kernel_empty_and_single():
    pdf = pd.DataFrame({"s0": [], "s1": []})
    assert len(A._local_skyline(pdf, ["s0", "s1"])) == 0
    one = pd.DataFrame({"s0": [1.0], "s1": [2.0]})
    assert len(A._local_skyline(one, ["s0", "s1"])) == 1


# ----------------------------------------------------- time_weighted_avg

def test_time_weighted_avg_hand_case(spark):
    # key u: v=10 held 30s, v=20 held 10s -> twa = (300+200)/40 = 12.5
    # key w: single observation -> dropped (zero-length interval)
    rows = [
        ("u", "2024-01-01 00:00:00", 10.0),
        ("u", "2024-01-01 00:00:30", 20.0),
        ("u", "2024-01-01 00:00:40", 99.0),  # last sample carries no weight
        ("w", "2024-01-01 00:00:00", 5.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts string, value double")
    df = df.selectExpr("k", "cast(ts as timestamp_ntz) as ts", "value")
    out = {r["k"]: r for r in TS.time_weighted_avg(df, keys=["k"]).collect()}
    assert set(out) == {"u"}
    assert out["u"]["twa"] == pytest.approx(12.5)
    assert out["u"]["span_s"] == 40


def test_time_weighted_avg_constant_series_equals_value(spark):
    rows = [("u", f"2024-01-01 00:{m:02d}:00", 7.25) for m in range(0, 50, 7)]
    df = spark.createDataFrame(rows, "k string, ts string, value double")
    df = df.selectExpr("k", "cast(ts as timestamp_ntz) as ts", "value")
    (row,) = TS.time_weighted_avg(df, keys=["k"]).collect()
    assert row["twa"] == pytest.approx(7.25)


# ------------------------------------------------------- triangle_stats

def _brute_triangles(edge_set):
    nodes = sorted({n for e in edge_set for n in e})
    t = 0
    for i, x in enumerate(nodes):
        for y in nodes[i + 1:]:
            if (x, y) not in edge_set:
                continue
            for z in nodes[nodes.index(y) + 1:]:
                if (x, z) in edge_set and (y, z) in edge_set:
                    t += 1
    return t


def test_triangle_stats_known_graphs(spark):
    # K4: 4 triangles, 6 edges, every wedge closed -> clustering 1.0
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    (row,) = G.triangle_stats(
        spark.createDataFrame(k4, "src int, dst int")
    ).collect()
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 6, 4)
    assert row["n_wedges"] == 12  # 4 nodes of degree 3: 4*C(3,2)
    assert row["global_clustering"] == pytest.approx(1.0)

    # path 0-1-2-3: no triangle, 2 wedges, clustering 0; self-loops and
    # duplicate/reversed edges must collapse away.
    path = [(0, 1), (1, 0), (1, 2), (2, 3), (3, 3), (2, 3)]
    (row,) = G.triangle_stats(
        G.canonicalize(spark.createDataFrame(path, "src int, dst int"))
    ).collect()
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 3, 0)
    assert row["n_wedges"] == 2
    assert row["global_clustering"] == 0.0


def test_triangle_stats_matches_brute_force_random(spark):
    rng = np.random.default_rng(11)
    n = 40
    edges = {
        (int(a), int(b))
        for a, b in rng.integers(0, n, size=(500, 2))
        if a < b
    }
    (row,) = G.triangle_stats(
        spark.createDataFrame(sorted(edges), "src int, dst int")
    ).collect()
    assert row["n_triangles"] == _brute_triangles(edges)
    assert row["n_edges"] == len(edges)


# ------------------------------------------------------------ bfs_hops

def test_bfs_hops_path_graph_and_unreached(spark):
    # 0-1-2-3-4 chain plus a disconnected 8-9 edge; seeds {0, 9}.
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (8, 9)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(0,), (9,)], "node int")
    got = {r["node"]: r["hop"] for r in G.bfs_hops(edges, seeds).collect()}
    assert got == {0: 0, 9: 0, 1: 1, 8: 1, 2: 2, 3: 3, 4: 4}

    # max_hops truncates: node 4 unreached at max_hops=2.
    got2 = {
        r["node"]: r["hop"]
        for r in G.bfs_hops(edges, seeds, max_hops=2).collect()
    }
    assert got2 == {0: 0, 9: 0, 1: 1, 8: 1, 2: 2}


def test_bfs_hops_isolated_seed_and_min_distance(spark):
    # Seed 7 touches no edge: present at hop 0. Two paths to node 3
    # (0-1-3 and 0-2-3): BFS must record the 2-hop minimum once.
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(0,), (7,)], "node int")
    got = {r["node"]: r["hop"] for r in G.bfs_hops(edges, seeds).collect()}
    assert got == {0: 0, 7: 0, 1: 1, 2: 1, 3: 2, 4: 3}


def test_empty_edge_inputs(spark):
    empty = spark.createDataFrame([], "src int, dst int")
    assert G.pagerank(empty).count() == 0
    (row,) = G.triangle_stats(empty).collect()
    assert (row["n_nodes"], row["n_edges"], row["n_wedges"],
            row["n_triangles"], row["global_clustering"]) == (0, 0, 0, 0, 0.0)
    seeds = spark.createDataFrame([(1,)], "node int")
    got = {r["node"]: r["hop"] for r in G.bfs_hops(empty, seeds).collect()}
    assert got == {1: 0}  # seed with no edges: hop 0, nothing else


def test_pagerank_drops_nonpositive_and_null_weights(spark):
    """A source whose only out-edges have weight 0/NULL is DANGLING,
    not a NaN factory (0/0 normalization) or a mass leak (NULLs)."""
    dirty = spark.createDataFrame(
        [(0, 1, 0.0), (0, 2, None), (1, 2, 1.0), (2, 1, 1.0)],
        "src int, dst int, w double",
    )
    got = {r["node"]: r["rank"] for r in G.pagerank(dirty, "src", "dst", "w", iters=4).collect()}
    clean = spark.createDataFrame(
        [(0, 1, 0.0), (1, 2, 1.0), (2, 1, 1.0)], "src int, dst int, w double"
    )
    want = {r["node"]: r["rank"] for r in G.pagerank(clean, "src", "dst", "w", iters=4).collect()}
    assert got == want                       # NULL edge fully ignored
    assert all(np.isfinite(v) for v in got.values())
    assert abs(sum(got.values()) - 1.0) < 1e-12  # node 0 treated as dangling


def test_skyline_phase1_prunes_before_any_exchange(spark, sf_dir):
    """Scale posture: the phase-1 local prune must run in place on the
    scan partitions — the only Exchange in the plan is the survivor
    shuffle ABOVE the MapInPandas (review r06 replaced a fixed-bucket
    groupBy that shuffled the whole corpus into 64 tasks)."""
    import re

    from openetl_spark import catalog

    plan = (
        catalog.QUERIES["skyline_parts"](spark, sf_dir)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    map_ids = [int(m) for m in re.findall(r"MapInPandas \((\d+)\)", plan)]
    ex_ids = [int(m) for m in re.findall(r"Exchange \((\d+)\)", plan)]
    assert map_ids, plan
    # Formatted-plan numbering is bottom-up: a node below another has a
    # smaller id. Every Exchange must sit above the phase-1 map.
    assert all(e > min(map_ids) for e in ex_ids), (map_ids, ex_ids)


def test_degree_assortativity_star_and_regular(spark):
    # Star K1,3: hub degree 3, leaves degree 1 -> perfectly
    # disassortative, r = -1 exactly from the integer moments.
    star = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "src int, dst int")
    (row,) = G.degree_assortativity(star).collect()
    assert row["n_edges"] == 3
    assert row["assortativity"] == pytest.approx(-1.0)
    # Degree-regular graph (K4): zero degree variance -> NULL.
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b], "src int, dst int"
    )
    (row,) = G.degree_assortativity(k4).collect()
    assert row["n_edges"] == 6 and row["assortativity"] is None


# --------------------------------------------------- property sweeps

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=100,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.integers(1, 3).flatmap(
        lambda d: st.lists(
            st.tuples(*([st.integers(0, 6)] * d)),  # tiny range: dense ties
            min_size=0,
            max_size=60,
        )
    )
)
def test_local_skyline_kernel_matches_brute_force(points):
    """The pandas BNL kernel (the single piece both distributed phases
    share) against the O(n²) dominance definition, over tie-dense
    random point sets in 1–3 dimensions."""
    d = len(points[0]) if points else 2
    crit = [f"s{i}" for i in range(d)]
    pdf = pd.DataFrame(points, columns=crit)
    pdf["rid"] = range(len(pdf))
    got = set(A._local_skyline(pdf, crit)["rid"])
    want = {
        i
        for i, p in enumerate(points)
        if not any(
            all(qc >= pc for qc, pc in zip(q, p))
            and any(qc > pc for qc, pc in zip(q, p))
            for q in points
        )
    }
    assert got == want


@pytest.mark.parametrize("damping,iters", [(0.5, 3), (0.85, 5), (0.99, 7)])
def test_pagerank_parameter_sweep_vs_numpy(spark, damping, iters):
    rng = np.random.default_rng(19)
    n = 10
    edges = [
        (int(s), int(d), float(rng.integers(1, 5)))
        for s in range(n - 1)  # node n-1 dangling
        for d in rng.choice(n, size=3, replace=False)
        if d != s
    ]
    df = spark.createDataFrame(edges, "src int, dst int, w double")
    got = {
        r["node"]: r["rank"]
        for r in G.pagerank(df, "src", "dst", "w", damping=damping, iters=iters).collect()
    }
    want = _numpy_pagerank(edges, n, damping=damping, iters=iters)
    for node, rank in got.items():
        assert rank == pytest.approx(want[node], abs=1e-12)
    assert abs(sum(got.values()) - 1.0) < 1e-12


def test_personalized_pagerank_matches_numpy(spark):
    """Teleport generalization vs an extended numpy reference: restart
    AND dangling mass land on the seed distribution; non-seed nodes
    get rank only through links."""
    rng = np.random.default_rng(23)
    n = 10
    edges = [
        (int(s), int(d), float(rng.integers(1, 5)))
        for s in range(n - 1)  # node n-1 dangling
        for d in rng.choice(n, size=3, replace=False)
        if d != s
    ]
    seeds = [0, 3]
    p = np.zeros(n)
    p[seeds] = 1.0 / len(seeds)
    w = np.zeros((n, n))
    for s, d, wt in edges:
        w[s, d] += wt
    out = w.sum(axis=1)
    r = p.copy()
    for _ in range(5):
        contrib = np.zeros(n)
        for s in range(n):
            if out[s] > 0:
                contrib += r[s] * w[s] / out[s]
        r = 0.15 * p + 0.85 * (contrib + r[out == 0].sum() * p)
    df = spark.createDataFrame(edges, "src int, dst int, w double")
    tele = spark.createDataFrame([(s, 0.5) for s in seeds], "node int, p double")
    got = {
        row["node"]: row["rank"]
        for row in G.pagerank(df, "src", "dst", "w", teleport=tele).collect()
    }
    for node, rank in got.items():
        assert rank == pytest.approx(r[node], abs=1e-12)
    assert abs(sum(got.values()) - 1.0) < 1e-12  # mass conserved on seeds


def test_kcore_clique_with_tail(spark):
    """4-clique {0,1,2,3} with a pendant chain 3-4-5: the 3-core is
    exactly the clique (chain nodes peel in cascade), every member at
    core degree 3. k=5 peels everything."""
    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges += [(3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r["core_degree"] for r in G.kcore(df, k=3).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    assert G.kcore(df, k=5).count() == 0


def test_kcore_warns_when_round_bound_hit(spark):
    """ADVICE r06: a peeling that does NOT reach its fixpoint within
    max_rounds must emit a RuntimeWarning (the survivor set may hold
    sub-k nodes) — and the same graph under an ample bound must
    converge silently. A path graph peels one node per end per round,
    so a 12-node path under k=2 needs ~5 rounds."""
    import warnings

    edges = [(i, i + 1) for i in range(11)]
    df = spark.createDataFrame(edges, "src int, dst int")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        G.kcore(df, k=2, max_rounds=2).count()
    assert any(
        issubclass(w.category, RuntimeWarning) and "fixpoint" in str(w.message)
        for w in caught
    ), [str(w.message) for w in caught]
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert G.kcore(df, k=2, max_rounds=10).count() == 0
    assert not [w for w in caught if issubclass(w.category, RuntimeWarning)]


# --------------------------------------- grouped_exact_ranks (r07)

def test_grouped_exact_ranks_matches_window_form(spark, sf_dir):
    """window_ranking_extras' histogram-rank plan must equal Spark's
    own ntile/percent_rank/cume_dist/first/nth_value window form
    row-for-row (the low-cardinality window is kept HERE as the
    cross-check, never in the shipped plan — VERDICT r06 #2)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    from openetl_spark import catalog
    from openetl_spark.queries.base import load

    got = catalog.QUERIES["window_ranking_extras"](spark, sf_dir)
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    ref = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.first("o_orderkey").over(w).alias("first_in_seg"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_in_seg"),
    )
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_window_ranking_extras_plan_has_no_corpus_scale_window(spark, sf_dir):
    """Scale posture: no ntile/percent_rank/cume_dist window functions
    anywhere in the optimized plan, and every row_number window
    partitions by the COMPOUND (priority, bucket) key — the only
    single-key window runs over the bounded bin relation (an Aggregate,
    not the scan)."""
    import re

    from openetl_spark import catalog

    plan = (
        catalog.QUERIES["window_ranking_extras"](spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "ntile(" not in plan
    assert "percent_rank(" not in plan
    assert "cume_dist(" not in plan
    for spec in re.findall(r"row_number\(\) windowspecdefinition\(([^)]*)", plan):
        assert "__bkt" in spec, spec
    # The cumulative-offset window (the single-key one) consumes the
    # bin relation: in the logical tree its subtree must aggregate
    # before touching the relation. Tree prints top-down with
    # indentation; find each Window line whose spec lacks __bkt in the
    # partition keys (i.e. the sum-over-bins window) and require an
    # Aggregate strictly below it before any relation leaf.
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if ln.lstrip().startswith("Window") and "row_number" not in ln:
            below = "\n".join(lines[i + 1:])
            agg = below.find("Aggregate")
            rel = below.find("Relation")
            assert agg != -1 and (rel == -1 or agg < rel), ln


def test_grouped_exact_ranks_positions_dense_and_exact(spark):
    """Positions are 1..n per group under (value DESC, tiebreak ASC),
    including values straddling bucket boundaries and exact ties."""
    rows = [
        ("a", 105.0, 1), ("a", 95.0, 2), ("a", 95.0, 3), ("a", 10.0, 4),
        ("b", 200.0, 5), ("b", 199.99, 6),
        ("c", 7.0, 7),
    ]
    df = spark.createDataFrame(rows, "g string, v double, k int")
    got = {
        (r["g"], r["k"]): (r["pos"], r["n_group"])
        for r in A.grouped_exact_ranks(df, "g", "v", "k", bucket_width=10.0)
        .collect()
    }
    assert got == {
        ("a", 1): (1, 4), ("a", 2): (2, 4), ("a", 3): (3, 4), ("a", 4): (4, 4),
        ("b", 5): (1, 2), ("b", 6): (2, 2),
        ("c", 7): (1, 1),
    }


def test_ntile_from_pos_matches_spark_ntile(spark):
    """ntile_from_pos arithmetic == Spark's ntile window for every
    (n, k) in a sweep, including n < k and n % k != 0."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    rows = [(n, p) for n in range(1, 23) for p in range(1, n + 1)]
    df = spark.createDataFrame(rows, "n int, pos int")
    for k in (2, 3, 4, 7):
        w = W.partitionBy("n").orderBy("pos")
        bad = (
            df.withColumn("want", F.ntile(k).over(w))
            .withColumn(
                "got", A.ntile_from_pos(F.col("pos"), F.col("n"), k).cast("int")
            )
            .filter(F.col("want") != F.col("got"))
            .count()
        )
        assert bad == 0, k


# --------------------------------------------- label propagation (r07)

def test_label_propagation_two_cliques_with_bridge(spark):
    """Two 4-cliques joined by one bridge edge: LPA must give each
    clique one label and not merge them across the bridge (the bridge
    vote 1 never outweighs 3 intra-clique votes)."""
    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a + 10, b + 10) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(c1 + c2 + [(3, 10)], "src int, dst int")
    got = {r["node"]: r["label"] for r in G.label_propagation(df, rounds=4).collect()}
    assert len(got) == 8
    l1 = {got[n] for n in range(4)}
    l2 = {got[n] for n in range(10, 14)}
    assert len(l1) == 1 and len(l2) == 1 and l1 != l2


def test_label_propagation_round_semantics_by_hand(spark):
    """One synchronous round on a path 0-1-2: each node takes the min
    neighbor label (all counts tie at 1) -> labels (0,0,1)."""
    df = spark.createDataFrame([(0, 1), (1, 2)], "src int, dst int")
    got = {r["node"]: r["label"] for r in G.label_propagation(df, rounds=1).collect()}
    assert got == {0: 1, 1: 0, 2: 1}


def test_label_propagation_tie_breaks_to_smallest_label(spark):
    """Node 9's neighbors carry labels {1: x1, 2: x1} after round 1 —
    the count tie must break to the smaller label."""
    # star: 9 connected to 1 and 2 (and 1-2 not connected)
    df = G.canonicalize(spark.createDataFrame([(9, 1), (9, 2)], "src int, dst int"))
    got = {r["node"]: r["label"] for r in G.label_propagation(df, rounds=1).collect()}
    # round 1: 9 sees {1, 2} -> 1; 1 sees {9} -> 9; 2 sees {9} -> 9
    assert got == {9: 1, 1: 9, 2: 9}


# --------------------------------------------------------- sssp (r07)

def test_sssp_prefers_cheap_two_hop_over_expensive_direct(spark):
    """0-2 direct costs 10; 0-1-2 costs 3. Weighted paths differ from
    hop counts — dist(2) = 3, not 10."""
    df = spark.createDataFrame(
        [(0, 2, 10), (0, 1, 1), (1, 2, 2), (2, 3, 5)], "src int, dst int, w long"
    )
    seeds = spark.createDataFrame([(0,)], "node int")
    got = {r["node"]: r["dist"] for r in G.sssp(df, seeds).collect()}
    assert got == {0: 0, 1: 1, 2: 3, 3: 8}


def test_sssp_multi_source_undirected_and_unreached_absent(spark):
    df = spark.createDataFrame(
        [(1, 2, 4), (2, 3, 4), (7, 8, 1)], "src int, dst int, w long"
    )
    seeds = spark.createDataFrame([(3,), (7,)], "node int")
    got = {r["node"]: r["dist"] for r in G.sssp(df, seeds).collect()}
    assert got == {3: 0, 7: 0, 2: 4, 1: 8, 8: 1}  # nothing else reached


def test_sssp_bounded_rounds_is_min_over_bounded_hop_paths(spark):
    """After i rounds dist(v) = min weight over paths of <= i edges:
    a 5-hop cheap path (cost 5) vs a 1-hop expensive edge (cost 20)."""
    chain = [(i, i + 1, 1) for i in range(5)] + [(0, 5, 20)]
    df = spark.createDataFrame(chain, "src int, dst int, w long")
    seeds = spark.createDataFrame([(0,)], "node int")
    got2 = {r["node"]: r["dist"] for r in G.sssp(df, seeds, max_rounds=2).collect()}
    assert got2[5] == 20  # cheap path needs 5 relaxations
    got6 = {r["node"]: r["dist"] for r in G.sssp(df, seeds, max_rounds=6).collect()}
    assert got6[5] == 5


def test_sssp_rejects_negative_weights(spark):
    df = spark.createDataFrame([(0, 1, -3)], "src int, dst int, w long")
    seeds = spark.createDataFrame([(0,)], "node int")
    with pytest.raises(ValueError, match="negative"):
        G.sssp(df, seeds)


def test_sssp_parallel_edges_collapse_to_cheapest(spark):
    df = spark.createDataFrame(
        [(0, 1, 9), (1, 0, 2), (0, 1, 5)], "src int, dst int, w long"
    )
    seeds = spark.createDataFrame([(0,)], "node int")
    canon = G.canonicalize(df, weight="w")
    got = {r["node"]: r["dist"] for r in G.sssp(canon, seeds).collect()}
    assert got == {0: 0, 1: 2}


# ------------------------------------------------------- modularity (r07)

def test_modularity_two_cliques_hand_value(spark):
    """Two K4 cliques + one bridge, labeled by clique: m=13,
    internal=12, d_c=13 each -> Q = 12/13 - 2*13^2/(4*13^2) =
    12/13 - 1/2."""
    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a + 10, b + 10) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(c1 + c2 + [(3, 10)], "src int, dst int")
    labels = spark.createDataFrame(
        [(n, 0) for n in range(4)] + [(n + 10, 1) for n in range(4)],
        "node int, label int",
    )
    (row,) = G.modularity(edges, labels).collect()
    assert row["n_edges"] == 13 and row["n_communities"] == 2
    assert row["internal_edges"] == 12 and row["sum_deg_sq"] == 2 * 13 * 13
    assert row["modularity"] == pytest.approx(12 / 13 - 0.5, abs=1e-15)


def test_modularity_extremes_and_partial_labeling(spark):
    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a + 10, b + 10) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(c1 + c2 + [(3, 10)], "src int, dst int")
    # everything in ONE community: Q = 1 - (2m)^2/(4m^2) = 0 exactly
    one = spark.createDataFrame(
        [(n, 7) for n in list(range(4)) + list(range(10, 14))],
        "node int, label int",
    )
    (row,) = G.modularity(edges, one).collect()
    assert row["modularity"] == pytest.approx(0.0, abs=1e-15)
    # partial labeling: only clique A labeled -> its edges/degrees only
    half = spark.createDataFrame([(n, 0) for n in range(4)], "node int, label int")
    (row,) = G.modularity(edges, half).collect()
    assert row["internal_edges"] == 6 and row["sum_deg_sq"] == 13 * 13
    assert row["modularity"] == pytest.approx(6 / 13 - 169 / (4 * 169), abs=1e-15)
    # NULL labels mean "unlabeled", never a community of their own:
    # labeling clique B as NULL must score identically to omitting it
    nulled = spark.createDataFrame(
        [(n, 0) for n in range(4)] + [(n + 10, None) for n in range(4)],
        "node int, label int",
    )
    (row2,) = G.modularity(edges, nulled).collect()
    assert (row2["n_communities"], row2["internal_edges"],
            row2["sum_deg_sq"]) == (1, 6, 169)


def test_modularity_of_lpa_partition_beats_trivial(spark):
    """On the clique pair, the LPA partition's Q must beat both the
    all-one-community labeling (0) and the singleton labeling (<0)."""
    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a + 10, b + 10) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(c1 + c2 + [(3, 10)], "src int, dst int")
    lpa = G.label_propagation(edges, rounds=4)
    (q_lpa,) = G.modularity(edges, lpa).collect()
    singles = spark.createDataFrame(
        [(n, n) for n in list(range(4)) + list(range(10, 14))],
        "node int, label int",
    )
    (q_single,) = G.modularity(edges, singles).collect()
    assert q_lpa["modularity"] > 0 > q_single["modularity"]


# -------------------------------- r07 randomized differentials

def _py_lpa(edges, rounds):
    """Pure-python synchronous LPA with the operator's exact tie rule
    (most frequent neighbor label, ties to smallest)."""
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    labels = {n: n for n in adj}
    for _ in range(rounds):
        nxt = {}
        for n, nbrs in adj.items():
            votes = Counter(labels[v] for v in nbrs)
            top = max(votes.values())
            nxt[n] = min(l for l, c in votes.items() if c == top)
        labels = nxt
    return labels


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_label_propagation_matches_python_reference(spark, seed):
    rng = np.random.default_rng(seed)
    n = 30
    edges = sorted(
        {
            (int(min(a, b)), int(max(a, b)))
            for a, b in rng.integers(0, n, size=(90, 2))
            if a != b
        }
    )
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {
        r["node"]: r["label"]
        for r in G.label_propagation(df, rounds=3).collect()
    }
    assert got == _py_lpa(edges, rounds=3)


def _py_bf(edges, seeds, rounds):
    """Bounded-round Bellman-Ford over the undirected weighted graph:
    dist after i rounds = min weight over paths of <= i edges."""
    dist = {s: 0 for s in seeds}
    sym = [(a, b, w) for a, b, w in edges] + [(b, a, w) for a, b, w in edges]
    for _ in range(rounds):
        cur = dict(dist)
        for a, b, w in sym:
            if a in dist and dist[a] + w < cur.get(b, float("inf")):
                cur[b] = dist[a] + w
        dist = cur
    return dist


@pytest.mark.parametrize("seed", [21, 22, 23])
def test_sssp_matches_python_bellman_ford(spark, seed):
    rng = np.random.default_rng(seed)
    n = 25
    edges = sorted(
        {
            (int(min(a, b)), int(max(a, b)))
            for a, b in rng.integers(0, n, size=(60, 2))
            if a != b
        }
    )
    wedges = [(a, b, int(rng.integers(1, 9))) for a, b in edges]
    seeds = [0, 1]
    df = spark.createDataFrame(wedges, "src int, dst int, w long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node int")
    for rounds in (2, 8):
        got = {
            r["node"]: r["dist"]
            for r in G.sssp(df, sdf, max_rounds=rounds).collect()
        }
        assert got == _py_bf(wedges, seeds, rounds), (seed, rounds)


@pytest.mark.parametrize("seed", [31, 32])
def test_grouped_exact_ranks_matches_window_random(spark, seed):
    """Random data with heavy ties, negative values, and bucket-edge
    values: positions must equal the window row_number under
    (value DESC, key ASC) in every group."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    rng = np.random.default_rng(seed)
    rows = [
        (
            f"g{int(rng.integers(0, 3))}",
            float(rng.choice([-20.0, -5.0, 0.0, 4.999, 5.0, 5.001, 17.5,
                              float(rng.integers(-30, 30))])),
            i,
        )
        for i in range(300)
    ]
    cols = ["g", "v", "k", "pos", "n_group"]  # exceptAll is positional
    df = spark.createDataFrame(rows, "g string, v double, k int")
    got = A.grouped_exact_ranks(df, "g", "v", "k", bucket_width=5.0).select(
        *cols
    )
    w = W.partitionBy("g").orderBy(F.col("v").desc(), F.col("k"))
    want = (
        df.withColumn("pos", F.row_number().over(w))
        .withColumn("n_group", F.count("*").over(W.partitionBy("g")))
        .select(*cols)
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


# -------------------------------- edit_similarity_join (r07)

def _brute_ed_pairs(rows, tau):
    import difflib  # noqa: F401  (not used — true DP below)

    def ed(x, y):
        m, n = len(x), len(y)
        prev = list(range(n + 1))
        for i in range(1, m + 1):
            cur = [i] + [0] * n
            for j in range(1, n + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (x[i - 1] != y[j - 1]),
                )
            prev = cur
        return prev[n]

    out = set()
    for i, (ia, sa) in enumerate(rows):
        for ib, sb in rows[i + 1:]:
            d = ed(sa, sb)
            if d <= tau:
                lo, hi = min(ia, ib), max(ia, ib)
                out.add((lo, hi, d))
    return out


@pytest.mark.parametrize(
    "seed,tau,q", [(41, 1, 3), (42, 2, 3), (43, 1, 4), (44, 1, 1), (45, 2, 1)]
)
def test_edit_similarity_join_no_missed_pairs(spark, seed, tau, q):
    """Prefix filtering must be LOSSLESS: the filtered join's pairs
    equal the brute-force cross product's at every (tau, q), including
    empty strings (at q=1 their gram sequence degenerates to
    sequence(1, 0)), strings shorter than q (sentinel bucket), and
    exact duplicates."""
    from openetl_spark.operators import dedup as DD

    rng = np.random.default_rng(seed)
    alphabet = list("abcd")
    rows = []
    for i in range(60):
        n = int(rng.integers(0, 9))  # length 0 included (ADVICE r07)
        rows.append((i, "".join(rng.choice(alphabet) for _ in range(n))))
    rows.append((60, rows[0][1]))  # exact duplicate -> dist 0
    rows.append((61, ""))  # guaranteed empty even if the rng misses 0
    df = spark.createDataFrame(rows, "id int, s string")
    got = {
        (r["a"], r["b"], r["dist"])
        for r in DD.edit_similarity_join(df, "id", "s", tau=tau, q=q).collect()
    }
    assert got == _brute_ed_pairs(rows, tau)


def _brute_ppjoin_pairs(rows, num, den, n):
    def sh_set(s):
        w = s.split()
        if not w:
            return set()
        k = max(len(w) - (n - 1), 1)
        return {" ".join(w[i : i + n]) for i in range(k)}

    sets = {i: sh_set(s) for i, s in rows if s is not None}
    sets = {i: v for i, v in sets.items() if v}
    out = set()
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            ov = len(sets[a] & sets[b])
            un = len(sets[a] | sets[b])
            if den * ov >= num * un:  # jaccard >= num/den, exact
                out.add((a, b, ov, len(sets[a]), len(sets[b])))
    return out


@pytest.mark.parametrize(
    "seed,num,den,n", [(51, 3, 5, 1), (52, 1, 2, 1), (53, 1, 1, 1), (54, 3, 5, 3)]
)
def test_ppjoin_no_missed_pairs(spark, seed, num, den, n):
    """PPJoin's prefix + length + positional filters must be LOSSLESS:
    the filtered join's pairs equal the brute-force cross product's at
    every (tau, n), including exact duplicates, empty/whitespace-only
    docs (excluded sets), NULLs, and single-token docs."""
    from openetl_spark.operators import dedup as DD

    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(25)]
    rows = []
    for i in range(80):
        m = int(rng.integers(0, 12))
        rows.append((i, " ".join(rng.choice(vocab, size=m))))
    rows += [(80, rows[2][1]), (81, None), (82, "   "), (83, "solo")]
    df = spark.createDataFrame(rows, "id int, s string")
    got = {
        (r["a"], r["b"], r["overlap"], r["la"], r["lb"])
        for r in DD.ppjoin(df, "id", "s", num, den, n).collect()
    }
    assert got == _brute_ppjoin_pairs(rows, num, den, n)


def test_ppjoin_rejects_bad_params(spark):
    from openetl_spark.operators import dedup as DD

    df = spark.createDataFrame([(1, "a b")], "id int, s string")
    with pytest.raises(ValueError):
        DD.ppjoin(df, "id", "s", tau_num=0, tau_den=5)
    with pytest.raises(ValueError):
        DD.ppjoin(df, "id", "s", tau_num=6, tau_den=5)
    with pytest.raises(ValueError):
        DD.ppjoin(df, "id", "s", n=0)


def test_edit_similarity_join_tau_zero_is_exact_dup(spark):
    from openetl_spark.operators import dedup as DD

    rows = [(1, "hello"), (2, "hello"), (3, "hallo"), (4, None)]
    df = spark.createDataFrame(rows, "id int, s string")
    got = {
        (r["a"], r["b"], r["dist"])
        for r in DD.edit_similarity_join(df, "id", "s", tau=0, q=2).collect()
    }
    assert got == {(1, 2, 0)}
    with pytest.raises(ValueError):
        DD.edit_similarity_join(df, "id", "s", tau=-1)


def test_kcore_everything_peeled_on_final_round_is_converged(spark):
    """Review r07: finishing max_rounds on an everything-removed round
    is a fixpoint (empty peels to empty) — no spurious warning."""
    import warnings

    # 4-path, k=2: round 1 removes both endpoints, round 2 the rest.
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src int, dst int")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert G.kcore(df, k=2, max_rounds=2).count() == 0
    assert not [w for w in caught if issubclass(w.category, RuntimeWarning)]


def test_louvain_improves_modularity_over_lpa(spark, sf_dir):
    """The VERDICT r07 #5 'done' bar: Q(louvain pass) >= Q(lpa) on the
    co-purchase graph — the move pass must make the partition a
    quality claim, not just a different labeling. Also pins that the
    pass is seeded from (and keyed to) the persisted LPA artifact."""
    from openetl_spark.queries.analytics_r06 import co_purchase_edges
    from openetl_spark.queries.analytics_r07 import _lpa_layout

    edges = G.canonicalize(co_purchase_edges(spark, sf_dir)).localCheckpoint()
    labels_path, _ = _lpa_layout(spark, sf_dir, rounds=4)
    lpa = spark.read.parquet(labels_path)
    q_lpa = G.modularity(edges, lpa).first()["modularity"]
    moved = G.louvain_move(edges, lpa)
    q_louvain = G.modularity(edges, moved).first()["modularity"]
    assert q_louvain >= q_lpa, (q_louvain, q_lpa)


def test_louvain_move_respects_strict_gain_ordering(spark):
    """Hand-checked gains on triangle+pendant (m=4, degrees 2,2,3,1;
    communities {0,1,2} and {3}): node 2's integer scores are
    stay(c0) = 2m·2 − 3·(7−3) = 4 vs move(c3) = 2m·1 − 3·1 = 5 — the
    HIGHER-degree community is the worse home under the null model
    (indeed Q({0,1},{2,3}) = 0 > Q({0,1,2},{3}) = −1/32), so 2 moves
    out while pendant 3 simultaneously moves in (synchronous pass);
    0 and 1 stay. Pins the own-community degree exclusion and the
    exact-integer score against a by-hand computation."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3)], "src int, dst int"
    )
    lab = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 3)], "node int, label int"
    )
    got = {(r["node"], r["label"]) for r in G.louvain_move(edges, lab).collect()}
    assert got == {(0, 0), (1, 0), (2, 3), (3, 0)}, got


def test_modularity_empty_labeling_matches_oracle_form(spark):
    """Review r07: an empty (or fully NULL) labeling must give
    sum_deg_sq = 0 and modularity = internal/m − 0 on BOTH engines
    (the oracle now coalesces its empty scalar subquery)."""
    df = spark.createDataFrame([(0, 1), (1, 2)], "src int, dst int")
    empty = spark.createDataFrame([], "node int, label int")
    (row,) = G.modularity(df, empty).collect()
    assert (row["n_communities"], row["internal_edges"],
            row["sum_deg_sq"]) == (0, 0, 0)
    assert row["modularity"] == pytest.approx(0.0, abs=1e-15)


def _brute_ktruss(edges, k):
    E = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    changed = True
    while changed:
        changed = False
        adj = {}
        for a, b in E:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        keep = {(a, b) for a, b in E if len(adj[a] & adj[b]) >= k - 2}
        if keep != E:
            E, changed = keep, True
    return E


@pytest.mark.parametrize("seed,k", [(5, 3), (6, 4), (7, 5)])
def test_ktruss_matches_bruteforce_fixpoint(spark, seed, k):
    import random

    rng = random.Random(seed)
    edges = list({(rng.randrange(16), rng.randrange(16)) for _ in range(60)})
    edges = [e for e in edges if e[0] != e[1]]
    df = G.canonicalize(spark.createDataFrame(edges, "src int, dst int"))
    got = {(r["a"], r["b"]) for r in G.ktruss(df, k, max_rounds=12).collect()}
    assert got == _brute_ktruss(edges, k)


def test_ktruss_contract(spark):
    # two triangles sharing an edge: ALL edges are 3-truss
    df = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (1, 3)], "src int, dst int"
    )
    got = sorted((r["a"], r["b"]) for r in G.ktruss(df, 3).collect())
    assert got == [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)]
    # 4-truss of a single triangle is empty (each edge has 1 triangle)
    tri = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], "src int, dst int")
    assert G.ktruss(tri, 4).count() == 0
    with pytest.raises(ValueError, match="k must be >= 3"):
        G.ktruss(tri, 2)


def test_ktruss_warns_when_rounds_exhausted(spark):
    """A long 'triangle chain' peels one link per round from each end;
    max_rounds=1 leaves under-supported edges and must warn."""
    import warnings

    # chain of triangles: (i, i+1, i+2) for i in 0..5
    edges = [(i, i + 1) for i in range(7)] + [(i, i + 2) for i in range(6)]
    df = spark.createDataFrame(edges, "src int, dst int")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        G.ktruss(df, 4, max_rounds=1).count()
    assert any(
        issubclass(w.category, RuntimeWarning) and "did not converge" in str(w.message)
        for w in caught
    )


def _sh_words(s, n=1):
    w = (s or "").split()
    if not w:
        return frozenset()
    k = max(len(w) - (n - 1), 1)
    return frozenset(" ".join(w[i : i + n]) for i in range(k))


def _brute_ppjoin_sequential(batches, num, den, n=1):
    """Sequential incremental semantics: a doc is flagged iff it has a
    jaccard >= num/den partner in the accrued SURVIVOR index or an
    earlier (smaller-id) doc of its own batch; survivors append."""
    flagged_all, index = {}, []
    for batch in batches:
        flags = {}
        for i, s in batch:
            S = _sh_words(s, n)
            if not S:
                continue
            ps = [j for j, T in index if den * len(S & T) >= num * len(S | T)]
            ps += [
                j
                for j, t in batch
                if j < i
                and _sh_words(t, n)
                and den * len(S & _sh_words(t, n)) >= num * len(S | _sh_words(t, n))
            ]
            if ps:
                flags[i] = len(ps)
        flagged_all.update(flags)
        index += [
            (j, _sh_words(t, n)) for j, t in batch if j not in flags and _sh_words(t, n)
        ]
    return flagged_all


def test_ppjoin_incremental_matches_sequential_reference(spark):
    """Exact-jaccard dedup-on-arrival (frozen-dictionary PPJoin) must
    equal the brute-force sequential semantics — including batches
    whose tokens are ABSENT from the frozen dictionary (f=0 ranks
    them rarest-first; the prefix lemma needs order consistency, not
    freshness)."""
    from openetl_spark.operators import dedup as DD

    rng = np.random.default_rng(21)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(90):
        if rows and rng.random() < 0.4:
            w = rows[int(rng.integers(0, len(rows)))][1].split()
            if w:
                w[int(rng.integers(0, len(w)))] = str(rng.choice(vocab))
            rows.append((i, " ".join(w)))
        else:
            m = int(rng.integers(0, 12))
            rows.append((i, " ".join(rng.choice(vocab, size=m))))
    rows.append((90, "zz1 zz2 zz3 zz4"))      # unseen tokens
    rows.append((91, "zz1 zz2 zz3 zz4 zz5"))  # near-dup of 90, unseen
    batches = [rows[:40], rows[40:70], rows[70:]]
    num, den = 1, 2

    want = _brute_ppjoin_sequential(batches, num, den)

    dict_df = DD.ppjoin_dictionary(
        spark.createDataFrame(batches[0], "id int, s string"), "s"
    ).localCheckpoint()
    index, got = None, {}
    empty = spark.createDataFrame(
        [], "id int, l long, arr array<string>, pre array<struct<tok:string, rn:int>>"
    )
    for batch in batches:
        bdf = spark.createDataFrame(batch, "id int, s string")
        fl = DD.ppjoin_incremental(
            bdf, index if index is not None else empty, dict_df, "id", "s", num, den
        )
        frows = {r["id"]: r["n_dups"] for r in fl.collect()}
        got.update(frows)
        surv = bdf.filter(~bdf.id.isin(list(frows))) if frows else bdf
        prep = DD.prepare_ppjoin_index(surv, "id", "s", dict_df, num, den)
        index = prep if index is None else index.unionByName(prep)
        index = index.localCheckpoint()
    assert got == want and len(want) > 0


def test_contract_graph_counts_and_self_loops(spark):
    """Two triangles bridged by one edge, partitioned into the two
    triangles: contraction must give each community a self-loop of its
    3 internal edges and one cross edge of weight 1; an unlabeled node
    drops with its edges."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3), (5, 9)],
        "src int, dst int",
    )
    lab = spark.createDataFrame(
        [(0, 10), (1, 10), (2, 10), (3, 20), (4, 20), (5, 20)],
        "node int, label int",
    )
    got = {(r["a"], r["b"], r["w"]) for r in G.contract_graph(edges, lab).collect()}
    assert got == {(10, 10, 3), (20, 20, 3), (10, 20, 1)}


def test_louvain_move_weighted_hand_cases(spark):
    """Hand-checked synchronous semantics. (a) Two singleton
    supernodes with self-loops 1/1 and cross weight 5 (m=7, d=7 each):
    the move score is symmetric BY STRUCTURE — score_A(B) = 2m·w −
    dA·dB = score_B(A) = 21 > 0 — so a synchronous pass SWAPS labels
    (a partition-equivalent relabel, the documented non-monotone
    hazard; serial Louvain would merge). (b) With cross weight 1:
    2·3·1 − 3·3 < 0, both stay. (c) Chain A—B—C with w(A,B)=5,
    w(B,C)=1, self-loops 1 each (m=9, d=7/8/3): A↔B swap symmetrically
    (2·9·5 − 7·8 = 34 both ways, the same structural symmetry as (a)),
    C stays (2·9·1 − 3·8 = −6 < 0) — the defined synchronous outcome,
    hand-verified. Self-loop mass must feed degrees but never k_{i,c}
    (a wrong k would flip case (b); a wrong degree would flip C's −6)."""
    lab0 = spark.createDataFrame([(1, 1), (2, 2)], "node int, label int")
    merge = spark.createDataFrame(
        [(1, 1, 1), (2, 2, 1), (1, 2, 5)], "a int, b int, w int"
    )
    got = {(r["node"], r["label"]) for r in G.louvain_move_weighted(merge, lab0).collect()}
    assert got == {(1, 2), (2, 1)}  # symmetric positive-gain swap
    stay = spark.createDataFrame(
        [(1, 1, 1), (2, 2, 1), (1, 2, 1)], "a int, b int, w int"
    )
    got2 = {(r["node"], r["label"]) for r in G.louvain_move_weighted(stay, lab0).collect()}
    assert got2 == {(1, 1), (2, 2)}
    lab3 = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "node int, label int")
    chain = spark.createDataFrame(
        [(1, 1, 1), (2, 2, 1), (3, 3, 1), (1, 2, 5), (2, 3, 1)],
        "a int, b int, w int",
    )
    got3 = {(r["node"], r["label"]) for r in G.louvain_move_weighted(chain, lab3).collect()}
    assert got3 == {(1, 2), (2, 1), (3, 3)}


def test_louvain_weighted_equals_unweighted_on_simple_graph(spark):
    """On a simple graph rendered as w=1 canonical rows with no self
    loops, the weighted pass must reproduce louvain_move exactly."""
    import random

    rng = random.Random(9)
    edges = list({(rng.randrange(12), rng.randrange(12)) for _ in range(40)})
    edges = [e for e in edges if e[0] != e[1]]
    df = G.canonicalize(spark.createDataFrame(edges, "src int, dst int"))
    lab0 = (
        df.selectExpr("src as node")
        .union(df.selectExpr("dst as node"))
        .distinct()
        .selectExpr("node", "node as label")
    )
    want = {(r["node"], r["label"]) for r in G.louvain_move(df, lab0).collect()}
    from pyspark.sql import functions as F

    ew = df.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.lit(1).alias("w")
    )
    got = {(r["node"], r["label"]) for r in G.louvain_move_weighted(ew, lab0).collect()}
    assert got == want


@pytest.mark.parametrize("seed,num,den,n", [(31, 3, 5, 1), (32, 1, 1, 1), (33, 4, 5, 3)])
def test_containment_join_no_missed_pairs(spark, seed, num, den, n):
    """The asymmetric prefix filter must be LOSSLESS: directed pairs
    with overlap/|S_a| >= tau equal the brute-force cross product's,
    including an explicit short-doc-quoted-in-long-doc pair, tau=1
    exact containment, NULL and whitespace-only docs."""
    from openetl_spark.operators import dedup as DD

    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(25)]
    rows = []
    for i in range(70):
        m = int(rng.integers(0, 12))
        rows.append((i, " ".join(rng.choice(vocab, size=m))))
    rows += [
        (70, "alpha beta gamma"),
        (71, "alpha beta gamma " + " ".join(rng.choice(vocab, size=20))),
        (72, None),
        (73, " "),
    ]
    df = spark.createDataFrame(rows, "id int, s string")

    def sh(s):
        w = (s or "").split()
        if not w:
            return frozenset()
        k = max(len(w) - (n - 1), 1)
        return frozenset(" ".join(w[i : i + n]) for i in range(k))

    sets = {i: sh(s) for i, s in rows if s is not None}
    sets = {i: v for i, v in sets.items() if v}
    want = {
        (a, b, len(sets[a] & sets[b]), len(sets[a]), len(sets[b]))
        for a in sets
        for b in sets
        if a != b and den * len(sets[a] & sets[b]) >= num * len(sets[a])
    }
    got = {
        (r["a"], r["b"], r["overlap"], r["la"], r["lb"])
        for r in DD.containment_join(df, "id", "s", num, den, n).collect()
    }
    assert got == want
    if (num, den, n) == (1, 1, 1):
        # the quotation pair: all 3 of doc 70's words inside doc 71
        assert any(g[:4] == (70, 71, 3, 3) for g in got)


@pytest.mark.parametrize("seed", [11, 12, 13, 14])
def test_louvain_refine_never_decreases_q(spark, seed):
    """The guard's whole point: Q(refine(labels)) >= Q(labels) on ANY
    graph and ANY starting partition — by construction (exact-integer
    4mI - S comparison), not by luck. Random graphs + random coarse
    labelings."""
    import random

    rng = random.Random(seed)
    edges = list({(rng.randrange(14), rng.randrange(14)) for _ in range(45)})
    edges = [e for e in edges if e[0] != e[1]]
    df = G.canonicalize(spark.createDataFrame(edges, "src int, dst int"))
    nodes = sorted({n for e in edges for n in e})
    lab = spark.createDataFrame(
        [(n, rng.randrange(4)) for n in nodes], "node int, label int"
    )
    q0 = G.modularity(df, lab).first()["modularity"]
    refined = G.louvain_refine(df, lab)
    q1 = G.modularity(df, refined).first()["modularity"]
    assert q1 >= q0, (q0, q1)


def test_louvain_refine_keeps_input_when_pass_hurts(spark):
    """Two singleton supernodes that would SWAP (the measured
    synchronous hazard): the projected partition is Q-identical, so
    the strict guard keeps the INPUT labels verbatim."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)],
        "src int, dst int",
    )
    lab = spark.createDataFrame(
        [(0, 10), (1, 10), (2, 10), (3, 20), (4, 20), (5, 20)],
        "node int, label int",
    )
    got = {(r["node"], r["label"]) for r in G.louvain_refine(edges, lab).collect()}
    assert got == {(0, 10), (1, 10), (2, 10), (3, 20), (4, 20), (5, 20)}


def test_louvain_refine_merges_when_gainful(spark):
    """A clique of 6 split into THREE labeled pairs plus a separate
    triangle. With the r09 swap_guard (moves only toward smaller
    labels — the Grappolo minimum-label discipline), the singleton
    supernode pass merges ALL THREE clique pairs into the smallest
    label in one level: P2→P0 (score 2·18·4 − 10·10 = 44 beats stay's
    0) and P4→P0 (ties 44/44 to the smaller label), P0 cannot move
    down, the triangle is isolated. Hand-computed Q (m=18): before
    6/18 − 336/1296 = 0.0741; after 18/18 − 936/1296 = 0.2778 —
    strictly better, so the guard must RETURN the refined partition.
    (Pre-r09, the unguarded synchronous pass pair-swapped P0↔P2 and
    only reached the partial merge 10/18 − 536/1296 = 0.1420.)"""
    edges = [(a, b) for a in range(6) for b in range(6) if a < b]
    edges += [(6, 7), (7, 8), (6, 8)]
    df = spark.createDataFrame(edges, "src int, dst int")
    lab = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 2), (3, 2), (4, 4), (5, 4),
         (6, 6), (7, 6), (8, 6)],
        "node int, label int",
    )
    q0 = G.modularity(df, lab).first()["modularity"]
    assert q0 == pytest.approx(6 / 18 - 336 / 1296, abs=1e-12)
    refined = G.louvain_refine(df, lab)
    q1 = G.modularity(df, refined).first()["modularity"]
    assert q1 == pytest.approx(18 / 18 - 936 / 1296, abs=1e-12)
    assert q1 > q0
    got = {r["node"]: r["label"] for r in refined.collect()}
    # the whole clique collapses to ONE community; triangle keeps its own
    assert len({got[i] for i in range(6)}) == 1
    assert len({got[i] for i in (6, 7, 8)}) == 1
    assert got[6] != got[0]


# ---------------------------------------------------------------------
# trussness decomposition (r09, VERDICT r08 #5)
# ---------------------------------------------------------------------


def _py_trussness(edges, max_k):
    """Brute-force fixpoint truss decomposition: for k = 3..max_k, peel
    edges with < k-2 common neighbors (within survivors) to fixpoint;
    peeled edges get trussness k-1, survivors at max_k get max_k."""
    from collections import defaultdict

    cur = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    t = {}
    for k in range(3, max_k + 1):
        while True:
            adj = defaultdict(set)
            for a, b in cur:
                adj[a].add(b)
                adj[b].add(a)
            rm = {(a, b) for (a, b) in cur if len(adj[a] & adj[b]) < k - 2}
            if not rm:
                break
            cur -= rm
            for e in rm:
                t[e] = k - 1
        if not cur:
            break
    for e in cur:
        t[e] = max_k
    return t


def test_trussness_k4_plus_pendant(spark):
    """K4 edges have trussness 4 (every edge in 2 triangles); the
    pendant edge is in no triangle -> trussness 2."""
    df = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        "src long, dst long",
    )
    got = {(r["a"], r["b"]): r["trussness"] for r in G.trussness(df, max_k=6).collect()}
    assert got[(4, 5)] == 2
    assert all(got[e] == 4 for e in [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)])


@pytest.mark.parametrize("seed", [41, 42, 43])
def test_trussness_matches_bruteforce(spark, seed):
    import random

    rng = random.Random(seed)
    edges = list({(rng.randrange(12), rng.randrange(12)) for _ in range(40)})
    edges = [e for e in edges if e[0] != e[1]]
    df = G.canonicalize(spark.createDataFrame(edges, "src int, dst int"))
    want = _py_trussness(edges, max_k=8)
    got = {
        (r["a"], r["b"]): r["trussness"]
        for r in G.trussness(df, max_k=8, max_rounds=12).collect()
    }
    assert got == {tuple(sorted(e)): v for e, v in want.items()}


def test_trussness_consistent_with_ktruss(spark):
    """{e : trussness(e) >= k} is exactly the k-truss edge set — the
    decomposition IS the membership ladder."""
    import random

    rng = random.Random(7)
    edges = list({(rng.randrange(10), rng.randrange(10)) for _ in range(35)})
    edges = [e for e in edges if e[0] != e[1]]
    df = G.canonicalize(spark.createDataFrame(edges, "src int, dst int"))
    dec = G.trussness(df, max_k=8, max_rounds=12)
    for k in (3, 4, 5):
        want = {
            (r["a"], r["b"])
            for r in G.ktruss(df, k=k, max_rounds=12).collect()
        }
        got = {
            (r["a"], r["b"])
            for r in dec.filter(dec["trussness"] >= k).collect()
        }
        assert got == want, k


def test_trussness_cap_is_explicit(spark):
    """Edges whose true trussness exceeds max_k report exactly max_k
    (K5's edges are 5-truss; cap at 4)."""
    edges = [(a, b) for a in range(5) for b in range(5) if a < b]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["trussness"] for r in G.trussness(df, max_k=4).collect()}
    assert got == {4}
    got5 = {r["trussness"] for r in G.trussness(df, max_k=6).collect()}
    assert got5 == {5}


def test_trussness_validation(spark):
    df = spark.createDataFrame([(1, 2)], "src int, dst int")
    with pytest.raises(ValueError, match="max_k"):
        G.trussness(df, max_k=2)


# ---------------------------------------------------------------------
# louvain_multilevel (r09, VERDICT r08 #3)
# ---------------------------------------------------------------------


def _q_key_of(df, labels):
    r = G.modularity(df, labels).first()
    return 4 * r["n_edges"] * r["internal_edges"] - r["sum_deg_sq"]


def test_louvain_multilevel_two_cliques_from_singletons(spark):
    """From SINGLETON seeds on two triangles joined by an edge, the
    guarded move pass alone is swap-stuck (Q-neutral oscillation); the
    swap-guarded refine levels then find the optimal 2-community
    partition (exact key 4mI - S = 4*7*6 - 98 = 70)."""
    g = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        "src long, dst long",
    )
    lab0 = spark.createDataFrame([(i, i) for i in range(1, 7)], "node long, label long")
    ml = G.louvain_multilevel(g, lab0, levels=2)
    assert _q_key_of(g, ml) == 70
    got = {r["node"]: r["label"] for r in ml.collect()}
    assert len({got[i] for i in (1, 2, 3)}) == 1
    assert len({got[i] for i in (4, 5, 6)}) == 1
    assert got[1] != got[4]


@pytest.mark.parametrize("seed", [51, 52, 53])
def test_louvain_multilevel_q_monotone(spark, seed):
    """Q(multilevel) >= Q(one-pass move) and >= Q(input), by
    construction of the guards — on random graphs and random coarse
    seeds."""
    import random

    rng = random.Random(seed)
    edges = list({(rng.randrange(14), rng.randrange(14)) for _ in range(45)})
    edges = [e for e in edges if e[0] != e[1]]
    df = G.canonicalize(spark.createDataFrame(edges, "src int, dst int"))
    nodes = sorted({n for e in edges for n in e})
    lab = spark.createDataFrame(
        [(n, rng.randrange(4)) for n in nodes], "node int, label int"
    )
    ml = G.louvain_multilevel(df, lab, levels=2).localCheckpoint()
    mv = G.louvain_move(df, lab)
    assert _q_key_of(df, ml) >= _q_key_of(df, mv)
    assert _q_key_of(df, ml) >= _q_key_of(df, lab)


def test_louvain_multilevel_deterministic(spark):
    import random

    rng = random.Random(99)
    edges = list({(rng.randrange(12), rng.randrange(12)) for _ in range(35)})
    edges = [e for e in edges if e[0] != e[1]]
    df = G.canonicalize(spark.createDataFrame(edges, "src int, dst int"))
    nodes = sorted({n for e in edges for n in e})
    lab = spark.createDataFrame([(n, n) for n in nodes], "node int, label int")
    a = sorted(tuple(r) for r in G.louvain_multilevel(df, lab, levels=2).collect())
    b = sorted(tuple(r) for r in G.louvain_multilevel(df, lab, levels=2).collect())
    assert a == b


# ---------------------------------------------------------------------
# containment_incremental (r09, VERDICT r08 #4)
# ---------------------------------------------------------------------


def _brute_containment_sequential(batches, num, den, n=1):
    """Sequential incremental containment semantics: a NEW doc a is
    flagged iff den*|S_a ∩ S_b| >= num*|S_a| for some b in the accrued
    SURVIVOR index or an earlier (smaller-id) doc of its own batch
    (flagged or not — flagging sees the whole arriving batch);
    survivors append. Returns {id: (n_containers, contained_in)}."""
    flagged_all, index = {}, []
    for batch in batches:
        flags = {}
        for i, s in batch:
            S = _sh_words(s, n)
            if not S:
                continue
            ps = [j for j, T in index if den * len(S & T) >= num * len(S)]
            ps += [
                j
                for j, t in batch
                if j < i
                and _sh_words(t, n)
                and den * len(S & _sh_words(t, n)) >= num * len(S)
            ]
            if ps:
                flags[i] = (len(ps), min(ps))
        flagged_all.update(flags)
        index += [
            (j, _sh_words(t, n)) for j, t in batch if j not in flags and _sh_words(t, n)
        ]
    return flagged_all


def test_containment_incremental_matches_sequential_reference(spark):
    """Directed containment dedup-on-arrival must equal the
    brute-force sequential semantics — including a short doc arriving
    AFTER the long doc that quotes it (flagged: the direction is
    contained-in, not jaccard), a long doc arriving after its quote
    (NOT flagged), and unseen-token batches."""
    from openetl_spark.operators import dedup as DD

    rng = np.random.default_rng(33)
    vocab = [f"w{i}" for i in range(25)]
    rows = []
    for i in range(80):
        if rows and rng.random() < 0.35:
            w = rows[int(rng.integers(0, len(rows)))][1].split()
            # subset quotation: drop a suffix
            if len(w) > 2:
                w = w[: int(rng.integers(2, len(w)))]
            rows.append((i, " ".join(w)))
        else:
            m = int(rng.integers(1, 12))
            rows.append((i, " ".join(rng.choice(vocab, size=m))))
    rows.append((80, "zq1 zq2 zq3 zq4 zq5 zq6"))  # unseen-token container
    rows.append((81, "zq1 zq2 zq3 zq4"))          # quoted subset, unseen
    batches = [rows[:30], rows[30:60], rows[60:]]
    num, den = 4, 5

    want = _brute_containment_sequential(batches, num, den)

    dict_df = DD.ppjoin_dictionary(
        spark.createDataFrame(batches[0], "id int, s string"), "s"
    ).localCheckpoint()
    index, got = None, {}
    empty = spark.createDataFrame(
        [], "id int, l long, arr array<string>, pre array<struct<tok:string, rn:int>>"
    )
    for batch in batches:
        bdf = spark.createDataFrame(batch, "id int, s string")
        fl = DD.containment_incremental(
            bdf, index if index is not None else empty, dict_df, "id", "s", num, den
        )
        frows = {
            r["id"]: (r["n_containers"], r["contained_in"]) for r in fl.collect()
        }
        got.update(frows)
        surv = bdf.filter(~bdf.id.isin(list(frows))) if frows else bdf
        prep = DD.prepare_ppjoin_index(surv, "id", "s", dict_df, num, den)
        index = prep if index is None else index.unionByName(prep)
        index = index.localCheckpoint()
    assert got == want and len(want) > 0


def test_containment_incremental_direction_and_firstarrival(spark):
    """Hand case: the long doc arrives first; its exact quote arrives
    later and is flagged (containment 1.0); a longer SUPERSET of an
    index doc is NOT flagged (it contains, it is not contained)."""
    from openetl_spark.operators import dedup as DD

    b0 = [(1, "a b c d e f g h"), (2, "x y z")]
    b1 = [(3, "a b c d"),          # quote of 1 -> flagged
          (4, "x y z p q r s t u v w a2 b2 c2")]  # superset of 2 -> not flagged
    dict_df = DD.ppjoin_dictionary(
        spark.createDataFrame(b0, "id int, s string"), "s"
    )
    prep0 = DD.prepare_ppjoin_index(
        spark.createDataFrame(b0, "id int, s string"), "id", "s", dict_df, 4, 5
    )
    fl = DD.containment_incremental(
        spark.createDataFrame(b1, "id int, s string"), prep0, dict_df,
        "id", "s", 4, 5,
    )
    got = {r["id"]: (r["n_containers"], r["contained_in"], r["containment"])
           for r in fl.collect()}
    assert got == {3: (1, 1, 1.0)}


def test_containment_incremental_rejects_bad_params(spark):
    from openetl_spark.operators import dedup as DD

    df = spark.createDataFrame([(1, "a b")], "id int, s string")
    with pytest.raises(ValueError, match="tau"):
        DD.containment_incremental(df, df, df, "id", "s", 0, 5)


def test_ppjoin_containment_candidate_stats(spark):
    """r09 (VERDICT r08 #7): the stats hook reports the verified
    candidate count — n_candidates >= final pairs always (filters are
    lossless), and equality is the measured suffix-filter decision's
    premise (SCALE.md)."""
    from openetl_spark.operators import dedup as DD

    rows = [
        (1, "a b c d e"), (2, "a b c d f"), (3, "a b c d e"),
        (4, "x y z"), (5, "p q r s t u v w"), (6, "a b c"),
    ]
    df = spark.createDataFrame(rows, "id int, s string")
    st = {}
    out = DD.ppjoin(df, "id", "s", 3, 5, stats=st).collect()
    assert st["n_candidates"] >= len(out) > 0
    st2 = {}
    out2 = DD.containment_join(df, "id", "s", 4, 5, stats=st2).collect()
    assert st2["n_candidates"] >= len(out2) > 0


# ---------------------------------------------------------------------
# random_walks (r09)
# ---------------------------------------------------------------------


def test_random_walks_structure_and_determinism(spark):
    """Walks stay on edges, every live walker advances one node per
    step, and the whole corpus is a pure function of (graph, starts,
    seed)."""
    edges = G.canonicalize(spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (2, 4)], "src long, dst long"
    ))
    starts = spark.createDataFrame([(1,), (3,)], "n long")
    w1 = sorted(tuple(r) for r in G.random_walks(edges, starts, 5, seed=7).collect())
    w2 = sorted(tuple(r) for r in G.random_walks(edges, starts, 5, seed=7).collect())
    assert w1 == w2
    adj = {1: {2, 4}, 2: {1, 3, 4}, 3: {2, 4}, 4: {1, 2, 3}}
    byw = {}
    for walker, step, node in w1:
        byw.setdefault(walker, {})[step] = node
    for walker, path in byw.items():
        assert path[0] == walker
        assert sorted(path) == list(range(6))  # all 5 steps present
        for t in range(1, 6):
            assert path[t] in adj[path[t - 1]], (walker, t, path)
    # a different seed gives a different corpus (overwhelmingly)
    w3 = sorted(tuple(r) for r in G.random_walks(edges, starts, 5, seed=8).collect())
    assert w3 != w1


def test_random_walks_isolated_start_emits_step0_only(spark):
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    starts = spark.createDataFrame([(1,), (99,)], "n long")
    rows = sorted(tuple(r) for r in G.random_walks(edges, starts, 3).collect())
    w99 = [r for r in rows if r[0] == 99]
    assert w99 == [(99, 0, 99)]
    assert len([r for r in rows if r[0] == 1]) == 4


def test_random_walks_step_choice_uniform_over_seeds(spark):
    """In distribution over seeds, the first step from a degree-3 node
    is uniform across its neighbors (3-sigma binomial band over 60
    seeds)."""
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src long, dst long"
    )
    starts = spark.createDataFrame([(0,)], "n long")
    picks = []
    for seed in range(60):
        rows = {r["step"]: r["node"] for r in G.random_walks(edges, starts, 1, seed=seed).collect()}
        picks.append(rows[1])
    from collections import Counter

    c = Counter(picks)
    # n=60, p=1/3: mean 20, sigma ~3.65; 3-sigma band [9, 31]
    assert all(9 <= c[v] <= 31 for v in (1, 2, 3)), c


def test_random_walks_validation(spark):
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    starts = spark.createDataFrame([(1,)], "n long")
    with pytest.raises(ValueError, match="length"):
        G.random_walks(edges, starts, 0)


# ----------------------------------------- landmark hops / harmonic

def _edges_df(spark, pairs):
    """Canonical edges (the graph operators' input contract) from any
    pair list — reversed, repeated or self-loop pairs included."""
    return G.canonicalize(spark.createDataFrame(pairs, "src long, dst long"))


def test_landmark_hops_path_graph_hand_case(spark):
    # 0-1-2-3-4 path; landmarks {0, 4}: per-source distances are the
    # path offsets, NOT min-merged (the bfs_hops contrast).
    e = _edges_df(spark, [(i, i + 1) for i in range(4)])
    lm = spark.createDataFrame([(0,), (4,)], "node long")
    got = {
        (r["source"], r["node"]): r["hop"]
        for r in G.landmark_hops(e, lm, max_hops=6).collect()
    }
    assert got == {
        **{(0, v): v for v in range(5)},
        **{(4, v): 4 - v for v in range(5)},
    }


def test_landmark_hops_single_source_equals_bfs_hops(spark, seed=3):
    rng = np.random.default_rng(3)
    pairs = {(int(a), int(b)) for a, b in rng.integers(0, 20, (40, 2)) if a != b}
    e = _edges_df(spark, sorted(pairs))
    lm = spark.createDataFrame([(0,)], "node long")
    multi = {
        (r["node"], r["hop"])
        for r in G.landmark_hops(e, lm, max_hops=8).collect()
    }
    single = {
        (r["node"], r["hop"])
        for r in G.bfs_hops(e, lm, max_hops=8).collect()
    }
    assert multi == single


def test_harmonic_centrality_path_hand_case(spark):
    # Path 0-1-2; landmarks {0, 2}. Node 1 is at distance 1 from both
    # landmarks: h60 = 60 + 60 = 120. Each endpoint sees only the
    # OTHER landmark (its own 0-distance row is excluded by the
    # definition) at distance 2: h60 = 60/2 = 30, n_reached = 1.
    e = _edges_df(spark, [(0, 1), (1, 2)])
    lm = spark.createDataFrame([(0,), (2,)], "node long")
    got = {
        r["node"]: (r["h60"], r["n_reached"])
        for r in G.harmonic_centrality(e, lm, max_hops=6).collect()
    }
    assert got == {0: (30, 1), 1: (120, 2), 2: (30, 1)}


def test_harmonic_centrality_disconnected_is_welldefined(spark):
    # Two components: unreachable pairs contribute 0 — nodes of the
    # second component never appear for landmarks of the first.
    e = _edges_df(spark, [(0, 1), (10, 11)])
    lm = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["h60"] for r in G.harmonic_centrality(e, lm).collect()}
    assert got == {1: 60}


def test_harmonic_centrality_rejects_max_hops_over_six(spark):
    e = _edges_df(spark, [(0, 1)])
    lm = spark.createDataFrame([(0,)], "node long")
    with pytest.raises(ValueError, match="lcm"):
        G.harmonic_centrality(e, lm, max_hops=7)


# ------------------------------------------------- walk skip-grams

def test_walk_skipgram_pairs_hand_case(spark):
    # One walk 0->1->2->3, window 2: pair (u, v) counted once per
    # position pair within distance 2, both directions.
    walks = spark.createDataFrame(
        [(7, s, n) for s, n in enumerate([0, 1, 2, 3])],
        "walker long, step int, node long",
    )
    got = {
        (r["u"], r["v"]): r["n"]
        for r in G.walk_skipgram_pairs(walks, window=2).collect()
    }
    want = {}
    seq = [0, 1, 2, 3]
    for i, u in enumerate(seq):
        for j, v in enumerate(seq):
            if i != j and abs(i - j) <= 2:
                want[(u, v)] = want.get((u, v), 0) + 1
    assert got == want


def test_walk_skipgram_pairs_revisits_accumulate(spark):
    # A walk that revisits a node accumulates counts — and pairs do
    # NOT leak across walkers.
    walks = spark.createDataFrame(
        [(1, 0, 5), (1, 1, 6), (1, 2, 5), (2, 0, 6), (2, 1, 9)],
        "walker long, step int, node long",
    )
    got = {
        (r["u"], r["v"]): r["n"]
        for r in G.walk_skipgram_pairs(walks, window=1).collect()
    }
    assert got == {(5, 6): 2, (6, 5): 2, (6, 9): 1, (9, 6): 1}


def test_walk_skipgram_pairs_validation(spark):
    walks = spark.createDataFrame([(1, 0, 5)], "walker long, step int, node long")
    with pytest.raises(ValueError, match="window"):
        G.walk_skipgram_pairs(walks, window=0)


# ---------------------------------- local clustering / link features

def test_local_clustering_hand_case(spark):
    # Triangle 0-1-2 plus pendant 3 attached to 2: lcc(0)=lcc(1)=1,
    # lcc(2)=1/3 (one adjacent pair of its three neighbor pairs),
    # lcc(3)=0 by the degree-1 convention.
    e = _edges_df(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
    got = {
        r["node"]: (r["d"], r["tri"], r["lcc"])
        for r in G.local_clustering(e).collect()
    }
    assert got == {
        0: (2, 1, 1.0),
        1: (2, 1, 1.0),
        2: (3, 1, 2.0 * 1 / (3 * 2)),
        3: (1, 0, 0.0),
    }


def test_local_clustering_matches_naive(spark):
    rng = np.random.default_rng(11)
    pairs = sorted(
        {(int(a), int(b)) for a, b in rng.integers(0, 25, (80, 2)) if a != b}
    )
    adj = {}
    for a, b in pairs:
        x, y = min(a, b), max(a, b)
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    want = {}
    for v, nb in adj.items():
        nbl = sorted(nb)
        tri = sum(
            1
            for i in range(len(nbl))
            for j in range(i + 1, len(nbl))
            if nbl[j] in adj[nbl[i]]
        )
        d = len(nb)
        want[v] = (d, tri, (2.0 * tri / (d * (d - 1))) if d >= 2 else 0.0)
    got = {
        r["node"]: (r["d"], r["tri"], r["lcc"])
        for r in G.local_clustering(_edges_df(spark, pairs)).collect()
    }
    assert got == want


def test_link_prediction_features_hand_case(spark):
    # Path 0-1-2: the only distance-2 non-edge is (0,2), one common
    # neighbor, degrees 1 and 1.
    e = _edges_df(spark, [(0, 1), (1, 2)])
    rows = G.link_prediction_features(e).collect()
    assert [(r["a"], r["b"], r["cn"], r["pa"], r["jden"]) for r in rows] == [
        (0, 2, 1, 1, 1)
    ]


def test_link_prediction_excludes_existing_edges(spark):
    # Triangle: every pair adjacent -> no candidates at all.
    e = _edges_df(spark, [(0, 1), (1, 2), (0, 2)])
    assert G.link_prediction_features(e).count() == 0


# -------------------------------------------------- node2vec walks

def test_node2vec_second_order_bias_over_seeds(spark):
    # 80 DISJOINT copies of the gadget 9-1, 9-2, 1-2, 1-3, 1-0 (node
    # + 100i) walked in ONE job per seed — per-step draws hash the
    # walker id, so gadgets are independent samples. Conditioned on
    # step1 = 1 (from start 9), step-2 candidates classify as:
    # 9 return (w=1), 2 adjacent-to-prev (w=2), {3, 0} distance-2
    # (w=1 each) — P = (1/5, 2/5, 1/5, 1/5); each within 3 binomial
    # sigmas over the conditioned samples.
    gadget = [(9, 1), (9, 2), (1, 2), (1, 3), (1, 0)]
    pairs = [(a + 100 * i, b + 100 * i) for i in range(80) for a, b in gadget]
    e = _edges_df(spark, pairs)
    starts = spark.createDataFrame(
        [(9 + 100 * i,) for i in range(80)], "node long"
    )
    from collections import Counter

    hits = Counter()
    n_cond = 0
    for seed in (7, 13):
        walks = {}
        for r in G.node2vec_walks(e, starts, length=2, seed=seed).collect():
            walks.setdefault(r["walker"], {})[r["step"]] = r["node"]
        for w, path in walks.items():
            base = w - 9
            if path[1] != base + 1:
                continue
            n_cond += 1
            hits[path[2] - base] += 1
    assert n_cond > 40
    exp = {9: 0.2, 2: 0.4, 3: 0.2, 0: 0.2}
    for v, p in exp.items():
        mu, sd = n_cond * p, (n_cond * p * (1 - p)) ** 0.5
        assert abs(hits[v] - mu) <= 3 * sd, (v, hits[v], mu, sd, n_cond)


def test_node2vec_deterministic_and_on_edges(spark):
    rng = np.random.default_rng(41)
    pairs = sorted({(int(a), int(b)) for a, b in rng.integers(0, 15, (40, 2)) if a != b})
    e = _edges_df(spark, pairs)
    starts = spark.createDataFrame([(0,), (3,)], "node long")
    a = sorted(map(tuple, G.node2vec_walks(e, starts, length=3, seed=7).collect()))
    b = sorted(map(tuple, G.node2vec_walks(e, starts, length=3, seed=7).collect()))
    assert a == b
    adj = set()
    for x, y in pairs:
        adj.add((min(x, y), max(x, y)))
    by_walker = {}
    for w, s, n in a:
        by_walker.setdefault(w, {})[s] = n
    for w, path in by_walker.items():
        for s in range(1, max(path) + 1):
            u, v = path[s - 1], path[s]
            assert (min(u, v), max(u, v)) in adj


def test_node2vec_layout_missing_meta_forces_rebuild(spark):
    """A walks artifact WITHOUT its meta file is stale by definition
    (a crash in the rename→meta-write window may have left an
    artifact built under OLD params): the layout getter must rebuild
    rather than adopt it and stamp fresh meta over it (ADVICE r10)."""
    import os

    from openetl_spark.queries.analytics_r09 import _node2vec_layout

    sf = "/root/testdata/sf0.001"
    walks = _node2vec_layout(spark, sf)
    meta = os.path.join(os.path.dirname(walks), "n2v_meta.json")
    assert os.path.exists(meta)
    # Simulate the crash window: artifact present, meta gone, plus a
    # sentinel standing in for stale old-params content.
    os.remove(meta)
    sentinel = os.path.join(walks, "_stale_sentinel")
    open(sentinel, "w").write("old params")
    walks2 = _node2vec_layout(spark, sf)
    assert walks2 == walks
    assert os.path.exists(meta)
    assert not os.path.exists(sentinel)  # rebuilt, not adopted


def test_node2vec_validation(spark):
    e = _edges_df(spark, [(0, 1)])
    starts = spark.createDataFrame([(0,)], "node long")
    with pytest.raises(ValueError, match="length"):
        G.node2vec_walks(e, starts, length=0)
    with pytest.raises(ValueError, match="weights"):
        G.node2vec_walks(e, starts, w_return=0)


# --------------------------------------------- link prediction eval

def _lp_eval_py(pairs, mod, ks):
    import hashlib

    def h(a, b):
        return int(hashlib.md5(f"{a}:{b}".encode()).hexdigest()[:15], 16)

    canon = sorted({(min(a, b), max(a, b)) for a, b in pairs if a != b})
    test = [(a, b) for a, b in canon if h(a, b) % mod == 0]
    train = [(a, b) for a, b in canon if h(a, b) % mod != 0]
    adj = {}
    for a, b in train:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tset = {(a, b) for a, b in train}
    cand = {}
    for u, nb in adj.items():
        nbl = sorted(nb)
        for i in range(len(nbl)):
            for j in range(i + 1, len(nbl)):
                p = (nbl[i], nbl[j])
                if p not in tset:
                    cand[p] = cand.get(p, 0) + 1
    ranked = {}
    for (a, b), cn in cand.items():
        jden = len(adj[a]) + len(adj[b]) - cn
        for node, v in ((a, b), (b, a)):
            ranked.setdefault(node, []).append((-cn / jden, -cn, v))
    ranks = {}
    for node, lst in ranked.items():
        for r, (_, _, v) in enumerate(sorted(lst), start=1):
            ranks[(node, v)] = r
    out = {}
    for k in ks:
        n_reach = hits = 0
        for a, b in test:
            best = min(
                (r for r in (ranks.get((a, b)), ranks.get((b, a))) if r),
                default=None,
            )
            if best is not None:
                n_reach += 1
                if best <= k:
                    hits += 1
        out[k] = (len(test), n_reach, hits)
    return out


def test_link_prediction_eval_matches_python(spark):
    rng = np.random.default_rng(53)
    pairs = sorted({(int(a), int(b)) for a, b in rng.integers(0, 30, (140, 2)) if a != b})
    got = {
        r["k"]: (r["n_test"], r["n_reachable"], r["hits"])
        for r in G.link_prediction_eval(
            _edges_df(spark, pairs), holdout_mod=4, ks=(1, 3, 8)
        ).collect()
    }
    assert got == _lp_eval_py(pairs, 4, (1, 3, 8))


def test_link_prediction_eval_invariants(spark):
    rng = np.random.default_rng(59)
    pairs = sorted({(int(a), int(b)) for a, b in rng.integers(0, 25, (90, 2)) if a != b})
    rows = sorted(
        map(tuple, G.link_prediction_eval(_edges_df(spark, pairs)).collect())
    )
    assert [r[0] for r in rows] == [1, 5, 10]
    n_test = rows[0][1]
    hits_by_k = []
    for k, nt, nr, h in rows:
        assert nt == n_test and h <= nr <= nt
        hits_by_k.append(h)
    assert hits_by_k == sorted(hits_by_k)  # hits monotone in k


def test_link_prediction_eval_validation(spark):
    e = _edges_df(spark, [(0, 1)])
    with pytest.raises(ValueError, match="holdout_mod"):
        G.link_prediction_eval(e, holdout_mod=1)


# ------------------------------------------------- core decomposition


def _py_core_numbers(edges, max_k):
    """Brute-force fixpoint core decomposition: for k = 2..max_k, peel
    nodes with < k survivors-degree to fixpoint; peeled nodes get core
    k-1, survivors at max_k get max_k (the trussness cap contract)."""
    from collections import defaultdict

    cur_edges = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = {v for e in cur_edges for v in e}
    core = {}
    members = set(nodes)
    for k in range(2, max_k + 1):
        while True:
            deg = defaultdict(int)
            for a, b in cur_edges:
                if a in members and b in members:
                    deg[a] += 1
                    deg[b] += 1
            rm = {v for v in members if deg[v] < k}
            if not rm:
                break
            for v in rm:
                core[v] = k - 1
            members -= rm
        cur_edges = {
            (a, b) for a, b in cur_edges if a in members and b in members
        }
        if not members:
            break
    for v in members:
        core[v] = max_k
    return core


def test_core_numbers_k4_plus_path(spark):
    """K4 nodes are 3-core (core >= 3); a pendant path 4-5-6 peels to
    core 1."""
    df = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        "src long, dst long",
    )
    got = {r["node"]: r["core"] for r in G.core_numbers(df, max_k=5).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 1, 6: 1}


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_core_numbers_matches_bruteforce(spark, seed):
    import random

    rng = random.Random(seed)
    edges = list({(rng.randrange(14), rng.randrange(14)) for _ in range(45)})
    edges = [e for e in edges if e[0] != e[1]]
    df = G.canonicalize(spark.createDataFrame(edges, "src int, dst int"))
    want = _py_core_numbers(edges, max_k=8)
    got = {
        r["node"]: r["core"]
        for r in G.core_numbers(df, max_k=8, max_rounds=14).collect()
    }
    assert got == want


def test_core_numbers_consistent_with_kcore(spark):
    """{v : core(v) >= k} is exactly the k-core node set."""
    import random

    rng = random.Random(5)
    edges = list({(rng.randrange(10), rng.randrange(10)) for _ in range(30)})
    edges = [e for e in edges if e[0] != e[1]]
    df = G.canonicalize(spark.createDataFrame(edges, "src int, dst int"))
    dec = G.core_numbers(df, max_k=7, max_rounds=14)
    for k in (2, 3, 4):
        want = {
            r["node"] for r in G.kcore(df, k=k, max_rounds=14).collect()
        }
        got = {
            r["node"] for r in dec.filter(dec["core"] >= k).collect()
        }
        assert got == want, k


def test_core_numbers_cap_and_validation(spark):
    # K5: every node is 4-core; cap at 3 reports 3 for all.
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r["core"] for r in G.core_numbers(df, max_k=3).collect()}
    assert got == {v: 3 for v in range(5)}
    with pytest.raises(ValueError, match="max_k"):
        G.core_numbers(df, max_k=1)


# ------------------------------------------------- bipartite metrics


def _py_bipartite(inc):
    """Brute-force butterfly/caterpillar census of a bipartite
    incidence set {(l, r)}."""
    from collections import defaultdict
    from itertools import combinations

    inc = set(inc)
    nl = defaultdict(set)
    nr = defaultdict(set)
    for l, r in inc:
        nl[l].add(r)
        nr[r].add(l)
    bf = 0
    for x, y in combinations(sorted(nr), 2):
        w = len(nr[x] & nr[y])
        bf += w * (w - 1) // 2
    cat = sum(
        (len(nl[l]) - 1) * (len(nr[r]) - 1) for l, r in inc
    )
    wl = sum(d * (d - 1) // 2 for d in (len(s) for s in nl.values()))
    wr = sum(d * (d - 1) // 2 for d in (len(s) for s in nr.values()))
    return {
        "n_left": len(nl), "n_right": len(nr), "n_edges": len(inc),
        "wedges_left": wl, "wedges_right": wr,
        "butterflies": bf, "caterpillars": cat,
    }


def test_bipartite_stats_hand_case(spark):
    """The 2x2 biclique is ONE butterfly; its caterpillar count is 4
    (each edge contributes (2-1)*(2-1)); cc = 4*1/4 = 1.0."""
    df = spark.createDataFrame(
        [(10, 1), (10, 2), (20, 1), (20, 2)], "o long, p long"
    )
    r = G.bipartite_stats(df, "o", "p").collect()[0]
    assert (r["butterflies"], r["caterpillars"]) == (1, 4)
    assert r["bipartite_clustering"] == 1.0
    assert (r["n_left"], r["n_right"], r["n_edges"]) == (2, 2, 4)


@pytest.mark.parametrize("seed", [3, 4])
def test_bipartite_stats_matches_bruteforce(spark, seed):
    import random

    import pyspark.sql.functions as F

    rng = random.Random(seed)
    inc = list({(rng.randrange(8), 100 + rng.randrange(10)) for _ in range(40)})
    df = spark.createDataFrame(inc, "o int, p int")
    want = _py_bipartite(inc)
    r = G.bipartite_stats(df, "o", "p").collect()[0]
    for k, v in want.items():
        assert r[k] == v, k
    # codeg precomputed externally gives the identical census
    a, b = df.alias("a"), df.alias("b")
    codeg = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("x"), F.col("b.p").alias("y"))
        .count()
        .withColumnRenamed("count", "w")
    )
    r2 = G.bipartite_stats(df, "o", "p", codeg=codeg).collect()[0]
    assert r2 == r


def test_vertex_butterflies_matches_bruteforce(spark):
    import random
    from collections import defaultdict
    from itertools import combinations

    import pyspark.sql.functions as F

    rng = random.Random(9)
    inc = list({(rng.randrange(6), 100 + rng.randrange(8)) for _ in range(30)})
    nr = defaultdict(set)
    for l, r in inc:
        nr[r].add(l)
    want = defaultdict(int)
    for x, y in combinations(sorted(nr), 2):
        w = len(nr[x] & nr[y])
        if w >= 2:
            want[x] += w * (w - 1) // 2
            want[y] += w * (w - 1) // 2
    df = spark.createDataFrame(inc, "o int, p int")
    a, b = df.alias("a"), df.alias("b")
    codeg = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("x"), F.col("b.p").alias("y"))
        .count()
        .withColumnRenamed("count", "w")
    )
    got = {
        r["node"]: r["butterflies"]
        for r in G.vertex_butterflies(codeg).collect()
    }
    assert got == dict(want)


# ------------------------------------------------- path counts (sigma)


def _py_path_counts(edges, sources, max_hops):
    """Reference BFS with shortest-path counting (Brandes' forward
    sweep), per source."""
    from collections import defaultdict, deque

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    out = {}
    for s in sources:
        dist = {s: 0}
        sigma = defaultdict(int)
        sigma[s] = 1
        q = deque([s])
        while q:
            u = q.popleft()
            if dist[u] >= max_hops:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
                if dist[v] == dist[u] + 1:
                    sigma[v] += sigma[u]
        for v, d in dist.items():
            out[(s, v)] = (d, sigma[v])
    return out


def test_landmark_path_counts_diamond(spark):
    """1-2-4 and 1-3-4: node 4 has two shortest paths from 1."""
    df = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    lm = spark.createDataFrame([(1,)], "node long")
    got = {
        (r["source"], r["node"]): (r["hop"], r["sigma"])
        for r in G.landmark_path_counts(df, lm, max_hops=4).collect()
    }
    assert got == {
        (1, 1): (0, 1), (1, 2): (1, 1), (1, 3): (1, 1), (1, 4): (2, 2),
    }


@pytest.mark.parametrize("seed", [21, 22])
def test_landmark_path_counts_matches_bruteforce(spark, seed):
    import random

    rng = random.Random(seed)
    edges = list({(rng.randrange(12), rng.randrange(12)) for _ in range(30)})
    edges = [e for e in edges if e[0] != e[1]]
    sources = sorted({e[0] for e in edges})[:3]
    df = G.canonicalize(spark.createDataFrame(edges, "src int, dst int"))
    lm = spark.createDataFrame([(s,) for s in sources], "node int")
    want = _py_path_counts(edges, sources, max_hops=5)
    got = {
        (r["source"], r["node"]): (r["hop"], r["sigma"])
        for r in G.landmark_path_counts(df, lm, max_hops=5).collect()
    }
    assert got == want


def test_landmark_stress_matches_bruteforce(spark):
    """Exact landmark-pair stress: v's stress = sum over landmark
    pairs (s, t) with d(s,v)+d(v,t) = d(s,t) of sigma_s(v)*sigma_t(v),
    interior nodes only."""
    import random
    from itertools import combinations

    rng = random.Random(33)
    edges = list({(rng.randrange(12), rng.randrange(12)) for _ in range(34)})
    edges = [e for e in edges if e[0] != e[1]]
    sources = sorted({v for e in edges for v in e})[:4]
    want = {}
    pc = _py_path_counts(edges, sources, max_hops=6)
    for s, t in combinations(sources, 2):
        if (s, t) not in pc:
            continue
        d_st = pc[(s, t)][0]
        for v in {v for e in edges for v in e}:
            if v in (s, t) or (s, v) not in pc or (t, v) not in pc:
                continue
            ds, ss = pc[(s, v)]
            dt, st_ = pc[(t, v)]
            if ds + dt == d_st:
                want[v] = want.get(v, 0) + ss * st_
    df = G.canonicalize(spark.createDataFrame(edges, "src int, dst int"))
    lm = spark.createDataFrame([(s,) for s in sources], "node int")
    pcs = G.landmark_path_counts(df, lm, max_hops=6)
    import pyspark.sql.functions as F

    lm_nodes = lm.select(F.col("node").alias("target"))
    dlm = (
        pcs.join(F.broadcast(lm_nodes), pcs["node"] == lm_nodes["target"])
        .filter(F.col("source") < F.col("target"))
        .select("source", "target", F.col("hop").alias("_dst"))
    )
    a = pcs.select(F.col("source").alias("_s"), "node",
                   F.col("hop").alias("_ha"), F.col("sigma").alias("_sa"))
    b = pcs.select(F.col("source").alias("_t"), "node",
                   F.col("hop").alias("_hb"), F.col("sigma").alias("_sb"))
    got = {
        r["node"]: r["stress"]
        for r in (
            a.join(b, "node")
            .filter(F.col("_s") < F.col("_t"))
            .join(
                F.broadcast(
                    dlm.select(F.col("source").alias("_s"),
                               F.col("target").alias("_t"), "_dst")
                ),
                ["_s", "_t"],
            )
            .filter(
                (F.col("_ha") + F.col("_hb") == F.col("_dst"))
                & (F.col("node") != F.col("_s"))
                & (F.col("node") != F.col("_t"))
            )
            .groupBy("node")
            .agg(F.sum(F.col("_sa") * F.col("_sb")).alias("stress"))
        ).collect()
    }
    assert got == want


def test_streaming_butterfly_census_cells_merge_equals_batch(spark, tmp_path):
    """Streamed butterfly census: when incidence arrives ORDER-COMPLETE
    (an order's rows land in one batch — the natural ingest unit), the
    per-batch codegree relations are plain SUM cells (codeg(u,v) counts
    shared orders, and order sets are batch-disjoint), so the census is
    a mergeable-cell-log twin: per-batch pair-count cells APPEND, the
    read-side sum-merge equals the one-shot batch codegrees, and the
    census computed from the merged log equals the batch census — the
    HLL/AMS cell-log discipline on the bipartite side."""
    import os

    import pyspark.sql.functions as F

    import random

    rng = random.Random(77)
    inc = list({(rng.randrange(40), 100 + rng.randrange(15)) for _ in range(160)})
    src = str(tmp_path / "inc_src")
    df = spark.createDataFrame(inc, "o int, p int")
    # Order-complete files: partition BY the order key before writing,
    # so maxFilesPerTrigger=1 batches never split an order.
    df.repartition(4, "o").write.parquet(src)
    log_path = str(tmp_path / "codeg_log")
    os.makedirs(log_path)

    def apply_batch(bdf, batch_id):
        if bdf.isEmpty():
            return
        a, b = bdf.alias("a"), bdf.alias("b")
        (
            a.join(
                b,
                (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")),
            )
            .groupBy(F.col("a.p").alias("x"), F.col("b.p").alias("y"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
            .write.mode("append")
            .parquet(log_path)
        )

    q = (
        spark.readStream.schema("o int, p int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt_codeg"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    merged = (
        spark.read.parquet(log_path)
        .groupBy("x", "y")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    batch_df = spark.read.parquet(src)
    a, b = batch_df.alias("a"), batch_df.alias("b")
    batch_codeg = (
        a.join(
            b,
            (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")),
        )
        .groupBy(F.col("a.p").alias("x"), F.col("b.p").alias("y"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    got = {(r["x"], r["y"]): r["w"] for r in merged.collect()}
    want = {(r["x"], r["y"]): r["w"] for r in batch_codeg.collect()}
    assert got == want and len(want) > 0
    # The census read from the merged log equals the batch census.
    r1 = G.bipartite_stats(batch_df, "o", "p", codeg=merged).collect()[0]
    r2 = G.bipartite_stats(batch_df, "o", "p").collect()[0]
    assert r1 == r2


def test_core_numbers_bounded_rounds_equal_unrolled_reference(spark):
    """The non-convergence contract (review r10): a level's membership
    must be EXACTLY the raw last-round filter output — on a long path
    with an undersized round budget, the operator must match the
    bounded level-synchronous unrolling, sub-k survivors included."""
    from collections import defaultdict

    path = [(i, i + 1) for i in range(14)]

    def bounded_ref(edges, max_k, rounds):
        sym = defaultdict(set)
        for a, b in edges:
            sym[a].add(b)
            sym[b].add(a)
        members = set(sym)
        core = {}
        for k in range(2, max_k + 1):
            prev = set(members)
            for _ in range(rounds):
                deg = {
                    v: len([u for u in sym[v] if u in members])
                    for v in members
                }
                nxt = {v for v in members if deg[v] >= k}
                if nxt == members:
                    break
                members = nxt
            for v in prev - members:
                core[v] = k - 1
        for v in members:
            core[v] = max_k
        return core

    df = spark.createDataFrame(path, "src int, dst int")
    # rounds=2 is far below the ~7 rounds the k=2 peel chain needs.
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        got = {
            r["node"]: r["core"]
            for r in G.core_numbers(df, max_k=3, max_rounds=2).collect()
        }
    assert got == bounded_ref(path, 3, 2)


# -------------------------------------- landmark pair dependencies

def test_landmark_pair_dependencies_diamond(spark):
    """1-2-4 / 1-3-4 with landmarks {1, 4}: sigma_14 = 2; interior
    nodes 2 and 3 each carry dependency 1/2 (num=1, den=2)."""
    df = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    lm = spark.createDataFrame([(1,), (4,)], "node long")
    pc = G.landmark_path_counts(df, lm, max_hops=4)
    got = {
        (r["source"], r["target"], r["node"]): (
            r["d_st"], r["dep_num"], r["dep_den"]
        )
        for r in G.landmark_pair_dependencies(pc, lm).collect()
    }
    assert got == {
        (1, 4, 2): (2, 1, 2),
        (1, 4, 3): (2, 1, 2),
    }


def _py_pair_dependencies(edges, sources, max_hops=6):
    from itertools import combinations

    pc = _py_path_counts(edges, sources, max_hops)
    want = {}
    nodes = {v for e in edges for v in e}
    for s, t in combinations(sorted(sources), 2):
        if (s, t) not in pc:
            continue
        d_st, s_st = pc[(s, t)]
        for v in nodes:
            if v in (s, t) or (s, v) not in pc or (t, v) not in pc:
                continue
            ds, ss = pc[(s, v)]
            dt, st_ = pc[(t, v)]
            if ds + dt == d_st:
                want[(s, t, v)] = (d_st, ss * st_, s_st)
    return want


@pytest.mark.parametrize("seed", [41, 42])
def test_landmark_pair_dependencies_matches_bruteforce(spark, seed):
    import random

    rng = random.Random(seed)
    edges = list({(rng.randrange(12), rng.randrange(12)) for _ in range(32)})
    edges = [e for e in edges if e[0] != e[1]]
    sources = sorted({e[0] for e in edges})[:4]
    df = G.canonicalize(spark.createDataFrame(edges, "src int, dst int"))
    lm = spark.createDataFrame([(s,) for s in sources], "node int")
    pc = G.landmark_path_counts(df, lm, max_hops=6)
    got = {
        (r["source"], r["target"], r["node"]): (
            r["d_st"], r["dep_num"], r["dep_den"]
        )
        for r in G.landmark_pair_dependencies(pc, lm).collect()
    }
    assert got == _py_pair_dependencies(edges, sources)


def test_landmark_pair_dependencies_interior_sum_invariant(spark):
    """Every shortest s-t path has exactly d_st - 1 interior nodes,
    so per pair: sum_v dep_num = dep_den * (d_st - 1)."""
    import random

    rng = random.Random(7)
    edges = list({(rng.randrange(14), rng.randrange(14)) for _ in range(40)})
    edges = [e for e in edges if e[0] != e[1]]
    sources = sorted({e[0] for e in edges})[:5]
    df = G.canonicalize(spark.createDataFrame(edges, "src int, dst int"))
    lm = spark.createDataFrame([(s,) for s in sources], "node int")
    pc = G.landmark_path_counts(df, lm, max_hops=6)
    deps = G.landmark_pair_dependencies(pc, lm).collect()
    assert deps, "gadget produced no landmark-pair interior rows"
    by_pair = {}
    for r in deps:
        k = (r["source"], r["target"])
        tot, den, dst = by_pair.get(k, (0, r["dep_den"], r["d_st"]))
        assert den == r["dep_den"] and dst == r["d_st"]  # one den per pair
        by_pair[k] = (tot + r["dep_num"], den, dst)
    for (s, t), (tot, den, dst) in by_pair.items():
        assert tot == den * (dst - 1), (s, t, tot, den, dst)


# -------------------------------------- betweenness scalar (C157)

def _py_betweenness_scores(edges, sources, scale_bits=20, max_hops=6):
    deps = _py_pair_dependencies(edges, sources, max_hops)
    k = 1 << scale_bits
    out = {}
    for (s, t, v), (_dst, num, den) in deps.items():
        n_pairs, bc_k = out.get(v, (0, 0))
        out[v] = (n_pairs + 1, bc_k + (k * num) // den)
    return out


@pytest.mark.parametrize("seed", [41, 42, 49])
def test_betweenness_scores_match_bruteforce(spark, seed):
    """The scaled floor sum is bit-identical to the python rendering,
    and bc_k/2^20 sits within n_pairs/2^20 of the float pair-sum."""
    import random

    rng = random.Random(seed)
    edges = list({(rng.randrange(12), rng.randrange(12)) for _ in range(32)})
    edges = [e for e in edges if e[0] != e[1]]
    sources = sorted({e[0] for e in edges})[:4]
    df = G.canonicalize(spark.createDataFrame(edges, "src int, dst int"))
    lm = spark.createDataFrame([(s,) for s in sources], "node int")
    pc = G.landmark_path_counts(df, lm, max_hops=6)
    deps = G.landmark_pair_dependencies(pc, lm)
    got = {
        r["node"]: (r["n_pairs"], r["bc_k"])
        for r in G.landmark_betweenness_scores(deps).collect()
    }
    want = _py_betweenness_scores(edges, sources)
    assert got == want
    assert got, "gadget produced no interior nodes"
    # the scalar it approximates: float pair-sum within n_pairs/K
    fdeps = _py_pair_dependencies(edges, sources)
    fsum = {}
    for (s, t, v), (_d, num, den) in fdeps.items():
        fsum[v] = fsum.get(v, 0.0) + num / den
    for v, (n_pairs, bc_k) in got.items():
        assert 0 <= fsum[v] - bc_k / (1 << 20) <= n_pairs / (1 << 20)


def test_betweenness_scores_overflow_guard(spark):
    """dep_den at/past 2^43 must raise the named guard, not wrap."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    deps = spark.createDataFrame(
        [(5, 3, 1 << 43)], "node long, dep_num long, dep_den long"
    )
    with pytest.raises(SparkRuntimeException, match="scaled"):
        G.landmark_betweenness_scores(deps).collect()


def test_betweenness_scores_validation(spark):
    deps = spark.createDataFrame(
        [(5, 1, 2)], "node long, dep_num long, dep_den long"
    )
    with pytest.raises(ValueError, match="scale_bits"):
        G.landmark_betweenness_scores(deps, scale_bits=0)
    with pytest.raises(ValueError, match="scale_bits"):
        G.landmark_betweenness_scores(deps, scale_bits=41)


def test_betweenness_scores_diamond(spark):
    """1-2-4 / 1-3-4, landmarks {1,4}: nodes 2 and 3 each carry one
    pair at 1/2 -> bc_k = 2^19."""
    df = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    lm = spark.createDataFrame([(1,), (4,)], "node long")
    pc = G.landmark_path_counts(df, lm, max_hops=4)
    deps = G.landmark_pair_dependencies(pc, lm)
    got = {
        r["node"]: (r["n_pairs"], r["bc_k"])
        for r in G.landmark_betweenness_scores(deps).collect()
    }
    assert got == {2: (1, 1 << 19), 3: (1, 1 << 19)}


# -------------------------------------- skip-gram negative sampling

def _py_negative_pairs(walk_rows, window, k, n_buckets):
    import hashlib
    from collections import Counter

    def bucket(s):
        h = hashlib.md5(str(s).encode()).hexdigest()
        return (ord(h[0]) * 65521 + ord(h[1]) * 257 + ord(h[2])) % n_buckets

    pairs = Counter()
    by_walker = {}
    for w, step, node in walk_rows:
        by_walker.setdefault(w, []).append((step, node))
    for rows in by_walker.values():
        for sa, na in rows:
            for sb, nb in rows:
                if sa != sb and abs(sa - sb) <= window:
                    pairs[(na, nb)] += 1
    vocab = sorted({n for _, _, n in walk_rows})
    out = {}
    for (u, v), n in pairs.items():
        pb = bucket(f"{u}:{v}:p")
        cands = [
            c for c in vocab
            if bucket(c) == pb and c != u and c != v
        ]
        cands.sort(
            key=lambda c: (
                hashlib.md5(f"{u}:{v}:{c}".encode()).hexdigest(), c
            )
        )
        for i, c in enumerate(cands[:k], start=1):
            out[(u, v, c)] = (n, i)
    return out


def test_skipgram_negative_pairs_matches_python(spark):
    rows = [
        (w, s, (w * 7 + s * 3) % 9)
        for w in range(6)
        for s in range(5)
    ]
    walks = spark.createDataFrame(rows, "walker long, step int, node long")
    got = {
        (r["u"], r["v"], r["negative"]): (r["n"], r["rnk"])
        for r in G.skipgram_negative_pairs(
            walks, window=2, k=2, n_buckets=4
        ).collect()
    }
    want = _py_negative_pairs(rows, window=2, k=2, n_buckets=4)
    assert got == want
    assert got, "gadget produced no negative draws"
    # negatives never collide with either side of the positive
    assert all(neg not in (u, v) for (u, v, neg) in got)
    # determinism: a second invocation is bit-identical
    again = {
        (r["u"], r["v"], r["negative"]): (r["n"], r["rnk"])
        for r in G.skipgram_negative_pairs(
            walks, window=2, k=2, n_buckets=4
        ).collect()
    }
    assert again == got


def test_skipgram_negative_pairs_validation(spark):
    walks = spark.createDataFrame([(1, 0, 5)], "walker long, step int, node long")
    with pytest.raises(ValueError, match="k="):
        G.skipgram_negative_pairs(walks, k=0)
    with pytest.raises(ValueError, match="window"):
        G.skipgram_negative_pairs(walks, window=0)


# ---------------------------------------------------------------------
# The canonical-edge contract: canonicalize() is the one normalization,
# the persisted layouts are its fixpoint, and every operator reads a
# layout exactly as it reads canonicalize(raw edges).
# ---------------------------------------------------------------------


def _canonical_py(rows):
    """Plain-Python canonical form: (min, max) pairs without self-loops;
    a third field collapses to the min over non-NULL values."""
    out = {}
    for r in rows:
        if r[0] == r[1]:
            continue
        key = (min(r[0], r[1]), max(r[0], r[1]))
        if len(r) == 2:
            out[key] = None
        else:
            vals = [v for v in (out.get(key), r[2]) if v is not None]
            out[key] = min(vals) if vals else None
    return out


def test_canonicalize_matches_python(spark):
    pairs = [(1, 2), (2, 1), (1, 2), (3, 3), (4, 1), (1, 4), (5, 6)]
    got = G.canonicalize(spark.createDataFrame(pairs, "src int, dst int"))
    assert got.columns == ["src", "dst"]
    assert sorted(map(tuple, got.collect())) == sorted(_canonical_py(pairs))
    weighted = [
        (1, 2, 5), (2, 1, 3), (1, 2, 9), (3, 3, 1), (4, 1, 7),
        (5, 6, None), (6, 5, 4), (7, 8, None),
    ]
    got_w = G.canonicalize(
        spark.createDataFrame(weighted, "x int, y int, c long"), "x", "y", weight="c"
    )
    assert got_w.columns == ["x", "y", "c"]
    want = _canonical_py(weighted)
    assert want == {(1, 2): 3, (1, 4): 7, (5, 6): 4, (7, 8): None}
    assert {(r["x"], r["y"]): r["c"] for r in got_w.collect()} == want


def _layout_and_raw(spark, sf_dir):
    """The persisted layout relations and messy raw renderings of the
    same graphs: every edge repeated and reversed, weighted copies
    heavier than the original so the min-collapse must pick it."""
    from pyspark.sql import functions as F

    from openetl_spark.queries.analytics_r06 import co_purchase_edges
    from openetl_spark.queries.analytics_r07 import _graph_layout

    ep, ewp = _graph_layout(spark, sf_dir)
    e, ew = spark.read.parquet(ep), spark.read.parquet(ewp)
    core = ew.filter(F.col("w") >= 2).select("src", "dst")

    def flip(df, *rest):
        return df.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *rest)

    raw = co_purchase_edges(spark, sf_dir)
    raw = raw.unionByName(flip(raw))
    raw_w = ew.unionByName(flip(ew, (F.col("w") + 1).alias("w"))).unionByName(
        ew.withColumn("w", F.col("w") + 2)
    )
    raw_core = core.unionByName(flip(core)).unionByName(core)
    return e, ew, core, raw, raw_w, raw_core


def test_canonicalize_is_identity_on_layout(spark, sf_dir):
    from openetl_spark.queries.analytics_r07 import co_purchase_edges_weighted

    e, ew, _, raw, raw_w, _ = _layout_and_raw(spark, sf_dir)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    want_e, want_ew = rows(e), rows(ew)
    assert rows(G.canonicalize(e)) == want_e
    assert rows(G.canonicalize(ew, weight="w")) == want_ew
    assert rows(G.canonicalize(raw)) == want_e
    assert rows(G.canonicalize(raw_w, weight="w")) == want_ew
    assert (
        rows(G.canonicalize(co_purchase_edges_weighted(spark, sf_dir), weight="w"))
        == want_ew
    )
    assert rows(ew.select("src", "dst")) == want_e


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_assume_canonical_equivalence_on_layout(spark, sf_dir):
    """operator(layout) ≡ operator(canonicalize(raw)) for the frontier
    operators (bfs_hops, sssp, kcore) and the shared und/deg derivation.
    These once compared an assume_canonical=True run to the default;
    the flag is gone and the canonical-edge contract is what remains."""
    e, ew, _, raw, raw_w, _ = _layout_and_raw(spark, sf_dir)
    ce = G.canonicalize(raw).localCheckpoint()
    cew = G.canonicalize(raw_w, weight="w").localCheckpoint()

    u1, d1 = G._undirected_simple(e, "src", "dst")
    u2, d2 = G._undirected_simple(ce, "src", "dst")
    assert _rows(u1) == _rows(u2)
    assert _rows(d1) == _rows(d2)

    seeds = e.select("src").distinct().orderBy("src").limit(5)
    assert _rows(G.bfs_hops(e, seeds, max_hops=4)) == _rows(
        G.bfs_hops(ce, seeds, max_hops=4)
    )
    assert _rows(G.sssp(ew, seeds, max_rounds=6)) == _rows(
        G.sssp(cew, seeds, max_rounds=6)
    )
    assert _rows(G.kcore(e, k=10, max_rounds=8)) == _rows(
        G.kcore(ce, k=10, max_rounds=8)
    )


def test_assume_canonical_materialize_equivalence(spark, sf_dir):
    """operator(layout) ≡ operator(canonicalize(raw)) for the operators
    that materialize the und relation (degree_assortativity,
    core_numbers, local_clustering, link_prediction_features)."""
    e, _, core, raw, _, raw_core = _layout_and_raw(spark, sf_dir)
    ce = G.canonicalize(raw).localCheckpoint()
    ccore = G.canonicalize(raw_core).localCheckpoint()

    assert _rows(G.degree_assortativity(e)) == _rows(G.degree_assortativity(ce))
    assert _rows(G.core_numbers(core, max_k=3, max_rounds=12)) == _rows(
        G.core_numbers(ccore, max_k=3, max_rounds=12)
    )
    assert _rows(G.local_clustering(core)) == _rows(G.local_clustering(ccore))
    assert _rows(G.link_prediction_features(core)) == _rows(
        G.link_prediction_features(ccore)
    )


def test_undirected_simple_on_layout_plans_no_exchange(spark, sf_dir):
    """On a layout read the und relation is a bare aliased scan: zero
    Exchange (no distinct shuffle), zero ExistingRDD (no
    localCheckpoint copy)."""
    from openetl_spark.queries.analytics_r07 import _graph_layout

    ep, _ = _graph_layout(spark, sf_dir)
    e = spark.read.parquet(ep)
    und, _deg = G._undirected_simple(e, "src", "dst")
    plan = und._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ExistingRDD" not in plan
    assert "Scan parquet" in plan or "FileScan" in plan
