"""Graph suite tests: hand-computed betweenness goldens, invariants, component
equivalence (union-find vs distributed label propagation), modularity path
equivalence, planted-community GN, and full end-to-end parity against the
reference's committed communities.txt golden."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from inf_553_datamining_mapreduce_spark.operators.graph import (
    bfs_credit_one_source,
    communities_from_components,
    connected_components,
    cooccurrence_edges,
    edge_betweenness,
    girvan_newman_communities,
    modularity,
    modularity_local,
)

EDGE_SCHEMA = StructType(
    [StructField("src", LongType(), False), StructField("dst", LongType(), False)]
)

REF_DIR = "/root/reference/3-Graph Community Detection"


def _edges_df(spark, pairs):
    return spark.createDataFrame([(int(a), int(b)) for a, b in pairs], EDGE_SCHEMA)


def _betweenness_dict(spark, pairs):
    df = edge_betweenness(_edges_df(spark, pairs))
    return {(r["src"], r["dst"]): r["betweenness"] for r in df.collect()}


def test_betweenness_path_graph(spark):
    # 1-2-3: each edge carries 2 shortest pairs
    assert _betweenness_dict(spark, [(1, 2), (2, 3)]) == {(1, 2): 2.0, (2, 3): 2.0}


def test_betweenness_star_graph(spark):
    got = _betweenness_dict(spark, [(1, 2), (1, 3), (1, 4)])
    assert got == {(1, 2): 3.0, (1, 3): 3.0, (1, 4): 3.0}


def test_betweenness_square_graph(spark):
    """4-cycle 1-2-4-3-1: two shortest paths to the opposite corner split
    credit 0.5/0.5 at the route-2 join; every edge totals
    (1.5+0.5+1.5+0.5)/2 = 2 (hand-computed under Betweenness.scala:56-116)."""
    got = _betweenness_dict(spark, [(1, 2), (1, 3), (2, 4), (3, 4)])
    assert got == {(1, 2): 2.0, (1, 3): 2.0, (2, 4): 2.0, (3, 4): 2.0}


def test_components_unionfind_vs_labelprop(spark):
    rng = random.Random(11)
    pairs = set()
    for _ in range(40):
        a, b = rng.randint(1, 60), rng.randint(1, 60)
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    edges = _edges_df(spark, sorted(pairs))
    uf = {
        (r["id"], r["component"])
        for r in connected_components(edges, method="unionfind").collect()
    }
    lp = {
        (r["id"], r["component"])
        for r in connected_components(edges, method="labelprop").collect()
    }
    assert uf == lp


def test_modularity_paths_agree(spark):
    pairs = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    edges = _edges_df(spark, pairs)
    comp_df = connected_components(edges)
    comp = {r["id"]: r["component"] for r in comp_df.collect()}
    local = modularity_local(pairs, comp)
    dist = modularity(edges, comp_df)
    assert dist == pytest.approx(local, abs=1e-12)


def test_girvan_newman_two_triangles(spark):
    """Two triangles joined by one bridge: GN must cut the bridge and report
    the planted communities."""
    pairs = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    result = girvan_newman_communities(_edges_df(spark, pairs), step=1)
    communities = [list(r["members"]) for r in result.collect()]
    assert communities == [[1, 2, 3], [4, 5, 6]]


def test_sampled_betweenness_unbiased_scaling(spark):
    """Source sampling with scale V/s: sampling ALL sources must equal the
    exact result; a strict subset scales each per-source credit uniformly."""
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6)]
    exact = _betweenness_dict(spark, pairs)
    full_sample = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(
            _edges_df(spark, pairs), sample_sources=6, seed=3
        ).collect()
    }
    assert full_sample == exact
    half = edge_betweenness(_edges_df(spark, pairs), sample_sources=3, seed=3)
    vals = {(r["src"], r["dst"]): r["betweenness"] for r in half.collect()}
    assert vals  # estimator produces credit on the sampled DAGs
    assert all(v > 0 for v in vals.values())


def test_triangle_counts_hand_computed(spark):
    from inf_553_datamining_mapreduce_spark.operators.graph import triangle_counts

    # Two triangles sharing edge (2,3): {1,2,3} and {2,3,4}; vertex 5
    # dangles off vertex 4 with no triangle.
    edges = _edges_df(
        spark, [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5)]
    )
    got = {r["id"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1, 5: 0}


def test_pagerank_path_graph_hand_computed(spark):
    from inf_553_datamining_mapreduce_spark.operators.graph import pagerank

    # Path 1-2-3, two fixed-point iterations, worked by hand:
    #   iter1: r = (575000, 1850000, 575000)
    #   iter2: r = (936250, 1127500, 936250)
    ranks = {
        r["id"]: r["rank_fp"]
        for r in pagerank(_edges_df(spark, [(1, 2), (2, 3)]), iterations=2).collect()
    }
    assert ranks == {1: 936250, 2: 1127500, 3: 936250}


def test_pagerank_weighted_reduces_to_unweighted_on_constant_weights(spark):
    """(r*c) div (d*c) == r div d for any positive constant c, so with all
    weights equal — at ANY constant, not just 1 — the weighted kernel must
    be BIT-IDENTICAL to pagerank. Also the bias direction: a heavy edge
    concentrates rank on its endpoint."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        pagerank,
        pagerank_weighted,
    )

    edges = [(1, 2), (2, 3), (3, 4), (1, 4), (2, 4)]
    base = {
        r["id"]: r["rank_fp"]
        for r in pagerank(_edges_df(spark, edges), iterations=4).collect()
    }
    for c in (1, 7):
        w = _swedges_df(spark, [(a, b, c) for a, b in edges])
        got = {
            r["id"]: r["rank_fp"]
            for r in pagerank_weighted(w, iterations=4).collect()
        }
        assert got == base, c
    # star: hub 0, leaves 1..6; edge 0-1 carries 50x weight -> leaf 1
    # receives (50/55) of the hub's rank mass, every other leaf 1/55
    star = [(0, 1, 50)] + [(0, i, 1) for i in range(2, 7)]
    ranks = {
        r["id"]: r["rank_fp"]
        for r in pagerank_weighted(
            _swedges_df(spark, star), iterations=4
        ).collect()
    }
    assert ranks[1] > 10 * ranks[2]
    assert all(ranks[1] > ranks[i] for i in range(2, 7))


def test_cooccurrence_edges_matches_reference_rule(spark):
    """Edge rule parity on the reference's own ratings.csv: co-rated >= 3
    movies, src < dst (Betweenness.scala:26-31)."""
    df = spark.read.csv(f"{REF_DIR}/ratings.csv", header=True, inferSchema=True)
    edges = cooccurrence_edges(df, "userId", "movieId", min_shared=3)
    n = edges.count()
    first = edges.orderBy("src", "dst").first()
    assert n > 0 and first["src"] < first["dst"]


@pytest.mark.slow
def test_reference_communities_golden_end_to_end(spark):
    """Full pipeline parity: ratings.csv -> co-rating edges -> betweenness
    (simplified-GN credit rule) -> GN loop (step=2500, zoom=5) must
    reproduce the committed communities.txt byte-for-byte
    (3-Graph Community Detection/README:13)."""
    df = spark.read.csv(f"{REF_DIR}/ratings.csv", header=True, inferSchema=True)
    edges = cooccurrence_edges(df, "userId", "movieId", min_shared=3)
    vertices = df.select(F.col("userId").cast("long")).distinct()
    result = girvan_newman_communities(edges, vertices, step=2500, step_zoom=5)
    got = ["[" + ",".join(str(m) for m in r["members"]) + "]" for r in result.collect()]
    golden = [
        line.strip()
        for line in open(f"{REF_DIR}/communities.txt")
        if line.strip()
    ]
    assert got == golden


# ---------------------------------------------------------------------------
# Scale: GN probes must be O(E), not O(V^2) per component (round-2 fix)
# ---------------------------------------------------------------------------

def test_modularity_local_giant_component_is_linear():
    """A 500k-edge single giant component: the old same-component pair loop
    was ~2.5e11 iterations (hours); the incremental form is O(E) and must
    finish a GN-probe-sized batch of evaluations in seconds."""
    import time

    n_edges = 500_000
    edges = [(i, i + 1) for i in range(n_edges)]
    start = time.time()
    for removed in (0, 100_000, 200_000):
        remaining = edges[removed:]
        comp = _components_for(remaining, n_edges + 1)
        q = modularity_local(remaining, comp)
        assert -1.0 <= q <= 1.0
    assert time.time() - start < 60, "modularity probe is not O(E)"


def _components_for(edge_list, n_vertices):
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        _components_local,
    )

    return _components_local(edge_list, range(n_vertices))


def test_girvan_newman_planted_cliques_500k_edges(spark):
    """End-to-end GN on a planted 508,800-edge graph (40 disjoint cliques of
    160 vertices) with sampled-source betweenness: must recover exactly the
    planted communities in bounded time. Also regression-covers the sampled
    schedule tail — edges with zero sampled credit must stay in the graph
    (before the fix, 32 of 40 cliques vanished from the output)."""
    v = spark.range(6400).select(
        F.col("id").cast("long").alias("v"), (F.col("id") / 160).cast("long").alias("c")
    )
    a, b = v.alias("a"), v.alias("b")
    edges = a.join(
        b, (F.col("a.c") == F.col("b.c")) & (F.col("a.v") < F.col("b.v"))
    ).select(F.col("a.v").alias("src"), F.col("b.v").alias("dst"))
    rows = girvan_newman_communities(
        edges, step=100_000, sample_sources=8
    ).collect()
    sizes = sorted(len(r["members"]) for r in rows)
    assert len(rows) == 40
    assert sizes == [160] * 40
    assert sum(sizes) == 6400


def test_kcore_invariants_and_local_agreement(spark, sf_dir):
    """Every vertex in the k-core must have in-core degree >= k, and the
    distributed peel must agree exactly with a local reference peeling."""
    import collections

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        cooccurrence_edges,
        kcore,
    )
    from inf_553_datamining_mapreduce_spark.sources.readers import (
        read_parquet_table,
    )

    li = read_parquet_table(spark, sf_dir, "lineitem")
    o = read_parquet_table(spark, sf_dir, "orders")
    cp = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
    )
    edges = cooccurrence_edges(cp, "c", "p", min_shared=4)
    k = 20
    got = {(r["c"], r["kcore_degree"]) for r in kcore(edges, k=k).collect()}
    assert all(deg >= k for _, deg in got) or not got

    E = {(r["src"], r["dst"]) for r in edges.collect()}
    while True:
        deg = collections.Counter()
        for s, d in E:
            deg[s] += 1
            deg[d] += 1
        keep = {v for v, c in deg.items() if c >= k}
        e2 = {(s, d) for s, d in E if s in keep and d in keep}
        if len(e2) == len(E):
            break
        E = e2
    want = collections.Counter()
    for s, d in E:
        want[s] += 1
        want[d] += 1
    assert got == set(want.items())


def test_kcore_planted_500k_edges_bounded_time(spark):
    """k-core on a planted 515,200-edge graph: 40 cliques of 160 vertices
    (in-clique degree 159) plus one pendant leaf per clique vertex, which
    the first peel round must strip (dropping clique degrees from 160 back
    to 159). Exercises multi-round peeling at scale — each round is O(E)
    joins, no driver adjacency — and must recover exactly the cliques."""
    from inf_553_datamining_mapreduce_spark.operators.graph import kcore

    v = spark.range(6400).select(
        F.col("id").cast("long").alias("v"), (F.col("id") / 160).cast("long").alias("c")
    )
    a, b = v.alias("a"), v.alias("b")
    clique_edges = a.join(
        b, (F.col("a.c") == F.col("b.c")) & (F.col("a.v") < F.col("b.v"))
    ).select(F.col("a.v").alias("src"), F.col("b.v").alias("dst"))
    leaves = spark.range(6400).select(
        F.col("id").cast("long").alias("src"),
        (F.col("id") + 10000).cast("long").alias("dst"),
    )
    edges = clique_edges.unionAll(leaves)
    rows = kcore(edges, k=159, max_rounds=10).collect()
    assert len(rows) == 6400
    assert all(r["kcore_degree"] == 159 for r in rows)


def test_bfs_distances_hand_computed(spark):
    from inf_553_datamining_mapreduce_spark.operators.graph import bfs_distances

    # Path 1-2-3-4 plus isolated edge 10-11; landmarks = 4 smallest = 1,2,3,4.
    df = bfs_distances(
        _edges_df(spark, [(1, 2), (2, 3), (3, 4), (10, 11)]), n_landmarks=4
    )
    got = {(r["landmark"], r["id"]): r["dist"] for r in df.collect()}
    assert got[(1, 1)] == 0 and got[(1, 2)] == 1 and got[(1, 4)] == 3
    assert got[(4, 1)] == 3 and got[(2, 3)] == 1
    # The 10-11 component is unreachable from every landmark: no rows.
    assert not any(v in (10, 11) for (_, v) in got)


def test_bfs_distances_max_hops_caps_depth(spark):
    from inf_553_datamining_mapreduce_spark.operators.graph import bfs_distances

    df = bfs_distances(
        _edges_df(spark, [(1, 2), (2, 3), (3, 4), (4, 5)]), n_landmarks=1, max_hops=2
    )
    got = {r["id"]: r["dist"] for r in df.collect()}
    assert got == {1: 0, 2: 1, 3: 2}


def _wedges_df(spark, triples):
    return spark.createDataFrame(
        [(int(a), int(b), int(w)) for a, b, w in triples],
        "src long, dst long, w long",
    )


def test_weighted_sssp_prefers_cheap_long_path(spark):
    """The weighted relaxation must pick a 3-hop cost-3 path over a
    1-hop cost-10 edge — the case hop-count BFS gets wrong — and report
    exact path costs."""
    from inf_553_datamining_mapreduce_spark.operators.graph import weighted_sssp

    # 1 -> 4 directly costs 10; 1-2-3-4 costs 1+1+1 = 3.
    df = weighted_sssp(
        _wedges_df(spark, [(1, 4, 10), (1, 2, 1), (2, 3, 1), (3, 4, 1)]),
        n_landmarks=1,
    )
    got = {r["id"]: r["dist"] for r in df.collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_weighted_sssp_unit_weights_match_bfs(spark):
    """With every weight 1 the relaxation IS breadth-first search: the
    two operators must agree pair-for-pair, including unreachable pairs
    being absent from both."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        bfs_distances,
        weighted_sssp,
    )

    pairs = [(1, 2), (2, 3), (3, 4), (1, 5), (5, 4), (10, 11)]
    bfs = {
        (r["landmark"], r["id"]): r["dist"]
        for r in bfs_distances(_edges_df(spark, pairs), n_landmarks=4).collect()
    }
    sssp = {
        (r["landmark"], r["id"]): r["dist"]
        for r in weighted_sssp(
            _wedges_df(spark, [(a, b, 1) for a, b in pairs]), n_landmarks=4
        ).collect()
    }
    assert sssp == bfs


def test_weighted_sssp_max_rounds_bounds_relaxation(spark):
    """max_rounds caps the edge count of improving paths — a chain longer
    than the cap leaves the far vertices unreached, mirroring the
    unrolled-CTE oracle's semantics exactly."""
    from inf_553_datamining_mapreduce_spark.operators.graph import weighted_sssp

    chain = [(i, i + 1, 2) for i in range(1, 6)]  # 1-2-3-4-5-6, w=2 each
    df = weighted_sssp(_wedges_df(spark, chain), n_landmarks=1, max_rounds=2)
    got = {r["id"]: r["dist"] for r in df.collect()}
    assert got == {1: 0, 2: 2, 3: 4}


def test_sampled_betweenness_estimates_exact_on_planted_graph(spark):
    """Brandes-Pich source sampling: on a two-cluster graph with known
    bridge edges, the sampled estimator must (a) keep total credit mass
    within a modest factor of exact and (b) rank the planted bridges on
    top, exactly like the exact computation does."""
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import edge_betweenness

    rng = random.Random(7)
    edges = set()
    for base in (0, 100):  # two dense 100-vertex clusters
        while sum(1 for e in edges if e[0] >= base and e[1] < base + 100) < 400:
            a, b = rng.randrange(base, base + 100), rng.randrange(base, base + 100)
            if a != b:
                edges.add((min(a, b), max(a, b)))
    bridges = [(10, 110), (20, 120), (30, 130)]
    edges.update(bridges)
    edf = spark.createDataFrame(sorted(edges), ["src", "dst"])

    exact = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(edf).collect()
    }
    est = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(edf, sample_sources=60, seed=17).collect()
    }
    assert set(est) == set(exact)  # same edge universe

    total_exact = sum(exact.values())
    total_est = sum(est.values())
    assert 0.7 * total_exact < total_est < 1.3 * total_exact

    top_exact = sorted(exact, key=exact.get, reverse=True)[:3]
    top_est = sorted(est, key=est.get, reverse=True)[:3]
    assert set(top_exact) == set(bridges)
    assert set(top_est) == set(bridges)


def test_distributed_betweenness_matches_kernel(spark):
    """The join-based distributed betweenness must reproduce the broadcast
    CSR kernel's credits to float round-off (identical arithmetic, only
    the summation order differs) on a planted two-cluster graph."""
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        edge_betweenness,
        edge_betweenness_distributed,
    )

    rng = random.Random(11)
    edges = set()
    for base in (0, 40):
        while sum(1 for e in edges if e[0] >= base and e[1] < base + 40) < 120:
            a, b = rng.randrange(base, base + 40), rng.randrange(base, base + 40)
            if a != b:
                edges.add((min(a, b), max(a, b)))
    edges.update([(5, 45), (10, 50)])
    edf = spark.createDataFrame(sorted(edges), ["src", "dst"])

    exact = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(edf).collect()
    }
    dist = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness_distributed(edf).collect()
    }
    assert set(dist) == set(exact)
    for k, v in exact.items():
        assert abs(dist[k] - v) <= 1e-9 * max(1.0, abs(v)), (k, v, dist[k])


def test_distributed_betweenness_sampled_scales_unbiased(spark):
    """Sampled distributed betweenness: same edge universe and total credit
    mass within a modest factor of exact (unbiased estimator, fixed seed)."""
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        edge_betweenness,
        edge_betweenness_distributed,
    )

    rng = random.Random(3)
    edges = set()
    while len(edges) < 150:
        a, b = rng.randrange(0, 60), rng.randrange(0, 60)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    edf = spark.createDataFrame(sorted(edges), ["src", "dst"])
    exact_total = sum(
        r["betweenness"] for r in edge_betweenness(edf).collect()
    )
    est_total = sum(
        r["betweenness"]
        for r in edge_betweenness_distributed(edf, sample_sources=30).collect()
    )
    assert 0.6 * exact_total < est_total < 1.4 * exact_total


def test_fixedpoint_betweenness_matches_float_kernel(spark):
    """The BIGINT floor-division twin must agree with the float kernel to
    truncation tolerance: credit_sum_fp / (2*scale) is the betweenness,
    each division truncating < 1 fixed-point unit (1e-9)."""
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        edge_betweenness,
        edge_betweenness_fixedpoint,
    )

    rng = random.Random(23)
    edges = set()
    while len(edges) < 120:
        a, b = rng.randrange(0, 50), rng.randrange(0, 50)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    edf = spark.createDataFrame(sorted(edges), ["src", "dst"])

    scale = 10**9
    exact = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(edf).collect()
    }
    fp = {
        (r["src"], r["dst"]): r["credit_sum_fp"] / (2.0 * scale)
        for r in edge_betweenness_fixedpoint(edf, max_depth=20, scale=scale).collect()
    }
    assert set(fp) == set(exact)
    for k, v in exact.items():
        assert abs(fp[k] - v) <= 1e-5 * max(1.0, abs(v)), (k, v, fp[k])


def test_fixedpoint_betweenness_source_mod_subsets_sources(spark):
    """source_mod must restrict BFS sources deterministically: on a path
    graph 0-1-2-3, mod 2 keeps sources {0, 2} and credits only their
    shortest-path trees; under a hop cap the float distributed path
    agrees with it."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        edge_betweenness_distributed,
        edge_betweenness_fixedpoint,
    )

    edf = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"])
    scale = 10**6
    got = {
        (r["src"], r["dst"]): r["credit_sum_fp"]
        for r in edge_betweenness_fixedpoint(
            edf, max_depth=5, scale=scale, source_mod=2
        ).collect()
    }
    # Source 0 (dists 0,1,2,3): credits (0,1)=3, (1,2)=2, (2,3)=1.
    # Source 2 (dists 2:0, 1:1, 3:1, 0:2): credits (1,2)=2, (0,1)=1,
    # (2,3)=1. Sums below are in fixed-point units (x scale).
    assert got == {
        (0, 1): 4 * scale,
        (1, 2): 4 * scale,
        (2, 3): 2 * scale,
    }

    # On a path longer than the hop cap, the float distributed path and
    # the fixed-point twin truncate the BFS at the same depth. The float
    # path scales its sampled credits by n_active / n_sampled (8 / 4).
    path = spark.createDataFrame([(i, i + 1) for i in range(7)], ["src", "dst"])
    for hops in (2, 3):
        fp = {
            (r["src"], r["dst"]): r["credit_sum_fp"] * (8 / 4) / (2 * scale)
            for r in edge_betweenness_fixedpoint(
                path, max_depth=hops, scale=scale, source_mod=2
            ).collect()
        }
        flt = {
            (r["src"], r["dst"]): r["betweenness"]
            for r in edge_betweenness_distributed(
                path, max_hops=hops, source_mod=2
            ).collect()
        }
        assert set(flt) == set(fp), hops
        for k, v in fp.items():
            assert abs(flt[k] - v) <= 1e-5 * abs(v), (hops, k, v, flt[k])


def test_triangle_counts_orientation_invariant(spark):
    """Degree-ordered and id-ordered wedge enumeration must count the
    identical triangle set — orientation only changes the fan-out bound,
    never the result."""
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import triangle_counts

    rng = random.Random(41)
    edges = set()
    # a hub (vertex 0) plus random background — the shape where the
    # orientations differ most
    for v in range(1, 60):
        edges.add((0, v))
    while len(edges) < 220:
        a, b = rng.randrange(0, 60), rng.randrange(0, 60)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    edf = spark.createDataFrame(sorted(edges), ["src", "dst"])
    by_id = {
        r["id"]: r["n_triangles"]
        for r in triangle_counts(edf, degree_oriented=False).collect()
    }
    by_deg = {
        r["id"]: r["n_triangles"]
        for r in triangle_counts(edf, degree_oriented=True).collect()
    }
    assert by_id == by_deg
    assert sum(by_id.values()) > 0


def test_cooccurrence_edges_item_df_cut_is_conservative(spark):
    """The hot-item cut must only LOWER shared counts (drop edges, never
    add), and with the cut above the real max item-df the result equals
    the exact build."""
    rows = []
    # item 100 is universal (held by all 10 nodes); items 1..5 held by
    # pairs of nodes to create exact edges
    for n in range(10):
        rows.append((n, 100))
    for i, (a, b) in enumerate([(0, 1), (0, 1), (0, 1), (2, 3), (2, 3), (2, 3)]):
        rows.append((a, 200 + i))
        rows.append((b, 200 + i))
    df = spark.createDataFrame(rows, ["u", "it"])
    exact = {
        (r["src"], r["dst"]): r["shared"]
        for r in cooccurrence_edges(df, "u", "it", min_shared=3).collect()
    }
    cut = {
        (r["src"], r["dst"]): r["shared"]
        for r in cooccurrence_edges(
            df, "u", "it", min_shared=3, max_item_df=5
        ).collect()
    }
    wide = {
        (r["src"], r["dst"]): r["shared"]
        for r in cooccurrence_edges(
            df, "u", "it", min_shared=3, max_item_df=1000
        ).collect()
    }
    assert wide == exact
    assert set(cut) <= set(exact)
    for k, v in cut.items():
        assert v <= exact[k]
    # with the universal item cut, only the 3-shared planted pairs survive
    assert cut == {(0, 1): 3, (2, 3): 3}


def test_label_propagation_planted_two_cliques(spark):
    """Two 6-cliques joined by one bridge edge: CC would merge them into
    one component, but 5-round deterministic LPA must keep two communities
    (each clique converges to its own minimum label) — the property that
    makes LPA the density-aware middle ground between CC and GN."""
    from itertools import combinations

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        label_propagation,
    )

    a = list(range(0, 6))
    b = list(range(10, 16))
    edges = sorted(
        {(x, y) for x, y in combinations(a, 2)}
        | {(x, y) for x, y in combinations(b, 2)}
        | {(5, 10)}  # bridge
    )
    edf = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["c"]: r["community"] for r in label_propagation(edf, rounds=5).collect()}
    assert set(got) == set(a) | set(b)
    # every clique member carries its clique's minimum label
    assert {got[v] for v in a} == {0}
    assert {got[v] for v in b} == {10}


def test_louvain_moves_two_triangles_hand_computed(spark):
    """Two disjoint triangles, rounds=3, worked by hand through the
    parity-gated strict-improvement move rule (trace inline below).
    Also pins cross-clique separation with a bridge (no merge: the
    bridge candidate's score loses to in-clique scores) and determinism
    across a second run."""
    from itertools import combinations

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        louvain_moves,
    )

    tri = [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12)]
    edf = spark.createDataFrame(tri, ["src", "dst"])
    got = {r["c"]: r["community"] for r in louvain_moves(edf, rounds=3).collect()}
    # hand trace (m=6, all deg 2, parity-gated strict-improvement):
    # r1 odd movers: 1->2, 3->1, 11->10 (singleton stay score 0 < 8);
    # r2 even: 2 and 10 tie own-vs-rival at 8 -> stay, 12 joins 10 (16>0);
    # r3 odd: 1 ties at 8 -> stays, 3 joins {1,2} (16>0), 11 stays.
    assert got == {1: 2, 2: 2, 3: 2, 10: 10, 11: 10, 12: 10}

    cliq_a = list(combinations(range(0, 5), 2))
    cliq_b = list(combinations(range(10, 15), 2))
    bridged = spark.createDataFrame(
        cliq_a + cliq_b + [(4, 10)], ["src", "dst"]
    )
    got2 = {r["c"]: r["community"] for r in louvain_moves(bridged, rounds=6).collect()}
    labels_a = {got2[v] for v in range(0, 5)}
    labels_b = {got2[v] for v in range(10, 15)}
    assert len(labels_a) == 1 and len(labels_b) == 1
    assert labels_a != labels_b  # the bridge must not merge the cliques
    got2_again = {
        r["c"]: r["community"] for r in louvain_moves(bridged, rounds=6).collect()
    }
    assert got2_again == got2


def test_louvain_multilevel_merges_ring_of_cliques(spark):
    """Resolution limit, the classic Louvain demonstration (Fortunato &
    Barthelemy 2007): in a ring of 10 triangles joined by single
    bridges, modularity favors merging ADJACENT triangles once the ring
    is long enough (supergraph gain 2m*1 - 8*8 = 16 > 0 at m=40), but
    the vertex-granular level-1 rule can never move a whole triangle
    atomically. Level 1 must find exactly the 10 triangles; the
    contract-and-rerun level 2 must merge some adjacent pairs (6
    communities under the deterministic parity schedule) while keeping
    every triangle intact — proof the aggregation phase does real work."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        louvain,
        louvain_moves,
    )

    edges = []
    for t in range(10):
        a, b, c = 3 * t, 3 * t + 1, 3 * t + 2
        edges += [(a, b), (a, c), (b, c), (c, (3 * (t + 1)) % 30)]
    edf = spark.createDataFrame(sorted(edges), ["src", "dst"])
    one = {r["c"]: r["community"] for r in louvain_moves(edf, rounds=6).collect()}
    multi = {r["c"]: r["community"] for r in louvain(edf, rounds=6, levels=2).collect()}
    assert len(set(one.values())) == 10
    assert len(set(multi.values())) == 6
    for t in range(10):
        vs = [3 * t, 3 * t + 1, 3 * t + 2]
        assert len({one[v] for v in vs}) == 1
        assert len({multi[v] for v in vs}) == 1


def test_label_propagation_one_round_adopts_neighbor_mode(spark):
    """One round on a star: every leaf adopts the hub's label only if the
    hub is its most frequent neighbor label (it is — leaves see one
    neighbor); the hub adopts the minimum leaf label (all counts tie at
    1, smallest label wins) — pinning the deterministic tie-break."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        label_propagation,
    )

    edges = [(0, i) for i in range(1, 5)]
    edf = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["c"]: r["community"] for r in label_propagation(edf, rounds=1).collect()}
    assert got[0] == 1  # hub: ties at count 1 → min leaf label
    assert all(got[i] == 0 for i in range(1, 5))  # leaves: hub label


def test_girvan_newman_fixedpoint_splits_bridged_triangles(spark):
    """The integer GN twin on the classic two-triangles-plus-bridge graph:
    the bridge carries the highest fixed-point betweenness, so removal
    count 1 is on the grid (gs=1 here), its partition is the two
    triangles, and its original-graph modularity score (104 in 8m² units)
    beats both the unsplit graph (34) and every finer split — argmax must
    emit exactly the two triangles with min-member labels."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        girvan_newman_fixedpoint,
    )

    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    edf = spark.createDataFrame(edges, ["src", "dst"])
    rows = girvan_newman_fixedpoint(edf, max_depth=6, n_grid=7).collect()
    got = {r["community"]: (r["members_str"], r["n_members"]) for r in rows}
    assert got == {1: ("1,2,3", 3), 4: ("4,5,6", 3)}


def test_girvan_newman_fixedpoint_empty_graph(spark):
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        girvan_newman_fixedpoint,
    )

    edf = spark.createDataFrame([], "src long, dst long")
    assert girvan_newman_fixedpoint(edf).count() == 0


def test_girvan_newman_fixedpoint_label_rounds_contract(spark):
    """label_rounds is part of the operator contract: on a long path the
    min-label+jump update needs enough rounds to converge, and BOTH the
    round count and the update rule are what the oracle mirrors. 8 rounds
    must fully label a 40-vertex path (reach doubles per round)."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        girvan_newman_fixedpoint,
    )

    edges = [(i, i + 1) for i in range(40)]
    edf = spark.createDataFrame(edges, ["src", "dst"])
    # max_depth=1 keeps the betweenness schedule cheap; with n_grid=1 the
    # grid is {0, 40} regardless of schedule ORDER, and the labeling
    # contract under test only depends on the grid's remaining graphs.
    rows = girvan_newman_fixedpoint(edf, max_depth=1, n_grid=1).collect()
    # grid = {0, 40}: k=0 keeps the whole path (one community, score
    # 4*40*40 - (sum_deg^2 - q2) ... vs k=40 all singletons, score 0) —
    # whichever wins, every vertex must be labeled and communities
    # partition the vertex set.
    total = sum(r["n_members"] for r in rows)
    assert total == 41


def test_girvan_newman_fixedpoint_recovers_planted_cliques(spark):
    """Quality evidence for the integer twin beyond the minimal bridge
    fixture: four planted 6-cliques chained by single bridge edges. The
    bridges carry the highest fixed-point betweenness, gs=1 puts every
    removal count on the grid, and the original-graph-modularity argmax
    must pick exactly the four cliques (each labeled by its min member).
    """
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        girvan_newman_fixedpoint,
    )

    edges = []
    for c in range(4):
        base = c * 10
        members = list(range(base, base + 6))
        edges += [
            (a, b) for i, a in enumerate(members) for b in members[i + 1 :]
        ]
    edges += [(5, 10), (15, 20), (25, 30)]  # bridges
    edf = spark.createDataFrame(edges, ["src", "dst"])
    # depth 4 covers every shortest path that decides the bridge ranking
    # (bridges dominate at any radius >= 2); fewer BFS rounds keeps the
    # test fast
    rows = girvan_newman_fixedpoint(edf, max_depth=4, n_grid=len(edges)).collect()
    got = {r["community"]: r["members_str"] for r in rows}
    assert got == {
        0: "0,1,2,3,4,5",
        10: "10,11,12,13,14,15",
        20: "20,21,22,23,24,25",
        30: "30,31,32,33,34,35",
    }


def test_fixedpoint_brandes_rule_hand_computed(spark):
    """Brandes mode on a DAG with unequal path multiplicities (σ_u=2 vs
    σ_v=1 feeding t with σ_t=3): mass must split σ-proportionally, not
    equally. Expected values come from an independent Python mirror of
    the integer recurrence; the same graph under equal_split gives a
    DIFFERENT split at the junction, pinning that the two rules really
    diverge. source_mod=7 keeps vertex 0 as the only BFS source."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        edge_betweenness_fixedpoint,
    )

    # levels: 0:{0} 1:{1,2} 2:{3,4} 3:{5}; σ: 1,1,1,2,1,3
    edges = [(0, 1), (0, 2), (1, 3), (2, 3), (1, 4), (3, 5), (4, 5)]
    edf = spark.createDataFrame(edges, ["src", "dst"])
    S = 10**9
    # independent integer mirror (floor division at every step)
    c35 = (2 * S) // 3
    c45 = S // 3
    c13 = (S + c35) // 2
    c23 = (S + c35) // 2
    c14 = S + c45
    c01 = S + c13 + c14
    c02 = S + c23
    expected = {
        (3, 5): c35, (4, 5): c45, (1, 3): c13, (2, 3): c23,
        (1, 4): c14, (0, 1): c01, (0, 2): c02,
    }
    got = {
        (r["src"], r["dst"]): r["credit_sum_fp"]
        for r in edge_betweenness_fixedpoint(
            edf, max_depth=5, scale=S, source_mod=7, rule="brandes"
        ).collect()
    }
    assert got == expected
    eq = {
        (r["src"], r["dst"]): r["credit_sum_fp"]
        for r in edge_betweenness_fixedpoint(
            edf, max_depth=5, scale=S, source_mod=7, rule="equal_split"
        ).collect()
    }
    # equal_split halves t's mass regardless of σ — the rules diverge
    assert eq[(3, 5)] == S // 2 and eq[(4, 5)] == S // 2
    assert got[(3, 5)] != eq[(3, 5)]


def test_fixedpoint_brandes_matches_networkx_convention_on_path(spark):
    """On a path graph every σ is 1, so Brandes and equal_split coincide
    — both must give the classic per-source path credits."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        edge_betweenness_fixedpoint,
    )

    edf = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"])
    S = 10**6
    a = {
        (r["src"], r["dst"]): r["credit_sum_fp"]
        for r in edge_betweenness_fixedpoint(
            edf, max_depth=5, scale=S, rule="brandes"
        ).collect()
    }
    b = {
        (r["src"], r["dst"]): r["credit_sum_fp"]
        for r in edge_betweenness_fixedpoint(
            edf, max_depth=5, scale=S, rule="equal_split"
        ).collect()
    }
    assert a == b == {(0, 1): 6 * S, (1, 2): 8 * S, (2, 3): 6 * S}


def test_girvan_newman_fixedpoint_dedups_dirty_input_edges(spark):
    """Duplicate and reversed-duplicate input edges must not inflate m0,
    the degree sums, or the rank schedule: the canonicalized edge set is
    deduplicated (matching the generated oracle's duplicate-free e0), so
    a dirty edge list yields exactly the clean list's communities."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        girvan_newman_fixedpoint,
    )

    clean = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    dirty = clean + [(2, 1), (3, 1), (3, 2), (3, 4), (3, 4), (6, 5)]
    want = sorted(
        (r["community"], r["members_str"], r["n_members"])
        for r in girvan_newman_fixedpoint(
            spark.createDataFrame(clean, ["src", "dst"]), max_depth=6, n_grid=7
        ).collect()
    )
    got = sorted(
        (r["community"], r["members_str"], r["n_members"])
        for r in girvan_newman_fixedpoint(
            spark.createDataFrame(dirty, ["src", "dst"]), max_depth=6, n_grid=7
        ).collect()
    )
    assert got == want == [(1, "1,2,3", 3), (4, "4,5,6", 3)]


def test_girvan_newman_fixedpoint_grid_resolution_bound(spark):
    """Documented deviation 2 of the integer GN twin (the argmax runs
    over a deterministic grid of removal counts, not every count) gets
    its error bound TESTED: on a planted tree whose true optimal cut
    falls strictly BETWEEN grid points, the returned partition must
    (a) achieve exactly the grid's best integer score — the documented
    semantics, with the smallest-count tie-break — and (b) lie within
    the grid-resolution bound of the true optimum:
    score* − score_grid ≤ (gs−1) · max_k |score(k+1) − score(k)|,
    since some grid point sits within gs−1 removals of the optimum.

    A random TREE (seeded, deterministic) is the planted shape because
    every removal splits a component, so consecutive counts give
    genuinely different partitions and an off-grid optimum is strict,
    not coincidentally tied."""
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        edge_betweenness_fixedpoint,
        girvan_newman_fixedpoint,
    )

    rng = random.Random(0)
    n_verts, n_grid = 24, 7
    edges = [(rng.randrange(i), i) for i in range(1, n_verts)]
    e = sorted(set((min(a, b), max(a, b)) for a, b in edges))
    m = len(e)
    gs = max(1, m // n_grid)
    assert gs == 3

    edf = spark.createDataFrame(e, "src long, dst long")
    bet = {
        (r["src"], r["dst"]): r["credit_sum_fp"]
        for r in edge_betweenness_fixedpoint(edf, max_depth=8).collect()
    }
    sched = sorted(e, key=lambda t: (-bet.get(t, 0), t[0], t[1]))
    verts = sorted({v for t in e for v in t})
    deg: dict = {}
    for a, b in e:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1

    def score_of(comp: dict) -> int:
        # score = Q·8m²: 4·m·e_c − (S_c² − Q2_c) summed over communities,
        # intra edges / degrees always from the ORIGINAL graph
        intra: dict = {}
        s: dict = {}
        q2: dict = {}
        for a, b in e:
            if comp[a] == comp[b]:
                intra[comp[a]] = intra.get(comp[a], 0) + 1
        for v in verts:
            c = comp[v]
            s[c] = s.get(c, 0) + deg[v]
            q2[c] = q2.get(c, 0) + deg[v] ** 2
        return sum(4 * m * intra.get(c, 0) - (s[c] ** 2 - q2[c]) for c in s)

    def comps_after(k: int) -> dict:
        parent = {v: v for v in verts}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in sched[k:]:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {v: find(v) for v in verts}

    scores = {k: score_of(comps_after(k)) for k in range(m + 1)}
    grid = sorted({(r // gs) * gs for r in range(1, m + 1)} | {0})
    k_star, score_star = max(scores.items(), key=lambda kv: (kv[1], -kv[0]))
    grid_score = max(scores[k] for k in grid)
    max_step = max(abs(scores[k + 1] - scores[k]) for k in range(m))

    # the planted premise: the true optimum is strictly between grid points
    assert k_star not in grid and score_star > grid_score
    # pinned values so a silent schedule change resurfaces loudly
    assert (k_star, score_star, grid_score) == (7, 1260, 1232)

    got = girvan_newman_fixedpoint(edf, max_depth=8, n_grid=n_grid).collect()
    comp_engine: dict = {}
    for r in got:
        for v in r["members_str"].split(","):
            comp_engine[int(v)] = r["community"]
    assert sorted(comp_engine) == verts
    engine_score = score_of(comp_engine)
    assert engine_score == grid_score  # (a) exactly the grid argmax
    assert score_star - engine_score <= (gs - 1) * max_step  # (b) the bound


def test_twostar_components_match_unionfind_on_random_graph(spark):
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        connected_components,
        connected_components_twostar,
    )

    rng = random.Random(11)
    edges = set()
    for base in (0, 1000, 2000):
        nodes = list(range(base, base + 60))
        for _ in range(80):
            a, b = rng.sample(nodes, 2)
            edges.add((a, b))
    edf = _edges_df(spark, sorted(edges))
    ref = {
        r["id"]: r["component"]
        for r in connected_components(edf, method="unionfind").collect()
    }
    got = {
        r["id"]: r["component"]
        for r in connected_components_twostar(edf).collect()
    }
    assert got == ref


def test_twostar_converges_in_log_rounds_on_a_path(spark):
    """The point of the algorithm: a 256-hop path has diameter 255, so
    min-label propagation needs 255 rounds — two-star must finish it
    within 12 (O(log^2 n)), and label every vertex with the chain head."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        connected_components_twostar,
    )

    path = _edges_df(spark, [(i, i + 1) for i in range(256)])
    got = {
        r["id"]: r["component"]
        for r in connected_components_twostar(path, max_rounds=12).collect()
    }
    assert len(got) == 257 and set(got.values()) == {0}


def test_twostar_handles_dirty_input_and_isolated_vertices(spark):
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        connected_components_twostar,
    )

    # duplicates, both orientations, a self loop, plus isolated vertex 99
    edges = _edges_df(spark, [(1, 2), (2, 1), (1, 2), (3, 3), (4, 5)])
    verts = spark.createDataFrame([(99,), (1,)], "id long")
    got = {
        r["id"]: r["component"]
        for r in connected_components_twostar(edges, verts).collect()
    }
    assert got == {1: 1, 2: 1, 3: 3, 4: 4, 5: 4, 99: 99}


def _kruskal_ref(elist):
    """Union-find Kruskal under the same (w, src, dst) total order."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = []
    for w, s, d in sorted((w, s, d) for s, d, w in elist):
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
            out.append((s, d, w))
    return sorted(out)


def test_msf_matches_kruskal_on_random_graph(spark):
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        minimum_spanning_forest,
    )

    rng = random.Random(5)
    agg: dict = {}
    for base in (0, 500):
        nodes = list(range(base, base + 40))
        for _ in range(120):
            a, b = rng.sample(nodes, 2)
            k = (min(a, b), max(a, b))
            agg[k] = min(agg.get(k, 10**9), rng.randint(1, 30))
    elist = [(s, d, w) for (s, d), w in agg.items()]
    edf = spark.createDataFrame(elist, "src long, dst long, w long")
    got = sorted(
        (r["src"], r["dst"], r["w"])
        for r in minimum_spanning_forest(edf).collect()
    )
    assert got == _kruskal_ref(elist)
    # spanning forest of 2 components over 80 vertices: 78 edges
    assert len(got) == 78


def test_msf_drops_heavy_shortcut_and_dedups_input(spark):
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        minimum_spanning_forest,
    )

    chain = [(i, i + 1, 1) for i in range(10)]
    edges = chain + [(0, 10, 5), (10, 0, 7), (3, 3, 1), (1, 0, 9)]
    edf = spark.createDataFrame(edges, "src long, dst long, w long")
    got = sorted(
        (r["src"], r["dst"], r["w"])
        for r in minimum_spanning_forest(edf).collect()
    )
    assert got == sorted(chain)


def test_msf_matches_kruskal_across_seeds(spark):
    """Three random graphs with duplicate weights (tie-break stress):
    Boruvka must reproduce the union-find Kruskal forest under the same
    (w, src, dst) total order every time."""
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        minimum_spanning_forest,
    )

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        agg: dict = {}
        for _ in range(90):
            a, b = rng.sample(range(30), 2)
            k = (min(a, b), max(a, b))
            # tiny weight domain -> many ties
            agg[k] = min(agg.get(k, 10**9), rng.randint(1, 4))
        elist = [(s, d, w) for (s, d), w in agg.items()]
        edf = spark.createDataFrame(elist, "src long, dst long, w long")
        got = sorted(
            (r["src"], r["dst"], r["w"])
            for r in minimum_spanning_forest(edf).collect()
        )
        assert got == _kruskal_ref(elist), f"seed {seed}"


def test_weighted_sssp_matches_dijkstra_across_seeds(spark):
    """Random weighted graphs: the frontier Bellman-Ford must reproduce a
    Python Dijkstra from the landmark, including unreachable vertices
    being absent."""
    import heapq
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        weighted_sssp,
    )

    def dijkstra(adj, src):
        dist = {src: 0}
        pq = [(0, src)]
        while pq:
            d, u = heapq.heappop(pq)
            if d > dist.get(u, 1 << 60):
                continue
            for v, w in adj.get(u, []):
                nd = d + w
                if nd < dist.get(v, 1 << 60):
                    dist[v] = nd
                    heapq.heappush(pq, (nd, v))
        return dist

    for seed in (4, 5):
        rng = random.Random(seed)
        triples = []
        seen = set()
        for _ in range(70):
            a, b = rng.sample(range(1, 25), 2)
            k = (min(a, b), max(a, b))
            if k in seen:
                continue
            seen.add(k)
            triples.append((k[0], k[1], rng.randint(1, 9)))
        adj: dict = {}
        for s, d, w in triples:
            adj.setdefault(s, []).append((d, w))
            adj.setdefault(d, []).append((s, w))
        src = min(adj)
        ref = dijkstra(adj, src)
        got = {
            r["id"]: r["dist"]
            for r in weighted_sssp(
                _wedges_df(spark, triples), n_landmarks=1, max_rounds=30
            ).collect()
        }
        assert got == ref, f"seed {seed}"


def _h60_py(s) -> int:
    import hashlib

    return int(hashlib.md5(str(s).encode()).hexdigest()[:15], 16)


def _mis_ref(elist):
    """Pure-Python mirror of the deterministic Luby rounds: winners are
    vertices whose (md5-60bit, id) beats every remaining neighbor's."""
    adj: dict = {}
    for a, b in elist:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rem = set(adj)
    out: dict = {}
    rnd = 0
    while rem:
        rnd += 1
        win = {
            v
            for v in rem
            if all(
                (_h60_py(v), v) < (_h60_py(u), u)
                for u in adj[v]
                if u in rem
            )
        }
        for v in win:
            out[v] = rnd
        kill = set(win)
        for v in win:
            kill |= adj[v] & rem
        rem -= kill
    return out


def test_mis_matches_python_mirror_and_is_maximal(spark):
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        maximal_independent_set,
    )

    rng = random.Random(29)
    edges = set()
    for _ in range(150):
        a, b = rng.sample(range(1, 61), 2)
        edges.add((min(a, b), max(a, b)))
    edges = sorted(edges)
    got = {
        r["id"]: r["mis_round"]
        for r in maximal_independent_set(_edges_df(spark, edges)).collect()
    }
    assert got == _mis_ref(edges)
    mis = set(got)
    # independence: no edge inside the set
    assert not any(a in mis and b in mis for a, b in edges)
    # maximality: every excluded vertex sees the set
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    assert all(adj[v] & mis for v in set(adj) - mis)
    # the kernel actually iterates on this density (not a 1-round fluke)
    assert max(got.values()) >= 2


def test_mis_handles_dirty_input(spark):
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        maximal_independent_set,
    )

    # duplicates, both orientations, and a self loop must not distort
    # neighbor priorities
    edges = [(1, 2), (2, 1), (1, 2), (3, 3), (4, 5), (5, 4)]
    got = {
        r["id"]: r["mis_round"]
        for r in maximal_independent_set(_edges_df(spark, edges)).collect()
    }
    clean = [(1, 2), (4, 5)]
    assert got == _mis_ref(clean)


def _matching_ref(elist):
    """Pure-Python mirror of the deterministic greedy matching rounds."""

    def key(e):
        return (_h60_py(f"{e[0]}:{e[1]}"), e[0], e[1])

    rem = {(min(a, b), max(a, b)) for a, b in elist if a != b}
    out: dict = {}
    rnd = 0
    while rem:
        rnd += 1
        vmin: dict = {}
        for e in rem:
            for v in e:
                if v not in vmin or key(e) < vmin[v]:
                    vmin[v] = key(e)
        won = {e for e in rem if key(e) == vmin[e[0]] and key(e) == vmin[e[1]]}
        if not won:
            break
        for e in won:
            out[e] = rnd
        mv = {v for e in won for v in e}
        rem = {e for e in rem if e[0] not in mv and e[1] not in mv}
    return out


def test_matching_matches_python_mirror_across_seeds(spark):
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        maximal_matching,
    )

    for seed in (3, 17):
        rng = random.Random(seed)
        edges = set()
        for _ in range(120):
            a, b = rng.sample(range(1, 51), 2)
            edges.add((min(a, b), max(a, b)))
        edges = sorted(edges)
        got = {
            (r["src"], r["dst"]): r["match_round"]
            for r in maximal_matching(_edges_df(spark, edges)).collect()
        }
        assert got == _matching_ref(edges)
        # vertex-disjoint
        mv = [v for e in got for v in e]
        assert len(mv) == len(set(mv))
        # maximal: every unmatched edge touches a matched vertex
        assert all(a in set(mv) or b in set(mv) for a, b in edges)


def test_matching_empty_and_single_edge(spark):
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        maximal_matching,
    )

    lone = maximal_matching(_edges_df(spark, [(7, 9)])).collect()
    assert [(r["src"], r["dst"], r["match_round"]) for r in lone] == [
        (7, 9, 1)
    ]
    empty = maximal_matching(
        _edges_df(spark, [(3, 3)])  # self loop only -> no real edges
    ).collect()
    assert empty == []


def test_hyperball_matches_exact_ball_registers(spark):
    """HyperBall's round-t registers equal the HLL registers of the EXACT
    radius-t ball (max-merge over neighbors' sketches = sketch of the
    union), so the whole output is reproducible from a BFS mirror: same
    md5 buckets, same rho, same scaled harmonic sum, same single IEEE
    division per (vertex, round)."""
    import math
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        hyperball_neighborhood,
    )

    rng = random.Random(41)
    edges = set()
    for _ in range(70):
        a, b = rng.sample(range(1, 41), 2)
        edges.add((min(a, b), max(a, b)))
    edges = sorted(edges)
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def ball(v, t):
        cur = {v}
        for _ in range(t):
            cur = cur | {u for x in cur for u in adj[x]}
        return cur

    def est(members):
        regs: dict = {}
        for u in members:
            h = _h60_py(u)
            w = h >> 8
            rho = 53 if w == 0 else 53 - w.bit_length()
            b = h & 255
            regs[b] = max(regs.get(b, 0), rho)
        ss = sum(1 << (53 - r) for r in regs.values()) + (256 - len(regs)) * (
            1 << 53
        )
        return math.floor(47072.71267120224 / (ss / 9007199254740992.0))

    rounds = 3
    exp = {
        t: (len(adj), sum(est(ball(v, t)) for v in adj))
        for t in range(rounds + 1)
    }
    got = {
        r["t"]: (r["n_vertices"], r["nf_estimate"])
        for r in hyperball_neighborhood(
            _edges_df(spark, edges), max_rounds=rounds
        ).collect()
    }
    assert got == exp
    # NF is monotone non-decreasing (balls only grow)
    vals = [got[t][1] for t in range(rounds + 1)]
    assert vals == sorted(vals)


def test_hyperball_saturates_at_component_reach(spark):
    """On a 6-path the ball stops growing at the diameter: NF(5) == NF(6)
    == NF(10-capped rounds), and NF(0) estimates V singleton balls."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        hyperball_neighborhood,
    )

    path = _edges_df(spark, [(i, i + 1) for i in range(1, 7)])
    got = {
        r["t"]: r["nf_estimate"]
        for r in hyperball_neighborhood(path, max_rounds=8).collect()
    }
    assert got[6] == got[7] == got[8] == got[5]
    assert got[0] < got[1] <= got[5]


def _palette_ref(elist, max_rounds=8):
    """Pure-Python mirror of the deterministic Johansson palette rounds."""
    adj: dict = {}
    for a, b in elist:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    unc = set(adj)
    out: dict = {}
    for rnd in range(1, max_rounds + 1):
        if not unc:
            break
        cand = {}
        for v in unc:
            used = {out[u][0] for u in adj[v] if u in out}
            avail = [k for k in range(len(adj[v]) + 1) if k not in used]
            cand[v] = avail[_h60_py(f"{v}:{rnd}") % len(avail)]
        keep = {
            v
            for v in unc
            if not any(
                u in cand
                and cand[u] == cand[v]
                and (_h60_py(u), u) < (_h60_py(v), v)
                for u in adj[v]
            )
        }
        for v in keep:
            out[v] = (cand[v], rnd)
        unc -= keep
    return out


def test_palette_coloring_matches_mirror_and_is_proper(spark):
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        palette_coloring,
    )

    rng = random.Random(13)
    edges = set()
    for _ in range(150):
        a, b = rng.sample(range(1, 51), 2)
        edges.add((min(a, b), max(a, b)))
    edges = sorted(edges)
    got = {
        r["id"]: (r["color"], r["color_round"])
        for r in palette_coloring(_edges_df(spark, edges)).collect()
    }
    assert got == _palette_ref(edges)
    col = {v: c for v, (c, _) in got.items()}
    assert all(col[a] != col[b] for a, b in edges)
    # palette bound: color of v never exceeds deg(v)
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    assert all(col[v] <= len(adj[v]) for v in col)


def test_palette_coloring_bounded_rounds_on_a_clique(spark):
    """The reason this kernel replaces Jones-Plassmann: JP needs k rounds
    on K_k (the priority path is the whole clique); hash-palette indexing
    must finish K12 well inside 8 rounds with a proper 12-coloring."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        palette_coloring,
    )

    k12 = [(a, b) for a in range(1, 13) for b in range(a + 1, 13)]
    got = {
        r["id"]: (r["color"], r["color_round"])
        for r in palette_coloring(_edges_df(spark, k12), max_rounds=8).collect()
    }
    assert got == _palette_ref(k12)
    assert len(got) == 12
    assert len({c for c, _ in got.values()}) == 12  # clique: all distinct
    assert max(r for _, r in got.values()) <= 5


def test_hits_matches_integer_mirror_and_ranks_the_planted_hub(spark):
    """HITS in fixed point must equal the Python mirror exactly, rank the
    supplier covering the most authoritative parts as the top hub, and
    rank the part supplied by every hub as the top authority."""
    from inf_553_datamining_mapreduce_spark.operators.graph import hits_scores

    # suppliers 1..4; supplier 1 supplies every part, part 100 supplied
    # by everyone; supplier 4 supplies only a fringe part
    edges = [
        (1, 100), (1, 101), (1, 102), (1, 103),
        (2, 100), (2, 101),
        (3, 100), (3, 102),
        (4, 104), (4, 100),
    ]

    def mirror(elist, iters=5, scale=1 << 14):
        e = sorted(set(elist))
        hub = {s: scale for s, _ in e}
        auth = {}
        for _ in range(iters):
            araw: dict = {}
            for s, p in e:
                araw[p] = araw.get(p, 0) + hub[s]
            am = max(araw.values())
            auth = {p: (r * scale) // am for p, r in araw.items()}
            hraw: dict = {}
            for s, p in e:
                hraw[s] = hraw.get(s, 0) + auth[p]
            hm = max(hraw.values())
            hub = {s: (r * scale) // hm for s, r in hraw.items()}
        return hub, auth

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r["kind"], r["id"]): r["score_fp"] for r in hits_scores(df).collect()}
    hub, auth = mirror(edges)
    assert got == {
        **{("hub", s): v for s, v in hub.items()},
        **{("authority", p): v for p, v in auth.items()},
    }
    assert max(hub, key=lambda s: (hub[s], -s)) == 1
    assert max(auth, key=lambda p: (auth[p], -p)) == 100
    # normalization: every score in [0, scale]
    assert all(0 <= v <= (1 << 14) for v in got.values())


def test_random_walk_corpus_matches_mirror_and_walks_are_valid(spark):
    """Walks must follow edges, start ``walks_per_vertex`` per vertex,
    advance by the hash-ranked neighbor pick, and match the Python
    mirror row for row."""
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        random_walk_corpus,
    )

    rng = random.Random(23)
    edges = set()
    for _ in range(60):
        a, b = rng.sample(range(1, 26), 2)
        edges.add((min(a, b), max(a, b)))
    edges = sorted(edges)
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def mirror(walk_length=5, wpv=2):
        rows = set()
        for v0 in adj:
            nbrs = {v: sorted(us) for v, us in adj.items()}
            for w in range(wpv):
                v = v0
                rows.add((w, v0, 0, v))
                for s in range(1, walk_length + 1):
                    v = nbrs[v][_h60_py(f"{v}:{w}:{s}") % len(nbrs[v])]
                    rows.add((w, v0, s, v))
        return rows

    got = {
        (r["walk_id"], r["start_id"], r["step"], r["vertex"])
        for r in random_walk_corpus(
            _edges_df(spark, edges), walk_length=5, walks_per_vertex=2
        ).collect()
    }
    assert got == mirror()
    # every transition is an edge
    bywalk: dict = {}
    for w, v0, s, v in got:
        bywalk.setdefault((w, v0), {})[s] = v
    for steps in bywalk.values():
        assert len(steps) == 6
        for s in range(1, 6):
            assert steps[s] in adj[steps[s - 1]]


def test_random_walk_isolated_vertex_emits_no_rows(spark):
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        random_walk_corpus,
    )

    # 9 is isolated in the EDGE table sense (self loop only)
    rows = random_walk_corpus(
        _edges_df(spark, [(1, 2), (9, 9)]), walk_length=4, walks_per_vertex=1
    ).collect()
    by_start: dict = {}
    for r in rows:
        by_start.setdefault(r["start_id"], []).append(r["step"])
    assert sorted(by_start[1]) == [0, 1, 2, 3, 4]
    assert 9 not in by_start  # self loops are dropped with no vertices left


def test_skipgram_pairs_window_and_counts(spark):
    """Pairs come only from within a walk, respect the step window, are
    emitted in both (center, context) directions, and aggregate counts
    across walks."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        skipgram_pairs,
    )

    walks = spark.createDataFrame(
        [
            # walk (0, 1): 1 -> 2 -> 3 -> 4
            (0, 1, 0, 1), (0, 1, 1, 2), (0, 1, 2, 3), (0, 1, 3, 4),
            # walk (0, 9): 9 -> 2 -> 1 (revisits vertices 2 and 1)
            (0, 9, 0, 9), (0, 9, 1, 2), (0, 9, 2, 1),
        ],
        "walk_id int, start_id long, step int, vertex long",
    )
    got = {
        (r["center"], r["context"]): r["n_pairs"]
        for r in skipgram_pairs(walks, window=2).collect()
    }
    # brute-force mirror
    exp: dict = {}
    for wk in ([(0, 1), (1, 2), (2, 3), (3, 4)], [(0, 9), (1, 2), (2, 1)]):
        for sa, va in wk:
            for sb, vb in wk:
                if sa != sb and abs(sa - sb) <= 2:
                    exp[(va, vb)] = exp.get((va, vb), 0) + 1
    assert got == exp
    # window respected: (1, 4) are 3 steps apart in walk 1
    assert (1, 4) not in got
    # symmetric directions both present
    assert got[(1, 2)] == got[(2, 1)] == 2


def test_personalized_pagerank_mass_concentrates_near_seeds(spark):
    """Rooted PageRank: vertices near the seeds outrank distant ones,
    disconnected vertices settle at exactly 0, and the integer output
    matches a Python mirror of the same truncating arithmetic."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        personalized_pagerank,
    )

    # a path 1-2-3-4-5 plus a disconnected pair 10-11; seed = {1} only
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)]

    def mirror(n_seeds=1, iters=10, d=85, scale=1_000_000):
        adj: dict = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        ids = sorted(adj)
        seeds = ids[:n_seeds]
        smass = (100 - d) * scale * len(ids) // (100 * n_seeds)
        rank = {v: scale if v in seeds else 0 for v in ids}
        for _ in range(iters):
            s = {v: 0 for v in ids}
            for v in ids:
                c = rank[v] // len(adj[v])
                for u in adj[v]:
                    s[u] += c
            rank = {
                v: (smass if v in seeds else 0) + d * s[v] // 100
                for v in ids
            }
        return rank

    got = {
        r["id"]: r["rank_fp"]
        for r in personalized_pagerank(
            _edges_df(spark, edges), n_seeds=1, iterations=10
        ).collect()
    }
    assert got == mirror()
    # proximity: the seed's 2-hop neighborhood outranks the far end of
    # the path (NOT strictly monotone per hop — a degree-1 seed forwards
    # its whole rank to its only neighbor, so got[2] > got[1] is normal)
    assert min(got[1], got[2]) > max(got[4], got[5])
    assert got[10] == got[11] == 0


def test_hits_rejects_zero_iterations(spark):
    """iters=0 is a contract violation (auth never materializes), not an
    AttributeError crash (ADVICE r8)."""
    from inf_553_datamining_mapreduce_spark.operators.graph import hits_scores

    with pytest.raises(ValueError, match="iters"):
        hits_scores(_edges_df(spark, [(1, 2)]), iters=0)


def test_personalized_pagerank_clamps_seed_count(spark):
    """Requesting more seeds than the graph has vertices clamps the
    teleport split to the ACTUAL seed count, preserving the documented
    |V|*(100-d)*scale/100 total-mass invariant (ADVICE r8); n_seeds=0
    raises instead of ZeroDivisionError."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = [(1, 2), (2, 3)]
    base = {
        r["id"]: r["rank_fp"]
        for r in personalized_pagerank(
            _edges_df(spark, edges), n_seeds=3, iterations=5
        ).collect()
    }
    clamped = {
        r["id"]: r["rank_fp"]
        for r in personalized_pagerank(
            _edges_df(spark, edges), n_seeds=50, iterations=5
        ).collect()
    }
    assert clamped == base
    with pytest.raises(ValueError, match="n_seeds"):
        personalized_pagerank(_edges_df(spark, edges), n_seeds=0)


def test_random_walk_max_degree_lever_bounds_hub_fanout(spark):
    """The celebrity-vertex lever: on a planted star (hub 0, 400 leaves)
    ``max_degree=16`` bounds the hub's surviving neighbor set near the
    cap (binomial around 16, never the full 400), keeps every vertex
    reachable (min-hash neighbor always survives), stays deterministic,
    and leaves small-degree graphs untouched (exact = unlevered)."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        random_walk_corpus,
    )

    star = [(0, i) for i in range(1, 401)]
    walks = random_walk_corpus(
        _edges_df(spark, star), walk_length=4, walks_per_vertex=1,
        max_degree=16,
    )
    rows = walks.collect()
    # hub steps only visit the sampled neighbor set: collect the distinct
    # vertices reached from the hub's own walk plus leaf walks bouncing
    # through the hub — bounded well under the full 400 fan-out
    hub_walk = sorted(
        (r["step"], r["vertex"]) for r in rows if r["start_id"] == 0
    )
    assert hub_walk[0] == (0, 0) and len(hub_walk) == 5  # full length
    reached_from_hub = {
        r["vertex"]
        for r in rows
        if r["step"] == 1 and r["start_id"] == 0
    }
    assert reached_from_hub and len(reached_from_hub) <= 64
    # every leaf's step-1 hop lands on the hub (its only neighbor — the
    # min-hash guarantee keeps leaf->hub edges alive in both directions)
    leaf_step1 = {r["vertex"] for r in rows if r["step"] == 1 and r["start_id"] != 0}
    assert leaf_step1 == {0}
    # deterministic: a second invocation is bit-identical
    again = random_walk_corpus(
        _edges_df(spark, star), walk_length=4, walks_per_vertex=1,
        max_degree=16,
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # a graph under the cap is EXACT: lever output == unlevered output
    small = [(1, 2), (2, 3), (3, 4), (1, 4)]
    exact = random_walk_corpus(
        _edges_df(spark, small), walk_length=5, walks_per_vertex=2
    ).collect()
    levered = random_walk_corpus(
        _edges_df(spark, small), walk_length=5, walks_per_vertex=2,
        max_degree=16,
    ).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, levered))


def _swedges_df(spark, triples):
    return spark.createDataFrame(
        [(int(a), int(b), int(w)) for a, b, w in triples],
        "src long, dst long, shared long",
    )


def test_weighted_walk_matches_python_ladder_mirror(spark):
    """Every weighted-walk transition must match the pure-Python
    cumulative-weight ladder draw (md5("v:w:s") mod W(v) into the
    dst-ascending running sum) row for row."""
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        weighted_walk_corpus,
    )

    rng = random.Random(41)
    triples = {}
    for _ in range(50):
        a, b = rng.sample(range(1, 21), 2)
        triples[(min(a, b), max(a, b))] = rng.randint(1, 9)
    adj: dict = {}
    for (a, b), w in triples.items():
        adj.setdefault(a, {})[b] = w
        adj.setdefault(b, {})[a] = w

    def mirror(walk_length=5, wpv=2):
        rows = set()
        for v0 in adj:
            for w in range(wpv):
                v = v0
                rows.add((w, v0, 0, v))
                for s in range(1, walk_length + 1):
                    nbrs = sorted(adj[v].items())
                    tot = sum(wt for _, wt in nbrs)
                    pick = _h60_py(f"{v}:{w}:{s}") % tot
                    cum = 0
                    for dst, wt in nbrs:
                        cum += wt
                        if pick < cum:
                            v = dst
                            break
                    rows.add((w, v0, s, v))
        return rows

    got = {
        (r["walk_id"], r["start_id"], r["step"], r["vertex"])
        for r in weighted_walk_corpus(
            _swedges_df(spark, [(a, b, w) for (a, b), w in triples.items()]),
            walk_length=5,
            walks_per_vertex=2,
        ).collect()
    }
    assert got == mirror()


def test_weighted_walk_unit_weights_reduce_to_first_order(spark):
    """With all weights 1 the ladder pick degenerates to the rank pick
    (cum = rank + 1 makes the interval test draw mod deg == rank), so
    the weighted engine is BIT-IDENTICAL to random_walk_corpus on an
    unweighted graph — the documented special case, pinned here."""
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        random_walk_corpus,
        weighted_walk_corpus,
    )

    rng = random.Random(7)
    pairs = set()
    for _ in range(40):
        a, b = rng.sample(range(1, 16), 2)
        pairs.add((min(a, b), max(a, b)))
    uw = random_walk_corpus(
        _edges_df(spark, sorted(pairs)), walk_length=6, walks_per_vertex=2
    ).collect()
    ww = weighted_walk_corpus(
        _swedges_df(spark, [(a, b, 1) for a, b in sorted(pairs)]),
        walk_length=6,
        walks_per_vertex=2,
    ).collect()
    assert sorted(map(tuple, uw)) == sorted(map(tuple, ww))


def test_weighted_walk_bias_and_nonpositive_weights(spark):
    """A heavy edge dominates the draw (the weight actually steers the
    walk), and weight <= 0 edges are no edges at all: never walked,
    never a start."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        weighted_walk_corpus,
    )

    # star: hub 0 with leaves 1..10; edge 0-1 carries 50x the weight
    star = [(0, 1, 50)] + [(0, i, 1) for i in range(2, 11)]
    rows = weighted_walk_corpus(
        _swedges_df(spark, star), walk_length=6, walks_per_vertex=24
    ).collect()
    bywalk: dict = {}
    for r in rows:
        bywalk.setdefault((r["walk_id"], r["start_id"]), {})[r["step"]] = r[
            "vertex"
        ]
    hub_exits = [0, 0]  # [to leaf 1, to other leaves]
    for steps in bywalk.values():
        for s in range(1, 7):
            if steps[s - 1] == 0:
                hub_exits[0 if steps[s] == 1 else 1] += 1
    # expected share 50/59 ~ 0.85; require a clear majority
    assert hub_exits[0] > 2 * hub_exits[1]
    # zero-weight edge: vertex 3 connected only by weight 0 -> absent
    g = [(1, 2, 3), (1, 3, 0)]
    rows0 = weighted_walk_corpus(
        _swedges_df(spark, g), walk_length=4, walks_per_vertex=2
    ).collect()
    verts = {r["vertex"] for r in rows0}
    starts = {r["start_id"] for r in rows0}
    assert 3 not in verts and 3 not in starts
    assert starts == {1, 2}


def test_weighted_walk_rejects_conflicting_pair_weights(spark):
    """The one-weight-per-undirected-pair contract is ENFORCED (ADVICE
    r10): an input carrying the same pair with two distinct weights —
    as duplicate rows or as contradictory directions — must raise
    loudly instead of silently double-weighting the pick ladder; a
    consistent mirrored input (same weight both directions) stays
    legal because the distinct() collapses it."""
    import pytest as _pytest

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        node2vec_walk_corpus,
        weighted_walk_corpus,
    )

    dup = _swedges_df(spark, [(1, 2, 5), (1, 2, 7), (2, 3, 1)])
    with _pytest.raises(ValueError, match="one-weight-per-pair"):
        weighted_walk_corpus(dup, walk_length=2, walks_per_vertex=1)
    contradicting = _swedges_df(spark, [(1, 2, 5), (2, 1, 7)])
    with _pytest.raises(ValueError, match="one-weight-per-pair"):
        weighted_walk_corpus(
            contradicting, walk_length=2, walks_per_vertex=1
        )
    with _pytest.raises(ValueError, match="one-weight-per-pair"):
        node2vec_walk_corpus(
            dup, walk_length=2, walks_per_vertex=1, weight_col="shared"
        )
    # consistent mirror rows are fine (the distinct() collapses them)
    ok = _swedges_df(spark, [(1, 2, 5), (2, 1, 5), (2, 3, 1)])
    assert weighted_walk_corpus(
        ok, walk_length=2, walks_per_vertex=1
    ).count() > 0


def test_weighted_walk_max_degree_lever_bounds_hub_fanout(spark):
    """The celebrity lever on the WEIGHTED engine: same planted star as
    the first-order test — hub fan-out bounded near the cap, min-hash
    reachability, determinism, and under-cap exactness (lever output ==
    unlevered output)."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        weighted_walk_corpus,
    )

    star = [(0, i, 1 + (i % 5)) for i in range(1, 401)]
    walks = weighted_walk_corpus(
        _swedges_df(spark, star), walk_length=4, walks_per_vertex=1,
        max_degree=16,
    )
    rows = walks.collect()
    reached_from_hub = {
        r["vertex"] for r in rows if r["step"] == 1 and r["start_id"] == 0
    }
    assert reached_from_hub and len(reached_from_hub) <= 64
    leaf_step1 = {
        r["vertex"] for r in rows if r["step"] == 1 and r["start_id"] != 0
    }
    assert leaf_step1 == {0}
    again = weighted_walk_corpus(
        _swedges_df(spark, star), walk_length=4, walks_per_vertex=1,
        max_degree=16,
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    small = [(1, 2, 5), (2, 3, 2), (3, 4, 1), (1, 4, 7)]
    exact = weighted_walk_corpus(
        _swedges_df(spark, small), walk_length=5, walks_per_vertex=2
    ).collect()
    levered = weighted_walk_corpus(
        _swedges_df(spark, small), walk_length=5, walks_per_vertex=2,
        max_degree=16,
    ).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, levered))


def test_node2vec_max_degree_lever_bounds_hub_fanout(spark):
    """The celebrity lever on the SECOND-ORDER engine (r9 verdict item
    1): same planted star as the first-order test — the hub's surviving
    fan-out is bounded near the cap, every leaf stays reachable through
    the min-hash guarantee, the run is deterministic, and a small graph
    under the cap is bit-identical to the unlevered walk (which itself
    is pinned equal to the shared _degree_cap sample of the first-order
    engine at step 1)."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        node2vec_walk_corpus,
    )

    star = [(0, i) for i in range(1, 401)]
    walks = node2vec_walk_corpus(
        _edges_df(spark, star), walk_length=4, walks_per_vertex=1,
        max_degree=16,
    )
    rows = walks.collect()
    hub_walk = sorted(
        (r["step"], r["vertex"]) for r in rows if r["start_id"] == 0
    )
    assert hub_walk[0] == (0, 0) and len(hub_walk) == 5  # full length
    # the hub's step-1 hop and every leaf-walk step-2 bounce through the
    # hub can only land on the SAMPLED neighbor set — bounded well under
    # the 400-leaf fan-out (binomial around 16)
    reached_via_hub = {
        r["vertex"]
        for r in rows
        if (r["step"] == 1 and r["start_id"] == 0)
        or (r["step"] == 2 and r["start_id"] != 0 and r["vertex"] != 0)
    }
    assert reached_via_hub and len(reached_via_hub) <= 64
    # every leaf's step-1 hop lands on the hub (min-hash keeps it alive)
    leaf_step1 = {
        r["vertex"] for r in rows if r["step"] == 1 and r["start_id"] != 0
    }
    assert leaf_step1 == {0}
    # deterministic: a second invocation is bit-identical
    again = node2vec_walk_corpus(
        _edges_df(spark, star), walk_length=4, walks_per_vertex=1,
        max_degree=16,
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # a graph under the cap is EXACT: lever output == unlevered output
    small = [(1, 2), (2, 3), (3, 4), (1, 4)]
    exact = node2vec_walk_corpus(
        _edges_df(spark, small), walk_length=5, walks_per_vertex=2
    ).collect()
    levered = node2vec_walk_corpus(
        _edges_df(spark, small), walk_length=5, walks_per_vertex=2,
        max_degree=16,
    ).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, levered))


def test_node2vec_weighted_kernel_matches_python_mirror(spark):
    """The FULL node2vec transition kernel pi = alpha_pq(t, x) * w_vx:
    step 1 draws by edge weight alone, steps >= 2 by alpha * weight —
    every hop must match the pure-Python ladder mirror, and with all
    weights 1 the engine must be bit-identical to the unweighted one."""
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        node2vec_walk_corpus,
    )

    rng = random.Random(59)
    triples = {}
    for _ in range(45):
        a, b = rng.sample(range(1, 18), 2)
        triples[(min(a, b), max(a, b))] = rng.randint(1, 7)
    adj: dict = {}
    for (a, b), w in triples.items():
        adj.setdefault(a, {})[b] = w
        adj.setdefault(b, {})[a] = w
    rw, cw, fw, L, wpv = 2, 2, 1, 4, 2

    def ladder_pick(cands, pick):
        # cands: [(dst, wgt)] dst-ascending, wgt > 0 filtered by caller
        tot = sum(w for _, w in cands)
        pick %= tot
        cum = 0
        for dst, w in cands:
            cum += w
            if pick < cum:
                return dst
        raise AssertionError("unreachable")

    def mirror():
        rows = set()
        for v0 in adj:
            for w in range(wpv):
                v = v0
                rows.add((w, v0, 0, v))
                cands = sorted(adj[v].items())
                v, prev = ladder_pick(cands, _h60_py(f"{v}:{w}:1")), v
                rows.add((w, v0, 1, v))
                for s in range(2, L + 1):
                    cands = sorted(
                        (
                            dst,
                            (
                                rw
                                if dst == prev
                                else (cw if dst in adj[prev] else fw)
                            )
                            * ew,
                        )
                        for dst, ew in adj[v].items()
                    )
                    nxt = ladder_pick(
                        cands, _h60_py(f"{prev}:{v}:{w}:{s}")
                    )
                    prev, v = v, nxt
                    rows.add((w, v0, s, v))
        return rows

    wedges = _swedges_df(spark, [(a, b, w) for (a, b), w in triples.items()])
    got = {
        (r["walk_id"], r["start_id"], r["step"], r["vertex"])
        for r in node2vec_walk_corpus(
            wedges, walk_length=L, walks_per_vertex=wpv,
            return_w=rw, common_w=cw, far_w=fw, weight_col="shared",
        ).collect()
    }
    assert got == mirror()
    # unit weights: the weighted kernel reduces to the unweighted one
    pairs = sorted(triples)
    uw = node2vec_walk_corpus(
        _edges_df(spark, pairs), walk_length=L, walks_per_vertex=wpv,
        return_w=rw, common_w=cw, far_w=fw,
    ).collect()
    ww = node2vec_walk_corpus(
        _swedges_df(spark, [(a, b, 1) for a, b in pairs]),
        walk_length=L, walks_per_vertex=wpv,
        return_w=rw, common_w=cw, far_w=fw, weight_col="shared",
    ).collect()
    assert sorted(map(tuple, uw)) == sorted(map(tuple, ww))


def test_node2vec_weighted_step1_equals_weighted_walk(spark):
    """Step 1 of the weighted second-order engine is the first-order
    weighted draw (same salt, same ladder), so its step-0/1 rows must
    equal weighted_walk_corpus's on the same graph — the weighted twin
    of the step-1-equals-DeepWalk pin."""
    import random

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        node2vec_walk_corpus,
        weighted_walk_corpus,
    )

    rng = random.Random(3)
    triples = {}
    for _ in range(30):
        a, b = rng.sample(range(1, 13), 2)
        triples[(min(a, b), max(a, b))] = rng.randint(1, 6)
    wedges = [(a, b, w) for (a, b), w in triples.items()]
    n2v = node2vec_walk_corpus(
        _swedges_df(spark, wedges), walk_length=3, walks_per_vertex=2,
        weight_col="shared",
    ).collect()
    fo = weighted_walk_corpus(
        _swedges_df(spark, wedges), walk_length=3, walks_per_vertex=2,
    ).collect()
    head = lambda rows: sorted(
        (r["walk_id"], r["start_id"], r["step"], r["vertex"])
        for r in rows
        if r["step"] <= 1
    )
    assert head(n2v) == head(fo)


def test_node2vec_degenerate_weights_pin_bfs_and_dfs_limits(spark):
    """The verdict-prescribed degeneracy pins: weights (1, 0, 0) — the
    p->0 limit — oscillate prev<->current (pure backtrack, BFS-like
    locality); weights (0, 0, 1) — the q->0 limit — never revisit prev
    or its neighborhood, marching monotonically down a path (DFS-like);
    and steps 0-1 agree with the first-order engine (uniform first
    hop)."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        node2vec_walk_corpus,
        random_walk_corpus,
    )

    path = [(i, i + 1) for i in range(1, 8)]  # 1-2-3-4-5-6-7-8

    # p->0: always return. From any start the walk alternates between
    # its first two vertices.
    back = node2vec_walk_corpus(
        _edges_df(spark, path), walk_length=6, walks_per_vertex=1,
        return_w=1, common_w=0, far_w=0,
    ).collect()
    by_start: dict = {}
    for r in back:
        by_start.setdefault(r["start_id"], []).append((r["step"], r["vertex"]))
    for start, seq in by_start.items():
        seq = [v for _, v in sorted(seq)]
        assert len(seq) == 7
        assert seq[0] == start
        assert all(v == seq[s % 2] for s, v in enumerate(seq))

    # q->0: never backtrack into prev's closed neighborhood. On a path
    # the only non-returning candidate is the next vertex over, so the
    # walk is strictly monotone until it hits an endpoint and dies
    # (tot = 0: return_w is 0).
    dfs = node2vec_walk_corpus(
        _edges_df(spark, path), walk_length=10, walks_per_vertex=1,
        return_w=0, common_w=0, far_w=1,
    ).collect()
    seqs: dict = {}
    for r in dfs:
        seqs.setdefault(r["start_id"], []).append((r["step"], r["vertex"]))
    for start, seq in seqs.items():
        seq = [v for _, v in sorted(seq)]
        diffs = {b - a for a, b in zip(seq[1:], seq[2:])}
        # after the uniform first hop the march is monotone
        assert diffs <= {1} or diffs <= {-1}
        # and it dies exactly at the endpoint, never wrapping back
        assert seq[-1] in (1, 8)

    # steps 0-1 match the first-order engine bit for bit
    ring = [(i, (i % 6) + 1) for i in range(1, 7)]
    n2v = {
        (r["walk_id"], r["start_id"], r["step"], r["vertex"])
        for r in node2vec_walk_corpus(
            _edges_df(spark, ring), walk_length=1, walks_per_vertex=2
        ).collect()
    }
    first = {
        (r["walk_id"], r["start_id"], r["step"], r["vertex"])
        for r in random_walk_corpus(
            _edges_df(spark, ring), walk_length=1, walks_per_vertex=2
        ).collect()
    }
    assert n2v == first

    with pytest.raises(ValueError, match="weights"):
        node2vec_walk_corpus(_edges_df(spark, path), return_w=0,
                             common_w=0, far_w=0)


def test_sgns_epoch_matches_python_mirror_and_pulls_cooccurring_pairs(spark):
    """One synchronous SGNS epoch: (a) bit-exact against a pure-Python
    mirror of the fixed-point arithmetic (hash init, hard sigmoid,
    md5-rank negatives, shifted floor-div); (b) the planted co-occurring
    pair's in·out affinity strictly increases while a stranger pair's
    does not (positives only touch their own rows)."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        sgns_embeddings,
    )

    DIM, K, A, SC, LR = 4, 2, 64, 4096, 16
    Z0 = DIM * A * A
    C = 1 << 32

    def sdiv(x, den):
        return (x + den * C) // den - C

    # planted: 1<->2 co-occur heavily, 3<->4 co-occur heavily, no cross
    plist = [(1, 2, 40), (2, 1, 40), (3, 4, 40), (4, 3, 40)]
    pairs = spark.createDataFrame(
        plist, "center long, context long, n_pairs long"
    )
    got = {
        (r["kind"], r["id"], r["d"]): r["emb_fp"]
        for r in sgns_embeddings(
            pairs, dim=DIM, negatives=K, amp=A, sig_scale=SC, lr_den=LR
        ).collect()
    }

    vocab = sorted({c for c, _, _ in plist} | {x for _, x, _ in plist})
    rnk = {i: v for i, v in enumerate(vocab)}
    iv = {
        (v, d): _h60_py(f"{v}:i:{d}") % (2 * A + 1) - A
        for v in vocab for d in range(DIM)
    }
    ov = {
        (v, d): _h60_py(f"{v}:o:{d}") % (2 * A + 1) - A
        for v in vocab for d in range(DIM)
    }

    def sig(z):
        return min(SC, max(0, ((z + 2 * Z0) * SC) // (4 * Z0)))

    din: dict = {}
    dout: dict = {}
    for c, x, n in plist:
        z = sum(iv[(c, d)] * ov[(x, d)] for d in range(DIM))
        g = SC - sig(z)
        for d in range(DIM):
            din[(c, d)] = din.get((c, d), 0) + sdiv(n * g * ov[(x, d)], SC)
            dout[(x, d)] = dout.get((x, d), 0) + sdiv(n * g * iv[(c, d)], SC)
        for j in range(1, K + 1):
            nv = rnk[_h60_py(f"{c}:{x}:{j}") % len(vocab)]
            zn = sum(iv[(c, d)] * ov[(nv, d)] for d in range(DIM))
            gn = sig(zn)
            for d in range(DIM):
                din[(c, d)] = din.get((c, d), 0) - sdiv(
                    n * gn * ov[(nv, d)], SC
                )
                dout[(nv, d)] = dout.get((nv, d), 0) - sdiv(
                    n * gn * iv[(c, d)], SC
                )
    exp = {}
    for v in vocab:
        for d in range(DIM):
            exp[("in", v, d)] = iv[(v, d)] + sdiv(din.get((v, d), 0), LR)
            exp[("out", v, d)] = ov[(v, d)] + sdiv(dout.get((v, d), 0), LR)
    assert got == exp

    def affinity(emb, u, v):
        return sum(
            emb[("in", u, d)] * emb[("out", v, d)] for d in range(DIM)
        )

    init = {}
    for v in vocab:
        for d in range(DIM):
            init[("in", v, d)] = iv[(v, d)]
            init[("out", v, d)] = ov[(v, d)]
    # co-occurring pairs move strictly closer in the in·out affinity
    assert affinity(got, 1, 2) > affinity(init, 1, 2)
    assert affinity(got, 3, 4) > affinity(init, 3, 4)
    # and land above the stranger affinity
    assert affinity(got, 1, 2) > affinity(got, 1, 4)
    assert affinity(got, 3, 4) > affinity(got, 3, 2)


def test_sgns_two_epochs_match_iterated_python_mirror(spark):
    """epochs=2 must equal applying the synchronous update TWICE in the
    Python mirror (gradients from each epoch's starting vectors, fixed
    negative draws) — and differ from the single-epoch output."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        sgns_embeddings,
    )

    DIM, K, A, SC, LR = 4, 2, 64, 4096, 16
    Z0 = DIM * A * A
    C = 1 << 32

    def sdiv(x, den):
        return (x + den * C) // den - C

    plist = [(1, 2, 40), (2, 1, 40), (3, 4, 40), (4, 3, 40)]
    pairs = spark.createDataFrame(
        plist, "center long, context long, n_pairs long"
    )
    vocab = sorted({c for c, _, _ in plist} | {x for _, x, _ in plist})
    rnk = {i: v for i, v in enumerate(vocab)}
    iv = {
        (v, d): _h60_py(f"{v}:i:{d}") % (2 * A + 1) - A
        for v in vocab for d in range(DIM)
    }
    ov = {
        (v, d): _h60_py(f"{v}:o:{d}") % (2 * A + 1) - A
        for v in vocab for d in range(DIM)
    }
    draws = {
        (c, x, j): rnk[_h60_py(f"{c}:{x}:{j}") % len(vocab)]
        for c, x, _ in plist for j in range(1, K + 1)
    }

    def sig(z):
        return min(SC, max(0, sdiv((z + 2 * Z0) * SC, 4 * Z0)))

    def epoch(iv, ov):
        din: dict = {}
        dout: dict = {}
        for c, x, n in plist:
            z = sum(iv[(c, d)] * ov[(x, d)] for d in range(DIM))
            g = SC - sig(z)
            for d in range(DIM):
                din[(c, d)] = din.get((c, d), 0) + sdiv(
                    n * g * ov[(x, d)], SC
                )
                dout[(x, d)] = dout.get((x, d), 0) + sdiv(
                    n * g * iv[(c, d)], SC
                )
            for j in range(1, K + 1):
                nv = draws[(c, x, j)]
                gn = sig(
                    sum(iv[(c, d)] * ov[(nv, d)] for d in range(DIM))
                )
                for d in range(DIM):
                    din[(c, d)] = din.get((c, d), 0) - sdiv(
                        n * gn * ov[(nv, d)], SC
                    )
                    dout[(nv, d)] = dout.get((nv, d), 0) - sdiv(
                        n * gn * iv[(c, d)], SC
                    )
        iv2 = {
            k: iv[k] + sdiv(din.get(k, 0), LR) for k in iv
        }
        ov2 = {
            k: ov[k] + sdiv(dout.get(k, 0), LR) for k in ov
        }
        return iv2, ov2

    iv1, ov1 = epoch(iv, ov)
    iv2, ov2 = epoch(iv1, ov1)
    got2 = {
        (r["kind"], r["id"], r["d"]): r["emb_fp"]
        for r in sgns_embeddings(
            pairs, dim=DIM, negatives=K, amp=A, sig_scale=SC,
            lr_den=LR, epochs=2,
        ).collect()
    }
    exp2 = {("in", v, d): iv2[(v, d)] for v in vocab for d in range(DIM)}
    exp2.update(
        {("out", v, d): ov2[(v, d)] for v in vocab for d in range(DIM)}
    )
    assert got2 == exp2
    # the second epoch actually moves the vectors
    exp1 = {("in", v, d): iv1[(v, d)] for v in vocab for d in range(DIM)}
    assert any(
        got2[("in", v, d)] != exp1[("in", v, d)]
        for v in vocab for d in range(DIM)
    )
    with pytest.raises(ValueError):
        sgns_embeddings(pairs, epochs=0)


def test_weighted_pick_matches_python_mirror(spark):
    """The shared ladder pick (r9 verdict item 8): per key exactly one
    winner, landed on the same row a pure-Python cumulative-weight
    mirror picks; zero-weight rows never win; an all-zero group emits
    nothing."""
    from pyspark.sql import functions as F

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        _pri60,
        weighted_pick,
    )

    rows = []
    weights = {
        1: [(10, 3), (11, 0), (12, 5), (13, 1)],
        2: [(20, 7)],
        3: [(30, 0), (31, 0)],  # all-zero group: no winner
        4: [(40, 2), (41, 2), (42, 2)],
    }
    for k, cands in weights.items():
        for v, w in cands:
            rows.append((k, v, w))
    df = spark.createDataFrame(rows, "k long, v long, w long")
    got = {
        r["k"]: r["v"]
        for r in weighted_pick(
            df, ["k"], "w", "v",
            _pri60(F.concat_ws(":", F.col("k").cast("string"), F.lit("s"))),
        ).collect()
    }
    exp = {}
    for k, cands in weights.items():
        tot = sum(w for _, w in cands)
        if tot == 0:
            continue
        pick = _h60_py(f"{k}:s") % tot
        cum = 0
        for v, w in sorted(cands):
            cum += w
            if w > 0 and cum - w <= pick < cum:
                exp[k] = v
                break
    assert got == exp
    assert 3 not in got and len(got) == 3


def test_sgns_w34_weight_matches_python_and_duckdb(spark):
    """floor(freq^0.75 * 8) via the nested exact isqrt: bit-equal to
    Python's math.isqrt composition across the whole supported range
    boundary region, and the SAME SQL text evaluates identically in
    DuckDB (the oracle shares it verbatim)."""
    import math

    import duckdb

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        SGNS_W34_FREQ_MAX,
        SGNS_W34_SCALE,
        _sgns_w34_sql,
    )

    freqs = list(range(0, 300)) + [
        999, 1000, 4095, 4096, 65534, SGNS_W34_FREQ_MAX - 1
    ]
    fdf = spark.createDataFrame([(f,) for f in freqs], "freq long")
    got = {
        r["freq"]: r["w"]
        for r in fdf.selectExpr(
            "freq", f"{_sgns_w34_sql('freq')} AS w"
        ).collect()
    }
    s4 = SGNS_W34_SCALE ** 4
    exp = {f: math.isqrt(math.isqrt(f ** 3 * s4)) for f in freqs}
    assert got == exp
    # the exponent really is 0.75 at scale 8 (float cross-check)
    assert all(
        got[f] == int(f ** 0.75 * SGNS_W34_SCALE + 1e-9)
        for f in freqs if f in (1, 16, 256, 4096, 65534)
    )
    con = duckdb.connect()
    duck = {
        f: con.execute(
            f"SELECT {_sgns_w34_sql(str(f))} AS w"
        ).fetchone()[0]
        for f in (0, 1, 7, 100, 4096, SGNS_W34_FREQ_MAX - 1)
    }
    assert all(duck[f] == exp[f] for f in duck)


def test_sgns_weighted_negatives_favor_frequent_vertices(spark):
    """The unigram^0.75 draw (r9 verdict item 4): a high-frequency
    vertex is drawn as negative far more often than a rare one, every
    draw matches the pure-Python ladder mirror exactly, and zero-weight
    vertices are never drawn."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        SGNS_W34_SCALE,
        _sgns_negative_draws,
    )
    import math

    # vertex 1 is the celebrity: total pair count 1000; 2..20 have 1
    plist = [(1, 1 + (i % 19 + 1), 50) for i in range(20)]  # freq(1)=1000
    plist += [(v, 1, 1) for v in range(2, 21)]  # freq(v)=1 each
    p = spark.createDataFrame(
        plist, "center long, context long, n_pairs long"
    ).select(
        F.col("center").alias("c"),
        F.col("context").alias("x"),
        F.col("n_pairs").cast("long").alias("n"),
    )
    vocab = (
        p.select(F.col("c").alias("v"))
        .union(p.select(F.col("x").alias("v")))
        .distinct()
        .select(
            "v", (F.row_number().over(Window.orderBy("v")) - 1).alias("rnk")
        )
    )
    n_vocab = vocab.count()
    draws = _sgns_negative_draws(p, vocab, n_vocab, 4, "unigram34").collect()
    # python mirror of the ladder
    freq = {1: 1000, **{v: 1 for v in range(2, 21)}}
    w = {
        v: math.isqrt(math.isqrt(freq[v] ** 3 * SGNS_W34_SCALE ** 4))
        for v in freq
    }
    ladder = []
    cum = 0
    for v in sorted(w):
        cum += w[v]
        ladder.append((v, cum - w[v], cum))
    tot = cum

    def mirror(c, x_pos, j):
        pick = _h60_py(f"{c}:{x_pos}:{j}") % tot
        for v, lo, hi in ladder:
            if lo <= pick < hi and hi > lo:
                return v
        raise AssertionError("pick landed nowhere")

    assert draws  # non-empty
    for r in draws:
        assert r["x"] == mirror(r["c"], r["x_pos"], r["j"])
    counts: dict = {}
    for r in draws:
        counts[r["x"]] = counts.get(r["x"], 0) + 1
    n_draws = len(draws)
    # celebrity weight share = w(1)/tot ≈ 90%: it must dominate every
    # rare vertex and take well over half the draws
    assert counts.get(1, 0) > n_draws // 2
    assert counts.get(1, 0) > max(
        (counts.get(v, 0) for v in range(2, 21)), default=0
    )


def test_walk_embedding_pipeline_planted_communities_are_topk(spark):
    """The composed walks -> pairs -> SGNS -> top-k pipeline (r9 verdict
    item 5) on two DISCONNECTED planted cliques: walks never cross, so
    trained same-clique affinity dominates — every vertex's top
    neighbors under the inner-product consumer are its own clique
    mates, mutually."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        random_walk_corpus,
        sgns_embeddings,
        sgns_topk_neighbors,
        skipgram_pairs,
    )

    import itertools

    cliques = [[1, 2, 3, 4, 5], [11, 12, 13, 14, 15]]
    edges = [
        (a, b)
        for cl in cliques
        for a, b in itertools.combinations(cl, 2)
    ]
    walks = random_walk_corpus(
        _edges_df(spark, edges), walk_length=8, walks_per_vertex=4
    )
    # negatives=1 / lr_den=8: enough negative-sampling signal to
    # exercise the draw path while the positive same-clique gradients
    # (which share each clique's Σ out0 direction) dominate the
    # hash-random init — measured: this setting separates the cliques
    # PERFECTLY, while heavy uniform negatives (drawn across cliques)
    # inject cross-community correlation at this toy scale.
    emb = sgns_embeddings(
        skipgram_pairs(walks, window=2),
        dim=8, negatives=1, amp=64, sig_scale=4096, lr_den=8, epochs=2,
    )
    got = sgns_topk_neighbors(emb, k=4, n_queries=10).collect()
    mates = {v: set(cl) - {v} for cl in cliques for v in cl}
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"])
        )
    assert set(by_q) == {v for cl in cliques for v in cl}
    for qv, ranked in by_q.items():
        assert {n for _, n in ranked} == mates[qv], (qv, sorted(ranked))


def test_walk_embedding_clusters_separate_planted_communities(spark):
    """The four-stage pipeline walks -> pairs -> SGNS -> integer Lloyd
    (graph.sgns_embedding_clusters) on two DISCONNECTED planted cliques:
    same-clique vertices must land in one cluster and the two cliques in
    DIFFERENT clusters — embedding-based community detection recovering
    the planted structure end to end."""
    import itertools

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        random_walk_corpus,
        sgns_embedding_clusters,
        sgns_embeddings,
        skipgram_pairs,
    )

    # ids interleaved so Lloyd's first-k-by-id seeding (vertices 1 and
    # 2) puts one seed in EACH clique — with both seeds in one clique,
    # k=2 must split it and lump the other, by the deterministic rule
    cliques = [[1, 3, 4, 5, 6], [2, 12, 13, 14, 15]]
    edges = [
        (a, b)
        for cl in cliques
        for a, b in itertools.combinations(cl, 2)
    ]
    walks = random_walk_corpus(
        _edges_df(spark, edges), walk_length=8, walks_per_vertex=4
    )
    # the top-k pipeline's setting plus one more epoch: k-means reads
    # EUCLIDEAN geometry, not the inner product SGNS optimizes, and the
    # measured scan shows the L2 structure needs 3 epochs to line up
    # with the planted partition (2 epochs already separate under the
    # inner-product consumer)
    emb = sgns_embeddings(
        skipgram_pairs(walks, window=2),
        dim=8, negatives=1, amp=64, sig_scale=4096, lr_den=8, epochs=3,
    )
    got = {
        r["vertex"]: r["cluster_id"]
        for r in sgns_embedding_clusters(emb, k=2, iters=3).collect()
    }
    assert set(got) == {v for cl in cliques for v in cl}
    c_a = {got[v] for v in cliques[0]}
    c_b = {got[v] for v in cliques[1]}
    assert len(c_a) == 1 and len(c_b) == 1 and c_a != c_b


def test_sgns_sdiv_bound_violation_raises(spark):
    """A pair count big enough to break the _sgns_sdiv exactness bound
    (max(n) * max|emb| >= 2^32) must surface as a loud ValueError, not a
    silent Spark/DuckDB off-by-one (ADVICE r9)."""
    import pytest

    from inf_553_datamining_mapreduce_spark.operators.graph import (
        sgns_embeddings,
    )

    pairs = spark.createDataFrame(
        [(1, 2, 1 << 40), (2, 1, 1 << 40)],
        "center long, context long, n_pairs long",
    )
    with pytest.raises(ValueError, match="_sgns_sdiv exactness bound"):
        sgns_embeddings(pairs, dim=4, negatives=0, epochs=1)


def test_edge_betweenness_method_routing(spark, monkeypatch):
    """r12 verdict item 5: the float betweenness API routes between the
    broadcast-CSR kernel and the no-driver-adjacency distributed path.
    method='auto' must FALL BACK (not raise) beyond the MAX_DRIVER_EDGES
    gate with results matching the kernel to float round-off;
    method='kernel' keeps the explicit refusal; method='distributed'
    forces the beyond-gate plan; source_mod draws the deterministic
    id%mod source set with n_active/n_sampled credit scaling."""
    import random

    import pytest

    import inf_553_datamining_mapreduce_spark.operators.graph as GR

    rng = random.Random(7)
    edges = set()
    while len(edges) < 120:
        a, b = rng.randrange(0, 50), rng.randrange(0, 50)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    edf = spark.createDataFrame(sorted(edges), ["src", "dst"])

    exact = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in GR.edge_betweenness(edf, method="kernel").collect()
    }

    # Force every graph beyond the gate: auto degrades to the
    # distributed plan, kernel refuses loudly.
    monkeypatch.setattr(GR, "MAX_DRIVER_EDGES", 1)
    auto = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in GR.edge_betweenness(edf, method="auto").collect()
    }
    assert set(auto) == set(exact)
    for k, v in exact.items():
        assert abs(auto[k] - v) <= 1e-9 * max(1.0, abs(v)), (k, v, auto[k])
    with pytest.raises(ValueError, match="gated"):
        GR.edge_betweenness(edf, method="kernel")
    with pytest.raises(ValueError, match="unknown method"):
        GR.edge_betweenness(edf, method="numpy")

    # source_mod=1 samples every vertex -> the exact distributed result
    # (scale 1.0, same DAG) to float round-off — the filter changes the
    # partition/summation order, which is exactly the documented IEEE
    # order-dependence of this kernel.
    full = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in GR.edge_betweenness_distributed(edf).collect()
    }
    mod1 = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in GR.edge_betweenness_distributed(edf, source_mod=1).collect()
    }
    assert set(mod1) == set(full)
    for k, v in full.items():
        assert abs(mod1[k] - v) <= 1e-9 * max(1.0, abs(v)), (k, v, mod1[k])
    # source_mod=2: unbiased estimator — total credit mass in range.
    est = sum(
        r["betweenness"]
        for r in GR.edge_betweenness_distributed(edf, source_mod=2).collect()
    )
    exact_total = sum(full.values())
    assert 0.6 * exact_total < est < 1.4 * exact_total
    with pytest.raises(ValueError, match="not both"):
        GR.edge_betweenness_distributed(edf, sample_sources=5, source_mod=2)

    # An empty graph has the kernel's (src, dst, betweenness) schema on
    # every path: the kernel, auto past the gate, and distributed.
    empty = spark.createDataFrame([], "src long, dst long")
    kernel = GR.edge_betweenness(empty, method="kernel")
    monkeypatch.setattr(GR, "MAX_DRIVER_EDGES", -1)
    for df in (
        kernel,
        GR.edge_betweenness(empty, method="auto"),
        GR.edge_betweenness(empty, method="distributed"),
    ):
        assert df.dtypes == [
            ("src", "bigint"), ("dst", "bigint"), ("betweenness", "double")
        ]
        assert df.collect() == []


def test_edge_betweenness_core_sized_kernel_repeats_exactly(spark, monkeypatch):
    """The same graph on both sides of ``DRIVER_KERNEL_WORK``: below it the
    driver runs the slices and no job follows the adjacency collect; at it
    the kernel runs at most one Python task per core (each Python task
    pays a fixed cost, whatever its work). Both add the per-slice partials
    in slice order, so they return identical doubles."""
    from inf_553_datamining_mapreduce_spark.operators import graph as G

    rng = random.Random(5)
    pairs = sorted({tuple(sorted(rng.sample(range(60), 2))) for _ in range(200)})
    n_vertices = len({v for p in pairs for v in p})
    work = n_vertices * (n_vertices + 2 * len(pairs))
    edf = _edges_df(spark, pairs)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def group_jobs(group):
        # The tracker is fed asynchronously by the listener bus.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(group))

    def run(bound):
        group = f"graph-kernel-work-{bound}"
        monkeypatch.setattr(G, "DRIVER_KERNEL_WORK", bound)
        after_collect = []
        collect = G._collect_adjacency

        def collect_then_mark(edges, vertices):
            adj = collect(edges, vertices)
            after_collect.append(group_jobs(group))
            return adj

        monkeypatch.setattr(G, "_collect_adjacency", collect_then_mark)
        sc.setJobGroup(group, group)
        try:
            out = edge_betweenness(edf)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        kernel_jobs = group_jobs(group) - after_collect[0]
        tasks = [
            tracker.getStageInfo(s).numTasks
            for j in kernel_jobs
            for s in tracker.getJobInfo(j).stageIds
        ]
        return out.collect(), tasks

    on_driver, driver_tasks = run(work + 1)
    assert driver_tasks == []
    distributed, tasks = run(work)
    # The edge input is local, so the only stage after the collect is the
    # kernel's.
    assert tasks and max(tasks) <= sc.defaultParallelism, tasks
    assert len(on_driver) == len(pairs)
    assert [tuple(r) for r in on_driver] == [tuple(r) for r in distributed]


# A 12-edge path whose weights follow the ruler sequence (1 + trailing
# zeros of i + 1): Boruvka merges it pairwise, so the spanning forest
# needs three rounds, and a k=2 peel drops its two end edges per round.
_RULER_PATH = [(i, i + 1, ((i + 1) & -(i + 1)).bit_length()) for i in range(12)]


def _round_loops():
    from inf_553_datamining_mapreduce_spark.operators import graph as G
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        kmeans_fixedpoint,
    )
    from inf_553_datamining_mapreduce_spark.operators.text import bpe_learn

    def edges(spark):
        return spark.createDataFrame(_RULER_PATH, "src long, dst long, shared long")

    def docs(spark):
        texts = ["low lower lowest", "newer newest new", "wide wider widest"]
        return spark.createDataFrame(
            [(i, t, "src0") for i, t in enumerate(texts)],
            "doc_id long, text string, source string",
        )

    def vectors(spark):
        rows = [(i, [float((i * 7) % 5), float((i * 3) % 4)]) for i in range(12)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    return {
        "pagerank": lambda s, r: G.pagerank(edges(s), iterations=r),
        "pagerank_weighted": lambda s, r: G.pagerank_weighted(edges(s), iterations=r),
        "label_propagation": lambda s, r: G.label_propagation(edges(s), rounds=r),
        "kcore": lambda s, r: G.kcore(edges(s), k=2, max_rounds=r),
        "louvain_moves": lambda s, r: G.louvain_moves(edges(s), rounds=r),
        "palette_coloring": lambda s, r: G.palette_coloring(edges(s), max_rounds=r),
        "minimum_spanning_forest": lambda s, r: G.minimum_spanning_forest(
            edges(s).withColumnRenamed("shared", "w"), max_rounds=r
        ),
        "hits_scores": lambda s, r: G.hits_scores(edges(s), iters=r),
        "kmeans_fixedpoint": lambda s, r: kmeans_fixedpoint(vectors(s), k=3, iters=r),
        "bpe_learn": lambda s, r: bpe_learn(docs(s), n_merges=r),
        "bfs_distances": lambda s, r: G.bfs_distances(
            edges(s), n_landmarks=2, max_hops=r
        ),
    }


def _pinned(spark) -> int:
    return len(dict(spark.sparkContext._jsc.getPersistentRDDs()))


@pytest.mark.parametrize("name", sorted(_round_loops()))
def test_fixed_point_loops_release_superseded_rounds(spark, name):
    """Each loop releases every round it supersedes, so what stays pinned
    after it returns does not grow with the round count, and the result
    (which reads only the frames left pinned) still collects."""
    from inf_553_datamining_mapreduce_spark.session import release_session_blocks

    run = _round_loops()[name]
    left = []
    for rounds in (1, 2):
        release_session_blocks(spark)
        out = run(spark, rounds)
        left.append(_pinned(spark))
        for df in out if isinstance(out, tuple) else (out,):
            assert df.collect()
    assert left[0] == left[1], f"{name}: pinned after 1 and 2 rounds: {left}"


def test_checkpoint_falls_back_to_plain_checkpoint(spark, monkeypatch):
    """When the JVM call that resets the size statistics is missing, the
    already-materialized checkpoint is returned: right rows, one pinned
    RDD (no second checkpoint), and it still releases as superseded."""
    from py4j.protocol import Py4JError

    from inf_553_datamining_mapreduce_spark.session import (
        checkpoint,
        release_session_blocks,
    )

    def missing(*_args):
        raise Py4JError("internalCreateDataFrame does not exist in the JVM")

    release_session_blocks(spark)
    monkeypatch.setattr(spark._jsparkSession, "internalCreateDataFrame", missing)
    ck = checkpoint(spark.range(50).selectExpr("id * 2 AS v"))
    assert _pinned(spark) == 1
    assert sorted(r.v for r in ck.collect()) == list(range(0, 100, 2))
    monkeypatch.undo()
    nxt = checkpoint(ck.selectExpr("v + 1 AS v"), ck)
    assert _pinned(spark) == 1
    assert sorted(r.v for r in nxt.collect()) == list(range(1, 100, 2))


@pytest.mark.parametrize("op", ["palette_coloring", "maximal_independent_set"])
def test_round_capped_graph_ops_reject_zero_rounds(spark, op):
    from inf_553_datamining_mapreduce_spark.operators import graph as G

    with pytest.raises(ValueError, match="max_rounds >= 1"):
        getattr(G, op)(_edges_df(spark, [(0, 1), (1, 2)]), max_rounds=0)
