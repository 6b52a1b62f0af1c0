"""Graph suite: co-occurrence graph construction, edge betweenness with the
reference's simplified Girvan-Newman credit rule, connected components, the
reference's modularity arithmetic, and the full GN community-detection loop.

Reference: ``3-Graph Community Detection/Betweenness.scala`` and
``Community.scala``.

Semantics replicated exactly (SURVEY.md §2.7-2.8, §7.4):
  * Credit rule (``Betweenness.scala:56-116``): BFS from each source;
    ``route(v)`` counts predecessor edges along the shortest-path DAG; in
    reverse BFS order each node adds 1.0 to its own weight and every
    predecessor edge (p, v) receives ``weight(v) / route(v)`` — EQUAL SPLIT
    among predecessor edges, not Brandes sigma-weighting. Summed over all
    sources, canonicalized (u1 < u2), divided by 2
    (``Betweenness.scala:133-138``).
  * Modularity (``Community.scala:16-48``): over unordered same-component
    pairs (each counted once), sum of A_ij - d_i*d_j/(2m), then the total
    divided by 2m — the reference's exact factor choices, not the textbook
    normalization.
  * GN loop (``Community.scala:50-148``): betweenness computed ONCE on the
    original graph, never recomputed after removals; removal schedule sorted
    by descending betweenness; coarse-to-fine search (step, /zoom on
    overshoot) advancing while modularity is non-decreasing; accept when the
    community count rises by <= 1 across the final step.

Deviation (documented, SURVEY.md §7.4.4): the reference sorts the removal
schedule by value only, leaving tie order nondeterministic; the engine adds
(u1, u2) as a secondary key so results are reproducible.

Spark-first shape: graph = two DataFrames (edges with src < dst, optional
vertices). Edge building is explode + self-equi-join (never the reference's
O(V^2) constant-key cross join, ``Betweenness.scala:27-30``). The per-source
BFS fans out over sources with a broadcast adjacency, one task per core —
the reference's parallelization, minus the closure-capture anti-pattern.
Driver-side state (adjacency, removal schedule) is gated by explicit size
checks; components offer a distributed label-propagation path for graphs
beyond the union-find gate.
"""

from __future__ import annotations

import threading
from collections import defaultdict, deque
from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from inf_553_datamining_mapreduce_spark.deploy import ensure_worker_imports

# Driver-side gates: betweenness adjacency and the GN removal schedule live
# on the driver (as in the reference); refuse silently-unbounded collects.
MAX_DRIVER_EDGES = 2_000_000


class _DriverGated(ValueError):
    """A driver-side collect would exceed ``MAX_DRIVER_EDGES``."""


_BETWEENNESS_SCHEMA = StructType(
    [
        StructField("src", LongType(), False),
        StructField("dst", LongType(), False),
        StructField("credit", DoubleType(), False),
    ]
)
_RESULT_SCHEMA = "src long not null, dst long not null, betweenness double"


# ---------------------------------------------------------------------------
# Graph construction (Betweenness.scala:19-40, idiomatic rewrite)
# ---------------------------------------------------------------------------

def cooccurrence_edges(
    df: DataFrame,
    node_col: str,
    item_col: str,
    min_shared: int = 3,
    materialize_pairs: bool = True,
    max_item_df: int | None = None,
) -> DataFrame:
    """Edges between nodes sharing >= min_shared distinct items.

    Reference builds user pairs via constant-key self-join + per-pair set
    intersection (``Betweenness.scala:26-31``) — O(V^2). Idiomatic form:
    self-equi-join on the ITEM key so only nodes that actually share an item
    meet, then count distinct pairs (SURVEY.md §7.2 M1). Returns
    ``(src, dst, shared)`` with src < dst (``sortedV`` canonicalization,
    ``Betweenness.scala:118-121``).

    ``materialize_pairs`` localCheckpoints the deduplicated (node, item)
    projection before the self-join: Spark plans no ReuseExchange across the
    two aliased subtrees, so without it the upstream join + distinct runs
    TWICE (measured ~30% of the build). Set False only when composing into
    a plan that must stay fully lazy.

    ``max_item_df``: the 100-TB lever. An item held by k nodes fans out
    k²/2 pair rows on ONE join key — a universal item is the graph-build
    twin of the hot shingle, and the exact build cannot avoid it (the
    pairs ARE the evidence). With the cut set, items held by more nodes
    are dropped BEFORE the self-join (window count over the item
    partition, filter in place — the ``jaccard_near_duplicates`` df-cut
    shape), bounding fan-out at max_item_df² per item. Lossy and
    conservative: ``shared`` only ever decreases, so edges never appear
    that the exact build lacks; near-threshold edges riding universal
    items fall out. Default None = exact (the reference's semantics).
    """
    pairs = df.select(
        F.col(node_col).cast("long").alias("node"), F.col(item_col).alias("item")
    ).distinct()
    if max_item_df is not None:
        item_w = Window.partitionBy("item")
        pairs = (
            pairs.withColumn("_df", F.count(F.lit(1)).over(item_w))
            .filter(F.col("_df") <= max_item_df)
            .drop("_df")
        )
    if materialize_pairs:
        pairs = pairs.localCheckpoint()
    a, b = pairs.alias("a"), pairs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.item") == F.col("b.item"))
            & (F.col("a.node") < F.col("b.node")),
        )
        .groupBy(
            F.col("a.node").alias("src"),
            F.col("b.node").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def _collect_adjacency(
    edges: DataFrame, vertices: DataFrame | None
) -> dict[int, list[int]]:
    """Symmetric adjacency dict (``graph.collectNeighborIds(Either)``,
    ``Betweenness.scala:53``), gated by MAX_DRIVER_EDGES.

    One bounded collect: at most one row past the gate comes back, so the
    edge plan evaluates once and an oversized graph is refused without
    counting it.
    """
    rows = edges.select("src", "dst").limit(MAX_DRIVER_EDGES + 1).collect()
    if len(rows) > MAX_DRIVER_EDGES:
        raise _DriverGated(
            f"graph has more than {MAX_DRIVER_EDGES} edges; driver-side "
            "adjacency is gated — partition the graph or raise the gate "
            "deliberately"
        )
    adj: dict[int, list[int]] = defaultdict(list)
    for row in rows:
        s, d = int(row["src"]), int(row["dst"])
        adj[s].append(d)
        adj[d].append(s)
    if vertices is not None:
        for row in vertices.collect():
            adj.setdefault(int(row[0]), [])
    return dict(adj)


# ---------------------------------------------------------------------------
# Per-source BFS credit kernel (Betweenness.scala:56-116)
# ---------------------------------------------------------------------------

def bfs_credit_one_source(
    start: int, adj: dict[int, list[int]]
) -> dict[tuple[int, int], float]:
    """Single-source credit map under the simplified-GN equal-split rule.

    Mirrors ``betweennessOneNode``: forward BFS records level, predecessor
    list, and ``route`` (predecessor-edge count); the reverse pass pops in
    stack order, adds 1.0 self-weight, and assigns each predecessor edge
    ``weight(v) / route(v)``.
    """
    dist: dict[int, int] = {start: 0}
    route: dict[int, int] = defaultdict(int)
    preds: dict[int, list[int]] = defaultdict(list)
    order: list[int] = []
    queue: deque[int] = deque([start])
    while queue:
        cur = queue.popleft()
        order.append(cur)
        nxt = dist[cur] + 1
        for nb in adj.get(cur, ()):
            d = dist.get(nb)
            if d is None:
                dist[nb] = nxt
                queue.append(nb)
                route[nb] += 1
                preds[nb].append(cur)
            elif d == nxt:
                route[nb] += 1
                preds[nb].append(cur)
    weight: dict[int, float] = defaultdict(float)
    credits: dict[tuple[int, int], float] = {}
    for v in reversed(order):
        weight[v] += 1.0
        r = route[v]
        for p in preds[v]:
            c = weight[v] / r
            key = (p, v) if p < v else (v, p)
            credits[key] = credits.get(key, 0.0) + c
            weight[p] += c
    return credits


def _csr_credit_kernel(sources, ids, indptr, indices, edge_credit) -> None:
    """Accumulate the equal-split credits of every source in ``sources``
    into ``edge_credit`` (one slot per directed CSR edge position).

    Level-synchronous numpy formulation of ``betweennessOneNode``
    (``Betweenness.scala:56-116``): forward BFS records levels; the
    shortest-path-DAG membership of every directed edge is one vectorized
    mask (``dist[head] == dist[tail] + 1``); ``route`` is a bincount over
    DAG heads; the reverse pass walks levels deepest-first adding the
    1.0 self-weight and scattering ``weight/route`` onto predecessor edges.
    Identical arithmetic to the dict BFS, ~10-50x faster on dense graphs.
    """
    import numpy as np

    n = len(ids)
    head = indices
    tail = np.repeat(np.arange(n, dtype=np.int64), np.diff(indptr))
    counts_all = np.diff(indptr)

    for s in sources:
        dist = np.full(n, -1, dtype=np.int32)
        dist[s] = 0
        levels: list = [np.array([s], dtype=np.int64)]
        frontier = levels[0]
        while frontier.size:
            starts = indptr[frontier]
            counts = counts_all[frontier]
            total = int(counts.sum())
            if total == 0:
                break
            base = np.repeat(starts, counts)
            shift = np.arange(total) - np.repeat(
                np.cumsum(counts) - counts, counts
            )
            nbrs = indices[base + shift]
            fresh = np.unique(nbrs[dist[nbrs] == -1])
            if fresh.size == 0:
                break
            dist[fresh] = len(levels)
            levels.append(fresh)
            frontier = fresh
        # DAG membership per directed edge (tail -> head, one level down)
        reached = dist[tail] >= 0
        dag = reached & (dist[head] == dist[tail] + 1)
        route = np.bincount(head[dag], minlength=n)
        weight = np.zeros(n, dtype=np.float64)
        dag_level = np.where(dag, dist[head], -1)
        for lvl in range(len(levels) - 1, 0, -1):
            weight[levels[lvl]] += 1.0
            e_mask = dag_level == lvl
            if not e_mask.any():
                continue
            e_idx = np.nonzero(e_mask)[0]
            h = head[e_idx]
            credit = weight[h] / route[h]
            np.add.at(weight, tail[e_idx], credit)
            np.add.at(edge_credit, e_idx, credit)


def _kernel_betweenness(
    edges: DataFrame,
    vertices: DataFrame | None,
    sample_sources: int | None,
    seed: int = 17,
):
    """The broadcast-CSR kernel of :func:`edge_betweenness`, returned on
    the driver as three numpy arrays ``(src, dst, betweenness)``: src <
    dst, sorted by (src, dst), edges with zero total credit absent.
    Raises ``_DriverGated`` beyond the ``MAX_DRIVER_EDGES`` gate."""
    import numpy as np

    spark = edges.sparkSession
    adj = _collect_adjacency(edges, vertices)
    # Isolated vertices are valid BFS sources in the reference
    # (Betweenness.scala:133 iterates every user) but contribute an empty
    # credit map — skip them; the result is identical.
    active = sorted(v for v, nbrs in adj.items() if nbrs)
    scale = 1.0
    if sample_sources is not None and sample_sources < len(active):
        import random as _random

        rng = _random.Random(seed)
        scale = len(active) / sample_sources
        active = sorted(rng.sample(active, sample_sources))
    if not active:
        empty = np.zeros(0, dtype=np.int64)
        return empty, empty, np.zeros(0, dtype=np.float64)

    # CSR over the active (non-isolated) vertex set
    ids = np.array(sorted(adj), dtype=np.int64)
    pos = {int(v): i for i, v in enumerate(ids)}
    indptr = np.zeros(len(ids) + 1, dtype=np.int64)
    flat: list[int] = []
    for i, v in enumerate(ids):
        nbrs = sorted(pos[u] for u in adj[int(v)])
        flat.extend(nbrs)
        indptr[i + 1] = len(flat)
    indices = np.array(flat, dtype=np.int64)
    # Undirected edge slot of every directed CSR position: both directions
    # of u-v share one slot, and slots ascend in (src, dst) order because
    # ids are sorted.
    n = len(ids)
    tail = np.repeat(np.arange(n, dtype=np.int64), np.diff(indptr))
    keys, slot = np.unique(
        np.minimum(tail, indices) * n + np.maximum(tail, indices),
        return_inverse=True,
    )
    ensure_worker_imports(spark)
    bc = spark.sparkContext.broadcast((ids, indptr, indices, slot, len(keys)))

    def per_slice(srcs: list[int]):
        import numpy as _np

        ids_l, indptr_l, indices_l, slot_l, n_slots = bc.value
        edge_credit = _np.zeros(len(indices_l), dtype=_np.float64)
        _csr_credit_kernel(srcs, ids_l, indptr_l, indices_l, edge_credit)
        return _np.bincount(slot_l, weights=edge_credit, minlength=n_slots)

    source_idx = [pos[v] for v in active]
    n_slices = min(len(source_idx), spark.sparkContext.defaultParallelism)
    slices = [source_idx[i::n_slices] for i in range(n_slices)]
    partials = (
        spark.sparkContext.parallelize(slices, n_slices).map(per_slice).collect()
    )
    bc.unpersist()
    total = np.zeros(len(keys), dtype=np.float64)
    for part in partials:
        total += part
    total = total * scale / 2.0
    nz = np.nonzero(total)[0]
    return ids[keys[nz] // n], ids[keys[nz] % n], total[nz]


def edge_betweenness(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    sample_sources: int | None = None,
    seed: int = 17,
    method: str = "auto",
) -> DataFrame:
    """Edge betweenness of the whole graph under the simplified-GN
    equal-split credit rule. Returns ``(src, dst, betweenness)`` with
    src < dst, ordered (``Betweenness.scala:133-138``: per-source credits,
    canonicalized, summed, halved).

    Execution: one bounded collect builds the adjacency on the driver;
    the sorted sources are dealt round-robin into
    ``min(#sources, defaultParallelism)`` slices (round-robin, not
    contiguous ranges, so id-correlated BFS cost spreads evenly); each
    slice runs the CSR/numpy kernel over a broadcast adjacency and returns
    ONE float64 partial per undirected edge, both directions folded in the
    worker. The driver adds the partials in slice order and applies
    ``scale / 2``, so repeated runs give bit-identical doubles; edges with
    zero total credit are absent. No row shuffle: driver memory is
    P × E × 8 B for P slices and E edges — 64 MB at the 2M-edge gate on 4
    cores. The stage is sized to cores because each Python task costs
    ~0.25 s of fixed worker set-up regardless of its work (measured on a
    4-core host), while a source's BFS costs about O(V + E), so splitting
    further buys little balance and pays that cost per extra task.

    ``sample_sources``: the 100-TB path. Exact betweenness is O(V·E); a
    uniform source sample of size s scales per-source credits by V/s — the
    standard unbiased estimator (Brandes-Pich source sampling applied to
    this credit rule). None = exact.

    ``method`` routes between the two physical strategies (same
    arithmetic, results agree to float round-off — summation order
    only):

    * ``"kernel"`` — the broadcast-CSR path above; raises beyond the
      ``MAX_DRIVER_EDGES`` gate.
    * ``"distributed"`` — :func:`edge_betweenness_distributed`: no
      driver-side adjacency at all; use when the graph itself is the
      big thing. (Its deterministic sampling knob is ``source_mod``;
      ``sample_sources``/``seed`` map onto its md5-ordered sample.)
    * ``"auto"`` (default) — kernel under the gate, else the
      distributed path: the 100-TB contract is a plan change, not a
      refusal (the ``connected_components`` ``method='auto'``
      convention applied here).
    """
    import pyarrow as pa

    if method not in ("auto", "kernel", "distributed"):
        raise ValueError(f"unknown method {method!r}")
    if method == "distributed":
        return edge_betweenness_distributed(
            edges, sample_sources=sample_sources, seed=seed
        )
    try:
        src, dst, bet = _kernel_betweenness(edges, vertices, sample_sources, seed)
    except _DriverGated:
        if method == "kernel":
            raise
        return edge_betweenness_distributed(
            edges, sample_sources=sample_sources, seed=seed
        )
    return edges.sparkSession.createDataFrame(
        pa.table({"src": src, "dst": dst, "betweenness": bet}),
        _RESULT_SCHEMA,
    )


def edge_betweenness_distributed(
    edges: DataFrame,
    sample_sources: int | None = None,
    seed: int = 17,
    max_hops: int = 50,
    source_mod: int | None = None,
) -> DataFrame:
    """Edge betweenness with NO driver-side adjacency: the fully
    distributed path for graphs beyond the ``MAX_DRIVER_EDGES`` broadcast
    gate of ``edge_betweenness``. Same simplified-GN equal-split credit
    rule (``Betweenness.scala:56-116``), same output contract
    ``(src, dst, betweenness)``; the arithmetic is identical, so results
    match the kernel to float round-off (different summation order only).

    Formulation: multi-source level-synchronous BFS via frontier joins
    (diameter rounds, the ``bfs_distances`` idiom), shortest-path-DAG
    membership as one join predicate (``d_head == d_tail + 1``), ``route``
    as a DAG in-degree aggregate, and the reverse sweep level-by-level —
    each level is one join + one aggregate, and contributions to level
    L-1 vertices come ONLY from level-L edges, so the carried state is a
    single (source, vertex, weight) table per level.

    Cost: every table is per-(source, x), i.e. s×E rows — the explicit
    Brandes-Pich estimator budget. ``sample_sources`` draws a
    deterministic md5-ordered source sample and scales credits by
    n_active/s (the same unbiased estimator as the kernel path). Use the
    broadcast-kernel ``edge_betweenness`` below the gate (it is ~10x
    faster there); use this one when the graph itself is the big thing.

    ``source_mod`` is the alternative deterministic sampler (the
    ``edge_betweenness_fixedpoint`` convention): only vertices with
    ``id % source_mod == 0`` serve as sources, credits scale by
    n_active/n_sampled — an sf-generic knob (the sample grows with the
    graph, no absolute count to retune per scale). Mutually exclusive
    with ``sample_sources``.
    """
    if sample_sources is not None and source_mod is not None:
        raise ValueError("pass sample_sources OR source_mod, not both")
    spark = edges.sparkSession
    e = edges.select("src", "dst")
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    active = sym.select(F.col("src").alias("id")).distinct()
    n_active = active.count()
    if n_active == 0:
        return spark.createDataFrame([], _BETWEENNESS_SCHEMA)
    scale = 1.0
    src_df = active
    if source_mod is not None:
        src_df = active.filter(F.col("id") % source_mod == 0)
        n_sampled = src_df.count()
        if n_sampled == 0:
            return spark.createDataFrame([], _BETWEENNESS_SCHEMA)
        scale = n_active / n_sampled
    elif sample_sources is not None and sample_sources < n_active:
        scale = n_active / sample_sources
        src_df = active.orderBy(
            F.md5(F.concat_ws(":", F.col("id"), F.lit(seed))), F.col("id")
        ).limit(sample_sources)
    sources = src_df.select(F.col("id").alias("source"))

    dist = sources.select(
        "source", F.col("source").alias("v"), F.lit(0).alias("dist")
    ).localCheckpoint()
    frontier = dist
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier.v == sym.src)
            .select("source", F.col("dst").alias("v"))
            .distinct()
            .join(dist, ["source", "v"], "left_anti")
            .withColumn("dist", F.lit(hop))
        ).localCheckpoint()
        if nxt.isEmpty():
            break
        dist = dist.unionAll(nxt).localCheckpoint()
        frontier = nxt

    t = dist.select(
        "source", F.col("v").alias("tail"), F.col("dist").alias("d_tail")
    )
    hd = dist.select(
        "source", F.col("v").alias("head"), F.col("dist").alias("d_head")
    )
    dag = (
        sym.select(F.col("src").alias("tail"), F.col("dst").alias("head"))
        .join(t, "tail")
        .join(hd, ["source", "head"])
        .filter(F.col("d_head") == F.col("d_tail") + 1)
        .select("source", "tail", "head", F.col("d_head").alias("lvl"))
    )
    route = dag.groupBy("source", "head").agg(F.count(F.lit(1)).alias("route"))
    dagr = dag.join(route, ["source", "head"]).localCheckpoint()
    max_lvl = dagr.agg(F.max("lvl")).first()[0]
    if max_lvl is None:
        return spark.createDataFrame([], _BETWEENNESS_SCHEMA)

    pending = None  # (source, v, w): credit mass arriving from one level deeper
    credit_parts = []
    for lvl in range(int(max_lvl), 0, -1):
        lvl_e = dagr.filter(F.col("lvl") == lvl)
        if pending is not None:
            w = pending.select("source", F.col("v").alias("head"), "w")
            lvl_e = lvl_e.join(w, ["source", "head"], "left")
        else:
            lvl_e = lvl_e.withColumn("w", F.lit(None).cast("double"))
        cred = lvl_e.select(
            "source",
            "tail",
            "head",
            (
                (F.lit(1.0) + F.coalesce(F.col("w"), F.lit(0.0)))
                / F.col("route")
            ).alias("credit"),
        ).localCheckpoint()
        credit_parts.append(cred)
        pending = (
            cred.select("source", F.col("tail").alias("v"), "credit")
            .groupBy("source", "v")
            .agg(F.sum("credit").alias("w"))
            .localCheckpoint()
        )

    all_credits = credit_parts[0]
    for part in credit_parts[1:]:
        all_credits = all_credits.unionAll(part)
    return (
        all_credits.select(
            F.least("tail", "head").alias("src"),
            F.greatest("tail", "head").alias("dst"),
            "credit",
        )
        .groupBy("src", "dst")
        .agg((F.sum("credit") * F.lit(scale) / F.lit(2.0)).alias("betweenness"))
        .orderBy("src", "dst")
    )


def edge_betweenness_fixedpoint(
    edges: DataFrame,
    max_depth: int = 8,
    scale: int = 10**9,
    source_mod: int | None = None,
    rule: str = "equal_split",
) -> DataFrame:
    """Cross-engine-PROVABLE betweenness twin: the simplified-GN equal-split
    credit rule (``Betweenness.scala:56-116``) evaluated in fixed-point
    BIGINT arithmetic with floor division, over shortest paths of length
    <= ``max_depth``.

    Why it exists: the float kernels (``edge_betweenness`` and the
    distributed twin above) sum ``weight/route`` fractions whose IEEE total
    depends on accumulation order, so no other engine can reproduce their
    doubles bit-for-bit and the driver row stays rows-only. Here every
    credit is ``(scale + incoming) div route`` on integers — exact,
    order-independent, and expressible as a depth-unrolled chained-CTE
    DuckDB oracle (the pagerank fixed-point trick applied to betweenness).
    Each division truncates < 1 fixed-point unit (1e-9 relative), so
    rankings match the float kernel for any non-degenerate gap, and with
    ``max_depth`` >= diameter the shortest-path DAG is the exact one.

    ``source_mod`` keeps the all-pairs cost bounded deterministically:
    only vertices with ``v % source_mod == 0`` serve as BFS sources — a
    fixed, engine-agnostic source subset (the deterministic analogue of
    Brandes-Pich sampling; estimates scale by the sample share). Output is
    ``(src, dst, credit_sum_fp)`` — the RAW integer credit sum over
    sources, i.e. 2*scale*betweenness when all sources run.

    ``rule`` selects the credit arithmetic (SURVEY.md §7.4.3: the
    reference rule for parity, textbook Brandes as an optional mode):

    * ``"equal_split"`` (default) — the reference's simplified-GN rule:
      a head's mass splits EQUALLY among its predecessor edges,
      ``credit = (scale + incoming) div route``.
    * ``"brandes"`` — textbook Brandes edge betweenness: mass splits in
      proportion to shortest-path counts,
      ``credit(tail→head) = (σ_tail · (scale + incoming_head)) div σ_head``
      with σ accumulated level-by-level in one extra forward sweep
      (σ_head = Σ σ_tail over DAG in-edges). Still all-BIGINT floor
      division — the Brandes twin carries its own chained-CTE oracle.
      Magnitude bound: the product σ_tail·(scale + incoming) must stay
      under 2^63; incoming ≤ (reachable subtree size)·scale, so with
      scale=1e9 the mode is exact while σ·subtree < ~9.2e9 — far beyond
      the depth-bounded neighborhoods it runs on (overflow would need a
      ~1e4-path-multiplicity DAG over a ~1e6-vertex subtree).

    Distributed shape: identical to ``edge_betweenness_distributed`` —
    frontier-join BFS, DAG membership by one join predicate, per-level
    reverse sweep; every stage is a key-partitioned join or aggregate.
    Materialization policy: every per-round table localCheckpoints
    eagerly. Round k's BFS plan references round k-1 TWICE (the frontier
    join and the dist anti-join), so without LogicalRDD truncation the
    plan TREE doubles per round and explain/compile blows up
    exponentially; and measured at the oracle gate, many small eager jobs
    beat one lazily-persisted mega-job (AQE compiles each round's tiny
    plan instead of one O(depth²)-nested one).
    """
    spark = edges.sparkSession
    e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    active = sym.select(F.col("src").alias("id")).distinct()
    src_df = active
    if source_mod is not None:
        src_df = active.filter(F.col("id") % source_mod == 0)
    sources = src_df.select(F.col("id").alias("source"))

    dist0 = sources.select(
        "source", F.col("source").alias("v"), F.lit(0).alias("dist")
    ).localCheckpoint()
    dist = dist0
    frontier = dist0
    for hop in range(1, max_depth + 1):
        nxt = (
            frontier.join(sym, frontier.v == sym.src)
            .select("source", F.col("dst").alias("v"))
            .distinct()
            .join(dist, ["source", "v"], "left_anti")
            .withColumn("dist", F.lit(hop))
        ).localCheckpoint()
        if nxt.isEmpty():
            break
        # The union is a free narrow op over checkpointed LogicalRDD parts.
        dist = dist.unionAll(nxt)
        frontier = nxt

    t = dist.select(
        "source", F.col("v").alias("tail"), F.col("dist").alias("d_tail")
    )
    hd = dist.select(
        "source", F.col("v").alias("head"), F.col("dist").alias("d_head")
    )
    dag = (
        sym.select(F.col("src").alias("tail"), F.col("dst").alias("head"))
        .join(t, "tail")
        .join(hd, ["source", "head"])
        .filter(F.col("d_head") == F.col("d_tail") + 1)
        .select("source", "tail", "head", F.col("d_head").alias("lvl"))
    )
    route = dag.groupBy("source", "head").agg(F.count(F.lit(1)).alias("route"))
    dagr = dag.join(route, ["source", "head"]).localCheckpoint()
    max_lvl = dagr.agg(F.max("lvl")).first()[0]
    if max_lvl is None:
        return spark.createDataFrame(
            [], "src long, dst long, credit_sum_fp long"
        )

    if rule == "brandes":
        # Forward σ sweep: shortest-path counts level by level over the
        # DAG (σ_source = 1; σ_head = Σ σ_tail over in-edges). One join +
        # one aggregate per level, checkpointed like the BFS rounds.
        sig_lvl = sources.select(
            "source",
            F.col("source").alias("v"),
            F.lit(1).cast("long").alias("sigma"),
        ).localCheckpoint()
        sigma_all = sig_lvl
        for lvl in range(1, int(max_lvl) + 1):
            st = sig_lvl.select("source", F.col("v").alias("tail"), "sigma")
            sig_lvl = (
                dagr.filter(F.col("lvl") == lvl)
                .join(st, ["source", "tail"])
                .groupBy("source", F.col("head").alias("v"))
                .agg(F.sum("sigma").alias("sigma"))
                .localCheckpoint()
            )
            sigma_all = sigma_all.unionAll(sig_lvl)
        sigma_all = sigma_all.localCheckpoint()
        dagr = (
            dagr.join(
                sigma_all.select(
                    "source", F.col("v").alias("tail"),
                    F.col("sigma").alias("sigma_tail"),
                ),
                ["source", "tail"],
            )
            .join(
                sigma_all.select(
                    "source", F.col("v").alias("head"),
                    F.col("sigma").alias("sigma_head"),
                ),
                ["source", "head"],
            )
            .localCheckpoint()
        )
        credit_expr = (
            f"(sigma_tail * (CAST({scale} AS BIGINT)"
            " + coalesce(w, CAST(0 AS BIGINT)))) div sigma_head"
        )
    elif rule == "equal_split":
        credit_expr = (
            f"(CAST({scale} AS BIGINT) + coalesce(w, CAST(0 AS BIGINT)))"
            " div route"
        )
    else:
        raise ValueError(f"unknown rule {rule!r}")

    pending = None  # (source, v, w): integer credit mass from one level down
    credit_parts = []
    for lvl in range(int(max_lvl), 0, -1):
        lvl_e = dagr.filter(F.col("lvl") == lvl)
        if pending is not None:
            w = pending.select("source", F.col("v").alias("head"), "w")
            lvl_e = lvl_e.join(w, ["source", "head"], "left")
        else:
            lvl_e = lvl_e.withColumn("w", F.lit(None).cast("long"))
        cred = lvl_e.select(
            "source",
            "tail",
            "head",
            F.expr(credit_expr).alias("credit"),
        ).localCheckpoint()
        credit_parts.append(cred)
        pending = (
            cred.select("source", F.col("tail").alias("v"), "credit")
            .groupBy("source", "v")
            .agg(F.sum("credit").alias("w"))
            .localCheckpoint()
        )

    all_credits = credit_parts[0]
    for part in credit_parts[1:]:
        all_credits = all_credits.unionAll(part)
    return (
        all_credits.select(
            F.least("tail", "head").alias("src"),
            F.greatest("tail", "head").alias("dst"),
            "credit",
        )
        .groupBy("src", "dst")
        .agg(F.sum("credit").alias("credit_sum_fp"))
        .orderBy("src", "dst")
    )


# ---------------------------------------------------------------------------
# Connected components (Community.scala:22; GraphX cc labels = min member id)
# ---------------------------------------------------------------------------

class _UnionFind:
    def __init__(self) -> None:
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        p = self.parent.setdefault(x, x)
        root = x
        while p != root:
            root = p
            p = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # min-root union so labels match GraphX's min-vertex-id labels
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo


def _components_local(
    edge_list: list[tuple[int, int]], vertex_ids: Iterable[int]
) -> dict[int, int]:
    uf = _UnionFind()
    for v in vertex_ids:
        uf.find(v)
    for s, d in edge_list:
        uf.union(s, d)
    # two passes: path compression settles after all unions
    return {v: uf.find(v) for v in list(uf.parent)}


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    method: str = "auto",
    max_iter: int = 64,
) -> DataFrame:
    """``(id, component)`` with component = smallest vertex id in the
    component (GraphX ``connectedComponents`` labeling, ``Community.scala:22``).

    method='unionfind': driver union-find (gated; the reference's graphs are
    driver-small and its own cc result is collected anyway).
    method='labelprop': distributed min-label propagation — the scale path;
    converges in diameter iterations, localCheckpoint per round to cut
    lineage.
    method='auto': unionfind under the gate, else labelprop.
    """
    spark = edges.sparkSession
    if method in ("auto", "unionfind"):
        proj = edges.select("src", "dst").persist()
        n_edges = proj.count()
        if method == "auto":
            method = "unionfind" if n_edges <= MAX_DRIVER_EDGES else "labelprop"
        if method != "unionfind":
            proj.unpersist()
    if method == "unionfind":
        edge_list = [(int(r["src"]), int(r["dst"])) for r in proj.collect()]
        proj.unpersist()
        vids: set[int] = {v for e in edge_list for v in e}
        if vertices is not None:
            vids.update(int(r[0]) for r in vertices.collect())
        comp = _components_local(edge_list, vids)
        return spark.createDataFrame(
            sorted(comp.items()),
            StructType(
                [
                    StructField("id", LongType(), False),
                    StructField("component", LongType(), False),
                ]
            ),
        )

    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    base = edges.select(F.col("src").alias("id")).union(edges.select("dst"))
    if vertices is not None:
        base = base.union(vertices.select(F.col(vertices.columns[0]).alias("id")))
    labels = base.distinct().select("id", F.col("id").alias("component"))
    labels = labels.localCheckpoint()
    for _ in range(max_iter):
        msgs = (
            sym.join(labels, sym.src == labels.id)
            .select(F.col("dst").alias("id"), "component")
        )
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def communities_from_components(components: DataFrame) -> DataFrame:
    """``[m1,m2,...]`` communities: members ascending, ordered by smallest
    member (``Community.scala:132-138``)."""
    return (
        components.groupBy("component")
        .agg(F.sort_array(F.collect_list("id")).alias("members"))
        .select("members")
        .orderBy(F.col("members").getItem(0))
    )


def _sym_degrees(edges: DataFrame) -> DataFrame:
    """``(v, d)`` symmetrized-degree table over DISTINCT canonically-oriented
    edges — the shared input of degree orientation (``triangle_counts``) and
    the clustering-coefficient denominator. One union + one hash aggregate."""
    sym = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return sym.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("d")
    )


def triangle_counts(
    edges: DataFrame,
    degree_oriented: bool = True,
    degrees: DataFrame | None = None,
) -> DataFrame:
    """Per-vertex triangle participation counts over the undirected graph —
    the local-clustering signal (spam subgraphs are triangle-dense, crawl
    link farms even more so).

    Contract: ``edges`` must be DISTINCT canonically-oriented (src < dst)
    pairs — symmetric or duplicated input double-counts triangles
    (``cooccurrence_edges`` produces exactly this form).

    Enumeration: every total order on vertices finds each triangle exactly
    once — orient each edge from the earlier to the later endpoint, join
    (u,v)+(v,w) wedges, probe for the closing oriented edge (u,w). Two
    shuffle joins on vertex keys; no vertex ever needs its whole
    neighborhood in memory (vs the adjacency-intersection formulation).

    ``degree_oriented`` picks WHICH total order: (degree, id) instead of
    raw id. The wedge fan-out is Σ out_deg(v)² under the chosen order;
    degree ordering caps every out-degree at O(√E) (a vertex can only
    point at higher-degree vertices), bounding wedges at O(E^1.5) — the
    classic fix for hub-heavy graphs, where an id-ordered hub with degree
    d fans out d² rows on one key. Two broadcast-able degree joins buy
    that bound. Results are identical either way (same triangle set).
    Output: ``(id, n_triangles)`` for every vertex on >= 1 edge.

    ``degrees`` optionally supplies a precomputed ``_sym_degrees`` table
    (``clustering_coefficients`` passes a materialized one so the degree
    aggregate runs exactly once across the composed query).
    """
    e = edges.select("src", "dst")
    if degree_oriented:
        deg = degrees if degrees is not None else _sym_degrees(e)
        da = deg.select(F.col("v").alias("src"), F.col("d").alias("d_src"))
        db = deg.select(F.col("v").alias("dst"), F.col("d").alias("d_dst"))
        first = (F.col("d_src") < F.col("d_dst")) | (
            (F.col("d_src") == F.col("d_dst")) & (F.col("src") < F.col("dst"))
        )
        # No forced broadcast hint: Catalyst broadcasts deg when it fits
        # the threshold and falls back to a key join at billion-vertex
        # scale, where a forced broadcast would OOM the executors.
        e = (
            e.join(da, "src")
            .join(db, "dst")
            .select(
                F.when(first, F.col("src")).otherwise(F.col("dst")).alias("src"),
                F.when(first, F.col("dst")).otherwise(F.col("src")).alias("dst"),
            )
        )
    if degree_oriented:
        # The wedge join references the oriented table THREE times and the
        # vertex union twice; un-materialized, every reference replays the
        # two orientation joins + the degree aggregate (measured: a
        # ~58-exchange, 29-sort-merge-join plan that leans entirely on
        # ReuseExchange firing). Materializing the oriented edges — same
        # cardinality as the input, the table any production triangle
        # count keeps resident — collapses the plan to the three wedge
        # joins over a LogicalRDD leaf.
        e = e.localCheckpoint()
    ab, bc, ac = e.alias("ab"), e.alias("bc"), e.alias("ac")
    tri = (
        ab.join(bc, F.col("ab.dst") == F.col("bc.src"))
        .join(
            ac,
            (F.col("ac.src") == F.col("ab.src"))
            & (F.col("ac.dst") == F.col("bc.dst")),
        )
        .select(
            F.col("ab.src").alias("a"),
            F.col("ab.dst").alias("b"),
            F.col("bc.dst").alias("c"),
        )
    )
    # One evaluation of the triangle join: explode the three corners
    # instead of a 3-way unionAll of tri (which would evaluate the whole
    # wedge cascade three times — Spark shares no un-materialized
    # branches).
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("id")
    )
    verts = e.select(
        F.explode(F.array("src", "dst")).alias("id")
    ).distinct()
    counts = corners.groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        verts.join(counts, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
        )
        .orderBy("id")
    )


# Fixed-point PageRank scale: ranks are BIGINTs in units of 1e-6. Integer
# arithmetic makes every iteration bit-identical in any engine with 64-bit
# ints — which is what lets an ITERATIVE algorithm carry a SQL oracle.
PAGERANK_SCALE = 1_000_000


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """Fixed-point integer PageRank over the symmetrized graph (a quality /
    centrality signal for link-graph-based corpus filtering).

    Contract: ``edges`` must be DISTINCT canonically-oriented (src < dst)
    pairs; symmetric or duplicated input inflates degrees and contributions
    (``cooccurrence_edges`` produces exactly this form).

    Each vertex starts at ``scale`` (rank 1.0); one iteration is
    ``rank' = ((100-d)*scale) div 100 + (d * sum(contribs)) div 100`` with
    ``contrib = rank div out_degree`` — all BIGINT, truncating division, so
    the result after a FIXED number of iterations is deterministic and
    engine-portable (no float summation order dependence).

    Scale shape: out-degrees are one aggregation; each iteration is one
    join + one aggregation (shuffle on vertex id, the canonical distributed
    PageRank step), lineage cut per round with localCheckpoint. No driver
    collection at any size.
    """
    # Materialize the (possibly expensive) upstream edge build exactly ONCE;
    # everything the iteration loop touches derives from this checkpoint —
    # an un-checkpointed degree table would silently re-evaluate the whole
    # edge-construction join every single iteration.
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    deg = (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).alias("out_deg"))
        .select(F.col("src").alias("id"), "out_deg")
        .localCheckpoint()
    )
    # Edges annotated with the source's out-degree, reused every iteration.
    ed = (
        sym.join(deg, sym.src == deg.id)
        .select("src", "dst", "out_deg")
        .localCheckpoint()
    )
    base = (100 - damping_pct) * scale // 100
    ranks = deg.select(
        "id", F.lit(scale).cast("long").alias("rank")
    ).localCheckpoint()
    for _ in range(iterations):
        sums = (
            ed.join(ranks, ed.src == ranks.id)
            .select(F.col("dst"), F.expr("rank div out_deg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = (
            deg.join(sums, deg.id == sums.dst, "left")
            .select(
                "id",
                F.expr(
                    f"CAST({base} + ({damping_pct} * coalesce(s, CAST(0 AS BIGINT)))"
                    " div 100 AS BIGINT)"
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks.select(F.col("id"), F.col("rank").alias("rank_fp")).orderBy("id")


def pagerank_weighted(
    edges: DataFrame,
    weight_col: str = "shared",
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """Fixed-point integer PageRank on a WEIGHTED graph: each vertex
    splits its rank across neighbors in proportion to edge weight —
    ``contrib(u->v) = (rank_u * w_uv) div W_u`` with ``W_u`` the total
    incident weight — the standard weighted-PageRank transition (the
    same W-proportional kernel as :func:`weighted_walk_corpus`, closing
    the weighted-graph matrix: walks, SSSP, and now centrality). On the
    registered co-occurrence graph the weight is ``shared`` (co-purchase
    count), so a vertex's centrality reflects evidence mass, not just
    tie count.

    Exactness: multiplying numerator and denominator of a rank share by
    the same positive weight preserves the floor — ``(r*c) div (d*c) ==
    r div d`` for any constant ``c`` — so with all weights equal this
    reduces BIT-IDENTICALLY to :func:`pagerank` (pinned by test). All
    BIGINT: ``rank <= |V|*scale`` and weights are count-bounded, so
    ``rank * w`` stays far under 2^63 at any registered SF.

    Input contract: one weight per undirected pair, enforced loudly via
    :func:`_symmetrize_weighted` (the weighted-walk contract). Shape at
    scale: identical to :func:`pagerank` — one weight-sum aggregation,
    then per iteration one edges-sized join + one keyed sum, lineage cut
    per round.
    """
    symw = _symmetrize_weighted(edges, weight_col)
    wdeg = (
        symw.groupBy("src")
        .agg(F.sum("ew").alias("w_out"))
        .select(F.col("src").alias("id"), "w_out")
        .localCheckpoint()
    )
    ed = (
        symw.join(wdeg, symw.src == wdeg.id)
        .select("src", "dst", "ew", "w_out")
        .localCheckpoint()
    )
    base = (100 - damping_pct) * scale // 100
    ranks = wdeg.select(
        "id", F.lit(scale).cast("long").alias("rank")
    ).localCheckpoint()
    for _ in range(iterations):
        sums = (
            ed.join(ranks, ed.src == ranks.id)
            .select(
                F.col("dst"),
                F.expr("(rank * ew) div w_out").alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
        )
        prev = ranks
        ranks = _checkpoint_reset_stats(
            wdeg.join(sums, wdeg.id == sums.dst, "left").select(
                "id",
                F.expr(
                    f"CAST({base} + ({damping_pct} * coalesce(s, CAST(0 AS BIGINT)))"
                    " div 100 AS BIGINT)"
                ).alias("rank"),
            )
        )
        release = getattr(prev, "_graft_release", None)
        if release is not None:
            release()
    return ranks.select(
        F.col("id"), F.col("rank").alias("rank_fp")
    ).orderBy("id")


# ---------------------------------------------------------------------------
# Modularity (Community.scala:16-48 — exact arithmetic, both paths)
# ---------------------------------------------------------------------------

def modularity_local(
    edge_list: list[tuple[int, int]], comp: dict[int, int]
) -> float:
    """Driver-local modularity with the reference's exact factor choices:
    unordered same-component pairs counted once; Q = precisely
    ``(sum over pairs of A_ij - d_i*d_j/(2m))/2/m`` (``Community.scala:42-46``).

    Computed INCREMENTALLY in O(E + V), not by iterating pairs (O(V^2) per
    component — a scale-killer inside the GN probe loop). Per community c:

      sum_pairs A_ij            = |intra-community distinct edges|  (e_c)
      sum_pairs d_i*d_j         = (S_c^2 - sum d_i^2) / 2           (S_c = sum d_i)

    so  total = sum_c [ e_c - (S_c^2 - Q2_c) / (4m) ]  and Q = total/(2m) —
    algebraically identical to the pair loop (degree-0 vertices excluded,
    matching the reference's inner-join drop, ``Community.scala:36-39``).
    """
    m = float(len(edge_list))
    if m == 0:
        return float("nan")
    deg: dict[int, int] = defaultdict(int)
    edge_set = set()
    for s, d in edge_list:
        deg[s] += 1
        deg[d] += 1
        edge_set.add((s, d) if s < d else (d, s))
    intra: dict[int, int] = defaultdict(int)
    for u, v in edge_set:
        # Self-loops are excluded from the pair sum: the reference's i<j
        # pair loop (Community.scala:42-46) never visits (i, i), and the
        # incremental degree-pair identity below likewise assumes no
        # self-pairs. Callers pass canonical src<dst edges, but guard the
        # public function anyway.
        if u == v:
            continue
        cu, cv = comp.get(u), comp.get(v)
        if cu is not None and cu == cv:
            intra[cu] += 1
    deg_sum: dict[int, float] = defaultdict(float)
    deg_sq: dict[int, float] = defaultdict(float)
    for v, c in comp.items():
        dv = deg.get(v)
        if dv:
            deg_sum[c] += dv
            deg_sq[c] += dv * dv
    total = 0.0
    for c, s_c in deg_sum.items():
        total += intra.get(c, 0) - (s_c * s_c - deg_sq[c]) / 4.0 / m
    return total / 2.0 / m


def modularity(edges: DataFrame, components: DataFrame) -> float:
    """Distributed modularity, identical arithmetic to ``modularity_local``
    (``Community.scala:30-46`` re-expressed declaratively) in the same
    O(E) incremental decomposition — NOT a same-component pair self-join,
    which is O(sum |C|^2) and collapses on a giant component:

      * degrees: one groupBy over the symmetrized edges
      * per-community degree sum / sum of squares: one groupBy over members
      * intra-community edge count: two membership joins on the edge table
      * Q = sum_c [ e_c - (S_c^2 - Q2_c)/(4m) ] / (2m)

    Every join key is a vertex id (broadcastable membership on the dim side
    at scale); shuffle volume is O(E), never O(V^2).
    """
    m = edges.count()
    if m == 0:
        return float("nan")
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    degrees = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    memb = components.join(degrees, "id").select("id", "component", "deg")
    per_comm = memb.groupBy("component").agg(
        F.sum("deg").alias("deg_sum"),
        F.sum(F.col("deg") * F.col("deg")).alias("deg_sq"),
    )
    comp_of = components.select("id", "component")
    e_canon = (
        edges.select(
            F.least("src", "dst").alias("v1"), F.greatest("src", "dst").alias("v2")
        )
        # mirror modularity_local's self-loop exclusion (reference pair
        # loop is strictly i<j)
        .filter(F.col("v1") != F.col("v2"))
        .distinct()
    )
    intra = (
        e_canon.join(comp_of.withColumnsRenamed({"id": "v1", "component": "c1"}), "v1")
        .join(comp_of.withColumnsRenamed({"id": "v2", "component": "c2"}), "v2")
        .filter(F.col("c1") == F.col("c2"))
        .groupBy(F.col("c1").alias("component"))
        .agg(F.count(F.lit(1)).alias("n_intra"))
    )
    terms = per_comm.join(intra, "component", "left_outer").select(
        (
            F.coalesce(F.col("n_intra"), F.lit(0)).cast("double")
            - (
                F.col("deg_sum") * F.col("deg_sum") - F.col("deg_sq")
            ).cast("double")
            / F.lit(4.0)
            / F.lit(float(m))
        ).alias("term")
    )
    total = terms.agg(F.sum("term")).first()[0] or 0.0
    return total / 2.0 / float(m)


# ---------------------------------------------------------------------------
# Girvan-Newman loop (Community.scala:50-148)
# ---------------------------------------------------------------------------

def girvan_newman_communities(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    step: int = 2500,
    step_zoom: int = 5,
    sample_sources: int | None = None,
) -> DataFrame:
    """Full GN community detection, driver-orchestrated exactly like the
    reference: betweenness once on the original graph; removal schedule =
    edges by descending betweenness (ties broken by (src, dst) — documented
    deviation); ``maximumSearch`` advances ``step`` removals at a time while
    modularity is non-decreasing; on overshoot the step shrinks by
    ``step_zoom``; accept when the community count across the final step
    rises by <= 1, and emit the communities BEFORE that step
    (``Community.scala:118-138``).

    The search loop runs driver-local over the collected (gated) edge list —
    the same data the reference collects for its schedule — so each probe is
    O(E) (incremental modularity + union-find) instead of a full distributed
    job cascade. The schedule is read straight from the betweenness kernel's
    driver-side result, with no DataFrame round trip. ``sample_sources`` is
    ``edge_betweenness``'s Brandes-Pich-style estimator that makes the
    schedule affordable on large graphs (None = exact, reference parity).
    """
    import pyarrow as pa

    spark = edges.sparkSession
    # Persisted under source sampling: the (often expensive) edge-building
    # plan is then consumed twice — by the betweenness adjacency collect and
    # by the schedule-tail collect below — and must not evaluate twice. Exact
    # betweenness reads it once, where a cache only adds jobs.
    edges_p = edges.persist() if sample_sources is not None else edges
    try:
        try:
            src, dst, bet = _kernel_betweenness(edges_p, vertices, sample_sources)
            schedule = list(zip(src.tolist(), dst.tolist(), bet.tolist()))
        except _DriverGated:  # edge_betweenness's fallback
            schedule = [
                (int(r["src"]), int(r["dst"]), float(r["betweenness"]))
                for r in edge_betweenness_distributed(
                    edges_p, sample_sources=sample_sources
                ).collect()
            ]
        schedule.sort(key=lambda t: (-t[2], t[0], t[1]))
        ordered_edges = [(s, d) for s, d, _ in schedule]
        # Under source sampling, edges touched by no sampled BFS carry zero
        # credit and are absent from `bet` — they are still graph edges.
        # Append them at the tail (betweenness 0, removed last, deterministic
        # order). With exact betweenness every edge of a non-trivial
        # component gets credit from its own endpoints' BFS, so the tail is
        # provably empty there — skip its distinct+collect on that hot path.
        if sample_sources is not None:
            scheduled = set(ordered_edges)
            tail = sorted(
                (int(r["src"]), int(r["dst"]))
                for r in edges_p.select(
                    F.least("src", "dst").alias("src"),
                    F.greatest("src", "dst").alias("dst"),
                )
                .distinct()
                .collect()
                if (int(r["src"]), int(r["dst"])) not in scheduled
            )
            ordered_edges.extend(tail)
        all_vertices: set[int] = {v for e in ordered_edges for v in e}
        if vertices is not None:
            all_vertices.update(int(r[0]) for r in vertices.collect())
    finally:
        edges_p.unpersist()

    def components_after(removed: int) -> dict[int, int]:
        return _components_local(ordered_edges[removed:], all_vertices)

    def modularity_after(removed: int) -> float:
        remaining = ordered_edges[removed:]
        return modularity_local(remaining, components_after(removed))

    def n_communities(removed: int) -> int:
        comp = components_after(removed)
        return len(set(comp.values()))

    n_edges = len(ordered_edges)

    def maximum_search(start: int, stp: int) -> int:
        # Community.scala:67-109: advance `stp` removals at a time while
        # modularity is non-decreasing; return the count where it first drops.
        count = start
        mod = modularity_after(min(count, n_edges))
        while count < n_edges:
            count += stp
            new_mod = modularity_after(min(count, n_edges))
            if new_mod == new_mod and new_mod >= mod:
                mod = new_mod
            else:
                break
        return count

    step = max(1, min(step, max(1, n_edges)))
    count = maximum_search(0, step)
    while True:
        lower = n_communities(min(max(count - step, 0), n_edges))
        higher = n_communities(min(count, n_edges))
        # Removing one edge splits at most one component, so step == 1
        # always satisfies the acceptance test — the loop terminates.
        if higher - lower <= 1:
            comp = components_after(min(max(count - step, 0), n_edges))
            members: dict[int, list[int]] = defaultdict(list)
            for v, c in comp.items():
                members[c].append(v)
            data = sorted((sorted(g) for g in members.values()), key=lambda g: g[0])
            # An Arrow table becomes a JVM-side relation: no Python stage.
            return spark.createDataFrame(
                pa.table({"members": pa.array(data, pa.list_(pa.int64()))}),
                StructType([StructField("members", ArrayType(LongType()), False)]),
            )
        # Community.scala:142-145: rewind one coarse step, zoom in, research.
        start = max(count - step, 0)
        step = max(1, step // step_zoom)
        count = maximum_search(start, step)


def girvan_newman_fixedpoint(
    edges: DataFrame,
    max_depth: int = 8,
    scale: int = 10**9,
    source_mod: int | None = None,
    n_grid: int = 32,
    label_rounds: int = 8,
    betweenness: DataFrame | None = None,
) -> DataFrame:
    """Cross-engine-PROVABLE Girvan–Newman twin: the full remove-by-
    betweenness / pick-best-modularity loop (``Community.scala:67-138``)
    re-stated so every step is integer-deterministic and therefore
    expressible as a chained-CTE DuckDB oracle — the same provability
    trick as ``edge_betweenness_fixedpoint`` (whose schedule this rides),
    ``pagerank``, and ``kcore``.

    The three documented deviations from the float GN (which remains the
    reference-parity path, byte-for-byte against ``communities.txt``):

    1. **Schedule** comes from the fixed-point betweenness (BIGINT floor-
       division credits, ``source_mod`` deterministic source subset), ties
       broken by (src, dst) — one global total order, identical in any
       engine with 64-bit integers.
    2. **Search** is an argmax over a deterministic grid of removal counts
       (every multiple of ``gs = max(1, E // n_grid)``) instead of the
       reference's step/zoom walk — same family of candidate partitions,
       no data-dependent control flow, ties broken by the SMALLEST count.
    3. **Modularity** is evaluated on the ORIGINAL graph (the textbook
       Newman–Girvan Q: original m and degrees, partition induced by the
       remaining graph's labels) so the denominator 8m² is constant and
       the argmax compares pure integers:
       ``score(k) = Σ_c [4·m·e_c − (S_c² − Q2_c)] = Q·8m²``; exact in a
       signed long for m < ~1.5e9 edges (|score| ≤ 8m²).

    Components per grid point are ``label_rounds`` fixed rounds of
    deterministic min-label propagation + pointer jumping (reach roughly
    doubles per round, so 8 rounds cover any diameter ≤ ~2⁸ after jumps).
    The round count is part of the operator contract — both engines run
    the identical update, so results match even before convergence, and
    extra rounds past convergence are the identity.

    Distributed shape: NO driver-side search loop (unlike the float GN's
    gated collect) — the grid rides as a ``k`` key through every join, so
    one plan evaluates all candidate partitions at once: per round one
    (k,v)-keyed aggregate and two (k,v)-keyed joins over the
    grid × remaining-edges table, lineage truncated per round; modularity
    is two bounded aggregates + one membership join; the argmax is a
    2-column sort of ~n_grid rows. Output: one row per community of the
    winning partition — ``(community, members_str, n_members)``.

    ``betweenness`` optionally supplies a precomputed
    ``edge_betweenness_fixedpoint`` result for the same (max_depth,
    scale, source_mod) — the shared-intermediate pattern: a deployment
    that also serves the betweenness query computes the schedule once.
    """
    from inf_553_datamining_mapreduce_spark.operators.olap import _global_ranks

    e = (
        edges.select(
            F.least(F.col("src").cast("long"), F.col("dst").cast("long")).alias(
                "src"
            ),
            F.greatest(
                F.col("src").cast("long"), F.col("dst").cast("long")
            ).alias("dst"),
        )
        # duplicate or reversed-duplicate input edges would inflate m0,
        # the degree sums, and the rank schedule; the generated oracle's
        # e0 is duplicate-free (GROUP BY), so dedup here keeps library
        # semantics and oracle semantics identical for ARBITRARY callers,
        # not just pre-deduped graphs like the registered cooccurrence one.
        .distinct()
        .localCheckpoint()  # consumed by betweenness, schedule, degrees, intra
    )
    m0 = e.count()
    spark = edges.sparkSession
    if m0 == 0:
        return spark.createDataFrame(
            [], "community long, members_str string, n_members long"
        )
    bet = betweenness
    if bet is None:
        bet = edge_betweenness_fixedpoint(
            e, max_depth=max_depth, scale=scale, source_mod=source_mod
        )
    sched = e.join(bet, ["src", "dst"], "left").select(
        "src",
        "dst",
        F.coalesce("credit_sum_fp", F.lit(0).cast("long")).alias("credit"),
    )
    ranked = _global_ranks(
        sched,
        [F.col("credit").desc(), F.col("src").asc(), F.col("dst").asc()],
        rank_name="rank",
    ).localCheckpoint()

    gs = max(1, m0 // n_grid)
    ks = (
        ranked.select(F.expr(f"(rank div {gs}) * {gs}").alias("k"))
        .union(spark.range(1).select(F.lit(0).cast("long").alias("k")))
        .distinct()
        .localCheckpoint()
    )
    verts = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
    )
    rem = ks.crossJoin(ranked).filter(F.col("rank") > F.col("k")).select(
        "k", "src", "dst"
    )
    symr = rem.union(
        rem.select("k", F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()

    lab = ks.crossJoin(verts).select(
        "k", "v", F.col("v").alias("lbl")
    ).localCheckpoint()
    for r in range(label_rounds):
        # min over own + neighbor labels in ONE aggregate (r14, guide
        # §2.4): the previous shape aggregated neighbor minima and then
        # LEFT-JOINED them back onto ``lab`` (one more exchange of the
        # state table per round). Unioning the own-label rows into the
        # same (k, v)-keyed aggregate computes the identical value —
        # min(lbl, min neighbor lbl) = min over the union, and a vertex
        # with no remaining edges keeps its own label via its union row
        # (exactly what the old coalesce did).
        cand = (
            symr.join(
                lab.select(
                    F.col("k").alias("nk"),
                    F.col("v").alias("nv"),
                    F.col("lbl").alias("nlbl"),
                ),
                (F.col("k") == F.col("nk")) & (F.col("dst") == F.col("nv")),
            )
            .select("k", F.col("src").alias("v"), F.col("nlbl").alias("c"))
            .unionAll(lab.select("k", "v", F.col("lbl").alias("c")))
        )
        a = cand.groupBy("k", "v").agg(F.min("c").alias("lbl"))
        # pointer jump: lbl'(v) = lbl(lbl(v)) — labels are always vertex
        # ids of the same k-slice, so the mapping join is total (inner).
        mapping = a.select(
            F.col("k").alias("mk"), F.col("v").alias("mv"), F.col("lbl").alias("mlbl")
        )
        lab = a.join(
            mapping,
            (F.col("k") == F.col("mk")) & (F.col("lbl") == F.col("mv")),
        ).select("k", "v", F.col("mlbl").alias("lbl"))
        # stats-resetting checkpoint EVERY OTHER round (r14): lab is
        # referenced 3x per round (neighbor join, union, jump self-join),
        # so the unchecked plan grows ~3x per round — two rounds (~9
        # subtrees over k-sliced tables this small) evaluate faster than
        # the extra checkpoint job they replace (measured: 8 checkpoints
        # 5.9 s, every-2 4.6 s, every-4 — 27 subtrees — 9.3 s; the same
        # BigInt statistics trap documented at _checkpoint_reset_stats
        # still caps the depth).
        if (r + 1) % 2 == 0 or r == label_rounds - 1:
            lab = _checkpoint_reset_stats(lab)

    deg0 = (
        e.select(F.col("src").alias("v"))
        .unionAll(e.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    dega = (
        lab.join(deg0, "v")
        .groupBy("k", "lbl")
        .agg(
            F.sum("d").alias("s_deg"),
            F.sum(F.col("d") * F.col("d")).alias("q2_deg"),
        )
    )
    la = lab.select(
        F.col("k").alias("ka"), F.col("v").alias("src"), F.col("lbl").alias("ca")
    )
    lb = lab.select(
        F.col("k").alias("kb"), F.col("v").alias("dst"), F.col("lbl").alias("cb")
    )
    intra = (
        e.join(la, "src")
        .join(lb, (F.col("ka") == F.col("kb")) & (lb.dst == e.dst))
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ka").alias("k"), F.col("ca").alias("lbl"))
        .agg(F.count(F.lit(1)).cast("long").alias("ec"))
    )
    score = (
        dega.join(intra, ["k", "lbl"], "left")
        .select(
            "k",
            (
                F.lit(4 * m0).cast("long")
                * F.coalesce("ec", F.lit(0).cast("long"))
                - (F.col("s_deg") * F.col("s_deg") - F.col("q2_deg"))
            ).alias("sc"),
        )
        .groupBy("k")
        .agg(F.sum("sc").cast("long").alias("score"))
    )
    best = score.orderBy(F.desc("score"), F.asc("k")).limit(1).select("k")
    return (
        lab.join(F.broadcast(best), "k")
        .groupBy("lbl")
        .agg(
            F.array_join(F.sort_array(F.collect_list("v")), ",").alias(
                "members_str"
            ),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
        .select(
            F.col("lbl").alias("community"), "members_str", "n_members"
        )
        .orderBy("community")
    )


def kcore(edges: DataFrame, k: int = 20, max_rounds: int = 10) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly drop vertices
    with degree < ``k`` (and their edges) until nothing changes, then emit
    each surviving vertex with its in-core degree. Extends the degree/
    subgraph family (ops A8/G4/G5) to the standard dense-substructure
    primitive the reference stops short of.

    Distributed shape: every round is one degree aggregation plus two
    semi-joins on the edge list — O(E) work, no adjacency collection, so
    unlike the betweenness kernel this has no driver-size gate. Lineage is
    truncated per round (``localCheckpoint``) — without it each round would
    re-evaluate the whole peel chain (the iterative-plan trap).

    Rounds are capped at ``max_rounds`` so an equivalent fixed-unroll SQL
    oracle exists; the early exit at the fixpoint cannot change the result
    (further peels are the identity), it only skips dead work.
    """
    e = edges.select("src", "dst").localCheckpoint()
    n_edges = e.count()
    for _ in range(max_rounds):
        deg = (
            e.select(F.col("src").alias("v"))
            .unionAll(e.select(F.col("dst").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("v")
        e2 = (
            e.join(keep.withColumnRenamed("v", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("v", "dst"), "dst", "left_semi")
            .localCheckpoint()
        )
        n2 = e2.count()
        if n2 == n_edges:
            break
        e, n_edges = e2, n2
    return (
        e.select(F.col("src").alias("c"))
        .unionAll(e.select(F.col("dst").alias("c")))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("kcore_degree"))
        .orderBy("c")
    )


def bfs_distances(
    edges: DataFrame, n_landmarks: int = 4, max_hops: int = 20
) -> DataFrame:
    """``(id, landmark, dist)`` — unweighted shortest-path hop counts from
    each of the ``n_landmarks`` smallest vertex ids, over the undirected
    graph. Extends the per-source BFS the betweenness kernel runs on the
    driver (``Betweenness.scala:56-79``) to a fully distributed multi-source
    frontier expansion — the landmark-distance primitive behind graph
    embeddings and closeness estimates.

    Distributed shape: each hop is ONE shuffle join (frontier ⋈ edges) plus
    an anti-join against the settled set — O(E) per round, never an
    adjacency collect, so there is no driver-size gate. All ``n_landmarks``
    BFS trees advance in the SAME join (the landmark column rides along),
    so the round count is the graph diameter, not diameter × landmarks.
    Lineage is cut per round (``localCheckpoint``) — the iterative-plan
    trap. The early exit at an empty frontier cannot change the result;
    ``max_hops`` bounds the walk so a fixed-depth recursive-CTE oracle
    expresses identical semantics.
    """
    sym = (
        edges.select("src", "dst")
        .unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .localCheckpoint()
    )
    landmarks = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .orderBy("id")
        .limit(n_landmarks)
    )
    settled = landmarks.select(
        "id", F.col("id").alias("landmark"), F.lit(0).cast("long").alias("dist")
    ).localCheckpoint()
    frontier = settled
    for hop in range(1, max_hops + 1):
        candidates = (
            frontier.join(sym, frontier.id == sym.src)
            .select(
                F.col("dst").alias("id"),
                "landmark",
                F.lit(hop).cast("long").alias("dist"),
            )
            .distinct()
        )
        fresh = candidates.join(
            settled, ["id", "landmark"], "left_anti"
        ).localCheckpoint()
        if fresh.isEmpty():
            break
        settled = settled.unionByName(fresh).localCheckpoint()
        frontier = fresh
    return settled.orderBy("landmark", "id")


def link_prediction_scores(
    edges: DataFrame, k: int = 20, max_neighbor_df: int | None = None
) -> DataFrame:
    """Common-neighbor link prediction over the undirected graph: for every
    NON-adjacent pair sharing >= 1 neighbor, the common-neighbor count and
    neighborhood Jaccard ``cn / (deg_a + deg_b - cn)``; top-k by score with
    a total deterministic tie-break. The classic "who should be connected"
    query (recommendations, missing-edge detection).

    Contract: ``edges`` must be DISTINCT canonically-oriented (src < dst)
    pairs — duplicated or symmetric input double-counts degrees and common
    neighbors (``cooccurrence_edges`` produces exactly this form).

    Shape at scale: candidate pairs come from the same wedge join the
    triangle count uses (two shuffle joins on vertex keys — never an
    all-pairs product); existing edges drop out with one anti join; degrees
    attach via two key joins. A wedge pivot vertex v fans out deg(v)^2
    intermediate rows on one key, so with ``max_neighbor_df`` set,
    super-node pivots (deg > cut) are dropped from the wedge enumeration
    BEFORE the join — the same df-cut the shingle dedup applies. The cut is
    LOSSY: every pair with at least one super-node common neighbor gets a
    lowered cn (and Jaccard), which can reshuffle the top-k, and pairs
    witnessed ONLY by super-nodes disappear; degrees (the Jaccard
    denominator) are still computed over the full graph, so surviving
    scores are conservative, never inflated. The library default is
    ``None`` (exact); the registered query opts into the cut for the
    hub-heavy scale path.
    """
    e = edges.select("src", "dst")
    sym = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    wedge_legs = sym
    if max_neighbor_df is not None:
        hot = deg.filter(F.col("deg") > max_neighbor_df).select(
            F.col("src").alias("pivot")
        )
        # Both wedge legs meet at the pivot (w1.dst == w2.src == pivot), so
        # one anti join on the leg's dst removes every wedge through a hot
        # pivot; the hot set is tiny by construction → broadcast anti join.
        wedge_legs = sym.join(
            F.broadcast(hot), sym.dst == F.col("pivot"), "left_anti"
        )
    w1 = wedge_legs.alias("w1")
    w2 = wedge_legs.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    ).alias("w2")
    cn = (
        w1.join(w2, F.col("w1.dst") == F.col("w2.src"))
        .filter(F.col("w1.src") < F.col("w2.dst"))
        .select(F.col("w1.src").alias("a"), F.col("w2.dst").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    non_edges = cn.join(
        e, (cn.a == e.src) & (cn.b == e.dst), "left_anti"
    )
    return (
        non_edges.join(
            deg.select(F.col("src").alias("a"), F.col("deg").alias("deg_a")), "a"
        )
        .join(deg.select(F.col("src").alias("b"), F.col("deg").alias("deg_b")), "b")
        .select(
            "a",
            "b",
            "common_neighbors",
            (
                F.col("common_neighbors")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common_neighbors"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.desc("common_neighbors"), "a", "b")
        .limit(k)
    )


def degree_distribution(edges: DataFrame) -> DataFrame:
    """Degree histogram of the undirected graph: how many vertices have
    each degree — the first sanity plot of any graph pipeline (power-law
    check, super-node detection before choosing wedge cuts).

    Contract: ``edges`` must be DISTINCT canonically-oriented (src < dst)
    pairs (``cooccurrence_edges`` form). Two bounded aggregates — degrees
    per vertex, then counts per degree; the second groups on a key whose
    cardinality is at most max-degree."""
    sym = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
        .orderBy("degree")
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-vertex local clustering coefficient: triangles(v) divided by
    deg(v)·(deg(v)-1)/2 — how close each neighborhood is to a clique, the
    standard spam-farm / community-density signal.

    Contract: ``edges`` must be DISTINCT canonically-oriented (src < dst)
    pairs (``cooccurrence_edges`` form). Composes the canonical triangle
    count with one degree aggregate and a key join; degree-1 vertices emit
    coefficient 0 (no possible wedge). The division is one IEEE op over
    exact longs — bit-identical cross-engine.

    The symmetrized-degree table is computed ONCE (materialized via
    localCheckpoint — vertex-cardinality, bounded) and feeds both the
    degree orientation inside ``triangle_counts`` and the wedge
    denominator here; the previous form ran the identical aggregate twice
    (round-4 verdict item 6).
    """
    deg_v = _sym_degrees(edges).localCheckpoint()
    tri = triangle_counts(edges, degrees=deg_v)
    deg = deg_v.select(F.col("v").alias("id"), F.col("d").alias("deg"))
    possible = (F.col("deg") * (F.col("deg") - 1) / F.lit(2.0))
    return (
        tri.join(deg, "id")
        .select(
            "id",
            "n_triangles",
            "deg",
            F.when(F.col("deg") >= 2, F.col("n_triangles") / possible)
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
        .orderBy("id")
    )


def label_propagation(edges: DataFrame, rounds: int = 5) -> DataFrame:
    """Semi-synchronous label propagation communities over DISTINCT
    canonically-oriented edges (``cooccurrence_edges`` form): every vertex
    starts as its own label; each round every vertex simultaneously adopts
    the most frequent label among its neighbors, ties broken by the
    SMALLEST label — the deterministic LPA variant (raw LPA's random tie
    order is irreproducible across engines and runs). Unlike connected
    components (which merge everything reachable), bounded-round LPA keeps
    densely-connected cores together while sparse bridges stay separate —
    the cheap community detector between CC and Girvan–Newman.

    Shape at scale: each round is one join (neighbor labels), one count
    aggregate, and one per-vertex argmax window over label-count rows
    (bounded by the vertex's distinct neighbor labels ≤ degree);
    ``localCheckpoint`` truncates lineage per round exactly as the
    pagerank/k-core loops do. The fixed round count makes the whole
    algorithm expressible as a depth-unrolled chained-CTE oracle — the
    ``_pagerank_oracle`` provability trick (extra rounds past a fixpoint
    are NOT the identity here, so the oracle must unroll the same count,
    which it does by construction).
    """
    sym = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        sym.select(F.col("src").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("label"))
        .localCheckpoint()
    )
    for _ in range(rounds):
        nb = sym.join(
            labels.withColumnRenamed("v", "dst"), "dst"
        ).select(F.col("src").alias("v"), "label")
        cnt = nb.groupBy("v", "label").agg(F.count(F.lit(1)).alias("c"))
        # Argmax by (c DESC, label ASC) as one partial-aggregatable
        # max(struct(c, -label)) — same total order as the row_number
        # window this replaces (labels are vertex ids >= 0), without
        # the per-round sort exchange (r13 optimization round, the
        # louvain_moves rewrite applied here).
        labels = (
            cnt.groupBy("v")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("lneg"))
                ).alias("b")
            )
            .select("v", (-F.col("b.lneg")).alias("label"))
            .localCheckpoint()
        )
    return labels.select(
        F.col("v").alias("c"), F.col("label").alias("community")
    ).orderBy("c")


# Serializes the snapshot/checkpoint/diff window in _checkpoint_reset_stats:
# two concurrent calls interleaving their registry snapshots would each
# capture the OTHER's fresh checkpoint blocks in `pinned` and later release
# them — unrecoverable for a lineage-truncated frame.
_CKPT_LOCK = threading.Lock()


def _checkpoint_reset_stats(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` that also RESETS the plan's size statistics.

    ``Dataset.localCheckpoint`` truncates lineage but PRESERVES the origin
    plan's ``sizeInBytes`` estimate, and Catalyst's size estimation
    multiplies the two sides of every join. An iterative operator whose
    state table joins into itself k times per round therefore compounds
    the estimate k-fold per round — the BigInt grows to tens of
    thousands of DIGITS within a few rounds, and the optimizer's
    statistics pass degenerates into Toom-Cook bignum multiplication
    that dwarfs the actual query (measured: Louvain round 8 spent 180 s
    of driver CPU inside ``BigInteger.multiply``; the one-join-per-round
    loops like label propagation only grow the estimate linearly, which
    is why they never hit this). Rebuilding the Dataset from the
    checkpointed RDD (a JVM-side Row pass, no Python round-trip) yields
    a LogicalRDD with the DEFAULT size estimate — constant per round, so
    round cost stays flat. The default estimate also disables compile-
    time auto-broadcast of the state table, which is correct at scale
    (the table is |V|-sized); AQE restores runtime broadcasts from
    actual sizes where they fit.
    """
    ck = None
    try:
        # Private-API dependency (PySpark keeps no public handle to the
        # JVM Dataset): if an engine upgrade renames these, fall back to
        # the plain checkpoint — correct, just exposed to the compounding
        # size-estimate slowdown documented above. `ck` is tracked so the
        # fallback NEVER re-checkpoints a plan that already materialized
        # (that would compute twice and leak the first copy's blocks for
        # the session life — the exact leak this function exists to plug).
        #
        # The registry snapshot/checkpoint/diff below assumes ONE driver
        # thread submits jobs at a time (the engine's own loops and the
        # correctness/bench drivers are all serial); `_CKPT_LOCK` makes
        # concurrent _checkpoint_reset_stats calls safe against EACH
        # OTHER, but an RDD persisted by unrelated code on another thread
        # between the two snapshots would still be mis-captured in
        # `pinned` and destroyed by a later release — lineage-truncated
        # checkpoint blocks are unrecoverable, so don't run foreign
        # persist work concurrently with the iterative operators.
        with _CKPT_LOCK:
            jsc = df.sparkSession.sparkContext._jsc
            before = set(dict(jsc.getPersistentRDDs()).keys())
            ck = df.localCheckpoint()
            # The RDD that localCheckpoint actually PERSISTS is an internal
            # one (the physical plan's execute().map(_.copy()) — see
            # Dataset.checkpoint in Spark source); neither `ck` nor any RDD
            # derived from it via javaRDD() holds a handle to it, so
            # unpersisting a derived RDD is a silent no-op (ADVICE r10,
            # verified empirically: getPersistentRDDs() still listed the
            # block). Diff the context's persistent-RDD registry around the
            # eager checkpoint instead — the only new entries are this
            # checkpoint's blocks, and unpersisting THOSE ids demonstrably
            # drops the registry count (test_release_drops_persistent_rdds).
            pinned = [
                jrdd
                for rid, jrdd in dict(jsc.getPersistentRDDs()).items()
                if rid not in before
            ]
        jdf = ck._jdf
        new_jdf = df.sparkSession._jsparkSession.createDataFrame(
            jdf.javaRDD(), jdf.schema()
        )
        out = DataFrame(new_jdf, df.sparkSession)

        # Handle for the caller to RELEASE the pinned blocks once this
        # round's state is superseded: localCheckpoint blocks live for
        # the session otherwise, and an iterative operator invoked many
        # times in one session accumulates them until GC pressure
        # dominates (measured round 7: repeated sf10 Louvain runs in one
        # session degraded 13 -> 31 s with zero code change). Safe to
        # call only AFTER the next round's eager checkpoint has
        # materialized — a local checkpoint truncates lineage, so a
        # released frame must never be recomputed.
        def _release(pinned=pinned):
            for jrdd in pinned:
                jrdd.unpersist(False)

        out._graft_release = _release
        return out
    except AttributeError:
        # If the checkpoint already materialized before the private-API
        # lookup failed, return THAT frame — re-checkpointing here would
        # recompute the plan and permanently leak the first copy.
        return ck if ck is not None else df.localCheckpoint()


def louvain(edges: DataFrame, rounds: int = 3, levels: int = 2) -> DataFrame:
    """FULL multi-level Louvain, deterministic and all-BIGINT: run the
    synchronous move rounds (``louvain_moves``), CONTRACT each community
    to a supernode — inter-community edge counts become weights,
    intra-community mass becomes self-loops — then run the move rounds
    again on the weighted supergraph, and project the coarse labels back
    to the original vertices. This is the aggregation phase that makes
    Louvain Louvain (Blondel et al. 2008, §2): level 1 finds local
    cores, the contraction lets level 2 merge whole cores that the
    vertex-granular rule couldn't move atomically.

    Community ids stay stable under contraction (a community's id is its
    minimum-gain-argmax label, itself a vertex id), so the supergraph's
    vertex set is a subset of the original id space and the final
    projection is one join. Determinism: every level inherits the
    (score DESC, community ASC) total order; the contraction is a pure
    aggregate. Fixed (rounds, levels) = the whole algorithm unrolls into
    one chained-CTE oracle (``_louvain_oracle`` with ``levels=2``).

    Shape at scale: the contraction is ONE groupBy over the edge list
    (canonicalized with least/greatest so both directions of an
    inter-community pair land on one weighted edge); each level's
    supergraph is no larger than the previous level's community count,
    so cost is dominated by level 1 — the same envelope as
    ``label_propagation``.
    """
    mapping = louvain_moves(edges, rounds=rounds).select(
        F.col("c").alias("v"), F.col("community").alias("label")
    )
    for _ in range(levels - 1):
        e = (
            edges.select("src", "dst")
            .join(
                mapping.select(
                    F.col("v").alias("src"), F.col("label").alias("ls")
                ),
                "src",
            )
            .join(
                mapping.select(
                    F.col("v").alias("dst"), F.col("label").alias("ld")
                ),
                "dst",
            )
            .select(
                F.least("ls", "ld").alias("src"),
                F.greatest("ls", "ld").alias("dst"),
            )
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("w"))
            .localCheckpoint()
        )
        coarse = louvain_moves(e, rounds=rounds, weight_col="w").select(
            F.col("c").alias("label"), F.col("community").alias("label2")
        )
        mapping = (
            mapping.join(coarse, "label")
            .select("v", F.col("label2").alias("label"))
            .localCheckpoint()
        )
    return mapping.select(
        F.col("v").alias("c"), F.col("label").alias("community")
    ).orderBy("c")


def incremental_community_assignment(
    new_edges: DataFrame,
    base_edges: DataFrame,
    rounds: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """Ingestion-time community assignment — the streaming/incremental
    twin of the batch community detectors, the same stream-static shape
    as ``dedup.index_near_duplicates`` and
    ``text.index_span_contamination``: the BASE graph's Louvain labels
    are a frozen static index; each INCOMING vertex gets one
    ``louvain_moves``-rule evaluation against them (insertion gain only —
    a new vertex has no community to leave):

        score(v, c) = 2m * k_vc - deg(v) * sig_c

    with ``m`` / ``sig_c`` frozen from the base graph, ``k_vc`` the
    vertex's edge weight into community c, and ``deg(v)`` its total
    weight in ``new_edges``. Argmax by (score DESC, community ASC) — the
    same total order as ``louvain_moves`` — taken only when the best
    score is STRICTLY positive (a non-positive gain means stay a
    singleton: the vertex keeps its own id as community, exactly how
    ``louvain_moves`` seeds). New vertices are those of ``new_edges``
    not present in the frozen labels (anti-join), so late-arriving
    members of the indexed graph are never re-assigned. All-integer —
    exact while ``2 * m * max_degree < 2^63``, same documented bound as
    ``louvain_moves`` — so the whole composition oracles in DuckDB.

    Stream shape: everything derived from ``base_edges`` is STATIC
    (labels, sig, the scalar m); the ``new_edges`` side is a projection,
    one stream-static join, and per-vertex aggregates + argmax that are
    COMPLETE within a micro-batch whenever a vertex's edges arrive
    together (the adjacency-grouped ingestion convention — same
    per-batch completeness contract as ``index_span_contamination``,
    proven via foreachBatch in the tests). No watermark, no cross-batch
    state.

    Shape at scale: base stats are one Louvain run + two aggregates,
    amortized across every probe batch; per batch one edges-sized join
    + aggregate and one argmax window bounded by the vertex's distinct
    neighbor communities <= degree. No all-pairs anything.
    """
    ew = F.col(weight_col) if weight_col else F.lit(1)
    labels = louvain_moves(
        base_edges, rounds=rounds, weight_col=weight_col
    ).select(F.col("c").alias("v"), F.col("community"))
    base = base_edges.select("src", "dst", ew.cast("long").alias("w"))
    bsym = base.unionAll(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    bdeg = bsym.groupBy(F.col("src").alias("v")).agg(F.sum("w").alias("deg"))
    m = base.agg(F.sum("w")).collect()[0][0] or 0
    sig = (
        labels.join(bdeg, "v")
        .groupBy("community")
        .agg(F.sum("deg").alias("sig"))
        .localCheckpoint()
    )
    lab_static = labels.localCheckpoint()

    new = new_edges.select("src", "dst", ew.cast("long").alias("w"))
    nsym = new.unionAll(
        new.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    newv = (
        nsym.select(F.col("src").alias("v"))
        .distinct()
        .join(lab_static, "v", "left_anti")
    )
    ndeg = (
        nsym.groupBy(F.col("src").alias("v"))
        .agg(F.sum("w").alias("deg"))
        .join(newv, "v")
    )
    kvc = (
        nsym.filter(F.col("src") != F.col("dst"))
        .join(lab_static.withColumnRenamed("v", "dst"), "dst")
        .groupBy(F.col("src").alias("v"), "community")
        .agg(F.sum("w").alias("k"))
    )
    scored = (
        kvc.join(ndeg, "v")
        .join(sig, "community")
        .select(
            "v",
            "community",
            (
                F.lit(2 * m) * F.col("k") - F.col("deg") * F.col("sig")
            ).alias("score"),
        )
    )
    # Argmax by (score DESC, community ASC) as one hash-partial
    # aggregate — max(struct(score, -community)) realizes the same
    # total order the row_number window did (community ids are vertex
    # ids >= 0, so the negation never overflows); the strictly-positive
    # gate applies to the winner's score afterwards. Same rewrite as
    # louvain_moves (r13 optimization round): map-side partial max
    # replaces a full sort exchange of the scored rows.
    best = (
        scored.groupBy("v")
        .agg(
            F.max(
                F.struct(
                    F.col("score"), (-F.col("community")).alias("cneg")
                )
            ).alias("b")
        )
        .filter(F.col("b.score") > 0)
        .select("v", (-F.col("b.cneg")).alias("assigned"))
    )
    return (
        newv.join(best, "v", "left")
        .select(
            F.col("v").alias("c"),
            F.coalesce("assigned", F.col("v")).alias("community"),
        )
        .orderBy("c")
    )


def louvain_moves(
    edges: DataFrame, rounds: int = 3, weight_col: str | None = None
) -> DataFrame:
    """Synchronous one-level Louvain (modularity-gain label moves) over
    DISTINCT canonically-oriented edges, all-BIGINT and fully
    deterministic — the standard community-detection move rule at scale,
    made engine-reproducible the same way the pagerank/GN fixed-point
    twins are.

    Every vertex starts as its own community. Each round every vertex
    SIMULTANEOUSLY evaluates moving into each neighboring community c
    (and staying put), using the standard remove-then-insert gain with
    the 1/(2m^2) denominator cleared:

        score(v, c) = 2m * k_vc - deg(v) * (sig_c - [l(v)=c] * deg(v))

    where ``k_vc`` sums v's edge weight into c, ``sig_c`` sums the
    degrees of c's members under the CURRENT labels, and v's own degree
    leaves its community's sum first (classic Louvain evaluates v as
    removed). Argmax by (score DESC, community ASC) — a total order, so
    the round is value-identical in any engine; classic sequential
    Louvain's vertex-visit order dependence is exactly what this
    synchronous variant removes. All arithmetic is integer: exact while
    ``2 * m * max_degree < 2^63`` (DuckDB errors past it, Spark would
    wrap — document per corpus as with the other fixed-point twins).

    ``weight_col`` names an integer edge-weight column (default: every
    edge weighs 1) — the form ``louvain`` feeds the CONTRACTED level-2
    supergraph through, where weights are inter-community edge counts
    and self-loops (``src == dst``, the intra-community mass) are legal:
    the symmetrizing union double-counts a self-loop into deg exactly as
    2w, the Louvain convention, and self-edges are excluded from k_vc
    (a node evaluated as removed has no edge to itself in any
    candidate community — their mass rides only through deg/sig, the
    same for every candidate, so the argmax is unaffected).

    Two stabilizers make the parallel update converge where naive
    synchronous label updates thrash, both deterministic:

    * **Strict improvement**: a vertex moves only if the best candidate
      STRICTLY beats its stay score — score ties never cause wandering
      (inside a clique every member ties its own community against a
      sibling's; tie-moves would orbit forever).
    * **Parity gating**: round ``i`` only lets vertices with
      ``(v + i) % 2 == 0`` move — two mutually-best vertices otherwise
      trade labels forever (the classic synchronous swap pathology; a
      strict-gain swap is still a swap). Each sweep takes two rounds, so
      size ``rounds`` accordingly.

    Shape at scale: per round, one aggregate for the community degree
    sums (communities-sized), one join+aggregate for k_vc (edges-sized,
    the same shape as a label-propagation round), a zero-score union row
    so v's own community always competes, and a per-vertex argmax window
    bounded by the vertex's distinct neighbor communities <= degree.
    ``localCheckpoint`` truncates lineage per round. Fixed rounds =
    depth-unrolled chained-CTE oracle, like ``label_propagation``.
    """
    ew = F.col(weight_col) if weight_col else F.lit(1)
    base = edges.select("src", "dst", ew.cast("long").alias("w"))
    sym = base.unionAll(
        base.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    ).localCheckpoint()
    deg = sym.groupBy(F.col("src").alias("v")).agg(
        F.sum("w").alias("deg")
    ).localCheckpoint()
    # SUM over an empty edge list is NULL, not 0 — normalize so the
    # degenerate empty graph flows through (labels is empty anyway)
    m = base.agg(F.sum("w")).collect()[0][0] or 0
    labels = deg.select("v", F.col("v").alias("label")).localCheckpoint()
    for i in range(1, rounds + 1):
        sig = (
            labels.join(deg, "v")
            .groupBy("label")
            .agg(F.sum("deg").alias("sig"))
        )
        kvc = (
            sym.filter(F.col("src") != F.col("dst"))
            .join(labels.withColumnRenamed("v", "dst"), "dst")
            .select(F.col("src").alias("v"), F.col("label").alias("nlabel"), "w")
            .groupBy("v", "nlabel")
            .agg(F.sum("w").alias("k"))
        )
        cand = (
            kvc.unionAll(
                labels.select(
                    "v", F.col("label").alias("nlabel"), F.lit(0).alias("k")
                )
            )
            .groupBy("v", "nlabel")
            .agg(F.sum("k").alias("k"))
        )
        scored = (
            cand.join(deg, "v")
            .join(labels.withColumnRenamed("label", "cur"), "v")
            .join(sig, cand.nlabel == sig.label)
            .select(
                "v",
                "nlabel",
                "cur",
                (
                    F.lit(2 * m) * F.col("k")
                    - F.col("deg")
                    * (
                        F.col("sig")
                        - F.when(
                            F.col("nlabel") == F.col("cur"), F.col("deg")
                        ).otherwise(F.lit(0))
                    )
                ).alias("score"),
            )
        )
        # Argmax by (score DESC, nlabel ASC) and the stay score in ONE
        # hash aggregate: max(struct(score, -nlabel)) realizes the same
        # total order the row_number window did (lexicographic struct
        # max — higher score wins, ties break to the SMALLER nlabel),
        # and the own-community score rides as a conditional max in the
        # same pass. This replaces a full sort-exchange window plus a
        # second scan of `scored` (the own-score filter) plus two
        # per-round joins with one aggregate + one join — bit-identical
        # winners (labels are vertex ids >= 0, so -nlabel never
        # overflows). Guide §2.4: remove shuffles outright.
        stats = scored.groupBy("v").agg(
            F.max(
                F.struct(
                    F.col("score"), (-F.col("nlabel")).alias("nneg")
                )
            ).alias("b"),
            F.max(
                F.when(F.col("nlabel") == F.col("cur"), F.col("score"))
            ).alias("own_score"),
        )
        prev = labels
        labels = _checkpoint_reset_stats(
            labels.join(stats, "v")
            .select(
                "v",
                F.when(
                    ((F.col("v") + F.lit(i)) % 2 == 0)
                    & (F.col("b.score") > F.col("own_score")),
                    -F.col("b.nneg"),
                )
                .otherwise(F.col("label"))
                .alias("label"),
            )
        )
        # the new round's checkpoint is eager, so the superseded round's
        # pinned blocks can be released immediately (see
        # _checkpoint_reset_stats) — without this, repeated Louvain calls
        # in one session accumulate rounds x calls block sets
        release = getattr(prev, "_graft_release", None)
        if release is not None:
            release()
    return labels.select(
        F.col("v").alias("c"), F.col("label").alias("community")
    ).orderBy("c")


def weighted_sssp(
    edges: DataFrame,
    weight: Column | str = "w",
    n_landmarks: int = 4,
    max_rounds: int = 10,
) -> DataFrame:
    """``(id, landmark, dist)`` — WEIGHTED single-source shortest paths
    from the ``n_landmarks`` smallest vertex ids, over the undirected
    graph with positive integer edge weights: the Bellman-Ford relaxation
    ``bfs_distances`` reduces to when every weight is 1, now with real
    costs (GraphX's canonical ShortestPaths/Pregel example, which the
    reference's GraphX usage stops short of — cited for parity scope:
    Betweenness.scala runs unweighted BFS only).

    Distributed shape = delta-stepping-style frontier Bellman-Ford: per
    round ONE join (frontier ⋈ edges) + one min-aggregate, and only
    vertices whose distance IMPROVED re-enter the frontier, so settled
    regions stop generating work (on an unweighted graph this degenerates
    to exactly the BFS frontier). All ``n_landmarks`` trees relax in the
    SAME join. No adjacency collect, no driver state — O(E) per round at
    any scale. Lineage is cut per round with the stats-reset checkpoint
    (the Louvain lesson: the min-merge self-union would otherwise compound
    size estimates), and superseded round state is released.

    Early exit at an empty frontier cannot change the result (a round
    that improves nothing proves a fixed point — relaxation is monotone),
    so a fixed ``max_rounds``-round chained-CTE oracle expresses identical
    semantics: rounds after convergence are no-ops in both engines.
    Weights must be POSITIVE integers; ``max_rounds`` bounds the longest
    improving path, so diameters beyond it leave unreached pairs absent
    exactly as the oracle's unrolled rounds do.
    """
    wcol = F.col(weight) if isinstance(weight, str) else weight
    sym = (
        edges.select("src", "dst", wcol.cast("long").alias("w"))
        .unionAll(
            edges.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                wcol.cast("long").alias("w"),
            )
        )
        .localCheckpoint()
    )
    landmarks = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .orderBy("id")
        .limit(n_landmarks)
    )
    settled = landmarks.select(
        "id", F.col("id").alias("landmark"), F.lit(0).cast("long").alias("dist")
    ).localCheckpoint()
    frontier = settled
    for _ in range(max_rounds):
        relaxed = (
            frontier.join(sym, frontier.id == sym.src)
            .groupBy(F.col("dst").alias("id"), "landmark")
            .agg(F.min(F.col("dist") + F.col("w")).alias("dist"))
        )
        prev = settled
        known = prev.select(
            "id", "landmark", F.col("dist").alias("_known")
        )
        fresh = (
            relaxed.join(known, ["id", "landmark"], "left")
            .filter(F.col("_known").isNull() | (F.col("dist") < F.col("_known")))
            .select("id", "landmark", "dist")
            .localCheckpoint()
        )
        if fresh.isEmpty():
            break
        settled = _checkpoint_reset_stats(
            prev.unionByName(fresh)
            .groupBy("id", "landmark")
            .agg(F.min("dist").alias("dist"))
        )
        frontier = fresh
        release = getattr(prev, "_graft_release", None)
        if release is not None:
            release()
    return settled.orderBy("landmark", "id")


def connected_components_twostar(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 20,
) -> DataFrame:
    """``(id, component)`` with component = smallest vertex id — the same
    contract as ``connected_components`` — via ALTERNATING LARGE-STAR /
    SMALL-STAR contraction (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond"): per round, every vertex hangs its larger
    neighbors (large-star) then its smaller-or-equal neighbors
    (small-star) off its neighborhood minimum. The edge set converges to
    a forest of stars rooted at each component's minimum in O(log^2 n)
    rounds — the 100-TB alternative to min-label propagation, whose round
    count is the graph DIAMETER (a 10^6-hop chain needs 10^6 label
    rounds but ~20 star rounds; the path-graph test pins this).

    Each star operation is one groupBy-min + one join + one distinct —
    all edge-keyed shuffles on a monotonically shrinking edge set, no
    driver state, no adjacency collect. Early exit when a round changes
    nothing is exact (the star condition is a fixpoint); rounds past
    convergence are no-ops, so the fixed-round unrolled semantics match
    any correct CC oracle.
    """

    def star(e: DataFrame, large: bool) -> DataFrame:
        sym = e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = sym.groupBy(F.col("src").alias("u")).agg(
            F.min("dst").alias("mn")
        )
        m_u = F.least(F.col("u"), F.col("mn"))
        nbrs = sym.join(mins, sym.src == F.col("u"))
        if large:
            out = nbrs.filter(F.col("dst") > F.col("u")).select(
                F.col("dst").alias("src"), m_u.alias("dst")
            )
        else:
            out = (
                nbrs.filter(F.col("dst") <= F.col("u"))
                .select(F.col("dst").alias("src"), m_u.alias("dst"))
                .unionAll(mins.select(F.col("u").alias("src"), m_u.alias("dst")))
            )
        return (
            out.filter(F.col("src") != F.col("dst"))
            .select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            )
            .distinct()
        )

    # canonical (larger, smaller) orientation; drop self loops / dups
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        prev = e
        # stats-reset checkpoint, not the plain one: each star joins the
        # edge set against its own groupBy-min (twice per round), so the
        # preserved-origin size estimate would compound e^4 per round —
        # the Louvain BigInt trap (measured: 185 s at sf1 plain vs 30 s
        # reset). Superseded round state is released once the new round's
        # eager checkpoint has materialized.
        e = _checkpoint_reset_stats(star(star(e, large=True), large=False))
        converged = (
            e.exceptAll(prev).isEmpty() and prev.exceptAll(e).isEmpty()
        )
        release = getattr(prev, "_graft_release", None)
        if release is not None:
            release()
        if converged:
            break
    # converged: every edge hangs a vertex off its component root
    labels = e.groupBy(F.col("src").alias("id")).agg(
        F.min("dst").alias("component")
    )
    members = labels.select("id").unionAll(labels.select("component"))
    base = (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
    )
    if vertices is not None:
        base = base.unionAll(
            vertices.select(F.col(vertices.columns[0]).alias("id"))
        )
    singles = (
        base.distinct()
        .join(members.distinct(), "id", "left_anti")
        .select("id", F.col("id").alias("component"))
    )
    roots = (
        labels.select(F.col("component").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
    )
    return labels.unionByName(roots).unionByName(singles).orderBy("id")


def minimum_spanning_forest(
    edges: DataFrame,
    weight: Column | str = "w",
    max_rounds: int = 12,
) -> DataFrame:
    """Minimum spanning forest by BORUVKA's algorithm: each round, every
    component selects its minimum outgoing edge under the TOTAL order
    ``(w, src, dst)`` (canonical src < dst), the selected edges join the
    forest, and touching components merge. With a total edge order the
    forest is unique, so the output is deterministic and the unrolled
    chained-CTE oracle reproduces it exactly. Components at least halve
    per round — ``max_rounds`` = 12 covers 4096 initial components per
    connected piece; rounds past convergence select nothing and are
    no-ops (the early exit is exact).

    Distributed shape, per round: two label joins + one per-component
    argmin aggregate (min-struct, map-side combinable) over the REMAINING
    inter-component edges; the merge is connected components OF THE
    SELECTION GRAPH — at most one edge per component, so the two-star
    kernel runs on a component-count-sized input and converges in
    O(log^2) inner rounds. No driver collect anywhere; the forest
    accumulates as a distributed union. GraphX-parity scope: the
    reference's graph family (SURVEY.md §2.G) has no MST; this is the
    Boruvka formulation every Pregel-class engine ships.

    Returns ``(src, dst, w)`` forest edges, canonical src < dst.
    """
    wcol = F.col(weight) if isinstance(weight, str) else weight
    base = (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            wcol.cast("long").alias("w"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
        .localCheckpoint()
    )
    labels = (
        base.select(F.col("src").alias("v"))
        .unionAll(base.select(F.col("dst").alias("v")))
        .distinct()
        .select("v", F.col("v").alias("c"))
        .localCheckpoint()
    )
    forest = None
    for _ in range(max_rounds):
        lab_s = labels.select(F.col("v").alias("src"), F.col("c").alias("c_src"))
        lab_d = labels.select(F.col("v").alias("dst"), F.col("c").alias("c_dst"))
        inter = (
            base.join(lab_s, "src")
            .join(lab_d, "dst")
            .filter(F.col("c_src") != F.col("c_dst"))
        )
        # per-component argmin under the (w, src, dst) total order, seen
        # from BOTH endpoints' components
        cand = inter.select(
            F.explode(F.array("c_src", "c_dst")).alias("c"),
            F.struct("w", "src", "dst").alias("e"),
        )
        sel = (
            cand.groupBy("c")
            .agg(F.min("e").alias("e"))
            .select("e.src", "e.dst", "e.w")
            .distinct()
            .localCheckpoint()
        )
        if sel.isEmpty():
            break
        forest = sel if forest is None else forest.unionByName(sel).distinct()
        forest = _checkpoint_reset_stats(forest)
        # merge touching components: CC of the selection graph on
        # component labels, then relabel every vertex. The selection
        # graph carries AT MOST ONE edge per component, so it shrinks
        # with the component count; under the same driver gate the CC
        # operator uses it merges via union-find (a handful of driver
        # jobs per round — at local scale the nested two-star loop's
        # round-trip latency dominated, measured 90 s for a 4.4k-edge
        # sf1 graph), and beyond the gate it falls back to the two-star
        # kernel (log^2 rounds, no driver state).
        sel_lab = (
            sel.join(lab_s, "src")
            .join(lab_d, "dst")
            .select(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        ).localCheckpoint()
        if sel_lab.count() <= MAX_DRIVER_EDGES:
            cc = connected_components(sel_lab, method="unionfind")
        else:
            cc = connected_components_twostar(sel_lab)
        merged = cc.select(
            F.col("id").alias("c"), F.col("component").alias("c_new")
        )
        labels = _checkpoint_reset_stats(
            labels.join(merged, "c", "left").select(
                "v", F.coalesce("c_new", "c").alias("c")
            )
        )
    if forest is None:
        return base.filter(F.lit(False)).select("src", "dst", "w")
    return forest.orderBy("src", "dst")


def _pri60(col: Column) -> Column:
    """Cross-engine 60-bit vertex/edge priority: first 15 hex digits of
    md5, the same reproducible-hash convention as the corpus splitter
    (text.py corpus_splits) and the sketch family (sketches._h60). DuckDB
    computes the identical value with CAST('0x' || substr(md5(x),1,15) AS
    BIGINT), so priority comparisons are engine-exact."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def maximal_independent_set(edges: DataFrame, max_rounds: int = 12) -> DataFrame:
    """``(id, mis_round)`` — a maximal independent set of the undirected
    graph by DETERMINISTIC Luby rounds (Luby 1986, the de-randomized
    hash-priority variant every Pregel-class engine uses): each round,
    a remaining vertex joins the MIS iff its priority ``(md5-60bit(id),
    id)`` is strictly smaller than every remaining neighbor's; winners
    and their neighborhoods leave the graph. The ``(hash, id)`` pair is a
    total order (ids are distinct), so the result is unique and the
    fixed-round unrolled chained-CTE oracle reproduces it bit for bit.

    Distributed shape, per round: one edges-sized join + one
    per-vertex min-struct aggregate (map-side combinable) + two
    semi-joins to shrink the edge set — no driver state, no adjacency
    collect, O(E) work on a geometrically shrinking edge set (each
    round removes >= the winners' closed neighborhoods; expected
    O(log n) rounds under the hash's uniformity). Rounds after the
    vertex set empties select nothing, so early exit is exact and
    ``max_rounds`` only needs to cover the observed convergence depth.

    GraphX-parity scope: the reference's graph family (SURVEY.md §2.G)
    stops at components/communities; MIS is the classic symmetry-
    breaking kernel (scheduling, coloring seeds) that belongs in any
    graph suite at this scale.
    """
    base = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    sym = (
        base.unionAll(
            base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    rem = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", _pri60(F.col("id")).alias("h"))
        .localCheckpoint()
    )
    e = sym
    picked: list[DataFrame] = []
    for i in range(1, max_rounds + 1):
        nb_min = (
            e.join(rem.select(F.col("id").alias("dst"), "h"), "dst")
            .groupBy("src")
            .agg(F.min(F.struct("h", F.col("dst").alias("id"))).alias("m"))
        )
        win = (
            rem.join(nb_min, rem.id == nb_min.src, "left")
            .filter(
                F.col("m").isNull()
                | (F.struct("h", "id") < F.col("m"))
            )
            .select("id")
            .localCheckpoint()
        )
        picked.append(win.select("id", F.lit(i).alias("mis_round")))
        killed = win.unionAll(
            e.join(win.select(F.col("id").alias("src")), "src").select(
                F.col("dst").alias("id")
            )
        ).distinct()
        prev_rem, prev_e = rem, e
        rem = _checkpoint_reset_stats(rem.join(killed, "id", "left_anti"))
        if rem.isEmpty():
            break
        e = _checkpoint_reset_stats(
            e.join(rem.select(F.col("id").alias("src")), "src", "left_semi")
            .join(rem.select(F.col("id").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
        )
        for df in (prev_rem, prev_e):
            release = getattr(df, "_graft_release", None)
            if release is not None:
                release()
    out = picked[0]
    for p in picked[1:]:
        out = out.unionByName(p)
    return out.orderBy("id")


def maximal_matching(edges: DataFrame, max_rounds: int = 12) -> DataFrame:
    """``(src, dst, match_round)`` — a maximal matching of the undirected
    graph by deterministic parallel greedy rounds (the edge-priority
    mirror of :func:`maximal_independent_set`, i.e. Israeli–Itai-style
    symmetry breaking de-randomized by hashing): each round, a remaining
    edge is matched iff its priority ``(md5-60bit("src:dst"), src, dst)``
    is the minimum among ALL remaining edges sharing either endpoint;
    matched vertices leave the graph. A total order over distinct
    canonical edges makes the matching unique, so the unrolled
    chained-CTE oracle is value-identical.

    Distributed shape, per round: one explode to (endpoint, edge-key)
    pairs, one per-endpoint min-struct aggregate, one join back to test
    "minimum at BOTH endpoints", and one anti-join to drop edges touching
    matched vertices — all edge-keyed shuffles on a shrinking edge set,
    no driver state. Each round matches at least the globally-minimum
    remaining edge, and under hash uniformity a constant fraction of
    edges drop per round (expected O(log E) rounds). Rounds after the
    edge set empties are no-ops, so early exit is exact.
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .select(
            "src",
            "dst",
            _pri60(
                F.concat_ws(":", F.col("src").cast("string"), F.col("dst").cast("string"))
            ).alias("h"),
        )
        .localCheckpoint()
    )
    picked: list[DataFrame] = []
    for i in range(1, max_rounds + 1):
        key = F.struct("h", "src", "dst")
        vmin = (
            e.select(F.explode(F.array("src", "dst")).alias("v"), key.alias("k"))
            .groupBy("v")
            .agg(F.min("k").alias("mk"))
        )
        ms = vmin.select(F.col("v").alias("src"), F.col("mk").alias("mk_src"))
        md = vmin.select(F.col("v").alias("dst"), F.col("mk").alias("mk_dst"))
        won = (
            e.join(ms, "src")
            .join(md, "dst")
            .filter((key == F.col("mk_src")) & (key == F.col("mk_dst")))
            .select("src", "dst")
            .localCheckpoint()
        )
        if won.isEmpty():
            break
        picked.append(won.select("src", "dst", F.lit(i).alias("match_round")))
        matched_v = (
            won.select(F.col("src").alias("v"))
            .unionAll(won.select(F.col("dst").alias("v")))
            .distinct()
        )
        prev_e = e
        e = _checkpoint_reset_stats(
            e.join(matched_v.select(F.col("v").alias("src")), "src", "left_anti")
            .join(matched_v.select(F.col("v").alias("dst")), "dst", "left_anti")
        )
        release = getattr(prev_e, "_graft_release", None)
        if release is not None:
            release()
        if e.isEmpty():
            break
    if not picked:
        return e.filter(F.lit(False)).select(
            "src", "dst", F.lit(0).alias("match_round")
        )
    out = picked[0]
    for p in picked[1:]:
        out = out.unionByName(p)
    return out.orderBy("src", "dst")


def hyperball_neighborhood(edges: DataFrame, max_rounds: int = 6) -> DataFrame:
    """``(t, n_vertices, nf_estimate)`` for t = 0..``max_rounds`` — the
    NEIGHBORHOOD FUNCTION NF(t) = estimated number of (u, v) pairs within
    distance t, by HyperBall (Boldi & Vigna 2013): every vertex carries a
    256-register HLL sketch of its ball, initialized to {v}; each round
    every vertex max-merges its neighbors' sketches (registers merge by
    plain MAX — the property the whole algorithm rides); NF(t) is the sum
    of per-vertex ball estimates. NF's saturation curve yields the
    effective diameter; this is how diameter got measured on
    billion-vertex graphs where all-pairs BFS (V * E) is unthinkable.

    Deterministic end to end: the md5-derived registers are the engine's
    ``sketches.hll_registers`` convention, merges are integer MAX, each
    per-vertex scaled harmonic sum is an exact BIGINT, and the estimate
    spends exactly ONE inexact IEEE division per (vertex, round) —
    pinned to the identical sequence in the DuckDB oracle (the
    ``hll_distinct_orders`` contract), so the unrolled oracle matches
    bit for bit.

    Distributed shape, per round: one edges-sized join + one
    (id, bucket)-keyed max-aggregate with map-side partials — state is
    exactly V x 256 small integers regardless of E or diameter (choose
    HLL_P to fit the cluster; the 100-TB trade IS this constant-size
    state). No early exit: registers are monotone and bounded so rounds
    past convergence repeat the same estimates, and the fixed unroll
    keeps Spark and the oracle structurally identical.
    """
    from inf_553_datamining_mapreduce_spark.operators.sketches import (
        HLL_ALPHA_M2,
        HLL_M,
        HLL_P,
        HLL_W,
        _HLL_SCALE,
    )

    base = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    sym = (
        base.unionAll(
            base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    h = _pri60(F.col("id"))
    w = F.shiftright(h, HLL_P)
    rho = F.when(w == F.lit(0), F.lit(HLL_W + 1)).otherwise(
        F.lit(HLL_W + 1) - F.length(F.conv(w, 10, 2))
    )
    regs = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select(
            "id",
            h.bitwiseAND(F.lit(HLL_M - 1)).alias("bucket"),
            rho.cast("int").alias("reg"),
        )
        .localCheckpoint()
    )

    # keep every round's (checkpointed) register table and evaluate ALL
    # estimates in ONE union + two aggregates at the end — 1 job instead
    # of one per round (round tables are eagerly materialized anyway, so
    # no recomputation; state is (rounds+1) x V x <=256 small rows).
    round_regs = [regs]
    for _ in range(1, max_rounds + 1):
        regs = _checkpoint_reset_stats(
            regs.unionByName(
                sym.join(
                    regs.select(F.col("id").alias("dst"), "bucket", "reg"),
                    "dst",
                ).select(F.col("src").alias("id"), "bucket", "reg")
            )
            .groupBy("id", "bucket")
            .agg(F.max("reg").alias("reg"))
        )
        round_regs.append(regs)
    tagged = round_regs[0].select(
        F.lit(0).cast("int").alias("t"), "id", "bucket", "reg"
    )
    for t, r in enumerate(round_regs[1:], start=1):
        tagged = tagged.unionByName(
            r.select(F.lit(t).cast("int").alias("t"), "id", "bucket", "reg")
        )
    term = F.call_function(
        "shiftleft",
        F.lit(1).cast("long"),
        (F.lit(HLL_W + 1) - F.col("reg")).cast("int"),
    )
    per_v = tagged.groupBy("t", "id").agg(
        (
            F.sum(term)
            + (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(1 << (HLL_W + 1))
        ).cast("long").alias("ss")
    )
    vest = F.floor(
        F.lit(HLL_ALPHA_M2)
        / (F.col("ss").cast("double") / F.lit(_HLL_SCALE))
    ).cast("long")
    return (
        per_v.groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
            F.sum(vest).alias("nf_estimate"),
        )
        .orderBy("t")
    )


def palette_coloring(edges: DataFrame, max_rounds: int = 8) -> DataFrame:
    """``(id, color, color_round)`` — a proper (Δ+1)-style vertex coloring
    by JOHANSSON's palette algorithm (Johansson 1999; the O(log n)-round
    symmetry breaker), de-randomized by hashing: each round, every
    uncolored vertex indexes into its AVAILABLE palette (0..deg minus
    colored neighbors' colors) with the round-salted hash
    ``md5-60bit("id:round") mod |avail|``; a vertex keeps its pick unless
    an uncolored neighbor picked the same color with a smaller static
    ``(md5-60bit(id), id)`` priority. Every step is deterministic, so the
    unrolled chained-CTE oracle matches bit for bit.

    Why not Jones-Plassmann: JP's round count is the longest decreasing-
    priority path — on a k-clique that is k rounds (measured: the dense
    sf0.01 co-occurrence graph exhausted a 40-round cap with a third of
    the vertices uncolored). Indexing into the available palette gives
    each vertex a constant success probability per round REGARDLESS of
    density (measured: 3 rounds on the same graph), the property that
    makes the loop viable at 100 TB where one more round is one more
    full shuffle.

    Distributed shape, per round: one bounded palette explode
    (``sequence(0, deg)`` — at most 2E + V rows corpus-wide), one
    anti-join against colored-neighbor colors, two deg-bounded windows
    (rank + count within a vertex's palette — partitions never exceed
    deg+1 rows), one edges-sized conflict join, one anti-join. No driver
    state. Rounds after every vertex is colored select nothing, so early
    exit is exact and equals the fixed unroll.

    Coloring is the scheduling primitive (conflict-free parallel update
    batches: every color class can run concurrently) that MIS seeds —
    the Pregel-class companion kernel the reference's graph family
    (SURVEY.md §2.G) stops short of.
    """
    base = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    sym = (
        base.unionAll(
            base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    degs = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    uncolored = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", _pri60(F.col("id")).alias("h"))
        .join(degs, "id")
        .localCheckpoint()
    )
    colored = None  # (id, color, color_round)
    w_rank = Window.partitionBy("id").orderBy("k")
    w_cnt = Window.partitionBy("id")
    for t in range(1, max_rounds + 1):
        avail = uncolored.select(
            "id", "h", F.explode(F.expr("sequence(0, deg)")).alias("k")
        )
        if colored is not None:
            used = (
                sym.join(
                    colored.select(F.col("id").alias("dst"), "color"), "dst"
                )
                .select(F.col("src").alias("id"), F.col("color").alias("k"))
                .distinct()
            )
            avail = avail.join(used, ["id", "k"], "left_anti")
        cand = (
            avail.withColumn("rn", F.row_number().over(w_rank) - 1)
            .withColumn("n_avail", F.count(F.lit(1)).over(w_cnt))
            .filter(
                F.col("rn")
                == F.pmod(
                    _pri60(
                        F.concat_ws(
                            ":", F.col("id").cast("string"), F.lit(t)
                        )
                    ),
                    F.col("n_avail"),
                )
            )
            .select("id", "h", F.col("k").alias("color"))
            .localCheckpoint()
        )
        losers = (
            sym.join(
                cand.select(
                    F.col("id").alias("dst"),
                    F.col("h").alias("h_d"),
                    F.col("color").alias("c_d"),
                ),
                "dst",
            )
            .join(
                cand.select(
                    F.col("id").alias("src"),
                    F.col("h").alias("h_s"),
                    F.col("color").alias("c_s"),
                ),
                "src",
            )
            .filter(
                (F.col("c_s") == F.col("c_d"))
                & (
                    (F.col("h_d") < F.col("h_s"))
                    | (
                        (F.col("h_d") == F.col("h_s"))
                        & (F.col("dst") < F.col("src"))
                    )
                )
            )
            .select(F.col("src").alias("id"))
            .distinct()
        )
        keep = (
            cand.join(losers, "id", "left_anti")
            .select(
                "id",
                F.col("color").cast("int").alias("color"),
                F.lit(t).cast("int").alias("color_round"),
            )
            .localCheckpoint()
        )
        colored = (
            keep
            if colored is None
            else _checkpoint_reset_stats(colored.unionByName(keep))
        )
        prev_unc = uncolored
        uncolored = _checkpoint_reset_stats(
            uncolored.join(keep.select("id"), "id", "left_anti")
        )
        release = getattr(prev_unc, "_graft_release", None)
        if release is not None:
            release()
        if uncolored.isEmpty():
            break
    return colored.orderBy("id")


def hits_scores(
    edges: DataFrame, iters: int = 5, scale: int = 1 << 14
) -> DataFrame:
    """``(kind, id, score_fp)`` — HITS hubs & authorities (Kleinberg 1999)
    over a DIRECTED edge set ``(src -> dst)`` in exact fixed-point
    integers: per iteration ``auth(d) = Σ_{s->d} hub(s)`` then
    ``hub(s) = Σ_{s->d} auth(d)``, each side rescaled to ``scale`` (2^14)
    by its own max — the power-iteration normalization trick shared with
    ``similarity.hashed_feature_principal_component``, with the 1-row max
    riding as a broadcast scalar (the Louvain-``m`` pattern). Truncating
    integer division matches across engines, so a fixed iteration count
    is bit-reproducible and the chained-CTE oracle proves it.

    The co-occurrence graph family is undirected (hub = authority there);
    HITS belongs on a directed relation — the registered instance ranks
    suppliers (hubs) against parts (authorities) over the distinct
    supplier->part supply edges, the classic bipartite HITS reading.

    Shape at 100 TB: the edge build is one distinct; each iteration is
    two edge-sized hash joins + two key-keyed sum aggregates with
    map-side partials + two 1-row max scalars. No driver state.
    int64-safe while max-degree * scale^2 < 2^63 (degree <= 2^35 at
    scale 2^14) — value-bounded at any corpus size.
    """
    if iters < 1:
        raise ValueError(f"hits_scores needs iters >= 1, got {iters}")
    e = edges.select("src", "dst").distinct().localCheckpoint()
    hub = (
        e.select("src")
        .distinct()
        .select("src", F.lit(scale).cast("long").alias("hub"))
        .localCheckpoint()
    )
    auth = None
    for it in range(iters):
        araw = e.join(hub, "src").groupBy("dst").agg(F.sum("hub").alias("raw"))
        amax = araw.agg(F.max("raw").alias("m"))
        auth = araw.crossJoin(F.broadcast(amax)).select(
            "dst", F.expr(f"(raw * {scale}) div m").alias("auth")
        )
        if it == iters - 1:
            # Only the FINAL auth needs materializing (it feeds the
            # output union). Mid-iteration auth stays lazy: the lineage
            # between hub checkpoints is two joins + two aggregates —
            # statistics-safe — with bit-identical output. Fresh-process
            # A/B/C (r8 verdict item 7): eager-auth 45.8-49.0 s at sf1 /
            # 8.6 s at sf0.1; this shape 36.2-42.4 / 8.1; checkpointing
            # the raw sums instead 45.2 / 7.8 — lazy-auth wins where it
            # matters (the big SF) and ties at bench scale.
            auth = auth.localCheckpoint()
        hraw = e.join(auth, "dst").groupBy("src").agg(
            F.sum("auth").alias("raw")
        )
        hmax = hraw.agg(F.max("raw").alias("m"))
        hub = (
            hraw.crossJoin(F.broadcast(hmax))
            .select("src", F.expr(f"(raw * {scale}) div m").alias("hub"))
            .localCheckpoint()
        )
    return (
        hub.select(
            F.lit("hub").alias("kind"),
            F.col("src").alias("id"),
            F.col("hub").alias("score_fp"),
        )
        .unionByName(
            auth.select(
                F.lit("authority").alias("kind"),
                F.col("dst").alias("id"),
                F.col("auth").alias("score_fp"),
            )
        )
        .orderBy("kind", "id")
    )


def _degree_cap(sym: DataFrame, max_degree: int) -> DataFrame:
    """The walk engines' shared celebrity-vertex lever: deterministic
    hash-threshold neighbor sampling over a symmetrized edge table —
    keep edge iff ``md5-60bit("src:dst") mod 2^30 < (2^30 * max_degree)
    div deg(src)``, ALWAYS keeping the src's min-hash neighbor so no
    vertex goes dark. Bounds the EXPECTED surviving degree by
    ``max_degree`` with binomial concentration; the cut itself is one
    groupBy-count + one groupBy-min — no window, no sort, so it has no
    skewed task even on a degree-10^8 hub. Lossy by design (walks
    explore a sampled neighborhood), mirroring the ``max_band_df``
    convention of the dedup family. The identical arithmetic lives in
    the oracle head (``_walk_head_ctes``'s ``symc`` CTE)."""
    if max_degree < 1:
        raise ValueError(f"max_degree must be >= 1, got {max_degree}")
    hcut = 1 << 30
    hashed = sym.select(
        "src",
        "dst",
        F.pmod(
            _pri60(
                F.concat_ws(
                    ":",
                    F.col("src").cast("string"),
                    F.col("dst").cast("string"),
                )
            ),
            F.lit(hcut),
        ).alias("h_cut"),
    )
    deg0 = hashed.groupBy("src").agg(
        F.count(F.lit(1)).alias("deg0"), F.min("h_cut").alias("h_keep")
    )
    return (
        hashed.join(deg0, "src")
        .filter(
            (F.col("h_cut") < F.expr(f"({hcut} * {max_degree}L) div deg0"))
            | (F.col("h_cut") == F.col("h_keep"))
        )
        .select("src", "dst")
        .localCheckpoint()
    )


def weighted_pick(
    cand: DataFrame,
    key_cols: list[str],
    weight_col: str,
    order_col: str,
    draw: Column,
) -> DataFrame:
    """The md5-mod-cumulative-weight LADDER PICK, factored out of its
    hand-rolled call sites (r9 verdict item 8): per ``key_cols`` group,
    order the candidate rows by ``order_col`` ascending, build the
    running-sum weight ladder, and keep exactly the row whose
    ``[cum - w, cum)`` interval contains ``draw mod total_weight`` — a
    deterministic weighted draw with zero RNG state. ``draw`` is a
    64-bit column expression (conventionally ``_pri60`` of a salted
    key); rows with ``weight_col <= 0`` never win, and a group whose
    total weight is 0 emits nothing (the divisor is guarded with
    ``greatest(tot, 1)`` so the expression stays ANSI-safe). ``cum`` /
    ``tot`` are internal column names — ``cand`` must not carry them.

    Shape at scale: one running-sum window bounded by the per-key
    candidate count — the deg(v) bound when candidates come from a
    frontier ⋈ edges join, so the celebrity-vertex caveat (and the
    ``max_degree`` lever) of the walk engines applies to every caller.

    Call-site inventory (why the OTHER deterministic samplers do NOT
    route through here): ``sgns_embeddings``'s uniform negative draw is
    the degenerate unit-weight ladder, where ``cum = rank + 1`` makes
    the pick an EQUI-join on the precomputed vocab rank — strictly
    better than a range filter, so it keeps its specialized form;
    ``text.weighted_corpus_sample`` is systematic PPS sampling (k
    equally-spaced thresholds over one global ladder, many winners),
    not a per-key single draw; the unigram^0.75 negative sampler is the
    many-draws-one-ladder sibling (``_sgns_weighted_draws``) where the
    ladder is banded into buckets so each draw equi-joins its bucket
    instead of range-scanning the vocabulary."""
    w_cum = (
        Window.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*key_cols)
    pick = F.pmod(draw, F.greatest(F.col("tot"), F.lit(1).cast("long")))
    return (
        cand.select(
            "*",
            F.sum(weight_col).over(w_cum).alias("cum"),
            F.sum(weight_col).over(w_tot).alias("tot"),
        )
        .filter(
            (F.col("tot") > 0)
            & (F.col(weight_col) > 0)
            & (pick >= F.col("cum") - F.col(weight_col))
            & (pick < F.col("cum"))
        )
        .drop("cum", "tot")
    )


def _symmetrize_weighted(edges: DataFrame, weight_col: str) -> DataFrame:
    """Symmetrized ``(src, dst, ew)`` weighted edge set for the walk
    engines: drop self-loops and non-positive weights, mirror every
    row, dedupe, checkpoint — and ENFORCE the documented
    one-weight-per-undirected-pair contract (ADVICE r10): an input
    carrying the same pair with two different weights (or contradictory
    weights across the two directions) would silently survive the
    ``distinct()`` as two rows and double-weight the pick ladder,
    diverging from the oracle, so it raises a loud ValueError instead.
    The check is one aggregate over the already-materialized edge set —
    edges-sized with map-side partials, the cheapest shape that can see
    the violation."""
    base = edges.select(
        "src", "dst", F.col(weight_col).cast("long").alias("ew")
    ).filter((F.col("src") != F.col("dst")) & (F.col("ew") > 0))
    symw = (
        base.unionAll(
            base.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "ew"
            )
        )
        .distinct()
        .localCheckpoint()
    )
    dup = (
        symw.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            "weighted walk input violates the one-weight-per-pair "
            f"contract: pair ({dup[0]['src']}, {dup[0]['dst']}) carries "
            f"multiple distinct weights in '{weight_col}'; aggregate "
            "weights upstream (e.g. SUM or MAX per undirected pair)"
        )
    return symw


def random_walk_corpus(
    edges: DataFrame,
    walk_length: int = 8,
    walks_per_vertex: int = 2,
    max_degree: int | None = None,
) -> DataFrame:
    """``(walk_id, start_id, step, vertex)`` — a DeepWalk-style random-walk
    corpus (Perozzi et al. 2014: walks are the "sentences" a skip-gram
    embedding trains on), DE-RANDOMIZED so the corpus is reproducible and
    oracle-able: at step s, walk w at vertex v moves to its neighbor with
    rank ``md5-60bit("v:w:s") mod deg(v)`` under the (dst ascending)
    neighbor order. Every walk advances in the SAME join — per step one
    frontier ⋈ edges join + one deg-bounded rank filter, never a per-walk
    loop — so the whole corpus costs ``walk_length`` edge-sized joins
    regardless of how many walks run (the Pregel formulation of walk
    sampling).

    The neighbor rank comes from a ROW_NUMBER over (src, dst) — bounded
    by deg(v) rows per partition — and the identical window exists in
    the unrolled chained-CTE oracle, so Spark and DuckDB emit the same
    corpus bit for bit. Starts are drawn from the symmetrized,
    self-loop-filtered edge table, so a vertex with no (non-self) edges
    emits NO rows at all — isolated vertices are absent from the corpus
    (pinned by ``test_random_walk_isolated_vertex_emits_no_rows``);
    walks from connected starts never terminate early.

    CELEBRITY-VERTEX BOUND: the per-``src`` ROW_NUMBER sort concentrates
    one task per vertex, so the largest single task is O(max-degree log
    max-degree) — acceptable for the registered co-occurrence graphs
    (max degree ≲ 10^3), but a power-law graph with a degree-10^8 hub at
    100 TB needs the ``max_degree`` lever: a deterministic hash-threshold
    neighbor sample (keep edge iff ``md5-60bit("src:dst") mod 2^30 <
    (2^30 * max_degree) div deg``, always keeping the min-hash neighbor
    so no vertex goes dark) that bounds the EXPECTED surviving degree by
    ``max_degree`` with binomial concentration — no window, no sort, one
    groupBy-count + one groupBy-min, so the cut itself has no skewed
    task. Lossy by design (walks explore a sampled neighborhood),
    mirroring the ``max_band_df`` convention of the dedup family;
    ``None`` (default, and the registered queries) is exact.

    At 100 TB this is the standard embedding-corpus generator: state per
    step is (n_walks) rows, edges are reused from one checkpoint, and
    the hash choice means no RNG state needs coordinating across
    executors or resumes.
    """
    base = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    sym = (
        base.unionAll(
            base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    if max_degree is not None:
        sym = _degree_cap(sym, max_degree)
    w_rank = Window.partitionBy("src").orderBy("dst")
    ranked = (
        sym.select(
            "src",
            "dst",
            (F.row_number().over(w_rank) - 1).alias("rk"),
            F.count(F.lit(1)).over(Window.partitionBy("src")).alias("deg"),
        )
        .localCheckpoint()
    )
    starts = sym.select(F.col("src").alias("start_id")).distinct()
    frontier = starts.select(
        "start_id",
        F.explode(
            F.array(*[F.lit(w) for w in range(walks_per_vertex)])
        ).alias("walk_id"),
    ).select(
        "walk_id", "start_id", F.col("start_id").alias("vertex")
    ).localCheckpoint()
    out = frontier.select(
        "walk_id", "start_id", F.lit(0).cast("int").alias("step"), "vertex"
    )
    for s in range(1, walk_length + 1):
        pick = F.pmod(
            _pri60(
                F.concat_ws(
                    ":",
                    F.col("vertex").cast("string"),
                    F.col("walk_id").cast("string"),
                    F.lit(s),
                )
            ),
            F.col("deg"),
        )
        frontier = (
            frontier.join(ranked, frontier.vertex == ranked.src)
            .filter(F.col("rk") == pick)
            .select("walk_id", "start_id", F.col("dst").alias("vertex"))
            .localCheckpoint()
        )
        out = out.unionByName(
            frontier.select(
                "walk_id",
                "start_id",
                F.lit(s).cast("int").alias("step"),
                "vertex",
            )
        )
    return out.orderBy("start_id", "walk_id", "step")


def weighted_walk_corpus(
    edges: DataFrame,
    weight_col: str = "shared",
    walk_length: int = 8,
    walks_per_vertex: int = 2,
    max_degree: int | None = None,
) -> DataFrame:
    """``(walk_id, start_id, step, vertex)`` — DeepWalk on a WEIGHTED
    graph: at every step the next vertex is drawn with probability
    proportional to the edge weight (the w_vx factor of node2vec's
    transition kernel pi = alpha_pq(t, x) * w_vx, Grover & Leskovec
    2016 §3.2, with alpha == 1 — the first-order weighted walk both
    papers assume for weighted inputs; :func:`random_walk_corpus` is
    the unit-weight special case and :func:`node2vec_walk_corpus` the
    alpha-only one). The co-occurrence graphs this engine registers
    carry a natural weight — ``shared``, the co-purchase count — so a
    weighted corpus concentrates walks on strong ties instead of
    treating a threshold-grazing edge like a 10x-evidence one.

    DE-RANDOMIZED via the shared :func:`weighted_pick` ladder: the draw
    ``md5-60bit("v:w:s") mod W(v)`` indexes the dst-ascending
    cumulative-weight ladder of v's incident weights. With ALL weights
    equal to 1 the ladder pick reduces exactly to the first-order
    rank pick (``cum = rank + 1`` makes the interval test ``draw mod
    deg == rank``) — so this engine is bit-identical to
    :func:`random_walk_corpus` on an unweighted graph, pinned by test.

    Preconditions: one weight per undirected pair (the
    ``cooccurrence_edges`` contract) — ENFORCED since round 11: a
    violating input raises a loud ValueError instead of silently
    double-weighting the ladder (:func:`_symmetrize_weighted`); rows
    with ``weight <= 0`` are dropped up front — a zero-weight edge is
    no edge, so a vertex whose edges are all non-positive emits no
    rows, like an isolated vertex.

    Shape at 100 TB: identical to the siblings — per step one
    frontier ⋈ edges join + one walk-keyed running-sum window bounded
    by deg(v) rows; the same CELEBRITY-VERTEX caveat applies and the
    same ``max_degree`` hash-threshold cut (:func:`_degree_cap`)
    bounds it, with the surviving edges keeping their weights (one
    consistent sampled graph for topology and ladder).
    """
    symw = _symmetrize_weighted(edges, weight_col)
    if max_degree is not None:
        capped = _degree_cap(symw.select("src", "dst"), max_degree)
        symw = capped.join(symw, ["src", "dst"]).localCheckpoint()
    starts = symw.select(F.col("src").alias("start_id")).distinct()
    frontier = (
        starts.select(
            "start_id",
            F.explode(
                F.array(*[F.lit(w) for w in range(walks_per_vertex)])
            ).alias("walk_id"),
        )
        .select("walk_id", "start_id", F.col("start_id").alias("vertex"))
        .localCheckpoint()
    )
    out = frontier.select(
        "walk_id", "start_id", F.lit(0).cast("int").alias("step"), "vertex"
    )
    for s in range(1, walk_length + 1):
        cand = frontier.join(symw, frontier.vertex == symw.src).select(
            "walk_id", "start_id", "vertex", "dst", "ew"
        )
        draw = _pri60(
            F.concat_ws(
                ":",
                F.col("vertex").cast("string"),
                F.col("walk_id").cast("string"),
                F.lit(s),
            )
        )
        frontier = (
            weighted_pick(cand, ["walk_id", "start_id"], "ew", "dst", draw)
            .select("walk_id", "start_id", F.col("dst").alias("vertex"))
            .localCheckpoint()
        )
        out = out.unionByName(
            frontier.select(
                "walk_id",
                "start_id",
                F.lit(s).cast("int").alias("step"),
                "vertex",
            )
        )
    return out.orderBy("start_id", "walk_id", "step")


def node2vec_walk_corpus(
    edges: DataFrame,
    walk_length: int = 8,
    walks_per_vertex: int = 2,
    return_w: int = 2,
    common_w: int = 2,
    far_w: int = 1,
    max_degree: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """``(walk_id, start_id, step, vertex)`` — node2vec SECOND-ORDER
    biased walks (Grover & Leskovec 2016) on the :func:`random_walk_corpus`
    engine: the frontier carries ``prev`` (the vertex it came from), and
    step ``s >= 2`` picks the next neighbor x of v with integer weight

    * ``return_w``  if ``x == prev``            (node2vec 1/p, scaled pq)
    * ``common_w``  if ``x`` is a neighbor of ``prev`` (node2vec 1, scaled)
    * ``far_w``     otherwise                   (node2vec 1/q, scaled pq)

    With ``weight_col`` set this is the paper's FULL transition kernel
    ``pi = alpha_pq(t, x) * w_vx`` (§3.2): each candidate's ladder
    weight is the alpha case value TIMES its integer edge weight, step
    1 draws proportional to the edge weight alone (the weighted-graph
    convention :func:`weighted_walk_corpus` implements first-order),
    and ``weight <= 0`` edges are dropped up front. ``None`` (default,
    and the previously-registered queries) is the unweighted kernel,
    bit-identical to before this parameter existed.

    i.e. for rational p, q the paper's (1/p, 1, 1/q) cleared of fractions
    is ``(q, pq, p)`` — the default (2, 2, 1) is p=1, q=2, the mildly
    BFS-leaning setting. Degeneracies the tests pin: ``(1, 0, 0)``
    oscillates prev<->v (pure backtrack, the p->0 limit), ``(0, 0, 1)``
    never revisits ``prev`` or its neighborhood (the q->0 DFS limit).

    DE-RANDOMIZED like the first-order engine: the pick is
    ``md5-60bit("prev:v:w:s") mod W(v, prev)`` indexed into the
    dst-ascending cumulative-weight ladder (a running SUM window bounded
    by deg(v) rows per walk — the DeepWalk celebrity bound applies, and
    the same chained-CTE oracle reproduces every hop bit for bit). Step
    1 is the first-order uniform pick (the paper's convention). A walk
    ends early only if every candidate's weight is 0 (possible only when
    ``return_w = 0``; ``prev`` is always a candidate on an undirected
    graph).

    Shape at 100 TB: per step one frontier ⋈ edges join, one
    (prev, dst)-keyed edges join for the common-neighbor flag, and one
    walk-keyed running-sum window over deg(v)-bounded partitions — all
    edge-sized, no driver state, no RNG coordination.

    CELEBRITY-VERTEX BOUND: the candidate running-sum ladder is deg(v)
    rows per walk in one window partition, so a degree-10^8 hub at
    100 TB concentrates one giant window task per walk sitting on it
    (r9 verdict item 1). ``max_degree`` applies the engines' shared
    hash-threshold neighbor sample (:func:`_degree_cap`) BEFORE
    ranking; the common-neighbor table uses the SAME sampled edge set
    (walk and weights see one consistent graph — and the oracle stays
    bit-exact). ``None`` (default, and the uncapped registered query)
    is exact.
    """
    if min(return_w, common_w, far_w) < 0 or max(
        return_w, common_w, far_w
    ) == 0:
        raise ValueError(
            "node2vec weights must be non-negative and not all zero"
        )
    if weight_col is None:
        base = edges.select("src", "dst").filter(
            F.col("src") != F.col("dst")
        )
        sym = (
            base.unionAll(
                base.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            .distinct()
            .localCheckpoint()
        )
        if max_degree is not None:
            sym = _degree_cap(sym, max_degree)
        symw = sym.select("src", "dst", F.lit(1).cast("long").alias("ew"))
    else:
        symw = _symmetrize_weighted(edges, weight_col)
        if max_degree is not None:
            capped = _degree_cap(symw.select("src", "dst"), max_degree)
            symw = capped.join(symw, ["src", "dst"]).localCheckpoint()
        sym = symw.select("src", "dst")
    starts = sym.select(F.col("src").alias("start_id")).distinct()
    frontier0 = starts.select(
        "start_id",
        F.explode(
            F.array(*[F.lit(w) for w in range(walks_per_vertex)])
        ).alias("walk_id"),
    ).select("walk_id", "start_id", F.col("start_id").alias("vertex"))
    out = frontier0.select(
        "walk_id", "start_id", F.lit(0).cast("int").alias("step"), "vertex"
    ).localCheckpoint()
    draw1 = _pri60(
        F.concat_ws(
            ":",
            F.col("vertex").cast("string"),
            F.col("walk_id").cast("string"),
            F.lit(1),
        )
    )
    if weight_col is None:
        # step 1: first-order uniform (no prev yet), the DeepWalk rule
        w_rank = Window.partitionBy("src").orderBy("dst")
        ranked = sym.select(
            "src",
            "dst",
            (F.row_number().over(w_rank) - 1).alias("rk"),
            F.count(F.lit(1)).over(Window.partitionBy("src")).alias("deg"),
        ).localCheckpoint()
        frontier = (
            frontier0.join(ranked, frontier0.vertex == ranked.src)
            .filter(F.col("rk") == F.pmod(draw1, F.col("deg")))
            .select(
                "walk_id",
                "start_id",
                F.col("src").alias("prev"),
                F.col("dst").alias("vertex"),
            )
            .localCheckpoint()
        )
    else:
        # step 1: first-order WEIGHTED draw (the weighted_walk_corpus
        # rule — same salt, same ladder)
        cand1 = frontier0.join(symw, frontier0.vertex == symw.src).select(
            "walk_id", "start_id", "vertex", "dst", "ew"
        )
        frontier = (
            weighted_pick(cand1, ["walk_id", "start_id"], "ew", "dst", draw1)
            .select(
                "walk_id",
                "start_id",
                F.col("vertex").alias("prev"),
                F.col("dst").alias("vertex"),
            )
            .localCheckpoint()
        )
    out = out.unionByName(
        frontier.select(
            "walk_id", "start_id", F.lit(1).cast("int").alias("step"), "vertex"
        )
    )
    nbr = sym.select(
        F.col("src").alias("nb_prev"),
        F.col("dst").alias("nb_cand"),
        F.lit(1).alias("is_nbr"),
    )
    for s in range(2, walk_length + 1):
        cand = (
            frontier.join(symw, frontier.vertex == symw.src)
            .select("walk_id", "start_id", "prev", "vertex", "dst", "ew")
            .join(
                nbr,
                (F.col("prev") == F.col("nb_prev"))
                & (F.col("dst") == F.col("nb_cand")),
                "left",
            )
            .select(
                "walk_id",
                "start_id",
                "prev",
                "vertex",
                "dst",
                # alpha case value TIMES the edge weight (ew = 1 when
                # unweighted, so the product is the pure alpha kernel)
                (
                    F.when(F.col("dst") == F.col("prev"), F.lit(return_w))
                    .when(F.col("is_nbr").isNotNull(), F.lit(common_w))
                    .otherwise(F.lit(far_w))
                    .cast("long")
                    * F.col("ew")
                ).alias("wgt"),
            )
        )
        # The shared ladder pick (weighted_pick guards the modulo
        # divisor with greatest(tot, 1), so dead walks under
        # return_w = 0 stay ANSI-safe — ADVICE r9): draw key
        # "prev:vertex:walk:step", dst-ascending ladder per walk.
        draw = _pri60(
            F.concat_ws(
                ":",
                F.col("prev").cast("string"),
                F.col("vertex").cast("string"),
                F.col("walk_id").cast("string"),
                F.lit(s),
            )
        )
        frontier = (
            weighted_pick(
                cand, ["walk_id", "start_id"], "wgt", "dst", draw
            )
            .select(
                "walk_id",
                "start_id",
                F.col("vertex").alias("prev"),
                F.col("dst").alias("vertex"),
            )
            .localCheckpoint()
        )
        out = out.unionByName(
            frontier.select(
                "walk_id",
                "start_id",
                F.lit(s).cast("int").alias("step"),
                "vertex",
            )
        )
    return out.orderBy("start_id", "walk_id", "step")


def skipgram_pairs(
    walks: DataFrame, window: int = 2
) -> DataFrame:
    """``(center, context, n_pairs)`` — skip-gram training pairs from a
    random-walk corpus (the word2vec-over-walks step that makes DeepWalk
    an embedding method): within every walk, each vertex pairs with the
    vertices up to ``window`` steps around it, aggregated to pair counts
    — the exact input a negative-sampling trainer consumes.

    Pure composition: one self-equi-join of the walk table on
    ``(walk_id, start_id)`` with the bounded ``|step delta| <= window``
    band predicate (walks are length-bounded, so per-walk fan-out is
    O(len * window), never quadratic in the corpus), then one count
    aggregate with map-side partials. No new shuffle key appears at
    scale beyond the walk id and the pair.
    """
    a = walks.select(
        "walk_id", "start_id", F.col("step").alias("s_a"),
        F.col("vertex").alias("center"),
    )
    b = walks.select(
        "walk_id", "start_id", F.col("step").alias("s_b"),
        F.col("vertex").alias("context"),
    )
    return (
        a.join(b, ["walk_id", "start_id"])
        .filter(
            (F.col("s_a") != F.col("s_b"))
            & (F.abs(F.col("s_a") - F.col("s_b")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("center", "context")
    )


def _isqrt_sql(x: str) -> str:
    """EXACT integer square root of a non-negative BIGINT expression as
    engine-shared SQL text: IEEE-754 requires SQRT to be correctly
    rounded, and the BIGINT->DOUBLE cast is round-to-nearest in both
    Spark and DuckDB, so ``FLOOR(SQRT(double(x)))`` is within ±1 of
    ``isqrt(x)`` (the cast's rounding is the only error source); one
    symmetric integer correction pins it exactly. Requires ``x < 2^62``
    so the correction's squares never overflow int64 (Spark would wrap
    silently where DuckDB errors — callers assert their inputs'
    bound)."""
    y0 = f"CAST(FLOOR(SQRT(CAST(({x}) AS DOUBLE))) AS BIGINT)"
    y1 = f"(CASE WHEN {y0} * {y0} > ({x}) THEN {y0} - 1 ELSE {y0} END)"
    return (
        f"(CASE WHEN ({y1} + 1) * ({y1} + 1) <= ({x})"
        f" THEN {y1} + 1 ELSE {y1} END)"
    )


# unigram^0.75 weight scale: weights are floor(freq^(3/4) * 8), computed
# BIGINT-exactly as isqrt(isqrt(freq^3 * 8^4)) — the fourth root via two
# exact integer square roots (floor(sqrt(floor(sqrt(n)))) = floor(n^(1/4))
# for non-negative integers).
SGNS_W34_SCALE = 8
SGNS_W34_FREQ_MAX = 1 << 16  # freq^3 * 8^4 < 2^60 keeps _isqrt_sql exact


def _sgns_w34_sql(freq: str) -> str:
    """``floor(freq^0.75 * SGNS_W34_SCALE)`` as engine-shared SQL (the
    word2vec noise-distribution exponent, Mikolov et al. 2013 §2.2),
    BIGINT-exact for ``freq < SGNS_W34_FREQ_MAX``."""
    s4 = SGNS_W34_SCALE ** 4
    # CAST(... AS BIGINT) rather than an L suffix: the text is shared
    # verbatim with the DuckDB oracle, which has no L literals — and the
    # first factor is widened explicitly so an INT32-typed input can't
    # overflow mid-product under DuckDB's narrow literal typing.
    f64 = f"CAST(({freq}) AS BIGINT)"
    cubed = f"({f64} * {f64} * {f64} * CAST({s4} AS BIGINT))"
    return _isqrt_sql(_isqrt_sql(cubed))


def _sgns_negative_draws(
    p: DataFrame,
    vocab: DataFrame,
    n_vocab: int,
    negatives: int,
    weighting: str,
) -> DataFrame:
    """The deterministic negative-sampling table ``(c, x, n, x_pos, j)``:
    ``negatives`` draws per pair, draw key ``md5-60bit("c:x_pos:j")``
    (fixed across epochs — the documented convention).

    * ``"uniform"`` — the original draw: key mod ``|V|`` equi-joined to
      the vocab rank (the degenerate unit-weight ladder, where
      ``cum = rank + 1`` collapses the interval test to an equality —
      strictly better than a range filter, so it does NOT route through
      :func:`weighted_pick`).
    * ``"unigram34"`` — word2vec's noise distribution (Mikolov et al.
      2013 §2.2): vertex v is drawn with weight ``floor(freq(v)^0.75 *
      8)`` where ``freq(v) = Σ_x n(v, x)`` (the corpus unigram count up
      to the constant 2·window pair fan-out — exact for the symmetric
      ``skipgram_pairs`` output), BIGINT-exact via the nested integer
      square root (:func:`_sgns_w34_sql`). The pick indexes the
      id-ascending cumulative-weight ladder; because EVERY draw shares
      the one vocab-sized ladder, the range test is banded into
      ``n_vocab`` equal-width buckets so each draw EQUI-joins its
      bucket (expected O(1) ladder rows each) instead of range-scanning
      the vocabulary — the many-draws-one-ladder sibling of
      :func:`weighted_pick`, same banding philosophy as the dedup
      family. Exactness bounds, both asserted or documented:
      ``freq < 2^16`` (keeps ``freq^3·8^4 < 2^60`` for the isqrt
      correction squares) and ``tot·n_vocab < 2^63`` for the bucket
      arithmetic. The ladder rides the same global single-partition
      window as the vocab rank (fine to ~10^7 vocab; same prefix-sum
      escape hatch documented there).
    """
    draws = p.select(
        "c",
        "n",
        F.col("x").alias("x_pos"),
        F.explode(
            F.array(*[F.lit(j) for j in range(1, negatives + 1)])
        ).alias("j"),
    )
    h = _pri60(
        F.concat_ws(
            ":",
            F.col("c").cast("string"),
            F.col("x_pos").cast("string"),
            F.col("j").cast("string"),
        )
    )
    if weighting == "uniform":
        return (
            draws.withColumn("rnk", F.pmod(h, F.lit(n_vocab)))
            .join(vocab, "rnk")
            .select("c", F.col("v").alias("x"), "n", "x_pos", "j")
        )
    if weighting != "unigram34":
        raise ValueError(
            f"neg_weighting must be 'uniform' or 'unigram34', got "
            f"{weighting!r}"
        )
    freq = p.groupBy(F.col("c").alias("v")).agg(
        F.sum("n").cast("long").alias("freq")
    )
    f_max = freq.agg(F.max("freq")).collect()[0][0] or 0
    if f_max >= SGNS_W34_FREQ_MAX:
        raise ValueError(
            "sgns unigram34 negatives: max per-vertex pair count "
            f"{f_max} >= 2^16 breaks the isqrt exactness bound; bucket "
            "the counts (divide all freqs by a constant) before training"
        )
    # LEFT join + coalesce: with a symmetric pairs table every vocab
    # vertex appears as a center, but a user-supplied directed table may
    # not — such vertices get weight 0 and are simply never drawn.
    wl = vocab.join(freq, "v", "left").select(
        "v",
        F.expr(_sgns_w34_sql("coalesce(freq, 0L)")).alias("w"),
    )
    w_cum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ladder = wl.select(
        "v", "w", F.sum("w").over(w_cum).alias("cum")
    ).localCheckpoint()
    tot = ladder.agg(F.max("cum")).collect()[0][0] or 0
    if tot <= 0:
        # Reachable only with an empty pairs table (any center with a
        # pair count >= 1 carries w34 >= 8): no positives exist, so the
        # correct answer is NO negative draws either — return the empty
        # frame in the draws schema (the empty-tables contract; a raise
        # here turned freshly-truncated inputs into a crash). The
        # max(n_vocab, 1) guard keeps the expression ANSI-safe when the
        # vocabulary itself is empty.
        return (
            draws.withColumn("rnk", F.pmod(h, F.lit(max(n_vocab, 1))))
            .join(vocab, "rnk")
            .select("c", F.col("v").alias("x"), "n", "x_pos", "j")
        )
    n_b = n_vocab  # bucket count: expected one ladder row per bucket
    if tot * n_b >= (1 << 63):
        raise ValueError(
            "sgns unigram34 negatives: tot * n_vocab overflows int64; "
            "reduce the weight scale or bucket counts"
        )
    bucketed = (
        ladder.filter(F.col("w") > 0)
        .select(
            "v",
            "w",
            "cum",
            F.explode(
                F.expr(
                    f"sequence(((cum - w) * {n_b}L) div {tot}L,"
                    f" ((cum - 1) * {n_b}L) div {tot}L)"
                )
            ).alias("bk"),
        )
    )
    return (
        draws.withColumn("pick", F.pmod(h, F.lit(tot)))
        .withColumn("bk", F.expr(f"(pick * {n_b}L) div {tot}L"))
        .join(bucketed, "bk")
        .filter(
            (F.col("pick") >= F.col("cum") - F.col("w"))
            & (F.col("pick") < F.col("cum"))
        )
        .select("c", F.col("v").alias("x"), "n", "x_pos", "j")
    )


SGNS_SDIV_C = 1 << 32  # positivity shift: floor-div on shifted operands


def _sgns_sdiv(x_expr: str, den: int) -> str:
    """Spark-SQL floor division of a possibly-NEGATIVE BIGINT expression
    by a positive constant, as truncating division on shifted positive
    operands: ``floor(x / den) = (x + den*C) div den - C`` whenever
    ``|x| < den * C``. Positive-operand truncating division is identical
    in Spark ``div`` and DuckDB ``//``, so the oracle reproduces every
    update bit for bit — the convention every fixed-point kernel in this
    module relies on, extended to signed gradients."""
    return (
        f"((({x_expr}) + {den}L * {SGNS_SDIV_C}L) div {den}L"
        f" - {SGNS_SDIV_C}L)"
    )


def sgns_embeddings(
    pairs: DataFrame,
    dim: int = 8,
    negatives: int = 2,
    amp: int = 64,
    sig_scale: int = 4096,
    lr_den: int = 16,
    epochs: int = 1,
    neg_weighting: str = "uniform",
) -> DataFrame:
    """``(kind, id, d, emb_fp)`` — ``epochs`` SYNCHRONOUS epochs of
    skip-gram negative sampling (Mikolov et al. 2013) over a
    ``skipgram_pairs`` table, in exact fixed-point integers: the walks →
    pairs → embeddings leg that closes the DeepWalk/node2vec loop (the
    vectors a ``semantic_dedup`` or ANN stage consumes). Each epoch
    computes every gradient from THAT epoch's starting vectors and
    applies them once (synchronous — no intra-epoch ordering), so a
    fixed epoch count unrolls into one chained-CTE oracle; negative
    draws are fixed across epochs (the draw key is (c, x_pos, j)).

    Every step is BIGINT-exact so the chained-CTE oracle matches bit for
    bit:

    * init: ``emb0[v][d] = md5-60bit("v:i:d") mod (2*amp+1) - amp`` (the
      ``:o:`` salt for the output side) — hash-random in [-amp, amp],
      no RNG state.
    * hard sigmoid: ``σ̂(z) = clamp((z + 2*Z0) * S div (4*Z0), 0, S)``
      with ``Z0 = dim*amp²`` (the dot-product bound, so the clamp never
      binds on init-scale dots) and ``S = sig_scale`` — the
      piecewise-linear stand-in that keeps the transcendental sigmoid
      oracle-able.
    * per pair (c, x, n): positive gradient ``g⁺ = S - σ̂(in[c]·out[x])``;
      ``negatives`` draws by the md5-rank convention — under
      ``neg_weighting="uniform"`` negative j is the vocab vertex with
      rank ``md5-60bit("c:x:j") mod |V|`` under the id-ascending rank;
      under ``"unigram34"`` the same key indexes the unigram^0.75
      cumulative-weight ladder (word2vec's noise distribution, exact
      integer arithmetic — :func:`_sgns_negative_draws`) — each with
      ``g⁻ = σ̂(in[c]·out[v'])``.
    * synchronous update from the INITIAL vectors (one epoch — no
      sequential dependence, so the whole epoch is two joins + one
      aggregate per side): ``in'[c] = in[c] + floor(Σ ±n·g·out0[·]/S) /
      lr_den`` (floor-div via the shifted-positive trick, identical in
      Spark div and DuckDB //), and symmetrically for ``out``.

    int64 bound (stated in terms of the EPOCH-GROWN magnitudes, not the
    init-scale ``amp`` — updates can grow ``|emb|`` past ``amp`` once
    ``epochs > 1``): ``_sgns_sdiv`` is floor-exact and Spark-div /
    DuckDB-`//` identical only while its operand satisfies ``|x| <
    den·2^32``, so each per-term gradient needs ``n·g·|emb| <
    sig_scale·2^32``, i.e. ``max(n) · max|emb| < 2^32`` (``g ≤
    sig_scale`` cancels). That product is ASSERTED before every epoch's
    gradient pass from the current vectors — a violation surfaces as a
    loud ValueError instead of a silent ±1 Spark/DuckDB divergence
    (ADVICE r9). The per-(v,d) gradient sums fed to the ``lr_den``
    divide must additionally stay below ``lr_den·2^32`` (documented,
    not asserted: a sum that large requires ~2^32/max|emb| colliding
    draws on one vector, far past the asserted per-term bound).

    Scale note: the vocab rank table uses one global ROW_NUMBER — a
    |V|-row single-partition sort. Fine to ~10^7 vocab; at
    billion-vertex scale replace with a prefix-sum rank over sorted
    buckets (a one-time |V| op). Everything else is pairs-sized joins
    with map-side-combinable aggregates.
    """
    if (
        dim < 1 or negatives < 0 or amp < 1 or sig_scale < 4
        or lr_den < 1 or epochs < 1
    ):
        raise ValueError("sgns_embeddings: invalid hyperparameters")
    sc_, a_ = sig_scale, amp
    z0 = dim * a_ * a_
    p = pairs.select(
        F.col("center").alias("c"),
        F.col("context").alias("x"),
        F.col("n_pairs").cast("long").alias("n"),
    ).localCheckpoint()
    vocab = (
        p.select(F.col("c").alias("v"))
        .union(p.select(F.col("x").alias("v")))
        .distinct()
        .select("v", (F.row_number().over(Window.orderBy("v")) - 1).alias("rnk"))
        .localCheckpoint()
    )
    n_vocab = vocab.count()

    # COLUMNAR vector layout (optimization round 13): embeddings live as
    # ONE (v, ea: array<long>[dim]) row per vertex instead of dim
    # (v, d, e) rows. Every arithmetic term is unchanged — the dot
    # product is the same integer sum over d, each per-(v,d) gradient
    # sum adds the same sdiv terms — so outputs stay bit-identical (the
    # Python-mirror tests and the chained-CTE oracles pin this), but an
    # epoch's join fan-out drops from pairs x dim rows across four
    # (x, d)-keyed joins + four aggregates to pairs-sized rows across
    # two vertex-keyed joins + two aggregates, and the dot-product
    # groupBy disappears entirely (it is a zip_with/aggregate
    # projection). Guide §2.3/§2.4: fewer exchanges, and the surviving
    # exchanges carry one array row where they carried dim rows.
    def _init_arr(salt: str) -> "F.Column":
        return F.array(
            *[
                (
                    F.pmod(
                        _pri60(
                            F.concat_ws(
                                ":",
                                F.col("v").cast("string"),
                                F.lit(salt),
                                F.lit(str(d)),
                            )
                        ),
                        F.lit(2 * a_ + 1),
                    )
                    - a_
                ).cast("long")
                for d in range(dim)
            ]
        )

    # ONE state table holds both sides — (v, ei, eo) — so each epoch
    # materializes a single checkpoint (the long-format original paid
    # two, and the first array form still paid two, each re-deriving
    # the gradient join pipeline). _checkpoint_reset_stats for the
    # release hook: each epoch supersedes the previous state, and
    # without the handle its blocks stayed pinned for the session.
    state = _checkpoint_reset_stats(
        vocab.select(
            "v", _init_arr("i").alias("ei"), _init_arr("o").alias("eo")
        )
    )
    if negatives > 0:
        # Fixed draws across epochs (the deterministic convention: the
        # draw key is (c, x_pos, j), unsalted by epoch — documented).
        # neg_weighting picks uniform vs word2vec's unigram^0.75 noise
        # distribution — see _sgns_negative_draws.
        negs = _sgns_negative_draws(
            p, vocab, n_vocab, negatives, neg_weighting
        ).localCheckpoint()
    else:
        negs = None

    n_max = p.agg(F.max("n")).collect()[0][0] or 0
    # max |coordinate| over BOTH sides of one state row, as a single
    # projection — feeds the per-epoch exactness guard in one job.
    row_max_abs = F.greatest(
        *(
            [F.abs(F.col("ei")[d]) for d in range(dim)]
            + [F.abs(F.col("eo")[d]) for d in range(dim)]
        )
    )
    for _epoch in range(epochs):
        # _sgns_sdiv exactness guard (ADVICE r9): per-term gradients are
        # n·g·emb with g ≤ sig_scale, so floor-div correctness needs
        # max(n)·max|emb| < 2^32 under THIS epoch's (possibly grown)
        # vectors. One vocab-sized agg over the single state table.
        m_abs = (
            state.agg(F.max(row_max_abs)).collect()[0][0] or 0
        )
        if n_max * m_abs >= (1 << 32):
            raise ValueError(
                "sgns_embeddings: epoch-grown embedding magnitude "
                f"breaks the _sgns_sdiv exactness bound (max n={n_max} "
                f"* max|emb|={m_abs} >= 2^32); lower lr (raise lr_den) "
                "or epochs"
            )
        in_a = state.select(F.col("v").alias("c"), F.col("ei").alias("ia"))
        out_a = state.select(F.col("v").alias("x"), F.col("eo").alias("oa"))

        # One gradient stream: positives (sgn=+1) union negative draws
        # (sgn=-1, one ROW per draw — two draws landing on the same
        # vocab vertex stay distinct rows, multiplicity preserved), then
        # ONE pair of vertex-keyed joins attaches both endpoint vectors.
        # The hard sigmoid of in[c]·out[x] is a pure projection
        # (zip_with/aggregate), not a groupBy — the dot-product exchange
        # of the long format is gone. The +2*Z0 shift can go negative
        # once updates grow |emb| past amp — safe: any negative operand
        # lands < 0 under BOTH truncating (Spark div) and floor
        # (DuckDB //) division, and the greatest(0, ·) clamp maps both
        # to 0.
        src_g = p.select("c", "x", "n", F.lit(1).alias("sgn"))
        if negs is not None:
            src_g = src_g.unionByName(
                negs.select("c", "x", "n", F.lit(-1).alias("sgn"))
            )
        j1 = (
            src_g.join(in_a, "c")
            .join(out_a, "x")
            .withColumn(
                "z",
                F.aggregate(
                    F.zip_with("ia", "oa", lambda i, o: i * o),
                    F.lit(0).cast("long"),
                    lambda acc, t: acc + t,
                ),
            )
            .withColumn(
                "sig",
                F.expr(
                    f"least({sc_}L, greatest(0L, "
                    f"((z + {2 * z0}L) * {sc_}L) div {4 * z0}L))"
                ),
            )
            .withColumn(
                "g",
                F.when(
                    F.col("sgn") > 0, F.lit(sc_) - F.col("sig")
                ).otherwise(F.col("sig")),
            )
        )
        # Δin[c][d] = Σ sgn * floor(n*g*out[x][d] / S); Δout symmetric.
        # The endpoint vectors ride ON the gradient row (ia/oa), so no
        # re-join is needed. BOTH sides aggregate in ONE exchange: each
        # gradient row explodes into its (c, side=in) and (x, side=out)
        # contributions and 2·dim conditional sums keyed by v collect
        # them — the two separate per-side exchanges (and the second
        # evaluation of the gradient join pipeline) are gone. Integer
        # sums over the identical term multiset per (v, d): bit-exact.
        t_in = F.array(
            *[
                F.expr(f"sgn * {_sgns_sdiv(f'n * g * oa[{d}]', sc_)}")
                for d in range(dim)
            ]
        )
        t_out = F.array(
            *[
                F.expr(f"sgn * {_sgns_sdiv(f'n * g * ia[{d}]', sc_)}")
                for d in range(dim)
            ]
        )
        sided = j1.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("c").alias("v"),
                        F.lit(0).alias("side"),
                        t_in.alias("t"),
                    ),
                    F.struct(
                        F.col("x").alias("v"),
                        F.lit(1).alias("side"),
                        t_out.alias("t"),
                    ),
                )
            ).alias("s")
        ).select("s.v", "s.side", "s.t")
        delta = sided.groupBy("v").agg(
            *(
                [
                    F.sum(
                        F.when(F.col("side") == 0, F.col("t")[d])
                    ).alias(f"di{d}")
                    for d in range(dim)
                ]
                + [
                    F.sum(
                        F.when(F.col("side") == 1, F.col("t")[d])
                    ).alias(f"do{d}")
                    for d in range(dim)
                ]
            )
        )

        prev = state
        state = _checkpoint_reset_stats(
            state.join(delta, "v", "left").select(
                "v",
                F.array(
                    *[
                        F.expr(
                            f"ei[{d}] + "
                            f"{_sgns_sdiv(f'coalesce(di{d}, 0L)', lr_den)}"
                        )
                        for d in range(dim)
                    ]
                ).alias("ei"),
                F.array(
                    *[
                        F.expr(
                            f"eo[{d}] + "
                            f"{_sgns_sdiv(f'coalesce(do{d}, 0L)', lr_den)}"
                        )
                        for d in range(dim)
                    ]
                ).alias("eo"),
            )
        )
        release = getattr(prev, "_graft_release", None)
        if release is not None:
            release()

    def _kind(col_name: str, kind: str) -> DataFrame:
        return state.select(
            F.lit(kind).alias("kind"),
            F.col("v").alias("id"),
            F.posexplode(col_name).alias("d", "emb_fp"),
        )

    return (
        _kind("ei", "in")
        .unionByName(_kind("eo", "out"))
        .orderBy("kind", "id", "d")
    )


def sgns_topk_neighbors(
    emb: DataFrame, k: int = 5, n_queries: int = 10
) -> DataFrame:
    """``(query_id, neighbor_id, dot_q, rank)`` — the CONSUMER stage that
    closes the walks → pairs → embeddings loop (r9 verdict item 5): for
    the ``n_queries`` smallest vocabulary ids (the ANN family's
    ``vec_id < 10`` query-set convention, made data-driven), the top-k
    neighbors of each under the EXACT integer inner product of the
    trained ``kind='in'`` vectors — the similarity SGNS itself optimizes
    (Mikolov et al. 2013; Levy & Goldberg 2014 interpret it as shifted
    PMI). (dot DESC, neighbor ASC) total order, so the cut is exact.

    Shape at 100 TB: the query vectors are a broadcast (n_queries · dim
    rows); candidates come from ONE corpus-sized equi-join on the dim
    key against that broadcast (n_queries · |V| · dim rows — linear in
    the vocabulary, never |V|²), one (query, neighbor) sum-aggregate
    with map-side partials, and a top-k window over |V|-bounded
    per-query partitions. For an unbounded query set, swap this brute
    rerank for the banded ``similarity.ivf_topk_fixedpoint`` /
    ``lsh_top_k`` machinery — the output contract is the same.
    """
    v = emb.filter(F.col("kind") == "in").select("id", "d", "emb_fp")
    qids = v.select("id").distinct().orderBy("id").limit(n_queries)
    q = v.join(F.broadcast(qids), "id").select(
        F.col("id").alias("query_id"), "d", F.col("emb_fp").alias("qv")
    )
    cand = (
        v.join(F.broadcast(q), "d")
        .filter(F.col("id") != F.col("query_id"))
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.sum(F.col("qv") * F.col("emb_fp")).alias("dot_q"))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("dot_q").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "dot_q",
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


def sgns_embedding_clusters(
    emb: DataFrame, k: int = 4, iters: int = 2
) -> DataFrame:
    """``(vertex, cluster_id)`` — embedding-based community detection,
    the full walks → skip-gram pairs → SGNS → k-means pipeline's final
    stage: pivot the trained ``kind='in'`` vectors to one integer array
    per vertex, run the shared deterministic Lloyd loop
    (``similarity._lloyd_loop`` — first-``k`` init, integer argmin,
    truncating mean, empty clusters keep centroids; the vectors are
    ALREADY fixed-point integers so no quantization step exists), and
    emit the fresh final assignment. This is the standard
    embedding-clustering recipe for graphs (DeepWalk/node2vec §4
    evaluate exactly this pipeline against modularity methods), here
    oracle-able end to end because every stage is integer-exact.

    Shape at 100 TB: the pivot is one (vertex)-keyed aggregate over the
    |V|·dim embedding table; Lloyd is ``iters`` broadcast passes with
    one (cluster, dim)-keyed shuffle each; assignment is a broadcast +
    pure projection. Nothing exceeds |V|·dim rows.
    """
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        _centroid_array,
        _lloyd_loop,
        _scored_centroids,
    )

    inv = (
        emb.filter(F.col("kind") == "in")
        .groupBy(F.col("id").alias("vec_id"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "emb_fp"))),
                lambda s: s["emb_fp"],
            ).alias("q")
        )
    )
    vecs, cent, _ = _lloyd_loop(inv, k, iters)
    return (
        vecs.crossJoin(F.broadcast(_centroid_array(cent)))
        .select(
            F.col("vec_id").cast("long").alias("vertex"),
            F.array_min(_scored_centroids("cents", "q"))["cluster_id"]
            .cast("int")
            .alias("cluster_id"),
        )
        .orderBy("vertex")
    )


def personalized_pagerank(
    edges: DataFrame,
    n_seeds: int = 4,
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """``(id, rank_fp)`` — PERSONALIZED PageRank: the teleport mass
    returns to a seed set (the ``n_seeds`` smallest vertex ids — the
    SSSP landmark convention) instead of spreading uniformly, so the
    scores measure proximity TO THE SEEDS: the similar-item /
    related-entity ranking primitive (Jeh & Widom 2003's rooted
    PageRank), and the relevance weight a curation pipeline uses to
    up-sample documents near a trusted seed set's neighborhood.

    Same exact-integer contract as :func:`pagerank`: ``rank'(v) =
    [v ∈ S] * ((100-d) * scale * |V| / |S|) div 100 + (d * Σ contribs)
    div 100`` with ``contrib = rank div out_degree`` — all BIGINT,
    truncating division, bit-reproducible at a fixed iteration count
    (total teleport mass matches the uniform variant's ``|V| *
    (100-d) * scale / 100``, concentrated on the seeds). Vertices
    unreachable from the seeds settle at exactly 0.

    Scale shape identical to pagerank: degrees once, one join + one
    aggregate per iteration, no driver state; the seed selection is a
    bounded ``orderBy().limit(n_seeds)``.
    """
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    deg = (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).alias("out_deg"))
        .select(F.col("src").alias("id"), "out_deg")
        .localCheckpoint()
    )
    if n_seeds < 1:
        raise ValueError(
            f"personalized_pagerank needs n_seeds >= 1, got {n_seeds}"
        )
    n_vertices = deg.count()
    if n_vertices == 0:
        return deg.select("id", F.lit(0).cast("long").alias("rank_fp"))
    # Clamp to the vertices that exist: limit(n_seeds) on a smaller graph
    # returns fewer seeds, and dividing by the REQUESTED count would
    # shrink total teleport mass below the documented
    # |V|*(100-d)*scale/100 invariant (ADVICE r8).
    n_seeds = min(n_seeds, n_vertices)
    seeds = deg.select("id").orderBy("id").limit(n_seeds)
    ed = (
        sym.join(deg, sym.src == deg.id)
        .select("src", "dst", "out_deg")
        .localCheckpoint()
    )
    seed_mass = (100 - damping_pct) * scale * n_vertices // (100 * n_seeds)
    is_seed = F.col("seed").isNotNull()
    seeded_deg = deg.join(
        seeds.select(F.col("id"), F.lit(1).alias("seed")), "id", "left"
    ).localCheckpoint()
    ranks = seeded_deg.select(
        "id",
        F.when(is_seed, F.lit(scale)).otherwise(F.lit(0)).cast("long").alias(
            "rank"
        ),
    ).localCheckpoint()
    for _ in range(iterations):
        sums = (
            ed.join(ranks, ed.src == ranks.id)
            .select(F.col("dst"), F.expr("rank div out_deg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = (
            seeded_deg.join(sums, seeded_deg.id == sums.dst, "left")
            .select(
                "id",
                F.expr(
                    f"CAST((CASE WHEN seed IS NOT NULL THEN {seed_mass} "
                    f"ELSE 0 END) + ({damping_pct} * coalesce(s, "
                    "CAST(0 AS BIGINT))) div 100 AS BIGINT)"
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks.select("id", F.col("rank").alias("rank_fp")).orderBy("id")
