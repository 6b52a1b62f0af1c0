"""Similarity search over an embedding column (``array<float>``):
brute-force cosine top-k as the exact baseline, and a random-hyperplane
LSH-bucketed variant as the 100-TB path.

No reference analog (SURVEY.md §2.9); north-star extension surface. The
cosine arithmetic lives in ``dedup.cosine_similarity`` (zip_with/aggregate —
JVM-side, deterministic order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from inf_553_datamining_mapreduce_spark.operators.dedup import cosine_similarity
from inf_553_datamining_mapreduce_spark.session import checkpoint

def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid of the embedding column — the k-means update step
    / class-centroid aggregate of embedding analytics, one row per
    ``(label, dim)``.

    The per-dimension sum accumulates in DECIMAL so the result is
    independent of partition/merge order (float32→decimal rounding has no
    ties — a binary fraction can't land exactly on a decimal half — so both
    engines round identically and the mean is bit-exact cross-engine).

    Scale shape: posexplode multiplies rows by dim (bounded, 64 here), then
    ONE shuffle into a (label, dim) hash aggregate with map-side partials;
    output cardinality = labels × dims, tiny at any corpus size.
    """
    exploded = embeddings.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    )
    dec_sum = F.sum(F.col("val").cast("decimal(28,10)"))
    return (
        exploded.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (dec_sum.cast("double") / F.count(F.lit(1))).alias("centroid"),
        )
        .orderBy("label", "dim")
    )


def hyperplanes(num_planes: int, dim: int, seed: int = 13):
    """Deterministic Gaussian hyperplanes: numpy's legacy RandomState stream
    is stable across platforms and processes, so every executor derives the
    identical planes from the seed — no RNG state ships with the plan."""
    import numpy as np

    return np.random.RandomState(seed).standard_normal((num_planes, dim))


def brute_force_top_k(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` (small) is broadcast against the full embedding table — one
    pass over the big side, no shuffle of it; per-query ranking via a window
    keyed by query. Ties broken by neighbor id for determinism.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(emb_col).cast("array<double>").alias("q_emb"),
    )
    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).cast("array<double>").alias("e_emb"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("q_emb"), F.col("e_emb")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _bucket_table(
    df: DataFrame,
    id_alias: str,
    emb_alias: str,
    num_planes: int,
    num_tables: int,
) -> DataFrame:
    """One pass computing every table's bucket id for every row: a single
    numpy matmul per Arrow batch against (tables*planes) hyperplanes, sign
    bits packed into an int64 bucket per table. Output:
    ``(row_id, table_id, bucket)`` — IDS ONLY. The embedding itself never
    leaves the kernel: emitting it would replicate every vector
    ``num_tables`` times through Arrow and the bucket-join shuffle (at 32
    tables that is 32 corpus copies — measured ~2x the whole query's warm
    time at sf0.1); the rerank joins vectors back by id for the candidate
    pairs only.

    The hyperplanes are derived lazily INSIDE the kernel from the first
    batch's dimensionality — every task rebuilds the identical (seeded,
    tiny) matrix, so no driver-side ``.first()`` probe job and no plane
    broadcast is needed."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from inf_553_datamining_mapreduce_spark.deploy import ensure_worker_imports
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    ensure_worker_imports(df.sparkSession)

    schema = StructType(
        [
            StructField("row_id", LongType(), False),
            StructField("table_id", IntegerType(), False),
            StructField("bucket", LongType(), False),
        ]
    )
    weights = (1 << np.arange(num_planes)).astype(np.int64)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = None
        for pdf in batches:
            if planes is None and len(pdf):
                planes = hyperplanes(
                    num_planes * num_tables, len(pdf[emb_alias].iloc[0])
                )
            ids = pdf[id_alias].to_numpy(dtype=np.int64)
            m = np.array(list(pdf[emb_alias]), dtype=np.float64)
            bits = (m @ planes.T) >= 0  # (rows, tables*planes)
            out_ids, out_tab, out_bkt = [], [], []
            for t in range(num_tables):
                chunk = bits[:, t * num_planes : (t + 1) * num_planes]
                buckets = chunk @ weights
                out_ids.extend(ids)
                out_tab.extend([t] * len(ids))
                out_bkt.extend(buckets)
            yield pd.DataFrame(
                {
                    "row_id": out_ids,
                    "table_id": out_tab,
                    "bucket": out_bkt,
                }
            )

    return df.select(
        F.col(id_alias), F.col(emb_alias).cast("array<double>").alias(emb_alias)
    ).mapInPandas(kernel, schema)


def _gate_query_side(queries: DataFrame, op: str) -> int:
    """Count-then-refuse gate for the float-ANN QUERY side: ``ivf_top_k``
    broadcasts its (query, cell) probe table and ``lsh_top_k`` the query
    buckets into the candidate join — both correct only while the query
    batch is driver-small. The corpus side has had
    this gate since round 6 (``dedup.MAX_BROADCAST_VECTORS``); an
    oversized QUERY table would OOM the driver before any refusal
    (ADVICE round 11). Past the gate, the answer is batching on the
    caller's side or the fixed-point family's fully distributed probe
    assignment (``ivf_topk_fixedpoint``), which never collects."""
    from inf_553_datamining_mapreduce_spark.operators.dedup import (
        MAX_BROADCAST_VECTORS,
    )

    n = queries.count()
    if n > MAX_BROADCAST_VECTORS:
        raise ValueError(
            f"{op}: {n} query vectors exceed the driver-side gate "
            f"({MAX_BROADCAST_VECTORS}); batch the queries or use the "
            "distributed fixed-point ANN path (ivf_topk_fixedpoint)"
        )
    return n


def ivf_top_k(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    iters: int = 5,
) -> DataFrame:
    """IVF-style approximate top-k: the fixed-point Lloyd quantizer
    (``_kmeans_centroids``, the one ``ivf_topk_fixedpoint`` trains)
    assigns every embedding to a cell, each query probes its ``n_probe``
    nearest cells, and only the embeddings in those cells are ranked by
    exact float cosine ((cosine DESC, neighbor_id ASC) total order).

    The inverted-file trade: scan fraction ~ n_probe/n_centroids instead
    of 1.0, recall governed by how often true neighbors share a probed
    cell. Training, cell assignment and probing are integer arithmetic
    with first-``n_centroids`` init by id, so the cells, and hence the
    result, do not depend on the core count or the input layout; a
    corpus with fewer vectors than cells just gets one cell per vector.

    Shape at scale: ``iters`` broadcast passes over the corpus to train,
    one more to assign, a probe table of queries x n_probe rows built by
    pure projection, and a broadcast probe join that touches only the
    probed cells. No UDF and no driver collect; the query-side gate is
    one count.
    ``iters`` stays well below library k-means defaults: a COARSE
    quantizer only needs cells balanced enough to bound the scan
    fraction, each extra pass costs a corpus scan, and recall is
    governed by ``n_probe``.
    """
    # Refuse an over-gate query batch BEFORE paying the corpus k-means.
    _gate_query_side(queries, "ivf_top_k")
    e = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    )
    _, cent, _ = _kmeans_centroids(e, n_centroids, iters)
    cent_arr = F.broadcast(_centroid_array(cent))
    cells = _kmeans_quantized(e, "embedding").crossJoin(cent_arr).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("e_emb"),
        _nearest_cell("q").alias("cell"),
    )
    qe = queries.select(
        F.col(query_id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    )
    probes = _kmeans_quantized(qe, "embedding").crossJoin(cent_arr).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
        _probe_cells("q", n_probe).alias("cell"),
    )
    scored = cells.join(F.broadcast(probes), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col("q_emb"), F.col("e_emb")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def lsh_top_k(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    num_tables: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH with ``num_tables``
    independent bucketings; candidates = embeddings sharing a bucket with the
    query in ANY table, then exact cosine ranking of candidates only.

    At scale this replaces the all-pairs scan with a bucket-equi-join whose
    fan-in is the bucket occupancy — the standard IVF/LSH trade: recall
    depends on (planes, tables); precision of returned scores is exact.
    The LSH join carries IDS ONLY (``_bucket_table``); vectors join back
    for the deduplicated candidate pairs, so the corpus payload crosses
    the wire once, not once per table.
    """
    _gate_query_side(queries, "lsh_top_k")
    e_buckets = _bucket_table(
        embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(emb_col)),
        "neighbor_id",
        emb_col,
        num_planes,
        num_tables,
    ).select(F.col("row_id").alias("neighbor_id"), "table_id", "bucket")
    q_buckets = _bucket_table(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(emb_col)),
        "query_id",
        emb_col,
        num_planes,
        num_tables,
    ).select(F.col("row_id").alias("query_id"), "table_id", "bucket")
    cand = (
        e_buckets.join(F.broadcast(q_buckets), ["table_id", "bucket"])
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    e_side = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).cast("array<double>").alias("e_emb"),
    )
    q_side = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(emb_col).cast("array<double>").alias("q_emb"),
    )
    scored = (
        cand.join(e_side, "neighbor_id")
        .join(F.broadcast(q_side), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("q_emb"), F.col("e_emb")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def embedding_dim_stats(embeddings: DataFrame) -> DataFrame:
    """Per-dimension feature profile of the embedding column — range, sign
    balance, and a decimal-exact mean per coordinate. The sanity gate before
    any ANN index build: a dimension with a collapsed range or a drifted
    mean is a broken encoder.

    Same scale shape as ``label_centroids``: posexplode fans rows out by the
    (bounded) dimensionality, then ONE hash aggregate keyed by ``dim`` with
    map-side partials; output cardinality = dims. min/max compare exactly in
    binary; the mean accumulates in decimal (float32→decimal has no rounding
    ties) so it is order-independent and bit-exact cross-engine.
    """
    exploded = embeddings.select(F.posexplode("embedding").alias("dim", "val"))
    val_d = F.col("val").cast("double")
    dec_sum = F.sum(F.col("val").cast("decimal(28,10)"))
    return (
        exploded.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.min(val_d).alias("min_val"),
            F.max(val_d).alias("max_val"),
            F.sum(F.when(F.col("val") > 0, 1).otherwise(0)).alias("n_positive"),
            (dec_sum.cast("double") / F.count(F.lit(1))).alias("mean_val"),
        )
        .orderBy("dim")
    )


def embedding_norms(embeddings: DataFrame) -> DataFrame:
    """Per-vector L2 norm of the embedding column — the pre-flight check
    before cosine math (a zero or wildly off-unit norm is a broken encoder
    row; cosine silently mis-ranks such vectors).

    Shape at scale: pure per-row expression — ``aggregate`` over the array
    in array order (each float32 element cast to double first), no shuffle,
    no UDF. The left-fold accumulation order is fixed by the array, so the
    double result is bit-identical across engines and row orders.
    """
    sq_sum = F.aggregate(
        F.transform(
            "embedding", lambda x: x.cast("double") * x.cast("double")
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return embeddings.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.sqrt(sq_sum).alias("l2_norm"),
    ).orderBy("vec_id")


def embedding_quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Per-dimension min-max int8 quantization of the embedding column —
    the standard memory-4x step before an ANN index build. Output is one
    row per (vec_id, dim) with the quantized level 0..255.

    Shape at scale: the per-dim (min, max) calibration is one bounded
    aggregate (cardinality = dims) broadcast back onto the exploded
    elements; the level expression is pure codegen. Every op (subtract,
    divide, *255, floor) is correctly-rounded IEEE on doubles both engines
    derive from the same float32 bits, so levels match exactly."""
    exploded = embeddings.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).withColumn("val", F.col("val").cast("double"))
    stats = exploded.groupBy("dim").agg(
        F.min("val").alias("d_min"), F.max("val").alias("d_max")
    )
    level = F.when(F.col("d_max") > F.col("d_min"),
        F.least(
            F.lit(255),
            F.floor(
                (F.col("val") - F.col("d_min"))
                / (F.col("d_max") - F.col("d_min"))
                * 255.0
            ).cast("int"),
        ),
    ).otherwise(F.lit(0))
    return (
        exploded.join(F.broadcast(stats), "dim")
        .select("vec_id", "dim", level.cast("int").alias("level"))
        .orderBy("vec_id", "dim")
    )


# ---------------------------------------------------------------------------
# Fixed-point Lloyd's k-means — the learned coarse quantizer behind IVF,
# in engine-exact integer arithmetic (the pagerank/GN BIGINT convention)
# so the full iterative clustering sits under the DuckDB oracle gate.
# One quantizer serves every IVF path: ``ivf_top_k`` (float cosine
# rerank), ``ivf_topk_fixedpoint`` and ``ivfpq_*`` (integer rerank) all
# train it, assign with ``_nearest_cell`` and probe with ``_probe_cells``.

KMEANS_SCALE = 10000.0  # frozen literal shared with the oracle SQL


def _kmeans_quantized(embeddings: DataFrame, *keep: str) -> DataFrame:
    """(vec_id, *keep, q) with q = floor(x * 10000) per dimension as
    BIGINT — float32 -> double is exact, so the single multiply+floor is
    the one (deterministic) IEEE op and everything downstream is
    integer."""
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(KMEANS_SCALE)).cast(
            "long"
        ),
    )
    return embeddings.select("vec_id", *keep, q.alias("q"))


def _kmeans_centroids(
    embeddings: DataFrame, k: int, iters: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Internal Lloyd loop over float embeddings: quantize, then
    ``_lloyd_loop``."""
    return _lloyd_loop(_kmeans_quantized(embeddings), k, iters)


def _scored_centroids(q_col: str) -> Column:
    """Per-row (dist, cluster_id) struct array against the broadcast
    centroid array — the zero-shuffle assignment kernel: because struct
    comparison is lexicographic, ``array_min`` of this IS the
    (dist, cluster_id) argmin and ``array_sort`` IS the probe order."""
    return F.transform(
        F.col("cents"),
        lambda cc: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col(q_col), cc["c"], lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dist"),
            cc["cluster_id"].alias("cluster_id"),
        ),
    )


def _nearest_cell(q_col: str) -> Column:
    """Nearest centroid's cluster_id for the integer vector ``q_col``
    against the broadcast ``cents`` array: the (dist, cluster_id) argmin,
    so ties go to the smaller id."""
    return F.array_min(_scored_centroids(q_col))["cluster_id"]


def _probe_cells(q_col: str, n_probe: int) -> Column:
    """Generator over the ``n_probe`` nearest cluster_ids of ``q_col``,
    in (dist, cluster_id) order (the oracle's window order): one output
    row per probed cell, pure projection, no per-query window shuffle."""
    return F.explode(
        F.slice(F.array_sort(_scored_centroids(q_col)), 1, n_probe)[
            "cluster_id"
        ]
    )


def _centroid_array(cent: DataFrame) -> DataFrame:
    """Collapse the k-row centroid table to ONE row holding the array of
    (cluster_id, c) structs — a bounded aggregate (k rows in, 1 out)
    whose broadcast turns cluster assignment into a pure projection."""
    return cent.agg(
        F.collect_list(F.struct("cluster_id", "c")).alias("cents")
    )


def _lloyd_loop(
    quantized: DataFrame, k: int, iters: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The Lloyd iteration over an already-integer (vec_id, q) table —
    shared by ``kmeans_fixedpoint``, ``ivf_topk_fixedpoint``, and
    ``document_clusters_fixedpoint`` (which feeds hashed-BoW features
    instead of quantized embeddings). Returns (vecs, cent, counts).

    Assignment is a PURE PROJECTION: centroids collapse to a 1-row
    broadcast array and the argmin runs inside ``array_min`` over
    per-centroid distance structs — no exploded candidate shuffle (the
    earlier min-struct-groupBy shape shipped k vector copies per point
    through an exchange per iteration; this ships zero). Each iteration
    therefore costs exactly ONE shuffle — the (cluster, dim) update
    aggregate."""
    vecs = quantized.localCheckpoint()
    w = Window.orderBy("vec_id")
    cent = (
        vecs.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(w) - 1).alias("cluster_id"),
            F.col("q").alias("c"),
        )
        .localCheckpoint()
    )
    counts = None
    older = None  # centroids two rounds back: not even `counts` reads them
    for _ in range(iters):
        assigned = vecs.crossJoin(
            F.broadcast(_centroid_array(cent))
        ).select(
            "vec_id",
            "q",
            _nearest_cell("q").alias("cluster_id"),
        )
        # ONE aggregate carries both the per-dim sums and the cluster
        # size (every point contributes a row to every dim, so the
        # per-(cluster, dim) row count IS the cluster's point count):
        # the separate counts aggregate + checkpoint job + join of the
        # earlier shape are gone — bit-identical divisors (r13
        # optimization round, guide §2.4). ``counts`` is returned LAZY
        # (it references this iteration's pinned centroid checkpoint),
        # so only consumers that actually read cluster sizes pay the
        # one extra assignment pass.
        sums = (
            assigned.select(
                "cluster_id", F.posexplode("q").alias("dim", "val")
            )
            .groupBy("cluster_id", "dim")
            .agg(
                F.sum("val").alias("s"),
                F.count(F.lit(1)).alias("n_points"),
            )
        )
        counts = sums.filter(F.col("dim") == 0).select(
            "cluster_id", "n_points"
        )
        upd = (
            sums.select(
                "cluster_id",
                "dim",
                F.expr("s div n_points").alias("v"),
            )
            .groupBy("cluster_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "v"))),
                    lambda s: s["v"],
                ).alias("c_new")
            )
        )
        older, cent = cent, checkpoint(
            cent.join(upd, "cluster_id", "left").select(
                "cluster_id", F.coalesce("c_new", "c").alias("c")
            ),
            older,
        )
    return vecs, cent, counts


def kmeans_fixedpoint(
    embeddings: DataFrame, k: int = 8, iters: int = 3
) -> DataFrame:
    """Lloyd's k-means over quantized embeddings, fully deterministic:
    init = the first ``k`` vectors by vec_id; assignment = integer
    squared-L2 argmin with (dist, cluster_id) tie-break; update = per-dim
    truncating integer mean (both engines truncate toward zero — pinned
    by test); empty clusters keep their previous centroid. Output is one
    row per (cluster_id, dim): the centroid coordinate plus the final
    cluster size — scalar columns only, so the driver's sort+hash
    compare applies.

    Shape at scale: the corpus is scanned once into the quantized table
    (localCheckpoint — reused by all ``iters`` passes); each iteration
    is one broadcast of the k x dims centroid table against the corpus
    (pure codegen zip_with/aggregate distance, no UDF), one min-struct
    argmin aggregate, and one (cluster, dim)-keyed sum — the classic
    distributed Lloyd's step, cost O(corpus x k x dims) per pass with
    NO driver collect anywhere (centroids stay a bounded DataFrame).
    Citation: reference has no ML surface (SURVEY.md §2); this is the
    IVF coarse-quantizer training loop (``ivf_top_k`` and
    ``ivf_topk_fixedpoint`` train their cells with it) made oracle-able.
    """
    _, cent, counts = _kmeans_centroids(embeddings, k, iters)
    return (
        cent.select("cluster_id", F.posexplode("c").alias("dim", "centroid_q"))
        .join(counts, "cluster_id", "left")
        .select(
            "cluster_id",
            "dim",
            "centroid_q",
            F.coalesce("n_points", F.lit(0)).cast("long").alias("n_points"),
        )
        .orderBy("cluster_id", "dim")
    )


def ivf_topk_fixedpoint(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    iters: int = 3,
    n_probe: int = 2,
    query_id_col: str = "query_id",
) -> DataFrame:
    """End-to-end IVF approximate nearest neighbors with EVERY stage in
    engine-exact integer arithmetic: the fixed-point Lloyd quantizer
    (``_kmeans_centroids``), integer argmin cell assignment with the
    final centroids, ``n_probe``-cell probing per query, and an integer
    dot-product rerank over the probed cells only ((score DESC,
    neighbor_id ASC) total order). Because the DuckDB oracle runs the
    SAME pipeline — not a brute-force stand-in — the query is proven at
    ANY probe fraction: recall loss is part of the specified semantics,
    not an oracle hazard, so n_probe can sit at the honest scan-fraction
    trade (2/8 here) instead of the recall-1.0 setting
    ``topk_cosine_ivf`` needs to share the brute-force oracle.

    Shape at scale: train on the corpus (iters broadcast passes), assign
    in one broadcast pass, probe table is queries x n_probe rows, and
    the rerank join touches only the probed cells' vectors — scan
    fraction ~ n_probe/n_clusters, the inverted-file contract. No UDF,
    no driver collect."""
    vecs, cent, _ = _kmeans_centroids(embeddings, n_clusters, iters)
    cent_arr = F.broadcast(_centroid_array(cent))
    assigned = vecs.crossJoin(cent_arr).select(
        "vec_id", "q", _nearest_cell("q").alias("cluster_id")
    )
    qv = _kmeans_quantized(
        queries.select(F.col(query_id_col).alias("vec_id"), "embedding")
    ).select(F.col("vec_id").alias("query_id"), F.col("q").alias("qq"))
    probes = qv.crossJoin(cent_arr).select(
        "query_id", "qq", _probe_cells("qq", n_probe).alias("cluster_id")
    )
    dot = F.aggregate(
        F.zip_with("qq", "q", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cands = (
        assigned.join(F.broadcast(probes), "cluster_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot.alias("dot_q"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("dot_q").desc(), F.col("neighbor_id").asc()
    )
    return (
        cands.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _pq_split(df: DataFrame, vec_col: str, m_sub: int, dsub: int):
    """Explode a (.., ``vec_col``: array<long>) table into one row per
    subvector: the input columns minus ``vec_col``, plus (sub, sq)."""
    keep = [c for c in df.columns if c != vec_col]
    sub_structs = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("sub"),
                F.slice(vec_col, i * dsub + 1, dsub).alias("sq"),
            )
            for i in range(m_sub)
        ]
    )
    return df.select(*keep, F.explode(sub_structs).alias("t")).select(
        *keep, F.col("t.sub").alias("sub"), F.col("t.sq").alias("sq")
    )


def _pq_assign(subs: DataFrame, cb: DataFrame) -> DataFrame:
    """Argmin code per (row, sub) against the per-subspace codebooks:
    one row per sub holding its code array -> broadcast + pure
    projection, ``_lloyd_loop``'s assignment keyed by sub."""
    cents = cb.groupBy("sub").agg(
        F.collect_list(
            F.struct(F.col("code_id").alias("cluster_id"), "c")
        ).alias("cents")
    )
    return subs.join(F.broadcast(cents), "sub").select(
        *[c for c in subs.columns],
        _nearest_cell("sq").cast("int").alias("code_id"),
    )


def _pq_codebooks(
    subs: DataFrame, k_codes: int, iters: int
) -> DataFrame:
    """Train one ``k_codes`` codebook per subspace over a
    (vec_id, sub, sq) table with the deterministic Lloyd rule shared
    with :func:`kmeans_fixedpoint` (first-``k`` init by vec_id, integer
    argmin with (dist, code_id) tie-break, truncating integer mean,
    empty codes keep their centroid). Returns (sub, code_id, c)."""
    w_init = Window.partitionBy("sub").orderBy("vec_id")
    cb = (
        subs.withColumn("rn", F.row_number().over(w_init))
        .filter(F.col("rn") <= k_codes)
        .select(
            "sub",
            (F.col("rn") - 1).cast("int").alias("code_id"),
            F.col("sq").alias("c"),
        )
        .localCheckpoint()
    )
    for _ in range(iters):
        assigned = _pq_assign(subs, cb)
        # Count rides the sums aggregate (same one-aggregate merge as
        # ``_lloyd_loop``): per-(sub, code, dim) row count equals the
        # code's point count, so the separate counts aggregate + join
        # are gone — bit-identical divisors.
        sums = (
            assigned.select(
                "sub", "code_id", F.posexplode("sq").alias("dim", "val")
            )
            .groupBy("sub", "code_id", "dim")
            .agg(
                F.sum("val").alias("s"),
                F.count(F.lit(1)).alias("n_points"),
            )
        )
        upd = (
            sums.select(
                "sub", "code_id", "dim", F.expr("s div n_points").alias("v")
            )
            .groupBy("sub", "code_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "v"))),
                    lambda s: s["v"],
                ).alias("c_new")
            )
        )
        cb = checkpoint(
            cb.join(upd, ["sub", "code_id"], "left").select(
                "sub", "code_id", F.coalesce("c_new", "c").alias("c")
            ),
            cb,
        )
    return cb


def _train_sample(df: DataFrame, train_mod: int | None) -> DataFrame:
    """Deterministic 1/``train_mod`` TRAINING sample for quantizer
    fitting (rows whose md5-hashed ``vec_id`` lands in residue 0 — the
    engine's seedless sampling convention): quantizer quality saturates
    far below full-corpus size, while Lloyd training cost is linear in
    it — at 500k vectors the codebook passes were 74 s of plain PQ's
    91 s total (SCALE.md round-11), and at 100 TB full-corpus training
    is simply not done (production ANN systems fit codebooks on a
    bounded sample and encode everything). ``None``/``<=1`` keeps the
    exact full-corpus semantics the registered oracles pin. Training is
    the ONLY consumer — every vector is still encoded and searchable."""
    if train_mod is None or train_mod <= 1:
        return df
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit("pqtrain:"), F.col("vec_id").cast("string"))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return df.filter(F.pmod(h, F.lit(train_mod)) == 0)


def pq_build_index(
    embeddings: DataFrame,
    m_sub: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    dims: int = 64,
    train_mod: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Train-and-encode stage of :func:`pq_topk_fixedpoint`, split out
    so the FROZEN index — ``(codes, cb)``: the corpus encoded to
    ``m_sub`` code ids per vector, plus the per-subspace codebooks — is
    build-once-probe-many (the deployment contract, and the registry's
    ``shared_intermediates`` convention: the r12 verdict measured four
    ANN rows retraining identical Lloyd chains per bench sweep). Both
    returned frames are localCheckpointed: training cost is paid HERE,
    exactly once, and every query batch against the index starts from
    materialized blocks."""
    if dims % m_sub != 0:
        raise ValueError(f"dims={dims} not divisible by m_sub={m_sub}")
    dsub = dims // m_sub
    subs = _pq_split(
        _kmeans_quantized(embeddings), "q", m_sub, dsub
    ).localCheckpoint()
    cb = _pq_codebooks(_train_sample(subs, train_mod), k_codes, iters)
    codes = (
        _pq_assign(subs, cb)
        .select("vec_id", "sub", "code_id")
        .localCheckpoint()
    )
    return codes, cb


def pq_topk_fixedpoint(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m_sub: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    dims: int = 64,
    query_id_col: str = "query_id",
    train_mod: int | None = None,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Product-quantization ANN (Jégou, Douze & Schmid 2011) with EVERY
    stage in engine-exact integer arithmetic: split each quantized
    vector into ``m_sub`` subvectors, train an independent ``k_codes``
    codebook per subspace with the same deterministic Lloyd rule as
    :func:`kmeans_fixedpoint` (first-``k`` init by vec_id, integer
    argmin with (dist, code_id) tie-break, truncating integer mean,
    empty codes keep their centroid), encode the corpus to ``m_sub``
    bytes-worth of code ids, then answer queries by ASYMMETRIC DISTANCE
    COMPUTATION: the query stays exact, a per-query lookup table of
    ``m_sub x k_codes`` squared-L2 partials is built against the
    codebooks, and each corpus vector's distance is the sum of its
    codes' table entries — never a full-dimension scan of the corpus at
    query time.

    Output ``(query_id, neighbor_id, adc_q, rank)`` — top-``k`` by
    (adc ascending, neighbor_id) per query; like
    :func:`ivf_topk_fixedpoint` the DuckDB oracle runs the SAME
    approximate pipeline, so quantization error is specified semantics,
    not an oracle hazard.

    Shape at scale: codebook training is ``iters`` broadcast passes over
    the (corpus x m_sub) subvector table, each iteration ONE
    (sub, code, dim)-keyed shuffle (the Lloyd update); the encoded
    corpus is m_sub SMALL-INT columns per vector — the 64x storage
    compression that makes 100-TB-scale ANN memory-resident; the query
    path broadcasts the (queries x m_sub x k_codes) LUT and runs one
    corpus-codes-sized join + keyed sum — linear in N·m_sub per query
    batch with NO vector arithmetic inside. This is the exhaustive-ADC
    baseline; at a 100-TB corpus compose the coarse IVF cell probe
    (``ivf_topk_fixedpoint``) in front so ADC touches only probed cells
    (IVFADC, the paper's §IV) — the two stages are independent by
    construction. Training cost is the other 100-TB lever: the Lloyd
    passes dominate at scale (74 of 91 s at 500k vectors, SCALE.md
    round-11) and ``train_mod`` fits the codebooks on a deterministic
    1/train_mod sample while still encoding everything
    (:func:`_train_sample`). No UDF, no driver collect. Pass a
    prebuilt ``index`` (:func:`pq_build_index` with the SAME training
    parameters) to skip train+encode — the frozen-index contract.
    """
    if dims % m_sub != 0:
        raise ValueError(f"dims={dims} not divisible by m_sub={m_sub}")
    dsub = dims // m_sub
    codes, cb = index if index is not None else pq_build_index(
        embeddings, m_sub, k_codes, iters, dims, train_mod
    )
    qsub = _pq_split(
        _kmeans_quantized(
            queries.select(F.col(query_id_col).alias("vec_id"), "embedding")
        ),
        "q",
        m_sub,
        dsub,
    ).select(
        F.col("vec_id").alias("query_id"), "sub", F.col("sq").alias("qq")
    )
    sqdist = F.aggregate(
        F.zip_with("qq", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # cb is m_sub x k_codes rows — always a broadcast (without the hint
    # Spark picks a sort-merge join here: checkpointed sides lose their
    # size stats)
    lut = qsub.join(F.broadcast(cb), "sub").select(
        "query_id", "sub", "code_id", sqdist.alias("dist")
    )
    cands = (
        codes.join(F.broadcast(lut), ["sub", "code_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dist").cast("long").alias("adc_q"))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("adc_q").asc(), F.col("neighbor_id").asc()
    )
    return (
        cands.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc_q",
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


PROBE_ID_OFFSET = 1_000_000  # probe ids sit far above every corpus vec_id


def planted_probe_queries(
    embeddings: DataFrame, n_probes: int = 10
) -> DataFrame:
    """Deterministic NOISY-DUPLICATE probe set for retrieval-quality
    evaluation: for each of the first ``n_probes`` corpus vectors emit
    ``probe = 0.95*v + 0.05*noise`` with ``query_id = vec_id +
    PROBE_ID_OFFSET`` — a probe whose true nearest neighbor is its own
    source vector BY CONSTRUCTION (cosine ~0.998 vs ~0.5-0.85 for
    everything else), at any corpus size, with no side files.

    Engine-exact: the noise is the md5-derived integer-in-[-1000,1000]
    over 1000.0 convention (`make_sf1.py`'s generator), and the mix is
    two double multiplies and one add in a FIXED order, so DuckDB
    constructs bit-identical probes from the same parquet floats —
    which makes recall itself oracle-checkable (`pq_planted_recall`).
    """

    def _noise(vid: Column, i: Column) -> Column:
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit("probe"),
                        vid.cast("string"),
                        i.cast("string"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        return (F.pmod(h, F.lit(2001)) - F.lit(1000)) / F.lit(1000.0)

    probe = F.transform(
        F.col("embedding"),
        lambda x, i: (x.cast("double") * F.lit(0.95))
        + (_noise(F.col("vec_id"), i) * F.lit(0.05)),
    )
    return embeddings.filter(F.col("vec_id") < n_probes).select(
        (F.col("vec_id") + F.lit(PROBE_ID_OFFSET)).alias("query_id"),
        probe.alias("embedding"),
    )


def pq_planted_recall(
    embeddings: DataFrame,
    n_probes: int = 10,
    k: int = 5,
    m_sub: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    dims: int = 64,
    train_mod: int | None = None,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Retrieval QUALITY as a first-class oracled query: build the
    planted noisy-duplicate probes, run the registered PQ pipeline, and
    report per probe whether (and at what rank) its source vector was
    retrieved — ``(query_id, target_id, target_found, target_rank)``.

    This moves recall from test-only evidence into the oracle gate: the
    DuckDB twin constructs the bit-identical probes and runs the same
    integer ADC chain, so "the index finds a near-exact duplicate" is
    specified, reproducible semantics at every scale — the evaluation a
    100-TB dedup/RAG deployment runs continuously against its index.
    Composable with ``train_mod`` to certify the sampled-training
    recipe retrieves planted duplicates just as well.

    Shape at scale: probe construction is a corpus-free projection of
    ``n_probes`` rows; everything else is the ``pq_topk_fixedpoint``
    envelope; the final aggregation is probe-sized.
    """
    probes = planted_probe_queries(embeddings, n_probes)
    topk = pq_topk_fixedpoint(
        embeddings,
        probes,
        k=k,
        m_sub=m_sub,
        k_codes=k_codes,
        iters=iters,
        dims=dims,
        query_id_col="query_id",
        train_mod=train_mod,
        index=index,
    )
    return _planted_recall_report(probes, topk)


def lsh_planted_recall(
    embeddings: DataFrame,
    n_probes: int = 10,
    k: int = 5,
    num_planes: int = 8,
    num_tables: int = 4,
) -> DataFrame:
    """:func:`pq_planted_recall` for the FLOAT hyperplane-LSH pipeline
    (r12 verdict item 6): planted noisy-duplicate probes through
    :func:`lsh_top_k` at the caller's (planes, tables), reported as the
    per-probe recall contract ``(query_id, target_id, target_found,
    target_rank)``.

    Oracle story: the LSH bucketing itself (seeded numpy Gaussian
    hyperplanes inside an Arrow kernel) is not expressible in SQL, so
    the DuckDB twin runs EXACT brute-force cosine over the bit-identical
    probes — greenness therefore asserts a recall FLOOR of 1.0 on the
    planted near-duplicate class at the registered parameters: the
    banded index must retrieve every planted duplicate at the exact
    path's rank, or the row goes red. For a 0.95-mix probe the source
    vector ranks first by a wide cosine margin (~0.998 vs ~0.85 for the
    background corpus) and shares a bucket with its source in some
    table with overwhelming margin, so the contract is the one a
    deployment actually monitors — "the index does not lose
    near-exact duplicates" — made deterministic (fixed planes, fixed
    probes) and cross-engine-checkable.

    Shape at scale: probe construction is corpus-free; the rest is the
    ``lsh_top_k`` envelope (bucket equi-join, candidates-only rerank);
    the report aggregation is probe-sized.
    """
    probes = planted_probe_queries(embeddings, n_probes)
    topk = lsh_top_k(
        embeddings,
        probes,
        k=k,
        num_planes=num_planes,
        num_tables=num_tables,
    )
    return _planted_recall_report(probes, topk)


def _planted_recall_report(probes: DataFrame, topk: DataFrame) -> DataFrame:
    """Fold a probe top-k into the per-probe recall contract:
    ``(query_id, target_id, target_found, target_rank)`` with
    ``target_rank = 0`` when the source vector was not retrieved (the
    column stays NULL-free so the driver's value hash never meets a
    NaN)."""
    target = F.col("query_id") - F.lit(PROBE_ID_OFFSET)
    found = topk.groupBy("query_id").agg(
        F.max(
            F.when(F.col("neighbor_id") == target, F.col("rank"))
        ).alias("target_rank")
    )
    # found is probe-sized (<= n_probes rows) — broadcast it; without
    # the hint the aggregated side has no stats and plans a sort-merge
    # join on 10 rows.
    return (
        probes.select("query_id")
        .join(F.broadcast(found), "query_id", "left")
        .select(
            "query_id",
            (F.col("query_id") - F.lit(PROBE_ID_OFFSET)).alias("target_id"),
            F.col("target_rank").isNotNull().alias("target_found"),
            F.coalesce(F.col("target_rank").cast("int"), F.lit(0)).alias(
                "target_rank"
            ),
        )
        .orderBy("query_id")
    )


def ivfpq_planted_recall(
    embeddings: DataFrame,
    n_probes: int = 10,
    k: int = 5,
    n_clusters: int = 8,
    coarse_iters: int = 2,
    m_sub: int = 4,
    k_codes: int = 8,
    pq_iters: int = 2,
    n_probe: int = 2,
    dims: int = 64,
    train_mod: int | None = None,
    index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """:func:`pq_planted_recall` against the FULL IVFADC pipeline — the
    evaluation that exercises the lossy stage exhaustive ADC doesn't
    have: a planted duplicate is lost not only to code collisions but
    whenever its cell is outside the query's ``n_probe`` probed cells.
    A near-exact duplicate lands in its source's cell almost surely
    (the probe is 0.95 of the source vector, and cells are decided by
    the same quantized geometry), so this reports the probe-cut's real
    cost on the easiest — and operationally most important — retrieval
    class. Same oracle story as the PQ row: bit-identical probes, same
    integer chain, recall is specified semantics."""
    probes = planted_probe_queries(embeddings, n_probes)
    topk = ivfpq_topk_fixedpoint(
        embeddings,
        probes,
        k=k,
        n_clusters=n_clusters,
        coarse_iters=coarse_iters,
        m_sub=m_sub,
        k_codes=k_codes,
        pq_iters=pq_iters,
        n_probe=n_probe,
        dims=dims,
        query_id_col="query_id",
        train_mod=train_mod,
        index=index,
    )
    return _planted_recall_report(probes, topk)


def ivfpq_build_index(
    embeddings: DataFrame,
    n_clusters: int = 8,
    coarse_iters: int = 2,
    m_sub: int = 4,
    k_codes: int = 8,
    pq_iters: int = 2,
    dims: int = 64,
    train_mod: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train-and-encode stage of :func:`ivfpq_topk_fixedpoint`, split
    out so the FROZEN IVFADC index is build-once-probe-many. Returns
    ``(codes, cent, cb)``: the corpus encoded as (vec_id, cell, sub,
    code_id) residual codes, the coarse centroid table, and the shared
    residual codebooks — everything a query batch needs (the query path
    derives its broadcast centroid array / cell table from ``cent``).
    ``codes`` and both trained tables are localCheckpointed, so the two
    Lloyd chains (coarse + residual PQ) are paid exactly once per index
    (the r12 verdict measured four registered ANN rows retraining these
    identically within one bench sweep)."""
    if dims % m_sub != 0:
        raise ValueError(f"dims={dims} not divisible by m_sub={m_sub}")
    dsub = dims // m_sub
    if train_mod is not None and train_mod > 1:
        # both quantizers fit on the deterministic sample; EVERY vector
        # is still assigned, residual-encoded, and searchable
        _, cent, _ = _kmeans_centroids(
            _train_sample(embeddings, train_mod), n_clusters, coarse_iters
        )
        vecs = _kmeans_quantized(embeddings).localCheckpoint()
    else:
        vecs, cent, _ = _kmeans_centroids(
            embeddings, n_clusters, coarse_iters
        )
    cent_arr = F.broadcast(_centroid_array(cent))
    assigned = vecs.crossJoin(cent_arr).select(
        "vec_id", "q", _nearest_cell("q").cast("int").alias("cell")
    )
    cent_cells = cent.select(
        F.col("cluster_id").cast("int").alias("cell"), F.col("c").alias("cc")
    )
    residual = F.zip_with("q", "cc", lambda a, b: a - b)
    res = assigned.join(F.broadcast(cent_cells), "cell").select(
        "vec_id", "cell", residual.alias("r")
    )
    rsubs = _pq_split(res, "r", m_sub, dsub).localCheckpoint()
    # ONE shared product quantizer over all residuals: train on the
    # (vec_id, sub, sq) projection (sampled under train_mod), then
    # encode keeping the cell key
    cb = _pq_codebooks(
        _train_sample(rsubs.select("vec_id", "sub", "sq"), train_mod),
        k_codes,
        pq_iters,
    )
    codes = (
        _pq_assign(rsubs, cb)
        .select("vec_id", "cell", "sub", "code_id")
        .localCheckpoint()
    )
    return codes, cent, cb


def ivfpq_topk_fixedpoint(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    coarse_iters: int = 2,
    m_sub: int = 4,
    k_codes: int = 8,
    pq_iters: int = 2,
    n_probe: int = 2,
    dims: int = 64,
    query_id_col: str = "query_id",
    train_mod: int | None = None,
    index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVFADC — the full Jégou, Douze & Schmid 2011 §IV pipeline, every
    stage engine-exact integer: the coarse quantizer is the shared
    fixed-point Lloyd loop (``_kmeans_centroids``), each vector is
    encoded as (cell, PQ codes of its RESIDUAL x - c_cell) with ONE
    product quantizer shared across cells (the paper's memory/accuracy
    trade), and a query probes its ``n_probe`` nearest cells, forms the
    per-cell query residual, and scores candidates by the summed
    residual-ADC lookup table. Composes :func:`ivf_topk_fixedpoint`'s
    inverted-file stage with :func:`pq_topk_fixedpoint`'s compressed-
    domain distance — the scan touches ~n_probe/n_clusters of the
    corpus AND reads only m_sub small-int codes per candidate, never a
    raw vector.

    Output ``(query_id, neighbor_id, adc_q, rank)`` — top-``k`` by
    (residual-ADC ascending, neighbor_id); the DuckDB oracle runs the
    SAME approximate pipeline, so both the probe cut and the
    quantization error are specified semantics.

    Shape at scale: coarse training + assignment as in IVF (broadcast
    passes); residuals are one (cell)-keyed join + a zip_with
    projection; PQ training is ``pq_iters`` broadcast passes with one
    (sub, code, dim)-keyed shuffle each; the query path broadcasts a
    (queries x n_probe x m_sub x k_codes) LUT and the candidate join
    keys on (cell, sub, code_id) — probed cells only. No UDF, no
    driver collect. Pass a prebuilt ``index``
    (:func:`ivfpq_build_index` with the SAME training parameters) to
    skip both Lloyd chains and the corpus encode — the frozen-index
    contract.
    """
    if dims % m_sub != 0:
        raise ValueError(f"dims={dims} not divisible by m_sub={m_sub}")
    dsub = dims // m_sub
    codes, cent, cb = index if index is not None else ivfpq_build_index(
        embeddings, n_clusters, coarse_iters, m_sub, k_codes, pq_iters,
        dims, train_mod,
    )
    cent_arr = F.broadcast(_centroid_array(cent))
    cent_cells = cent.select(
        F.col("cluster_id").cast("int").alias("cell"), F.col("c").alias("cc")
    )
    qv = _kmeans_quantized(
        queries.select(F.col(query_id_col).alias("vec_id"), "embedding")
    ).select(F.col("vec_id").alias("query_id"), F.col("q").alias("qq"))
    probes = (
        qv.crossJoin(cent_arr)
        .select("query_id", "qq", _probe_cells("qq", n_probe).alias("p"))
        .select("query_id", "qq", F.col("p").cast("int").alias("cell"))
    )
    qres = probes.join(F.broadcast(cent_cells), "cell").select(
        "query_id",
        "cell",
        F.zip_with("qq", "cc", lambda a, b: a - b).alias("qr"),
    )
    qrsub = _pq_split(qres, "qr", m_sub, dsub).select(
        "query_id", "cell", "sub", F.col("sq").alias("qq")
    )
    sqdist = F.aggregate(
        F.zip_with("qq", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # same broadcast-the-codebooks rationale as pq_topk_fixedpoint
    lut = qrsub.join(F.broadcast(cb), "sub").select(
        "query_id", "cell", "sub", "code_id", sqdist.alias("dist")
    )
    cands = (
        codes.join(F.broadcast(lut), ["cell", "sub", "code_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dist").cast("long").alias("adc_q"))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("adc_q").asc(), F.col("neighbor_id").asc()
    )
    return (
        cands.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc_q",
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


def document_clusters_fixedpoint(
    documents: DataFrame, dims: int = 64, k: int = 8, iters: int = 3
) -> DataFrame:
    """Cluster the CORPUS — not a pre-embedded table — by composing two
    engine-exact primitives: hashed bag-of-words features
    (``text.hashed_doc_features``, vocabulary-free signed projection)
    densified into integer vectors, then the fixed-point Lloyd loop.
    The corpus-mixture analysis every pretraining pipeline runs before
    sampling, with every arithmetic step under the oracle gate.

    Densification: per doc, ``map_from_entries`` over the (dim, value)
    rows, then one ``transform(sequence(...))`` zero-filling lookup —
    both pure projections after the single feature aggregate. Output is
    the same (cluster_id, dim, centroid_q, n_points) contract as
    ``kmeans_fixedpoint``."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        hashed_doc_features,
    )

    feats = hashed_doc_features(documents, dims)
    m = F.map_from_entries(F.collect_list(F.struct("dim", "value")))
    vecs = (
        feats.groupBy("doc_id")
        .agg(m.alias("m"))
        .select(
            F.col("doc_id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dims - 1)),
                lambda d: F.coalesce(
                    F.element_at("m", d), F.lit(0).cast("long")
                ),
            ).alias("q"),
        )
    )
    _, cent, counts = _lloyd_loop(vecs, k, iters)
    return (
        cent.select(
            "cluster_id", F.posexplode("c").alias("dim", "centroid_q")
        )
        .join(counts, "cluster_id", "left")
        .select(
            "cluster_id",
            "dim",
            "centroid_q",
            F.coalesce("n_points", F.lit(0)).cast("long").alias("n_points"),
        )
        .orderBy("cluster_id", "dim")
    )


def hashed_feature_principal_component(
    documents: DataFrame, dims: int = 64, iters: int = 6, scale_bits: int = 14
) -> DataFrame:
    """Dominant principal direction of the corpus's hashed-feature matrix
    (the top eigenvector of the uncentered second-moment X^T X), by POWER
    ITERATION in engine-exact fixed-point integers — the embedding-drift /
    corpus-debiasing primitive, composed from two already-oracled pieces:
    ``text.hashed_doc_features`` (the sparse X) and the normalize-divide
    convention of the Lloyd loop (both engines' integer division truncates
    toward zero; pinned by test).

    Determinism without libm: the matrix and every iterate are rescaled to
    ``2^scale_bits`` fixed point by their own max-abs (one 1-row scalar,
    the Louvain-``m`` pattern), so the mat-vec terms are bounded by
    ``dims * 2^(2*scale_bits)`` — 2^34 at the defaults — at ANY corpus
    size, and a fixed ``iters`` unrolls into a chained-CTE oracle. Sign is
    canonicalized by the first nonzero coordinate (eigenvectors are
    sign-ambiguous; both engines pick the same representative).

    Shape at scale: X^T X is ONE self-join on doc_id + one (i, j)-keyed
    sum — fan-out is nnz(doc)^2 <= dims^2 per document, so the covariance
    build is O(docs * dims^2) with map-side partial aggregation, and
    everything after it runs on <= dims^2 rows. Covariance magnitudes are
    bounded by docs * value^2 — past ~2^63 widen the product to
    decimal(38,0) (the ``split_drift_report`` remedy; not reachable at
    tested scales).
    """
    from inf_553_datamining_mapreduce_spark.operators.text import (
        hashed_doc_features,
    )

    scale = 1 << scale_bits
    feats = hashed_doc_features(documents, dims=dims).localCheckpoint()
    a, b = feats.alias("a"), feats.alias("b")
    cov = (
        a.join(b, "doc_id")
        .groupBy(F.col("a.dim").alias("i"), F.col("b.dim").alias("j"))
        .agg(F.sum(F.col("a.value") * F.col("b.value")).alias("m"))
    )
    mmax = cov.agg(F.max(F.abs("m")).alias("mmax"))
    mq = (
        cov.crossJoin(F.broadcast(mmax))
        .select("i", "j", F.expr(f"(m * {scale}) DIV mmax").alias("mq"))
        .localCheckpoint()
    )
    spark = documents.sparkSession
    v = spark.range(dims).select(
        F.col("id").cast("int").alias("j"),
        F.lit(scale).cast("long").alias("v"),
    )
    v_ck = None
    for _ in range(iters):
        u = (
            mq.join(v, "j")
            .groupBy("i")
            .agg(F.sum(F.col("mq") * F.col("v")).alias("u"))
        )
        umax = u.agg(F.max(F.abs("u")).alias("umax"))
        v = v_ck = checkpoint(
            u.crossJoin(F.broadcast(umax)).select(
                F.col("i").alias("j"),
                F.expr(f"(u * {scale}) DIV umax").alias("v"),
            ),
            v_ck,
        )
    sgn = (
        v.filter(F.col("v") != 0)
        .orderBy("j")
        .limit(1)
        .select(F.when(F.col("v") > 0, 1).otherwise(-1).alias("s"))
    )
    full = spark.range(dims).select(F.col("id").cast("int").alias("j"))
    return (
        full.join(v, "j", "left")
        .crossJoin(F.broadcast(sgn))
        .select(
            F.col("j").alias("dim"),
            F.coalesce(F.col("v") * F.col("s"), F.lit(0))
            .cast("long")
            .alias("component_q14"),
        )
        .orderBy("dim")
    )


def semantic_dedup_keep_best(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    tau_num: int = 90,
    tau_den: int = 100,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): cluster the embedding
    space, compare pairs only WITHIN a cluster, and drop every item that
    is semantically close to a kept one — the modern curation step between
    exact/MinHash dedup (surface forms) and nothing (paraphrase dupes).

    Engine-exact composition of two oracled primitives: the integer Lloyd
    loop (``kmeans_fixedpoint``) assigns clusters, and the cosine gate is
    decided in pure BIGINT arithmetic — re-quantize at scale 100, then
    ``cos(a,b) >= tau`` iff ``dot > 0 AND dot^2 * tau_den^2 >= tau_num^2 *
    |a|^2 * |b|^2`` (squares of exact integers; all terms bounded by
    ~dims^2 * 100^4 ~ 4e15 at ANY corpus size, since the quantized
    coordinates are value-bounded, not corpus-bounded). Keep rule: a
    vector is dropped iff an over-threshold neighbor with a SMALLER id
    shares its cluster — deterministic, single-join, and the exact rule
    the oracle mirrors (SemDeDup's keep-one-per-group up to tie order).

    Shape at 100 TB: assignment is the zero-shuffle broadcast-centroid
    projection; the pair join is cluster-keyed, so fan-out is bounded by
    cluster occupancy — k scales with the corpus precisely so that
    per-cluster all-pairs stays tractable (the paper's own design), and
    the df-cut levers of the surface-form dedups apply unchanged if a
    cluster degenerates.
    """
    vecs, cent, _ = _kmeans_centroids(embeddings, k, iters)
    assigned = vecs.crossJoin(F.broadcast(_centroid_array(cent))).select(
        "vec_id", _nearest_cell("q").alias("cluster_id")
    )
    p = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(100.0)).cast("long"),
    )
    sq = F.aggregate(
        F.transform(F.col("p"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pts = (
        assigned.join(
            embeddings.select("vec_id", p.alias("p")), "vec_id"
        )
        .withColumn("n2", sq)
        .localCheckpoint()
    )
    # The pair join is keyed by cluster_id alone, so its parallelism is
    # capped at k — at the registered k=8 the n^2/k dot-product work ran
    # on <= 8 tasks no matter the cluster size (guide §2.5: a hot key the
    # planner cannot split). Salt the join: the b side carries a
    # deterministic pmod(vec_id, salt) bucket, the a side is replicated
    # to every bucket, and the join key becomes (cluster_id, salt) —
    # every (a, b) pair still matches EXACTLY once (at b's bucket), so
    # the pair set and all downstream results are identical while the
    # dot-product work spreads over k x salt tasks. Salt is derived from
    # the session's parallelism and k (scale-adaptive): at the paper's
    # k ~ sqrt(n) regime it degenerates to 1 and the plan is unchanged.
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    salt = max(1, min(16, -(-2 * par // max(k, 1))))
    a = pts.crossJoin(
        F.broadcast(
            embeddings.sparkSession.range(salt).select(
                F.col("id").alias("_salt")
            )
        )
    ).alias("a")
    b = pts.withColumn("_salt", F.pmod(F.col("vec_id"), F.lit(salt))).alias(
        "b"
    )
    dot = F.aggregate(
        F.zip_with(F.col("a.p"), F.col("b.p"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a._salt") == F.col("b._salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("vec_id"),
            dot.alias("dot"),
            (F.col("a.n2") * F.col("b.n2")).alias("nn"),
        )
        .filter(
            (F.col("dot") > 0)
            & (
                F.col("dot") * F.col("dot") * F.lit(tau_den * tau_den)
                >= F.lit(tau_num * tau_num) * F.col("nn")
            )
        )
        .select("vec_id")
        .distinct()
    )
    return (
        pts.join(pairs.withColumn("_dropped", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.col("_dropped").isNull().alias("kept"),
        )
        .orderBy("vec_id")
    )


def semantic_dedup_keep_best_scaled(
    embeddings: DataFrame,
    iters: int = 3,
    tau_num: int = 90,
    tau_den: int = 100,
    min_k: int = 8,
) -> DataFrame:
    """:func:`semantic_dedup_keep_best` with a CORPUS-DERIVED cluster
    count — the registration that stays scale-honest where a pinned k
    does not (measured, SCALE.md round 11: k=8 at 50k vectors = 643.8 s,
    95x wall for 25x data — the within-cluster pair term is ~n^2/k).

    The rule: ``k = max(min_k, isqrt(n // iters))``. Total cost has two
    terms — the Lloyd assignment cross join (``iters * n * k``; the
    fixed-point quantizer scores every centroid exactly, unlike the
    paper's approximate kmeans) and the within-cluster pairs (~``n^2/k``
    at balanced occupancy). ``k ~ sqrt(n/iters)`` equalizes them, so
    total work grows ~``n^1.5`` instead of ``n^2`` — at 50k vectors
    that is k=129 with ~19M ops per term instead of k=8's 312M-pair
    scan. Deterministic by construction: ``n`` is one scalar
    ``count()``, ``isqrt`` is exact integer arithmetic, and the DuckDB
    oracle computes the identical k from the same ``COUNT(*)`` (double
    ``SQRT`` corrected to exact isqrt by a +-1 adjustment), so the
    chained-CTE oracle extends unchanged."""
    from math import isqrt

    n = embeddings.count()
    k = max(min_k, isqrt(n // max(iters, 1)))
    return semantic_dedup_keep_best(
        embeddings, k=k, iters=iters, tau_num=tau_num, tau_den=tau_den
    )


def build_semantic_index(
    embeddings: DataFrame, k: int = 8, iters: int = 3
) -> tuple[DataFrame, DataFrame]:
    """FROZEN semantic-dedup index: final Lloyd centroids plus the
    indexed corpus's (vec_id, cluster_id, p, n2) table — the static side
    of the ingestion-time gate. Both are localCheckpoint'd so repeated
    micro-batch probes never re-run the clustering (the
    ``build_lm_model`` convention)."""
    vecs, cent, _ = _kmeans_centroids(embeddings, k, iters)
    cents_row = _centroid_array(cent).localCheckpoint()
    assigned = vecs.crossJoin(F.broadcast(cents_row)).select(
        "vec_id", _nearest_cell("q").alias("cluster_id")
    )
    pts = (
        assigned.join(_p100(embeddings), "vec_id")
        .localCheckpoint()
    )
    return cents_row, pts


def _p100(embeddings: DataFrame) -> DataFrame:
    """(vec_id, p, n2) at the scale-100 similarity quantization."""
    p = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(100.0)).cast("long"),
    )
    sq = F.aggregate(
        F.transform(F.col("p"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return embeddings.select("vec_id", p.alias("p")).withColumn("n2", sq)


def incremental_semantic_dedup(
    new_embeddings: DataFrame,
    indexed: DataFrame | tuple[DataFrame, DataFrame],
    k: int = 8,
    iters: int = 3,
    tau_num: int = 90,
    tau_den: int = 100,
) -> DataFrame:
    """Ingestion-time SemDeDup: each incoming embedding is assigned to the
    FROZEN centroids (zero-shuffle broadcast projection), quantized at
    scale 100, and compared against the INDEXED vectors of its own
    cluster only — dropped iff an over-threshold indexed neighbor exists.
    Stream-static shape, stateless per batch (a decision depends only on
    (vector, frozen index)), the same contract as every other ingestion
    twin (``index_near_duplicates``, ``scrub_indexed_spans``,
    ``incremental_lm_scoring``) — proven in the foreachBatch test. Pass
    ``indexed`` as the raw embeddings table to build here, or as a
    prebuilt ``build_semantic_index`` pair to amortize across batches.
    """
    cents_row, pts = (
        indexed
        if isinstance(indexed, tuple)
        else build_semantic_index(indexed, k, iters)
    )
    # assignment runs at the Lloyd quantization (KMEANS_SCALE); the
    # similarity gate at scale 100 — the same two-scale split as the
    # batch operator
    probe = (
        _kmeans_quantized(new_embeddings)
        .join(_p100(new_embeddings), "vec_id")
        .crossJoin(F.broadcast(cents_row))
        .select(
            "vec_id",
            "p",
            "n2",
            _nearest_cell("q").alias("cluster_id"),
        )
    )
    # Same cluster-key salt as the batch operator (guide §2.5): the
    # probe side replicates to every bucket, the indexed side buckets by
    # pmod(vec_id, salt) — every (probe, indexed) pair still meets
    # exactly once, the probe-vs-cluster work spreads over k x salt
    # tasks instead of k. Stream-safe: the salt column is a pure per-row
    # projection on each side.
    par = new_embeddings.sparkSession.sparkContext.defaultParallelism
    salt = max(1, min(16, -(-2 * par // max(k, 1))))
    a = probe.crossJoin(
        F.broadcast(
            new_embeddings.sparkSession.range(salt).select(
                F.col("id").alias("_salt")
            )
        )
    ).alias("a")
    b = pts.withColumn("_salt", F.pmod(F.col("vec_id"), F.lit(salt))).alias(
        "b"
    )
    dot = F.aggregate(
        F.zip_with(F.col("a.p"), F.col("b.p"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    hits = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a._salt") == F.col("b._salt")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            dot.alias("dot"),
            (F.col("a.n2") * F.col("b.n2")).alias("nn"),
        )
        .filter(
            (F.col("dot") > 0)
            & (
                F.col("dot") * F.col("dot") * F.lit(tau_den * tau_den)
                >= F.lit(tau_num * tau_num) * F.col("nn")
            )
        )
        .select("vec_id")
        .distinct()
    )
    return (
        probe.join(hits.withColumn("_dup", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.col("_dup").isNull().alias("kept"),
        )
        .orderBy("vec_id")
    )


def quality_classifier_fixedpoint(
    documents: DataFrame,
    dims: int = 64,
    epochs: int = 3,
    sig_scale: int = 4096,
    margin_scale: int = 1 << 16,
    lr_den: int = 1 << 12,
    label_min_tokens: int = 56,
) -> DataFrame:
    """``(dim, weight_fp)`` — a TRAINED quality classifier: batch
    logistic regression over the hashed bag-of-words features
    (``text.hashed_doc_features``), every step in engine-exact integer
    arithmetic. This is the model-based stage of a curation pipeline
    (fastText-style quality filters train exactly this shape: hashed
    features, a linear model, a sigmoid) where ``quality_scores`` is
    the heuristic stage; the demo labels come from a deterministic
    in-engine rule (``token count >= label_min_tokens`` — at the
    registered corpus that is the median, a balanced split), but the
    trainer is label-agnostic.

    Per synchronous epoch (weights start at zero, so epoch 1's update
    is the class-mean-difference direction):

    * margin  ``z_d = sum_j x_dj * w_j``          (doc-keyed join+sum)
    * predict ``p_d = hardsig(z_d)`` — the SGNS trainer's piecewise
      integer sigmoid, ``least(S, greatest(0, ((z + 2*Z) * S) div
      (4*Z)))`` with ``S = sig_scale``, ``Z = margin_scale``
    * error   ``err_d = y_d * S - p_d``
    * grads   ``g_j = sum_d x_dj * err_d``        (dim-keyed join+sum)
    * update  ``w_j += g_j div lr_den``           (both engines'
      integer division truncates toward zero; pinned by the kmeans
      parity test)

    Shape at 100 TB: the feature table is corpus x dims rows built by
    one explode + one hash aggregate; each epoch is two broadcast-able
    joins against the dims-row weight vector plus two keyed sums with
    map-side partials — the classic distributed batch-GD step, no UDF,
    no driver collect, model state bounded by ``dims`` rows. Bound:
    ``|g| <= n_docs * max|value| * S`` must stay under 2^63 — at
    S = 4096 that allows ~10^12 corpus-weighted token mass per dim,
    far beyond any registered SF (and the epoch count is fixed, so the
    unrolled chained-CTE oracle proves every weight bit-exact).
    """
    from inf_553_datamining_mapreduce_spark.operators.text import (
        hashed_doc_features,
        tokens_col,
    )

    spark = documents.sparkSession
    # Labels ride ON the feature rows (one join at build time, +8 bytes
    # per row) instead of a per-epoch doc-keyed join of the error table
    # — the margin aggregate carries y through (constant per doc, so
    # max(y) is exact) and the error becomes a pure projection. One
    # checkpoint job instead of two, one fewer shuffle join per epoch;
    # every arithmetic term unchanged (r13 optimization round).
    fy = (
        hashed_doc_features(documents, dims)
        .join(
            documents.select(
                "doc_id",
                (F.size(tokens_col("text")) >= label_min_tokens)
                .cast("long")
                .alias("y"),
            ),
            "doc_id",
        )
        .localCheckpoint()
    )
    sc_, z0 = sig_scale, margin_scale
    w = spark.range(dims).select(
        F.col("id").cast("int").alias("dim"),
        F.lit(0).cast("long").alias("w"),
    )
    w_ck = None
    for _ in range(epochs):
        zy = (
            fy.join(F.broadcast(w), "dim")
            .groupBy("doc_id")
            .agg(
                F.sum(F.col("value") * F.col("w")).alias("z"),
                F.max("y").alias("y"),
            )
        )
        err = zy.select(
            "doc_id",
            (
                F.col("y") * sc_
                - F.expr(
                    f"least({sc_}L, greatest(0L, "
                    f"((z + {2 * z0}L) * {sc_}L) div {4 * z0}L))"
                )
            ).alias("err"),
        )
        grad = (
            fy.join(err, "doc_id")
            .groupBy("dim")
            .agg(F.sum(F.col("value") * F.col("err")).alias("g"))
        )
        w = w_ck = checkpoint(
            w.join(grad, "dim", "left").select(
                "dim",
                (
                    F.col("w")
                    + F.coalesce(
                        F.expr(f"g div {lr_den}L"), F.lit(0).cast("long")
                    )
                ).alias("w"),
            ),
            w_ck,
        )
    return w.select("dim", F.col("w").alias("weight_fp")).orderBy("dim")


def quality_classifier_eval(
    documents: DataFrame,
    dims: int = 64,
    epochs: int = 3,
    sig_scale: int = 4096,
    margin_scale: int = 1 << 16,
    lr_den: int = 1 << 12,
    label_min_tokens: int = 56,
) -> DataFrame:
    """``(y_label, y_pred, n_docs)`` — HELD-OUT evaluation of the trained
    quality classifier (r10 verdict item 4): train
    :func:`quality_classifier_fixedpoint` on the even-``doc_id`` half of
    the corpus (the engine's standard even/odd ingestion split, e.g.
    ``incremental_ann_ivfpq``), score the odd half with the frozen
    weights, and emit the confusion counts — the
    ``language_confusion_matrix`` rollup for the model-based filter, run
    before trusting its keep/drop decisions. Integer-exact end to end:
    the score reuses the trainer's hard-sigmoid text, the decision rule
    is ``2*p >= sig_scale`` (i.e. p at or above the sigmoid midpoint),
    and the output is pure BIGINT counts — the chained-CTE oracle
    extends the training chain by two CTEs.

    Shape at 100 TB: training cost is the trainer's (dims-broadcast
    joins + keyed sums per epoch over half the corpus); scoring is ONE
    broadcast join of the dims-row weight vector into the held-out
    feature table plus a doc-keyed sum and a 2x2-bounded aggregate.
    Docs with no hashed features (empty token list) score z = 0 via the
    left join, never silently drop."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        hashed_doc_features,
        tokens_col,
    )

    train = documents.filter(F.col("doc_id") % 2 == 0)
    held = documents.filter(F.col("doc_id") % 2 == 1)
    w = quality_classifier_fixedpoint(
        train, dims, epochs, sig_scale, margin_scale, lr_den,
        label_min_tokens,
    ).localCheckpoint()
    feats = hashed_doc_features(held, dims)
    labels = held.select(
        "doc_id",
        (F.size(tokens_col("text")) >= label_min_tokens)
        .cast("long")
        .alias("y_label"),
    )
    z = (
        feats.join(
            F.broadcast(w.withColumnRenamed("weight_fp", "w")), "dim"
        )
        .groupBy("doc_id")
        .agg(F.sum(F.col("value") * F.col("w")).alias("z"))
    )
    sc_, z0 = sig_scale, margin_scale
    scored = labels.join(z, "doc_id", "left").select(
        "y_label",
        F.expr(
            f"least({sc_}L, greatest(0L, "
            f"((coalesce(z, 0L) + {2 * z0}L) * {sc_}L) div {4 * z0}L))"
        ).alias("p"),
    )
    return (
        scored.select(
            "y_label",
            (F.col("p") * 2 >= sc_).cast("long").alias("y_pred"),
        )
        .groupBy("y_label", "y_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("y_label", "y_pred")
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval — the RAG-stack fusion step the lexical (BM25) and
# semantic (embedding top-k) families each stop short of.

RRF_SCALE = 1_000_000_000  # frozen fixed-point literal shared with the oracle


def hybrid_retrieval_rrf(
    documents: DataFrame,
    embeddings: DataFrame,
    query_terms=("dup", "vector", "spark"),
    probe_id: int = 0,
    top_k: int = 20,
    k0: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of a
    lexical and a semantic retrieval leg — the standard hybrid-search
    shape of a RAG pipeline, with every score an exact integer so the
    DuckDB oracle reproduces the fused ranking bit for bit.

    The query is document ``probe_id``: its embedding drives the
    semantic leg and the fixed ``query_terms`` drive the lexical leg;
    the probe document itself is excluded from BOTH corpora (it is the
    query, not a candidate), so the lexical corpus statistics (N, avgdl,
    df) are computed over the remaining documents and mirrored
    identically by the oracle.

    * Lexical leg: ``text.bm25_search`` over the probe-excluded corpus —
      exact Q12 fixed-point Okapi scores, rank ties broken by doc_id.
    * Semantic leg: exact BIGINT dot products of the frozen
      ``floor(x * 10000)`` quantization (the Lloyd-family convention)
      against the probe vector, top-``top_k`` by (dot desc, vec_id).
    * Fusion: ``rrf_q9 = Σ_legs RRF_SCALE DIV (k0 + rank_leg)`` over the
      legs that retrieved the document (the standard RRF treatment of
      missing ranks), with ``RRF_SCALE DIV x`` the positive-operand
      truncating division Spark ``DIV`` and DuckDB ``//`` share. A
      document in both top-k lists always outranks same-rank singles —
      the property that makes RRF robust to either leg's score scale.

    Shape at 100 TB: each leg is its own proven-scalable pipeline (one
    corpus explode + query-sized aggregates; quantized dot against ONE
    broadcast probe row). The fusion itself joins two ≤ top_k row lists
    — driver-sized by construction — and every window in this function
    runs over ≤ 2·top_k rows. Missing-leg ranks surface as 0 (not NULL)
    so downstream consumers and the value-hash compare see a total,
    NULL-free table.
    """
    from inf_553_datamining_mapreduce_spark.operators.text import bm25_search

    corpus = documents.filter(F.col("doc_id") != probe_id)
    lex = bm25_search(corpus, query_terms, top_k=top_k).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )

    q = _kmeans_quantized(embeddings)
    probe = q.filter(F.col("vec_id") == probe_id).select(
        F.col("q").alias("pq")
    )
    dots = (
        q.filter(F.col("vec_id") != probe_id)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with("q", "pq", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dot"),
        )
    )
    sem_top = dots.orderBy(F.desc("dot"), "vec_id").limit(top_k)
    w_sem = Window.orderBy(F.desc("dot"), "vec_id")
    sem = sem_top.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(w_sem).alias("sem_rank"),
    )

    rrf = F.when(
        F.col("lex_rank").isNotNull(),
        F.expr(f"{RRF_SCALE}L DIV ({k0} + lex_rank)"),
    ).otherwise(F.lit(0).cast("long")) + F.when(
        F.col("sem_rank").isNotNull(),
        F.expr(f"{RRF_SCALE}L DIV ({k0} + sem_rank)"),
    ).otherwise(F.lit(0).cast("long"))
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
        F.coalesce("sem_rank", F.lit(0)).alias("sem_rank"),
        rrf.alias("rrf_q9"),
    )
    w_out = Window.orderBy(F.desc("rrf_q9"), "doc_id")
    return fused.select(
        F.row_number().over(w_out).alias("rank"),
        "doc_id",
        "lex_rank",
        "sem_rank",
        "rrf_q9",
    ).orderBy("rank")
