"""Frequent-itemset mining: the SON two-phase distributed algorithm with a
per-partition A-priori kernel, plus a fully-distributed FPGrowth path.

Reference: ``2-Market Basket Analysis/Solutions/SON.scala`` —
  * baskets via ``groupByKey`` (``SON.scala:60``)
  * phase 1: ``mapPartitions(apriori)`` with partition-scaled threshold
    (``SON.scala:62-64,218``; kernel ``SON.scala:168-206``)
  * candidate generation with monotonicity pruning (``SON.scala:77-108``)
  * phase 2: global candidate counting + support filter
    (``SON.scala:260-263``)

Spark-first shape: baskets stay a DataFrame with an array column end-to-end;
phase 1 is an Arrow-batched ``mapInPandas`` kernel (the one genuinely
imperative part); phase 2 does per-partition partial counting (map-side
combine) inside the same kernel, then one ``groupBy(itemset)`` final
aggregation. The candidate set is the only driver-side object and is gated
by an explicit size cap.

Correctness note: the per-partition threshold is the REAL-VALUED
``support / num_partitions`` compared with ``>=`` — by pigeonhole this makes
phase-1 candidates a strict superset of the global frequent set for ANY
partitioning (if every partition count were < s/p the total would be < s).
The reference's integer division (``SON.scala:62-64``) can miss candidates
on skewed partitions; the float rule cannot, so the engine's result is exact
rather than exact-in-expectation (SURVEY.md §4.1 caveat).

Scale: the SON candidate list must fit on the driver/broadcast (same
constraint as the reference's closure capture, ``SON.scala:219``). Where
that bound breaks (low support over huge cardinality),
``frequent_itemsets_fpgrowth`` is the fully-distributed alternative with
identical result semantics.
"""

from __future__ import annotations

import itertools
import math
from collections import Counter
from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

# Safety gates: refuse unbounded driver-side candidate sets / per-basket blowup.
MAX_CANDIDATES = 5_000_000
MAX_COMBOS_PER_BASKET = 1_000_000

_ITEMSET_SCHEMA = StructType([StructField("itemset", ArrayType(LongType()), False)])
_PARTIAL_SCHEMA = StructType(
    [
        StructField("itemset", ArrayType(LongType()), False),
        StructField("cnt", LongType(), False),
    ]
)


def apriori_local(
    baskets: list[frozenset[int]], threshold: float
) -> list[tuple[int, ...]]:
    """Level-wise A-priori over an in-memory basket chunk.

    Mirrors the reference kernel's semantics (``SON.scala:168-206``) but
    counts by enumerating each basket's k-combinations over the still-
    frequent item projection instead of testing every generated candidate
    against every basket — equivalent frequent set (any combination reaching
    the threshold has all subsets at/above it), far cheaper for the
    short-basket regime, and it never materializes the cross product of
    frequent (k-1)-itemsets. Monotonicity pruning (``SON.scala:93-106``) is
    applied per distinct combination via a memo.
    """
    counts: Counter = Counter()
    for b in baskets:
        counts.update(b)
    current: set[tuple[int, ...]] = {
        (item,) for item, c in counts.items() if c >= threshold
    }
    found: list[tuple[int, ...]] = sorted(current)
    k = 1
    while current:
        k += 1
        freq_items = {i for t in current for i in t}
        memo: dict[tuple[int, ...], bool] = {}
        ccounts: Counter = Counter()
        for b in baskets:
            proj = sorted(i for i in b if i in freq_items)
            if len(proj) < k:
                continue
            if math.comb(len(proj), k) > MAX_COMBOS_PER_BASKET:
                raise ValueError(
                    f"basket projects to {len(proj)} frequent items at level {k}; "
                    "combination counting would explode — use "
                    "frequent_itemsets_fpgrowth for this workload"
                )
            for c in itertools.combinations(proj, k):
                ok = memo.get(c)
                if ok is None:
                    ok = all(
                        c[:m] + c[m + 1 :] in current for m in range(k)
                    )
                    memo[c] = ok
                if ok:
                    ccounts[c] += 1
        current = {c for c, v in ccounts.items() if v >= threshold}
        found.extend(sorted(current))
    return found


def _iter_baskets(pdfs: Iterable[pd.DataFrame], col: str) -> Iterator[frozenset[int]]:
    for pdf in pdfs:
        for b in pdf[col]:
            yield frozenset(int(x) for x in b)


def count_candidates_in_basket(
    basket: frozenset[int], by_size: dict[int, set[tuple[int, ...]]]
) -> Iterator[tuple[int, ...]]:
    """Which candidates does this basket contain? (reference ``findSet``,
    ``SON.scala:111-144``). Per size k, picks the cheaper of enumerating the
    basket's k-combinations vs subset-testing each candidate."""
    items = sorted(basket)
    for k, cands in by_size.items():
        if len(items) < k:
            continue
        n_combos = math.comb(len(items), k)
        if n_combos <= 4 * len(cands):
            for c in itertools.combinations(items, k):
                if c in cands:
                    yield c
        else:
            for c in cands:
                if basket.issuperset(c):
                    yield c


def son_frequent_itemsets(
    baskets: DataFrame,
    support: int,
    basket_col: str = "basket",
    num_partitions: int | None = None,
) -> DataFrame:
    """SON: distributed frequent itemsets at absolute ``support``.

    Returns ``(itemset: array<long> sorted asc, support: long)``.

    ``num_partitions`` defaults to ``min(32, max(1, int(support / 1.5)))``
    so the per-partition threshold stays >= 1.5 — below 1, "locally
    frequent" approaches "every subset present" and phase 1 degenerates to
    exhaustive subset counting. Any value is CORRECT (see module
    docstring); this only tunes candidate volume vs parallelism.
    """
    from inf_553_datamining_mapreduce_spark.deploy import ensure_worker_imports

    ensure_worker_imports(baskets.sparkSession)
    if num_partitions is None:
        num_partitions = min(32, max(1, int(support / 1.5)))
    spark = baskets.sparkSession
    b = baskets.select(F.col(basket_col).cast(ArrayType(LongType())).alias(basket_col))
    # Persisted: the basket build (upstream joins + collect_set shuffle) is
    # consumed by BOTH phases; without caching it would evaluate twice. The
    # cache is released in the finally block — both phases run eagerly inside
    # this function (phase 1 collects; phase 2 is localCheckpoint'ed), so
    # repeated calls in one session don't accumulate cached partitions.
    b = b.repartition(num_partitions).persist()
    threshold = support / num_partitions
    try:
        def phase1(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            chunk = list(_iter_baskets(pdfs, basket_col))
            if not chunk:
                return
            frequent = apriori_local(chunk, threshold)
            # No locally frequent itemset: yield nothing. An empty list
            # column is float64, which Arrow cannot convert to array<bigint>.
            if frequent:
                yield pd.DataFrame({"itemset": [list(t) for t in frequent]})

        candidates_df = b.mapInPandas(phase1, _ITEMSET_SCHEMA).distinct()
        candidates = [
            tuple(int(x) for x in row["itemset"]) for row in candidates_df.collect()
        ]
        if len(candidates) > MAX_CANDIDATES:
            raise ValueError(
                f"SON phase-1 produced {len(candidates)} candidates (> {MAX_CANDIDATES}); "
                "raise support or use frequent_itemsets_fpgrowth"
            )
        if not candidates:
            return spark.createDataFrame(
                [], schema="itemset array<bigint>, support bigint"
            )

        by_size: dict[int, set[tuple[int, ...]]] = {}
        for c in candidates:
            by_size.setdefault(len(c), set()).add(c)
        bc = spark.sparkContext.broadcast(by_size)

        def phase2(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cand_by_size = bc.value
            partial: Counter = Counter()
            for basket in _iter_baskets(pdfs, basket_col):
                for c in count_candidates_in_basket(basket, cand_by_size):
                    partial[c] += 1
            if partial:
                yield pd.DataFrame(
                    {
                        "itemset": [list(c) for c in partial],
                        "cnt": list(partial.values()),
                    }
                )

        result = (
            b.mapInPandas(phase2, _PARTIAL_SCHEMA)
            .groupBy("itemset")
            .agg(F.sum("cnt").alias("support"))
            .filter(F.col("support") >= support)
        )
        # Materialize now (result size <= candidate gate, small) so the
        # basket cache and the candidate broadcast can be dropped before
        # returning; localCheckpoint also cuts lineage so downstream
        # actions never re-run the phases.
        out = result.localCheckpoint(eager=True)
        bc.unpersist()
        return out
    finally:
        b.unpersist()


def frequent_itemsets_fpgrowth(
    baskets: DataFrame,
    support: int,
    basket_col: str = "basket",
    num_groups: int | None = None,
) -> DataFrame:
    """Fully-distributed frequent itemsets via ``pyspark.ml.fpm.FPGrowth`` —
    same result set as SON at the same absolute support (SURVEY.md §4.1).

    FPGrowth takes a relative minSupport; pass a value strictly between
    (support-1)/n and support/n so floating-point rounding can't shift the
    boundary, then enforce the absolute threshold exactly on the output.

    ``num_groups`` forwards to parallel FP-growth's ``numPartitions`` (the
    number of item groups mined independently): per-task memory is one
    group's conditional trees, so MORE groups = smaller working set per
    task and better mining-stage balance — the result set is identical
    for any value. Default (None) targets ~4k baskets per group,
    floored at ``defaultParallelism`` (full parallelism) and capped at
    ``8 × defaultParallelism`` (bounded group-scheduling overhead),
    rather than the library's input-partition-count behavior: measured
    at sf1 (1.47M baskets) the library default mined in 113.8 s where
    256 groups took 31.3 s (identical 200k itemsets), while at sf0.1
    (147k baskets) a flat 256 costs ~1.5 s over ~cores-many groups
    (fresh-session pairs: 6.6/7.3 s at 32 vs 9.0/7.9 s at 256) — group
    count must scale with DATA until the cores-headroom cap, not jump
    straight to the cap.
    """
    from pyspark.ml.fpm import FPGrowth

    # The basket build (joins + collect_set shuffle) is scanned by the
    # support count AND by the FPGrowth fit; persist across both, release
    # after the (small, gate-bounded) result is materialized.
    b = baskets.select(basket_col).persist()
    try:
        n = b.count()
        if n == 0:
            # FPGrowth rejects minSupport > 1, which the relative formula
            # produces for an empty corpus — the answer is simply empty.
            return baskets.sparkSession.createDataFrame(
                [], "itemset array<bigint>, support bigint"
            )
        fp_min = min(max((support - 0.5) / n, 1e-12), 1.0)
        if num_groups is None:
            p = b.sparkSession.sparkContext.defaultParallelism
            num_groups = max(p, min(8 * p, n // 4096))
        fp = FPGrowth(
            itemsCol=basket_col, minSupport=fp_min, minConfidence=0.5
        ).setNumPartitions(num_groups)
        model = fp.fit(b)
        result = model.freqItemsets.select(
            F.sort_array(F.col("items")).cast(ArrayType(LongType())).alias("itemset"),
            F.col("freq").alias("support"),
        ).filter(F.col("support") >= support)
        return result.localCheckpoint(eager=True)
    finally:
        b.unpersist()


def rendered(itemsets: DataFrame) -> DataFrame:
    """Canonical string form for oracle comparison / sinks:
    ``(itemset_str, size, support)`` with items comma-joined ascending."""
    return itemsets.select(
        F.array_join(F.col("itemset"), ",").alias("itemset_str"),
        F.size("itemset").alias("size"),
        F.col("support"),
    ).orderBy("size", "itemset_str")
