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

Small inputs run on the driver: below ``DRIVER_SON_ITEMS`` item
occurrences the baskets come back in one collect and SON runs
with one partition, the same two kernels (``apriori_local`` at the full
support, then ``count_candidates_in_basket``) with no Python worker. SON
with one partition is A-priori followed by one counting pass, and extra
serial slices would only add candidates.

Phase 1 never refuses: at a level where a basket holds too many
k-combinations to enumerate, ``apriori_local`` generates that level's
candidates from the frequent (k-1)-itemsets, as the reference does, and
subset-tests them.

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

# Safety gate: refuse an unbounded driver-side candidate set.
MAX_CANDIDATES = 5_000_000
# A-priori level at which some basket projects to more k-combinations than
# this generates the level's candidates from the frequent (k-1)-itemsets,
# and such baskets subset-test them instead of enumerating.
MAX_COMBOS_PER_BASKET = 1_000_000
# Item occurrences, sum of |basket|, below which SON runs with one
# partition on the driver: the whole input is about one Python task's work.
# Measured at support 3 on a 4-core host (local[4], 3 warm runs each): the
# sf0.01 order baskets (14,743 baskets, 59,945 items) took 0.76-0.98 s on
# the driver, count and collect included, against 1.04-1.13 s distributed
# over warm workers and 3.0 s over cold ones. The sf0.1 baskets (147,236
# baskets, 599,935 items) took 4.8-6.1 s on the driver against 2.9-3.9 s
# distributed, so they stay distributed; the aggregate job that decides it
# costs them 0.07 s.
DRIVER_SON_ITEMS = 200_000

_ITEMSET_SCHEMA = StructType([StructField("itemset", ArrayType(LongType()), False)])
_PARTIAL_SCHEMA = StructType(
    [
        StructField("itemset", ArrayType(LongType()), False),
        StructField("cnt", LongType(), False),
    ]
)
# The distributed path's result schema; driver-built results use it too.
_RESULT_SCHEMA = StructType(
    [
        StructField("itemset", ArrayType(LongType()), False),
        StructField("support", LongType(), True),
    ]
)


def _generate_candidates(
    frequent: set[tuple[int, ...]], k: int
) -> set[tuple[int, ...]]:
    """A-priori candidate generation (``SON.scala:77-108``): join the
    frequent (k-1)-itemsets that share their first k-2 items, and keep a
    join only if every (k-1)-subset is frequent."""
    by_prefix: dict[tuple[int, ...], list[int]] = {}
    for t in sorted(frequent):
        by_prefix.setdefault(t[:-1], []).append(t[-1])
    out: set[tuple[int, ...]] = set()
    for prefix, lasts in by_prefix.items():
        for i, a in enumerate(lasts):
            for b in lasts[i + 1 :]:
                c = (*prefix, a, b)
                # dropping a or b leaves a joined itemset: test the others
                if all(c[:m] + c[m + 1 :] in frequent for m in range(k - 2)):
                    out.add(c)
    return out


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

    A level where some basket projects to more than
    ``MAX_COMBOS_PER_BASKET`` k-combinations generates its candidates
    from the frequent (k-1)-itemsets instead, and counts them with
    :func:`count_candidates_in_basket`'s per-basket choice: long baskets
    subset-test the candidates, as the reference does
    (``SON.scala:93-144``), so no input is refused.
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
        projs = [
            proj
            for b in baskets
            if len(proj := sorted(i for i in b if i in freq_items)) >= k
        ]
        ccounts: Counter = Counter()
        if any(math.comb(len(p), k) > MAX_COMBOS_PER_BASKET for p in projs):
            by_size = {k: _generate_candidates(current, k)}
            for proj in projs:
                ccounts.update(count_candidates_in_basket(frozenset(proj), by_size))
        else:
            memo: dict[tuple[int, ...], bool] = {}
            for proj in projs:
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


def _by_size(candidates: Iterable[tuple[int, ...]]) -> dict[int, set[tuple[int, ...]]]:
    by_size: dict[int, set[tuple[int, ...]]] = {}
    for c in candidates:
        by_size.setdefault(len(c), set()).add(c)
    return by_size


def _itemsets_frame(spark, supports: dict[tuple[int, ...], int]) -> DataFrame:
    """``(itemset, support)`` rows built on the driver, through an Arrow
    table, ordered by size then items. An empty ``createDataFrame(list)``
    would still run a Python stage; an Arrow table runs none."""
    import pyarrow as pa

    ordered = sorted(supports, key=lambda c: (len(c), c))
    table = pa.table(
        {
            "itemset": pa.array([list(c) for c in ordered], pa.list_(pa.int64())),
            "support": pa.array([supports[c] for c in ordered], pa.int64()),
        }
    )
    return spark.createDataFrame(table, _RESULT_SCHEMA)


def _driver_baskets(baskets: DataFrame, basket_col: str) -> list[frozenset[int]] | None:
    """The baskets, collected through Arrow, if their item occurrences
    number fewer than ``DRIVER_SON_ITEMS``; else None. The occurrences are
    counted by one aggregate job first, so an input at or above the bound
    is never collected."""
    col = F.col(basket_col).cast(ArrayType(LongType()))
    items = baskets.select(F.sum(F.size(col))).first()[0] or 0
    if items >= DRIVER_SON_ITEMS:
        return None
    # Small by now: one task reads it all.
    table = baskets.select(col).coalesce(1).toArrow()
    return [frozenset(b) for b in table.column(0).to_pylist()]


def son_frequent_itemsets(
    baskets: DataFrame,
    support: int,
    basket_col: str = "basket",
    num_partitions: int | None = None,
) -> DataFrame:
    """SON: distributed frequent itemsets at absolute ``support``.

    Returns ``(itemset: array<long> sorted asc, support: long)``.

    Where it runs is decided by the input's item occurrences, sum of
    |basket|, counted by one aggregate job. Below ``DRIVER_SON_ITEMS``
    the driver runs SON with one partition over the collected baskets:
    phase 1 is ``apriori_local`` at the full support and phase 2 counts
    its itemsets with ``count_candidates_in_basket``; no Python worker,
    broadcast or persist is involved, and ``num_partitions`` does not
    apply. SON is exact under any partitioning (module docstring), so the
    rows are those of the distributed path, ordered by size then items.

    At or above the bound, ``num_partitions`` defaults to
    ``min(32, max(1, int(support / 1.5)))`` so the per-partition threshold
    stays >= 1.5 — below 1, "locally frequent" approaches "every subset
    present" and phase 1 degenerates to exhaustive subset counting. Any
    value is CORRECT (see module docstring); this only tunes candidate
    volume vs parallelism.
    """
    spark = baskets.sparkSession
    local = _driver_baskets(baskets, basket_col)
    if local is not None:
        by_size = _by_size(apriori_local(local, support))
        counts: Counter = Counter()
        for basket in local:
            counts.update(count_candidates_in_basket(basket, by_size))
        return _itemsets_frame(
            spark, {c: v for c, v in counts.items() if v >= support}
        )

    from inf_553_datamining_mapreduce_spark.deploy import ensure_worker_imports

    ensure_worker_imports(spark)
    if num_partitions is None:
        num_partitions = min(32, max(1, int(support / 1.5)))
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
            return _itemsets_frame(spark, {})

        bc = spark.sparkContext.broadcast(_by_size(candidates))

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
