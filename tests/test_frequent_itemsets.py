"""SON / FPGrowth frequent-itemset tests: brute-force subset-count oracle,
cross-algorithm agreement, kernel unit tests, and the reference's SON output
rendering contract (SON.scala:232-278)."""

from __future__ import annotations

import itertools
from collections import Counter

import pytest

from inf_553_datamining_mapreduce_spark.operators import frequent_itemsets as FI
from inf_553_datamining_mapreduce_spark.operators.frequent_itemsets import (
    apriori_local,
    frequent_itemsets_fpgrowth,
    son_frequent_itemsets,
)
from inf_553_datamining_mapreduce_spark.operators.relational import order_baskets
from inf_553_datamining_mapreduce_spark.sources.readers import read_parquet_table
from inf_553_datamining_mapreduce_spark.sources.sinks import (
    render_itemset,
    son_sort_key,
    write_frequent_itemsets,
)

SUPPORT = 3
# DRIVER_SON_ITEMS values that put every input on one side of the bound
# (Spark's limit takes a 32-bit int).
SIDES = {"driver": 2**31 - 1, "distributed": 0}


@pytest.fixture
def distributed_son(monkeypatch):
    """Pin SON to its distributed path, whatever the input's size."""
    monkeypatch.setattr(FI, "DRIVER_SON_ITEMS", SIDES["distributed"])


def _brute_force(baskets: list[frozenset[int]], support: int) -> dict[tuple, int]:
    cnt: Counter = Counter()
    for b in baskets:
        items = sorted(b)
        for k in range(1, len(items) + 1):
            for c in itertools.combinations(items, k):
                cnt[c] += 1
    return {c: v for c, v in cnt.items() if v >= support}


@pytest.fixture(scope="module")
def baskets_local(spark, sf_dir):
    li = read_parquet_table(spark, sf_dir, "lineitem")
    rows = order_baskets(li).collect()
    return [frozenset(int(x) for x in r["basket"]) for r in rows]


def test_apriori_local_matches_brute_force(baskets_local):
    expected = _brute_force(baskets_local, SUPPORT)
    got = set(apriori_local(baskets_local, SUPPORT))
    assert got == set(expected)


def _overlapping_triples(copies: int) -> tuple[list[frozenset[int]], dict]:
    """80 items: ``copies`` baskets of each triple {i, i+1, i+2}, plus one
    basket holding all 80. At support ``copies + 1`` the frequent itemsets
    are the items, the pairs at distance 1 and 2, and the 78 triples; the
    long basket alone supports every other itemset once."""
    triples = [frozenset(range(i, i + 3)) for i in range(78)]
    baskets = [t for t in triples for _ in range(copies)] + [frozenset(range(80))]

    def support(itemset):
        return copies * sum(t.issuperset(itemset) for t in triples) + 1

    expected = {(j,): support({j}) for j in range(80)}
    expected.update(
        {(j, j + d): support({j, j + d}) for d in (1, 2) for j in range(80 - d)}
    )
    expected.update({(i, i + 1, i + 2): copies + 1 for i in range(78)})
    return baskets, expected


def test_son_never_refuses_a_long_basket(spark, monkeypatch):
    """The long basket projects to 80 frequent items at level 4, C(80, 4)
    = 1,581,580 combinations: phase 1 generates that level's candidates
    from the frequent triples and subset-tests them instead of refusing."""
    baskets, expected = _overlapping_triples(copies=4)
    assert set(apriori_local(baskets, 5)) == set(expected)
    df = spark.createDataFrame(
        [(sorted(b),) for b in baskets], "basket array<bigint>"
    )
    for side, bound in SIDES.items():
        monkeypatch.setattr(FI, "DRIVER_SON_ITEMS", bound)
        result = son_frequent_itemsets(df, 5).collect()
        got = {tuple(r["itemset"]): r["support"] for r in result}
        assert got == expected, side


def test_son_matches_brute_force(spark, sf_dir, baskets_local, monkeypatch):
    """Both sides of ``DRIVER_SON_ITEMS`` return the brute-force rows under
    one schema."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    expected = _brute_force(baskets_local, SUPPORT)
    schemas = {}
    for side, bound in SIDES.items():
        monkeypatch.setattr(FI, "DRIVER_SON_ITEMS", bound)
        result = son_frequent_itemsets(order_baskets(li), SUPPORT)
        got = {tuple(r["itemset"]): r["support"] for r in result.collect()}
        assert got == expected, side
        schemas[side] = result.schema
    assert schemas["driver"] == schemas["distributed"]


def test_son_below_the_bound_runs_on_the_driver(spark, sf_dir, monkeypatch):
    """Below ``DRIVER_SON_ITEMS`` SON plans no ``mapInPandas``, broadcasts
    nothing and persists nothing; its result plan holds no Python node."""
    from pyspark.sql import DataFrame

    monkeypatch.setattr(FI, "DRIVER_SON_ITEMS", SIDES["driver"])
    sc = spark.sparkContext
    calls = []
    for owner, name in ((DataFrame, "mapInPandas"), (DataFrame, "persist"), (sc, "broadcast")):
        original = getattr(owner, name)

        def record(*args, _name=name, _original=original, **kwargs):
            calls.append(_name)
            return _original(*args, **kwargs)

        monkeypatch.setattr(owner, name, record)
    li = read_parquet_table(spark, sf_dir, "lineitem")
    result = son_frequent_itemsets(order_baskets(li), SUPPORT)
    assert result.count() > 0
    assert calls == []
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan, plan


def test_fpgrowth_agrees_with_son(spark, sf_dir, baskets_local):
    li = read_parquet_table(spark, sf_dir, "lineitem")
    fp = frequent_itemsets_fpgrowth(order_baskets(li), SUPPORT).collect()
    got = {tuple(r["itemset"]): r["support"] for r in fp}
    assert got == _brute_force(baskets_local, SUPPORT)


def test_son_custom_partitioning_is_exact(spark, sf_dir, baskets_local, distributed_son):
    """SON must return the same set under any partitioning (float-threshold
    completeness; module docstring)."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    result = son_frequent_itemsets(order_baskets(li), SUPPORT, num_partitions=7).collect()
    got = {tuple(r["itemset"]): r["support"] for r in result}
    assert got == _brute_force(baskets_local, SUPPORT)


def test_son_partition_without_frequent_itemsets_is_empty(spark, distributed_son):
    """A partition holding baskets but no locally frequent itemset yields no
    phase-1 frame (an empty one cannot convert to array<bigint>)."""
    baskets = spark.createDataFrame(
        [([i],) for i in range(6)], "basket array<bigint>"
    )
    assert son_frequent_itemsets(baskets, 2, num_partitions=1).collect() == []


def test_son_on_the_driver_without_frequent_itemsets_is_empty(spark):
    """The driver path's empty result keeps the schema of a non-empty one,
    for baskets with no frequent itemset and for no baskets at all."""
    frequent = son_frequent_itemsets(
        spark.createDataFrame([([1],), ([1],)], "basket array<bigint>"), 2
    )
    assert [tuple(r) for r in frequent.collect()] == [([1], 2)]
    for rows in ([([i],) for i in range(6)], []):
        baskets = spark.createDataFrame(rows, "basket array<bigint>")
        result = son_frequent_itemsets(baskets, 2)
        assert result.collect() == []
        assert result.schema == frequent.schema


def test_son_releases_its_candidate_broadcast(spark, monkeypatch, distributed_son):
    """Phase 2's candidate broadcast is unpersisted once the result's
    checkpoint has materialized; the result stays readable."""
    from pyspark import Broadcast

    sc = spark.sparkContext
    made, released = [], []
    broadcast, unpersist = sc.broadcast, Broadcast.unpersist

    def capture(value):
        made.append(broadcast(value))
        return made[-1]

    def record(self, blocking=False):
        released.append(self)
        unpersist(self, blocking)

    monkeypatch.setattr(sc, "broadcast", capture)
    monkeypatch.setattr(Broadcast, "unpersist", record)
    baskets = spark.createDataFrame(
        [([1, 2],), ([1, 2],), ([2, 3],)], "basket array<bigint>"
    )
    result = son_frequent_itemsets(baskets, 2, num_partitions=1)
    assert made and all(any(b is r for r in released) for b in made)
    got = {tuple(r["itemset"]): r["support"] for r in result.collect()}
    assert got == {(1,): 2, (2,): 3, (1, 2): 2}


def test_son_output_rendering_contract(tmp_path):
    """Reference contract: sizes ascending one line each; itemsets rendered
    '(a, b)' joined by ', '; within a line shorter-first then element-wise
    (SON.scala:232-278)."""
    itemsets = [(3,), (1,), (2, 5), (1, 2), (10,), (1, 2, 3)]
    assert render_itemset((1, 2, 3)) == "(1, 2, 3)"
    assert sorted([(2, 5), (1, 2)], key=son_sort_key) == [(1, 2), (2, 5)]
    out = tmp_path / "son.txt"
    write_frequent_itemsets(itemsets, str(out))
    lines = out.read_text().splitlines()
    assert lines == [
        "(1), (3), (10)",
        "(1, 2), (2, 5)",
        "(1, 2, 3)",
    ]


def test_son_sink_reproduces_reference_golden_bytes(tmp_path):
    """The reference's COMMITTED SON outputs (case 1 at support 1200,
    case 2 at 600 — real runs on the absent ratings.dat) parsed back to
    itemsets and re-rendered through our sink must reproduce the files
    byte-for-byte: proves the size-grouped line structure, the custom
    sortOutput order, and the "(a, b)" rendering on ~300 real itemsets,
    not just synthetic fixtures. (The VALUES can't be recomputed — the
    input is missing from the snapshot — but the S5/O4/O6/F10 contracts
    can be proven on all of them.)"""
    from inf_553_datamining_mapreduce_spark.sources.sinks import (
        write_frequent_itemsets,
    )

    ref = "/root/reference/2-Market Basket Analysis/OutputFiles"
    for fn in ("SON.case1_1200.txt", "SON.case2_600.txt"):
        golden = open(f"{ref}/{fn}").read()
        itemsets = []
        for line in golden.splitlines():
            line = line.strip()
            if not line:
                continue
            for part in line[1:-1].split("), ("):
                itemsets.append(tuple(int(x) for x in part.split(", ")))
        out = tmp_path / fn
        write_frequent_itemsets(itemsets, str(out))
        assert out.read_text().rstrip("\n") == golden.rstrip("\n"), fn
