"""Extension-surface tests: near-dup detectors on planted duplicates, LSH
recall vs the exact baseline, multimodal plumbing, winnowing fingerprints,
and Structured Streaming twins validated against their batch goldens."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from inf_553_datamining_mapreduce_spark.operators.dedup import (
    exact_duplicates,
    jaccard_near_duplicates,
    minhash_lsh_near_duplicates,
    simhash_near_duplicates,
)
from inf_553_datamining_mapreduce_spark.operators.multimodal import (
    extract_features,
    fake_features,
    sample_frames,
)
from inf_553_datamining_mapreduce_spark.operators.similarity import (
    brute_force_top_k,
    lsh_top_k,
)
from inf_553_datamining_mapreduce_spark.operators.text import winnow_fingerprint
from inf_553_datamining_mapreduce_spark.sources.readers import read_parquet_table
from inf_553_datamining_mapreduce_spark.schemas import TESTDATA_SCHEMAS
from inf_553_datamining_mapreduce_spark.streaming.windows import (
    read_events_stream,
    session_stats,
    streaming_session_stats,
    streaming_tumbling_window_stats,
    tumbling_window_stats,
)


@pytest.fixture(scope="module")
def planted_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base),  # exact dup of 1
        Row(doc_id=3, text=base.replace("dog", "cat")),  # near dup of 1
        Row(doc_id=4, text="completely different content about spark engines"),
        Row(doc_id=5, text="another unrelated document with its own words"),
    ]
    return spark.createDataFrame(rows)


def test_exact_duplicates_planted(planted_docs):
    groups = exact_duplicates(planted_docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["keep_doc_id"] == 1


def test_jaccard_and_minhash_agree_on_planted(planted_docs):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_near_duplicates(planted_docs, min_jaccard=0.5).collect()
    }
    assert (1, 2) in exact and (1, 3) in exact
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_near_duplicates(
            planted_docs, num_hashes=32, bands=16, min_jaccard=0.5
        ).collect()
    }
    # LSH output is exact-verified, so it is a subset; with 16 bands of 2
    # rows, recall at jaccard >= 0.5 is ~1 - (1-0.25)^16 > 0.98.
    assert lsh <= exact
    assert (1, 2) in lsh and (1, 3) in lsh


def test_label_centroids_hand_computed(spark):
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        label_centroids,
    )

    df = spark.createDataFrame(
        [
            Row(label=0, embedding=[1.0, 2.0]),
            Row(label=0, embedding=[3.0, 4.0]),
            Row(label=1, embedding=[10.0, 0.0]),
        ]
    )
    rows = {
        (r["label"], r["dim"]): (r["n_vectors"], r["centroid"])
        for r in label_centroids(df).collect()
    }
    assert rows == {
        (0, 0): (2, 2.0),
        (0, 1): (2, 3.0),
        (1, 0): (1, 10.0),
        (1, 1): (1, 0.0),
    }


def test_winnow_fingerprints_df_identity_and_locality(planted_docs):
    from inf_553_datamining_mapreduce_spark.operators.text import (
        winnow_fingerprints_df,
    )

    fps: dict[int, set[int]] = {}
    for r in winnow_fingerprints_df(planted_docs, k=5, window=4).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    # Identical docs -> identical fingerprint sets.
    assert fps[1] == fps[2]
    # One-word edit (doc 3) keeps local fingerprints (winnowing's point) —
    # on this 13-token fixture the edit touches 5 of 9 k-grams, so only the
    # prefix region's fingerprint is guaranteed to survive.
    assert len(fps[1] & fps[3]) / len(fps[1]) >= 0.3
    # Unrelated doc shares nothing.
    assert not (fps[1] & fps[4])


def test_winnow_fingerprints_df_matches_python_reference(spark):
    """The distributed winnowing kernel vs an independent pure-Python
    reimplementation of its spec, over a batch of seeded random docs."""
    import random

    from inf_553_datamining_mapreduce_spark.operators.text import (
        KGRAM_HASH_BASE,
        ROLLING_HASH_BASE,
        ROLLING_HASH_MOD,
        winnow_fingerprints_df,
    )

    def py_winnow(text: str, k: int = 5, window: int = 4) -> set[int]:
        toks = text.split(" ")
        th = []
        for t in toks:
            h = 0
            for ch in t:
                h = (h * ROLLING_HASH_BASE + ord(ch)) % ROLLING_HASH_MOD
            th.append(h)
        if len(th) < k:
            return set()
        hs = []
        for i in range(len(th) - k + 1):
            g = 0
            for h in th[i : i + k]:
                g = (g * KGRAM_HASH_BASE + h) % ROLLING_HASH_MOD
            hs.append(g)
        return {
            min(hs[j : j + window])
            for j in range(max(1, len(hs) - window + 1))
        }

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "x1", "q", "longword" * 3, ""]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got: dict[int, set[int]] = {}
    for r in winnow_fingerprints_df(df).collect():
        got.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    for doc_id, text in docs:
        assert got.get(doc_id, set()) == py_winnow(text), (doc_id, text)


def test_near_duplicate_clusters_invariants(spark, sf_dir):
    from inf_553_datamining_mapreduce_spark.operators.dedup import (
        near_duplicate_clusters,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    rows = near_duplicate_clusters(d).collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert by_cluster, "expected planted near-dups in the synthetic corpus"
    for cid, members in by_cluster.items():
        # Exactly one kept representative per cluster: its smallest doc_id.
        keeps = [m["doc_id"] for m in members if m["keep"]]
        assert keeps == [cid]
        assert min(m["doc_id"] for m in members) == cid
        assert len(members) >= 2  # singletons are omitted by contract


def test_pagerank_mass_and_floor_invariants(spark, sf_dir):
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        PAGERANK_SCALE,
        cooccurrence_edges,
        pagerank,
    )

    li = read_parquet_table(spark, sf_dir, "lineitem")
    o = read_parquet_table(spark, sf_dir, "orders")
    cp = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
    )
    ranks = [r["rank_fp"] for r in pagerank(cooccurrence_edges(cp, "c", "p", 4)).collect()]
    n = len(ranks)
    base = 15 * PAGERANK_SCALE // 100
    assert all(r >= base for r in ranks)  # teleport floor
    # Truncating division only loses mass: total stays within (base*N, N].
    assert base * n < sum(ranks) <= PAGERANK_SCALE * n


def test_benchmark_contamination_planted(spark):
    from inf_553_datamining_mapreduce_spark.operators.dedup import (
        benchmark_contamination,
    )

    ev = spark.createDataFrame(
        [Row(doc_id=100, text="the quick brown fox jumps over the lazy dog")]
    )
    tr = spark.createDataFrame(
        [
            # Full copy of the eval doc -> overlap_frac 1.0.
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            # Shares no 3-gram -> absent from the output.
            Row(doc_id=2, text="an entirely different sentence about engines"),
        ]
    )
    rows = benchmark_contamination(tr, ev, n=3, min_overlap=0.5).collect()
    assert [(r["train_doc_id"], r["eval_doc_id"], r["overlap_frac"]) for r in rows] == [
        (1, 100, 1.0)
    ]


def test_near_duplicate_clusters_transitive(planted_docs):
    from inf_553_datamining_mapreduce_spark.operators.dedup import (
        near_duplicate_clusters,
    )

    # 1~2 (exact) and 1~3 (near): even if 2~3 fell below threshold the
    # cluster must still be {1,2,3} by transitivity, keeping only doc 1.
    rows = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in near_duplicate_clusters(planted_docs, min_jaccard=0.5).collect()
    }
    assert rows == {1: (1, True), 2: (1, False), 3: (1, False)}


def test_simhash_flags_identical_docs(planted_docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_duplicates(planted_docs, max_hamming=3).collect()
    }
    assert pairs.get((1, 2)) == 0  # identical text -> identical signature


def test_lsh_topk_recall_vs_bruteforce(spark, sf_dir):
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_top_k(emb, queries, k=5).collect()
    # These embeddings are near-random (max pairwise cosine ~0.5), so true
    # neighbors sit barely above noise: short codes + many tables needed.
    approx = lsh_top_k(emb, queries, k=5, num_planes=3, num_tables=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hit = total = 0
    for r in approx:
        total += 1
        if r["neighbor_id"] in exact_sets.get(r["query_id"], set()):
            hit += 1
    assert total > 0
    assert hit / max(total, 1) >= 0.4  # recall floor for 6x6 config on 64-dim


def test_asof_join_semantics(spark):
    from datetime import datetime

    from inf_553_datamining_mapreduce_spark.operators.relational import asof_join

    def ts(s):
        return datetime(2024, 1, 1, 0, 0, s)

    left = spark.createDataFrame(
        [(1, 100, ts(10)), (1, 101, ts(20)), (2, 102, ts(5))],
        "user_id long, click_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, 900, ts(10), 1.0), (1, 901, ts(15), 2.0), (3, 902, ts(1), 9.0)],
        "user_id long, view_id long, ts timestamp, value double",
    )
    strict = {
        r["click_id"]: r["right_view_id"]
        for r in asof_join(left, right, by="user_id", value_cols=("view_id",)).collect()
    }
    # strict <: click at ts=10 must NOT see the view at ts=10
    assert strict == {100: None, 101: 901, 102: None}
    nonstrict = {
        r["click_id"]: r["right_view_id"]
        for r in asof_join(
            left, right, by="user_id", value_cols=("view_id",), strict=False
        ).collect()
    }
    assert nonstrict == {100: 900, 101: 901, 102: None}


def test_multimodal_feature_plumbing(spark):
    rows = [
        Row(asset_id=1, media_type="image", payload=b"\x89PNG fake bytes"),
        Row(asset_id=2, media_type="video", payload=b"\x00\x01" * 3000),
        Row(asset_id=3, media_type="audio", payload=None),
    ]
    df = spark.createDataFrame(rows)
    feats = {r["asset_id"]: r for r in extract_features(df).collect()}
    assert feats[1]["features"] == fake_features(b"\x89PNG fake bytes")
    assert feats[2]["payload_bytes"] == 6000
    assert feats[3]["payload_bytes"] == 0  # null payload -> empty, not crash
    frames = sample_frames(df, every_n_bytes=1024, max_frames=8).collect()
    assert {r["asset_id"] for r in frames} == {2}
    assert sorted(r["frame_index"] for r in frames) == [0, 1, 2, 3, 4]


def test_winnow_fingerprint_locality():
    a = winnow_fingerprint("the quick brown fox jumps over the lazy dog " * 3)
    b = winnow_fingerprint("the quick brown fox jumps over the lazy cat " * 3)
    c = winnow_fingerprint("completely different words everywhere in this text " * 3)
    assert a and b and c
    overlap_ab = len(set(a) & set(b)) / len(set(a) | set(b))
    overlap_ac = len(set(a) & set(c)) / len(set(a) | set(c))
    assert overlap_ab > overlap_ac


def _staged_events_dir(sf_dir, tmp_path):
    import shutil

    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-0.parquet")
    return str(d)


def test_streaming_tumbling_matches_batch(spark, sf_dir, tmp_path):
    events = read_parquet_table(spark, sf_dir, "events")
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_window_stats(events).collect()
    }
    events_dir = _staged_events_dir(sf_dir, tmp_path)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = read_events_stream(spark, events_dir, raw_schema)
    q = (
        streaming_tumbling_window_stats(stream)
        .writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    assert got == batch


def test_session_funnel_ordering_semantics(spark):
    from datetime import datetime

    from inf_553_datamining_mapreduce_spark.streaming.windows import session_funnel

    def ev(eid, uid, etype, sec):
        return (eid, uid, etype, datetime(2024, 1, 1, 12, 0, sec), 1.0)

    rows = [
        # user 1: view -> click -> purchase in order => depth 3
        ev(1, 1, "view", 0), ev(2, 1, "click", 10), ev(3, 1, "purchase", 20),
        # user 2: purchase BEFORE the first view => purchase doesn't count
        ev(4, 2, "purchase", 0), ev(5, 2, "view", 10), ev(6, 2, "click", 20),
        # user 3: click only, no view => depth 0
        ev(7, 3, "click", 5),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )
    got = {
        r["user_id"]: (r["reached_view"], r["reached_click"], r["reached_purchase"], r["funnel_depth"])
        for r in session_funnel(df).collect()
    }
    assert got == {
        1: (True, True, True, 3),
        2: (True, True, False, 2),
        3: (False, False, False, 0),
    }


def test_streaming_interval_join_matches_batch(spark, sf_dir, tmp_path):
    from inf_553_datamining_mapreduce_spark.streaming.windows import (
        streaming_errors_near_purchases,
    )

    events = read_parquet_table(spark, sf_dir, "events")
    # Batch golden with the IDENTICAL raw-timestamp interval predicate the
    # stream-stream join runs (the oracled errors_near_purchases query uses
    # second-floored epochs — a different, coarser contract).
    e = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_event_id"),
        "user_id",
        F.col("ts").alias("err_ts"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    )
    batch = {
        (r["error_event_id"], r["purchase_event_id"])
        for r in e.join(
            p,
            F.expr(
                "user_id = p_user_id AND p_ts BETWEEN "
                "err_ts - INTERVAL 600 SECONDS AND err_ts + INTERVAL 600 SECONDS"
            ),
        ).collect()
    }
    events_dir = _staged_events_dir(sf_dir, tmp_path)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    errors = read_events_stream(spark, events_dir, raw_schema).filter(
        F.col("event_type") == "error"
    )
    purchases = read_events_stream(spark, events_dir, raw_schema).filter(
        F.col("event_type") == "purchase"
    )
    q = (
        streaming_errors_near_purchases(errors, purchases)
        .writeStream.format("memory")
        .queryName("interval_join_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["error_event_id"], r["purchase_event_id"])
        for r in spark.sql("SELECT * FROM interval_join_test").collect()
    }
    assert got == batch and len(batch) > 0


def test_ivf_topk_recall_vs_bruteforce(spark, sf_dir):
    from inf_553_datamining_mapreduce_spark.operators.similarity import ivf_top_k

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_top_k(emb, queries, k=5).collect()
    approx = ivf_top_k(emb, queries, k=5, n_centroids=8, n_probe=4).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hit = sum(
        1 for r in approx if r["neighbor_id"] in exact_sets.get(r["query_id"], set())
    )
    assert len(approx) > 0
    assert hit / len(approx) >= 0.4  # probing half the cells on random data
    # The integer quantizer's cells do not depend on the input layout.
    one, four = (
        ivf_top_k(e, queries, k=5, n_centroids=8, n_probe=2).collect()
        for e in (emb.repartition(1), emb.repartition(4, "vec_id"))
    )
    assert one == four


def test_topk_cosine_ivf_equals_bruteforce_sf001(spark):
    """The registry's IVF row shares ``topk_cosine``'s oracle, so at sf0.01
    it must return exactly the brute-force rows whatever the session's
    core count."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    sf = "/root/testdata/sf0.01"
    assert sorted(q["topk_cosine_ivf"](spark, sf).collect()) == sorted(
        q["topk_cosine"](spark, sf).collect()
    )


def test_streaming_stateful_running_totals(spark, sf_dir, tmp_path):
    from inf_553_datamining_mapreduce_spark.streaming.windows import (
        streaming_user_running_totals,
    )

    events = read_parquet_table(spark, sf_dir, "events")
    batch = {
        r["user_id"]: (r["n"], r["s"])
        for r in events.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    events_dir = _staged_events_dir(sf_dir, tmp_path)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = read_events_stream(spark, events_dir, raw_schema)
    q = (
        streaming_user_running_totals(stream)
        .writeStream.format("memory")
        .queryName("totals_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT user_id, MAX(n_events) n, MAX(sum_value) s FROM totals_test GROUP BY user_id"
    ).collect()
    got = {r["user_id"]: (r["n"], r["s"]) for r in rows}
    assert set(got) == set(batch)
    for uid, (n, s) in batch.items():
        gn, gs = got[uid]
        assert gn == n
        assert abs(gs - s) < 1e-6


def test_streaming_sliding_matches_batch(spark, sf_dir, tmp_path):
    from inf_553_datamining_mapreduce_spark.streaming.windows import (
        sliding_window_stats,
        streaming_sliding_window_stats,
    )

    events = read_parquet_table(spark, sf_dir, "events")
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in sliding_window_stats(events).collect()
    }
    events_dir = _staged_events_dir(sf_dir, tmp_path)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = read_events_stream(spark, events_dir, raw_schema)
    q = (
        streaming_sliding_window_stats(stream)
        .writeStream.format("memory")
        .queryName("sliding_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM sliding_test").collect()
    }
    assert got == batch


def test_streaming_dedup_drops_replayed_batch(spark, sf_dir, tmp_path):
    """Replay the same file twice into the stream: dedup-by-event_id must
    emit each event once across micro-batches (state-store dedup)."""
    import shutil

    from inf_553_datamining_mapreduce_spark.streaming.windows import (
        streaming_dedup_events,
    )

    d = tmp_path / "dedup_stream"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", d / "b.parquet")  # exact replay
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = read_events_stream(spark, str(d), raw_schema)
    q = (
        streaming_dedup_events(stream)
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT COUNT(DISTINCT event_id) c, COUNT(*) n FROM dedup_test").first()
    total = read_parquet_table(spark, sf_dir, "events").count()
    assert n["n"] == n["c"] == total


def test_streaming_sessions_match_batch(spark, sf_dir, tmp_path):
    events = read_parquet_table(spark, sf_dir, "events")
    batch = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in session_stats(events, gap_sec=1800).collect()
    }
    events_dir = _staged_events_dir(sf_dir, tmp_path)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = read_events_stream(spark, events_dir, raw_schema)
    q = (
        streaming_session_stats(stream, gap_sec=1800)
        .writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.sql("SELECT * FROM sessions_test").collect()
    }
    assert got == batch


def test_repetition_stats_detects_planted_repetition(spark):
    """A degenerate looping document must score far above a
    distinct-word document on both repetition signals."""
    from inf_553_datamining_mapreduce_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, ("spam ham " * 50).strip()),  # one bigram dominates
            (2, " ".join(f"w{i}" for i in range(100))),  # all distinct
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert rows[1]["top_bigram_frac"] > 0.4
    assert rows[1]["dup_trigram_frac"] == 1.0
    assert rows[2]["top_bigram_frac"] < 0.05
    assert rows[2]["dup_trigram_frac"] == 0.0


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    """Observed per-stratum keep rates must sit near the configured
    percentages, purchases must all survive, and repeated runs must select
    the identical row set (hash-keyed, not RNG)."""
    from inf_553_datamining_mapreduce_spark.operators.relational import (
        stratified_sample_events,
    )
    from inf_553_datamining_mapreduce_spark.sources.readers import (
        read_parquet_table,
    )

    ev = read_parquet_table(spark, sf_dir, "events")
    totals = {r["event_type"]: r["n"] for r in
              ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    s1 = stratified_sample_events(ev).collect()
    s2 = stratified_sample_events(ev).collect()
    assert s1 == s2
    kept = {}
    for r in s1:
        kept[r["event_type"]] = kept.get(r["event_type"], 0) + 1
    assert kept["purchase"] == totals["purchase"]
    for stratum, pct in (("click", 10), ("view", 5), ("signup", 20), ("error", 50)):
        observed = kept.get(stratum, 0) / totals[stratum]
        assert abs(observed - pct / 100) < 0.1, (stratum, observed, pct)


def test_doc_length_histogram_partitions_corpus(spark, sf_dir):
    """Histogram buckets must partition the corpus: counts sum to the doc
    count, bucket ranges are disjoint and ordered, ids stay in [0, 10]."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        doc_length_histogram,
    )
    from inf_553_datamining_mapreduce_spark.sources.readers import (
        read_parquet_table,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    rows = doc_length_histogram(d).collect()
    assert sum(r["n_docs"] for r in rows) == d.count()
    assert all(0 <= r["bucket"] <= 10 for r in rows)
    for prev, cur in zip(rows, rows[1:]):
        assert prev["max_chars"] < cur["min_chars"]
        assert cur["min_chars"] <= cur["max_chars"]


def test_embedding_near_dup_gate_fires_before_collect(spark, sf_dir, monkeypatch):
    """The broadcast gate must refuse BEFORE materializing rows on the
    driver: with collect() forbidden outright, an over-gate table still
    raises the informative ValueError (from count()), not a collect."""
    import pyspark.sql

    from inf_553_datamining_mapreduce_spark.operators import dedup

    e = read_parquet_table(spark, sf_dir, "embeddings")
    monkeypatch.setattr(dedup, "MAX_BROADCAST_VECTORS", 10)

    def _no_collect(self):
        raise AssertionError("collect() reached before the gate")

    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", _no_collect)
    with pytest.raises(ValueError, match="broadcast gate"):
        dedup.embedding_near_duplicates(e)


def test_float_ann_query_side_gate_fires_before_collect(
    spark, sf_dir, monkeypatch
):
    """ivf_top_k and lsh_top_k broadcast the QUERY side into their
    candidate joins; both must refuse an over-gate query batch via count()
    before any driver materialization (ADVICE round 11 — the corpus side
    has been gated since round 6, the query side was not)."""
    import pyspark.sql

    from inf_553_datamining_mapreduce_spark.operators import dedup, similarity

    e = read_parquet_table(spark, sf_dir, "embeddings")
    q = e.select(F.col("vec_id").alias("query_id"), "embedding")
    monkeypatch.setattr(dedup, "MAX_BROADCAST_VECTORS", 3)

    def _no_collect(self):
        raise AssertionError("collect() reached before the query-side gate")

    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", _no_collect)
    with pytest.raises(ValueError, match="driver-side gate"):
        similarity.ivf_top_k(e, q)
    with pytest.raises(ValueError, match="driver-side gate"):
        similarity.lsh_top_k(e, q)


def test_streaming_stateful_totals_tws_matches_batch(spark, sf_dir, tmp_path):
    """transformWithStateInPandas processor: final per-user totals across
    micro-batches must equal the batch aggregate (same contract as the
    applyInPandasWithState twin). The Spark 4 processor runner speaks
    protobuf to the JVM; skip where the sandbox's google.protobuf install
    is broken (operator is env-gated, not stubbed)."""
    pytest.importorskip("google.protobuf.descriptor")
    from inf_553_datamining_mapreduce_spark.streaming.windows import (
        streaming_user_totals_tws,
    )

    events = read_parquet_table(spark, sf_dir, "events")
    batch = {
        r["user_id"]: (r["n"], r["s"])
        for r in events.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    events_dir = _staged_events_dir(sf_dir, tmp_path)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = read_events_stream(spark, events_dir, raw_schema)
    q = (
        streaming_user_totals_tws(stream)
        .writeStream.format("memory")
        .queryName("totals_tws_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT user_id, MAX(n_events) n, MAX(sum_value) s"
        " FROM totals_tws_test GROUP BY user_id"
    ).collect()
    got = {r["user_id"]: (r["n"], r["s"]) for r in rows}
    assert set(got) == set(batch)
    for uid, (n, s) in batch.items():
        gn, gs = got[uid]
        assert gn == n
        assert abs(gs - s) < 1e-6


def test_jaccard_operators_match_bruteforce_on_random_corpora(spark):
    """All three shingle-dedup paths (exact join, df-cut pipeline,
    MinHash-LSH) must agree with an independent pure-Python brute force on
    randomized corpora with heavy vocabulary overlap (fixed seeds)."""
    import random

    from inf_553_datamining_mapreduce_spark.operators.dedup import (
        jaccard_near_duplicates,
        minhash_lsh_near_duplicates,
    )

    def brute(docs, n=3, thr=0.5):
        sh = {}
        for i, txt in docs:
            t = txt.split(" ")
            sh[i] = {" ".join(t[j : j + n]) for j in range(len(t) - n + 1)}
        out = {}
        ids = sorted(sh)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = sh[ids[x]], sh[ids[y]]
                if not a or not b:
                    continue
                c = len(a & b)
                j = c / (len(a) + len(b) - c)
                if j >= thr:
                    out[(ids[x], ids[y])] = round(j, 9)
        return out

    vocab = [f"w{i}" for i in range(12)]
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        docs = []
        base = " ".join(rng.choice(vocab) for _ in range(20))
        for i in range(12):
            if rng.random() < 0.5:
                # perturbed near-duplicate of the base document
                toks = base.split(" ")
                k = rng.randrange(0, 3)
                for _ in range(k):
                    toks[rng.randrange(len(toks))] = rng.choice(vocab)
                docs.append((i, " ".join(toks)))
            else:
                docs.append(
                    (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(5, 25))))
                )
        expected = brute(docs)
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        for maker in (
            lambda d: jaccard_near_duplicates(d, n=3, min_jaccard=0.5),
            lambda d: jaccard_near_duplicates(d, n=3, min_jaccard=0.5, max_shingle_df=1000),
            lambda d: minhash_lsh_near_duplicates(d, n=3, min_jaccard=0.5, num_hashes=64, bands=32),
        ):
            got = {
                (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
                for r in maker(df).collect()
            }
            assert got == expected, (seed, got, expected)


def test_iterative_plans_keep_bounded_size_stats(spark, sf_dir):
    """Regression guard for the localCheckpoint statistics trap
    (SCALE.md): a state table that joins into itself k>1 times per round
    compounds the plan's sizeInBytes estimate k-fold per round, until
    the optimizer's statistics pass is multiplying BigInts with
    hundreds of thousands of DIGITS (measured: 180 s of driver CPU for
    a 14-row graph before `graph._checkpoint_reset_stats`). Every
    iterative query's final-plan estimate must stay bounded — a
    four-digit count here means a reintroduced compounding loop that
    will wedge the driver at higher round counts."""
    import sys

    import __spark_entry__ as entrymod

    sys.set_int_max_str_digits(20_000_000)
    q = entrymod.queries()
    for name in (
        "communities_louvain_customers",
        "communities_louvain_multilevel",
        "communities_girvan_newman_fixedpoint",
        "kcore_customers",
        "pagerank_customers",
        "label_propagation_customers",
        "connected_components_customers",
        "edge_betweenness_fixedpoint_customers",
    ):
        df = q[name](spark, sf_dir)
        stat = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        digits = len(str(stat))
        assert digits < 1000, f"{name}: sizeInBytes has {digits} digits"


def test_all_queries_handle_empty_tables(spark, tmp_path):
    """Every registered query must run (possibly to zero rows) against
    EMPTY copies of all ten tables — at fleet scale empty partitions and
    freshly-truncated tables are routine, and an operator that crashes on
    them (divide-by-zero thresholds, ML fits, numpy axis errors) is a
    production incident, not an edge case."""
    import duckdb

    import __spark_entry__ as em

    src = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    dst = tmp_path / "sf_empty"
    dst.mkdir()
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet') LIMIT 0)"
            f" TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
        )
    failures = {}
    for name, fn in em.queries().items():
        try:
            fn(spark, str(dst)).count()
        except Exception as exc:  # collect all, report once
            failures[name] = str(exc).split("\n")[0][:120]
    assert not failures, failures


def test_streaming_idempotent_partitioned_sink(spark, sf_dir, tmp_path):
    """foreachBatch + dynamic-partition overwrite: the sink must land the
    windowed aggregate as partitioned parquet matching the batch golden,
    and REPLAYING the whole stream into the same directory (fresh
    checkpoint, same data) must leave the result unchanged — the
    exactly-once-effect contract."""
    from inf_553_datamining_mapreduce_spark.streaming.windows import (
        read_events_stream,
        streaming_tumbling_window_stats,
        tumbling_window_stats,
        write_stream_idempotent_partitioned,
    )

    events = read_parquet_table(spark, sf_dir, "events")
    batch = {
        (r["wpart"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_window_stats(events)
        .withColumn("wpart", F.unix_timestamp("window_start"))
        .collect()
    }
    events_dir = _staged_events_dir(sf_dir, tmp_path)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    out_dir = str(tmp_path / "sink_out")
    for attempt in (1, 2):  # second pass replays every partition
        stream = read_events_stream(spark, events_dir, raw_schema)
        agg = streaming_tumbling_window_stats(stream).withColumn(
            "wpart", F.unix_timestamp("window_start")
        )
        q = (
            write_stream_idempotent_partitioned(
                agg,
                out_dir,
                str(tmp_path / f"ckpt_{attempt}"),
                partition_col="wpart",
            )
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["wpart"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.read.parquet(out_dir).collect()
        }
        # streaming twin omits n_users (countDistinct is batch-only)
        assert got == {
            k: (v[0], v[1]) for k, v in batch.items()
        }, f"attempt {attempt} diverged"


def test_exact_k_per_stratum_budget_and_determinism(spark, sf_dir):
    """Exactly k rows per event type (or the whole stratum when smaller),
    identical across two independent evaluations, and equal to the
    md5-rank prefix computed by brute force."""
    import hashlib

    from inf_553_datamining_mapreduce_spark.operators.relational import (
        exact_k_per_stratum,
    )

    events = read_parquet_table(spark, sf_dir, "events")
    k = 7
    out1 = exact_k_per_stratum(events, "event_type", "event_id", k).collect()
    out2 = exact_k_per_stratum(events, "event_type", "event_id", k).collect()
    assert [tuple(r) for r in out1] == [tuple(r) for r in out2]

    by_stratum: dict = {}
    for r in out1:
        by_stratum.setdefault(r["event_type"], []).append(r["event_id"])
    all_rows = events.select("event_type", "event_id").collect()
    full: dict = {}
    for r in all_rows:
        full.setdefault(r["event_type"], []).append(r["event_id"])
    for stratum, ids in full.items():
        want = sorted(
            ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
        )[:k]
        assert sorted(by_stratum.get(stratum, [])) == sorted(want), stratum
        assert len(by_stratum.get(stratum, [])) == min(k, len(ids))


def test_key_skew_report_quantifies_planted_skew(spark):
    """A planted 80/10/10 key distribution must report max, p50, and a
    skew factor of max/p50 exactly."""
    from inf_553_datamining_mapreduce_spark.operators.relational import (
        key_skew_report,
    )

    rows = [("hot",)] * 80 + [("warm",)] * 10 + [("cold",)] * 10
    df = spark.createDataFrame(rows, ["k"])
    r = key_skew_report(df, "k").collect()[0]
    assert r["n_keys"] == 3
    assert r["n_rows"] == 100
    assert r["max_key_rows"] == 80
    assert r["p50_key_rows"] == 10
    assert r["skew_factor"] == 8.0


def test_streaming_enrichment_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static dimension join + windowed aggregate equals the same
    plan run in batch — the streaming star-schema enrichment contract
    (the static side holds no state; only the window does)."""
    from inf_553_datamining_mapreduce_spark.streaming.windows import (
        read_events_stream,
        streaming_enriched_window_counts,
        _DEC,
    )
    from pyspark.sql import functions as F

    events = read_parquet_table(spark, sf_dir, "events")
    customer = read_parquet_table(spark, sf_dir, "customer")
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    batch = {
        (r["window_start"], r["c_mktsegment"]): (r["n_events"], r["sum_value"])
        for r in (
            events.join(dim, "user_id")
            .groupBy(F.window("ts", "300 seconds"), "c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
            )
            .select(
                F.col("window.start").alias("window_start"),
                "c_mktsegment",
                "n_events",
                "sum_value",
            )
            .collect()
        )
    }
    events_dir = _staged_events_dir(sf_dir, tmp_path)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = read_events_stream(spark, events_dir, raw_schema)
    q = (
        streaming_enriched_window_counts(stream, customer)
        .writeStream.format("memory")
        .queryName("enriched_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["c_mktsegment"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM enriched_test").collect()
    }
    assert got == batch


def test_streaming_checkpoint_recovery_resumes_without_duplicates(
    spark, sf_dir, tmp_path
):
    """Kill-and-resume through the idempotent sink: run 1 processes only
    the first half of the events (real multi-batch progression via
    maxFilesPerTrigger=1), terminates, and run 2 restarts from the SAME
    checkpoint with the second half staged. The file source's checkpoint
    skips the already-processed files, so run 2's equality with the
    full-data batch golden proves the aggregation STATE was recovered
    (run 2 never re-reads half 1) and the dynamic-partition overwrite
    wrote every window exactly once."""
    from inf_553_datamining_mapreduce_spark.streaming.windows import (
        read_events_stream,
        streaming_tumbling_window_stats,
        tumbling_window_stats,
        write_stream_idempotent_partitioned,
    )

    events = read_parquet_table(spark, sf_dir, "events")

    def golden(df):
        return {
            (r["wpart"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in tumbling_window_stats(df)
            .withColumn("wpart", F.unix_timestamp("window_start"))
            .collect()
        }

    half1 = events.filter(F.col("event_id") % 2 == 0)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    events_dir = tmp_path / "events_stream"
    events_dir.mkdir()
    # two files per half => two micro-batches per run at 1 file/trigger
    raw.filter(F.col("event_id") % 4 == 0).coalesce(1).write.parquet(
        str(events_dir / "a")
    )
    raw.filter(F.col("event_id") % 4 == 2).coalesce(1).write.parquet(
        str(events_dir / "b")
    )
    out_dir = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        stream = read_events_stream(
            spark,
            f"{events_dir}/*",
            raw.schema,
            max_files_per_trigger=1,
        )
        agg = streaming_tumbling_window_stats(stream).withColumn(
            "wpart", F.unix_timestamp("window_start")
        )
        q = (
            write_stream_idempotent_partitioned(
                agg, out_dir, ckpt, partition_col="wpart"
            )
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q

    q1 = run_stream()
    assert q1.lastProgress is not None
    got_half = {
        (r["wpart"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out_dir).collect()
    }
    gh = golden(half1)
    assert got_half == {k: (v[0], v[1]) for k, v in gh.items()}

    # stage the second half and RESUME from the same checkpoint
    raw.filter(F.col("event_id") % 4 == 1).coalesce(1).write.parquet(
        str(events_dir / "c")
    )
    raw.filter(F.col("event_id") % 4 == 3).coalesce(1).write.parquet(
        str(events_dir / "d")
    )
    run_stream()
    got_all = {
        (r["wpart"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out_dir).collect()
    }
    ga = golden(events)
    assert got_all == {k: (v[0], v[1]) for k, v in ga.items()}


def test_streaming_session_stats_recovery_appends_each_session_once(
    spark, sf_dir, tmp_path
):
    """End-to-end sessionization with kill-and-resume: events are split by
    TIME (sessions spanning the split can only merge if the session state
    survives the restart), run 1 processes the early half and terminates,
    run 2 restarts from the same checkpoint with the late half plus two
    far-future sentinel events that push the watermark past every real
    session. Append mode through the exactly-once file sink must emit
    every batch-golden session exactly once across both runs."""
    from inf_553_datamining_mapreduce_spark.streaming.windows import (
        read_events_stream,
        session_stats,
        streaming_session_stats,
    )

    events = read_parquet_table(spark, sf_dir, "events")
    golden = {
        (r["user_id"], r["start_epoch"]): (r["n_events"], r["sum_value"])
        for r in session_stats(events, gap_sec=1800)
        .withColumn("start_epoch", F.unix_timestamp("session_start"))
        .collect()
    }

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_is_nanos = dict(raw.dtypes)["ts"] == "bigint"
    mid, hi = (
        raw.agg(
            F.percentile_approx("ts", 0.5).alias("mid"), F.max("ts").alias("hi")
        ).first()
    )
    events_dir = tmp_path / "events_stream"
    events_dir.mkdir()
    raw.filter(F.col("ts") < mid).coalesce(1).write.parquet(
        str(events_dir / "early")
    )
    out_dir = str(tmp_path / "sessions_out")
    ckpt = str(tmp_path / "ckpt_sessions")

    def run_stream():
        stream = read_events_stream(
            spark, f"{events_dir}/*", raw.schema, max_files_per_trigger=1
        )
        q = (
            streaming_session_stats(stream, gap_sec=1800)
            .withColumn("start_epoch", F.unix_timestamp("session_start"))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_stream()  # early half only, then "killed"

    # The file source processes files oldest-modification-first: the late
    # half must land BEFORE the sentinels so the sentinel batches run last
    # and their watermark flushes every real session.
    raw.filter(F.col("ts") >= mid).coalesce(1).write.parquet(
        str(events_dir / "late")
    )
    hour = 3_600_000_000_000 if ts_is_nanos else None
    for i, name in ((2, "sentinel_a"), (3, "sentinel_b")):
        sent = raw.limit(1).withColumn("user_id", F.lit(-1).cast("long"))
        if ts_is_nanos:
            sent = sent.withColumn("ts", F.lit(hi + i * hour).cast("long"))
        else:
            sent = sent.withColumn(
                "ts", F.col("ts") + F.expr(f"INTERVAL {i * 1000} HOURS")
            )
        sent.coalesce(1).write.parquet(str(events_dir / name))

    run_stream()  # resume: late half + sentinels flush the watermark

    got = {
        (r["user_id"], r["start_epoch"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out_dir)
        .filter(F.col("user_id") >= 0)
        .collect()
    }
    assert got == golden


def test_token_gini_diversity_extremes(spark):
    """Degenerate one-token loop scores 0; all-distinct tokens score
    1 − 1/n; counts are exact."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        token_gini_diversity,
    )

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),
            (2, "a b c d"),
            (3, "a a b b"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in token_gini_diversity(docs).collect()}
    assert got[1]["gini_diversity"] == 0.0
    assert got[1]["n_distinct"] == 1
    assert got[2]["gini_diversity"] == 1.0 - 4 / 16
    assert got[3]["gini_diversity"] == 1.0 - 8 / 16
    assert all(got[i]["n_tokens"] == 4 for i in (1, 2, 3))


def test_chunk_dedup_stats_counts_cross_doc_copies(spark):
    """Three docs of one 2-token chunk each: two identical, one unique —
    the duplicated group contributes 2 occurrence rows and 1 group; the
    all-identical corpus costs the same plan (no pairwise join)."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        chunk_dedup_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "x y", "s1"),
            (2, "x y", "s1"),
            (3, "p q", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: r for r in chunk_dedup_stats(docs, chunk_size=2, stride=2).collect()}
    assert got["s1"]["n_chunks"] == 2
    assert got["s1"]["n_dup_chunks"] == 2
    assert got["s1"]["n_dup_groups"] == 1
    assert got["s1"]["dup_chunk_frac"] == 1.0
    assert got["s2"]["n_chunks"] == 1
    assert got["s2"]["n_dup_chunks"] == 0
    assert got["s2"]["dup_chunk_frac"] == 0.0


def test_cross_source_overlap_planted(spark):
    """Two sources, one cross-source near-dup pair and one within-source
    pair: the matrix must count the unordered source pair once each, with
    exact min/max jaccard."""
    from inf_553_datamining_mapreduce_spark.operators.dedup import (
        cross_source_overlap,
        jaccard_near_duplicates,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (1, base, "feed_a"),
            (2, base, "feed_b"),  # cross-source exact copy
            (3, base.replace("dog", "cat"), "feed_a"),  # within-a near dup of 1
            (4, "totally unrelated text about engines", "feed_b"),
        ],
        "doc_id long, text string, source string",
    )
    pairs = jaccard_near_duplicates(docs, min_jaccard=0.5)
    got = {
        (r["source_x"], r["source_y"]): r["n_pairs"]
        for r in cross_source_overlap(docs, pairs).collect()
    }
    # pairs: (1,2) a-b, (1,3) a-a, (2,3) a-b
    assert got == {("feed_a", "feed_b"): 2, ("feed_a", "feed_a"): 1}


def test_streaming_index_dedup_matches_batch(spark, sf_dir, tmp_path):
    """The ingestion-time near-dup filter must produce the BATCH result
    when the new documents arrive as a stream: per-row signatures +
    stream-static joins + the first-colliding-band rule need no state,
    so append mode over multiple micro-batches (maxFilesPerTrigger=1)
    emits each near-dup pair exactly once."""
    from inf_553_datamining_mapreduce_spark.operators.dedup import (
        build_minhash_index,
        index_near_duplicates,
    )
    from inf_553_datamining_mapreduce_spark.streaming.windows import (
        streaming_index_near_duplicates,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    idx_docs = docs.filter(F.col("doc_id") % 2 == 0)
    new_docs = docs.filter(F.col("doc_id") % 2 == 1)
    bt, pl = build_minhash_index(idx_docs)
    batch = {
        (r["new_doc_id"], r["index_doc_id"]): r["jaccard"]
        for r in index_near_duplicates(new_docs, bt, pl).collect()
    }
    assert batch, "expected planted cross-half near-dups"

    stream_dir = tmp_path / "docs_stream"
    stream_dir.mkdir()
    # two files => two micro-batches at 1 file per trigger
    new_docs.filter(F.col("doc_id") % 4 == 1).coalesce(1).write.parquet(
        str(stream_dir / "a")
    )
    new_docs.filter(F.col("doc_id") % 4 == 3).coalesce(1).write.parquet(
        str(stream_dir / "b")
    )
    stream = (
        spark.readStream.schema(new_docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/*")
    )
    q = (
        streaming_index_near_duplicates(stream, bt, pl)
        .writeStream.format("memory")
        .queryName("stream_index_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["new_doc_id"], r["index_doc_id"]): r["jaccard"]
        for r in spark.sql("SELECT * FROM stream_index_dedup").collect()
    }
    assert got == batch


def test_streaming_index_dedup_recovery_resumes_without_duplicates(
    spark, sf_dir, tmp_path
):
    """Kill-and-resume for the ingestion-time near-dup filter: unlike the
    windowed-aggregation recovery tests, this stream is STATELESS
    (per-row signatures + stream-static joins), so exactly-once across a
    restart rests entirely on the file source's checkpointed offsets and
    the file sink's commit log. Run 1 processes half the new documents
    and terminates; run 2 resumes from the SAME checkpoint with the rest
    staged. The final sink contents must equal the batch near-dup pairs
    exactly once — no pair lost at the kill point, none duplicated by
    the resume."""
    from inf_553_datamining_mapreduce_spark.operators.dedup import (
        build_minhash_index,
        index_near_duplicates,
    )
    from inf_553_datamining_mapreduce_spark.streaming.windows import (
        streaming_index_near_duplicates,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    idx_docs = docs.filter(F.col("doc_id") % 2 == 0)
    new_docs = docs.filter(F.col("doc_id") % 2 == 1)
    bt, pl = build_minhash_index(idx_docs)
    batch = {
        (r["new_doc_id"], r["index_doc_id"]): r["jaccard"]
        for r in index_near_duplicates(new_docs, bt, pl).collect()
    }
    assert batch, "expected planted cross-half near-dups"

    stream_dir = tmp_path / "docs_stream"
    stream_dir.mkdir()
    new_docs.filter(F.col("doc_id") % 4 == 1).coalesce(1).write.parquet(
        str(stream_dir / "a")
    )
    out_dir = str(tmp_path / "pairs_out")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        stream = (
            spark.readStream.schema(new_docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stream_dir}/*")
        )
        q = (
            streaming_index_near_duplicates(stream, bt, pl)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream()  # run 1: first half only, then the query terminates
    got_half = {
        (r["new_doc_id"], r["index_doc_id"]): r["jaccard"]
        for r in spark.read.parquet(out_dir).collect()
    }
    want_half = {
        (r["new_doc_id"], r["index_doc_id"]): r["jaccard"]
        for r in index_near_duplicates(
            new_docs.filter(F.col("doc_id") % 4 == 1), bt, pl
        ).collect()
    }
    assert got_half == want_half

    # stage the second half and RESUME from the same checkpoint
    new_docs.filter(F.col("doc_id") % 4 == 3).coalesce(1).write.parquet(
        str(stream_dir / "b")
    )
    run_stream()
    got_all = {
        (r["new_doc_id"], r["index_doc_id"]): r["jaccard"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got_all == batch
    # the sink's commit log must also show no double-written rows
    n_rows = spark.read.parquet(out_dir).count()
    assert n_rows == len(batch)


def test_per_row_minhash_signature_matches_aggregated(spark, sf_dir):
    """The stateless per-row signature (streaming path) must be
    BIT-IDENTICAL to the aggregated groupBy form on every document —
    same hash inputs (shingle, seed), min over a distinct array equals
    min over the exploded multiset."""
    from inf_553_datamining_mapreduce_spark.operators.dedup import (
        minhash_signatures,
        with_minhash_signature,
        word_shingles,
    )

    docs = read_parquet_table(spark, sf_dir, "documents").limit(200)
    agg = {
        r["doc_id"]: list(r["signature"])
        for r in minhash_signatures(word_shingles(docs, n=3)).collect()
    }
    per_row = {
        r["doc_id"]: list(r["signature"]) if r["signature"] else None
        for r in with_minhash_signature(docs).collect()
    }
    assert agg, "expected signatures"
    for doc_id, sig in agg.items():
        assert per_row[doc_id] == sig, doc_id
    # docs too short to shingle: NULL per-row signature, absent from agg
    for doc_id, sig in per_row.items():
        if sig is None:
            assert doc_id not in agg


def test_streaming_span_contamination_matches_batch(spark, sf_dir, tmp_path):
    """The ingestion-time ExactSubstr probe must produce the BATCH result
    when the incoming documents arrive as a stream: a document's spans
    live entirely in its own input row, so the per-document aggregate is
    complete within any micro-batch and runs through foreachBatch with
    zero cross-batch state — each incoming document's contamination row
    lands exactly once."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        build_span_index,
        index_span_contamination,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    idx = build_span_index(docs.filter(F.col("doc_id") % 2 == 0), k=8)
    idx = idx.localCheckpoint()  # static side, computed once
    new_docs = docs.filter(F.col("doc_id") % 2 == 1)
    batch = {
        r["doc_id"]: (r["n_grams"], r["n_indexed_grams"])
        for r in index_span_contamination(new_docs, idx, k=8).collect()
    }
    assert batch and any(v[1] > 0 for v in batch.values())

    stream_dir = tmp_path / "docs_stream"
    stream_dir.mkdir()
    new_docs.filter(F.col("doc_id") % 4 == 1).coalesce(1).write.parquet(
        str(stream_dir / "a")
    )
    new_docs.filter(F.col("doc_id") % 4 == 3).coalesce(1).write.parquet(
        str(stream_dir / "b")
    )
    stream = (
        spark.readStream.schema(new_docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/*")
    )
    # A document's spans live entirely in its own input row, so the
    # per-document aggregate is complete within any micro-batch — the
    # foreachBatch pattern (NOT a stateful streaming aggregation, which
    # append mode would rightly reject as unbounded).
    out_dir = str(tmp_path / "contam_out")

    def process(batch_df, batch_id):
        index_span_contamination(batch_df, idx, k=8).write.mode(
            "append"
        ).parquet(out_dir)

    q = (
        stream.writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["n_grams"], r["n_indexed_grams"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == batch


def test_streaming_incremental_community_assignment(spark, tmp_path):
    """Frozen-label community assignment is stateless per micro-batch
    when a vertex's edges arrive together: streaming the new edges
    through foreachBatch lands exactly the batch result, well-connected
    vertices join the planted community, and vertices with no labeled
    neighbor stay singletons."""
    from inf_553_datamining_mapreduce_spark.operators.graph import (
        incremental_community_assignment,
        louvain_moves,
    )

    base_edges = [(2, 4), (4, 6), (2, 6), (8, 10), (10, 12), (8, 12)]
    new_edges = [(1, 2), (1, 4), (3, 8), (3, 10), (3, 12), (5, 7)]
    base = spark.createDataFrame(base_edges, "src long, dst long")
    new = spark.createDataFrame(new_edges, "src long, dst long")

    batch = {
        r["c"]: r["community"]
        for r in incremental_community_assignment(new, base, rounds=4).collect()
    }
    labels = {
        r["c"]: r["community"] for r in louvain_moves(base, rounds=4).collect()
    }
    # planted structure: 1 joins triangle {2,4,6}'s community, 3 joins
    # {8,10,12}'s; 5 and 7 have no labeled neighbor -> singletons
    assert set(batch) == {1, 3, 5, 7}
    assert batch[1] == labels[2] == labels[4] == labels[6]
    assert batch[3] == labels[8] == labels[10] == labels[12]
    assert batch[5] == 5 and batch[7] == 7

    # stream the same edges in two vertex-complete micro-batches
    stream_dir = tmp_path / "edges_stream"
    stream_dir.mkdir()
    new.filter(F.col("src") == 1).coalesce(1).write.parquet(
        str(stream_dir / "a")
    )
    new.filter(F.col("src") != 1).coalesce(1).write.parquet(
        str(stream_dir / "b")
    )
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/*")
    )
    out_dir = str(tmp_path / "assign_out")

    def process(batch_df, batch_id):
        incremental_community_assignment(
            batch_df, base, rounds=4
        ).write.mode("append").parquet(out_dir)

    q = (
        stream.writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["c"]: r["community"] for r in spark.read.parquet(out_dir).collect()
    }
    assert got == batch


def test_streaming_span_scrub_matches_batch(spark, tmp_path):
    """Ingestion-time ExactSubstr scrub: spans already in the indexed
    corpus are cut from incoming documents (the corpus copy is
    canonical), clean documents pass untouched, and streaming the
    incoming docs through foreachBatch lands exactly the batch result."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        build_span_index,
        scrub_indexed_spans,
    )

    k = 8
    boiler = "all rights reserved contact us for more info"  # exactly 8
    corpus = spark.createDataFrame(
        [(2, "intro words here " + boiler + " outro words")],
        "doc_id long, text string",
    )
    idx = build_span_index(corpus, k=k).localCheckpoint()
    incoming = [
        (1, "fresh unique content " + boiler + " more fresh content"),
        (3, boiler),
        (5, "entirely clean document with no indexed spans inside it"),
    ]
    new_docs = spark.createDataFrame(incoming, "doc_id long, text string")
    batch = {
        r["doc_id"]: (r["n_removed"], r["text"])
        for r in scrub_indexed_spans(new_docs, idx, k=k).collect()
    }
    assert batch[1] == (8, "fresh unique content more fresh content")
    assert batch[3] == (8, "")  # pure boilerplate empties
    assert batch[5][0] == 0 and batch[5][1] == incoming[2][1]

    stream_dir = tmp_path / "scrub_stream"
    stream_dir.mkdir()
    new_docs.filter(F.col("doc_id") == 1).coalesce(1).write.parquet(
        str(stream_dir / "a")
    )
    new_docs.filter(F.col("doc_id") != 1).coalesce(1).write.parquet(
        str(stream_dir / "b")
    )
    stream = (
        spark.readStream.schema(new_docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/*")
    )
    out_dir = str(tmp_path / "scrub_out")

    def process(batch_df, batch_id):
        scrub_indexed_spans(batch_df, idx, k=k).write.mode("append").parquet(
            out_dir
        )

    q = (
        stream.writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["n_removed"], r["text"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == batch


def test_duplicated_span_stats_planted_boilerplate(spark):
    """A boilerplate sentence pasted into two otherwise-distinct
    documents must flag exactly its spans in BOTH docs (the
    cross-document case MinHash can't see at low Jaccard), a document
    repeating its own phrase must flag the self-repetition, and a
    short document (< k tokens) must emit no row."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        duplicated_span_stats,
    )

    boiler = "all rights reserved contact us for licensing terms today"  # 9 tokens
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta " + boiler),
            (2, boiler + " iota kappa lmbda mu nu xi omicron pi"),
            (3, "unique words only here nothing shared at all nine ten"),
            (4, "rep one two three four five six seven eight "
                "rep one two three four five six seven eight"),
            (5, "too short"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["n_dup_grams"])
        for r in duplicated_span_stats(docs, k=8).collect()
    }
    assert 5 not in got  # 2 tokens < k
    # doc 1: 17 tokens -> 10 spans; the 9-token boilerplate contributes
    # 2 fully-inside spans shared with doc 2
    assert got[1] == (10, 2)
    assert got[2] == (10, 2)
    assert got[3] == (3, 0)
    # doc 4: 18 tokens, "rep one...eight" (9 tokens) twice; spans at
    # offsets 0 and 9 are identical (9 such pairs via wraparound of the
    # repeat): positions 0..10 -> 11 spans; dups: pos p and p+9 equal for
    # p in 0..1, plus... exact count pinned by construction below
    n_grams, n_dup = got[4]
    assert n_grams == 11 and n_dup > 0
    # cross-check doc 4 against a brute-force count
    toks = ("rep one two three four five six seven eight "
            "rep one two three four five six seven eight").split(" ")
    spans = [" ".join(toks[p : p + 8]) for p in range(len(toks) - 7)]
    from collections import Counter

    c = Counter(spans)
    assert n_dup == sum(1 for s in spans if c[s] > 1)


def test_remove_duplicated_spans_planted_boilerplate(spark):
    """ExactSubstr removal: the boilerplate paragraph survives exactly
    once (in the min-(doc_id, pos) occurrence), every other occurrence's
    tokens drop, short docs pass through unchanged — all matching a
    brute-force reference implementation of the same rule."""
    from collections import defaultdict

    from inf_553_datamining_mapreduce_spark.operators.text import (
        remove_duplicated_spans,
    )

    k = 8
    boiler = "all rights reserved contact us for more info"  # exactly 8
    rows = [
        (1, "alpha beta " + boiler + " gamma delta"),
        (2, "unique words here " + boiler + " and tail tokens"),
        (3, boiler),
        (4, "short doc"),
        (5, "totally distinct content with no duplicated spans at all"),
        (6, "pre " + boiler + " mid " + boiler + " post"),  # self-repeat
    ]

    # brute-force reference: same winner rule, same overlap-union removal
    occ = defaultdict(list)
    for doc_id, text in rows:
        t = text.split(" ")
        for p in range(len(t) - k + 1):
            occ[" ".join(t[p : p + k])].append((doc_id, p + 1))
    drop = defaultdict(set)
    for positions in occ.values():
        if len(positions) < 2:
            continue
        for doc_id, pos in sorted(positions)[1:]:
            drop[doc_id].update(range(pos, pos + k))
    want = {}
    for doc_id, text in rows:
        t = text.split(" ")
        keep = [tok for i, tok in enumerate(t, 1) if i not in drop[doc_id]]
        want[doc_id] = (len(t), len(drop[doc_id]), " ".join(keep))

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text"])
        for r in remove_duplicated_spans(docs, k=k).collect()
    }
    assert got == want
    # the planted paragraph survives EXACTLY once across the corpus
    n_surviving = sum(1 for _, _, t in got.values() if boiler in t)
    assert n_surviving == 1 and boiler in got[1][2]
    # docs without duplicated spans are untouched
    assert got[4] == (2, 0, "short doc")
    assert got[5][1] == 0 and got[5][2] == rows[4][1]
    # the self-repeating doc keeps no copy (doc 1 owns the winner)
    assert boiler not in got[6][2] and got[6][1] > 0


def test_redact_pii_classes_and_counts(spark):
    """Each PII class redacts independently with counts over the ORIGINAL
    text; adjacent/multiple matches, class non-overlap (phone digits
    never form a digit run), and clean text passing through unchanged."""
    from inf_553_datamining_mapreduce_spark.operators.text import redact_pii

    rows = [
        (1, "mail a.b-c_d@ex-1.org and x@y.io twice"),
        (2, "call 25-989-741-2988 or 123.456.789 0123"),
        (3, "host 192.168.0.1 card 1234567890123456 ok"),
        (4, "no pii here at all"),
        (5, "edge 999.999.999.999 and seq 123456"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in redact_pii(df).orderBy("doc_id").collect()
    }
    assert got[1]["redacted_text"] == "mail <EMAIL> and <EMAIL> twice"
    assert got[1]["n_email"] == 2 and got[1]["n_phone"] == 0
    # second candidate '123.456.789 0123' has a 3-digit third group and a
    # space separator before the 4-digit tail — matches the phone shape
    assert got[2]["redacted_text"] == "call <PHONE> or <PHONE>"
    assert got[2]["n_phone"] == 2 and got[2]["n_digit_run"] == 0
    assert got[3]["redacted_text"] == "host <IP> card <DIGIT_RUN> ok"
    assert got[3]["n_ip"] == 1 and got[3]["n_digit_run"] == 1
    assert got[4]["redacted_text"] == "no pii here at all"
    assert all(got[4][f"n_{c}"] == 0 for c in ("email", "phone", "ip", "digit_run"))
    # the conservative IP pattern doesn't range-check octets (both
    # engines agree on that); the bare 6-digit run is a digit_run
    assert got[5]["redacted_text"] == "edge <IP> and seq <DIGIT_RUN>"


def test_split_drift_report_detects_planted_drift(spark):
    """A token appearing only in val-bucket documents must outrank evenly
    distributed tokens; rate-identical tokens score exactly 0 (the
    integer cross product vanishes)."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        corpus_splits,
        split_drift_report,
    )

    base = spark.range(400).select(F.col("id").alias("doc_id"))
    splits = {
        r["doc_id"]: r["split"] for r in corpus_splits(base).collect()
    }
    rows = []
    for doc_id, split in splits.items():
        # 'common' everywhere at the same rate; 'leak' only in val docs
        text = "common common filler"
        if split == "val":
            text += " leak leak leak"
        rows.append((doc_id, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["tok"]: r
        for r in split_drift_report(docs, min_count=3, top_k=10).collect()
    }
    assert "leak" in got and got["leak"]["c_train"] == 0
    ranked = sorted(got.values(), key=lambda r: -r["drift_score"])
    assert ranked[0]["tok"] == "leak"
    # 'common' and 'filler' have identical rates in both splits -> the
    # cross product is exactly zero
    for tok in ("common", "filler"):
        if tok in got:
            assert got[tok]["drift_num"] != 0 or got[tok]["drift_score"] == 0.0


def _make_ppm(pixels):
    """pixels: list of rows of (r,g,b) tuples -> P6 binary PPM bytes."""
    h = len(pixels)
    w = len(pixels[0])
    raster = bytes(c for row in pixels for px in row for c in px)
    return f"P6\n{w} {h}\n255\n".encode() + raster


def _make_bmp(pixels):
    """pixels: rows of (r,g,b), top-down input -> 24-bit bottom-up BMP."""
    h = len(pixels)
    w = len(pixels[0])
    row_bytes = (w * 3 + 3) // 4 * 4
    raster = b""
    for row in reversed(pixels):  # bottom-up storage
        line = bytes(c for px in row for c in (px[2], px[1], px[0]))  # BGR
        raster += line + b"\x00" * (row_bytes - len(line))
    off = 14 + 40
    size = off + len(raster)
    header = (
        b"BM" + size.to_bytes(4, "little") + b"\x00" * 4 + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little") + w.to_bytes(4, "little")
        + h.to_bytes(4, "little") + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little") + (0).to_bytes(4, "little")
        + len(raster).to_bytes(4, "little") + b"\x00" * 16
    )
    return header + raster


def test_decode_image_ppm_and_bmp_exact_pixels():
    """The pure-numpy decoder must return the exact pixel raster for both
    supported uncompressed formats, and reject codec formats."""
    import numpy as np
    import pytest as _pytest

    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        decode_image,
    )

    pixels = [
        [(255, 0, 0), (0, 255, 0)],
        [(0, 0, 255), (10, 20, 30)],
    ]
    want = np.array(pixels, dtype=np.uint8)
    assert np.array_equal(decode_image(_make_ppm(pixels)), want)
    assert np.array_equal(decode_image(_make_bmp(pixels)), want)
    with _pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG not decodable here")


def test_extract_features_uses_real_pixels_for_decodable_payloads(spark):
    """Decodable payloads must flow through image_features (hand-checked
    channel means), while undecodable ones keep the fake_features
    fallback — mixed corpora in one batch."""
    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        extract_features,
        fake_features,
        image_features,
    )

    pixels = [[(100, 200, 50), (100, 200, 50)]]
    ppm = _make_ppm(pixels)
    rows = [
        Row(asset_id=1, media_type="image", payload=ppm),
        Row(asset_id=2, media_type="image", payload=b"\x89PNG fake"),
    ]
    df = spark.createDataFrame(rows)
    feats = {r["asset_id"]: list(r["features"]) for r in extract_features(df).collect()}
    assert feats[1] == image_features(ppm)
    assert feats[1][0] == 100 / 255.0  # mean R of a constant raster
    assert feats[1][1] == 200 / 255.0  # mean G
    assert feats[1][2] == 50 / 255.0   # mean B
    assert feats[2] == fake_features(b"\x89PNG fake")


def _make_wav(samples_int16, rate=8000, channels=1):
    import struct

    data = struct.pack(f"<{len(samples_int16)}h", *samples_int16)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2,
                      channels * 2, 16)
    body = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_decode_audio_square_wave_exact_features(spark):
    """Canonical PCM WAV decodes to the exact sample matrix; a +/-8192
    square wave has hand-computable features: RMS = peak = 0.25, mean 0,
    zero-crossing rate 1.0. The mixed batch keeps image and fallback
    payloads on their own paths."""
    import numpy as np

    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        audio_features,
        decode_audio,
        extract_features,
        fake_features,
    )

    sq = [8192, -8192] * 40
    wav = _make_wav(sq, rate=8000)
    samples, rate = decode_audio(wav)
    assert rate == 8000 and samples.shape == (80, 1)
    assert np.array_equal(samples[:, 0], np.array(sq, dtype=np.int16))
    feats = audio_features(wav)
    assert feats[0] == 0.25 and feats[1] == 0.25 and feats[2] == 0.0
    assert feats[3] == 1.0 and feats[4] == 80 / 8000.0

    rows = [
        Row(asset_id=1, media_type="audio", payload=wav),
        Row(asset_id=2, media_type="audio", payload=b"ID3 mp3-ish junk"),
    ]
    df = spark.createDataFrame(rows)
    got = {r["asset_id"]: list(r["features"]) for r in extract_features(df).collect()}
    assert got[1] == audio_features(wav)
    assert got[2] == fake_features(b"ID3 mp3-ish junk")


def _make_avi(frames_rgb, w, h):
    """frames_rgb: list of rows-of-(r,g,b) 2D lists (top-down) -> minimal
    RIFF/AVI with uncompressed 24-bit bottom-up DIB frames."""
    def chunk(cid, body):
        return cid + len(body).to_bytes(4, "little") + body + (b"\x00" if len(body) % 2 else b"")

    strf = (
        (40).to_bytes(4, "little") + w.to_bytes(4, "little")
        + h.to_bytes(4, "little") + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little") + (0).to_bytes(4, "little") + b"\x00" * 20
    )
    hdrl = b"hdrl" + chunk(b"strf", strf)
    row_bytes = (w * 3 + 3) // 4 * 4
    movi = b"movi"
    for fr in frames_rgb:
        raster = b""
        for row in reversed(fr):  # bottom-up
            line = bytes(c for px in row for c in (px[2], px[1], px[0]))
            raster += line + b"\x00" * (row_bytes - len(line))
        movi += chunk(b"00db", raster)
    body = b"AVI " + chunk(b"LIST", hdrl) + chunk(b"LIST", movi)
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_sample_frames_decodes_real_avi_frames(spark):
    """An uncompressed AVI yields REAL sampled frames: true frame
    indices, hashes over the decoded RGB rasters; non-AVI payloads keep
    the byte-stride fallback in the same batch."""
    import hashlib as _hashlib

    import numpy as np

    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        decode_video_frames,
        sample_frames,
    )

    colors = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]
    frames = [[[c, c], [c, c]] for c in colors]  # three 2x2 solid frames
    avi = _make_avi(frames, 2, 2)
    decoded = decode_video_frames(avi)
    assert len(decoded) == 3
    for arr, c in zip(decoded, colors):
        assert np.array_equal(arr, np.full((2, 2, 3), c, dtype=np.uint8)), c

    rows = [
        Row(asset_id=1, media_type="video", payload=avi),
        Row(asset_id=2, media_type="video", payload=b"\x00\x01" * 3000),
    ]
    df = spark.createDataFrame(rows)
    got = {}
    for r in sample_frames(df, every_n_bytes=1024, max_frames=8).collect():
        got.setdefault(r["asset_id"], {})[r["frame_index"]] = r["frame_sha256"]
    assert sorted(got[1]) == [0, 1, 2]
    for i, c in enumerate(colors):
        want = _hashlib.sha256(
            np.full((2, 2, 3), c, dtype=np.uint8).tobytes()
        ).hexdigest()
        assert got[1][i] == want
    assert sorted(got[2]) == [0, 1, 2, 3, 4]  # byte-stride fallback intact


def test_audio_features_single_sample_wav_real_path_no_nan(spark):
    """A valid 1-sample PCM WAV has no adjacent sample pair; the
    zero-crossing rate must be defined as 0.0 (not the silent NaN an
    empty np.mean would produce) and the payload must stay on the REAL
    audio path, with every feature finite."""
    import math

    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        audio_features,
        extract_features,
    )

    wav = _make_wav([1234], rate=8000)
    feats = audio_features(wav)
    assert all(math.isfinite(v) for v in feats)
    assert feats[3] == 0.0  # zero-crossing rate of a single sample
    assert feats[7] == 1.0  # sample count

    df = spark.createDataFrame([Row(asset_id=1, media_type="audio", payload=wav)])
    (got,) = extract_features(df).collect()
    assert list(got["features"]) == feats  # real path, not fake_features


def test_sample_frames_zero_frame_avi_falls_back_to_byte_stride(spark):
    """A structurally valid AVI (strf header present) carrying ZERO frame
    chunks must still emit at least one row per asset via the byte-stride
    stand-in — the one-plus-row-per-asset UDTF contract."""
    import hashlib as _hashlib

    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        decode_video_frames,
        sample_frames,
    )

    avi = _make_avi([], 2, 2)
    assert decode_video_frames(avi) == []  # the decoder itself is honest

    df = spark.createDataFrame([Row(asset_id=7, media_type="video", payload=avi)])
    rows = sample_frames(df, every_n_bytes=1024, max_frames=8).collect()
    assert len(rows) >= 1 and rows[0]["asset_id"] == 7
    assert rows[0]["frame_index"] == 0
    assert rows[0]["frame_sha256"] == _hashlib.sha256(avi[:1024]).hexdigest()


def test_index_dedup_hash_families_produce_identical_pairs(spark, sf_dir):
    """At recall-1.0 parameters (defaults: 32 hashes, 8 bands — measured
    recall 1.0 on this corpus) the "rehash" fast family must produce
    EXACTLY the per-seed family's near-dup pairs: candidates differ, but
    exact verification makes the output equal whenever both families'
    banding catches every true pair."""
    from inf_553_datamining_mapreduce_spark.operators.dedup import (
        build_minhash_index,
        index_near_duplicates,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    idx_docs = docs.filter(F.col("doc_id") % 2 == 0)
    new_docs = docs.filter(F.col("doc_id") % 2 == 1)
    out = {}
    for hf in ("per_seed", "rehash"):
        bt, pl = build_minhash_index(idx_docs, hash_fn=hf)
        out[hf] = {
            (r["new_doc_id"], r["index_doc_id"]): r["jaccard"]
            for r in index_near_duplicates(
                new_docs, bt, pl, hash_fn=hf
            ).collect()
        }
    assert out["per_seed"], "expected planted cross-half near-dups"
    assert out["per_seed"] == out["rehash"]


def _make_png(pixels, alpha=None, filters=None):
    """Minimal PNG encoder for tests: 8-bit RGB (or RGBA when ``alpha``
    rows given), one chosen filter per scanline — so every filter type
    the decoder claims gets exercised against known rasters."""
    import struct
    import zlib

    h, w = len(pixels), len(pixels[0])
    bpp = 3 if alpha is None else 4

    def chunk(ctype, data):
        return (
            len(data).to_bytes(4, "big")
            + ctype
            + data
            + zlib.crc32(ctype + data).to_bytes(4, "big")
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if bpp == 3 else 6, 0, 0, 0)
    rows = []
    for y, row in enumerate(pixels):
        flat = []
        for x, px in enumerate(row):
            flat.extend(px)
            if alpha is not None:
                flat.append(alpha[y][x])
        rows.append(flat)
    filters = filters or [0] * h
    out = b""
    prev = [0] * (w * bpp)
    for y, row in enumerate(rows):
        f = filters[y]
        line = []
        for x, v in enumerate(row):
            a = row[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            line.append((v - pred) & 0xFF)
        out += bytes([f]) + bytes(line)
        prev = row
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(out))
        + chunk(b"IEND", b"")
    )


def test_decode_png_all_filters_exact_pixels():
    """The stdlib-zlib PNG decoder must reconstruct the exact raster
    through every scanline filter (None/Sub/Up/Average/Paeth), strip
    the alpha channel from RGBA, and reject unsupported profiles."""
    import random
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        decode_image,
    )

    rng = random.Random(42)
    pixels = [
        [tuple(rng.randrange(256) for _ in range(3)) for _ in range(6)]
        for _ in range(5)
    ]
    want = np.array(pixels, dtype=np.uint8)
    # one scanline per filter type
    png = _make_png(pixels, filters=[0, 1, 2, 3, 4])
    assert np.array_equal(decode_image(png), want)

    alpha = [[rng.randrange(256) for _ in range(6)] for _ in range(5)]
    rgba = _make_png(pixels, alpha=alpha, filters=[4, 3, 2, 1, 0])
    assert np.array_equal(decode_image(rgba), want)  # alpha stripped

    # 16-bit profile must be rejected, not mis-decoded
    deep = bytearray(_make_png(pixels))
    deep[8 + 8 + 8] = 16  # IHDR bit_depth byte
    with _pytest.raises(NotImplementedError):
        decode_image(bytes(deep))
    # corrupt deflate stream must reject cleanly (no zlib.error escape)
    with _pytest.raises(NotImplementedError):
        decode_image(
            b"\x89PNG\r\n\x1a\n"
            + (13).to_bytes(4, "big") + b"IHDR"
            + struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0) + b"\x00" * 4
            + (5).to_bytes(4, "big") + b"IDAT" + b"junk!" + b"\x00" * 4
            + (0).to_bytes(4, "big") + b"IEND" + zlib.crc32(b"IEND").to_bytes(4, "big")
        )


def test_media_phash_collides_reencoded_jpeg_not_distinct(spark):
    """The integer pHash must be CODEC-INVARIANT for lossless formats
    (PNG and PPM of the same raster hash identically), survive a lossy
    JPEG re-encode within the banding threshold (the low-frequency DCT
    signs outlive quantization noise), and keep distinct images apart —
    so the banded near-dup query pairs the re-encode with its original
    and nothing else."""
    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        media_phash_near_duplicates,
        phash64,
    )

    size = 64

    # photo-like inputs need DENSE AC spectra: piecewise-constant
    # synthetic images leave most of the 8x8 block exactly zero and the
    # median rule degenerates (every real raster — and the text-byte
    # rasters the registry query hashes — is dense). Structure + texture:
    def tex(x, y):
        return ((x * 7 + y * 13 + (x * y) // 3) % 21) - 10

    def clamp(v):
        return max(0, min(255, v))

    pix = [
        [
            (
                v := clamp(
                    (40 if x < size // 2 else 190)
                    + (30 if y < size // 2 else 0)
                    + y // 2
                    + tex(x, y)
                ),
                v,
                v,
            )
            for x in range(size)
        ]
        for y in range(size)
    ]
    # a genuinely different image: a block checkerboard with the texture
    # transposed
    pix2 = [
        [
            (
                v := clamp(
                    (230 if (x // 16 + y // 16) % 2 else 25) + tex(y, x)
                ),
                v,
                v,
            )
            for x in range(size)
        ]
        for y in range(size)
    ]
    png = _make_png(pix)
    jpg = _make_jpeg(pix)
    png2 = _make_png(pix2)
    ppm = (
        b"P6 %d %d 255\n" % (size, size)
        + bytes(c for row in pix for p in row for c in p)
    )

    # lossless codecs of the SAME raster hash identically
    assert phash64(png) == phash64(ppm)
    # lossy re-encode stays inside the banding threshold...
    ham = bin(phash64(png) ^ phash64(jpg)).count("1")
    assert ham <= 8, f"JPEG re-encode drifted {ham} bits"
    # ...while a distinct image is far outside it
    ham2 = bin(phash64(png) ^ phash64(png2)).count("1")
    assert ham2 > 8, f"distinct images only {ham2} bits apart"

    assets = spark.createDataFrame(
        [(1, png), (2, jpg), (3, png2)], "asset_id long, payload binary"
    )
    pairs = {
        (r["asset_a"], r["asset_b"])
        for r in media_phash_near_duplicates(assets, max_hamming=8).collect()
    }
    assert pairs == {(1, 2)}


def test_streaming_phash_index_probe_matches_batch(spark, tmp_path):
    """Ingestion-time image dedup: incoming payloads are hashed, banded,
    and probed against the static pHash index as pure stream-static
    joins — a lossy JPEG re-encode of an indexed PNG is caught, a clean
    image passes, and foreachBatch lands exactly the batch result."""
    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        build_phash_index,
        index_phash_near_duplicates,
    )

    size = 64

    def tex(x, y):
        return ((x * 7 + y * 13 + (x * y) // 3) % 21) - 10

    def clamp(v):
        return max(0, min(255, v))

    def img(base):
        return [
            [(v := clamp(base(x, y) + tex(x, y)),) * 3 for x in range(size)]
            for y in range(size)
        ]

    pix_a = img(lambda x, y: (40 if x < 32 else 190) + y // 2)
    pix_b = img(lambda x, y: (230 if (x // 16 + y // 16) % 2 else 25))
    # concentric rings: measured 32+/63 bits from BOTH indexed hashes
    # (a smooth diagonal gradient lands within 8 bits of the quadrant
    # image — low-frequency above-median sets overlap heavily on such
    # synthetic pairs, so the "clean" probe needs distinct structure)
    pix_c = img(
        lambda x, y: 220
        if ((x - 32) ** 2 + (y - 32) ** 2) // 150 % 2
        else 35
    )

    index_assets = spark.createDataFrame(
        [(10, _make_png(pix_a)), (12, _make_png(pix_b))],
        "asset_id long, payload binary",
    )
    band_tbl, index_sig = build_phash_index(index_assets)
    band_tbl, index_sig = band_tbl.localCheckpoint(), index_sig.localCheckpoint()

    incoming = spark.createDataFrame(
        [(1, _make_jpeg(pix_a)), (3, _make_png(pix_c))],
        "asset_id long, payload binary",
    )
    batch = {
        (r["asset_id"], r["index_asset_id"]): r["hamming"]
        for r in index_phash_near_duplicates(
            incoming, band_tbl, index_sig
        ).collect()
    }
    assert set(batch) == {(1, 10)} and batch[(1, 10)] <= 8

    stream_dir = tmp_path / "phash_stream"
    stream_dir.mkdir()
    incoming.filter(F.col("asset_id") == 1).coalesce(1).write.parquet(
        str(stream_dir / "a")
    )
    incoming.filter(F.col("asset_id") == 3).coalesce(1).write.parquet(
        str(stream_dir / "b")
    )
    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/*")
    )
    out_dir = str(tmp_path / "phash_out")

    def process(batch_df, batch_id):
        index_phash_near_duplicates(batch_df, band_tbl, index_sig).write.mode(
            "append"
        ).parquet(out_dir)

    q = (
        stream.writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["asset_id"], r["index_asset_id"]): r["hamming"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == batch


def test_decode_image_resource_guards(spark):
    """Adversarial payloads must hit the cheap NotImplementedError
    fallback, not a multi-GB allocation: a PNG deflate bomb (tiny IDAT,
    output far beyond the declared raster), implausibly large PNG/GIF
    header dimensions (the 64 MP cap _jpeg_scan already had), and a
    streaming ids-only index probe (batch-only shape) must raise a clear
    ValueError instead of an opaque localCheckpoint AnalysisException."""
    import struct
    import zlib

    import pytest as _pytest

    from inf_553_datamining_mapreduce_spark.operators.dedup import (
        index_near_duplicates,
    )
    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        decode_image,
    )

    def chunk(ctype, data):
        return (
            len(data).to_bytes(4, "big")
            + ctype
            + data
            + zlib.crc32(ctype + data).to_bytes(4, "big")
        )

    # deflate bomb: valid 2x2 RGB IHDR, IDAT inflating to ~10 MB
    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 10_000_000))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(NotImplementedError, match="larger than raster"):
        decode_image(bomb)

    # implausible IHDR dims: must be rejected BEFORE any allocation
    big_png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 70_000, 70_000, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 16))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(NotImplementedError, match="implausibly large"):
        decode_image(big_png)

    # GIF: 16-bit w/h allow ~4.3e9 px; a tiny LZW stream must not drive a
    # limit-sized Python list allocation
    big_gif = (
        b"GIF89a"
        + struct.pack("<HH", 65_535, 65_535)
        + bytes([0x80, 0, 0])  # GCT flag, 2-entry table
        + b"\x00\x00\x00\xff\xff\xff"
        + b"\x2c" + struct.pack("<HHHH", 0, 0, 65_535, 65_535) + b"\x00"
        + bytes([2, 1, 0x4C, 0x00])  # min_code=2, 1-byte data, terminator
        + b"\x3b"
    )
    with _pytest.raises(NotImplementedError, match="implausibly large"):
        decode_image(big_gif)

    # streaming new_docs with carry_payload=False: clear contract error
    stream = spark.readStream.format("rate").load().selectExpr(
        "value AS doc_id", "CAST(value AS STRING) AS text"
    )
    static = spark.createDataFrame(
        [(0, 0, 0)], "band int, bucket long, index_doc_id long"
    )
    payload = spark.createDataFrame(
        [(0, [0], 1)],
        "index_doc_id long, sset array<string>, n_sh long",
    )
    with _pytest.raises(ValueError, match="batch-only"):
        index_near_duplicates(stream, static, payload, carry_payload=False)


def _jpeg_huffman_spec():
    """Test-local canonical Huffman spec: every DC category (0-11) as a
    5-bit code, every AC (run,size) symbol plus EOB/ZRL as a 9-bit code.
    Valid per T.81 C.2 (canonical assignment, all-ones codes unused) and
    deliberately NOT the Annex K example tables — so the decoder is
    proven against DHT reconstruction, not against memorized constants."""
    dc_bits = [0] * 16
    dc_bits[4] = 12  # twelve 5-bit codes
    dc_vals = list(range(12))
    ac_bits = [0] * 16
    ac_bits[8] = 162  # all 162 AC symbols as 9-bit codes
    ac_vals = [0x00, 0xF0] + [
        (run << 4) | size for run in range(16) for size in range(1, 11)
    ]
    return (dc_bits, dc_vals), (ac_bits, ac_vals)


def _jpeg_codebook(bits, vals):
    book, code, v = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            book[vals[v]] = (code, length)
            code += 1
            v += 1
        code <<= 1
    return book


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc, self.nbits = 0, 0

    def write(self, value, length):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc, self.nbits = 0, 0

    def align(self):
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _make_jpeg(pixels, subsample=False, gray=False, restart=None):
    """Minimal baseline JPEG encoder for tests (pure numpy + stdlib):
    flat quant tables (all ones) so the only loss is coefficient
    rounding, test-local Huffman tables (see ``_jpeg_huffman_spec``),
    4:4:4 or 4:2:0 sampling, optional grayscale and restart markers."""
    import numpy as np

    rgb = np.array(pixels, dtype=np.float64)
    h_img, w_img = rgb.shape[0], rgb.shape[1]
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b

    if gray:
        comps = [(1, y, 1, 1)]  # (id, plane, h, v)
        hmax = vmax = 1
    elif subsample:
        comps = [(1, y, 2, 2), (2, cb, 1, 1), (3, cr, 1, 1)]
        hmax = vmax = 2
    else:
        comps = [(1, y, 1, 1), (2, cb, 1, 1), (3, cr, 1, 1)]
        hmax = vmax = 1

    mcus_x = -(-w_img // (8 * hmax))
    mcus_y = -(-h_img // (8 * vmax))

    def pad_to(plane, ph, pw):
        out = np.empty((ph, pw))
        sh, sw = plane.shape
        out[:sh, :sw] = plane
        out[sh:, :sw] = plane[-1:, :]  # edge-replicate pad
        out[:, sw:] = out[:, sw - 1 : sw]
        return out

    planes = []
    for cid, plane, ch, cv in comps:
        if (ch, cv) != (hmax, vmax):
            fy, fx = vmax // cv, hmax // ch
            sh = -(-plane.shape[0] // fy) * fy
            sw = -(-plane.shape[1] // fx) * fx
            p = pad_to(plane, sh, sw)
            plane = p.reshape(sh // fy, fy, sw // fx, fx).mean(axis=(1, 3))
        planes.append(pad_to(plane, mcus_y * cv * 8, mcus_x * ch * 8))

    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        _JPEG_ZIGZAG,
        _jpeg_dct_basis,
    )

    basis = _jpeg_dct_basis()
    (dc_bits, dc_vals), (ac_bits, ac_vals) = _jpeg_huffman_spec()
    dc_book = _jpeg_codebook(dc_bits, dc_vals)
    ac_book = _jpeg_codebook(ac_bits, ac_vals)

    def magnitude(v):
        size = int(abs(v)).bit_length()
        return size, (v if v >= 0 else v + (1 << size) - 1)

    writer = _JpegBitWriter()
    pred = [0] * len(comps)
    mcu_count = 0
    rst_n = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart and mcu_count and mcu_count % restart == 0:
                writer.align()
                writer.out += bytes([0xFF, 0xD0 + rst_n % 8])
                rst_n += 1
                pred = [0] * len(comps)
            mcu_count += 1
            for ci, (cid, _, ch, cv) in enumerate(comps):
                for by in range(cv):
                    for bx in range(ch):
                        y0, x0 = (my * cv + by) * 8, (mx * ch + bx) * 8
                        block = planes[ci][y0 : y0 + 8, x0 : x0 + 8] - 128.0
                        coefs = basis @ block @ basis.T
                        q = np.round(coefs).astype(int).reshape(64)
                        zz = [int(q[_JPEG_ZIGZAG[k]]) for k in range(64)]
                        size, bits = magnitude(zz[0] - pred[ci])
                        pred[ci] = zz[0]
                        code, length = dc_book[size]
                        writer.write(code, length)
                        writer.write(bits, size)
                        run = 0
                        last_nz = max(
                            (k for k in range(1, 64) if zz[k]), default=0
                        )
                        for k in range(1, last_nz + 1):
                            if zz[k] == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, length = ac_book[0xF0]
                                writer.write(code, length)
                                run -= 16
                            size, bits = magnitude(zz[k])
                            code, length = ac_book[(run << 4) | size]
                            writer.write(code, length)
                            writer.write(bits, size)
                            run = 0
                        if last_nz < 63:
                            code, length = ac_book[0x00]
                            writer.write(code, length)
    writer.align()

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    zz_ones = bytes([0x00]) + bytes([1] * 64)  # table 0, 8-bit, all ones
    sof_body = bytes([8]) + h_img.to_bytes(2, "big") + w_img.to_bytes(2, "big")
    sof_body += bytes([len(comps)])
    for cid, _, ch, cv in comps:
        sof_body += bytes([cid, (ch << 4) | cv, 0])
    dht_dc = bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
    dht_ac = bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
    sos_body = bytes([len(comps)])
    for cid, _, _, _ in comps:
        sos_body += bytes([cid, 0x00])
    sos_body += bytes([0, 63, 0])

    out = b"\xff\xd8" + seg(0xDB, zz_ones) + seg(0xC0, sof_body)
    out += seg(0xC4, dht_dc) + seg(0xC4, dht_ac)
    if restart:
        out += seg(0xDD, restart.to_bytes(2, "big"))
    out += seg(0xDA, sos_body) + bytes(writer.out) + b"\xff\xd9"
    return out


def _lzw_encode(indices, min_code):
    """Real GIF-flavor LZW compressor (LSB-first packing, variable code
    width, CLEAR on table-full) — so the decoder's dictionary growth and
    width-bump schedule are exercised for real, not via the
    clear-every-symbol 'uncompressed GIF' shortcut."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    out = bytearray()
    acc = nbits = 0
    width = min_code + 1

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    emit(clear)
    buf = ()
    for px in indices:
        cand = buf + (px,)
        if cand in table:
            buf = cand
            continue
        emit(table[buf])
        table[cand] = next_code
        next_code += 1
        # the decoder lags one entry; it bumps width when ITS table hits
        # 2^width, which is next_code - 1 here
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code > 4095:
            emit(clear)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            width = min_code + 1
        buf = (px,)
    if buf:
        emit(table[buf])
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _make_gif(indices, palette, interlace=False, local_table=False):
    """Minimal GIF89a encoder for tests: one frame, real LZW, global or
    local color table, optional interlacing, plus a skippable extension
    block so the decoder's block walk is exercised."""
    h, w = len(indices), len(indices[0])
    n = max(1, (len(palette) - 1).bit_length()) - 1  # table size field
    pal = bytearray()
    for rgb in palette:
        pal += bytes(rgb)
    pal += b"\x00" * ((2 << n) * 3 - len(pal))  # pad to 2^(n+1) entries
    min_code = max(2, n + 1)

    rows = list(range(h))
    if interlace:
        rows = (
            list(range(0, h, 8))
            + list(range(4, h, 8))
            + list(range(2, h, 4))
            + list(range(1, h, 2))
        )
    flat = [px for y in rows for px in indices[y]]
    lzw = _lzw_encode(flat, min_code)

    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x00 if local_table else 0x80 | n, 0, 0])
    if not local_table:
        out += pal
    # graphic control extension — must be skipped by the decoder
    out += bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])
    out += bytes([0x2C]) + b"\x00" * 4
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    iflags = (0x80 | n if local_table else 0x00) | (0x40 if interlace else 0x00)
    out += bytes([iflags])
    if local_table:
        out += pal
    out += bytes([min_code])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += bytes([0x00, 0x3B])
    return bytes(out)


def test_decode_gif_lzw_exact_pixels():
    """The pure-stdlib LZW decoder must reconstruct exact rasters through
    real compression — dictionary growth across several width bumps
    (256-color random frame), the KwKwK self-reference case (aaaa...),
    interlaced row order, local color tables, and clean rejection of
    truncated streams."""
    import random

    import numpy as np
    import pytest as _pytest

    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        decode_image,
    )

    rng = random.Random(11)
    palette = [tuple(rng.randrange(256) for _ in range(3)) for _ in range(256)]
    idx = [[rng.randrange(256) for _ in range(48)] for _ in range(40)]
    want = np.array([[palette[i] for i in row] for row in idx], dtype=np.uint8)
    assert np.array_equal(decode_image(_make_gif(idx, palette)), want)
    assert np.array_equal(
        decode_image(_make_gif(idx, palette, interlace=True)), want
    )
    assert np.array_equal(
        decode_image(_make_gif(idx, palette, local_table=True)), want
    )

    # KwKwK: a constant run makes the encoder emit a code one beyond the
    # decoder's table — the classic LZW corner case
    small_pal = [(250, 1, 2), (3, 250, 4), (5, 6, 250), (9, 9, 9)]
    runs = [[0] * 19 for _ in range(7)]
    want_runs = np.array(
        [[small_pal[i] for i in row] for row in runs], dtype=np.uint8
    )
    assert np.array_equal(decode_image(_make_gif(runs, small_pal)), want_runs)

    with _pytest.raises(NotImplementedError):
        decode_image(_make_gif(idx, palette)[:-200])  # truncated
    with _pytest.raises(NotImplementedError):
        decode_image(b"GIF89a" + b"\x00" * 20)  # no image frame


def test_decode_gif_roundtrip_property():
    """Property: ANY index raster (any shape, any palette size from 2 to
    256 colors, interlaced or not) survives real-LZW encode → decode
    EXACTLY — LZW is lossless, so a single wrong pixel means a
    dictionary/width-bump desync the fixed-seed test didn't reach."""
    import random

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        decode_image,
    )

    @settings(max_examples=20, deadline=None, derandomize=True)
    @given(
        st.integers(min_value=1, max_value=24),
        st.integers(min_value=1, max_value=24),
        st.integers(min_value=1, max_value=8),
        st.integers(min_value=0, max_value=2**31),
        st.booleans(),
    )
    def check(h, w, pal_bits, seed, interlace):
        rng = random.Random(seed)
        n_colors = 1 << pal_bits
        palette = [
            tuple(rng.randrange(256) for _ in range(3)) for _ in range(n_colors)
        ]
        idx = [[rng.randrange(n_colors) for _ in range(w)] for _ in range(h)]
        want = np.array(
            [[palette[i] for i in row] for row in idx], dtype=np.uint8
        )
        got = decode_image(_make_gif(idx, palette, interlace=interlace))
        assert np.array_equal(got, want)

    check()


def test_decode_jpeg_444_near_exact_pixels():
    """With flat all-ones quant tables the only loss is per-coefficient
    rounding, so 4:4:4 decode must land within a few counts of the
    source raster on random pixels — proving Huffman entropy decode,
    dezigzag, dequantize, IDCT, and the color transform jointly."""
    import random

    import numpy as np

    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        decode_image,
    )

    rng = random.Random(7)
    pixels = [
        [tuple(rng.randrange(256) for _ in range(3)) for _ in range(13)]
        for _ in range(11)
    ]
    want = np.array(pixels, dtype=np.float64)
    got = decode_image(_make_jpeg(pixels))
    assert got.shape == (11, 13, 3)
    err = np.abs(got.astype(np.float64) - want).max()
    assert err <= 3.0, f"max pixel error {err}"


def test_decode_jpeg_roundtrip_property():
    """Property: for ANY raster shape (including single-pixel, single-row,
    non-block-multiple dims) and any pixel content, flat-quant encode →
    decode stays within coefficient-rounding error. Shapes sweep the MCU
    padding edge cases the fixed-seed tests can't."""
    import random

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        decode_image,
    )

    @settings(max_examples=20, deadline=None, derandomize=True)
    @given(
        st.integers(min_value=1, max_value=19),
        st.integers(min_value=1, max_value=19),
        st.integers(min_value=0, max_value=2**31),
        st.booleans(),
    )
    def check(h, w, seed, subsample):
        rng = random.Random(seed)
        pixels = [
            [tuple(rng.randrange(256) for _ in range(3)) for _ in range(w)]
            for _ in range(h)
        ]
        if subsample:
            # keep chroma constant so 2x2 averaging is lossless
            pixels = [[(p[0], p[0], p[0]) for p in row] for row in pixels]
        want = np.array(pixels, dtype=np.float64)
        got = decode_image(_make_jpeg(pixels, subsample=subsample))
        assert got.shape == (h, w, 3)
        # analytical worst case for flat-quant rounding is ~±3.5/channel
        # (0.5 per coefficient through the IDCT's l1 mass) plus the color
        # transform; any structural bug (Huffman, zigzag, placement)
        # errs by tens to hundreds
        assert np.abs(got.astype(np.float64) - want).max() <= 5.0

    check()


def test_decode_jpeg_420_grayscale_and_restart():
    """4:2:0 MCU interleave (4 Y + Cb + Cr per MCU), grayscale
    single-component decode, and restart-marker realignment. The 4:2:0
    raster uses R=G=B so chroma is exactly constant 128 and subsampling
    is lossless — isolating the sampling/placement arithmetic."""
    import numpy as np
    import pytest as _pytest

    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        decode_image,
    )

    # 20x18: not a multiple of 16 in either dimension -> padding + crop
    pixels = [
        [(min(255, 5 * (x + y)),) * 3 for x in range(18)] for y in range(20)
    ]
    want = np.array(pixels, dtype=np.float64)
    got = decode_image(_make_jpeg(pixels, subsample=True))
    assert got.shape == (20, 18, 3)
    err = np.abs(got.astype(np.float64) - want).max()
    assert err <= 3.0, f"max pixel error {err}"

    gray = decode_image(_make_jpeg(pixels, gray=True))
    assert gray.shape == (20, 18, 3)
    assert np.array_equal(gray[..., 0], gray[..., 1])
    gerr = np.abs(gray[..., 0].astype(np.float64) - want[..., 0]).max()
    assert gerr <= 2.0, f"max gray error {gerr}"

    with_rst = decode_image(_make_jpeg(pixels, subsample=True, restart=1))
    assert np.abs(with_rst.astype(np.float64) - want).max() <= 3.0

    # progressive (SOF2) must reject, not mis-decode
    prog = bytearray(_make_jpeg(pixels))
    prog[prog.index(b"\xff\xc0")] = 0xFF  # keep marker prefix
    prog[prog.index(b"\xff\xc0") + 1] = 0xC2
    with _pytest.raises(NotImplementedError):
        decode_image(bytes(prog))
    # truncated entropy stream must reject cleanly
    with _pytest.raises(NotImplementedError):
        decode_image(_make_jpeg(pixels)[:-40])


def test_extract_features_decodes_jpeg_payloads(spark):
    """A baseline JPEG payload must take the REAL image_features path
    through the Arrow-batched kernel (channel means of a near-constant
    raster), while a JPEG-ish junk payload stays on the fallback."""
    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        extract_features,
        fake_features,
        image_features,
    )

    pixels = [[(40, 90, 200)] * 8 for _ in range(8)]
    jpeg = _make_jpeg(pixels)
    rows = [
        Row(asset_id=1, media_type="image", payload=jpeg),
        Row(asset_id=2, media_type="image", payload=b"\xff\xd8\xff jpeg-ish"),
    ]
    got = {
        r["asset_id"]: list(r["features"])
        for r in extract_features(spark.createDataFrame(rows)).collect()
    }
    assert got[1] == image_features(jpeg)
    assert abs(got[1][0] - 40 / 255.0) < 0.02
    assert abs(got[1][1] - 90 / 255.0) < 0.02
    assert abs(got[1][2] - 200 / 255.0) < 0.02
    assert got[2] == fake_features(b"\xff\xd8\xff jpeg-ish")


def test_extract_features_decodes_png_payloads(spark):
    """A PNG payload must take the REAL image_features path end-to-end
    through the Arrow-batched kernel (channel means of a constant
    raster), alongside a genuinely undecodable payload on the fallback."""
    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        extract_features,
        fake_features,
        image_features,
    )

    pixels = [[(10, 120, 250), (10, 120, 250)]]
    png = _make_png(pixels)
    rows = [
        Row(asset_id=1, media_type="image", payload=png),
        Row(asset_id=2, media_type="image", payload=b"\xff\xd8\xff jpeg-ish"),
    ]
    got = {
        r["asset_id"]: list(r["features"])
        for r in extract_features(spark.createDataFrame(rows)).collect()
    }
    assert got[1] == image_features(png)
    assert got[1][0] == 10 / 255.0 and got[1][1] == 120 / 255.0
    assert got[1][2] == 250 / 255.0
    assert got[2] == fake_features(b"\xff\xd8\xff jpeg-ish")


def test_index_dedup_probe_shapes_identical(spark, sf_dir):
    """The two physically different probe shapes — batch ids-only banding
    with payload joined back, and the stream's payload-carry explode —
    must stay OUTPUT-identical on the same index: same pairs, same exact
    jaccard values."""
    from inf_553_datamining_mapreduce_spark.operators.dedup import (
        build_minhash_index,
        index_near_duplicates,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    idx_docs = docs.filter(F.col("doc_id") % 2 == 0)
    new_docs = docs.filter(F.col("doc_id") % 2 == 1)
    bt, pl = build_minhash_index(idx_docs)
    out = {}
    for carry in (False, True):
        out[carry] = {
            (r["new_doc_id"], r["index_doc_id"]): r["jaccard"]
            for r in index_near_duplicates(
                new_docs, bt, pl, carry_payload=carry
            ).collect()
        }
    assert out[False], "expected planted cross-half near-dups"
    assert out[False] == out[True]


# ---------------------------------------------------------------------------
# BPE merge learning


def _ref_bpe(word_counts, n_merges):
    """Brute-force reference BPE (Sennrich et al. 2016): dict-based pair
    counting with overlapping occurrences, (count DESC, lhs ASC, rhs ASC)
    tie-break, greedy left-to-right non-overlapping merge application."""
    vocab = {w: list(w) + ["</w>"] for w in word_counts}
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + word_counts[w]
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (a, b), cnt = best
        merges.append((a, b, a + b, cnt))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def test_bpe_matches_bruteforce_reference(spark):
    from inf_553_datamining_mapreduce_spark.operators.text import bpe_learn

    texts = [
        "the cat sat on the mat",
        "the bats chatter the cat naps",
        "a rat sat the cat spat",
        "that hat that mat that cat",
    ]
    counts = {}
    for t in texts:
        for w in t.split(" "):
            counts[w] = counts.get(w, 0) + 1
    docs = spark.createDataFrame(
        [(i, t, "src0") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )
    merges_df, vocab_df = bpe_learn(docs, n_merges=8)
    got = [
        (r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in merges_df.orderBy("merge_rank").collect()
    ]
    exp_merges, exp_vocab = _ref_bpe(counts, 8)
    assert got == exp_merges
    got_vocab = {r["word"]: list(r["syms"]) for r in vocab_df.collect()}
    assert got_vocab == exp_vocab


def test_bpe_fold_is_greedy_nonoverlapping(spark):
    # "a a a" under pair (a,a) merges once -> [aa, a]; "a b a b" under
    # (a,b) merges twice -> the two classic greedy-semantics pins.
    from pyspark.sql import functions as F

    from inf_553_datamining_mapreduce_spark.operators.text import (
        _bpe_merge_fold,
    )

    df = spark.createDataFrame(
        [(["a", "a", "a"],), (["a", "b", "a", "b"],), (["x"],)],
        "syms array<string>",
    )
    out = [r[0] for r in df.select(F.split(_bpe_merge_fold("a", "a"), " ")).collect()]
    assert out[0] == ["aa", "a"]
    out2 = [r[0] for r in df.select(F.split(_bpe_merge_fold("a", "b"), " ")).collect()]
    assert out2[1] == ["ab", "ab"]
    assert out2[2] == ["x"]  # single-symbol word passes through the fold


def test_bpe_vocab_compression_planted(spark):
    from inf_553_datamining_mapreduce_spark.operators.text import (
        bpe_vocab_compression,
    )

    # One source is pure repetition of one word (compresses to 1 token per
    # word once its spelling is fully merged); the other is diverse.
    docs = spark.createDataFrame(
        [
            (0, "zzyx zzyx zzyx zzyx zzyx zzyx zzyx zzyx", "rep"),
            (1, "the quick brown fox jumps over lazy dogs", "mix"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {
        r["source"]: r
        for r in bpe_vocab_compression(docs, n_merges=8).collect()
    }
    assert rows["rep"]["n_words"] == 8
    # 8 merges fully collapse z-z-y-x-</w> (4 merges needed) long before
    # the diverse source's words collapse.
    assert rows["rep"]["avg_tokens_per_word"] == 1.0
    assert rows["mix"]["avg_tokens_per_word"] > 1.0


def test_streaming_hll_register_merge_matches_batch(spark, sf_dir, tmp_path):
    """HLL registers merged across micro-batches (foreachBatch, plain max
    — the 256-row bounded state a streaming distinct-count ships) must
    equal the batch registers of the full table, EXACTLY: mergeability is
    the sketch's streaming contract, not an approximation."""
    from inf_553_datamining_mapreduce_spark.operators.sketches import (
        hll_registers,
    )

    li = read_parquet_table(spark, sf_dir, "lineitem")
    d = tmp_path / "hll_stream"
    d.mkdir()
    li.filter(F.col("l_orderkey") % 2 == 0).coalesce(1).write.parquet(
        str(d / "even")
    )
    li.filter(F.col("l_orderkey") % 2 == 1).coalesce(1).write.parquet(
        str(d / "odd")
    )
    schema = li.schema
    state: dict = {}

    def merge_batch(batch_df, _bid):
        for r in hll_registers(batch_df, "l_orderkey", ()).collect():
            state[r["bucket"]] = max(state.get(r["bucket"], 0), r["reg"])

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "*"))
        .writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    direct = {
        r["bucket"]: r["reg"]
        for r in hll_registers(li, "l_orderkey", ()).collect()
    }
    assert state == direct


def test_streaming_qsketch_register_merge_matches_batch(spark, sf_dir, tmp_path):
    """Quantile-sketch registers merged across micro-batches (foreachBatch,
    plain per-key SUM — bounded state like the HLL registers) must equal
    the batch registers of the full table EXACTLY, so every quantile bound
    read from the streamed state equals the batch readout."""
    from inf_553_datamining_mapreduce_spark.operators.sketches import (
        qsketch_registers,
    )

    o = read_parquet_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    d = tmp_path / "qs_stream"
    d.mkdir()
    o.filter(F.col("o_orderkey") % 2 == 0).coalesce(1).write.parquet(
        str(d / "even")
    )
    o.filter(F.col("o_orderkey") % 2 == 1).coalesce(1).write.parquet(
        str(d / "odd")
    )
    state: dict = {}

    def merge_batch(batch_df, _bid):
        for r in qsketch_registers(batch_df, cents, ()).collect():
            state[r["key"]] = state.get(r["key"], 0) + r["cnt"]

    q = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "*"))
        .writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    direct = {
        r["key"]: r["cnt"] for r in qsketch_registers(o, cents, ()).collect()
    }
    assert state == direct


# ---------------------------------------------------------------------------
# Fixed-point k-means


def _ref_kmeans(vectors, k, iters):
    """Brute-force reference Lloyd's over quantized vectors: same init
    (first k by vec_id), same (dist, cluster_id) argmin tie-break, same
    truncate-toward-zero integer mean, empty clusters keep centroids."""
    import math

    q = {vid: [math.floor(x * 10000.0) for x in v] for vid, v in vectors}
    ids = sorted(q)
    cent = {c: list(q[ids[c]]) for c in range(k)}
    counts = {}
    for _ in range(iters):
        assign = {}
        for vid in ids:
            best = min(
                (sum((a - b) ** 2 for a, b in zip(q[vid], cent[c])), c)
                for c in range(k)
            )
            assign[vid] = best[1]
        counts = {}
        sums = {}
        for vid, c in assign.items():
            counts[c] = counts.get(c, 0) + 1
            acc = sums.setdefault(c, [0] * len(q[vid]))
            for j, x in enumerate(q[vid]):
                acc[j] += x
        for c in range(k):
            if counts.get(c):
                n = counts[c]
                cent[c] = [
                    int(s / n) if s >= 0 else -int(-s / n)
                    for s in (
                        sums[c][j] for j in range(len(sums[c]))
                    )
                ]
    return cent, counts


def test_kmeans_fixedpoint_matches_bruteforce(spark):
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        kmeans_fixedpoint,
    )

    import random

    rng = random.Random(11)
    vectors = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(6)]) for i in range(40)
    ]
    df = spark.createDataFrame(
        vectors, "vec_id long, embedding array<float>"
    )
    # re-read the float32 values Spark actually stored so the reference
    # quantizes the same bits
    stored = [
        (r["vec_id"], list(r["embedding"]))
        for r in df.orderBy("vec_id").collect()
    ]
    got = kmeans_fixedpoint(df, k=4, iters=3).collect()
    cent, counts = _ref_kmeans(stored, 4, 3)
    for r in got:
        assert r["centroid_q"] == cent[r["cluster_id"]][r["dim"]], r
        assert r["n_points"] == counts.get(r["cluster_id"], 0), r


def test_kmeans_truncating_division_pin(spark):
    # Both engines must truncate integer division toward zero; Spark's
    # `div` on a negative sum is the side the oracle's `//` must match.
    assert spark.sql("SELECT -7 div 2 AS d").first()["d"] == -3
    import duckdb

    assert duckdb.connect().execute("SELECT -7 // 2").fetchone()[0] == -3


def test_kmeans_empty_cluster_keeps_centroid(spark):
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        kmeans_fixedpoint,
    )

    # Seeds 0 and 1 are IDENTICAL vectors: every point ties between them
    # and the (dist, cluster_id) order sends it to cluster 0, so cluster 1
    # starves immediately — it must keep its previous centroid with
    # n_points = 0 rather than vanish from the output.
    pts = (
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [0.4, 0.4])]
        + [(10 + i, [0.4, 0.4 + 0.001 * i]) for i in range(3)]
    )
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    out = kmeans_fixedpoint(df, k=3, iters=3).collect()
    sizes = {r["cluster_id"]: r["n_points"] for r in out}
    assert sizes == {0: 2, 1: 0, 2: 4}
    c1 = {r["dim"]: r["centroid_q"] for r in out if r["cluster_id"] == 1}
    assert c1 == {0: 0, 1: 0}  # starved cluster kept its seed centroid


def test_ivf_fixedpoint_equals_bruteforce_over_probed_cells(spark, sf_dir):
    """The IVF result must be EXACTLY brute-force integer-dot top-k
    restricted to the probed cells — the candidate cut is the only
    approximation. With n_probe = n_clusters the cut disappears and the
    result must equal unrestricted brute force."""
    from pyspark.sql import functions as F

    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        _kmeans_quantized,
        ivf_topk_fixedpoint,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    full = ivf_topk_fixedpoint(
        emb, queries, k=5, n_clusters=4, iters=2, n_probe=4
    ).collect()
    # unrestricted integer-dot brute force
    q = _kmeans_quantized(queries.select(F.col("query_id").alias("vec_id"), "embedding")) \
        .select(F.col("vec_id").alias("query_id"), F.col("q").alias("qq"))
    v = _kmeans_quantized(emb)
    dot = F.aggregate(
        F.zip_with("qq", "q", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    brute = {}
    rows = (
        v.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), dot.alias("d"))
        .collect()
    )
    for r in rows:
        brute.setdefault(r["query_id"], []).append((-r["d"], r["neighbor_id"]))
    for qid in brute:
        brute[qid] = [n for _, n in sorted(brute[qid])[:5]]
    got = {}
    for r in full:
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    for qid in got:
        assert [n for _, n in sorted(got[qid])] == brute[qid], qid


def test_pq_fixedpoint_matches_python_mirror(spark):
    """The full PQ pipeline — quantize, per-subspace Lloyd (truncating
    division, empty codes keep centroids), final encode, ADC lookup-table
    top-k — must match a pure-Python mirror row for row."""
    import math
    import random

    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        pq_topk_fixedpoint,
    )

    rng = random.Random(13)
    dims, m_sub, k_codes, iters, k = 8, 2, 3, 2, 4
    vectors = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(dims)]) for i in range(24)
    ]
    df = spark.createDataFrame(vectors, "vec_id long, embedding array<float>")
    stored = [
        (r["vec_id"], list(r["embedding"]))
        for r in df.orderBy("vec_id").collect()
    ]
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def trunc_div(a, b):
        d = abs(a) // b
        return d if a >= 0 else -d

    qv = {i: [math.floor(float(x) * 10000.0) for x in v] for i, v in stored}
    dsub = dims // m_sub
    subs = {
        (i, s): qv[i][s * dsub : (s + 1) * dsub]
        for i in qv
        for s in range(m_sub)
    }
    ids = sorted(qv)
    cb = {
        (s, c): list(subs[(ids[c], s)])
        for s in range(m_sub)
        for c in range(k_codes)
    }

    def argmin_code(sq, s):
        return min(
            (sum((a - b) ** 2 for a, b in zip(sq, cb[(s, c)])), c)
            for c in range(k_codes)
        )[1]

    for _ in range(iters):
        assign = {key: argmin_code(sq, key[1]) for key, sq in subs.items()}
        for s in range(m_sub):
            for c in range(k_codes):
                pts = [
                    subs[(i, s2)]
                    for (i, s2), cc in assign.items()
                    if s2 == s and cc == c
                ]
                if pts:
                    n = len(pts)
                    cb[(s, c)] = [
                        trunc_div(sum(col), n) for col in zip(*pts)
                    ]
    codes = {key: argmin_code(sq, key[1]) for key, sq in subs.items()}
    expected = set()
    for qid in range(3):
        lut = {
            (s, c): sum(
                (a - b) ** 2 for a, b in zip(subs[(qid, s)], cb[(s, c)])
            )
            for s in range(m_sub)
            for c in range(k_codes)
        }
        scored = sorted(
            (
                sum(lut[(s, codes[(i, s)])] for s in range(m_sub)),
                i,
            )
            for i in qv
            if i != qid
        )[:k]
        for r, (d, n) in enumerate(scored):
            expected.add((qid, n, d, r + 1))

    got = {
        (r["query_id"], r["neighbor_id"], r["adc_q"], r["rank"])
        for r in pq_topk_fixedpoint(
            df, queries, k=k, m_sub=m_sub, k_codes=k_codes, iters=iters,
            dims=dims,
        ).collect()
    }
    assert got == expected


def test_ivfpq_fixedpoint_matches_python_mirror(spark):
    """IVFADC end to end — coarse Lloyd, fresh cell assignment,
    residuals, the SHARED residual product quantizer, n_probe cell
    probing, per-(query, cell) residual LUT, summed-ADC top-k — must
    match a pure-Python mirror row for row."""
    import math
    import random

    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        ivfpq_topk_fixedpoint,
    )

    rng = random.Random(29)
    dims, m_sub, k_codes = 8, 2, 3
    n_clusters, coarse_iters, pq_iters, n_probe, k = 3, 2, 2, 2, 4
    vectors = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(dims)]) for i in range(26)
    ]
    df = spark.createDataFrame(vectors, "vec_id long, embedding array<float>")
    stored = [
        (r["vec_id"], list(r["embedding"]))
        for r in df.orderBy("vec_id").collect()
    ]
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def trunc_div(a, b):
        d = abs(a) // b
        return d if a >= 0 else -d

    def sq(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    qv = {i: [math.floor(float(x) * 10000.0) for x in v] for i, v in stored}
    ids = sorted(qv)
    # coarse Lloyd (first-k init, (dist, c) tie-break, trunc mean)
    cent = {c: list(qv[ids[c]]) for c in range(n_clusters)}
    for _ in range(coarse_iters):
        assign = {
            vid: min((sq(qv[vid], cent[c]), c) for c in cent)[1]
            for vid in ids
        }
        for c in range(n_clusters):
            pts = [qv[v] for v, cc in assign.items() if cc == c]
            if pts:
                cent[c] = [
                    trunc_div(sum(col), len(pts)) for col in zip(*pts)
                ]
    cell = {
        vid: min((sq(qv[vid], cent[c]), c) for c in cent)[1] for vid in ids
    }
    res = {
        vid: [a - b for a, b in zip(qv[vid], cent[cell[vid]])] for vid in ids
    }
    dsub = dims // m_sub
    subs = {
        (i, s): res[i][s * dsub : (s + 1) * dsub]
        for i in ids
        for s in range(m_sub)
    }
    cb = {
        (s, c): list(subs[(ids[c], s)])
        for s in range(m_sub)
        for c in range(k_codes)
    }

    def code_of(v, s):
        return min((sq(v, cb[(s, c)]), c) for c in range(k_codes))[1]

    for _ in range(pq_iters):
        asg = {key: code_of(v, key[1]) for key, v in subs.items()}
        for s in range(m_sub):
            for c in range(k_codes):
                pts = [
                    subs[(i, s2)]
                    for (i, s2), cc in asg.items()
                    if s2 == s and cc == c
                ]
                if pts:
                    cb[(s, c)] = [
                        trunc_div(sum(col), len(pts)) for col in zip(*pts)
                    ]
    codes = {key: code_of(v, key[1]) for key, v in subs.items()}
    expected = set()
    for qid in range(3):
        probed = [
            c
            for _, c in sorted(
                (sq(qv[qid], cent[c]), c) for c in cent
            )[:n_probe]
        ]
        scored = []
        for vid in ids:
            if vid == qid or cell[vid] not in probed:
                continue
            qr = [a - b for a, b in zip(qv[qid], cent[cell[vid]])]
            adc = sum(
                sq(
                    qr[s * dsub : (s + 1) * dsub],
                    cb[(s, codes[(vid, s)])],
                )
                for s in range(m_sub)
            )
            scored.append((adc, vid))
        for r, (d, n) in enumerate(sorted(scored)[:k]):
            expected.add((qid, n, d, r + 1))

    got = {
        (r["query_id"], r["neighbor_id"], r["adc_q"], r["rank"])
        for r in ivfpq_topk_fixedpoint(
            df, queries, k=k, n_clusters=n_clusters,
            coarse_iters=coarse_iters, m_sub=m_sub, k_codes=k_codes,
            pq_iters=pq_iters, n_probe=n_probe, dims=dims,
        ).collect()
    }
    assert got == expected


def test_ivfpq_ingestion_twin_only_returns_indexed_neighbors(spark, sf_dir):
    """The frozen-index contract: incoming (odd) vectors are queries
    ONLY — every returned neighbor comes from the indexed (even) half,
    and every incoming query gets its k rows (the probe always lands on
    trained cells)."""
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        ivfpq_topk_fixedpoint,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    indexed = emb.filter(F.col("vec_id") % 2 == 0)
    incoming = emb.filter(
        (F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 10)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    rows = ivfpq_topk_fixedpoint(
        indexed, incoming, k=3, n_clusters=4, coarse_iters=1, m_sub=4,
        k_codes=4, pq_iters=1, n_probe=2, dims=64,
    ).collect()
    assert rows
    assert all(r["neighbor_id"] % 2 == 0 for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(q % 2 == 1 for q in by_q)
    assert all(sorted(v) == [1, 2, 3] for v in by_q.values())


def test_quality_classifier_matches_python_mirror(spark):
    """Every trained weight of the fixed-point logistic regression must
    match a pure-Python mirror: same hashed features, same hard
    sigmoid, same truncating-division update, epoch for epoch."""
    import hashlib

    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        quality_classifier_fixedpoint,
    )

    docs = [
        (1, "aa bb cc dd ee ff"),
        (2, "aa bb"),
        (3, "gg hh ii jj kk ll mm nn"),
        (4, "gg hh"),
        (5, "aa cc ee gg ii kk mm"),
        (6, "bb dd"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    dims, epochs, s, z0, lr, lmin = 16, 3, 4096, 1 << 10, 1 << 6, 5

    def h60(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16)

    def tdiv(a, b):
        d = abs(a) // b
        return d if a >= 0 else -d

    feats: dict = {}
    labels = {}
    for did, text in docs:
        toks = text.split(" ")
        labels[did] = 1 if len(toks) >= lmin else 0
        for t in toks:
            h = h60(t)
            key = (did, h % dims)
            feats[key] = feats.get(key, 0) + ((h >> 6) % 2) * 2 - 1
    w = [0] * dims
    for _ in range(epochs):
        err = {}
        for did, _ in docs:
            z = sum(
                v * w[d] for (i, d), v in feats.items() if i == did
            )
            p = min(s, max(0, tdiv((z + 2 * z0) * s, 4 * z0)))
            err[did] = labels[did] * s - p
        g = [0] * dims
        for (did, d), v in feats.items():
            g[d] += v * err[did]
        w = [w[d] + tdiv(g[d], lr) for d in range(dims)]

    got = {
        r["dim"]: r["weight_fp"]
        for r in quality_classifier_fixedpoint(
            df, dims=dims, epochs=epochs, sig_scale=s, margin_scale=z0,
            lr_den=lr, label_min_tokens=lmin,
        ).collect()
    }
    assert got == {d: w[d] for d in range(dims)}


def test_quality_classifier_separates_planted_classes(spark):
    """Trained on a linearly separable planted corpus (long docs with
    one vocabulary, short docs with another), the classifier's margins
    must classify every document correctly — the trainer actually
    learns, it doesn't just compute."""
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        quality_classifier_fixedpoint,
    )
    from inf_553_datamining_mapreduce_spark.operators.text import (
        hashed_doc_features,
    )

    docs = []
    for i in range(12):
        docs.append((i, " ".join(f"long{j}" for j in range(20))))
    for i in range(12, 24):
        docs.append((i, " ".join(f"short{j}" for j in range(4))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    w = quality_classifier_fixedpoint(
        df, dims=32, epochs=3, sig_scale=4096, margin_scale=1 << 12,
        lr_den=1 << 8, label_min_tokens=10,
    )
    margins = (
        hashed_doc_features(df, 32)
        .join(w.withColumnRenamed("weight_fp", "w"), "dim")
        .groupBy("doc_id")
        .agg(F.sum(F.col("value") * F.col("w")).alias("z"))
        .collect()
    )
    assert len(margins) == 24
    for r in margins:
        if r["doc_id"] < 12:
            assert r["z"] > 0, (r["doc_id"], r["z"])
        else:
            assert r["z"] < 0, (r["doc_id"], r["z"])


def test_quality_classifier_eval_perfect_on_separable_corpus(spark):
    """Held-out evaluation (r10 verdict item 4): on a linearly separable
    planted corpus the even/odd-split eval must recover EVERY held-out
    label — confusion matrix exactly [[n_bad, 0], [0, n_good]]. Both
    halves share the same two disjoint vocabularies, so the frozen
    even-half weights transfer perfectly to the odd half."""
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        quality_classifier_eval,
    )

    docs = []
    for i in range(24):
        if i % 3 == 0:  # mixes across the even/odd split: 8 good docs
            docs.append((i, " ".join(f"long{j}" for j in range(20))))
        else:  # 16 bad docs
            docs.append((i, " ".join(f"short{j}" for j in range(4))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["y_label"], r["y_pred"]): r["n_docs"]
        for r in quality_classifier_eval(
            df, dims=32, epochs=3, sig_scale=4096, margin_scale=1 << 12,
            lr_den=1 << 8, label_min_tokens=10,
        ).collect()
    }
    # odd half: doc_ids 1,3,...,23 — good ones are the multiples of 3
    # among them (3,9,15,21), the other 8 are bad
    assert got == {(0, 0): 8, (1, 1): 4}


def test_pq_fixedpoint_rejects_indivisible_dims(spark):
    import pytest as _pytest

    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        pq_topk_fixedpoint,
    )

    df = spark.createDataFrame(
        [(0, [0.1, 0.2, 0.3])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="not divisible"):
        pq_topk_fixedpoint(df, df.select(F.col("vec_id").alias("query_id"), "embedding"), dims=3, m_sub=2)


def test_pq_fixedpoint_recall_floor_vs_bruteforce(spark, sf_dir):
    """Measured recall@5 for the PQ family at its REGISTERED lossy
    parameters (r10 verdict item 6) — the number a user needs before
    trusting the 100-TB compression trade. The driver embeddings are
    near-random (max pairwise cosine ~0.5, the lsh_topk test's caveat),
    so true neighbors sit barely above noise and the registered 12-bit
    code (m_sub=4 x k_codes=8) lands at recall ~0.22; the whole pipeline
    is deterministic integer arithmetic, so the floor is tight, not a
    flake margin. The second config shows the fidelity lever: widening
    to m_sub=16 x k_codes=16 (64-bit codes) roughly doubles recall on
    the same corpus."""
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        brute_force_top_k,
        ivfpq_topk_fixedpoint,
        pq_topk_fixedpoint,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact_sets: dict = {}
    for r in brute_force_top_k(emb, queries, k=5).collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(df) -> float:
        rows = df.collect()
        assert rows
        hit = sum(
            1
            for r in rows
            if r["neighbor_id"] in exact_sets.get(r["query_id"], set())
        )
        return hit / len(rows)

    # the registered configs (__spark_entry__ topk_pq_fixedpoint /
    # topk_ivfpq_fixedpoint): 4 subspaces x 3-bit codebooks, probe 2/8
    assert recall(
        pq_topk_fixedpoint(emb, queries, k=5, m_sub=4, k_codes=8,
                           iters=2, dims=64)
    ) >= 0.2
    assert recall(
        ivfpq_topk_fixedpoint(emb, queries, k=5, n_clusters=8,
                              coarse_iters=2, m_sub=4, k_codes=8,
                              pq_iters=2, n_probe=2, dims=64)
    ) >= 0.2
    # fidelity lever: 16 subspaces x 4-bit codebooks
    assert recall(
        pq_topk_fixedpoint(emb, queries, k=5, m_sub=16, k_codes=16,
                           iters=3, dims=64)
    ) >= 0.4


def test_pq_train_sample_lever(spark, sf_dir):
    """The codebook-training sample lever (train_mod): fitting the
    quantizers on a deterministic 1/2 sample must (a) leave every
    vector encoded and searchable (full output shape), (b) stay
    deterministic run to run, (c) keep recall at the registered-config
    floor, and (d) train_mod=1 must be BIT-IDENTICAL to the unsampled
    path (the registered oracles pin that semantics)."""
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        brute_force_top_k,
        ivfpq_topk_fixedpoint,
        pq_topk_fixedpoint,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact_sets: dict = {}
    for r in brute_force_top_k(emb, queries, k=5).collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    base = pq_topk_fixedpoint(
        emb, queries, k=5, m_sub=4, k_codes=8, iters=2, dims=64
    ).collect()
    ident = pq_topk_fixedpoint(
        emb, queries, k=5, m_sub=4, k_codes=8, iters=2, dims=64,
        train_mod=1,
    ).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, ident))

    sampled = pq_topk_fixedpoint(
        emb, queries, k=5, m_sub=4, k_codes=8, iters=2, dims=64,
        train_mod=2,
    ).collect()
    again = pq_topk_fixedpoint(
        emb, queries, k=5, m_sub=4, k_codes=8, iters=2, dims=64,
        train_mod=2,
    ).collect()
    assert sorted(map(tuple, sampled)) == sorted(map(tuple, again))
    assert len(sampled) == len(base)  # every query still answers top-5
    hit = sum(
        1
        for r in sampled
        if r["neighbor_id"] in exact_sets.get(r["query_id"], set())
    )
    # Weak sanity floor only: halving a 500-vector training set is far
    # BELOW any sane codebook training size (the lever is for corpora
    # where 1/train_mod still leaves >> 256*k_codes training points —
    # at the sf10 measurement the sample is 50k); measured 0.10 here vs
    # 0.22 unsampled on the near-random driver vectors.
    assert hit / len(sampled) >= 0.06

    ivf_sampled = ivfpq_topk_fixedpoint(
        emb, queries, k=5, n_clusters=8, coarse_iters=2, m_sub=4,
        k_codes=8, pq_iters=2, n_probe=2, dims=64, train_mod=2,
    ).collect()
    assert len(ivf_sampled) == len(base)


def test_pq_fixedpoint_recall_floor_planted_sf1():
    """Planted-ground-truth recall at the SYNTHESIZED sf1 decade (r11
    verdict item 3): the md5-seeded corpus gives every query ~5k
    near-tie cluster siblings, so recall-vs-brute-force reads ~0 at any
    code width — geometry, not a defect — and the decade sweep proved
    cost scaling but not quality at scale. make_sf1.py now PLANTS one
    unambiguous true neighbor per query (vec_id q+10 = 0.95*v_q + 0.05
    noise, cosine ~0.998 vs ~0.85 siblings), so "was the plant
    retrieved" is a real recall floor at 50k vectors. Pinned at the
    REGISTERED params for full and sampled (train_mod=10) training —
    the sampled recipe must not lose the planted neighbors either.
    Skips when the gitignored sf1 corpus hasn't been generated."""
    sf1 = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".localdata",
        "sf1",
    )
    if not os.path.isdir(os.path.join(sf1, "embeddings.parquet")):
        pytest.skip("run scripts/make_sf1.py to generate the sf1 corpus")
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        ivfpq_topk_fixedpoint,
        pq_topk_fixedpoint,
    )
    from inf_553_datamining_mapreduce_spark.session import get_spark

    spark = get_spark()
    emb = read_parquet_table(spark, sf1, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def planted_recall(df) -> float:
        hits = {
            r["query_id"]
            for r in df.collect()
            if r["neighbor_id"] == r["query_id"] + 10
        }
        return len(hits) / 10

    for train_mod in (None, 10):
        assert planted_recall(
            pq_topk_fixedpoint(
                emb, queries, k=5, m_sub=4, k_codes=8, iters=2, dims=64,
                train_mod=train_mod,
            )
        ) >= 0.8, f"plain PQ, train_mod={train_mod}"
        assert planted_recall(
            ivfpq_topk_fixedpoint(
                emb, queries, k=5, n_clusters=8, coarse_iters=2, m_sub=4,
                k_codes=8, pq_iters=2, n_probe=2, dims=64,
                train_mod=train_mod,
            )
        ) >= 0.8, f"IVFADC, train_mod={train_mod}"


def test_pq_planted_recall_contract(spark, sf_dir):
    """The oracled recall-evaluation query: every probe gets exactly one
    row, the probe/target id arithmetic holds, and a noisy duplicate
    (cosine ~0.998 by construction) is retrieved at rank 1 by the
    registered PQ params — the quality contract the 100-TB index-health
    evaluation runs continuously. Also pins that the sampled-training
    recipe retrieves the planted duplicates identically."""
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        PROBE_ID_OFFSET,
        pq_planted_recall,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    for train_mod in (None, 10):
        rows = pq_planted_recall(
            emb, n_probes=10, k=5, m_sub=4, k_codes=8, iters=2, dims=64,
            train_mod=train_mod,
        ).collect()
        assert len(rows) == 10
        for r in rows:
            assert r["target_id"] == r["query_id"] - PROBE_ID_OFFSET
        found = sum(1 for r in rows if r["target_found"])
        assert found >= 9, f"train_mod={train_mod}: {found}/10"
        rank1 = sum(1 for r in rows if r["target_rank"] == 1)
        if train_mod is None:
            assert rank1 == 10, rows
        else:
            # a 1/10 sample of a 500-vector corpus trains on ~50
            # vectors — far below any sane codebook size (the lever
            # targets corpora where the sample still dwarfs
            # 256*k_codes); duplicates are all still retrieved, some
            # behind code-sharing siblings (measured 6/10 at rank 1)
            assert rank1 >= 6, rows

    # The IVFADC twin adds the probe-cut loss mode: a planted duplicate
    # must land in one of the query's n_probe=2/8 probed cells — the
    # 0.95-scaled probe shares its source's quantized geometry, so the
    # cut loses nothing (measured 10/10 found, 9-10/10 at rank 1).
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        ivfpq_planted_recall,
    )

    rows = ivfpq_planted_recall(
        emb, n_probes=10, k=5, n_clusters=8, coarse_iters=2, m_sub=4,
        k_codes=8, pq_iters=2, n_probe=2, dims=64,
    ).collect()
    assert len(rows) == 10
    assert sum(1 for r in rows if r["target_found"]) >= 9, rows


def test_apply_bpe_merges_reproduces_training_segmentation(spark):
    """Applying the learned merges to the training corpus itself must
    reproduce the trainer's final vocabulary segmentation exactly (the
    sequential one-pass-per-merge apply contract)."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        apply_bpe_merges,
        bpe_learn,
    )

    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat", "s"),
            (1, "that hat that mat that cat", "s"),
        ],
        "doc_id long, text string, source string",
    )
    merges_df, vocab = bpe_learn(docs, n_merges=6)
    merges = [
        (r["lhs"], r["rhs"]) for r in merges_df.orderBy("merge_rank").collect()
    ]
    sizes = {r["word"]: len(r["syms"]) for r in vocab.collect()}
    out = apply_bpe_merges(docs, merges).collect()
    for r in out:
        # recompute expected n_bpe_tokens from the trainer's vocab
        text = {0: "the cat sat on the mat", 1: "that hat that mat that cat"}[
            r["doc_id"]
        ]
        exp = sum(sizes[w] for w in text.split(" "))
        assert r["n_bpe_tokens"] == exp, r


def test_incremental_bpe_tokenize_stream_matches_batch(spark, sf_dir, tmp_path):
    """The apply side is stateless per batch: tokenizing the incoming
    half in two micro-batches (foreachBatch, frozen merges) must union
    to exactly the batch result."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        apply_bpe_merges,
        bpe_learn,
        incremental_bpe_tokenize,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    batch = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in incremental_bpe_tokenize(new, base, n_merges=4).collect()
    }
    merges_df, _ = bpe_learn(base, n_merges=4)
    merges = [
        (r["lhs"], r["rhs"]) for r in merges_df.orderBy("merge_rank").collect()
    ]
    sdir = tmp_path / "bpe_stream"
    sdir.mkdir()
    new.filter(F.col("doc_id") % 4 == 1).coalesce(1).write.parquet(
        str(sdir / "a")
    )
    new.filter(F.col("doc_id") % 4 == 3).coalesce(1).write.parquet(
        str(sdir / "b")
    )
    got = {}

    def each_batch(bdf, _bid):
        for r in apply_bpe_merges(bdf, merges).collect():
            got[r["doc_id"]] = (r["n_words"], r["n_bpe_tokens"])

    q = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(sdir / "*"))
        .writeStream.foreachBatch(each_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert got == batch


def test_bpe_learn_empty_and_exhausted_corpus(spark):
    # No alpha words at all -> zero merges, empty vocab, no crash; and a
    # corpus whose pairs exhaust before n_merges stops early with
    # however many merges exist.
    from inf_553_datamining_mapreduce_spark.operators.text import (
        apply_bpe_merges,
        bpe_learn,
    )

    empty = spark.createDataFrame(
        [(0, "123 456 !!", "s")], "doc_id long, text string, source string"
    )
    merges_df, vocab = bpe_learn(empty, n_merges=4)
    assert merges_df.count() == 0 and vocab.count() == 0
    # apply with an empty merge list = plain char+</w> token counts
    out = apply_bpe_merges(
        spark.createDataFrame(
            [(0, "ab", "s")], "doc_id long, text string, source string"
        ),
        [],
    ).collect()
    assert out[0]["n_bpe_tokens"] == 3  # a, b, </w>
    # single 1-char word: 'a </w>' merges once, then pairs are exhausted
    tiny = spark.createDataFrame(
        [(0, "a a", "s")], "doc_id long, text string, source string"
    )
    m2, v2 = bpe_learn(tiny, n_merges=4)
    assert m2.count() == 1  # (a, </w>) then nothing left to merge
    assert [r["syms"] for r in v2.collect()] == [["a</w>"]]


def test_kmeans_fewer_points_than_k(spark):
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        kmeans_fixedpoint,
    )

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.4, 0.4])], "vec_id long, embedding array<float>"
    )
    out = kmeans_fixedpoint(df, k=5, iters=2).collect()
    # only as many clusters as points exist; sizes cover both points
    ks = {r["cluster_id"] for r in out}
    assert ks == {0, 1}
    sizes = {r["cluster_id"]: r["n_points"] for r in out}
    assert sizes == {0: 1, 1: 1}


def test_hashed_doc_features_matches_python_reference(spark):
    """Signed feature hashing must match a hashlib reference exactly, and
    a document's feature vector must be the sum of its tokens' one-hot
    signed contributions (collision-unbiased construction)."""
    import hashlib

    from inf_553_datamining_mapreduce_spark.operators.text import (
        hashed_doc_features,
    )

    texts = {0: "the cat sat", 1: "spark shuffles data the the"}
    docs = spark.createDataFrame(
        [(i, t, "s") for i, t in texts.items()],
        "doc_id long, text string, source string",
    )
    exp = {}
    for did, t in texts.items():
        for tok in t.split(" "):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            dim, sign = h % 64, ((h >> 6) % 2) * 2 - 1
            exp[(did, dim)] = exp.get((did, dim), 0) + sign
    got = {
        (r["doc_id"], r["dim"]): r["value"]
        for r in hashed_doc_features(docs).collect()
    }
    assert got == exp


def test_document_clusters_fixedpoint_consistency(spark, sf_dir):
    """Cluster sizes must sum to the corpus size, centroids must match a
    driver-side recomputation from the features of the final
    assignment's members (closing the loop on the densify+Lloyd
    composition)."""
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        document_clusters_fixedpoint,
    )
    from inf_553_datamining_mapreduce_spark.operators.text import (
        hashed_doc_features,
    )

    d = read_parquet_table(spark, sf_dir, "documents").limit(60)
    out = document_clusters_fixedpoint(d, dims=16, k=4, iters=2).collect()
    sizes = {}
    cent = {}
    for r in out:
        sizes[r["cluster_id"]] = r["n_points"]
        cent.setdefault(r["cluster_id"], {})[r["dim"]] = r["centroid_q"]
    assert sum(sizes.values()) == d.count()
    # driver-side re-run of the same integer Lloyd loop
    feats = {}
    for r in hashed_doc_features(d, dims=16).collect():
        feats.setdefault(r["doc_id"], [0] * 16)[r["dim"]] = r["value"]
    ids = sorted(feats)
    c = {i: list(feats[ids[i]]) for i in range(4)}
    for _ in range(2):
        assign = {}
        for did in ids:
            best = min(
                (
                    sum((a - b) ** 2 for a, b in zip(feats[did], c[ci])),
                    ci,
                )
                for ci in range(4)
            )
            assign[did] = best[1]
        for ci in range(4):
            members = [did for did in ids if assign[did] == ci]
            if members:
                n = len(members)
                c[ci] = [
                    (s // n) if s >= 0 else -((-s) // n)
                    for s in (
                        sum(feats[did][j] for did in members)
                        for j in range(16)
                    )
                ]
    for ci, dims_map in cent.items():
        assert [dims_map[j] for j in range(16)] == c[ci], ci


# ---------------------------------------------------------------------------
# N-gram LM quality scoring


def test_ilog2_fold_tracks_log2(spark):
    """The fixed-point log2 fold must stay within one mantissa-truncation
    unit of floor(log2(n) * 2^LM_Q) across magnitudes, and be exact on
    powers of two."""
    import math

    from inf_553_datamining_mapreduce_spark.operators.text import (
        LM_Q,
        _ilog2_q_sql,
    )

    vals = [1, 2, 3, 5, 8, 100, 12345, 2**20, 2**31 - 1, 2**40 + 7, 2**62 - 1]
    df = spark.createDataFrame([(v,) for v in vals], "n long")
    got = {
        r["n"]: r["r"]
        for r in df.selectExpr("n", _ilog2_q_sql("n") + " AS r").collect()
    }
    for v in vals:
        assert abs(got[v] - math.log2(v) * (1 << LM_Q)) <= 1.5, (v, got[v])
        if v & (v - 1) == 0:  # power of two: exact
            assert got[v] == int(math.log2(v)) << LM_Q


def test_lm_bigrams_has_bos_and_skips_empty(spark):
    from inf_553_datamining_mapreduce_spark.operators.text import (
        LM_BOS,
        _lm_bigrams,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, "x")], "doc_id long, text string"
    )
    rows = sorted(
        (r["doc_id"], r["w1"], r["w2"])
        for r in _lm_bigrams(docs).collect()
        if r["w2"] != ""  # the empty doc splits to [""], dropped below
    )
    assert (1, LM_BOS, "a") in rows and (1, "a", "b") in rows
    assert (3, LM_BOS, "x") in rows
    # one bigram per token: doc 1 has exactly 3
    assert sum(1 for d, *_ in rows if d == 1) == 3


def test_lm_quality_scores_rank_fluent_below_gibberish(spark):
    """A document made of bigrams frequent in the train split must score
    strictly fewer bits/token than a same-length document of unseen
    tokens — the property the perplexity filter exists for. doc_ids are
    chosen so the scored pair lands in the heldout split (bucket >= 90)
    while the repeated phrase dominates training."""
    import hashlib

    from inf_553_datamining_mapreduce_spark.operators.text import (
        lm_quality_scores,
    )

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100

    train_ids = [i for i in range(1, 200) if bucket(i) < 90][:30]
    heldout_ids = [i for i in range(1, 200) if bucket(i) >= 90][:2]
    rows = [(i, "the cat sat on the mat", "src") for i in train_ids]
    rows.append((heldout_ids[0], "the cat sat on the mat", "src"))
    rows.append((heldout_ids[1], "zq xv qqj vvk pzx wqy", "src"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["doc_id"]: r for r in lm_quality_scores(docs).collect()}
    fluent, gibberish = got[heldout_ids[0]], got[heldout_ids[1]]
    assert fluent["split"] == "heldout" and gibberish["split"] == "heldout"
    assert fluent["n_tokens"] == gibberish["n_tokens"] == 6
    assert fluent["bits_per_token_q6"] < gibberish["bits_per_token_q6"]
    # every train doc scores the same (identical text)
    train_scores = {got[i]["total_bits_q6"] for i in train_ids}
    assert len(train_scores) == 1


def test_incremental_lm_scoring_stateless_across_microbatches(spark, sf_dir, tmp_path):
    """The ingestion-time scorer depends only on (document, frozen model),
    so scoring the incoming docs in micro-batches (foreachBatch, model
    prebuilt once) must concatenate to exactly the batch result."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        build_lm_model,
        incremental_lm_scoring,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    indexed = d.filter(F.col("doc_id") % 2 == 0)
    incoming = d.filter(F.col("doc_id") % 2 == 1)
    model = build_lm_model(indexed)

    sd = tmp_path / "lm_stream"
    sd.mkdir()
    incoming.filter(F.col("doc_id") % 4 == 1).coalesce(1).write.parquet(
        str(sd / "b1")
    )
    incoming.filter(F.col("doc_id") % 4 == 3).coalesce(1).write.parquet(
        str(sd / "b2")
    )
    got: dict = {}

    def score_batch(batch_df, _bid):
        for r in incremental_lm_scoring(batch_df, model).collect():
            got[r["doc_id"]] = (
                r["n_tokens"], r["total_bits_q6"], r["bits_per_token_q6"]
            )

    q = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(sd / "*"))
        .writeStream.foreachBatch(score_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    direct = {
        r["doc_id"]: (r["n_tokens"], r["total_bits_q6"], r["bits_per_token_q6"])
        for r in incremental_lm_scoring(incoming, model).collect()
    }
    assert got == direct and len(direct) > 0


def test_streaming_cms_register_merge_matches_batch(spark, sf_dir, tmp_path):
    """Count-min cells merged across micro-batches (foreachBatch, plain
    per-cell SUM — the depth x width bounded state) must equal the batch
    sketch EXACTLY, so heavy-hitter estimates from streamed state match
    the batch readout."""
    from inf_553_datamining_mapreduce_spark.operators.sketches import (
        cms_sketch,
    )

    ev = read_parquet_table(spark, sf_dir, "events")
    d = tmp_path / "cms_stream"
    d.mkdir()
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(d / "even")
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(d / "odd")
    )
    state: dict = {}

    def merge_batch(batch_df, _bid):
        for r in cms_sketch(batch_df, "user_id").collect():
            k = (r["r"], r["cell"])
            state[k] = state.get(k, 0) + r["cnt"]

    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "*"))
        .writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    direct = {
        (r["r"], r["cell"]): r["cnt"]
        for r in cms_sketch(ev, "user_id").collect()
    }
    assert state == direct


# ---------------------------------------------------------------------------
# Z-order layout


def test_morton_z_interleaves_bits(spark):
    from inf_553_datamining_mapreduce_spark.operators.olap import morton_z

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (0xFFFF, 0xFFFF), (5, 3)], "x long, y long"
    )
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", morton_z(F.col("x"), F.col("y")).alias("z")).collect()
    }

    def ref(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for (x, y), z in got.items():
        assert z == ref(x, y), (x, y, z, ref(x, y))


def _zonemap_widths(rows):
    width = {"natural": [0, 0], "zorder": [0, 0]}
    for r in rows:
        width[r["layout"]][0] += r["max_partkey"] - r["min_partkey"]
        width[r["layout"]][1] += r["max_suppkey"] - r["min_suppkey"]
    return width


def test_zorder_layout_shrinks_both_zonemaps_on_planted_grid(spark):
    """The point of Z-ordering, pinned exactly: on a 64x64 key grid in a
    scrambled natural order, 64 Z-ordered files are EXACTLY the 64 8x8
    Morton blocks (per-file width 7 in both dimensions), while the
    scrambled natural layout's files each span nearly the whole domain.
    A single-column sort can only ever fix one of the two."""
    from inf_553_datamining_mapreduce_spark.operators.olap import (
        zorder_layout_stats,
    )

    rows = []
    for x in range(64):
        for y in range(64):
            # Weyl-sequence scramble: a full cycle of +op mod 4096, so the
            # "natural" (insertion) order interleaves the whole grid.
            i = ((x * 64 + y) * 1663) % 4096
            rows.append((i, 1, x, y))
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_linenumber int, l_partkey long, l_suppkey long"
    )
    got = zorder_layout_stats(li, n_files=64).collect()
    zo = [r for r in got if r["layout"] == "zorder"]
    assert len(zo) == 64
    for r in zo:  # exactly the 8x8 Morton blocks
        assert r["max_partkey"] - r["min_partkey"] == 7
        assert r["max_suppkey"] - r["min_suppkey"] == 7
        assert r["min_partkey"] % 8 == 0 and r["min_suppkey"] % 8 == 0
        assert r["n_rows"] == 64
    width = _zonemap_widths(got)
    # scrambled natural: every file spans ~the full domain in both dims
    assert width["natural"][0] >= 8 * width["zorder"][0]
    assert width["natural"][1] >= 8 * width["zorder"][1]


def test_zorder_layout_no_worse_on_real_table(spark, sf_dir):
    """On the real lineitem table the partkey dimension must shrink
    substantially and the suppkey dimension must not get worse (at tiny
    scale factors the suppkey domain is a handful of values, so its
    zonemaps are saturated under any layout); file sizes stay NTILE-
    balanced."""
    from inf_553_datamining_mapreduce_spark.operators.olap import (
        zorder_layout_stats,
    )

    li = read_parquet_table(spark, sf_dir, "lineitem")
    rows = zorder_layout_stats(li, n_files=32).collect()
    width = _zonemap_widths(rows)
    assert 2 * width["zorder"][0] <= width["natural"][0]
    assert width["zorder"][1] <= width["natural"][1] + 32
    sizes = [r["n_rows"] for r in rows]
    assert max(sizes) - min(sizes) <= 1


# ---------------------------------------------------------------------------
# Integer power iteration (hashed-feature principal component)


def _py_power_iteration(doc_tokens, dims=64, iters=6, scale=16384):
    """Pure-Python integer reference: same md5 features, same X^T X, same
    truncate-toward-zero fixed-point rescaling, same sign convention."""
    import hashlib
    from collections import defaultdict

    feats = defaultdict(lambda: defaultdict(int))
    for doc_id, toks in doc_tokens:
        for tok in toks:
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            feats[doc_id][h % dims] += ((h >> 6) % 2) * 2 - 1
    cov = defaultdict(int)
    for vals in feats.values():
        for i, vi in vals.items():
            for j, vj in vals.items():
                cov[(i, j)] += vi * vj
    mmax = max(abs(m) for m in cov.values())

    def tdiv(a, b):  # truncate toward zero
        q = abs(a) // b
        return q if a >= 0 else -q

    mq = {k: tdiv(m * scale, mmax) for k, m in cov.items()}
    v = {j: scale for j in range(dims)}
    for _ in range(iters):
        u = defaultdict(int)
        for (i, j), m in mq.items():
            if j in v:
                u[i] += m * v[j]
        umax = max(abs(x) for x in u.values())
        v = {i: tdiv(x * scale, umax) for i, x in u.items()}
    s = next(
        (1 if v[j] > 0 else -1) for j in sorted(v) if v[j] != 0
    )
    return {j: v.get(j, 0) * s for j in range(dims)}


def test_power_iteration_matches_python_reference(spark):
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        hashed_feature_principal_component,
    )

    rows = [
        (1, "alpha beta beta gamma"),
        (2, "alpha alpha delta"),
        (3, "beta beta beta epsilon alpha"),
        (4, "zeta eta theta"),
    ]
    docs = spark.createDataFrame(
        [(i, t, "s") for i, t in rows], "doc_id long, text string, source string"
    )
    got = {
        r["dim"]: r["component_q14"]
        for r in hashed_feature_principal_component(docs).collect()
    }
    ref = _py_power_iteration([(i, t.split()) for i, t in rows])
    assert got == ref


def test_power_iteration_finds_planted_dominant_dimension(spark):
    """A corpus dominated by one token must put the iterate's max-abs
    coordinate (= the fixed-point scale, by normalization) on that
    token's hashed dimension."""
    import hashlib

    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        hashed_feature_principal_component,
    )

    dom = "dominant"
    dom_dim = int(hashlib.md5(dom.encode()).hexdigest()[:15], 16) % 64
    rows = [(i, " ".join([dom] * 20 + ["filler%d" % i]), "s") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["dim"]: r["component_q14"]
        for r in hashed_feature_principal_component(docs).collect()
    }
    assert max(got, key=lambda d: abs(got[d])) == dom_dim
    assert abs(got[dom_dim]) == 16384


def test_semantic_dedup_drops_planted_paraphrase(spark):
    """A vector nearly parallel to a smaller-id vector (cosine ~0.999)
    must be dropped; an orthogonal one must be kept; the survivor of the
    near-dup pair is the smaller id."""
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        semantic_dedup_keep_best,
    )

    def vec(*pattern):
        return [float(x) for x in pattern] + [0.0] * (64 - len(pattern))

    rows = [
        (1, vec(0.4, 0.1)),          # keeper
        (2, vec(0.39, 0.11)),        # near-parallel to 1 -> dropped
        (3, vec(0.0, 0.0, 0.4)),     # orthogonal -> kept
        (4, vec(-0.4, -0.1)),        # anti-parallel (dot < 0) -> kept
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup_keep_best(emb, k=1, iters=1).collect()
    }
    assert got == {1: True, 2: False, 3: True, 4: True}


def test_incremental_semantic_dedup_stateless_across_microbatches(
    spark, sf_dir, tmp_path
):
    """The ingestion-time semantic gate depends only on (vector, frozen
    index), so probing the incoming vectors in micro-batches (index
    prebuilt once) must concatenate to exactly the batch result — and a
    planted near-copy of an indexed vector must be caught."""
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        build_semantic_index,
        incremental_semantic_dedup,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    indexed = emb.filter(F.col("vec_id") % 2 == 0)
    # incoming = the odd vectors plus a planted near-copy of indexed vec 0
    first = indexed.orderBy("vec_id").limit(1).collect()[0]
    planted_id = 10**9 + 1
    planted = spark.createDataFrame(
        [(planted_id, [float(x) * 1.01 for x in first["embedding"]])],
        "vec_id long, embedding array<float>",
    )
    incoming = emb.filter(F.col("vec_id") % 2 == 1).unionByName(planted)
    index = build_semantic_index(indexed, k=4, iters=2)

    sd = tmp_path / "sem_stream"
    sd.mkdir()
    incoming.filter(F.col("vec_id") % 4 == 1).coalesce(1).write.parquet(
        str(sd / "b1")
    )
    incoming.filter(F.col("vec_id") % 4 != 1).coalesce(1).write.parquet(
        str(sd / "b2")
    )
    got: dict = {}

    def probe_batch(batch_df, _bid):
        for r in incremental_semantic_dedup(batch_df, index).collect():
            got[r["vec_id"]] = (r["cluster_id"], r["kept"])

    q = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(sd / "*"))
        .writeStream.foreachBatch(probe_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    direct = {
        r["vec_id"]: (r["cluster_id"], r["kept"])
        for r in incremental_semantic_dedup(incoming, index).collect()
    }
    assert got == direct and len(direct) == incoming.count()
    assert direct[planted_id][1] is False  # the near-copy is caught


def _ilog2_q6_py(n: int) -> int:
    """Python mirror of text._ilog2_q_sql (Q=6)."""
    e = n.bit_length() - 1
    m = n >> (e - 30) if e >= 30 else n << (30 - e)
    r = e
    for _ in range(6):
        mm = m * m
        if mm >= 1 << 61:
            m, r = mm >> 31, r * 2 + 1
        else:
            m, r = mm >> 30, r * 2
    return r


def _bm25_py(texts: dict, terms, top_k: int):
    """Integer BM25 mirror: same fixed-point arithmetic as bm25_search."""
    toks = {i: t.split(" ") for i, t in texts.items()}
    dl = {i: len(ts) for i, ts in toks.items()}
    n, s = len(toks), sum(dl.values())
    out = {}
    for term in terms:
        df = sum(1 for ts in toks.values() if term in ts)
        if df == 0:
            continue
        idf = _ilog2_q6_py(2 * n + 2) - _ilog2_q6_py(2 * df + 1)
        for i, ts in toks.items():
            tf = ts.count(term)
            if tf == 0:
                continue
            part = (2816 * s * tf) // (20 * s * tf + 6 * s + 18 * dl[i] * n)
            hit, score = out.get(i, (0, 0))
            out[i] = (hit + 1, score + idf * part)
    ranked = sorted(out.items(), key=lambda kv: (-kv[1][1], kv[0]))[:top_k]
    return [
        (rank + 1, i, hit, score)
        for rank, (i, (hit, score)) in enumerate(ranked)
    ]


def test_bm25_matches_integer_mirror_and_ranks_rare_terms_first(spark):
    """BM25 scores must equal the pure-Python fixed-point mirror bit for
    bit, rank the rare-term document above the common-term one (idf), and
    saturate tf (20 repetitions buy < 3x the score of one occurrence —
    k1 = 1.2 caps term contribution)."""
    from inf_553_datamining_mapreduce_spark.operators.text import bm25_search

    filler = "alpha beta gamma delta epsilon zeta eta theta"
    texts = {1: "needle " + filler, 2: "common " + filler}
    for i in range(3, 40):
        texts[i] = f"common word{i} " + filler
    texts[40] = ("needle " * 20).strip() + " " + filler
    docs = spark.createDataFrame(
        [(i, t, "src") for i, t in texts.items()],
        "doc_id long, text string, source string",
    )
    got = [
        (r["rank"], r["doc_id"], r["terms_hit"], r["score_q12"])
        for r in bm25_search(
            docs, ("needle", "common"), top_k=10
        ).collect()
    ]
    assert got == _bm25_py(texts, ("needle", "common"), 10)
    scores = {doc: score for _, doc, _, score in got}
    # rare term beats common term at equal tf/dl
    assert scores[1] > scores[2]
    # tf saturation: 20x repetition is far from 20x (even 3x) the score
    assert scores[40] < 3 * scores[1]
    # and still the top hit overall
    assert got[0][1] == 40


def test_incremental_bm25_stateless_and_frozen_stats(spark, tmp_path):
    """Ingestion-time BM25 scores depend only on (document, frozen index
    stats): micro-batched scoring concatenates to the batch result, and
    a document's score is unchanged by other incoming documents (the
    idf/avgdl side is frozen)."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        build_bm25_index,
        incremental_bm25_scoring,
    )

    filler = "alpha beta gamma delta"
    indexed_rows = [
        (2 * i, f"common word{i} " + filler, "src") for i in range(1, 30)
    ] + [(60, "needle " + filler, "src")]
    indexed = spark.createDataFrame(
        indexed_rows, "doc_id long, text string, source string"
    )
    incoming_rows = [
        (1, "needle common " + filler, "src"),
        (3, "common " + filler, "src"),
        (5, "needle needle needle " + filler, "src"),
    ]
    incoming = spark.createDataFrame(
        incoming_rows, "doc_id long, text string, source string"
    )
    index = build_bm25_index(indexed, ("needle", "common"))

    direct = {
        r["doc_id"]: (r["terms_hit"], r["score_q12"])
        for r in incremental_bm25_scoring(
            incoming, index, ("needle", "common")
        ).collect()
    }
    assert set(direct) == {1, 3, 5}
    # frozen stats: scoring doc 1 alone gives the identical score
    alone = {
        r["doc_id"]: (r["terms_hit"], r["score_q12"])
        for r in incremental_bm25_scoring(
            incoming.filter(F.col("doc_id") == 1), index, ("needle", "common")
        ).collect()
    }
    assert alone[1] == direct[1]

    sd = tmp_path / "bm25_stream"
    sd.mkdir()
    incoming.filter(F.col("doc_id") == 1).coalesce(1).write.parquet(
        str(sd / "b1")
    )
    incoming.filter(F.col("doc_id") != 1).coalesce(1).write.parquet(
        str(sd / "b2")
    )
    got: dict = {}

    def score_batch(batch_df, _bid):
        for r in incremental_bm25_scoring(
            batch_df, index, ("needle", "common")
        ).collect():
            got[r["doc_id"]] = (r["terms_hit"], r["score_q12"])

    q = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(sd / "*"))
        .writeStream.foreachBatch(score_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert got == direct


def test_bm25_index_dedupes_query_terms(spark):
    """A duplicated query term must not double-count its idf row: the
    index dedupes order-preservingly, so scores and terms_hit match the
    distinct-terms run exactly (ADVICE r9)."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        build_bm25_index,
        incremental_bm25_scoring,
    )

    filler = "alpha beta gamma delta"
    indexed = spark.createDataFrame(
        [(2, "needle " + filler, "s"), (4, "common " + filler, "s")],
        "doc_id long, text string, source string",
    )
    incoming = spark.createDataFrame(
        [(1, "needle common " + filler, "s")],
        "doc_id long, text string, source string",
    )
    base = {
        r["doc_id"]: (r["terms_hit"], r["score_q12"])
        for r in incremental_bm25_scoring(
            incoming,
            build_bm25_index(indexed, ("needle", "common")),
            ("needle", "common"),
        ).collect()
    }
    duped = {
        r["doc_id"]: (r["terms_hit"], r["score_q12"])
        for r in incremental_bm25_scoring(
            incoming,
            build_bm25_index(indexed, ("needle", "common", "needle")),
            ("needle", "common", "needle"),
        ).collect()
    }
    assert duped == base
    assert base[1][0] == 2


def _wav_bytes(samples, channels=1, rate=8000):
    import struct

    data = b"".join(
        struct.pack("<h", int(s)) for frame in samples for s in (
            frame if isinstance(frame, (tuple, list)) else (frame,)
        )
    )
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack(
            "<IHHIIHH", 16, 1, channels, rate, rate * 2 * channels,
            2 * channels, 16,
        )
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def test_audio_fingerprint_level_invariance_and_discrimination():
    """The delta-sign fingerprint is invariant under exact gain (x2
    scales every band energy equally), moves a few bits under a light
    edit, and differs in ~half of 63 bits for an unrelated clip. Stereo
    whose floor-averaged mono equals the original fingerprints
    identically (the decode -> mono path)."""
    import random

    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        audio_fingerprint64,
    )

    rng = random.Random(5)
    a = [rng.randint(-12000, 12000) for _ in range(1024)]
    fa = audio_fingerprint64(_wav_bytes(a))
    # exact gain: every sample doubled
    assert audio_fingerprint64(_wav_bytes([2 * s for s in a])) == fa
    # light edit: a 16-sample splice
    edited = list(a)
    for i in range(200, 216):
        edited[i] = -edited[i]
    he = bin(fa ^ audio_fingerprint64(_wav_bytes(edited))).count("1")
    assert he <= 8
    # unrelated clip
    c = [rng.randint(-12000, 12000) for _ in range(1024)]
    hc = bin(fa ^ audio_fingerprint64(_wav_bytes(c))).count("1")
    assert hc > 12
    # stereo averaging to the same mono
    stereo = [(s - 1, s + 1) for s in a]  # floor((2s)/2) = s
    assert audio_fingerprint64(_wav_bytes(stereo, channels=2)) == fa
    # undecodable payload falls back deterministically, no raise
    assert isinstance(audio_fingerprint64(b"not audio"), int)


def test_audio_near_duplicates_banding_and_index_probe(spark):
    """The banded self-join finds the re-levelled copy and not the
    unrelated clip; the frozen-index probe (ingestion twin) catches an
    incoming near-copy of an indexed clip with the same hamming."""
    import random

    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        audio_near_duplicates,
        build_afp_index,
        index_audio_near_duplicates,
    )

    rng = random.Random(11)
    a = [rng.randint(-12000, 12000) for _ in range(1024)]
    c = [rng.randint(-12000, 12000) for _ in range(1024)]
    assets = spark.createDataFrame(
        [
            (1, bytearray(_wav_bytes(a))),
            (2, bytearray(_wav_bytes([2 * s for s in a]))),
            (3, bytearray(_wav_bytes(c))),
        ],
        "asset_id long, payload binary",
    )
    pairs = {
        (r["asset_a"], r["asset_b"]): r["hamming"]
        for r in audio_near_duplicates(assets, max_hamming=8).collect()
    }
    assert pairs == {(1, 2): 0}

    band_tbl, index_sig = build_afp_index(
        assets.filter(F.col("asset_id") == 1)
    )
    probes = {
        (r["asset_id"], r["index_asset_id"]): r["hamming"]
        for r in index_audio_near_duplicates(
            assets.filter(F.col("asset_id") > 1), band_tbl, index_sig,
            max_hamming=8,
        ).collect()
    }
    assert probes == {(2, 1): 0}


def test_index_audio_probe_survives_hot_band_cut(spark):
    """The frozen-index probe must emit a pair even when the hot-bucket
    cut removed the pair's FIRST colliding band from the index (ADVICE
    r8): a raw-fingerprint first-band filter drops it silently; the
    cut-aware min-band dedup keeps it via the surviving cooler band —
    and emits it exactly once."""
    import random

    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        audio_fingerprint64,
        index_audio_near_duplicates,
    )

    rng = random.Random(7)
    payload = _wav_bytes([rng.randint(-12000, 12000) for _ in range(1024)])
    fa = audio_fingerprint64(payload)
    # Index bands of an IDENTICAL clip (id 100) with band 0 — the pair's
    # first colliding band — cut, as max_band_df would on a hot bucket.
    band_tbl = spark.createDataFrame(
        [(100, b, (fa >> (7 * b)) & 0x7F) for b in range(1, 9)],
        "index_asset_id long, band int, chunk long",
    )
    index_sig = spark.createDataFrame(
        [(100, fa)], "index_asset_id long, index_afp long"
    )
    rows = index_audio_near_duplicates(
        spark.createDataFrame(
            [(1, bytearray(payload))], "asset_id long, payload binary"
        ),
        band_tbl,
        index_sig,
        max_hamming=8,
    ).collect()
    assert [(r["asset_id"], r["index_asset_id"], r["hamming"]) for r in rows] \
        == [(1, 100, 0)]


def test_incremental_bm25_unseen_query_term_gets_smoothed_idf(spark):
    """A query term ABSENT from the indexed corpus still scores incoming
    documents with Okapi's +1-smoothed df=0 idf ilog2_q6(2N+2) and is
    counted in terms_hit (ADVICE r8) — bit-exact vs the Python mirror."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        build_bm25_index,
        incremental_bm25_scoring,
    )

    filler = "alpha beta gamma delta"
    indexed_texts = [f"common word{i} {filler}" for i in range(1, 6)]
    indexed = spark.createDataFrame(
        [(2 * i, t, "src") for i, t in enumerate(indexed_texts, start=1)],
        "doc_id long, text string, source string",
    )
    incoming_text = "needle common " + filler
    incoming = spark.createDataFrame(
        [(1, incoming_text, "src")],
        "doc_id long, text string, source string",
    )
    index = build_bm25_index(indexed, ("needle", "common"))
    got = {
        r["doc_id"]: (r["terms_hit"], r["score_q12"])
        for r in incremental_bm25_scoring(
            incoming, index, ("needle", "common")
        ).collect()
    }
    n = len(indexed_texts)
    s = sum(len(t.split(" ")) for t in indexed_texts)
    dl = len(incoming_text.split(" "))

    def contrib(df: int, tf: int) -> int:
        idf = _ilog2_q6_py(2 * n + 2) - _ilog2_q6_py(2 * df + 1)
        return idf * (
            (2816 * s * tf) // (20 * s * tf + 6 * s + 18 * dl * n)
        )

    # "needle" never appears in the index: df=0, idf = ilog2_q6(2N+2) > 0
    assert got == {1: (2, contrib(0, 1) + contrib(5, 1))}


def test_streaming_incremental_bm25_recovery_resumes_exactly_once(
    spark, sf_dir, tmp_path
):
    """Kill-and-resume for the frozen-index BM25 scorer: stateless
    per-document scoring (frozen idf/avgdl), so exactly-once across a
    restart rests on the file source's checkpointed offsets plus an
    idempotent per-batch sink (overwrite by batch id — a replayed batch
    lands on its own path). Run 1 scores half the incoming docs and
    terminates; run 2 resumes from the SAME checkpoint with the rest
    staged. The union of landed scores must equal the batch twin exactly
    once — no doc lost at the kill point, none double-scored."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        build_bm25_index,
        incremental_bm25_scoring,
    )

    terms = ("dup", "vector", "spark")
    docs = read_parquet_table(spark, sf_dir, "documents")
    index = build_bm25_index(docs.filter(F.col("doc_id") % 2 == 0), terms)
    new_docs = docs.filter(F.col("doc_id") % 2 == 1)
    golden = {
        r["doc_id"]: (r["terms_hit"], r["score_q12"])
        for r in incremental_bm25_scoring(new_docs, index, terms).collect()
    }
    assert golden, "expected scored incoming docs"

    stream_dir = tmp_path / "docs_stream"
    stream_dir.mkdir()
    new_docs.filter(F.col("doc_id") % 4 == 1).coalesce(1).write.parquet(
        str(stream_dir / "a")
    )
    out_dir = tmp_path / "scores_out"
    ckpt = str(tmp_path / "ckpt")

    def score_batch(batch_df, bid):
        incremental_bm25_scoring(batch_df, index, terms).write.mode(
            "overwrite"
        ).parquet(str(out_dir / f"batch={bid}"))

    def run_stream():
        q = (
            spark.readStream.schema(new_docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stream_dir}/*")
            .writeStream.foreachBatch(score_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream()  # run 1: first half, then "killed"
    got_half = {
        r["doc_id"]: (r["terms_hit"], r["score_q12"])
        for r in spark.read.parquet(str(out_dir / "batch=*")).collect()
    }
    want_half = {
        r["doc_id"]: (r["terms_hit"], r["score_q12"])
        for r in incremental_bm25_scoring(
            new_docs.filter(F.col("doc_id") % 4 == 1), index, terms
        ).collect()
    }
    assert got_half == want_half

    new_docs.filter(F.col("doc_id") % 4 == 3).coalesce(1).write.parquet(
        str(stream_dir / "b")
    )
    run_stream()  # resume from the same checkpoint
    landed = spark.read.parquet(str(out_dir / "batch=*"))
    got_all = {
        r["doc_id"]: (r["terms_hit"], r["score_q12"])
        for r in landed.collect()
    }
    assert got_all == golden
    assert landed.count() == len(golden)  # exactly once, no dupes


def test_streaming_incremental_audio_fp_recovery_resumes_exactly_once(
    spark, tmp_path
):
    """Kill-and-resume for the frozen-index audio-fingerprint probe:
    per-clip banding + stream-static bucket join, idempotent per-batch
    sink. Run 1 probes half the incoming clips, run 2 resumes from the
    same checkpoint; the landed pairs equal the batch probe exactly
    once."""
    import random

    from inf_553_datamining_mapreduce_spark.operators.multimodal import (
        build_afp_index,
        index_audio_near_duplicates,
    )

    rng = random.Random(23)
    clips = {
        i: [rng.randint(-12000, 12000) for _ in range(1024)]
        for i in range(1, 5)
    }
    index_assets = spark.createDataFrame(
        [(i, bytearray(_wav_bytes(s))) for i, s in clips.items()],
        "asset_id long, payload binary",
    )
    band_tbl, index_sig = build_afp_index(index_assets)
    incoming_rows = [
        (11, bytearray(_wav_bytes([2 * v for v in clips[1]]))),  # dup of 1
        (12, bytearray(_wav_bytes(
            [rng.randint(-12000, 12000) for _ in range(1024)]))),
        (13, bytearray(_wav_bytes([2 * v for v in clips[3]]))),  # dup of 3
        (14, bytearray(_wav_bytes(
            [rng.randint(-12000, 12000) for _ in range(1024)]))),
    ]
    incoming = spark.createDataFrame(
        incoming_rows, "asset_id long, payload binary"
    )
    golden = {
        (r["asset_id"], r["index_asset_id"]): r["hamming"]
        for r in index_audio_near_duplicates(
            incoming, band_tbl, index_sig, max_hamming=8
        ).collect()
    }
    assert {(11, 1), (13, 3)} <= set(golden)

    stream_dir = tmp_path / "clips_stream"
    stream_dir.mkdir()
    incoming.filter(F.col("asset_id") <= 12).coalesce(1).write.parquet(
        str(stream_dir / "a")
    )
    out_dir = tmp_path / "pairs_out"
    ckpt = str(tmp_path / "ckpt")

    def probe_batch(batch_df, bid):
        index_audio_near_duplicates(
            batch_df, band_tbl, index_sig, max_hamming=8
        ).write.mode("overwrite").parquet(str(out_dir / f"batch={bid}"))

    def run_stream():
        q = (
            spark.readStream.schema(incoming.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stream_dir}/*")
            .writeStream.foreachBatch(probe_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream()  # run 1: clips 11-12 only
    got_half = {
        (r["asset_id"], r["index_asset_id"]): r["hamming"]
        for r in spark.read.parquet(str(out_dir / "batch=*")).collect()
    }
    assert got_half == {k: v for k, v in golden.items() if k[0] <= 12}

    incoming.filter(F.col("asset_id") > 12).coalesce(1).write.parquet(
        str(stream_dir / "b")
    )
    run_stream()  # resume
    landed = spark.read.parquet(str(out_dir / "batch=*"))
    got_all = {
        (r["asset_id"], r["index_asset_id"]): r["hamming"]
        for r in landed.collect()
    }
    assert got_all == golden
    assert landed.count() == len(golden)


def test_lsh_planted_recall_contract(spark, sf_dir):
    """r12 verdict item 6: the float-LSH recall row. Every probe gets
    exactly one row, the id arithmetic holds, and at the REGISTERED
    topk_cosine_lsh params (4 planes, 32 tables) every planted noisy
    duplicate is retrieved at rank 1 — the brute-force oracle pins this
    as a recall floor of 1.0 on the planted class, so this test failing
    means the registered row goes red, not just a quality dip."""
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        PROBE_ID_OFFSET,
        lsh_planted_recall,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    rows = lsh_planted_recall(
        emb, n_probes=10, k=5, num_planes=4, num_tables=32
    ).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["target_id"] == r["query_id"] - PROBE_ID_OFFSET
    assert all(r["target_found"] for r in rows), rows
    assert all(r["target_rank"] == 1 for r in rows), rows

    # Lossier banding (1 table) may miss buckets — the report stays
    # well-formed and NULL-free either way (rank 0 = not retrieved).
    lossy = lsh_planted_recall(
        emb, n_probes=10, k=5, num_planes=8, num_tables=1
    ).collect()
    assert len(lossy) == 10
    assert all(r["target_rank"] is not None for r in lossy)
    for r in lossy:
        assert r["target_found"] == (r["target_rank"] >= 1)


def test_hybrid_retrieval_rrf_contract(spark, sf_dir):
    """RRF fusion invariants: total NULL-free ranking, rank arithmetic
    reproducible from the leg ranks, both-leg docs outrank equal-rank
    singles, and the probe document never appears as a candidate."""
    from inf_553_datamining_mapreduce_spark.operators.similarity import (
        RRF_SCALE,
        hybrid_retrieval_rrf,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    rows = hybrid_retrieval_rrf(
        d, emb, ("dup", "vector", "spark"), probe_id=0, top_k=10, k0=60
    ).collect()

    assert rows, "fusion returned no candidates"
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(r["doc_id"] != 0 for r in rows), "probe leaked as candidate"
    for r in rows:
        expect = 0
        if r["lex_rank"] > 0:
            expect += RRF_SCALE // (60 + r["lex_rank"])
        if r["sem_rank"] > 0:
            expect += RRF_SCALE // (60 + r["sem_rank"])
        assert r["rrf_q9"] == expect
        assert not (r["lex_rank"] == 0 and r["sem_rank"] == 0)
    # Fused order is rrf desc with doc_id tie-break.
    scored = [(-r["rrf_q9"], r["doc_id"]) for r in rows]
    assert scored == sorted(scored)
    # A doc present in both legs beats any single-leg doc whose one rank
    # equals either of its ranks (1/(k+r) + positive > 1/(k+r)).
    both = [r for r in rows if r["lex_rank"] > 0 and r["sem_rank"] > 0]
    singles = [r for r in rows if (r["lex_rank"] > 0) != (r["sem_rank"] > 0)]
    for b in both:
        for s in singles:
            srank = s["lex_rank"] or s["sem_rank"]
            if srank in (b["lex_rank"], b["sem_rank"]):
                assert b["rrf_q9"] > s["rrf_q9"]


def test_sequence_packing_plan_invariants(spark, sf_dir):
    """Window packing invariants: every window but the last holds
    exactly ``budget`` tokens, totals reconcile with the corpus token
    count, and straddle counts match the window-over-window overlap."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        sequence_packing_plan,
        tokens_col,
    )

    budget = 64
    d = read_parquet_table(spark, sf_dir, "documents")
    plan = sequence_packing_plan(d, budget=budget).collect()
    total_tokens = d.select(
        F.sum(F.size(tokens_col("text"))).alias("s")
    ).collect()[0]["s"]

    assert [r["window_id"] for r in plan] == list(range(len(plan)))
    assert sum(r["window_tokens"] for r in plan) == total_tokens
    for r in plan[:-1]:
        assert r["window_tokens"] == budget
    assert 0 < plan[-1]["window_tokens"] <= budget
    for r in plan:
        assert 1 <= r["n_docs"]
        assert 0 <= r["n_continuing"] <= 1  # one straddler per boundary
    # A window's continuing doc is the next window's carried-in doc:
    # whenever window w has a straddler, window w+1 must exist.
    for r, nxt in zip(plan, plan[1:]):
        if r["n_continuing"]:
            assert nxt["n_docs"] >= 1
    assert plan[-1]["n_continuing"] == 0


def test_dsir_importance_weights_favor_target_slice(spark, sf_dir):
    """DSIR semantic sanity: documents from the target source must score
    higher on average than the rest of the pool (their own n-grams drive
    the target model), weights reconcile with the per-doc feature count
    bound, and the selected flag is exactly the weight sign."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        dsir_importance_weights,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    rows = dsir_importance_weights(d, target_source="src0", dims=1024).collect()
    assert rows and len(rows) == d.count()

    tgt = [r for r in rows if r["source"] == "src0"]
    rest = [r for r in rows if r["source"] != "src0"]
    assert tgt and rest
    mean = lambda xs: sum(x["weight_q6"] for x in xs) / len(xs)
    assert mean(tgt) > mean(rest)
    for r in rows:
        assert r["selected"] == (1 if r["weight_q6"] > 0 else 0)
        # |per-occurrence contribution| is bounded by the log2 range of
        # the count tables (counts <= corpus bigrams < 2^40 -> ilog2_q6
        # < 40*64) plus the normalizer — a loose but real sanity bound.
        assert abs(r["weight_q6"]) <= r["n_feats"] * 40 * 64 + 1


def test_incremental_dsir_stateless_and_frozen_model(spark, sf_dir):
    """Frozen-model DSIR contract: scoring the incoming docs in two
    micro-batches against the SAME frozen model concatenates to the
    one-batch result (statelessness), and the frozen model itself is
    reusable across probes without re-derivation."""
    from inf_553_datamining_mapreduce_spark.operators.text import (
        build_dsir_model,
        incremental_dsir_scoring,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    indexed = d.filter(F.col("doc_id") % 2 == 0)
    incoming = d.filter(F.col("doc_id") % 2 == 1)
    model = build_dsir_model(indexed, target_source="src0", dims=1024)

    whole = incremental_dsir_scoring(incoming, model).collect()
    b1 = incremental_dsir_scoring(
        incoming.filter(F.col("doc_id") % 4 == 1), model
    ).collect()
    b2 = incremental_dsir_scoring(
        incoming.filter(F.col("doc_id") % 4 == 3), model
    ).collect()
    merged = sorted(b1 + b2, key=lambda r: r["doc_id"])
    assert [tuple(r) for r in merged] == [tuple(r) for r in whole]
    assert whole, "no incoming docs scored"
    for r in whole:
        assert r["selected"] == (1 if r["weight_q6"] > 0 else 0)
