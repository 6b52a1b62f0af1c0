"""Benchmark harness: runs the engine's registered queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-clock over ALL registered queries. The driver
captures only the LAST ~2000 bytes of stdout (BENCH_r03 proved a full
127-query map overflows it and truncates the line head, leaving it
unparseable), so the stdout line carries the totals plus a fixed HEADLINE
subset of per-query timings — stable names, comparable round over round —
and the COMPLETE per-query map is written to ``BENCH_FULL.json`` next to
this file (committed with the repo, one ``json.load``).

Each query is executed with a noop-format write that forces full evaluation
without collecting data to the driver. A failed query records ``null`` (never
NaN — a bare NaN token makes the whole line unparseable to strict JSON
parsers, defeating the artifact exactly when it matters) and is listed in
``failed``.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_DIR)

# Fixed headline set: the BASELINE.md comparables plus the historically most
# expensive / most scale-interesting queries. Keep this list short enough
# that the stdout line stays well under the driver's 2000-byte tail capture.
HEADLINE = [
    "frequent_itemsets_son",
    "frequent_itemsets_fpgrowth",
    "edge_betweenness_customers",
    "communities_girvan_newman",
    "group_avg_nation_region",
    "pricing_summary_sql",
    "term_frequency_stats",
    "jaccard_near_duplicates",
    "minhash_lsh_near_duplicates",
    "simhash_near_duplicates",
    "embedding_near_duplicates",
    "topk_cosine",
    "topk_cosine_lsh",
    "topk_cosine_ivf",
    "connected_components_customers",
    "pagerank_customers",
    "triangle_counts_customers",
    "link_prediction_customers",
    "session_stats",
    "session_paths",
    "tumbling_window_stats",
    "customer_rfm_segments",
    "user_value_ntiles",
    "order_price_percent_rank",
    "customer_revenue_deciles",
    "word_frequencies",
    "exact_duplicates",
    "near_duplicate_clusters",
    "clustering_coefficients_customers",
    "edge_betweenness_fixedpoint_customers",
    "supplier_part_pareto",
    "tfidf_top_terms",
    "pmi_collocations",
    "training_batches",
    "winsorized_price_stats",
    "communities_girvan_newman_fixedpoint",
    "chunk_dedup_stats",
    "token_gini_diversity",
    "incremental_index_dedup",
    "edge_betweenness_brandes_customers",
    "split_drift_report",
    "span_deduped_corpus",
    "incremental_community_assignment",
    "media_phash_near_duplicates",
    "incremental_span_scrub",
    "incremental_media_phash",
    # round-8 additions (the rest of the round-8 family is in
    # BENCH_FULL.json — the stdout line must stay under the driver's
    # ~2000-byte tail capture):
    "hyperball_neighborhood_customers",
    "palette_coloring_customers",
    "bm25_top_docs",
]


def _warmup(spark, queries, sf_dir) -> None:
    """Pay the session's one-time costs BEFORE the first measured query, so
    they aren't booked to whichever query happens to run first (the round-4
    'regressions' — minhash/simhash/topk_lsh/topk_ivf — were exactly the four
    queries a registry reorder moved to the front of the sweep: measured
    cold-vs-warm at sf0.1, run1 was 1.4-3.5x run2 with zero code change).

    One-time costs exercised: JVM/codegen + first shuffle (a small query),
    the first sizeable driver collect (row serde + socket path — measured
    on the float GN at sf0.1: first collecting query in a session pays
    +1.5 s over steady state, the whole round-5 'wobble'), the Python
    worker pool (a trivial mapInPandas), and the iterative loops below.

    The small query is ``group_avg_nation_region``, or the subset's first
    query when ``$SPARK_GRAFT_BENCH_QUERIES`` leaves it out.
    """
    try:
        name = "group_avg_nation_region"
        if name not in queries:
            name = next(iter(queries))
        queries[name](spark, sf_dir).count()
    except Exception:
        pass
    try:
        spark.range(300_000).selectExpr("id", "id * 2 AS v").collect()
    except Exception:
        pass
    try:
        # The driver-local graph-kernel path (persist + gated adjacency
        # collect + numpy import + createDataFrame) carries ~1-1.5 s of
        # session-one-time cost that a FOUR-EDGE graph exercises in full —
        # measured isolated at sf0.1, the float GN's round-5 2.31->3.83 s
        # "regression" was exactly this first-touch landing on it after the
        # registry reorder; steady-state was unchanged (2.2-2.7 s).
        from inf_553_datamining_mapreduce_spark.operators import graph as _G

        tiny = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (4, 5)], "src long, dst long"
        )
        _G.girvan_newman_communities(tiny).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:
        pass
    try:
        def _ident(batches):
            yield from batches

        spark.range(100).mapInPandas(_ident, "id long").write.format(
            "noop"
        ).mode("overwrite").save()
    except Exception:
        pass
    try:
        # The driver-synchronized iterative loops (BPE's argmax collect +
        # per-iteration HOF-fold codegen, Lloyd's checkpointed centroid
        # update) carry ~10-14 s of first-touch cost measured at sf0.01
        # (cold 18.3 s vs warm 4.2 s for bpe_merges; flat ~3 s at every
        # scale thereafter — the loops are vocabulary/centroid-bound, not
        # corpus-bound). A 3-doc corpus and a 6-vector clustering exercise
        # the full machinery.
        from inf_553_datamining_mapreduce_spark.operators import (
            similarity as _S,
            text as _T,
        )

        toy_docs = spark.createDataFrame(
            [(0, "ab ab ba", "s"), (1, "ab ba ba", "s"), (2, "ba ab", "s")],
            "doc_id long, text string, source string",
        )
        _T.bpe_merges(toy_docs, n_merges=2).write.format("noop").mode(
            "overwrite"
        ).save()
        toy_vecs = spark.createDataFrame(
            [(i, [float(i % 3), float(i % 2)]) for i in range(6)],
            "vec_id long, embedding array<float>",
        )
        _S.kmeans_fixedpoint(toy_vecs, k=2, iters=1).write.format(
            "noop"
        ).mode("overwrite").save()
    except Exception:
        pass
    try:
        # The SGNS trainer's per-epoch plans (gradient join pipeline,
        # 2·dim-column delta aggregate, unigram34 ladder) carry ~6-8 s
        # of first-touch Catalyst+codegen cost at sf0.1 — measured r13:
        # the first weighted trainer in a session read 12.2 s cold vs
        # 4.4 s on the immediate re-run with zero code change (same
        # cold/warm convention as the BPE/Lloyd warmups above). A
        # 4-pair toy at the REGISTERED dim compiles both weighting
        # paths' shapes.
        from inf_553_datamining_mapreduce_spark.operators import (
            graph as _G2,
        )

        toy_pairs = spark.createDataFrame(
            [(1, 2, 3), (2, 1, 3), (3, 4, 2), (4, 3, 2)],
            "center long, context long, n_pairs long",
        )
        for wt in ("uniform", "unigram34"):
            _G2.sgns_embeddings(
                toy_pairs, dim=8, negatives=2, amp=64, sig_scale=4096,
                lr_den=16, neg_weighting=wt,
            ).write.format("noop").mode("overwrite").save()
    except Exception:
        pass


# Pinned idle-box reference for the multi-thread canary (seconds). The
# normalization convention (r9 verdict item 2, made mechanical in r11):
# normalized_total = total * CANARY_MT_REF / mean(ALL canary brackets —
# pre, the mid-sweep checkpoints, and post).
# Derivation: SCALE.md's repeated idle-phase measurements cluster at
# mt ~ 0.77-0.83 s (round-10 second wave "idle mt reference ~ 0.8"; the
# round-10 adjudication that reconciled the 556.91 s and 463.71 s
# BENCH_FULL totals to ~427/~409 used 0.82). Round-11 spot check: ten
# isolated runs in a mildly loaded phase read mt 0.89-2.22 with 1t flat
# at 0.70-0.75 — consistent with (never below) the idle reference, so
# 0.82 is kept for cross-round continuity. The canary work size is
# pinned (96 x 4 MiB md5 blocks per worker), so this reference is
# comparable across rounds by construction; it must change only if the
# canary workload itself changes.
CANARY_MT_REF = 0.82


def _host_canary() -> dict:
    """Fixed-size md5 throughput canary, run before AND after the sweep:
    SCALE.md measured 4-7x aggregate-throughput swings on identical
    CPU-bound builds across one session while single-thread latency
    stayed flat, which made any cross-round bench delta under ~2x
    unadjudicable by prose (r9 verdict item 2). Two legs, both hashing
    the same pinned 128 MiB of constant bytes per worker:

    * ``canary_1t_sec`` — one thread; moves only if per-core speed moved
      (thermal/frequency), not with load.
    * ``canary_mt_sec`` — 32 threads (hashlib releases the GIL on large
      buffers, so this saturates cores exactly like a 32-slot Spark
      stage); moves with host contention.

    Cross-round normalization: scale a round's total by
    ``canary_mt_ref / mean(all canary_mt brackets)`` — pre, the
    mid-sweep checkpoints, and post — before comparing. The work size
    is pinned (96 x 4 MiB blocks per worker —
    sized so each leg runs ~0.7-1 s idle, long enough to average over
    scheduler noise), so the canary itself is comparable across rounds
    by construction."""
    import hashlib
    from concurrent.futures import ThreadPoolExecutor

    block = b"\x5a" * (1 << 22)  # 4 MiB: large enough to release the GIL

    def one_worker(n_blocks: int) -> str:
        h = hashlib.md5()
        for _ in range(n_blocks):
            h.update(block)
        return h.hexdigest()

    t0 = time.perf_counter()
    one_worker(96)  # 384 MiB
    single = time.perf_counter() - t0
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=32) as ex:
        list(ex.map(one_worker, [96] * 32))  # 32 x 384 MiB, all cores
    mt = time.perf_counter() - t0
    return {
        "canary_1t_sec": round(single, 3),
        "canary_mt_sec": round(mt, 3),
        "canary_bw_sec": _bw_canary(),
    }


# Shared read-only buffer for the bandwidth canary: 256 MiB of real
# (non-zero-page) float64, far beyond any LLC, allocated once so
# repeated brackets measure the memory system rather than the allocator.
_BW_ARRAY = None


def _bw_canary() -> float:
    """Memory-bandwidth-bound canary leg (r12 verdict item 1's second
    half). The md5 legs saturate CPU pipelines but stream only 4 MiB
    blocks through L2 — they under-measure the DRAM-bandwidth contention
    Spark's shuffle/scan stages actually feel, which is why SCALE.md's
    same-day runs saw normalization OVER-correct (1.3x raw -> 1.6x
    normalized). This leg has 32 threads each sum-reduce a SHARED
    256 MiB float64 array 4x (numpy releases the GIL; 32 GiB of DRAM
    reads total), so it moves with bandwidth contention specifically.

    Recorded alongside the md5 brackets for adjudication; the committed
    normalization stays md5-based (``CANARY_MT_REF`` continuity — every
    prior round's artifact carries only md5 brackets). A cross-round
    reader should treat a round whose md5 brackets are idle-flat but
    whose bw brackets are elevated as bandwidth-contended: trust the
    min-envelope, not single-leg normalized values. Idle-box reference
    readings are pinned in SCALE.md when first measured."""
    import numpy as np
    from concurrent.futures import ThreadPoolExecutor

    global _BW_ARRAY
    if _BW_ARRAY is None:
        _BW_ARRAY = np.arange(32 * 1024 * 1024, dtype=np.float64)

    def one_worker(reps: int) -> float:
        acc = 0.0
        for _ in range(reps):
            acc += float(_BW_ARRAY.sum())
        return acc

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=32) as ex:
        list(ex.map(one_worker, [4] * 32))
    return round(time.perf_counter() - t0, 3)


def _run_sweep(spark, em, queries, sf_dir) -> dict:
    """One full measured registry sweep: canary brackets (pre, two
    mid-sweep checkpoints, post), shared-intermediate builds as their own
    line items, then every registered query in fixed alphabetical order.
    Returns the per-run record committed under ``runs[]`` in
    BENCH_FULL.json."""
    timings: dict[str, float | None] = {}
    failed: list[str] = []

    canary_pre = _host_canary()
    print(f"bench: canary pre {canary_pre}", file=sys.stderr)

    # Shared memoized intermediates are built (and timed) as their own line
    # items so each query's number measures the query, not a cold memo some
    # other query would otherwise pay for (round-4 verdict item 1).
    shared: dict[str, float | None] = {}
    for name, fn in getattr(em, "shared_intermediates", dict)().items():
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            shared[name] = round(time.perf_counter() - t0, 2)
        except Exception as exc:
            print(f"bench: shared {name} failed: {exc}", file=sys.stderr)
            shared[name] = None
        print(f"bench: shared {name} {shared[name]}s", file=sys.stderr)

    total = 0.0
    # Mid-sweep canary checkpoints (round 11): a pre/post-only bracket
    # cannot see a load phase concentrated INSIDE the ~10-minute sweep —
    # round-11 measured one run with pre 1.88/post 0.99 (loaded stretch
    # mid-run) and another with 1.03/1.07 flat; the pre/post mean under-
    # or over-corrects both. Sampling the canary at the third points and
    # normalizing by the mean of all four brackets bounds any phase's
    # weight at ~1/3 of the run.
    canaries = [canary_pre]
    names = sorted(queries.keys())
    # Fixed alphabetical execution order: registry order changes round to
    # round (the driver-priority rotation), and run position shifts costs
    # (cache residency, AQE stats reuse). Sorted order keeps per-query
    # numbers comparable across rounds regardless of registry churn.
    # Per-query canary bracket (round-12, verdict item 7): remember which
    # canary reading immediately PRECEDED each query; together with the
    # next bracket it localizes the host phase the query ran in, so
    # cross-round per-query deltas can be normalized mechanically instead
    # of adjudicated in prose.
    bracket: dict[str, int] = {}
    for i, name in enumerate(names):
        fn = queries[name]
        bracket[name] = len(canaries) - 1
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            timings[name] = round(dt, 2)
            total += dt
        except Exception as exc:  # keep benching other queries
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            timings[name] = None
            failed.append(name)
        # per-query progress goes to stderr so stdout stays one parseable line
        print(f"bench: {name} {timings[name]}s", file=sys.stderr)
        if len(names) >= 9 and (i + 1) % ((len(names) + 2) // 3) == 0 and (
            i + 1
        ) < len(names):
            c = _host_canary()
            canaries.append(c)
            print(f"bench: canary mid {c}", file=sys.stderr)

    # Shared builds are real work — count them in the headline total so it
    # stays comparable with rounds where queries paid the builds inline.
    total += sum(v for v in shared.values() if v)

    canary_post = _host_canary()
    print(f"bench: canary post {canary_post}", file=sys.stderr)
    canaries.append(canary_post)

    mean_mt = sum(c["canary_mt_sec"] for c in canaries) / len(canaries)

    # Per-query normalized seconds: query_sec x CANARY_MT_REF / mean of
    # the two canary brackets that SURROUND the query's run position (the
    # reading just before it and the next checkpoint/post reading). This
    # is the per-row analogue of normalized_total — cross-round per-query
    # regressions adjudicate on these, not the raw seconds.
    def _norm(name: str, sec: float | None) -> float | None:
        if sec is None:
            return None
        b = bracket.get(name, 0)
        mts = [canaries[b]["canary_mt_sec"]]
        if b + 1 < len(canaries):
            mts.append(canaries[b + 1]["canary_mt_sec"])
        return round(sec * CANARY_MT_REF / (sum(mts) / len(mts)), 3)

    # Shared builds run right after the pre canary — normalize them by
    # that bracket so the envelope can take a per-item min too.
    pre_mt = canaries[0]["canary_mt_sec"]
    shared_norm = {
        n: (round(v * CANARY_MT_REF / pre_mt, 3) if v is not None else None)
        for n, v in shared.items()
    }

    return {
        "total": round(total, 2),
        "normalized_total": round(total * CANARY_MT_REF / mean_mt, 2),
        "canary_1t_sec": [c["canary_1t_sec"] for c in canaries],
        "canary_mt_sec": [c["canary_mt_sec"] for c in canaries],
        "canary_bw_sec": [c["canary_bw_sec"] for c in canaries],
        "shared_intermediates": shared,
        "shared_intermediates_normalized": shared_norm,
        "queries": timings,
        "queries_normalized": {n: _norm(n, s) for n, s in timings.items()},
        "query_canary_bracket": bracket,
        "failed": failed,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Disable the registry's pressure-release self-defence for the sweep:
    # it exists for small-heap vanilla drivers (released blocks are
    # strictly better than a dead JVM there), but on this harness a
    # mid-sweep trigger clears the shared-graph memos and whichever
    # query crosses the threshold repays a memo build inside its timing
    # — exactly the noise the round-4 "shared builds as their own line
    # items" convention removed (measured round 12: the weighted-walk
    # family read +8..+18 s each when the trigger fired mid-sweep).
    # 'off' is the real disable switch (session.py honors it explicitly);
    # the previous '1.0' was not — disk-resident checkpoint bytes are
    # unbounded by the heap, so mem+disk could still exceed 1.0x heap and
    # fire mid-sweep (ADVICE r12).
    os.environ.setdefault("SPARK_GRAFT_PRESSURE_FRACTION", "off")
    # Min-envelope mode (r12 verdict item 1): three same-day sweeps on
    # identical code read 342.7/435.7/548.2 s normalized — host-load
    # noise is ONE-SIDED (contention only ever adds time), so the
    # per-query MINIMUM of normalized values across N runs is the
    # comparable cross-round signal; a single run is not. Default 3
    # runs; override with --runs N or $SPARK_GRAFT_BENCH_RUNS (1 = the
    # pre-r13 single-sweep behavior, for quick local iteration).
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])
    runs = max(1, runs)

    import __spark_entry__ as em
    from inf_553_datamining_mapreduce_spark.session import (
        get_spark,
        release_session_blocks,
    )

    queries = em.queries()

    # $SPARK_GRAFT_BENCH_QUERIES=a,b,c restricts THIS RUN to a named
    # subset — a harness knob for the contract smoke test and the sf1
    # heavy-subset scaling bracket (r13 verdict item 3), never set by
    # the driver (whose runs always time the full registry). Unknown
    # names fail loudly (before paying session startup) rather than
    # silently shrinking the subset.
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:
        keep = [n.strip() for n in only.split(",") if n.strip()]
        missing = [n for n in keep if n not in queries]
        if missing:
            raise SystemExit(f"bench: unknown queries in subset: {missing}")
        queries = {n: queries[n] for n in keep}

    # Console progress bars write \r-frames to stdout; showConsoleProgress
    # is disabled in session.DEFAULT_CONFIGS (core conf — set at build).
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    _warmup(spark, queries, sf_dir)

    run_records: list[dict] = []
    for r in range(runs):
        if r:
            # Reset to the run-1 starting state: releasing blocks also
            # clears the entry memos (release hooks), so every run pays
            # its shared builds for real and the runs are comparable.
            release_session_blocks(spark)
        print(f"bench: === sweep {r + 1}/{runs} ===", file=sys.stderr)
        run_records.append(_run_sweep(spark, em, queries, sf_dir))

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    def _env_min(key: str, names) -> dict:
        out = {}
        for n in names:
            vals = [
                rr[key].get(n)
                for rr in run_records
                if rr[key].get(n) is not None
            ]
            out[n] = min(vals) if vals else None
        return out

    # Normalized values are only trustworthy when the correction factor
    # is small: a reading taken under heavy load divides by a big canary
    # bracket, and the md5 canary OVERSTATES how much Spark stages were
    # slowed (it saturates CPU but misses that contention is partly
    # bandwidth-shaped — SCALE.md's overcorrection note), so a loaded
    # run's normalized seconds can come out spuriously LOW and win the
    # minimum. Raw minima need no such guard (contention only ever adds
    # time), but the normalized envelope takes each query's minimum over
    # TRUSTED readings only — those whose surrounding mt brackets are
    # idle-flat (mean <= BRACKET_TRUST x the idle reference). A query
    # with no trusted reading falls back to its least-corrected one
    # (smallest bracket mean), never the most-corrected minimum.
    BRACKET_TRUST = 1.15
    # The bw leg guards the OTHER blind spot: a bandwidth-shaped load
    # phase leaves md5-mt idle-flat while Spark stages run 1.3-2x slow
    # (measured live — one sweep read mt 0.81-0.97 bracketing a 3.7 s bw
    # spike). Those readings are under-corrected (too HIGH); they cannot
    # win a minimum spuriously, but trusting them would let a loaded
    # leg's reading masquerade as the quiet-host envelope when no quiet
    # run covered that query. Idle pin 0.18 s (SCALE.md), trust bound 2x.
    BW_IDLE_REF = 0.18
    BW_TRUST = 2.0

    def _bracket_score(rr: dict, name: str) -> tuple[float, float]:
        """(mt mean, bw mean) of the brackets surrounding the query."""
        b = rr.get("query_canary_bracket", {}).get(name, 0)
        idx = [b] + ([b + 1] if b + 1 < len(rr["canary_mt_sec"]) else [])
        mt = sum(rr["canary_mt_sec"][i] for i in idx) / len(idx)
        bws = rr.get("canary_bw_sec")
        bw = sum(bws[i] for i in idx) / len(idx) if bws else 0.0
        return mt, bw


    def _env_min_trusted(key: str, names, bracket_of) -> dict:
        out = {}
        for n in names:
            readings = [
                (rr[key].get(n),) + bracket_of(rr, n)
                for rr in run_records
                if rr[key].get(n) is not None
            ]
            if not readings:
                out[n] = None
                continue
            trusted = [
                v
                for v, mt, bw in readings
                if mt <= BRACKET_TRUST * CANARY_MT_REF
                and bw <= BW_TRUST * BW_IDLE_REF
            ]
            out[n] = (
                min(trusted)
                if trusted
                # Least-loaded fallback: smallest combined excess over
                # the idle references across both canary legs.
                else min(
                    readings,
                    key=lambda r: r[1] / CANARY_MT_REF + r[2] / BW_IDLE_REF,
                )[0]
            )
        return out

    qnames = sorted(queries.keys())
    timings = _env_min("queries", qnames)
    timings_norm = _env_min_trusted(
        "queries_normalized", qnames, _bracket_score
    )
    shared_names = list(run_records[0]["shared_intermediates"])
    shared = _env_min("shared_intermediates", shared_names)
    # Shared builds run right after the pre canary — trust = bracket 0.
    shared_norm = _env_min_trusted(
        "shared_intermediates_normalized",
        shared_names,
        lambda rr, n: (
            rr["canary_mt_sec"][0],
            rr["canary_bw_sec"][0] if rr.get("canary_bw_sec") else 0.0,
        ),
    )
    # failed = failed in EVERY run (a query that succeeded in any run has
    # an envelope value); per-run failures stay visible in runs[].
    failed = [n for n in qnames if timings[n] is None]

    best = min(run_records, key=lambda rr: rr["normalized_total"])
    # The quiet-host-equivalent total: per-query envelope minima summed
    # (+ shared builds). Tighter than any single run's normalized_total
    # because different queries hit their quiet phase in different runs.
    envelope_total = round(
        sum(v for v in timings_norm.values() if v)
        + sum(v for v in shared_norm.values() if v),
        2,
    )

    summary = {
        "metric": "total_query_wall_clock",
        # Cross-round continuity: value/normalized_total remain totals of
        # ONE sweep — the best (minimum-normalized) of the N runs.
        "value": best["total"],
        # Host-phase-adjusted total: total x CANARY_MT_REF / mean(ALL
        # canary mt brackets — pre, mid-sweep checkpoints, post).
        # Cross-round deltas adjudicate on THIS field —
        # the raw total moves several-fold with shared-host phase alone
        # (SCALE.md: 3.8-4.2x canary swings within one hour).
        "normalized_total": best["normalized_total"],
        # Sum of per-query envelope minima — the r12-verdict-item-1
        # artifact. Cross-round PER-QUERY deltas adjudicate on
        # queries_normalized (per-query min across runs), totals on this.
        "envelope_total_normalized": envelope_total,
        "n_runs": runs,
        "canary_mt_ref": CANARY_MT_REF,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "n_failed": len(failed),
        # Canary brackets of the best run (full per-run brackets in
        # BENCH_FULL.json's runs[]).
        "canary_1t_sec": best["canary_1t_sec"],
        "canary_mt_sec": best["canary_mt_sec"],
        # Bandwidth-bound canary brackets (r12 verdict item 1, second
        # half): md5 saturates CPU but streams through L2, so it misses
        # DRAM contention; this leg (32 threads sum-reducing a shared
        # 256 MiB array) moves with bandwidth pressure specifically.
        # Adjudication signal only — normalization stays md5-based.
        "canary_bw_sec": best["canary_bw_sec"],
        "shared_intermediates": shared,
        "queries": {n: timings[n] for n in HEADLINE if n in timings},
        "queries_normalized": {
            n: timings_norm[n] for n in HEADLINE if n in timings_norm
        },
        "full": "BENCH_FULL.json",
    }
    if failed:
        summary["failed"] = failed

    full = dict(summary)
    full["queries"] = timings
    full["queries_normalized"] = timings_norm
    full["shared_intermediates_normalized"] = shared_norm
    # Envelope provenance: every run's complete record (per-query raw +
    # normalized seconds, canary brackets, per-query bracket stamps), so
    # the committed minima are recomputable from the artifact alone.
    full["aggregation"] = (
        "queries/shared_intermediates are per-item MINIMA across runs[]; "
        "queries_normalized minima consider only readings whose "
        "surrounding brackets are idle-flat on BOTH canary legs "
        "(md5-mt mean <= 1.15x the 0.82 reference — loaded-bracket "
        "normalization overcorrects and would win minima spuriously; "
        "bw mean <= 2x the 0.18 idle pin — bandwidth-shaped load leaves "
        "mt flat while under-corrected readings masquerade as quiet), "
        "falling back to the least-loaded reading when no run was quiet "
        "there; value/normalized_total are the best single run's "
        "totals; envelope_total_normalized sums the trusted minima"
    )
    full["runs"] = run_records
    # Self-identifying artifact: BENCH_FULL.json is committed next to the
    # per-round BENCH_r{N}.json snapshots, so it carries the round tag too
    # ($SPARK_GRAFT_ROUND when the driver sets it, else unstamped).
    round_tag = os.environ.get("SPARK_GRAFT_ROUND")
    if not round_tag:
        # Infer from VERDICT.md's header: the judge writes "# VERDICT —
        # Round N" at the START of round N+1 and it stays put for the
        # whole round INCLUDING the driver's post-close re-bench (the
        # judge for round N+1 runs only after that re-bench), so
        # header+1 is the current round at every bench the driver runs.
        # The previous max(CORRECTNESS_r{N})+1 inference overshot
        # exactly there — it assumed bench runs BEFORE the round's
        # artifacts land, and the r9 post-close re-bench (run after
        # CORRECTNESS_r09.json was committed) self-stamped "10"
        # (r9 verdict item 3).
        import re

        try:
            with open(os.path.join(REPO_DIR, "VERDICT.md")) as fh:
                m = re.search(r"Round\s+(\d+)", fh.readline())
            round_tag = str(int(m.group(1)) + 1) if m else None
        except OSError:
            round_tag = None
    if not round_tag:
        # Round 1 (no VERDICT.md yet): fall back to the CORRECTNESS
        # inference, which is correct there by construction.
        import glob
        import re

        ns = [
            int(m.group(1))
            for p in glob.glob(
                os.path.join(REPO_DIR, "CORRECTNESS*_r*.json")
            )
            if (m := re.search(r"_r(\d+)\.json$", p))
        ]
        round_tag = str(max(ns) + 1) if ns else None
    if round_tag:
        full["round"] = round_tag
    # $SPARK_GRAFT_BENCH_FULL_PATH redirects the full artifact — smoke
    # runs with a patched-down registry MUST set it (the default path is
    # the COMMITTED artifact, and a 3-query smoke would clobber the
    # committed 227-query record otherwise; that happened once).
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_FULL_PATH",
        os.path.join(REPO_DIR, "BENCH_FULL.json"),
    )
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1, allow_nan=False)
        fh.write("\n")

    line = json.dumps(summary, separators=(",", ":"), allow_nan=False)
    sys.stdout.flush()
    print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
