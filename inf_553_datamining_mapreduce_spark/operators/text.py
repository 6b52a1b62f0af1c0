"""Text-analysis operators for training-data pipelines over the
``documents`` table: token statistics, word frequencies, quality scoring,
language-ID heuristic, and document fingerprinting.

No reference analog (the reference has no string processing beyond split /
concat — SURVEY.md §2.6); these are the north-star extension surface. All
hot paths are built-in ``pyspark.sql.functions`` (JVM, whole-stage codegen)
— no Python UDF anywhere in this module except the optional winnowing
fingerprint, which is a library helper rather than a query path.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from inf_553_datamining_mapreduce_spark.session import checkpoint

# Fixed stopword list for quality scoring — deliberately tiny and stable so
# the DuckDB oracle can inline it.
STOPWORDS = ("the", "a", "of", "and", "to", "in")

# Marker-word profiles for the language-ID heuristic. Deterministic and
# SQL-expressible; real deployments would swap in char-n-gram profiles.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "que"),
    "fr": ("le", "la", "de", "et"),
}


def tokens_col(col: str = "text") -> Column:
    """Whitespace tokenization (training-data convention; BPE-ish regex
    splitting is ``regex_tokens_col``)."""
    return F.split(F.col(col), " ")


def regex_tokens_col(col: str = "text") -> Column:
    """BPE-ish tokenization: split on non-alphanumeric boundaries, keeping
    digits and letters as separate runs."""
    return F.expr(
        f"filter(split(regexp_replace({col}, '([^a-zA-Z0-9]+)', ' '), ' '), x -> x != '')"
    )


def token_stats(documents: DataFrame) -> DataFrame:
    """Per-document token counts: whitespace tokens, distinct tokens, chars.
    Everything stays in one projection — no shuffle at all."""
    toks = tokens_col("text")
    return documents.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars_measured"),
    ).orderBy("doc_id")


def word_frequencies(documents: DataFrame) -> DataFrame:
    """Corpus word frequencies: explode tokens, count occurrences and the
    number of documents containing each token (classic inverted-index
    statistics; partial aggregation map-side)."""
    exploded = documents.select(
        "doc_id", F.explode(tokens_col("text")).alias("token")
    )
    return (
        exploded.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy("token")
    )


def term_frequency_stats(documents: DataFrame) -> DataFrame:
    """TF-IDF-ready statistics per (doc, token): term frequency as an exact
    ratio plus document frequency and corpus size as integer columns — the
    log() composition is left to consumers so every emitted value is
    engine-exactly comparable (no libm dependence).

    Single pipeline: corpus size rides in as a broadcast 1-row aggregate
    (the ``source_mixture_sample`` idiom) instead of a separate
    ``documents.count()`` action, so the documents table is scanned once
    and the whole query is one job. ``doc_freq`` comes from a
    count-per-token aggregate of the (doc, token) table — NOT a window
    over the token partition, which for stopword-grade tokens would be a
    single task holding most of the corpus."""
    exploded = documents.select(
        "doc_id",
        F.explode(tokens_col("text")).alias("token"),
        F.size(tokens_col("text")).alias("doc_len"),
    )
    tf = exploded.groupBy("doc_id", "token", "doc_len").agg(
        F.count(F.lit(1)).alias("occurrences")
    )
    # tf rows are unique per (doc, token), so doc_freq is a plain count —
    # no countDistinct Expand needed.
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    nd = documents.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        tf.join(df, "token")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "token",
            (F.col("occurrences").cast("double") / F.col("doc_len")).alias("tf"),
            "doc_freq",
            "n_docs",
        )
        .orderBy("doc_id", "token")
    )


def tfidf_top_terms(documents: DataFrame, k: int = 5) -> DataFrame:
    """Top-k most characteristic tokens per document by a libm-free TF-IDF
    surrogate: score = (occurrences/doc_len) * (n_docs/doc_freq) — the
    log() is monotone in n_docs/doc_freq so the RANKING matches classic
    TF-IDF while every emitted double is two divisions and one multiply,
    bit-identical cross-engine. Reuses the ``term_frequency_stats``
    pipeline; the top-k window partitions per doc (bounded by doc length),
    never globally."""
    exploded = documents.select(
        "doc_id",
        F.explode(tokens_col("text")).alias("token"),
        F.size(tokens_col("text")).alias("doc_len"),
    )
    tf = exploded.groupBy("doc_id", "token", "doc_len").agg(
        F.count(F.lit(1)).alias("occurrences")
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    nd = documents.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "token",
            (
                (F.col("occurrences").cast("double") / F.col("doc_len"))
                * (F.col("n_docs").cast("double") / F.col("doc_freq"))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .orderBy("doc_id", "rnk")
    )


def quality_scores(documents: DataFrame) -> DataFrame:
    """Heuristic document quality: stopword ratio, repetition ratio, mean
    token length — the standard cheap pre-training filters. Score =
    stopword_ratio penalized by repetition; formula kept simple and exactly
    mirrored in the oracle SQL."""
    toks = tokens_col("text")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_distinct = F.size(F.array_distinct(toks))
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (n_stop.cast("double") / n_tokens).alias("stopword_ratio"),
        (F.lit(1.0) - n_distinct.cast("double") / n_tokens).alias("repetition_ratio"),
        ((F.length("text") - n_tokens + 1).cast("double") / n_tokens).alias(
            "mean_token_len"
        ),
    ).orderBy("doc_id")


def language_id(documents: DataFrame) -> DataFrame:
    """Marker-word language-ID heuristic: count hits per language profile,
    predict the argmax (ties and zero-hit docs -> 'und'), lexicographic
    tie-break via greatest-of-struct trick kept explicit instead."""
    toks = tokens_col("text")

    def marker_count(markers: tuple[str, ...]) -> Column:
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    counts = {lang: marker_count(m) for lang, m in LANG_MARKERS.items()}
    # Deterministic argmax: iterate langs in sorted order, keep strict max.
    pred = F.lit("und")
    best = F.lit(0)
    for lang in sorted(LANG_MARKERS):
        c = counts[lang]
        pred = F.when(c > best, F.lit(lang)).otherwise(pred)
        best = F.when(c > best, c).otherwise(best)
    return documents.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        best.alias("marker_hits"),
    ).orderBy("doc_id")


def language_confusion_matrix(documents: DataFrame) -> DataFrame:
    """Confusion matrix of the marker-word language-ID heuristic against
    the corpus labels: (labeled, predicted, count, share-of-label) — the
    classifier-eval rollup run before trusting any model-assigned
    metadata column. Reuses the ``language_id`` projection; the matrix
    aggregate groups on a (langs × langs)-bounded key and the
    share-of-label window partitions on the label — both tiny."""
    preds = language_id(documents)
    counts = preds.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("labeled_lang")
    return counts.select(
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        (F.col("n_docs") / F.sum("n_docs").over(w)).alias("label_share"),
    ).orderBy("labeled_lang", "predicted_lang")


def token_stats_regex(documents: DataFrame) -> DataFrame:
    """Per-document token counts under the BPE-ish regex tokenizer
    (alnum runs as tokens, everything else a boundary) — the companion to
    the whitespace ``token_stats``. One projection, no shuffle."""
    toks = regex_tokens_col("text")
    return documents.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    ).orderBy("doc_id")


# Rolling-hash parameters: base * max(acc) stays far below 2^63, so the
# recurrence never relies on overflow wrap and is bit-identical in any
# engine with 64-bit integer arithmetic (portable => oracle-able).
ROLLING_HASH_BASE = 131
ROLLING_HASH_MOD = 1_000_000_007
# Second-level base for combining token hashes into k-gram hashes
# (winnowing): acc < MOD ~1e9 and base ~1e6 keep the product ~1e15 << 2^63.
KGRAM_HASH_BASE = 1_000_033


def rolling_hash_fingerprints(documents: DataFrame) -> DataFrame:
    """Rabin–Karp polynomial rolling hash over each document's characters,
    accumulated JVM-side with the ``aggregate`` higher-order function —
    the content fingerprint that k-gram/winnowing schemes build on (see
    ``winnow_fingerprint`` for the windowed variant)."""
    h = F.expr(
        "CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT) ELSE "
        f"aggregate(split(text, ''), CAST(0 AS BIGINT), "
        f"(acc, c) -> (acc * {ROLLING_HASH_BASE} + ascii(c)) % {ROLLING_HASH_MOD}) END"
    )
    return documents.select("doc_id", h.alias("rolling_hash")).orderBy("doc_id")


def corpus_splits(
    documents: DataFrame, train_pct: int = 90, val_pct: int = 5
) -> DataFrame:
    """Deterministic train/val/test assignment by content-free key hashing:
    bucket = first 60 bits of md5(doc_id) mod 100, split by cumulative
    percentage. The md5-derived bucket is reproducible across engines, runs,
    partitionings, and languages — the property a corpus split MUST have
    (seeded ``sample()`` is partitioning-dependent and unrepeatable across
    engines). One narrow projection, zero shuffles, zero RNG state.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100
    )
    split = (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return documents.select(
        "doc_id", bucket.alias("bucket"), split.alias("split")
    ).orderBy("doc_id")


def split_drift_report(
    documents: DataFrame,
    train_pct: int = 90,
    val_pct: int = 5,
    min_count: int = 10,
    top_k: int = 100,
) -> DataFrame:
    """Token-distribution drift between the train and val splits — the
    split-health check before trusting a validation loss: a token whose
    rate differs wildly between splits means the content-free hash split
    collided with content structure (time-ordered ids, per-source id
    ranges) and the val set no longer measures generalization.

    Per token with ≥ ``min_count`` total occurrences:
    ``drift_num = c_train·N_val − c_val·N_train`` (the cross product is 0
    iff the token's rate is identical in both splits). **Validity bound**:
    the products are bounded by ``N_train·N_val``, so the long arithmetic
    is exact only while ``N_train·N_val < 2^63`` — roughly 3e9 tokens per
    split (~a 10-TB-of-text corpus at this 90/5 split). Past that bound
    Spark's long would wrap where DuckDB widens to HUGEINT; widen both
    factors to ``decimal(38,0)`` (same pattern as
    ``weighted_corpus_sample``'s documented bound) before running at
    larger scale. Also a χ²-style score
    ``drift_num² / ((c_train+c_val) · N_train · N_val)`` computed as
    single IEEE ops over the exact integers — deterministic cross-engine
    (same inputs → same doubles; no accumulation order involved). Top-k
    by score then token.

    Shape at scale: the split column is a pure projection
    (``corpus_splits`` bucketing inlined — zero extra joins), ONE
    (token) aggregate with map-side partials builds the two counts, the
    two totals ride one 1-row aggregate over the (vocabulary-sized)
    count table, and the top-k is a TakeOrdered, never a global sort.
    The count table is materialized (localCheckpoint — vocabulary-sized)
    because both the totals and the scored output read it: un-pinned,
    the corpus explode+aggregate would evaluate twice (Spark shares no
    un-materialized branches).
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100
    )
    toks = documents.select(
        bucket.alias("bucket"), F.explode(tokens_col("text")).alias("tok")
    ).filter(F.col("bucket") < train_pct + val_pct)
    counts = (
        toks.groupBy("tok")
        .agg(
            F.sum(F.when(F.col("bucket") < train_pct, 1).otherwise(0))
            .cast("long")
            .alias("c_train"),
            F.sum(F.when(F.col("bucket") >= train_pct, 1).otherwise(0))
            .cast("long")
            .alias("c_val"),
        )
        .localCheckpoint()
    )
    totals = counts.agg(
        F.sum("c_train").cast("long").alias("n_train"),
        F.sum("c_val").cast("long").alias("n_val"),
    )
    drift_num = (
        F.col("c_train") * F.col("n_val") - F.col("c_val") * F.col("n_train")
    )
    score = (
        drift_num.cast("double")
        * drift_num.cast("double")
        / (
            (F.col("c_train") + F.col("c_val")).cast("double")
            * F.col("n_train").cast("double")
            * F.col("n_val").cast("double")
        )
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .filter(F.col("c_train") + F.col("c_val") >= min_count)
        .select(
            "tok",
            "c_train",
            "c_val",
            drift_num.cast("long").alias("drift_num"),
            score.alias("drift_score"),
        )
        .orderBy(F.desc("drift_score"), F.asc("tok"))
        .limit(top_k)
    )


def token_rarity_stats(documents: DataFrame, rare_max_freq: int = 2) -> DataFrame:
    """Per-document rare-token statistics: the minimum corpus frequency
    among the document's tokens and how many of its token occurrences are
    corpus-rare (frequency <= rare_max_freq) — the rare-token-density
    signal quality filters use to catch OCR noise, mojibake, and boilerplate
    misfires. All-integer outputs, so the oracle comparison is exact.

    Scale: one explode + one token-frequency aggregate + one re-join on the
    token key (both sides partial-aggregated map-side). The frequency table
    is corpus-vocabulary-sized — it stays distributed; nothing collects.
    """
    exploded = documents.select(
        "doc_id", F.explode(tokens_col("text")).alias("token")
    )
    freqs = exploded.groupBy("token").agg(
        F.count(F.lit(1)).alias("corpus_freq")
    )
    return (
        exploded.join(freqs, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.min("corpus_freq").alias("min_token_freq"),
            F.sum(
                F.when(F.col("corpus_freq") <= rare_max_freq, 1).otherwise(0)
            ).alias("n_rare_tokens"),
        )
        .orderBy("doc_id")
    )


def winnow_fingerprints_df(
    documents: DataFrame, k: int = 5, window: int = 4
) -> DataFrame:
    """Distributed winnowing (Schleimer et al., SIGMOD'03): rolling-hash
    each word k-gram, keep the min hash of every ``window`` consecutive
    k-grams, emit the distinct fingerprint set per document as
    ``(doc_id, fingerprint)`` rows.

    Entirely JVM-side via higher-order functions — one projection plus the
    explode, zero shuffles, zero Python. Two-level hashing keeps the work
    linear: each token's characters are hashed ONCE
    (``ROLLING_HASH_BASE``/``ROLLING_HASH_MOD``), then each k-gram combines
    k token hashes under ``KGRAM_HASH_BASE`` — O(chars + k·n) instead of
    re-scanning every k-gram's characters (O(k·chars)). Every intermediate
    stays exact in a signed 64-bit int (engine-portable => oracle-able).
    Documents with fewer than k tokens contribute no fingerprints."""
    B, B2, M = ROLLING_HASH_BASE, KGRAM_HASH_BASE, ROLLING_HASH_MOD
    token_hashes = (
        "transform(split(text, ' '), t -> aggregate(split(t, ''), "
        f"CAST(0 AS BIGINT), (acc, c) -> (acc * {B} + ascii(c)) % {M}))"
    )
    khashes = (
        f"CASE WHEN size(th) >= {k} THEN "
        f"transform(sequence(1, size(th) - {k - 1}), i -> "
        f"aggregate(slice(th, i, {k}), "
        f"CAST(0 AS BIGINT), (acc, h) -> (acc * {B2} + h) % {M})) "
        "ELSE array() END"
    )
    wins = (
        "transform(sequence(1, greatest(size(hs) - "
        f"{window - 1}, 1)), j -> array_min(slice(hs, j, {window})))"
    )
    return (
        # explode(array(th)) is a deliberate one-row Generate barrier:
        # CollapseProject would otherwise inline the token-hash expression
        # into the k-gram lambda below, re-evaluating ALL token hashes once
        # per k-gram position (O(n^2) per document — measured 3x slower at
        # sf0.1). A Generate output attribute cannot be inlined through.
        documents.select("doc_id", F.explode(F.array(F.expr(token_hashes))).alias("th"))
        .select("doc_id", F.expr(khashes).alias("hs"))
        .filter(F.size("hs") > 0)
        .select(
            "doc_id",
            F.explode(F.array_distinct(F.expr(wins))).alias("fingerprint"),
        )
        .orderBy("doc_id", "fingerprint")
    )


def fingerprints(documents: DataFrame) -> DataFrame:
    """Whole-document fingerprint (md5 of text) — the exact-dedup key. A
    content-sensitive winnowing fingerprint is available via
    ``winnow_fingerprint`` for library use."""
    return documents.select(
        "doc_id", F.md5(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


def winnow_fingerprint(text: str, k: int = 5, window: int = 4) -> list[int]:
    """Winnowing (Schleimer et al., SIGMOD'03): rolling-hash k-grams, keep
    the minimum hash of each window — a local fingerprint set robust to
    insertions. Pure-Python helper for fixture-level dedup experiments."""
    toks = text.split()
    if len(toks) < k:
        return []
    B, M = 1_000_003, (1 << 61) - 1
    hashes: list[int] = []
    for i in range(len(toks) - k + 1):
        h = 0
        for t in toks[i : i + k]:
            for ch in t:
                h = (h * B + ord(ch)) % M
            h = (h * B + 32) % M
        hashes.append(h)
    out: set[int] = set()
    for i in range(0, max(1, len(hashes) - window + 1)):
        out.add(min(hashes[i : i + window]))
    return sorted(out)


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of word
    bigrams taken by the single most frequent bigram and the fraction of
    trigram occurrences that are duplicated — the two strongest
    boilerplate/degenerate-text indicators in published quality-filter
    stacks (Rae et al. 2021 §A1.1 use the same construction over word
    n-grams).

    Shape at scale: n-grams are built inside one projection (a transform
    over the token array — no self-join on positions), exploded once, then
    two key-partial aggregations on (doc_id, n, gram) and (doc_id). Both
    counts are integers and the two output fractions are single IEEE
    divisions, so results are bit-identical across engines and
    partitionings.
    """
    docs = documents.select("doc_id", tokens_col("text").alias("t")).filter(
        F.size("t") >= 3
    )
    bi = F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1]))")
    tri = F.expr(
        "transform(sequence(0, size(t) - 3), i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2]))"
    )
    grams = docs.select(
        "doc_id", F.lit(2).alias("n"), F.explode(bi).alias("g")
    ).unionAll(docs.select("doc_id", F.lit(3).alias("n"), F.explode(tri).alias("g")))
    counts = grams.groupBy("doc_id", "n", "g").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum(F.when(F.col("n") == 2, F.col("c"))).alias("n_bigrams"),
        F.max(F.when(F.col("n") == 2, F.col("c"))).alias("top_bi"),
        F.coalesce(
            F.sum(F.when((F.col("n") == 3) & (F.col("c") > 1), F.col("c"))), F.lit(0)
        ).alias("dup_tri"),
        F.sum(F.when(F.col("n") == 3, F.col("c"))).alias("n_trigrams"),
    )
    return per_doc.select(
        "doc_id",
        F.col("n_bigrams"),
        (F.col("top_bi").cast("double") / F.col("n_bigrams")).alias("top_bigram_frac"),
        (F.col("dup_tri").cast("double") / F.col("n_trigrams")).alias(
            "dup_trigram_frac"
        ),
    ).orderBy("doc_id")


def doc_length_histogram(documents: DataFrame, n_buckets: int = 10) -> DataFrame:
    """Corpus length histogram by fixed-width integer binning: bucket width
    is derived from the global [min, max] char range in pure integer
    arithmetic, then every document maps to a bucket in one projection.

    This is the scale-honest histogram shape — a global ntile() would be a
    single-partition window sort; here the range comes from one scalar
    aggregate (broadcast back as a 1-row join) and the assignment is
    embarrassingly parallel, so the plan is two map-side-combinable
    aggregates regardless of corpus size. All-integer outputs: exact in
    any engine.
    """
    bounds = documents.agg(
        F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi")
    )
    # Integer division only: double-divide-then-cast rounds differently
    # across engines (Spark truncates, DuckDB rounds half-even).
    return (
        documents.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(
                f"(n_chars - lo) DIV greatest((hi - lo) DIV {n_buckets} + 1, 1)"
            ).cast("long").alias("bucket"),
            "n_chars",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("bucket")
    )


def source_curation_report(documents: DataFrame) -> DataFrame:
    """Per-source curation rollup — the summary table a dataset curator
    reads before mixing sources: document and language counts, token
    volume, and how many documents are byte-exact duplicates of ANYTHING
    in the corpus (cross-source duplication is the usual crawl pathology).

    Two hash aggregations (corpus-wide md5 groups, then per-source rollup)
    joined on the content hash; both partial-aggregate map-side. The join
    key is the high-cardinality hash — it shuffles once, which at 100 TB
    is the same cost class as the exact-dedup pass itself.
    """
    t = documents.select(
        "source",
        "lang",
        F.md5("text").alias("h"),
        F.size(tokens_col("text")).alias("nt"),
    )
    dup_groups = t.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        t.join(dup_groups, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("nt").alias("total_tokens"),
            (F.sum("nt").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).alias("n_exact_dup_docs"),
        )
        .orderBy("source")
    )


def source_mixture_sample(documents: DataFrame) -> DataFrame:
    """Temperature-scaled source mixture report (t = 0.5): each source's
    sampling rate is proportional to n_docs^(t-1) = 1/sqrt(n_docs),
    normalized so the smallest source samples at rate 1.0 — the standard
    multinomial temperature rebalancing LLM training mixtures use to keep
    large crawl sources from drowning small curated ones. Membership is
    decided by the same content-free md5(doc_id) threshold as
    ``corpus_splits`` — reproducible across engines, runs, and
    partitionings, unlike seeded ``sample()``.

    t is fixed at 0.5 because sqrt/divide/floor are correctly-rounded IEEE
    ops in every engine, so rate_ppm (and therefore every membership
    decision) is bit-identical cross-engine; a general pow(n, t-1) is not.

    Scale: pass 1 is a map-side-partial count per source (result is
    source-cardinality-sized — tiny); rates broadcast-join back onto the
    corpus for pass 2's filtered count. Two scans of the corpus, no
    data-sized shuffle, no RNG state.
    """
    counts = documents.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    n_min = counts.agg(F.min("n_docs").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        "source",
        "n_docs",
        F.floor(
            F.sqrt(F.col("n_min").cast("double") / F.col("n_docs")) * F.lit(1e6)
        ).cast("long").alias("rate_ppm"),
    )
    hash_ppm = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 1000000
    )
    sampled = (
        documents.select("source", hash_ppm.alias("h"))
        .join(F.broadcast(rates.select("source", "rate_ppm")), "source")
        .filter(F.col("h") < F.col("rate_ppm"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return (
        rates.join(sampled, "source", "left")
        .select(
            "source",
            "n_docs",
            "rate_ppm",
            F.coalesce("n_sampled", F.lit(0).cast("long")).alias("n_sampled"),
        )
        .orderBy("source")
    )


def ngram_counts(
    documents: DataFrame, n: int = 2, min_count: int = 5
) -> DataFrame:
    """Corpus n-gram table — ``(gram, n_occurrences, n_docs)`` for every
    word n-gram seen at least ``min_count`` times — the raw statistic
    behind count-based language models, collocation mining, and the
    boilerplate lists quality filters blocklist.

    Shape at scale: grams are built inside one projection (a ``transform``
    over the token array — no positional self-join), exploded once, and
    counted in a single map-side-partial aggregation keyed on the gram.
    The ``min_count`` cut happens in the same aggregate (HAVING), so the
    long tail — the bulk of the distinct-gram mass at corpus scale —
    never survives the shuffle boundary.
    """
    parts = ", ' ', ".join(f"t[i + {j}]" for j in range(n))
    gram = F.expr(f"transform(sequence(0, size(t) - {n}), i -> concat({parts}))")
    return (
        documents.select("doc_id", tokens_col("text").alias("t"))
        .filter(F.size("t") >= n)
        .select("doc_id", F.explode(gram).alias("gram"))
        .groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= min_count)
        .orderBy("gram")
    )


def curation_pipeline(
    documents: DataFrame,
    allowed_langs: tuple[str, ...] = ("de", "en", "es", "fr"),
    min_tokens: int = 20,
    min_stopword_ratio: float = 0.02,
) -> DataFrame:
    """End-to-end curation decision per document — the composed filter
    chain (language allowlist → quality gates → exact-dedup keep) every
    pre-training corpus goes through, emitted as one row per document with
    per-stage booleans so curators can audit WHY a document dropped, not
    just that it did.

    Shape at scale: the language and quality gates are pure projections
    (no shuffle); the dedup-keep stage is one window over md5(text) — the
    same single content-hash shuffle an exact-dedup pass costs anyway.
    Keeping rejected rows (flagged, not filtered) costs nothing extra: the
    row count is the corpus size either way, and downstream consumers
    filter on ``kept`` with predicate pushdown.
    """
    toks = tokens_col("text")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("double")
        / n_tokens
    )
    w = Window.partitionBy(F.md5("text"))
    flagged = documents.select(
        "doc_id",
        F.col("lang").isin(*allowed_langs).alias("keep_lang"),
        ((n_tokens >= min_tokens) & (stop_ratio >= min_stopword_ratio)).alias(
            "keep_quality"
        ),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep_dedup"),
    )
    return flagged.select(
        "doc_id",
        "keep_lang",
        "keep_quality",
        "keep_dedup",
        (F.col("keep_lang") & F.col("keep_quality") & F.col("keep_dedup")).alias(
            "kept"
        ),
    ).orderBy("doc_id")


def doc_chunks(
    documents: DataFrame, chunk_size: int = 32, stride: int = 24
) -> DataFrame:
    """Fixed-size token chunking with overlap — the context-window packing
    step of a pre-training pipeline: each document becomes
    ``ceil`` windows of ``chunk_size`` tokens starting every ``stride``
    tokens (``chunk_size - stride`` tokens of overlap), each with a stable
    content hash for downstream chunk-level dedup.

    Shape at scale: pure projection + one ``explode`` over a per-row
    sequence — no shuffle, no UDF, output rows ≈ tokens/stride. The chunk
    slice happens AFTER the explode (one slice per chunk row), so the plan
    never builds an all-chunks array per document in a single expression
    (the CollapseProject O(n²) trap with nested array-building lambdas).
    """
    toks = F.split(F.col("text"), " ")
    n_starts_minus1 = F.expr(f"CAST(floor((size(t) - 1) / {stride}) AS INT)")
    start = (F.col("chunk_id").cast("long") * stride).alias("start_token")
    chunk = F.slice(F.col("t"), F.col("chunk_id") * stride + 1, chunk_size)
    return (
        documents.select("doc_id", toks.alias("t"))
        .select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(0), n_starts_minus1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            start,
            F.size(chunk).alias("n_tokens"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_id")
    )


def chunk_dedup_stats(
    documents: DataFrame, chunk_size: int = 32, stride: int = 32
) -> DataFrame:
    """Corpus-level SUBSTRING duplication report per source: chunk every
    document into fixed token windows (``doc_chunks`` hashes, default
    non-overlapping), count how many chunk occurrences are copies of a
    chunk seen elsewhere in the corpus, and report each source's
    duplicated-chunk fraction. This is the metric between exact-doc dedup
    (misses partial copies) and shingle near-dup (pairwise): boilerplate
    headers, license blocks, and templated spans show up here first.

    Stride defaults to chunk_size (non-overlapping) so every token is
    counted once and the fraction is a true share of the corpus.

    Shape at scale: the corpus is chunked ONCE (a naive
    count-then-join-back formulation evaluates the explode twice — Spark
    does not share un-materialized branches, and ReuseExchange does not
    fire across the differently-partitioned branches), immediately
    aggregated to (chunk_md5, source) grain with map-side partials
    (which also absorbs hot-chunk skew), and the global occurrence count
    rides a window over ``chunk_md5`` whose partitions hold at most
    n_sources rows — no self-join, so the chunk subtree is evaluated
    exactly once. No pairwise join — cost is linear in total chunks
    regardless of how duplicated the corpus is (the pathological
    all-identical corpus costs the same as the all-unique one).
    """
    from pyspark.sql.window import Window

    chunks = doc_chunks(documents, chunk_size=chunk_size, stride=stride).join(
        documents.select("doc_id", "source"), "doc_id"
    )
    g = chunks.groupBy("chunk_md5", "source").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("chunk_md5")
    return (
        g.withColumn("n_occ", F.sum("c").over(w))
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("n_occ") > 1, F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
            F.countDistinct(
                F.when(F.col("n_occ") > 1, F.col("chunk_md5"))
            ).alias("n_dup_groups"),
        )
        .select(
            "source",
            "n_chunks",
            "n_dup_chunks",
            "n_dup_groups",
            (F.col("n_dup_chunks").cast("double") / F.col("n_chunks")).alias(
                "dup_chunk_frac"
            ),
        )
        .orderBy("source")
    )


def token_gini_diversity(documents: DataFrame) -> DataFrame:
    """Per-document lexical diversity as Gini impurity ``1 − Σ(c/n)²``
    over the token distribution — the libm-free surrogate for token
    entropy (same ordering for the degenerate-text screen: a one-token
    loop scores 0, maximal diversity approaches 1). Entropy itself needs
    ``ln`` whose last-ulp rounding differs across libm builds, so it can
    never be bit-exact cross-engine; Gini is integer sums and one IEEE
    division — exact everywhere (the ``tfidf_top_terms`` surrogate
    pattern).

    Shape at scale: one explode, one (doc_id, token) count aggregate with
    map-side partials, one (doc_id) aggregate of c² — linear, bounded
    key cardinality, pure codegen.
    """
    toks = documents.select(
        "doc_id", F.explode(tokens_col("text")).alias("tok")
    )
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            (
                F.lit(1.0)
                - F.col("sum_c2").cast("double")
                / (F.col("n_tokens") * F.col("n_tokens")).cast("double")
            ).alias("gini_diversity"),
        )
        .orderBy("doc_id")
    )


def hapax_ratio(documents: DataFrame) -> DataFrame:
    """Per-document hapax legomena profile: how many of a document's tokens
    occur exactly once WITHIN it, and the hapax fraction of its token count.
    A low hapax ratio flags templated/repetitive text (the complement of
    ``repetition_stats``' n-gram view, at unigram grain); lexicographers use
    the same statistic for vocabulary-richness estimates.

    Shape at scale: explode tokens → one (doc, token) count aggregate → one
    per-doc aggregate. Both shuffles are keyed aggregates with map-side
    partials; the ratio divides two exact longs — one IEEE division,
    bit-identical cross-engine.
    """
    tok = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    per_token = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("freq")
    )
    return (
        per_token.groupBy("doc_id")
        .agg(
            F.sum("freq").alias("n_tokens"),
            F.coalesce(F.sum(F.when(F.col("freq") == 1, 1)), F.lit(0))
            .cast("long")
            .alias("n_hapax"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "n_hapax",
            (F.col("n_hapax") / F.col("n_tokens")).alias("hapax_ratio"),
        )
        .orderBy("doc_id")
    )


def pmi_collocations(
    documents: DataFrame, min_count: int = 5, k: int = 50
) -> DataFrame:
    """Top-``k`` adjacent-word collocations by a PMI surrogate — the
    statistic that separates genuine multi-word expressions ("San
    Francisco") from merely frequent pairs ("of the"); corpus curators use
    it to build tokenizer merge hints and boilerplate phrase lists.

    The score is the PMI ratio WITHOUT the log: with joint p = c_pair/N_bi
    and marginals p_i = c_i/N_uni,

        score = (c_pair · N_uni · N_uni) / (N_bi · c_w1 · c_w2)

    log() is monotone, so the RANKING equals classic PMI while every
    operand stays an exact long and the score is a fixed five-op IEEE
    expression tree — bit-identical cross-engine (the ``tfidf_top_terms``
    libm-free trick applied to collocations).

    Shape at scale: unigram and bigram counts are two keyed aggregates
    with map-side partials; the ``min_count`` cut lands BEFORE the two
    vocabulary joins, so the long bigram tail never joins; BOTH corpus
    totals (Σn tokens, Σmax(n−1,0) bigrams) ride one extra 1-row scalar
    aggregate over the full tokenized corpus (all documents, including
    size<2 ones — their bigram term is 0) — Spark does not share
    un-materialized branches, so deriving totals from the count tables
    would silently re-scan the corpus once per total; the final top-k is
    a TakeOrdered, never a global sort.
    """
    toks = documents.select(tokens_col("text").alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pair = F.expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i + 1] AS w2))"
    )
    bi = (
        toks.filter(F.size("t") >= 2)
        .select(F.explode(pair).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    totals = toks.select(F.size("t").alias("n")).agg(
        F.sum("n").cast("long").alias("n_uni_total"),
        F.sum(F.greatest(F.col("n") - 1, F.lit(0)))
        .cast("long")
        .alias("n_bi_total"),
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("n_w2"))
    nu = F.col("n_uni_total").cast("double")
    score = (
        (F.col("n_pair").cast("double") * nu * nu)
        / (
            F.col("n_bi_total").cast("double")
            * F.col("n_w1").cast("double")
            * F.col("n_w2").cast("double")
        )
    )
    return (
        bi.filter(F.col("n_pair") >= min_count)
        .join(u1, "w1")
        .join(u2, "w2")
        .join(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.col("n_w1").cast("long").alias("n_w1"),
            F.col("n_w2").cast("long").alias("n_w2"),
            score.alias("pmi_score"),
        )
        .orderBy(F.desc("pmi_score"), "w1", "w2")
        .limit(k)
    )


def inverted_index(
    documents: DataFrame,
    min_df: int = 3,
    max_df: int = 40,
    max_postings: int = 10,
) -> DataFrame:
    """Capped inverted-index postings — for every token whose document
    frequency falls in ``[min_df, max_df]``, the document frequency and
    the first ``max_postings`` doc ids (ascending) as a comma-joined
    posting list. The IR-index build step: the df band drops both
    stopword-grade terms (too common to index) and hapax noise, and the
    cap bounds every posting list the way real index shards page them.

    Shape at scale: presence pairs are one distinct aggregate; the df
    band is computed on the aggregated (token, df) table and semi-joins
    the pairs BEFORE the ranking window, so the window only ever sees
    partitions of at most ``max_df`` rows — bounded by construction, no
    skew. ``collect_list`` materializes at most ``max_postings`` longs
    per group.
    """
    occ = documents.select(
        F.explode(tokens_col("text")).alias("token"), "doc_id"
    ).distinct()
    dfs = (
        occ.groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(
            (F.col("doc_freq") >= min_df) & (F.col("doc_freq") <= max_df)
        )
    )
    w = Window.partitionBy("token").orderBy("doc_id")
    return (
        occ.join(dfs, "token")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_postings)
        .groupBy("token", "doc_freq")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
        .select("token", F.col("doc_freq").cast("long").alias("doc_freq"), "postings")
        .orderBy("token")
    )


def training_batches(documents: DataFrame, batch_size: int = 64) -> DataFrame:
    """Deterministic corpus shuffle + fixed-size training-batch packing:
    every document gets a reproducible pseudo-random position (md5 of its
    id under a fixed salt — the ``corpus_splits`` determinism trick), the
    positions become exact global ranks, and rank``//batch_size`` is the
    batch id. Emits per-batch document and token totals plus the first
    shuffle key — the manifest a data-loader shards by.

    Shape at scale: the global ordering goes through
    ``olap._global_ranks`` (range-partitioned TeraSort shape — sampled
    boundaries, per-range row_number, broadcast offsets), NEVER a
    single-partition window; the per-batch rollup is one keyed aggregate.
    This is the write-side of epoch shuffling: reshuffling an epoch is a
    salt change, not a new random state.
    """
    from inf_553_datamining_mapreduce_spark.operators.olap import _global_ranks

    keyed = documents.select(
        "doc_id",
        F.size(tokens_col("text")).alias("n_tokens"),
        F.md5(F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string"))).alias(
            "skey"
        ),
    )
    ranked = _global_ranks(keyed, ["skey", "doc_id"], rank_name="pos")
    return (
        ranked.select(
            F.floor((F.col("pos") - 1) / batch_size).cast("long").alias("batch_id"),
            "n_tokens",
            "skey",
        )
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("batch_tokens"),
            F.min("skey").alias("first_key"),
        )
        .orderBy("batch_id")
    )


def weighted_corpus_sample(documents: DataFrame, k: int = 50) -> DataFrame:
    """Weighted systematic (probability-proportional-to-size) corpus
    sample: order documents by a reproducible md5 shuffle key, take the
    exact running token-count total, and select the document covering each
    of the ``k`` equally-spaced weight thresholds — long documents are
    proportionally more likely to be picked, short ones can still win a
    slot, and the whole draw is a pure function of the corpus (the
    deterministic alternative to Efraimidis–Spirakis keys, whose ln()
    ranking is libm-dependent and so not bit-reproducible across engines).

    Selection is all-integer: a document is chosen iff
    ``(cum_before·k) div W < (cum_after·k) div W`` — it crosses a slot
    boundary — and its (strictly increasing) starting slot is emitted, so
    at most ``k`` rows come back, every one exact cross-engine while the
    products stay in range: Spark computes ``cum·k`` in 64-bit long
    (DuckDB widens to HUGEINT), so exactness requires total corpus weight
    W·k < 2^63 — ~9.2e18/k tokens, far beyond the 100-TB design point
    (~2.5e13 tokens); past it, widen the product to decimal.

    Shape at scale: the running total rides ``olap._global_cumsum``
    (range-partition, per-range running sums, broadcast offsets — the
    TeraSort shape; no single-partition window); selection and slot
    assignment are pure expressions.
    """
    from inf_553_datamining_mapreduce_spark.operators.olap import _global_cumsum

    keyed = documents.select(
        "doc_id",
        F.size(tokens_col("text")).cast("long").alias("weight"),
        F.md5(F.concat(F.lit("wsample:"), F.col("doc_id").cast("string"))).alias(
            "skey"
        ),
    )
    cum = _global_cumsum(
        keyed, ["skey", "doc_id"], "weight",
        cum_name="cum_after", total_name="w_total",
    )
    before_slot = F.expr(f"((cum_after - weight) * {k}) div w_total")
    after_slot = F.expr(f"(cum_after * {k}) div w_total")
    # Explicit all-zero-weight guard: both engines' integer div-by-zero
    # yields NULL (so such rows are filtered anyway) — the predicate makes
    # the no-rows contract visible rather than an artifact of NULL logic.
    return (
        cum.filter((F.col("w_total") > 0) & (before_slot < after_slot))
        .select(
            "doc_id",
            "weight",
            before_slot.cast("long").alias("slot"),
        )
        .orderBy("slot")
    )


# ---------------------------------------------------------------------------
# PII redaction — the scrub stage every training-data pipeline runs before
# anything else ships. Patterns are deliberately conservative constructs
# (char classes, bounded repetition, \b) that mean the same thing in Java
# regex (Spark) and RE2 (DuckDB), so the oracle gate proves the redaction
# semantics cross-engine.
PII_PATTERNS = {
    # order matters: email first (its local part may contain digit runs),
    # then structured phone/IP forms, then the bare long-digit catch-all
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{2,3}[- .]\d{3}[- .]\d{3,4}[- .]\d{4}\b",
    "ip": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "digit_run": r"\d{6,}",
}


def redact_pii(
    df: DataFrame, text_col: str = "text", id_cols: tuple = ("doc_id",)
) -> DataFrame:
    """Redact emails, phone numbers, IPv4 addresses, and long digit runs
    from a text column, returning the scrubbed text plus a per-document
    count for each PII class (counted on the ORIGINAL text, so the
    counts audit what was removed).

    Replacement order is the dict order above: each class's matches
    become a ``<CLASS>`` sentinel before the next class scans, so a
    pattern can't re-match inside an earlier redaction; the four
    patterns are mutually non-overlapping on well-formed text anyway
    (phone/IP digits are dash/dot-separated so they never form a 6-digit
    run). Counts are per-class over the original text and therefore
    independent of that order.

    Shape at scale: a pure per-row projection — no shuffle, no UDF; the
    regex engine runs JVM-side inside whole-stage codegen. At 100 TB
    this is a map-only pass fused into whatever scan feeds it.
    """
    redacted = F.col(text_col)
    counts = []
    for name, pat in PII_PATTERNS.items():
        counts.append(
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("long").alias(
                f"n_{name}"
            )
        )
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    return df.select(
        *id_cols, redacted.alias("redacted_text"), *counts
    )


def duplicated_span_stats(documents: DataFrame, k: int = 8) -> DataFrame:
    """ExactSubstr-style duplicated-span statistics (the fixed-length
    approximation of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): for every token position, hash the k-token
    span starting there; a span whose hash occurs more than once in the
    corpus (in another document OR repeated within the same one — the
    paper's self-repetition case) is a duplicated span. Emits per
    document (with at least one full span) the exact integer counts
    ``n_grams`` / ``n_dup_grams`` plus ``dup_rate`` as their single IEEE
    division — deterministic cross-engine (one op on exact integers, no
    accumulation order).

    Shape at scale: the gram build is a PURE PROJECTION — tokens, a
    `sequence`/`transform`/`slice` expression producing each span's hash
    per row, one explode (linear in total tokens, zero shuffles; the
    per-doc-window formulation this replaced shuffled the whole token
    stream by doc_id first, and window functions are also what a
    streaming twin can't run) — then one hash-count aggregate whose
    OUTPUT is immediately cut to the duplicated hashes only. ``n_grams``
    never touches the gram stream at all (it is ``max(n-k+1, 0)``
    directly off the tokens column), and ``n_dup_grams`` joins the gram
    stream against the SMALL dup-hash table — not against the full
    per-hash count table, which at sf10 shipped every one of 23.6M
    md5-keyed rows through a second full-width shuffle and went 20x for
    10x data (measured round 7; this shape is 1.5-2x). AQE broadcasts
    the dup table when it fits; when it doesn't, the shuffled join's
    build side is still only the duplicated hashes. No all-pairs
    anything: unlike MinHash (which estimates document-level
    similarity), this is the span-level EXACT duplication signal, and
    the two catch different contamination (a boilerplate paragraph
    pasted into thousands of otherwise-distinct documents never reaches
    Jaccard 0.8 but lights up every one of its spans here).
    """
    grams = _span_hashes(documents, k)
    dups = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") > 1)
        .select("h")
    )
    dup_counts = (
        grams.join(dups, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_grams"))
    )
    n = F.size(F.split("text", " "))
    doc_grams = documents.select(
        "doc_id",
        F.greatest(n - (k - 1), F.lit(0)).cast("long").alias("n_grams"),
    ).filter(F.col("n_grams") > 0)
    return (
        doc_grams.join(dup_counts, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            (
                F.coalesce("n_dup_grams", F.lit(0)) / F.col("n_grams")
            ).alias("dup_rate"),
        )
        .orderBy("doc_id")
    )


def _span_hashes(documents: DataFrame, k: int) -> DataFrame:
    """(doc_id, h) for every k-token span — a pure per-row projection
    (split -> sequence/transform/slice -> md5 -> explode), no window, no
    shuffle, so it runs identically under batch and Structured
    Streaming. Documents with fewer than k tokens produce no rows (the
    sequence guard — ``F.sequence`` with start > stop would otherwise
    generate a DESCENDING range, not an empty one)."""
    tokens = F.split("text", " ")
    n = F.size(tokens)
    spans = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(tokens, i, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return documents.select("doc_id", F.explode(spans).alias("h"))


def _span_hashes_pos(documents: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, h) for every k-token span, ``pos`` 1-based (matching
    ``slice`` indexing) — the positional variant of ``_span_hashes``,
    still a pure per-row projection (posexplode of the same
    sequence/transform expression)."""
    tokens = F.split("text", " ")
    n = F.size(tokens)
    spans = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(tokens, i, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return documents.select(
        "doc_id", F.posexplode(spans).alias("pos0", "h")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")


def remove_duplicated_spans(
    documents: DataFrame, k: int = 8, min_count: int = 2
) -> DataFrame:
    """ExactSubstr REMOVAL — the other half of Lee et al. 2022's pipeline
    (``duplicated_span_stats`` measures; this emits the deduplicated
    corpus). For every k-token span hash occurring >= ``min_count`` times
    in the corpus, ONE canonical occurrence survives — the minimum
    (doc_id, pos), a deterministic total order — and every other
    occurrence's k token positions are dropped; each document's surviving
    tokens are re-joined in order. Documents shorter than k tokens pass
    through unchanged. All decisions are integer/md5, so the whole
    operator oracles in DuckDB with the same tokenization.

    Overlap semantics: a token is dropped if ANY losing occurrence covers
    it — so a losing span overlapping a winning one can still remove part
    of the winner's text. That is the paper's behavior too (suffix-array
    ExactSubstr cuts byte ranges, not aligned windows) and keeps the rule
    a pure set-union, order-independent and engine-reproducible.

    Shape at scale: span build is the pure projection of
    ``_span_hashes_pos``; the winner is one min-struct AGGREGATE per hash
    (no per-hash row_number sort — a boilerplate span pasted into a
    million documents would make that partition's sort the straggler);
    losers join back on the hash; removed positions collapse with one
    per-doc collect_set bounded by document length; the final text is a
    1:1 join plus an index-filter projection. Three shuffles, all on
    hash/doc_id keys, linear in total tokens.
    """
    spans = _span_hashes_pos(documents, k)
    winners = spans.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("w"),
        F.count(F.lit(1)).alias("n_occ"),
    )
    losers = (
        spans.join(winners.filter(F.col("n_occ") >= min_count), "h")
        .filter(
            (F.col("doc_id") != F.col("w.doc_id"))
            | (F.col("pos") != F.col("w.pos"))
        )
        .select("doc_id", "pos")
    )
    removed = (
        losers.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("tokpos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("tokpos").alias("rm"))
    )
    toks = F.split("text", " ")
    rm = F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    return (
        documents.join(removed, "doc_id", "left")
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(rm).cast("long").alias("n_removed"),
            F.concat_ws(
                " ",
                F.filter(
                    toks,
                    lambda t, i: ~F.array_contains(rm, (i + 1).cast("int")),
                ),
            ).alias("text"),
        )
        .orderBy("doc_id")
    )


def scrub_indexed_spans(
    new_docs: DataFrame, span_index: DataFrame, k: int = 8
) -> DataFrame:
    """Ingestion-time ExactSubstr SCRUB — the removal twin of
    ``index_span_contamination`` (which only measures): every k-token
    span of an INCOMING document whose hash already exists in the
    indexed corpus is dropped (all covered token positions, overlap
    union — the corpus copy is canonical, the incoming occurrence never
    survives), and the surviving tokens re-join in order. The write-path
    complement of ``remove_duplicated_spans``: that one deduplicates a
    corpus in place; this one keeps an ALREADY-deduplicated corpus clean
    as new data streams in, without ever re-touching the corpus.

    Stream shape: the positional span build is a pure projection, the
    probe one equi-join against the static index, and a document's spans
    live entirely in its own input row — per-document aggregates are
    complete within any micro-batch (same foreachBatch contract as
    ``index_span_contamination``), zero cross-batch state.

    Shape at scale: one join of the incoming span stream against the
    index (the index side is the big one — partitioned on the hash, the
    natural bucketing key for the persisted artifact), one per-doc
    collect_set bounded by document length, one 1:1 join back, and the
    index-filter projection. Linear in incoming tokens.
    """
    spans = _span_hashes_pos(new_docs, k)
    hits = spans.join(span_index.select("h"), "h")
    removed = (
        hits.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("tokpos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("tokpos").alias("rm"))
    )
    toks = F.split("text", " ")
    rm = F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    return (
        new_docs.join(removed, "doc_id", "left")
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(rm).cast("long").alias("n_removed"),
            F.concat_ws(
                " ",
                F.filter(
                    toks,
                    lambda t, i: ~F.array_contains(rm, (i + 1).cast("int")),
                ),
            ).alias("text"),
        )
        .orderBy("doc_id")
    )


def build_span_index(documents: DataFrame, k: int = 8) -> DataFrame:
    """Corpus span index for ingestion-time contamination checks: every
    k-token span hash with its occurrence count. One aggregate over the
    projected span stream; the natural persisted artifact an ingestion
    pipeline keeps next to its MinHash index."""
    return _span_hashes(documents, k).groupBy("h").agg(
        F.count(F.lit(1)).alias("n_occ")
    )


def index_span_contamination(
    new_docs: DataFrame, span_index: DataFrame, k: int = 8
) -> DataFrame:
    """Ingestion-time ExactSubstr contamination: for each INCOMING
    document, how many of its k-token spans already exist in the indexed
    corpus. Stateless per row — the span build is a pure projection,
    the probe one equi-join against the static index, and a document's
    spans live entirely in its own input row, so the per-document
    aggregate is COMPLETE within any micro-batch: under Structured
    Streaming the exact composition runs through ``foreachBatch``
    (tested), no watermarks or cross-batch state. Emits docs with at least one full span:
    exact integer `n_grams` / `n_indexed_grams` plus their single IEEE
    division as `contamination_rate`.
    """
    grams = _span_hashes(new_docs, k)
    hits = grams.join(
        span_index.select("h", F.lit(1).alias("_hit")), "h", "left"
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias(
                "n_indexed_grams"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_indexed_grams",
            (F.col("n_indexed_grams") / F.col("n_grams")).alias(
                "contamination_rate"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# BPE merge learning — tokenizer training as a distributed aggregate
# (Sennrich, Haddow & Birch 2016, "Neural Machine Translation of Rare
# Words with Subword Units"). No reference analog (SURVEY.md §2.6 ends at
# split/concat); this is the LLM-pipeline tokenizer-training stage.

BPE_END_OF_WORD = "</w>"


def _bpe_word_table(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt, syms) — the word-frequency reduction every scalable BPE
    trainer starts from: a 100 TB corpus collapses to a vocabulary-sized
    table in ONE hash aggregate (map-side partials), and every subsequent
    merge iteration runs over the vocabulary weighted by ``cnt``, never
    re-reading the corpus. ``syms`` starts as the word's characters plus
    the ``</w>`` end-of-word marker (so suffixes like ``e</w>`` can merge,
    exactly as in the paper). Words are restricted to ``^[a-z]+$`` so the
    symbol alphabet is closed under concatenation and the cross-engine
    fold below needs no escaping."""
    chars = F.split(F.col("word"), "")
    return (
        documents.select(F.explode(tokens_col(text_col)).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "word",
            "cnt",
            F.concat(chars, F.array(F.lit(BPE_END_OF_WORD))).alias("syms"),
        )
    )


def _bpe_merge_fold(lhs: str, rhs: str, syms: Column | None = None) -> Column:
    """Greedy left-to-right non-overlapping merge of the adjacent symbol
    pair (lhs, rhs), as a single ``aggregate`` fold over ``syms`` with a
    space-joined string accumulator: if the accumulator's LAST symbol is
    ``lhs`` and the next symbol is ``rhs``, append ``rhs`` WITHOUT a
    separator (forming the merged symbol); else append with one. The fold
    is exactly subword-nmt's regex pass — ``a a a`` under pair (a,a)
    merges once, ``a b a b`` under (a,b) merges twice — and the identical
    ``list_reduce`` runs in the DuckDB oracle, so merge application is
    proven cross-engine. Pure projection: no shuffle, no UDF."""
    if syms is None:
        syms = F.col("syms")
    return F.aggregate(
        F.slice(
            syms, 2, F.greatest(F.size(syms) - 1, F.lit(0))
        ),
        F.element_at(syms, 1),
        lambda acc, x: F.when(
            (x == F.lit(rhs))
            & ((acc == F.lit(lhs)) | acc.endswith(F.lit(" " + lhs))),
            F.concat(acc, x),
        ).otherwise(F.concat(acc, F.lit(" "), x)),
    )


def bpe_learn(
    documents: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Learn ``n_merges`` BPE merges over the corpus; returns
    ``(merges, vocab)`` where ``merges`` is the learned table
    (merge_rank, lhs, rhs, merged, pair_count) and ``vocab`` is the final
    word table with each word's symbol sequence after all merges.

    Per iteration: one pair-explode + hash aggregate over the
    VOCABULARY table (weighted by word count — adjacent-pair counts
    include overlapping occurrences, as in the paper), one 1-row argmax
    collect (the algorithm's synchronization point, same bounded-scalar
    pattern as Louvain's ``m``), and one pure-projection fold applying
    the winner. The vocabulary goes through ``checkpoint`` each round
    so the plan doesn't nest ``n_merges`` HOF folds. At 100 TB the corpus is
    read ONCE (the word-count aggregate); iterations cost
    O(vocab x avg word length) each — the shape HF ``tokenizers`` and
    subword-nmt both use, here distributed.

    Ties in pair count break by (pair_count DESC, lhs ASC, rhs ASC) — a
    total order, so the learned merge sequence is deterministic and the
    DuckDB oracle (chained CTEs, one per iteration) reproduces it
    exactly."""
    spark = documents.sparkSession
    words = _bpe_word_table(documents, text_col).localCheckpoint()
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        pairs = words.select(
            "cnt",
            F.expr(
                "explode(arrays_zip(slice(syms, 1, size(syms)-1),"
                " slice(syms, 2, size(syms)-1)))"
            ).alias("p"),
        ).select(
            F.col("p")["0"].alias("lhs"), F.col("p")["1"].alias("rhs"), "cnt"
        )
        best = (
            pairs.groupBy("lhs", "rhs")
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not best:
            break
        lhs, rhs, cnt = best[0]["lhs"], best[0]["rhs"], int(best[0]["pair_count"])
        merges.append((rank, lhs, rhs, lhs + rhs, cnt))
        words = checkpoint(
            words.select(
                "word",
                "cnt",
                F.split(_bpe_merge_fold(lhs, rhs), " ").alias("syms"),
            ),
            words,
        )
    merges_df = spark.createDataFrame(
        merges,
        "merge_rank int, lhs string, rhs string, merged string, pair_count long",
    )
    return merges_df, words


def bpe_merges(documents: DataFrame, n_merges: int = 8) -> DataFrame:
    """The learned BPE merge table, in merge order."""
    merges, _ = bpe_learn(documents, n_merges)
    return merges.orderBy("merge_rank")


def bpe_vocab_compression(documents: DataFrame, n_merges: int = 8) -> DataFrame:
    """Per-source tokenizer-compression report after applying the learned
    merges: total (alpha) words, total BPE tokens those words encode to,
    and tokens-per-word as their single IEEE division (deterministic —
    one op on exact integers). The fertility metric every tokenizer
    evaluation reports, per corpus source.

    Shape: the learn loop runs over the global vocabulary; the per-source
    word counts are a second corpus aggregate joined to the final
    vocabulary (vocabulary-sized build side — AQE broadcasts it at any
    realistic scale)."""
    _, vocab = bpe_learn(documents, n_merges)
    per_src = (
        documents.select("source", F.explode(tokens_col("text")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_src.join(
            vocab.select("word", F.size("syms").alias("n_syms")), "word"
        )
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_syms")).alias("n_bpe_tokens"),
        )
        .select(
            "source",
            "n_words",
            "n_bpe_tokens",
            (F.col("n_bpe_tokens") / F.col("n_words")).alias(
                "avg_tokens_per_word"
            ),
        )
        .orderBy("source")
    )


def apply_bpe_merges(
    documents: DataFrame,
    merges: list,
    text_col: str = "text",
) -> DataFrame:
    """Tokenize documents with an already-learned merge list (the
    ingestion-time half of BPE): per document, the count of alpha words,
    the BPE tokens they encode to under ``merges``, and tokens-per-word
    as the single IEEE division. Apply semantics are one greedy
    left-to-right pass per merge, in learned order — the same fold the
    trainer ran, so training vocabulary re-tokenizes to its trained
    segmentation by construction (priority-queue re-encoding, as in HF
    tokenizers, can differ on unseen words; the sequential contract is
    what the oracle mirrors).

    Shape at scale: the incoming batch collapses to ITS OWN distinct-word
    table (one hash aggregate), the merges fold over that (vocabulary-
    sized, checkpointed per merge), and the result joins back to the
    exploded batch on the word — a batch-vocabulary build side AQE
    broadcasts. Stateless per batch: a document's words live in its own
    row and the learned merges are static, so the identical composition
    runs under ``foreachBatch`` with zero cross-batch state (the
    ``index_span_contamination`` contract)."""
    words = (
        documents.select(F.explode(tokens_col(text_col)).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .distinct()
        .select(
            "word",
            F.concat(
                F.split(F.col("word"), ""),
                F.array(F.lit(BPE_END_OF_WORD)),
            ).alias("syms"),
        )
        .localCheckpoint()
    )
    # Folds CHAIN inside one projection, checkpointing every 4 merges
    # instead of per merge (r13 optimization round): each fold is a
    # pure expression over the previous fold's output, so composing 4
    # in one select is value-identical while cutting the per-merge
    # materialization jobs 4x. The learner keeps per-merge checkpoints
    # (it must collect the argmax between folds); only APPLY, where the
    # whole merge list is known up front, can chain.
    _CHUNK = 4
    for i in range(0, len(merges), _CHUNK):
        syms_expr = F.col("syms")
        for lhs, rhs in merges[i : i + _CHUNK]:
            syms_expr = F.split(
                _bpe_merge_fold(lhs, rhs, syms_expr), " "
            )
        words = checkpoint(words.select("word", syms_expr.alias("syms")), words)
    sized = words.select("word", F.size("syms").alias("n_syms"))
    per_doc = (
        documents.select(
            "doc_id", F.explode(tokens_col(text_col)).alias("word")
        )
        .filter(F.col("word").rlike("^[a-z]+$"))
        .join(sized, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").alias("n_bpe_tokens"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_bpe_tokens",
        (F.col("n_bpe_tokens") / F.col("n_words")).alias(
            "tokens_per_word"
        ),
    ).orderBy("doc_id")


def incremental_bpe_tokenize(
    new_docs: DataFrame, base_docs: DataFrame, n_merges: int = 8
) -> DataFrame:
    """Learn merges on the indexed corpus, tokenize the INCOMING
    documents with them — the ingestion-time tokenizer twin (same
    even/odd driver split as the other incremental probes). The merge
    table is a bounded driver collect (``n_merges`` rows — the learned
    artifact every tokenizer ships); the apply side is stateless per
    batch."""
    merges_df, _ = bpe_learn(base_docs, n_merges)
    merges = [
        (r["lhs"], r["rhs"])
        for r in merges_df.orderBy("merge_rank").collect()
    ]
    return apply_bpe_merges(new_docs, merges)


def hashed_doc_features(documents: DataFrame, dims: int = 64) -> DataFrame:
    """Feature hashing (Weinberger et al. 2009, "Feature Hashing for
    Large Scale Multitask Learning"): project each document's
    bag-of-words into ``dims`` integer features — dimension = hash(token)
    mod dims, contribution = a sign bit from the next hash bit — without
    ever materializing a vocabulary-indexed matrix. The signed sum makes
    collisions unbiased (the paper's core trick), and everything is
    md5-60bit integer arithmetic, so the projection is engine-exact.

    Emitted exploded as (doc_id, dim, value) scalar rows. Shape at
    scale: one explode + one (doc_id, dim)-keyed hash aggregate with
    map-side partials — the same single-shuffle class as
    ``word_frequencies``; output is corpus x dims bounded."""
    h = F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast("long")
    return (
        documents.select(
            "doc_id", F.explode(tokens_col("text")).alias("token")
        )
        .select(
            "doc_id",
            F.pmod(h, F.lit(dims)).cast("int").alias("dim"),
            (F.shiftright(h, 6) % 2 * 2 - 1).cast("long").alias("sign"),
        )
        .groupBy("doc_id", "dim")
        .agg(F.sum("sign").alias("value"))
        .orderBy("doc_id", "dim")
    )


# ---------------------------------------------------------------------------
# N-gram language-model quality scoring (CCNet-style perplexity filter)
# ---------------------------------------------------------------------------

# Fractional bits of the fixed-point log2 used by the LM scorer. 6 bits =
# 1/64-bit resolution on every per-token surprisal, plenty to rank
# documents while keeping the whole pipeline in exact BIGINT arithmetic.
LM_Q = 6
LM_BOS = "<s>"


def _ilog2_q_sql(n_expr: str, q: int = LM_Q) -> str:
    """Spark-SQL text for ``floor-ish(log2(n) * 2**q)`` on a POSITIVE
    BIGINT expression, in pure integer arithmetic: octave = base-2
    ``conv`` length (the HLL rho trick — no libm), then ``q`` rounds of
    mantissa squaring extract one fractional bit each (normalize the
    31-bit mantissa, square, the result's 62nd bit IS the next bit of
    log2). Deterministic in any engine with 64-bit integers; the DuckDB
    oracle runs the same fold as a ``list_reduce``. Inputs above 2^31
    have their mantissa truncated to 31 bits first — an error below
    2^-30, identical in both engines."""
    e = f"(length(conv(CAST({n_expr} AS STRING), 10, 2)) - 1)"
    m0 = (
        f"(CASE WHEN {e} >= 30 THEN shiftright({n_expr}, CAST({e} - 30 AS INT))"
        f" ELSE shiftleft({n_expr}, CAST(30 - {e} AS INT)) END)"
    )
    return f"""aggregate(
        sequence(1, {q}),
        named_struct('m', CAST({m0} AS BIGINT), 'r', CAST({e} AS BIGINT)),
        (acc, i) -> CASE WHEN acc.m * acc.m >= 2305843009213693952L
            THEN named_struct('m', shiftright(acc.m * acc.m, 31), 'r', acc.r * 2 + 1)
            ELSE named_struct('m', shiftright(acc.m * acc.m, 30), 'r', acc.r * 2) END,
        acc -> acc.r)"""


def _lm_bigrams(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """``(doc_id, w1, w2)`` bigram stream with a BOS context before the
    first token — built inside ONE projection (transform over the token
    array, the ``ngram_counts`` trick): no positional self-join, no
    per-document window shuffle. Empty documents produce no rows."""
    pairs = F.expr(
        f"transform(sequence(1, size(t)), i -> named_struct("
        f"'w1', CASE WHEN i = 1 THEN '{LM_BOS}' ELSE t[i - 2] END, "
        f"'w2', t[i - 1]))"
    )
    return (
        documents.select("doc_id", tokens_col(text_col).alias("t"))
        .filter(F.size("t") >= 1)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )


def _lm_split_bucket(col: str = "doc_id") -> Column:
    """The corpus_splits hash bucket, shared so the LM trains on exactly
    the registered train split."""
    return (
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10)
        .cast("long") % 100
    )


def lm_quality_scores(
    documents: DataFrame, train_pct: int = 90
) -> DataFrame:
    """Per-document LANGUAGE-MODEL quality score: average bigram surprisal
    (bits/token, fixed point at 2^-LM_Q) under an add-one-smoothed bigram
    model trained on the corpus's own train split — the CCNet/Gopher-style
    perplexity filter (Wenzek et al. 2020 trains KenLM on trusted text and
    buckets documents by perplexity; same machinery, engine-exact): low
    bits/token = fluent/repetitive of the training distribution, high =
    noise, boilerplate soup, or off-distribution text.

    ``P(w2|w1) = (c(w1,w2) + 1) / (ctx(w1) + V)`` with ctx the context
    count and V the distinct-next-token vocabulary; per-token surprisal
    ``ilog2(ctx + V) - ilog2(c12 + 1)`` stays exact BIGINT end to end
    (the fixed-point log2 fold above), so the DuckDB oracle reproduces
    every score bit for bit — unlike float log-prob sums, which no two
    engines accumulate identically.

    Shape at 100 TB: one bigram projection+explode over the corpus; model
    tables are (vocab)- and (distinct-bigram)-sized aggregates with
    map-side partials; the log2 fold runs once per MODEL ROW, not per
    corpus token; scoring is two hash joins keyed on w1 / (w1, w2) and one
    doc-keyed sum. V rides as a 1-row broadcast scalar (the Louvain-``m``
    pattern). Unseen contexts fall back to ilog2(V) exactly as add-one
    smoothing dictates — no special cases, no UDFs, no collects.
    """
    big = _lm_bigrams(documents)
    train = big.join(
        documents.select("doc_id")
        .filter(_lm_split_bucket() < train_pct),
        "doc_id",
    )
    scored = _lm_score(big, _lm_model(train))
    split = F.when(_lm_split_bucket() < train_pct, "train").otherwise("heldout")
    return (
        documents.select("doc_id", "source", split.alias("split"))
        .join(scored, "doc_id")
        .select(
            "doc_id",
            "source",
            "split",
            "n_tokens",
            "total_bits_q6",
            F.expr("total_bits_q6 DIV n_tokens").alias("bits_per_token_q6"),
        )
        .orderBy("doc_id")
    )


def _lm_model(
    train_bigrams: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(v_row, ctx_bits, pair_bits)`` from a train bigram stream: the
    1-row vocabulary scalar (with its precomputed unknown-context bits),
    the per-context smoothed-denominator bits, and the per-bigram
    smoothed-numerator bits.

    EVERYTHING derives from ONE pair-count aggregate over the train
    stream: ``ctx(w1) = sum_w2 c12(w1, w2)`` (a context's count IS its
    bigram total) and ``V = countDistinct w2 of the pair table`` — so
    the corpus is scanned exactly once for the model, the checkpointed
    state is vocabulary-sized (distinct bigrams, never the corpus-sized
    bigram stream — at sf10 that materialization was measured 14x
    super-linear), and the log2 fold runs once per MODEL row."""
    pairc = (
        train_bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint()
    )
    v_row = pairc.agg(
        F.countDistinct("w2").cast("long").alias("v")
    ).select(
        "v", F.expr(_ilog2_q_sql("v")).alias("unk_bits")
    )
    ctx_bits = (
        pairc.groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
        .crossJoin(F.broadcast(v_row.select("v")))
        .select("w1", F.expr(_ilog2_q_sql("c1 + v")).alias("ctx_bits"))
    )
    pair_bits = pairc.select(
        "w1", "w2", F.expr(_ilog2_q_sql("c12 + 1")).alias("pair_bits")
    )
    return v_row, ctx_bits, pair_bits


def _lm_score(
    bigrams: DataFrame, model: tuple[DataFrame, DataFrame, DataFrame]
) -> DataFrame:
    """``(doc_id, n_tokens, total_bits_q6)`` for a bigram stream under a
    model from ``_lm_model``: two hash joins + one doc-keyed sum, all
    exact BIGINT. Stateless given the model — the property the
    ingestion-time twin rides."""
    v_row, ctx_bits, pair_bits = model
    return (
        bigrams.join(ctx_bits, "w1", "left")
        .join(pair_bits, ["w1", "w2"], "left")
        .crossJoin(F.broadcast(v_row.select("unk_bits")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.coalesce(F.col("ctx_bits"), F.col("unk_bits"))
                - F.coalesce(F.col("pair_bits"), F.lit(0))
            ).alias("total_bits_q6"),
        )
    )


def build_lm_model(
    indexed_docs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """FROZEN add-one bigram model over the full indexed corpus — the
    static side of the ingestion-time scorer. Each table is
    localCheckpoint'd so repeated micro-batch scoring never re-scans the
    corpus (the ``build_span_index`` convention)."""
    v_row, ctx_bits, pair_bits = _lm_model(_lm_bigrams(indexed_docs))
    return (
        v_row.localCheckpoint(),
        ctx_bits.localCheckpoint(),
        pair_bits.localCheckpoint(),
    )


def incremental_lm_scoring(
    new_docs: DataFrame,
    indexed_docs: DataFrame | tuple[DataFrame, DataFrame, DataFrame],
) -> DataFrame:
    """Ingestion-time LM quality scoring: incoming documents are scored
    against the model trained on the INDEXED corpus (frozen labels — the
    ``index_span_contamination`` stream-static shape), so the quality
    gate runs before a document lands, with no model drift inside a
    batch. Pass ``indexed_docs`` as a DataFrame to train here, or as a
    prebuilt ``build_lm_model`` triple to amortize the model across
    micro-batches. Stateless per batch: scores depend only on (document,
    frozen model), so any batch partition of the incoming stream
    concatenates to the batch result — the foreachBatch contract proven
    in tests/test_extensions.py."""
    model = (
        indexed_docs
        if isinstance(indexed_docs, tuple)
        else build_lm_model(indexed_docs)
    )
    scored = _lm_score(_lm_bigrams(new_docs), model)
    return (
        new_docs.select("doc_id", "source")
        .join(scored, "doc_id")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "total_bits_q6",
            F.expr("total_bits_q6 DIV n_tokens").alias("bits_per_token_q6"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# BM25 retrieval scoring (exact fixed point)
# ---------------------------------------------------------------------------

# Okapi BM25 constants as exact rationals: k1 = 6/5 (1.2), b = 3/4 (0.75).
BM25_K1 = (6, 5)
BM25_B = (3, 4)


def bm25_search(
    documents: DataFrame,
    query_terms: Iterable[str] = ("dup", "vector", "spark"),
    top_k: int = 20,
) -> DataFrame:
    """``(rank, doc_id, terms_hit, score_q12)`` — top-``top_k`` documents
    for a fixed term query under Okapi BM25 (Robertson & Zaragoza 2009),
    the retrieval scorer the TF-IDF family (``tfidf_top_terms``) stops
    short of. EXACT fixed-point arithmetic end to end, so the DuckDB
    oracle reproduces every score bit for bit:

    * ``idf_q6(t) = ilog2(2N + 2) - ilog2(2df + 1)`` — the +1-smoothed
      Robertson idf ``log((N - df + .5)/(df + .5) + 1) = log((N + 1) /
      (df + .5))`` in base 2 at 2^-6 resolution via the LM scorer's
      integer log2 fold (``_ilog2_q_sql``); always positive.
    * tf saturation with k1 = 6/5, b = 3/4 and avgdl = S/N (S = corpus
      tokens, N = docs) cleared of ALL fractions by multiplying through
      by 20·S:  ``tf_part_q6 = (2816·S·tf) DIV (20·S·tf + 6·S +
      18·dl·N)`` (2816 = 44·64). Positive-operand truncating division —
      identical in Spark ``DIV`` and DuckDB ``//``.
    * ``score_q12 = Σ_t idf_q6(t) · tf_part_q6(t, d)``; ties broken by
      doc_id, so the top-k cut is a total order.

    Shape at 100 TB: ONE corpus-sized explode feeds both the per-doc
    length aggregate and the term-filtered tf/df aggregates (the filter
    keeps only |Q| terms — everything downstream is query-sized except
    the doc-keyed tf table); N, S ride as a 1-row broadcast scalar (the
    Louvain-``m`` pattern) and the idf table broadcasts. Top-k is a
    global sort LIMIT (TakeOrdered — no single-partition window over the
    corpus; the rank window runs on ≤ top_k rows). int64-safe while
    2816·S·tf < 2^63 — S·tf ≤ 3.2e15, e.g. a 10^12-token corpus with
    per-doc tf ≤ 3200.
    """
    terms = [str(t) for t in query_terms]
    toks = documents.select(
        "doc_id", F.explode(tokens_col("text")).alias("token")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("s_tokens"),
    )
    qt = toks.filter(F.col("token").isin(terms))
    idf = (
        qt.groupBy("token")
        .agg(F.countDistinct("doc_id").cast("long").alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "token",
            (
                F.expr(_ilog2_q_sql("2 * n_docs + 2"))
                - F.expr(_ilog2_q_sql("2 * df + 1"))
            ).alias("idf_q6"),
        )
    )
    tf = qt.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(idf), "token")
        .select(
            "doc_id",
            (
                F.col("idf_q6")
                * F.expr(
                    "(2816 * s_tokens * tf) DIV "
                    "(20 * s_tokens * tf + 6 * s_tokens + 18 * dl * n_docs)"
                )
            ).alias("contrib_q12"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("terms_hit"),
            F.sum("contrib_q12").alias("score_q12"),
        )
    )
    top = scored.orderBy(F.desc("score_q12"), "doc_id").limit(top_k)
    w = Window.orderBy(F.desc("score_q12"), "doc_id")
    return top.select(
        F.row_number().over(w).alias("rank"),
        "doc_id",
        "terms_hit",
        "score_q12",
    ).orderBy("rank")


def build_bm25_index(
    indexed_docs: DataFrame,
    query_terms: Iterable[str] = ("dup", "vector", "spark"),
) -> tuple[DataFrame, DataFrame]:
    """FROZEN BM25 statistics over the indexed corpus — the static side
    of the ingestion-time scorer: the 1-row (n_docs, s_tokens) scalar and
    the per-term idf table, both localCheckpoint'd so micro-batch scoring
    never re-scans the corpus (the ``build_lm_model`` convention).

    The idf table carries EVERY query term, including ones the indexed
    corpus never saw: Okapi's +1-smoothed idf assigns df=0 the positive
    weight ``ilog2_q6(2N+2) - ilog2_q6(1) = ilog2_q6(2N+2)``, so an
    unseen term still contributes at score time instead of being
    silently inner-joined away (ADVICE r8).

    Query terms are DEDUPLICATED order-preservingly first: the idf table
    is built row-per-term from the raw list, so a duplicated input term
    would otherwise double-count its score_q12 contribution and
    terms_hit in ``incremental_bm25_scoring`` (ADVICE r9; the oracle
    dedupes identically)."""
    terms = list(dict.fromkeys(str(t) for t in query_terms))
    toks = indexed_docs.select(
        "doc_id", F.explode(tokens_col("text")).alias("token")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("s_tokens"),
    )
    term_rows = indexed_docs.sparkSession.createDataFrame(
        [(t,) for t in terms], "token string"
    )
    seen_df = (
        toks.filter(F.col("token").isin(terms))
        .groupBy("token")
        .agg(F.countDistinct("doc_id").cast("long").alias("df"))
    )
    idf = (
        term_rows.join(seen_df, "token", "left")
        .select(
            "token",
            F.coalesce(F.col("df"), F.lit(0).cast("long")).alias("df"),
        )
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "token",
            (
                F.expr(_ilog2_q_sql("2 * n_docs + 2"))
                - F.expr(_ilog2_q_sql("2 * df + 1"))
            ).alias("idf_q6"),
        )
    )
    return stats.localCheckpoint(), idf.localCheckpoint()


def incremental_bm25_scoring(
    new_docs: DataFrame,
    indexed_docs: DataFrame | tuple[DataFrame, DataFrame],
    query_terms: Iterable[str] = ("dup", "vector", "spark"),
) -> DataFrame:
    """Ingestion-time BM25: incoming documents scored against the FROZEN
    index statistics (idf and avgdl from the indexed corpus; tf and dl
    from the incoming document itself) — the stream-static shape of
    ``incremental_lm_scoring``. Stateless per batch: a score depends only
    on (document, frozen stats), so any batch partition of the incoming
    stream concatenates to the batch result. Same exact fixed-point
    arithmetic as :func:`bm25_search`; no rank column (a stream has no
    global top-k — rank at query time over the landed scores).

    Returns ``(doc_id, terms_hit, score_q12)`` ordered by doc_id.
    """
    terms = list(dict.fromkeys(str(t) for t in query_terms))
    stats, idf = (
        indexed_docs
        if isinstance(indexed_docs, tuple)
        else build_bm25_index(indexed_docs, terms)
    )
    toks = new_docs.select(
        "doc_id", F.explode(tokens_col("text")).alias("token")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        toks.filter(F.col("token").isin(terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    return (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(idf), "token")
        .select(
            "doc_id",
            (
                F.col("idf_q6")
                * F.expr(
                    "(2816 * s_tokens * tf) DIV "
                    "(20 * s_tokens * tf + 6 * s_tokens + 18 * dl * n_docs)"
                )
            ).alias("contrib_q12"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("terms_hit"),
            F.sum("contrib_q12").alias("score_q12"),
        )
        .orderBy("doc_id")
    )


def sequence_packing_plan(
    documents: DataFrame, budget: int = 256
) -> DataFrame:
    """Pre-training sequence packing as a plan: concatenate the
    (deterministically shuffled) token stream and cut it every
    ``budget`` tokens — the padding-free context-window packing step of
    an LLM data pipeline — then report, per context window, how many
    documents it touches, how many tokens each contributes, and whether
    a document straddles into the next window. ``(window_id, n_docs,
    n_continuing, window_tokens)``; ``window_tokens = budget`` for every
    window but the last is the built-in correctness invariant.

    Document order is the ``training_batches`` epoch-shuffle convention
    (md5 of doc_id under a fixed salt, doc_id tie-break), so reshuffling
    an epoch is a salt change. Token offsets come from
    ``olap._global_prefix_sum`` — the TeraSort-shape distributed prefix
    sum (range partitions + per-range running sums + broadcast offsets),
    NEVER a single-partition window — and each document then explodes
    into only the windows it overlaps (output rows ≈ n_docs +
    total_tokens/budget). Everything downstream of the one prefix-sum
    shuffle is arithmetic on BIGINTs, so the DuckDB twin (a plain window
    cumsum — single-node semantics are identical) matches bit for bit.
    """
    from inf_553_datamining_mapreduce_spark.operators.olap import (
        _global_prefix_sum,
    )

    keyed = documents.select(
        "doc_id",
        F.size(tokens_col("text")).alias("n_tokens"),
        F.md5(
            F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))
        ).alias("skey"),
    )
    cum = _global_prefix_sum(
        keyed, ["skey", "doc_id"], "n_tokens", out_name="cum_tokens"
    )
    # Token span of the doc in the concatenated stream: [start, cum).
    spans = cum.select(
        "doc_id",
        "n_tokens",
        (F.col("cum_tokens") - F.col("n_tokens")).alias("start"),
        "cum_tokens",
    ).filter(F.col("n_tokens") > 0)
    # Integer DIV, not double /: token offsets at 100 TB exceed 2^53.
    w_first = F.expr(f"start DIV {budget}")
    w_last = F.expr(f"(cum_tokens - 1) DIV {budget}")
    per_window = spans.select(
        "doc_id",
        "start",
        "cum_tokens",
        F.explode(F.sequence(w_first, w_last)).alias("window_id"),
    ).select(
        "window_id",
        "doc_id",
        (
            F.least(F.col("cum_tokens"), (F.col("window_id") + 1) * budget)
            - F.greatest(F.col("start"), F.col("window_id") * budget)
        ).alias("tokens_here"),
        (F.col("cum_tokens") > (F.col("window_id") + 1) * budget)
        .cast("int")
        .alias("continues"),
    )
    return (
        per_window.groupBy("window_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum("continues").cast("int").alias("n_continuing"),
            F.sum("tokens_here").cast("long").alias("window_tokens"),
        )
        .orderBy("window_id")
    )


def dsir_importance_weights(
    documents: DataFrame, target_source: str = "src0", dims: int = 1024
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling") in exact integer
    arithmetic: estimate each document's importance weight
    ``log p_target(x) - log p_raw(x)`` under hashed-bigram bag models —
    target = the ``target_source`` slice (the in-domain seed), raw = the
    whole corpus — and flag documents whose weight is positive (more
    target-like than the raw pool). Laplace-smoothed probabilities and
    the fixed-point integer log2 (``_ilog2_q_sql``, the LM/BM25 fold)
    keep every per-document weight an exact BIGINT:

        weight_q6(d) = Σ_occ [ilog2(tgt_cnt_f + 1) - ilog2(raw_cnt_f + 1)]
                       + n_occ(d) · [ilog2(N_raw + dims) - ilog2(N_tgt + dims)]

    Shape at 100 TB: one corpus-sized bigram explode feeds a
    ``dims``-bounded feature-count aggregate (map-side partials); the
    per-feature contribution table (``dims`` rows) and the two scalar
    normalizers broadcast back onto the exploded stream; the per-doc
    rollup is one keyed aggregate. No all-pairs term anywhere — this is
    the ``word_frequencies`` shuffle class, which is what makes DSIR
    the data-selection method that actually runs at pre-training scale.
    """
    feats = _dsir_feats(documents, dims)
    tgt_feats = feats.join(
        documents.filter(F.col("source") == target_source).select("doc_id"),
        "doc_id",
    )

    raw_cnt = feats.groupBy("f").agg(F.count(F.lit(1)).alias("raw_cnt"))
    tgt_cnt = tgt_feats.groupBy("f").agg(F.count(F.lit(1)).alias("tgt_cnt"))
    contrib = (
        raw_cnt.join(tgt_cnt, "f", "left")
        .select(
            "f",
            F.coalesce("tgt_cnt", F.lit(0)).alias("tc"),
            F.col("raw_cnt").alias("rc"),
        )
        .select(
            "f",
            (
                F.expr(_ilog2_q_sql("tc + 1"))
                - F.expr(_ilog2_q_sql("rc + 1"))
            ).alias("contrib_q6"),
        )
    )
    norms = (
        feats.agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
        .crossJoin(
            tgt_feats.agg(F.count(F.lit(1)).cast("long").alias("n_tgt"))
        )
        .select(
            (
                F.expr(_ilog2_q_sql(f"n_raw + {dims}"))
                - F.expr(_ilog2_q_sql(f"n_tgt + {dims}"))
            ).alias("const_q6")
        )
    )
    per_doc = (
        feats.join(F.broadcast(contrib), "f")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("contrib_q6").alias("sum_contrib_q6"),
        )
        .crossJoin(F.broadcast(norms))
        .select(
            "doc_id",
            "n_feats",
            (
                F.col("sum_contrib_q6")
                + F.col("n_feats") * F.col("const_q6")
            ).alias("weight_q6"),
        )
    )
    return (
        documents.select("doc_id", "source")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            F.coalesce("weight_q6", F.lit(0)).cast("long").alias("weight_q6"),
            (F.coalesce("weight_q6", F.lit(0)) > 0)
            .cast("int")
            .alias("selected"),
        )
        .orderBy("doc_id")
    )


def _dsir_feats(documents: DataFrame, dims: int) -> DataFrame:
    """(doc_id, f): hashed-bigram feature stream of the DSIR family —
    the LM bigram stream (BOS context) through the md5-60bit hash mod
    ``dims``."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(" ", "w1", "w2")), 1, 15), 16, 10
    ).cast("long")
    return _lm_bigrams(documents).select(
        "doc_id", F.pmod(h, F.lit(dims)).cast("int").alias("f")
    )


def build_dsir_model(
    indexed_docs: DataFrame, target_source: str = "src0", dims: int = 1024
) -> tuple[DataFrame, DataFrame]:
    """FROZEN DSIR importance model over the indexed corpus — the static
    side of ingestion-time data selection (the ``build_lm_model`` /
    ``build_bm25_index`` convention): the per-feature contribution table
    and the 1-row normalizer, both localCheckpoint'd so micro-batch
    scoring never re-scans the corpus.

    The contribution table is DENSE over all ``dims`` buckets: a feature
    the indexed corpus never produced contributes
    ``ilog2(0+1) - ilog2(0+1) = 0`` — explicitly present instead of
    silently inner-joined away at score time (the BM25 unseen-term
    convention, ADVICE r8)."""
    feats = _dsir_feats(indexed_docs, dims)
    tgt_feats = feats.join(
        indexed_docs.filter(F.col("source") == target_source).select(
            "doc_id"
        ),
        "doc_id",
    )
    spine = (
        indexed_docs.sparkSession.range(dims)
        .select(F.col("id").cast("int").alias("f"))
    )
    raw_cnt = feats.groupBy("f").agg(F.count(F.lit(1)).alias("rc"))
    tgt_cnt = tgt_feats.groupBy("f").agg(F.count(F.lit(1)).alias("tc"))
    contrib = (
        spine.join(raw_cnt, "f", "left")
        .join(tgt_cnt, "f", "left")
        .select(
            "f",
            F.coalesce("tc", F.lit(0)).alias("tc"),
            F.coalesce("rc", F.lit(0)).alias("rc"),
        )
        .select(
            "f",
            (
                F.expr(_ilog2_q_sql("tc + 1"))
                - F.expr(_ilog2_q_sql("rc + 1"))
            ).alias("contrib_q6"),
        )
    )
    norms = (
        feats.agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
        .crossJoin(
            tgt_feats.agg(F.count(F.lit(1)).cast("long").alias("n_tgt"))
        )
        .select(
            (
                F.expr(_ilog2_q_sql(f"n_raw + {dims}"))
                - F.expr(_ilog2_q_sql(f"n_tgt + {dims}"))
            ).alias("const_q6")
        )
    )
    return contrib.localCheckpoint(), norms.localCheckpoint()


def incremental_dsir_scoring(
    new_docs: DataFrame,
    indexed_docs: DataFrame | tuple[DataFrame, DataFrame],
    target_source: str = "src0",
    dims: int = 1024,
) -> DataFrame:
    """Ingestion-time DSIR: incoming documents scored against the FROZEN
    importance model (contribution table + normalizer from the indexed
    corpus; features from the incoming document itself) — the
    stream-static shape of ``incremental_lm_scoring``. Stateless per
    batch: a weight depends only on (document, frozen model), so any
    batch partition of the incoming stream concatenates to the batch
    result. Returns ``(doc_id, n_feats, weight_q6, selected)`` ordered
    by doc_id."""
    contrib, norms = (
        indexed_docs
        if isinstance(indexed_docs, tuple)
        else build_dsir_model(indexed_docs, target_source, dims)
    )
    feats = _dsir_feats(new_docs, dims)
    per_doc = (
        feats.join(F.broadcast(contrib), "f")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("contrib_q6").alias("sum_contrib_q6"),
        )
        .crossJoin(F.broadcast(norms))
        .select(
            "doc_id",
            "n_feats",
            (
                F.col("sum_contrib_q6")
                + F.col("n_feats") * F.col("const_q6")
            ).alias("weight_q6"),
        )
    )
    return (
        new_docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            F.coalesce("weight_q6", F.lit(0)).cast("long").alias("weight_q6"),
            (F.coalesce("weight_q6", F.lit(0)) > 0)
            .cast("int")
            .alias("selected"),
        )
        .orderBy("doc_id")
    )
