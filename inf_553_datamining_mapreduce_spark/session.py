"""SparkSession factory and the session's block bookkeeping: the one
checkpoint-and-release step of every fixed-point loop (:func:`checkpoint`)
and the between-query release (:func:`release_session_blocks`).

Defaults are tuned for a single local JVM (``local[$SPARK_GRAFT_CPUS]``,
all cores when unset; an 8g driver, ``$SPARK_GRAFT_DRIVER_MEM``) but every
setting is cluster-sane: AQE handles skew and partition coalescing
at any scale, Arrow keeps the Python<->JVM boundary vectorized for the few
Pandas-UDF kernels, and shuffle partitions are sized for the local harness
(on a real cluster AQE's coalescing makes the initial number mostly
irrelevant as long as it is high enough). RDD and SQL Python jobs share
one worker pool. Local masters alone also get the engine's worker daemon
(``LOCAL_WORKER_CONFIGS``, ``worker_daemon.py``): workers load compiled
pyspark and skip the per-task archive rescans of the stock daemon.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

DEFAULT_CONFIGS: dict[str, str] = {
    # Adaptive query execution: runtime re-planning, skew-join splitting,
    # shuffle-partition coalescing. Essential at 100 TB, harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for all pandas interchange (mapInPandas / applyInPandas / toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # One Python worker pool per session. Spark keys its worker daemons by
    # the workers' environment, and the SQL runners (mapInPandas and the
    # Pandas UDFs) add SPARK_SIMPLIFIED_TRACEBACK to it when this is on, so
    # the first SQL Python job after an RDD one started a second daemon
    # and a second set of workers (local[4], engine daemon: that job's
    # first mapInPandas took 2.8-3.4 s with two pools, 2.6-3.0 s with
    # one; the stock daemon's start alone is ~1.2 s). Off, errors keep
    # pyspark's own frames in the traceback.
    "spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled": "false",
    # Local-harness shuffle width; AQE coalesces down when partitions are tiny.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # Broadcast anything under 64 MiB — the dimension tables (region, nation,
    # customer, supplier, part) are all broadcast-able at every tested SF, and
    # at 100 TB the fact tables never are, so a generous threshold is right.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Generated-class cache (STATIC conf — only effective at context
    # build). The default LRU holds 100 generated classes while a full
    # registry sweep compiles thousands of codegen units, so by the time
    # a query's sibling runs (the SGNS family, the incremental twins,
    # every fixed-iteration loop whose epochs share one generated shape)
    # its classes have been evicted and Janino recompiles them —
    # measured r13: immediately re-running the weighted SGNS trainer in
    # one session read 4.4 s vs 12.2 s cold with zero code change, and
    # the same cold/warm gap (0.5-8 s) shows on every deep-plan query.
    # Classes are a few KB-100 KB each, so 8192 entries bound the
    # driver cost at a few hundred MB — sane on any driver that runs
    # more than a handful of distinct queries, not a local[32] tune.
    "spark.sql.codegen.cache.maxEntries": os.environ.get(
        "SPARK_GRAFT_CODEGEN_CACHE", "8192"
    ),
    # Keep timestamps deterministic across Spark and DuckDB oracles.
    "spark.sql.session.timeZone": "UTC",
    # The driver's events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
    # timestamp type, so read as long and normalize in the reader
    # (sources/readers.py::read_parquet_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # No \r progress frames on stdout — harnesses that tail-capture stdout
    # (bench JSON line) must see clean output. Core conf, so it has to be
    # set at context build time, not via spark.conf.set afterwards.
    "spark.ui.showConsoleProgress": "false",
}

# Python workers of local sessions: started by the engine's daemon, which
# loads pyspark from its compiled copy and skips the per-task archive
# rescans (see worker_daemon.py). The engine root on the workers' path
# lets the daemon, and every kernel, import the engine from any working
# directory. Local only: on a cluster the daemon would have to be
# importable on the executors before any ``--py-files`` arrive.
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOCAL_WORKER_CONFIGS: dict[str, str] = {
    "spark.python.daemon.module": "inf_553_datamining_mapreduce_spark.worker_daemon",
    "spark.executorEnv.PYTHONPATH": _ENGINE_ROOT,
}

# Callables invoked by release_session_blocks AFTER the Spark-level
# release — modules with session-lifetime driver-side caches holding
# references to checkpointed DataFrames (e.g. the entry registry's
# shared-graph memo) register a clear function here so one public call
# returns the session to its fresh-start memory state.
_RELEASE_HOOKS: list = []


def register_release_hook(fn) -> None:
    """Register ``fn`` (no-arg callable) to run inside every
    :func:`release_session_blocks` call. Idempotent per function object."""
    if fn not in _RELEASE_HOOKS:
        _RELEASE_HOOKS.append(fn)


def checkpoint(df: DataFrame, *superseded: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` of ``df`` with its size statistics reset,
    then release of the ``superseded`` checkpointed frames — the one
    checkpoint-and-release step of every fixed-point loop.

    Lineage: a loop's round k reads round k-1, so without truncation the
    plan grows per round. Size statistics: ``localCheckpoint`` keeps the
    origin plan's ``sizeInBytes``, and Catalyst multiplies the sides of
    every join, so a state table that joins into itself k times per
    round compounds the estimate k-fold per round (measured: Louvain
    round 8 spent 180 s of driver CPU in ``BigInteger.multiply``).
    Rebuilding the frame over the checkpoint's own RDD gives the default
    estimate, constant per round; it also stops compile-time broadcasts
    of the (|V|-sized) state, which AQE restores at run time where the
    actual size fits.

    Release: a local checkpoint's plan is a ``LogicalRDD`` whose RDD is
    the one the block manager pins, for the session, until unpersisted
    (``DataFrame.unpersist`` cannot reach it). Each ``superseded`` frame
    (a checkpoint made here or by ``localCheckpoint``; ``None``, a loop's
    first round, is skipped) is unpersisted through its own plan, and
    only after ``df``'s checkpoint has materialized: a released frame
    has no lineage left, so nothing may read it again. The returned
    frame stays pinned until it is passed as ``superseded`` to a later
    call or :func:`release_session_blocks` runs.
    """
    ck = df.localCheckpoint()
    try:
        jck = ck._jdf
        out = DataFrame(
            df.sparkSession._jsparkSession.internalCreateDataFrame(
                jck.queryExecution().logical().rdd(), jck.schema(), False
            ),
            df.sparkSession,
        )
    except Py4JError:
        # Private JVM API renamed: keep the materialized checkpoint, which
        # releases the same way but keeps the origin size estimate.
        out = ck
    for old in superseded:
        if old is not None:
            _unpin(old)
    return out


def _unpin(frame: DataFrame) -> None:
    """Unpersist the RDD under a checkpointed frame's ``LogicalRDD`` plan."""
    frame._jdf.queryExecution().logical().rdd().unpersist(False)


def release_session_blocks(spark: SparkSession, blocking: bool = True) -> int:
    """Release every RDD block pinned in ``spark``'s block manager and
    clear the SQL cache — the supported way to return a long-lived
    session to its fresh-start memory state between queries.

    Why this exists: the iterative operators checkpoint per-round state
    with :func:`checkpoint`, and local-checkpoint blocks live for the
    SESSION unless explicitly unpersisted — ``DataFrame.unpersist``
    cannot reach them (they are RDD-level persists, not cache-manager
    entries). Each loop releases the rounds it supersedes, but the
    frames its result still reads (final state, setup tables, memos)
    stay pinned. A driver looping over many registry queries in one
    vanilla session therefore accumulates pinned blocks until a later allocation
    spike (measured round 10: the Brandes per-level sweep OOMed at query
    position 28 on the default heap, behind ~157 leftover checkpoint
    RDDs, while passing isolated) lands on a full heap. Calling this
    between queries approximates the fresh-session state each query is
    individually proven under.

    Safety contract: call ONLY between queries — a local checkpoint
    truncates lineage, so any still-referenced DataFrame built on a
    released checkpoint cannot be recomputed. Results of already-
    materialized outputs (collected/written) are unaffected; engine
    memo caches registered via :func:`register_release_hook` are
    cleared and transparently rebuilt on next use. Note the release is
    TOTAL: deliberate user ``df.cache()`` / ``df.persist()`` entries are
    unpersisted too (those are recomputable from lineage, so the cost is
    a re-cache on next action, not an error — but it may surprise).

    Returns the number of RDDs unpersisted.
    """
    jmap = dict(spark.sparkContext._jsc.getPersistentRDDs())
    for jrdd in jmap.values():
        jrdd.unpersist(blocking)
    spark.catalog.clearCache()
    # Every hook runs even if an earlier one raises (a half-released
    # session is worse than a delayed error); the first failure is
    # re-raised after the loop so the caller still sees it.
    first_exc = None
    for fn in list(_RELEASE_HOOKS):
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 — deferred, not swallowed
            if first_exc is None:
                first_exc = exc
    if first_exc is not None:
        raise first_exc
    return len(jmap)


# Fraction of the driver heap that pinned RDD storage may occupy before
# maybe_release_under_pressure fires. Storage above ~half the heap leaves
# the other half for execution + the BigInt-heavy planning the iterative
# operators do; past that point, measured sessions (round-10: Brandes
# sweep OOM at query 28 behind ~157 leftover checkpoint RDDs; round-11:
# GN-fixedpoint JVM kill on a 1 GiB default heap) die rather than slow
# down, so releasing is strictly better than proceeding.
PRESSURE_RELEASE_FRACTION = 0.5

# One-shot flag for the malformed-env warning in
# maybe_release_under_pressure (warn once per process, not per query).
_WARNED_BAD_FRACTION = False


def maybe_release_under_pressure(
    spark: SparkSession, fraction: float | None = None
) -> int:
    """Call :func:`release_session_blocks` IFF pinned RDD storage exceeds
    ``fraction`` of the driver's max heap — the self-defence a vanilla
    no-release driver needs to survive many heavy iterative queries in
    one session (the round-11 failure mode: every fixed-point loop
    releases the rounds it supersedes through :func:`checkpoint`, but
    each query's final state, setup tables, the per-round frames its
    result reads and the engine memos stay pinned until something frees
    them).

    Designed to be called at QUERY BOUNDARIES (the entry registry wraps
    every registered query with it): on an 8g driver running one query
    at a time the threshold is not reached and behavior is unchanged;
    on a small default heap it fires exactly when the alternative is a
    JVM death. Same safety contract as ``release_session_blocks`` — a
    caller that builds many query DataFrames first and collects them
    later could see an earlier UNcollected result's blocks released, but
    under storage > fraction*heap that caller was about to OOM anyway,
    and a clean block-released recompute error beats a killed JVM.

    ``fraction`` defaults to ``$SPARK_GRAFT_PRESSURE_FRACTION`` (else
    ``PRESSURE_RELEASE_FRACTION``) so a driver can tighten or disable
    the trigger without code changes. ``0`` (or any value <= 0, or the
    string ``off``) disables the trigger outright — unlike a large
    fraction, which disk-resident checkpoint blocks could still trip
    (disk storage is unbounded by the heap). A malformed env value
    degrades to the default with one stderr warning rather than raising:
    this function's contract is advisory self-defence, never a new
    failure mode.

    Only MEMORY-resident block bytes count against the heap threshold:
    ``diskSize()`` blocks (spilled / DISK_ONLY checkpoints) consume no
    heap, so a spill-heavy but memory-healthy session must not trigger a
    full release (and the memo flush that rides along with it).

    Returns the number of RDDs released (0 when below threshold).
    """
    if fraction is None:
        raw = os.environ.get("SPARK_GRAFT_PRESSURE_FRACTION")
        if raw is None:
            fraction = PRESSURE_RELEASE_FRACTION
        elif raw.strip().lower() == "off":
            return 0
        else:
            try:
                fraction = float(raw)
            except ValueError:
                global _WARNED_BAD_FRACTION
                if not _WARNED_BAD_FRACTION:
                    _WARNED_BAD_FRACTION = True
                    import sys

                    print(
                        "maybe_release_under_pressure: unparseable "
                        f"SPARK_GRAFT_PRESSURE_FRACTION={raw!r}; using "
                        f"default {PRESSURE_RELEASE_FRACTION}",
                        file=sys.stderr,
                    )
                fraction = PRESSURE_RELEASE_FRACTION
    if fraction <= 0:  # explicit off switch (0 / negative / 'off')
        return 0
    sc = spark.sparkContext
    try:
        infos = sc._jsc.sc().getRDDStorageInfo()
        storage = sum(i.memSize() for i in infos)
        max_heap = sc._jvm.java.lang.Runtime.getRuntime().maxMemory()
    except Exception:  # private API moved — degrade to "never fires"
        return 0
    if storage <= fraction * max_heap:
        return 0
    return release_session_blocks(spark)


def get_spark(
    app_name: str = "inf_553_datamining_mapreduce_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session. ``master`` defaults to ``local[N]``
    with N from ``$SPARK_GRAFT_CPUS`` (default: all cores)."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONFIGS)
    if master == "local" or master.startswith("local["):
        conf.update(LOCAL_WORKER_CONFIGS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
