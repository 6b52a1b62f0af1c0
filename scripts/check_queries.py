"""Spot-check a SUBSET of registry queries against their DuckDB oracles
at sf0.01 — the iteration loop for new/edited queries without paying the
full-registry sweep. Same vanilla session and compare logic as
``full_correctness.py`` (imported, not duplicated). Each line also gives
the query's Spark time and the jobs it ran, read from its job groups:
``build_jobs`` are the eager jobs inside the query function (schema
inference, memo builds, checkpoints), ``execute_jobs`` those of the final
``toPandas``, and ``tasks`` the tasks of all their stages — an over-split
Python stage shows here. Each query starts from a released session
(``release_session_blocks``) and ``pinned`` counts the RDDs it left
pinned. That count reads ``getPersistentRDDs``, a weak-valued map: a
checkpoint no DataFrame reaches any more (e.g. an operator's internals
once a memo has checkpointed its result) stays counted until a JVM GC
collects its RDD, after which the context cleaner unpersists its
blocks, so such frames make ``pinned`` vary from run to run.
``py_daemons`` counts the Python worker daemons the JVM runs after the
query: Spark starts one per distinct worker environment, each with its
own workers.
``$SPARK_GRAFT_CPUS`` sets the core count (``local[N]``, default 8).
Usage:

    python scripts/check_queries.py q1 q2 ...  [--sf /root/testdata/sf0.01]
"""

from __future__ import annotations

import os
import sys
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_DIR)
sys.path.insert(0, os.path.join(REPO_DIR, "scripts"))

from full_correctness import _compare  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as em
    from inf_553_datamining_mapreduce_spark.schemas import TESTDATA_TABLES
    from inf_553_datamining_mapreduce_spark.session import release_session_blocks
    from inf_553_datamining_mapreduce_spark.worker_daemon import python_daemons

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    # The status tracker keeps only spark.ui.retained{Jobs,Stages} (1000
    # each by default), so a long run would lose the stages it counts.
    # The console progress bar's carriage-return frames garble the lines.
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("check-queries")
        .config("spark.ui.retainedJobs", "1000000")
        .config("spark.ui.retainedStages", "1000000")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = em.queries()
    oracles = em.oracle_sql()
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    sc = spark.sparkContext

    def in_group(group, fn):
        sc.setJobGroup(group, group)
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    bad = 0
    for i, name in enumerate(args):
        group = f"check:{i}:{name}"
        release_session_blocks(spark)
        t0 = time.perf_counter()
        df = in_group(f"{group}:build", lambda: queries[name](spark, sf_dir))
        spark_pdf = in_group(f"{group}:execute", df.toPandas)
        dt = round(time.perf_counter() - t0, 2)
        # The tracker is fed asynchronously by the listener bus.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        job_ids = {
            p: tracker.getJobIdsForGroup(f"{group}:{p}") for p in ("build", "execute")
        }
        # A stage reused by a later job keeps its id: count it once.
        stage_ids = {
            s for ids in job_ids.values() for j in ids for s in tracker.getJobInfo(j).stageIds
        }
        tasks = sum(tracker.getStageInfo(s).numCompletedTasks for s in stage_ids)
        counts = " ".join(f"{p}_jobs={len(ids)}" for p, ids in job_ids.items())
        pinned = len(dict(sc._jsc.getPersistentRDDs()))
        counts += f" tasks={tasks} pinned={pinned} py_daemons={python_daemons(spark)}"
        if name not in oracles:
            print(f"{name}: NO ORACLE rows={len(spark_pdf)} {dt}s {counts}")
            continue
        oracle_pdf = con.execute(oracles[name]).fetchdf()
        row = _compare(spark_pdf, oracle_pdf)
        ok = row["hash_match"] is True and row["err"] is None
        bad += 0 if ok else 1
        print(f"{name}: {'OK' if ok else 'FAIL'} {row} {dt}s {counts}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
