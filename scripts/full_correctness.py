"""Full-registry correctness artifact: run EVERY ``queries()`` entry at
sf0.01 against its DuckDB ``oracle_sql()`` twin and write one row per
query to ``CORRECTNESS_FULL_r{N}.json`` (same ``{rows, schema, hash,
err}`` shape as the driver's 50-slot window artifact). Queries without
an oracle (the two annotated ``golden_only()`` float kernels) are
recorded as ``"golden_only"`` with their rows-only check.

The driver's per-round artifact proves a rotating 50-query window; this
one makes proof freshness auditable directly — every registry query,
every round, in one committed file. Run from the repo root:

    python scripts/full_correctness.py [sf_dir]

``$SPARK_GRAFT_CPUS`` sets the session's core count (``local[N]``,
default 8).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_DIR)


def _canonical(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _round_tag() -> int | None:
    """The artifact's round number: ``$SPARK_GRAFT_ROUND`` if set, else
    one past the newest ``CORRECTNESS_r*.json``. Raises ``SystemExit`` on
    a non-integer tag; ``main`` calls it before any Spark work, so a bad
    tag cannot cost a whole sweep."""
    tag = os.environ.get("SPARK_GRAFT_ROUND")
    if tag:
        try:
            return int(tag)
        except ValueError:
            raise SystemExit(
                f"SPARK_GRAFT_ROUND must be an integer, got {tag!r}"
            ) from None
    import glob

    ns = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO_DIR, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    return max(ns) + 1 if ns else None


def _compare(spark_pdf, oracle_pdf) -> dict:
    import numpy as np

    row = {
        "rows_match": len(spark_pdf) == len(oracle_pdf),
        "schema_match": sorted(spark_pdf.columns) == sorted(oracle_pdf.columns),
        "hash_match": False,
        "spark_rows": len(spark_pdf),
        "oracle_rows": len(oracle_pdf),
        "err": None,
    }
    if not (row["rows_match"] and row["schema_match"]):
        return row
    s, o = _canonical(spark_pdf), _canonical(oracle_pdf)
    for col in s.columns:
        sv, ov = s[col].to_numpy(), o[col].to_numpy()
        if np.issubdtype(sv.dtype, np.floating) or np.issubdtype(
            ov.dtype, np.floating
        ):
            # mirror test_oracle_parity's dtype-kind check: the driver's
            # value hash is dtype-sensitive
            sk, ok = s[col].dtype.kind, o[col].dtype.kind
            if {sk, ok} <= {"i", "u", "f"} and (sk == "f") != (ok == "f"):
                row["err"] = f"{col}: dtype kind mismatch {sk} vs {ok}"
                return row
            # Missing-ness masks are compared on the ORIGINAL (pre-astype)
            # columns first: equal_nan alone would let a query emitting
            # NaN (e.g. 0/0) pass against an oracle emitting NULL once
            # both arrive as float NaN, so any provenance the fetched
            # dtypes still carry (object-dtype None vs float NaN, pandas
            # nullable NA) must agree before values are compared
            # (ADVICE r12).
            import pandas as pd

            s_na, o_na = pd.isna(s[col]).to_numpy(), pd.isna(o[col]).to_numpy()
            if not np.array_equal(s_na, o_na):
                row["err"] = f"{col}: missing-value masks differ"
                return row
            # equal_nan: a NULL/NaN that BOTH engines emit at the same
            # position is agreement, not a diff (mirrors the verify-skill
            # driver simulation)
            if not np.array_equal(
                sv.astype(np.float64), ov.astype(np.float64), equal_nan=True
            ):
                row["err"] = f"{col}: float values differ"
                return row
        elif (sv != ov).any():
            row["err"] = f"{col}: values differ"
            return row
    row["hash_match"] = True
    return row


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    tag = _round_tag()
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as em
    from inf_553_datamining_mapreduce_spark.schemas import TESTDATA_TABLES
    from inf_553_datamining_mapreduce_spark.session import (
        release_session_blocks,
    )

    # VANILLA session, no engine configs — the same surface the external
    # driver exercises (see .claude/skills/verify/SKILL.md): every query
    # must carry its own runtime requirements. $SPARK_GRAFT_DRIVER_MEM is
    # harness SIZING (how big the vanilla driver's JVM is), not an engine
    # config — the small-heap envelope mode pins it at 3g.
    # $SPARK_GRAFT_CPUS (default 8) is the core count: parity must hold
    # at every count, not only the default.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("full-correctness")
    )
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    queries = em.queries()
    oracles = em.oracle_sql()
    golden = set(em.golden_only())

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    # r12 verdict item 7: SPARK_GRAFT_NO_EXPLICIT_RELEASE=1 runs the
    # whole registry with ZERO explicit release calls — the registry
    # wrapper's pressure trigger (at its DEFAULT fraction) is the only
    # defence, which is exactly the no-release vanilla-driver envelope
    # the subprocess test proves on a 13-query subset. Pair with
    # SPARK_GRAFT_DRIVER_MEM=3g for the committed small-heap artifact;
    # pressure fires are counted via the wrapper's stderr lines and
    # recorded in the artifact _meta.
    no_explicit = os.environ.get("SPARK_GRAFT_NO_EXPLICIT_RELEASE") == "1"
    if no_explicit:
        import io

        class _FireCounter(io.TextIOBase):
            def __init__(self, inner):
                self.inner = inner

            def write(self, text):
                nonlocal_counter["n"] += text.count(
                    "pressure release fired at query entry"
                )
                return self.inner.write(text)

            def flush(self):
                self.inner.flush()

        nonlocal_counter = {"n": 0}
        sys.stderr = _FireCounter(sys.stderr)

    out: dict[str, dict] = {}
    t_start = time.perf_counter()
    for i, (name, fn) in enumerate(queries.items()):
        if i and not no_explicit:
            # Per-query checkpoint-block release: each iterative query
            # pins ~10-30 localCheckpoint RDDs for the session's life,
            # and a 200+-query sweep on the VANILLA session's default
            # heap accumulates enough block + plan metadata that a later
            # allocation SPIKE (the Brandes per-level sweep needs most
            # of the heap at once — it passes isolated but OOMed at
            # position 28 even with a release 7 queries earlier,
            # measured round 10) lands on a full heap. Releasing after
            # EVERY query approximates the fresh-session state each
            # query is individually proven under; the registered release
            # hook clears the shared-graph memo, which only costs
            # rebuild time — results are identical by the memo contract.
            release_session_blocks(spark)
        t0 = time.perf_counter()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
            if name in oracles:
                oracle_pdf = con.execute(oracles[name]).fetchdf()
                out[name] = _compare(spark_pdf, oracle_pdf)
            else:
                out[name] = {
                    "rows_match": len(spark_pdf) >= 0,
                    "schema_match": len(spark_pdf.columns) > 0,
                    "hash_match": "golden_only" if name in golden else None,
                    "spark_rows": len(spark_pdf),
                    "oracle_rows": None,
                    "err": None,
                }
        except Exception as exc:  # record and keep going
            out[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": None,
                "oracle_rows": None,
                "err": f"{type(exc).__name__}: {exc}"[:400],
            }
        dt = round(time.perf_counter() - t0, 2)
        status = "OK" if out[name]["err"] is None else "FAIL"
        print(f"full_correctness: {name} {status} {dt}s", file=sys.stderr)

    n_green = sum(
        1
        for r in out.values()
        if r["err"] is None and r["hash_match"] in (True, "golden_only")
    )
    artifact = {
        "_meta": {
            "round": _round_tag(),
            "sf_dir": sf_dir,
            "driver_memory": mem or "spark-default",
            "cpus": cpus,
            "explicit_release_per_query": not no_explicit,
            "pressure_release_fires": (
                nonlocal_counter["n"] if no_explicit else None
            ),
            "n_queries": len(out),
            "n_green": n_green,
            "n_golden_only": sum(
                1 for r in out.values() if r["hash_match"] == "golden_only"
            ),
            "wall_clock_sec": round(time.perf_counter() - t_start, 1),
        },
    }
    artifact.update(out)
    stem = "CORRECTNESS_SMALLHEAP" if no_explicit else "CORRECTNESS_FULL"
    fname = f"{stem}_r{tag:02d}.json" if tag is not None else f"{stem}.json"
    with open(os.path.join(REPO_DIR, fname), "w") as fh:
        json.dump(artifact, fh, indent=1, allow_nan=False)
        fh.write("\n")
    print(f"full_correctness: {n_green}/{len(out)} green -> {fname}")


if __name__ == "__main__":
    main()
