"""Bench driver-contract smoke test (r13 verdict item 8).

Round 12's bench summary line never parsed driver-side
(``PERF_r13.json: prev_bench_ok: false``), which silenced a whole
round's speedup accounting. This test pins the contract mechanically:
``bench.py`` run as a subprocess must print, as the LAST stdout line,
ONE JSON object with the driver-required fields, and it must honor
``$SPARK_GRAFT_SF_DIR`` / ``$SPARK_GRAFT_BENCH_FULL_PATH``. A 2-query
subset at sf0.001 keeps the runtime to the session + warmup cost.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_stdout_is_one_parseable_json_line(tmp_path):
    full_path = tmp_path / "BENCH_FULL_smoke.json"
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            "SPARK_GRAFT_CPUS": "4",
            "SPARK_GRAFT_BENCH_RUNS": "1",
            "SPARK_GRAFT_BENCH_QUERIES": (
                "group_avg_nation_region,word_frequencies"
            ),
            # NEVER let a smoke run clobber the committed artifact.
            "SPARK_GRAFT_BENCH_FULL_PATH": str(full_path),
        }
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert lines, "bench printed nothing to stdout"
    # The driver tail-captures stdout and parses the LAST line: it must
    # be the summary, and it must be strict JSON (no NaN/Infinity).
    summary = json.loads(lines[-1])

    for key in (
        "metric",
        "value",
        "unit",
        "queries",
        "sf",
        "normalized_total",
        "envelope_total_normalized",
        "n_queries",
        "n_failed",
    ):
        assert key in summary, f"summary missing {key}"
    assert summary["unit"] == "sec"
    assert summary["n_failed"] == 0, summary
    assert summary["n_queries"] == 2
    assert summary["sf"] == 0.001  # $SPARK_GRAFT_SF_DIR honored
    assert isinstance(summary["value"], (int, float))
    # Only HEADLINE members of the subset appear on the stdout line…
    assert set(summary["queries"]) <= {
        "group_avg_nation_region",
        "word_frequencies",
    }
    assert summary["queries"], "headline per-query map is empty"
    # …and the stdout line stays under the driver's ~2000-byte tail
    # capture even with prefix slack (BENCH_r03 lesson).
    assert len(lines[-1]) < 1900, len(lines[-1])

    # The complete per-query map lands at $SPARK_GRAFT_BENCH_FULL_PATH.
    full = json.loads(full_path.read_text())
    assert set(full["queries"]) == {
        "group_avg_nation_region",
        "word_frequencies",
    }
    assert all(v is not None for v in full["queries"].values())
    assert full["runs"], "per-run provenance records missing"


def test_bench_unknown_subset_name_fails_loudly():
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_BENCH_QUERIES": "definitely_not_a_query",
            "SPARK_GRAFT_BENCH_FULL_PATH": "/tmp/should_never_be_written.json",
            "SPARK_GRAFT_CPUS": "4",
        }
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode != 0
    assert "unknown queries" in (proc.stderr + proc.stdout)


def test_bench_warmup_falls_back_to_the_subsets_first_query():
    """A subset without ``group_avg_nation_region`` still warms up, with its
    own first query, so one-time session costs are not booked to it."""
    sys.path.insert(0, REPO)
    import bench

    warmed: list[str] = []

    class _Result:
        def count(self) -> int:
            return 0

    def _stub(name):
        def run(spark, sf_dir):
            warmed.append(name)
            return _Result()

        return run

    # No session: every other warm-up step fails on the stub and is skipped.
    for subset, expected in (
        (["word_frequencies", "exact_duplicates"], "word_frequencies"),
        (["word_frequencies", "group_avg_nation_region"], "group_avg_nation_region"),
    ):
        warmed.clear()
        bench._warmup(object(), {n: _stub(n) for n in subset}, "/nonexistent")
        assert warmed == [expected]
