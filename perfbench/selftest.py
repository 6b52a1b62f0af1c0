"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

Checks, from the repository root, that:

* inputs are a function of the seed: the same seed rebuilds identical
  files and two seeds give different files;
* a run prints every end-to-end metric of BENCHMARK.json with its unit,
  and a traced run every per-layer metric with its unit;
* an output damaged before its check is counted as failed, for a
  registry query (DuckDB oracle) and for two reference pipelines (byte
  oracle, and the communities check that also accepts the search's
  answer on the engine's own betweenness).

Exits non-zero on the first failed check. Takes a few minutes: it makes
five benchmark runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402


def digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


def run(*args: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        capture_output=True, text=True, timeout=300, cwd=ROOT,
    )
    if out.returncode != 0:
        raise SystemExit(f"run {args} exited {out.returncode}: {out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def check_metrics(result: dict, spec: list[dict], what: str) -> None:
    got = result["metrics"]
    for m in spec:
        entry = got.get(m["name"])
        expect(
            entry is not None and entry.get("unit") == m["unit"]
            and isinstance(entry.get("value"), (int, float)),
            f"{what}: {m['name']} printed in {m['unit']}",
        )
    expect(set(got) == {m["name"] for m in spec}, f"{what}: no metric outside BENCHMARK.json")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    for build in (lambda s: inputs.permuted_tables("sf0.01", s), inputs.movielens_inputs):
        a, b = build(101), build(102)
        first = digest(a)
        shutil.rmtree(a)
        expect(digest(build(101)) == first, f"same seed rebuilds {os.path.basename(a)} identically")
        expect(digest(b) != first, f"seeds 101 and 102 give different {os.path.basename(a)[:-4]} inputs")

    base = ["--seed", "101", "--seconds", "0"]
    r = run("--workload", "olap_single_pass", *base, "--trace", "0")
    expect(r["correct"] and r["failed"] == 0 and r["attempted"] > 0, "clean run is correct")
    check_metrics(r, bench["end_to_end"], "untraced run")
    r = run("--workload", "olap_single_pass", *base, "--trace", "1")
    check_metrics(r, bench["per_layer"], "traced run")
    for workload, step in (("olap_single_pass", "group_avg_nation_region"),
                           ("reference_pipelines", "task1"),
                           ("reference_pipelines", "communities")):
        r = run("--workload", workload, *base, "--trace", "0", "--corrupt", step)
        expect(not r["correct"] and r["failed"] == 1,
               f"damaged {step} output counted as failed ({r['failed']} of {r['attempted']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
