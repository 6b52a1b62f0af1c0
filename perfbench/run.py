"""Seeded end-to-end benchmark of the engine.

    python3 perfbench/run.py --workload olap_single_pass --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. One process is one run: build the seeded
inputs and their oracle answers (cached by seed, never timed), set up a
session, then time passes of the workload over its full input, one query
at a time (a closed loop with one client) on ``local[<all cores>]`` with
the engine's default configuration, until ``--seconds`` have elapsed
(at least one pass). Every output is checked.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics of a traced pass and the tracing overhead. The last
line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_geomean_s": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "frac",
}


def per_layer_units() -> dict[str, str]:
    from workloads import MODULES

    units = {
        "session.start_s": "s", "session.first_job_s": "s",
        "session.release_s": "s", "session.released_rdds": "count",
        "query.build_s": "s", "query.build_jobs": "count",
        "query.plan_s": "s", "query.execute_s": "s",
        "query.execute_jobs": "count", "query.stages": "count",
        "query.tasks": "count", "memo.build_s": "s",
        "readers.scan_s": "s", "readers.scan_tasks": "count",
        "readers.text_parse_s": "s",
        "sinks.write_s": "s", "sinks.bytes_written": "bytes",
    }
    units.update({f"{m}_s": "s" for m in MODULES})
    units.update({
        "exec.task_run_s": "s", "exec.gc_s": "s",
        "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
        "exec.spill_mb": "MB", "exec.task_retries": "count",
        "exec.parallel_efficiency": "frac", "exec.driver_only_s": "s",
        "exec.max_task_skew": "ratio",
        "python_udf.time_s": "s", "python_udf.rows": "count",
        "trace.overhead_s": "s",
    })
    return units


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt", metavar="STEP",
                   help="self-test hook: damage STEP's output before it is "
                        "checked, so the check must count it as failed")
    return p.parse_args(argv)


def place_scratch_inside_checkout() -> str:
    """Spark's local dirs, temp files, outputs and the event log of this
    run go under perfbench/.cache/run-<pid>, so a run writes nothing
    outside the checkout. Returns that directory."""
    tmp = os.path.join(CACHE, f"run-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    import tempfile

    tempfile.tempdir = tmp
    return tmp


class Run:
    """State of one benchmark run."""

    def __init__(self, args):
        self.args = args
        self.attempted = 0
        self.failures: list[str] = []
        self.pending: list = []  # (label, step, output) awaiting a check

    def run_pass(self, spark, steps, tracer, label: str) -> tuple[float, dict]:
        """Run every step once; returns (pass wall, per-step latency)."""
        latency = {}
        t_pass = time.perf_counter()
        for step in steps:
            tracer.trace_id = f"{label}/{step.name}"
            t0 = time.perf_counter()
            self.attempted += 1
            try:
                output = self.run_step(spark, step, tracer)
            except Exception as exc:  # a failed query is a measured outcome
                self.failures.append(f"{label}/{step.name}: {type(exc).__name__}: {str(exc)[:300]}")
                continue
            finally:
                latency[step.name] = time.perf_counter() - t0
            self.pending.append((label, step, output))
        return time.perf_counter() - t_pass, latency

    def run_step(self, spark, step, tracer):
        kind = "memo" if step.module == "memo" else "query"
        with tracer.span(kind, step=step.name, module=step.module):
            with tracer.span(f"{kind}.build", group="build"):
                built = step.build(spark)
            if tracer.enabled:
                with tracer.span(f"{kind}.plan", group="plan"):
                    step.plan(built)
            with tracer.span(f"{kind}.execute", group="execute"):
                result = step.execute(built)
            if step.sink:
                with tracer.span("sinks.write", group="write") as s:
                    nbytes = step.write(result)
                    if s is not None:
                        s.attrs["bytes"] = nbytes
        return result

    def check_pending(self) -> None:
        """Compare every output of the last pass with its oracle (outside
        the timed region)."""
        for label, step, output in self.pending:
            if self.args.corrupt == step.name:
                output = corrupt(step, output)
            err = step.check(output)
            if err:
                self.failures.append(f"{label}/{step.name}: wrong output: {err}")
        self.pending = []


def corrupt(step, output):
    """Self-test hook: drop a row of a frame output, or append a byte to a
    written file."""
    if output is not None and hasattr(output, "iloc"):
        return output.iloc[:-1] if len(output) else output.assign(_extra=1)
    path = getattr(step, "out_path", None)
    if path:
        with open(path, "a") as fh:
            fh.write("x")
    return output


def geomean(values) -> float:
    values = [max(v, 1e-9) for v in values]
    return math.exp(sum(math.log(v) for v in values) / len(values))


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the driver launched, and wait until
    it and the Python workers it forked have exited."""
    from pyspark import SparkContext

    from trace import children_map

    gateway = SparkContext._gateway
    if gateway is None:  # already stopped
        return
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while children_map().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def untraced_wall(args) -> float:
    """wall_s of an untraced run of the same workload and seed, in a child
    process, for the tracing overhead (a traced run cannot also be an
    untraced one: the event log is fixed when the session starts)."""
    child = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", "0", "--trace", "0"],
        capture_output=True, text=True, timeout=170, cwd=ROOT,
    )
    if child.returncode != 0:
        raise RuntimeError(f"untraced child run failed: {child.stderr[-2000:]}")
    return json.loads(child.stdout.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"engine not found: {ROOT}/__spark_entry__.py is missing; run "
              "from the root of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    scratch = place_scratch_inside_checkout()
    try:
        return measure(args, WORKLOADS[args.workload], scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def measure(args, workload_cls, scratch: str) -> int:
    t0 = time.perf_counter()
    import __spark_entry__ as em  # the engine import is part of set-up

    import_s = time.perf_counter() - t0
    from inf_553_datamining_mapreduce_spark.session import (
        get_spark,
        release_session_blocks,
    )

    from trace import RssSampler, Tracer, parse_event_log

    wl = workload_cls(em, args.seed, os.path.join(scratch, "out"))
    prepared = wl.prepare()  # inputs and oracle answers, before any timing
    steps = prepared["steps"]
    baseline_wall = untraced_wall(args) if args.trace else None

    conf = {}
    log_dir = os.path.join(scratch, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            # the Python side cannot read zstd, Spark's default codec
            "spark.eventLog.compress": "false",
            # one file, not Spark 4's rolling directory of parts
            "spark.eventLog.rolling.enabled": "false",
        }
    # -- set-up: engine import, session, first job -------------------------
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        spark.range(1).count()
        first_job_s = time.perf_counter() - t0
        report_inputs(spark, wl, prepared)

        # The first pass is timed cold, as every CLI or spark-submit run
        # of the engine is: it pays JIT, codegen and Python-worker start-up.
        run = Run(args)
        tracer = Tracer(spark, wl.name, enabled=bool(args.trace))
        walls, lat = [], {}
        t_start, t_epoch = time.perf_counter(), time.time()
        with RssSampler() as rss:
            while True:
                wall, step_lat = run.run_pass(spark, steps, tracer, "pass")
                walls.append(wall)
                for k, v in step_lat.items():
                    lat.setdefault(k, []).append(v)
                if args.trace or time.perf_counter() - t_start >= args.seconds:
                    break
                run.check_pending()
                release_session_blocks(spark)
        window = (t_epoch, time.time())
        run.check_pending()

        if not args.trace:
            stop_spark(spark)
            query_lat = [statistics.median(v) for k, v in lat.items() if not k.startswith("memo:")]
            metrics = {
                "setup_s": import_s + session_s + first_job_s,
                "wall_s": statistics.median(walls),
                "query_geomean_s": geomean(query_lat),
                "peak_rss_mb": rss.peak / 2**20,
                "ok_frac": (run.attempted - len(run.failures)) / run.attempted,
            }
            units = END_TO_END
        else:
            t0 = time.perf_counter()
            released = release_session_blocks(spark)
            release_s = time.perf_counter() - t0
            probe_readers(spark, wl, prepared, tracer)
            cores = spark.sparkContext.defaultParallelism  # local[*]: usable cores
            stop_spark(spark)
            logs = glob.glob(os.path.join(log_dir, "*"))
            ex = parse_event_log(logs[0], f"{wl.name}:pass/", cores, window)
            metrics = layer_metrics(tracer, ex)
            save_spans(tracer, args)
            metrics.update({
                "session.start_s": session_s,
                "session.first_job_s": first_job_s,
                "session.release_s": release_s,
                "session.released_rdds": released,
                "trace.overhead_s": walls[0] - baseline_wall,
            })
            units = per_layer_units()
    except BaseException:
        stop_spark(spark)  # no JVM or Python worker outlives a failed run
        raise

    print(json.dumps({"passes": len(walls), "walls_s": walls, "step_s": lat}),
          file=sys.stderr)
    for f in run.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
    }))
    return 0


def save_spans(tracer, args) -> None:
    """Write the traced pass's spans to perfbench/.cache/traces, so any
    query or phase can be attributed after the run."""
    out = os.path.join(CACHE, "traces")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-{args.seed}.json"), "w") as fh:
        json.dump([vars(s) for s in tracer.spans], fh, indent=1)


def layer_metrics(tracer, ex: dict) -> dict:
    """Per-layer metrics from the traced pass's spans and event log."""
    phases = ("query.build", "query.plan", "query.execute", "sinks.write",
              "memo.build", "memo.plan", "memo.execute")
    m = {
        "query.build_s": tracer.total("query.build"),
        "query.build_jobs": tracer.total("query.build", "jobs") + tracer.total("memo.build", "jobs"),
        "query.plan_s": tracer.total("query.plan"),
        "query.execute_s": tracer.total("query.execute"),
        "query.execute_jobs": tracer.total("query.execute", "jobs"),
        "query.stages": sum(tracer.total(p, "stages") for p in phases),
        "query.tasks": sum(tracer.total(p, "tasks") for p in phases),
        "memo.build_s": tracer.total("memo"),
        "sinks.write_s": tracer.total("sinks.write"),
        "sinks.bytes_written": tracer.total("sinks.write", "bytes"),
        "readers.scan_s": tracer.total("readers.scan"),
        "readers.scan_tasks": tracer.total("readers.scan", "tasks"),
        "readers.text_parse_s": tracer.total("readers.text_parse"),
    }
    for s in tracer.spans:
        if s.name == "query":
            key = f"{s.attrs['module']}_s"
            m[key] = m.get(key, 0.0) + (s.end - s.start)
    for k in ("task_run_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
              "spill_mb", "task_retries", "parallel_efficiency",
              "driver_only_s", "max_task_skew"):
        m[f"exec.{k}"] = ex.get(k, 0.0)
    m["python_udf.time_s"] = ex.get("python_udf_time_s", 0.0)
    m["python_udf.rows"] = ex.get("python_udf_rows", 0.0)
    return m


def probe_readers(spark, wl, prepared, tracer) -> None:
    """Materialise each table and text file the workload reads through
    ``sources.readers`` (a noop write forces the full scan)."""
    from inf_553_datamining_mapreduce_spark import schemas
    from inf_553_datamining_mapreduce_spark.sources import readers

    text_schema = {
        "ratings": schemas.RATINGS_ML1M, "users": schemas.USERS_ML1M,
        "movies": schemas.MOVIES_ML1M, "ratings_small": schemas.RATINGS_SMALL,
    }
    for t in wl.parquet_tables:
        tracer.trace_id = f"readers/{t}"
        with tracer.span("readers.scan", group="scan"):
            df = readers.read_parquet_table(spark, prepared["tables_dir"], t)
            df.write.format("noop").mode("overwrite").save()
    for name, path in prepared["text_inputs"]:
        tracer.trace_id = f"readers/{name}"
        with tracer.span("readers.text_parse", group="parse"):
            if name == "ratings_small":
                df = readers.read_csv_with_header(spark, path, text_schema[name])
            else:
                df = readers.read_double_colon(spark, path, text_schema[name])
            df.write.format("noop").mode("overwrite").save()


def report_inputs(spark, wl, prepared) -> None:
    """Rows and bytes of every input, and the working set against Spark's
    storage memory, on stderr."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().valuesIterator()
    storage = 0
    while status.hasNext():
        storage += status.next()._1()  # max memory for storage, bytes
    print(json.dumps({
        "workload": wl.name,
        "inputs": prepared["inputs"],
        "working_set_mb": sum(v["bytes"] for v in prepared["inputs"].values()) / 2**20,
        "storage_memory_mb": storage / 2**20,
    }), file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
