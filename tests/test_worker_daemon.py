"""The Python worker boundary of a ``get_spark`` session: its workers are
forked from the engine's daemon, so they run compiled pyspark, do not
rescan archives per task, still import a zip added after their first task,
and the RDD and SQL runners share one worker pool."""

from __future__ import annotations

import uuid
import zipfile

import pytest

from inf_553_datamining_mapreduce_spark.worker_daemon import python_daemons


def test_local_workers_run_compiled_pyspark_in_one_pool(spark, tmp_path):
    sc = spark.sparkContext

    # Task functions are nested so cloudpickle ships them by value: the
    # workers cannot import this test module.
    def worker_state(_):
        import sys

        import pyspark
        from pyspark import worker_util

        from inf_553_datamining_mapreduce_spark.worker_daemon import (
            installed_pyspark_matches_zip,
        )

        yield (
            installed_pyspark_matches_zip(sys.path),
            pyspark.__file__,
            type(worker_util.importlib).__name__,
        )

    states = set(sc.parallelize(range(4), 4).mapPartitions(worker_state).collect())
    if not any(match for match, _, _ in states):
        pytest.skip("the installed pyspark is not the release of $SPARK_HOME's zip")
    for _, path, importlib_type in states:
        assert ".zip" not in path and ".jar" not in path, path
        assert importlib_type == "_NoArchiveRescan", importlib_type

    name = f"late_{uuid.uuid4().hex}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 42\n")
    sc.addPyFile(str(archive))

    def late_import(_):
        import importlib

        yield importlib.import_module(name).VALUE

    assert sc.parallelize(range(4), 4).mapPartitions(late_import).collect() == [42] * 4

    def passthrough(batches):
        yield from batches

    assert spark.range(8).repartition(2).mapInPandas(passthrough, "id long").count() == 8
    assert python_daemons(spark) == 1
