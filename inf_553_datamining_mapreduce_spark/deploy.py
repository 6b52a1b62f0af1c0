"""Worker-side import plumbing.

Kernels built on ``mapInPandas`` / RDD ``flatMap`` reference functions in
this package; cloudpickle serializes importable module functions BY
REFERENCE, so executor Python workers must be able to import the package.

Local sessions built by ``get_spark`` put the engine root on the workers'
``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``), so their workers import
the package from the engine root, compiled, and nothing is shipped. Every
other session ships a zip of the package via ``addPyFile``: a vanilla
session built by an external harness whose working directory is elsewhere
(the correctness driver does exactly this), and any cluster, where the
same call distributes the zip to every executor.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_FLAG = "_inf553_engine_pyfile_added"


def ensure_worker_imports(spark: SparkSession) -> None:
    """Idempotently make this package importable by the session's Python
    workers. Call before creating any Python-side kernel."""
    sc = spark.sparkContext
    if getattr(sc, _FLAG, False):
        return
    import inf_553_datamining_mapreduce_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    root = os.path.dirname(pkg_dir)
    if root not in sc.environment.get("PYTHONPATH", "").split(os.pathsep):
        tmpdir = tempfile.mkdtemp(prefix="inf553_pyfiles_")
        zip_path = shutil.make_archive(
            os.path.join(tmpdir, "inf553_engine"),
            "zip",
            root_dir=root,
            base_dir=os.path.basename(pkg_dir),
        )
        sc.addPyFile(zip_path)
    setattr(sc, _FLAG, True)
