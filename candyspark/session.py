"""SparkSession factory.

The reference builds its session inline with connector jars
(/root/reference/src/main.py:11-23); here the session is a single injectable
factory with scale-ready defaults:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy) so
  plans re-optimize at 100-TB scale without hand-tuning.
- Arrow enabled for every pandas-interop boundary (applyInPandas / mapInPandas
  / pandas UDFs) — the only Python-side hot paths in this engine.
- UTC session timezone so date bucketing (``to_date``) is deterministic and
  matches the DuckDB oracle regardless of host timezone.

Connector-specific configuration (JDBC drivers, MongoDB packages — reference
src/main.py:17-21) is passed via ``extra_conf`` / ``packages`` by the caller;
it is not baked in because it is deployment, not engine, concern.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for all pandas-interop: mapInPandas (allocator, multimodal),
    # applyInPandas (forecast_many), pandas UDFs (similarity).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic date semantics across engines (oracle parity).
    "spark.sql.session.timeZone": "UTC",
    # Don't let tiny local runs default to 200 shuffle partitions; on a real
    # cluster this is overridden (or left to AQE coalescing from a high cap).
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # local-mode driver JVM = the whole cluster; Spark's 1g default OOMs at
    # generated-sf1 scale on a 128 GiB host. Only effective at JVM start
    # (getOrCreate of the first session); harness-owned sessions unaffected.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "candyspark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
    packages: list[str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's defaults.

    ``master`` defaults to the environment: ``local[$SPARK_GRAFT_CPUS]`` when
    no cluster master is configured, so the same code runs unchanged on a
    cluster (spark-submit sets the master) and in local tests.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    if packages:
        builder = builder.config("spark.jars.packages", ",".join(packages))
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make ``candyspark`` importable on executor Python workers regardless of
    the driver's working directory.

    cloudpickle serializes module-level functions (the applyInPandas /
    mapInPandas kernels) *by reference*, so every Python worker must be able
    to ``import candyspark`` — true in tests only because the repo root happens
    to be the cwd. A host-created SparkSession (the grading driver, a notebook,
    spark-submit from elsewhere) has no such guarantee, and on a real cluster
    the executors are different machines entirely. Shipping the package as a
    zip via ``addPyFile`` is the standard mechanism that works in both cases.
    Idempotent per SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_candyspark_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"candyspark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(root, fname)
                    rel = os.path.join(
                        "candyspark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._candyspark_shipped = True
    # not earlier: executors may fetch the zip until the process exits
    remove_at_exit(zip_path)


def remove_at_exit(path: str) -> None:
    """Delete the temp file or dir ``path`` when the interpreter exits —
    for files that a lazily evaluated plan or an executor may still read
    for as long as the session lives."""

    def _remove() -> None:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)

    atexit.register(_remove)


@contextmanager
def job_description(spark: SparkSession, text: str) -> Iterator[None]:
    """Label the Spark jobs run inside the block with ``text``, then give
    the caller's own ``spark.job.description`` back (also when the block
    raises) — an engine operator's label must not erase the one its
    caller set to attribute the surrounding jobs."""
    sc = spark.sparkContext
    saved = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", saved)
