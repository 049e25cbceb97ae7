"""SparkSession factory with cluster-shaped defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32), but every
conf here is chosen to also be the right default on a 1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting — cell populations in the
  ANN index are Zipf-ish, cf. reference ``lopq/lopq/eval.py:66-74``).
- ``spark.sql.shuffle.partitions`` sized for the local tier; at 100 TB this
  becomes ~2-4x total cores and AQE coalesces down.
- Arrow enabled: all Python numerics cross the boundary as Arrow batches
  (pandas_udf / mapInPandas / mapInArrow), never row-at-a-time pickling.
- Session timezone pinned to UTC so timestamp arithmetic is deterministic and
  matches the DuckDB oracle.
- Python workers start from ``_worker/pyspark_cis_worker.py``
  (``spark.python.worker.module``), not ``pyspark.worker``. Every task's
  setup calls ``importlib.invalidate_caches()``, which on CPython 3.11
  re-reads the central directory of every zip on the worker's path (the
  spark-core jar, ``pyspark.zip``, py4j) through each of 16 cached
  importers: 0.24-0.30 CPU-s per task before any user code runs. The
  module re-reads a zip only when its stat stamp changed, then hands over
  to ``pyspark.worker.main``. Its directory reaches the workers through
  the process ``PYTHONPATH``, which the JVM inherits and merges into every
  worker's path (``spark.executorEnv.PYTHONPATH`` is a caller's to set).
  ``extra_conf={"spark.python.worker.module": "pyspark.worker"}`` turns it
  off.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()
WORKER_DIR = str(Path(__file__).resolve().parent / "_worker")
WORKER_MODULE = "pyspark_cis_worker"


def ensure_shipped(spark: SparkSession) -> None:
    """Ship this package to the Python workers of ``spark``.

    The driver may import us by path from any cwd; executor Python workers
    unpickle our pandas-UDF closures *by reference* and need the package
    importable. ``addPyFile`` with a zip of the package makes that true for
    any session (local or cluster) without touching PYTHONPATH.
    """
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    pkg_dir = Path(__file__).resolve().parent
    zpath = os.path.join(tempfile.gettempdir(), "columbiaimagesearch_spark_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for p in sorted(pkg_dir.rglob("*.py")):
            z.write(p, f"{pkg_dir.name}/{p.relative_to(pkg_dir)}")
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:  # noqa: BLE001 — already registered on this context
        pass
    _SHIPPED.add(key)


def _worker_module() -> str:
    """The Python worker module for a new context: ours when the JVM that
    will fork the workers has (or, not yet started, will inherit)
    ``WORKER_DIR`` on its ``PYTHONPATH``, else ``pyspark.worker``."""
    if SparkContext._jvm is not None:  # launched before this call
        inherited = SparkContext._jvm.java.lang.System.getenv("PYTHONPATH") or ""
        return WORKER_MODULE if WORKER_DIR in inherited.split(os.pathsep) else "pyspark.worker"
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if WORKER_DIR not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([*paths, WORKER_DIR])
    return WORKER_MODULE


def get_spark(
    app_name: str = "columbiaimagesearch-spark",
    *,
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the tuned SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = int(
        shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    )
    # One BLAS thread per Python worker: Spark already runs one worker per
    # task slot, so numpy's default threaded BLAS oversubscribes cores²
    # (32 workers × 32 OpenBLAS threads here) — measured as 2-6× wobble on
    # every matmul-bearing Arrow stage. Workers inherit the driver env in
    # local mode; executorEnv covers cluster mode. setdefault so an
    # explicit operator override still wins.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # 16g on the 128 GiB local envelope: 32 concurrent task slots share
        # the driver JVM in local mode, and at 8g the bench's warm state
        # (persisted fixture relations + Arrow transfer buffers + shuffle
        # exchanges of 32 tasks) ran close enough to the unified-memory
        # ceiling that individual samples paid eviction/spill stalls —
        # observed as 1.4s<->4.5s bimodal medians on the LSH self-join while
        # CPU calibration stayed flat. On a real cluster this maps to
        # ordinary per-executor memory sizing, not a driver concern.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # ContextCleaner only reclaims dead broadcasts/cached RDDs when a
        # DRIVER GC runs; with a roomy heap that can be never, so block
        # manager storage silently fills with dead blocks and long sessions
        # hit multi-second cleanup stalls mid-query (measured in bench).
        # A periodic driver System.gc keeps reclamation incremental — cheap
        # on any driver, local or cluster (default interval is 30min).
        .config("spark.cleaner.periodicGC.interval", "45s")
        # ...and make that System.gc a CONCURRENT G1 cycle instead of a
        # stop-the-world full GC, so periodic cleanup never pauses queries
        .config(
            "spark.driver.extraJavaOptions", "-XX:+ExplicitGCInvokesConcurrent"
        )
        .config(
            "spark.executor.extraJavaOptions", "-XX:+ExplicitGCInvokesConcurrent"
        )
        .config("spark.executorEnv.OMP_NUM_THREADS", os.environ["OMP_NUM_THREADS"])
        .config(
            "spark.executorEnv.OPENBLAS_NUM_THREADS",
            os.environ["OPENBLAS_NUM_THREADS"],
        )
        .config("spark.executorEnv.MKL_NUM_THREADS", os.environ["MKL_NUM_THREADS"])
        .config("spark.python.worker.module", _worker_module())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
