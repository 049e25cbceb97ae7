"""Parquet table loaders for the driver's synthetic tables (TESTDATA.md).

Spark-first notes: ``spark.read.parquet`` gives us columnar scans with
predicate pushdown + column pruning for free; every query in the operator
registry selects only what it needs so Catalyst prunes the ReadSchema.
At 100 TB these tables would be partitioned (orders/lineitem by date,
codes by cell) — the loaders keep that switch behind one function.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .. import cache

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    # The driver may hand us a session we didn't build: pin the SQL confs our
    # queries' semantics depend on (all runtime-settable) and ship the
    # package to its Python workers. UTC keeps date_format/timestamp-literal
    # comparisons aligned with the (naive) DuckDB oracle regardless of
    # ambient timezone.
    from ..session import ensure_shipped

    ensure_shipped(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Only the BASE scan is memoized; the spread repartition is applied per
    # call so the parallelize_scan seam (and the spread-invariance suite's
    # monkeypatch of it) still sees every spread request. The repartition
    # itself is one shallow transformation over the cached scan (~10 ms).
    df = cache.memo(
        "scan", None, [path], lambda: _build_table(spark, path, name), spark
    )
    # spread=True: give CPU-heavy per-row consumers full parallelism even
    # on a single-split source (see parallelize_scan; memoized per path).
    # Applied AFTER the events normalization so every table honors it.
    return parallelize_scan(df, cache_key=path) if spread else df


def _build_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        # The driver's events.parquet `ts` physical type has varied across
        # rounds: TIMESTAMP(NANOS) (which the Spark reader only accepts as
        # LONG via nanosAsLong) vs TIMESTAMP(MICROS, NTZ). Normalize every
        # variant to a session-TZ TimestampType (UTC, pinned above) so the
        # queries and the naive-timestamp DuckDB oracle agree.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # nanos-as-long: integer nanos -> micros, no float in the path
            df = df.withColumn(
                "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
            )
        else:
            # TIMESTAMP_NTZ (or already TIMESTAMP): NTZ->TZ cast under the
            # UTC session timezone keeps the wall-clock values
            # bit-identical.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(path)
    return df


def parallelize_scan(df: DataFrame, cache_key: str | None = None) -> DataFrame:
    """Spread a SMALL scan across the session's cores — a no-op at scale.

    A single-row-group parquet file reads as ONE input split no matter
    what ``maxPartitionBytes`` says, so every map stage built on it
    serializes on one core until the first exchange — at small sf the
    CPU-heavy per-doc projections (gram hashing, minhash, banding) were
    measured spending >80% of their wall in that single task. The
    repartition fires ONLY when the scan's parallelism is below
    ``defaultParallelism``; a production-scale source already has at
    least cores-many splits, so no shuffle is ever added there.

    Use on relations feeding CPU-heavy per-row work whose results are
    row-deterministic (hashes, per-doc aggregates) — NOT on float
    accumulations whose oracle pins a partition order, and NOT on
    relations whose per-row work is a cheap JVM expression (measured:
    the shuffle + 32-task scheduling costs more than one-core evaluation
    saves for token counting and broadcast-probe filters).

    ``cache_key`` (the scan's path) memoizes the split-count probe —
    pass it whenever the relation is a plain file scan; `load_table`
    callers get it automatically via ``spread=True``."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if cache_key is not None:
        # split counts are a pure function of (file layout,
        # maxPartitionBytes, parallelism): the stamp covers the layout
        max_bytes = df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728"
        )
        need = cache.memo(
            "spread",
            (max_bytes, target),
            [cache_key],
            lambda: df.rdd.getNumPartitions() < target,
        )
    else:
        need = df.rdd.getNumPartitions() < target
    return df.repartition(target) if need else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views so ``spark.sql`` works directly."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
