"""Query/operator registry — the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers here as a
:class:`QuerySpec`: a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
plus (when SQL-expressible) the equivalent ANSI SQL that DuckDB runs on the
same parquet tables. ``__spark_entry__.py`` exposes this registry to the
driver; ``tests/test_oracle_parity.py`` mirrors the driver's check locally
(row count + column names + order-insensitive value comparison).

Parity rules (Spark vs DuckDB) baked into every spec:
- alias every computed column identically on both sides;
- round every floating aggregate to a fixed number of decimals on both sides
  (summation order differs between engines; rounding removes the noise);
- CAST DuckDB ``sum(integer)`` to BIGINT (DuckDB widens to HUGEINT, Spark
  does not);
- emit epochs (BIGINT) instead of raw timestamps;
- any LIMIT/top-k carries a total tie-breaking order.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from . import cache

Builder = Callable[[SparkSession, str], DataFrame]

# Lazy oracles: a callable (sf_dir) -> SQL for queries whose expected output
# depends on a deterministically-trained model (LOPQ/IVF fixtures). The twin
# computes the expected rows with an independent single-node NumPy pass over
# the same parquet and emits them as a VALUES literal DuckDB can scan. The
# driver resolves oracles via ``oracle_sql()`` (no sf argument), so lazy
# oracles read the sf dir from $SPARK_GRAFT_ORACLE_SF_DIR (default = the
# driver's correctness tier, sf0.01).
LazyOracle = Callable[[str], str]
ORACLE_SF_DIR_ENV = "SPARK_GRAFT_ORACLE_SF_DIR"
DEFAULT_ORACLE_SF_DIR = "/root/testdata/sf0.01"


def oracle_sf_dir() -> str:
    return os.environ.get(ORACLE_SF_DIR_ENV, DEFAULT_ORACLE_SF_DIR)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    # DuckDB SQL, a lazy (sf_dir) -> SQL, or None -> driver rows-only check
    oracle: str | LazyOracle | None
    survey_ops: tuple[str, ...] = ()  # SURVEY §2 operator ids covered
    doc: str = ""
    tags: tuple[str, ...] = field(default=())
    # driver=False: kept out of the driver's 50-entry CORRECTNESS window
    # (its SURVEY tags are all green on other driver rows) but still
    # oracle-checked by the local parity harness and runnable from bench.
    driver: bool = True

    def oracle_for(self, sf_dir: str) -> str | None:
        if callable(self.oracle):
            return self.oracle(sf_dir)
        return self.oracle


_REGISTRY: dict[str, QuerySpec] = {}

def _memoized(name: str, fn: Builder) -> Builder:
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .sources import tables as tables_mod

        # The seam is keyed by the OBJECT, not id(), so the spread-invariance
        # suite's monkeypatch of it reaches repeat builds, and a collected
        # stub can never alias a later function that reused its id. sf_dir
        # is in the key too, so two dirs holding no parquet files (the same
        # empty path list) never share an entry.
        return cache.memo(
            "builder",
            (name, os.path.realpath(sf_dir), tables_mod.parallelize_scan),
            sorted(glob.glob(os.path.join(glob.escape(sf_dir), "*.parquet"))),
            lambda: fn(spark, sf_dir),
            spark,
        )

    build.__name__ = fn.__name__
    build.__doc__ = fn.__doc__
    build.__wrapped__ = fn  # type: ignore[attr-defined]
    return build


def register(
    name: str,
    *,
    oracle: str | LazyOracle | None,
    survey_ops: tuple[str, ...] = (),
    doc: str = "",
    tags: tuple[str, ...] = (),
    driver: bool = True,
) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query spec {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name, builder=_memoized(name, fn), oracle=oracle,
            survey_ops=survey_ops, doc=doc, tags=tags, driver=driver,
        )
        return fn

    return deco


def all_specs() -> dict[str, QuerySpec]:
    """Import all operator modules (side-effect: registration) and return ALL
    specs — driver-visible and folded alike.  The local parity harness
    (tests/test_oracle_parity.py) and bench.py run from this superset, so a
    query folded out of the driver window never loses verification.

    Ordering contract: oracle-bearing specs are listed first (in registration
    order) and rows-only specs last.
    """
    from .operators import (  # noqa: F401
        ann_ivf,
        compat,
        dedup,
        hygiene,
        ledger,
        merge,
        packing,
        relational,
        similarity,
        skew,
        textstats,
    )
    from .lopq import queries as lopq_queries  # noqa: F401
    from .multimodal.images import _register_v17_spec
    from .sources import formats as _formats  # noqa: F401

    _register_v17_spec()

    with_oracle = {n: s for n, s in _REGISTRY.items() if s.oracle is not None}
    rows_only = {n: s for n, s in _REGISTRY.items() if s.oracle is None}
    return {**with_oracle, **rows_only}


def driver_specs() -> dict[str, QuerySpec]:
    """The specs exposed to the driver contract (``__spark_entry__``).

    The driver records CORRECTNESS rows for the first 50 entries only, so
    this view (a) drops specs registered with ``driver=False`` — queries
    whose every SURVEY tag is already green on another driver row — and
    (b) keeps oracle-bearing specs first, guaranteeing each exposed query a
    hash-checked row.
    """
    return {n: s for n, s in all_specs().items() if s.driver}


def queries() -> dict[str, Builder]:
    return {name: spec.builder for name, spec in driver_specs().items()}


def oracle_sql() -> dict[str, str]:
    """Resolve every driver-visible oracle to a SQL string (lazy oracles are
    materialized against $SPARK_GRAFT_ORACLE_SF_DIR — the driver's sf0.01
    tier)."""
    sf = oracle_sf_dir()
    return {
        name: spec.oracle_for(sf)
        for name, spec in driver_specs().items()
        if spec.oracle is not None
    }
