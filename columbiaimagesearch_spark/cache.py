"""One stamp-keyed memo for every value derived from files on disk.

The engine keeps four kinds of value between calls. Each one is a pure
function of some parquet files plus a small key:

- **Prepared plans** (``registry`` builders). Rebuilding a declared
  query's logical plan costs hundreds of py4j round-trips: 40-455 ms of
  driver time per build at sf0.1 before any task runs
  (``llm_fuzzy_decontaminate``: 455 ms build vs 498 ms execution). The
  memo holds the lazy DataFrame only, never rows, so every action still
  re-executes the plan from its parquet inputs, like a SQL engine's
  prepared-statement cache.
- **Scan relations** (``sources.load_table``). ``spark.read.parquet``
  builds a fresh FileIndex and reads the footer schema on every call:
  ~110 ms of driver time per table at sf0.1, paid 2-3 times per builder.
- **Spread decisions** (``sources.parallelize_scan``). The split-count
  probe forces a full analyze+plan pass, ~90 ms per call: more than the
  shuffle it gates on a sub-second query.
- **Fixture models and persisted relations** (``lopq.queries``,
  ``operators.ann_ivf``, ``lopq.twin``). Rebuilding a persisted codes or
  index relation per call broadcasts the model again and registers a
  fresh cache entry. The dead broadcasts and blocks pile up until a
  driver GC lets the ContextCleaner reclaim them, measured as
  multi-second stalls on whichever query runs during the cleanup. One
  shared relation is also the production shape: materialized once,
  probed many times.

An entry is keyed on ``(kind, realpaths, key, stamp)``. The stamp walks
every path recursively and records the sorted ``(relpath, mtime_ns,
size)`` of each file and directory, so an in-place rewrite anywhere in a
nested or Spark-written parquet directory misses instead of serving a
stale plan, decision or model.

- A stat failure (a file mid-rewrite, a non-local path) builds and
  returns the value without caching it and without evicting anything. A
  transient hiccup must neither alias two generations of a file under
  one degraded stamp nor flush the healthy entries.
- A session-bound value (a DataFrame) hits only for the ``spark`` it
  belongs to, and only while that session's context runs: a handle on a
  stopped or foreign session fails opaquely on first use.
- Inserting evicts the entries of the same kind and paths under another
  stamp, which can never hit again, and the DataFrames of stopped
  sessions. Evicted persisted DataFrames are unpersisted, so a rewritten
  fixture does not pin its old blocks for the life of the driver.
"""

from __future__ import annotations

import os
import stat
import threading
from collections.abc import Callable, Hashable, Iterable, Mapping
from types import MappingProxyType
from typing import Any, TypeVar

T = TypeVar("T")

# kind -> {(realpaths, key, stamp): value}; _LOCK makes each insert and its
# evictions one step for concurrent callers
_ENTRIES: dict[str, dict[tuple, Any]] = {}
_LOCK = threading.Lock()
_MISS = object()


def _walk(path: str, rel: str, out: list[tuple[str, int, int]]) -> None:
    st = os.stat(path)
    out.append((rel, st.st_mtime_ns, st.st_size))
    if stat.S_ISDIR(st.st_mode):
        with os.scandir(path) as it:
            for e in it:
                _walk(e.path, f"{rel}/{e.name}", out)


def _stamp(paths: tuple[str, ...]) -> tuple:
    """Per path, the sorted (relpath, mtime_ns, size) of it and of every
    file and directory beneath it. Raises OSError when any stat fails."""
    stamps = []
    for p in paths:
        out: list[tuple[str, int, int]] = []
        _walk(p, ".", out)
        stamps.append(tuple(sorted(out)))
    return tuple(stamps)


def _stopped(session) -> bool:
    try:
        jsc = session.sparkContext._jsc  # None once the context is stopped
        return jsc is None or jsc.sc().isStopped()
    except Exception:  # noqa: BLE001 — session unreachable = stopped
        return True


def _release(value: Any) -> None:
    if getattr(value, "is_cached", False):
        try:
            value.unpersist()
        except Exception:  # noqa: BLE001 — its session is already gone
            pass


def _evict(kind: str, roots: tuple, stamp: tuple) -> list:
    """Pop the entries an insert of ``(kind, roots, stamp)`` retires and
    return their values. Call with ``_LOCK`` held."""
    stopped: dict[int, bool] = {}

    def dead(value: Any) -> bool:
        session = getattr(value, "sparkSession", None)
        if session is None:
            return False
        if id(session) not in stopped:
            stopped[id(session)] = _stopped(session)
        return stopped[id(session)]

    evicted = []
    for k_kind, entries in _ENTRIES.items():
        for k in [
            k
            for k, v in entries.items()
            if (k_kind == kind and k[0] == roots and k[2] != stamp) or dead(v)
        ]:
            evicted.append(entries.pop(k))
    return evicted


def memo(
    kind: str,
    key: Hashable,
    paths: Iterable[str],
    build: Callable[[], T],
    spark=None,
) -> T:
    """The value ``build()`` returns for ``(kind, key)`` over the current
    contents of ``paths``, built at most once per stamp of those paths.

    Pass ``spark`` when the value is a DataFrame: a cached one is served
    only to the session it belongs to (see the module docstring)."""
    roots = tuple(os.path.realpath(p) for p in paths)
    try:
        stamp = _stamp(roots)
    except OSError:
        return build()
    full = (roots, key, stamp)
    value = _ENTRIES.get(kind, {}).get(full, _MISS)
    if value is not _MISS:
        session = getattr(value, "sparkSession", None)
        if session is None or (session is spark and not _stopped(spark)):
            return value
    value = build()  # outside the lock: builds nest and may run for seconds
    with _LOCK:
        evicted = _evict(kind, roots, stamp)
        _ENTRIES.setdefault(kind, {})[full] = value
    for old in evicted:
        _release(old)
    return value


def clear(kind: str | None = None) -> None:
    """Drop every entry of ``kind`` (all kinds when None), unpersisting
    the persisted DataFrames among them."""
    with _LOCK:
        kinds = [kind] if kind is not None else list(_ENTRIES)
        dropped = [v for k in kinds for v in _ENTRIES.pop(k, {}).values()]
    for value in dropped:
        _release(value)


def entries(kind: str) -> Mapping[tuple, Any]:
    """Read-only view of ``kind``'s entries, keyed ``(realpaths, key,
    stamp)``."""
    return MappingProxyType(_ENTRIES.get(kind, {}))
