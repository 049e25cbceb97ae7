"""cache.memo: the one stamp-keyed memo behind every file-derived value
(prepared plans, scan relations, spread decisions, fixture models and
persisted relations, the NumPy twin's state).

A cached DataFrame must never be handed back to another (stopped or
replaced) SparkSession — the stale-handle failure mode is opaque errors on
first use after a session restart in the same process. Entries key on the
recursive (relpath, mtime_ns, size) stamp of their paths, so a REWRITTEN
file anywhere under them is never served stale, and the evicted entry's
persisted blocks are released instead of pinning forever (ADVICE r14)."""

from __future__ import annotations

import os
import shutil
from types import SimpleNamespace

import pytest

from columbiaimagesearch_spark import cache

from conftest import SF_SMOKE


@pytest.fixture(autouse=True)
def _fresh_test_kind():
    cache.clear("t")
    yield
    cache.clear("t")


def _boom():
    raise AssertionError("builder must not run on a hit")


def _rewrite(path, bump_ns=10**9):
    """Rewrite ``path`` in place with its own bytes: same size, same
    directory entry, a later mtime (bumped explicitly so the test never
    depends on the filesystem's timestamp granularity)."""
    data = open(path, "rb").read()
    mtime = os.stat(path).st_mtime_ns
    with open(path, "wb") as f:
        f.write(data)
    os.utime(path, ns=(mtime + bump_ns, mtime + bump_ns))


def test_hit_on_same_session(spark, tmp_path):
    p = tmp_path / "t.parquet"
    p.write_bytes(b"v1")
    df = spark.range(3)
    assert cache.memo("t", "k", [str(p)], lambda: df, spark) is df
    # second lookup: cache hit, builder not invoked
    assert cache.memo("t", "k", [str(p)], _boom, spark) is df


def test_rebuild_when_cached_handle_belongs_to_other_session(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    open(p, "wb").write(b"v1")
    foreign = spark.newSession().range(1)  # same context, another session
    assert cache.memo("t", "k", [p], lambda: foreign, spark) is foreign
    fresh = spark.range(1)
    got = cache.memo("t", "k", [p], lambda: fresh, spark)
    assert got is fresh
    assert list(cache.entries("t").values()) == [fresh]  # stale replaced

    # a handle on a STOPPED session (pyspark drops _jsc on stop) is rebuilt
    # too, even when asked for by that same session object
    dead = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None))
    stale = SimpleNamespace(sparkSession=dead)
    assert cache.memo("t", "d", [p], lambda: stale, dead) is stale
    again = SimpleNamespace(sparkSession=dead)
    assert cache.memo("t", "d", [p], lambda: again, dead) is again


def test_stamp_changes_when_file_rewritten(tmp_path):
    p = tmp_path / "embeddings.parquet"
    p.write_bytes(b"v1-bytes")
    builds = []

    def build():
        builds.append(1)
        return len(builds)

    assert cache.memo("t", None, [str(p)], build) == 1
    assert cache.memo("t", None, [str(p)], build) == 1  # stable while unchanged
    os.utime(p, ns=(1, 1))  # rewrite-in-place: same size, new mtime
    assert cache.memo("t", None, [str(p)], build) == 2
    p.write_bytes(b"v2-bytes-longer")  # regenerated with different content
    os.utime(p, ns=(1, 1))  # ...even with the earlier mtime, size differs
    assert cache.memo("t", None, [str(p)], build) == 3
    # a path that cannot be stat'ed still builds, but caches nothing
    nope = str(tmp_path / "nope" / "embeddings.parquet")
    assert cache.memo("t", None, [nope], build) == 4
    assert cache.memo("t", None, [nope], build) == 5
    assert len(cache.entries("t")) == 1


def test_stat_failure_caches_nothing_and_keeps_healthy_entries(tmp_path):
    """ADVICE r15: a stat hiccup (file mid-rewrite) must neither cache a
    value under a degraded stamp nor flush the healthy entry of the path."""
    p = tmp_path / "embeddings.parquet"
    p.write_bytes(b"v1")
    healthy = cache.memo("t", None, [str(p)], lambda: "healthy")
    p.rename(tmp_path / "moved")  # rename keeps mtime and size
    assert cache.memo("t", None, [str(p)], lambda: "degraded") == "degraded"
    assert list(cache.entries("t").values()) == [healthy]
    (tmp_path / "moved").rename(p)
    assert cache.memo("t", None, [str(p)], _boom) == "healthy"


def test_eviction_unpersists_and_keeps_current_stamp(spark, tmp_path):
    p = tmp_path / "embeddings.parquet"
    p.write_bytes(b"v1")
    other = tmp_path / "other.parquet"
    other.write_bytes(b"o")
    df = spark.range(5).persist()
    df.count()  # materialize so the persisted blocks exist
    o = spark.range(2)
    cache.memo("t", None, [str(p)], lambda: df, spark)
    cache.memo("t", (16, 20000), [str(p)], lambda: "centroids")
    cache.memo("t", None, [str(other)], lambda: o, spark)

    os.utime(p, ns=(2, 2))
    df2 = spark.range(7)
    cache.memo("t", None, [str(p)], lambda: df2, spark)
    # both stale entries of the path (plain and extended key) evicted;
    # the other path's entry kept
    values = list(cache.entries("t").values())
    assert len(values) == 2 and values[0] is o and values[1] is df2
    assert df.storageLevel.useMemory is False  # unpersisted, blocks released
    # entries under the CURRENT stamp survive further inserts
    cache.memo("t", (16, 20000), [str(p)], lambda: "centroids2")
    assert cache.memo("t", None, [str(p)], _boom, spark) is df2
    assert cache.memo("t", (16, 20000), [str(p)], _boom) == "centroids2"
    assert len(cache.entries("t")) == 3


def test_concurrent_inserts_leave_one_stamp(tmp_path):
    """Eviction and insert are one step: threads racing rewrites of one
    path (and inserts of other kinds) never leave two stamps of the path
    behind, and never trip over a dict another thread is resizing."""
    import sys
    import threading

    p = tmp_path / "t.parquet"
    p.write_bytes(b"v")
    errors = []

    def worker(i):
        try:
            for j in range(150):
                os.utime(p, ns=(i * 1000 + j, i * 1000 + j))
                cache.memo("t", None, [str(p)], lambda: (i, j))
                # a new kind per call: inserts resize the kind table while
                # other threads' evictions walk it
                cache.memo(f"t{i}.{j}", None, [str(p)], lambda: j)
        except Exception as e:  # noqa: BLE001 — surfaced by the assert
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
        for i in range(8):
            for j in range(150):
                cache.clear(f"t{i}.{j}")
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len({k[2] for k in cache.entries("t")}) == 1


def test_rewritten_fixture_dir_not_served_stale(spark, tmp_path):
    """End-to-end on a real cached builder: fixture_model retrains after
    the fixture parquet is rewritten instead of serving the stale model."""
    from columbiaimagesearch_spark.lopq import queries as lq

    src = f"{SF_SMOKE}/embeddings.parquet"
    dst = tmp_path / "embeddings.parquet"
    shutil.copy(src, dst)
    m1 = lq.fixture_model(spark, str(tmp_path))
    assert lq.fixture_model(spark, str(tmp_path)) is m1  # memoized
    _rewrite(dst)  # regenerate: same bytes, fresh mtime
    m2 = lq.fixture_model(spark, str(tmp_path))
    assert m2 is not m1  # retrained, not served stale
    roots = (os.path.realpath(dst),)
    assert len([k for k in cache.entries("fixture_model") if k[0] == roots]) == 1


def test_rewritten_fixture_rebuilds_twin_state(tmp_path):
    """The NumPy oracle twin keys on the same fixture stamp as the Spark
    side: a rewritten fixture rebuilds its state instead of comparing a
    retrained Spark model against the old oracle."""
    from columbiaimagesearch_spark.lopq import twin

    dst = tmp_path / "embeddings.parquet"
    shutil.copy(f"{SF_SMOKE}/embeddings.parquet", dst)
    s1 = twin._state(str(tmp_path))
    assert twin._state(str(tmp_path)) is s1
    _rewrite(dst)
    s2 = twin._state(str(tmp_path))
    assert s2 is not s1
    assert (s2["cells"] == s1["cells"]).all()  # same bytes, same state


def test_scan_relation_memo_hits_and_invalidates(spark, tmp_path):
    """load_table memoizes the lazy scan per (path, stamp): repeat calls
    return the SAME DataFrame (no FileIndex rebuild), a rewritten file
    misses (fresh stamp), and the spread form still goes through the
    parallelize_scan seam on every call (the invariance suite's
    monkeypatch must keep working)."""
    from columbiaimagesearch_spark.sources import tables as tables_mod

    src = f"{SF_SMOKE}/documents.parquet"
    dst = tmp_path / "documents.parquet"
    shutil.copy(src, dst)
    d1 = tables_mod.load_table(spark, str(tmp_path), "documents")
    assert tables_mod.load_table(spark, str(tmp_path), "documents") is d1
    _rewrite(dst)  # rewrite: same bytes, fresh mtime stamp
    d2 = tables_mod.load_table(spark, str(tmp_path), "documents")
    assert d2 is not d1  # stale FileIndex never served
    # exactly one live entry for the path (old stamp evicted)
    roots = (os.path.realpath(dst),)
    assert len([k for k in cache.entries("scan") if k[0] == roots]) == 1
    # the spread seam is applied per call, NOT captured in the memo
    calls = []
    orig = tables_mod.parallelize_scan
    tables_mod.parallelize_scan = lambda df, cache_key=None: calls.append(1) or df
    try:
        tables_mod.load_table(spark, str(tmp_path), "documents", spread=True)
        tables_mod.load_table(spark, str(tmp_path), "documents", spread=True)
    finally:
        tables_mod.parallelize_scan = orig
    assert len(calls) == 2


def _copy_tables(dst, skip=()):
    from columbiaimagesearch_spark.sources import tables as tables_mod

    for t in tables_mod.TABLES:
        if t not in skip:
            shutil.copy(f"{SF_SMOKE}/{t}.parquet", dst / f"{t}.parquet")


def test_builder_memo_hits_invalidates_and_respects_seam(spark, tmp_path):
    """registry builders memoize the lazy plan per (query, sf stamp, scan
    seam): repeat builds return the SAME DataFrame (no py4j re-construction),
    a rewritten fixture file misses (fresh dir stamp), and stubbing the
    parallelize_scan seam misses too (the spread-invariance suite's
    monkeypatch must reach repeat builds)."""
    from columbiaimagesearch_spark import registry
    from columbiaimagesearch_spark.sources import tables as tables_mod

    _copy_tables(tmp_path)
    b = registry.all_specs()["dedup_exact_groups"].builder
    d1 = b(spark, str(tmp_path))
    assert b(spark, str(tmp_path)) is d1
    # rewrite one input: same bytes, fresh mtime -> dir stamp changes
    _rewrite(tmp_path / "documents.parquet")
    d2 = b(spark, str(tmp_path))
    assert d2 is not d1
    # one live entry per query name (old stamp evicted)
    assert (
        len([k for k in cache.entries("builder") if k[1][0] == "dedup_exact_groups"])
        == 1
    )
    # seam stub -> miss (plan rebuilt through the stubbed seam)
    orig = tables_mod.parallelize_scan
    tables_mod.parallelize_scan = lambda df, cache_key=None: df
    try:
        d3 = b(spark, str(tmp_path))
    finally:
        tables_mod.parallelize_scan = orig
    assert d3 is not d2
    # rows unaffected by memoization
    assert sorted(map(tuple, d2.collect())) == sorted(map(tuple, d3.collect()))


def _assert_part_rewrite_misses(spark, sf_dir, part):
    """A part file rewritten in place deep inside the documents table makes
    both the scan memo and the registry builder memo miss."""
    from columbiaimagesearch_spark import registry
    from columbiaimagesearch_spark.sources import tables as tables_mod

    b = registry.all_specs()["dedup_exact_groups"].builder
    s1 = tables_mod.load_table(spark, sf_dir, "documents")
    d1 = b(spark, sf_dir)
    assert tables_mod.load_table(spark, sf_dir, "documents") is s1
    assert b(spark, sf_dir) is d1
    _rewrite(part)  # no directory entry changes: only the file's mtime
    s2 = tables_mod.load_table(spark, sf_dir, "documents")
    d2 = b(spark, sf_dir)
    assert s2 is not s1
    assert d2 is not d1
    assert sorted(map(tuple, d1.collect())) == sorted(map(tuple, d2.collect()))


def test_nested_partitioned_table_rewrite_misses(spark, tmp_path):
    """A hive-partitioned documents table two levels deep: the stamp must
    reach part files below the first directory level."""
    import pyarrow.parquet as pq

    _copy_tables(tmp_path, skip=("documents",))
    root = tmp_path / "documents.parquet"
    pq.write_to_dataset(
        pq.read_table(f"{SF_SMOKE}/documents.parquet"),
        str(root),
        partition_cols=["source", "lang"],
    )
    part = sorted(root.glob("*/*/*.parquet"))[0]
    _assert_part_rewrite_misses(spark, str(tmp_path), part)


def test_spark_written_table_rewrite_misses(spark, tmp_path):
    """A Spark-written documents directory under sf_dir: a part rewrite
    does not bump the table directory's own mtime, so the builder memo's
    stamp must look inside it."""
    _copy_tables(tmp_path, skip=("documents",))
    root = tmp_path / "documents.parquet"
    spark.read.parquet(f"{SF_SMOKE}/documents.parquet").repartition(
        2
    ).write.parquet(str(root))
    part = sorted(root.glob("part-*.parquet"))[0]
    _assert_part_rewrite_misses(spark, str(tmp_path), part)
