"""Serving searcher == distributed search; cell layout actually prunes."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from columbiaimagesearch_spark.lopq import layout
from columbiaimagesearch_spark.lopq.queries import (
    QUOTA,
    TOP_K,
    codes_df,
    fixture_model,
)
from columbiaimagesearch_spark.lopq.search import search
from columbiaimagesearch_spark.lopq.serving import ServingSearcher
from columbiaimagesearch_spark.sources import load_table

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def model(spark):
    return fixture_model(spark, SF_SMOKE)


@pytest.fixture(scope="module")
def codes(spark):
    return codes_df(spark, SF_SMOKE).persist()


@pytest.fixture(scope="module")
def queries_np(spark):
    rows = (
        load_table(spark, SF_SMOKE, "embeddings")
        .where(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect()
    )
    return [(int(r["vec_id"]), np.array(r["embedding"])) for r in rows]


@pytest.fixture
def workers_only(monkeypatch):
    """Send every pool query to the forked workers: tests of the worker
    protocol (replies, deaths, stops, deadlines) must not be answered by
    the local route."""
    from columbiaimagesearch_spark.lopq.serving import ForkedRouterPool

    monkeypatch.setattr(ForkedRouterPool, "LOCAL_MAX_ROWS", 0)


def test_serving_matches_distributed_search(spark, model, codes, queries_np):
    serving = ServingSearcher(model).load_codes(codes)
    assert serving.n_items == codes.count()
    dist = search(spark, codes, model, queries_np, quota=QUOTA, k=TOP_K)
    by_qid: dict[int, list] = {}
    for r in dist.orderBy("qid", "rank").collect():
        by_qid.setdefault(int(r["qid"]), []).append(
            (int(r["id"]), round(float(r["adc_dist"]), 9))
        )
    for qid, q in queries_np:
        got = [(i, round(d, 9)) for i, d in serving.search(q, quota=QUOTA, k=TOP_K)]
        assert got == by_qid[qid], f"serving != distributed for qid={qid}"


def test_serving_rerank_matches_distributed(spark, model, codes, queries_np):
    """Serving rerank (ADC shortlist -> exact L2 re-sort) must equal the
    distributed rerank path row-for-row — both via resident vectors and
    via the production fetch-callback shape."""
    from columbiaimagesearch_spark.lopq.queries import RERANK_NB

    emb = load_table(spark, SF_SMOKE, "embeddings")
    serving = ServingSearcher(model).load_codes(codes).load_vectors(emb)
    dist = search(
        spark, codes, model, queries_np, quota=QUOTA, k=TOP_K,
        vectors=emb, rerank_nb=RERANK_NB,
    )
    by_qid: dict[int, list] = {}
    for r in dist.orderBy("qid", "rank").collect():
        by_qid.setdefault(int(r["qid"]), []).append(
            (int(r["id"]), round(float(r["adc_dist"]), 9), round(float(r["exact_dist"]), 9))
        )
    rows = emb.select("vec_id", "embedding").collect()
    vec_map = {int(r["vec_id"]): np.array(r["embedding"]) for r in rows}

    def fetch(ids):
        return np.stack([vec_map[int(i)] for i in ids])

    for qid, q in queries_np:
        got_res = [
            (i, round(a, 9), round(e, 9))
            for i, a, e in serving.search(q, quota=QUOTA, k=TOP_K, rerank_nb=RERANK_NB)
        ]
        assert got_res == by_qid[qid], f"resident-vector rerank != dist for {qid}"
        got_cb = [
            (i, round(a, 9), round(e, 9))
            for i, a, e in serving.search(
                q, quota=QUOTA, k=TOP_K, rerank_nb=RERANK_NB, fetch_vectors=fetch
            )
        ]
        assert got_cb == by_qid[qid], f"callback rerank != dist for {qid}"


def test_serving_rerank_requires_vectors(spark, model, codes, queries_np):
    s = ServingSearcher(model).load_codes(codes)
    with pytest.raises(ValueError, match="fetch_vectors or load_vectors"):
        s.search(queries_np[0][1], quota=QUOTA, k=TOP_K, rerank_nb=10)


def test_serving_incremental_add_dedups(spark, model, codes):
    first = codes.where(F.col("id") < 250)
    rest = codes.where(F.col("id") >= 250)
    s = ServingSearcher(model).load_codes(first)
    n1 = s.n_items
    s.add_codes(rest)
    assert s.n_items == codes.count()
    # re-adding existing codes is a no-op (J7 dedup semantics)
    s.add_codes(first.limit(50))
    assert s.n_items == codes.count()
    assert n1 < s.n_items


def test_serving_add_batch_with_internal_dups(spark, model, codes):
    """A single add batch containing repeated (cell, id) rows must land each
    id once (first occurrence wins) — the vectorized group-per-cell path."""
    base = codes.where(F.col("id") < 100)
    incoming = codes.where(F.col("id") >= 100)
    s = ServingSearcher(model).load_codes(base)
    s.add_codes(incoming.unionByName(incoming))  # every row duplicated
    assert s.n_items == codes.count()
    # contents equal to a fresh full load, cell by cell
    full = ServingSearcher(model).load_codes(codes)
    assert set(s._cells) == set(full._cells)
    for c in full._cells:
        ids_a = sorted(s._cells[c][0].tolist())
        ids_b = sorted(full._cells[c][0].tolist())
        assert ids_a == ids_b, f"cell {c} id mismatch"


def test_cell_counts_histogram_cap(spark, codes, monkeypatch):
    """An index spread over more occupied cells than the cap must fail
    loudly with the sharding recipe, not balloon the driver."""
    from columbiaimagesearch_spark.lopq import search as search_mod

    n_cells = codes.select("cell").distinct().count()
    monkeypatch.setattr(search_mod, "MAX_OCCUPIED_CELLS", n_cells - 1)
    with pytest.raises(ValueError, match="occupied cells"):
        search_mod._cell_counts(codes)
    monkeypatch.setattr(search_mod, "MAX_OCCUPIED_CELLS", n_cells)
    counts = search_mod._cell_counts(codes)
    assert sum(counts.values()) == codes.count()


def test_cell_partitioned_layout_prunes(spark, codes, tmp_path):
    path = str(tmp_path / "codes_by_cell")
    layout.write_codes_partitioned(codes, path)
    table = layout.read_codes(spark, path)
    assert table.count() == codes.count()

    cells = [int(r["cell"]) for r in codes.select("cell").distinct().limit(3).collect()]
    probed = layout.probe_cells(table, cells)
    # the scan must carry the IN-list as a PARTITION filter (directory
    # pruning), not a post-scan data filter
    from columbiaimagesearch_spark.plans.explain import formatted_plan

    plan = formatted_plan(probed)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf, f"no PartitionFilters in plan:\n{plan}"
    assert any("cell" in ln and "IN" in ln for ln in pf), pf
    # and the probe answers match an unpartitioned filter
    expect = sorted(
        (int(r["id"]), int(r["cell"]))
        for r in codes.where(F.col("cell").isin(cells)).select("id", "cell").collect()
    )
    got = sorted((int(r["id"]), int(r["cell"])) for r in probed.select("id", "cell").collect())
    assert got == expect


def test_bucketed_layout_roundtrip(spark, codes, tmp_path):
    path = str(tmp_path / "codes_bucketed")
    layout.write_codes_partitioned(codes, path, bucket_cells=8)
    table = layout.read_codes(spark, path)
    assert table.count() == codes.count()
    cells = [int(r["cell"]) for r in codes.select("cell").distinct().limit(2).collect()]
    probed = layout.probe_cells(table, cells, bucket_cells=8)
    from columbiaimagesearch_spark.plans.explain import formatted_plan

    plan = formatted_plan(probed)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("cell_bucket" in ln and "IN" in ln for ln in pf), pf
    assert probed.count() == codes.where(F.col("cell").isin(cells)).count()


def test_histogram_sidecar_matches_codes(spark, codes, tmp_path):
    path = str(tmp_path / "codes_hist")
    layout.write_codes_partitioned(codes, path, bucket_cells=8)
    hist = layout.read_cell_histogram(spark, path)
    want = {
        int(r["cell"]): int(r["n"])
        for r in codes.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert hist == want
    # the sidecar must be invisible to the data scan
    assert layout.read_codes(spark, path).count() == codes.count()


def test_search_from_bucketed_layout(spark, model, codes, queries_np, tmp_path):
    """The production read path: search planned from the histogram sidecar
    against the bucketed layout must (a) return exactly what search() on
    the raw codes relation returns, and (b) show directory pruning on
    cell_bucket AND a pushed cell filter in the scan plan."""
    from columbiaimagesearch_spark.plans.explain import formatted_plan

    path = str(tmp_path / "codes_prod")
    layout.write_codes_partitioned(codes, path, bucket_cells=8)

    got = layout.search_from_layout(
        spark, path, model, queries_np, quota=QUOTA, k=TOP_K, bucket_cells=8
    )
    want = search(spark, codes, model, queries_np, quota=QUOTA, k=TOP_K)
    as_rows = lambda df: sorted(  # noqa: E731
        (int(r["qid"]), int(r["rank"]), int(r["id"]), round(float(r["adc_dist"]), 9))
        for r in df.collect()
    )
    assert as_rows(got) == as_rows(want)

    plan = formatted_plan(got)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("cell_bucket" in ln and "IN" in ln for ln in pf), pf
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any("In(cell" in ln for ln in pushed), pushed


def test_bucketed_layout_row_group_pruning(spark, codes, tmp_path):
    """Row-group pruning inside a bucket directory: files are cell-sorted,
    so with multiple row groups per file the parquet min/max stats let the
    pushed cell filter skip whole groups. Written with a tiny row-group
    size to force multi-group files, then proven from the parquet footers:
    (a) cell stats are monotone across each file's groups (the sort
    guarantee), (b) a single-cell probe overlaps a strict subset of the
    groups."""
    import pyarrow.parquet as pq
    from pathlib import Path

    path = str(tmp_path / "codes_rg")
    layout.write_codes_partitioned(
        codes, path, bucket_cells=2, row_group_bytes=1024
    )
    files = sorted(Path(path).glob("cell_bucket=*/*.parquet"))
    assert files
    multi_group = False
    total_groups = 0
    for f in files:
        md = pq.ParquetFile(str(f)).metadata
        idx = next(
            i for i in range(len(md.schema))
            if md.schema.column(i).name == "cell"
        )
        stats = [md.row_group(g).column(idx).statistics for g in range(md.num_row_groups)]
        assert all(s is not None and s.has_min_max for s in stats)
        # monotone: the writer's sortWithinPartitions("cell") guarantee
        for a, b in zip(stats, stats[1:]):
            assert a.max <= b.min
        multi_group = multi_group or md.num_row_groups > 1
        total_groups += md.num_row_groups
        # a probe of the first group's min cell can skip every group whose
        # range excludes it
        probe_cell = stats[0].min
        matching = sum(1 for s in stats if s.min <= probe_cell <= s.max)
        if md.num_row_groups > 1:
            assert matching < md.num_row_groups
    assert multi_group, "row_group_bytes failed to force multi-group files"


def test_layout_is_self_describing(spark, model, codes, queries_np, tmp_path):
    """search_from_layout reads bucket_cells from the writer-recorded
    metadata (no caller knowledge needed); an explicit mismatch raises
    instead of silently pruning correct directories."""
    path = str(tmp_path / "codes_auto")
    layout.write_codes_partitioned(codes, path, bucket_cells=8)
    assert layout.read_layout_meta(spark, path) == 8
    got = layout.search_from_layout(spark, path, model, queries_np[:2], quota=QUOTA, k=TOP_K)
    want = search(spark, codes, model, queries_np[:2], quota=QUOTA, k=TOP_K)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    with pytest.raises(ValueError, match="recorded bucketing"):
        layout.search_from_layout(
            spark, path, model, queries_np[:1], quota=QUOTA, k=TOP_K, bucket_cells=4
        )


def test_production_bootstrap_roundtrip(spark, model, codes, queries_np, tmp_path):
    """The full deploy story: persist the model (parquet artifact) and the
    codes as the bucketed layout, then bootstrap BOTH read paths from disk
    in a fresh state — the distributed pruned search and a serving replica
    — and require row-identical answers to the original in-session search.
    This is what a real rollout does: train once, write artifacts, serve
    from artifacts."""
    from columbiaimagesearch_spark.lopq import store

    mpath, cpath = str(tmp_path / "model_artifact"), str(tmp_path / "codes_prod2")
    store.save_model(spark, model, mpath)
    layout.write_codes_partitioned(codes, cpath, bucket_cells=8)

    m2 = store.load_model(spark, mpath)
    want = {}
    for r in search(spark, codes, model, queries_np, quota=QUOTA, k=TOP_K).collect():
        want.setdefault(int(r["qid"]), []).append(
            (int(r["rank"]), int(r["id"]), round(float(r["adc_dist"]), 9))
        )
    # distributed pruned read path from the persisted artifacts
    got = layout.search_from_layout(
        spark, cpath, m2, queries_np, quota=QUOTA, k=TOP_K, bucket_cells=8
    )
    for r in got.collect():
        assert (int(r["rank"]), int(r["id"]), round(float(r["adc_dist"]), 9)) in want[
            int(r["qid"])
        ]
    # serving replica bootstrapped from the same layout
    replica = ServingSearcher(m2).load_codes(
        layout.read_codes(spark, cpath).select("cell", "id", "fine")
    )
    for qid, q in queries_np:
        got_s = [
            (rk + 1, i, round(d, 9))
            for rk, (i, d) in enumerate(replica.search(q, quota=QUOTA, k=TOP_K))
        ]
        assert got_s == sorted(want[qid]), f"replica != batch for qid={qid}"


def test_serving_snapshot_budget_enforced(spark, model, codes):
    """An over-budget codes table must raise BEFORE any collect (driver OOM
    is never the failure mode); a cell-range shard under the same budget
    loads fine — the documented scale-out path."""
    import pytest as _pytest

    n = codes.count()
    with _pytest.raises(ValueError, match="serving replica budget"):
        ServingSearcher(model, max_rows=n - 1).load_codes(codes)

    # cell-range sharding: each replica holds a slice under its budget
    from pyspark.sql import functions as F

    lo_half = codes.where(F.col("cell") < model.V * model.V // 2)
    shard = ServingSearcher(model, max_rows=n - 1).load_codes(lo_half)
    assert 0 < shard.n_items < n

    # add_codes shares the budget
    s = ServingSearcher(model, max_rows=n - 1).load_codes(lo_half)
    with _pytest.raises(ValueError, match="serving replica budget"):
        s.add_codes(codes)


def test_incremental_append_to_layout(spark, model, codes, queries_np, tmp_path):
    """ST6 meets the pruned read path: append an increment into the
    bucketed layout, and search_from_layout over the refreshed layout
    equals search() over the full codes relation; the merged sidecar
    matches true per-cell counts, and rebuild_histogram reproduces it."""
    path = str(tmp_path / "codes_incr")
    first = codes.where(F.col("id") < 250)
    rest = codes.where(F.col("id") >= 250)
    layout.write_codes_partitioned(first, path, bucket_cells=8)
    layout.append_codes_to_layout(rest, path)

    want_hist = {
        int(r["cell"]): int(r["n"])
        for r in codes.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert layout.read_cell_histogram(spark, path) == want_hist

    got = layout.search_from_layout(spark, path, model, queries_np, quota=QUOTA, k=TOP_K)
    want = search(spark, codes, model, queries_np, quota=QUOTA, k=TOP_K)
    rows = lambda df: sorted(  # noqa: E731
        (int(r["qid"]), int(r["rank"]), int(r["id"]), round(float(r["adc_dist"]), 9))
        for r in df.collect()
    )
    assert rows(got) == rows(want)

    # recovery path reproduces the same sidecar from the data
    layout.rebuild_histogram(spark, path)
    assert layout.read_cell_histogram(spark, path) == want_hist


def test_appended_files_stay_cell_sorted(spark, codes, tmp_path):
    """Files landed by append_codes_to_layout must be cell-sorted too
    (monotone row-group min/max), or the refreshed part of the index
    silently loses row-group prunability."""
    import pyarrow.parquet as pq
    from pathlib import Path

    path = str(tmp_path / "codes_append_rg")
    layout.write_codes_partitioned(
        codes.where(F.col("id") < 250), path, bucket_cells=2, row_group_bytes=1024
    )
    before = {str(f) for f in Path(path).glob("cell_bucket=*/*.parquet")}
    layout.append_codes_to_layout(
        codes.where(F.col("id") >= 250), path, row_group_bytes=1024
    )
    appended = [
        f for f in Path(path).glob("cell_bucket=*/*.parquet") if str(f) not in before
    ]
    assert appended, "append must land new files"
    for f in appended:
        md = pq.ParquetFile(str(f)).metadata
        idx = next(
            i for i in range(len(md.schema)) if md.schema.column(i).name == "cell"
        )
        stats = [
            md.row_group(g).column(idx).statistics for g in range(md.num_row_groups)
        ]
        for a, b in zip(stats, stats[1:]):
            assert a.max <= b.min, f"appended file {f} not cell-sorted"
    # the tiny row-group size must actually yield multi-group appended files
    # somewhere, or the monotonicity check above proves nothing
    assert any(
        pq.ParquetFile(str(f)).metadata.num_row_groups > 1 for f in appended
    ), "expected at least one multi-row-group appended file"


def test_crashed_append_detected_and_auto_repaired(
    spark, model, codes, queries_np, tmp_path, monkeypatch
):
    """Crash between the data append and the sidecar merge: the intent
    marker stays set, so the next search_from_layout must DETECT the stale
    sidecar, plan from an in-memory data rebuild, and return the same
    answers as a search over the full codes relation — never silently
    under-visit the newly landed cells. The READER must NOT write the
    sidecar or clear the marker (the marker may belong to a live writer;
    a reader-side clear would hide a post-data crash of that append) —
    repair of the on-disk state is writer-side (explicit rebuild or the
    next append's pre-repair)."""
    path = str(tmp_path / "codes_crash")
    first = codes.where(F.col("id") < 250)
    rest = codes.where(F.col("id") >= 250)
    layout.write_codes_partitioned(first, path, bucket_cells=8)
    assert not layout.layout_is_pending(path)

    # crash at the sidecar overwrite itself: the data append has landed,
    # the histogram has not (the real crash window)
    from pyspark.sql.readwriter import DataFrameWriter

    real_parquet = DataFrameWriter.parquet

    def boom(self, p, *a, **kw):
        if p.rstrip("/").endswith(layout.HISTOGRAM_DIR):
            raise RuntimeError("simulated crash before sidecar merge")
        return real_parquet(self, p, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        layout.append_codes_to_layout(rest, path)
    monkeypatch.undo()

    # data landed, sidecar did not: marker set, sidecar under-counts
    assert layout.layout_is_pending(path)
    true_hist = {
        int(r["cell"]): int(r["n"])
        for r in codes.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert layout.read_cell_histogram(spark, path) != true_hist

    with pytest.warns(RuntimeWarning, match="interrupted append"):
        got = layout.search_from_layout(
            spark, path, model, queries_np, quota=QUOTA, k=TOP_K
        )
    rows = lambda df: sorted(  # noqa: E731
        (int(r["qid"]), int(r["rank"]), int(r["id"]), round(float(r["adc_dist"]), 9))
        for r in df.collect()
    )
    want = search(spark, codes, model, queries_np, quota=QUOTA, k=TOP_K)
    assert rows(got) == rows(want)
    # the reader answered correctly but left the on-disk state alone:
    # marker still set, sidecar still stale (writer-side repair owns them)
    assert layout.layout_is_pending(path)
    assert layout.read_cell_histogram(spark, path) != true_hist
    # writer-side repair commits: marker cleared, sidecar matches the data
    layout.rebuild_histogram(spark, path)
    assert not layout.layout_is_pending(path)
    assert layout.read_cell_histogram(spark, path) == true_hist


def test_append_onto_crashed_layout_repairs_first(
    spark, model, codes, tmp_path, monkeypatch
):
    """An append that finds a stale intent marker must repair the sidecar
    BEFORE merging — otherwise its merge bakes the crashed predecessor's
    under-count in forever (ADVICE r5 marker-protocol hardening)."""
    from pyspark.sql.readwriter import DataFrameWriter

    path = str(tmp_path / "codes_crash_then_append")
    a = codes.where(F.col("id") < 200)
    b = codes.where((F.col("id") >= 200) & (F.col("id") < 350))
    c = codes.where(F.col("id") >= 350)
    layout.write_codes_partitioned(a, path, bucket_cells=8)

    real_parquet = DataFrameWriter.parquet

    def boom(self, p, *arg, **kw):
        if p.rstrip("/").endswith(layout.HISTOGRAM_DIR):
            raise RuntimeError("simulated crash before sidecar merge")
        return real_parquet(self, p, *arg, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        layout.append_codes_to_layout(b, path)
    monkeypatch.undo()
    assert layout.layout_is_pending(path)

    # the NEXT append repairs first, then merges — sidecar ends exact
    layout.append_codes_to_layout(c, path)
    assert not layout.layout_is_pending(path)
    true_hist = {
        int(r["cell"]): int(r["n"])
        for r in codes.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert layout.read_cell_histogram(spark, path) == true_hist


def test_rebuild_keeps_marker_replaced_midway(spark, codes, tmp_path):
    """rebuild_histogram clears ONLY the marker token it started with: a
    marker re-asserted by a new writer mid-rebuild survives (the reader
    can't prove it stale)."""
    path = str(tmp_path / "codes_token")
    layout.write_codes_partitioned(codes, path, bucket_cells=8)
    stale_token = layout._write_pending_marker(path)
    # simulate a NEW append starting mid-rebuild: replace the marker token
    # before rebuild runs its clear step
    import columbiaimagesearch_spark.lopq.layout as lay

    orig_clear = lay._clear_pending_marker

    def swap_then_clear(p, token):
        assert token == stale_token
        lay._write_pending_marker(p)  # new writer asserts intent
        orig_clear(p, token)

    lay_clear = lay._clear_pending_marker
    try:
        lay._clear_pending_marker = swap_then_clear
        layout.rebuild_histogram(spark, path)
    finally:
        lay._clear_pending_marker = lay_clear
    # the new writer's marker must still be present
    assert layout.layout_is_pending(path)


def test_budget_guard_exact_boundary(spark, model, codes):
    """The snapshot budget at its exact limit: loading precisely max_rows
    succeeds, one more row over (via add_codes) raises BEFORE any collect
    — the guard is conservative (checks incoming+existing, pre-dedup)."""
    n = codes.count()
    s = ServingSearcher(model, max_rows=n).load_codes(codes)
    assert s.n_items == n
    with pytest.raises(ValueError, match="serving replica budget"):
        s.add_codes(codes.limit(1))


def test_sharded_router_equals_single_replica(spark, model, codes, queries_np):
    """The scale-out recipe implemented: cell-range shards behind a router
    must answer EVERY query identically to one replica holding the whole
    index — ADC path and rerank path (shortlist fetch_vectors) alike —
    because the router plans the multisequence traversal on the merged
    histogram, not per-shard."""
    from columbiaimagesearch_spark.lopq.serving import ShardedServingRouter
    from columbiaimagesearch_spark.sources import load_table

    single = ServingSearcher(model).load_codes(codes)
    n = codes.count()
    router = ShardedServingRouter.build(
        model, codes, n_shards=4, max_rows_per_shard=n  # each shard < total
    )
    assert router.n_items == n
    assert len(router.shards) == 4
    sizes = [s.n_items for _, _, s in router.shards]
    assert all(sz < n for sz in sizes), sizes  # genuinely sharded
    # histogram-mass split: no shard more than ~2x the ideal share
    assert max(sizes) <= 2 * (n // 4 + 1), sizes

    vec_map = {
        int(r["vec_id"]): np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }

    def fetch(ids):
        return np.stack([vec_map[int(i)] for i in ids])

    for qid, q in queries_np:
        got = router.search(q, quota=QUOTA, k=TOP_K)
        want = single.search(q, quota=QUOTA, k=TOP_K)
        assert got == want, f"ADC path diverged for qid={qid}"
        got_rr = router.search(q, quota=QUOTA, k=TOP_K, rerank_nb=40,
                               fetch_vectors=fetch)
        want_rr = single.search(q, quota=QUOTA, k=TOP_K, rerank_nb=40,
                                fetch_vectors=fetch)
        assert got_rr == want_rr, f"rerank path diverged for qid={qid}"


def test_router_equals_replica_on_skewed_cells(spark, model, codes, queries_np):
    """The Zipf-skew scenario the r7 bench measures for LATENCY
    (serving_skew_ms), pinned here for CORRECTNESS: with ~10% of all rows
    remapped into the naturally hottest cell, the cumulative-mass split
    concentrates that cell on one shard — answers must still equal a
    single whole-index replica's exactly (the router plans the traversal
    on the merged histogram, so a fat cell changes load, never results)."""
    from columbiaimagesearch_spark.lopq.serving import ShardedServingRouter

    base = ServingSearcher(model).load_codes(codes)
    hot = int(max(base.cell_counts, key=base.cell_counts.get))
    skewed = codes.withColumn(
        "cell",
        F.when(F.col("id") % 10 == 7, F.lit(hot)).otherwise(F.col("cell")),
    )
    single = ServingSearcher(model).load_codes(skewed)
    assert single.cell_counts[hot] > base.cell_counts[hot]
    router = ShardedServingRouter.build(
        model, skewed, n_shards=4, max_rows_per_shard=single.n_items
    )
    assert router.n_items == single.n_items
    for qid, q in queries_np:
        got = router.search(q, quota=QUOTA, k=TOP_K)
        want = single.search(q, quota=QUOTA, k=TOP_K)
        assert got == want, f"skewed ADC path diverged for qid={qid}"


def test_from_replica_resharding_identical(spark, model, codes):
    """from_replica re-shards a LIVE replica in memory: same ranges as
    build() on the same populations, zero re-read, identical answers on
    both the ADC and rerank paths, and resident vectors route to the
    shard owning their cell."""
    from columbiaimagesearch_spark.lopq.serving import ShardedServingRouter
    from columbiaimagesearch_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    single = ServingSearcher(model).load_codes(codes).load_vectors(emb)
    built = ShardedServingRouter.build(model, codes, n_shards=4)
    resharded = ShardedServingRouter.from_replica(single, 4)
    # a TIGHTLY-capped source replica must not pass its cap to the shards
    # (build's shards default to MAX_SNAPSHOT_ROWS; from_replica matches,
    # or the very next add would spuriously hit the inherited budget)
    from columbiaimagesearch_spark.lopq.serving import MAX_SNAPSHOT_ROWS

    tight = ServingSearcher(model, max_rows=single.n_items).load_codes(codes)
    for _lo, _hi, s in ShardedServingRouter.from_replica(tight, 4).shards:
        assert s.max_rows == MAX_SNAPSHOT_ROWS
    assert [(lo, hi) for lo, hi, _ in resharded.shards] == [
        (lo, hi) for lo, hi, _ in built.shards
    ]
    assert resharded.n_items == single.n_items
    # vectors landed on exactly the shard owning their cell
    total_vecs = sum(
        len(getattr(s, "_vectors", {})) for _, _, s in resharded.shards
    )
    assert total_vecs == len(single._vectors)

    qs = [
        np.array(r["embedding"], dtype=np.float64)
        for r in emb.where(F.col("vec_id") < 4).select("embedding").collect()
    ]
    for q in qs:
        assert resharded.search(q, quota=QUOTA, k=TOP_K) == single.search(
            q, quota=QUOTA, k=TOP_K
        )
        got_rr = resharded.search(
            q, quota=QUOTA, k=TOP_K, rerank_nb=40,
            fetch_vectors=resharded.resident_vectors,
        )
        want_rr = single.search(
            q, quota=QUOTA, k=TOP_K, rerank_nb=40,
            fetch_vectors=single.resident_vectors,
        )
        assert got_rr == want_rr


def test_sharded_router_respects_per_shard_budget(spark, model, codes):
    """Each shard's replica enforces its own budget: a per-shard cap below
    the largest shard's mass raises the standard budget error."""
    from columbiaimagesearch_spark.lopq.serving import ShardedServingRouter

    n = codes.count()
    with pytest.raises(ValueError, match="serving replica budget"):
        ShardedServingRouter.build(model, codes, n_shards=2,
                                   max_rows_per_shard=n // 4)


def test_sharded_router_add_codes_all_or_nothing(spark, model, codes):
    """router.add_codes checks EVERY shard's budget before ANY shard
    admits: a batch that would overflow one shard leaves the whole router
    untouched — no partial admit whose ids the caller's metadata never
    learned about (a mid-loop raise used to corrupt the service
    permanently)."""
    from columbiaimagesearch_spark.lopq.serving import ShardedServingRouter

    first = codes.where(F.col("id") < 250)
    rest = codes.where(F.col("id") >= 250)
    n_first = first.count()
    router = ShardedServingRouter.build(model, first, n_shards=2)
    for _lo, _hi, s in router.shards:
        # headroom fits only a few more rows per shard, so `rest` must
        # overflow at least one shard
        s.max_rows = s.n_items + 5
    before = {
        (lo, hi): s.n_items for lo, hi, s in router.shards
    }
    with pytest.raises(ValueError, match="serving replica budget"):
        router.add_codes(rest)
    after = {(lo, hi): s.n_items for lo, hi, s in router.shards}
    assert after == before  # NOTHING admitted anywhere
    assert router.n_items == n_first


def test_fat_cell_slices_across_distinct_shards(spark, model, codes, queries_np):
    """A Zipf-fat cell must actually SPLIT (r8, VERDICT r7 #4): the planner
    slices it by id-mod across distinct shards so per-query work on the hot
    cell divides too — and build/from_replica agree on the slicing, answers
    stay identical to one replica, and add_codes routes new rows of a split
    cell to exactly one slice owner."""
    from columbiaimagesearch_spark.lopq.serving import ShardedServingRouter

    base = ServingSearcher(model).load_codes(codes)
    hot = int(max(base.cell_counts, key=base.cell_counts.get))
    first = codes.where(F.col("id") % 17 != 3)
    rest = codes.where(F.col("id") % 17 == 3)
    skewed_first = first.withColumn(
        "cell",
        F.when(F.col("id") % 10 == 7, F.lit(hot)).otherwise(F.col("cell")),
    )
    skewed_all = codes.withColumn(
        "cell",
        F.when(F.col("id") % 10 == 7, F.lit(hot)).otherwise(F.col("cell")),
    )
    single = ServingSearcher(model).load_codes(skewed_first)
    router = ShardedServingRouter.build(model, skewed_first, n_shards=4)

    # the hot cell engaged the slicer: distinct owners, every slice bounded
    # by ~the cell's share, total preserved
    assert hot in router._splits, router._splits
    owners = router._splits[hot]
    assert len(owners) >= 2 and len(set(owners)) == len(owners)
    hot_total = single.cell_counts[hot]
    slice_sizes = [
        router.shards[o][2].cell_counts.get(hot, 0) for o in set(owners)
    ]
    assert sum(slice_sizes) == hot_total
    # mixed-hash split: binomially balanced, not exact — 2x fair share is
    # many standard deviations out at any cell size
    assert max(slice_sizes) <= 2 * -(-hot_total // len(owners))
    assert router.n_items == single.n_items

    # from_replica plans the identical slicing from resident arrays
    resharded = ShardedServingRouter.from_replica(single, 4)
    assert resharded._splits == router._splits
    assert [(lo, hi) for lo, hi, _ in resharded.shards] == [
        (lo, hi) for lo, hi, _ in router.shards
    ]

    # answers identical to the whole-index replica through the split path
    for qid, q in queries_np:
        assert router.search(q, quota=QUOTA, k=TOP_K) == single.search(
            q, quota=QUOTA, k=TOP_K
        ), f"split ADC path diverged for qid={qid}"

    # incremental add into a split cell: each new row lands on exactly its
    # id-mod owner; router answers track a replica fed the same batch
    skewed_rest = rest.withColumn(
        "cell",
        F.when(F.col("id") % 10 == 7, F.lit(hot)).otherwise(F.col("cell")),
    )
    router.add_codes(skewed_rest)
    single.add_codes(skewed_rest)
    assert router.n_items == single.n_items
    m = len(owners)
    full = ServingSearcher(model).load_codes(skewed_all)
    from columbiaimagesearch_spark.lopq.serving import _slice_of_ids

    for j, o in enumerate(owners):
        ids, _f = router.shards[o][2]._cells[hot]
        assert (_slice_of_ids(ids, m) == j).all()
    assert sum(
        router.shards[o][2].cell_counts.get(hot, 0) for o in set(owners)
    ) == full.cell_counts[hot]
    for qid, q in queries_np:
        assert router.search(q, quota=QUOTA, k=TOP_K) == single.search(
            q, quota=QUOTA, k=TOP_K
        ), f"post-add split path diverged for qid={qid}"


def test_router_single_cell_degenerate(spark, model, codes, queries_np):
    """Degenerate histogram: EVERY row forced into one cell. The planner
    slices it across all shards, pads the tail ranges, and the router must
    still answer exactly like a whole-index replica (the pad path and the
    all-mass-split walk are otherwise never exercised)."""
    from columbiaimagesearch_spark.lopq.serving import ShardedServingRouter

    one_cell = codes.withColumn("cell", F.lit(3))
    single = ServingSearcher(model).load_codes(one_cell)
    router = ShardedServingRouter.build(model, one_cell, n_shards=4)
    assert router.n_items == single.n_items
    assert 3 in router._splits and len(set(router._splits[3])) >= 2
    assert len(router.shards) == 4
    for qid, q in queries_np:
        assert router.search(q, quota=QUOTA, k=TOP_K) == single.search(
            q, quota=QUOTA, k=TOP_K
        ), f"degenerate single-cell path diverged for qid={qid}"


def test_split_owner_lists_rotate_across_cells():
    """ADVICE r8: multiple split cells with the same m must land their
    slices on DIFFERENT shard sets — without rotation every owner list
    starts at shard 0, so shard 0 owns a slice of EVERY split cell and a
    query visiting several split cells concentrates its work there."""
    from columbiaimagesearch_spark.lopq.serving import _plan_shard_claims

    # two fat cells (each > per_shard/4 of the total), same mass -> same m
    hist = [(1, 4000), (2, 4000), (3, 100), (4, 100)]
    _ranges, splits = _plan_shard_claims(hist, n_shards=8, last_cell=15)
    assert set(splits) == {1, 2}
    a, b = splits[1], splits[2]
    assert len(set(a)) == len(a) and len(set(b)) == len(b)  # distinct owners
    assert a != b, "owner lists must rotate across split cells"
    # first slices of the two cells on different shards
    assert a[0] != b[0]


def test_split_slice_stats_telemetry(spark, model, codes):
    """The CELL_SLICE_FACTOR cap telemetry: a single-cell degenerate
    index caps m at n_shards; split_slice_stats must say so and report
    the residual slice size (~rows/n_shards)."""
    from columbiaimagesearch_spark.lopq.serving import ShardedServingRouter

    one_cell = codes.withColumn("cell", F.lit(3))
    router = ShardedServingRouter.build(model, one_cell, n_shards=4)
    stats = router.split_slice_stats
    assert stats["split_cells"] == 1
    assert stats["capped_split_cells"] == 1  # m hit n_shards
    n = codes.count()
    assert 0 < stats["max_slice_rows"] <= n  # residual, visible
    # roughly even slices: no slice more than 2x the fair share
    assert stats["max_slice_rows"] <= 2 * (n // 4 + 1)


def test_forked_pool_matches_sequential_router(
    spark, model, codes, queries_np, workers_only
):
    """ForkedRouterPool (process-parallel fan-out, COW-shared arrays,
    k-sized replies) must answer EXACTLY like the sequential router —
    including through split cells (the skew path it exists to serve)."""
    from columbiaimagesearch_spark.lopq.serving import (
        ForkedRouterPool,
        ServingSearcher,
        ShardedServingRouter,
    )

    # skew a slice of rows into the hottest cell so splits exist
    single = ServingSearcher(model).load_codes(codes)
    hot = int(max(single.cell_counts, key=single.cell_counts.get))
    skewed = codes.withColumn(
        "cell",
        F.when(F.col("id") % 3 == 1, F.lit(hot)).otherwise(F.col("cell")),
    )
    router = ShardedServingRouter.build(model, skewed, n_shards=4)
    assert router._splits, "fixture must exercise the split path"
    with ForkedRouterPool(router) as pool:
        for qid, q in queries_np:
            assert pool.search(q, quota=QUOTA, k=TOP_K) == router.search(
                q, quota=QUOTA, k=TOP_K
            ), f"forked pool diverged for qid={qid}"
    # pool is closed; workers are gone
    assert not pool._procs


def test_forked_pool_rerank_matches_sequential_router(
    spark, model, codes, queries_np, workers_only
):
    """Pool rerank (workers reply local top-max(k, rerank_nb); parent
    merges, fetches resident vectors, exact-sorts) must equal the
    sequential router's rerank path tuple-for-tuple."""
    from columbiaimagesearch_spark.lopq.serving import (
        ForkedRouterPool,
        ShardedServingRouter,
    )
    from columbiaimagesearch_spark.sources import load_table

    router = ShardedServingRouter.build(model, codes, n_shards=4)
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    id_cells = {
        int(r["id"]): int(r["cell"])
        for r in codes.select("id", "cell").collect()
    }
    rows = [r for r in emb.collect() if int(r["vec_id"]) in id_cells]
    router.put_vectors(
        [int(r["vec_id"]) for r in rows],
        [r["embedding"] for r in rows],
        [id_cells[int(r["vec_id"])] for r in rows],
    )
    with ForkedRouterPool(router) as pool:
        for qid, q in queries_np:
            want = router.search(
                q, quota=QUOTA, k=TOP_K, rerank_nb=4 * TOP_K,
                fetch_vectors=router.resident_vectors,
            )
            got = pool.search(
                q, quota=QUOTA, k=TOP_K, rerank_nb=4 * TOP_K,
                fetch_vectors=router.resident_vectors,
            )
            assert got == want, f"pool rerank diverged for qid={qid}"


def test_forked_pool_concurrent_queries_serialize_correctly(
    spark, model, codes, queries_np
):
    """The HTTP layer answers from a pool of accept threads
    (``http_api.SERVER_THREADS``), each serving its connection start to
    finish, so concurrent threads WILL call pool.search simultaneously —
    each caller holds its own slot and reads its own reply pipes, so
    replies must reach exactly the query that sent them. One slot per
    accept thread; callers beyond the slots wait for a free one. Hammer
    the pool from more threads than slots and check every answer against
    the sequential router."""
    import threading

    from columbiaimagesearch_spark import http_api
    from columbiaimagesearch_spark.lopq.serving import (
        ForkedRouterPool,
        ShardedServingRouter,
    )

    assert ForkedRouterPool.SLOTS == http_api.SERVER_THREADS
    router = ShardedServingRouter.build(model, codes, n_shards=4)
    want = {qid: router.search(q, quota=QUOTA, k=TOP_K) for qid, q in queries_np}
    errors: list = []
    with ForkedRouterPool(router) as pool:

        def worker():
            try:
                for _ in range(2):
                    for qid, q in queries_np:
                        got = pool.search(q, quota=QUOTA, k=TOP_K)
                        if got != want[qid]:
                            errors.append((qid, got[:2], want[qid][:2]))
            except Exception as e:  # noqa: BLE001 - surface to main thread
                errors.append(repr(e))

        threads = [
            threading.Thread(target=worker) for _ in range(2 * pool.SLOTS + 3)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads), "a caller never finished"
        assert not pool._broken
    assert not errors, errors[:3]


def _touching(router, queries_np, shard: int):
    """The first fixture query whose plan sends cells to ``shard``."""
    return next(
        q for _qid, q in queries_np
        if shard in router.plan_fanout(q, QUOTA)[1]
    )


def test_forked_pool_worker_death_is_fatal(
    spark, model, codes, queries_np, workers_only
):
    """A mid-protocol failure must be FATAL to the pool — a
    desynced pipe can never serve another query. Kill one worker; the
    next query touching it raises PoolBrokenError (never a silently
    partial answer), and the pool keeps refusing afterwards."""
    from columbiaimagesearch_spark.lopq.serving import (
        ForkedRouterPool,
        PoolBrokenError,
        ShardedServingRouter,
    )

    router = ShardedServingRouter.build(model, codes, n_shards=4)
    pool = ForkedRouterPool(router)
    try:
        q = _touching(router, queries_np, 0)
        assert pool.search(q, quota=QUOTA, k=TOP_K) == router.search(
            q, quota=QUOTA, k=TOP_K
        )
        pool._procs[0].kill()
        pool._procs[0].join()
        with pytest.raises(PoolBrokenError):
            pool.search(q, quota=QUOTA, k=TOP_K)
        assert pool._broken, "worker death never marked the pool broken"
        for _ in range(3):
            with pytest.raises(PoolBrokenError):
                pool.search(queries_np[0][1], quota=QUOTA, k=TOP_K)
    finally:
        pool.close()
    with pytest.raises(PoolBrokenError):
        pool.search(queries_np[0][1], quota=QUOTA, k=TOP_K)


def test_forked_pool_close_terminates_stragglers(spark, model, codes):
    """close() must not leave a stuck worker COW-holding the
    index. SIGSTOP one worker (it can neither drain the sentinel nor
    exit); close() must escalate to terminate/kill and return with every
    worker dead."""
    import os
    import signal

    from columbiaimagesearch_spark.lopq.serving import (
        ForkedRouterPool,
        ShardedServingRouter,
    )

    router = ShardedServingRouter.build(model, codes, n_shards=4)
    pool = ForkedRouterPool(router)
    pool.JOIN_GRACE_S = 0.2  # don't wait the production grace in a test
    victim = pool._procs[0]
    os.kill(victim.pid, signal.SIGSTOP)
    pool.close()
    assert not victim.is_alive(), "close() left a stopped worker running"
    assert not pool._procs


def test_forked_pool_close_race_raises_pool_broken(spark, model, codes, queries_np):
    """close() empties the pool's descriptor lists — a search()
    racing close() must not index them and leak an IndexError (or write to
    a closed descriptor) outside the documented PoolBrokenError contract.
    Pin the contract: once close() ran (even if _broken were somehow still
    False with the descriptors gone), search raises PoolBrokenError."""
    from columbiaimagesearch_spark.lopq.serving import (
        ForkedRouterPool,
        PoolBrokenError,
        ShardedServingRouter,
    )

    router = ShardedServingRouter.build(model, codes, n_shards=2)
    pool = ForkedRouterPool(router)
    pool.close()
    assert not pool._req_fds and not pool._reply_fds
    # simulate the mid-close interleaving: descriptors already closed but
    # the broken flag not yet observed by the caller
    pool._broken = False
    q = queries_np[0][1]
    with pytest.raises(PoolBrokenError):
        pool.search(q, quota=QUOTA, k=TOP_K)


def test_forked_pool_close_survives_full_pipe_buffer(spark, model, codes):
    """A blocking shutdown send to a wedged (SIGSTOPped) worker
    whose request pipe is FULL would block close() forever, never reaching
    the terminate/kill escalation built for exactly that worker. Fill the
    victim's request pipe to the brim, then close(): it must return
    promptly with every worker dead."""
    import os
    import signal
    import time as _time

    from columbiaimagesearch_spark.lopq.serving import (
        ForkedRouterPool,
        ShardedServingRouter,
    )

    router = ShardedServingRouter.build(model, codes, n_shards=2)
    pool = ForkedRouterPool(router)
    pool.JOIN_GRACE_S = 0.2
    victim = pool._procs[0]
    os.kill(victim.pid, signal.SIGSTOP)
    fd = pool._req_fds[0]  # non-blocking: a full pipe raises, never waits
    junk = b"x" * 65536
    for _ in range(1024):  # O/S pipe buffer is ~64KiB-1MiB; stop when full
        try:
            os.write(fd, junk)
        except BlockingIOError:
            break
    else:
        pytest.skip("could not fill the pipe buffer")
    t0 = _time.time()
    pool.close()
    elapsed = _time.time() - t0
    assert not victim.is_alive(), "close() left the wedged worker running"
    assert elapsed < 10, f"close() blocked {elapsed:.1f}s on a full pipe"


def _resume_after(pid: int, delay_s: float):
    import os
    import signal
    import threading

    t = threading.Timer(delay_s, os.kill, (pid, signal.SIGCONT))
    t.start()
    return t


def test_forked_pool_late_complete_answer_not_marked_broken(
    spark, model, codes, queries_np, workers_only
):
    """A slow worker whose reply lands before the deadline
    must NOT tear down a healthy pool. Hold one worker stopped for most of
    a short deadline, then let it answer: the query returns the complete
    router-equal answer, the pool is not broken, and it keeps serving."""
    import os
    import signal

    from columbiaimagesearch_spark.lopq import serving as srv

    router = srv.ShardedServingRouter.build(model, codes, n_shards=2)
    pool = srv.ForkedRouterPool(router)
    pool.REPLY_TIMEOUT_S = 20.0
    try:
        q = _touching(router, queries_np, 0)
        want = router.search(q, quota=QUOTA, k=TOP_K)
        os.kill(pool._procs[0].pid, signal.SIGSTOP)
        resume = _resume_after(pool._procs[0].pid, 0.5)
        assert pool.search(q, quota=QUOTA, k=TOP_K) == want
        resume.join()
        assert not pool._broken
        assert pool.search(q, quota=QUOTA, k=TOP_K) == want
    finally:
        pool.close()


def test_forked_pool_deadline_fixed_under_slot_backlog(
    spark, model, codes, queries_np, monkeypatch, workers_only
):
    """A wedged worker must be detected within a bounded time
    however deep the backlog. The deadline is REPLY_TIMEOUT_S from each
    query's start, never scaled by queue depth (a query queues behind at
    most SLOTS - 1 others). And a healthy pool survives a slot-full
    backlog: with one worker held stopped, more callers than slots pile
    up, and once it resumes every caller gets the router's answer."""
    import os
    import signal
    import threading

    from columbiaimagesearch_spark.lopq import serving as srv

    router = srv.ShardedServingRouter.build(model, codes, n_shards=2)
    pool = srv.ForkedRouterPool(router)
    pool.REPLY_TIMEOUT_S = 30.0
    budgets = []
    real_wait = srv._wait_fd

    def recording_wait(fd, events, deadline):
        budgets.append(deadline - srv.time.monotonic())
        return real_wait(fd, events, deadline)

    monkeypatch.setattr(srv, "_wait_fd", recording_wait)
    q = _touching(router, queries_np, 0)
    want = router.search(q, quota=QUOTA, k=TOP_K)
    results, errors = [], []

    def caller():
        try:
            results.append(pool.search(q, quota=QUOTA, k=TOP_K))
        except Exception as e:  # noqa: BLE001 - surface to main thread
            errors.append(repr(e))

    try:
        os.kill(pool._procs[0].pid, signal.SIGSTOP)
        threads = [threading.Thread(target=caller) for _ in range(pool.SLOTS + 4)]
        for t in threads:
            t.start()
        resume = _resume_after(pool._procs[0].pid, 1.0)
        for t in threads:
            t.join(timeout=60)
        resume.join()
        assert not any(t.is_alive() for t in threads), "a caller never finished"
        assert not errors, errors[:3]
        assert results == [want] * len(threads)
        assert not pool._broken
        assert budgets and max(budgets) <= pool.REPLY_TIMEOUT_S
    finally:
        pool.close()


def test_forked_pool_stopped_worker_fails_within_deadline(
    spark, model, codes, queries_np, monkeypatch, workers_only
):
    """A wedged (SIGSTOPped) worker fails the query touching it with
    PoolBrokenError once REPLY_TIMEOUT_S has passed — not later — and the
    pool refuses every later query."""
    import os
    import signal
    import time as _time

    from columbiaimagesearch_spark.lopq import serving as srv

    monkeypatch.setattr(srv.ForkedRouterPool, "REPLY_TIMEOUT_S", 0.5)
    router = srv.ShardedServingRouter.build(model, codes, n_shards=2)
    pool = srv.ForkedRouterPool(router)
    pool.JOIN_GRACE_S = 0.2
    try:
        q = _touching(router, queries_np, 0)
        os.kill(pool._procs[0].pid, signal.SIGSTOP)
        t0 = _time.monotonic()
        with pytest.raises(srv.PoolBrokenError):
            pool.search(q, quota=QUOTA, k=TOP_K)
        assert 0.5 <= _time.monotonic() - t0 < 5
        with pytest.raises(srv.PoolBrokenError):
            pool.search(queries_np[0][1], quota=QUOTA, k=TOP_K)
    finally:
        pool.close()


def test_forked_pool_replies_larger_than_pipe_buffer(
    monkeypatch, workers_only
):
    """Requests and replies both bigger than what a pipe buffers: a query
    visiting every one of 4096 cells sends each shard ~10 KB of cells, so
    callers in all SLOTS fill the request pipes, and a 6000-candidate
    local shortlist (rerank_nb > 4096, 16 bytes each) blocks its worker
    until the caller reads it. Every caller must finish — the ascending
    send / descending read order leaves no wait cycle — and equal the
    router."""
    import threading

    import pyarrow as pa

    from columbiaimagesearch_spark.functions.arrow_vec import column
    from columbiaimagesearch_spark.lopq import serving as srv
    from test_lopq import _random_lopq

    monkeypatch.setattr(srv.ForkedRouterPool, "REPLY_TIMEOUT_S", 20.0)
    n, D, V = 24_000, 32, 64
    rng = np.random.RandomState(11)
    replica = ServingSearcher(_random_lopq(D, 16, V, 32, seed=3)).load_codes(
        pa.table({
            "cell": rng.randint(0, V * V, n),
            "id": np.arange(n),
            "fine": column(rng.randint(0, 32, (n, 16))),
        })
    )
    replica.put_vectors(np.arange(n), rng.randn(n, D))
    router = srv.ShardedServingRouter.from_replica(replica, 3)
    kw = dict(quota=n, k=TOP_K, rerank_nb=6000,
              fetch_vectors=router.resident_vectors)
    qs = rng.randn(4, D)
    want = [router.search(q, **kw) for q in qs]
    errors: list = []
    with srv.ForkedRouterPool(router) as pool:

        def worker(j):
            try:
                for i in range(len(qs)):
                    got = pool.search(qs[(i + j) % len(qs)], **kw)
                    if got != want[(i + j) % len(qs)]:
                        errors.append(j)
            except Exception as e:  # noqa: BLE001 - surface to main thread
                errors.append(repr(e))

        threads = [
            threading.Thread(target=worker, args=(j,)) for j in range(pool.SLOTS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads), "pool deadlocked"
        assert not pool._broken
    assert not errors, errors[:3]


def _open_fds() -> int:
    import os

    return len(os.listdir("/proc/self/fd"))


def test_forked_pool_close_restores_fds_and_threads(
    spark, model, codes, queries_np, workers_only
):
    """The pool keeps no threads of its own, and close() returns every
    descriptor it opened: the parent's open files and threads are back at
    their baseline afterwards, also after a broken pool."""
    import threading

    from columbiaimagesearch_spark.lopq.serving import (
        ForkedRouterPool,
        PoolBrokenError,
        ShardedServingRouter,
    )

    router = ShardedServingRouter.build(model, codes, n_shards=4)
    fds, threads = _open_fds(), threading.active_count()
    pool = ForkedRouterPool(router)
    assert threading.active_count() == threads
    assert _open_fds() > fds
    for _qid, q in queries_np:
        pool.search(q, quota=QUOTA, k=TOP_K)
    pool.close()
    assert (_open_fds(), threading.active_count()) == (fds, threads)

    pool = ForkedRouterPool(router)
    q = _touching(router, queries_np, 0)
    pool._procs[0].kill()
    pool._procs[0].join()
    with pytest.raises(PoolBrokenError):
        pool.search(q, quota=QUOTA, k=TOP_K)
    pool.close()
    assert (_open_fds(), threading.active_count()) == (fds, threads)


# -- the pool's local route ---------------------------------------------------


def _rerank_router(spark, model, codes, n_shards: int = 4):
    """A router over the fixture codes, skewed so fat cells split, with
    every item's rerank vector resident."""
    from columbiaimagesearch_spark.lopq.serving import ShardedServingRouter
    from columbiaimagesearch_spark.sources import load_table

    single = ServingSearcher(model).load_codes(codes)
    hot = int(max(single.cell_counts, key=single.cell_counts.get))
    skewed = codes.withColumn(
        "cell",
        F.when(F.col("id") % 3 == 1, F.lit(hot)).otherwise(F.col("cell")),
    )
    router = ShardedServingRouter.build(model, skewed, n_shards=n_shards)
    id_cells = {
        int(r["id"]): int(r["cell"])
        for r in skewed.select("id", "cell").collect()
    }
    rows = [
        r for r in load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding").collect()
        if int(r["vec_id"]) in id_cells
    ]
    router.put_vectors(
        [int(r["vec_id"]) for r in rows],
        [r["embedding"] for r in rows],
        [id_cells[int(r["vec_id"])] for r in rows],
    )
    return router


def _count_fanouts(monkeypatch) -> list[str]:
    """Names of the threads whose pool queries took a caller slot, i.e.
    went to the workers."""
    import threading

    from columbiaimagesearch_spark.lopq.serving import ForkedRouterPool

    taken: list[str] = []
    real = ForkedRouterPool._take_slot

    def take(self):
        taken.append(threading.current_thread().name)
        return real(self)

    monkeypatch.setattr(ForkedRouterPool, "_take_slot", take)
    return taken


def test_forked_pool_local_route_matches_router(
    spark, model, codes, queries_np, monkeypatch
):
    """A plan within LOCAL_MAX_ROWS on an idle pool is scored in the
    calling thread — no slot taken, no worker asked — and answers bitwise
    equal to the router, ADC and rerank alike, through split cells."""
    from columbiaimagesearch_spark.lopq.serving import ForkedRouterPool

    router = _rerank_router(spark, model, codes)
    assert router._splits, "fixture must exercise the split path"
    rows = [router.plan_fanout(q, QUOTA)[2] for _qid, q in queries_np]
    monkeypatch.setattr(ForkedRouterPool, "LOCAL_MAX_ROWS", max(rows))
    taken = _count_fanouts(monkeypatch)
    rr = dict(rerank_nb=4 * TOP_K, fetch_vectors=router.resident_vectors)
    with ForkedRouterPool(router) as pool:
        for qid, q in queries_np:
            assert pool.search(q, quota=QUOTA, k=TOP_K) == router.search(
                q, quota=QUOTA, k=TOP_K
            ), f"local ADC route diverged for qid={qid}"
            assert pool.search(q, quota=QUOTA, k=TOP_K, **rr) == router.search(
                q, quota=QUOTA, k=TOP_K, **rr
            ), f"local rerank route diverged for qid={qid}"
        assert pool._busy == 0 and not pool._local_lock.locked()
    assert taken == []


def test_forked_pool_plan_over_bound_fans_out(
    spark, model, codes, queries_np, monkeypatch
):
    """The bound is on the plan's rows, inclusive: a plan of exactly
    LOCAL_MAX_ROWS rows is scored locally, one row more fans out to the
    workers; both answer like the router."""
    from columbiaimagesearch_spark.lopq.serving import ForkedRouterPool

    router = _rerank_router(spark, model, codes)
    q = queries_np[0][1]
    rows = router.plan_fanout(q, QUOTA)[2]
    want = router.search(q, quota=QUOTA, k=TOP_K)
    taken = _count_fanouts(monkeypatch)
    with ForkedRouterPool(router) as pool:
        monkeypatch.setattr(ForkedRouterPool, "LOCAL_MAX_ROWS", rows)
        assert pool.search(q, quota=QUOTA, k=TOP_K) == want
        assert taken == []
        monkeypatch.setattr(ForkedRouterPool, "LOCAL_MAX_ROWS", rows - 1)
        assert pool.search(q, quota=QUOTA, k=TOP_K) == want
        assert len(taken) == 1


def test_forked_pool_second_concurrent_caller_fans_out(
    spark, model, codes, queries_np, monkeypatch
):
    """While one query scores locally the pool is busy: a second caller
    fans out to the workers instead of scoring beside it, and so does a
    caller that finds the in-process scoring lock held (the service's
    in-process fallback holds it). Both answer like the router."""
    import threading

    from columbiaimagesearch_spark.lopq.serving import ForkedRouterPool

    router = _rerank_router(spark, model, codes)
    monkeypatch.setattr(ForkedRouterPool, "LOCAL_MAX_ROWS", 10**9)
    (_qa, qa), (_qb, qb) = queries_np[:2]
    want_a = router.search(qa, quota=QUOTA, k=TOP_K)
    want_b = router.search(qb, quota=QUOTA, k=TOP_K)
    lock = threading.Lock()
    with ForkedRouterPool(router, lock=lock) as pool:
        taken = _count_fanouts(monkeypatch)
        inside, release = threading.Event(), threading.Event()
        real_score = ServingSearcher.score_cells

        def score(self, q, cells):
            if threading.current_thread().name == "first":
                inside.set()
                release.wait(30)
            return real_score(self, q, cells)

        monkeypatch.setattr(ServingSearcher, "score_cells", score)
        got_a: list = []
        first = threading.Thread(
            name="first",
            target=lambda: got_a.append(pool.search(qa, quota=QUOTA, k=TOP_K)),
        )
        first.start()
        try:
            assert inside.wait(30), "first query never scored locally"
            assert pool.search(qb, quota=QUOTA, k=TOP_K) == want_b
            assert taken == [threading.current_thread().name]
        finally:
            release.set()
            first.join(30)
        assert got_a == [want_a] and taken == [threading.current_thread().name]
        with lock:
            assert pool.search(qb, quota=QUOTA, k=TOP_K) == want_b
        assert len(taken) == 2
        assert pool.search(qb, quota=QUOTA, k=TOP_K) == want_b
        assert len(taken) == 2  # idle again: local
        assert pool._busy == 0 and not lock.locked()


def test_router_histogram_swapped_whole_under_concurrent_add(monkeypatch):
    """A plan that reads the merged histogram while add_codes runs must not
    leave a half-updated histogram behind. Interleave deterministically: a
    reader that would merge shard 0's counts before an add and shard 1's
    after it stores nothing — writers publish the whole histogram and
    every later plan sees the true merge."""
    import threading
    import time as _time

    import pyarrow as pa

    from columbiaimagesearch_spark.functions.arrow_vec import column
    from columbiaimagesearch_spark.lopq import serving as srv
    from test_lopq import _random_lopq

    rng = np.random.RandomState(7)

    def batch(ids):
        return pa.table({
            "cell": rng.randint(0, 64, len(ids)),
            "id": np.asarray(ids, dtype=np.int64),
            "fine": column(rng.randint(0, 32, (len(ids), 16))),
        })

    replica = ServingSearcher(_random_lopq(32, 16, 8, 32, seed=3))
    replica.load_codes(batch(range(2000)))
    router = srv.ShardedServingRouter.from_replica(replica, 2)
    shard1 = router.shards[1][2]
    real = ServingSearcher.cell_counts
    reached, release = threading.Event(), threading.Event()

    def counts(self):
        if self is shard1 and threading.current_thread().name == "reader":
            reached.set()
            release.wait(30)
        return real.fget(self)

    monkeypatch.setattr(ServingSearcher, "cell_counts", property(counts))
    reader = threading.Thread(name="reader", target=router._global_counts)
    reader.start()
    end = _time.monotonic() + 30
    while not reached.is_set() and reader.is_alive():
        assert _time.monotonic() < end
        _time.sleep(0.01)
    incoming = batch(range(2000, 2600))
    assert all(
        (router._owners(np.asarray(incoming.column("cell")),
                        np.asarray(incoming.column("id"))) == i).any()
        for i in (0, 1)
    ), "the add must touch both shards"
    router.add_codes(incoming)
    release.set()
    reader.join(30)
    truth: dict[int, int] = {}
    for _lo, _hi, s in router.shards:
        for c, (ids, _f) in s._cells.items():
            truth[c] = truth.get(c, 0) + len(ids)
    assert router._global_counts() == truth
    assert sum(truth.values()) == 2600
