"""Numeric-oracle tests for the LOPQ pipeline (FIXTURES.md §B4/B5 contract).

The pure-numpy LOPQModel is the oracle; Spark-side encode/search must agree
with it, and retrieval quality must clear fixed floors vs brute force.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from columbiaimagesearch_spark.lopq import queries as lq
from columbiaimagesearch_spark.lopq.encode import encode_dataframe
from columbiaimagesearch_spark.lopq.eval import brute_force_topk, recall_at_k
from columbiaimagesearch_spark.lopq.model import LOPQModel, eigenvalue_allocation, kmeans
from columbiaimagesearch_spark.lopq.search import multisequence_cells, search
from columbiaimagesearch_spark.sources import load_table

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb_np(spark):
    rows = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, X


@pytest.fixture(scope="module")
def model(emb_np):
    _, X = emb_np
    return LOPQModel.fit(X, **lq.FIXTURE_PARAMS)


def test_kmeans_deterministic():
    rng = np.random.RandomState(0)
    X = rng.randn(300, 8)
    c1, a1 = kmeans(X, 7, seed=42)
    c2, a2 = kmeans(X, 7, seed=42)
    assert np.array_equal(c1, c2) and np.array_equal(a1, a2)
    # every cluster non-empty
    assert len(np.unique(a1)) == 7


def test_eigenvalue_allocation_balances():
    eigvals = np.array([100.0, 50.0, 10.0, 5.0, 2.0, 1.0, 0.5, 0.1])
    perm = eigenvalue_allocation(eigvals, 2)
    assert sorted(perm) == list(range(8))
    b1, b2 = np.log(eigvals[perm[:4]]).sum(), np.log(eigvals[perm[4:]]).sum()
    # balanced log-variance: buckets within a reasonable gap
    assert abs(b1 - b2) < np.log(eigvals).std() * 4


def test_rotations_are_orthonormal(model):
    for h in range(2):
        for v in range(model.V):
            R = model.Rs[h, v]
            assert np.allclose(R @ R.T, np.eye(model.half), atol=1e-8)


def test_encode_roundtrip_reduces_error(model, emb_np):
    _, X = emb_np
    coarse, fine = model.encode(X)
    X_hat = model.reconstruct(coarse, fine)
    err = np.linalg.norm(X - X_hat, axis=1)
    base = np.linalg.norm(X, axis=1)
    # quantization must recover most of the signal
    assert (err / base).mean() < 0.7
    # re-encoding the reconstruction is stable (eval.py:77-89 pattern)
    c2, f2 = model.encode(X_hat)
    agree = (c2 == coarse).all(axis=1).mean()
    assert agree > 0.95


def test_spark_encode_matches_numpy(spark, model, emb_np):
    ids, X = emb_np
    emb = load_table(spark, SF_SMOKE, "embeddings")
    got = {
        int(r["id"]): (r["c1"], r["c2"], r["cell"], tuple(r["fine"]))
        for r in encode_dataframe(spark, emb, model).collect()
    }
    coarse, fine = model.encode(X)
    cells = model.cell_id(coarse)
    for i, vid in enumerate(ids):
        c1, c2, cell, f = got[int(vid)]
        assert (c1, c2) == (coarse[i, 0], coarse[i, 1])
        assert cell == cells[i]
        assert f == tuple(fine[i])


def _per_table_adc(lut: np.ndarray, fine: np.ndarray) -> np.ndarray:
    """One table's ADC sums written out: ``lut[m, fine[:, m]]`` added left
    to right over m."""
    acc = lut[0][fine[:, 0]]
    for m in range(1, lut.shape[0]):
        acc = acc + lut[m][fine[:, m]]
    return acc


def test_adc_batch_dists_batch_shape_independent():
    """The shared ADC kernel must return BITWISE-identical distances for a
    row regardless of the batch it arrives in — the distributed path
    splits cells across Arrow batches while serving scores whole cells,
    and the serving ≡ batch ≡ twin identity rests on this. Singleton
    batches are the regression case: an (M, n).sum(axis=0) formulation
    collapses n=1 to a contiguous pairwise reduction and breaks it. With a
    stack of tables, every row equals the per-table loop over its own
    table, whichever other tables' rows share the call."""
    from columbiaimagesearch_spark.lopq.search import adc_batch_dists

    rng = np.random.RandomState(3)
    lut = rng.rand(8, 256)
    fine = rng.randint(0, 256, size=(1000, 8)).astype(np.int64)
    one = np.zeros(len(fine), dtype=np.int64)
    full = adc_batch_dists(lut[None], one, fine)
    assert np.array_equal(full, _per_table_adc(lut, fine))
    for sl in [slice(0, 1), slice(5, 6), slice(999, 1000), slice(0, 7),
               slice(100, 613)]:
        assert np.array_equal(
            adc_batch_dists(lut[None], one[sl], fine[sl]), full[sl]
        ), sl

    luts = rng.rand(5, 16, 32)
    fine = rng.randint(0, 32, size=(700, 16)).astype(np.int64)
    table = rng.randint(0, 5, size=700)  # interleaved, not grouped
    full = adc_batch_dists(luts, table, fine)
    want = np.empty(len(fine))
    for t in range(len(luts)):
        rows = table == t
        want[rows] = _per_table_adc(luts[t], fine[rows])
    assert np.array_equal(full, want)
    for sl in [slice(0, 1), slice(3, 4), slice(0, 9), slice(250, 700)]:
        assert np.array_equal(
            adc_batch_dists(luts, table[sl], fine[sl]), full[sl]
        ), sl
    assert adc_batch_dists(luts, table[:0], fine[:0]).shape == (0,)


def _random_lopq(D: int, M: int, V: int, K: int, seed: int) -> LOPQModel:
    """Untrained LOPQ parameters of the right shapes (orthonormal local
    rotations) — the table formula does not care how they were fit."""
    rng = np.random.RandomState(seed)
    half = D // 2
    Rs = np.stack([
        np.stack([np.linalg.qr(rng.randn(half, half))[0] for _ in range(V)])
        for _ in range(2)
    ])
    return LOPQModel(
        V=V, M=M, K=K, D=D, Cs=rng.randn(2, V, half), Rs=Rs,
        mus=0.1 * rng.randn(2, V, half), subs=rng.randn(M, K, D // M),
    )


def _textbook_lut(model: LOPQModel, q: np.ndarray, cell: int) -> np.ndarray:
    """The per-cell ADC table written out: project the query's residual
    w.r.t. this one cell, then one subquantizer row at a time."""
    coarse = np.array([[cell // model.V, cell % model.V]])
    P = model.project_residuals(q[None, :], coarse)[0]
    lut = np.empty((model.M, model.K))
    sd = model.sub_dim
    for m in range(model.M):
        h, s = divmod(m, model.subs_per_half)
        pm = P[h * model.half + s * sd : h * model.half + (s + 1) * sd]
        lut[m] = ((model.subs[m] - pm) ** 2).sum(1)
    return lut


@pytest.mark.parametrize(
    "D,M,V,K",
    [
        (16, 16, 4, 8),  # sub_dim 1
        (32, 16, 8, 32),  # sub_dim 2 (the serving benchmark's shape)
        (24, 8, 5, 16),  # sub_dim 3
        (128, 8, 8, 16),  # sub_dim 16
        (512, 8, 16, 256),  # sub_dim 64, K = 256
        (128, 16, 8, 256),  # K = 256
    ],
)
def test_adc_luts_bitwise_equals_per_cell_formula(D, M, V, K):
    """``adc_luts`` builds each coarse half once and stacks two half tables
    per cell; every cell's table must equal the per-cell formula BITWISE
    (serving, batch search and the twin oracle all score from it) —
    for unsorted and repeated cells, and for an empty cell list."""
    model = _random_lopq(D, M, V, K, seed=D + M + V + K)
    rng = np.random.RandomState(7)
    for _ in range(5):
        q = rng.randn(D)
        cells = rng.randint(0, V * V, size=25)  # unsorted, with repeats
        cells = np.concatenate([cells, cells[:3]])
        got = model.adc_luts(q, cells)
        assert got.shape == (len(cells), M, K)
        for i, cell in enumerate(cells):
            assert np.array_equal(got[i], _textbook_lut(model, q, int(cell))), cell
    assert model.adc_luts(rng.randn(D), []).shape == (0, M, K)


def test_adc_luts_pca_inner_model_bitwise():
    from columbiaimagesearch_spark.lopq.model import LOPQModelPCA

    rng = np.random.RandomState(11)
    inner = _random_lopq(32, 8, 6, 16, seed=5)
    pm = LOPQModelPCA(
        lopq=inner, P=np.linalg.qr(rng.randn(48, 48))[0][:, :32], mu=rng.randn(48)
    )
    qp = pm.project_queries(rng.randn(48))[0]
    cells = [35, 0, 7, 35, 14, 20, 7]
    got = pm.lopq.adc_luts(qp, cells)
    for i, cell in enumerate(cells):
        assert np.array_equal(got[i], _textbook_lut(inner, qp, cell))


def test_apply_pca_independent_of_axes_layout():
    """``apply_pca`` is a function of the values of P and mu alone: the
    C-ordered axes ``pca_axes`` fits (and a store reload rebuilds) and a
    Fortran-ordered copy (the layout ``eigh`` hands back) project bitwise
    alike. The
    3- and 50-row batches are ones where BLAS sums the two layouts in a
    different order, so they differ in the last ulp without normalization."""
    from columbiaimagesearch_spark.lopq.model import apply_pca, pca_axes
    from columbiaimagesearch_spark.lopq.twin import PCA_DIM

    rng = np.random.RandomState(6)
    X = rng.randn(300, 64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    mu = X.mean(axis=0)
    Xc = X - mu
    P = pca_axes(Xc.T @ Xc / (len(X) - 1), PCA_DIM)
    assert P.flags.c_contiguous and not P.flags.f_contiguous
    for Q in (X[:3], X[:50]):
        Y = apply_pca(Q, P, mu)
        np.testing.assert_array_equal(apply_pca(Q, np.ascontiguousarray(P), mu), Y)
        np.testing.assert_array_equal(apply_pca(Q, np.asfortranarray(P), mu), Y)


@pytest.mark.parametrize("D,out_dim", [(64, 16), (512, 64), (4096, 128)])
def test_apply_pca_independent_of_row_count(D, out_dim):
    """Serving projects one-row queries, the distributed pass and the twin
    whole batches: each row projected alone, or in chunks of 7, is bitwise
    equal to its row of the whole-batch projection."""
    from columbiaimagesearch_spark.lopq.model import apply_pca

    rng = np.random.RandomState(D)
    X = rng.randn(120, D)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    mu = X.mean(axis=0)
    P = np.linalg.qr(rng.randn(D, out_dim))[0]
    Y = apply_pca(X, P, mu)
    for i in range(len(X)):
        np.testing.assert_array_equal(apply_pca(X[i], P, mu)[0], Y[i])
    for i in range(0, len(X), 7):
        np.testing.assert_array_equal(apply_pca(X[i:i + 7], P, mu), Y[i:i + 7])


def test_adc_luts_called_once_per_shard_visit_and_per_query(monkeypatch):
    """One table build per ``score_cells`` that holds a visited cell (the
    forked shard workers' unit of work) and one per query in
    ``_plan_probe``, never one per cell."""
    import pyarrow as pa

    from columbiaimagesearch_spark.functions.arrow_vec import column
    from columbiaimagesearch_spark.lopq import search as lsearch
    from columbiaimagesearch_spark.lopq.serving import (
        ServingSearcher,
        ShardedServingRouter,
    )

    model = _random_lopq(32, 16, 8, 32, seed=1)
    rng = np.random.RandomState(2)
    X = rng.randn(600, 32)
    cells = rng.randint(0, 64, size=600)
    fine = rng.randint(0, 32, size=(600, 16))
    replica = ServingSearcher(model)
    replica._cells = ServingSearcher._group_codes(
        pa.table({"cell": cells, "id": np.arange(600), "fine": column(fine)}),
        16,
        "test",
    )
    router = ShardedServingRouter.from_replica(replica, 3)

    calls = {"luts": 0, "score": 0}  # score: visits holding a visited cell
    real_luts = LOPQModel.adc_luts
    real_score = ServingSearcher.score_cells

    def counting_luts(self, q, cells):
        calls["luts"] += 1
        return real_luts(self, q, cells)

    def counting_score(self, q, cells):
        calls["score"] += any(c in self._cells for c in cells)
        return real_score(self, q, cells)

    monkeypatch.setattr(LOPQModel, "adc_luts", counting_luts)
    monkeypatch.setattr(ServingSearcher, "score_cells", counting_score)
    for q in X[:10]:
        calls.update(luts=0, score=0)
        want = replica.search(q, quota=200, k=10)
        assert calls == {"luts": 1, "score": 1}
        calls.update(luts=0, score=0)
        assert router.search(q, quota=200, k=10) == want
        assert calls["score"] >= 1 and calls["luts"] == calls["score"]

    counts = replica.cell_counts
    queries = [(i, X[i]) for i in range(7)]
    calls.update(luts=0, score=0)
    probe_rows, luts, _ = lsearch._plan_probe(model, queries, counts, 200)
    assert calls["luts"] == len(queries)
    assert len(probe_rows) > len(queries)
    for qid, cell in probe_rows:
        assert np.array_equal(luts[(qid, cell)], _textbook_lut(model, X[qid], cell))


def test_score_cells_bitwise_equals_per_cell_formula_on_router_shards():
    """Each router shard scores all its resident visited cells in one
    kernel call; every row must still equal the per-cell formula (the
    cell's textbook table, the per-table loop) BITWISE, in visited-cell
    order, on range shards and on the slices of split fat cells alike."""
    import pyarrow as pa

    from columbiaimagesearch_spark.functions.arrow_vec import column
    from columbiaimagesearch_spark.lopq.search import multisequence_cells
    from columbiaimagesearch_spark.lopq.serving import (
        ServingSearcher,
        ShardedServingRouter,
    )

    model = _random_lopq(32, 16, 8, 32, seed=4)
    rng = np.random.RandomState(5)
    n = 3000
    # Zipf-skewed cells, so the router splits fat cells across shards
    cells = np.minimum(rng.zipf(1.6, size=n) - 1, 63)
    fine = rng.randint(0, 32, size=(n, 16))
    replica = ServingSearcher(model)
    replica._cells = ServingSearcher._group_codes(
        pa.table({"cell": cells, "id": rng.permutation(n), "fine": column(fine)}),
        16,
        "test",
    )
    router = ShardedServingRouter.from_replica(replica, 3)
    assert router._splits, "fixture must split a fat cell"
    for q in rng.randn(8, 32):
        d1, d2 = model.coarse_distances(q)
        visited = multisequence_cells(d1, d2, router._global_counts(), 1500)
        for _lo, _hi, shard in router.shards:
            got_ids, got_d = shard.score_cells(q, visited)
            resident = [c for c in visited if c in shard._cells]
            if not resident:
                assert len(got_ids) == len(got_d) == 0
                continue
            want_ids = np.concatenate([shard._cells[c][0] for c in resident])
            want_d = np.concatenate([
                _per_table_adc(_textbook_lut(model, q, c), shard._cells[c][1])
                for c in resident
            ])
            assert np.array_equal(got_ids, want_ids)
            assert np.array_equal(got_d, want_d)


def test_multisequence_visits_in_distance_order(model, emb_np):
    _, X = emb_np
    d1, d2 = model.coarse_distances(X[0])
    counts = {c: 1 for c in range(model.V * model.V)}
    visited = multisequence_cells(d1, d2, counts, quota=model.V * model.V)
    assert sorted(visited) == list(range(model.V * model.V))  # full traversal
    dists = [d1[c // model.V] + d2[c % model.V] for c in visited]
    assert all(dists[i] <= dists[i + 1] + 1e-9 for i in range(len(dists) - 1))


def test_search_recall_floor(spark, model, emb_np):
    ids, X = emb_np
    emb = load_table(spark, SF_SMOKE, "embeddings")
    codes = encode_dataframe(spark, emb, model)
    queries = [(int(ids[i]), X[i]) for i in range(8)]
    truth = {
        int(ids[i]): t
        for i, t in enumerate(brute_force_topk(X[:8], X, ids, 10))
    }
    # ADC-only tier (no rerank): coarse but must beat the floor
    res = search(spark, codes, model, queries, quota=200, k=10)
    retrieved: dict[int, list[int]] = {}
    for r in res.orderBy("qid", "rank").collect():
        retrieved.setdefault(r["qid"], []).append(r["id"])
    rec_adc = recall_at_k(retrieved, truth, 10)
    # K=256 subquantizers (reference default) measure 0.562 here; the floor
    # leaves margin but would catch a regression to coarse quantization
    assert rec_adc >= 0.45, f"ADC recall@10 {rec_adc} below floor"
    # production tier: quota=300 + exact rerank of top-100 (reference
    # default path, searcher_lopqhbase.py:862-912)
    res = search(
        spark, codes, model, queries, quota=300, k=10,
        vectors=emb, rerank_nb=100,
    )
    retrieved = {}
    for r in res.orderBy("qid", "rank").collect():
        retrieved.setdefault(r["qid"], []).append(r["id"])
    rec_rr = recall_at_k(retrieved, truth, 10)
    # measured 0.8625 at K=256; the remaining misses are quota-bounded
    # (true neighbors in never-probed cells), not quantization error
    assert rec_rr >= 0.8, f"reranked recall@10 {rec_rr} below floor"
    assert rec_rr > rec_adc


def test_search_exact_parity_at_full_quota(spark, model, emb_np):
    """quota=ALL + rerank ALL candidates => top-k must equal brute force."""
    ids, X = emb_np
    emb = load_table(spark, SF_SMOKE, "embeddings")
    codes = encode_dataframe(spark, emb, model)
    queries = [(int(ids[i]), X[i]) for i in range(4)]
    n = len(ids)
    res = search(
        spark, codes, model, queries,
        quota=n, k=10, vectors=emb, rerank_nb=n,
    )
    retrieved: dict[int, list[int]] = {}
    for r in res.orderBy("qid", "rank").collect():
        retrieved.setdefault(r["qid"], []).append(r["id"])
    truth = {
        int(ids[i]): t for i, t in enumerate(brute_force_topk(X[:4], X, ids, 10))
    }
    assert retrieved == truth


def test_registry_lopq_queries_run(spark):
    from columbiaimagesearch_spark import registry

    specs = registry.all_specs()
    for name in (
        "lopq_encode_codes",
        "lopq_search_topk",
        "lopq_search_rerank",
    ):
        df = specs[name].builder(spark, SF_SMOKE)
        assert df.count() > 0, name


def test_cell_histogram_total(spark):
    from columbiaimagesearch_spark.lopq.queries import lopq_cell_histogram

    hist = lopq_cell_histogram(spark, SF_SMOKE)
    total = hist.agg(F.sum("n")).collect()[0][0]
    n_emb = load_table(spark, SF_SMOKE, "embeddings").count()
    assert total == n_emb


def test_pca_model_search_end_to_end(spark, emb_np):
    """LOPQModelPCA: one model object handed to search()/ServingSearcher with
    ORIGINAL-space queries (reference search.py:198-200 — the searcher
    projects when the model is PCA-composed). Full-quota + full-rerank must
    equal brute force in the projected space; serving must equal the
    distributed ADC tier query-for-query."""
    from columbiaimagesearch_spark.lopq.model import LOPQModelPCA
    from columbiaimagesearch_spark.lopq.serving import ServingSearcher
    from columbiaimagesearch_spark.lopq.train_spark import pca_project

    ids, X = emb_np
    n, out_dim = len(ids), X.shape[1] // 2
    # driver-side PCA fit (bounded-sample architecture, same math as
    # train_spark.fit_pca_spark: centered covariance -> eigh -> descending
    # order -> deterministic sign)
    mu = X.mean(axis=0)
    c = X - mu
    cov = c.T @ c / max(n - 1, 1)
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(-eigvals)[:out_dim]
    P = eigvecs[:, order]
    flip = np.sign(P[np.abs(P).argmax(axis=0), np.arange(P.shape[1])])
    flip[flip == 0] = 1.0
    P = P * flip

    lopq = LOPQModel.fit(
        LOPQModelPCA(lopq=None, P=P, mu=mu).project_queries(X), V=4, M=8, K=16, seed=42
    )
    pca_model = LOPQModelPCA(lopq=lopq, P=P, mu=mu)

    vec_df = load_table(spark, SF_SMOKE, "embeddings").selectExpr(
        "vec_id as id", "cast(embedding as array<double>) as v"
    )
    proj = pca_project(vec_df, P, mu).persist()
    codes = encode_dataframe(spark, proj, lopq, id_col="id", vec_col="v").persist()

    queries = [(int(ids[i]), X[i]) for i in range(4)]  # ORIGINAL space
    res = search(
        spark, codes, pca_model, queries,
        quota=n, k=10, vectors=proj, id_col="id", vec_col="v", rerank_nb=n,
    )
    retrieved: dict[int, list[int]] = {}
    for r in res.orderBy("qid", "rank").collect():
        retrieved.setdefault(r["qid"], []).append(r["id"])
    Yq = pca_model.project_queries(X[:4])
    Y = pca_model.project_queries(X)
    truth = {int(ids[i]): t for i, t in enumerate(brute_force_topk(Yq, Y, ids, 10))}
    assert retrieved == truth

    # serving tier: ADC-only answers equal the distributed ADC tier
    adc = search(spark, codes, pca_model, queries, quota=n, k=10)
    adc_ids: dict[int, list[int]] = {}
    for r in adc.orderBy("qid", "rank").collect():
        adc_ids.setdefault(r["qid"], []).append(r["id"])
    srv = ServingSearcher(pca_model).load_codes(codes)
    for qid, q in queries:
        assert [i for i, _ in srv.search(q, quota=n, k=10)] == adc_ids[qid]


def test_search_contracts_rerank_and_empty_schema(spark, model, emb_np):
    """Review r13 contracts: (a) 0 < rerank_nb < k refuses loudly instead
    of silently returning rerank_nb rows per query; (b) an empty probe
    with rerank requested returns the RERANK schema (exact_dist present),
    so unioning shard results never hits an empty-shard AnalysisException;
    (c) a failed _cell_counts refusal does not strand a codes cache
    entry."""
    import pytest

    ids, X = emb_np
    emb = load_table(spark, SF_SMOKE, "embeddings")
    codes = encode_dataframe(spark, emb, model)
    queries = [(int(ids[0]), X[0])]
    with pytest.raises(ValueError, match="rerank_nb"):
        search(spark, codes, model, queries, k=10, vectors=emb, rerank_nb=5)

    # empty probe (no codes at all) keeps the rerank schema
    empty_codes = codes.where(F.lit(False))
    res = search(
        spark, empty_codes, model, queries, k=10, vectors=emb, rerank_nb=20
    )
    assert res.columns == ["qid", "rank", "id", "adc_dist", "exact_dist"]
    assert res.count() == 0
    res2 = search(spark, empty_codes, model, queries, k=10)
    assert res2.columns == ["qid", "rank", "id", "adc_dist"]
