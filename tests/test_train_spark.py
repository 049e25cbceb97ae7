"""Distributed-training parity: Spark full-corpus fit == driver-sample fit.

The NUM oracle of SURVEY §5: with the same seed and the same (ordered)
training rows, `train_spark.fit_spark` must reproduce `LOPQModel.fit` —
coarse codebooks, rotations, residual means, subquantizers — up to
float-summation order, and encode every point to identical codes. PCA
likewise against a direct numpy eigendecomposition.
"""

from __future__ import annotations

import numpy as np
import pytest

from columbiaimagesearch_spark.lopq.model import LOPQModel
from columbiaimagesearch_spark.lopq import train_spark
from columbiaimagesearch_spark.sources import load_table

from conftest import SF_SMOKE

V, M, K, SEED, N_ITER = 4, 4, 8, 7, 8


@pytest.fixture(scope="module")
def vec_data(spark):
    rows = (
        load_table(spark, SF_SMOKE, "embeddings")
        .selectExpr("vec_id as id", "cast(embedding as array<double>) as v")
        .orderBy("id")
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    df = (
        load_table(spark, SF_SMOKE, "embeddings")
        .selectExpr("vec_id as id", "cast(embedding as array<double>) as v")
        .repartition(8)
    )
    return df, X


def test_fit_spark_matches_driver_fit(spark, vec_data):
    df, X = vec_data
    driver = LOPQModel.fit(X, V=V, M=M, K=K, seed=SEED, n_iter=N_ITER)
    dist = train_spark.fit_spark(
        df, V=V, M=M, K=K, seed=SEED, n_iter=N_ITER, init_sample=len(X)
    )
    np.testing.assert_allclose(dist.Cs, driver.Cs, atol=1e-8)
    np.testing.assert_allclose(dist.mus, driver.mus, atol=1e-8)
    np.testing.assert_allclose(dist.Rs, driver.Rs, atol=1e-8)
    np.testing.assert_allclose(dist.subs, driver.subs, atol=1e-8)
    c_d, f_d = driver.encode(X)
    c_s, f_s = dist.encode(X)
    assert np.array_equal(c_d, c_s)
    assert np.array_equal(f_d, f_s)


def test_cluster_moments_match_numpy(spark, vec_data, monkeypatch):
    """Per-(slice, cluster) moments of two slices of different widths,
    through the driver merge of the partials and through the distributed
    groupBy merge (forced by a zero driver-merge budget)."""
    df, X = vec_data
    rng = np.random.RandomState(0)
    slices = {
        0: (0, 32, X[rng.choice(len(X), 4, replace=False), :32].copy()),
        1: (32, 48, X[rng.choice(len(X), 3, replace=False), 32:48].copy()),
    }
    for budget in (train_spark.MOMENTS_DRIVER_MERGE_MAX_BYTES, -1):
        monkeypatch.setattr(train_spark, "MOMENTS_DRIVER_MERGE_MAX_BYTES", budget)
        stats = train_spark.multi_cluster_moments(
            df, slices, with_outer=True, subtract_center=True
        )
        for sl, (lo, hi, centers) in slices.items():
            Xh = X[:, lo:hi]
            d = (Xh**2).sum(1)[:, None] - 2 * Xh @ centers.T + (centers**2).sum(1)[None, :]
            assign = d.argmin(axis=1)
            for c in range(len(centers)):
                R = Xh[assign == c] - centers[c]
                n, s, op = stats[(sl, c)]
                assert n == R.shape[0]
                np.testing.assert_allclose(s, R.sum(axis=0), atol=1e-9)
                np.testing.assert_allclose(op, R.T @ R, atol=1e-8)


def test_pca_spark_matches_numpy(spark, vec_data):
    df, X = vec_data
    P, mu = train_spark.fit_pca_spark(df, out_dim=16)
    # numpy oracle with the same sign convention
    mu_np = X.mean(axis=0)
    cov = (X - mu_np).T @ (X - mu_np) / (len(X) - 1)
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(-eigvals)[:16]
    P_np = eigvecs[:, order]
    flip = np.sign(P_np[np.abs(P_np).argmax(axis=0), np.arange(16)])
    flip[flip == 0] = 1.0
    P_np = P_np * flip
    np.testing.assert_allclose(mu, mu_np, atol=1e-9)
    np.testing.assert_allclose(P, P_np, atol=1e-7)
    # projected output: re-normalized, matches numpy projection direction
    out = train_spark.pca_project(df, P, mu).orderBy("id").collect()
    Y = np.array([r["v"] for r in out])
    assert Y.shape == (len(X), 16)
    np.testing.assert_allclose(np.linalg.norm(Y, axis=1), 1.0, atol=1e-9)
    Y_np = (X - mu_np) @ P_np
    Y_np = Y_np / np.linalg.norm(Y_np, axis=1, keepdims=True)
    np.testing.assert_allclose(Y, Y_np, atol=1e-8)


def test_pca_then_lopq_composition(spark, vec_data):
    """The reference's lopq_pca composition (searcher conf pca=256 + V/M):
    PCA-project then LOPQ-train on the reduced vectors end-to-end."""
    df, X = vec_data
    P, mu = train_spark.fit_pca_spark(df, out_dim=16)
    red = train_spark.pca_project(df, P, mu)
    model = train_spark.fit_spark(
        red, V=2, M=2, K=4, seed=3, n_iter=4, init_sample=len(X)
    )
    assert model.D == 16
    Y = np.array([r["v"] for r in red.orderBy("id").collect()])
    coarse, fine = model.encode(Y)
    assert coarse.shape == (len(X), 2) and fine.shape == (len(X), 2)
    assert set(model.cell_id(coarse)) <= set(range(4))


def test_fit_spark_rejects_odd_or_tiny_m(spark, vec_data):
    """Review r13: odd M passed the old dimension guard and crashed
    opaquely building out-of-range sub_bounds; M=1 hit ZeroDivisionError
    inside the guard itself. Both now refuse with the contract error."""
    import pytest

    from columbiaimagesearch_spark.lopq.train_spark import fit_spark

    df, _X = vec_data
    for bad_m in (1, 3):
        with pytest.raises(ValueError, match="subvectors"):
            fit_spark(df, V=4, M=bad_m, K=8, n_iter=2, init_sample=200)
