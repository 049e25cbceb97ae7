"""Distributed LOPQ / PCA training — the 100 TB path for SURVEY §2.8 V1-V7.

``LOPQModel.fit`` (model.py) trains on a bounded driver sample, mirroring the
reference's ``nb_train`` subsample architecture. This module removes that
bound: every full-corpus pass — coarse k-means Lloyd iterations (V1), the
per-cluster residual moment accumulators that feed local rotations
(A3 / reference model.py:109-157), the global covariance for PCA
(A4 / model.py:242-287), and subquantizer k-means over projected residuals
(V5) — runs as Spark aggregations over Arrow batches:

  mapInArrow           per-partition partial moments (sl, cluster, n, Σv, Σvvᵀ)
  groupBy+applyInPandas merge partials per (slice, cluster)
  driver               only V rows of (D/2)² floats: eigh + allocation (V2/V3)

Nothing vector-sized ever shuffles by row: partials are (V × moments) per
partition regardless of corpus size, which is the property that survives a
1000-executor 100 TB run. k-means++ init stays on a bounded driver sample
(init needs sequential dependence; the reference samples for init too), and
Lloyd refinement — the part that must see the full corpus — is distributed.

Scan amortization: every Lloyd iteration is ONE corpus pass serving all
still-unconverged codebooks (``lloyd_spark_multi``: both coarse halves
together; all M subquantizers together), not one pass per codebook — at
100 TB an iteration costs one read of the corpus whether M is 4 or 16.

Parity: with the same seed, the distributed fit reproduces the driver-side
``LOPQModel.fit`` up to float-summation order (tests assert allclose + code
equality), so the whole encode/search stack is interchangeable between them.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import arrow_vec
from .model import (
    LOPQModel,
    _kmeans_pp_init,
    apply_pca,
    eigenvalue_allocation,
    pca_axes,
)

_STATS_SCHEMA = "sl int, cluster int, n bigint, s array<double>, op array<double>"

# {slice_id: (lo, hi, centers)} — the unit of the multi-slice passes below
Slices = dict[int, tuple[int, int, np.ndarray]]


def _multi_moment_partials(b_slices, with_outer: bool, subtract_center: bool):
    """mapInArrow fn: per partition, for EVERY slice in the broadcast dict,
    per nearest-centroid cluster of that slice's [lo:hi) columns, emit
    (sl, cluster, n, Σx, Σxxᵀ·flat). One pass over the vectors serves all
    slices — the row batch is decoded from Arrow once and each slice only
    views its columns. ``subtract_center`` subtracts the cluster centroid
    first (residual moments, A3)."""

    def fn(batches):
        slices = b_slices.value
        sq = {sl: (C**2).sum(axis=1) for sl, (_, _, C) in slices.items()}
        acc: dict[tuple[int, int], list] = {}
        for batch in batches:
            if not batch.num_rows:
                continue
            Xf = arrow_vec.vectors(batch, "v", "multi_cluster_moments")
            for sl, (lo, hi, C) in slices.items():
                X = Xf[:, lo:hi]
                d = (X**2).sum(1)[:, None] - 2 * X @ C.T + sq[sl][None, :]
                assign = d.argmin(axis=1)
                for c in np.unique(assign):
                    Xc = X[assign == c]
                    if subtract_center:
                        Xc = Xc - C[c]
                    a = acc.setdefault((sl, int(c)), [0, 0.0, 0.0])
                    a[0] += Xc.shape[0]
                    a[1] = a[1] + Xc.sum(axis=0)
                    if with_outer:
                        a[2] = a[2] + Xc.T @ Xc
        dbl = pa.list_(pa.float64())
        yield pa.record_batch(
            {
                "sl": pa.array([sl for sl, _ in acc], pa.int32()),
                "cluster": pa.array([c for _, c in acc], pa.int32()),
                "n": pa.array([a[0] for a in acc.values()], pa.int64()),
                "s": pa.array([a[1].tolist() for a in acc.values()], dbl),
                "op": pa.array(
                    [
                        (a[2].ravel().tolist() if with_outer else [])
                        for a in acc.values()
                    ],
                    dbl,
                ),
            }
        )

    return fn


def _merge_stats(key, pdfs):
    n = int(pdfs["n"].sum())
    s = np.sum([np.asarray(x) for x in pdfs["s"]], axis=0)
    op = np.sum([np.asarray(x) for x in pdfs["op"]], axis=0)
    return pd.DataFrame(
        {
            "sl": [key[0]],
            "cluster": [key[1]],
            "n": [n],
            "s": [s.tolist()],
            "op": [op.tolist()],
        }
    )


# Driver-merge bound for multi_cluster_moments (bytes of collected partial
# rows, estimated EXACTLY from n_partitions x Σ_sl k_sl x payload dims
# before any job runs). Under it, the per-(slice, cluster) partials are
# collected and summed on the driver — one single-stage job per pass
# instead of map + shuffle + Python reduce stage (guide §2.4 "remove the
# shuffle outright": the merge input is partition-count-bounded metadata,
# never corpus rows). Over it (wide fleets, with_outer covariance
# payloads), the distributed groupBy+applyInPandas merge runs as before —
# the driver never holds more than this many partial bytes (guide §5).
MOMENTS_DRIVER_MERGE_MAX_BYTES = 64 * 1024 * 1024


def _partials_bytes(
    n_partitions: int | None, slices: Slices, with_outer: bool
) -> int | None:
    """Upper bound of the collected partials' payload: every partition can
    emit at most one row per (slice, cluster)."""
    if n_partitions is None:
        return None
    per_part = 0
    for _, (lo, hi, C) in slices.items():
        dim = hi - lo
        row = 96 + 8 * dim + (8 * dim * dim if with_outer else 0)
        per_part += len(C) * row
    return n_partitions * per_part


def multi_cluster_moments(
    vec_df: DataFrame,
    slices: Slices,
    with_outer: bool = False,
    subtract_center: bool = False,
    n_partitions: int | None = None,
) -> dict[tuple[int, int], tuple[int, np.ndarray, np.ndarray | None]]:
    """Distributed per-(slice, cluster) moments in ONE corpus pass:
    {(sl, cluster): (n, Σx, Σxxᵀ or None)}. This is the training-scan
    amortizer: fit_spark trains both coarse halves (and all M
    subquantizers) per Lloyd iteration from a single scan instead of one
    scan per codebook — at 100 TB the iteration cost is one corpus read
    regardless of M. The collect is Σ_sl k_sl rows, independent of corpus
    size.

    ``n_partitions`` (optional): the input's partition count, if the
    caller already knows it — enables the bounded driver-side merge (see
    :data:`MOMENTS_DRIVER_MERGE_MAX_BYTES`) without the ~90 ms
    plan-analysis probe ``df.rdd.getNumPartitions()`` costs per call;
    iterative callers (the Lloyd loop) probe once and pass it down."""
    spark = vec_df.sparkSession
    b_s = spark.sparkContext.broadcast(slices)
    partials = vec_df.mapInArrow(
        _multi_moment_partials(b_s, with_outer, subtract_center),
        _STATS_SCHEMA,
    )
    if n_partitions is None:
        try:
            n_partitions = vec_df.rdd.getNumPartitions()
        except Exception:  # noqa: BLE001 — unprobed: distributed merge
            n_partitions = None
    est = _partials_bytes(n_partitions, slices, with_outer)
    out: dict[tuple[int, int], tuple[int, np.ndarray, np.ndarray | None]] = {}
    if est is not None and est <= MOMENTS_DRIVER_MERGE_MAX_BYTES:
        # bounded driver merge: one map-only job, partials summed in numpy
        # (float64, same dtype as the distributed _merge_stats reduce)
        for key, n, s, op in _moment_rows(partials.toArrow(), slices, with_outer):
            prev = out.get(key)
            if prev is None:
                out[key] = (n, s, op)
            else:
                out[key] = (
                    prev[0] + n,
                    prev[1] + s,
                    (prev[2] + op) if with_outer else None,
                )
        return out
    merged = partials.groupBy("sl", "cluster").applyInPandas(
        _merge_stats, _STATS_SCHEMA
    )
    for key, n, s, op in _moment_rows(merged.toArrow(), slices, with_outer):
        out[key] = (n, s, op)
    return out


def _moment_rows(tbl: pa.Table, slices: Slices, with_outer: bool):
    """``((sl, cluster), n, Σx, Σxxᵀ or None)`` per row of a collected
    moments table, in row order within each slice. Slices differ in width,
    so each slice's vectors are read through ``arrow_vec`` on their own."""
    sl_col = np.asarray(tbl.column("sl"))
    for sl in sorted(set(sl_col.tolist())):
        part = tbl.filter(pa.array(sl_col == sl))
        S = arrow_vec.vectors(part, "s", "multi_cluster_moments")
        if with_outer:
            dim = slices[sl][1] - slices[sl][0]
            OP = arrow_vec.vectors(part, "op", "multi_cluster_moments")
            OP = OP.reshape(len(S), dim, dim)
        else:
            OP = [None] * len(S)
        keys = part.column("cluster").to_pylist()
        ns = part.column("n").to_pylist()
        for c, n, s, op in zip(keys, ns, S, OP):
            yield (sl, c), n, s, op


def cluster_moments(
    vec_df: DataFrame,
    centers: np.ndarray,
    lo: int,
    hi: int,
    with_outer: bool = False,
    subtract_center: bool = False,
    n_partitions: int | None = None,
) -> dict[int, tuple[int, np.ndarray, np.ndarray | None]]:
    """Single-slice convenience over :func:`multi_cluster_moments`:
    {cluster: (n, Σx, Σxxᵀ or None)} of the [lo:hi) columns."""
    stats = multi_cluster_moments(
        vec_df,
        {0: (lo, hi, centers)},
        with_outer=with_outer,
        subtract_center=subtract_center,
        n_partitions=n_partitions,
    )
    return {c: v for (_, c), v in stats.items()}


def lloyd_spark_multi(
    vec_df: DataFrame,
    bounds: list[tuple[int, int]],
    k: int,
    seeds: list[int],
    n_iter: int = 25,
    init_sample: int = 20000,
) -> list[np.ndarray]:
    """Distributed Lloyd k-means over SEVERAL column slices of ``v`` at
    once — one full-corpus moment pass per iteration serves every
    still-unconverged slice (the reason fit_spark's iteration cost is one
    corpus scan, not one per codebook).

    Per slice this computes exactly what a standalone run would: k-means++
    init on a bounded, deterministic driver sample (first ``init_sample``
    rows by ``id`` — kmeans++ is index-sensitive, so the sample must be
    ordered for seed parity); each Lloyd pass assigns against that slice's
    current centers only. A slice whose update is a fixpoint drops out of
    later scans — continuing it could not change it. Reaches the same
    fixpoint as the driver ``model.kmeans`` (same init, same update rule,
    same deterministic farthest-point reseed for empty clusters)."""
    sample = vec_df.orderBy("id").limit(init_sample).select("v").toArrow()
    S_full = arrow_vec.vectors(sample, "v", "lloyd_spark_multi")
    if S_full.shape[0] < k:
        raise ValueError(f"need at least k={k} points, got {S_full.shape[0]}")
    centers: list[np.ndarray] = []
    for (lo, hi), seed in zip(bounds, seeds):
        rng = np.random.RandomState(seed)
        centers.append(_kmeans_pp_init(S_full[:, lo:hi], k, rng))
    # probe the partition count ONCE for the whole loop — every iteration's
    # moment pass shares it for the driver-merge bound
    try:
        n_parts = vec_df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — unprobed: distributed merge
        n_parts = None
    active = set(range(len(bounds)))
    for _ in range(n_iter):
        stats = multi_cluster_moments(
            vec_df,
            {i: (bounds[i][0], bounds[i][1], centers[i]) for i in sorted(active)},
            with_outer=False,
            n_partitions=n_parts,
        )
        still = set()
        for i in sorted(active):
            lo, hi = bounds[i]
            new_centers = centers[i].copy()
            for c in range(k):
                st = stats.get((i, c))
                if st is not None and st[0] > 0:
                    new_centers[c] = st[1] / st[0]
                else:
                    # deterministic reseed: globally farthest point from its
                    # center (rare — its own bounded pass when it happens)
                    new_centers[c] = _farthest_point(vec_df, centers[i], lo, hi)
            if not np.allclose(new_centers, centers[i], rtol=0, atol=0):
                still.add(i)
            centers[i] = new_centers
        active = still
        if not active:
            break
    return centers


def lloyd_spark(
    vec_df: DataFrame,
    k: int,
    seed: int,
    lo: int,
    hi: int,
    n_iter: int = 25,
    init_sample: int = 20000,
) -> np.ndarray:
    """Single-slice convenience over :func:`lloyd_spark_multi`."""
    return lloyd_spark_multi(
        vec_df, [(lo, hi)], k, [seed], n_iter=n_iter, init_sample=init_sample
    )[0]


def _farthest_point(
    vec_df: DataFrame, centers: np.ndarray, lo: int, hi: int
) -> np.ndarray:
    spark = vec_df.sparkSession
    b_c = spark.sparkContext.broadcast(centers)

    def score(batches):
        C = b_c.value
        c_sq = (C**2).sum(axis=1)
        for batch in batches:
            if not batch.num_rows:
                continue
            X = arrow_vec.vectors(batch, "v", "lloyd_spark_multi")[:, lo:hi]
            d = ((X**2).sum(1)[:, None] - 2 * X @ C.T + c_sq[None, :]).min(axis=1)
            i = int(d.argmax())
            yield pa.record_batch(
                {"d": d[i : i + 1], "v": arrow_vec.column(X[i : i + 1])}
            )

    top = (
        vec_df.mapInArrow(score, "d double, v array<double>")
        .orderBy(F.col("d").desc())
        .limit(1)
        .collect()
    )
    return np.asarray(top[0]["v"], dtype=np.float64)


def fit_spark(
    vec_df: DataFrame,
    V: int = 8,
    M: int = 8,
    K: int = 16,
    seed: int = 42,
    n_iter: int = 25,
    init_sample: int = 20000,
) -> LOPQModel:
    """Distributed LOPQ training over ``vec_df`` (column ``v array<double>``).

    Same parameter semantics as ``LOPQModel.fit`` (reference
    model.py:339-437) with every full-corpus pass distributed; see module
    docstring for the aggregation layout."""
    first = vec_df.limit(1).collect()
    D = len(first[0]["v"])
    # M must be even and >= 2 (review r13): odd M passed the old guard
    # (6%3 == 0, 3%1 == 0) and then built sub_bounds past D — an opaque
    # zero-width-kmeans crash; M=1 hit ZeroDivisionError inside the guard.
    if M < 2 or M % 2 or D % 2 or D % M or (D // 2) % (M // 2):
        raise ValueError(
            f"D={D} must split into 2 halves and M={M} even subvectors "
            "(M >= 2, M % 2 == 0, D % M == 0)"
        )
    half, spl = D // 2, M // 2
    vec_df = vec_df.select("id", "v").persist()

    Cs = np.empty((2, V, half))
    Rs = np.empty((2, V, half, half))
    mus = np.empty((2, V, half))
    # both halves' coarse Lloyd share one corpus scan per iteration
    halves = [(0, half), (half, D)]
    for h, C in enumerate(
        lloyd_spark_multi(
            vec_df, halves, V, [seed, seed + 1],
            n_iter=n_iter, init_sample=init_sample,
        )
    ):
        Cs[h] = C
    # A3: distributed residual moments per (half, coarse cluster) — one pass
    stats = multi_cluster_moments(
        vec_df,
        {h: (halves[h][0], halves[h][1], Cs[h]) for h in range(2)},
        with_outer=True,
        subtract_center=True,
    )
    for h in range(2):
        for v in range(V):
            n, s, op = stats.get(
                (h, v), (0, np.zeros(half), np.zeros((half, half)))
            )
            if n < half:
                mus[h, v] = np.zeros(half)
                Rs[h, v] = np.eye(half)
            else:
                mu = s / n
                # centered covariance from raw residual moments:
                # Σ(r-μ)(r-μ)ᵀ = Σrrᵀ - n μμᵀ
                cov = (op - n * np.outer(mu, mu)) / max(n - 1, 1)
                eigvals, eigvecs = np.linalg.eigh(cov)
                perm = eigenvalue_allocation(eigvals, spl)
                mus[h, v] = mu
                Rs[h, v] = eigvecs[:, perm].T

    # V4 distributed: projected residuals for subquantizer training
    model_head = LOPQModel(
        V=V, M=M, K=K, D=D, Cs=Cs, Rs=Rs, mus=mus,
        subs=np.zeros((M, K, D // M)),
    )
    spark = vec_df.sparkSession
    b_head = spark.sparkContext.broadcast(model_head.to_arrays())

    def project(batches):
        m = LOPQModel.from_arrays(b_head.value)
        for batch in batches:
            if not batch.num_rows:
                continue
            X = arrow_vec.vectors(batch, "v", "fit_spark")
            P = m.project_residuals(X, m.coarse_assign(X))
            yield pa.record_batch(
                {"id": batch.column("id").cast(pa.int64()), "v": arrow_vec.column(P)}
            )

    proj_df = vec_df.mapInArrow(project, "id bigint, v array<double>").persist()
    sub_dim = D // M
    subs = np.empty((M, K, sub_dim))
    # all M subquantizers share one projected-corpus scan per iteration
    # (the old per-m loop scanned the corpus M times per iteration)
    sub_bounds = []
    for m in range(M):
        h, s = m // spl, m % spl
        lo = h * half + s * sub_dim
        sub_bounds.append((lo, lo + sub_dim))
    for m, C in enumerate(
        lloyd_spark_multi(
            proj_df, sub_bounds, K, [seed + 100 + m for m in range(M)],
            n_iter=n_iter, init_sample=init_sample,
        )
    ):
        subs[m] = C
    proj_df.unpersist()
    vec_df.unpersist()
    return LOPQModel(V=V, M=M, K=K, D=D, Cs=Cs, Rs=Rs, mus=mus, subs=subs)


# ---------------------------------------------------------------------------
# PCA (V7 / A4): distributed global covariance -> driver eigh -> project
# ---------------------------------------------------------------------------


def fit_pca_spark(
    vec_df: DataFrame, out_dim: int, seed: int = 42
) -> tuple[np.ndarray, np.ndarray]:
    """(P, mu): top-``out_dim`` principal axes of ``v`` and the mean, from ONE
    distributed pass of (n, Σx, Σxxᵀ) (reference model.py:242-287 train_pca;
    eigenvector-order permutation by eigenvalue allocation is applied by the
    caller when feeding LOPQ, matching the reference pca+lopq composition)."""
    D = len(vec_df.limit(1).collect()[0]["v"])
    stats = cluster_moments(
        vec_df, np.zeros((1, D)), 0, D, with_outer=True
    )
    n, s, op = stats[0]
    mu = s / n
    cov = (op - n * np.outer(mu, mu)) / max(n - 1, 1)
    # descending eigenvalue order + deterministic sign: shared kernel
    # (model.pca_axes) so trainer and oracle twin can never diverge
    return pca_axes(cov, out_dim), mu


def pca_project(vec_df: DataFrame, P: np.ndarray, mu: np.ndarray) -> DataFrame:
    """Apply PCA + re-L2-normalize (reference apply_PCA + renorm idiom,
    model.py:878-978) as one Arrow pass; output column ``v``."""
    spark = vec_df.sparkSession
    b = spark.sparkContext.broadcast((P, mu))
    out_cols = [c for c in vec_df.columns if c != "v"]
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in vec_df.schema if f.name != "v"]
        + ["v array<double>"]
    )

    def fn(batches):
        P_, mu_ = b.value
        for batch in batches:
            if not batch.num_rows:
                continue
            # shared kernel — see model.apply_pca
            Y = apply_pca(arrow_vec.vectors(batch, "v", "pca_project"), P_, mu_)
            yield pa.record_batch(
                {**{c: batch.column(c) for c in out_cols}, "v": arrow_vec.column(Y)}
            )

    return vec_df.mapInArrow(fn, schema)
