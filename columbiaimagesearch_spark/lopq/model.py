"""LOPQ (Locally Optimized Product Quantization) model — built from scratch.

Semantics follow the reference's model (``/root/reference/lopq/lopq/model.py``:
parameter tuple ``((C1,C2),(Rs1,Rs2),(mu1,mu2),(subq1,subq2))``, cell id
``c1*V + c2`` at :706-710, eigenvalue allocation :19-71, local rotations
:74-206, encode :543-602) and the LOPQ paper (Kalantidis & Avrithis, CVPR'14),
re-implemented in numpy with no reference code reused:

- vectors split into two halves; per-half coarse codebook of V centroids;
- per (half, coarse cluster): residual mean ``mu`` and rotation ``R`` from
  the eigendecomposition of the residual covariance, with eigenvector order
  permuted by *eigenvalue allocation* to balance variance across the M/2
  subquantizer buckets of that half;
- M subquantizers of K centroids over the rotated residual splits.

All training math is deterministic (fixed-seed k-means++, Lloyd iterations,
deterministic empty-cluster reseeding) so Spark-side encode/search can be
tested against this exact model. Training runs on a bounded driver-side
sample (the reference trains on a 2M subsample of millions, conf
``nb_train`` — same architecture); the full-corpus work (encode, residual
stats, search) is what runs distributed in Spark.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


def _kmeans_pp_init(X: np.ndarray, k: int, rng: np.random.RandomState) -> np.ndarray:
    n = X.shape[0]
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.randint(n)]
    d2 = np.full(n, np.inf)
    for i in range(1, k):
        d2 = np.minimum(d2, ((X - centers[i - 1]) ** 2).sum(axis=1))
        total = d2.sum()
        if total <= 0:
            centers[i] = X[rng.randint(n)]
            continue
        probs = d2 / total
        centers[i] = X[rng.choice(n, p=probs)]
    return centers


def kmeans(
    X: np.ndarray, k: int, seed: int, n_iter: int = 25
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic Lloyd k-means with k-means++ init. Returns (centers, assign)."""
    X = np.asarray(X, dtype=np.float64)
    n = X.shape[0]
    if n < k:
        raise ValueError(f"need at least k={k} points, got {n}")
    rng = np.random.RandomState(seed)
    centers = _kmeans_pp_init(X, k, rng)
    assign = np.zeros(n, dtype=np.int64)
    for _ in range(n_iter):
        # squared L2 via the expanded form; argmin per row
        d = ((X**2).sum(1)[:, None] - 2 * X @ centers.T + (centers**2).sum(1)[None, :])
        new_assign = d.argmin(axis=1)
        if np.array_equal(new_assign, assign) and _ > 0:
            assign = new_assign
            break
        assign = new_assign
        dmin = None
        for c in range(k):
            mask = assign == c
            if mask.any():
                centers[c] = X[mask].mean(axis=0)
            else:
                # deterministic reseed: farthest point from its center.
                # dmin is knocked out per pick (review r13): two clusters
                # going empty in ONE iteration previously both reseeded to
                # the SAME farthest point — duplicate centroids, one code
                # permanently dead (argmin ties take the lower index).
                if dmin is None:
                    dmin = d.min(axis=1).copy()
                far = int(dmin.argmax())
                centers[c] = X[far]
                dmin[far] = -np.inf
    # final re-assignment against the returned centers (predict-after-fit,
    # reference model.py fit idiom): when the loop exhausts n_iter without
    # converging, the last center update would otherwise leave assignments
    # that aren't argmin of the centers we return. No-op once converged.
    d = (X**2).sum(1)[:, None] - 2 * X @ centers.T + (centers**2).sum(1)[None, :]
    return centers, d.argmin(axis=1)


def pca_axes(cov: np.ndarray, out_dim: int) -> np.ndarray:
    """Top-``out_dim`` principal axes of a covariance matrix, in descending
    eigenvalue order with a deterministic sign convention (max-|coef|
    positive). THE single definition of the axis convention — the
    distributed trainer (``train_spark.fit_pca_spark``) and the oracle twin
    (``twin.fit_pca_lopq``) both call it, so the bitwise builder/oracle
    equivalence of the PCA driver row cannot drift between copies. The
    axes come back C-ordered (``eigh`` hands back Fortran-ordered ones),
    the layout :func:`apply_pca` projects with, so it never copies them."""
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(-eigvals)[:out_dim]
    P = eigvecs[:, order]
    flip = np.sign(P[np.abs(P).argmax(axis=0), np.arange(P.shape[1])])
    flip[flip == 0] = 1.0
    return np.ascontiguousarray(P * flip)


def apply_pca(X: np.ndarray, P: np.ndarray, mu: np.ndarray) -> np.ndarray:
    """PCA-project + re-L2-normalize (reference apply_PCA + renorm idiom,
    model.py:878-978): y = (x - mu) @ P, then unit norm (zero-guarded).
    THE single definition of the projection — the distributed
    ``pca_project`` pass, ``LOPQModelPCA.project_queries``, and the twin
    all call it. A row's result depends only on its own values and those
    of ``P`` and ``mu``: not on their memory layout, because ``P`` is
    normalized to C order (a no-op for the C-ordered axes a fitted or
    reloaded :class:`LOPQModelPCA` holds), and not on how many rows are
    projected together, because the product is an ``einsum`` — BLAS takes
    a matrix-vector kernel for one row and a matrix-matrix kernel for a
    batch, which differ in the last ulp, so a one-row serving query would
    not project like the same row inside a batch. The einsum costs 4-6x
    the BLAS product on a batch at 4096 -> 128 dimensions."""
    P = np.ascontiguousarray(P, dtype=np.float64)
    Y = np.einsum(
        "nd,dk->nk", np.atleast_2d(np.asarray(X, dtype=np.float64)) - mu, P
    )
    norms = np.linalg.norm(Y, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return Y / norms


def eigenvalue_allocation(eigvals: np.ndarray, n_buckets: int) -> np.ndarray:
    """Permutation balancing log-variance across buckets (OPQ §3.2.4 idiom;
    reference model.py:19-71). Greedy: descending eigenvalues, each into the
    open bucket with the smallest current log-product."""
    dim = len(eigvals)
    cap = dim // n_buckets
    order = np.argsort(-eigvals)
    bucket_sums = np.zeros(n_buckets)
    bucket_fill = np.zeros(n_buckets, dtype=int)
    buckets: list[list[int]] = [[] for _ in range(n_buckets)]
    for idx in order:
        open_b = [b for b in range(n_buckets) if bucket_fill[b] < cap]
        b = min(open_b, key=lambda b: (bucket_sums[b], b))
        buckets[b].append(int(idx))
        bucket_sums[b] += np.log(max(eigvals[idx], 1e-12))
        bucket_fill[b] += 1
    return np.array([i for b in buckets for i in b], dtype=np.int64)


@dataclass
class LOPQModel:
    V: int  # coarse centroids per half
    M: int  # total subquantizers (M/2 per half)
    K: int  # centroids per subquantizer
    D: int  # full vector dimension
    Cs: np.ndarray  # (2, V, D/2) coarse codebooks
    Rs: np.ndarray  # (2, V, D/2, D/2) local rotations
    mus: np.ndarray  # (2, V, D/2) residual means
    subs: np.ndarray  # (M, K, D/M) subquantizer codebooks

    # -- derived dims ------------------------------------------------------
    @property
    def half(self) -> int:
        return self.D // 2

    @property
    def sub_dim(self) -> int:
        return self.D // self.M

    @property
    def subs_per_half(self) -> int:
        return self.M // 2

    # -- training ----------------------------------------------------------
    @classmethod
    def fit(
        cls,
        X: np.ndarray,
        V: int = 8,
        M: int = 8,
        K: int = 16,
        seed: int = 42,
        n_iter: int = 25,
    ) -> "LOPQModel":
        X = np.asarray(X, dtype=np.float64)
        n, D = X.shape
        # same contract as train_spark.fit_spark (review r13): odd M passed
        # the modular guard and crashed deep in training; M=1 divided by zero
        # inside the guard expression itself
        if M < 2 or M % 2 or D % 2 or D % M or (D // 2) % (M // 2):
            raise ValueError(
                f"D={D} must split into 2 halves and M={M} even subvectors "
                "(M >= 2, M % 2 == 0, D % M == 0)"
            )
        half = D // 2
        spl = M // 2
        Cs = np.empty((2, V, half))
        Rs = np.empty((2, V, half, half))
        mus = np.empty((2, V, half))
        projected = np.empty((2, n, half))
        for h in range(2):
            Xh = X[:, h * half : (h + 1) * half]
            C, _ = kmeans(Xh, V, seed=seed + h, n_iter=n_iter)
            # re-assign against the FINAL codebook (the reference uses
            # KMeans.predict after fit, model.py:290-318) — also what the
            # distributed trainer computes, so residual stats agree even
            # when Lloyd hasn't fully converged within n_iter.
            d = (Xh**2).sum(1)[:, None] - 2 * Xh @ C.T + (C**2).sum(1)[None, :]
            assign = d.argmin(axis=1)
            Cs[h] = C
            resid = Xh - C[assign]
            for v in range(V):
                mask = assign == v
                r = resid[mask]
                if r.shape[0] < half:
                    # too few points for a stable covariance: identity
                    # rotation, zero mean (reference model.py:195-198 idiom)
                    mu = np.zeros(half)
                    R = np.eye(half)
                else:
                    mu = r.mean(axis=0)
                    c = r - mu
                    cov = c.T @ c / max(len(c) - 1, 1)
                    eigvals, eigvecs = np.linalg.eigh(cov)
                    perm = eigenvalue_allocation(eigvals, spl)
                    R = eigvecs[:, perm].T
                mus[h, v] = mu
                Rs[h, v] = R
                if mask.any():
                    projected[h, mask] = (resid[mask] - mu) @ Rs[h, v].T
        # subquantizers: per split over pooled projected residuals
        sub_dim = D // M
        subs = np.empty((M, K, sub_dim))
        for m in range(M):
            h = m // spl
            s = m % spl
            P = projected[h][:, s * sub_dim : (s + 1) * sub_dim]
            subs[m], _ = kmeans(P, K, seed=seed + 100 + m, n_iter=n_iter)
        return cls(V=V, M=M, K=K, D=D, Cs=Cs, Rs=Rs, mus=mus, subs=subs)

    # -- encode ------------------------------------------------------------
    def coarse_assign(self, X: np.ndarray) -> np.ndarray:
        """(n, 2) coarse codes — argmin squared L2 per half (reference
        utils.py:33-53 ``get_code_nearest`` idiom, vectorized)."""
        X = np.asarray(X, dtype=np.float64)
        out = np.empty((X.shape[0], 2), dtype=np.int64)
        for h in range(2):
            Xh = X[:, h * self.half : (h + 1) * self.half]
            C = self.Cs[h]
            d = (Xh**2).sum(1)[:, None] - 2 * Xh @ C.T + (C**2).sum(1)[None, :]
            out[:, h] = d.argmin(axis=1)
        return out

    def project_residuals(self, X: np.ndarray, coarse: np.ndarray) -> np.ndarray:
        """Rotated, centered residuals (n, D) given coarse codes
        (reference model.py:209-240 project)."""
        X = np.asarray(X, dtype=np.float64)
        n = X.shape[0]
        P = np.empty((n, self.D))
        for h in range(2):
            Xh = X[:, h * self.half : (h + 1) * self.half]
            c = coarse[:, h]
            resid = Xh - self.Cs[h][c]
            centered = resid - self.mus[h][c]
            # per-row rotation by the cluster's R: einsum over (n,half)x(n,half,half)
            P[:, h * self.half : (h + 1) * self.half] = np.einsum(
                "nij,nj->ni", self.Rs[h][c], centered
            )
        return P

    def sub_distances(self, P: np.ndarray):
        """Per subquantizer m, in order: the (n, K) squared L2 distances of
        projected residual split m to subquantizer m's centroids."""
        sd = self.sub_dim
        for m in range(self.M):
            h, s = divmod(m, self.subs_per_half)
            Pm = P[:, h * self.half + s * sd : h * self.half + (s + 1) * sd]
            S = self.subs[m]
            yield (Pm**2).sum(1)[:, None] - 2 * Pm @ S.T + (S**2).sum(1)[None, :]

    def encode_fine(self, P: np.ndarray) -> np.ndarray:
        """(n, M) fine codes over projected residual splits."""
        return np.stack([d.argmin(axis=1) for d in self.sub_distances(P)], axis=1)

    def encode(self, X: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        coarse = self.coarse_assign(X)
        fine = self.encode_fine(self.project_residuals(X, coarse))
        return coarse, fine

    def cell_id(self, coarse: np.ndarray) -> np.ndarray:
        return coarse[:, 0] * self.V + coarse[:, 1]

    # -- decode / search ---------------------------------------------------
    def reconstruct(self, coarse: np.ndarray, fine: np.ndarray) -> np.ndarray:
        """codes -> approximate vectors (reference model.py:643-671)."""
        n = coarse.shape[0]
        Xh = np.empty((n, self.D))
        sd = self.sub_dim
        for h in range(2):
            # assemble projected residual from subquantizer centroids
            P = np.empty((n, self.half))
            for s in range(self.subs_per_half):
                m = h * self.subs_per_half + s
                P[:, s * sd : (s + 1) * sd] = self.subs[m][fine[:, m]]
            c = coarse[:, h]
            # invert rotation (orthonormal: R^-1 = R^T), un-center, add coarse
            resid = np.einsum("nji,nj->ni", self.Rs[h][c], P) + self.mus[h][c]
            Xh[:, h * self.half : (h + 1) * self.half] = resid + self.Cs[h][c]
        return Xh

    def coarse_distances(self, q: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Per-half squared L2 from query to every coarse centroid."""
        q = np.asarray(q, dtype=np.float64)
        out = []
        for h in range(2):
            qh = q[h * self.half : (h + 1) * self.half]
            out.append(((self.Cs[h] - qh) ** 2).sum(axis=1))
        return out[0], out[1]

    def adc_luts(self, q: np.ndarray, cells) -> np.ndarray:
        """(n_cells, M, K) ADC tables: squared distances from the query's
        projected residual (w.r.t. each cell's rotations) to every
        subquantizer centroid (reference search.py:137-177, memoized per
        coarse split). Half h's M/2 rows depend only on (q_h, c_h), so each
        distinct coarse index of each half is projected and tabled ONCE —
        a query's visited cells share a handful of c1/c2 values — and a
        cell's table is its two half tables stacked."""
        cells = np.asarray(cells, dtype=np.int64)
        q = np.asarray(q, dtype=np.float64)
        spl, sd = self.subs_per_half, self.sub_dim
        out = np.empty((len(cells), self.M, self.K))
        for h, c in enumerate((cells // self.V, cells % self.V)):
            # a query visits at most a few dozen cells: a Python set beats
            # np.unique's sort-based path several times at that size
            u = np.array(sorted(set(c.tolist())), dtype=np.int64)
            inv = np.searchsorted(u, c)
            qh = q[h * self.half : (h + 1) * self.half]
            centered = qh - self.Cs[h][u] - self.mus[h][u]
            P = np.einsum("nij,nj->ni", self.Rs[h][u], centered)
            P = P.reshape(len(u), spl, 1, sd)
            subs_h = self.subs[h * spl : (h + 1) * spl]
            tables = ((subs_h[None] - P) ** 2).sum(-1)  # (len(u), M/2, K)
            out[:, h * spl : (h + 1) * spl] = tables[inv]
        return out

    # -- (de)serialization -------------------------------------------------
    def to_arrays(self) -> dict[str, np.ndarray]:
        return {
            "meta": np.array([self.V, self.M, self.K, self.D], dtype=np.int64),
            "Cs": self.Cs,
            "Rs": self.Rs,
            "mus": self.mus,
            "subs": self.subs,
        }

    @classmethod
    def from_arrays(cls, arrays: dict[str, np.ndarray]) -> "LOPQModel":
        V, M, K, D = (int(x) for x in arrays["meta"])
        return cls(
            V=V, M=M, K=K, D=D,
            Cs=arrays["Cs"], Rs=arrays["Rs"], mus=arrays["mus"], subs=arrays["subs"],
        )


@dataclass
class LOPQModelPCA:
    """PCA-composed LOPQ model (reference ``model.py`` LOPQModelPCA; the
    searcher PCA-projects the query when handed this type,
    ``lopq/lopq/search.py:198-200``).

    ``lopq`` is trained over PCA-projected (+ re-L2-normalized) vectors;
    queries arrive in the ORIGINAL feature space and are projected
    internally by ``search.search`` / ``ServingSearcher`` so a caller can
    hand one model object end-to-end (VERDICT r1 "missing" #4). The
    projection matches ``train_spark.pca_project`` exactly: y = (x - mu) @ P,
    then L2 renorm (reference apply_PCA + renorm idiom, model.py:878-978)."""

    lopq: LOPQModel
    P: np.ndarray  # (D_in, out_dim) principal axes, columns
    mu: np.ndarray  # (D_in,) training mean

    def __post_init__(self) -> None:
        # stored once in the layout apply_pca projects with, so projecting
        # a query never copies P (fitted and reloaded models alike)
        self.P = np.ascontiguousarray(self.P, dtype=np.float64)
        self.mu = np.ascontiguousarray(self.mu, dtype=np.float64)

    def project_queries(self, Q: np.ndarray) -> np.ndarray:
        """(n, D_in) original-space queries -> (n, out_dim) projected+renormed."""
        return apply_pca(Q, self.P, self.mu)
