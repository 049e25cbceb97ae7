"""Single-node NumPy oracle twin for the model-dependent registry queries.

The LOPQ/IVF queries are not SQL-expressible (their expected output depends
on a deterministically-trained model), so their DuckDB oracles cannot be
static SQL over the base tables. Instead, this module recomputes each
query's expected rows with an independent single-node pass — pyarrow
parquet read + the same pure-NumPy kernels the distributed path broadcasts
(``model.py`` / ``search.py``) — and emits them as a ``VALUES`` literal for
DuckDB. The driver then hash-compares the distributed Spark result against
the single-node twin: what is being verified is the distributed plumbing
(mapInPandas batching, broadcast probe joins, window ranking, partial
aggregation), exactly the "driver fit ≡ distributed fit" parity the local
tests assert, made driver-visible (VERDICT r1 next-step #9).

Float discipline (why the hash can match exactly): every float emitted here
is computed by a kernel whose result is bitwise identical regardless of
Arrow batch slicing — elementwise ops, ``np.einsum`` residual projection,
and the shared ``adc_batch_dists`` gather (verified batch-shape-independent;
BLAS ``@`` matmul is NOT, so matmul only feeds integer ``argmin`` codes
where a ~1e-14 ulp wobble cannot flip well-separated assignments). Sums
whose accumulation order is partition-dependent (a3 moments) are rounded to
4 decimals on both sides before comparison.

Oracles resolve lazily: ``registry.QuerySpec.oracle`` holds the
``(sf_dir) -> SQL`` callables defined here; the driver materializes them via
``oracle_sql()`` against $SPARK_GRAFT_ORACLE_SF_DIR (its sf0.01 tier).
"""

from __future__ import annotations

import os
from typing import Any

import numpy as np
import pyarrow.parquet as pq

from .. import cache
from .model import LOPQModel, LOPQModelPCA, apply_pca, pca_axes
from .search import adc_batch_dists, multisequence_cells

# Fixture constants — single source of truth, imported by lopq/queries.py
# and operators/ann_ivf.py so the Spark builders and this twin can never
# drift apart. K=256 matches the reference's subquantizer default
# (lopq/lopq/model.py fit defaults / conf subquantizer_clusters); measured
# on the sf0.01 fixture it lifts ADC recall@10 from 0.388 (K=32) to 0.625
# — the quantization-error ceiling, since quota=300 already probes far
# past the answer set. Codes stay ARRAY<INT>, LUTs stay KB-scale.
FIXTURE_PARAMS = {"V": 8, "M": 8, "K": 256, "seed": 42}
N_QUERIES = 8
QUOTA = 300
TOP_K = 10
RERANK_NB = 100
SAMPLE_LIMIT = 20000
IVF_CELLS = 16
IVF_PROBE = 6

# Distributed-training parity row (V1/V5/V6): the exact params proven
# run-stable by tests/test_train_spark.py — with the corpus inside
# SAMPLE_LIMIT, fit_spark's full-corpus Lloyd sees the same rows as the
# driver fit, so codes are identical (allclose centroids -> equal argmin).
TRAIN_PARAMS = {"V": 4, "M": 4, "K": 8, "seed": 7, "n_iter": 8}

# PCA-composed search row (V7): PCA dims + the LOPQ trained over the
# projected space. out_dim must satisfy the D-split constraints of fit.
PCA_DIM = 16
PCA_LOPQ_PARAMS = {"V": 4, "M": 4, "K": 8, "seed": 11, "n_iter": 8}
PCA_QUOTA = 120


def fixture_paths(sf_dir: str) -> list[str]:
    """The files every fixture-derived value (model, codes, IVF index,
    this twin's state) is a function of: the memo stamp for ``cache.memo``."""
    return [os.path.join(sf_dir, "embeddings.parquet")]


def _state(sf_dir: str) -> dict[str, Any]:
    """Per-fixture state: corpus, fixture model, codes, IVF centroids."""

    def build() -> dict[str, Any]:
        t = pq.read_table(fixture_paths(sf_dir)[0])
        ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
        X = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
        order = np.argsort(ids, kind="stable")
        ids, X = ids[order], X[order]
        # fixture model: same bounded ordered sample as queries.fixture_model
        model = LOPQModel.fit(X[:SAMPLE_LIMIT], **FIXTURE_PARAMS)
        coarse, fine = model.encode(X)
        cells = model.cell_id(coarse)
        return {
            "ids": ids,
            "X": X,
            "model": model,
            "coarse": coarse,
            "fine": fine,
            "cells": cells,
        }

    return cache.memo("twin", None, fixture_paths(sf_dir), build)


def _values_sql(rows: list[tuple], cols: list[tuple[str, str]]) -> str:
    """Render rows as `SELECT * FROM (VALUES ...) t(...)` with every value
    explicitly CAST so DuckDB's column types match the Spark schema."""

    def lit(v: Any, typ: str) -> str:
        if typ == "VARCHAR":
            escaped = str(v).replace("'", "''")
            return f"CAST('{escaped}' AS VARCHAR)"
        if typ == "DOUBLE":
            # quote the literal: DuckDB parses a bare numeric literal as
            # DECIMAL first (which drops the last ulp of a 17-digit value);
            # the string -> DOUBLE cast is a correctly-rounded strtod, so
            # repr()'s shortest round-trip decimal comes back bitwise equal
            return f"CAST('{v!r}' AS DOUBLE)"
        return f"CAST({v!r} AS {typ})"

    body = ",\n".join(
        "(" + ", ".join(lit(v, t) for v, (_, t) in zip(row, cols)) + ")"
        for row in rows
    )
    names = ", ".join(name for name, _ in cols)
    return f"SELECT * FROM (VALUES\n{body}\n) AS t({names})"


# public alias: other operator families (textstats fingerprint) emit their
# own VALUES oracles through the same renderer
values_sql = _values_sql


def _queries_of(st: dict[str, Any]) -> tuple[np.ndarray, np.ndarray]:
    qmask = st["ids"] < N_QUERIES
    return st["ids"][qmask], st["X"][qmask]


def _score_visited(
    model: LOPQModel, q: np.ndarray, visited: list[int], ids: np.ndarray,
    cells: np.ndarray, fine: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """(ids, ADC dists) of every corpus row in the ``visited`` cells, in
    visited order: one ``adc_luts`` call and one shared-kernel gather, the
    same two calls a serving shard makes per visit."""
    masks = [cells == cell for cell in visited]
    table = np.repeat(np.arange(len(visited)), [int(m.sum()) for m in masks])
    return (
        np.concatenate([ids[m] for m in masks]),
        adc_batch_dists(
            model.adc_luts(q, visited), table,
            np.concatenate([fine[m] for m in masks]),
        ),
    )


def _search_rows(
    st: dict[str, Any], rerank_nb: int = 0
) -> list[tuple]:
    """Twin of search.search over the fixture codes: multisequence probe,
    shared ADC gather kernel, (dist, id) lexsort top-k; optional exact
    rerank. Bitwise-identical values to the distributed pass."""
    model: LOPQModel = st["model"]
    ids, X, cells, fine = st["ids"], st["X"], st["cells"], st["fine"]
    counts: dict[int, int] = {
        int(c): int(n) for c, n in zip(*np.unique(cells, return_counts=True))
    }
    qids, Q = _queries_of(st)
    out: list[tuple] = []
    for qid, q in zip(qids, Q):
        d1, d2 = model.coarse_distances(q)
        visited = [
            c
            for c in multisequence_cells(d1, d2, counts, QUOTA)
            if counts.get(c, 0)
        ]
        cand_ids, cand_dists = _score_visited(model, q, visited, ids, cells, fine)
        if rerank_nb:
            keep = np.lexsort((cand_ids, cand_dists))[:rerank_nb]
            short_ids, short_adc = cand_ids[keep], cand_dists[keep]
            pos = np.searchsorted(ids, short_ids)
            exact = ((X[pos] - q) ** 2).sum(axis=1)
            top = np.lexsort((short_ids, exact))[:TOP_K]
            out.extend(
                (int(qid), r + 1, int(short_ids[i]), float(short_adc[i]), float(exact[i]))
                for r, i in enumerate(top)
            )
        else:
            top = np.lexsort((cand_ids, cand_dists))[:TOP_K]
            out.extend(
                (int(qid), r + 1, int(cand_ids[i]), float(cand_dists[i]))
                for r, i in enumerate(top)
            )
    return out


# -- per-query oracle generators (sf_dir -> SQL) ----------------------------


def lopq_encode_codes_sql(sf_dir: str) -> str:
    # composed from the shared row/column renderers (review r13: this was
    # a verbatim copy of _codes_rows/_CODES_COLS — a schema tweak applied
    # to one desynchronized the two codes oracles)
    st = _state(sf_dir)
    return _values_sql(
        _codes_rows(st["ids"], st["coarse"], st["cells"], st["fine"]),
        _CODES_COLS,
    )


def lopq_search_topk_sql(sf_dir: str) -> str:
    rows = _search_rows(_state(sf_dir))
    return _values_sql(
        rows,
        [
            ("qid", "BIGINT"),
            ("rank", "INTEGER"),
            ("id", "BIGINT"),
            ("adc_dist", "DOUBLE"),
        ],
    )


def lopq_search_rerank_sql(sf_dir: str) -> str:
    rows = _search_rows(_state(sf_dir), rerank_nb=RERANK_NB)
    return _values_sql(
        rows,
        [
            ("qid", "BIGINT"),
            ("rank", "INTEGER"),
            ("id", "BIGINT"),
            ("adc_dist", "DOUBLE"),
            ("exact_dist", "DOUBLE"),
        ],
    )


def a5_recall_stats_sql(sf_dir: str) -> str:
    st = _state(sf_dir)
    ids, X = st["ids"], st["X"]
    qids, Q = _queries_of(st)
    approx = {}  # qid -> ranked id list
    for qid, rank, vid, _ in _search_rows(st):
        approx.setdefault(qid, []).append(vid)
    truth = {}
    for qid, q in zip(qids, Q):
        d = ((X - q) ** 2).sum(axis=1)
        top = np.lexsort((ids, d))[:TOP_K]
        truth[int(qid)] = [int(ids[i]) for i in top]
    rows = []
    nq = len(qids)
    for k in (1, 5, TOP_K):
        hits = sum(
            len(set(approx[q][:k]) & set(truth[q][:k])) for q in truth
        )
        rows.append((k, nq, hits, hits / float(nq * k)))
    return _values_sql(
        rows,
        [
            ("k", "INTEGER"),
            ("n_queries", "INTEGER"),
            ("hits", "BIGINT"),
            ("recall", "DOUBLE"),
        ],
    )


def a3_residual_moments_sql(sf_dir: str) -> str:
    st = _state(sf_dir)
    model: LOPQModel = st["model"]
    X = st["X"][:, : model.half]
    C = model.Cs[0]
    d = (X**2).sum(1)[:, None] - 2 * X @ C.T + (C**2).sum(1)[None, :]
    assign = d.argmin(axis=1)
    rows = []
    for c in range(model.V):
        mask = assign == c
        if not mask.any():
            continue
        resid = X[mask] - C[c]
        s = resid.sum(axis=0)
        op = resid.T @ resid
        rows.append(
            (
                int(c),
                int(mask.sum()),
                round(float(np.linalg.norm(s)), 4),
                round(float(np.trace(op)), 4),
            )
        )
    return _values_sql(
        rows,
        [
            ("cluster", "INTEGER"),
            ("n", "BIGINT"),
            ("resid_sum_norm", "DOUBLE"),
            ("cov_trace", "DOUBLE"),
        ],
    )


def _codes_rows(ids, coarse, cells, fine) -> list[tuple]:
    return [
        (int(i), int(c[0]), int(c[1]), int(cell), ",".join(str(int(x)) for x in f))
        for i, c, cell, f in zip(ids, coarse, cells, fine)
    ]


_CODES_COLS = [
    ("id", "BIGINT"),
    ("c1", "INTEGER"),
    ("c2", "INTEGER"),
    ("cell", "INTEGER"),
    ("fine_csv", "VARCHAR"),
]


def _guard_sample_bound(st: dict[str, Any], what: str) -> None:
    """The train/PCA twin equivalence (driver fit == distributed fit) holds
    only while the whole corpus fits in the bounded init sample — true at
    every correctness tier (<= 2000 rows vs SAMPLE_LIMIT=20000). Past the
    bound the distributed fit intentionally diverges (full-corpus Lloyd is
    its whole point) and parity must be asserted statistically
    (tests/test_train_spark.py), not bitwise."""
    if len(st["ids"]) > SAMPLE_LIMIT:
        raise ValueError(
            f"{what}: corpus has {len(st['ids'])} rows > SAMPLE_LIMIT="
            f"{SAMPLE_LIMIT}; the bitwise twin oracle is only valid when the "
            "driver sample covers the corpus — use the statistical parity "
            "tests at this scale"
        )


def train_model(st: dict[str, Any]) -> LOPQModel:
    """Driver-side twin of ``train_spark.fit_spark`` under the sample bound:
    same ordered rows, same seed/params -> identical codes (the exact
    equivalence tests/test_train_spark.py asserts)."""
    if "train_model" not in st:
        _guard_sample_bound(st, "lopq_train_distributed_codes")
        st["train_model"] = LOPQModel.fit(st["X"][:SAMPLE_LIMIT], **TRAIN_PARAMS)
    return st["train_model"]


def lopq_train_distributed_codes_sql(sf_dir: str) -> str:
    st = _state(sf_dir)
    m = train_model(st)
    coarse, fine = m.encode(st["X"])
    return _values_sql(
        _codes_rows(st["ids"], coarse, m.cell_id(coarse), fine), _CODES_COLS
    )


def fit_pca_lopq(X: np.ndarray) -> LOPQModelPCA:
    """Deterministic driver-side PCA + LOPQ composition (reference
    LOPQModelPCA; train_pca model.py:242-287 + apply_PCA/renorm idiom
    :878-978), built on the SHARED kernels ``model.pca_axes`` /
    ``model.apply_pca`` (the same functions the distributed trainer and
    projector call — the axis/sign convention and the renorm exist in one
    place). Pure function of X — the Spark builder and this twin call it
    on the same sorted rows, so both hold the identical model and the
    oracle verifies only the distributed plumbing."""
    mu = X.mean(axis=0)
    Xc = X - mu
    cov = Xc.T @ Xc / max(len(X) - 1, 1)
    P = pca_axes(cov, PCA_DIM)
    Y = apply_pca(X, P, mu)
    lopq = LOPQModel.fit(Y[:SAMPLE_LIMIT], **PCA_LOPQ_PARAMS)
    return LOPQModelPCA(lopq=lopq, P=P, mu=mu)


def pca_model(st: dict[str, Any]) -> LOPQModelPCA:
    if "pca_model" not in st:
        _guard_sample_bound(st, "lopq_pca_search_topk")
        st["pca_model"] = fit_pca_lopq(st["X"])
    return st["pca_model"]


def lopq_pca_search_topk_sql(sf_dir: str) -> str:
    """Twin of the PCA-composed search: project the corpus (full-matrix),
    project each QUERY through ``project_queries`` as the distributed
    search does (``apply_pca`` projects a row alike in any batch, so the
    LUT floats match bitwise), then the shared multisequence + ADC-gather
    path."""
    st = _state(sf_dir)
    pm = pca_model(st)
    lopq = pm.lopq
    Y = apply_pca(st["X"], pm.P, pm.mu)  # shared kernel — see model.apply_pca
    coarse, fine = lopq.encode(Y)
    cells = lopq.cell_id(coarse)
    counts: dict[int, int] = {
        int(c): int(n) for c, n in zip(*np.unique(cells, return_counts=True))
    }
    ids = st["ids"]
    qids, Q_orig = _queries_of(st)
    rows: list[tuple] = []
    for qid, q in zip(qids, Q_orig):
        qp = pm.project_queries(q)[0]
        d1, d2 = lopq.coarse_distances(qp)
        visited = [
            c
            for c in multisequence_cells(d1, d2, counts, PCA_QUOTA)
            if counts.get(c, 0)
        ]
        cand_ids, cand_dists = _score_visited(lopq, qp, visited, ids, cells, fine)
        top = np.lexsort((cand_ids, cand_dists))[:TOP_K]
        rows.extend(
            (int(qid), r + 1, int(cand_ids[i]), float(cand_dists[i]))
            for r, i in enumerate(top)
        )
    return _values_sql(
        rows,
        [
            ("qid", "BIGINT"),
            ("rank", "INTEGER"),
            ("id", "BIGINT"),
            ("adc_dist", "DOUBLE"),
        ],
    )


def lopq_eval_diagnostics_sql(sf_dir: str) -> str:
    """Twin of the three model-quality diagnostics (reference
    ``lopq/lopq/eval.py:50-63,77-89,145-161``) over the fixture model:

    - same-cell NN rate: exact 1-NN per corpus vector via the SHARED
      ``eval.exact_nn_block`` elementwise kernel (bitwise identical to the
      distributed pass regardless of batching), then integer same-cell
      counts + raw IEEE division;
    - reconstruction code stability: encode→reconstruct→encode integer
      counts (matmul feeds only argmin codes);
    - per-subquantizer distortion: the same projection/LUT math as the
      distributed kernel, mean rounded to 4 decimals on both sides
      (partition-order float sums, a3 discipline)."""
    from .eval import exact_nn_block

    st = _state(sf_dir)
    model: LOPQModel = st["model"]
    ids, X, cells = st["ids"], st["X"], st["cells"]

    # same-cell NN rate (ids are sorted in _state; block through the shared
    # kernel in bounded chunks to cap the n_blk × n × D elementwise tensor)
    cell_of = {int(i): int(c) for i, c in zip(ids, cells)}
    n_pairs = len(ids)
    n_same = 0
    for lo in range(0, len(ids), 256):
        blk = slice(lo, lo + 256)
        nn_ids = exact_nn_block(ids, X, ids[blk], X[blk])
        n_same += sum(
            cell_of[int(i)] == cell_of[int(j)] for i, j in zip(ids[blk], nn_ids)
        )

    # reconstruction code stability
    c1, f1 = st["coarse"], st["fine"]
    R = model.reconstruct(c1, f1)
    c2, f2 = model.encode(R)
    stable = int(((c1 == c2).all(axis=1) & (f1 == f2).all(axis=1)).sum())
    n_rec = len(ids)

    # per-subquantizer distortion — same math as eval.subquantizer_distortion
    P = model.project_residuals(X, model.coarse_assign(X))
    rows: list[tuple] = [
        ("same_cell_nn_rate", -1, n_pairs, n_same / n_pairs if n_pairs else 0.0),
        (
            "reconstruction_code_stability",
            -1,
            n_rec,
            stable / n_rec if n_rec else 0.0,
        ),
    ]
    for sub, d in enumerate(model.sub_distances(P)):
        rows.append(
            ("subquantizer_distortion", sub, n_rec, round(float(d.min(axis=1).mean()), 4))
        )
    return _values_sql(
        rows,
        [
            ("metric", "VARCHAR"),
            ("m", "INTEGER"),
            ("n", "BIGINT"),
            ("value", "DOUBLE"),
        ],
    )


def ivf_cells(st: dict[str, Any]) -> tuple[np.ndarray, np.ndarray]:
    """(centroids, per-vector cell assignment) of the IVF fixture codebook —
    same kmeans kernel / seed / ordered sample as ann_ivf.train_centroids,
    cached per sf-dir state; shared by the IVF search oracle and the
    cluster-balanced sampling oracle."""
    if "ivf" not in st:
        from .model import kmeans

        X = st["X"]
        centroids, _ = kmeans(X[:SAMPLE_LIMIT], IVF_CELLS, seed=42)
        d = (
            (X**2).sum(1)[:, None]
            - 2 * X @ centroids.T
            + (centroids**2).sum(1)[None, :]
        )
        st["ivf"] = (centroids, d.argmin(axis=1))
    return st["ivf"]


def ann_ivf_topk_sql(sf_dir: str) -> str:
    st = _state(sf_dir)
    ids, X = st["ids"], st["X"]
    centroids, cells = ivf_cells(st)
    qids, Q = _queries_of(st)
    rows = []
    for qid, q in zip(qids, Q):
        dq = ((centroids - q) ** 2).sum(axis=1)
        probe = np.argsort(dq, kind="stable")[:IVF_PROBE]
        mask = np.isin(cells, probe)
        cand_ids = ids[mask]
        dist = ((X[mask] - q) ** 2).sum(axis=1)
        top = np.lexsort((cand_ids, dist))[:TOP_K]
        rows.extend(
            (int(qid), r + 1, int(cand_ids[i]), float(dist[i]))
            for r, i in enumerate(top)
        )
    return _values_sql(
        rows,
        [
            ("qid", "BIGINT"),
            ("rank", "INTEGER"),
            ("id", "BIGINT"),
            ("dist", "DOUBLE"),
        ],
    )


CLUSTER_SAMPLE_QUOTA = 40  # per-cluster keep budget


def emb_cluster_sample_sql(sf_dir: str) -> str:
    """Twin of the cluster-balanced diversification sample: IVF cell per
    vector (model-dependent — the reason this oracle is a twin), then a
    deterministic per-cell rank by salted md5 of the id (engine-portable
    integer arithmetic, computed here with hashlib exactly as Spark's
    conv(substring(md5(...),1,15),16,10))."""
    import hashlib

    st = _state(sf_dir)
    _, cells = ivf_cells(st)
    ids = st["ids"]
    hashes = np.array(
        [
            int(hashlib.md5(f"div:{int(i)}".encode()).hexdigest()[:15], 16)
            for i in ids
        ],
        dtype=np.int64,
    )
    rows = []
    for cell in np.unique(cells):
        mask = cells == cell
        cids, chs = ids[mask], hashes[mask]
        order = np.lexsort((cids, chs))
        for r, i in enumerate(order):
            rows.append(
                (
                    int(cids[i]),
                    int(cell),
                    r + 1,
                    bool(r + 1 <= CLUSTER_SAMPLE_QUOTA),
                )
            )
    return _values_sql(
        rows,
        [
            ("vec_id", "BIGINT"),
            ("cell", "INTEGER"),
            ("rnk", "INTEGER"),
            ("keep", "BOOLEAN"),
        ],
    )
