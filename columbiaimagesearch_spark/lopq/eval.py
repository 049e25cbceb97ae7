"""Retrieval-quality harness: numpy ground-truth kernels + distributed
renderings of the reference's model-quality diagnostics.

Mirrors the reference's eval semantics (``/root/reference/lopq/lopq/eval.py``):
exact brute-force neighbors as ground truth (:7-38 ``compute_all_neighbors``)
and recall@R against it (:92-142 ``get_recall``) as numpy kernels the tests
and the ``a5_recall_stats`` driver row build on, plus the remaining three
diagnostics as one-pass Spark computations:

- :func:`same_cell_neighbor_rate` — fraction of (point, true-NN) pairs that
  land in the same coarse cell (reference ``eval.py:50-63``): the coarse
  quantizer's ceiling on single-cell recall.
- :func:`reconstruction_code_stability` — fraction of points whose
  reconstruction re-encodes to the same codes (reference ``eval.py:77-89``):
  a fixed-point sanity check of encode/decode.
- :func:`subquantizer_distortion` — mean squared distance of projected
  residual splits to their assigned subquantizer centroid, per subquantizer
  (reference ``eval.py:145-161``): the per-subquantizer quantization error
  that eigenvalue allocation is supposed to balance.

Scale shape: the joins carry (id, cell) ints only; the two model-dependent
metrics come from one ``mapInArrow`` pass with the broadcast model emitting
O(batches × M) partial rows — nothing vector-sized shuffles, the aggregates
are partial+final sums.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import arrow_vec
from .model import LOPQModel


def brute_force_topk(
    Q: np.ndarray, X: np.ndarray, ids: np.ndarray, k: int
) -> list[list[int]]:
    """Exact squared-L2 top-k ids per query row (ties broken by id)."""
    Q = np.asarray(Q, dtype=np.float64)
    X = np.asarray(X, dtype=np.float64)
    out = []
    for q in Q:
        d = ((X - q) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))[:k]
        out.append([int(ids[i]) for i in order])
    return out


def recall_at_k(
    retrieved: dict[int, list[int]], truth: dict[int, list[int]], k: int
) -> float:
    """Mean fraction of true top-k found in the retrieved top-k."""
    vals = []
    for qid, true_ids in truth.items():
        got = set(retrieved.get(qid, [])[:k])
        vals.append(len(got & set(true_ids[:k])) / max(len(true_ids[:k]), 1))
    return float(np.mean(vals)) if vals else 0.0


def same_cell_neighbor_stats(codes: DataFrame, nns: DataFrame) -> tuple[int, int]:
    """(n_pairs, n_same): how many (id, nn_id) pairs of ``nns`` have both
    sides sharing a coarse cell in the ``codes`` relation (id, cell, ...).

    Two LEFT equi-joins on id — a pair whose either endpoint is missing
    from ``codes`` counts as NOT-same-cell (it stays in the denominator),
    matching the reference's all-pairs fraction even when codes covers only
    a subset of the corpus. The shuffle carries (id, cell) ints; the final
    aggregate is one partial+final count."""
    a = codes.select("id", F.col("cell").alias("cell_a"))
    b = codes.select(F.col("id").alias("nn_id"), F.col("cell").alias("cell_b"))
    row = (
        nns.select("id", "nn_id")
        .join(a, "id", "left")
        .join(b, "nn_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("cell_a").isNotNull() & (F.col("cell_a") == F.col("cell_b")))
                .cast("long")
            ).alias("same"),
        )
        .collect()[0]
    )
    return int(row["n"]), int(row["same"] or 0)


def same_cell_neighbor_rate(codes: DataFrame, nns: DataFrame) -> float:
    """Fraction form of :func:`same_cell_neighbor_stats` (reference
    ``eval.py:50-63``)."""
    n, same = same_cell_neighbor_stats(codes, nns)
    return float(same) / float(n) if n else 0.0


def exact_nn_block(
    ids_all: np.ndarray, X_all: np.ndarray, ids_blk: np.ndarray, X_blk: np.ndarray
) -> np.ndarray:
    """For each row of ``X_blk``, the id of its exact nearest neighbor in
    ``X_all`` EXCLUDING itself, ties broken by smallest id.

    Shared by the distributed ``exact_nn_pairs`` pass and the NumPy oracle
    twin. Distances use the BLAS form (‖x‖² − 2x·y + ‖y‖²) computed one
    query ROW at a time (GEMV): a batch GEMM's blocking makes the result
    depend on the batch SHAPE, so the distributed Arrow batches and the
    twin's fixed-size blocks could disagree by ~1 ulp and argmin two
    near-tied neighbors differently — a latent hash-flake. The per-row
    form depends only on (x, X_all), so both engines are bitwise identical
    under ANY batching; exact ties resolve by the smallest-id lexsort."""
    sq_all = (X_all**2).sum(1)
    out = np.empty(len(ids_blk), dtype=np.int64)
    for i in range(len(ids_blk)):
        x = X_blk[i]
        d = float(x @ x) - 2.0 * (X_all @ x) + sq_all
        d[ids_all == ids_blk[i]] = np.inf  # exclude self
        out[i] = ids_all[np.lexsort((ids_all, d))[0]]
    return out


def exact_nn_pairs(
    vec_df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, nn_id): every vector's exact nearest neighbor (self excluded),
    computed distributed — the corpus matrix is broadcast and each Arrow
    batch scores its rows against it via the shared ``exact_nn_block``
    kernel.

    Scale shape: broadcast-corpus brute force is the small-N oracle tier
    (reference ``eval.py:7-38`` compute_all_neighbors is the same
    all-pairs semantics); past broadcast size the blocked block-join of
    ``operators/similarity.emb_near_dup_pairs`` is the scale path."""
    spark = vec_df.sparkSession
    corpus = vec_df.select(id_col, vec_col).toArrow()
    ids_all = np.asarray(corpus.column(id_col), dtype=np.int64)
    X_all = arrow_vec.vectors(corpus, vec_col, "exact_nn_pairs")
    order = np.argsort(ids_all, kind="stable")
    b_all = spark.sparkContext.broadcast((ids_all[order], X_all[order]))

    def nn(batches):
        a_ids, a_X = b_all.value
        for batch in batches:
            if not batch.num_rows:
                continue
            blk_ids = np.asarray(batch.column(id_col), dtype=np.int64)
            blk_X = arrow_vec.vectors(batch, vec_col, "exact_nn_pairs")
            yield pa.record_batch(
                {"id": blk_ids, "nn_id": exact_nn_block(a_ids, a_X, blk_ids, blk_X)}
            )

    return vec_df.select(id_col, vec_col).mapInArrow(nn, "id long, nn_id long")


def reconstruction_code_stability(
    vec_df: DataFrame,
    model: LOPQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Fraction of vectors whose encode → reconstruct → encode round trip
    reproduces the original (coarse, fine) codes — one Arrow pass with the
    broadcast model, per-partition (n, same) partials, driver sum."""
    n, same = reconstruction_code_stability_stats(vec_df, model, id_col, vec_col)
    return float(same) / float(n) if n else 0.0


def reconstruction_code_stability_stats(
    vec_df: DataFrame,
    model: LOPQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, int]:
    """(n, n_stable) integer form of :func:`reconstruction_code_stability`
    — exact counts the driver hash can compare without float tolerance."""
    n, same, _ = _model_pass(
        vec_df, model, id_col, vec_col, "reconstruction_code_stability_stats"
    )
    return n, same


def subquantizer_distortion(
    vec_df: DataFrame,
    model: LOPQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """(M,) mean squared quantization error per subquantizer: project every
    vector's residual, take each split's squared L2 distance to its NEAREST
    subquantizer centroid, and average over the corpus (reference
    ``eval.py:145-161`` — there via a full residual recompute per split;
    here one Arrow pass emitting M partial sums per partition)."""
    n, _, sums = _model_pass(vec_df, model, id_col, vec_col, "subquantizer_distortion")
    out = np.zeros(model.M)
    for m, s in sums.items():
        out[m] = s / float(n) if n else 0.0
    return out


def model_pass_stats(
    vec_df: DataFrame,
    model: LOPQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, int, list[tuple[int, int, float]]]:
    """(n, n_stable, [(m, n, mean_distortion)]) — the reconstruction
    stability counts AND the per-subquantizer distortion from ONE corpus
    pass (both are per-vector functions of the broadcast model, so
    splitting them into separate jobs pays the scan twice plus a count
    job; at 100 TB that is three reads for one). Distortions are rounded
    to 4dp."""
    n, same, sums = _model_pass(vec_df, model, id_col, vec_col, "model_pass_stats")
    dist_rows = [
        (m, n, round(sums[m] / n, 4) if n else 0.0)
        for m in range(model.M)
        if m in sums
    ]
    return n, same, dist_rows


def _model_pass(
    vec_df: DataFrame, model: LOPQModel, id_col: str, vec_col: str, caller: str
) -> tuple[int, int, dict[int, float]]:
    """(n, n_stable, {m: Σ squared distance of subvector m to its nearest
    subquantizer centroid}) over the corpus, in one Arrow pass with the
    broadcast model: per partition, encode → reconstruct → re-encode counts
    the vectors whose codes survive the round trip, and the projected
    residual splits sum their distortion. Partials are summed per ``m``
    (row ``m = -1`` carries the stable count)."""
    spark = vec_df.sparkSession
    b_model = spark.sparkContext.broadcast(model.to_arrays())

    def partials(batches):
        m = LOPQModel.from_arrays(b_model.value)
        n = same = 0
        sums = np.zeros(m.M)
        for batch in batches:
            if not batch.num_rows:
                continue
            X = arrow_vec.vectors(batch, vec_col, caller)
            # encode's own steps, so the split distances also give distortion
            c1 = m.coarse_assign(X)
            dists = list(m.sub_distances(m.project_residuals(X, c1)))
            f1 = np.stack([d.argmin(axis=1) for d in dists], axis=1)
            c2, f2 = m.encode(m.reconstruct(c1, f1))
            ok = (c1 == c2).all(axis=1) & (f1 == f2).all(axis=1)
            n += len(X)
            same += int(ok.sum())
            sums += [d.min(axis=1).sum() for d in dists]
        yield pa.record_batch(
            {
                "m": np.arange(-1, m.M, dtype=np.int64),
                "n": np.full(m.M + 1, n, dtype=np.int64),
                "s": np.concatenate([[float(same)], sums]),
            }
        )

    rows = (
        vec_df.select(id_col, vec_col)
        .mapInArrow(partials, "m long, n long, s double")
        .groupBy("m")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        .collect()
    )
    by_m = {int(r["m"]): (int(r["n"] or 0), float(r["s"] or 0.0)) for r in rows}
    n, same = by_m.pop(-1, (0, 0.0))
    return n, int(same), {m: s for m, (_, s) in by_m.items()}
