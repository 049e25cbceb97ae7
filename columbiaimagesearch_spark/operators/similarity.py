"""Embedding similarity search over the ``embeddings`` table.

This is the Spark rendering of the reference's core query — ANN over
L2-normalized feature vectors with exact re-ranking
(``searcher/searcher_lopqhbase.py:783-1067``). Three tiers:

1. ``ann_cosine_topk`` — brute-force cosine top-k via a ``mapInArrow``
   pass doing a single numpy matmul per batch (the fast exact path;
   queries broadcast, candidates never shuffled) — the REGISTERED form
   (= the reference's exact rerank / ``lopq/lopq/eval.py:7-38`` ground
   truth).
2. ``ann_cosine_topk_hof`` — same semantics in pure built-ins
   (``zip_with`` + ``aggregate``), the unregistered cross-engine twin kept
   for the plan-equality property test (tests/test_similarity_quality.py).
3. IVF/LOPQ-bucketed search lives in ``..lopq`` — the 100 TB path where only
   (cell, id, code) pairs shuffle, never vectors.

``emb_near_dup_pairs`` is the embedding-cosine near-duplicate filter
(reference near-dup threshold semantics, ``generic_searcher.py:43-45``,
applied pairwise label-blocked); ``emb_lsh_near_dup_pairs`` is its
label-free sibling — random-hyperplane LSH bucketing (Charikar 2002) with
in-bucket exact verification, the 100 TB path when no blocking key exists.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import arrow_vec
from ..lopq import twin as twin_mod
from ..registry import register
from ..sources import load_table

TOP_K = 10
N_QUERIES = 8  # vec_id < 8 are the fixture query vectors
NEAR_DUP_COS = 0.40  # synthetic embeddings: max off-diagonal cosine ~0.51


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _cosine(a, b):
    # zero-safe (review r13): 0.0/0.0 is NaN, and NaN sorts ABOVE every
    # double in Spark — a zero vector would rank FIRST in a cos-desc
    # window instead of last. Mirror the l2_normalize_rows contract:
    # a zero vector's cosine against anything is exactly 0.0.
    na, nb = _dot(a, a), _dot(b, b)
    return F.when((na == F.lit(0.0)) | (nb == F.lit(0.0)), F.lit(0.0)).otherwise(
        _dot(a, b) / F.sqrt(na * nb)
    )


# zero-safe like the kernel (review r13): DuckDB's 0/0 = NaN compares
# GREATER than every value, so an unguarded cosine would flag a zero
# vector as everyone's near-dup and rank it first — the exact inverse of
# the l2_normalize_rows contract the Spark side implements.
_COS_SQL = (
    "CASE WHEN list_inner_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])) = 0 "
    "       OR list_inner_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])) = 0 "
    "     THEN 0.0 "
    "     ELSE list_inner_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
    "sqrt(list_inner_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])) * "
    "     list_inner_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))) END"
)


def l2_normalize_rows(M: np.ndarray) -> np.ndarray:
    """Row-wise L2 normalization with an explicit zero-norm contract.

    A naive ``M / sqrt(einsum(M,M))`` turns an all-zero row into NaN,
    and every cosine against it silently compares False — a zero vector
    would read as "clean"/"no near-dup" by NaN accident (plus a NumPy
    RuntimeWarning in the executor log). Here the zero row's norm is
    clamped to 1.0 so the row STAYS all-zero: its cosine against
    anything is exactly 0.0, deterministically below every positive
    near-dup / contamination threshold in this package (NEAR_DUP_COS,
    hygiene.EMB_DECON_COS). Contract: **zero vectors are never
    near-duplicates and never contaminated** — by construction, not by
    NaN. Nonzero rows are bitwise identical to the unguarded form (same
    einsum / sqrt / divide), so every shared-kernel twin oracle keeps
    agreeing bit-for-bit (featsio.py:13-22 normalization contract).
    """
    norms = np.sqrt(np.einsum("ij,ij->i", M, M))
    return M / np.where(norms == 0.0, 1.0, norms)[:, None]


@register(
    "emb_l2_norms",
    survey_ops=("C3", "C4"),
    # Folded r10 after its r9 re-verification (hash-green CORRECTNESS_r09):
    # C3/C4 stay driver-covered via emb_lsh_near_dup_pairs' in-kernel
    # normalize + cast; slot freed for the j3/j6/st1 rotation.
    driver=False,
    doc="L2 norm / normalization contract of the featurizer layer "
    "(featsio.py:13-22: features are stored L2-normalized float32).",
    oracle="""
SELECT vec_id, label,
       CAST(len(embedding) AS BIGINT) AS dim,
       ROUND(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))), 4) AS l2_norm
FROM embeddings
""",
)
def emb_l2_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(F.sqrt(_dot(v, v)), 4).alias("l2_norm"),
    )


_ANN_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
c AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
),
scored AS (
  SELECT q.qid, c.vec_id, c.label,
         {_COS_SQL.format(a="q.qv", b="c.cv")} AS cos_sim
  FROM q CROSS JOIN c
),
ranked AS (
  SELECT qid, vec_id, label, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
)
SELECT qid, rank, vec_id, label, ROUND(cos_sim, 4) AS cos_sim
FROM ranked WHERE rank <= {TOP_K}
"""


# Unregistered diagnostic twin: the same semantics with JVM array HOFs
# (aggregate/zip_with dot products). HOF lambdas are INTERPRETED per
# element, so at n_queries x corpus x dim element ops this loses to one
# Arrow batch matmul by ~5x (the SCALE.md pitfall, re-measured r3: this
# form was the worst headline query under load) — which is why the
# REGISTERED builder below is the matmul form and this one exists only for
# the cross-engine equality test.
def ann_cosine_topk_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").cast("array<double>").alias("qv")
    )
    c = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("cv")
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "qid", "vec_id", "label", _cosine(F.col("qv"), F.col("cv")).alias("cos_sim")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("qid", "rank", "vec_id", "label", F.round("cos_sim", 4).alias("cos_sim"))
    )


@register(
    "ann_cosine_topk",
    survey_ops=("V12", "T1", "T4", "J5"),
    doc="Brute-force cosine top-k (exact kNN ground truth, eval.py:7-38 + "
    "exact rerank V13): one Arrow matmul per candidate batch against the "
    "broadcast normalized query matrix, then a per-query windowed rank — "
    "candidates scanned once, never shuffled with vectors. The 4dp round "
    "makes the score engine-portable (DuckDB oracle + the HOF twin agree "
    "bit-for-bit after rounding, pinned by test).",
    oracle=_ANN_ORACLE,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k via an Arrow-vectorized pass: one numpy matmul per
    batch against the broadcast query matrix (the predict_batch/mapInArrow
    idiom used for all §2.8 numerics)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").toArrow()
    qids = q.column("vec_id").to_numpy()
    qmat_n = l2_normalize_rows(arrow_vec.vectors(q, "embedding", "ann_cosine_topk"))
    sc = spark.sparkContext
    b_q = sc.broadcast((qids, qmat_n))

    def score_batches(batches):
        bqids, bq = b_q.value
        for batch in batches:
            if not batch.num_rows:
                continue
            cmat = arrow_vec.vectors(batch, "embedding", "ann_cosine_topk")
            cmat_n = l2_normalize_rows(cmat)
            sims = bq @ cmat_n.T  # (n_q, batch)
            n_q, n_c = sims.shape
            rows = np.tile(np.arange(n_c), n_q)
            yield pa.record_batch(
                {
                    "qid": np.repeat(bqids, n_c),
                    "vec_id": batch.column("vec_id").take(rows),
                    "label": batch.column("label").take(rows),
                    "cos_sim": sims.ravel(),
                }
            )

    scored = emb.select("vec_id", "label", "embedding").mapInArrow(
        score_batches, "qid bigint, vec_id bigint, label int, cos_sim double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("qid", "rank", "vec_id", "label", F.round("cos_sim", 4).alias("cos_sim"))
    )


@register(
    "emb_near_dup_pairs",
    survey_ops=("F9", "DEDUP-embedding", "C3", "C4"),
    # Folded r14 after its fresh r13 green row (rotation discipline; slot
    # goes to ann_ivf_topk, the oldest fold at r8). F9/DEDUP-embedding/
    # C3/C4 stay driver-covered via llm_embedding_decontaminate /
    # llm_embedding_dedup.
    driver=False,
    doc="Embedding-cosine near-duplicate pairs, label-blocked (the near-dup "
    "distance filter generic_searcher.py:43-45 applied pairwise; blocking "
    "key stands in for the coarse cell at scale). Carries C3/C4: the "
    "cosine kernel L2-normalizes the float->double-cast embedding block "
    "in-kernel (featsio.py:13-22 normalization contract; dedicated "
    "rendering emb_l2_norms is local-parity checked).",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
       ROUND({_COS_SQL.format(a="a.v", b="b.v")}, 4) AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_COS_SQL.format(a="a.v", b="b.v")} >= {NEAR_DUP_COS}
""",
)
def emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One applyInArrow group per blocking key: each vector is shuffled ONCE
    # (n rows of 64 doubles), and the block's pairwise cosines come from a
    # single normalized matmul — vs the pair-join form, which shuffles both
    # vectors per PAIR (O(n^2/blocks) vector copies) before scoring. Block
    # size is bounded by the blocking key (the coarse cell at scale), so the
    # per-group matrix stays small no matter the corpus.
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )

    def block_pairs(tbl):
        tbl = tbl.sort_by("vec_id")
        Vn = l2_normalize_rows(arrow_vec.vectors(tbl, "v", "emb_near_dup_pairs"))
        C = Vn @ Vn.T
        ia, ib = np.triu_indices(tbl.num_rows, k=1)
        keep = C[ia, ib] >= NEAR_DUP_COS
        ia, ib = ia[keep], ib[keep]
        ids = tbl.column("vec_id")
        return pa.table(
            {
                "vec_a": ids.take(ia),
                "vec_b": ids.take(ib),
                "label": tbl.column("label").take(ia),
                "cos_sim": np.round(C[ia, ib], 4),
            }
        )

    return emb.groupBy("label").applyInArrow(
        block_pairs, "vec_a bigint, vec_b bigint, label int, cos_sim double"
    )


@register(
    "emb_cluster_sample",
    survey_ops=("LLM-diversify", "V8", "A2"),
    doc="Cluster-balanced diversification sample (SemDeDup-style corpus "
    "diversification): vectors assign to the IVF k-means cells, then each "
    "cell keeps its quota of members by a deterministic salted-hash rank — "
    "a content-keyed 'random' sample that equalizes cluster mass instead "
    "of letting dense regions dominate training. Plan: the cached IVF "
    "assignment (one Arrow pass) + one per-cell window rank over (hash, "
    "id) ints; no vectors shuffle. Oracle: NumPy twin (assignment is "
    "model-dependent; the hash rank is the same md5 integer arithmetic).",
    oracle=twin_mod.emb_cluster_sample_sql,
)
def emb_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .ann_ivf import cached_index

    index = cached_index(spark, sf_dir).select(
        F.col("id").alias("vec_id"), "cell"
    )
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("div:"), F.col("vec_id").cast("string")).cast("binary")),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
    )
    w = Window.partitionBy("cell").orderBy(h.asc(), F.col("vec_id").asc())
    return (
        index.withColumn("rnk", F.row_number().over(w))
        .withColumn("keep", F.col("rnk") <= twin_mod.CLUSTER_SAMPLE_QUOTA)
        .select("vec_id", "cell", "rnk", "keep")
    )


# ---------------------------------------------------------------------------
# Cosine-LSH near-dup (random hyperplanes) — the label-free bucketing path
# ---------------------------------------------------------------------------

# Random-hyperplane LSH (Charikar 2002 SimHash for vectors): P(bit match) =
# 1 - angle/pi. Tuned for this corpus's NEAR_DUP_COS=0.40 threshold
# (p_bit ~ 0.63): 8 bands x 3 bits give ~90% band recall. Production
# near-dup thresholds (cos >= 0.9, p_bit ~ 0.86) use 8-16 bits per band —
# the knobs below are corpus-calibration, not structure. The FIXTURE
# constants pin the registered oracle query; library callers that omit the
# knobs get them DERIVED from the corpus size (derive_lsh_knobs), so a
# 100 TB run never inherits 3-bit bands.
LSH_BANDS = 8
LSH_BITS = 3
LSH_SEED = 202
LSH_TARGET_BUCKET = 64  # in-bucket pairwise work is O(target_bucket) rows/row
LSH_RECALL = 0.90  # band-OR recall floor at the near-dup threshold
# Per-bucket refusal line for emb_lsh_pairs_from (r8): derive_lsh_knobs
# targets mean=LSH_TARGET_BUCKET, and the 500k validation run measured
# max=1068 (~17x mean) on a healthy corpus — so 64x mean is far outside
# anything the derivation produces and marks a DEGENERATE bucket (e.g. a
# mass of identical/zero vectors all hashing to one key), where O(n^2)
# in-bucket work silently becomes the whole job. Loud refusal beats a
# mystery multi-hour stage at 100 TB.
LSH_MAX_BUCKET = 64 * LSH_TARGET_BUCKET
# Real (band, key) buckets verified per applyInArrow group (r14): per-group
# Python dispatch over ~n*bands/target_bucket groups dominated the 500k
# validation wall; packing ~64 buckets per group amortizes the Arrow slice
# and the vector conversion ~64x without touching any per-bucket math. See
# emb_lsh_pairs_from.
LSH_GROUP_BUCKETS = 64
# In-bucket kernel fast path (r16, VERDICT r15 #1): above this row count the
# candidate scan runs as a tiled BLAS matmul (Vn @ Vn.T tiles) instead of a
# full triu gather — the triu form materializes O(n_b^2) index arrays plus
# two (pairs, d) gathers (>1 GB transient on the 1M probe's 1470-row max
# bucket) and einsums every pair at numpy-elementwise speed. The matmul
# finds candidates >= threshold - LSH_MATMUL_MARGIN and the survivors are
# re-verified by the SAME per-pair elementwise einsum the small path uses,
# so the emitted (pair set, cos values) are bit-identical: for unit-norm
# float64 rows at d<=4096 the summation-order disagreement between BLAS and
# the einsum is < ~1e-12, four orders under the margin, so no true pair can
# be missed by the scan.
LSH_MATMUL_BUCKET = 192
LSH_MATMUL_MARGIN = 1e-9
LSH_MATMUL_TILE = 1024
# Oversized-bucket split (r16): in oversize="split" mode a bucket above
# max_bucket is sub-bucketed by extra seeded hyperplane sign bits (a
# DIFFERENT plane family than the band keys — offset seed — so the split
# actually spreads vectors the band planes could not). Depth grows with the
# bucket (ceil(log2(n_b / target)), capped), so per-sub-bucket cost is
# bounded by ~target^2 independent of corpus size. All depths share a
# prefix of the same LSH_SPLIT_MAX_BITS planes, keeping sub-keys
# deterministic per (seed, d) whatever depth a bucket needs.
LSH_SPLIT_SEED_OFFSET = 7919
LSH_SPLIT_MAX_BITS = 16
# A sub-bucket STILL above max_bucket after LSH_SPLIT_MAX_BITS extra bits
# is verified exactly when it is at most this many rows (bounded work:
# cap^2 * d multiply-adds through the tiled BLAS kernel, ~1e9 at d=64 —
# one bounded task, independent of corpus size) and refused above it
# (that many rows agreeing on 16 independent sign bits means near-identical
# vectors, whose qualifying-pair OUTPUT is itself O(n^2)). Without the
# exact-fallback rung, a SMALL unlucky sub-bucket (3 random vectors
# sharing 16 sign bits — found by the hypothesis fuzz) would refuse a
# perfectly tractable input.
LSH_SPLIT_EXACT_CAP = 4096
# Banded-exchange sizing (r16, the REAL 1M tail): the banding stage
# replicates every vector once per band, so the groupBy exchange moves
# n*bands rows of (vector + key row) — ~700 B each at d=64. At the session
# default of 32 shuffle partitions the 1M probe put ~600k rows (~420 MB)
# into every reduce task, and the stage spent its time in shuffle-spill,
# not math: measured 135 s at 32 partitions, 85 s at 128, 37 s at 256
# (sub-linear vs the n*bands model once tasks fit). When the corpus size
# is known (derived-knob path, or an explicit n_rows) the operator
# repartitions the banded relation by its own group key to keep reduce
# tasks near this row count (~45 MB at d=64) — same single exchange, same
# per-bucket math, just enough tasks that none of them spill. The
# session default stays the floor so small fixtures keep their
# parallelism.
LSH_BANDED_ROWS_PER_TASK = 65536
# The rows-per-task constant was measured at d=64 (~700 B/row -> ~45 MB
# reduce tasks, the sweet spot of the r16 1M partition sweep). Rows are
# dominated by the vector payload, so at wider d the SAME row count is
# proportionally more bytes per task (d=4096 -> ~2 GB/task) — scale the
# row target down to hold the measured ~45 MB/task instead (VERDICT r16
# #6, guide §2.2 "size partitions by bytes").
LSH_BANDED_REF_DIM = 64
# Width cap (guide §5 — driver task metadata): past this the exchange
# stops widening and per-task rows grow instead. At the cap a 10^9-row,
# 19-band corpus puts ~290k rows (~200 MB at d=64) in each task — inside
# the guide's 100 MB-1 GB partition band, while an uncapped width would
# cost ~290k reduce-task records of driver bookkeeping.
LSH_BANDED_MAX_PARTITIONS = 65536


def banded_exchange_partitions(
    n_rows: int, bands: int, dim: int | None = None
) -> int:
    """Reduce-task count for the banded LSH exchange: n_rows*bands replica
    rows at ~LSH_BANDED_ROWS_PER_TASK per task (byte-rescaled when the
    vector width ``dim`` exceeds the d=64 reference), capped at
    LSH_BANDED_MAX_PARTITIONS."""
    rows_per_task = LSH_BANDED_ROWS_PER_TASK
    if dim is not None and dim > LSH_BANDED_REF_DIM:
        # floor at 1/64 of the reference row target (1024 rows at the
        # default): past d~4096 the task-byte model stops shrinking rows
        # so extreme widths can't degenerate to one-row tasks
        rows_per_task = max(
            rows_per_task // 64,
            (rows_per_task * LSH_BANDED_REF_DIM) // int(dim),
        )
    want = -(-int(n_rows) * int(bands) // rows_per_task)
    return min(want, LSH_BANDED_MAX_PARTITIONS)


class _MaxAccumParam:
    """AccumulatorParam taking the max — idempotent under task retry, so
    speculative/retried buckets can never inflate the telemetry."""

    def zero(self, value: int) -> int:
        return value

    def addInPlace(self, a: int, b: int) -> int:
        return max(a, b)


class LshBucketStats:
    """Executor-side bucket telemetry for :func:`emb_lsh_pairs_from`.

    Create one per run, pass it in, run any action on the returned
    DataFrame, then read ``max_bucket`` / ``max_pairs_bucket``: the largest
    (band, key) bucket any executor saw, and the upper bound of per-bucket
    pair work it implies. At 100 TB a pathological bucket is the one
    remaining skew risk in the LSH dedup family (VERDICT r7 #6) — this is
    the metric a cluster job should export alongside its output."""

    def __init__(self, spark: SparkSession) -> None:
        self._acc = spark.sparkContext.accumulator(0, _MaxAccumParam())

    @property
    def max_bucket(self) -> int:
        return int(self._acc.value)

    @property
    def max_pairs_bucket(self) -> int:
        n = self.max_bucket
        return n * (n - 1) // 2


def derive_lsh_knobs(
    n_vectors: int,
    threshold: float = NEAR_DUP_COS,
    target_bucket: int = LSH_TARGET_BUCKET,
    recall: float = LSH_RECALL,
    min_bits: int = LSH_BITS,
    max_bits: int = 24,
    min_bands: int = 4,
    max_bands: int = 64,
) -> tuple[int, int]:
    """(bands, bits) sized to the corpus — the self-scaling form of the
    fixture constants (VERDICT r5 next-round #3).

    In-bucket work per band is O((n / 2^bits)^2), so ``bits`` grows with
    the corpus: bits = ceil(log2(n / target_bucket)) keeps the expected
    bucket near ``target_bucket`` rows (uniform-hash approximation; real
    buckets skew, but the applyInArrow kernel is per-bucket so one hot
    bucket bounds one task, not the stage). More bits cut per-band recall
    (p_band = p_bit^bits with p_bit = 1 - acos(t)/pi), so ``bands`` is then
    derived to restore the band-OR recall floor:
    bands = ceil(log(1-recall) / log(1-p_band)). Cost scales linearly in
    bands and quadratically in bucket size — trading the linear knob for
    the quadratic one is exactly the right direction at scale."""
    import math

    if not 0.0 < recall < 1.0:
        # log(1 - recall) below needs recall < 1: sign-bit band-OR recall
        # approaches 1.0 only asymptotically (review r13 — recall=1.0 hit
        # an opaque 'math domain error' deep in bands_needed)
        raise ValueError(
            f"derive_lsh_knobs: recall must be in (0, 1), got {recall}; "
            "for guaranteed recall 1.0 use the exhaustive paths — "
            "embedding_decontaminate_from(exact=True) or the blocked "
            "emb_near_dup_pairs form — instead of sign-bit LSH"
        )
    want = math.ceil(math.log2(max(1.0, n_vectors / max(1, target_bucket))))
    bits = max(min_bits, min(max_bits, want))
    p_bit = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi

    def bands_needed(r: int) -> float:
        p_band = p_bit**r
        if p_band >= 1.0 - 1e-12:
            return float(min_bands)
        return math.log(1.0 - recall) / math.log(1.0 - p_band)

    # RECALL IS THE CONTRACT: if the wanted bits can't reach the floor
    # within max_bands, back bits off (bigger buckets, more in-bucket
    # work) until they can — a silent recall miss loses pairs, a bucket
    # over target only costs time. Low thresholds (p_bit near 0.5) are
    # where this binds; they're fundamentally expensive for sign-bit LSH,
    # and the blocked (emb_near_dup_pairs) / IVF paths are the alternative.
    while bits > min_bits and bands_needed(bits) > max_bands:
        bits -= 1
    needed = bands_needed(bits)
    bands = max(min_bands, min(max_bands, math.ceil(needed)))
    if needed > max_bands:
        # even min_bits can't reach the floor within max_bands: the clamp
        # is a RECALL MISS, not a cost trade — say so instead of silently
        # returning knobs that lose pairs (the contract above)
        import warnings

        p_band = p_bit**bits
        achieved = 1.0 - (1.0 - p_band) ** bands
        warnings.warn(
            f"derive_lsh_knobs: threshold={threshold} needs "
            f"~{math.ceil(needed)} bands at bits={bits} to reach "
            f"recall={recall}, but max_bands={max_bands} caps the achieved "
            f"band-OR recall at ~{achieved:.2f}; use the blocked "
            "(emb_near_dup_pairs) or IVF path for thresholds this low, or "
            "raise max_bands",
            RuntimeWarning,
            stacklevel=2,
        )
    return bands, bits


def _lsh_planes(d: int, bands: int = LSH_BANDS, bits: int = LSH_BITS,
                seed: int = LSH_SEED) -> np.ndarray:
    """(bands*bits, d) fixed-seed hyperplanes — regenerated from the seed
    wherever needed (driver twin, every executor kernel): cheaper to
    recompute than to broadcast, and deterministic by construction."""
    return np.random.RandomState(seed).randn(bands * bits, d)


def _lsh_band_keys(V: np.ndarray, bands: int = LSH_BANDS, bits: int = LSH_BITS,
                   seed: int = LSH_SEED) -> np.ndarray:
    """(n, bands) int band keys. The projection is ELEMENTWISE
    (Vc[:,None,:]*R).sum(2), not a BLAS matmul: a sign bit flips on the
    last ulp at the 0 boundary, so the bucketing math must be bitwise
    batch-shape-independent for the twin oracle to reproduce it.

    Row-CHUNKED (r7): each row's math is independent, so chunking cannot
    change any key — but it bounds the elementwise temp at
    (256, bands*bits, d) ≈ 14 MB. Un-chunked, derived production knobs
    (17 bands x 13 bits at 500k rows) made the temp 0.5 GB per 10k-row
    Arrow batch PER WORKER; 32 concurrent workers allocated ~18 GB of
    throwaway pages per wave and the 500k validation run spent minutes in
    allocator/page churn (measured in SCALE.md §Derived-knob validation)."""
    R = _lsh_planes(V.shape[1], bands, bits, seed)
    n = len(V)
    bitvals = np.empty((n, bands * bits), dtype=np.int64)
    step = 256
    for s in range(0, n, step):
        Vc = V[s : s + step]
        proj = (Vc[:, None, :] * R[None, :, :]).sum(axis=2)
        bitvals[s : s + len(Vc)] = proj > 0
    keys = np.zeros((n, bands), dtype=np.int64)
    for b in range(bands):
        for i in range(bits):
            keys[:, b] = (keys[:, b] << 1) | bitvals[:, b * bits + i]
    return keys


def _matmul_candidate_indices(
    Vn: np.ndarray, threshold: float
) -> tuple[np.ndarray, np.ndarray]:
    """Strict-upper-triangle candidate (row, col) indices with BLAS-computed
    cosine >= threshold - LSH_MATMUL_MARGIN, scanned in row tiles so the
    transient similarity block stays O(tile * n_b) whatever the bucket
    holds. Candidates are a SUPERSET of the true pairs (margin argument at
    LSH_MATMUL_BUCKET); the caller re-verifies each with the elementwise
    einsum, so this function affects cost only, never output."""
    n = len(Vn)
    thr = threshold - LSH_MATMUL_MARGIN
    ia_parts: list[np.ndarray] = []
    ib_parts: list[np.ndarray] = []
    for s in range(0, n, LSH_MATMUL_TILE):
        tile = Vn[s : s + LSH_MATMUL_TILE]
        C = tile @ Vn.T  # (tile, n_b) — one BLAS call
        r, c = np.nonzero(C >= thr)
        keep = c > r + s  # strict upper triangle of the full matrix
        ia_parts.append(r[keep] + s)
        ib_parts.append(c[keep])
    if not ia_parts:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    return np.concatenate(ia_parts), np.concatenate(ib_parts)


def _bucket_cos_pairs(
    ids: np.ndarray,
    V: np.ndarray,
    threshold: float = NEAR_DUP_COS,
    matmul_cutoff: int = LSH_MATMUL_BUCKET,
) -> list[tuple]:
    """Verified near-dup pairs inside one bucket (:func:`verified_cos`).

    Buckets above ``matmul_cutoff`` rows find their candidates via a tiled
    BLAS matmul first (the r16 hot-bucket fix — the full triu gather was
    O(n_b^2 d) elementwise work plus >1 GB of transient pair gathers on the
    1M probe's max bucket); every candidate is then re-scored by the SAME
    einsum formula the small path uses, so the output is bit-identical
    across paths (pinned by the hypothesis fuzz, tests/test_properties.py).
    """
    order = np.argsort(ids, kind="stable")
    ids, V = ids[order], V[order]
    n = len(ids)
    if n > matmul_cutoff:
        ia, ib = _matmul_candidate_indices(l2_normalize_rows(V), threshold)
    else:
        ia, ib = np.triu_indices(n, k=1)
    ia, ib, cos = verified_cos(V, ia, ib, threshold)
    return [
        (int(ids[a]), int(ids[b]), float(c)) for a, b, c in zip(ia, ib, cos)
    ]


def verified_cos(
    V: np.ndarray, ia: np.ndarray, ib: np.ndarray, threshold: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(ia, ib, cos)`` of the candidate row pairs of ``V`` whose cosine
    is >= ``threshold``, cos rounded to 4dp. Rows are L2-normalized one by
    one and each pair's dot is an elementwise per-row reduction, so the
    result does not depend on how rows are batched: the batch LSH buckets
    and the streaming verify both call this, and a pair carries the same
    cos_sim bits on either path."""
    Vn = l2_normalize_rows(V)
    cos = np.einsum("ij,ij->i", Vn[ia], Vn[ib])
    keep = cos >= threshold
    return ia[keep], ib[keep], np.round(cos[keep], 4)


def _split_plane_seed(seed: int, band: int) -> int:
    """Seed of band ``band``'s split-plane family. PER-BAND is load-bearing
    for recall: with one shared family, a pair the split planes separate
    would be separated identically in EVERY band and the band-OR rescue
    (the mode's whole recall argument) would never apply — measured as
    ~72% vs the modeled ~99% on the planted-cluster test before the fix.
    Offset keeps every family disjoint from the band-key planes."""
    return (seed + LSH_SPLIT_SEED_OFFSET * (band + 1)) % (2**31)


def _split_subkeys(V: np.ndarray, depth: int, seed: int) -> np.ndarray:
    """(n,) int sub-bucket keys from ``depth`` extra seeded sign bits — the
    oversize="split" plane family (``seed`` is the already-mixed per-band
    plane seed from :func:`_split_plane_seed`). All depths slice a prefix
    of the same LSH_SPLIT_MAX_BITS planes, and the projection is
    ELEMENTWISE and row-chunked like :func:`_lsh_band_keys` — keys are
    deterministic per (seed, d) and batch-shape independent."""
    d = V.shape[1]
    R = np.random.RandomState(seed).randn(LSH_SPLIT_MAX_BITS, d)[:depth]
    n = len(V)
    keys = np.zeros(n, dtype=np.int64)
    step = 4096
    for s in range(0, n, step):
        Vc = V[s : s + step]
        proj = (Vc[:, None, :] * R[None, :, :]).sum(axis=2)
        bits = proj > 0
        sub = np.zeros(len(Vc), dtype=np.int64)
        for i in range(depth):
            sub = (sub << 1) | bits[:, i]
        keys[s : s + len(Vc)] = sub
    return keys


def _split_depth(n_b: int, target_bucket: int = LSH_TARGET_BUCKET) -> int:
    """Extra sign bits needed to bring an ``n_b``-row bucket's expected
    sub-bucket back to ~``target_bucket`` rows (uniform-split model)."""
    import math

    return min(
        LSH_SPLIT_MAX_BITS,
        max(1, math.ceil(math.log2(max(2.0, n_b / max(1, target_bucket))))),
    )


def _embeddings_dim(sf_dir: str) -> int:
    """Dim of the embeddings table's vector column (metadata-cheap read:
    one one-row batch, one column)."""
    import os

    import pyarrow.parquet as pq

    first = next(
        pq.ParquetFile(os.path.join(sf_dir, "embeddings.parquet")).iter_batches(
            batch_size=1, columns=["embedding"]
        ),
        None,
    )
    if first is None or len(first) == 0:
        raise ValueError(
            f"embeddings.parquet under {sf_dir!r} has no rows — cannot "
            "derive the vector dim for the SQL oracle's plane relation"
        )
    return len(first.column("embedding")[0])


def emb_lsh_near_dup_pairs_oracle(sf_dir: str) -> str:
    """SQL-only (r13; previously the NumPy twin): DuckDB re-derives the
    band keys from the VALUES-materialized seeded planes, forms
    candidates as a band-key collision join, and verifies with its OWN
    zero-safe cosine (:func:`lsh_pairs_cte_sql` — the same composition
    the llm_embedding_dedup oracle uses), so the only cross-engine
    artifact is the plane parameters. The Spark side's cross-band pair
    dropDuplicates and the SQL DISTINCT produce the same pair SET (each
    qualifying pair appears exactly once either way). Cross-engine
    float assumption, stated plainly: DuckDB's list_inner_product sums
    sequentially while the NumPy kernel reduces elementwise-then-sum, so
    a projection within an ulp of the 0 sign boundary, or a cosine
    within an ulp of the threshold / a ROUND(.,4) halfway point, COULD
    band or round differently per engine. No fixture value sits on such
    a boundary (verified exactly equal, cosines included, at sf0.001 and
    sf0.01 — the same tolerance the emb_near_dup_pairs SQL oracle has
    ridden green since r6); a fixture regeneration that lands on one
    would surface as a loud hash mismatch, not silent corruption."""
    d = _embeddings_dim(sf_dir)
    return f"""
WITH
{lsh_pairs_cte_sql(d)}
SELECT vec_a, vec_b, ROUND(cos, 4) AS cos_sim FROM pairs
"""


@register(
    "emb_lsh_near_dup_pairs",
    # C4 (r6): the builder casts the parquet array<float> embedding to
    # array<double> before the seeded-plane kernel — the featurizer dtype
    # cast contract (featsio.py:13-22), same as emb_near_dup_pairs did.
    survey_ops=("F9", "DEDUP-embedding", "C3", "C4"),
    # Promoted to the driver window r6 (rotation: the label-free scale path
    # of embedding dedup had never earned a hash-checked driver row).
    # Folded r12 (driver-green r6-r11) in exchange for llm_embedding_dedup
    # entering at birth: that spec runs the SAME banding/verify kernel (a
    # pairs error changes its labels too), and every tag here stays
    # multiply driver-covered (F9/DEDUP-embedding/C3/C4 on
    # llm_embedding_decontaminate AND llm_embedding_dedup). Still
    # local-parity-checked + in the bench headline.
    driver=False,
    doc="Label-free embedding near-dup via random-hyperplane LSH (Charikar "
    "2002): each vector hashes to LSH_BANDS sign-bit band keys map-side, "
    "candidate pairs form ONLY inside (band, key) buckets "
    "(applyInArrow: one in-bucket pairwise pass, vectors shuffle once "
    "per band, never per pair), verified by exact cosine and deduped "
    "across bands. The scale path when no blocking label exists — the "
    "complement of emb_near_dup_pairs' label blocking. Oracle: SQL-only "
    "(r13) — VALUES-planes band keys + collision join + DuckDB's own "
    "zero-safe cosine; no shared NumPy kernels.",
    oracle=emb_lsh_near_dup_pairs_oracle,
)
def emb_lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the banding kernel + Arrow out-transfer otherwise serialize
    # on the single-split fixture scan (measured 1.65 -> 1.15 s at sf0.1)
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # fixture knobs EXPLICIT here: the NumPy-twin oracle reproduces exactly
    # these; library callers omit them and get corpus-derived knobs
    return emb_lsh_pairs_from(emb, bands=LSH_BANDS, bits=LSH_BITS)


def emb_lsh_pairs_from(
    vec_df: DataFrame,
    bands: int | None = None,
    bits: int | None = None,
    threshold: float = NEAR_DUP_COS,
    seed: int = LSH_SEED,
    max_bucket: int | None = LSH_MAX_BUCKET,
    stats: LshBucketStats | None = None,
    oversize: str = "refuse",
    n_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Library form over any (vec_id, v array<double>) relation.

    ``n_rows`` (optional): the corpus row count, if the caller already
    knows it — enables the banded-exchange sizing (see
    :data:`LSH_BANDED_ROWS_PER_TASK`) without a second count job. The
    derived-knob path counts anyway and sizes automatically — and reads
    the vector width off the same pass, so wide-d corpora get byte-scaled
    reduce tasks (:func:`banded_exchange_partitions`). ``dim`` lets an
    explicit-``n_rows`` caller supply the width without a probe job; when
    unknown, sizing assumes the d=64 reference.

    CALIBRATION IS LOAD-BEARING AT SCALE: in-bucket work is
    O((n / 2^bits)^2) per band, so ``bits`` must grow with the corpus.
    When ``bands``/``bits`` are omitted they are DERIVED from a cheap
    count of ``vec_df`` via :func:`derive_lsh_knobs` (bits from the
    target bucket size, bands restoring the recall floor) — a 10x larger
    corpus gets more bits with no knob change. Pass both explicitly to
    pin a calibration (the registered fixture query does, for its
    oracle).

    ``max_bucket`` (default :data:`LSH_MAX_BUCKET` = 64x the derivation's
    target mean) marks a bucket DEGENERATE: random-hyperplane keys can't
    spread identical (or all-zero) vectors, so a duplicate-flooded corpus
    piles them into one (band, key) whatever the knobs say. What happens
    then is ``oversize`` (r16, VERDICT r15 #1):

    - ``"refuse"`` (default) raises loudly instead of letting the bucket's
      O(n^2) pair pass eat the stage — right for pipelines where a
      degenerate corpus is a data bug to surface;
    - ``"split"`` sub-buckets it with extra seeded hyperplane bits
      (depth grows with the bucket, so per-sub-bucket cost is bounded by
      ~target^2 independent of corpus size) and verifies pairs per
      sub-bucket. Pairs the split planes separate lose THIS band only
      (they stay eligible in every other band) — the bounded-cost trade
      for corpora where refusal is not an option. ``None`` disables the
      bound.

    Cross-band duplicates are removed by a global pair ``dropDuplicates``
    over the QUALIFYING (vec_a, vec_b, cos) rows — the r17 shape. The
    historical min-band single-emission avoided that tiny exchange by
    carrying every row's FULL band-key vector through the big banded
    exchange (+8·bands bytes per replica row = ~2.9 GB at the 1M probe)
    plus 19M Python key-list boxings in the banding map and a per-bucket
    id->keyrow dict in the kernel; the qualifying-pair relation it saved
    an exchange on is output-sized (~5k rows at 1M), partial-aggregated
    map-side. Measured at the 1M probe: 50.6 -> 31-34 s (§SCALE.md r17).
    The kept row is value-identical whichever band emitted it (same
    float64 vectors, same elementwise kernel in every bucket).

    ``stats`` (an :class:`LshBucketStats`) exports the observed max bucket
    after any action — the skew telemetry a cluster run should log."""
    from collections.abc import Iterator

    if oversize not in ("refuse", "split"):
        raise ValueError(
            f"emb_lsh_pairs_from: oversize must be 'refuse' or 'split', "
            f"got {oversize!r}"
        )
    if bands is None or bits is None:
        if n_rows is None:
            # one pass serves BOTH the knob derivation (count) and the
            # exchange sizing's vector width (min size(v) — min, not
            # first, so the value is deterministic)
            _agg = vec_df.agg(
                F.count(F.lit(1)).alias("n"), F.min(F.size("v")).alias("d")
            ).collect()[0]
            n_rows = int(_agg["n"])
            if dim is None and _agg["d"] is not None:
                dim = int(_agg["d"])
        d_bands, d_bits = derive_lsh_knobs(n_rows, threshold=threshold)
        bands = d_bands if bands is None else bands
        bits = d_bits if bits is None else bits
    acc = stats._acc if stats is not None else None

    # Buckets are verified ~LSH_GROUP_BUCKETS at a time (r14): one
    # applyInPandas group per (band, key) was ~139k Python dispatches at
    # the 500k validation tier, and the per-group cost — the JVM slicing
    # one Arrow batch per group plus pandas construction plus the
    # per-bucket list->ndarray vector conversion — dominated the stage
    # (measured: a TRIVIAL per-group fn cost 2x the banding+shuffle it
    # followed). Grouping on (band, key % shards) packs ~LSH_GROUP_BUCKETS
    # real buckets into each group; the group is split back into exact
    # (band, key) runs with one numpy sort, and the per-BUCKET math
    # (_bucket_cos_pairs, max_bucket refusal, max telemetry) is
    # unchanged — pair output is row-for-row identical.
    # Expected group size ~LSH_GROUP_BUCKETS * target_bucket rows (~4k
    # rows / ~2.5 MB at d=64) and stays bounded as the corpus grows,
    # because derive_lsh_knobs grows ``bits`` with n while the shard
    # count tracks 2^bits. Small keyspaces (2^bits <= LSH_GROUP_BUCKETS,
    # e.g. the fixture's bits=3) keep one group PER KEY: coarsening them
    # buys no dispatch amortization (there are few groups either way) and
    # collapsing 64 buckets into bands*1 groups cost the fixture query
    # its parallelism (8 groups on 32 cores, measured +24% at sf0.1).
    keyspace = 1 << bits
    shards = (
        keyspace
        if keyspace <= LSH_GROUP_BUCKETS
        else keyspace // LSH_GROUP_BUCKETS
    )

    # The banding fan-out and the bucket verification both run on Arrow
    # (mapInArrow, then applyInArrow): the mapInPandas shape spent ~92% of
    # the stage's wall in the Python workers (REST stage metrics at the
    # cold 1M probe: 649 s of task runTime vs 52 s of JVM CPU) converting
    # 19M list-of-ndarray pandas cells to Arrow list<double>. Both sides
    # cross arrow_vec: the input ListArray flattens zero-copy to the
    # (n, d) matrix, the replicated vectors are one `np.tile` plus uniform
    # offsets (arrow_vec.column), and the verifier reads its group back
    # with arrow_vec.vectors — no per-element boxing anywhere, and the
    # float64 bits reach every cosine unchanged.
    def band_rows(batches):
        for batch in batches:
            m_all = batch.num_rows
            if not m_all:
                continue
            ids_all = np.asarray(batch.column("vec_id"), dtype=np.int64)
            V_all = arrow_vec.vectors(batch, "v", "emb_lsh_pairs_from")
            # cap each OUTPUT batch at 2 GiB of replicated vectors
            # (rows*bands*d*8 bytes): the list column's offsets are int32,
            # and wide vectors (d=4096 at a 10k-row Arrow batch) would
            # overflow them otherwise
            step = max(1, (2**31 - 1) // (bands * V_all.shape[1] * 8))
            for lo in range(0, m_all, step):
                V = V_all[lo : lo + step]
                m = len(V)
                flat_keys = _lsh_band_keys(V, bands, bits, seed).T.ravel()
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.repeat(np.arange(bands, dtype=np.int32), m)),
                        pa.array(flat_keys % shards),
                        pa.array(flat_keys),
                        pa.array(np.tile(ids_all[lo : lo + step], bands)),
                        arrow_vec.column(np.tile(V, (bands, 1))),
                    ],
                    names=["band", "grp", "key", "vec_id", "v"],
                )

    banded = vec_df.select("vec_id", "v").mapInArrow(
        band_rows,
        "band int, grp bigint, key bigint, vec_id bigint, v array<double>",
    )
    if n_rows is not None:
        # size the ONE keyed exchange to its true (replicated) volume —
        # see LSH_BANDED_ROWS_PER_TASK / banded_exchange_partitions
        # (byte-rescaled for wide vectors, width-capped). repartition on
        # the group key satisfies the groupBy's ClusteredDistribution, so
        # this REPLACES the default-width exchange rather than adding a
        # second one (plan-pinned in tests/test_plans.py).
        spark = vec_df.sparkSession
        floor_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        want_p = banded_exchange_partitions(n_rows, bands, dim)
        if want_p > floor_p:
            banded = banded.repartition(want_p, "band", "grp")

    def bucket_group_pairs(tbl: pa.Table) -> pa.Table:
        rows = _bucket_group_rows(
            tbl.column("band")[0].as_py(),
            tbl.column("key").to_numpy(),
            tbl.column("vec_id").to_numpy(),
            arrow_vec.vectors(tbl, "v", "emb_lsh_pairs_from"),
            threshold=threshold,
            max_bucket=max_bucket,
            acc=acc,
            oversize=oversize,
            seed=seed,
        )
        vec_a, vec_b, cos_sim = zip(*rows) if rows else ((), (), ())
        return pa.table(
            {
                "vec_a": pa.array(vec_a, pa.int64()),
                "vec_b": pa.array(vec_b, pa.int64()),
                "cos_sim": pa.array(cos_sim, pa.float64()),
            }
        )

    pairs = banded.groupBy("band", "grp").applyInArrow(
        bucket_group_pairs, "vec_a bigint, vec_b bigint, cos_sim double"
    )
    # cross-band duplicate removal (r17, both modes — see the docstring):
    # the payload is QUALIFYING (bigint, bigint, double) rows only —
    # output-sized, partial-aggregated map-side — so the extra exchange
    # moves ~pairs x band-multiplicity ints, never vectors. The kept cos
    # is value-identical whichever band emitted it (same float64 vectors,
    # same elementwise kernel).
    return pairs.dropDuplicates(["vec_a", "vec_b"])


def _bucket_group_rows(
    b: int,
    keys_np: np.ndarray,
    ids: np.ndarray,
    V: np.ndarray,
    threshold: float,
    max_bucket: int | None,
    acc=None,
    oversize: str = "refuse",
    seed: int = LSH_SEED,
    target_bucket: int = LSH_TARGET_BUCKET,
) -> list[tuple]:
    """Verified pairs for ONE coarse bucket group of band ``b`` (the kernel
    behind ``emb_lsh_pairs_from``'s applyInArrow — module-level so the
    hypothesis suite can fuzz the run-splitting against a per-bucket
    reference). One conversion + one stable sort for the whole group; each
    (band, key) run reproduces the per-bucket grouping exactly (same rows,
    same _bucket_cos_pairs input). Cross-band duplicate emissions are the
    CALLER's dropDuplicates over the qualifying int-pair rows (r17 — see
    ``emb_lsh_pairs_from``); the kernel emits every qualifying pair of its
    own band's buckets.

    ``oversize`` (r16): "refuse" raises on a bucket above ``max_bucket``
    (the historical guard); "split" sub-buckets it by extra seeded sign
    bits (:func:`_split_subkeys`, depth from :func:`_split_depth`) and
    verifies pairs per sub-bucket, bounding per-bucket cost independent of
    corpus size."""
    order = np.argsort(keys_np, kind="stable")
    keys_np = keys_np[order]
    ids_all = ids[order]
    V_all = V[order]
    cuts = np.flatnonzero(np.diff(keys_np)) + 1
    starts = np.concatenate(([0], cuts))
    ends = np.concatenate((cuts, [len(keys_np)]))
    out: list[tuple] = []
    for s, e in zip(starts, ends):
        n_b = int(e - s)
        if acc is not None:
            acc.add(n_b)
        if max_bucket is not None and n_b > max_bucket:
            if oversize == "split":
                out.extend(
                    _split_bucket_pairs(
                        ids_all[s:e], V_all[s:e], threshold, max_bucket,
                        seed=_split_plane_seed(seed, b),
                        target_bucket=target_bucket,
                    )
                )
                continue
            raise RuntimeError(
                f"emb_lsh_pairs_from: bucket (band={b}, "
                f"key={int(keys_np[s])}) holds {n_b} vectors "
                f"> max_bucket={max_bucket}; in-bucket verification is "
                "O(n^2) and this bucket would dominate the job. The corpus "
                "has a mass of near-identical vectors LSH keys cannot "
                "spread — dedup it with the blocked path "
                "(emb_near_dup_pairs) or the IVF/LOPQ ANN ladder "
                "(ann_ivf_topk / lopq_search_topk), pass "
                "oversize='split' to sub-bucket it with extra seeded "
                "planes (bounded cost, small documented recall trade), or "
                "pass a larger max_bucket (None disables) if the O(n^2) "
                "cost is intended."
            )
        out.extend(_bucket_cos_pairs(ids_all[s:e], V_all[s:e], threshold))
    return out


def _split_bucket_pairs(
    ids: np.ndarray,
    V: np.ndarray,
    threshold: float,
    max_bucket: int,
    seed: int = LSH_SEED,
    target_bucket: int = LSH_TARGET_BUCKET,
    _depth: int | None = None,
) -> list[tuple]:
    """Pairs of ONE oversized bucket in oversize="split" mode: sub-bucket
    by extra seeded sign bits and verify within each sub-bucket. Pairs the
    extra planes separate are the mode's documented recall trade (they stay
    eligible in every other band — measured on the 1M probe in SCALE.md).
    A sub-bucket STILL above ``max_bucket`` after LSH_SPLIT_MAX_BITS extra
    bits is verified EXACTLY while it fits LSH_SPLIT_EXACT_CAP (bounded
    work — cap^2*d through the BLAS kernel — so a small unlucky sub-bucket
    never refuses a tractable input); above the cap it means a mass of
    (near-)identical vectors no hyperplane family can spread, whose pair
    OUTPUT is itself O(n^2), and refusal is the only honest move.
    Total on any input: a bucket already within ``max_bucket`` (incl. the
    recursion's leaf runs) verifies directly."""
    if len(ids) <= max_bucket:
        return _bucket_cos_pairs(ids, V, threshold)
    if _depth is None:
        _depth = _split_depth(len(ids), target_bucket)
    sub = _split_subkeys(V, _depth, seed)
    order = np.argsort(sub, kind="stable")
    sub, ids, V = sub[order], ids[order], V[order]
    cuts = np.flatnonzero(np.diff(sub)) + 1
    starts = np.concatenate(([0], cuts))
    ends = np.concatenate((cuts, [len(sub)]))
    out: list[tuple] = []
    for s, e in zip(starts, ends):
        n_s = int(e - s)
        if n_s > max_bucket:
            if _depth >= LSH_SPLIT_MAX_BITS:
                if n_s <= LSH_SPLIT_EXACT_CAP:
                    # bounded exact fallback: cap^2*d is one ordinary
                    # BLAS-kernel task, so a small sub-bucket that 16
                    # independent sign bits happened not to spread stays
                    # a tractable input, not a refusal
                    out.extend(_bucket_cos_pairs(ids[s:e], V[s:e], threshold))
                    continue
                raise RuntimeError(
                    f"emb_lsh_pairs_from(oversize='split'): sub-bucket of "
                    f"{n_s} vectors still exceeds max_bucket={max_bucket} "
                    f"after {_depth} extra split bits and the "
                    f"{LSH_SPLIT_EXACT_CAP}-row exact-verification cap — "
                    "the corpus holds a mass of near-identical vectors no "
                    "hyperplane family can spread, and its "
                    "qualifying-pair OUTPUT is itself O(n^2). Collapse "
                    "exact duplicates first (dedup_exact / "
                    "llm_embedding_dedup keeps one representative per "
                    "cluster) or use the IVF/LOPQ ANN ladder."
                )
            # the uniform-split model underestimated this run's skew:
            # recurse one bit deeper (STRICTLY increasing depth, so the
            # recursion terminates at LSH_SPLIT_MAX_BITS with the refusal
            # above; shared-prefix planes keep sub-keys deterministic)
            out.extend(
                _split_bucket_pairs(
                    ids[s:e], V[s:e], threshold, max_bucket,
                    seed=seed, target_bucket=target_bucket,
                    _depth=_depth + 1,
                )
            )
            continue
        out.extend(_bucket_cos_pairs(ids[s:e], V[s:e], threshold))
    return out


def lsh_keys_cte_sql(d: int, bands: int = LSH_BANDS, bits: int = LSH_BITS,
                     seed: int = LSH_SEED) -> str:
    """DuckDB CTE body reconstructing the sign-bit band keys in SQL ONLY:
    the seeded hyperplanes are model PARAMETERS materialized as a VALUES
    relation; sign bits come from DuckDB's own ``list_inner_product``, and
    each band key bit-packs MSB-first (plane ``b*bits + i`` carries weight
    ``2^(bits-1-i)`` — the same convention as :func:`_lsh_band_keys`'s
    shift-or loop, but re-derived by a different engine). Assumes an
    ``e(vec_id, v DOUBLE[])`` CTE is already in scope."""
    planes = _lsh_planes(d, bands, bits, seed)
    vals = ", ".join(
        f"({pid}, [{', '.join(repr(float(x)) for x in p)}]::DOUBLE[])"
        for pid, p in enumerate(planes)
    )
    return f"""
planes(pid, p) AS (VALUES {vals}),
bits AS (
  SELECT e.vec_id, planes.pid // {bits} AS band,
         planes.pid % {bits} AS biti,
         CASE WHEN list_inner_product(e.v, planes.p) > 0
              THEN 1 ELSE 0 END AS bit
  FROM e, planes
),
keys AS (
  SELECT vec_id, band,
         CAST(SUM(bit * (1 << ({bits} - 1 - biti))) AS BIGINT) AS key
  FROM bits GROUP BY vec_id, band
)"""


def lsh_pairs_cte_sql(d: int, bands: int = LSH_BANDS, bits: int = LSH_BITS,
                      seed: int = LSH_SEED,
                      threshold: float = NEAR_DUP_COS) -> str:
    """DuckDB CTE chain ending in ``pairs(vec_a, vec_b, cos)`` — the
    WHOLE SQL-only reconstruction of the banded near-dup pair relation
    (keys from :func:`lsh_keys_cte_sql`, zero-safe normalization
    mirroring the l2_normalize_rows contract, band-key collision
    candidates, cosine-verified pairs). ONE definition composed by both
    SQL oracles (emb_lsh_near_dup_pairs, llm_embedding_dedup) and the
    attribution test, so a threshold or zero-norm fix cannot silently
    apply to one and not the others. Assumes an ``embeddings`` view."""
    return f"""
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{lsh_keys_cte_sql(d, bands, bits, seed)},
n AS (
  SELECT vec_id,
         CASE WHEN list_inner_product(v, v) = 0 THEN v
              ELSE list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
         END AS u
  FROM e
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM keys a JOIN keys b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT c.vec_a, c.vec_b, list_inner_product(na.u, nb.u) AS cos
  FROM cand c
  JOIN n na ON na.vec_id = c.vec_a
  JOIN n nb ON nb.vec_id = c.vec_b
  WHERE list_inner_product(na.u, nb.u) >= {threshold}
)"""


def _emb_dedup_labels_oracle(sf_dir: str) -> str:
    """SQL-only END TO END (VERDICT r12 next-round #3; closes the last
    shared-kernel twin half): DuckDB re-derives the band keys from the
    VALUES-materialized hyperplanes, emits the pair relation as a
    band-key collision join filtered by its OWN zero-safe cosine
    (:func:`lsh_pairs_cte_sql` — the same idiom the probe-path decon
    check uses, tests/test_hygiene.py), and labels components with the
    recursive-CTE transitive closure. Zero shared NumPy kernels — only
    the seeded planes (model parameters) cross engines, so a banding,
    verification, or components bug cannot cancel out."""
    d = _embeddings_dim(sf_dir)
    return f"""
WITH RECURSIVE
{lsh_pairs_cte_sql(d)},
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst FROM pairs
),
cc AS (
  SELECT vec_id AS vec, vec_id AS root FROM embeddings
  UNION
  SELECT e.dst AS vec, cc.root FROM cc JOIN edges e ON e.src = cc.vec
)
SELECT vec AS vec_id, CAST(MIN(root) AS BIGINT) AS component,
       (vec = MIN(root)) AS kept
FROM cc GROUP BY vec
"""


@register(
    "llm_embedding_dedup",
    survey_ops=("DEDUP-embedding", "DEDUP-components", "F9", "C3", "C4"),
    # NEW r12, driver-visible at birth (the r8/r9 lesson; same exchange
    # idiom as r10's dedup_cluster_stats-for-dedup_components swap):
    # emb_lsh_near_dup_pairs folds in exchange — this spec runs the SAME
    # banding/verify kernel (a pairs error changes these labels too), so
    # the LSH machinery keeps a hash-checked driver row through this spec,
    # while the labeling HALF of the oracle is genuinely independent
    # (recursive-CTE closure vs union-find/min-label propagation).
    doc="SemDeDup-style semantic dedup labeling — the driver-visible form "
    "of the curate_docs(embedding_dedup=True) chain rung: LSH near-dup "
    "pairs over the embeddings (same seeded sign-bit banding as "
    "emb_lsh_near_dup_pairs), connected components, and per-vector "
    "(component, kept) where kept marks the min-id representative each "
    "cluster retains (singletons keep themselves). Reference analogue: "
    "the near-dup threshold filter (generic_searcher.py:43-45) promoted "
    "to a corpus-curation labeling. Scale: band self-join moves int keys "
    "+ vectors once per band (never all-pairs), components move (id, "
    "label) ints only, and the output is one row per vector — text never "
    "enters the plan. Oracle: SQL-only end to end (r13) — DuckDB "
    "re-derives band keys from VALUES-materialized planes, emits pairs "
    "via its own collision join + zero-safe cosine, and labels with a "
    "recursive-CTE closure; no shared NumPy kernels.",
    oracle=_emb_dedup_labels_oracle,
)
def llm_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import connected_components

    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # fixture knobs EXPLICIT (the twin oracle reproduces exactly these);
    # the curate chain rung omits them and gets corpus-derived knobs
    pairs = emb_lsh_pairs_from(emb, bands=LSH_BANDS, bits=LSH_BITS).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    labels = connected_components(
        emb.select(F.col("vec_id").alias("doc_id")), pairs
    )
    return labels.select(
        F.col("doc_id").alias("vec_id"),
        F.col("component").cast("bigint").alias("component"),
        (F.col("doc_id") == F.col("component")).alias("kept"),
    )
