"""IVF (inverted-file) approximate nearest neighbor over embeddings.

The mid-tier of the engine's similarity ladder (SURVEY §7.0):

  brute force (exact baseline)  ->  IVF (coarse cells + exact within cell)
                                ->  LOPQ (cells + quantized codes, ..lopq)

IVF here = single coarse k-means codebook; vectors are bucketed by nearest
centroid into an inverted file (the ``cell`` column); a query probes its
``nprobe`` nearest cells and ranks *exactly* within them. This is the
100 TB sweet spot when vectors still fit the probe budget: the index build
is one mapInArrow assign pass, the probe is a broadcast semi-join that
prunes to nprobe/k of the data, and ranking shuffles only (qid, id, dist).

Training follows the same bounded-driver-sample architecture as LOPQ
(reference trains on a subsample too, conf nb_train).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import cache
from ..functions import arrow_vec
from ..lopq import twin
from ..lopq.model import kmeans
from ..registry import register
from ..sources import load_table

# shared with the NumPy oracle twin (lopq/twin.py)
N_CELLS = twin.IVF_CELLS
N_PROBE = twin.IVF_PROBE  # probes 6/16 cells; recall@10 ~0.74 on the weakly-clustered fixture
TOP_K = twin.TOP_K
N_QUERIES = twin.N_QUERIES

def train_centroids(
    spark: SparkSession,
    sf_dir: str,
    k: int = N_CELLS,
    # from the twin, not hardcoded (review r13): SAMPLE_LIMIT is documented
    # as the single source of truth; a hardcoded 20000 here would desync
    # the builder from the twin's centroids the moment anyone tuned it
    sample_limit: int = twin.SAMPLE_LIMIT,
) -> np.ndarray:
    # sample_limit is part of the key (review r13): it changes the trained
    # centroids, so omitting it served stale centroids to a caller varying it
    def build() -> np.ndarray:
        sample = (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(sample_limit)
            .toArrow()
        )
        X = arrow_vec.vectors(sample, "embedding", "train_centroids")
        return kmeans(X, k, seed=42)[0]

    return cache.memo(
        "centroids", (k, sample_limit), twin.fixture_paths(sf_dir), build
    )


def build_index(
    spark: SparkSession, sf_dir: str, centroids: np.ndarray
) -> DataFrame:
    """Inverted file: (id, cell, embedding). At scale this is written once,
    partitioned by cell, so probes prune partitions."""
    b_c = spark.sparkContext.broadcast(centroids)

    def assign(batches):
        C = b_c.value
        c_sq = (C**2).sum(axis=1)
        for batch in batches:
            if not batch.num_rows:
                continue
            X = arrow_vec.vectors(batch, "embedding", "build_index")
            d = (X**2).sum(1)[:, None] - 2 * X @ C.T + c_sq[None, :]
            # the embedding passes through as the untouched Arrow column
            yield pa.record_batch(
                {
                    "id": batch.column("vec_id"),
                    "cell": d.argmin(axis=1).astype(np.int32),
                    "embedding": batch.column("embedding"),
                }
            )

    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .mapInArrow(assign, "id bigint, cell int, embedding array<float>")
    )


def ivf_search(
    spark: SparkSession,
    index: DataFrame,
    centroids: np.ndarray,
    queries: list[tuple[int, np.ndarray]],
    nprobe: int = N_PROBE,
    k: int = TOP_K,
) -> DataFrame:
    """Probe nprobe cells per query; exact squared-L2 rank within them."""
    probe_rows = []
    qmap: dict[int, np.ndarray] = {}
    for qid, q in queries:
        q = np.asarray(q, dtype=np.float64)
        qmap[qid] = q
        d = ((centroids - q) ** 2).sum(axis=1)
        for cell in np.argsort(d, kind="stable")[:nprobe]:
            probe_rows.append((qid, int(cell)))
    probe = spark.createDataFrame(probe_rows, "qid bigint, cell int")
    cand = index.join(F.broadcast(probe), "cell")
    b_q = spark.sparkContext.broadcast(qmap)

    def exact(batches):
        qm = b_q.value
        for batch in batches:
            if not batch.num_rows:
                continue
            X = arrow_vec.vectors(batch, "embedding", "ivf_search")
            qids = batch.column("qid")
            Q = np.array([qm[q] for q in qids.to_pylist()], dtype=np.float64)
            yield pa.record_batch(
                {
                    "qid": qids,
                    "id": batch.column("id"),
                    "dist": ((X - Q) ** 2).sum(axis=1),
                }
            )

    scored = cand.mapInArrow(exact, "qid bigint, id bigint, dist double")
    w = Window.partitionBy("qid").orderBy(F.col("dist"), F.col("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        # raw elementwise-computed distance (no round): bitwise-reproducible
        # by the NumPy oracle twin -> exact driver hash check
        .select("qid", "rank", "id", "dist")
    )


def cached_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverted file, built once per fixture stamp and persisted — the
    production shape (the index is materialized once, probed many times),
    and it avoids re-broadcasting the centroids per query call."""
    return cache.memo(
        "ivf_index",
        None,
        twin.fixture_paths(sf_dir),
        lambda: build_index(spark, sf_dir, train_centroids(spark, sf_dir)).persist(),
        spark,
    )


@register(
    "ann_ivf_topk",
    survey_ops=("V8", "J6", "T1", "V12"),
    # Rotated back r14 (folded r8; VERDICT r13 item 1), held its round
    # hash-green in CORRECTNESS_r14; folded again r15 to free the slot for
    # x_hypertable_rollup (last green r6, sole X-showcase driver carrier).
    # V8 stays driver-green on lopq_encode_codes / emb_cluster_sample,
    # J6 on lopq_search_topk, T1 on lopq_search_topk / ann_cosine_topk /
    # j4_ranked_metadata_join, V12 on ann_cosine_topk.
    driver=False,
    doc=f"IVF ANN: {N_CELLS}-cell inverted file (driver-sample k-means, "
    f"mapInArrow assign), probe {N_PROBE} nearest cells per query, exact "
    "rank within. Oracle: NumPy twin (lopq/twin.py) — elementwise exact "
    "distances hash exactly; recall floor vs brute force in "
    "tests/test_similarity_quality.py.",
    oracle=twin.ann_ivf_topk_sql,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    centroids = train_centroids(spark, sf_dir)
    index = cached_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").toArrow()
    Q = arrow_vec.vectors(q, "embedding", "ann_ivf_topk")
    queries = list(zip(q.column("vec_id").to_pylist(), Q))
    return ivf_search(spark, index, centroids, queries)
