"""Quality floors for the approximate similarity tiers (IVF) vs brute force."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from columbiaimagesearch_spark.lopq.eval import brute_force_topk, recall_at_k
from columbiaimagesearch_spark.operators import ann_ivf
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


def test_ivf_index_partitions_all_rows(spark, emb_np):
    ids, X = emb_np
    centroids = ann_ivf.train_centroids(spark, SF_SMOKE)
    index = ann_ivf.build_index(spark, SF_SMOKE, centroids)
    assert index.count() == len(ids)
    cells = index.groupBy("cell").count().collect()
    assert 1 <= len(cells) <= ann_ivf.N_CELLS
    # spark assignment == numpy assignment
    d = (X**2).sum(1)[:, None] - 2 * X @ centroids.T + (centroids**2).sum(1)[None, :]
    expected = {int(i): int(c) for i, c in zip(ids, d.argmin(axis=1))}
    got = {int(r["id"]): int(r["cell"]) for r in index.collect()}
    assert got == expected


def test_ivf_recall_floor(spark, emb_np):
    ids, X = emb_np
    centroids = ann_ivf.train_centroids(spark, SF_SMOKE)
    index = ann_ivf.build_index(spark, SF_SMOKE, centroids)
    queries = [(int(ids[i]), X[i]) for i in range(8)]
    res = ann_ivf.ivf_search(spark, index, centroids, queries, nprobe=6, k=10)
    retrieved: dict[int, list[int]] = {}
    for r in res.orderBy("qid", "rank").collect():
        retrieved.setdefault(r["qid"], []).append(r["id"])
    truth = {int(ids[i]): t for i, t in enumerate(brute_force_topk(X[:8], X, ids, 10))}
    rec = recall_at_k(retrieved, truth, 10)
    assert rec >= 0.6, f"IVF recall@10 {rec} below floor"
    # probing ALL cells must recover brute force exactly
    res_all = ann_ivf.ivf_search(
        spark, index, centroids, queries, nprobe=ann_ivf.N_CELLS, k=10
    )
    retrieved_all: dict[int, list[int]] = {}
    for r in res_all.orderBy("qid", "rank").collect():
        retrieved_all.setdefault(r["qid"], []).append(r["id"])
    assert retrieved_all == truth


def test_ivf_registry_entry(spark):
    from columbiaimagesearch_spark import registry

    df = registry.all_specs()["ann_ivf_topk"].builder(spark, SF_SMOKE)
    rows = df.collect()
    assert len(rows) == 8 * 10
    assert df.columns == ["qid", "rank", "id", "dist"]
    # rank-1 is the query itself at distance 0
    for r in rows:
        if r["rank"] == 1:
            assert r["id"] == r["qid"] and r["dist"] == 0.0


def test_connected_components_hand_graph(spark):
    from columbiaimagesearch_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(10)], "doc_id bigint")
    # components: {0,1,2,3} via chain, {5,6} pair, singletons 4,7,8,9
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (0, 1), (5, 6)], "doc_a bigint, doc_b bigint"
    )
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(nodes, pairs).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7, 8: 8, 9: 9}


def test_dedup_cluster_stats_consistent_with_components(spark):
    """dedup_cluster_stats (r10) must be the exact per-cluster aggregation
    of dedup_components' labeling joined with doc lengths: same multi-doc
    components, sizes matching cluster_size, and dup_chars = total minus
    the representative's chars (component IS the min doc_id, so its row
    always exists)."""
    from columbiaimagesearch_spark import registry
    from columbiaimagesearch_spark.sources import load_table

    specs = registry.all_specs()
    stats = {
        r["component"]: r
        for r in specs["dedup_cluster_stats"].builder(spark, SF_SMOKE).collect()
    }
    labels = specs["dedup_components"].builder(spark, SF_SMOKE).collect()
    lens = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", F.length("text").alias("n"))
        .collect()
    }
    want: dict[int, dict] = {}
    for r in labels:
        if r["cluster_size"] >= 2:
            w = want.setdefault(
                r["component"], {"n_docs": 0, "total_chars": 0}
            )
            w["n_docs"] += 1
            w["total_chars"] += lens[r["doc_id"]]
    assert set(stats) == set(want)
    for comp, w in want.items():
        s = stats[comp]
        assert s["n_docs"] == w["n_docs"]
        assert s["total_chars"] == w["total_chars"]
        assert s["dup_chars"] == w["total_chars"] - lens[comp]
        assert 0 < s["dup_chars"] < s["total_chars"]


def test_ann_cosine_matmul_matches_hof_form(spark):
    """The registered Arrow-matmul brute-force top-k and the JVM-HOF twin
    must agree bit-for-bit after the 4dp round — same ranks, ids, scores."""
    from columbiaimagesearch_spark.operators.similarity import (
        ann_cosine_topk,
        ann_cosine_topk_hof,
    )

    a = sorted(
        tuple(r) for r in ann_cosine_topk(spark, SF_SMOKE).collect()
    )
    b = sorted(
        tuple(r) for r in ann_cosine_topk_hof(spark, SF_SMOKE).collect()
    )
    assert a == b


def test_cosine_is_zero_safe_in_both_engines(spark, duck_smoke):
    """Review r13: 0/0 = NaN, and NaN sorts ABOVE every double in both
    Spark and DuckDB — an unguarded cosine would crown a zero vector
    rank-1 in every cos-desc window and flag it as everyone's near-dup,
    the exact inverse of the l2_normalize_rows contract. Both the Spark
    HOF _cosine and the shared _COS_SQL must return exactly 0.0 against
    a zero vector, and a valid value between nonzero vectors."""
    import math

    from pyspark.sql import Row

    from columbiaimagesearch_spark.operators.similarity import _COS_SQL, _cosine

    df = spark.createDataFrame(
        [
            Row(a=[0.0, 0.0], b=[1.0, 2.0]),
            Row(a=[0.0, 0.0], b=[0.0, 0.0]),
            Row(a=[3.0, 4.0], b=[3.0, 4.0]),
        ]
    )
    got = [
        r["c"] for r in df.select(_cosine(F.col("a"), F.col("b")).alias("c")).collect()
    ]
    assert got[0] == 0.0 and got[1] == 0.0
    assert abs(got[2] - 1.0) < 1e-12
    assert not any(math.isnan(x) for x in got)

    sql = duck_smoke.execute(f"""
        SELECT {_COS_SQL.format(a="a", b="b")} AS c
        FROM (VALUES ([0.0, 0.0]::DOUBLE[], [1.0, 2.0]::DOUBLE[]),
                     ([3.0, 4.0]::DOUBLE[], [3.0, 4.0]::DOUBLE[])) t(a, b)
    """).fetchall()
    assert sql[0][0] == 0.0
    assert abs(sql[1][0] - 1.0) < 1e-12


def test_derive_lsh_knobs_rejects_recall_one(spark):
    """Review r13: recall=1.0 hit an opaque math-domain error inside
    bands_needed; the contract check now names the exhaustive paths."""
    from columbiaimagesearch_spark.operators.similarity import derive_lsh_knobs

    with pytest.raises(ValueError, match="recall must be in"):
        derive_lsh_knobs(10_000, recall=1.0)
    with pytest.raises(ValueError, match="recall must be in"):
        derive_lsh_knobs(10_000, recall=0.0)
    bands, bits = derive_lsh_knobs(10_000, recall=0.9)  # valid still works
    assert bands > 0 and bits > 0


_MALFORMED = [
    # one NULL vector would shift every later row onto the wrong vec_id
    ("null", [[1.0, 0.0], None, [0.0, 1.0]], "NULL vector"),
    # lengths 2+1+3 = 3 rows x 2: a flat-size check alone would pass
    ("ragged", [[1.0, 0.0], [0.5], [0.0, 1.0, 0.0]], "ragged vectors"),
    ("zero_width", [[], [], []], "zero-width vectors"),
    # a NULL element becomes NaN, which compares False against every
    # threshold: the vector would read as "no near-dup" or "clean"
    ("null_element", [[1.0, 0.0], [None, 1.0], [0.0, 1.0]], "NULL element"),
]

# one axis per public entry point that reads vectors through the Arrow
# boundary; "batch" keeps the bare ids it was introduced with
_ENTRY_POINTS = [
    "stream", "encode", "ivf", "decon_corpus", "decon_bench", "pca",
    "exact_nn", "load_codes",
]


def _tiny_lopq():
    """A D=2, M=2 LOPQ model: enough for the entry points to reach their
    vector read."""
    from columbiaimagesearch_spark.lopq.model import LOPQModel

    book = np.array([[[0.0], [1.0]], [[0.0], [1.0]]])
    return LOPQModel(
        V=2, M=2, K=2, D=2, Cs=book, Rs=np.ones((2, 2, 1, 1)),
        mus=np.zeros((2, 2, 1)), subs=book,
    )


@pytest.mark.parametrize(
    "path, vectors, message",
    [pytest.param("batch", v, m, id=i) for i, v, m in _MALFORMED]
    + [
        pytest.param(p, v, m, id=f"{p}-{i}")
        for p in _ENTRY_POINTS
        for i, v, m in _MALFORMED
    ],
)
def test_emb_lsh_refuses_malformed_vectors(spark, tmp_path, path, vectors, message):
    """Every vector kernel reshapes each batch's flattened vectors into an
    (n, d) matrix: malformed input must raise a descriptive error, not
    yield plausible but wrong answers (or a ZeroDivisionError at d == 0).
    Every entry point reads through the same boundary; without it, d == 0
    keys every streamed vector alike and the step claims them all, and a
    NULL element silently becomes NaN."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from columbiaimagesearch_spark.lopq.encode import encode_dataframe
    from columbiaimagesearch_spark.lopq.eval import exact_nn_pairs
    from columbiaimagesearch_spark.lopq.serving import ServingSearcher
    from columbiaimagesearch_spark.lopq.train_spark import pca_project
    from columbiaimagesearch_spark.operators.hygiene import (
        embedding_decontaminate_from,
    )
    from columbiaimagesearch_spark.operators.similarity import emb_lsh_pairs_from
    from columbiaimagesearch_spark.streaming.emb_dedup_stream import (
        emb_dedup_batch_step,
    )

    vec_df = spark.createDataFrame(
        list(enumerate(vectors)), "vec_id bigint, v array<double>"
    ).coalesce(1)  # one Arrow batch: raggedness is visible within it
    good = spark.createDataFrame([(9, [1.0, 0.0])], "vec_id bigint, v array<double>")
    with pytest.raises(Exception, match=message):
        if path == "batch":
            emb_lsh_pairs_from(vec_df, bands=2, bits=3, max_bucket=None).collect()
        elif path == "stream":
            emb_dedup_batch_step(
                spark, vec_df, str(tmp_path / "state"), bands=2, bits=3
            )
        elif path == "encode":
            encode_dataframe(spark, vec_df, _tiny_lopq(), vec_col="v").collect()
        elif path == "ivf":
            pq.write_table(
                pa.table({
                    "vec_id": pa.array(range(len(vectors)), pa.int64()),
                    "embedding": pa.array(vectors, pa.list_(pa.float32())),
                }),
                tmp_path / "embeddings.parquet",
            )
            ann_ivf.build_index(spark, str(tmp_path), np.eye(2)).collect()
        elif path == "decon_corpus":
            embedding_decontaminate_from(vec_df, good, exact=True).collect()
        elif path == "decon_bench":
            embedding_decontaminate_from(good, vec_df, exact=True).collect()
        elif path == "pca":
            pca_project(vec_df, np.eye(2), np.zeros(2)).collect()
        elif path == "exact_nn":
            exact_nn_pairs(vec_df, vec_col="v").collect()
        else:
            codes = vec_df.select(
                F.lit(0).alias("cell"),
                F.col("vec_id").alias("id"),
                F.col("v").cast("array<int>").alias("fine"),
            )
            ServingSearcher(_tiny_lopq()).load_codes(codes)
