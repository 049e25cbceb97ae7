"""Sharded-router answer equality AT the 1M-row bench scale (r8).

The fixture-size tests pin router == replica including the fat-cell split
path; this runs the same equality at the scale the bench measures latency
at — 1M codes, Zipf-skewed so ~1/3 of all rows land in one cell — where
the splits genuinely engage (several cells slice across shards) and any
id-mod routing or histogram-merge defect would surface as a changed
answer, not a slow one.

Slow (~2 min at local[32]) — gated behind SPARK_GRAFT_SLOW=1; executed and
persisted per round by scripts/scale_validation.py.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SLOW") != "1",
    reason="1M-row serving equality (minutes); set SPARK_GRAFT_SLOW=1",
)


@pytest.fixture(scope="module")
def spark():
    from columbiaimagesearch_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    s = get_spark(app_name="scale-serving", cpus=cpus, shuffle_partitions=cpus)
    s.sparkContext.setLogLevel("ERROR")
    yield s


SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_INDEX = 1_000_000
N_QUERIES = 32
N_SHARDS = 8
QUOTA = 10_000


def test_router_equals_replica_at_1m_skewed(spark, monkeypatch):
    from bench import _tiled_embeddings
    from columbiaimagesearch_spark.lopq.encode import encode_dataframe
    from columbiaimagesearch_spark.lopq.queries import fixture_model
    from columbiaimagesearch_spark.lopq.serving import (
        ServingSearcher,
        ShardedServingRouter,
    )
    from columbiaimagesearch_spark.sources import load_table

    model = fixture_model(spark, SF)
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    tiled = _tiled_embeddings(spark, emb, N_INDEX)
    codes = encode_dataframe(
        spark, tiled, model, id_col="vec_id", vec_col="v"
    ).persist()
    assert codes.count() == N_INDEX

    single = ServingSearcher(model).load_codes(codes)
    hot = int(max(single.cell_counts, key=single.cell_counts.get))
    skewed = codes.withColumn(
        "cell",
        F.when(F.col("id") % 10 == 7, F.lit(hot)).otherwise(F.col("cell")),
    ).persist()
    skew_single = ServingSearcher(model).load_codes(skewed)
    t0 = time.perf_counter()
    router = ShardedServingRouter.from_replica(skew_single, N_SHARDS)
    reshard_s = time.perf_counter() - t0
    codes.unpersist()
    skewed.unpersist()

    # the splits genuinely engaged at this scale, and the mixed-hash slice
    # assignment stays near fair share EVEN THOUGH the skewed ids are a
    # correlated stride (id % 10 == 7): raw id-mod slicing left half the
    # slices without any moved row here (only odd residues mod 8), which
    # is exactly what _SLICE_MIX exists to dissolve
    assert len(router._splits) >= 1, router._splits
    assert hot in router._splits
    owners = router._splits[hot]
    hot_total = skew_single.cell_counts[hot]
    slice_max = max(
        router.shards[o][2].cell_counts.get(hot, 0) for o in set(owners)
    )
    assert slice_max <= 1.1 * hot_total / len(owners), (slice_max, hot_total)
    assert router.n_items == skew_single.n_items == N_INDEX

    q_rows = (
        emb.where(F.col("vec_id") < N_QUERIES).select("embedding").collect()
    )
    qs = [np.asarray(r["embedding"], dtype=np.float64) for r in q_rows]
    mismatches = 0
    for qid, q in enumerate(qs):
        got = router.search(q, quota=QUOTA, k=10)
        want = skew_single.search(q, quota=QUOTA, k=10)
        if got != want:
            mismatches += 1
    assert mismatches == 0, mismatches

    # r9: the process-parallel fan-out (forked workers, COW-shared arrays,
    # LOCAL top-k replies) must give the same answers at the scale where
    # its k-sized-reply merge actually matters — the hot cell's ~42k-row
    # slices each reply only 10 candidates here, and any defect in the
    # local-topk-contains-global-topk argument would surface as a changed
    # answer on some query. Both routes: every plan to the workers, then
    # every plan scored in the calling thread (the local route)
    from columbiaimagesearch_spark.lopq.serving import ForkedRouterPool

    pool_mismatches = 0
    with ForkedRouterPool(router) as pool:
        for local_max_rows in (0, N_INDEX):
            monkeypatch.setattr(ForkedRouterPool, "LOCAL_MAX_ROWS",
                                local_max_rows)
            for q in qs:
                if pool.search(q, quota=QUOTA, k=10) != skew_single.search(
                    q, quota=QUOTA, k=10
                ):
                    pool_mismatches += 1
    assert pool_mismatches == 0, pool_mismatches
    print(
        f"\n[scale-serving] router==replica @{N_INDEX} skewed rows: "
        f"queries={len(qs)} mismatches={mismatches} "
        f"pool_mismatches={pool_mismatches} "
        f"split_cells={len(router._splits)} hot_slices={len(owners)} "
        f"hot_slice_max={slice_max} of hot_total={hot_total} "
        f"reshard={reshard_s:.1f}s"
    )
