#!/usr/bin/env python
"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. The FINAL
stdout line is the compact headline JSON {"metric": ..., "value":
total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...} — size-
guarded to fit the driver's ~2000-char tail capture (compose_output_lines;
r6 recorded parsed:null when inline extras outgrew the window). Full extra
sections (serving tiers, curation, train, calibration ladders) print on
the preceding line and persist to BENCH_EXTRAS.json.

Each query is materialized through the noop sink so the full plan executes
(project pruning can't skip work). Bench measures STEADY-STATE query cost:
one untimed warm-up pass runs every headline query first (JIT, codegen
caches, parquet footers, OS page cache — measured 3-5x inflation on the
first execution of the heavy queries), then each query runs
$SPARK_GRAFT_BENCH_N timed passes (default 3) round-robin and the reported
per-query number is the MEDIAN; "value" is the sum of medians. Queries
whose first-n median exceeds SLOW_QUERY_SEC get EXTRA_SLOW_ROUNDS more
round-robin samples (n=5 at the defaults) so their round-over-round deltas
outrun the host noise their walls sit in. Raw samples
are written to BENCH_RUNS.json (side file — kept out of the headline JSON
line so the driver's tail capture never truncates it).

"serving_ms" reports the single-query latency (p50/p99 over 32 queries) of
the in-memory ServingSearcher at the production quota envelope — the
comparison point for the reference's only published latency number
("less than a second" serving, BASELINE.md).

"curation" reports wall time + docs/sec of the full batch LLM-curation
chain (dedup -> hygiene -> mixture -> split -> pack) run as one job.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from columbiaimagesearch_spark import registry  # noqa: E402
from columbiaimagesearch_spark.session import get_spark  # noqa: E402

# Headline queries whose first-n median exceeds this get EXTRA_SLOW_ROUNDS
# additional round-robin samples (5 total at the default n=3): the >1 s
# queries' n=3 medians moved round-over-round by more than real plan
# changes do (VERDICT r8). Skipped when SPARK_GRAFT_BENCH_N=1 (smoke runs).
SLOW_QUERY_SEC = 1.0
EXTRA_SLOW_ROUNDS = 2
# Second-tier queries run n=1; a sample exceeding this factor times its
# value in the committed canonical BENCH_RUNS.json is re-sampled once and
# the min kept (transient host events don't reproduce; regressions do).
# r15 (VERDICT r14 #3): the comparison is CALIB-NORMALIZED (both walls
# divided by their run's post_second_tier calibration sample) so uniform
# host drift cancels — the raw-wall form re-ran 11 of 37 specs in r14 on
# a slow host. Sub-second specs use the widened factor: their natural
# sample-to-sample spread (JVM GC pauses, fixed scheduling overhead) can
# exceed 2x at FLAT calib, which is noise, not regression; a genuine 2x
# move on a >=1 s wall still fires at 2.0.
SECOND_TIER_RESAMPLE_FACTOR = 2.0
SECOND_TIER_RESAMPLE_FACTOR_SUBSEC = 3.0

HEADLINE = [
    "q1_pricing_summary",
    "s4_cursor_scan",
    "j1_keys_to_rows",
    "j2_explode_join",
    "j4_ranked_metadata_join",
    "a2_cell_histogram",
    "a7_update_batching",
    "t1_distance_topk",
    "t4_per_group_topk",
    "w_event_windows",
    "st1_count_batch_assembly",
    "text_token_stats",
    "text_fingerprint",
    "dedup_exact_groups",
    "dedup_simhash",
    "dedup_minhash_lsh_pairs",
    "ann_cosine_topk",
    "emb_near_dup_pairs",
    "j8_posexplode_align",
    "setops_bundle",
    "q18_large_volume_customer",
    "lopq_encode_codes",
    "lopq_search_topk",
    "lopq_search_rerank",
    "ann_ivf_topk",
    # LLM hygiene/packing family (driver-visible since r3)
    "llm_decontaminate",
    # fuzzy (MinHash) decontamination (r8; folded spec, local parity)
    "llm_fuzzy_decontaminate",
    "text_repetition_stats",
    "text_boilerplate_ngrams",
    "llm_split_assign",
    "llm_seq_pack",
    "llm_mixture_sample",
    # PCA-composed search (V7 driver row since r3)
    "lopq_pca_search_topk",
    # model-quality diagnostics (driver row since r4)
    "lopq_eval_diagnostics",
    # exact-substring duplication tier (r4; folded spec, local parity)
    "dedup_substring_spans",
    # label-free cosine-LSH embedding near-dup (r4; folded spec, twin parity)
    "emb_lsh_near_dup_pairs",
    # as-of join showcase (r4; union-carry composition, DuckDB ASOF oracle)
    "j_asof_latest_order",
    # range-join showcase (r4; bin-key equi-join rewrite, hash not NL join)
    "j_range_tier_assign",
    # hypertable rollup showcase (r4; 3 resolutions in one Expand+agg pass)
    "x_hypertable_rollup",
]


def _latencies_ms(fn, qs) -> list[float]:
    """Warm once on qs[0], then one timed call per query; sorted ms list.
    The one measurement loop every serving section shares (p50 = median,
    p99 = _p99 below) — fix the convention HERE, not in three copies."""
    fn(qs[0])
    lat = []
    for q in qs:
        t0 = time.perf_counter()
        fn(q)
        lat.append((time.perf_counter() - t0) * 1000.0)
    lat.sort()
    return lat


def _p99(lat: list[float]) -> float:
    return round(lat[min(len(lat) - 1, int(len(lat) * 0.99))], 3)


def _load_prior_artifact(path: str, sf_val: float) -> dict:
    """Last round's committed bench artifact, trusted only when it is a
    dict stamped with the SAME sf (cross-tier reference ratios are
    meaningless). Malformed content — a top-level list, a missing or
    non-numeric "sf" — is treated as absent rather than raised (ADVICE
    r14: the old guard caught OSError/ValueError only, so a malformed
    artifact crashed the whole bench before any results were written)."""
    try:
        with open(path) as fh:
            prior = json.load(fh)
    except (OSError, ValueError):
        return {}
    if (
        isinstance(prior, dict)
        and isinstance(prior.get("sf"), (int, float))
        and not isinstance(prior.get("sf"), bool)
        and float(prior["sf"]) == sf_val
    ):
        return prior
    return {}


def _second_tier_trigger(sec: float, ref, cur_calib: float, prior_calib) -> bool:
    """Does a second-tier sample warrant the one-shot resample?  Compares
    calib-normalized walls (falling back to raw walls when the prior run
    predates the post_second_tier ladder entry) against the per-scale
    factor: 2x for >=1 s reference walls, 3x sub-second — see the
    constants' comment for the r14 fire-rate rationale."""
    if not isinstance(ref, (int, float)) or isinstance(ref, bool) or not ref:
        return False
    factor = (
        SECOND_TIER_RESAMPLE_FACTOR
        if float(ref) >= 1.0
        else SECOND_TIER_RESAMPLE_FACTOR_SUBSEC
    )
    cur, base = float(sec), float(ref)
    if (
        isinstance(prior_calib, (int, float))
        and not isinstance(prior_calib, bool)
        and prior_calib > 0
        and cur_calib > 0
    ):
        cur /= cur_calib
        base /= float(prior_calib)
    return cur > factor * base


def _attr_serving_calib(block: dict | None, calib_s: float) -> None:
    """Stamp a serving block with its trailing calibration sample and the
    calib-normalized forms of its latency keys (VERDICT r14 #4: the r14
    100k p50 drift 1.70->2.43 ms was unadjudicable from the artifact —
    serving tiers carried no wall_per_calib-style attribution). Ratios are
    ms-per-calib-second: only their round-over-round movement means
    anything, exactly like wall_per_calib."""
    if not block or calib_s <= 0:
        return
    block["calib_sec"] = calib_s
    for k in ("p50", "p99", "p99_parallel_router"):
        v = block.get(k)
        if isinstance(v, (int, float)):
            block[f"{k}_per_calib"] = round(float(v) / calib_s, 2)


def _pctl(lat: list[float], frac: float) -> float:
    """Percentile over a SORTED ms list, same convention as _p99."""
    return round(lat[min(len(lat) - 1, int(len(lat) * frac))], 3)


def _throughput_qps(fn, qs, threads: int = 8) -> float:
    """Aggregate queries/sec under concurrent load: ``threads`` threads
    each run the full query list; wall is measured across all of them.
    This is the serving number the HTTP server's accept threads
    (``http_api.SERVER_THREADS``, each answering a connection start to
    finish) live on — the r9 pool serialized concurrent queries on a
    pool-wide lock and DEGRADED this number below the sequential router's
    (VERDICT r9 what's-wrong #2); the multiplexed pool must beat it."""
    import threading as _threading

    def worker():
        for q in qs:
            fn(q)

    ts = [_threading.Thread(target=worker) for _ in range(threads)]
    t0 = time.perf_counter()
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    wall = time.perf_counter() - t0
    return round(threads * len(qs) / wall, 1)


def serving_latency_ms(spark, sf_dir: str, n_queries: int = 32) -> dict:
    """p50/p99 single-query latency of the in-memory serving tier at the
    reference's production quota envelope (quota=10000, k=10 —
    searcher_lopqhbase.py:838). Index = the full sf codes table."""
    from columbiaimagesearch_spark.lopq.queries import codes_df, fixture_model
    from columbiaimagesearch_spark.lopq.serving import ServingSearcher
    from columbiaimagesearch_spark.sources import load_table

    import numpy as np
    from pyspark.sql import functions as F

    from columbiaimagesearch_spark.lopq.queries import RERANK_NB

    model = fixture_model(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    searcher = (
        ServingSearcher(model).load_codes(codes_df(spark, sf_dir)).load_vectors(emb)
    )
    rows = (
        emb.where(F.col("vec_id") < n_queries).select("embedding").collect()
    )
    qs = [np.asarray(r["embedding"], dtype=np.float64) for r in rows]
    lat = _latencies_ms(lambda q: searcher.search(q, quota=10_000, k=10), qs)
    lat_rr = _latencies_ms(
        lambda q: searcher.search(q, quota=10_000, k=10, rerank_nb=RERANK_NB),
        qs,
    )
    return {
        "p50": round(statistics.median(lat), 3),
        "p99": _p99(lat),
        "p50_rerank": round(statistics.median(lat_rr), 3),
        "n_queries": len(qs),
        "index_rows": searcher.n_items,
    }


def _tiled_embeddings(spark, emb, target: int):
    """The sf embeddings tiled to ``target`` vectors — replica r gets
    deterministic per-element jitter so the tiled corpus spreads over
    cells like the real one (replica 0 IS the original corpus)."""
    from pyspark.sql import functions as F

    n0 = emb.count()
    reps = -(-target // n0)
    return (
        emb.crossJoin(spark.range(reps).select(F.col("id").alias("rep")))
        .select(
            (F.col("vec_id") + F.col("rep") * n0).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: (
                    x
                    + F.lit(0.02)
                    * F.col("rep").cast("double")
                    * F.sin(F.col("vec_id").cast("double") * 0.7 + i.cast("double") * 1.3)
                ).cast("double"),
            ).alias("v"),
        )
        .where(F.col("vec_id") < target)
    )


def serving_million_bench(
    spark, sf_dir: str, n_queries: int = 32
) -> tuple[dict | None, dict | None]:
    """Serving latency AT the reference's stated scale: its envelope is
    "millions of images ... in less than a second" (README.md:12-13) — the
    100k section extrapolates; this measures at 1M index rows directly.
    ADC-path only (rerank residency at 1M belongs to the sharded tier):
    p50/p99 through the single replica, p50 through an 8-shard router
    RE-SHARDED FROM the live replica (ShardedServingRouter.from_replica —
    zero re-read), plus the replica bootstrap time (snapshot_load_s, the
    Arrow collect). Set SPARK_GRAFT_SERVING_N_LARGE=0 to skip.

    Returns (balanced, skewed): the second dict re-measures the SAME 1M
    codes after remapping ~10% of all rows into the naturally-largest cell
    — production cell populations are Zipf-ish (SURVEY §4), and the
    fixture layout's natural balance never exercised that. The hot cell
    makes any query whose traversal reaches it scan ~300k codes in one
    ADC pass; hot_rate reports what fraction of the bench queries did, so
    the p99 is attributable.

    What the router does and does NOT buy (measured r8): in ONE process
    the fan-out is sequential, so router wall ≈ single-replica wall — it
    does not hide the hot cell locally (r7 measured a 3% p99 delta and
    over-claimed "absorption"). What sharding + fat-cell slicing DOES buy
    is the bound on MAX PER-SHARD scanned rows per query —
    max_shard_rows_p50/_max below, ~7x smaller with slicing (48.6k vs
    335.3k worst-case at the r8 measurement; the 335k hot cell slices to
    its 41.9k fair share per shard) — and that bound IS the wall clock of
    a real deployment whose shards are separate processes answering in
    parallel. r9 closes the loop by MEASURING that deployment shape:
    p50/p99_parallel_router runs the same skewed queries through
    ForkedRouterPool (one forked worker per shard, COW-shared arrays,
    k-sized replies), so the slicing claim is a latency number again, not
    only a row-count proxy. r10 makes the tail measurement reproducible
    (full-query-set COW warm-up, 128 skew queries, p90/p95 beside p99 —
    SCALE.md §ForkedRouterPool) and adds the 8-thread concurrent
    throughput pair (pool vs sequential fan-out)."""
    import numpy as np
    from pyspark.sql import functions as F

    from columbiaimagesearch_spark.lopq.encode import encode_dataframe
    from columbiaimagesearch_spark.lopq.model import LOPQModelPCA
    from columbiaimagesearch_spark.lopq.queries import fixture_model
    from columbiaimagesearch_spark.lopq.search import multisequence_cells
    from columbiaimagesearch_spark.lopq.serving import (
        ServingSearcher,
        ShardedServingRouter,
    )
    from columbiaimagesearch_spark.sources import load_table

    target = int(os.environ.get("SPARK_GRAFT_SERVING_N_LARGE", "1000000"))
    if target <= 0:
        return None, None
    model = fixture_model(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tiled = _tiled_embeddings(spark, emb, target)
    codes = encode_dataframe(spark, tiled, model, id_col="vec_id", vec_col="v")
    codes = codes.persist()
    n_index = codes.count()
    t0 = time.perf_counter()
    searcher = ServingSearcher(model).load_codes(codes)
    snapshot_load_s = time.perf_counter() - t0

    # balanced section keeps n_queries (round-over-round comparability);
    # the skew section below uses the full 128 — at n=32 the p99 was
    # effectively max-of-32 and one descheduled worker set it (VERDICT r9
    # what's-wrong #1)
    n_skew = max(int(os.environ.get("SPARK_GRAFT_SERVING_SKEW_QUERIES", "128")),
                 n_queries)
    q_rows = emb.where(F.col("vec_id") < n_skew).select("embedding").collect()
    qs_all = [np.asarray(r["embedding"], dtype=np.float64) for r in q_rows]
    qs = qs_all[:n_queries]
    lat = _latencies_ms(lambda q: searcher.search(q, quota=10_000, k=10), qs)
    router = ShardedServingRouter.from_replica(searcher, 8)
    lat_router = _latencies_ms(
        lambda q: router.search(q, quota=10_000, k=10), qs
    )
    balanced = {
        "p50": round(statistics.median(lat), 3),
        "p99": _p99(lat),
        "p50_sharded_router": round(statistics.median(lat_router), 3),
        "p99_sharded_router": _p99(lat_router),
        "n_queries": len(qs),
        "index_rows": int(n_index),
        "snapshot_load_s": round(snapshot_load_s, 3),
    }

    # -- Zipf-skew variant: same rows, ~10% forced into the hottest cell.
    # The moved rows' fine codes stay as encoded (their ADC distances vs
    # the hot centroid are meaningless for recall, but the latency cost —
    # LUT build + one ADC pass over a 100k-row cell — is exactly what a
    # real hot cell costs, which is what this section measures).
    hot = int(max(searcher.cell_counts, key=searcher.cell_counts.get))
    skewed_codes = codes.withColumn(
        "cell",
        F.when(F.col("id") % 10 == 7, F.lit(hot)).otherwise(F.col("cell")),
    ).persist()
    skew_searcher = ServingSearcher(model).load_codes(skewed_codes)
    skewed_codes.unpersist()
    codes.unpersist()
    hot_rows = skew_searcher.cell_counts[hot]
    lopq = model.lopq if isinstance(model, LOPQModelPCA) else model
    counts = skew_searcher.cell_counts

    def hits_hot(q: np.ndarray) -> bool:
        qp = model.project_queries(q)[0] if isinstance(model, LOPQModelPCA) else q
        d1, d2 = lopq.coarse_distances(qp)
        return hot in set(multisequence_cells(d1, d2, counts, 10_000))

    hot_rate = sum(hits_hot(q) for q in qs_all) / len(qs_all)
    lat_skew = _latencies_ms(
        lambda q: skew_searcher.search(q, quota=10_000, k=10), qs_all
    )
    skew_router = ShardedServingRouter.from_replica(skew_searcher, 8)
    lat_skew_router = _latencies_ms(
        lambda q: skew_router.search(q, quota=10_000, k=10), qs_all
    )

    def max_shard_rows(router, q: np.ndarray) -> int:
        """Worst single-shard scanned-row count for one query — the
        parallel-deployment wall the fat-cell slicing bounds."""
        _qp, by_shard, _rows = router.plan_fanout(q, 10_000)
        return max(
            (
                sum(router.shards[i][2].cell_counts.get(c, 0) for c in cells)
                for i, cells in by_shard.items()
            ),
            default=0,
        )

    mx = [max_shard_rows(skew_router, q) for q in qs_all]

    # Process-parallel fan-out (r9): one forked worker per shard (COW
    # shares the resident arrays; replies are k-sized). This turns the
    # max-per-shard-rows proxy into a MEASURED parallel wall — the
    # sequential in-process router's wall equals TOTAL work, a threaded one
    # was 1.6-10x slower (GIL), but separate processes genuinely overlap.
    # r10 (VERDICT r9 #1): the warm-up touches EVERY COW page the timed
    # queries will — warming with one query left first-touch page-fault
    # storms inside timed queries that visited other cells, and that plus
    # max-of-32 sampling made the committed 6.85 ms p99 come back 48.5 ms
    # in the driver's run. Also measured here: aggregate throughput under
    # 8-thread load, pool (per-caller reply pipes) vs sequential router —
    # the number the HTTP server's accept-thread pool actually serves at.
    from columbiaimagesearch_spark.lopq.serving import ForkedRouterPool

    thr_router = _throughput_qps(
        lambda q: skew_router.search(q, quota=10_000, k=10), qs_all
    )
    with ForkedRouterPool(skew_router) as pool:
        for q in qs_all:  # warm every COW page the bench touches
            pool.search(q, quota=10_000, k=10)
        lat_parallel = _latencies_ms(
            lambda q: pool.search(q, quota=10_000, k=10), qs_all
        )
        thr_pool = _throughput_qps(
            lambda q: pool.search(q, quota=10_000, k=10), qs_all
        )
    slice_stats = skew_router.split_slice_stats
    skewed = {
        "p50": round(statistics.median(lat_skew), 3),
        "p99": _p99(lat_skew),
        "p50_sharded_router": round(statistics.median(lat_skew_router), 3),
        "p90_sharded_router": _pctl(lat_skew_router, 0.90),
        "p99_sharded_router": _p99(lat_skew_router),
        "p50_parallel_router": round(statistics.median(lat_parallel), 3),
        "p90_parallel_router": _pctl(lat_parallel, 0.90),
        "p95_parallel_router": _pctl(lat_parallel, 0.95),
        "p99_parallel_router": _p99(lat_parallel),
        "concurrent_qps_router": thr_router,
        "concurrent_qps_pool": thr_pool,
        "concurrent_threads": 8,
        "n_queries": len(qs_all),
        "index_rows": int(n_index),
        "hot_cell_rows": int(hot_rows),
        "hot_rate": round(hot_rate, 3),
        "split_cells": len(skew_router._splits),
        "capped_split_cells": slice_stats["capped_split_cells"],
        "max_slice_rows": slice_stats["max_slice_rows"],
        "max_shard_rows_p50": int(statistics.median(mx)),
        "max_shard_rows_max": int(max(mx)),
    }
    return balanced, skewed


def serving_scale_bench(spark, sf_dir: str, n_queries: int = 32) -> dict:
    """Serving latency at a realistic index size — evidence for the
    reference's envelope ("millions of images ... in less than a second",
    README.md:12-13), which the r4 bench only measured at 2000 codes.

    Index: the sf embeddings tiled to $SPARK_GRAFT_SERVING_N (default
    100k) vectors — replica r gets deterministic per-element jitter so the
    tiled corpus spreads over cells like the real one — encoded
    DISTRIBUTED with the fixture model, then snapshotted into the
    in-memory replica (collect guarded by the budget). Reports:
    - p50/p99/p50_rerank single-query ms at the production quota;
    - snapshot_load_s: the replica bootstrap collect;
    - layout_write_s / layout_search_s: the bucketed production layout's
      build + one distributed search_from_layout call at the same 100k
      (the batch read path's latency number)."""
    import shutil
    import tempfile

    import numpy as np
    from pyspark.sql import functions as F

    from columbiaimagesearch_spark.lopq import layout
    from columbiaimagesearch_spark.lopq.encode import encode_dataframe
    from columbiaimagesearch_spark.lopq.queries import (
        QUOTA, RERANK_NB, TOP_K, fixture_model,
    )
    from columbiaimagesearch_spark.lopq.serving import ServingSearcher
    from columbiaimagesearch_spark.sources import load_table

    target = int(os.environ.get("SPARK_GRAFT_SERVING_N", "100000"))
    model = fixture_model(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tiled = _tiled_embeddings(spark, emb, target)
    codes = encode_dataframe(spark, tiled, model, id_col="vec_id", vec_col="v")
    codes = codes.persist()
    n_index = codes.count()

    t0 = time.perf_counter()
    searcher = ServingSearcher(model).load_codes(codes)
    snapshot_load_s = time.perf_counter() - t0
    searcher.load_vectors(tiled, id_col="vec_id", vec_col="v")

    q_rows = emb.where(F.col("vec_id") < n_queries).select("embedding").collect()
    qs = [np.asarray(r["embedding"], dtype=np.float64) for r in q_rows]
    lat = _latencies_ms(lambda q: searcher.search(q, quota=10_000, k=10), qs)
    lat_rr = _latencies_ms(
        lambda q: searcher.search(q, quota=10_000, k=10, rerank_nb=RERANK_NB),
        qs,
    )

    # the scale-out path at the same index size: 4 cell-range shards behind
    # the router (answers pinned equal to the single replica by tests) —
    # the latency delta IS the routing overhead
    from columbiaimagesearch_spark.lopq.serving import ShardedServingRouter

    router = ShardedServingRouter.build(model, codes, n_shards=4)
    lat_router = _latencies_ms(
        lambda q: router.search(q, quota=10_000, k=10), qs
    )

    path = tempfile.mkdtemp(prefix="codes_layout_100k_")
    try:
        t0 = time.perf_counter()
        layout.write_codes_partitioned(codes, path, bucket_cells=8)
        layout_write_s = time.perf_counter() - t0
        lq = [(i, q) for i, q in enumerate(qs[:8])]
        layout.search_from_layout(
            spark, path, model, lq, quota=QUOTA, k=TOP_K
        ).write.mode("overwrite").format("noop").save()  # warm listing/footers
        t0 = time.perf_counter()
        layout.search_from_layout(
            spark, path, model, lq, quota=QUOTA, k=TOP_K
        ).write.mode("overwrite").format("noop").save()
        layout_search_s = time.perf_counter() - t0
    finally:
        shutil.rmtree(path, ignore_errors=True)
    http = serving_http_bench(spark, model, searcher, int(n_index))
    codes.unpersist()
    return {
        "p50": round(statistics.median(lat), 3),
        "p99": _p99(lat),
        "p50_rerank": round(statistics.median(lat_rr), 3),
        "p50_sharded_router": round(statistics.median(lat_router), 3),
        "n_queries": len(qs),
        "index_rows": int(n_index),
        "snapshot_load_s": round(snapshot_load_s, 3),
        "layout_write_s": round(layout_write_s, 3),
        "layout_search_s": round(layout_search_s, 3),
        "http": http,
    }


class _HashQueryModel:
    """byB64 featurizer adapter at the INDEX's dimensionality: bytes -> a
    deterministic seeded unit vector. Featurize cost is negligible by
    design, so the measured endpoint number isolates what the reference's
    <1 s claim covers at its REST boundary: HTTP parse + base64 decode +
    search + JSON response."""

    def __init__(self, dim: int) -> None:
        self.dim = dim

    def featurize_full(self, data: bytes):
        import hashlib

        import numpy as np

        seed = int.from_bytes(hashlib.sha1(data).digest()[:4], "big")
        v = np.random.RandomState(seed).rand(self.dim) - 0.5
        return v / np.linalg.norm(v)


def serving_http_bench(spark, model, searcher, n_index: int,
                       n_queries: int = 32) -> dict:
    """End-to-end byB64 latency THROUGH the stdlib HTTP server backed by
    the (already-loaded) scale searcher — the same boundary the reference
    states its <1 s claim at (REST API, README.md:13). Expected shape:
    searcher latency + JSON/transport overhead. p50/p99 with the default
    rerank path, p50_adc with rerank_nb=0.

    r10 adds the concurrent pair at this boundary: 8 client threads
    hammering byB64 (ADC path) against (a) an 8-shard sequential-fan-out
    service and (b) the same shards behind ``enable_parallel_pool()`` —
    the deployment shape VERDICT r9 #2 called out (a threaded HTTP server
    over the r9 lock-serialized pool degenerated to one query at a time;
    the pool must win END TO END, not only at the pool API).
    ``make_server`` answers with a fixed pool of accept threads, each
    serving its connection start to finish."""
    import base64 as b64mod
    import hashlib
    import threading as _threading
    import urllib.request

    from columbiaimagesearch_spark import http_api
    from columbiaimagesearch_spark.lopq.model import LOPQModelPCA
    from columbiaimagesearch_spark.lopq.serving import ShardedServingRouter

    lopq = model.lopq if isinstance(model, LOPQModelPCA) else model
    dim = 2 * lopq.half  # D = two coarse halves
    id_to_sha1 = {i: f"{i:040x}" for i in range(n_index)}
    sha1_to_ids = {s: [i] for i, s in id_to_sha1.items()}
    svc = http_api.ImageSearchService(
        spark, model, searcher, id_to_sha1, sha1_to_ids,
        _HashQueryModel(dim), "full_image",
    )
    server = http_api.make_server(svc)
    http_api.serve_in_thread(server)

    def make_post(url: str):
        def post(payload: bytes, options: str | None = None) -> float:
            body = {"data": b64mod.b64encode(payload).decode()}
            if options:
                body["options"] = options
            req = urllib.request.Request(
                url, data=json.dumps(body).encode(),
                headers={"Content-Type": "application/json"},
            )
            t0 = time.perf_counter()
            with urllib.request.urlopen(req, timeout=60) as r:
                r.read()
            return (time.perf_counter() - t0) * 1000.0

        return post

    def http_qps(post, payloads, threads: int = 8) -> float:
        def worker():
            for p in payloads:
                post(p, '{"rerank_nb": 0}')

        ts = [_threading.Thread(target=worker) for _ in range(threads)]
        t0 = time.perf_counter()
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        return round(threads * len(payloads) / (time.perf_counter() - t0), 1)

    try:
        host, port = server.server_address
        post = make_post(
            f"http://{host}:{port}/{http_api.DEFAULT_ENDPOINT}/byB64"
        )
        payloads = [
            hashlib.sha1(f"http-bench-{i}".encode()).digest()
            for i in range(n_queries)
        ]
        post(payloads[0])  # warm (connection path, featurizer import)
        lat = sorted(post(p) for p in payloads)
        lat_adc = sorted(post(p, '{"rerank_nb": 0}') for p in payloads)
        out = {
            "p50": round(statistics.median(lat), 3),
            "p99": round(lat[min(len(lat) - 1, int(len(lat) * 0.99))], 3),
            "p50_adc": round(statistics.median(lat_adc), 3),
            "n_queries": n_queries,
        }
    finally:
        server.shutdown()

    # concurrent boundary pair: same 8-shard router behind both services
    # (read-only, shareable); only the fan-out engine differs
    router = ShardedServingRouter.from_replica(searcher, 8)
    for parallel in (False, True):
        s2 = http_api.ImageSearchService(
            spark, model, router, id_to_sha1, sha1_to_ids,
            _HashQueryModel(dim), "full_image",
        )
        if parallel:
            s2.enable_parallel_pool()
        srv2 = http_api.make_server(s2)
        http_api.serve_in_thread(srv2)
        try:
            h2, p2 = srv2.server_address
            post2 = make_post(
                f"http://{h2}:{p2}/{http_api.DEFAULT_ENDPOINT}/byB64"
            )
            payloads = [
                hashlib.sha1(f"http-conc-{i}".encode()).digest()
                for i in range(n_queries)
            ]
            for p in payloads:  # warm (and COW pages when pooled)
                post2(p, '{"rerank_nb": 0}')
            key = "concurrent_qps_pool" if parallel else "concurrent_qps_router"
            out[key] = http_qps(post2, payloads)
        finally:
            srv2.shutdown()
            s2.close()
    out["concurrent_threads"] = 8
    return out


def curation_bench(spark, sf_dir: str, *, full: bool = False) -> dict:
    """Wall time + throughput of the batch curation chain on the sf
    documents table — the LLM-pipeline composition measured as one job, not
    per-operator.

    Two variants: the base chain (dedup -> repetition -> mixture -> split
    -> pack, comparable round-over-round since r2) and ``full=True``, which
    additionally exercises the stages the chain grew later — PII scrubbing
    as stage 0 and benchmark decontamination (suite = the same
    doc_id % BENCH_MOD slice llm_decontaminate uses) since r3, plus the
    FUZZY decontamination rung since r9 (reusing stage 1's shingle-hash
    cache under the hashed contract — one text-hash pass serves dedup and
    fuzzy together; expect a small r8->r9 step in curation_full's wall
    from the added stage, not a regression), plus the QUALITY floor as
    stage 0b since r13 (map-only gate; it SHRINKS the later stages'
    input, so expect curation_full's wall flat-to-down, and its survivor
    mix to change once, at r13) — so the composed chain a real pipeline
    would run has its own wall-time signal."""
    from columbiaimagesearch_spark import curate as curate_mod
    from columbiaimagesearch_spark.sources import load_table

    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    bench_docs = None
    if full:
        from columbiaimagesearch_spark.operators.hygiene import BENCH_MOD

        is_bench = (F.col("doc_id") % BENCH_MOD) == 0
        bench_docs = docs.where(is_bench).select("doc_id", "text")
        docs = docs.where(~is_bench)
    n_docs = docs.count()
    t0 = time.perf_counter()
    res = curate_mod.curate_docs(
        docs, bench_docs, train_split_only=False, scrub_pii=full,
        quality_filter=full, fuzzy_decontaminate=full,
    )
    res.packed.write.mode("overwrite").format("noop").save()
    secs = time.perf_counter() - t0
    return {
        "seconds": round(secs, 3),
        "input_docs": n_docs,
        "docs_per_sec": round(n_docs / secs, 1),
    }


def train_bench(spark, sf_dir: str) -> dict:
    """One-shot wall time of the distributed LOPQ fit (fit_spark: full-corpus
    Lloyd + moment-fed rotations + distributed subquantizers) — the index
    BUILD cost, reported separately from query wall because training is a
    batch job, not a repeated query."""
    from columbiaimagesearch_spark.lopq import twin
    from columbiaimagesearch_spark.lopq.train_spark import fit_spark
    from columbiaimagesearch_spark.sources import load_table

    vec_df = load_table(spark, sf_dir, "embeddings").selectExpr(
        "vec_id as id", "cast(embedding as array<double>) as v"
    )
    n = vec_df.count()
    t0 = time.perf_counter()
    fit_spark(vec_df, init_sample=twin.SAMPLE_LIMIT, **twin.TRAIN_PARAMS)
    secs = time.perf_counter() - t0
    return {"fit_spark_seconds": round(secs, 3), "rows": n}


def layout_search_bench(spark, sf_dir: str) -> dict:
    """The production read path: write the sf codes as the bucketed
    cell-partitioned layout (untimed, one-off build cost reported
    separately), then time search_from_layout — probe planned from the
    histogram sidecar, scan statically pruned to the visited cells'
    directories + row groups."""
    import shutil
    import tempfile

    from columbiaimagesearch_spark.lopq import layout
    from columbiaimagesearch_spark.lopq.queries import (
        N_QUERIES, QUOTA, TOP_K, codes_df, fixture_model,
    )
    from columbiaimagesearch_spark.sources import load_table

    import numpy as np
    from pyspark.sql import functions as F

    model = fixture_model(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="codes_layout_")
    try:
        t0 = time.perf_counter()
        layout.write_codes_partitioned(codes_df(spark, sf_dir), path, bucket_cells=8)
        write_s = time.perf_counter() - t0
        q_rows = (
            load_table(spark, sf_dir, "embeddings")
            .where(F.col("vec_id") < N_QUERIES)
            .select("vec_id", "embedding")
            .collect()
        )
        queries = [(int(r["vec_id"]), np.array(r["embedding"])) for r in q_rows]
        # warm (scan listing, footers), then timed
        layout.search_from_layout(
            spark, path, model, queries, quota=QUOTA, k=TOP_K, bucket_cells=8
        ).write.mode("overwrite").format("noop").save()
        t0 = time.perf_counter()
        layout.search_from_layout(
            spark, path, model, queries, quota=QUOTA, k=TOP_K, bucket_cells=8
        ).write.mode("overwrite").format("noop").save()
        search_s = time.perf_counter() - t0
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return {"write_s": round(write_s, 3), "search_s": round(search_s, 3)}


def cpu_calibration_sec() -> float:
    """Fixed single-thread reference op, timed.

    The host this runs on has measurably variable CPU capacity between
    rounds (2-3x observed); this constant-work number lets a reader
    normalize headline walls across rounds instead of mistaking host
    contention for regressions. Elementwise ufunc work on purpose — numpy
    never threads ufuncs, whereas a BLAS matmul would silently use however
    many OpenBLAS threads were configured when numpy loaded (pyspark
    imports numpy before our session pins the env), making the number
    contention-noisy."""
    import numpy as np

    a = np.random.RandomState(0).rand(2_000_000)
    np.sin(a)  # warm allocator
    t0 = time.perf_counter()
    acc = 0.0
    for _ in range(10):
        acc += float(np.sin(a).sum() + np.sqrt(np.abs(a)).sum())
    return round(time.perf_counter() - t0, 3)


def sched_calibration_sec(spark) -> float:
    """Fixed job-SCHEDULING reference op, timed: 10 minimal Spark jobs
    (32 empty tasks each through the noop sink — the headline queries' job
    shape with zero data work).

    Small-sf headline walls are dominated by fixed per-job cost (driver
    planning, task scheduling, result fetch — SCALE.md), which does NOT
    move with single-thread CPU throughput: normalizing the headline by
    the CPU calibration alone misattributes scheduler-speed drift as code
    change (VERDICT r5: value_per_calib +11% on a host whose CPU calib ran
    16% faster). Reporting the headline against BOTH calibrations makes
    the r5->r6 delta attributable: if the fixed-overhead claim is right,
    value_per_sched stays flat where value_per_calib drifts."""
    def batch() -> float:
        t0 = time.perf_counter()
        for _ in range(5):
            spark.range(0, 32, 1, 32).write.mode("overwrite").format(
                "noop"
            ).save()
        return time.perf_counter() - t0

    # warm until the batch time stops improving (max 8 batches): the
    # scheduler path C2-compiles over the first dozens of jobs, so a fixed
    # one-batch warm left the PRE bracket 2x the POST in testing
    prev = batch()
    for _ in range(7):
        cur = batch()
        if cur > prev * 0.9:
            break
        prev = cur
    # min of 3 batches: scheduling cost is a floor — contention and JIT
    # only ever ADD, so the min is the stable fixed-overhead estimate
    return round(min(batch() for _ in range(3)), 3)


# The driver records the LAST ~2000 chars of bench stdout and parses the
# final JSON line out of that window. Round 6 put every extra section
# inline on that line; it outgrew the window and the round recorded
# "parsed": null (VERDICT r6 "what's wrong" #1). Keep headroom under the
# observed window.
TAIL_SAFE_CHARS = 1800


def compose_output_lines(
    headline: dict, extras: dict, limit: int = TAIL_SAFE_CHARS
) -> list[str]:
    """The two stdout lines of a bench run, final-line size-guarded.

    Line 1: every extra section under one key (readable in full stdout;
    also persisted to BENCH_EXTRAS.json). Line 2 (LAST — the line the
    driver's tail capture must contain whole): the headline metric object,
    compact, with small p50/p99 summaries of the serving sections folded
    in ONLY while the line stays under ``limit``. Summaries drop
    least-important-first if the queries map grows; the contract keys
    (metric/value/unit/queries/sf/n/value_per_calib/value_per_sched) are
    never dropped — if those alone ever exceed the window the run fails
    loudly here rather than recording an unparseable artifact."""

    def pick(section: dict | None, keys=("p50", "p99")) -> dict | None:
        if not section:
            return None
        return {k: section[k] for k in keys if k in section}

    summaries = [  # dropped left-to-right under size pressure
        ("serving", pick(extras.get("serving_ms"), ("p50", "p99", "index_rows"))),
        ("serving_1m", pick(extras.get("serving_1m_ms"))),
        ("serving_skew", pick(extras.get("serving_skew_ms"),
                              ("p50", "p99", "p99_sharded_router",
                               "p99_parallel_router", "hot_rate"))),
        ("http", pick(extras.get("serving_http_ms"))),
    ]
    final = dict(headline)
    for name, summary in summaries:
        if summary:
            final[name] = summary
    compact = lambda obj: json.dumps(obj, separators=(",", ":"))  # noqa: E731
    line = compact(final)
    for name, _ in summaries:
        if len(line) <= limit:
            break
        final.pop(name, None)
        line = compact(final)
    if len(line) > limit:
        raise RuntimeError(
            f"bench headline line is {len(line)} chars > {limit}: the "
            "queries map outgrew the driver's tail-capture window — move "
            "queries to extras or trim HEADLINE before the driver records "
            "another parsed:null round"
        )
    return [compact({"bench_extras": extras}), line]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry.all_specs()

    # warm-up: JVM, parquet footer reads, and the Python/Arrow worker pool
    # (first pandas-UDF job pays per-core worker spin-up), excluded from
    # timings — bench measures steady-state query cost.
    from columbiaimagesearch_spark.operators.relational import a8_distinct  # noqa: E402

    a8_distinct(spark, sf_dir).count()
    spark.range(256, numPartitions=int(spark.sparkContext.defaultParallelism)).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()
    # train the fixture models once (cached per sf_dir): bench times the
    # distributed encode/search queries, not the bounded-sample model fit
    from columbiaimagesearch_spark.lopq.queries import fixture_model  # noqa: E402
    from columbiaimagesearch_spark.operators.ann_ivf import train_centroids  # noqa: E402

    fixture_model(spark, sf_dir)
    train_centroids(spark, sf_dir)

    calib_pre = cpu_calibration_sec()
    sched_pre = sched_calibration_sec(spark)
    n = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "3")))
    runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    # r17 (VERDICT r16 #4): the headline number hides two splits the
    # builder memo widened — record them WITHOUT touching the timed
    # methodology. (a) cold: the warm-up pass's wall per query (first-ever
    # build + execution in this process — JIT, codegen, cold plan); (b)
    # build: the builder() portion of every timed sample (≈0 on memo
    # hits), so exec-only = sample - build is recoverable per sample.
    # Both are ADDITIONS to BENCH_RUNS.json; the headline JSON line and
    # its medians are byte-compatible with every prior round.
    cold_runs: dict[str, float] = {}
    build_runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    # untimed warm-up pass, then round-robin the timed repeats
    # (A B C A B C ...) so a transient machine-load spike inflates one
    # sample of many queries, not all samples of one
    for timed in [False] + [True] * n:
        for name in HEADLINE:
            start = time.perf_counter()
            df = specs[name].builder(spark, sf_dir)
            built = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            if timed:
                runs[name].append(round(time.perf_counter() - start, 3))
                build_runs[name].append(round(built - start, 3))
            else:
                cold_runs[name] = round(time.perf_counter() - start, 3)

    # r9: queries slower than SLOW_QUERY_SEC get EXTRA_SLOW_ROUNDS more
    # round-robin samples (n=5 total at the default n=3). At n=3 their
    # round-over-round medians moved by more than real plan changes do
    # (VERDICT r8 what's-wrong #4: 70% spread within one round's samples
    # of llm_fuzzy_decontaminate), so deltas on the expensive queries
    # drowned in their own noise; the cheap queries stay at n — their
    # absolute noise is small change against the headline sum.
    slow = [
        name
        for name in HEADLINE
        if statistics.median(runs[name]) > SLOW_QUERY_SEC
    ]
    for _ in range(EXTRA_SLOW_ROUNDS if n > 1 else 0):
        for name in slow:
            start = time.perf_counter()
            specs[name].builder(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            runs[name].append(round(time.perf_counter() - start, 3))

    # calib_post lands IMMEDIATELY after the timed round-robin loop so the
    # pre/post pair brackets exactly the section the headline number
    # measures; each extra section below then gets its own trailing sample,
    # so drift can be localized to the section it happened in instead of
    # smeared over the whole run (r3's curation 7.3s->34.1s was
    # unattributable for exactly this reason).
    calib = {"pre": calib_pre, "post": cpu_calibration_sec()}
    sched_calib = {"pre": sched_pre, "post": sched_calibration_sec(spark)}
    timings = {name: round(statistics.median(ts), 3) for name, ts in runs.items()}
    total = round(sum(timings.values()), 3)

    # Second tier: every registered spec NOT in the headline gets one timed
    # sample (warm-up pass first), closing the wall-time blind spot on the
    # folded specs (VERDICT r4 next-round #6). Raw per-spec samples land in
    # BENCH_RUNS.json ("second_tier"); the headline line carries only a
    # compact (count, total) summary plus its own calibration bracket.
    second_names = [name for name in specs if name not in set(HEADLINE)]
    second_runs: dict[str, float] = {}
    for timed in (False, True):
        for name in second_names:
            start = time.perf_counter()
            specs[name].builder(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            if timed:
                second_runs[name] = round(time.perf_counter() - start, 3)
    # r12: self-attributing second tier (VERDICT r11 what's-wrong #3). At
    # n=1 per folded spec, one transient host event mid-tier (r11: a
    # CONTIGUOUS block inflated 2-4x while the headline stayed flat) is
    # indistinguishable from a plan regression. Guard: any sample whose
    # CALIB-NORMALIZED wall exceeds the resample factor times its
    # normalized value in the committed canonical BENCH_RUNS.json (same sf
    # only — the files on disk are the last canonical run at this point;
    # rewritten below) is re-sampled once and the MIN kept — a real
    # regression reproduces on the retry, a transient does not. The
    # resampled names are recorded in both artifacts so the round shows
    # the guard firing. Normalization (r15, VERDICT r14 #3): this run's
    # walls divide by the tier's trailing calib sample, the reference
    # walls by the prior run's post_second_tier ladder entry — uniform
    # host slowness cancels out of the comparison instead of firing the
    # guard on a third of the tier. Falls back to the raw-wall form when
    # the prior artifacts predate the ladder entry.
    calib["post_second_tier"] = cpu_calibration_sec()
    prior_runs = _load_prior_artifact(os.path.join(REPO, "BENCH_RUNS.json"), float(sf))
    prior_second = prior_runs.get("second_tier")
    if not isinstance(prior_second, dict):
        prior_second = {}
    # prior BENCH_EXTRAS loads here too: the tier guard needs its calib
    # ladder, and the extras-tier med() guard below needs its ratios
    prior_extras = _load_prior_artifact(
        os.path.join(REPO, "BENCH_EXTRAS.json"), float(sf)
    )
    _prior_ladder = prior_extras.get("cpu_calib_sec")
    prior_tier_calib = (
        _prior_ladder.get("post_second_tier")
        if isinstance(_prior_ladder, dict)
        else None
    )
    second_resampled: list[str] = []
    for name, sec in list(second_runs.items()):
        if _second_tier_trigger(
            sec, prior_second.get(name), calib["post_second_tier"], prior_tier_calib
        ):
            start = time.perf_counter()
            specs[name].builder(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            retry = round(time.perf_counter() - start, 3)
            second_runs[name] = min(sec, retry)
            second_resampled.append(name)
    second_tier = {
        "n": len(second_runs),
        "total_s": round(sum(second_runs.values()), 3),
        "resampled": second_resampled,
    }
    # r5: serving is measured at >=100k index rows (the reference's
    # "millions of images, <1 s" envelope needs scale evidence — VERDICT r4
    # next-round #2); the old 2000-row fixture number lives on as
    # serving_ms_fixture for round-over-round comparability.
    serving_fixture = serving_latency_ms(spark, sf_dir)
    # r15 (VERDICT r14 #4): every serving block pairs with its own trailing
    # calib sample and carries ms-per-calib ratios (_attr_serving_calib),
    # so a ms-scale tier drift is adjudicable from BENCH_EXTRAS alone —
    # the same idiom walls got in r14.
    calib["post_serving_fixture"] = cpu_calibration_sec()
    _attr_serving_calib(serving_fixture, calib["post_serving_fixture"])
    serving = serving_scale_bench(spark, sf_dir)
    # r6: the endpoint-boundary number (reference claims <1 s at its REST
    # API) gets its own top-level key
    serving_http = serving.pop("http")
    calib["post_serving"] = cpu_calibration_sec()
    _attr_serving_calib(serving, calib["post_serving"])
    _attr_serving_calib(serving_http, calib["post_serving"])
    # r6: measure AT the reference's claimed scale ("millions of images,
    # <1 s") — 1M index rows, ADC + re-sharded router; r7 adds the
    # Zipf-skew variant (one cell holding ~10% of the rows) on the same
    # encoded table
    serving_1m, serving_skew = serving_million_bench(spark, sf_dir)
    calib["post_serving_1m"] = cpu_calibration_sec()
    _attr_serving_calib(serving_1m, calib["post_serving_1m"])
    _attr_serving_calib(serving_skew, calib["post_serving_1m"])

    # The wall of a single curation/train run wobbles ±50% on this host at
    # FLAT cpu calib (JVM GC pauses + IO transients, not CPU contention) —
    # report the median of n samples, like the query loop, so the
    # round-over-round number is comparable. Raw samples go to
    # BENCH_RUNS.json.
    extras_runs: dict[str, list[dict]] = {}
    extras_resampled: list[str] = []
    # r14 (VERDICT r13 #3): the extras tier gets the same self-attribution
    # the headline / second tier / SCALE_RUNS already have. Reference
    # values come from the committed canonical BENCH_EXTRAS.json (loaded
    # above, before the second-tier guard; the file on disk is last
    # round's at this point and is rewritten below) — same sf only. The
    # resample trigger is the CALIB-NORMALIZED ratio, not the wall: the
    # med() time-box reports a single slow first sample alone on a
    # degraded host (by design), and the ratio is what separates "host
    # was slow" (calib slow too -> ratio flat -> no resample) from "this
    # section regressed" (ratio jumped -> one retry, min kept).
    def med(key: str, fn, sec_key: str, warm: bool = False) -> dict:
        # time-box: on a badly degraded host a 3x-repeated extra could push
        # the whole bench past the driver's capture window (the r2
        # "parsed": null failure mode) — if the first sample is already
        # slow, report it alone rather than tripling it.
        # warm=True: one untimed pass first, mirroring the headline loop —
        # sections that run after DIFFERENT preceding work than last round
        # otherwise fold that cold-start into the median (r5: curation's
        # first sample after the new 100k serving section ran 13.3 s vs a
        # 3.7 s warmed steady state).
        if warm:
            fn()
        samples = [fn()]
        if samples[0][sec_key] < 25.0:
            samples += [fn() for _ in range(n - 1)]
        # the section's own trailing calibration sample — wall_per_calib
        # makes an n=1 degraded-host sample adjudicable from the artifact
        # alone (r13's curation_full shipped 26.6 s that same-day builder
        # runs contradicted at 7.1 s, with nothing in the record to decide).
        # This sample IS the ladder's post_<key> entry (review r14: the
        # previous standalone call right after med() measured the same
        # instant twice and the two numbers could disagree in the artifact).
        sec_calib = cpu_calibration_sec()
        calib[f"post_{key}"] = sec_calib
        true_med = statistics.median(s[sec_key] for s in samples)
        prior = prior_extras.get(key)
        prior_ratio = prior.get("wall_per_calib") if isinstance(prior, dict) else None
        if (
            isinstance(prior_ratio, (int, float))
            and prior_ratio
            and sec_calib > 0
            and true_med / sec_calib > SECOND_TIER_RESAMPLE_FACTOR * float(prior_ratio)
        ):
            samples.append(fn())
            extras_resampled.append(key)
            # a real regression reproduces on the retry; a transient does
            # not — keep the MIN, the second tier's idiom. Re-bracket the
            # calib too (review r14): pairing the post-retry wall with the
            # PRE-retry sample would ship a distorted wall_per_calib if the
            # host moved between them, skewing next round's trigger.
            true_med = min(true_med, samples[-1][sec_key])
            sec_calib = cpu_calibration_sec()
            calib[f"post_{key}"] = sec_calib
        extras_runs[key] = samples
        # report the sample whose sec_key is closest to the reported value
        # (same median definition as the query loop — for even counts the
        # mean of the middle two, not the upper-middle sample), keeping the
        # full dict of one real run and stamping the true median seconds in.
        chosen = dict(min(samples, key=lambda s: abs(s[sec_key] - true_med)))
        chosen[sec_key] = round(true_med, 3)
        if "docs_per_sec" in chosen and "input_docs" in chosen:
            chosen["docs_per_sec"] = round(chosen["input_docs"] / true_med, 1)
        if sec_calib > 0:
            chosen["wall_per_calib"] = round(true_med / sec_calib, 2)
        return chosen

    # each med() writes its own calib["post_<key>"] ladder entry (the same
    # sample wall_per_calib normalizes by)
    curation = med("curation", lambda: curation_bench(spark, sf_dir), "seconds",
                   warm=True)
    curation_full = med(
        "curation_full", lambda: curation_bench(spark, sf_dir, full=True),
        "seconds", warm=True,
    )
    train = med("train", lambda: train_bench(spark, sf_dir), "fit_spark_seconds")
    layout_search = med(
        "layout_search", lambda: layout_search_bench(spark, sf_dir), "search_s"
    )
    # Raw samples go to a side file: keeping them inline made the headline
    # JSON line long enough that the driver's tail-capture window truncated
    # its head (BENCH_r02 "parsed": null).  The headline line must be the
    # LAST stdout line and compact.
    # n_slow describes what actually happened: only rounds where some
    # query crossed SLOW_QUERY_SEC ran the extra samples (ADVICE r9: the
    # unconditional n+EXTRA was misleading metadata on all-fast rounds)
    n_slow = (n + EXTRA_SLOW_ROUNDS) if (slow and n > 1) else n
    with open(os.path.join(REPO, "BENCH_RUNS.json"), "w") as fh:
        json.dump(
            {"sf": float(sf), "n": n, "n_slow": n_slow,
             "slow_queries": slow, "runs": runs, "extras": extras_runs,
             "extras_resampled": extras_resampled,
             "second_tier": second_runs,
             "second_tier_resampled": second_resampled,
             # r17 split (VERDICT r16 #4), additions-only: per-query cold
             # (warm-up pass wall: first build + first execution) and the
             # builder() seconds of each timed sample — exec-only is
             # sample minus build, per sample. The slow-query extra
             # rounds' build times are NOT appended here (their samples
             # append to "runs" only), so build_s[i] pairs with the first
             # n entries of runs[name].
             "headline_cold_s": cold_runs,
             "headline_build_s": build_runs},
            fh,
        )
    # Full extra sections live in BENCH_EXTRAS.json + an EARLIER stdout
    # line; the FINAL line carries only the headline (+ compact serving
    # scalars) and is size-guarded — see compose_output_lines.
    extras = {
        # sf stamps the file so next round's resample guard only trusts
        # same-tier reference ratios (r14)
        "sf": float(sf),
        "extras_resampled": extras_resampled,
        "serving_ms": serving,
        "serving_ms_fixture": serving_fixture,
        "serving_http_ms": serving_http,
        **({"serving_1m_ms": serving_1m} if serving_1m else {}),
        **({"serving_skew_ms": serving_skew} if serving_skew else {}),
        "second_tier": second_tier,
        "curation": curation,
        "curation_full": curation_full,
        "train": train,
        "layout_search": layout_search,
        # Per-section calibration ladder: pre/post tightly bracket
        # the timed query loop; each extra section appends its own
        # trailing sample so mid-run host drift is attributable to
        # the section it occurred in, not smeared over the run.
        "cpu_calib_sec": calib,
        "sched_calib_sec": sched_calib,
    }
    headline = {
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "n": n,
        # >SLOW_QUERY_SEC queries sample n_slow times (see the constant);
        # equals n when no query was slow this run (no extra rounds ran)
        "n_slow": n_slow,
        # Self-normalizing headline: total headline seconds per
        # calibration second (mean of the pre/post bracket).
        # Round-over-round comparison of THIS number is mechanical
        # — host-capacity drift cancels out of the ratio.
        "value_per_calib": round(
            total / ((calib["pre"] + calib["post"]) / 2.0), 2
        ),
        # Second normalizer (r6): pure job-scheduling cost. The
        # headline at small sf is fixed-overhead-dominated
        # (SCALE.md), so THIS ratio is the round-over-round signal
        # for plan changes; value_per_calib remains the signal for
        # compute-bound drift. Divergence between the two ratios
        # localizes which resource the host drifted on.
        "value_per_sched": round(
            total / ((sched_calib["pre"] + sched_calib["post"]) / 2.0), 2
        ),
    }
    for line in compose_output_lines(headline, extras):
        print(line)
    with open(os.path.join(REPO, "BENCH_EXTRAS.json"), "w") as fh:
        json.dump(extras, fh)


if __name__ == "__main__":
    main()
