"""Empirical knob validation at 100x the driver corpus (VERDICT r6 #2).

The r6 derivations (derive_lsh_knobs / derive_jaccard_blocks) were
unit-tested for monotonicity but never EXECUTED on a corpus big enough to
move them off their floors (sf0.1 = 5-6k rows). These tests generate a
500k-row synthetic corpus with planted near-duplicates (tests/synth_corpus)
and run the library forms end-to-end with DERIVED knobs, asserting:

  (a) the derived bits/bands actually engaged (observed bucket population
      matches the derived keyspace, not the fixture constants');
  (b) mean in-bucket size ~ LSH_TARGET_BUCKET, max bounded;
  (c) wall time scales ~linearly in n x bands, not quadratically in n;
  (d) the recall floor holds empirically on the planted pairs;
  (e) the exact-Jaccard rung REFUSES past its envelope, and the MinHash
      scale path it names handles the same 500k docs end-to-end;
  (f) the exact-substring rung flags every planted one-token-swap doc at
      500k with zero extras, scaling gram-linearly (r8).

Slow (several minutes at local[32]) — gated behind SPARK_GRAFT_SLOW=1 so
routine pytest stays fast. Measured numbers live in SCALE.md §Derived-knob
validation, with one dated JSON line per run in SCALE_RUNS.jsonl; re-run
and persist with:  python scripts/scale_validation.py
(or just the tests:  SPARK_GRAFT_SLOW=1 pytest tests/test_scale_knobs.py -s)
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from columbiaimagesearch_spark.operators.similarity import (
    LSH_BANDS,
    LSH_BITS,
    LSH_SEED,
    LSH_TARGET_BUCKET,
    derive_lsh_knobs,
    emb_lsh_pairs_from,
)
from columbiaimagesearch_spark.streaming.emb_dedup_stream import _band_rows_fn

import synth_corpus as synth

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SLOW") != "1",
    reason="500k-row scale validation (minutes); set SPARK_GRAFT_SLOW=1",
)


@pytest.fixture(scope="module")
def spark():
    """Bench-shaped session (local[32] by default), overriding conftest's
    8-core test session — the SCALE.md numbers come from this tier. When
    the whole suite runs with SLOW=1, getOrCreate may hand back the
    existing 8-core session; walls grow but every assertion has slack."""
    from columbiaimagesearch_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    s = get_spark(app_name="scale-knobs", cpus=cpus, shuffle_partitions=cpus)
    s.sparkContext.setLogLevel("ERROR")
    yield s

N_LARGE = 500_000
N_SMALL = 50_000
N_DUPS = 5_000
# the production near-dup threshold the module documents (cos >= 0.9);
# the fixture's 0.40 corpus-calibration threshold is fundamentally
# expensive for sign-bit LSH (derive_lsh_knobs warns and backs off bits)
# and is served by the blocked/IVF paths at scale.
THRESHOLD = 0.9


def _timed_pairs(vec_df, threshold):
    t0 = time.perf_counter()
    rows = emb_lsh_pairs_from(vec_df, threshold=threshold).collect()
    wall = time.perf_counter() - t0
    return {(r["vec_a"], r["vec_b"]) for r in rows}, wall


def test_lsh_derived_knobs_engage_and_scale(spark):
    planted = synth.planted_pairs(N_LARGE, N_DUPS)
    big = synth.gen_embeddings(spark, N_LARGE, N_DUPS).persist()
    assert big.count() == N_LARGE
    small = synth.gen_embeddings(spark, N_SMALL, N_DUPS // 10).persist()
    small.count()

    bands, bits = derive_lsh_knobs(N_LARGE, threshold=THRESHOLD)
    # (a) the derivation left the fixture floor
    assert bits > LSH_BITS and (bands, bits) != (LSH_BANDS, LSH_BITS)

    # warm the Python worker pool + codegen on the SMALL corpus before any
    # timed run (bench methodology): the first mapInPandas job of a session
    # pays per-core worker spin-up, which the first dry run of this test
    # mis-booked against the large corpus (269 s "large" vs 41 s warm)
    _timed_pairs(small, THRESHOLD)

    found, wall_large = _timed_pairs(big, THRESHOLD)
    # (d) empirical recall on the planted pairs beats the design floor
    # (planted cos ~0.97 sits above the 0.9 threshold the floor is set at,
    # so expected recall is ~0.999; 0.95 leaves statistical slack)
    recall = len(found & planted) / len(planted)
    assert recall >= 0.95, recall

    # (a)+(b) observed bucket population matches the DERIVED keyspace:
    # mean ~ n/2^bits ~ LSH_TARGET_BUCKET. Had the fixture bits=3 leaked
    # through, the mean would be ~n/8 = 62500 — three orders off.
    stats = (
        big.mapInArrow(
            _band_rows_fn(bands, bits, LSH_SEED),
            "vec_id long, band int, key long",
        )
        .groupBy("band", "key")
        .count()
        .agg(
            F.mean("count").alias("mean"),
            F.max("count").alias("max"),
        )
        .collect()[0]
    )
    assert stats["mean"] <= 4 * LSH_TARGET_BUCKET, stats
    assert stats["mean"] >= LSH_TARGET_BUCKET / 8, stats
    assert stats["max"] <= 32 * LSH_TARGET_BUCKET, stats

    # (c) wall scales ~linearly in n x bands, not quadratically in n:
    # at 10x rows the derived knobs predict ~(N_LARGE*bands_L)/(N_SMALL*
    # bands_S) ~ 17x work; a quadratic path would be ~100x. 40x is the
    # fail line (leaves room for fixed overhead + host noise).
    bands_s, bits_s = derive_lsh_knobs(N_SMALL, threshold=THRESHOLD)
    assert bits_s < bits  # smaller corpus, fewer bits — derivation moved
    found_s, wall_small = _timed_pairs(small, THRESHOLD)
    recall_s = len(found_s & synth.planted_pairs(N_SMALL, N_DUPS // 10)) / (
        N_DUPS // 10
    )
    assert recall_s >= 0.95, recall_s
    ratio = wall_large / wall_small
    linear_model = (N_LARGE * bands) / (N_SMALL * bands_s)
    assert ratio <= 40.0, (wall_small, wall_large, ratio)
    print(
        f"\n[scale-knobs] emb LSH @{N_LARGE}: knobs=({bands},{bits}) "
        f"recall={recall:.4f} wall={wall_large:.1f}s | "
        f"@{N_SMALL}: knobs=({bands_s},{bits_s}) recall={recall_s:.4f} "
        f"wall={wall_small:.1f}s | ratio={ratio:.1f}x "
        f"(linear-model {linear_model:.1f}x, quadratic ~100x) | "
        f"bucket mean={stats['mean']:.1f} max={stats['max']} "
        f"target={LSH_TARGET_BUCKET}"
    )
    small.unpersist()
    big.unpersist()


N_XL = 1_000_000


def test_lsh_1m_probe(spark):
    """Standing 1M-row emb_lsh probe (VERDICT r14 #7, promoting the r14
    one-off): the only direct evidence that the group-batched kernel
    (similarity.py:_bucket_group_rows) scales PAST the 500k validation
    tier — the r13 dispatch wall grew faster than the math with corpus
    size, which is exactly the failure mode a single-tier check hides.
    Asserts the derived knobs keep moving (bits grows with n), the planted
    recall floor holds at 2x the validation tier, and the wall stays under
    a generous ceiling; scripts/scale_validation.py scrapes the printed
    line and computes the 1M/500k scaling ratio against the n x bands
    linear model (trigger (c) adjudicates a regression). r14 one-off
    reference: knobs (19,14), recall 0.9993, warm wall 78.7 s at flat
    calib."""
    planted = synth.planted_pairs(N_XL, N_DUPS)
    xl = synth.gen_embeddings(spark, N_XL, N_DUPS).persist()
    assert xl.count() == N_XL

    bands, bits = derive_lsh_knobs(N_XL, threshold=THRESHOLD)
    bands_l, bits_l = derive_lsh_knobs(N_LARGE, threshold=THRESHOLD)
    assert bits >= bits_l  # keyspace keeps tracking n past the 500k tier

    # warm the worker pool + codegen on a small corpus (bench methodology —
    # see test_lsh_derived_knobs_engage_and_scale) so the timed wall is the
    # kernel, not per-core worker spin-up, even when this test runs alone
    warm = synth.gen_embeddings(spark, N_SMALL, N_DUPS // 10).persist()
    warm.count()
    _timed_pairs(warm, THRESHOLD)
    warm.unpersist()

    found, wall = _timed_pairs(xl, THRESHOLD)
    recall = len(found & planted) / len(planted)
    assert recall >= 0.95, recall
    # generous ceiling: the r14 probe measured 78.7 s warm at flat calib;
    # 4x headroom absorbs a degraded host without masking a real cliff
    # (the pre-fix dispatch wall would have blown far past this at 1M)
    assert wall <= 320.0, wall

    stats = (
        xl.mapInArrow(
            _band_rows_fn(bands, bits, LSH_SEED),
            "vec_id long, band int, key long",
        )
        .groupBy("band", "key")
        .count()
        .agg(F.mean("count").alias("mean"), F.max("count").alias("max"))
        .collect()[0]
    )
    assert stats["mean"] <= 4 * LSH_TARGET_BUCKET, stats
    print(
        f"\n[scale-knobs] emb LSH 1M probe @{N_XL}: knobs=({bands},{bits}) "
        f"recall={recall:.4f} wall={wall:.1f}s | "
        f"bucket mean={stats['mean']:.1f} max={stats['max']} "
        f"target={LSH_TARGET_BUCKET}"
    )
    xl.unpersist()


def test_jaccard_refuses_and_minhash_covers_500k(spark):
    from columbiaimagesearch_spark.operators.dedup import (
        JACCARD_MAX_DOCS,
        derive_jaccard_blocks,
        hashed_from,
        near_dup_pairs_from,
    )

    # (e) the exact all-pairs rung refuses loudly past its envelope and
    # names the scale path
    assert N_LARGE > JACCARD_MAX_DOCS
    with pytest.raises(ValueError, match="dedup_minhash_lsh_pairs"):
        derive_jaccard_blocks(N_LARGE)

    # ... and that named path handles the same 500k docs end-to-end
    planted = synth.planted_pairs(N_LARGE, N_DUPS)
    docs = synth.gen_documents(spark, N_LARGE, N_DUPS).persist()
    assert docs.count() == N_LARGE
    hashed = hashed_from(docs)
    t0 = time.perf_counter()
    rows = near_dup_pairs_from(docs, hashed=hashed).collect()
    wall = time.perf_counter() - t0
    found = {(r["doc_a"], r["doc_b"]) for r in rows}
    recall = len(found & planted) / len(planted)
    extras = len(found - planted)
    # planted Jaccard ~0.71 -> band recall 1-(1-0.71^3)^8 ~ 0.966; the
    # verify stage then only keeps exact J >= 0.5, and the wide random
    # vocab makes cross-base collisions essentially impossible
    assert recall >= 0.90, recall
    assert extras <= 5, extras
    print(
        f"\n[scale-knobs] minhash LSH @{N_LARGE} docs: pairs={len(found)} "
        f"recall={recall:.4f} extras={extras} wall={wall:.1f}s"
    )
    hashed.unpersist()
    docs.unpersist()


def test_substring_spans_scale_500k(spark):
    """(r8) The exact-substring rung (Lee et al. 2022 tier) at 100x the
    driver corpus: every planted one-token-swap dup shares >=14 of its 20
    6-gram starts with its base, so ALL 2*N_DUPS planted docs must flag
    (coverage >> 0.30) and — at VOCAB=200k — essentially nothing else;
    wall must scale ~linearly in total grams, never like the O(corpus^2)
    pair tiers (the whole point of the rung)."""
    from columbiaimagesearch_spark.operators.dedup import substring_spans_from

    docs = synth.gen_documents(spark, N_LARGE, N_DUPS).persist()
    assert docs.count() == N_LARGE
    small = synth.gen_documents(spark, N_SMALL, N_DUPS // 10).persist()
    small.count()

    def flagged_ids(d):
        t0 = time.perf_counter()
        rows = (
            substring_spans_from(d, persist=False)
            .where(F.col("flagged"))
            .select("doc_id")
            .collect()
        )
        return {r["doc_id"] for r in rows}, time.perf_counter() - t0

    # warm the codegen/worker pool on the small corpus (bench methodology)
    flagged_s, _ = flagged_ids(small)
    flagged_s, wall_small = flagged_ids(small)
    planted_s = {i for i in range(N_DUPS // 10)} | {
        i + (N_SMALL - N_DUPS // 10) for i in range(N_DUPS // 10)
    }
    assert len(planted_s - flagged_s) == 0, len(planted_s - flagged_s)

    flagged, wall_large = flagged_ids(docs)
    planted = {i for i in range(N_DUPS)} | {
        i + (N_LARGE - N_DUPS) for i in range(N_DUPS)
    }
    missed = len(planted - flagged)
    extras = len(flagged - planted)
    assert missed == 0, missed
    # random 6-gram collisions at VOCAB=200k are ~impossible; allow a hair
    assert extras <= 5, extras

    ratio = wall_large / wall_small
    assert ratio <= 40.0, (wall_small, wall_large, ratio)  # linear ~10x
    print(
        f"\n[scale-knobs] substring spans @{N_LARGE} docs: "
        f"flagged={len(flagged)} planted={len(planted)} missed={missed} "
        f"extras={extras} wall={wall_large:.1f}s | @{N_SMALL}: "
        f"wall={wall_small:.1f}s | ratio={ratio:.1f}x (linear ~10x)"
    )
    small.unpersist()
    docs.unpersist()


def test_embedding_decontaminate_scale_500k(spark):
    """(r11) The embedding decontamination rung at scale shape: a 5k-vector
    eval suite broadcast against a 495k-vector corpus in ONE map-only
    pass. The corpus's last N_DUPS rows are noisy copies of bases
    0..N_DUPS-1 (cos ~0.97), so with bench = those bases every planted
    copy must flag at the production 0.9 threshold; knobs derive from the
    BENCH count (the collision side). No shuffle, no join, no all-pairs —
    wall is one corpus scan."""
    from columbiaimagesearch_spark.operators.hygiene import (
        embedding_decontaminate_from,
    )

    big = synth.gen_embeddings(spark, N_LARGE, N_DUPS).persist()
    assert big.count() == N_LARGE
    bench = big.where(F.col("vec_id") < N_DUPS)
    corpus = big.where(F.col("vec_id") >= N_DUPS).select("vec_id", "v")
    bands, bits = derive_lsh_knobs(N_DUPS, threshold=THRESHOLD)

    def run(c):
        t0 = time.perf_counter()
        res = embedding_decontaminate_from(
            c, bench.select("vec_id", "v"), threshold=THRESHOLD
        )
        agg = res.agg(
            F.count("*").alias("n"),
            F.sum(F.col("contaminated").cast("long")).alias("flagged"),
        ).collect()[0]
        hits = {
            r["vec_id"]
            for r in res.where(F.col("contaminated"))
            .select("vec_id")
            .collect()
        }
        return agg, hits, time.perf_counter() - t0

    # warm the worker pool on a slice before the timed run (bench method)
    run(corpus.limit(1000))
    agg, hits, wall = run(corpus)
    assert agg["n"] == N_LARGE - N_DUPS  # completeness: one row per vector
    planted = {N_LARGE - N_DUPS + j for j in range(N_DUPS)}
    recall = len(hits & planted) / len(planted)
    extras = len(hits - planted)  # exact-verified, so extras = true random
    # twins; at dim 32 a random cosine >= 0.9 is ~impossible
    assert recall >= 0.95, recall
    assert extras == 0, extras
    print(
        f"\n[scale-knobs] emb decon @{N_LARGE - N_DUPS} corpus x {N_DUPS} "
        f"bench: knobs=({bands},{bits}) flagged={len(hits)} "
        f"recall={recall:.4f} extras={extras} wall={wall:.1f}s"
    )
    big.unpersist()


def test_embedding_dedup_labeling_scale_500k(spark):
    """(r12) The SemDeDup labeling (llm_embedding_dedup / the
    curate_docs(embedding_dedup=True) stage) at scale shape: derived-knob
    LSH pairs over 500k vectors, connected components, drop every
    non-min-id cluster member. The planted structure is 5k two-vector
    clusters {base b, copy off+b} (cos ~0.97): every collapsed cluster
    must keep exactly the base (the min id), and nothing outside the
    planted copies may drop (extras = false merges — a chained bridge
    between two clusters would surface here). Wall = the pairs pass plus
    one bounded edge collect and a broadcast label join."""
    from columbiaimagesearch_spark.operators.dedup import connected_components

    big = synth.gen_embeddings(spark, N_LARGE, N_DUPS).persist()
    assert big.count() == N_LARGE
    small = synth.gen_embeddings(spark, N_SMALL, N_DUPS // 10).persist()
    small.count()

    def run(vecs):
        t0 = time.perf_counter()
        pairs = emb_lsh_pairs_from(vecs, threshold=THRESHOLD).select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
        labels = connected_components(
            vecs.select(F.col("vec_id").alias("doc_id")), pairs
        )
        drops = {
            int(r["doc_id"]): int(r["component"])
            for r in labels.where(
                F.col("doc_id") != F.col("component")
            ).collect()
        }
        return drops, time.perf_counter() - t0

    run(small)  # warm the worker pool + codegen (bench methodology)
    drops, wall = run(big)
    off = N_LARGE - N_DUPS
    planted = {off + b: b for b in range(N_DUPS)}
    collapsed = sum(1 for d, c in drops.items() if planted.get(d) == c)
    missed = N_DUPS - collapsed
    extras = {d: c for d, c in drops.items() if planted.get(d) != c}
    assert collapsed / N_DUPS >= 0.95, collapsed
    assert not extras, extras
    print(
        f"\n[scale-knobs] emb dedup @{N_LARGE}: clusters={N_DUPS} "
        f"collapsed={collapsed} missed={missed} extras={len(extras)} "
        f"wall={wall:.1f}s"
    )
    small.unpersist()
    big.unpersist()
