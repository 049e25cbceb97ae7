"""Incremental near-duplicate dedup — the streaming twin of
``dedup_minhash_lsh_pairs``.

A 100 TB training corpus is not deduped once: new crawl drops arrive and
must be checked against everything already ingested WITHOUT recomputing the
corpus. The batch LSH query's physical trick (pairwise work only inside
band buckets) becomes an incremental one here: the corpus state is the
band table itself, so each arriving batch does

  1. shingle-hash + minhash-band the NEW docs only (one md5 per shingle,
     reusing the exact operators of the batch path — equivalence is by
     construction, and asserted in tests);
  2. claim anti-join on doc_id (ST2/J3 idiom): docs already in state are
     dropped, so replays after a crash are idempotent;
  3. candidates = fresh bands ⋈ fresh bands (new-new) ∪ fresh bands ⋈
     state bands (new-old) — the state side is only ever touched through
     the band-key equi-join, never scanned pairwise;
  4. exact-Jaccard verify against the union hash table (the shared
     ``verified_jaccard_pairs`` stage), append verified pairs;
  5. append the fresh (doc_id, hs) and (doc_id, band_key) rows to state.

Per-batch cost is O(batch × bands + collisions) regardless of corpus size;
state tables grow by exactly the fresh rows. At cluster scale the state
tables are the same parquet relations partitioned/bucketed by band_key —
the join prunes to colliding buckets.

Reference anchor: this is the streaming composition of the reference's
ingest claim (extraction_checker.py:225-258 get_unprocessed_rows) with the
dedup family SURVEY §7.0 adds for LLM-pipeline work.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup
from . import state

DOC_SCHEMA = "doc_id long, text string"
_HASHES_SCHEMA = "doc_id long, hs array<bigint>"
_BANDS_SCHEMA = "doc_id long, band_key string"
_PAIRS_SCHEMA = "doc_a long, doc_b long, jaccard double"


def read_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """Verified near-dup pairs, deduped on (doc_a, doc_b) at read time: a
    crash between the pairs append and the hashes append leaves the batch
    unclaimed, so its replay appends the same verified pairs again —
    duplicate EDGES are the documented crash-replay residue (survivor sets
    are unaffected either way; min-label propagation is idempotent over
    repeated edges). Deduping here keeps every consumer's view exact."""
    return state.read(
        spark, os.path.join(state_dir, "pairs"), _PAIRS_SCHEMA
    ).dropDuplicates(["doc_a", "doc_b"])


def read_hashes(spark: SparkSession, state_dir: str) -> DataFrame:
    return state.read(spark, os.path.join(state_dir, "hashes"), _HASHES_SCHEMA)


def dedup_batch_step(
    spark: SparkSession,
    docs: DataFrame,
    state_dir: str,
    hashed: DataFrame | None = None,
) -> int:
    """One incremental step: dedup ``docs`` against state, append verified
    pairs + fresh state rows. Returns the number of fresh docs admitted.

    Pure batch function (the foreachBatch body), so tests drive it directly
    and the stream wrapper stays a thin trigger shell.

    ``hashed``: optional pre-computed (doc_id, hs) shingle-hash relation
    for exactly these docs — the streaming form of the batch chain's
    hashed contract (review r13: curate_batch_step's fuzzy path hashed
    every micro-batch twice, once for the fuzzy rung and once here).
    The caller guarantees it covers the same post-dedup doc_ids."""
    docs = docs.where(F.col("doc_id").isNotNull()).dropDuplicates(["doc_id"])
    hashed_new = (
        dedup.hashed_from(docs, persist=False)
        if hashed is None
        else hashed.select("doc_id", "hs")
    )

    state_hashes = read_hashes(spark, state_dir)
    # ST2 claim: drop already-ingested docs; replay after crash is a no-op.
    # Materialized (persist + count) BEFORE any append below so no plan
    # reads a state path while new files land in it.
    fresh = hashed_new.join(state_hashes, "doc_id", "left_anti").persist()
    # try/finally: a refusal or a failed append must not strand the
    # batch-sized caches on every foreachBatch retry
    bands_fresh = None
    try:
        n_fresh = fresh.count()
        if n_fresh == 0:
            return 0

        bands_fresh = dedup.bands_from(fresh).persist()
        bands_fresh.count()
        state_bands = state.read(spark, os.path.join(state_dir, "bands"), _BANDS_SCHEMA)
        cands, bands_to_append = state.banded_candidates(
            bands_fresh, state_bands, "doc_id", ["band_key"], ("doc_a", "doc_b")
        )
        all_hashed = fresh.unionByName(state_hashes)
        pairs = dedup.verified_jaccard_pairs(cands, all_hashed)

        # Append ORDER is load-bearing: writing to a path makes Spark re-cache
        # every cached plan that scans that path (CacheManager.recacheByPath),
        # so appending `fresh` to the hashes path first would recompute
        # `bands_fresh` (whose lineage anti-joins against that very path) as
        # EMPTY before its own write. Hashes — the claim table — must therefore
        # land last, after every plan derived from the pre-append snapshot has
        # been written out.
        pairs.write.mode("append").parquet(os.path.join(state_dir, "pairs"))
        bands_to_append.write.mode("append").parquet(os.path.join(state_dir, "bands"))
        fresh.write.mode("append").parquet(os.path.join(state_dir, "hashes"))
        return n_fresh
    finally:
        if bands_fresh is not None:
            bands_fresh.unpersist()
        fresh.unpersist()


def run_incremental_dedup(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (JSONL doc drops) through the incremental dedup
    (see :func:`state.run_incremental`)."""
    state.run_incremental(
        spark, src_dir, DOC_SCHEMA, checkpoint_dir,
        lambda batch_df: dedup_batch_step(spark, batch_df, state_dir),
        max_files_per_trigger,
    )
