"""Incremental corpus curation — the streaming twin of
``curate.curate_docs``.

A 100 TB training corpus is curated continuously: crawl drops arrive and
must be deduped against everything already ingested AND hygiene-checked,
without recomputing the corpus. Composition per batch:

  1. claim anti-join against the verdicts state (ST2 idiom — replays are
     no-ops);
  2. per-doc hygiene verdicts for the fresh docs only: decontamination
     against the static benchmark state (eval suites change rarely;
     re-registering one rewrites that state), optionally the FUZZY
     decontamination rung (r9 — max shingle-Jaccard vs the bench state;
     candidates come only from bench band collisions, so it too is a
     per-doc content function), and repetition stats — all pure per-doc
     content functions, so batch boundaries cannot change them;
  3. the fresh docs flow through ``dedup_stream.dedup_batch_step`` —
     near-dup pairs accumulate incrementally (equivalence to the batch
     LSH is pinned by tests/test_dedup_stream.py);
  4. verdicts append LAST: every other plan reading the pre-append state
     snapshot has already been written out (the same recacheByPath
     ordering rule documented in dedup_stream).

Crash safety: if a batch dies between the dedup-state write and the
verdicts write, the replay re-claims the docs via the verdicts anti-join,
the inner dedup step admits zero (hashes already claimed them — no
duplicate pairs), and the verdicts append completes. State converges.
One narrower window lives INSIDE dedup_batch_step: a crash after its
pairs append but before its hashes append leaves the batch unclaimed in
both ledgers, so the replay regenerates and re-appends the same verified
pairs — duplicate edges in the pairs state (survivor sets are unaffected;
label propagation is idempotent over repeated edges). ``read_pairs``
therefore dedupes on (doc_a, doc_b) at read time.

``curated_docs`` assembles the survivor set at read time: verdicts minus
contaminated/repetitive minus connected-component dup losers — the same
set the batch ``curate_docs`` chain produces on the union of all drops
(per-doc verdicts are content functions; the pair graph is
batching-invariant), which tests/test_curate_stream.py asserts exactly.
Mixture/split/packing stay OUT of the stream: they are training-set
assembly decisions over the curated snapshot, not ingest decisions. So
does the exact-substring duplication filter (batch ``drop_substring_dups``):
a gram's duplicate status is a CORPUS-GLOBAL count that changes as drops
arrive, so it is not a per-doc content verdict — recompute it over the
curated snapshot at assembly time. PII scrubbing IS per-doc and
batch-invariant, so ``scrub_pii=True`` mirrors the batch chain's stage 0:
every downstream verdict and shingle hash is computed over the scrubbed
text.

The EMBEDDING rungs (``curate_docs(embedding_dedup=True)`` /
``bench_embeddings=``) also stay out of this twin — not because they
aren't incremental (both are), but because they consume a SEPARATE input
stream: doc_embeddings arrive on the featurizer's schedule, lagging the
text drops this twin claims. They have their own incremental twins over
the embedding drop stream — ``emb_decon_stream`` (per-drop verdicts
against the registered suite, O(batch)/step) and ``emb_dedup_stream``
(band-table state, streamed pairs ≡ batch pairs) — and the SemDeDup
representative selection, like the exact-substring filter above, is a
corpus-global decision (a later drop can join and re-root a cluster), so
it is applied over the curated snapshot at assembly time:
``connected_components`` over the accumulated pair state, keep min-id.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import hygiene
from . import dedup_stream, state

CURATE_DOC_SCHEMA = "doc_id long, text string, lang string, source string"
# fuzzy_contaminated appended r9: state written by earlier rounds lacks the
# column — the schema'd read surfaces it as NULL and curated_docs coalesces
# to false, so old state keeps meaning "not fuzzy-checked", never "dropped"
_VERDICT_SCHEMA = (
    "doc_id long, lang string, source string, contaminated boolean, "
    "repetitive boolean, fuzzy_contaminated boolean"
)
_BENCH_SCHEMA = "doc_id long, text string"


def register_benchmark(spark: SparkSession, bench_docs: DataFrame, state_dir: str) -> None:
    """(Re)write the benchmark suite the stream decontaminates against.

    A stream with NO registered suite runs dedup/repetition only and
    flags nothing as contaminated — the batch chain's optional-bench
    semantics (``curate_docs(docs, None)``), NOT an error like the
    knob-pinned embedding twin (contrast
    ``emb_decon_stream.register_benchmark``, whose suite+knobs commit is
    versioned+atomic because a step there is meaningless without one).
    Consequence of that fallback: re-register only BETWEEN steps — this
    is one plain overwrite, so a step racing it can list the dir mid-swap
    and silently verdict its batch against an empty/partial suite. If
    suites must rotate under a live stream, port the versioned-dir +
    meta-rename idiom from emb_decon_stream."""
    bench_docs.select("doc_id", "text").write.mode("overwrite").parquet(
        os.path.join(state_dir, "bench")
    )


def read_verdicts(spark: SparkSession, state_dir: str) -> DataFrame:
    return state.read(spark, os.path.join(state_dir, "verdicts"), _VERDICT_SCHEMA)


def curate_batch_step(
    spark: SparkSession,
    docs: DataFrame,
    state_dir: str,
    scrub_pii: bool = False,
    quality_filter: bool = False,
    fuzzy_decontaminate: bool = False,
) -> int:
    """One incremental step: hygiene-verdict + dedup the fresh docs of
    ``docs`` against state. Returns the number of fresh docs admitted.

    ``scrub_pii=True`` redacts contact spans BEFORE any verdict or shingle
    hash (stage 0 of the batch chain) — a per-doc content function, so
    batch boundaries cannot change it.

    ``quality_filter=True`` mirrors the batch chain's stage 0b
    (``curate_docs(quality_filter=True)``): docs failing
    ``textstats.quality_gate`` are dropped BEFORE any verdict, claim, or
    dedup hash — another pure per-doc content function (gate over the
    post-scrub text, exactly the batch order), so the streamed survivor
    set equals the batch chain's and a rejected doc never enters state
    (each redelivery re-rejects it for free, map-side).

    ``fuzzy_decontaminate=True`` mirrors the batch chain's fuzzy rung
    (``curate_docs(fuzzy_decontaminate=True)``): like the exact verdict,
    a doc's max shingle-Jaccard against the STATIC bench state is a pure
    per-doc content function (candidates come only from bench band
    collisions, never from other train docs), so batch boundaries cannot
    change it and the streamed survivor set still equals the batch
    chain's. The fresh batch is shingle-hashed once under the hashed
    contract (built, passed, consumed by the verdicts materialization,
    unpersisted here)."""
    docs = docs.where(F.col("doc_id").isNotNull()).dropDuplicates(["doc_id"])
    if scrub_pii:
        docs = (
            hygiene.scrub_pii_from(docs)
            .drop("text", "n_email", "n_ip", "n_phone")
            .withColumnRenamed("scrubbed", "text")
        )
    if quality_filter:
        from ..operators import textstats

        docs = docs.where(textstats.quality_gate())
    seen = read_verdicts(spark, state_dir)
    fresh = docs.join(seen, "doc_id", "left_anti").persist()
    # try/finally (review r13, mirroring emb_decon_batch_step's r12 fix):
    # any raise below — a refusal inside dedup, a state append error, an
    # executor loss mid-write — must release the batch-sized caches, or
    # each foreachBatch retry strands another fresh/verdicts/h_t entry
    # and the long-running stream accumulates executor storage pressure.
    h_t = None
    verdicts = None
    try:
        n_fresh = fresh.count()
        if n_fresh == 0:
            return 0

        bench = state.read(spark, os.path.join(state_dir, "bench"), _BENCH_SCHEMA)
        dec = hygiene.decontaminate_from(fresh, bench).select(
            "doc_id", "contaminated"
        )
        rep = hygiene.repetition_stats_from(fresh).select("doc_id", "repetitive")
        if fuzzy_decontaminate:
            from ..operators import dedup

            h_t = dedup.hashed_from(fresh.select("doc_id", "text"))
            fz = hygiene.fuzzy_decontaminate_from(
                fresh,
                bench,
                hashed_train=h_t,
                hashed_bench=dedup.hashed_from(bench, persist=False),
            ).select("doc_id", F.col("contaminated").alias("fuzzy_contaminated"))
        else:
            fz = fresh.select("doc_id", F.lit(False).alias("fuzzy_contaminated"))
        verdicts = (
            fresh.select("doc_id", "lang", "source")
            .join(dec, "doc_id", "left")
            .join(rep, "doc_id", "left")
            .join(fz, "doc_id", "left")
            .select(
                "doc_id",
                "lang",
                "source",
                F.coalesce(F.col("contaminated"), F.lit(False)).alias(
                    "contaminated"
                ),
                F.coalesce(F.col("repetitive"), F.lit(False)).alias("repetitive"),
                F.coalesce(F.col("fuzzy_contaminated"), F.lit(False)).alias(
                    "fuzzy_contaminated"
                ),
            )
            .persist()
        )
        verdicts.count()  # materialize before any state path gains files

        # h_t stays alive through the dedup step (review r13): passing it
        # through the hashed contract means each micro-batch is shingle-
        # hashed ONCE for the fuzzy rung and the dedup state together —
        # previously dedup_batch_step re-derived the identical relation
        # from raw text (the most expensive per-doc transform, twice).
        dedup_stream.dedup_batch_step(
            spark, fresh.select("doc_id", "text"), state_dir, hashed=h_t
        )
        # verdicts (this step's claim table) land LAST — see module docstring
        verdicts.write.mode("append").parquet(os.path.join(state_dir, "verdicts"))
        return n_fresh
    finally:
        if h_t is not None:
            h_t.unpersist()
        if verdicts is not None:
            verdicts.unpersist()
        fresh.unpersist()


def curated_docs(spark: SparkSession, state_dir: str) -> DataFrame:
    """The curated survivor set as of the current state: every ingested doc
    minus contaminated/repetitive minus near-dup-cluster losers."""
    from ..operators import dedup

    verd = read_verdicts(spark, state_dir)
    pairs = dedup_stream.read_pairs(spark, state_dir)
    comp = dedup.connected_components(verd.select("doc_id"), pairs)
    losers = comp.where(F.col("doc_id") != F.col("component")).select("doc_id")
    return (
        verd.where(
            ~F.col("contaminated")
            & ~F.col("repetitive")
            # pre-r9 state rows read as NULL here -> kept (see schema note)
            & ~F.coalesce(F.col("fuzzy_contaminated"), F.lit(False))
        )
        .join(losers, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
    )


def run_incremental_curation(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    scrub_pii: bool = False,
    quality_filter: bool = False,
    fuzzy_decontaminate: bool = False,
) -> None:
    """Drain ``src_dir`` (JSONL doc drops) through the incremental
    curation (see :func:`state.run_incremental`)."""
    state.run_incremental(
        spark, src_dir, CURATE_DOC_SCHEMA, checkpoint_dir,
        lambda batch_df: curate_batch_step(
            spark,
            batch_df,
            state_dir,
            scrub_pii=scrub_pii,
            quality_filter=quality_filter,
            fuzzy_decontaminate=fuzzy_decontaminate,
        ),
        max_files_per_trigger,
    )
