"""One-call corpus curation: the LLM training-data pipeline composed.

``curate_docs`` chains the SURVEY §7.0 operator families over any
(doc_id, text, lang, source) relation:

  [PII scrub] -> [quality floor] -> near-dup dedup (MinHash-LSH pairs ->
  connected components, keep one representative per cluster — min-doc_id
  by default, longest/score via ``keep=``) -> [embedding near-dup
  dedup: the SemDeDup-style semantic rung over doc_embeddings, same
  pairs -> components -> representative idiom] -> [benchmark
  decontamination] -> [fuzzy benchmark decontamination, reusing stage 1's
  shingle-hash cache] -> [embedding decontamination] ->
  [exact-substring duplication filter] ->
  repetition filter -> temperature mixture sampling -> train-split
  selection -> sequence packing.  (Bracketed stages are opt-in flags.)

Laziness: the mixture/split/pack stages are lazy DataFrames, but the
expensive verdict pipelines run EAGERLY inside ``curate_docs``: stage 1's
``connected_components`` (iterative label propagation checkpoints per
round; see operators/dedup.py), the optional PII-scrubbed relation
(stage 0), and the decontamination / repetition drop-id sets (stages
2-3) — each is ``localCheckpoint``-pinned so the heavy pipeline executes
exactly once instead of once per downstream reference of ``docs``.
``counts()`` is an explicit extra action per stage. Every stage's verdict is a deterministic function of
document *content keys* (salted hashes, never partitioning or row order),
so the same corpus curates to the same byte-identical output on any
cluster geometry — the property ``tests/test_llm_pipeline.py`` pins.
"""

from __future__ import annotations

import uuid
from concurrent.futures import Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators import dedup, hygiene, packing, similarity, textstats


@dataclass
class CurationResult:
    """Lazy handles to each stage's survivor set plus the packed output."""

    stages: dict[str, DataFrame] = field(default_factory=dict)
    survivors: DataFrame | None = None
    packed: DataFrame | None = None

    def counts(self) -> dict[str, int]:
        """Materialize per-stage survivor counts (one job per stage)."""
        return {name: df.count() for name, df in self.stages.items()}


def curate_docs(
    docs: DataFrame,
    bench_docs: DataFrame | None = None,
    *,
    train_split_only: bool = True,
    scrub_pii: bool = False,
    quality_filter: bool = False,
    fuzzy_decontaminate: bool = False,
    doc_embeddings: DataFrame | None = None,
    bench_embeddings: DataFrame | None = None,
    embedding_exact: bool = False,
    embedding_dedup: bool = False,
    keep: str | tuple[str, str] = "min_id",
    require_embedding_coverage: bool = False,
    contamination_report: bool = False,
    cluster_stats: bool = False,
    drop_substring_dups: bool = False,
    min_novelty: float | None = None,
    pack_budget: int = packing.PACK_BUDGET,
    pack_shards: int = packing.PACK_SHARDS,
) -> CurationResult:
    """Run the full curation chain over ``docs``; ``bench_docs`` (optional)
    is the eval-benchmark suite to decontaminate against.

    ``scrub_pii=True`` redacts contact-like spans (emails / phones / IPs →
    typed placeholder tokens) as stage 0, BEFORE dedup/hygiene, so every
    downstream verdict — shingle hashes, n-gram overlaps, fingerprints —
    is computed over the text that will actually be trained on.

    ``fuzzy_decontaminate=True`` (needs ``bench_docs``) adds the
    near-duplicate decontamination rung after the exact 8-gram one:
    paraphrased/lightly-edited eval leakage shares few exact 8-grams but
    high shingle Jaccard (see ``hygiene.fuzzy_decontaminate_from``). This
    is where the hashed contract pays composed: stage 1's persisted
    shingle-hash relation is handed straight to the fuzzy stage
    (``hashed_train=``), so the corpus text is shingle-hashed ONCE for
    dedup and fuzzy decontamination together — the fuzzy stage re-runs
    only the 24-permutation signature pass over the cached int arrays.

    ``min_novelty=x`` adds the n-gram novelty floor
    (``hygiene.ngram_novelty_from``) after the substring stage: drop any
    surviving doc whose distinct 8-grams are mostly first seen in an
    earlier surviving doc (novelty < x) — the gradient filter for docs
    that are largely previously-seen text without any single twin
    crossing the pair thresholds. Computed over the CURRENT survivors, so
    a cluster's kept representative scores high while its partial echoes
    score low.

    ``bench_embeddings`` (needs ``doc_embeddings``; both (doc_id, v
    array<double>) relations) adds the EMBEDDING decontamination rung
    after the lexical ones: paraphrased eval leakage with low n-gram
    overlap but high embedding cosine
    (``hygiene.embedding_decontaminate_from`` — the suite broadcast as a
    band-key probe dict, one map-only pass over ``doc_embeddings``).
    ``doc_embeddings`` may be the PRE-dedup superset: extra rows only
    produce drop ids for already-dropped docs, which the anti-join
    ignores — probing them map-side is cheaper than a corpus-sized
    semi-join shuffle to trim them first. It may also be a SUBSET: a
    surviving doc with NO embedding row emits no verdict and silently
    skips every embedding stage (decontamination AND embedding dedup) —
    it can never be dropped by them. That is the documented contract;
    when the pipeline must not tolerate the gap (a safety stage), pass
    ``require_embedding_coverage=True`` and the chain counts survivors
    without an embedding row at the FIRST embedding rung and raises
    ``ValueError`` when any exist (one extra anti-join count job; later
    rungs see only subsets of the checked set, so one check covers all).
    ``embedding_exact=True`` verifies against the WHOLE suite instead of
    the LSH probe (recall 1.0, O(n_bench)/doc — see
    ``embedding_decontaminate_from``).

    ``embedding_dedup=True`` (needs ``doc_embeddings``) adds the
    SemDeDup-style semantic dedup rung after the lexical one: drop every
    non-representative of an embedding-cosine near-dup cluster
    (paraphrases / re-renders that share too few shingles for MinHash).
    Composed from the library forms — ``similarity.emb_lsh_pairs_from``
    over the survivors' embeddings, then ``dedup.connected_components``,
    keep each cluster's min-doc_id member — exactly stage 1's idiom, so
    the chain stage equals the standalone composition (pinned by test).
    Whenever this rung runs, the (doc_id, v) projection is persisted —
    the pairs/components composition evaluates its input three times, and
    the decon rung (when also enabled) reads the same cache, so both
    rungs together still cost ONE scan of ``doc_embeddings``.

    ``quality_filter=True`` adds the Gopher/C4-style quality floor as
    stage 0b (after the PII scrub, so the gate scores the text that will
    be trained on; BEFORE dedup, so the expensive hash/band/component
    stages never see the rejects — at 100 TB the win is their input
    size): drop every doc failing ``textstats.quality_gate`` (length in
    [50, 10000] chars, alpha ratio > 0.5 — the same gate
    ``text_quality_score``'s passes_filter and ``corpus_report``'s
    pass_rate report, one shared definition). Map-only codegen'd string
    expressions; the drop-id set is eagerly pinned like every verdict
    stage.

    ``keep`` picks which member each near-dup cluster RETAINS, on BOTH
    dedup rungs (lexical stage 1 and the embedding rung):
    ``"min_id"`` (default — the oracle form), ``"longest"`` (most text
    characters), or ``("score", col)`` (largest ``docs[col]``). Ties
    always break toward the smallest doc_id, so curation stays
    deterministic under every policy (see ``dedup.dedup_losers_from``).
    The scored policies add ONE int/score-column hash agg per rung —
    text still never shuffles. ``cluster_stats`` always reports the
    min-id form (its dup_chars is defined against the oracle
    representative), independent of ``keep``. The incremental streaming
    twin (``streaming/curate_stream.py``) implements ``min_id`` only:
    its claim-table model is first-writer-wins, and a scored policy
    would need a later, better member to retroactively resurrect an
    already-dropped doc — batch≡stream equality is therefore pinned at
    the default policy.

    ``cluster_stats=True`` additionally emits the per-cluster dedup
    savings report (``dedup.cluster_stats_from`` — what stage 1's drop
    buys, in docs and chars, per near-dup cluster) as
    ``res.stages["cluster_stats"]``, off the SAME component labeling the
    dedup stage already computed (no extra hash pass or label
    propagation; the one addition is a length() scan + int agg).

    ``contamination_report=True`` (needs ``bench_docs``) additionally
    emits the per-EVAL-doc leak report
    (``hygiene.contamination_report_from``) over the DEDUPED corpus —
    what the eval owner would face training on it before any
    decontamination drop — as ``res.stages["contamination_report"]``,
    reusing the same stage-1 shingle-hash cache (the report's fuzzy rung
    re-runs only the signature pass; no extra corpus hash pass)."""
    # same loud-failure contract as the bench_docs flags below: an
    # embedding stage that cannot run (or an argument nothing consumes)
    # must fail at the call, not silently skip
    if bench_embeddings is not None and doc_embeddings is None:
        raise ValueError(
            "bench_embeddings requires doc_embeddings (the embedding "
            "decontamination rung needs both the corpus and the "
            "eval-suite embeddings); pass both or neither"
        )
    if embedding_dedup and doc_embeddings is None:
        raise ValueError(
            "embedding_dedup=True requires doc_embeddings (the semantic "
            "dedup rung clusters the corpus embeddings); pass "
            "doc_embeddings or drop the flag"
        )
    if doc_embeddings is not None and bench_embeddings is None and not embedding_dedup:
        raise ValueError(
            "doc_embeddings was passed but nothing consumes it: pass "
            "bench_embeddings (embedding decontamination) and/or "
            "embedding_dedup=True (semantic dedup), or drop it"
        )
    if require_embedding_coverage and doc_embeddings is None:
        raise ValueError(
            "require_embedding_coverage=True needs doc_embeddings (there "
            "is no embedding stage to cover); pass it or drop the flag"
        )
    if embedding_exact and bench_embeddings is None:
        raise ValueError(
            "embedding_exact=True needs bench_embeddings (it selects the "
            "exhaustive-verify mode of the embedding DECONTAMINATION "
            "rung, which is not running); pass bench_embeddings or drop "
            "the flag"
        )
    # keep-policy contract checked EAGERLY (review r13): the policy shape
    # and its score column need only `keep` and docs.columns — failing
    # here beats failing after the corpus-sized scrub/hash/components
    # stages have already run
    dedup.validate_keep_policy(keep, docs)
    if (fuzzy_decontaminate or contamination_report) and bench_docs is None:
        # an explicit opt-in with nothing to check against must fail
        # loudly, not silently skip the stage the caller asked for
        # (ADVICE r9: curate_docs(fuzzy_decontaminate=True) no-opped)
        flag = (
            "fuzzy_decontaminate"
            if fuzzy_decontaminate
            else "contamination_report"
        )
        raise ValueError(
            f"{flag}=True requires bench_docs (the eval-benchmark suite "
            "to check against); pass bench_docs or drop the flag"
        )
    # Error-path cache hygiene (review r12): every persist() cache this
    # call creates must die WITH the call, including when a stage raises
    # (the minhash/LSH max_bucket refusals, the
    # require_embedding_coverage ValueError, any Spark action error) —
    # otherwise each failed attempt strands a corpus-sized cache entry
    # (docs' lineage differs per call, so plan canonicalization never
    # dedupes the leaked copies) and retries accumulate executor memory
    # pressure. Persist sites register with _track; the normal-path
    # releases use _release (identity match — DataFrame __eq__ builds a
    # Column); the except arm below releases whatever is still live and
    # re-raises. Scope (ADVICE r12): this guarantee covers persist()
    # entries only — the ones the cache manager pins indefinitely. The
    # eagerly localCheckpoint()ed verdict/loser relations created before
    # a failure (including the r17 OVERLAPPED verdict pins, which run
    # concurrently with stage 1 and may exist when stage 1 raises) are
    # NOT tracked; their blocks are reclaimed by the ContextCleaner when
    # the Python/JVM refs drop (the session's 45 s periodic GC bounds the
    # wait), which is acceptable for id-set-sized pins but is a weaker,
    # delayed release.
    caches: list[DataFrame] = []

    def _track(df: DataFrame) -> DataFrame:
        caches.append(df)
        return df

    def _release(df: DataFrame) -> None:
        for i, x in enumerate(caches):
            if x is df:
                del caches[i]
                break
        df.unpersist()

    pool: ThreadPoolExecutor | None = None
    verdict_futs: dict[str, Future] = {}
    # per-call tag on the overlapped verdict pins' jobs: the failure arm
    # cancels exactly these (a tag, not a job group, so a caller's own job
    # group still attributes them)
    sc = docs.sparkSession.sparkContext
    verdict_tag = f"curate-verdicts-{uuid.uuid4().hex}"
    try:
        res = CurationResult()
        res.stages["input"] = docs
        qual_ids = None
        if scrub_pii:
            scrubbed = hygiene.scrub_pii_from(docs)
            docs = scrubbed.drop("text", "n_email", "n_ip", "n_phone").withColumnRenamed(
                "scrubbed", "text"
            )
            if quality_filter:
                # Fuse the stage-0b gate INTO the scrub pass (r17, guide
                # §1.2 "don't compute things twice"): the gate is two more
                # codegen'd regex expressions over the text this job is
                # already materializing, so computing the verdict column
                # here makes the standalone full-text verdict pass (and
                # its own checkpoint job) disappear — the drop-id set
                # becomes a lazy filter over the pinned rows below.
                docs = docs.withColumn(
                    "_passes_quality", textstats.quality_gate()
                )
            # Materialize the scrubbed relation ONCE: every later stage
            # re-references `docs` (shingle hashing, component nodes, the
            # repetition/mixture/split joins, packing), and without truncation
            # each of those scans re-runs the regexp scrub over the full text
            # column — measured 3.3x wall on the composed chain. Like stage
            # 1's components, stage 0 is therefore eager; on a cluster where
            # executor loss matters, swap for checkpoint() with a checkpoint
            # dir.
            docs = docs.localCheckpoint(eager=True)
            if quality_filter:
                # NULL gate verdict (null text) is a REJECT — see the
                # coalesce note on the unfused path below.
                qual_ids = docs.where(
                    ~F.coalesce(F.col("_passes_quality"), F.lit(False))
                ).select("doc_id")
                docs = docs.drop("_passes_quality")
            res.stages["after_pii_scrub"] = docs

        # 0b. quality floor (opt-in; see docstring): the cheap map-only
        # gate runs before the hash/band/component stages so they never
        # scan the rejects. When the scrub ran, the verdict was computed
        # inside its checkpoint job (fused column above) and qual_ids is a
        # cheap filter over pinned rows; otherwise the standalone verdict
        # pass runs here, eagerly pinned — the gate is two regex passes
        # over text, re-run per downstream docs reference otherwise.
        if quality_filter:
            if qual_ids is None:
                # NULL gate verdict (null text) is a REJECT: the stream twin's
                # where(quality_gate()) drops NULL rows (SQL NULL is not true),
                # so the batch drop-set must claim them too or the documented
                # "streamed survivor set equals the batch chain" contract breaks
                # for corpora with nullable text. coalesce(False) turns the
                # NULL verdict into a drop here without changing the
                # text_quality_score / corpus_report scoring surfaces (whose
                # oracles also yield SQL NULL).
                qual_ids = (
                    textstats.quality_verdicts_from(docs.select("doc_id", "text"))
                    .where(~F.coalesce(F.col("passes_filter"), F.lit(False)))
                    .select("doc_id")
                    .localCheckpoint(eager=True)
                )
            docs = docs.join(qual_ids, "doc_id", "left_anti")
            res.stages["after_quality_filter"] = docs

        # 1. near-dup dedup: drop everything but each cluster's min doc_id.
        # We own the shingle-hash cache here: connected_components eagerly
        # checkpoints the pairs, so the hashed relation is consumed by the time
        # it returns and can be unpersisted (no leaked cache per curate call).
        hashed = _track(dedup.hashed_from(docs))
        reuse_hashed = fuzzy_decontaminate or contamination_report
        h_b = _track(dedup.hashed_from(bench_docs)) if reuse_hashed else None

        # r17 OVERLAP (guide §2.6 — independent jobs back-fill idle slots):
        # the exact-decontamination, fuzzy-decontamination and repetition
        # verdicts are PER-DOC functions of (doc text, eval suite) — no
        # cross-corpus state — so their drop-id pins need not wait for the
        # dedup stage. They are submitted here over the CURRENT (post-
        # quality) docs, a superset of whatever survivor set each is later
        # applied to: the extra verdict rows belong to docs an earlier
        # anti-join already dropped, so applying the superset drop set
        # yields row-identical stages (pinned by test). The pins then run
        # CONCURRENTLY with stage 1's hash/band/component jobs — the chain
        # at sf-scale is a string of under-parallelized eager jobs, and at
        # 100 TB each stage has a straggler tail the next stage's jobs can
        # fill. The corpus-dependent stages (dedup, substring, novelty,
        # embedding dedup) stay sequential: their verdicts change with the
        # survivor set. The fuzzy pin shares the tracked `hashed`/`h_b`
        # caches with stage 1 (Spark's block manager serializes concurrent
        # fills per partition); every future is awaited at its original
        # apply point, and the except arm below drains them before any
        # cache release.
        docs_pre = docs

        def _pin_drop_ids(build, flag: str) -> DataFrame:
            # runs on a pool thread: job tags are thread-local, so the tag
            # labels this pin's jobs only, and leaves with it
            sc.addJobTag(verdict_tag)
            try:
                return (
                    build()
                    .where(F.col(flag))
                    .select("doc_id")
                    .localCheckpoint(eager=True)
                )
            finally:
                sc.removeJobTag(verdict_tag)

        pool = ThreadPoolExecutor(max_workers=3)
        if bench_docs is not None:
            verdict_futs["dirty"] = pool.submit(
                _pin_drop_ids,
                lambda: hygiene.decontaminate_from(docs_pre, bench_docs),
                "contaminated",
            )
        if fuzzy_decontaminate:
            verdict_futs["fuzzy"] = pool.submit(
                _pin_drop_ids,
                lambda: hygiene.fuzzy_decontaminate_from(
                    docs_pre, bench_docs, hashed_train=hashed, hashed_bench=h_b
                ),
                "contaminated",
            )
        verdict_futs["rep"] = pool.submit(
            _pin_drop_ids,
            lambda: hygiene.repetition_stats_from(docs_pre),
            "repetitive",
        )
        # max_bucket: an exact-duplicate flood refuses loudly here (naming the
        # linear exact-hash rung) instead of a quadratic self-join. We own the
        # band cache too: the guard's eager agg materializes it, the pair
        # self-join reads it back (one signature pass instead of three), and
        # connected_components' checkpoint means both caches are consumed on
        # return.
        bands = _track(dedup.bands_from(hashed).persist())
        pairs = dedup.near_dup_pairs_from(
            docs, hashed=hashed, max_bucket=dedup.MINHASH_MAX_BUCKET, bands=bands
        )
        comp = dedup.connected_components(docs.select("doc_id"), pairs)
        _release(bands)
        # hashed stays persisted through stage 2 when the fuzzy rung and/or
        # the contamination report will reuse it (the hashed contract
        # composed, reuse_hashed above); otherwise it is dead here — no
        # overlapped verdict reads it in that case.
        if not reuse_hashed:
            _release(hashed)
        if cluster_stats:
            # per-cluster dedup savings over the PRE-drop docs (post-PII if
            # scrubbing ran — savings should measure the text we'd train on),
            # reusing the checkpointed component labeling; lazy is fine here:
            # comp is already pinned and docs at this point is scan + tiny
            # anti-joins, so a later action re-runs one length scan + int agg
            res.stages["cluster_stats"] = dedup.cluster_stats_from(docs, comp)
        losers = dedup.dedup_losers_from(comp, docs, keep)
        if keep != "min_id":
            # scored policies add a join+agg over docs; docs (and losers,
            # via the report stage) are re-referenced downstream with no
            # subplan sharing — pin the small id set like the verdict
            # stages do. The min_id path stays the lazy cheap filter.
            losers = losers.localCheckpoint(eager=True)
        docs = docs.join(losers, "doc_id", "left_anti")
        res.stages["after_dedup"] = docs

        # 1a. per-eval-doc contamination report (opt-in): the trust-verdict
        # transpose, over the DEDUPED corpus — what an eval owner faces
        # before any decontamination drop. hashed is the PRE-dedup superset;
        # the report's fuzzy rung scores whatever ids hashed_train carries
        # (no completeness join to hide extras, unlike the verdict form), so
        # the cache is narrowed to the current corpus with the same tiny
        # losers anti-join that produced `docs` — still zero re-hash passes.
        # Eagerly pinned (suite-sized rows) while the caches are hot; lazily
        # it would re-hash the corpus after the unpersists below. (h_b was
        # built with `hashed` above, before the overlapped fuzzy pin.)
        if contamination_report:
            h_cur = hashed.join(losers, "doc_id", "left_anti")
            res.stages["contamination_report"] = hygiene.contamination_report_from(
                docs, bench_docs, hashed_train=h_cur, hashed_bench=h_b
            ).localCheckpoint(eager=True)

        # Shared embedding projection. Persist rules, per consumer count:
        # the dedup rung (1b) alone evaluates its input THREE times (the
        # derive_lsh_knobs count, the pairs checkpoint inside
        # connected_components, and the components' lazy nodes join at the
        # loser pin), so whenever 1b runs, emb_proj is persisted; when the
        # decon rung (2b') also runs it reads the same cache, so both rungs
        # cost one doc_embeddings scan between them. A decon-ONLY call scans
        # exactly once (the map-only verdict pass) and stays unpersisted — a
        # cache there would only add memory pressure. At 100 TB prefer
        # re-scanning parquet over caching a corpus-sized relation: drop the
        # persist and pay one scan per consumer instead.
        emb_proj = None
        if doc_embeddings is not None:
            emb_proj = doc_embeddings.select(F.col("doc_id").alias("vec_id"), "v")
            if embedding_dedup:
                emb_proj = _track(emb_proj.persist())

        def _check_embedding_coverage() -> None:
            # opt-in coverage contract (see docstring), invoked by whichever
            # embedding rung runs FIRST against the survivors at that point —
            # later rungs see only subsets, so one check covers both. One
            # int-keyed anti-join count job.
            n_uncovered = docs.join(
                doc_embeddings.select("doc_id"), "doc_id", "left_anti"
            ).count()
            if n_uncovered:
                raise ValueError(
                    f"require_embedding_coverage: {n_uncovered} surviving "
                    "docs have no doc_embeddings row and would silently "
                    "skip the embedding stage(s); supply their embeddings "
                    "or drop the flag to accept the documented subset "
                    "behavior"
                )

        # 1b. embedding near-dup dedup (opt-in): the SemDeDup-style semantic
        # rung — drop every non-representative of an embedding-cosine cluster
        # (paraphrases / re-renders whose shingle overlap is too low for
        # stage 1). Same pairs -> components -> min-id-representative idiom
        # as stage 1, composed from the library forms, so the chain stage
        # equals the standalone composition (pinned by test). Plan shape: the
        # LSH band self-join stays int-keyed (band, key) rows; TEXT never
        # enters the stage — docs is touched only by the final int anti-join.
        # The survivors' ids are SEMI-JOINED onto the embeddings first (one
        # int-keyed join of (id, vec) rows): a pre-dedup superset row could
        # otherwise win a cluster's min-id representative slot while being
        # already dropped — its surviving twin would be dropped with nothing
        # kept. Docs WITHOUT an embedding row never enter a cluster and
        # always survive this stage (the subset contract above).
        if embedding_dedup:
            if require_embedding_coverage:
                _check_embedding_coverage()
            emb_cur = emb_proj.join(
                docs.select(F.col("doc_id").alias("vec_id")), "vec_id"
            )
            emb_pairs = similarity.emb_lsh_pairs_from(emb_cur).select(
                F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
            )
            comp_e = dedup.connected_components(
                emb_cur.select(F.col("vec_id").alias("doc_id")), emb_pairs
            )
            # Eager pin (unlike stage 1, whose comp nodes are the cheap docs
            # id scan): comp_e references emb_cur — the doc_embeddings scan +
            # survivor semi-join — lazily, and docs is re-referenced by every
            # later stage with no subplan sharing; unpinned, each downstream
            # action would re-scan the embeddings once per reference. The
            # keep policy applies here too (same helper as stage 1).
            e_losers = dedup.dedup_losers_from(comp_e, docs, keep).localCheckpoint(
                eager=True
            )
            docs = docs.join(e_losers, "doc_id", "left_anti")
            res.stages["after_embedding_dedup"] = docs
            if bench_embeddings is None:
                # last embedding consumer: the loser pin above materialized
                # everything that reads emb_proj — release the cache here
                # (the both-rungs path releases after the decon pin instead)
                _release(emb_proj)

        # Stages 2-3 drop documents via EXPENSIVE verdict pipelines (the n-gram
        # decontamination explode+window, the repetition posexplode+window).
        # Their drop-id sets are eagerly pinned before joining: `docs` is
        # referenced by every later stage (repetition input AND join left side,
        # mixture, split, pack) and Spark shares no subplans across those
        # references — an un-truncated verdict pipeline in docs' lineage
        # re-executes once per reference (measured 3.3x wall on the composed
        # chain with decontamination on). Pinned, docs stays "scan + tiny
        # anti-joins", cheap to recompute anywhere.

        # 2. decontamination (skipped when no benchmark suite is supplied):
        # drop-id set pinned CONCURRENTLY with stage 1 (see the overlap
        # note above); awaited here, applied at its original position.
        if bench_docs is not None:
            docs = docs.join(
                verdict_futs["dirty"].result(), "doc_id", "left_anti"
            )
        res.stages["after_decontam"] = docs

        # 2a. fuzzy decontamination (opt-in): the near-duplicate rung the
        # exact 8-gram stage is blind to. Reuses stage 1's persisted `hashed`
        # relation as hashed_train (its pre-dedup superset rows only produce
        # candidates for already-dropped ids, which the completeness left
        # join over the CURRENT docs ignores); the bench suite was hashed
        # once above, persisted for its references (band table + hash sets,
        # and the report stage when both flags are on); both caches are
        # consumed by the eager checkpoints and released below.
        if fuzzy_decontaminate:
            docs = docs.join(
                verdict_futs["fuzzy"].result(), "doc_id", "left_anti"
            )
            res.stages["after_fuzzy_decontam"] = docs
        if reuse_hashed:
            # safe to release: the fuzzy pin (the only overlapped consumer)
            # resolved above, and the report stage pinned eagerly
            _release(h_b)
            _release(hashed)

        # 2b'. embedding decontamination (opt-in): the paraphrase-robust rung
        # — eval leakage with low lexical overlap but high embedding cosine.
        # One map-only pass over doc_embeddings against the broadcast
        # band-keyed suite; the drop-id set is eagerly pinned like every
        # other verdict stage. doc_embeddings may be the pre-dedup superset
        # (see the docstring) — the completeness rows it emits for dropped
        # ids die in the anti-join.
        if bench_embeddings is not None:
            if require_embedding_coverage and not embedding_dedup:
                # first (and only) embedding rung of this call — check the
                # survivors that actually reach it, not an earlier superset
                _check_embedding_coverage()
            emb_dirty = (
                hygiene.embedding_decontaminate_from(
                    emb_proj,
                    bench_embeddings.select(
                        F.col("doc_id").alias("vec_id"), "v"
                    ),
                    exact=embedding_exact,
                )
                .where(F.col("contaminated"))
                .select(F.col("vec_id").alias("doc_id"))
                .localCheckpoint(eager=True)
            )
            docs = docs.join(emb_dirty, "doc_id", "left_anti")
            res.stages["after_embedding_decontam"] = docs
        if embedding_dedup and bench_embeddings is not None:
            # both rungs' drop-id sets are eagerly pinned by now (stage 1b's
            # components checkpoint + the verdict checkpoint above) — the
            # shared cache is consumed and must not outlive this call
            _release(emb_proj)

        # 2b. exact-substring duplication filter (optional): drop docs whose
        # duplicated-span coverage crosses the flag threshold — the Lee et al.
        # exact-substring tier, run AFTER near-dup cluster removal so a doc is
        # not double-penalized for spans its dropped near-dup twins carried.
        if drop_substring_dups:
            # own the gram cache (same discipline as `hashed` above): the
            # eager localCheckpoint consumes the spans, so the grams relation
            # is dead afterwards and must not outlive this call as a cache
            # entry — docs' lineage differs per curate() invocation, so plan
            # canonicalization would never dedupe the leaked entries
            grams = _track(dedup.grams_from(docs.select("doc_id", "text")).persist())
            sub_ids = (
                dedup.substring_spans_from(docs.select("doc_id", "text"), grams=grams)
                .where(F.col("flagged"))
                .select("doc_id")
                .localCheckpoint(eager=True)
            )
            _release(grams)
            docs = docs.join(sub_ids, "doc_id", "left_anti")
            res.stages["after_substring_dedup"] = docs

        # 2c. n-gram novelty floor (opt-in): same eager-drop-id discipline as
        # the other verdict stages (the novelty pipeline shuffles the gram
        # relation once; un-pinned it would re-run per downstream reference)
        if min_novelty is not None:
            nov_ids = (
                hygiene.ngram_novelty_from(docs.select("doc_id", "text"))
                .where(F.col("novelty") < F.lit(float(min_novelty)))
                .select("doc_id")
                .localCheckpoint(eager=True)
            )
            docs = docs.join(nov_ids, "doc_id", "left_anti")
            res.stages["after_novelty"] = docs

        # 3. repetition filter (drop-id set pinned concurrently — see the
        # overlap note at stage 1)
        docs = docs.join(verdict_futs["rep"].result(), "doc_id", "left_anti")
        res.stages["after_repetition"] = docs

        # 4./5. mixture keep + split: per-doc content-hash verdicts, joined in
        # one pass (mixture weights reflect the CURATED per-source counts)
        mix = packing.mixture_sample_from(docs.select("doc_id", "source")).select(
            "doc_id", "keep"
        )
        split = packing.split_assign_from(docs.select("doc_id", "lang")).select(
            "doc_id", "split"
        )
        docs = docs.join(mix, "doc_id").where(F.col("keep")).drop("keep")
        docs = docs.join(split, "doc_id")
        if train_split_only:
            docs = docs.where(F.col("split") == "train")
        docs = docs.drop("split")
        res.stages["after_mix_split"] = docs
        res.survivors = docs

        # 6. pack the survivors into fixed-budget sequences
        res.packed = packing.seq_pack_from(docs, pack_budget, pack_shards)
        return res
    except BaseException:
        # cancel, then drain the overlapped verdict pins FIRST: an
        # in-flight pin still reads the tracked caches, and unpersisting
        # under it would force its job to recompute the whole lineage
        # mid-failure. The cancel repeats until every pin has returned, so
        # a pin that submits its job after one cancel is caught by the next.
        left = set(verdict_futs.values())
        while left:
            sc.cancelJobsWithTag(verdict_tag)
            _, left = wait(left, timeout=0.25)
        for c in caches:
            try:
                c.unpersist()
            except Exception:
                pass
        raise
    finally:
        if pool is not None:
            pool.shutdown(wait=False)


def write_training_shards(
    result: CurationResult, docs: DataFrame, out_dir: str
) -> None:
    """Materialize the curated corpus as training shards: one parquet
    partition per pack shard, rows sorted by (bin, doc_id) so a reader
    streams fully-packed sequences in order. The join pulls text back in
    only at write time — the curation chain itself never shuffles text.

    At 100 TB the shard count is the write-parallelism knob (each shard is
    one task's sorted output); readers get partition pruning on `shard`
    for free.

    The in-partition sort leads with ``shard`` (the partitionBy column):
    FileFormatWriter demands its output ordered by the partition columns
    and inserts its OWN sort when the incoming ordering doesn't already
    satisfy that — and that inserted sort is only by ``shard``, so a
    (bin, doc_id)-sorted input loses its file ordering once the writer
    sort spills (stability is not guaranteed at scale). Sorting
    (shard, bin, doc_id) up front satisfies the writer's requirement, no
    second sort is inserted, and the per-file (bin, doc_id) order is the
    sort's own guarantee."""
    if result.packed is None:
        raise ValueError("curation result has no packed output")
    (
        result.packed.join(docs.select("doc_id", "text"), "doc_id")
        .repartition("shard")
        .sortWithinPartitions("shard", "bin", "doc_id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
