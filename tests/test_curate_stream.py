"""Incremental streaming curation ≡ batch curation, plus idempotence.

The equivalence contract: streaming the corpus in arbitrary chunks through
``run_incremental_curation`` must yield EXACTLY the survivor set of the
batch operators on the full corpus — per-doc hygiene verdicts are content
functions (batch boundaries can't change them) and the near-dup pair
graph is batching-invariant (tests/test_dedup_stream.py)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from columbiaimagesearch_spark.operators import dedup, hygiene
from columbiaimagesearch_spark.sources import load_table
from columbiaimagesearch_spark.streaming.curate_stream import (
    curate_batch_step,
    curated_docs,
    register_benchmark,
    run_incremental_curation,
)

from conftest import SF_SMOKE


def _docs(spark):
    all_docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    bench = all_docs.where(F.col("doc_id") % hygiene.BENCH_MOD == 0)
    train = all_docs.where(F.col("doc_id") % hygiene.BENCH_MOD != 0)
    return train, bench


def _expected_survivors(train, bench) -> set[int]:
    pairs = dedup.near_dup_pairs_from(train)
    comp = dedup.connected_components(train.select("doc_id"), pairs)
    losers = comp.where(F.col("doc_id") != F.col("component")).select("doc_id")
    dirty = (
        hygiene.decontaminate_from(train, bench)
        .where(F.col("contaminated"))
        .select("doc_id")
    )
    rep = (
        hygiene.repetition_stats_from(train)
        .where(F.col("repetitive"))
        .select("doc_id")
    )
    kept = (
        train.select("doc_id")
        .join(losers, "doc_id", "left_anti")
        .join(dirty, "doc_id", "left_anti")
        .join(rep, "doc_id", "left_anti")
    )
    return {int(r["doc_id"]) for r in kept.collect()}


def test_streamed_curation_matches_batch(spark, tmp_path):
    train, bench = _docs(spark)
    rows = train.collect()
    d = tmp_path / "drops"
    d.mkdir()
    n_chunks = 3
    for c in range(n_chunks):
        chunk = [r for i, r in enumerate(rows) if i % n_chunks == c]
        (d / f"chunk-{c}.jsonl").write_text(
            "\n".join(
                json.dumps(
                    {
                        "doc_id": r["doc_id"],
                        "text": r["text"],
                        "lang": r["lang"],
                        "source": r["source"],
                    }
                )
                for r in chunk
            )
        )
    state = str(tmp_path / "state")
    register_benchmark(spark, bench, state)
    run_incremental_curation(spark, str(d), state, str(tmp_path / "ckpt"))

    streamed = {int(r["doc_id"]) for r in curated_docs(spark, state).collect()}
    assert streamed == _expected_survivors(train, bench)
    assert 0 < len(streamed) < train.count()  # something was dropped


def test_replayed_curation_batch_is_noop(spark, tmp_path):
    train, bench = _docs(spark)
    some = train.limit(80)
    state = str(tmp_path / "state")
    register_benchmark(spark, bench, state)
    assert curate_batch_step(spark, some, state) == 80
    before = {int(r["doc_id"]) for r in curated_docs(spark, state).collect()}
    assert curate_batch_step(spark, some, state) == 0
    after = {int(r["doc_id"]) for r in curated_docs(spark, state).collect()}
    assert before == after


@pytest.mark.parametrize("target", ["hashes", "verdicts"])
def test_crash_mid_step_replays_clean(spark, tmp_path, monkeypatch, target):
    """Crash inside the dedup step (before its hashes claim) or before the
    verdicts append, then replay the batch: the curated survivor set must
    equal an uncrashed run's."""
    from pyspark.sql.readwriter import DataFrameWriter

    train, bench = _docs(spark)
    b1 = train.where(F.col("doc_id") < 100)
    b2 = train.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))

    def survivors(state):
        return {tuple(r) for r in curated_docs(spark, state).collect()}

    clean = str(tmp_path / "clean")
    register_benchmark(spark, bench, clean)
    curate_batch_step(spark, b1, clean)
    curate_batch_step(spark, b2, clean)
    want = survivors(clean)

    state = str(tmp_path / "crashed")
    register_benchmark(spark, bench, state)
    n_b1 = curate_batch_step(spark, b1, state)
    real_parquet = DataFrameWriter.parquet

    def crash_on(self, path, *a, **kw):
        if path.rstrip("/").endswith(target):
            raise RuntimeError(f"simulated crash before {target} append")
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_on)
    with pytest.raises(RuntimeError, match="simulated crash"):
        curate_batch_step(spark, b2, state)
    monkeypatch.undo()

    n_b2 = curate_batch_step(spark, b2, state)  # full replay
    assert n_b1 + n_b2 == b1.count() + b2.count()
    assert survivors(state) == want
    assert 0 < len(want) < n_b1 + n_b2  # something was dropped


def test_stream_scrub_pii_affects_dedup_hashes(spark, tmp_path):
    """With scrub_pii=True, shingle hashes are computed over the SCRUBBED
    text: two docs identical except for different embedded emails become
    near-dup pairs (the emails redact to the same <EMAIL> token); without
    scrubbing they stay distinct."""
    from columbiaimagesearch_spark.streaming import dedup_stream

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    docs = spark.createDataFrame(
        [
            (1, f"{base} contact: first.user@example.com {base}", "en", "web"),
            (2, f"{base} contact: other.person@sample.org {base}", "en", "web"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    from columbiaimagesearch_spark.streaming import curate_stream

    scrubbed_state = str(tmp_path / "state_scrub")
    curate_stream.curate_batch_step(spark, docs, scrubbed_state, scrub_pii=True)
    scrub_pairs = dedup_stream.read_pairs(spark, scrubbed_state).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in scrub_pairs} == {(1, 2)}

    raw_state = str(tmp_path / "state_raw")
    curate_stream.curate_batch_step(spark, docs, raw_state)
    raw_pairs = dedup_stream.read_pairs(spark, raw_state).collect()
    # the differing emails keep the raw docs' shingle sets apart only if
    # the jaccard dips below threshold; either way the SCRUBBED run must
    # dominate (scrubbing can only merge, never split)
    assert len(raw_pairs) <= len(scrub_pairs)


def test_streamed_fuzzy_curation_matches_batch(spark, tmp_path):
    """fuzzy_decontaminate=True streamed in chunks == the batch chain with
    the same flag: a planted paraphrase of a bench doc (every 8th token
    edited - zero shared exact 8-grams) must be dropped by BOTH, and the
    full survivor sets must agree exactly. The paraphrase lands in a
    different chunk than unrelated docs so the verdict provably cannot
    depend on batch composition."""
    from columbiaimagesearch_spark import curate

    base = [f"fz{i}q" for i in range(32)]
    edited = list(base)
    for p in (3, 11, 19, 27):
        edited[p] = f"sw{p}y"
    train_all, bench = _docs(spark)
    paraphrase_id = 910_001
    planted = spark.createDataFrame(
        [(paraphrase_id, " ".join(edited), "en", "web")],
        "doc_id long, text string, lang string, source string",
    )
    bench_plus = bench.unionByName(
        spark.createDataFrame(
            [(1_000_003, " ".join(base), "en", "web")],
            "doc_id long, text string, lang string, source string",
        )
    )
    train = train_all.unionByName(planted)

    rows = train.collect()
    d = tmp_path / "drops"
    d.mkdir()
    n_chunks = 3
    for c in range(n_chunks):
        chunk = [r for i, r in enumerate(rows) if i % n_chunks == c]
        (d / f"chunk-{c}.jsonl").write_text(
            "\n".join(
                json.dumps(
                    {
                        "doc_id": r["doc_id"],
                        "text": r["text"],
                        "lang": r["lang"],
                        "source": r["source"],
                    }
                )
                for r in chunk
            )
        )
    state = str(tmp_path / "state")
    register_benchmark(spark, bench_plus, state)
    run_incremental_curation(
        spark, str(d), state, str(tmp_path / "ckpt"), fuzzy_decontaminate=True
    )
    streamed = {int(r["doc_id"]) for r in curated_docs(spark, state).collect()}

    batch = curate.curate_docs(
        train, bench_plus, train_split_only=False, fuzzy_decontaminate=True
    )
    # compare at the pre-mixture stage: mixture/split are assembly
    # decisions the stream deliberately leaves out
    batch_set = {
        int(r["doc_id"])
        for r in batch.stages["after_repetition"].select("doc_id").collect()
    }
    assert paraphrase_id not in streamed
    assert paraphrase_id not in batch_set
    assert streamed == batch_set


def test_streamed_quality_filter_matches_batch(spark, tmp_path):
    """quality_filter=True streamed in chunks == the batch chain with the
    same flag (r13 stage 0b): the gate is a pure per-doc content
    function, so batch boundaries cannot change it, rejected docs never
    enter the claim or dedup state, and the streamed survivor set equals
    curate_docs(quality_filter=True)'s after_repetition stage."""
    from pyspark.sql import Row

    from columbiaimagesearch_spark import curate

    train, bench = _docs(spark)
    planted = spark.createDataFrame(
        [
            Row(doc_id=940_000, text="too short", lang="en", source="web"),
            Row(doc_id=940_001, text="9876543210 " * 20, lang="en",
                source="web"),
            # NULL text: the gate verdict is SQL NULL — r14 contract says
            # BOTH rungs reject it (batch coalesces the verdict to False;
            # the stream twin's where() already treats NULL as false).
            Row(doc_id=940_002, text=None, lang="en", source="web"),
        ],
        schema="doc_id BIGINT, text STRING, lang STRING, source STRING",
    )
    train = train.unionByName(planted)
    rows = train.collect()
    d = tmp_path / "drops"
    d.mkdir()
    for c in range(2):
        chunk = [r for i, r in enumerate(rows) if i % 2 == c]
        (d / f"chunk-{c}.jsonl").write_text(
            "\n".join(
                json.dumps(
                    {"doc_id": r["doc_id"], "text": r["text"],
                     "lang": r["lang"], "source": r["source"]}
                )
                for r in chunk
            )
        )
    state = str(tmp_path / "state")
    register_benchmark(spark, bench, state)
    run_incremental_curation(
        spark, str(d), state, str(tmp_path / "ckpt"), quality_filter=True
    )
    streamed = {int(r["doc_id"]) for r in curated_docs(spark, state).collect()}
    assert {940_000, 940_001, 940_002}.isdisjoint(streamed)  # gate failers rejected
    res = curate.curate_docs(
        train, bench, train_split_only=False, quality_filter=True
    )
    batch = {
        int(r["doc_id"]) for r in res.stages["after_repetition"].collect()
    }
    assert streamed == batch
