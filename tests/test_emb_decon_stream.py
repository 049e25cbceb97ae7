"""Streamed embedding decontamination ≡ batch, exactly.

A verdict is a pure function of (vector, registered suite, pinned knobs) —
band-key, probe, exact elementwise cosine — so the accumulated verdict set
over ANY chunking must equal the batch operator's output as an exact set of
(vec_id, n_bench_twins, max_cos, contaminated) tuples, including the
rounded score; and per-batch cost is O(batch) however much streamed before
(no corpus-sized state, unlike the dedup twins)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from columbiaimagesearch_spark.operators.hygiene import (
    EMB_BENCH_MOD,
    embedding_decontaminate_from,
)
from columbiaimagesearch_spark.sources import load_table
from columbiaimagesearch_spark.streaming import emb_decon_stream as edc

from conftest import SF_SMOKE


def _vecs(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    is_bench = (F.col("vec_id") % EMB_BENCH_MOD) == 0
    return emb.where(~is_bench), emb.where(is_bench)


def _rows(df):
    return {
        (r["vec_id"], r["n_bench_twins"], r["max_cos"], r["contaminated"])
        for r in df.collect()
    }


def test_streamed_chunks_equal_batch(spark, tmp_path):
    state = str(tmp_path / "state")
    corpus, bench = _vecs(spark)
    edc.register_benchmark(spark, bench, state)
    n = corpus.count()
    chunk = (n + 2) // 3
    ids = sorted(r["vec_id"] for r in corpus.select("vec_id").collect())
    admitted = 0
    for i in range(3):
        keep = set(ids[i * chunk : (i + 1) * chunk])
        batch = corpus.where(F.col("vec_id").isin(keep))
        admitted += edc.emb_decon_batch_step(spark, batch, state)
    assert admitted == n
    got = _rows(edc.read_verdicts(spark, state))
    want = _rows(embedding_decontaminate_from(corpus, bench))
    assert got == want
    assert any(r[3] for r in want)  # the fixture plants real twins


def test_replayed_batch_is_noop(spark, tmp_path):
    state = str(tmp_path / "state")
    corpus, bench = _vecs(spark)
    edc.register_benchmark(spark, bench, state)
    batch = corpus.where(F.col("vec_id") < 200)
    n = batch.count()
    assert edc.emb_decon_batch_step(spark, batch, state) == n
    before = edc.read_verdicts(spark, state).count()
    # crash-replay (ST2/ST4): the same drop again claims nothing
    assert edc.emb_decon_batch_step(spark, batch, state) == 0
    assert edc.read_verdicts(spark, state).count() == before


def test_step_without_registered_suite_raises(spark, tmp_path):
    corpus, _ = _vecs(spark)
    with pytest.raises(ValueError, match="register_benchmark"):
        edc.emb_decon_batch_step(spark, corpus, str(tmp_path / "state"))


def test_runner_drains_drops_and_knobs_pin(spark, tmp_path):
    """The availableNow runner drains JSONL drops through the step; the
    knobs pinned at registration (derived from the SUITE count) are what
    every step uses — restart against the same state dir changes
    nothing."""
    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    corpus, bench = _vecs(spark)
    edc.register_benchmark(spark, bench, state)
    with open(edc._meta_path(state)) as fh:
        meta = json.load(fh)
    assert meta["n_bench"] == bench.count()

    rows = corpus.where(F.col("vec_id") < 120).collect()
    half = len(rows) // 2
    for i, part in enumerate([rows[:half], rows[half:]]):
        with open(src / f"drop{i}.jsonl", "w") as fh:
            for r in part:
                fh.write(
                    json.dumps({"vec_id": r["vec_id"], "v": list(r["v"])})
                    + "\n"
                )
    edc.run_incremental_emb_decon(spark, str(src), state, ckpt)
    assert edc.read_verdicts(spark, state).count() == len(rows)
    # restart with no new files: checkpointed offsets + claim = no-op
    edc.run_incremental_emb_decon(spark, str(src), state, ckpt)
    assert edc.read_verdicts(spark, state).count() == len(rows)
    with open(edc._meta_path(state)) as fh:
        assert json.load(fh) == meta  # knobs untouched by the run


def test_exact_mode_pins_through_meta_and_dominates_probe(spark, tmp_path):
    """register_benchmark(exact=True) pins exhaustive verify for every
    step: streamed exact verdicts equal the batch exact operator, and the
    totals dominate the probe mode's (the fixture has borderline twins
    the sign-bit bands drop at this threshold)."""
    corpus, bench = _vecs(spark)
    state = str(tmp_path / "exact")
    edc.register_benchmark(spark, bench, state, exact=True)
    edc.emb_decon_batch_step(spark, corpus, state)
    got = _rows(edc.read_verdicts(spark, state))
    want = _rows(embedding_decontaminate_from(corpus, bench, exact=True))
    assert got == want
    probe_state = str(tmp_path / "probe")
    edc.register_benchmark(spark, bench, probe_state)
    edc.emb_decon_batch_step(spark, corpus, probe_state)
    probe_total = sum(
        r[1] for r in _rows(edc.read_verdicts(spark, probe_state))
    )
    assert sum(r[1] for r in got) > probe_total


def test_register_benchmark_updates_meta_atomically(spark, tmp_path, monkeypatch):
    """ADVICE r11: re-registration must never pair the NEW suite with the
    OLD knobs (or a truncated meta.json). The new suite lands in a fresh
    versioned dir nothing references, and the meta.json rename is the
    single commit point for (suite dir, knobs) — simulate a crash between
    the parquet write and the rename: the OLD meta must still parse,
    carry the OLD knobs, and reference the OLD suite dir (still on disk,
    untouched), so a step after the crash answers under the old pair. A
    later uncrashed re-registration then lands the new pair together and
    garbage-collects the superseded suite."""
    import os

    state = str(tmp_path / "state")
    corpus, bench = _vecs(spark)
    small_bench = bench.limit(3)
    edc.register_benchmark(spark, small_bench, state, bands=4, bits=3)
    with open(edc._meta_path(state)) as fh:
        old = json.load(fh)
    assert (old["bands"], old["bits"]) == (4, 3)
    old_suite = os.path.join(state, old["bench_dir"])

    real_replace = os.replace

    def crash_replace(src, dst):
        if dst.endswith("meta.json"):
            raise OSError("simulated crash before meta rename")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_replace)
    with pytest.raises(OSError, match="simulated crash"):
        # a LARGER suite with different knobs — the dangerous re-pairing
        edc.register_benchmark(spark, bench, state, bands=9, bits=5)
    monkeypatch.undo()

    with open(edc._meta_path(state)) as fh:
        after_crash = json.load(fh)  # still valid JSON — never truncated
    assert after_crash == old  # old knobs intact, not the half-new pair
    assert os.path.isdir(old_suite)  # ...and they reference the OLD suite
    # a post-crash step runs against the OLD (suite, knobs) pair: its
    # verdicts equal the batch operator's under exactly those arguments
    n = edc.emb_decon_batch_step(spark, corpus, state)
    assert n == corpus.count()
    got = _rows(edc.read_verdicts(spark, state))
    want = _rows(
        embedding_decontaminate_from(corpus, small_bench, bands=4, bits=3)
    )
    assert got == want

    edc.register_benchmark(spark, bench, state, bands=9, bits=5)
    with open(edc._meta_path(state)) as fh:
        fresh = json.load(fh)
    assert (fresh["bands"], fresh["bits"]) == (9, 5)
    assert fresh["bench_dir"] != old["bench_dir"]
    assert os.path.isdir(os.path.join(state, fresh["bench_dir"]))
    assert not os.path.isdir(old_suite)  # superseded suite collected
    assert not os.path.exists(edc._meta_path(state) + ".tmp")


def test_step_refuses_gc_raced_suite_dir(spark, tmp_path):
    """Review r12: a step whose meta read raced a re-registration (old
    suite dir garbage-collected before this step's suite read) must FAIL
    LOUDLY and claim nothing — state.read's empty-DataFrame fallback
    would otherwise verdict the whole batch against an EMPTY suite, mark
    everything clean, and the claim table would make that permanent."""
    import os
    import shutil

    corpus, bench = _vecs(spark)
    state = str(tmp_path / "state")
    edc.register_benchmark(spark, bench, state)
    with open(edc._meta_path(state)) as fh:
        bench_dir = json.load(fh)["bench_dir"]
    shutil.rmtree(os.path.join(state, bench_dir))  # the gc'd-dir race state
    with pytest.raises(RuntimeError, match="superseded and garbage-collected"):
        edc.emb_decon_batch_step(spark, corpus, state)
    # nothing was claimed: after re-registration the replay verdicts the
    # FULL batch against the new suite, equal to the batch operator
    edc.register_benchmark(spark, bench, state)
    assert edc.emb_decon_batch_step(spark, corpus, state) == corpus.count()
    assert _rows(edc.read_verdicts(spark, state)) == _rows(
        embedding_decontaminate_from(corpus, bench)
    )


def test_step_refuses_partially_deleted_suite_dir(spark, tmp_path):
    """Review r12 follow-up: an rmtree IN PROGRESS when the step lists
    the suite dir leaves some part files visible — a silently PARTIAL
    suite. The step pins the read row count against meta's n_bench and
    refuses on mismatch, claiming nothing."""
    import glob
    import os

    corpus, bench = _vecs(spark)
    state = str(tmp_path / "state")
    edc.register_benchmark(spark, bench.repartition(4), state)
    with open(edc._meta_path(state)) as fh:
        meta = json.load(fh)
    parts = sorted(
        glob.glob(os.path.join(state, meta["bench_dir"]) + "/*.parquet")
    )
    assert len(parts) >= 2, "need a multi-part suite to simulate the race"
    os.remove(parts[0])  # the mid-rmtree race state
    with pytest.raises(RuntimeError, match="n_bench"):
        edc.emb_decon_batch_step(spark, corpus, state)
    assert edc.read_verdicts(spark, state).count() == 0  # nothing claimed
    # recovery: a fresh registration verdicts the full batch, == batch op
    edc.register_benchmark(spark, bench, state)
    assert edc.emb_decon_batch_step(spark, corpus, state) == corpus.count()
    assert _rows(edc.read_verdicts(spark, state)) == _rows(
        embedding_decontaminate_from(corpus, bench)
    )


def test_step_refuses_legacy_meta_without_n_bench_pin(spark, tmp_path):
    """ADVICE r12: a legacy meta (pre-r12, no n_bench) cannot make the
    suite-completeness guarantee — the step must REFUSE it rather than
    silently skipping the check, because a partially deleted legacy dir
    would otherwise verdict a batch against a partial suite permanently.
    Re-registration upgrades the state dir and recovers."""
    corpus, bench = _vecs(spark)
    state = str(tmp_path / "state")
    edc.register_benchmark(spark, bench, state)
    with open(edc._meta_path(state)) as fh:
        meta = json.load(fh)
    del meta["n_bench"]  # the legacy registration shape
    with open(edc._meta_path(state), "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(RuntimeError, match="no n_bench pin"):
        edc.emb_decon_batch_step(spark, corpus, state)
    assert edc.read_verdicts(spark, state).count() == 0  # nothing claimed
    edc.register_benchmark(spark, bench, state)  # upgrade path
    assert edc.emb_decon_batch_step(spark, corpus, state) == corpus.count()
    assert _rows(edc.read_verdicts(spark, state)) == _rows(
        embedding_decontaminate_from(corpus, bench)
    )
