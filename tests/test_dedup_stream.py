"""Incremental streaming dedup ≡ batch LSH dedup, plus idempotence.

The equivalence contract: streaming the corpus in arbitrary chunks through
``run_incremental_dedup`` must yield EXACTLY the batch
``dedup_minhash_lsh_pairs`` result on the full corpus — same pairs, same
jaccard values — because both paths share the shingle/minhash/band/verify
operators and LSH candidate generation commutes with batching (a colliding
band key collides whether the two docs arrived together or apart)."""

from __future__ import annotations

import json
import os

from columbiaimagesearch_spark.operators.dedup import dedup_minhash_lsh_pairs
from columbiaimagesearch_spark.sources import load_table
from columbiaimagesearch_spark.streaming.dedup_stream import (
    dedup_batch_step,
    read_hashes,
    read_pairs,
    run_incremental_dedup,
)

from conftest import SF_SMOKE


def _pair_set(df):
    return {(int(r["doc_a"]), int(r["doc_b"]), float(r["jaccard"])) for r in df.collect()}


def _write_chunks(spark, tmp_path, n_chunks: int) -> str:
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    d = tmp_path / "drops"
    d.mkdir()
    for c in range(n_chunks):
        chunk = [r for i, r in enumerate(docs) if i % n_chunks == c]
        (d / f"chunk-{c}.jsonl").write_text(
            "\n".join(json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) for r in chunk)
        )
    return str(d)


def test_streamed_chunks_match_batch_dedup(spark, tmp_path):
    src = _write_chunks(spark, tmp_path, n_chunks=3)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    run_incremental_dedup(spark, src, state, ckpt)

    streamed = _pair_set(read_pairs(spark, state))
    batch = _pair_set(dedup_minhash_lsh_pairs(spark, SF_SMOKE))
    assert streamed == batch
    assert len(batch) > 0  # fixture plants near-dups; the test must see them
    # every doc admitted exactly once
    hashes = read_hashes(spark, state)
    assert hashes.count() == hashes.select("doc_id").distinct().count()


def test_replayed_batch_is_noop(spark, tmp_path):
    """ST2: redelivering an already-claimed batch admits nothing and writes
    no duplicate pairs."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").limit(100)
    state = str(tmp_path / "state")
    admitted_first = dedup_batch_step(spark, docs, state)
    assert admitted_first == 100
    pairs_before = _pair_set(read_pairs(spark, state))

    admitted_replay = dedup_batch_step(spark, docs, state)
    assert admitted_replay == 0
    assert _pair_set(read_pairs(spark, state)) == pairs_before


def test_crash_between_bands_and_claim_replays_clean(spark, tmp_path, monkeypatch):
    """Crash at EACH state append of the step — pairs, bands, then the
    hashes claim — and replay the batch. A crash after the bands append
    leaves the replayed batch meeting its own band rows in state. For
    every crash point the replay must not emit self-pairs (doc_a == doc_b,
    jaccard 1.0), must not duplicate band rows, and the final pair set
    must equal an uncrashed run's (mirror of the emb_dedup_stream crash
    test; ADVICE r5)."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    from columbiaimagesearch_spark.streaming import state as st
    from columbiaimagesearch_spark.streaming.dedup_stream import _BANDS_SCHEMA

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    b1 = docs.where(F.col("doc_id") < 100)
    b2 = docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))

    clean = str(tmp_path / "clean")
    dedup_batch_step(spark, b1, clean)
    dedup_batch_step(spark, b2, clean)
    want = _pair_set(read_pairs(spark, clean))
    assert want  # the fixture plants near-dups in the first 200 docs
    real_parquet = DataFrameWriter.parquet

    for target in ("pairs", "bands", "hashes"):
        state = str(tmp_path / f"crashed-{target}")
        n_b1 = dedup_batch_step(spark, b1, state)

        def crash_on(self, path, *a, _target=target, **kw):
            if path.rstrip("/").endswith(_target):
                raise RuntimeError(f"simulated crash before {_target} append")
            return real_parquet(self, path, *a, **kw)

        with monkeypatch.context() as m:
            m.setattr(DataFrameWriter, "parquet", crash_on)
            with pytest.raises(RuntimeError, match="simulated crash"):
                dedup_batch_step(spark, b2, state)

        n_b2 = dedup_batch_step(spark, b2, state)  # full replay
        assert n_b1 + n_b2 == 200, target
        pairs = read_pairs(spark, state)
        assert pairs.where(F.col("doc_a") == F.col("doc_b")).count() == 0, target
        assert _pair_set(pairs) == want, target
        # band rows did not duplicate: one row set per admitted doc
        bands = st.read(spark, os.path.join(state, "bands"), _BANDS_SCHEMA)
        assert bands.count() == bands.distinct().count(), target
        per_doc = bands.groupBy("doc_id").count().select("count").distinct().collect()
        assert bands.select("doc_id").distinct().count() == 200, target
        assert len(per_doc) == 1, target  # every doc: the same band count


def test_cross_batch_pairs_found(spark, tmp_path):
    """A near-dup whose twin arrived in an EARLIER batch is still caught —
    the new-old band join against state."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    full_pairs = _pair_set(dedup_minhash_lsh_pairs(spark, SF_SMOKE))
    a_id, b_id, _ = sorted(full_pairs)[0]
    state = str(tmp_path / "state")
    dedup_batch_step(spark, docs.where(f"doc_id = {a_id}"), state)
    assert _pair_set(read_pairs(spark, state)) == set()
    dedup_batch_step(spark, docs.where(f"doc_id = {b_id}"), state)
    got = _pair_set(read_pairs(spark, state))
    assert {(p[0], p[1]) for p in got} == {(a_id, b_id)}
