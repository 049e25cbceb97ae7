"""Incremental embedding near-dup — the streaming twin of
``emb_lsh_near_dup_pairs``.

A training pipeline ingests embeddings continuously (every new crawl drop
is featurized); near-dup pairs against EVERYTHING already ingested must not
recompute the corpus. Same shape as ``dedup_stream`` (the text MinHash
twin): the corpus state is the band table, so each arriving batch does

  1. sign-bit band keys for the NEW vectors only (the shared
     ``similarity._lsh_band_keys`` kernel — elementwise projections, so
     streamed and batch bucketing are bitwise identical);
  2. claim anti-join on vec_id (ST2/J3 idiom) — replays are idempotent;
  3. candidates = fresh bands ⋈ fresh bands ∪ fresh bands ⋈ state bands,
     (band, key) equi-joins only — the state side is never scanned
     pairwise;
  4. exact-cosine verify of the candidate pairs against the union vector
     table (``similarity.verified_cos``, the batch operator's in-bucket
     verify itself, which is what makes streamed ≡ batch an exact set
     equality, asserted in tests);
  5. append verified pairs + fresh bands; the vector table (the claim
     side) lands LAST — same append-order rule dedup_stream documents.

Per-batch cost is O(batch × bands + collisions) regardless of corpus size.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import arrow_vec
from ..operators.similarity import (
    LSH_BANDS,
    LSH_BITS,
    LSH_SEED,
    NEAR_DUP_COS,
    _lsh_band_keys,
    verified_cos,
)
from . import state

VEC_SCHEMA = "vec_id long, v array<double>"
_BANDS_SCHEMA = "vec_id long, band int, key long"
_PAIRS_SCHEMA = "vec_a long, vec_b long, cos_sim double"


def read_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """Accumulated verified pairs; deduped on read (crash-replay residue is
    duplicate EDGES, same contract as dedup_stream.read_pairs)."""
    return state.read(
        spark, os.path.join(state_dir, "pairs"), _PAIRS_SCHEMA
    ).dropDuplicates(["vec_a", "vec_b"])


def read_vectors(spark: SparkSession, state_dir: str) -> DataFrame:
    return state.read(spark, os.path.join(state_dir, "vectors"), VEC_SCHEMA)


def _band_rows_fn(bands: int, bits: int, seed: int):
    """mapInArrow body over (vec_id, v): one (vec_id, band, key) int row per
    vector and band. Vectors cross the package's one Arrow boundary
    (``arrow_vec.vectors``), so malformed vectors raise and the keys are
    bitwise equal to the batch operator's."""

    def _band_rows(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            ids = np.asarray(batch.column("vec_id"), dtype=np.int64)
            V = arrow_vec.vectors(batch, "v", "emb_dedup_batch_step")
            keys = _lsh_band_keys(V, bands, bits, seed)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.tile(ids, bands)),
                    pa.array(np.repeat(np.arange(bands, dtype=np.int32), len(ids))),
                    pa.array(keys.T.ravel()),
                ],
                names=["vec_id", "band", "key"],
            )

    return _band_rows


def _knobs_path(state_dir: str) -> str:
    return os.path.join(state_dir, "lsh_knobs.json")


def _resolve_knobs(
    state_dir: str,
    bands: int | None,
    bits: int | None,
    threshold: float,
    seed: int,
    expected_corpus: int | None,
) -> tuple[int, int]:
    """The banding knobs ARE state: the band table is keyed by them, so
    every step against one state dir must use the same (bands, bits,
    seed) — a silent knob change would make the new-old join compare keys
    from different hash families (missed pairs, no error). Resolution:

    1. a state dir that already pinned knobs wins — explicit args may
       only CONFIRM them (a conflict raises instead of corrupting state);
    2. explicit args pin on first use;
    3. ``expected_corpus`` derives (bands, bits) via
       :func:`~..operators.similarity.derive_lsh_knobs` and pins those —
       the self-scaling path (size to the corpus the stream will
       accumulate, not the first batch);
    4. otherwise the fixture constants pin (smoke-tier default)."""
    import json

    pinned = None
    try:
        with open(_knobs_path(state_dir)) as fh:
            pinned = json.load(fh)
    except FileNotFoundError:
        pass
    if pinned is None and (bands is None or bits is None):
        if state.has_rows(os.path.join(state_dir, "bands")):
            # a state dir with resident band rows but no knobs file
            # predates knob pinning — silently pinning TODAY's defaults
            # would compare keys from a different hash family than the
            # resident state (missed pairs, no error)
            raise ValueError(
                f"state dir {state_dir} holds band rows but no "
                "lsh_knobs.json; pass the bands/bits/seed it was built "
                "with explicitly once to pin them"
            )
    if pinned is not None:
        for name, given in (("bands", bands), ("bits", bits), ("seed", seed)):
            if given is not None and given != pinned[name]:
                raise ValueError(
                    f"LSH knob {name}={given} conflicts with the state "
                    f"dir's pinned {name}={pinned[name]} — the band table "
                    "was built with the pinned calibration; start a new "
                    "state dir to re-calibrate"
                )
        return int(pinned["bands"]), int(pinned["bits"])
    if bands is None or bits is None:
        if expected_corpus is not None:
            from ..operators.similarity import derive_lsh_knobs

            d_bands, d_bits = derive_lsh_knobs(
                expected_corpus, threshold=threshold
            )
        else:
            d_bands, d_bits = LSH_BANDS, LSH_BITS
        bands = d_bands if bands is None else bands
        bits = d_bits if bits is None else bits
    os.makedirs(state_dir, exist_ok=True)
    state.write_json(
        _knobs_path(state_dir),
        {"bands": int(bands), "bits": int(bits), "seed": int(seed),
         "threshold": float(threshold)},
    )
    return int(bands), int(bits)


def emb_dedup_batch_step(
    spark: SparkSession,
    vecs: DataFrame,
    state_dir: str,
    bands: int | None = None,
    bits: int | None = None,
    threshold: float = NEAR_DUP_COS,
    seed: int = LSH_SEED,
    expected_corpus: int | None = None,
) -> int:
    """One incremental step: near-dup ``vecs`` against state, append
    verified pairs + fresh state rows. Returns fresh vectors admitted.

    The banding knobs MUST match across every step against one state dir
    (the band table is the state) — enforced by :func:`_resolve_knobs`,
    which pins the first step's knobs in ``lsh_knobs.json`` and rejects
    conflicting explicit knobs later. Pass ``expected_corpus`` on the
    first step to size the calibration to the corpus the stream will
    accumulate (bits grow with it; the fixture constants remain the
    smoke-tier default): new-old candidates per batch are
    O(batch × bands × |state| / 2^bits)."""
    bands, bits = _resolve_knobs(
        state_dir, bands, bits, threshold, seed, expected_corpus
    )
    vecs = vecs.where(F.col("vec_id").isNotNull()).dropDuplicates(["vec_id"])
    state_vecs = read_vectors(spark, state_dir)
    fresh = vecs.join(state_vecs, "vec_id", "left_anti").persist()
    bands_fresh = None
    try:  # releases the batch caches on a refusal too (see dedup_stream)
        n_fresh = fresh.count()
        if n_fresh == 0:
            return 0

        bands_fresh = (
            fresh.select("vec_id", "v")
            .mapInArrow(_band_rows_fn(bands, bits, seed), _BANDS_SCHEMA)
            .persist()
        )
        bands_fresh.count()
        state_bands = state.read(spark, os.path.join(state_dir, "bands"), _BANDS_SCHEMA)
        cands, bands_to_append = state.banded_candidates(
            bands_fresh, state_bands, "vec_id", ["band", "key"], ("vec_a", "vec_b")
        )
        all_vecs = fresh.unionByName(state_vecs)
        joined = (
            cands.join(
                all_vecs.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va")),
                "vec_a",
            )
            .join(
                all_vecs.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb")),
                "vec_b",
            )
        )

        def verify(batches):
            for batch in batches:
                n = batch.num_rows
                if not n:
                    continue
                V = np.concatenate([
                    arrow_vec.vectors(batch, "va", "emb_dedup_batch_step"),
                    arrow_vec.vectors(batch, "vb", "emb_dedup_batch_step"),
                ])
                ia, _, cos = verified_cos(
                    V, np.arange(n), np.arange(n, 2 * n), threshold
                )
                yield pa.record_batch(
                    {
                        "vec_a": batch.column("vec_a").take(ia),
                        "vec_b": batch.column("vec_b").take(ia),
                        "cos_sim": cos,
                    }
                )

        pairs = joined.mapInArrow(verify, _PAIRS_SCHEMA)

        # append order is load-bearing (see dedup_stream): the claim table
        # (vectors) lands LAST so a crash replays the whole batch
        pairs.write.mode("append").parquet(os.path.join(state_dir, "pairs"))
        bands_to_append.write.mode("append").parquet(os.path.join(state_dir, "bands"))
        fresh.write.mode("append").parquet(os.path.join(state_dir, "vectors"))
        return n_fresh
    finally:
        if bands_fresh is not None:
            bands_fresh.unpersist()
        fresh.unpersist()


def run_incremental_emb_dedup(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    bands: int | None = None,
    bits: int | None = None,
    threshold: float = NEAR_DUP_COS,
    seed: int = LSH_SEED,
    expected_corpus: int | None = None,
) -> None:
    """Drain ``src_dir`` (JSONL vector drops) through the incremental
    near-dup (see :func:`state.run_incremental`). Banding knobs pin to the
    state dir on the first batch (derived from ``expected_corpus`` when
    given) and stay constant for its lifetime — see ``_resolve_knobs``."""
    state.run_incremental(
        spark, src_dir, VEC_SCHEMA, checkpoint_dir,
        lambda batch_df: emb_dedup_batch_step(
            spark, batch_df, state_dir,
            bands=bands, bits=bits, threshold=threshold, seed=seed,
            expected_corpus=expected_corpus,
        ),
        max_files_per_trigger,
    )
