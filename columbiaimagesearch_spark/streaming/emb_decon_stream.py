"""Incremental embedding decontamination — the streaming twin of
``llm_embedding_decontaminate`` (``hygiene.embedding_decontaminate_from``).

A training pipeline featurizes crawl drops continuously; each drop must be
checked against the (static) eval-suite embeddings without recomputing
anything about the corpus so far. The batch operator is already the right
per-batch shape — a verdict is a PURE function of (vector, suite, knobs):
band-key the vector, probe the broadcast suite dict, verify by exact
elementwise cosine. No cross-document state exists beyond the suite, so
streamed ≡ batch is an exact SET equality over verdict rows for ANY batch
chunking (asserted in tests/test_emb_decon_stream.py), and the per-batch
cost is O(batch) regardless of how much has streamed before — strictly
better than the dedup twins, whose band-table state grows with the corpus.

State layout under ``state_dir``:
  bench_vN/   the registered suite (vec_id, v) — a fresh VERSIONED dir
              per :func:`register_benchmark` call; the live one is the
              one meta.json names (superseded dirs are garbage-collected
              after the meta commit, best-effort)
  meta.json   threshold + banding knobs + seed + the live suite dir,
              PINNED together at registration (the suite's band keys
              depend on the knobs; a step with different knobs would
              answer a different question against the same state, so
              steps always read the pinned values). The meta rename is
              the atomic COMMIT POINT for suite+knobs as a unit.
  verdicts/   accumulated (vec_id, n_bench_twins, max_cos, contaminated)
              rows — also the CLAIM table (ST2/J3 idiom): a replayed batch
              anti-joins itself away, so redeliveries are no-ops. One
              table means one append per step — no cross-table crash
              window to guard (contrast dedup_stream's append-order rule).

Reference: no counterpart in the reference engine; the streaming claim
idiom mirrors its updates-processed ledger (extraction_checker.py).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.hygiene import (
    EMB_DECON_COS,
    EMB_DECON_MAX_BENCH_BYTES,
    embedding_decontaminate_from,
)
from ..operators.similarity import LSH_SEED, derive_lsh_knobs
from . import state

VEC_SCHEMA = "vec_id long, v array<double>"
_VERDICT_SCHEMA = (
    "vec_id long, n_bench_twins long, max_cos double, contaminated boolean"
)


def _meta_path(state_dir: str) -> str:
    return os.path.join(state_dir, "meta.json")


def register_benchmark(
    spark: SparkSession,
    bench_vecs: DataFrame,
    state_dir: str,
    threshold: float = EMB_DECON_COS,
    bands: int | None = None,
    bits: int | None = None,
    seed: int = LSH_SEED,
    exact: bool = False,
) -> None:
    """Write the eval-suite embeddings the stream decontaminates against,
    and PIN the verdict knobs (threshold, banding, seed) to the state dir.
    Knobs omitted => derived from the suite count, exactly like the batch
    library form — which is what makes streamed ≡ batch hold with both
    sides on defaults (``exact=True`` pins the exhaustive-verify mode —
    recall 1.0, O(n_bench)/row — for every later step). Re-registering
    overwrites suite AND knobs; verdicts
    already accumulated under the old suite keep their old meaning (same
    contract as curate_stream.register_benchmark).

    Crash safety (ADVICE r11): the suite parquet lands in a FRESH
    versioned dir (``bench_vN``) that nothing references yet, then
    meta.json — which names that dir alongside the knobs — is written to
    a temp file, fsynced, and renamed into place (``state.write_json``).
    The rename is the single atomic commit point for (suite, knobs) AS A
    UNIT: a crash anywhere before it leaves the OLD meta referencing the
    OLD, untouched suite dir with the OLD knobs — never a new suite under
    old knobs and never a truncated meta.json. Superseded suite dirs are
    garbage-collected after the commit (best-effort; a crash there
    strands an unreferenced dir, never an inconsistent pair)."""
    import re
    import shutil

    bench = bench_vecs.select("vec_id", "v").persist()
    n = bench.count()
    if bands is None or bits is None:
        d_bands, d_bits = derive_lsh_knobs(n, threshold=threshold)
        bands = d_bands if bands is None else bands
        bits = d_bits if bits is None else bits
    try:
        stale = [
            d for d in os.listdir(state_dir)
            if re.fullmatch(r"bench(_v\d+)?", d)
        ]
    except FileNotFoundError:
        stale = []
    version = 1 + max(
        (int(d[len("bench_v"):]) for d in stale if d.startswith("bench_v")),
        default=-1,
    )
    bench_dir = f"bench_v{version}"
    bench.write.mode("overwrite").parquet(os.path.join(state_dir, bench_dir))
    bench.unpersist()
    state.write_json(
        _meta_path(state_dir),
        {
            "threshold": threshold,
            "bands": int(bands),
            "bits": int(bits),
            "seed": int(seed),
            "exact": bool(exact),
            "n_bench": int(n),
            "bench_dir": bench_dir,
            "suite_version": version,
        },
    )
    for d in stale:  # superseded suites (and any legacy "bench" dir)
        shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)


def read_verdicts(spark: SparkSession, state_dir: str) -> DataFrame:
    return state.read(spark, os.path.join(state_dir, "verdicts"), _VERDICT_SCHEMA)


def emb_decon_batch_step(
    spark: SparkSession,
    vecs: DataFrame,
    state_dir: str,
    max_bench_bytes: int = EMB_DECON_MAX_BENCH_BYTES,
) -> int:
    """One incremental step: verdict every not-yet-claimed vector of
    ``vecs`` against the registered suite, append the rows. Returns fresh
    vectors admitted. Raises if no suite is registered — a decon stream
    with nothing to check against is a configuration error, not a no-op
    (the curate-chain ValueError contract)."""
    if not os.path.exists(_meta_path(state_dir)):
        raise ValueError(
            "emb_decon_batch_step: no benchmark registered under "
            f"{state_dir!r}; call register_benchmark first"
        )
    with open(_meta_path(state_dir)) as fh:
        meta = json.load(fh)
    vecs = vecs.where(F.col("vec_id").isNotNull()).dropDuplicates(["vec_id"])
    claimed = read_verdicts(spark, state_dir).select("vec_id")
    fresh = vecs.join(claimed, "vec_id", "left_anti").persist()
    # try/finally (review r12): any raise below — the gc-race refusals,
    # a FileNotFound when a deletion races the Spark read itself, a
    # verdict/write error — must release the batch-sized cache, or each
    # raced/replayed step strands another entry (the same error-path
    # cache-leak class curate_docs guards against).
    try:
        n_fresh = fresh.count()
        if n_fresh == 0:
            return 0
        # The live suite is the dir meta names ("bench" = pre-r12 state
        # dirs) — read it STRICTLY (review r12): state.read's
        # empty-DataFrame fallback is right for the verdicts table (no
        # verdicts yet is a state), but wrong here — a step that read
        # meta just before a concurrent register_benchmark committed a
        # new suite and garbage-collected this dir would verdict the
        # whole batch against an EMPTY suite, mark everything clean, and
        # the claim table would make that answer permanent.
        bench_dir = meta.get("bench_dir", "bench")
        try:
            # SNAPSHOT the suite before validating it (ADVICE r12): the
            # count below and the verdict pass must see the SAME rows — a
            # lazy read would re-scan the parquet after the count, so a
            # registration racing between the two could still disrupt the
            # step (loudly, since dirs are versioned, but a validated
            # snapshot removes the window entirely). The suite is
            # bench-sized; the pin is reclaimed by the ContextCleaner.
            bench = state.read(
                spark, os.path.join(state_dir, bench_dir), VEC_SCHEMA, strict=True
            ).localCheckpoint(eager=True)
        except RuntimeError as e:
            raise RuntimeError(
                f"emb_decon_batch_step: meta.json names suite dir "
                f"{bench_dir!r} but {e} — a concurrent register_benchmark "
                "superseded and garbage-collected it after this step read "
                "the old meta. Nothing was claimed; re-run the step to "
                "verdict against the new (suite, knobs) pair."
            ) from None
        # Completeness check (review r12): an rmtree IN PROGRESS at
        # listing time leaves some part files visible — a silently
        # PARTIAL suite, the same permanent-wrong-verdict failure as the
        # empty one. meta pinned the registered row count; anything else
        # means this dir is being superseded mid-read. A meta WITHOUT the
        # pin (a legacy pre-r12 registration) cannot make the guarantee —
        # refuse it rather than silently skipping the check (ADVICE r12):
        # a partially deleted legacy dir could otherwise verdict a batch
        # against a partial suite and the claim table makes it permanent.
        want = meta.get("n_bench")
        if want is None:
            raise RuntimeError(
                "emb_decon_batch_step: meta.json carries no n_bench pin "
                "(legacy registration) — the suite-completeness check "
                "cannot run. Re-register the benchmark to upgrade the "
                "state dir; nothing was claimed."
            )
        got = bench.count()
        if got != want:
            raise RuntimeError(
                f"emb_decon_batch_step: suite dir {bench_dir!r} holds "
                f"{got} vectors but meta.json pinned n_bench={want} — a "
                "concurrent register_benchmark is deleting it mid-read. "
                "Nothing was claimed; re-run the step."
            )
        verdicts = embedding_decontaminate_from(
            fresh,
            bench,
            threshold=meta["threshold"],
            bands=meta["bands"],
            bits=meta["bits"],
            seed=meta["seed"],
            max_bench_bytes=max_bench_bytes,
            exact=meta.get("exact", False),
        )
        verdicts.write.mode("append").parquet(os.path.join(state_dir, "verdicts"))
        return n_fresh
    finally:
        fresh.unpersist()


def run_incremental_emb_decon(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (JSONL vector drops) through the incremental
    decontamination (see :func:`state.run_incremental`). Register the suite
    BEFORE starting (the step raises otherwise)."""
    state.run_incremental(
        spark, src_dir, VEC_SCHEMA, checkpoint_dir,
        lambda batch_df: emb_decon_batch_step(spark, batch_df, state_dir),
        max_files_per_trigger,
    )
