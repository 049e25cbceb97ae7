"""Incremental state shared by the streaming twins.

Every streaming twin keeps exactly-once effects with the reference's claim
ledger (``extraction_checker.py:225-258`` get_unprocessed_rows): a step
anti-joins its input against an append-only claim table in a state
directory and appends what it admits. This module holds the pieces of that
idea the twins share, once:

- :func:`has_rows` / :func:`read` — the state-table probe and the
  schema'd, refreshed read (an absent table is an empty relation, or an
  error for tables a commit names);
- :func:`run_incremental` — the availableNow JSON-drop ``foreachBatch``
  shell every twin's ``run_incremental_*`` drains through;
- :func:`banded_candidates` — the new-new ∪ new-old band-key candidate
  join of the two LSH dedup twins, with its crash-replay guards;
- :func:`write_json` — the durable tmp + fsync + rename metadata commit.

Each step's append ORDER stays at its call site: the claim table lands
last, so a crash anywhere before it replays the whole batch.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Size the state-side candidate join like the batch operator sizes its
# banded exchange (similarity.LSH_BANDED_ROWS_PER_TASK). State band rows
# are ids and keys, never vectors or text — ~30 B serialized — so the same
# ~45 MB/task target admits ~1.5M rows per reduce task. At the session
# default of 32 partitions the join is fine through ~48M state band rows
# (~2.5M vectors at 19 bands); past that BOTH join inputs repartition to
# the computed width on the join key, which the equi-join reuses (same
# exchange count, wider tasks free of spill — the r16 1M batch lesson).
STATE_BANDS_ROWS_PER_TASK = 1_500_000
STATE_BANDS_MAX_PARTITIONS = 65536


def has_rows(path: str) -> bool:
    """True when ``path`` is a directory holding parquet part files. A
    directory deleted between the check and the listing reads as False."""
    try:
        return os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path)
        )
    except FileNotFoundError:
        return False


def read(
    spark: SparkSession, path: str, schema: str, strict: bool = False
) -> DataFrame:
    """The state table at ``path`` under ``schema``.

    ``strict=False`` (append-only tables: verdicts, pairs, claims): a
    missing or empty dir IS a state — nothing appended yet — and reads as
    an empty relation. ``strict=True`` (a dir a committed meta file names):
    missing or empty means a concurrent re-registration garbage-collected
    it, and an empty read would silently answer against nothing — raise.

    Spark caches file-status listings per path across queries
    (metadataCacheTTLSeconds = -1 by default), so a state path first listed
    in batch N would silently hide the files batch N appends from batch
    N+1: the refresh makes every step see the current snapshot."""
    if has_rows(path):
        spark.catalog.refreshByPath(path)
        return spark.read.schema(schema).parquet(path)
    if strict:
        raise RuntimeError(f"state relation {path!r} is missing or empty")
    return spark.createDataFrame([], schema)


def run_incremental(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    checkpoint_dir: str,
    step: Callable[[DataFrame], object],
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (JSONL drops under ``schema``, availableNow)
    through ``step(batch_df)``. Source offsets checkpoint with the query
    (ST3); the claim anti-join inside the step makes redelivered batches
    no-ops, so transport is at-least-once but state is exactly-once."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(lambda batch_df, _bid: step(batch_df))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def banded_candidates(
    fresh_bands: DataFrame,
    state_bands: DataFrame,
    id_col: str,
    key_cols: Sequence[str],
    out_cols: tuple[str, str],
) -> tuple[DataFrame, DataFrame]:
    """LSH candidates of a step: ``(cands, bands_to_append)``.

    ``cands`` holds distinct ``out_cols`` pairs (smaller id first) from
    fresh ⋈ fresh (new-new) ∪ fresh ⋈ state (new-old), equi-joined on
    ``key_cols`` only — the state side is never scanned pairwise.
    ``bands_to_append`` is the fresh band rows whose ids state does not
    already hold.

    Both guards are for the crash between a step's bands append and its
    claim append, which leaves the batch's band rows in state but the batch
    unclaimed. The replay meets its OWN bands in the new-old join: without
    the self-pair filter it emits id == id pairs that pass verify (score
    1.0) and poison the pairs state. And it must not append those bands
    again, or duplicate band rows accumulate on every replay; the anti-join
    costs one column-pruned scan of state ids, beside the candidate join's
    full state scan, so a step stays O(batch × bands + state + collisions).

    The state band table grows with the corpus while the session shuffle
    width stays fixed: it is counted (a parquet row count) and, past
    STATE_BANDS_ROWS_PER_TASK rows per default-width task, both new-old
    inputs repartition on the join key at the computed width."""
    a, b = out_cols
    key_cols = list(key_cols)
    spark = fresh_bands.sparkSession
    floor_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    want_p = min(
        -(-state_bands.count() // STATE_BANDS_ROWS_PER_TASK),
        STATE_BANDS_MAX_PARTITIONS,
    )
    new_old_fresh, state_j = fresh_bands, state_bands
    if want_p > floor_p:
        new_old_fresh = fresh_bands.repartition(want_p, *key_cols)
        state_j = state_bands.repartition(want_p, *key_cols)

    new_new = (
        fresh_bands.alias("a")
        .join(fresh_bands.alias("b"), key_cols)
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias(a), F.col(f"b.{id_col}").alias(b))
    )
    # canonical (least, greatest) ordering keeps pair identity stable no
    # matter which side arrived first
    n, o = F.col(f"n.{id_col}"), F.col(f"o.{id_col}")
    new_old = (
        new_old_fresh.alias("n")
        .join(state_j.alias("o"), key_cols)
        .where(n != o)
        .select(F.least(n, o).alias(a), F.greatest(n, o).alias(b))
    )
    cands = new_new.unionByName(new_old).distinct()
    bands_to_append = fresh_bands.join(
        state_bands.select(id_col).distinct(), id_col, "left_anti"
    )
    return cands, bands_to_append


def write_json(path: str, obj) -> None:
    """Durably replace ``path`` with ``obj`` as JSON: a temp file is
    flushed, fsynced and renamed over it. A crash leaves the old file or
    the new one, never a truncated file that wedges later readers."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
