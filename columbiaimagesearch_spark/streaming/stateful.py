"""Distributed count-or-time batching — ST1 as a stateful streaming operator.

The reference's update batching (``updater/extraction_checker.py:281-454``:
cut a batch at 1000 ids OR 600 s) keeps its carry buffer in the checker
process. Here ``applyInPandasWithState`` keys the carry state by
``extr_type``, so each extraction type's pending ids live in executor
state-store partitions, checkpointed with the query (ST3) and recovered on
restart (ST2). The driver never sees ids; state volume per key is bounded
by ``batch_size``.

The count cutoff fires inline as rows arrive. The time cutoff is rendered
two ways, selected by ``timeout_conf``:

- **deadline-in-state (default, ``NoTimeout``)**: the state tuple carries
  ``first_ms`` — the processing-time instant the current accumulation
  began (the reference's ``start_time``, extraction_checker.py:330) — and
  any invocation that finds ``now - first_ms >= max_delay_ms`` flushes the
  buffer. This needs no timers, so ``availableNow`` drain runs terminate
  cleanly (ProcessingTimeTimeout timers keep re-arming empty micro-batches
  and the query never reaches AvailableNow completion); a pending tail left
  by one drain run is flushed by the next run that sees data for the key.
- **timer-driven (``ProcessingTimeTimeout``)**: for long-running
  ``processingTime``-trigger deployments, the state-store timeout
  additionally fires the flush with *no* new input — the reference's
  max-delay branch verbatim.

Batch payloads are sorted in-micro-batch, so emitted batches are
deterministic given per-trigger contents. ``seq`` lives in state forever
(never removed) so update-id numbering survives empty buffers and
restarts.

Spark 4's successor API ``transformWithStateInPandas`` (typed
ValueState/ListState + first-class timers) is the natural next rendering
of this operator, but its driver-side schema worker imports
``google.protobuf``, which this environment does not ship — verified by
spike: query start fails with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE
from ``StateMessage_pb2``. ``applyInPandasWithState`` has no such
dependency and stays the implementation.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEFAULT_BATCH_SIZE = 1000  # reference: hbase_indexer_minimal.py:36
DEFAULT_MAX_DELAY_MS = 600_000  # reference: extraction_checker.py:24 (600 s)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("extr_type", T.StringType()),
        T.StructField("update_id", T.StringType()),
        T.StructField("sha1s", T.ArrayType(T.StringType())),
        T.StructField("s3_urls", T.ArrayType(T.StringType())),
        T.StructField("batch_size", T.IntegerType()),
        T.StructField("reason", T.StringType()),
    ]
)

_PENDING_ITEM = T.StructType(
    [
        T.StructField("sha1", T.StringType()),
        T.StructField("s3_url", T.StringType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("pending", T.ArrayType(_PENDING_ITEM)),
        T.StructField("seq", T.IntegerType()),
        T.StructField("first_ms", T.LongType()),
    ]
)


def advance(
    pending: list,
    seq: int,
    new_ids: list,
    batch_size: int,
    timed_out: bool,
) -> tuple[list[tuple[int, list, str]], list, int]:
    """Pure cut logic over opaque items: returns
    (emitted [(seq, items, reason)], pending', seq').

    Count cutoff emits full batches; a timeout flushes whatever remains
    (the reference's max-delay branch, extraction_checker.py:382-390)."""
    pending = pending + new_ids
    emitted: list[tuple[int, list, str]] = []
    while len(pending) >= batch_size:
        emitted.append((seq, pending[:batch_size], "count"))
        pending = pending[batch_size:]
        seq += 1
    if timed_out and pending:
        emitted.append((seq, pending, "timeout"))
        pending = []
        seq += 1
    return emitted, pending, seq


def make_batcher_fn(
    extr_date: str,
    batch_size: int = DEFAULT_BATCH_SIZE,
    max_delay_ms: int = DEFAULT_MAX_DELAY_MS,
    use_timer: bool = False,
):
    """Build the applyInPandasWithState function. ``extr_date`` is pinned by
    the caller (the reference mints ids with the checker's start date,
    extraction_checker.py:199-223) so update ids stay deterministic.
    ``use_timer`` must match the query's ``timeoutConf`` — calling
    ``setTimeoutDuration`` under ``NoTimeout`` raises."""

    def fn(
        key: tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (extr_type,) = key
        raw_pending, seq, first_ms = (
            state.get if state.exists else ([], 0, None)
        )
        # state rows come back as structs; normalize to (sha1, s3_url) tuples
        pending = [
            (p["sha1"], p["s3_url"]) if not isinstance(p, tuple) else p
            for p in raw_pending
        ]
        new_items: list[tuple[str, str | None]] = []
        for pdf in pdfs:
            urls = (
                pdf["s3_url"].tolist()
                if "s3_url" in pdf.columns
                else [None] * len(pdf)
            )
            new_items.extend(zip(pdf["sha1"].tolist(), urls))
        new_items.sort(key=lambda t: t[0])
        now_ms = state.getCurrentProcessingTimeMs()
        timed_out = state.hasTimedOut or (
            bool(pending)
            and first_ms is not None
            and now_ms - first_ms >= max_delay_ms
        )
        emitted, pending, seq = advance(
            pending, seq, new_items, batch_size, timed_out
        )
        if not pending:
            first_ms = None
        elif emitted or first_ms is None:
            first_ms = now_ms  # current accumulation (re)started this batch
        state.update((pending, seq, first_ms))
        if use_timer and pending:
            state.setTimeoutDuration(max_delay_ms)
        if emitted:
            yield pd.DataFrame(
                {
                    "extr_type": [extr_type] * len(emitted),
                    "update_id": [
                        f"index_update_{extr_type}_{extr_date}_{s:03d}"
                        for s, _, _ in emitted
                    ],
                    "sha1s": [[s for s, _ in items] for _, items, _ in emitted],
                    "s3_urls": [[u for _, u in items] for _, items, _ in emitted],
                    "batch_size": [len(items) for _, items, _ in emitted],
                    "reason": [r for _, _, r in emitted],
                }
            )

    return fn


def batch_updates_stateful(
    stream: DataFrame,
    extr_date: str,
    batch_size: int = DEFAULT_BATCH_SIZE,
    max_delay_ms: int = DEFAULT_MAX_DELAY_MS,
    timeout_conf: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """(extr_type, sha1) stream -> update-batch stream, state in the store.

    Default ``NoTimeout`` relies on the deadline-in-state time cut (safe for
    ``availableNow`` drains — see module docstring); pass
    ``GroupStateTimeout.ProcessingTimeTimeout`` for long-running
    ``processingTime``-trigger deployments to also flush with no input."""
    use_timer = timeout_conf != GroupStateTimeout.NoTimeout
    return stream.groupBy("extr_type").applyInPandasWithState(
        make_batcher_fn(extr_date, batch_size, max_delay_ms, use_timer),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


class _FakeGroupState:
    """Minimal GroupState stand-in for unit-testing ``make_batcher_fn``'s
    state transitions without a streaming query."""

    def __init__(
        self, value: Any = None, timed_out: bool = False, now_ms: int = 0
    ) -> None:
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms: int | None = None
        self.now_ms = now_ms

    def getCurrentProcessingTimeMs(self) -> int:
        return self.now_ms

    @property
    def exists(self) -> bool:
        return self._value is not None

    @property
    def get(self) -> Any:
        return self._value

    def update(self, value: Any) -> None:
        self._value = value

    def remove(self) -> None:
        self._value = None
        self.removed = True

    def setTimeoutDuration(self, ms: int) -> None:
        self.timeout_ms = ms
