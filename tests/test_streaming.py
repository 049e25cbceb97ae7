"""Streaming ingestion + windowed-agg tests (SURVEY §2.9 ST1-ST4).

Replays deterministic JSONL fixtures through real Structured Streaming
queries (file source, availableNow) and asserts ledger/window contents
against batch-computed expectations (FIXTURES.md §B6 contract).
"""

from __future__ import annotations

import json
import shutil

import pytest
from pyspark.sql import functions as F

from columbiaimagesearch_spark.streaming.ingest import run_ingest_stateful
from columbiaimagesearch_spark.streaming.windows import (
    read_event_stream,
    windowed_event_agg,
)
from columbiaimagesearch_spark.sources import load_table

from conftest import SF_SMOKE


def _sha(i: int) -> str:
    import hashlib

    return hashlib.sha1(f"img-{i}".encode()).hexdigest().upper()


@pytest.fixture()
def msg_dir(tmp_path):
    """Three message files: singles (with dupes), a list message, one corrupt."""
    d = tmp_path / "msgs"
    d.mkdir()
    f0 = [
        {"sha1": _sha(i), "s3_url": f"https://x/{i}.jpg", "img_info": {"format": "JPEG", "width": 64, "height": 64}}
        for i in range(0, 40)
    ]
    # duplicates of 0-4 plus new 40-59
    f1 = [
        {"sha1": _sha(i), "s3_url": f"https://x/{i}.jpg", "img_info": {"format": "PNG", "width": 32, "height": 32}}
        for i in list(range(5)) + list(range(40, 60))
    ]
    f2_lines = [json.dumps({"list_sha1s": [_sha(i) for i in range(60, 75)]}), "{not valid json"]
    (d / "part-000.jsonl").write_text("\n".join(json.dumps(m) for m in f0))
    (d / "part-001.jsonl").write_text("\n".join(json.dumps(m) for m in f1))
    (d / "part-002.jsonl").write_text("\n".join(f2_lines))
    return str(d)


def test_ingest_stateful_end_to_end(spark, msg_dir, tmp_path):
    """ST1 end to end (VERDICT r1 #10): with the carry in the state store,
    pending ids below batch_size stay checkpointed, never on the driver,
    and are cut by a later run's count cutoff."""
    ledger_dir = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")
    sink = run_ingest_stateful(
        spark, msg_dir, ledger_dir, ckpt,
        batch_size=30, max_delay_ms=10**9, date_str="2024-02-01",
    )

    images = spark.read.parquet(sink.images_dir)
    updates = spark.read.parquet(sink.updates_dir)
    # 75 distinct sha1s -> two count-cut batches of 30; 15 pending stay in
    # the state store (no driver-side finalize exists on this path)
    assert sorted(r["batch_size"] for r in updates.collect()) == [30, 30]
    assert images.count() == 60
    assert images.select("sha1").distinct().count() == 60
    # claimed rows carry their s3_url payload through the state store
    with_url = images.where(F.col("s3_url").isNotNull()).count()
    assert with_url > 0

    # restart on the same checkpoint: no new input -> no new claims (ST2/ST3)
    run_ingest_stateful(
        spark, msg_dir, ledger_dir, ckpt,
        batch_size=30, max_delay_ms=10**9, date_str="2024-02-01",
    )
    assert spark.read.parquet(sink.images_dir).count() == 60

    # 15 more ids top the carried 15 up to 30 -> third batch cuts, and the
    # claim anti-join keeps already-claimed sha1s out despite re-delivery
    extra = [
        {"sha1": _sha(i), "s3_url": f"https://x/{i}.jpg"}
        for i in list(range(10)) + list(range(75, 90))
    ]
    import pathlib

    pathlib.Path(msg_dir, "part-003.jsonl").write_text(
        "\n".join(json.dumps(m) for m in extra)
    )
    run_ingest_stateful(
        spark, msg_dir, ledger_dir, ckpt,
        batch_size=30, max_delay_ms=10**9, date_str="2024-02-01",
    )
    updates2 = spark.read.parquet(sink.updates_dir)
    assert sorted(r["batch_size"] for r in updates2.collect()) == [30, 30, 30]
    images2 = spark.read.parquet(sink.images_dir)
    assert images2.count() == 90
    assert images2.select("sha1").distinct().count() == 90
    ids = sorted(r["update_id"] for r in updates2.collect())
    assert ids == [
        f"index_update_toy_feat_full_image_2024-02-01_{s:03d}" for s in range(3)
    ]
    # two-way claim consistency (J3): every image row in exactly one update
    exploded = updates2.select("update_id", F.explode("sha1s").alias("sha1"))
    joined = images2.alias("i").join(
        exploded.alias("u"),
        (F.col("i.sha1") == F.col("u.sha1"))
        & (F.col("i.update_id") == F.col("u.update_id")),
    )
    assert joined.count() == 90


def test_windowed_stream_matches_batch(spark, tmp_path):
    """Streamed watermark agg over replayed events == batch oracle-checked plan.

    Two-phase replay: phase 1 streams the January events (append mode emits
    only watermark-closed windows); phase 2 adds a far-future sentinel that
    advances the watermark past every January window, flushing the tail —
    the late-data/window-eviction semantics the reference lacks (ST gap).
    """
    events = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = tmp_path / "events_stream"
    src.mkdir()
    # one chronological file => one micro-batch: the watermark only advances
    # after the batch, so nothing is late within phase 1 (file-arrival order
    # across multiple files is not chronological-guaranteed)
    pdf = events.toPandas().sort_values("ts")
    pdf.to_json(src / "chunk-0.jsonl", orient="records", lines=True, date_format="iso")

    out_dir = str(tmp_path / "out")

    def drain():
        q = (
            windowed_event_agg(read_event_stream(spark, str(src)))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "wckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    # phase 2: sentinel event far past the data; its own window stays open
    (src / "sentinel.jsonl").write_text(
        json.dumps(
            {
                "event_id": 10**9,
                "ts": "2024-06-01T00:00:00.000",
                "user_id": 0,
                "event_type": "view",
                "value": 0.0,
            }
        )
    )
    drain()

    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.read.parquet(out_dir).collect()
    }

    # phase 3 probe: an event FAR behind the watermark must be dropped (its
    # window was already closed and emitted exactly once)
    (src / "too-late.jsonl").write_text(
        json.dumps(
            {
                "event_id": 10**9 + 1,
                "ts": "2024-01-05T12:00:00.000",
                "user_id": 0,
                "event_type": "view",
                "value": 999.0,
            }
        )
    )
    drain()
    after_late = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert after_late == got, "late event past watermark must not re-emit windows"

    expected = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in events.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .collect()
    }
    assert got == expected
