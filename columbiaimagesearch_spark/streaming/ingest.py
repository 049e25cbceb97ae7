"""Structured Streaming ingestion — the reference's checker pipeline rebuilt.

Reference flow (SURVEY §3.2): Kafka image messages ``{sha1, s3_url,
img_info}`` -> normalize/dedup -> anti-check against already-stored rows ->
cut update batches at 1000 ids OR 600 s -> write image rows + update-ledger
rows (``updater/extraction_checker.py:281-454``).

Spark rendering:
- source: ``readStream.format("json")`` over a drop directory (S7 twin of
  the Kafka source S1 — swap ``format("kafka")`` + ``from_json(value)`` on a
  cluster; offset/sequence checkpointing ST3 is ``checkpointLocation``);
- validation + normalization: explicit schema, malformed rows quarantined
  (``_corrupt_record``), sha1 uppercased (C1 discipline);
- in-stream dedup ST4: ``dropDuplicates(["sha1"])`` per micro-batch plus
  terminal anti-join against the images table (J3) — duplicate suppression
  across restarts without the reference's marker-column races (ST2);
- count-or-time batching ST1: ``run_ingest_stateful`` routes the stream
  through the executor-side ``applyInPandasWithState`` batcher
  (``streaming/stateful.py``) — pending ids live in state-store partitions
  keyed by ``extr_type``, checkpointed with the query; the ``foreachBatch``
  sink only ever sees *emitted* update batches, so no id list ever
  accumulates on the driver.

At 100 TB: the same plan with a Kafka source; the anti-join is
stream-static against a bucketed images table (broadcast of the *batch*
side); ledger writes append parquet partitioned by date.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import state
from .stateful import DEFAULT_BATCH_SIZE, DEFAULT_MAX_DELAY_MS, batch_updates_stateful

IMAGE_MSG_SCHEMA = T.StructType(
    [
        T.StructField("sha1", T.StringType()),
        T.StructField("s3_url", T.StringType()),
        T.StructField(
            "img_info",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                ]
            ),
        ),
        T.StructField("list_sha1s", T.ArrayType(T.StringType())),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def read_message_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-drop JSON message stream with explicit schema + corrupt capture."""
    return (
        spark.readStream.schema(IMAGE_MSG_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("maxFilesPerTrigger", 1)
        .json(src_dir)
    )


def read_kafka_message_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S1 production form: Kafka topic -> the same message relation as the
    file-drop source, so every downstream stage is source-agnostic.

    Replaces the reference's consumer-group/SSL/manual-commit plumbing
    (``ingester/generic_kafka_processor.py:200-268``,
    ``kafka_ingester.py:197-251``) — offsets live in the query's
    ``checkpointLocation`` (ST3). Requires the spark-sql-kafka package on
    the cluster classpath; not exercised in local tests (no broker), but the
    returned plan is identical shape to ``read_message_stream``'s.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), IMAGE_MSG_SCHEMA).alias("m"),
        F.col("value").cast("string").alias("_raw"),
    )
    return parsed.select(
        "m.sha1",
        "m.s3_url",
        "m.img_info",
        "m.list_sha1s",
        # PERMISSIVE-equivalent corrupt capture: null struct -> raw payload
        F.when(F.col("m").isNull(), F.col("_raw"))
        .otherwise(F.lit(None))
        .alias("_corrupt_record"),
    )


def observe_messages(stream: DataFrame, name: str = "ingest_metrics") -> DataFrame:
    """A6 stream throughput counters (generic_kafka_processor.py:120-187's
    processed/skipped counters) as Spark observed metrics — surfaced per
    micro-batch in StreamingQueryProgress.observedMetrics[name]."""
    return stream.observe(
        name,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.col("_corrupt_record")).alias("n_corrupt"),
        F.count(F.col("sha1")).alias("n_single"),
        F.count(F.col("list_sha1s")).alias("n_list"),
    )


def normalize_messages(stream: DataFrame, prefer_url: bool = False) -> DataFrame:
    """Valid messages -> one row per sha1 (single or list messages), sha1
    uppercased, dupes within the frame dropped (ST4 first tier).

    Hardening (review r13): a NULL element inside ``list_sha1s`` is
    dropped — it previously survived the explode (schema-valid message,
    null join keys never match the claim anti-join) and crashed the
    stateful batcher's sort or was re-claimed forever.

    ``prefer_url=True`` (BATCH callers only — the kinesis sweep): when
    the same sha1 arrives both as a single message (with s3_url) and
    inside another message's list (without), keep the s3_url-bearing
    row deterministically via a max-struct agg — plain dropDuplicates
    picks an arbitrary winner and could permanently record NULL for a
    URL that was delivered. The default stays dropDuplicates because
    the STREAMING call sites feed applyInPandasWithState, which cannot
    follow a streaming aggregation."""
    valid = stream.where(F.col("_corrupt_record").isNull())
    singles = valid.where(F.col("sha1").isNotNull()).select(
        F.upper("sha1").alias("sha1"), "s3_url", "img_info"
    )
    lists = (
        valid.where(F.col("list_sha1s").isNotNull())
        .select(F.explode("list_sha1s").alias("sha1"))
        .where(F.col("sha1").isNotNull())
        .select(
            F.upper("sha1").alias("sha1"),
            F.lit(None).cast("string").alias("s3_url"),
            F.lit(None).cast(IMAGE_MSG_SCHEMA["img_info"].dataType).alias("img_info"),
        )
    )
    both = singles.unionByName(lists)
    if prefer_url:
        # max of the struct sorts NULL url first under struct ordering, so
        # the url-bearing row wins; ties break on the url value itself
        return (
            both.groupBy("sha1")
            .agg(F.max(F.struct("s3_url", "img_info")).alias("_best"))
            .select("sha1", "_best.s3_url", "_best.img_info")
        )
    return both.dropDuplicates(["sha1"])


class StatefulLedgerSink:
    """foreachBatch sink for the executor-side batcher's OUTPUT stream.

    It never buffers ids: its input rows are already-cut update batches
    ``(extr_type, update_id, sha1s, s3_urls, batch_size, reason)`` —
    O(updates) rows per trigger, each bounded by
    ``batch_size`` — and it just appends them to the two ledger tables
    (``updates/`` verbatim; ``images/`` via an arrays_zip explode). All
    writes are distributed; the driver handles only query lifecycle.
    """

    def __init__(self, spark: SparkSession, ledger_dir: str) -> None:
        self.spark = spark
        self.ledger_dir = ledger_dir
        self.images_dir = os.path.join(ledger_dir, "images")
        self.updates_dir = os.path.join(ledger_dir, "updates")

    def _minus_existing(self, df: DataFrame, table_dir: str) -> DataFrame:
        """Drop rows whose update_id a previous (crashed, replayed) attempt
        already appended to ``table_dir`` — foreachBatch is at-least-once
        and the state-store batcher re-emits the SAME deterministic
        update_ids on replay (state is versioned with the checkpoint), so
        per-table id guards make the appends converge exactly (review r13:
        replays previously duplicated rows in whichever tables the crashed
        attempt had reached)."""
        if state.has_rows(table_dir):
            existing = (
                self.spark.read.parquet(table_dir).select("update_id").distinct()
            )
            return df.join(F.broadcast(existing), "update_id", "left_anti")
        return df

    def process_batch(self, bdf: DataFrame, batch_id: int) -> None:
        bdf = bdf.persist()
        try:
            self._minus_existing(bdf, self.updates_dir).select(
                "update_id", "extr_type", "sha1s", "batch_size"
            ).withColumn("created", F.current_timestamp()).write.mode(
                "append"
            ).parquet(self.updates_dir)
            self._minus_existing(bdf, self.images_dir).select(
                "update_id",
                F.explode(F.arrays_zip("sha1s", "s3_urls")).alias("z"),
            ).select(
                F.col("z.sha1s").alias("sha1"),
                F.col("z.s3_urls").alias("s3_url"),
                "update_id",
            ).write.mode("append").parquet(self.images_dir)
        finally:
            bdf.unpersist()


def run_ingest_stateful(
    spark: SparkSession,
    src_dir: str,
    ledger_dir: str,
    checkpoint_dir: str,
    extr_type: str = "toy_feat_full_image",
    batch_size: int = DEFAULT_BATCH_SIZE,
    max_delay_ms: int = DEFAULT_MAX_DELAY_MS,
    date_str: str | None = None,
) -> StatefulLedgerSink:
    """PRIMARY ST1 path: drain ``src_dir`` (availableNow) with the batching
    state in the state store (``streaming/stateful.py``), not on the driver.

    Stages: file/Kafka source -> observe (A6) -> normalize + stateful
    dropDuplicates (ST4, survives restarts via the checkpoint) ->
    stream-static anti-join against the already-claimed images table (J3
    claim check; the static side is re-read per run, so across-run dedup
    holds even with a fresh checkpoint) -> applyInPandasWithState
    count-or-time batcher (ST1/ST2/ST3) -> :class:`StatefulLedgerSink`.

    A trailing partial batch stays in the state store and is emitted by a
    later run's count cut or deadline-in-state expiry (``first_ms`` +
    ``max_delay_ms``, checked on the next invocation that sees data for the
    key) — the reference's max-delay flush, minus its requirement that the
    process stay alive. ``NoTimeout`` is deliberate: state-store timers
    keep re-arming micro-batches and an ``availableNow`` drain would never
    terminate; a long-running deployment that wants no-input flushes passes
    ``ProcessingTimeTimeout`` to :func:`batch_updates_stateful` directly.
    """
    sink = StatefulLedgerSink(spark, ledger_dir)
    raw = observe_messages(read_message_stream(spark, src_dir))
    stream = normalize_messages(raw)
    if state.has_rows(sink.images_dir):
        claimed = spark.read.parquet(sink.images_dir).select("sha1")
        stream = stream.join(claimed, "sha1", "left_anti")
    typed = stream.select(F.lit(extr_type).alias("extr_type"), "sha1", "s3_url")
    batches = batch_updates_stateful(
        typed,
        date_str or time.strftime("%Y-%m-%d"),
        batch_size=batch_size,
        max_delay_ms=max_delay_ms,
    )
    q = (
        batches.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sink.last_query = q
    return sink

