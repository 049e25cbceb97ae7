"""Kinesis source/sink twins (S2/S10) — file-backed stream emulation.

The reference ships Kinesis as a first-class ingestion path:
``ingester/kinesis_ingester.py:71-361`` (per-shard iterators resumed from
the last processed *sequence number*, persisted to a shard-infos JSON file
after every sweep; skip-already-read on resume; empty-poll backoff) and
``pusher/kinesis_pusher.py`` (put_records of JSON messages routed to shards
by partition key). Its own tests run against a local kinesalite endpoint
(``tests/kinesis/``) — the same idea here, without boto3: the "stream" is a
directory of per-shard parquet record files with service-assigned monotonic
sequence numbers, so the cursor/resume/checkpoint SEMANTICS (the part the
reference's ~290 LoC implement) are exercised for real while the transport
is a stand-in.

Spark-first rendering:
- the *pusher* routes records to shards by ``pmod(hash(partition_key))``
  (the Kinesis partition-key contract) and appends them with per-shard
  monotonic sequence numbers — one narrow pass + partitioned write, no
  driver loop over records;
- the *consumer* is a micro-batch pull: read the records table, prune to
  ``sequence_number > cursor[shard]`` (partition-pruned scan when the table
  is partitioned by ``shard_id``, pushed-down range filter on the sequence
  column — the S4 cursor-scan shape), process, then ``commit()`` the new
  per-shard high-water marks to the shard-infos JSON. A NEW consumer built
  on the same shard-infos file resumes AFTER the stored sequence numbers —
  the reference's restart contract, proven by
  ``tests/test_kinesis_stream.py``.

At scale the records table is size-bounded by stream retention (Kinesis
keeps 24 h-7 d), the cursor file is O(shards), and every read is a pruned
range scan — no state grows with total throughput.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from . import state
from .ingest import IMAGE_MSG_SCHEMA, normalize_messages

RECORD_SCHEMA = (
    "shard_id string, sequence_number bigint, partition_key string, data string"
)


def _records_dir(stream_dir: str) -> str:
    return os.path.join(stream_dir, "records")


def _meta_path(stream_dir: str) -> str:
    return os.path.join(stream_dir, "stream_meta.json")


@dataclass
class KinesisStreamEmulator:
    """The 'service': a directory holding shard-partitioned record files and
    the per-shard next-sequence-number meta (what Kinesis assigns
    server-side).

    The shard set is DYNAMIC (resharding): ``split_shard`` closes a parent
    and opens two children; ``merge_shards`` closes two parents and opens
    one child — the Kinesis reshard lifecycle (closed shards keep their
    records for draining but receive no new ones). Consumers re-list shards
    every sweep through the records table itself, so a cursorless new shard
    reads from its beginning (the TRIM_HORIZON contract) — mirroring the
    reference's per-sweep ``describe_stream`` re-listing
    (``ingester/kinesis_ingester.py:187-240``)."""

    stream_dir: str
    n_shards: int = 2

    def __post_init__(self) -> None:
        os.makedirs(_records_dir(self.stream_dir), exist_ok=True)
        if not os.path.isfile(_meta_path(self.stream_dir)):
            self._write_meta(
                {
                    "shards": {
                        f"shard-{i:04d}": {"open": True}
                        for i in range(self.n_shards)
                    },
                    "next_seq": {},
                    "next_shard": self.n_shards,
                }
            )
        else:
            self.n_shards = len(self.open_shards())

    def _read_meta(self) -> dict:
        with open(_meta_path(self.stream_dir)) as f:
            meta = json.load(f)
        if "shards" not in meta:
            # migrate pre-reshard meta ({"n_shards": N, "next_seq": ...}):
            # synthesize the shards dict (all open, no lineage) and seat
            # next_shard past them, then persist the upgraded form so the
            # migration runs once per stream dir (ADVICE r5).
            n = int(meta.get("n_shards", self.n_shards))
            meta = {
                "shards": {
                    f"shard-{i:04d}": {"open": True} for i in range(n)
                },
                "next_seq": meta.get("next_seq", {}),
                "next_shard": n,
            }
            self._write_meta(meta)
        return meta

    def _write_meta(self, meta: dict) -> None:
        state.write_json(_meta_path(self.stream_dir), meta)

    # -- resharding (describe_stream twin) -----------------------------------
    def list_shards(self) -> dict[str, dict]:
        """All shards with their open/closed state (describe_stream)."""
        return dict(self._read_meta()["shards"])

    def open_shards(self) -> list[str]:
        return sorted(
            sh for sh, st in self._read_meta()["shards"].items() if st["open"]
        )

    def _next_shard_id(self, meta: dict) -> str:
        sid = f"shard-{int(meta['next_shard']):04d}"
        meta["next_shard"] = int(meta["next_shard"]) + 1
        return sid

    def split_shard(self, shard_id: str) -> tuple[str, str]:
        """Close ``shard_id`` and open two children (Kinesis SplitShard):
        the parent's records stay readable (drained by consumers); new
        records route only to open shards."""
        meta = self._read_meta()
        if not meta["shards"].get(shard_id, {}).get("open"):
            raise ValueError(f"cannot split closed/unknown shard {shard_id!r}")
        meta["shards"][shard_id] = {"open": False}
        children = (self._next_shard_id(meta), self._next_shard_id(meta))
        for ch in children:
            meta["shards"][ch] = {"open": True, "parent": shard_id}
        self._write_meta(meta)
        self.n_shards = len(self.open_shards())
        return children

    def merge_shards(self, shard_a: str, shard_b: str) -> str:
        """Close both parents and open one child (Kinesis MergeShards)."""
        meta = self._read_meta()
        for sh in (shard_a, shard_b):
            if not meta["shards"].get(sh, {}).get("open"):
                raise ValueError(f"cannot merge closed/unknown shard {sh!r}")
            meta["shards"][sh] = {"open": False}
        child = self._next_shard_id(meta)
        meta["shards"][child] = {"open": True, "parents": [shard_a, shard_b]}
        self._write_meta(meta)
        self.n_shards = len(self.open_shards())
        return child

    # -- S10: producer sink -------------------------------------------------
    def put_records(self, df: DataFrame, key_col: str, data_col: str) -> int:
        """Append records routed to shards by partition key (the pusher
        contract, kinesis_pusher.py: sha1 partition key -> shard): shard =
        open_shards[pmod(hash(key), n_open)] — the twin of Kinesis's MD5
        hash-range routing, restricted to OPEN shards so resharding takes
        effect on the very next put; per-shard sequence numbers continue
        from the service meta. Returns the number of records written."""
        meta = self._read_meta()
        open_list = sorted(
            sh for sh, st in meta["shards"].items() if st["open"]
        )
        if not open_list:
            raise ValueError("stream has no open shards")
        base = {sh: int(meta["next_seq"].get(sh, 0)) for sh in open_list}
        route_df = F.broadcast(
            df.sparkSession.createDataFrame(
                list(enumerate(open_list)), "sidx int, shard_id string"
            )
        )
        w = Window.partitionBy("shard_id").orderBy("partition_key", "data")
        out = (
            df.select(
                F.pmod(F.xxhash64(F.col(key_col)), len(open_list))
                .cast("int")
                .alias("sidx"),
                F.col(key_col).cast("string").alias("partition_key"),
                F.col(data_col).cast("string").alias("data"),
            )
            .join(route_df, "sidx")
            .drop("sidx")
            .withColumn("rn", F.row_number().over(w))
        )
        base_df = F.broadcast(
            df.sparkSession.createDataFrame(
                list(base.items()), "shard_id string, base bigint"
            )
        )
        out = (
            out.join(base_df, "shard_id")
            .select(
                "shard_id",
                (F.col("base") + F.col("rn") - 1).alias("sequence_number"),
                "partition_key",
                "data",
            )
        )
        # RESERVE the sequence range before writing records (review r13):
        # a crash between the records write and the meta write previously
        # REUSED sequence numbers on the next put — a consumer whose
        # committed cursor had passed them permanently skipped the new
        # records. Reserving first turns the same crash into a harmless
        # sequence GAP (cursor readers just see nothing at those seqs).
        # The persist also lets the counts job and the write share one
        # computation instead of re-running the route+window lineage.
        out = out.persist()
        try:
            counts = {
                r["shard_id"]: int(r["n"])
                for r in out.groupBy("shard_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            for sh, n in counts.items():
                meta["next_seq"][sh] = base[sh] + n
            self._write_meta(meta)
            out.write.mode("append").partitionBy("shard_id").parquet(
                _records_dir(self.stream_dir)
            )
        finally:
            out.unpersist()
        return sum(counts.values())

    def records(self, spark: SparkSession) -> DataFrame:
        try:
            return spark.read.schema(RECORD_SCHEMA).parquet(
                _records_dir(self.stream_dir)
            )
        except Exception:  # noqa: BLE001 — empty stream: no files yet
            return spark.createDataFrame([], RECORD_SCHEMA)


@dataclass
class KinesisConsumerEmulator:
    """S2 consumer: per-shard sequence-number cursors with the reference's
    persistence/resume contract (shard-infos JSON written after each sweep;
    a restarted consumer resumes AFTER the stored sequence numbers)."""

    stream: KinesisStreamEmulator
    shard_infos_path: str
    shard_infos: dict[str, dict] = field(default_factory=dict)
    sleep_count: int = 0  # empty-poll backoff counter (ST7 twin)

    def __post_init__(self) -> None:
        # reference init_consumer: reload latest processed sqn from disk
        if os.path.isfile(self.shard_infos_path):
            with open(self.shard_infos_path) as f:
                self.shard_infos = json.load(f)

    def read_new(self, spark: SparkSession) -> DataFrame:
        """One sweep: records strictly after each shard's stored cursor
        (AFTER_SEQUENCE_NUMBER semantics — the reference requests AT_ and
        then skips the already-read record, kinesis_ingester.py:306-315;
        net effect is identical). The filter is a pushed-down range
        predicate per shard — the S4 cursor-scan plan."""
        recs = self.stream.records(spark)
        cursors = [
            (sh, int(info["sqn"])) for sh, info in self.shard_infos.items()
        ]
        if not cursors:
            return recs
        cur_df = F.broadcast(
            spark.createDataFrame(cursors, "shard_id string, cursor bigint")
        )
        return (
            recs.join(cur_df, "shard_id", "left")
            .where(F.col("cursor").isNull() | (F.col("sequence_number") > F.col("cursor")))
            .drop("cursor")
        )

    def commit(self, batch: DataFrame) -> None:
        """Advance cursors to the batch's per-shard max sequence number and
        persist shard-infos (the per-sweep json.dump,
        kinesis_ingester.py:344-347). Empty sweep -> backoff counter grows
        (the reference's sleep_count escalation); any progress resets it."""
        maxes = {
            r["shard_id"]: int(r["mx"])
            for r in batch.groupBy("shard_id")
            .agg(F.max("sequence_number").alias("mx"))
            .collect()
        }
        if not maxes:
            self.sleep_count += 1
        else:
            self.sleep_count = 0
        for sh, mx in maxes.items():
            info = self.shard_infos.setdefault(sh, {"nb_read": 0})
            info["sqn"] = mx
            info["nb_read"] = int(info.get("nb_read", 0)) + 1
        state.write_json(self.shard_infos_path, self.shard_infos)


def run_ingest_kinesis(
    spark: SparkSession,
    stream: KinesisStreamEmulator,
    shard_infos_path: str,
    ledger_dir: str,
    extr_type: str = "toy_feat_full_image",
    batch_size: int = 1000,
    date_str: str = "1970-01-01",
) -> int:
    """One S2 ingest sweep end-to-end: Kinesis records -> image-message
    parse (same relation as the Kafka/file sources, so every downstream
    stage is source-agnostic) -> ST4 dedup + J3 claim anti-join -> update
    batches -> ledger append -> cursor commit. Returns rows claimed.

    The reference's kinesis path processes each sweep as it lands
    (``kinesis_ingester.py:316-347``: get_records, process, dump
    shard-infos); the time cut of ST1 is therefore the sweep boundary
    itself — a sweep claims everything it read in ceil(n/batch_size)
    updates, the last one partial with reason "sweep". Crash ANYWHERE
    before ``commit()`` redelivers the sweep (at-least-once transport);
    the claim anti-join then drops every already-claimed sha1, so the
    ledger converges to exactly-once effects (ST2) — the same
    claim-idempotency the stateful streaming path gets from its
    checkpoint, proven by ``tests/test_kinesis_stream.py``.

    Scale shape: the sweep is bounded by Kinesis read limits (10k
    records/GetRecords, 2 MB/s/shard), so the single-partition
    ``row_number`` cut ranks a bounded sweep, not the corpus; the claim
    anti-join broadcasts the sweep side against the big images table; the
    per-(type, date) update seq comes from one small agg over the updates
    ledger, not a driver counter.
    """
    images_dir = os.path.join(ledger_dir, "images")
    updates_dir = os.path.join(ledger_dir, "updates")
    consumer = KinesisConsumerEmulator(stream, shard_infos_path)
    sweep = consumer.read_new(spark)

    msgs = sweep.select(
        F.from_json("data", IMAGE_MSG_SCHEMA).alias("m"), "data"
    ).select(
        "m.sha1",
        "m.s3_url",
        "m.img_info",
        "m.list_sha1s",
        F.when(F.col("m").isNull(), F.col("data"))
        .otherwise(F.lit(None))
        .alias("_corrupt_record"),
    )
    rows = normalize_messages(msgs, prefer_url=True)
    prefix = f"index_update_{extr_type}_{date_str}_"
    seq0 = 0
    if state.has_rows(images_dir):
        claimed = spark.read.parquet(images_dir)
        # Claim check, scale-shaped (review r13): the naive
        # rows.join(claimed, anti) must BUILD the big claimed side
        # (LeftAnti builds right), so at scale every poll sweep shuffled
        # the whole claimed-images corpus. Instead semi-join the big table
        # against the BROADCAST sweep keys (images side streams, never
        # shuffles) to get the tiny already-claimed intersection, then
        # anti-join the sweep against that — both builds are sweep-sized.
        sweep_keys = rows.select("sha1")
        claimed_hit = claimed.select("sha1").join(
            F.broadcast(sweep_keys), "sha1", "left_semi"
        )
        rows = rows.join(F.broadcast(claimed_hit), "sha1", "left_anti")
        # seq0 counts update ids on the CLAIM table — the commit point —
        # not the updates ledger (review r13): deriving it from the ledger
        # meant a crash between the updates append and the claims append
        # re-batched the replayed sweep under NEW ids (seq0 had already
        # counted the orphans) and the ledger permanently held two updates
        # covering the same sha1s. Counted off the claims, a replay
        # regenerates the SAME deterministic ids (same unclaimed rows,
        # same global index, same batch cuts) and the ledger anti-join
        # below skips the rows the crashed attempt already appended.
        seq0 = (
            claimed.where(F.col("update_id").startswith(prefix))
            .select("update_id")
            .distinct()
            .count()
        )

    # dense batch numbers from the distributed two-phase global index (the
    # old Window.orderBy("sha1") row_number funneled the sweep through one
    # partition — bounded here by Kinesis read limits, but this is the
    # idiom that stays safe if the pattern is copied to an unbounded scan)
    from ..functions.rank import ordered_global_index

    cut = (
        ordered_global_index(rows.select("sha1", "s3_url"), "sha1")
        .select(
            "sha1", "s3_url", (F.col("gidx") / batch_size).cast("int").alias("bno")
        )
        .persist()
    )
    try:
        n_claimed = cut.count()
        if n_claimed == 0:
            consumer.commit(sweep)
            return 0
        batches = cut.groupBy("bno").agg(
            F.sort_array(
                F.collect_list(F.struct("sha1", "s3_url"))
            ).alias("items")
        )
        # format_string, not lpad (review r13): Spark's lpad TRUNCATES a
        # string longer than len, so batch 1000 collided with batch 100
        # once a (type, date) accumulated 1000 batches; %03d pads short
        # values and prints wide ones in full.
        uid = F.concat(
            F.lit(prefix),
            F.format_string("%03d", (F.col("bno") + seq0).cast("int")),
        )
        updates = batches.select(
            uid.alias("update_id"),
            F.lit(extr_type).alias("extr_type"),
            F.col("items.sha1").alias("sha1s"),
            F.size("items").alias("batch_size"),
            F.current_timestamp().alias("created"),
        )
        if state.has_rows(updates_dir):
            # crash-replay reconciliation (see seq0 note above): ids this
            # batching regenerates deterministically are skipped if a
            # crashed attempt already appended them — the ledger converges
            # to exactly one row per update_id (ST2)
            existing = (
                spark.read.parquet(updates_dir).select("update_id").distinct()
            )
            updates = updates.join(F.broadcast(existing), "update_id", "left_anti")
        updates.write.mode("append").parquet(updates_dir)
        cut.select(
            "sha1",
            "s3_url",
            uid.alias("update_id"),
        ).write.mode("append").parquet(images_dir)
    finally:
        cut.unpersist()
    consumer.commit(sweep)
    return n_claimed
