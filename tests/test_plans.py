"""Physical-plan regression tests — the 100 TB contract of SURVEY §4.

Each assertion encodes a property that is invisible at test scale but
decides throughput at cluster scale: pushdown, pruning, broadcast join
selection, top-k physicalization, partial aggregation, codegen.
"""

from __future__ import annotations

import pytest

from columbiaimagesearch_spark import cache, registry
from columbiaimagesearch_spark.plans import explain
from columbiaimagesearch_spark.sources import load_table

from conftest import SF_SMOKE

SPECS = registry.all_specs()


@pytest.fixture(autouse=True)
def _fresh_plans():
    """Plan pins assert the PRE-execution physical plan. The registry's
    builder memo returns the same DataFrame object across calls, and once
    any earlier test has executed it, explain() shows the final AQE plan
    (materialized query stages, AQEShuffleRead) whose node inventory
    differs from the initial one. Clearing the memo per test pins the
    plan a fresh build produces — what every first execution runs. Only
    the builder memo: clearing the persisted codes and index relations
    too would change the plans that read them."""
    cache.clear("builder")
    yield


def _q(spark, name):
    return SPECS[name].builder(spark, SF_SMOKE)


def test_range_scan_pushdown_and_pruning(spark):
    from columbiaimagesearch_spark.operators.relational import s3_range_scan

    df = s3_range_scan(spark, SF_SMOKE)
    explain.assert_pushed_filter(df, "o_orderkey")
    table_cols = set(load_table(spark, SF_SMOKE, "orders").columns)
    explain.assert_read_schema_only(
        df, table_cols, {"o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"}
    )
    explain.assert_whole_stage_codegen(df)


def test_q1_partial_agg_and_pushdown(spark):
    df = _q(spark, "q1_pricing_summary")
    explain.assert_pushed_filter(df, "l_shipdate")
    explain.assert_partial_aggregation(df)
    explain.assert_whole_stage_codegen(df)
    table_cols = set(load_table(spark, SF_SMOKE, "lineitem").columns)
    explain.assert_read_schema_only(
        df,
        table_cols,
        {
            "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax", "l_shipdate",
        },
    )


def test_multiget_broadcasts(spark):
    from columbiaimagesearch_spark.operators.relational import s5_multiget

    explain.assert_broadcast_join(s5_multiget(spark, SF_SMOKE))


def test_keys_join_broadcasts(spark):
    df = _q(spark, "j1_keys_to_rows")
    explain.assert_broadcast_join(df)
    # the BUILD side must be the hinted keys dim (review r13: a broadcast
    # hint on the left of a LeftOuter is unusable — the tiny test fact
    # side auto-broadcast and masked it; the RightOuter+BuildLeft shape is
    # the one that survives a 100 TB orders side)
    plan = explain.formatted_plan(df)
    assert "BuildLeft" in plan and "RightOuter" in plan, plan


def test_cell_semi_join_broadcasts(spark):
    explain.assert_broadcast_join(_q(spark, "j6_cell_semi_join"))


def test_anti_join_no_cartesian(spark):
    df = _q(spark, "j3_anti_join_dedup")
    explain.assert_no_cartesian(df)
    plan = explain.formatted_plan(df)
    assert "LeftAnti" in plan, plan


def test_global_topk_uses_take_ordered(spark):
    explain.assert_top_k_plan(_q(spark, "t1_distance_topk"))


def test_cursor_scan_topk_take_ordered(spark):
    # orderBy + limit after filter: must not be a global sort
    explain.assert_top_k_plan(_q(spark, "s4_cursor_scan"))


def test_histogram_partial_agg(spark):
    df = _q(spark, "a2_cell_histogram")
    explain.assert_partial_aggregation(df)


def test_lopq_probe_broadcasts(spark):
    # the codes-table probe must broadcast the (qid, cell) list
    explain.assert_broadcast_join(_q(spark, "lopq_search_topk"))


def test_ivf_probe_broadcasts(spark):
    explain.assert_broadcast_join(_q(spark, "ann_ivf_topk"))


def test_minhash_no_cartesian(spark):
    explain.assert_no_cartesian(_q(spark, "dedup_minhash_lsh_pairs"))


def test_q3_topk_and_pushdown(spark):
    df = _q(spark, "q3_shipping_priority")
    explain.assert_top_k_plan(df)
    explain.assert_pushed_filter(df, "c_mktsegment")
    explain.assert_pushed_filter(df, "l_shipdate")


def test_q5_star_join_broadcasts_dims(spark):
    plan = explain.formatted_plan(_q(spark, "q5_local_supplier_volume"))
    # supplier⋈nation⋈region collapse into broadcast builds; no dim shuffle
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_salted_agg_two_phase(spark):
    df = _q(spark, "a_salted_hot_key_agg")
    explain.assert_partial_aggregation(df)


def test_merge_upsert_broadcasts_source_keys(spark):
    plan = explain.formatted_plan(_q(spark, "s6_merge_upsert"))
    # MERGE's matched-row elimination must be a broadcast anti-join of the
    # small source-key set — at 100 TB the bucketed target must not shuffle
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_quality_gate_is_map_only_codegen(spark):
    """The curate quality floor's verdict form (r13): pure codegen'd
    string expressions over the scan — zero shuffles, zero joins, no
    Python (MapInPandas) anywhere. The gate is the stage's whole cost at
    100 TB, so any exchange or Arrow boundary appearing here is a
    regression of its map-only contract."""
    from columbiaimagesearch_spark.operators.textstats import quality_verdicts_from
    from columbiaimagesearch_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    plan = explain.formatted_plan(quality_verdicts_from(docs))
    assert explain.data_shuffles(plan) == 0, plan
    assert "Join" not in plan, plan
    assert "MapInPandas" not in plan, plan
    # formatted mode marks codegen'd nodes with "[codegen id : N]"
    assert "codegen id" in plan, plan


def test_simhash_is_map_only(spark):
    plan = explain.formatted_plan(_q(spark, "dedup_simhash"))
    # a simhash is a per-doc property: the votes must compute inside one
    # Arrow batch pipelined out of the scan — any keyed Exchange means
    # per-token hashes are being shuffled (the pre-r4 explode + 60-SUM
    # groupBy form). The scan-spreading round-robin repartition on the
    # single-split fixture source is the one allowed exchange: it carries
    # each doc row exactly once, pre-expansion.
    assert explain.data_shuffles(plan) == 0, plan
    assert "BroadcastExchange" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_range_join_is_hash_not_nested_loop(spark):
    plan = explain.formatted_plan(_q(spark, "j_range_tier_assign"))
    # the bin-key rewrite must give Catalyst an equi-join key: a plain
    # non-equi range predicate would plan BroadcastNestedLoopJoin (every
    # row probes every range)
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_boilerplate_single_exchange(spark):
    plan = explain.formatted_plan(_q(spark, "text_boilerplate_ngrams"))
    # per-doc DISTINCT lives inside the gram array (array_distinct before
    # the explode), so the ONLY keyed exchange is the final groupBy(gram) —
    # a second one means a dropDuplicates or window crept back in (the
    # scan-spreading round-robin repartition is excluded by data_shuffles)
    assert explain.data_shuffles(plan) == 1, plan


def test_ngram_novelty_two_exchanges_no_cartesian(spark):
    plan = explain.formatted_plan(_q(spark, "text_ngram_novelty"))
    # the gram relation must shuffle exactly ONCE (window min over the
    # 60-bit hash — grams of a hash co-locate); the per-doc agg +
    # completeness join add the doc_id exchange. A third keyed exchange
    # means the gram relation is being joined back on itself (the
    # two-pass agg+join shape this operator deliberately avoids — it
    # would re-run the corpus gram-hash scan).
    assert explain.data_shuffles(plan) == 2, plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan


def test_split_leakage_broadcast_agg_no_text_shuffle(spark):
    plan = explain.formatted_plan(_q(spark, "llm_split_leakage"))
    # the docstring contract (hygiene.split_leakage_from): split labels
    # join onto the PAIR-sized relation (never pairs onto a corpus-wide
    # shuffle of text), and the per-doc leak aggregate BROADCASTS onto the
    # heldout completeness join. Pin both: (a) the left joins that stitch
    # the agg back are BroadcastHashJoins — a SortMergeJoin LeftOuter
    # here means the corpus-sized heldout side started shuffling for a
    # pair-sized build; (b) no keyed exchange carries the text column —
    # text must die at the gram-hash scan (only the benign pre-expansion
    # round-robin spread may move it, and keyed_exchange_blocks already
    # excludes that one).
    assert "BroadcastHashJoin LeftOuter" in plan, plan
    assert "SortMergeJoin LeftOuter" not in plan, plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan
    carried = [b for b in explain.keyed_exchange_blocks(plan) if "text#" in b]
    assert not carried, f"text crosses a data shuffle:\n{carried}\n{plan}"


def test_cluster_stats_single_agg_no_text_shuffle(spark):
    plan = explain.formatted_plan(_q(spark, "dedup_cluster_stats"))
    # the docstring contract (dedup.dedup_cluster_stats): int-only label
    # propagation (checkpoint-pinned, so it contributes no lineage here)
    # + ONE partial/final hash aggregation on component; text is touched
    # by exactly one length() scan and never shuffles. A second keyed
    # exchange means the label join stopped broadcasting; any text-bearing
    # exchange means the length() projection slid above a shuffle.
    assert explain.data_shuffles(plan) == 1, plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    carried = [b for b in explain.keyed_exchange_blocks(plan) if "text#" in b]
    assert not carried, f"text crosses a data shuffle:\n{carried}\n{plan}"


def test_embedding_decontaminate_is_map_only(spark):
    plan = explain.formatted_plan(_q(spark, "llm_embedding_decontaminate"))
    # the docstring contract (hygiene.embedding_decontaminate_from): the
    # bench side is a PYTHON broadcast probe dict, so no join relation may
    # enter the plan at all, and the 100 TB corpus side runs one map-only
    # Arrow pass — any Join node means the bench side became a plan
    # relation (and with it a corpus-side shuffle risk); any keyed
    # exchange means the probe stopped being map-side.
    assert explain.data_shuffles(plan) == 0, plan
    assert "Join" not in plan, plan
    assert "MapInArrow" in plan, plan


def test_repetition_stats_is_map_only(spark):
    plan = explain.formatted_plan(_q(spark, "text_repetition_stats"))
    # repetition is a per-doc property: the stats must pipeline out of the
    # scan as one Arrow pass — any keyed Exchange here means tokens are
    # being shuffled to recompute per-doc counters (the pre-r4
    # posexplode+window form shuffled every token of the corpus twice);
    # only the pre-expansion scan-spreading round-robin is allowed
    assert explain.data_shuffles(plan) == 0, plan
    assert "BroadcastExchange" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_q18_aggregates_before_semi_join(spark):
    df = _q(spark, "q18_large_volume_customer")
    plan = explain.formatted_plan(df)
    # heavy-key set must be aggregated then broadcast as a semi-join build;
    # the big lineitem side never shuffles for the qualification step
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan, plan
    explain.assert_top_k_plan(df)
    explain.assert_partial_aggregation(df)


def test_t4_window_group_limit_pushdown(spark):
    """Per-group top-k must carry WindowGroupLimit on BOTH sides of the
    exchange: the map-side partial cuts each partition to k rows per group
    BEFORE the shuffle, so the exchange moves O(groups x k), not the whole
    fact table (the property that keeps the rerank re-sort flat at 100 TB;
    confirmed optimal while investigating the r2 bench wobble)."""
    df = _q(spark, "t4_per_group_topk")
    plan = explain.formatted_plan(df)
    n_wgl = plan.count("WindowGroupLimit")
    assert n_wgl >= 2, f"expected partial+final WindowGroupLimit, got {n_wgl}:\n{plan}"


def test_f8_dynamic_cells_is_narrow(spark):
    plan = explain.formatted_plan(_q(spark, "f8_dynamic_cells"))
    # map build + map_filter + explode are per-row transforms: the whole
    # query must be scan -> project/generate with NO shuffle and no Python
    assert "Exchange" not in plan, plan
    assert "Generate" in plan and "map_filter" in plan.lower(), plan
    for pythonic in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert pythonic not in plan, plan


def test_kinesis_cursor_scan_prunes(spark, tmp_path):
    """The consumer sweep must reach the records scan as a pushed-down
    per-shard range predicate (the S4 cursor-scan shape) — at scale this is
    row-group pruning over the retention window, not a full-table read."""
    import json

    from pyspark.sql import functions as F
    from columbiaimagesearch_spark.streaming.kinesis import (
        KinesisConsumerEmulator,
        KinesisStreamEmulator,
    )

    stream = KinesisStreamEmulator(str(tmp_path / "s"), n_shards=2)
    msgs = spark.range(0, 200).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        F.col("id").cast("string").alias("data"),
    )
    stream.put_records(msgs, "key", "data")
    infos = str(tmp_path / "si.json")
    c = KinesisConsumerEmulator(stream, infos)
    c.commit(c.read_new(spark))  # advance cursors to the high-water marks

    c2 = KinesisConsumerEmulator(stream, infos)
    sweep = c2.read_new(spark)
    plan = explain.formatted_plan(sweep)
    # broadcast the O(shards) cursor table; never shuffle the records table
    assert "BroadcastHashJoin" in plan, plan
    assert sweep.count() == 0  # everything below the committed cursors


def test_jaccard_block_pairs_no_nested_loop(spark):
    """The exact-Jaccard block-pair matmul (r5): pairwise work lives inside
    Arrow tasks, so the plan must contain the block-replication broadcast
    and the applyInPandas stage — and NEVER the per-pair broadcast
    nested-loop join (the 452 s-at-sf0.1 form this replaced)."""
    # block-count derivation: bounded per-task size, loud guard past the
    # exact rung's ceiling (the scale path is dedup_minhash_lsh_pairs)
    import pytest

    from columbiaimagesearch_spark.operators.dedup import (
        JACCARD_TARGET_BLOCK_DOCS,
        derive_jaccard_blocks,
    )

    assert derive_jaccard_blocks(100) == 1
    assert derive_jaccard_blocks(5_000) == -(-5_000 // JACCARD_TARGET_BLOCK_DOCS)
    assert derive_jaccard_blocks(50_000) > derive_jaccard_blocks(5_000)
    with pytest.raises(ValueError, match="dedup_minhash_lsh_pairs"):
        derive_jaccard_blocks(200_000)

    plan = explain.formatted_plan(_q(spark, "dedup_ngram_jaccard_pairs"))
    # pairwise scoring lives in the Arrow task, never in an expression
    # evaluated per (i, j): the old form's array_intersect must be gone
    assert "array_intersect" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    # one keyed shuffle: the groupBy (ba, bb) that forms the block-pair
    # tasks (the scan-spreading round-robin repartition on the single-split
    # fixture source is excluded by data_shuffles)
    assert explain.data_shuffles(plan) == 1, plan
    # the ONLY nested-loop allowed is the B-row replication broadcast
    # (crossJoin against Range(0, B) with B derived from the doc count) —
    # a doc-vs-doc nested-loop would mean the quadratic join crept back
    assert plan.count("+- BroadcastNestedLoopJoin") <= 1, plan
    if "BroadcastNestedLoopJoin" in plan:
        from columbiaimagesearch_spark.operators.dedup import (
            derive_jaccard_blocks,
        )
        from columbiaimagesearch_spark.sources import load_table

        b = derive_jaccard_blocks(
            load_table(spark, SF_SMOKE, "documents").count()
        )
        assert f"Range (0, {b}" in plan, plan


def test_parallelize_scan_spreads_single_split_only(spark):
    """parallelize_scan (sources/tables.py) must spread a single-split
    scan to defaultParallelism — and be an IDENTITY on any relation whose
    parallelism already meets it (the production-scale case: no shuffle
    may ever be added there)."""
    from columbiaimagesearch_spark.sources import load_table, parallelize_scan

    target = spark.sparkContext.defaultParallelism

    docs = load_table(spark, SF_SMOKE, "documents")
    assert docs.rdd.getNumPartitions() < target  # fixture premise
    spread = parallelize_scan(docs)
    assert spread.rdd.getNumPartitions() == target
    # row-multiset preserved
    assert spread.count() == docs.count()

    wide = docs.repartition(target)
    assert parallelize_scan(wide) is wide  # identity: no added exchange

    # load_table(spread=True) memoizes the split-count probe per path —
    # the probe itself costs a full analyze+plan pass (~90 ms), more than
    # the shuffle it gates for sub-second queries
    import os

    spread2 = load_table(spark, SF_SMOKE, "documents", spread=True)
    assert spread2.rdd.getNumPartitions() == target
    roots = (os.path.realpath(f"{SF_SMOKE}/documents.parquet"),)
    memo = cache.entries("spread")
    hits = [k for k in memo if k[0] == roots and k[1][-1] == target]
    assert hits and memo[hits[0]] is True

    # events' ts-normalization branch must honor spread too (it returned
    # early before the spread handling once)
    ev = load_table(spark, SF_SMOKE, "events", spread=True)
    assert ev.rdd.getNumPartitions() == target
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_llm_embedding_dedup_labeling_is_broadcast_only(spark):
    plan = explain.formatted_plan(_q(spark, "llm_embedding_dedup"))
    # the docstring contract (similarity.llm_embedding_dedup): after the
    # bounded pairs job, attaching (component, kept) labels to the corpus
    # is a BROADCAST hash join of the tiny in-edge label relation onto the
    # vector ids — zero data shuffles in the returned plan (the one keyed
    # exchange of the stage lives inside the already-materialized pairs
    # job), no sort-merge, no cartesian, and vectors/text never enter the
    # output plan (ids and labels only).
    assert explain.data_shuffles(plan) == 0, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan
    carried = [b for b in explain.keyed_exchange_blocks(plan) if "v#" in b]
    assert not carried, f"vectors cross a data shuffle:\n{carried}\n{plan}"


def test_emb_lsh_pairs_single_keyed_exchange(spark):
    plan = explain.formatted_plan(_q(spark, "emb_lsh_near_dup_pairs"))
    # band -> verify is ONE hash exchange on the (band, grp) grouping key
    # carrying the replicated vectors, plus (r17) ONE output-sized
    # exchange for the cross-band pair dropDuplicates — (bigint, bigint,
    # double) rows, partial-aggregated map-side, replacing the min-band
    # per-row key payload (8·bands bytes/replica) the big exchange used
    # to carry. A THIRD keyed exchange means a join/window crept into the
    # pair path. The vector-bearing exchange must be exactly one.
    assert explain.data_shuffles(plan) == 2, plan
    vec_bearing = [b for b in explain.keyed_exchange_blocks(plan) if "v#" in b]
    assert len(vec_bearing) == 1, plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan
    assert plan.count("FlatMapGroupsInArrow") >= 1, plan


def test_emb_lsh_banded_exchange_sizing_keeps_one_shuffle(spark, monkeypatch):
    """r16 banded-exchange sizing: when the corpus is big enough that the
    operator widens the shuffle (repartition on the group key), the plan
    must STILL hold exactly one VECTOR-BEARING keyed exchange — the
    repartition replaces the default-width exchange (its HashPartitioning
    satisfies the groupBy's ClusteredDistribution), it must never stack a
    second one — and the exchange must carry the computed width, not the
    session default. (The r17 pair-dedup exchange is the second keyed
    exchange, int-pair rows only.) The pair set, cosines included, is
    partitioning-invariant."""
    from pyspark.sql import functions as F

    from columbiaimagesearch_spark.operators import similarity as sim
    from columbiaimagesearch_spark.sources import load_table

    from conftest import SF_SMOKE

    vecs = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = vecs.count()
    floor_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # force the sizing to engage at fixture scale
    monkeypatch.setattr(sim, "LSH_BANDED_ROWS_PER_TASK", 16)
    sized = sim.emb_lsh_pairs_from(
        vecs, bands=4, bits=8, n_rows=n, max_bucket=None
    )
    plan = explain.formatted_plan(sized)
    assert explain.data_shuffles(plan) == 2, plan
    assert len([b for b in explain.keyed_exchange_blocks(plan) if "v#" in b]) == 1, plan
    want_p = -(-n * 4 // 16)
    assert want_p > floor_p  # the experiment is live, not vacuous
    assert "hashpartitioning" in plan.lower(), plan
    assert str(want_p) in plan, (want_p, plan)
    monkeypatch.undo()
    baseline = sim.emb_lsh_pairs_from(vecs, bands=4, bits=8, max_bucket=None)
    got = {(r["vec_a"], r["vec_b"], r["cos_sim"]) for r in sized.collect()}
    want = {(r["vec_a"], r["vec_b"], r["cos_sim"]) for r in baseline.collect()}
    assert got == want and got


def test_banded_exchange_sizing_byte_scales_and_caps():
    """r17 (VERDICT r16 #6): the banded-exchange width is byte-aware and
    capped. The rows-per-task constant was measured at d=64 (~45 MB/task);
    at wider d the same row count is proportionally more bytes, so the row
    target shrinks to hold task BYTES — and the width never exceeds
    LSH_BANDED_MAX_PARTITIONS (driver task-metadata bound, guide §5)."""
    from columbiaimagesearch_spark.operators import similarity as sim

    ref = -(-1_000_000 * 19 // sim.LSH_BANDED_ROWS_PER_TASK)
    assert sim.banded_exchange_partitions(1_000_000, 19) == ref
    # at/below the reference width, sizing is unchanged
    assert sim.banded_exchange_partitions(1_000_000, 19, dim=64) == ref
    assert sim.banded_exchange_partitions(1_000_000, 19, dim=16) == ref
    # wide vectors: same task bytes -> proportionally fewer rows per task
    rows_wide = max(
        sim.LSH_BANDED_ROWS_PER_TASK // 64,
        sim.LSH_BANDED_ROWS_PER_TASK * sim.LSH_BANDED_REF_DIM // 4096,
    )
    wide = sim.banded_exchange_partitions(1_000_000, 19, dim=4096)
    assert wide == -(-1_000_000 * 19 // rows_wide) > ref
    # cap: 10^9 rows x 19 bands would want ~290k reduce tasks uncapped
    assert sim.banded_exchange_partitions(10**9, 19) == sim.LSH_BANDED_MAX_PARTITIONS
    assert (
        sim.banded_exchange_partitions(10**9, 19, dim=4096)
        == sim.LSH_BANDED_MAX_PARTITIONS
    )


def test_emb_lsh_banded_exchange_width_honors_dim(spark, monkeypatch):
    """The wide-d plan case (VERDICT r16 #6 'test covers a wide-d case'):
    an explicit ``dim`` above the d=64 reference shrinks rows-per-task, so
    the SAME corpus gets a proportionally wider (still single) keyed
    exchange at the byte-scaled width."""
    from pyspark.sql import functions as F

    from columbiaimagesearch_spark.operators import similarity as sim
    from columbiaimagesearch_spark.sources import load_table

    from conftest import SF_SMOKE

    vecs = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = vecs.count()
    monkeypatch.setattr(sim, "LSH_BANDED_ROWS_PER_TASK", 128)
    sized = sim.emb_lsh_pairs_from(
        vecs, bands=4, bits=8, n_rows=n,
        dim=8 * sim.LSH_BANDED_REF_DIM, max_bucket=None,
    )
    plan = explain.formatted_plan(sized)
    # 128 rows/task at the d=64 reference -> 16 at 8x the width
    want_p = -(-n * 4 // 16)
    assert want_p > int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert explain.data_shuffles(plan) == 2, plan  # banded + pair-dedup (r17)
    assert str(want_p) in plan, (want_p, plan)


def test_hypertable_rollup_one_expand_one_shuffle(spark):
    plan = explain.formatted_plan(_q(spark, "x_hypertable_rollup"))
    # the continuous-aggregate contract (relational.x_hypertable_rollup):
    # all three resolutions (1m/1h/1d) materialize from ONE pass — a single
    # Expand emits one row per (input row, grouping set) and one
    # partial+final aggregation reduces them, so the whole rollup costs
    # one shuffle. A second keyed exchange (or a missing Expand) means the
    # GROUPING SETS degenerated into per-resolution scans/unions — three
    # corpus reads instead of one at 100 TB. (Each node appears twice in a
    # formatted plan: once in the tree, once as its detail block.)
    assert plan.count("Expand") == 2, plan
    assert explain.data_shuffles(plan) == 1, plan
    assert plan.count("HashAggregate") >= 2, plan
