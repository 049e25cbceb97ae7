"""The LLM-corpus curation loop on this engine, end-to-end via the
``curate.curate_docs`` composition:

near-dup dedup (MinHash-LSH pairs -> connected components -> keep one doc
per cluster) -> benchmark decontamination -> repetition filter -> domain
mixture sampling -> train/val/test split -> sequence packing. Mirrors how
a training-data pipeline composes the SURVEY §7.0 operator families,
which no single-operator test exercises as one chain — and pins that the
whole chain is DETERMINISTIC (content-keyed, never partition- or
order-dependent)."""

from __future__ import annotations

from pyspark.sql import functions as F

from columbiaimagesearch_spark import curate
from columbiaimagesearch_spark.operators import hygiene, packing

from conftest import SF_SMOKE


def _curate(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    bench = docs.where(F.col("doc_id") % hygiene.BENCH_MOD == 0)
    train = docs.where(F.col("doc_id") % hygiene.BENCH_MOD != 0)
    return curate.curate_docs(train, bench)


def test_curation_chain_composes_and_is_deterministic(spark):
    res = _curate(spark)
    counts = res.counts()

    # every stage is a filter: monotone non-increasing survivor counts
    order = [
        "input",
        "after_dedup",
        "after_decontam",
        "after_repetition",
        "after_mix_split",
    ]
    vals = [counts[k] for k in order]
    assert all(a >= b for a, b in zip(vals, vals[1:])), counts
    assert counts["after_mix_split"] > 0, counts
    assert res.packed.count() == counts["after_mix_split"]

    # packing respects the token budget for multi-doc bins
    bins = res.packed.groupBy("shard", "bin").agg(
        F.sum("n_tokens").alias("fill"), F.count("*").alias("n_docs")
    )
    over = bins.where(
        (F.col("fill") > packing.PACK_BUDGET) & (F.col("n_docs") > 1)
    ).count()
    assert over == 0

    # determinism: a second full run reproduces the exact survivor set
    res2 = _curate(spark)
    assert res2.counts() == counts
    a, b = res.survivors.select("doc_id"), res2.survivors.select("doc_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_curation_without_benchmark_skips_decontam(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    res = curate.curate_docs(docs, None, train_split_only=False)
    c = res.counts()
    assert c["after_decontam"] == c["after_dedup"]
    assert c["after_mix_split"] > 0


def test_training_shards_write_sorted_and_complete(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    res = curate.curate_docs(docs, None, train_split_only=False)
    out = str(tmp_path / "shards")
    curate.write_training_shards(res, docs, out)

    back = spark.read.parquet(out)
    assert back.count() == res.packed.count()
    assert set(back.columns) == {"doc_id", "text", "bin", "n_tokens", "shard"}
    # within every file, rows are (bin, doc_id)-sorted — a reader streams
    # packed sequences in order without a shuffle
    import pandas as pd
    import pyarrow.parquet as pq
    from pathlib import Path

    files = list(Path(out).glob("shard=*/*.parquet"))
    assert files
    for f in files:
        pdf = pq.read_table(f).to_pandas()
        assert (
            pdf[["bin", "doc_id"]]
            .reset_index(drop=True)
            .equals(
                pdf[["bin", "doc_id"]]
                .sort_values(["bin", "doc_id"])
                .reset_index(drop=True)
            )
        ), f


def test_curation_with_pii_scrub(spark):
    """scrub_pii=True redacts as stage 0 and the chain still composes; the
    packed output token counts reflect the SCRUBBED text."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" reach me: someone@example.com")
        ).alias("text"),
        "lang",
        "source",
    )
    res = curate.curate_docs(docs, None, train_split_only=False, scrub_pii=True)
    c = res.counts()
    assert c["after_pii_scrub"] == c["input"]  # scrub never drops rows
    assert c["after_mix_split"] > 0
    leaked = res.survivors.where(F.col("text").contains("example.com")).count()
    assert leaked == 0
    assert res.survivors.where(F.col("text").contains("<EMAIL>")).count() > 0


def test_curation_scrub_plus_quality_fused_path(spark):
    """r17: with scrub_pii AND quality_filter on, the gate verdict is
    computed INSIDE the scrub checkpoint job (one full-text pass serves
    both stages) — the drop set must still equal the standalone verdict
    form over the SCRUBBED text, the helper column must not leak into any
    stage, and the per-stage schemas stay what the unfused chain emitted."""
    from pyspark.sql import Row

    from columbiaimagesearch_spark.operators import hygiene, textstats

    base = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    ).limit(30)
    planted = spark.createDataFrame(
        [
            Row(doc_id=940_000, text="too short", lang="en", source="web"),
            Row(doc_id=940_001, text=None, lang="en", source="web"),
            # passes only BECAUSE the scrub runs first: the raw text is
            # digit-heavy (alpha ratio fails) but the scrubbed text
            # replaces the contact spans with alpha placeholder tokens —
            # pinning that the fused gate scores post-scrub text
            Row(
                doc_id=940_002,
                text=("reach me at 10.0.0.1 or 10.0.0.2 or 10.0.0.3 or "
                      "10.0.0.4 or 10.0.0.5 or 10.0.0.6 ok"),
                lang="en", source="web",
            ),
        ],
        schema="doc_id BIGINT, text STRING, lang STRING, source STRING",
    )
    docs = base.unionByName(planted)
    res = curate.curate_docs(
        docs, None, train_split_only=False, scrub_pii=True, quality_filter=True
    )
    for name, df in res.stages.items():
        assert "_passes_quality" not in df.columns, name
    assert res.stages["after_pii_scrub"].columns == ["doc_id", "lang", "source", "text"]
    # drop set == standalone verdict over the scrubbed text (NULL -> drop)
    scrubbed = hygiene.scrub_pii_from(docs).select(
        "doc_id", F.col("scrubbed").alias("text")
    )
    want_drop = {
        r["doc_id"]
        for r in textstats.quality_verdicts_from(scrubbed)
        .where(~F.coalesce(F.col("passes_filter"), F.lit(False)))
        .collect()
    }
    after = {r["doc_id"] for r in res.stages["after_quality_filter"].collect()}
    input_ids = {r["doc_id"] for r in docs.collect()}
    assert input_ids - after == want_drop
    assert {940_000, 940_001}.isdisjoint(after)
    assert 940_002 in after  # post-scrub alpha ratio passes
    # and the raw-text verdict would have dropped it (the order matters)
    raw_drop = {
        r["doc_id"]
        for r in textstats.quality_verdicts_from(docs.select("doc_id", "text"))
        .where(~F.coalesce(F.col("passes_filter"), F.lit(False)))
        .collect()
    }
    assert 940_002 in raw_drop


def test_curation_with_substring_filter(spark):
    """drop_substring_dups=True removes high-duplicated-span docs that
    survive cluster-level near-dup removal; the stage set stays
    deterministic and the survivor set is the complement of the flagged
    ids computed standalone on the post-dedup relation."""
    from columbiaimagesearch_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    res = curate.curate_docs(
        docs, None, train_split_only=False, drop_substring_dups=True
    )
    c = res.counts()
    assert "after_substring_dedup" in c
    assert c["after_substring_dedup"] <= c["after_dedup"]
    # complement check against a standalone run on the same input relation
    after_dedup = res.stages["after_dedup"]
    flagged = set(
        r["doc_id"]
        for r in dedup.substring_spans_from(after_dedup.select("doc_id", "text"))
        .where(F.col("flagged"))
        .select("doc_id")
        .collect()
    )
    kept = set(
        r["doc_id"]
        for r in res.stages["after_substring_dedup"].select("doc_id").collect()
    )
    dedup_ids = set(r["doc_id"] for r in after_dedup.select("doc_id").collect())
    assert kept == dedup_ids - flagged


def test_minhash_refuses_exact_duplicate_flood(spark):
    """An exact-duplicate flood shares EVERY band key, so one bucket goes
    quadratic in the candidate self-join no matter the banding — with
    max_bucket set (as the curation chain does) the library form refuses
    loudly, naming the linear exact-hash rung; default None keeps the
    registered lazy plan unchanged and still finds the pairs."""
    import pytest
    from pyspark.sql import Row

    from columbiaimagesearch_spark.operators.dedup import near_dup_pairs_from

    flood = spark.createDataFrame(
        [Row(doc_id=i, text="the same document body repeated verbatim "
                            "across the whole corpus partition")
         for i in range(50)]
        + [Row(doc_id=100 + i, text=f"unique filler document number {i} "
                                    f"with its own words {i * 7}")
           for i in range(20)]
    )
    with pytest.raises(RuntimeError, match="dedup_exact_groups"):
        near_dup_pairs_from(flood, max_bucket=20)

    # guard off: the flood is still correct (all 50x49/2 identical pairs)
    pairs = near_dup_pairs_from(flood).where("jaccard = 1.0").count()
    assert pairs >= 50 * 49 // 2


def test_curation_failure_cancels_overlapped_verdict_pins(spark, monkeypatch):
    """A stage that fails while an overlapped verdict pin is still running
    cancels the pin's tagged job instead of waiting for it to finish: the
    repetition pin here sleeps two minutes per row, stage 1 raises once
    that job runs, and the call must re-raise within seconds with the
    tagged job ended."""
    import time

    import pytest
    from pyspark import SparkContext
    from pyspark.sql import Row
    from pyspark.sql.types import BooleanType

    from columbiaimagesearch_spark.operators import dedup

    sc = spark.sparkContext
    jvm_tracker = sc._jsc.sc().statusTracker()
    tags: list[str] = []
    real_add = SparkContext.addJobTag

    def add_tag(self, tag):
        tags.append(tag)
        real_add(self, tag)

    @F.udf(BooleanType())
    def sleepy(doc_id):
        time.sleep(120)
        return False

    def tagged_jobs():
        return [int(j) for t in set(tags) for j in jvm_tracker.getJobIdsForTag(t)]

    raised_at = []

    def failing_pairs(*args, **kwargs):
        deadline = time.monotonic() + 60
        while not any(
            sc.statusTracker().getJobInfo(j).status == "RUNNING"
            for j in tagged_jobs()
        ):
            assert time.monotonic() < deadline, "verdict pin never started"
            time.sleep(0.05)
        raised_at.append(time.monotonic())
        raise RuntimeError("stage 1 failed")

    monkeypatch.setattr(SparkContext, "addJobTag", add_tag)
    monkeypatch.setattr(
        hygiene,
        "repetition_stats_from",
        lambda d: d.select("doc_id", sleepy("doc_id").alias("repetitive")),
    )
    monkeypatch.setattr(dedup, "near_dup_pairs_from", failing_pairs)
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"document {i} body", lang="en", source="web")
         for i in range(4)]
    )
    with pytest.raises(RuntimeError, match="stage 1 failed"):
        curate.curate_docs(docs, None, train_split_only=False)
    assert time.monotonic() - raised_at[0] < 10
    jobs = tagged_jobs()
    assert jobs and len(set(tags)) == 1
    deadline = time.monotonic() + 10
    while any(sc.statusTracker().getJobInfo(j).status == "RUNNING" for j in jobs):
        assert time.monotonic() < deadline, "tagged verdict job still running"
        time.sleep(0.05)
    assert {sc.statusTracker().getJobInfo(j).status for j in jobs} == {"FAILED"}
    assert not sc.getJobTags()


def test_curation_with_fuzzy_decontam_drops_paraphrase(spark):
    """fuzzy_decontaminate=True adds the near-duplicate decontamination
    rung (reusing stage 1's shingle-hash cache): a train doc that edits
    every 8th token of a bench doc shares NO exact 8-gram (the exact stage
    keeps it) but must be dropped by the fuzzy stage; an unrelated doc
    survives both. The planted paraphrase uses unique tokens so the
    near-dup dedup stage cannot claim it first."""
    from pyspark.sql import Row

    base = [f"uq{i}x" for i in range(32)]
    edited = list(base)
    for p in (3, 11, 19, 27):  # max clean run 7 < 8 -> zero shared 8-grams
        edited[p] = f"ed{p}z"
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    paraphrase_id = 900_001
    planted = spark.createDataFrame(
        [
            Row(
                doc_id=paraphrase_id,
                text=" ".join(edited),
                lang="en",
                source="web",
            )
        ]
    )
    train = docs.unionByName(planted)
    bench = spark.createDataFrame(
        [Row(doc_id=1_000_001, text=" ".join(base))]
    ).select("doc_id", "text")

    exact_only = curate.curate_docs(train, bench, train_split_only=False)
    fuzzy = curate.curate_docs(
        train, bench, train_split_only=False, fuzzy_decontaminate=True
    )
    c = fuzzy.counts()
    assert "after_fuzzy_decontam" in c
    assert c["after_fuzzy_decontam"] <= c["after_decontam"]

    def survives(res):
        return (
            res.stages[
                "after_fuzzy_decontam"
                if "after_fuzzy_decontam" in res.stages
                else "after_decontam"
            ]
            .where(F.col("doc_id") == paraphrase_id)
            .count()
        )

    assert survives(exact_only) == 1  # exact 8-gram stage is blind to it
    assert survives(fuzzy) == 0  # the fuzzy rung catches it

    # the fuzzy chain stays deterministic (content-keyed verdicts)
    fuzzy2 = curate.curate_docs(
        train, bench, train_split_only=False, fuzzy_decontaminate=True
    )
    assert fuzzy2.counts() == c


def test_curate_opt_in_flags_without_bench_raise(spark):
    """ADVICE r9: fuzzy_decontaminate=True (or contamination_report=True)
    with no bench_docs silently no-opped an explicit opt-in — it must
    raise instead."""
    import pytest

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    with pytest.raises(ValueError, match="fuzzy_decontaminate"):
        curate.curate_docs(docs, None, fuzzy_decontaminate=True)
    with pytest.raises(ValueError, match="contamination_report"):
        curate.curate_docs(docs, None, contamination_report=True)


def test_curation_contamination_report_stage_matches_standalone(spark):
    """contamination_report=True exposes the per-eval-doc leak report as
    a chain stage, computed over the DEDUPED corpus from the shared
    shingle-hash cache — it must equal the standalone operator run on the
    same inputs (VERDICT r9 next-round #6), including when the fuzzy
    decontamination rung runs in the same chain."""
    from pyspark.sql import Row

    from columbiaimagesearch_spark.operators import hygiene

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    # plant a verbatim clone of one bench doc so the report has a leak row
    bench_text = " ".join(f"bq{i}w" for i in range(40))
    train = docs.unionByName(
        spark.createDataFrame(
            [Row(doc_id=900_011, text=bench_text, lang="en", source="web")]
        )
    )
    bench = spark.createDataFrame(
        [Row(doc_id=1_000_001, text=bench_text)]
    ).select("doc_id", "text")

    for fuzzy_flag in (False, True):
        res = curate.curate_docs(
            train, bench, train_split_only=False,
            contamination_report=True, fuzzy_decontaminate=fuzzy_flag,
        )
        assert "contamination_report" in res.stages
        got = sorted(
            map(tuple, res.stages["contamination_report"].collect())
        )
        want = sorted(
            map(
                tuple,
                hygiene.contamination_report_from(
                    res.stages["after_dedup"], bench
                ).collect(),
            )
        )
        assert got == want
        # the planted clone leaks its bench doc on both rungs
        leak = dict((r[0], r) for r in got)[1_000_001]
        assert leak[1] >= 1 and leak[2] >= 1


def test_curation_novelty_floor_drops_partial_echo(spark):
    """min_novelty=x drops a doc that is largely previously-seen text
    WITHOUT any single twin crossing the pair thresholds: a 40-word doc
    copying the first 24 words of an earlier doc has shingle Jaccard
    ~0.39 (survives MinHash dedup at threshold 0.5) but 8-gram novelty
    ~0.485 (17 of its 33 grams first seen at the original). Unique docs
    score 1.0 and survive."""
    from pyspark.sql import Row

    base = [f"nv{i}k" for i in range(40)]
    echo = base[:24] + [f"eh{i}p" for i in range(16)]
    rows = [
        Row(doc_id=100, text=" ".join(base), lang="en", source="web"),
        Row(doc_id=200, text=" ".join(echo), lang="en", source="web"),
    ] + [
        Row(
            doc_id=300 + j,
            text=" ".join(f"u{j}w{i}z" for i in range(40)),
            lang="en",
            source="web",
        )
        for j in range(10)
    ]
    docs = spark.createDataFrame(rows)

    plain = curate.curate_docs(docs, None, train_split_only=False)
    assert (
        plain.stages["after_dedup"].where(F.col("doc_id") == 200).count() == 1
    ), "echo doc must SURVIVE pair-threshold dedup for this test to bite"

    floored = curate.curate_docs(
        docs, None, train_split_only=False, min_novelty=0.6
    )
    assert "after_novelty" in floored.stages
    surv = {r["doc_id"] for r in floored.stages["after_novelty"].collect()}
    assert 200 not in surv  # the partial echo is gone
    assert 100 in surv and all(300 + j in surv for j in range(10))
    # deterministic: same inputs, same verdicts
    again = curate.curate_docs(
        docs, None, train_split_only=False, min_novelty=0.6
    )
    assert {
        r["doc_id"] for r in again.stages["after_novelty"].collect()
    } == surv


def test_curation_cluster_stats_stage_matches_standalone(spark):
    """cluster_stats=True exposes the per-cluster dedup-savings report as
    a chain stage off the SAME component labeling stage 1 already
    computed (VERDICT r10 next-round #4) — it must equal the standalone
    dedup_cluster_stats operator on the same corpus, and its dup_chars
    must account exactly for the chars the dedup drop removed."""
    from columbiaimagesearch_spark import registry

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    res = curate.curate_docs(docs, None, train_split_only=False,
                             cluster_stats=True)
    assert "cluster_stats" in res.stages
    got = sorted(map(tuple, res.stages["cluster_stats"].collect()))
    want = sorted(
        map(
            tuple,
            registry.all_specs()["dedup_cluster_stats"]
            .builder(spark, SF_SMOKE)
            .collect(),
        )
    )
    assert got == want
    assert got, "fixture corpus has no >=2-doc clusters — test is vacuous"
    # the savings ledger balances: sum(dup_chars) == chars dropped by dedup
    dropped = (
        res.stages["input"].join(
            res.stages["after_dedup"].select("doc_id"), "doc_id", "left_anti"
        )
        .agg(F.sum(F.length("text")).cast("bigint"))
        .collect()[0][0]
    )
    assert sum(r[3] for r in got) == dropped


def test_curation_embedding_decontam_drops_paraphrase(spark):
    """The embedding rung inside the chain: a doc that is LEXICALLY clean
    (unique words — no 8-gram or shingle overlap with the suite) but whose
    embedding sits on top of a bench embedding must be dropped by
    bench_embeddings=..., and only by it; the drop-id set must equal the
    standalone operator's verdicts on the same relations. Passing one
    side without the other fails loudly."""
    import numpy as np
    import pytest
    from pyspark.sql import Row

    from columbiaimagesearch_spark.operators import hygiene as hyg

    rng = np.random.RandomState(11)
    base = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    ).limit(50)
    leak = spark.createDataFrame(
        [Row(doc_id=900_021, text=" ".join(f"pp{i}k" for i in range(40)),
             lang="en", source="web")]
    )
    docs = base.unionByName(leak)
    bench_vec = rng.randn(16)
    doc_emb = spark.createDataFrame(
        [Row(doc_id=int(r["doc_id"]),
             v=[float(x) for x in rng.randn(16)])
         for r in base.collect()]
        + [Row(doc_id=900_021,
               v=[float(x) for x in bench_vec + 1e-6 * rng.randn(16)])]
    )
    bench_emb = spark.createDataFrame(
        [Row(doc_id=1, v=[float(x) for x in bench_vec])]
    )
    res = curate.curate_docs(
        docs, None, train_split_only=False,
        doc_embeddings=doc_emb, bench_embeddings=bench_emb,
    )
    assert "after_embedding_decontam" in res.stages
    before = {r["doc_id"] for r in res.stages["after_fuzzy_decontam"].collect()} \
        if "after_fuzzy_decontam" in res.stages \
        else {r["doc_id"] for r in res.stages["after_decontam"].collect()}
    after = {r["doc_id"] for r in res.stages["after_embedding_decontam"].collect()}
    assert 900_021 in before  # lexically clean: survived the lexical rungs
    assert 900_021 not in after  # ... but the embedding rung caught it
    # the stage's drop set equals the standalone operator's verdicts
    want_dropped = {
        r["vec_id"]
        for r in hyg.embedding_decontaminate_from(
            doc_emb.select(F.col("doc_id").alias("vec_id"), "v"),
            bench_emb.select(F.col("doc_id").alias("vec_id"), "v"),
        ).where(F.col("contaminated")).collect()
    }
    assert before - after == want_dropped & before
    with pytest.raises(ValueError, match="doc_embeddings"):
        curate.curate_docs(docs, None, bench_embeddings=bench_emb)
    with pytest.raises(ValueError, match="bench_embeddings"):
        curate.curate_docs(docs, None, doc_embeddings=doc_emb)


def test_curation_embedding_dedup_equals_standalone_composition(spark):
    """VERDICT r11 item 5: curate_docs(embedding_dedup=True) — the
    SemDeDup-style semantic dedup rung. Plant a 3-doc embedding cluster
    (near-identical vectors, lexically unrelated texts): the chain must
    keep exactly the min-doc_id representative and drop the other two,
    and the stage's drop set must EQUAL the standalone
    emb_lsh_pairs_from -> connected_components -> losers composition on
    the same inputs (the survivors' embeddings). Docs WITHOUT an
    embedding row always survive the stage (the subset contract)."""
    import numpy as np
    from pyspark.sql import Row

    from columbiaimagesearch_spark.operators import dedup, similarity

    rng = np.random.RandomState(23)
    base = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    ).limit(40)
    twins = spark.createDataFrame(
        [
            Row(doc_id=900_000 + i,
                text=" ".join(f"tw{i}x{j}q" for j in range(30)),
                lang="en", source="web")
            for i in range(3)
        ]
    )
    docs = base.unionByName(twins)
    base_ids = [int(r["doc_id"]) for r in base.collect()]
    no_emb_id = base_ids[0]  # this doc gets NO embedding row

    # one-hot embeddings: base docs are pairwise EXACTLY orthogonal
    # (cos 0.0 — random d=16 Gaussians reach cos 0.63 > NEAR_DUP_COS and
    # would form accidental clusters), twins share a distinct axis with
    # tiny noise (cos ~ 1.0 among themselves, ~1e-6 vs every base doc)
    d = 64

    def one_hot(axis, noise=0.0):
        v = np.zeros(d)
        v[axis] = 1.0
        if noise:
            v = v + noise * rng.randn(d)
        return [float(x) for x in v]

    doc_emb = spark.createDataFrame(
        [
            Row(doc_id=i, v=one_hot(j))
            for j, i in enumerate(base_ids[1:])
        ]
        + [
            Row(doc_id=900_000 + i, v=one_hot(60, noise=1e-6))
            for i in range(3)
        ]
    )
    res = curate.curate_docs(
        docs, None, train_split_only=False,
        doc_embeddings=doc_emb, embedding_dedup=True,
    )
    assert "after_embedding_dedup" in res.stages
    before = {r["doc_id"] for r in res.stages["after_dedup"].collect()}
    after = {r["doc_id"] for r in res.stages["after_embedding_dedup"].collect()}
    assert {900_001, 900_002}.isdisjoint(after)  # non-representatives drop
    assert 900_000 in after  # min-doc_id representative survives
    assert no_emb_id in after  # no embedding row -> never dropped here

    # the chain stage EQUALS the standalone composition on the same inputs
    emb_cur = doc_emb.select(F.col("doc_id").alias("vec_id"), "v").join(
        res.stages["after_dedup"].select(F.col("doc_id").alias("vec_id")),
        "vec_id",
    )
    pairs = similarity.emb_lsh_pairs_from(emb_cur).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    comp = dedup.connected_components(
        emb_cur.select(F.col("vec_id").alias("doc_id")), pairs
    )
    want_losers = {
        r["doc_id"]
        for r in comp.where(F.col("doc_id") != F.col("component")).collect()
    }
    assert before - after == want_losers


def test_curation_embedding_coverage_and_arg_contracts(spark):
    """ADVICE r11 curate.py: a doc_embeddings SUBSET silently skips the
    embedding stages for uncovered docs — the documented contract — and
    require_embedding_coverage=True turns the gap into a loud ValueError
    naming the count. Plus the new argument-consumption contracts."""
    import numpy as np
    import pytest
    from pyspark.sql import Row

    rng = np.random.RandomState(5)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    ).limit(20)
    ids = [int(r["doc_id"]) for r in docs.collect()]
    full_emb = spark.createDataFrame(
        [Row(doc_id=i, v=[float(x) for x in rng.randn(16)]) for i in ids]
    )
    bench_emb = spark.createDataFrame(
        [Row(doc_id=1, v=[float(x) for x in rng.randn(16)])]
    )
    # full coverage passes the check
    res = curate.curate_docs(
        docs, None, train_split_only=False,
        doc_embeddings=full_emb, bench_embeddings=bench_emb,
        require_embedding_coverage=True,
    )
    assert "after_embedding_decontam" in res.stages
    # a subset raises with the uncovered count (survivors of dedup minus
    # covered ids; the 20-doc fixture slice has no dup clusters)
    subset = full_emb.where(F.col("doc_id") != ids[0])
    with pytest.raises(ValueError, match="1 surviving docs"):
        curate.curate_docs(
            docs, None, train_split_only=False,
            doc_embeddings=subset, bench_embeddings=bench_emb,
            require_embedding_coverage=True,
        )
    # ...and without the flag the same subset runs (documented behavior)
    res2 = curate.curate_docs(
        docs, None, train_split_only=False,
        doc_embeddings=subset, bench_embeddings=bench_emb,
    )
    assert "after_embedding_decontam" in res2.stages
    # argument-consumption contracts
    with pytest.raises(ValueError, match="embedding_dedup=True requires"):
        curate.curate_docs(docs, None, embedding_dedup=True)
    with pytest.raises(ValueError, match="nothing consumes"):
        curate.curate_docs(docs, None, doc_embeddings=full_emb)
    with pytest.raises(ValueError, match="require_embedding_coverage=True needs"):
        curate.curate_docs(docs, None, require_embedding_coverage=True)


def test_curation_coverage_checked_at_first_embedding_rung(spark):
    """The coverage check must count the survivors that actually REACH the
    first embedding rung, not an earlier superset: a doc that lexical
    decontamination (stage 2) drops before the embedding rung may lack an
    embedding row without tripping require_embedding_coverage — and
    embedding_exact without a decon rung to consume it fails loudly."""
    import numpy as np
    import pytest
    from pyspark.sql import Row

    rng = np.random.RandomState(3)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    ).limit(20)
    ids = [int(r["doc_id"]) for r in docs.collect()]
    # the leak doc shares its text verbatim with the bench suite -> stage
    # 2's exact 8-gram rung drops it BEFORE the embedding rung runs
    leak_text = " ".join(f"lk{j}w" for j in range(40))
    leak = spark.createDataFrame(
        [Row(doc_id=900_077, text=leak_text, lang="en", source="web")]
    )
    docs = docs.unionByName(leak)
    bench_docs = spark.createDataFrame(
        [Row(doc_id=1, text=leak_text)]
    )
    emb = spark.createDataFrame(  # covers everyone EXCEPT the leak doc
        [Row(doc_id=i, v=[float(x) for x in rng.randn(16)]) for i in ids]
    )
    bench_emb = spark.createDataFrame(
        [Row(doc_id=1, v=[float(x) for x in rng.randn(16)])]
    )
    res = curate.curate_docs(
        docs, bench_docs, train_split_only=False,
        doc_embeddings=emb, bench_embeddings=bench_emb,
        require_embedding_coverage=True,
    )
    after2 = {r["doc_id"] for r in res.stages["after_decontam"].collect()}
    assert 900_077 not in after2  # the lexical rung dropped it first
    assert "after_embedding_decontam" in res.stages  # and no ValueError

    # embedding_exact with nothing to consume it fails at the call
    with pytest.raises(ValueError, match="embedding_exact=True needs"):
        curate.curate_docs(
            docs, None, doc_embeddings=emb, embedding_dedup=True,
            embedding_exact=True,
        )


def test_llm_embedding_dedup_labeling_semantics(spark):
    """The driver-visible form of the embedding-dedup rung (NEW r12):
    one row per vector, component = min vec_id reachable through the
    LSH near-dup graph, kept marks exactly the representative — and the
    labeling is CONSISTENT with the pair relation it derives from (every
    near-dup pair shares a component; components are never orphaned of
    their own min id)."""
    from columbiaimagesearch_spark.operators.similarity import (
        emb_lsh_near_dup_pairs,
        llm_embedding_dedup,
    )

    labels = llm_embedding_dedup(spark, SF_SMOKE).collect()
    n_vecs = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").count()
    assert len(labels) == n_vecs
    assert len({r["vec_id"] for r in labels}) == n_vecs
    comp_of = {r["vec_id"]: r["component"] for r in labels}
    members: dict[int, list[int]] = {}
    for r in labels:
        members.setdefault(r["component"], []).append(r["vec_id"])
        assert r["kept"] == (r["vec_id"] == r["component"])
    for comp, vecs in members.items():
        assert comp == min(vecs)  # min-id representative, present in own cluster
    pairs = emb_lsh_near_dup_pairs(spark, SF_SMOKE).collect()
    assert pairs, "fixture should plant near-dup pairs"
    for p in pairs:
        assert comp_of[p["vec_a"]] == comp_of[p["vec_b"]]


def test_curation_quality_filter_stage(spark):
    """curate_docs(quality_filter=True) (r13): the Gopher/C4-style
    quality floor as stage 0b — drops exactly the docs failing the
    SHARED textstats.quality_gate (too short / too long / low alpha
    ratio), before dedup ever hashes them; the gate is the same one
    text_quality_score's passes_filter reports (consistency pinned on
    the real fixture); flag off -> no stage."""
    from pyspark.sql import Row

    from columbiaimagesearch_spark.operators import textstats

    base = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    ).limit(30)
    planted = spark.createDataFrame(
        [
            Row(doc_id=930_000, text="too short", lang="en", source="web"),
            Row(doc_id=930_001, text="1234567890 " * 20, lang="en", source="web"),
            Row(doc_id=930_002, text="x" * 20_000, lang="en", source="web"),
            Row(doc_id=930_003,
                text=" ".join(f"goodword{j}" for j in range(40)),
                lang="en", source="web"),
            # NULL text: gate verdict is SQL NULL -> rejected (r14; keeps the
            # batch chain equal to the stream twin's where(quality_gate())).
            Row(doc_id=930_004, text=None, lang="en", source="web"),
        ],
        schema="doc_id BIGINT, text STRING, lang STRING, source STRING",
    )
    docs = base.unionByName(planted)
    res = curate.curate_docs(docs, None, train_split_only=False,
                             quality_filter=True)
    assert "after_quality_filter" in res.stages
    after = {r["doc_id"] for r in res.stages["after_quality_filter"].collect()}
    assert {930_000, 930_001, 930_002, 930_004}.isdisjoint(after)  # gate failers drop
    assert 930_003 in after
    # the stage's drop set EQUALS the standalone verdict form with the NULL
    # verdict coalesced to a reject (the stage's exact predicate)
    want_drop = {
        r["doc_id"]
        for r in textstats.quality_verdicts_from(docs.select("doc_id", "text"))
        .where(~F.coalesce(F.col("passes_filter"), F.lit(False)))
        .collect()
    }
    input_ids = {r["doc_id"] for r in docs.collect()}
    assert input_ids - after == want_drop
    # flag off -> no stage
    res_off = curate.curate_docs(docs, None, train_split_only=False)
    assert "after_quality_filter" not in res_off.stages

    # consistency: the library verdict equals text_quality_score's
    # passes_filter column on the real fixture (one shared gate)
    from columbiaimagesearch_spark.operators.textstats import text_quality_score

    tq = {
        r["doc_id"]: r["passes_filter"]
        for r in text_quality_score(spark, SF_SMOKE).collect()
    }
    fixture_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    lv = {
        r["doc_id"]: r["passes_filter"]
        for r in textstats.quality_verdicts_from(fixture_docs).collect()
    }
    assert tq == lv


def test_dedup_losers_keep_policy_unit(spark):
    """dedup_losers_from (r13, VERDICT r12 next-round #4): the scored
    policies pick max-score per component with ties broken toward the
    SMALLEST doc_id (so min_id == scored-with-constant), and the arg
    contracts fail loudly."""
    import pytest
    from pyspark.sql import Row

    from columbiaimagesearch_spark.operators import dedup

    labels = spark.createDataFrame(
        [Row(doc_id=i, component=c) for i, c in
         [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (9, 9)]]
    )
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="aa", quality=0.5),
            Row(doc_id=2, text="aaaa", quality=0.5),   # longest in comp 1
            Row(doc_id=3, text="aaa", quality=0.9),    # best quality in comp 1
            Row(doc_id=7, text="bb", quality=0.1),
            Row(doc_id=8, text="bb", quality=0.1),     # all-tied comp 7
            Row(doc_id=9, text="c", quality=0.0),      # singleton
        ]
    )

    def losers(keep):
        return {
            r["doc_id"]
            for r in dedup.dedup_losers_from(labels, docs, keep).collect()
        }

    assert losers("min_id") == {2, 3, 8}
    assert losers("longest") == {1, 3, 8}       # 2 wins comp 1; tie -> 7
    assert losers(("score", "quality")) == {1, 2, 8}  # 3 wins; tie -> 7
    with pytest.raises(ValueError, match="keep policy"):
        dedup.dedup_losers_from(labels, docs, "best")
    with pytest.raises(ValueError, match="needs the docs"):
        dedup.dedup_losers_from(labels, None, "longest")
    with pytest.raises(ValueError, match="column"):
        dedup.dedup_losers_from(labels, docs, ("score", "missing"))

    # NULL scores must LOSE, never win (review r13: Spark's struct min
    # sorts null FIRST, which would silently crown the unscored member)
    docs_null = spark.createDataFrame(
        [
            Row(doc_id=1, text=None, quality=None),
            Row(doc_id=2, text="aa", quality=0.1),
            Row(doc_id=3, text=None, quality=None),
            Row(doc_id=7, text=None, quality=None),   # all-null comp 7
            Row(doc_id=8, text=None, quality=None),
            Row(doc_id=9, text="c", quality=0.0),
        ]
    )
    for keep in ("longest", ("score", "quality")):
        got = {
            r["doc_id"]
            for r in dedup.dedup_losers_from(labels, docs_null, keep).collect()
        }
        # comp 1: only doc 2 is scored -> it wins; comp 7: all null ->
        # min-id fallback keeps 7; singleton 9 survives
        assert got == {1, 3, 8}, (keep, got)

    # curate_docs validates the policy EAGERLY at entry (review r13):
    # a typo'd policy or missing score column fails before any
    # corpus-sized stage runs — these raise without a single Spark job
    chain_docs = spark.createDataFrame(
        [Row(doc_id=1, text="a", lang="en", source="web")]
    )
    with pytest.raises(ValueError, match="keep policy"):
        curate.curate_docs(chain_docs, None, keep="longset")
    with pytest.raises(ValueError, match="column"):
        curate.curate_docs(chain_docs, None, keep=("score", "missing"))


def test_dedup_losers_keep_policy_matches_python_model(spark):
    """Randomized model equivalence for dedup_losers_from: on a seeded
    random labeling with duplicate scores (ties), negative scores, and
    singleton components, the Spark result equals a plain-python
    reference (winner = lexicographic min of (-score, doc_id)), and the
    min_id policy equals the scored policy with a CONSTANT score — the
    determinism contract stated in the docstring."""
    import random

    from pyspark.sql import Row

    from columbiaimagesearch_spark.operators import dedup

    rng = random.Random(77)
    n = 200
    comps = sorted(rng.sample(range(1, n + 1), 30))
    rows, scores = [], {}
    for i in range(1, n + 1):
        c = max((x for x in comps if x <= i), default=i)
        rows.append(Row(doc_id=i, component=c))
        # coarse grid -> plenty of exact ties; negatives included
        scores[i] = float(rng.choice([-2, -1, 0, 1, 2])) / 2.0
    labels = spark.createDataFrame(rows)
    docs = spark.createDataFrame(
        [Row(doc_id=i, q=scores[i], c0=1.0) for i in range(1, n + 1)]
    )

    def model(score_of):
        winners = {}
        for r in rows:
            key = (-score_of(r.doc_id), r.doc_id)
            if r.component not in winners or key < winners[r.component]:
                winners[r.component] = key
        keep = {k[1] for k in winners.values()}
        return {r.doc_id for r in rows} - keep

    got_scored = {
        r["doc_id"]
        for r in dedup.dedup_losers_from(labels, docs, ("score", "q")).collect()
    }
    assert got_scored == model(lambda i: scores[i])
    got_min = {
        r["doc_id"] for r in dedup.dedup_losers_from(labels, None, "min_id").collect()
    }
    got_const = {
        r["doc_id"]
        for r in dedup.dedup_losers_from(labels, docs, ("score", "c0")).collect()
    }
    assert got_min == got_const == model(lambda i: 0.0)


def test_curation_keep_policy_chain_equals_standalone(spark):
    """The keep policy applied through curate_docs, BOTH rungs: a planted
    lexical near-dup cluster and a planted embedding cluster each keep
    their LONGEST member (not the min id), docs outside clusters are
    untouched, and each stage's drop set EQUALS the standalone
    pairs -> components -> dedup_losers_from(keep) composition on the
    same inputs — the same chain-equality pattern the min_id rungs pin."""
    import numpy as np
    from pyspark.sql import Row

    from columbiaimagesearch_spark.operators import dedup, similarity

    base = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    ).limit(40)
    shared = " ".join(f"kp{j}w" for j in range(60))
    lex = [
        Row(doc_id=910_000, text=shared, lang="en", source="web"),
        Row(doc_id=910_001, text=shared + " extr1 extr2 extr3 extr4 extr5",
            lang="en", source="web"),  # LONGEST lexical twin, not min id
        Row(doc_id=910_002, text=shared + " extr1", lang="en", source="web"),
    ]
    emb_twins = [
        Row(doc_id=920_000, text=" ".join(f"em{j}a" for j in range(20)),
            lang="en", source="web"),
        Row(doc_id=920_001, text=" ".join(f"em{j}b" for j in range(35)),
            lang="en", source="web"),  # LONGEST embedding twin, not min id
    ]
    docs = base.unionByName(spark.createDataFrame(lex + emb_twins))
    d = 64
    rng = np.random.RandomState(5)
    base_ids = [int(r["doc_id"]) for r in base.collect()]

    def one_hot(axis, noise=0.0):
        v = np.zeros(d)
        v[axis] = 1.0
        if noise:
            v = v + noise * rng.randn(d)
        return [float(x) for x in v]

    doc_emb = spark.createDataFrame(
        [Row(doc_id=i, v=one_hot(j)) for j, i in enumerate(base_ids)]
        + [Row(doc_id=920_000 + i, v=one_hot(62, noise=1e-6)) for i in range(2)]
    )
    res = curate.curate_docs(
        docs, None, train_split_only=False, keep="longest",
        doc_embeddings=doc_emb, embedding_dedup=True,
    )
    input_ids = {r["doc_id"] for r in res.stages["input"].collect()}
    after_lex = {r["doc_id"] for r in res.stages["after_dedup"].collect()}
    after_emb = {
        r["doc_id"] for r in res.stages["after_embedding_dedup"].collect()
    }
    # lexical rung: longest twin survives, both shorter twins drop
    assert 910_001 in after_lex
    assert {910_000, 910_002}.isdisjoint(after_lex)
    # embedding rung: longest twin survives, the (min-id!) shorter drops
    assert 920_001 in after_emb
    assert 920_000 not in after_emb

    # standalone equality, lexical rung
    hashed = dedup.hashed_from(docs)
    pairs = dedup.near_dup_pairs_from(
        docs, hashed=hashed, max_bucket=dedup.MINHASH_MAX_BUCKET
    )
    comp = dedup.connected_components(docs.select("doc_id"), pairs)
    want_lex = {
        r["doc_id"]
        for r in dedup.dedup_losers_from(comp, docs, "longest").collect()
    }
    assert input_ids - after_lex == want_lex

    # standalone equality, embedding rung (over the lexical survivors)
    emb_cur = doc_emb.select(F.col("doc_id").alias("vec_id"), "v").join(
        res.stages["after_dedup"].select(F.col("doc_id").alias("vec_id")),
        "vec_id",
    )
    e_pairs = similarity.emb_lsh_pairs_from(emb_cur).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    comp_e = dedup.connected_components(
        emb_cur.select(F.col("vec_id").alias("doc_id")), e_pairs
    )
    want_emb = {
        r["doc_id"]
        for r in dedup.dedup_losers_from(
            comp_e, res.stages["after_dedup"], "longest"
        ).collect()
    }
    assert after_lex - after_emb == want_emb


def test_emb_dedup_oracle_sql_pairs_match_kernel(duck_smoke):
    """Attribution leg for the SQL-only llm_embedding_dedup oracle (r13,
    VERDICT r12 next-round #3): the oracle's PAIR relation — band-key
    collision join over SQL-derived keys + DuckDB's own zero-safe cosine
    — must equal the distributed kernel's banded pair set exactly. With
    this leg green, any driver-row mismatch is attributable to the
    labeling, not the banding/verify math; with the labeling's closure
    already independent, the oracle shares NO NumPy kernels."""
    import numpy as np
    import pyarrow.parquet as pq

    from columbiaimagesearch_spark.operators.similarity import (
        LSH_BANDS,
        _bucket_cos_pairs,
        _lsh_band_keys,
        lsh_pairs_cte_sql,
    )

    t = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    X = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
    keys = _lsh_band_keys(X)
    kernel_pairs = set()
    for b in range(LSH_BANDS):
        for key in np.unique(keys[:, b]):
            m = keys[:, b] == key
            kernel_pairs.update(
                (a, c) for a, c, _ in _bucket_cos_pairs(ids[m], X[m])
            )
    assert kernel_pairs, "fixture should plant near-dup pairs"
    sql_pairs = {
        (int(a), int(b))
        for a, b in duck_smoke.execute(
            f"WITH {lsh_pairs_cte_sql(X.shape[1])} "
            "SELECT vec_a, vec_b FROM pairs"
        ).fetchall()
    }
    assert sql_pairs == kernel_pairs


def test_curation_releases_caches_on_stage_error(spark):
    """Review r12: a FAILED curate call must not strand cache entries.
    A 4100-identical-doc flood trips stage 1's MinHash max_bucket refusal
    at the exact moment the shingle-hash and band caches are live and
    MATERIALIZED (the guard's eager aggregation is what builds them);
    pre-fix they leaked for the session, and each retried call stranded a
    fresh copy (per-call lineage — plan canonicalization never dedupes
    them). Pin: no persistent-RDD id NEW since the call survives the
    raise (set difference, not a count — the session's periodic GC may
    concurrently evict DEAD entries from earlier tests, so the global
    count can legitimately drop mid-test).

    Scope (the r12 contract, documented at curate_docs' cache-hygiene
    note): the guarantee covers persist() entries — the ones the cache
    manager pins INDEFINITELY. localCheckpoint()ed verdict pins are
    reclaimed by the ContextCleaner once their refs drop (the failed
    call's locals); since r17 the overlapped repetition pin can exist at
    refusal time, so the leak check filters locally-checkpointed RDDs
    out instead of passing only by stage-order accident."""
    import pytest
    from pyspark.sql import Row

    jsc = spark.sparkContext._jsc

    def _persisted_unchk_ids():
        m = jsc.getPersistentRDDs()
        out = set()
        for k in m.keySet().toArray():
            jrdd = m.get(k)
            rdd = jrdd.rdd() if hasattr(jrdd, "rdd") else jrdd
            if not rdd.isLocallyCheckpointed():
                out.add(int(k))
        return out

    before = _persisted_unchk_ids()
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text="the very same flood text " * 12,
                lang="en", source="web")
            for i in range(4_100)
        ]
    )
    with pytest.raises(RuntimeError, match="max_bucket"):
        curate.curate_docs(docs, None, train_split_only=False)
    leaked = _persisted_unchk_ids() - before
    assert not leaked, leaked
