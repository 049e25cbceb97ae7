"""Corpus-hygiene operators for LLM training pipelines: benchmark
decontamination and intra-document repetition pathology stats, over the
``documents`` table.

These complete the filter/dedup/layout surface (SURVEY §7.0, packing.py)
with the two hygiene gates every serious pretraining pipeline runs:

- ``llm_decontaminate``: flag training documents whose word 8-grams
  overlap an evaluation-benchmark set (train/test contamination — the
  n-gram-overlap method used by GPT-3/PaLM/Llama data cards). The
  benchmark side of the join is the *small* side by construction (eval
  suites are MBs; the corpus is TBs), so the plan broadcasts the distinct
  benchmark n-gram hashes and the 100 TB side is never shuffled for the
  join. N-grams travel as 60-bit md5-prefix ints, never strings; the
  benign false-positive rate of the 60-bit hash is ~2^-60 per pair and is
  the standard trade for not shipping raw text through a shuffle.
- ``text_repetition_stats``: per-document duplicate/top n-gram fractions
  (n = 1, 2, 3) — the Gopher-style repetition signals used to drop
  boilerplate and degenerate generations. A per-doc property, so it runs
  as ONE Arrow ``mapInPandas`` batch with zero shuffle, pipelined out of
  the scan (the r4 rewrite; the original posexplode + window form
  shuffled every token of the corpus by doc_id).

Plan-shape history (the r4 lesson this module carries): n-gram pairing
is map-only via array HOFs (``ngram_rows`` — Catalyst materializes the
``split`` in a Project under the Generate, so the HOF does not
re-evaluate it per element; the known project-collapse O(len²) trap
applies to expressions inlined into the lambda, not to this shape),
and the decontamination groupBy(doc_id) IS a real exchange — one,
keyed by doc_id, carrying 60-bit int rows that partial aggregation
collapses map-side (plan-asserted in tests/test_plans.py).

All three (decontaminate, repetition stats, boilerplate n-grams) are
registered driver-visible since round 3 — three TPC-H showcase slots whose
tags were covered elsewhere were folded to make room; ``tests/test_hygiene.py``
runs the same DuckDB parity harness locally.

Reference anchor: the reference has no corpus-hygiene stage (it indexes
images); these extend its ingest-filter family (F2-F4 content filters,
hbase_indexer_minimal.py) to the text-corpus setting this engine serves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import load_table

N_GRAM = 8  # decontamination n-gram width (GPT-3 used 13, Llama 8-10)
BENCH_MOD = 97  # doc_id % BENCH_MOD == 0 stands in for the eval suite
MIN_HITS = 3  # distinct overlapping n-grams to call a doc contaminated
REP_TOP_WORD = 0.30  # top_word_frac above this => repetitive
REP_DUP_3GRAM = 0.20  # dup_3gram_frac above this => repetitive


def _hash60(col) -> F.Column:
    """Top 60 bits of md5 as BIGINT — the cross-engine hash idiom shared
    with packing._md5_bucket (DuckDB twin: CAST('0x' || substr(md5(x),1,15)
    AS BIGINT))."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("bigint")


def ngram_rows(docs: DataFrame, n: int, distinct_per_doc: bool = False) -> DataFrame:
    """(doc_id, ng): every word n-gram of every document — MAP-ONLY.

    An array HOF builds each doc's grams from its own split words, so the
    rows pipeline straight out of the scan (docs with fewer than n words
    produce no row). The earlier window-``lead`` form shuffled AND sorted
    every token of the corpus by doc_id just to pair adjacent words — a
    per-doc property never needs an exchange. (Catalyst materializes the
    split in a Project under the Generate, so the HOF does not re-evaluate
    it per element — plan-verified; the known project-collapse pitfall
    applies to expressions inlined into the lambda, not to this shape.)

    ``distinct_per_doc=True`` dedups grams inside the array before the
    explode (``array_distinct``) — per-doc DISTINCT with zero shuffle, for
    consumers that count documents rather than occurrences."""
    expr = (
        f"transform(sequence(0, size(words) - {n}), "
        f"i -> concat_ws(' ', slice(words, i + 1, {n})))"
    )
    if distinct_per_doc:
        expr = f"array_distinct({expr})"
    return (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("words"))
        .where(F.size("words") >= n)
        .select("doc_id", F.explode(F.expr(expr)).alias("ng"))
    )


DECONTAMINATE_ORACLE_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
e AS (
  SELECT doc_id, generate_subscripts(words, 1) AS pos, unnest(words) AS w FROM w
),
l AS (
  SELECT doc_id, w,
         {", ".join(f"lead(w, {i}) OVER win AS w{i}" for i in range(1, N_GRAM))}
  FROM e WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
ng AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(w || ' ' ||
           {" || ' ' || ".join(f"w{i}" for i in range(1, N_GRAM))}), 1, 15)
           AS BIGINT) AS h
  FROM l WHERE w{N_GRAM - 1} IS NOT NULL
),
bench AS (SELECT DISTINCT h FROM ng WHERE doc_id % {BENCH_MOD} = 0),
train AS (SELECT doc_id, h FROM ng WHERE doc_id % {BENCH_MOD} <> 0),
totals AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams FROM train GROUP BY doc_id
),
hits AS (
  SELECT t.doc_id, CAST(COUNT(DISTINCT t.h) AS BIGINT) AS n_hits
  FROM train t JOIN bench b USING (h) GROUP BY t.doc_id
)
SELECT t.doc_id, t.n_ngrams,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / t.n_ngrams + 1e-9, 4)
         AS hit_frac,
       COALESCE(h.n_hits, 0) >= {MIN_HITS} AS contaminated
FROM totals t LEFT JOIN hits h USING (doc_id)
"""


def decontaminate_from(train_docs: DataFrame, bench_docs: DataFrame) -> DataFrame:
    """DataFrame-level decontamination: flag rows of ``train_docs`` whose
    word N_GRAM-grams overlap any document in ``bench_docs`` (both need
    ``doc_id``/``text`` columns). This is the library entry point — a real
    pipeline passes its actual eval-benchmark suite as ``bench_docs``.

    Plan: benchmark n-gram hash set is distinct'd then BROADCAST — the
    corpus side explodes to (doc_id, hash60) ints, joins map-side, and
    partial-aggregates per doc. The corpus is never shuffled for the join.
    """
    bench = (
        ngram_rows(bench_docs, N_GRAM)
        .select(_hash60(F.col("ng")).alias("h"))
        .distinct()
        .withColumn("is_hit", F.lit(True))
    )
    train = ngram_rows(train_docs, N_GRAM).select(
        "doc_id", _hash60(F.col("ng")).alias("h")
    )
    # ONE pass over the train n-grams: left-join the broadcast (distinct)
    # bench hashes — no row multiplication — then count totals and distinct
    # hits in the same aggregation. Splitting totals/hits into two
    # aggregations would execute the whole map-only n-gram pipeline twice
    # (measured ~2x wall on this query). The groupBy(doc_id) is the plan's
    # ONE keyed exchange — (doc_id, 60-bit int) rows, partial-aggregated
    # map-side before the shuffle.
    flagged = train.join(F.broadcast(bench), "h", "left")
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_ngrams"),
        F.countDistinct(F.when(F.col("is_hit"), F.col("h")))
        .cast("bigint")
        .alias("n_hits"),
    ).select(
        "doc_id",
        "n_ngrams",
        "n_hits",
        F.round(F.col("n_hits") / F.col("n_ngrams") + F.lit(1e-9), 4).alias(
            "hit_frac"
        ),
        (F.col("n_hits") >= MIN_HITS).alias("contaminated"),
    )


@register(
    "llm_decontaminate",
    survey_ops=("LLM-decontaminate", "F7", "A8"),
    doc=f"Benchmark decontamination: flag train docs sharing >= {MIN_HITS} "
    f"distinct word {N_GRAM}-grams with the eval set (GPT-3/PaLM/Llama "
    "n-gram-overlap method). Bench n-gram hash set is distinct'd and "
    "BROADCAST; the corpus side explodes to (doc_id, hash60) ints and "
    "joins map-side — the 100 TB side never shuffles for the join.",
    oracle=DECONTAMINATE_ORACLE_SQL,
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_ngrams, n_hits, hit_frac, contaminated) over the
    ``documents`` table, with doc_id % BENCH_MOD == 0 standing in for the
    eval suite — the oracle-checkable rendering of
    :func:`decontaminate_from`."""
    # Spread ONLY the train branch: its explode+md5 gram pipeline is the
    # heavy side (~200 grams/doc before the first exchange). The bench
    # branch stays on the native scan — it is ~1% of docs and sits on the
    # critical path as the broadcast build, so extra stages there delay
    # everything (measured: both-spread 1.25x SLOWER, train-only spread
    # 0.69x of plain at sf0.1).
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text"
    )
    is_bench = (F.col("doc_id") % BENCH_MOD) == 0
    return decontaminate_from(train.where(~is_bench), docs.where(is_bench))


def _fuzzy_scored_pairs(h_t, h_b):
    """(doc_id, bench_doc, jac): LSH band-collision candidates scored by
    exact shingle Jaccard — the ONE candidate+verify plan shared by
    ``fuzzy_decontaminate_from`` and ``contamination_report_from``
    (review r13: previously duplicated verbatim, so the r8
    broadcast-direction fix had to live in two places). The bench side
    is broadcast everywhere (band table, hash sets, candidate list —
    all suite-bounded); multi-band duplicate candidates agree on the
    Jaccard, so downstream max/countDistinct absorb them without a
    pre-dedup."""
    from .dedup import bands_from

    bb = bands_from(h_b).withColumnRenamed("doc_id", "bench_doc")
    cands = (
        bands_from(h_t)
        .join(F.broadcast(bb), "band_key")
        .select("doc_id", "bench_doc")
    )
    x = h_t.selectExpr("doc_id", "hs AS hs_t")
    y = h_b.selectExpr("doc_id AS bench_doc", "hs AS hs_b")
    return (
        F.broadcast(cands)
        .join(x, "doc_id")
        .join(F.broadcast(y), "bench_doc")
        .selectExpr(
            "doc_id",
            "bench_doc",
            "CAST(size(array_intersect(hs_t, hs_b)) AS DOUBLE) / "
            "(CAST(size(hs_t) + size(hs_b) AS DOUBLE) "
            "- CAST(size(array_intersect(hs_t, hs_b)) AS DOUBLE)) AS jac",
        )
    )


def fuzzy_decontaminate_from(
    train_docs: DataFrame,
    bench_docs: DataFrame,
    hashed_train: DataFrame | None = None,
    hashed_bench: DataFrame | None = None,
) -> DataFrame:
    """Fuzzy benchmark decontamination: per train doc, the max EXACT
    shingle-Jaccard against any benchmark doc among MinHash-LSH candidate
    pairs — the near-duplicate complement of :func:`decontaminate_from`'s
    verbatim n-gram overlap (a paraphrased/lightly-edited eval document
    shares few exact 8-grams but high shingle Jaccard).

    ``hashed_train`` / ``hashed_bench`` follow ``near_dup_pairs_from``'s
    hashed contract (dedup.py): an eager caller that already owns the
    (doc_id, hs) relations (e.g. ``curate.curate_docs``, which reuses its
    dedup stage's shingle-hash cache here) passes them in — and owns their
    persist/unpersist lifecycle. When omitted, the corpus side is built
    with the default persist (two plan references below — the band table
    and the verify side — collapse onto one cached compute; callers that
    materialize eagerly should build, pass, and unpersist their own); the
    bench side is eval-suite-sized (MBs), built unpersisted — its one
    recompute is cheaper than a cache entry nobody unpersists.

    Plan — every join is a broadcast; the corpus never exchanges anything
    wider than (doc_id, jac) scalars (no SortMergeJoin anywhere):
    - candidate pairs (band-collisions with the eval suite — tiny by
      construction; a corpus pathologically flooded with eval clones hits
      the LSH degenerate-bucket regime first, see
      dedup.MINHASH_MAX_BUCKET) are BROADCAST to the verify join, so the
      corpus-side hash relation is probed map-side in place — never
      shuffled by doc_id (ADVICE r8: the old plan sort-merge-joined the
      corpus hash table against the candidates);
    - bench band table and bench hash sets: BROADCAST builds;
    - multi-band duplicate candidates are absorbed by the per-doc MAX
      after a scalar-only partial-agg shuffle (a distinct would add a
      corpus-sized exchange for nothing);
    - the final completeness join broadcasts the per-doc aggregate
      against a doc_id-only (column-pruned) scan of ``train_docs``, which
      is what returns every train doc (no candidates -> max_jaccard 0.0 —
      zero-shingle docs never enter the hashed relation, so the id scan
      cannot come from it).

    Measured r9 A/B (sf0.1, cleared cache per sample, n=5 medians): this
    shape 1.70 s vs 2.24 s for a single-subtree variant that carried
    ``hs`` through the band explode (the array duplication across band
    rows costs more than the persist saves), vs 1.83 s for the r8
    two-subtree shape. Within one execution the persist makes the corpus
    text hash ONCE (the broadcast candidate build materializes the cache,
    the verify probe reads it); at 100 TB, where no cache holds a corpus,
    passing ``hashed_train`` is what keeps it at one pass — that is the
    contract's job, not the cache's."""
    from .dedup import JACCARD_THRESHOLD, hashed_from

    h_t = hashed_from(train_docs) if hashed_train is None else hashed_train
    h_b = (
        hashed_from(bench_docs, persist=False)
        if hashed_bench is None
        else hashed_bench
    )
    scored = _fuzzy_scored_pairs(h_t, h_b).select("doc_id", "jac")
    agg = scored.groupBy("doc_id").agg(F.max("jac").alias("mj"))
    mj0 = F.coalesce(F.col("mj"), F.lit(0.0))
    return (
        train_docs.select("doc_id")
        .join(F.broadcast(agg), "doc_id", "left")
        .select(
            "doc_id",
            # +1e-9 before the 4dp round, mirroring hit_frac: keeps the
            # value off the HALF_UP/HALF_EVEN boundary in both engines
            F.round(mj0 + F.lit(1e-9), 4).alias("max_jaccard"),
            (mj0 >= JACCARD_THRESHOLD).alias("contaminated"),
        )
    )


def _fuzzy_decontaminate_oracle() -> str:
    from .dedup import BASE_MINHASH_CTES_SQL, JACCARD_THRESHOLD

    return f"""
WITH {BASE_MINHASH_CTES_SQL},
cands AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS bench_doc
  FROM bands a JOIN bands b ON a.band_key = b.band_key
  WHERE a.doc_id % {BENCH_MOD} <> 0 AND b.doc_id % {BENCH_MOD} = 0
),
verified AS (
  SELECT c.doc_id,
         CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) AS inter,
         CAST(len(x.hs) + len(y.hs) AS DOUBLE) AS sz
  FROM cands c
  JOIN hh x ON x.doc_id = c.doc_id
  JOIN hh y ON y.doc_id = c.bench_doc
),
agg AS (
  SELECT doc_id, MAX(inter / (sz - inter)) AS mj FROM verified GROUP BY doc_id
)
SELECT d.doc_id,
       ROUND(COALESCE(a.mj, 0) + 1e-9, 4) AS max_jaccard,
       COALESCE(a.mj, 0) >= {JACCARD_THRESHOLD} AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % {BENCH_MOD} <> 0) d
LEFT JOIN agg a USING (doc_id)
"""


@register(
    "llm_fuzzy_decontaminate",
    survey_ops=("LLM-decontaminate", "DEDUP-minhash", "F9", "A8"),
    # Folded r10 after earning its hash-green driver row in r9: every tag
    # multiply driver-covered (LLM-decontaminate via llm_decontaminate +
    # llm_contamination_report, DEDUP-minhash via dedup_minhash_lsh_pairs,
    # F9 via emb_lsh_near_dup_pairs, A8 broadly); slot freed for the
    # j3/j6/st1 rotation back in. Still in the headline bench + parity.
    driver=False,
    doc="Fuzzy decontamination: max exact shingle-Jaccard per train "
    "doc vs the eval suite over MinHash-LSH candidates — catches "
    "paraphrased/edited eval leakage that exact 8-gram overlap misses. "
    "r9 plan: candidate pairs, bench bands, bench hash sets AND the "
    "final per-doc aggregate all broadcast — the corpus hash relation is "
    "probed map-side (never shuffled) and never exchanges anything wider "
    "than scalars; hashed_train/hashed_bench passthrough for cache reuse.",
    oracle=lambda sf_dir: _fuzzy_decontaminate_oracle(),
)
def llm_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, max_jaccard, contaminated) for every train doc, with
    doc_id % BENCH_MOD == 0 standing in for the eval suite — the
    oracle-checkable rendering of :func:`fuzzy_decontaminate_from`."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text"
    )
    is_bench = (F.col("doc_id") % BENCH_MOD) == 0
    return fuzzy_decontaminate_from(
        train.where(~is_bench), docs.where(is_bench)
    )


def contamination_report_from(
    train_docs: DataFrame,
    bench_docs: DataFrame,
    hashed_train: DataFrame | None = None,
    hashed_bench: DataFrame | None = None,
) -> DataFrame:
    """Per-EVAL-doc leak report — the transpose of the decontamination
    verdicts: for every benchmark document, how many train docs leak it
    (exact 8-gram rung and fuzzy shingle-Jaccard rung) and the worst
    candidate Jaccard seen. This is the artifact an eval owner reads to
    decide which benchmark items are burnt — the per-train-doc verdicts
    (``decontaminate_from`` / ``fuzzy_decontaminate_from``) decide what to
    DROP; this decides what to stop TRUSTING.

    Plan mirrors the verdict operators': bench n-grams/bands/hash sets and
    both candidate relations broadcast; the corpus never shuffles anything
    wider than (doc_id, bench_doc, scalar) candidate rows. The exact rung
    here attributes hits to bench docs (the verdict form deliberately
    distinct's them away), so a train gram shared by k eval docs emits k
    candidate rows — bounded by the (tiny) suite, which is why the bench
    side stays the build side everywhere. ``hashed_train``/``hashed_bench``
    follow the same hashed contract as ``fuzzy_decontaminate_from``."""
    from .dedup import JACCARD_THRESHOLD, hashed_from

    # exact rung, pair-attributed: per-doc-DISTINCT grams on both sides so
    # the hit count is "distinct shared n-grams" (MIN_HITS semantics)
    bench_g = ngram_rows(bench_docs, N_GRAM, distinct_per_doc=True).select(
        F.col("doc_id").alias("bench_doc"), _hash60(F.col("ng")).alias("h")
    )
    train_g = ngram_rows(train_docs, N_GRAM, distinct_per_doc=True).select(
        "doc_id", _hash60(F.col("ng")).alias("h")
    )
    pair_hits = (
        train_g.join(F.broadcast(bench_g), "h")
        .groupBy("doc_id", "bench_doc")
        .agg(F.count(F.lit(1)).alias("nh"))
        .where(F.col("nh") >= MIN_HITS)
    )
    exact = pair_hits.groupBy("bench_doc").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_exact_leaks")
    )

    # fuzzy rung: the SAME shared candidate+verify plan as
    # fuzzy_decontaminate_from (_fuzzy_scored_pairs), grouped by the
    # bench side
    h_t = hashed_from(train_docs) if hashed_train is None else hashed_train
    h_b = (
        hashed_from(bench_docs, persist=False)
        if hashed_bench is None
        else hashed_bench
    )
    scored = _fuzzy_scored_pairs(h_t, h_b).select("bench_doc", "doc_id", "jac")
    fuzzy = scored.groupBy("bench_doc").agg(
        F.countDistinct(
            F.when(F.col("jac") >= JACCARD_THRESHOLD, F.col("doc_id"))
        )
        .cast("bigint")
        .alias("n_fuzzy_leaks"),
        F.max("jac").alias("worst"),
    )

    worst0 = F.coalesce(F.col("worst"), F.lit(0.0))
    return (
        bench_docs.select(F.col("doc_id").alias("bench_doc"))
        .join(F.broadcast(exact), "bench_doc", "left")
        .join(F.broadcast(fuzzy), "bench_doc", "left")
        .select(
            "bench_doc",
            F.coalesce(F.col("n_exact_leaks"), F.lit(0))
            .cast("bigint")
            .alias("n_exact_leaks"),
            F.coalesce(F.col("n_fuzzy_leaks"), F.lit(0))
            .cast("bigint")
            .alias("n_fuzzy_leaks"),
            F.round(worst0 + F.lit(1e-9), 4).alias("worst_jaccard"),
        )
    )


def _contamination_report_oracle() -> str:
    from .dedup import BASE_MINHASH_CTES_SQL, JACCARD_THRESHOLD

    return f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
e AS (
  SELECT doc_id, generate_subscripts(words, 1) AS pos, unnest(words) AS w FROM w
),
l AS (
  SELECT doc_id, w,
         {", ".join(f"lead(w, {i}) OVER win AS w{i}" for i in range(1, N_GRAM))}
  FROM e WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
ng AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(w || ' ' ||
           {" || ' ' || ".join(f"w{i}" for i in range(1, N_GRAM))}), 1, 15)
           AS BIGINT) AS h
  FROM l WHERE w{N_GRAM - 1} IS NOT NULL
),
bench_g AS (
  SELECT DISTINCT doc_id AS bench_doc, h FROM ng WHERE doc_id % {BENCH_MOD} = 0
),
train_g AS (
  SELECT DISTINCT doc_id, h FROM ng WHERE doc_id % {BENCH_MOD} <> 0
),
pair_hits AS (
  SELECT t.doc_id, b.bench_doc, COUNT(*) AS nh
  FROM train_g t JOIN bench_g b USING (h) GROUP BY 1, 2
),
exact AS (
  SELECT bench_doc, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_exact_leaks
  FROM pair_hits WHERE nh >= {MIN_HITS} GROUP BY 1
),
{BASE_MINHASH_CTES_SQL.strip()},
cands AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS bench_doc
  FROM bands a JOIN bands b ON a.band_key = b.band_key
  WHERE a.doc_id % {BENCH_MOD} <> 0 AND b.doc_id % {BENCH_MOD} = 0
),
verified AS (
  SELECT c.bench_doc, c.doc_id,
         CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) AS inter,
         CAST(len(x.hs) + len(y.hs) AS DOUBLE) AS sz
  FROM cands c
  JOIN hh x ON x.doc_id = c.doc_id
  JOIN hh y ON y.doc_id = c.bench_doc
),
fz AS (
  SELECT bench_doc,
         CAST(COUNT(DISTINCT CASE WHEN inter / (sz - inter)
              >= {JACCARD_THRESHOLD} THEN doc_id END) AS BIGINT)
           AS n_fuzzy_leaks,
         MAX(inter / (sz - inter)) AS worst
  FROM verified GROUP BY 1
)
SELECT d.doc_id AS bench_doc,
       CAST(COALESCE(e.n_exact_leaks, 0) AS BIGINT) AS n_exact_leaks,
       CAST(COALESCE(f.n_fuzzy_leaks, 0) AS BIGINT) AS n_fuzzy_leaks,
       ROUND(COALESCE(f.worst, 0) + 1e-9, 4) AS worst_jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id % {BENCH_MOD} = 0) d
LEFT JOIN exact e ON e.bench_doc = d.doc_id
LEFT JOIN fz f ON f.bench_doc = d.doc_id
"""


@register(
    "llm_contamination_report",
    survey_ops=("LLM-decontaminate", "A2", "A8"),
    # Driver-visible from birth in r9; folded r10 after earning its
    # hash-green row, freeing the slot for this round's second new
    # operator (text_ngram_novelty) to enter at birth — the same
    # earn-then-fold cycle as llm_fuzzy_decontaminate. Every tag stays
    # multiply driver-covered (LLM-decontaminate via llm_decontaminate).
    driver=False,
    doc="Per-eval-doc leak report (r9): for every benchmark document, the "
    "count of train docs leaking it through the exact 8-gram rung and "
    "through the fuzzy shingle-Jaccard rung, plus the worst candidate "
    "Jaccard — the transpose of the decontamination verdicts (what to "
    "stop trusting, not what to drop). Bench side broadcast everywhere.",
    oracle=lambda sf_dir: _contamination_report_oracle(),
)
def llm_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bench_doc, n_exact_leaks, n_fuzzy_leaks, worst_jaccard) with
    doc_id % BENCH_MOD == 0 standing in for the eval suite — the
    oracle-checkable rendering of :func:`contamination_report_from`."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text"
    )
    is_bench = (F.col("doc_id") % BENCH_MOD) == 0
    return contamination_report_from(
        train.where(~is_bench), docs.where(is_bench)
    )


NGRAM_NOVELTY_ORACLE_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
e AS (
  SELECT doc_id, generate_subscripts(words, 1) AS pos, unnest(words) AS w FROM w
),
l AS (
  SELECT doc_id, w,
         {", ".join(f"lead(w, {i}) OVER win AS w{i}" for i in range(1, N_GRAM))}
  FROM e WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
ng AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(w || ' ' ||
           {" || ' ' || ".join(f"w{i}" for i in range(1, N_GRAM))}), 1, 15)
           AS BIGINT) AS h
  FROM l WHERE w{N_GRAM - 1} IS NOT NULL
),
f AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY h) AS first_doc FROM ng
),
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_seen
  FROM f GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_seen, 0) AS BIGINT) AS n_seen,
       ROUND(1.0 - COALESCE(CAST(p.n_seen AS DOUBLE) / p.n_grams, 0.0)
             + 1e-9, 4) AS novelty
FROM documents d LEFT JOIN per p USING (doc_id)
"""


@register(
    "text_ngram_novelty",
    survey_ops=("DEDUP-ngram", "A2", "A8"),
    # NEW r10, driver-visible at birth (hash-green r10); folded r11 for
    # the rotation (see relational.py j3's note): DEDUP-ngram stays green
    # on dedup_minhash_lsh_pairs, A2/A8 on many rows. Its 2-exchange plan
    # shape stays pinned by tests/test_plans.py.
    driver=False,
    doc="Per-doc n-gram novelty score: the fraction of each document's "
    "distinct word 8-grams whose FIRST corpus occurrence (min doc_id "
    "over the gram's hash group) is the document itself — the standard "
    "curation gradient between exact-substring dedup and keep-everything "
    "(a doc that is 90% previously-seen text is boilerplate/near-dup "
    "even when no single twin crosses the pair thresholds). Docs shorter "
    "than the gram width score novelty 1.0 with zero grams. Scale: one "
    "map-only gram-hash pass (array HOF, no token exchange), ONE "
    "corpus-gram shuffle (window min over the 60-bit hash — grams of a "
    "hash co-locate; per-doc-distinct grams bound a flood gram's group "
    "at n_docs), then a map-side-combined per-doc agg of two ints. "
    "Nothing downstream of the scan carries text.",
    oracle=NGRAM_NOVELTY_ORACLE_SQL,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_grams, n_seen, novelty) for every document — the
    oracle-checkable rendering of :func:`ngram_novelty_from`."""
    train = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text"
    )
    return ngram_novelty_from(train)


def ngram_novelty_from(docs: DataFrame) -> DataFrame:
    """Library form over any (doc_id, text) relation: per-doc distinct
    8-gram counts and the fraction first seen in a LOWER-doc_id document
    (novelty = 1 - n_seen/n_grams; short docs score 1.0 with 0 grams).
    One gram-hash pass; see the registered spec's doc for the plan shape."""
    from pyspark.sql import Window

    g = ngram_rows(docs, N_GRAM, distinct_per_doc=True).select(
        "doc_id", _hash60(F.col("ng")).alias("h")
    )
    per = (
        g.withColumn(
            "first_doc", F.min("doc_id").over(Window.partitionBy("h"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_seen"),
        )
    )
    ratio = F.when(
        F.col("n_grams").isNotNull(),
        F.col("n_seen").cast("double") / F.col("n_grams"),
    ).otherwise(F.lit(0.0))
    return docs.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce("n_seen", F.lit(0)).cast("bigint").alias("n_seen"),
        F.round(F.lit(1.0) - ratio + F.lit(1e-9), 4).alias("novelty"),
    )


def _split_leakage_oracle() -> str:
    from .dedup import _PAIRS_CTES_SQL, JACCARD_THRESHOLD
    from .packing import TRAIN_UPTO, VAL_UPTO

    bucket = (
        "CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)"
        " AS BIGINT) % 1000"
    )
    return f"""
WITH {_PAIRS_CTES_SQL},
pairs AS (
  SELECT doc_a, doc_b, ROUND(inter / (sz - inter), 4) AS jac
  FROM verified WHERE inter / (sz - inter) >= {JACCARD_THRESHOLD}
),
sp AS (
  SELECT doc_id,
         CASE WHEN {bucket} < {TRAIN_UPTO} THEN 'train'
              WHEN {bucket} < {VAL_UPTO} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
leaks AS (
  SELECT CASE WHEN sa.split = 'train' THEN p.doc_b ELSE p.doc_a END AS doc_id,
         p.jac
  FROM pairs p
  JOIN sp sa ON sa.doc_id = p.doc_a
  JOIN sp sb ON sb.doc_id = p.doc_b
  WHERE (sa.split = 'train') <> (sb.split = 'train')
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_train_twins, MAX(jac) AS mx
  FROM leaks GROUP BY doc_id
)
SELECT s.doc_id, s.split,
       CAST(COALESCE(a.n_train_twins, 0) AS BIGINT) AS n_train_twins,
       COALESCE(a.mx, 0.0) AS max_jaccard,
       COALESCE(a.n_train_twins, 0) > 0 AS leaked
FROM sp s LEFT JOIN agg a USING (doc_id)
WHERE s.split <> 'train'
"""


@register(
    "llm_split_leakage",
    survey_ops=("LLM-split", "DEDUP-minhash", "F9", "A8"),
    # NEW r10, driver-visible at birth; llm_split_assign folded in
    # exchange — this oracle embeds the IDENTICAL split-bucket SQL, so
    # the split function keeps a hash-checked row transitively (a split
    # error changes every heldout membership here), and LLM-split/F2 stay
    # covered (F2 via f_predicate_bundle).
    doc="Train->heldout split leakage report: for every val/test doc, the "
    "count of TRAIN docs that near-duplicate it (the same verified "
    "MinHash-LSH pairs as the dedup ladder) and the worst Jaccard — "
    "eval-set hygiene INSIDE the corpus, the complement of benchmark "
    "decontamination (external suites). A heldout doc with a train twin "
    "inflates eval scores exactly like external contamination. Scale: "
    "the pair relation is band-key-joined ints (never all-pairs); split "
    "labels join onto the pair-sized relation, never the reverse; the "
    "leak aggregate is heldout-leak-sized and broadcast back onto the "
    "heldout completeness join.",
    oracle=lambda sf_dir: _split_leakage_oracle(),
)
def llm_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable rendering of :func:`split_leakage_from` over the
    ``documents`` table (pairs from the registered LSH spec, so the one
    spread-scan site is shared)."""
    from .dedup import dedup_minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    return split_leakage_from(docs, pairs=dedup_minhash_lsh_pairs(spark, sf_dir))


def split_leakage_from(docs: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """Library form over any (doc_id, text, lang) relation: per heldout
    doc, its train near-dup twin count / worst Jaccard / leaked flag.
    ``pairs`` (doc_a, doc_b, jaccard) defaults to the corpus's verified
    MinHash-LSH pairs; pass a caller-owned relation to reuse caches."""
    from .dedup import near_dup_pairs_from
    from .packing import split_assign_from

    splits = split_assign_from(docs).select("doc_id", "split")
    if pairs is None:
        pairs = near_dup_pairs_from(docs.select("doc_id", "text"))
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    leaks = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            (F.col("split_a") == "train") != (F.col("split_b") == "train")
        )
        .select(
            F.when(F.col("split_a") == "train", F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("doc_id"),
            "jaccard",
        )
    )
    agg = leaks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train_twins"),
        F.max("jaccard").alias("mx"),
    )
    heldout = splits.where(F.col("split") != "train")
    return heldout.join(F.broadcast(agg), "doc_id", "left").select(
        "doc_id",
        "split",
        F.coalesce("n_train_twins", F.lit(0)).cast("bigint").alias(
            "n_train_twins"
        ),
        F.coalesce("mx", F.lit(0.0)).alias("max_jaccard"),
        (F.coalesce("n_train_twins", F.lit(0)) > 0).alias("leaked"),
    )


# ---------------------------------------------------------------------------
# Embedding-space decontamination (r11) — the paraphrase-robust rung of the
# decontamination ladder: n-gram/Jaccard decontamination (llm_decontaminate /
# llm_fuzzy_decontaminate above) is lexical, so a paraphrased benchmark doc
# with low word overlap sails through. Embedding cosine catches it.
# ---------------------------------------------------------------------------

EMB_BENCH_MOD = 10  # vec_id % EMB_BENCH_MOD == 0 stands in for the eval suite
EMB_DECON_COS = 0.40  # similarity.NEAR_DUP_COS — synthetic-corpus threshold
EMB_DECON_MAX_BENCH_BYTES = 512 << 20  # loud refusal line for the broadcast


class DeconProbeStats:
    """Executor-side probe telemetry for
    :func:`embedding_decontaminate_from` — the family's skew metric
    (similarity.LshBucketStats pattern): the largest candidate set any
    single corpus row verified. Per-row verify work is O(candidates), and
    a degenerate SUITE (a mass of identical bench vectors in one band
    bucket) makes every colliding corpus row verify the whole suite —
    bounded by ``max_bench_bytes`` but worth exporting on a cluster run.
    Create one, pass it in, run any action, read ``max_candidates``."""

    def __init__(self, spark: SparkSession) -> None:
        from .similarity import _MaxAccumParam

        self._acc = spark.sparkContext.accumulator(0, _MaxAccumParam())

    @property
    def max_candidates(self) -> int:
        return int(self._acc.value)


def _build_probe(B, bands: int, bits: int, seed: int):
    """(Bn, lookup) for a bench matrix: per-row L2-normalized vectors and
    the {(band, key) -> row indices} candidate dict. Shared by the Spark
    kernel and the NumPy twin oracle (the serving-ADC shared-kernel idiom:
    one function, bitwise-identical both places)."""
    from .similarity import _lsh_band_keys, l2_normalize_rows

    lookup: dict[tuple[int, int], list[int]] = {}
    if not len(B):
        return B, lookup
    bkeys = _lsh_band_keys(B, bands, bits, seed)
    Bn = l2_normalize_rows(B)
    for b in range(bands):
        for i, k in enumerate(bkeys[:, b]):
            lookup.setdefault((b, int(k)), []).append(i)
    return Bn, lookup


def _probe_verdict_rows(
    ids, Vn, keys, Bn, lookup, bands: int, threshold: float, acc=None
) -> list[tuple]:
    """Verdict rows (id, n_bench_twins, max_cos, contaminated) for one
    block of corpus vectors against a built probe — candidate union over
    the row's band keys, exact per-pair ELEMENTWISE cosine (per-row
    reductions, bitwise identical under any batching), 4dp round. The one
    place the verdict math lives; kernel and oracle both call it.

    ``lookup=None`` = EXACT mode: every bench row is a candidate for
    every corpus row (``keys`` is then unused and may be None) — the
    same verdict math without the LSH candidate pruning, so recall is
    1.0 by construction at O(n_bench) verify work per row."""
    import numpy as np

    all_idx = list(range(len(Bn))) if lookup is None else None
    out = []
    for r in range(len(ids)):
        if all_idx is not None:
            cand_sorted = all_idx
        else:
            cand: set[int] = set()
            for b in range(bands):
                cand.update(lookup.get((b, int(keys[r, b])), ()))
            cand_sorted = sorted(cand)
        if acc is not None:
            acc.add(len(cand_sorted))
        n, mx = 0, 0.0
        if cand_sorted:
            cos = (Bn[cand_sorted] * Vn[r]).sum(axis=1)
            hit = cos >= threshold
            n = int(hit.sum())
            if n:
                mx = float(np.round(cos[hit].max(), 4))
        out.append((int(ids[r]), n, mx, n > 0))
    return out


def embedding_decontaminate_from(
    corpus_vecs: DataFrame,
    bench_vecs: DataFrame,
    threshold: float = EMB_DECON_COS,
    bands: int | None = None,
    bits: int | None = None,
    seed: int | None = None,
    max_bench_bytes: int = EMB_DECON_MAX_BENCH_BYTES,
    stats: "DeconProbeStats | None" = None,
    exact: bool = False,
) -> DataFrame:
    """Per corpus vector: its benchmark near-twin count / best cosine /
    contaminated flag, over any two (vec_id, v array<double>) relations.

    Plan — the asymmetric rendering of the LSH family (the eval suite is
    SMALL by definition; the corpus is the 100 TB side):

    1. the bench side is collected once, band-keyed with the same seeded
       sign-bit hyperplanes as ``similarity.emb_lsh_pairs_from``, and
       BROADCAST as a {(band, key) -> bench rows} probe dict (a Python
       broadcast, so no join relation enters the plan at all);
    2. the corpus is scanned ONCE in a map-only Arrow pass: each vector
       band-keys itself, probes the dict, and verifies the candidate
       union by exact elementwise cosine in-kernel.

    ZERO shuffles, zero joins, never all-pairs (plan-asserted): candidate
    work per corpus row is O(colliding bench rows), and the completeness
    contract (one output row per corpus vector) falls out of the map pass
    for free. ``max_bench_bytes`` refuses loudly when the "bench" side is
    too big to broadcast — at that size it is not an eval suite and the
    symmetric ``emb_lsh_pairs_from`` self-join is the right tool. Knobs
    omitted => derived from the BENCH count (the collision side) via
    ``derive_lsh_knobs``; probe recall at ``threshold`` rides its band-OR
    floor. ``exact=True`` skips the LSH pruning and verifies every corpus
    row against the WHOLE suite — recall 1.0 by construction at
    O(n_bench) per-row work, the right choice for small suites or
    thresholds where sign-bit recall sags; same plan shape, same shared
    verdict kernel. C3/C4: the kernel L2-normalizes the
    float->double-cast embeddings (featsio.py:13-22 contract) via
    ``similarity.l2_normalize_rows`` — an all-zero vector (either side)
    is left at zero, so its cosine is exactly 0.0 and it is NEVER
    flagged contaminated, by contract rather than by NaN accident
    (pinned by a Hypothesis case including the zero vector).

    Reference: decontamination has no counterpart in the reference engine;
    the near-dup threshold filter is generic_searcher.py:43-45.
    """
    import numpy as np
    import pyarrow as pa

    from ..functions import arrow_vec
    from .similarity import (
        LSH_SEED,
        _lsh_band_keys,
        derive_lsh_knobs,
        l2_normalize_rows,
    )

    if seed is None:
        seed = LSH_SEED
    # Budget pre-check BEFORE the collect (review r13): the toArrow
    # below is exactly the driver OOM this guard exists to refuse — a
    # post-collect check cannot prevent it (the load_codes idiom,
    # serving.py: count first, collect second). One cheap count + one
    # 1-row fetch estimate the buffer; the exact nbytes check below stays
    # as the precise backstop for ragged/odd inputs.
    n_bench = bench_vecs.count()
    if n_bench:
        first = bench_vecs.select("v").head(1)
        dim = len(first[0]["v"]) if first and first[0]["v"] is not None else 0
        est = n_bench * dim * 8
        if est > max_bench_bytes:
            raise RuntimeError(
                f"embedding_decontaminate_from: bench side is ~{est >> 20} "
                f"MiB ({n_bench} x {dim} float64) > max_bench_bytes="
                f"{max_bench_bytes >> 20} MiB; a relation this large is a "
                "corpus, not an eval suite — use the symmetric "
                "emb_lsh_pairs_from self-join (or raise max_bench_bytes)."
            )
    bench = bench_vecs.select("vec_id", "v").toArrow().sort_by("vec_id")
    B = arrow_vec.vectors(bench, "v", "embedding_decontaminate_from")
    if B.size and B.nbytes > max_bench_bytes:
        raise RuntimeError(
            f"embedding_decontaminate_from: bench side is {B.nbytes >> 20} "
            f"MiB > max_bench_bytes={max_bench_bytes >> 20} MiB; a relation "
            "this large is a corpus, not an eval suite — use the symmetric "
            "emb_lsh_pairs_from self-join (or raise max_bench_bytes)."
        )
    bench_ids = np.asarray(bench.column("vec_id"), dtype=np.int64)
    if bands is None or bits is None:
        d_bands, d_bits = derive_lsh_knobs(len(bench_ids), threshold=threshold)
        bands = d_bands if bands is None else bands
        bits = d_bits if bits is None else bits
    if exact:
        # exhaustive verify against the (already-broadcast-sized) suite:
        # recall 1.0 by construction, O(n_bench) elementwise work per
        # corpus row, still one map-only pass. The right default when the
        # suite is small or the threshold sits where sign-bit LSH recall
        # sags (derive_lsh_knobs warns below ~0.5) — the probe's only job
        # is to prune that per-row constant.
        Bn = l2_normalize_rows(B) if B.size else B
        lookup = None
    else:
        Bn, lookup = _build_probe(B, bands, bits, seed)
    spark = corpus_vecs.sparkSession
    bc = spark.sparkContext.broadcast((Bn, lookup))
    acc = stats._acc if stats is not None else None

    def probe(batches):
        Bn_w, lookup_w = bc.value
        for batch in batches:
            if not batch.num_rows:
                continue
            V = arrow_vec.vectors(batch, "v", "embedding_decontaminate_from")
            keys = (
                None
                if lookup_w is None
                else _lsh_band_keys(V, bands, bits, seed)
            )
            out = _probe_verdict_rows(
                np.asarray(batch.column("vec_id")), l2_normalize_rows(V), keys,
                Bn_w, lookup_w, bands, threshold, acc,
            )
            yield pa.record_batch(
                list(zip(*out)),
                names=["vec_id", "n_bench_twins", "max_cos", "contaminated"],
            )

    return corpus_vecs.mapInArrow(
        probe,
        "vec_id bigint, n_bench_twins bigint, max_cos double, "
        "contaminated boolean",
    )


def _embedding_decontaminate_oracle(sf_dir: str) -> str:
    """NumPy twin over the fixture embeddings parquet: identical seeded
    planes, band keys, candidate probe, and elementwise cosine as the
    Spark kernel (the established twin-oracle pattern of
    emb_lsh_near_dup_pairs)."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from ..lopq.twin import values_sql
    from .similarity import (
        LSH_BANDS,
        LSH_BITS,
        LSH_SEED,
        _lsh_band_keys,
        l2_normalize_rows,
    )

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    X = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
    is_bench = ids % EMB_BENCH_MOD == 0
    border = np.argsort(ids[is_bench], kind="stable")
    B = X[is_bench][border]
    C, corpus_ids = X[~is_bench], ids[~is_bench]
    ckeys = _lsh_band_keys(C, LSH_BANDS, LSH_BITS, LSH_SEED)
    Cn = l2_normalize_rows(C)
    Bn, lookup = _build_probe(B, LSH_BANDS, LSH_BITS, LSH_SEED)
    rows = _probe_verdict_rows(
        corpus_ids, Cn, ckeys, Bn, lookup, LSH_BANDS, EMB_DECON_COS
    )
    return values_sql(
        sorted(rows),
        [
            ("vec_id", "BIGINT"),
            ("n_bench_twins", "BIGINT"),
            ("max_cos", "DOUBLE"),
            ("contaminated", "BOOLEAN"),
        ],
    )


@register(
    "llm_embedding_decontaminate",
    survey_ops=("LLM-decontaminate", "DEDUP-embedding", "F9", "C3", "C4"),
    # NEW r11, driver-visible at birth (VERDICT r10 next-round item 5):
    # the paraphrase-robust decontamination rung the lexical ladder lacks.
    # Driver-green r11-r15; stays declared through the r16 optimization
    # round (window frozen to the CORRECTNESS_r15 key set).
    doc=f"Embedding-space benchmark decontamination: flag corpus vectors "
    f"within cosine {EMB_DECON_COS} of any eval-suite vector (vec_id % "
    f"{EMB_BENCH_MOD} == 0 stands in for the suite). The bench side is "
    "band-keyed once and BROADCAST as a probe dict; the corpus runs ONE "
    "map-only Arrow pass (band-key, probe, exact cosine verify in-kernel) "
    "— zero shuffles, zero joins, never all-pairs (plan-asserted). "
    "Oracle: NumPy twin (identical seeded planes + elementwise kernels). "
    "INDEPENDENT cross-engine checks: exact mode vs DuckDB brute force "
    "(tests/test_hygiene.py::test_embedding_decontaminate_exact_mode_is_"
    "brute_force) and the probe path vs a full SQL reconstruction — "
    "planes as a VALUES relation, band keys bit-packed in DuckDB, "
    "verdict = brute force filtered by the band-collision join "
    "(::test_embedding_decontaminate_probe_path_independent_duckdb).",
    oracle=_embedding_decontaminate_oracle,
)
def llm_embedding_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    is_bench = (F.col("vec_id") % EMB_BENCH_MOD) == 0
    # spread only the corpus branch: it carries the Arrow kernel; the bench
    # branch is a one-shot driver collect (same asymmetry as
    # llm_decontaminate's train-only spread, measured there)
    corpus = (
        load_table(spark, sf_dir, "embeddings", spread=True)
        .where(~is_bench)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    bench = (
        load_table(spark, sf_dir, "embeddings")
        .where(is_bench)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    from .similarity import LSH_BANDS, LSH_BITS

    # fixture knobs EXPLICIT (the twin oracle reproduces exactly these);
    # library callers omit them and get bench-count-derived knobs
    return embedding_decontaminate_from(
        corpus, bench, bands=LSH_BANDS, bits=LSH_BITS
    )


REPETITION_ORACLE_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
e AS (
  SELECT doc_id, generate_subscripts(words, 1) AS pos, unnest(words) AS w FROM w
),
l AS (
  SELECT doc_id, w,
         lead(w, 1) OVER win AS w1, lead(w, 2) OVER win AS w2
  FROM e WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
g AS (
  SELECT doc_id, 1 AS n, w AS gram FROM l
  UNION ALL
  SELECT doc_id, 2, w || ' ' || w1 FROM l WHERE w1 IS NOT NULL
  UNION ALL
  SELECT doc_id, 3, w || ' ' || w1 || ' ' || w2 FROM l WHERE w2 IS NOT NULL
),
c AS (SELECT doc_id, n, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, n, gram),
p AS (
  SELECT doc_id, n, SUM(cnt) AS total, COUNT(*) AS dist, MAX(cnt) AS mx
  FROM c GROUP BY doc_id, n
),
f AS (
  SELECT doc_id,
         CAST(MAX(CASE WHEN n = 1 THEN total END) AS BIGINT) AS n_words,
         ROUND(1.0 - CAST(MAX(CASE WHEN n = 1 THEN dist END) AS DOUBLE)
               / MAX(CASE WHEN n = 1 THEN total END) + 1e-9, 4) AS dup_word_frac,
         ROUND(CAST(MAX(CASE WHEN n = 1 THEN mx END) AS DOUBLE)
               / MAX(CASE WHEN n = 1 THEN total END) + 1e-9, 4) AS top_word_frac,
         ROUND(1.0 - CAST(MAX(CASE WHEN n = 2 THEN dist END) AS DOUBLE)
               / MAX(CASE WHEN n = 2 THEN total END) + 1e-9, 4) AS dup_2gram_frac,
         ROUND(CAST(MAX(CASE WHEN n = 2 THEN mx END) AS DOUBLE)
               / MAX(CASE WHEN n = 2 THEN total END) + 1e-9, 4) AS top_2gram_frac,
         ROUND(1.0 - CAST(MAX(CASE WHEN n = 3 THEN dist END) AS DOUBLE)
               / MAX(CASE WHEN n = 3 THEN total END) + 1e-9, 4) AS dup_3gram_frac,
         ROUND(CAST(MAX(CASE WHEN n = 3 THEN mx END) AS DOUBLE)
               / MAX(CASE WHEN n = 3 THEN total END) + 1e-9, 4) AS top_3gram_frac
  FROM p GROUP BY doc_id
)
SELECT *,
       (top_word_frac > {REP_TOP_WORD} OR dup_3gram_frac > {REP_DUP_3GRAM})
         AS repetitive
FROM f
"""


@register(
    "text_repetition_stats",
    survey_ops=("LLM-repetition", "A2"),
    doc="Gopher-style per-document repetition stats (dup/top n-gram "
    "fractions, n=1..3): a MAP-ONLY Arrow pass — repetition is a per-doc "
    "property, so each document's n-gram counters are computed inside one "
    "mapInPandas batch with zero shuffle, pipelined out of the scan "
    "(replaces the posexplode+window form that shuffled every token "
    "twice; O(len)/doc either way, but no exchange at 100 TB).",
    oracle=REPETITION_ORACLE_SQL,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition pathology stats over word n-grams
    (n = 1, 2, 3), for documents with >= 3 words:

    - ``dup_Ngram_frac``: fraction of n-gram *occurrences* that are
      repeats of an earlier occurrence (1 - distinct/total);
    - ``top_Ngram_frac``: share of occurrences taken by the single most
      frequent n-gram;
    - ``repetitive``: flag from the rounded fractions, so the verdict is
      engine-portable.

    Map-only: see :func:`repetition_stats_from`.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    return repetition_stats_from(docs)


def _round_half_up_4(x: float) -> float:
    """Spark's ROUND(x, 4): BigDecimal(double) — the EXACT binary value —
    rounded HALF_UP at 4 decimals. Python's ``round`` is HALF_EVEN and
    would diverge on boundaries; ``decimal.Decimal(float)`` is the same
    exact-binary-expansion construction as Java's ``new BigDecimal(double)``,
    so this mirrors the JVM bit-for-bit."""
    import decimal

    return float(
        decimal.Decimal(x).quantize(
            decimal.Decimal("0.0001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def repetition_stats_from(docs: DataFrame) -> DataFrame:
    """DataFrame-level repetition stats over any (doc_id, text) relation —
    documents with fewer than 3 words are dropped (no trigram exists).

    MAP-ONLY plan: one Arrow pass computes each document's n-gram counters
    independently (repetition is a per-doc property — no cross-doc state),
    so the stage pipelines straight out of the scan with ZERO shuffle. The
    earlier posexplode + window + two-groupBy form shuffled every token of
    the corpus twice to compute the same per-doc counters; at 100 TB that
    is the difference between a pass and a sort. Fractions reproduce the
    previous expressions bit-for-bit (same IEEE divisions, same +1e-9
    nudge, same HALF_UP rounding), so the DuckDB oracle is unchanged."""
    from collections import Counter
    from collections.abc import Iterator

    import pandas as pd

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = (text or "").split(" ")
                if len(words) < 3:
                    continue
                row: list = [int(doc_id), len(words)]
                for n in (1, 2, 3):
                    grams = Counter(
                        " ".join(words[i : i + n])
                        for i in range(len(words) - n + 1)
                    )
                    total = len(words) - n + 1
                    dup = _round_half_up_4(
                        1.0 - len(grams) / total + 1e-9
                    )
                    top = _round_half_up_4(
                        max(grams.values()) / total + 1e-9
                    )
                    row += [dup, top]
                row.append(row[3] > REP_TOP_WORD or row[6] > REP_DUP_3GRAM)
                out.append(tuple(row))
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "n_words",
                    "dup_word_frac", "top_word_frac",
                    "dup_2gram_frac", "top_2gram_frac",
                    "dup_3gram_frac", "top_3gram_frac",
                    "repetitive",
                ],
            )

    return docs.select("doc_id", "text").mapInPandas(
        stats,
        "doc_id bigint, n_words bigint, "
        "dup_word_frac double, top_word_frac double, "
        "dup_2gram_frac double, top_2gram_frac double, "
        "dup_3gram_frac double, top_3gram_frac double, "
        "repetitive boolean",
    )


BOILERPLATE_MIN_DOCS = 3  # an n-gram in >= this many docs is boilerplate
BOILERPLATE_N = 4  # shorter than decontam's 8: templates repeat in chunks

BOILERPLATE_ORACLE_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
e AS (
  SELECT doc_id, generate_subscripts(words, 1) AS pos, unnest(words) AS w FROM w
),
l AS (
  SELECT doc_id, w,
         {", ".join(f"lead(w, {i}) OVER win AS w{i}" for i in range(1, BOILERPLATE_N))}
  FROM e WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
ng AS (
  SELECT DISTINCT doc_id,
         w || ' ' || {" || ' ' || ".join(f"w{i}" for i in range(1, BOILERPLATE_N))} AS gram
  FROM l WHERE w{BOILERPLATE_N - 1} IS NOT NULL
)
SELECT gram,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM ng
GROUP BY gram
HAVING COUNT(*) >= {BOILERPLATE_MIN_DOCS}
"""


def boilerplate_ngrams_from(docs: DataFrame, n: int = BOILERPLATE_N) -> DataFrame:
    """(gram, n_docs, first_doc): word n-grams occurring in at least
    BOILERPLATE_MIN_DOCS distinct documents — the cross-document repeated
    spans (site headers, license blocks, template text) that substring-level
    dedup removes from training corpora.

    Per-doc DISTINCT happens INSIDE the gram array (``array_distinct``
    before the explode — zero shuffle) so a gram repeated within one doc
    counts once; then ONE partial-agg groupBy on the gram is the only
    exchange in the plan. The heavy tail of unique grams partial-aggregates
    to nothing map-side."""
    grams = ngram_rows(docs, n, distinct_per_doc=True).withColumnRenamed(
        "ng", "gram"
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .where(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
    )


@register(
    "text_boilerplate_ngrams",
    survey_ops=("LLM-boilerplate", "A8"),
    doc=f"Cross-document boilerplate {BOILERPLATE_N}-grams (site headers, "
    "license blocks): per-doc DISTINCT first, then one partial-agg groupBy "
    f"on the gram, HAVING >= {BOILERPLATE_MIN_DOCS} docs — the unique-gram "
    "heavy tail partial-aggregates to nothing map-side.",
    oracle=BOILERPLATE_ORACLE_SQL,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable rendering of :func:`boilerplate_ngrams_from` over
    the ``documents`` table."""
    return boilerplate_ngrams_from(
        load_table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    )


# ---------------------------------------------------------------------------
# PII scrubbing: redact contact-like spans before training
# ---------------------------------------------------------------------------

# Redaction patterns. Deliberately simple, high-precision shapes (the same
# tier as public C4/RefinedWeb-style scrubbing): emails, +d phone runs, and
# dotted-quad IPs. ORDER MATTERS: emails first (an email contains digits a
# phone pattern could nibble), then IPs (dotted digits), then phones.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # digit groups REQUIRED after each separator (no optional trailing
    # `[- ]?\d{0,4}` tail — that shape lets the match swallow a following
    # space, which leftmost-first Java and leftmost-longest RE2 could
    # disagree on for other inputs)
    ("phone", r"\+\d{1,3}(?:[- ]\d{2,4}){2,3}", "<PHONE>"),
]


def scrub_pii_from(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact contact-like spans in ``text_col``: emails, +international
    phone runs, dotted-quad IPs — each span replaced by a typed placeholder
    token, with per-doc match counts (n_email / n_ip / n_phone) so a
    downstream policy can drop PII-dense documents instead of just
    scrubbing them.

    One narrow codegen'd pass (regexp_count + chained regexp_replace), no
    shuffle — at 100 TB this is a map-only stage pipelined into the scan.

    Each pattern is COUNTED on the text after the previous patterns'
    replacements, matching what its replace step actually sees — counting
    everything on the raw text would report phantom matches for spans an
    earlier pattern already consumed (digits inside an email's local part
    read as a phone/IP) and the counts would disagree with the placeholders
    present in ``scrubbed``.
    """
    scrubbed = F.col(text_col)
    count_cols = []
    for name, pat, token in PII_PATTERNS:
        count_cols.append(
            F.regexp_count(scrubbed, F.lit(pat)).cast("bigint").alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return docs.select("*", *count_cols, scrubbed.alias("scrubbed"))


PII_SCRUB_ORACLE_SQL = r"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1 555 01' || CAST(doc_id % 100 AS VARCHAR)
              || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' AS t0
  FROM documents
),
s1 AS (
  SELECT doc_id, t0,
         regexp_replace(t0,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
  FROM seeded
),
s2 AS (
  SELECT doc_id, t0, t1,
         regexp_replace(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t2
  FROM s1
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t0,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t1,
         '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip,
       CAST(len(regexp_extract_all(t2,
         '\+\d{1,3}(?:[- ]\d{2,4}){2,3}')) AS BIGINT) AS n_phone,
       regexp_replace(t2, '\+\d{1,3}(?:[- ]\d{2,4}){2,3}', '<PHONE>', 'g') AS scrubbed
FROM s2
"""


@register(
    "llm_pii_scrub",
    survey_ops=("LLM-pii", "F11", "C1"),
    doc="PII scrubbing: redact emails / +international phones / dotted-quad "
    "IPs to typed placeholder tokens with per-doc match counts (the "
    "C4/RefinedWeb-tier scrub a pipeline runs before training). The "
    "fixture corpus carries no PII, so the query SEEDS deterministic "
    "contact strings derived from doc_id into each document (same "
    "derivation in the oracle) — the operator itself is one map-only "
    "codegen'd pass of regexp_count + chained regexp_replace.",
    oracle=PII_SCRUB_ORACLE_SQL,
)
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555 01"),
            (F.col("doc_id") % 100).cast("string"),
            F.lit(" at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        ).alias("text"),
    )
    return scrub_pii_from(seeded).select(
        "doc_id", "n_email", "n_ip", "n_phone", "scrubbed"
    )
