"""Query facade — the REST surface's semantics as one callable.

Mirrors the reference's search entry path: ``search_from_feats``
(``searcher/searcher_lopqhbase.py:783-1067``) with options {max_returned,
near_dup / near_dup_th, rerank, detect_only} and ``DictOutput.format_output``'s nested
ranked structure (``searcher/output_mapping.py:78-230``) — minus the HTTP
plumbing (Flask/gunicorn workers are out of scope per SURVEY §7.3; any HTTP
layer calls this).

Two execution tiers, same answers:
- batch: the distributed DataFrame pipeline (this module) — throughput path;
- serving: ``lopq.serving.ServingSearcher`` over the same codes table —
  the <1 s latency path (equality is asserted in tests/test_serving_layout).
"""

from __future__ import annotations

from typing import Any

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .lopq.queries import codes_df, fixture_model
from .lopq.search import search
from .sources import load_table

DEFAULT_MAX_RETURNED = 10
DEFAULT_NEAR_DUP_TH = 0.8  # reference default, generic_searcher.py:43-45


def similarity_search(
    spark: SparkSession,
    sf_dir: str,
    query_vectors: list[tuple[int, np.ndarray]],
    max_returned: int = DEFAULT_MAX_RETURNED,
    near_dup: bool = False,
    near_dup_th: float = DEFAULT_NEAR_DUP_TH,
    rerank: bool = True,
) -> dict[str, Any]:
    """Ranked similar items per query with metadata, as the nested output
    structure of the reference API.

    quota follows the reference: min(1000 * max_returned, 10000)
    (searcher_lopqhbase.py:838)."""
    model = fixture_model(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    # exactly the documented reference formula (review r13: a leftover
    # third term QUOTA*max(1, max_returned//10) always dominated — 300 vs
    # the documented 10000 — silently cutting the candidate pool ~33x for
    # every caller of this public surface)
    quota = min(1000 * max_returned, 10000)
    res = search(
        spark,
        codes_df(spark, sf_dir),
        model,
        query_vectors,
        quota=quota,
        k=max_returned,
        vectors=emb if rerank else None,
        rerank_nb=4 * max_returned if rerank else 0,
    )
    dist_col = "exact_dist" if rerank else "adc_dist"
    if near_dup:
        # F9: near-dup filter keeps dist <= threshold
        res = res.where(F.col(dist_col) <= float(near_dup_th))
    # J4: ranked ids -> metadata, order preserved via the rank key
    meta = emb.select(F.col("vec_id").alias("id"), "label")
    rows = (
        res.join(meta, "id", "left")
        .select("qid", "rank", "id", "label", F.col(dist_col).alias("dist"))
        .orderBy("qid", "rank")
        .collect()
    )
    out: dict[str, Any] = {"search_mode": "rerank" if rerank else "adc", "queries": []}
    by_qid: dict[int, list] = {}
    for r in rows:
        by_qid.setdefault(int(r["qid"]), []).append(r)
    for qid, _ in query_vectors:
        items = by_qid.get(int(qid), [])
        out["queries"].append(
            {
                "query_id": int(qid),
                "number_similar": len(items),
                "similar_items": {
                    "ids": [int(r["id"]) for r in items],
                    "labels": [
                        (int(r["label"]) if r["label"] is not None else None)
                        for r in items
                    ],
                    "distances": [round(float(r["dist"]), 6) for r in items],
                },
            }
        )
    return out


def search_by_image(
    spark: SparkSession,
    images,
    query_images: list[tuple[str, bytes]],
    max_returned: int = DEFAULT_MAX_RETURNED,
    mode: str = "full_image",
    model_factory=None,
    train_params: dict | None = None,
    detect_only: bool = False,
) -> dict[str, Any]:
    """Query-by-image — the reference's byB64/byURL flow composed end-to-end
    (api.py request -> featurize -> searcher, searchapi + 
    searcher_lopqhbase.py:783-912): extract features for the corpus images
    (V17 composition over the V14 seam), index them with a LOPQ model fit
    on a bounded ordered driver sample (the reference's nb_train
    architecture), encode distributed, then search with the query images'
    features extracted by the SAME model seam. Returns
    {query_name: {"sha1s": [...], "distances": [...]}} ranked ascending.

    An indexed image queried by its own bytes returns itself at rank 1
    with distance 0 (the reference's self-retrieval sanity property —
    pinned in tests). Face mode reports the detected bbox with every
    face's results (the reference's per-face QueryFace field); with
    ``detect_only`` (option, api.py:40-41) detection runs but featurize,
    indexing and search are all skipped."""
    from .functions import arrow_vec
    from .functions.rank import ordered_global_index
    from .lopq.encode import encode_dataframe
    from .lopq.model import LOPQModel
    from .lopq.search import search as lopq_search
    from .multimodal.images import ToyExtractionModel, run_extraction

    factory = model_factory or ToyExtractionModel
    params = train_params or {"V": 4, "M": 4, "K": 8, "seed": 5, "n_iter": 8}

    if mode == "face" and detect_only:
        # The reference's detect_only option (api.py:40-41, checked at
        # generic_searcher.py:381 / searcher_lopqhbase.py:851): detection
        # runs on the query images, featurize + search skip. In this batch
        # facade that means the corpus relation is NEVER extracted or
        # indexed — the expensive distributed stages the option exists to
        # avoid. Each detected face appears with its bbox and the empty
        # result entry; detector-less full_image mode ignores the option,
        # exactly like the reference's detector-less flow
        # (generic_searcher.py:391-410 featurizes unconditionally).
        q_model = factory()
        return {
            name: {
                fi: {
                    "bbox": [int(left), int(top), int(right), int(bottom)],
                    "sha1s": [],
                    "distances": [],
                }
                for fi, (left, top, right, bottom, _score) in enumerate(
                    q_model.detect(data)
                )
            }
            for name, data in query_images
        }

    # one row per sha1 (review r14, same as http_api._extract_ided): the
    # reference's sha1 row key dedups duplicated corpus rows by
    # construction; without this a dup featurizes twice and the same
    # image occupies two top-k slots
    images = images.dropDuplicates(["sha1"])
    feats = run_extraction(images, mode=mode, model_factory=factory)
    ok = feats.where(F.col("failed") == 0)
    if mode == "face":
        # several faces can share one sha1 — the index key is (sha1, bbox),
        # exactly the reference's `sha1_bbox` id suffix (C6)
        ok = ok.select(
            F.concat_ws(
                "_", "sha1",
                F.col("bbox.left"), F.col("bbox.top"),
                F.col("bbox.right"), F.col("bbox.bottom"),
            ).alias("item_key"),
            "sha1",
            "feature",
        )
    else:
        ok = ok.select(F.col("sha1").alias("item_key"), "sha1", "feature")
    # Featurization is the expensive stage (V14/V17). The numbering's range
    # exchange samples its input in a job of its own before the exchange
    # reads it, and four downstream actions consume `ided` (train sample,
    # distributed encode, rerank vectors join, metadata join) — pin the
    # extraction BEFORE it is numbered so it runs once.
    ok = ok.persist()
    ided = ordered_global_index(ok, "item_key", "id").select(
        "id", "sha1", F.col("feature").cast("array<double>").alias("v")
    )
    sample = ided.orderBy("id").limit(20000).select("v").toArrow()
    def _empty_results() -> dict[str, Any]:
        # The zero-result shape must match the normal path's per-mode value
        # type (review r14): full_image callers index result[name]["sha1s"],
        # so they get empty lists, not a bare {}; face mode's per-name value
        # is a face_idx dict, and "no faces detected" is honestly {}.
        if mode == "full_image":
            return {
                name: {"sha1s": [], "distances": []} for name, _ in query_images
            }
        return {name: {} for name, _ in query_images}

    if not sample.num_rows:
        # zero successful extractions (face mode can detect no faces on a
        # small corpus; every row may carry the failed marker) — return
        # the empty-result shape instead of crashing LOPQModel.fit on an
        # empty array (review r13), and release the pin
        ok.unpersist()
        return _empty_results()
    model = LOPQModel.fit(
        arrow_vec.vectors(sample, "v", "api.search_by_image"), **params
    )
    codes = encode_dataframe(spark, ided, model, id_col="id", vec_col="v")

    # Query featurization mirrors the index mode (reference face search:
    # EVERY detected query face probes the face index with its own vector,
    # searcher_lopqhbase.py:783-830 — so one query image can carry several
    # query points, keyed (name, face_idx) in the output).
    q_model = factory()
    queries: list[tuple[int, np.ndarray]] = []
    qkeys: list[tuple[str, int]] = []  # (query name, face_idx or -1)
    qboxes: list[list[int] | None] = []  # detected bbox per face query
    for name, data in query_images:
        if mode == "full_image":
            queries.append(
                (len(qkeys), np.asarray(q_model.featurize_full(data), dtype=np.float64))
            )
            qkeys.append((name, -1))
            qboxes.append(None)
        else:
            for fi, (left, top, right, bottom, _score) in enumerate(
                q_model.detect(data)
            ):
                vec = q_model.featurize_face(data, (left, top, right, bottom))
                queries.append((len(qkeys), np.asarray(vec, dtype=np.float64)))
                qkeys.append((name, fi))
                qboxes.append([int(left), int(top), int(right), int(bottom)])
    if not queries:
        ok.unpersist()
        return _empty_results()
    res = lopq_search(
        spark, codes, model, queries,
        quota=min(1000 * max_returned, 10000), k=max_returned,
        vectors=ided, id_col="id", vec_col="v", rerank_nb=4 * max_returned,
    )
    # J4 ranked-metadata join (operators/relational.py:324 pattern): resolve
    # result ids to sha1s distributed, so the driver only ever collects
    # O(queries * k) rows — never the full index's id->sha1 map.
    resolved = (
        res.join(ided.select("id", "sha1"), "id", "left")
        .select("qid", "rank", "sha1", "exact_dist")
        .orderBy("qid", "rank")
        .collect()
    )
    ok.unpersist()
    # lopq_search persisted `codes` (it had no cache of its own); the
    # collect above consumed the result, so release the entry here — a
    # service calling search_by_image repeatedly otherwise accumulates one
    # full cached codes relation per call (review r13)
    codes.unpersist()
    by_qid: dict[int, list] = {}
    for r in resolved:
        by_qid.setdefault(int(r["qid"]), []).append(r)
    out: dict[str, Any] = {}
    for qid, (name, face_idx) in enumerate(qkeys):
        items = by_qid.get(qid, [])
        entry = {
            "sha1s": [r["sha1"] for r in items],
            "distances": [round(float(r["exact_dist"]), 6) for r in items],
        }
        if mode == "full_image":
            out[name] = entry
        else:
            # the detected bbox travels with each face's results (the
            # reference's per-face QueryFace field, output_mapping.py:139)
            entry["bbox"] = qboxes[qid]
            out.setdefault(name, {})[face_idx] = entry
    # query images with zero detected faces still appear (empty result)
    for name, _ in query_images:
        out.setdefault(name, {})
    return out
