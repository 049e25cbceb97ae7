"""HTTP serving layer — the reference's REST surface over the serving tier.

The reference exposes search through a Flask/flask-restful endpoint
(``cufacesearch/cufacesearch/api/api.py`` APIResponder, registered at
``/<endpoint>/<mode>`` by ``www/run_search_api.py:61``). This module is the
same surface as a stdlib-only ``http.server`` layer (no Flask in this
environment), deliberately transport-thin: every search request is answered
by the in-memory :class:`~.lopq.serving.ServingSearcher` replica (the <1 s
tier), never by launching a Spark job — exactly the reference's
architecture, where gunicorn workers hold the loaded LOPQ searcher.

Covered modes (``api.py:43-70,120-169``):
- ``byB64``   — comma-separated base64 images (``search_byB64``, api.py:287-305)
- ``bySHA1``  — comma-separated indexed sha1s (``search_bySHA1``, api.py:260-285)
- ``byURL``   — comma-separated image URLs (``search_byURL``, api.py:232-246;
  the reference's primary README entry point). The fetcher is pluggable:
  the default resolves ``data:`` URIs, ``file://`` URLs and plain local
  paths (no network in this environment) and falls through to
  ``urllib.request`` for http(s) where available.
- ``byPATH``  — local file paths (``search_byPATH``, api.py:248-258)
- ``view_similar_by{B64,SHA1,URL,PATH}`` — the same searches rendered as a
  minimal HTML results page (``view_similar_query_response``,
  api.py:410-507 + ``www/templates/view_similar_images.html``): query image
  inline (data: URI where the bytes are at hand, else a
  ``view_image_sha1`` link), each similar image an ``<img>`` pointing at
  this server's ``view_image_sha1`` endpoint with the distance as title.
- ``status``  — uptime / index size / last refresh (``status``, api.py:321-338)
- ``refresh`` — reindex pending images (``refresh``, api.py:308-319; our twin
  takes the new-images relation through the same extract→encode→add_codes
  path, ST6 at the serving tier)

Options contract (``api.py:40-41,192-215`` get_options_dict/append_errors):
{near_dup, near_dup_th, max_returned, reranking, rerank_nb, detect_only,
no_blur, max_height} — the reference's full valid_options list
(api.py:40-41); unknown options do not fail the query — they append an
``errors`` map to the response. ``reranking`` toggles exact rerank off/on
(off -> ADC answers; ``rerank_nb`` only sizes the shortlist when on,
searcher_lopqhbase.py:823-831). ``no_blur`` / ``max_height`` are view
settings (api.py:517-523): they pick the img class (img_vis / img_blur)
and inline height on the view_similar_* pages. ``detect_only`` (face
mode, searcher_lopqhbase.py:851) runs detection but skips featurize +
search; each detected face still appears with the empty result shape,
and every face-mode entry carries the detected bboxes (``QueryFaces``,
the reference's per-face QueryFace field).

Responses carry ``Timing`` like ``process_query`` (api.py:155-189). Output field
names follow the reference's CamelCase DictOutput map
(``searcher/output_mapping.py:54-59``: QuerySha1 / SimilarImages /
NumberImages / ImageSha1s / Distances).

Transport: :func:`make_server` returns a :class:`PooledHTTPServer`, a
fixed pool of :data:`SERVER_THREADS` accept threads. Each thread takes a
connection and answers it start to finish, as each of the reference's
gunicorn workers, holding the loaded searcher, serves a request; no thread
is started and no other thread is woken per request. The thread reads the
request straight off the socket and sends the response with one write.

Scale shape: the service holds ONLY budget-guarded serving state (codes
dict, id→sha1 array, rerank vectors — the reference's per-worker LMDB/dict
envelope); the Spark cluster is touched at build/refresh time, one
distributed extraction each, counted against the budget and then
collected once; the service numbers and encodes the collected rows itself.
"""

from __future__ import annotations

import base64
import json
import socket
import socketserver
import threading
import time
from datetime import datetime
from email.utils import formatdate
from http import HTTPStatus
from typing import Any
from urllib.parse import parse_qs, urlparse

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import arrow_vec

DEFAULT_ENDPOINT = "cuimgsearch"  # www/run_search_api.py:40 default
VALID_OPTIONS = (
    "near_dup", "near_dup_th", "max_returned", "reranking", "rerank_nb",
    "detect_only", "no_blur", "max_height",
)
REFRESH_DELAY_S = 3600  # check_new_updates refresh throttle (api.py:26)
DEFAULT_NEAR_DUP_TH = 0.8  # generic_searcher.py:43-45
DEFAULT_MAX_RETURNED = 10
QUOTA_CAP = 10_000  # searcher_lopqhbase.py:838


class ImageSearchService:
    """The engine behind the endpoint: a serving replica plus the metadata
    needed to answer byB64/bySHA1 without Spark on the query path.

    Build with :meth:`build` (one distributed extraction over the images
    relation, then a bounded-sample LOPQ fit and the encode on the
    collected rows — the same composition as ``api.search_by_image``, but
    the artifacts are KEPT for serving).
    """

    def __init__(self, spark, model, searcher, id_to_sha1, sha1_to_ids,
                 q_model, mode: str, images: DataFrame | None = None,
                 source_path: str | None = None, fetcher=None,
                 model_factory=None, near_dup: bool = False,
                 near_dup_th: float = DEFAULT_NEAR_DUP_TH,
                 reranking: bool = True,
                 id_to_bbox: dict[int, list[int]] | None = None) -> None:
        self.spark = spark
        self.model = model
        self.searcher = searcher  # ServingSearcher with resident vectors
        self.id_to_sha1 = id_to_sha1  # dict[int, str]
        self.sha1_to_ids = sha1_to_ids  # dict[str, list[int]]
        # face mode only: item id -> its detected [l, t, r, b] at index
        # time, so bySHA1 answers attribute each result list to a region.
        # Constructor-injectable (ADVICE r15): a directly-constructed face
        # service previously served null bboxes until a build()/refresh
        # populated the attribute from outside.
        self.id_to_bbox: dict[int, list[int]] = dict(id_to_bbox or {})
        self.q_model = q_model
        self.mode = mode
        # the EXTRACTION factory exactly as build() received it (review
        # r13): refresh previously reconstructed it as type(self.q_model),
        # which silently loses any configuration a non-class factory
        # carried (a lambda closing over weights) — the refresh job then
        # featurized with a default-configured model, or crashed if the
        # class takes required args. Falls back to the q_model's class for
        # directly-constructed services.
        self.model_factory = model_factory or type(q_model)
        self.images = images  # optional: backs view_image_sha1 point-gets
        # when the images relation scans a path, remembering it lets
        # refresh_from_source invalidate Spark's file-listing cache so a
        # re-scan sees files that landed after build
        self.source_path = source_path
        # server-wide near-dup defaults (the reference's conf params,
        # generic_searcher.py:43-45 get_param near_dup / near_dup_th): a
        # query option, when present, overrides — including an explicit
        # false disabling a server-default-on filter
        # (searcher_lopqhbase.py:812-820)
        self.near_dup = near_dup
        self.near_dup_th = near_dup_th
        # server-wide reranking default (ADVICE r15): the reference's
        # self.reranking is a searcher-conf param (searcher_lopqhbase.py
        # get_param), so a deployment can default exact rerank OFF; a
        # per-query "reranking" option overrides either way, exactly like
        # near_dup above
        self.reranking = reranking
        # byURL/byPATH edge fetcher; the default denies local file reads
        self.fetcher = fetcher or default_url_fetcher
        self.start_time = datetime.now()
        self.last_refresh = datetime.now()
        # refresh is single-writer BY CONTRACT; the lock makes two
        # concurrent calls serialize instead of double-admitting a sha1
        self._refresh_lock = threading.Lock()
        # optional ForkedRouterPool over a sharded searcher (see
        # enable_parallel_pool); None = answer in-process
        self._pool = None
        # one query scores in-process at a time: without the pool, handler
        # threads that score concurrently hand the GIL back and forth
        # between numpy calls (19-22 voluntary context switches per request
        # without the lock, 4.5-5.7 with it, at 100 req/s on a 4-core VM).
        # The pool's local route takes it only if it is free; the
        # in-process paths wait for it
        self._search_lock = threading.Lock()
        # remembered across pool discards: a broken pool is dropped by the
        # fallback path, and refresh re-forks whenever parallel was asked
        # for — even if the pool was None at refresh time
        self._parallel = False

    # -- build / refresh -----------------------------------------------------
    @staticmethod
    def _extract_items(images: DataFrame, mode: str, model_factory):
        """(item_key, sha1, v, item_bbox) rows of the successfully
        featurized ``images``; ``item_key`` is unique, and the service
        numbers items in its order (:func:`_collect_items`)."""
        from .multimodal.images import run_extraction

        # One row per sha1 BEFORE extraction (review r14): the reference
        # dedups by construction — sha1 is the HBase row key
        # (hbase_indexer_minimal.py write path) — but nothing here did, so
        # a duplicated input row featurized twice AND double-indexed its
        # sha1 (the numbering needs unique keys; the dup handed it a tie
        # and the service two ids for one image, returned twice in
        # top-k). Dedup first also makes the expensive featurization run
        # once per unique image.
        images = images.dropDuplicates(["sha1"])
        feats = run_extraction(images, mode=mode, model_factory=model_factory)
        ok = feats.where(F.col("failed") == 0)
        if mode == "face":
            ok = ok.select(
                F.concat_ws(
                    "_", "sha1",
                    F.col("bbox.left"), F.col("bbox.top"),
                    F.col("bbox.right"), F.col("bbox.bottom"),
                ).alias("item_key"),
                "sha1",
                "feature",
                # the detected box rides along into the serving metadata so
                # face-mode bySHA1 answers can attribute each result list
                # to a region (QueryFaces), like the byB64/byURL path does
                # by re-detecting
                F.array(
                    F.col("bbox.left").cast("int"),
                    F.col("bbox.top").cast("int"),
                    F.col("bbox.right").cast("int"),
                    F.col("bbox.bottom").cast("int"),
                ).alias("item_bbox"),
            )
        else:
            ok = ok.select(
                F.col("sha1").alias("item_key"),
                "sha1",
                "feature",
                F.lit(None).cast("array<int>").alias("item_bbox"),
            )
        return ok.select(
            "item_key", "sha1",
            F.col("feature").cast("array<double>").alias("v"), "item_bbox",
        )

    @classmethod
    def build(
        cls,
        spark,
        images: DataFrame,
        mode: str = "full_image",
        model_factory=None,
        train_params: dict | None = None,
        n_shards: int = 1,
        max_rows_per_shard: int | None = None,
        source_path: str | None = None,
        path_root: str | None = None,
        parallel: bool = False,
        near_dup: bool = False,
        near_dup_th: float = DEFAULT_NEAR_DUP_TH,
        reranking: bool = True,
    ) -> "ImageSearchService":
        """``n_shards`` > 1 backs the service with a
        :class:`~.lopq.serving.ShardedServingRouter` instead of one replica —
        the scale-out path past a single replica's snapshot budget. Each
        shard holds ONLY the codes AND rerank vectors it owns (cell range
        plus its slices of split fat cells — the per-replica residency
        envelope stays honest); the id -> sha1 map stays service-resident
        like the reference's per-worker LMDB metadata (at true scale it
        shards alongside the codes — each worker's map covers its range).

        One admission pass, whatever ``n_shards`` is: a count() of the
        persisted extraction is checked against ``n_shards`` x
        ``max_rows_per_shard`` before anything is collected; then one Arrow
        collect of (item_key, sha1, item_bbox, v), numbered 0, 1, ... in
        ``item_key`` order on the driver, feeds the training sample (the
        20,000 lowest ids), the encode (``lopq.encode.encode_batch``, the
        kernel ``encode_dataframe`` runs per batch), the rerank vectors and
        the metadata; ``from_replica`` splits that replica into shards in
        memory.

        ``parallel=True`` (needs ``n_shards`` > 1) additionally forks one
        worker process per shard (:class:`~.lopq.serving.ForkedRouterPool`)
        so the per-query fan-out runs concurrently — the deployment shape
        whose wall is MAX per-shard work rather than total work; refresh
        rebuilds the pool (forked children share the index copy-on-write
        and cannot see post-fork mutations)."""
        from .lopq.model import LOPQModel
        from .lopq.serving import (
            MAX_SNAPSHOT_ROWS,
            ServingSearcher,
            ShardedServingRouter,
        )
        from .multimodal.images import ToyExtractionModel

        factory = model_factory or ToyExtractionModel
        params = train_params or {"V": 4, "M": 4, "K": 8, "seed": 5, "n_iter": 8}
        per_shard_cap = max_rows_per_shard or MAX_SNAPSHOT_ROWS
        n_shards = max(1, n_shards)
        if mode == "face":
            # pin the V15 determinism contract BEFORE indexing (VERDICT
            # r15 #4): bySHA1 answers attribute results to index-time
            # boxes on the argument that re-detection would return the
            # same boxes — verify it on a bytes sample and refuse loudly
            # if the backbone is nondeterministic, instead of serving
            # silently mis-attributed regions
            from .multimodal.images import check_detector_determinism

            sample = [
                bytes(r["content"])
                for r in images.select("content").limit(4).collect()
                if r["content"] is not None
            ]
            check_detector_determinism(factory(), sample)
        cap = n_shards * per_shard_cap

        def check_budget(n: int) -> None:
            if n > cap:
                raise ValueError(
                    f"index of {n} items exceeds the serving replica budget "
                    f"of {n_shards} shard(s) x {per_shard_cap} rows; raise "
                    f"n_shards or max_rows_per_shard"
                )

        rows = _collect_items(
            cls._extract_items(images, mode, factory), check_budget, base=0
        )
        ids = np.asarray(rows.column("id"))
        V = arrow_vec.vectors(rows, "v", "ImageSearchService.build")
        # bounded ordered training subsample (the reference's nb_train)
        model = LOPQModel.fit(V[:20000], **params)
        searcher = ServingSearcher(model, max_rows=cap).load_codes(
            _encode_rows(model, ids, V)
        )
        searcher.put_vectors(ids, V)
        if n_shards > 1:
            searcher = ShardedServingRouter.from_replica(
                searcher, n_shards, max_rows_per_shard=per_shard_cap
            )
        # Serving metadata (id -> sha1) is resident BY DESIGN here — this
        # is the per-replica dict the reference keeps in LMDB, not the
        # batch facade's query path (api.py resolves metadata with a
        # distributed join); the count guard above bounds it. Rows are in
        # id order, so each sha1's id list is too (ADVICE r15: byB64 and
        # bySHA1 list one image's faces in the same order).
        id_to_sha1, sha1_to_ids, id_to_bbox = {}, {}, {}
        _index_meta(rows, id_to_sha1, sha1_to_ids, id_to_bbox)
        svc = cls(spark, model, searcher, id_to_sha1, sha1_to_ids,
                  factory(), mode, images=images, source_path=source_path,
                  fetcher=make_url_fetcher(path_root) if path_root else None,
                  model_factory=factory, near_dup=near_dup,
                  near_dup_th=near_dup_th, reranking=reranking,
                  id_to_bbox=id_to_bbox)
        if parallel:
            svc.enable_parallel_pool()
        return svc

    def enable_parallel_pool(self) -> None:
        """(Re)fork one worker per shard and answer queries through the
        process-parallel fan-out. Callable only on a sharded service; the
        refresh path calls it again after mutating the index (COW children
        never see post-fork adds)."""
        from .lopq.serving import ForkedRouterPool, ShardedServingRouter

        if not isinstance(self.searcher, ShardedServingRouter):
            raise ValueError(
                "parallel pool requires n_shards > 1 (a sharded service)"
            )
        old, self._pool = self._pool, None
        if old is not None:
            old.close()
        self._pool = ForkedRouterPool(self.searcher, lock=self._search_lock)
        self._parallel = True

    def close(self) -> None:
        """Tear the service down: shut the forked pool's workers down (each
        COW-holds the index; without this they linger until process exit).
        Idempotent; the service keeps answering in-process afterwards —
        including after a later ``refresh`` (``_parallel`` is cleared here
        so refresh does NOT silently re-fork a pool behind a closed
        service; call ``enable_parallel_pool()`` to opt back in)."""
        self._parallel = False
        pool, self._pool = self._pool, None
        if pool is not None:
            pool.close()

    def __del__(self) -> None:  # best-effort straggler cleanup
        try:
            self.close()
        except Exception:
            pass

    def refresh(self, new_images: DataFrame) -> int:
        """Index new images into the running service (the reference's
        ``refresh``/``check_new_updates`` — searcher.load_codes(full/new),
        api.py:308-319,340-358): one distributed extraction of the
        ``new_images`` not yet indexed, checked against the free budget and
        collected once, numbered after the current max id and encoded on
        the driver, then J7-deduped ``add_codes`` into the replica. Returns
        the number of new items admitted.

        Concurrency contract: SINGLE WRITER, enforced by an in-process
        lock (two concurrent ``refresh`` calls serialize — without it they
        could double-admit a sha1). Queries are read-only numpy over
        immutable per-cell arrays (safe under the threading server), and
        ``add_codes`` replaces each touched cell's arrays atomically (a
        concurrent search sees the old or new array, never a partial one).
        The reference runs the same shape: one refresher thread per
        gunicorn worker, api.py:28-41."""
        with self._refresh_lock:
            return self._refresh_locked(new_images)

    def refresh_from_source(self) -> int:
        """The reference's HTTP ``refresh`` semantics (api.py:307-319:
        ``searcher.load_codes(full_refresh=True)`` — re-check the BACKING
        STORE for anything unindexed): re-scan the service's images
        relation and admit whatever the sha1 dedup says is new. With a
        ``source_path``, the file-listing cache is invalidated first so
        rows appended to the path since build/last refresh are seen."""
        if self.images is None:
            raise ValueError(
                "service was built without a backing images relation; "
                "call refresh(new_images) with the new rows instead"
            )
        if self.source_path:
            # a DataFrame pins the file listing its plan was built with;
            # refreshByPath drops the shared listing cache and the fresh
            # read PICKS UP files appended since build
            self.spark.catalog.refreshByPath(self.source_path)
            self.images = self.spark.read.parquet(self.source_path)
        return self.refresh(self.images)

    def _refresh_locked(self, new_images: DataFrame) -> int:
        # ST4 sha1 dedup BEFORE extraction: already-indexed images are
        # anti-joined away up front, so a poll that finds nothing new costs
        # one broadcast anti-join scan — not a full featurization pass plus
        # a full-corpus (id, sha1) collect (the indexed-sha1 side is the
        # service's resident metadata, bounded by the replica budget)
        if self.sha1_to_ids:
            indexed = F.broadcast(
                self.spark.createDataFrame(
                    [(s,) for s in self.sha1_to_ids], "sha1 string"
                )
            )
            new_images = new_images.join(indexed, "sha1", "left_anti")
        rows = _collect_items(
            self._extract_items(new_images, self.mode, self.model_factory),
            self.searcher.check_room,
            # keep ids globally unique: continue after the current max id
            base=max(self.id_to_sha1, default=-1) + 1,
        )
        # refreshed sha1s that are ALREADY indexed dedup away inside
        # add_codes only by (cell, id); dedup by sha1 here (ST4)
        fresh = np.array(
            [s not in self.sha1_to_ids for s in rows.column("sha1").to_pylist()],
            dtype=bool,
        )
        if not fresh.any():
            # a refresh RAN (the store was checked) — stamp it, or the
            # check_new_updates throttle would re-scan on every call
            self.last_refresh = datetime.now()
            return 0
        rows = rows.filter(fresh)
        ids = np.asarray(rows.column("id"))
        V = arrow_vec.vectors(rows, "v", "ImageSearchService.refresh")
        codes = _encode_rows(self.model, ids, V)
        before = self.searcher.n_items
        # publish before admitting: a concurrent in-process search can
        # return an id as soon as its codes are in a cell, so its rerank
        # vector and metadata go in first and the codes last. One code row
        # per fresh item, in the rows' order, so the codes' cells line up
        # with the vectors they route (a single replica ignores the
        # cells); new ids exceed every indexed id, so each sha1's id list
        # stays in id order (same ADVICE r15 ordering contract as build)
        self.searcher.put_vectors(ids, V, np.asarray(codes.column("cell")))
        _index_meta(rows, self.id_to_sha1, self.sha1_to_ids, self.id_to_bbox)
        self.searcher.add_codes(codes)
        if self._parallel:
            # forked children hold the PRE-refresh index copy-on-write;
            # re-fork so queries see the admitted rows (refresh is
            # lock-serialized, so no query can race the swap mid-protocol
            # — in-flight queries drain through each worker's FIFO pipe
            # before close()'s sentinel reaches it). `_parallel`, not
            # `_pool is not None`: a pool dropped by the broken-pool
            # fallback comes back at the next refresh
            self.enable_parallel_pool()
        self.last_refresh = datetime.now()
        return self.searcher.n_items - before

    # -- queries ---------------------------------------------------------------

    def _search_one(self, q: np.ndarray, opts: dict) -> dict:
        max_returned = int(opts.get("max_returned", DEFAULT_MAX_RETURNED))
        rerank_nb = int(opts.get("rerank_nb", 4 * max_returned))
        reranking = (
            opts["reranking"] if "reranking" in opts else self.reranking
        )
        if not reranking:
            # the reference's reranking toggle (searcher_lopqhbase.py:823-831):
            # reranking=false means ADC-ranked answers regardless of
            # rerank_nb, which only sizes the shortlist when reranking is on
            rerank_nb = 0
        quota = min(1000 * max_returned, QUOTA_CAP)
        # the pool shares search()'s signature and answers (pinned by
        # tests); rerank vectors are fetched PARENT-side either way. A
        # query that grabbed the pool just as a refresh swapped it meets
        # closed pipes — answer that one in-process (same result by the
        # pool==router equality) instead of surfacing a 500.
        engine = self._pool

        def _run(eng):
            if rerank_nb <= 0:
                # pure-ADC path (the reference's rerank-off mode): search
                # returns (id, adc_dist) 2-tuples — report the ADC distance
                hits = eng.search(q, quota=quota, k=max_returned, rerank_nb=0)
                return [(int(i), float(d)) for i, d in hits]
            hits = eng.search(
                q, quota=quota, k=max_returned, rerank_nb=rerank_nb,
                fetch_vectors=self.searcher.resident_vectors,
            )
            return [(int(i), float(ex)) for i, _adc, ex in hits]

        def _in_process():
            with self._search_lock:
                return _run(self.searcher)

        from .lopq.serving import PoolBrokenError

        try:
            rows = _in_process() if engine is None else _run(engine)
        except PoolBrokenError:  # only the pool raises it
            rows = _in_process()
            # The failed pool must not serve later queries (ADVICE r9: a
            # dead-worker pool left installed kept answering). If it is
            # still the installed one — a refresh-swap already replaced it
            # otherwise — discard it and re-fork under the refresh lock
            # (serializes concurrent fallbacks and refresh itself).
            with self._refresh_lock:
                if self._pool is engine:
                    self._pool = None
                    try:
                        engine.close()
                    except Exception:
                        pass
                    try:
                        self.enable_parallel_pool()
                    except Exception:
                        # keep serving in-process; the next refresh
                        # re-forks (self._parallel is still set)
                        pass
        # per-query option wins when present (an explicit false disables a
        # server-default-on filter, searcher_lopqhbase.py:812-820)
        if opts["near_dup"] if "near_dup" in opts else self.near_dup:
            th = float(opts.get("near_dup_th", self.near_dup_th))
            rows = [(i, d) for i, d in rows if d <= th]
        return {
            "NumberImages": len(rows),
            "ImageSha1s": [self.id_to_sha1[i] for i, _ in rows],
            "Distances": [round(d, 6) for _, d in rows],
        }

    def _entry_for_bytes(self, data: bytes, opts: dict) -> dict:
        entry: dict[str, Any] = {"QuerySha1": _sha1_hex(data)}
        if self.mode == "full_image":
            # detect_only is face-mode-only in the reference: the
            # detector-less flow featurizes unconditionally and never
            # reads the option (generic_searcher.py:391-410) — a no-op here
            q = np.asarray(self.q_model.featurize_full(data), dtype=np.float64)
            entry["SimilarImages"] = self._search_one(q, opts)
            return entry
        dets = self.q_model.detect(data)
        entry["NumberFaces"] = len(dets)
        # per-detection bbox, aligned index-for-index with SimilarFaces —
        # the reference emits the detected bbox with every face entry
        # (QueryFace, output_mapping.py:139); without it the caller cannot
        # attribute a result list to a region of the query image
        entry["QueryFaces"] = [[int(c) for c in b[:4]] for b in dets]
        if opts.get("detect_only"):
            # detection runs, featurize + search skip
            # (searcher_lopqhbase.py:851, generic_searcher.py:381): each
            # detected face still appears, carrying the empty result shape
            entry["SimilarFaces"] = [_empty_similar() for _ in dets]
            return entry
        entry["SimilarFaces"] = [
            self._search_one(
                np.asarray(
                    self.q_model.featurize_face(data, b[:4]), dtype=np.float64
                ),
                opts,
            )
            for b in dets
        ]
        return entry

    def search_b64_list(
        self, b64s: list[str], opts: dict, srcs_out: dict | None = None
    ) -> dict:
        out = []
        for b in b64s:
            try:
                data = _decode_b64_item(b)
            except Exception as inst:  # noqa: BLE001 — contract: per-item error
                out.append({
                    "error": f"could not decode base64 input: {inst}",
                    "SimilarImages": _empty_similar(),
                })
                continue
            entry = self._entry_for_bytes(data, opts)
            # srcs_out (view_similar support, review r13): record the
            # already-decoded bytes like search_url_list does, so the HTML
            # rendering never base64-decodes + hashes each item a second
            # time
            if srcs_out is not None and entry.get("QuerySha1"):
                srcs_out[entry["QuerySha1"]] = (None, data)
            out.append(entry)
        return {"images": out, "search_mode": self.mode}

    def search_url_list(
        self, urls: list[str], opts: dict, fetcher=None,
        srcs_out: dict | None = None,
    ) -> dict:
        """byURL / byPATH (api.py:232-258): fetch each image's bytes, then
        the byB64 path. Fetch failures append per-item errors, never fail
        the request (the reference's contract for dead URLs). The edge
        applies the F11 cleanup (strip wrapping quotes/whitespace) before
        fetching — the serving twin of f11_url_cleanup.

        ``srcs_out`` (view_similar support): when given, successfully
        fetched items are recorded as sha1 -> (url, bytes) so the HTML
        renderer reuses THIS fetch instead of fetching each query again
        (a re-fetch doubles latency and can sha1-mismatch if the remote
        content changed between the two reads)."""
        fetch = fetcher or self.fetcher
        out = []
        for url in urls:
            url = url.strip().strip('"').strip("'")
            if not url:
                continue
            try:
                data = fetch(url)
            except Exception as inst:  # noqa: BLE001 — contract: per-item error
                out.append({
                    "QueryURL": url,
                    "error": f"could not fetch image: {inst}",
                    "SimilarImages": _empty_similar(),
                })
                continue
            entry = self._entry_for_bytes(data, opts)
            entry["QueryURL"] = url
            if srcs_out is not None:
                srcs_out[entry["QuerySha1"]] = (url, data)
            out.append(entry)
        return {"images": out, "search_mode": self.mode}

    def search_sha1_list(self, sha1s: list[str], opts: dict) -> dict:
        """Query by indexed sha1 (api.py:260-285 re-fetches the image and
        re-runs the search path; featurization here is deterministic, so
        probing with the item's RESIDENT vectors is the same answer without
        the re-fetch)."""
        out = []
        for sha1 in sha1s:
            entry: dict[str, Any] = {"QuerySha1": sha1}
            ids = self.sha1_to_ids.get(sha1)
            if ids is None:
                entry["error"] = "sha1 not indexed"
                entry["SimilarImages"] = _empty_similar()
            elif self.mode == "full_image":
                entry["SimilarImages"] = self._search_one(
                    self.searcher.resident_vectors([ids[0]])[0], opts
                )
            else:
                entry["NumberFaces"] = len(ids)
                # the boxes detected at INDEX time (id_to_bbox) — same
                # answer as the byB64 path's re-detection, since the
                # detector is deterministic in the bytes
                entry["QueryFaces"] = [self.id_to_bbox.get(i) for i in ids]
                if opts.get("detect_only"):
                    entry["SimilarFaces"] = [_empty_similar() for _ in ids]
                else:
                    entry["SimilarFaces"] = [
                        self._search_one(
                            self.searcher.resident_vectors([i])[0], opts
                        )
                        for i in ids
                    ]
            out.append(entry)
        return {"images": out, "search_mode": self.mode}

    def get_image(self, sha1: str) -> bytes | None:
        """Image bytes by sha1 — the ``view_image_sha1`` backing fetch
        (api.py:545-557 resolves sha1 -> url via an HBase point-get; here
        it is an S5 point-get against the images relation: the sha1
        predicate pushes to the parquet scan, so the job reads one row
        group, not the table). Spark runs on THIS endpoint's path by
        design — it is the reference's store-lookup tier, not the <1 s
        similarity path."""
        if self.images is None:
            return None
        rows = (
            self.images.where(F.col("sha1") == sha1)
            .select("content")
            .limit(1)
            .collect()
        )
        return bytes(rows[0]["content"]) if rows else None

    def status(self) -> dict:
        now = datetime.now()
        return {
            "status": "OK",
            "API_start_time": self.start_time.isoformat(" "),
            "API_uptime": str(now - self.start_time),
            "last_refresh_time": self.last_refresh.isoformat(" "),
            "nb_indexed": str(self.searcher.n_items),
        }

    def check_new_updates(self, refresh_delay_s: float = REFRESH_DELAY_S) -> dict:
        """``check_new_updates`` (api.py:340-366): status, plus a source
        refresh IF the index has not been refreshed in ``refresh_delay_s``
        — the throttled keep-fresh poke a cron or monitor hits."""
        stale_s = (datetime.now() - self.last_refresh).total_seconds()
        if self.images is not None and stale_s > refresh_delay_s:
            self.refresh_from_source()
        return self.status()

    def check_all_updates(self) -> dict:
        """``check_all_updates`` (api.py:368-385): status plus an
        UNCONDITIONAL source refresh (disregard last-refresh time)."""
        if self.images is not None:
            self.refresh_from_source()
        return self.status()


#: rows per driver-side encode call: Spark's Arrow batch size (session.py),
#: so one call's temporaries stay one executor batch's worth
ENCODE_BATCH_ROWS = 10_000


def _collect_items(items: DataFrame, check_budget, base: int) -> pa.Table:
    """The (sha1, v, item_bbox, id) rows of the extracted ``items``, on the
    driver and numbered: ``check_budget`` sees the row count before
    anything is collected, then one Arrow collect, then ids ``base``,
    ``base`` + 1, ... in ``item_key`` order. The extraction is persisted
    across the count and the collect, so each image is featurized once."""
    items = items.persist()
    try:
        check_budget(items.count())
        rows = items.toArrow()
    finally:
        items.unpersist()
    rows = rows.sort_by("item_key").drop_columns("item_key")
    return rows.append_column(
        "id", pa.array(np.arange(base, base + rows.num_rows, dtype=np.int64))
    )


def _encode_rows(model, ids: np.ndarray, V: np.ndarray) -> pa.Table:
    """(id, cell, fine) codes of the rows of ``V``, encoded on the driver by
    the executors' kernel, ``ENCODE_BATCH_ROWS`` rows per call."""
    from .lopq.encode import encode_batch

    step = ENCODE_BATCH_ROWS
    return pa.Table.from_batches([
        encode_batch(model, ids[i:i + step], V[i:i + step])
        for i in range(0, len(ids), step)
    ]).select(["id", "cell", "fine"])


def _index_meta(rows, id_to_sha1: dict, sha1_to_ids: dict,
                id_to_bbox: dict) -> None:
    """Record the (id, sha1, item_bbox) rows of an id-sorted Arrow table in
    the service's metadata maps."""
    for i, sha1, bbox in zip(
        rows.column("id").to_pylist(),
        rows.column("sha1").to_pylist(),
        rows.column("item_bbox").to_pylist(),
    ):
        id_to_sha1[i] = sha1
        sha1_to_ids.setdefault(sha1, []).append(i)
        if bbox is not None:
            id_to_bbox[i] = [int(c) for c in bbox]


def _split_url_list(data: str) -> list[str]:
    """Split the comma-separated URL list WITHOUT breaking ``data:`` URIs,
    whose syntax itself contains one comma (header,payload — the payload is
    base64/percent-encoded, so it never contains a raw comma itself)."""
    out: list[str] = []
    for part in data.split(","):
        if out and out[-1].startswith("data:") and "," not in out[-1]:
            out[-1] += "," + part
        else:
            out.append(part)
    return out


def make_url_fetcher(path_root: str | None = None, allow_http: bool = True):
    """Build the byURL/byPATH fetcher: ``data:`` URIs always resolve;
    ``file://`` URLs and plain local paths are CONFINED to ``path_root``
    (``None`` — the default — denies all local reads: an HTTP client must
    not be able to exfiltrate arbitrary server files through
    ``byPATH?data=/etc/passwd``); http(s) URLs go through urllib where the
    deployment allows it (the reference fetches with requests,
    imgio.py:42-66)."""
    import os

    root = os.path.realpath(path_root) if path_root else None

    def _read_local(path: str) -> bytes:
        if root is None:
            raise PermissionError(
                "local file access is disabled; build the service with "
                "path_root=<dir> to allow byPATH/file:// queries under it"
            )
        real = os.path.realpath(path)
        if real != root and not real.startswith(root + os.sep):
            raise PermissionError(f"path outside the allowed root: {path}")
        with open(real, "rb") as f:
            return f.read()

    def fetch(url: str) -> bytes:
        if url.startswith("data:"):
            header, _, payload = url.partition(",")
            if not payload:
                raise ValueError("data: URI has no payload")
            if header.endswith(";base64"):
                return base64.b64decode(payload, validate=True)
            from urllib.parse import unquote_to_bytes

            return unquote_to_bytes(payload)
        if url.startswith("file://"):
            return _read_local(urlparse(url).path)
        if url.startswith(("http://", "https://")):
            if not allow_http:
                raise PermissionError("http(s) fetch is disabled")
            import urllib.request

            with urllib.request.urlopen(url, timeout=30) as r:
                return r.read()
        # byPATH: a bare local filesystem path
        return _read_local(url)

    return fetch


#: secure default: data:/http(s) only — NO local file or path reads
default_url_fetcher = make_url_fetcher()


def _decode_b64_item(b: str) -> bytes:
    """One byB64 item -> bytes. ``data:`` URIs decode through the fetcher's
    data: branch (so a data URI posted to byB64 is answered, not silently
    dropped — every input item must yield a result OR an error entry).
    Plain base64 is normalized first: '+' that a GET query-string decode
    turned into spaces is restored, and MIME/PEM line wrapping is
    stripped — then decoded strictly (base64 has no space in its
    alphabet, so both rewrites are unambiguous)."""
    if b.startswith("data:"):
        return make_url_fetcher()(b)
    b = b.replace(" ", "+")
    b = b.replace("\r", "").replace("\n", "").replace("\t", "")
    return base64.b64decode(b, validate=True)


def _sha1_hex(data: bytes) -> str:
    import hashlib

    return hashlib.sha1(data).hexdigest().upper()


def _empty_similar() -> dict:
    return {"NumberImages": 0, "ImageSha1s": [], "Distances": []}


_NUMERIC_OPTIONS = {
    "near_dup_th": float, "max_returned": int, "rerank_nb": int,
    "max_height": int,
}


def _parse_options(options_raw) -> tuple[dict, list[str]]:
    """get_options_dict (api.py:192-215): bad JSON, unknown keys AND
    non-coercible numeric values append errors, never fail the request —
    a bad value is dropped (the default applies) with an error entry.

    Accepts a JSON string (form/query encodings) OR an already-decoded
    dict (review r13: a JSON POST body {"data": ..., "options": {...}} —
    the natural encoding — arrives as a dict; json.loads(dict) raised
    TypeError and every option was silently dropped, forcing clients to
    double-encode options as a JSON string inside JSON)."""
    errors: list[str] = []
    opts: dict = {}
    if options_raw:
        if isinstance(options_raw, dict):
            opts = dict(options_raw)
        else:
            try:
                opts = json.loads(options_raw)
            except Exception as inst:  # noqa: BLE001 — contract: report, not raise
                errors.append(
                    f"Could not load options from: {options_raw}. {inst}"
                )
                opts = {}
        if not isinstance(opts, dict):
            errors.append(f"Options must be a JSON object, got: {options_raw}")
            opts = {}
        for k in list(opts):
            if k not in VALID_OPTIONS:
                errors.append(f"Unknown option {k}")
                opts.pop(k)
            elif k in _NUMERIC_OPTIONS:
                try:
                    opts[k] = _NUMERIC_OPTIONS[k](opts[k])
                except (TypeError, ValueError):
                    errors.append(f"Could not parse option {k}: {opts[k]!r}")
                    opts.pop(k)
    return opts, errors


def _append_errors(outp: dict, errors: list[str]) -> dict:
    if errors:
        e_d = dict(outp.get("errors", {}))
        for i, e in enumerate(errors, start=len(e_d)):
            e_d[f"error_{i}"] = e
        outp["errors"] = e_d
    return outp


def _html_escape(s: str) -> str:
    import html

    return html.escape(str(s), quote=True)


def _render_similar_html(resp: dict, query_srcs: dict[str, str],
                         endpoint: str, opts: dict | None = None) -> str:
    """The reference's view_similar_* page (www/templates/
    view_similar_images.html rendered by api.py:410-507), minimally:
    per query — the query image, then each similar image as an <img>
    fetched from THIS server's view_image_sha1 route with the distance
    in the title attribute.

    View settings (api.py:517-523): ``no_blur`` toggles the img class
    between img_vis and img_blur (the reference's CSS blurs the latter;
    default no_blur=True, api.py:37), ``max_height`` sets the similar
    images' inline height (default 120, api.py:38)."""
    opts = opts or {}
    img_style = "img_vis" if opts.get("no_blur", True) else "img_blur"
    max_height = int(opts.get("max_height", 120))
    parts = ["<html><head><title>Images viewer</title></head><body>"]
    for entry in resp.get("images", []):
        qsha = entry.get("QuerySha1", "")
        src = query_srcs.get(qsha)
        parts.append("<h2>Query image:</h2>")
        if src:
            parts.append(
                f'<img src="{_html_escape(src)}" '
                f'title="{_html_escape(qsha)}" class="{img_style}">'
            )
        else:
            parts.append(f"<p>{_html_escape(qsha or entry.get('error', '?'))}</p>")
        parts.append("<h2>Query results:</h2>")
        sims_list = (
            entry.get("SimilarFaces")
            if "SimilarFaces" in entry
            else [entry.get("SimilarImages") or {}]
        )
        for sims in sims_list:
            for sha1, dist in zip(
                sims.get("ImageSha1s", []), sims.get("Distances", [])
            ):
                parts.append(
                    f'<img src="/{endpoint}/view_image_sha1?data='
                    f'{_html_escape(sha1)}" alt="{_html_escape(sha1)}" '
                    f'title="{_html_escape(dist)}" class="{img_style}" '
                    f'style="height: {max_height}px;">'
                )
    parts.append("</body></html>")
    return "\n".join(parts)


def _view_similar_query_srcs(base_mode: str, data: str,
                             fetched: dict | None) -> dict[str, str]:
    """query sha1 -> displayable src, per the reference's per-type rules
    (api.py:423-452): B64/PATH embed the bytes as a data: URI (MIME from
    the header sniff), URL uses the URL itself, SHA1 links back through
    view_image_sha1. byURL/byPATH reuse the bytes the SEARCH already
    fetched (``fetched``: sha1 -> (url, bytes) from search_url_list) —
    no second fetch, so the rendered query image always matches the
    response's QuerySha1."""
    from .multimodal.images import sniff_image_header

    def _data_uri(raw: bytes) -> str:
        fmt, _w, _h = sniff_image_header(raw)
        mime = f"image/{fmt.lower()}" if fmt else "application/octet-stream"
        return f"data:{mime};base64,{base64.b64encode(raw).decode()}"

    srcs: dict[str, str] = {}
    if base_mode == "byB64":
        # reuse the bytes the SEARCH already decoded (srcs_out from
        # search_b64_list, review r13) — previously every item was
        # base64-decoded and hashed a second time here
        for sha1, (_url, raw) in (fetched or {}).items():
            srcs[sha1] = _data_uri(raw)
    elif base_mode == "byPATH":
        for sha1, (_url, raw) in (fetched or {}).items():
            srcs[sha1] = _data_uri(raw)
    elif base_mode == "byURL":
        for sha1, (url, _raw) in (fetched or {}).items():
            srcs[sha1] = url
    return srcs


def _process(service: ImageSearchService, mode: str,
             data: str | None, options_raw: str | None,
             srcs_out: dict | None = None) -> dict:
    if not data:
        # mode-only requests (process_mode, api.py:120-143)
        if mode == "status":
            return service.status()
        if mode == "check_new_updates":
            return service.check_new_updates()
        if mode == "check_all_updates":
            return service.check_all_updates()
        if mode == "refresh":
            # the reference's semantics (api.py:307-319): re-check the
            # backing store for unindexed images and admit them
            if service.images is None:
                return {"refresh": "no backing images relation; pass new "
                                   "images to ImageSearchService.refresh() "
                                   "server-side"}
            admitted = service.refresh_from_source()
            return {"refresh": "just run a full refresh",
                    "admitted": admitted}
        return {"error": f"unknown_mode: {mode}. Did you forget to give "
                         "'data' parameter?"}
    start = time.time()
    opts, errors = _parse_options(options_raw)
    if mode == "byB64":
        # _split_url_list keeps data: URIs whole across their header comma;
        # search_b64_list answers (or per-item-errors) EVERY item — no
        # silent drops that would misalign a client's input/output zip
        resp = service.search_b64_list(
            _split_url_list(data), opts, srcs_out=srcs_out
        )
    elif mode == "bySHA1":
        resp = service.search_sha1_list(data.split(","), opts)
    elif mode in ("byURL", "byPATH"):
        resp = service.search_url_list(
            _split_url_list(data), opts, srcs_out=srcs_out
        )
    else:
        return {"error": f"unknown_mode: {mode}"}
    resp = _append_errors(resp, errors)
    resp["Timing"] = time.time() - start
    return resp


#: accept threads of a :class:`PooledHTTPServer`. Each answers one
#: connection at a time, so this many requests are served concurrently
#: (the forked shard pool pipelines them); more wait in the listen backlog.
SERVER_THREADS = 16
#: seconds a handler waits on a silent client's socket before it drops the
#: connection, so a client that connects and never sends cannot hold an
#: accept thread for good
REQUEST_TIMEOUT_S = 30.0
#: a request head (request line and headers) longer than this, or with more
#: header lines than MAX_HEADERS, is refused with 431
MAX_HEAD_BYTES = 64 * 1024
MAX_HEADERS = 100
#: a request body longer than this is refused with 413 before it is read
MAX_BODY_BYTES = 16 * 1024 * 1024
#: seconds a refused client's remaining input is read and dropped before
#: the connection closes
LINGER_S = 1.0


class _Headers:
    """A request's header fields; :meth:`get` ignores the name's case."""

    def __init__(self, fields: dict[str, str]) -> None:
        self._fields = fields  # lower-cased name -> value

    def get(self, name: str, default=None):
        return self._fields.get(name.lower(), default)


class _Refused(Exception):
    """A request the reader answers itself with ``code``."""

    def __init__(self, code: int, message: str) -> None:
        super().__init__(message)
        self.code = code


def _http_response(code: int, content_type: str, body: bytes) -> bytes:
    """One whole HTTP/1.0 response: status line, headers and ``body``."""
    head = (
        f"HTTP/1.0 {code} {HTTPStatus(code).phrase}\r\n"
        f"Date: {formatdate(usegmt=True)}\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n"
        "Connection: close\r\n\r\n"
    )
    return head.encode("latin-1") + body


def _recv_head(sock: socket.socket) -> tuple[bytes, bytearray] | None:
    """(head, bytes after it) off ``sock``; None if the client closed
    before the blank line ending the head."""
    buf = bytearray()
    while True:
        chunk = sock.recv(1 << 16)
        if not chunk:
            return None
        start = max(0, len(buf) - 3)  # the blank line may straddle chunks
        buf += chunk
        end = buf.find(b"\r\n\r\n", start)
        if end >= 0 and end <= MAX_HEAD_BYTES:
            return bytes(buf[:end]), buf[end + 4:]
        if end >= 0 or len(buf) > MAX_HEAD_BYTES:
            raise _Refused(431, f"request head over {MAX_HEAD_BYTES} bytes")


def _read_request(sock: socket.socket, handler_class):
    """Read one request off ``sock``: ``(method, target, headers, body)``,
    or None when the client went away before sending all of it. Raises
    :class:`_Refused` for a request the handler must not see."""
    got = _recv_head(sock)
    if got is None:
        return None
    head, body = got
    lines = head.decode("latin-1").split("\r\n")
    words = lines[0].split()
    if len(words) != 3 or not words[2].startswith("HTTP/"):
        raise _Refused(400, f"bad request line {lines[0][:200]!r}")
    method, target, _version = words
    if len(lines) - 1 > MAX_HEADERS:
        raise _Refused(431, f"more than {MAX_HEADERS} header lines")
    fields: dict[str, str] = {}
    for line in lines[1:]:
        name, sep, value = line.partition(":")
        if not sep or not name or name != name.strip():
            raise _Refused(400, f"bad header line {line[:200]!r}")
        fields.setdefault(name.lower(), value.strip())
    headers = _Headers(fields)
    if not hasattr(handler_class, "do_" + method):
        raise _Refused(501, f"unsupported method {method[:50]!r}")
    length = headers.get("Content-Length", "0")
    if not (length.isascii() and length.isdigit()):
        raise _Refused(400, f"bad Content-Length {length[:50]!r}")
    length = int(length)
    if length > MAX_BODY_BYTES:
        raise _Refused(413, f"body over {MAX_BODY_BYTES} bytes")
    while len(body) < length:
        chunk = sock.recv(min(1 << 16, length - len(body)))
        if not chunk:
            return None
        body += chunk
    return method, target, headers, bytes(body[:length])


def _linger(sock: socket.socket) -> None:
    """After a refusal, discard what the client still sends, for at most
    :data:`LINGER_S`: closing a socket with unread input resets the
    connection, and the client could lose the refusal it has not read."""
    sock.shutdown(socket.SHUT_WR)
    deadline = time.monotonic() + LINGER_S
    while (left := deadline - time.monotonic()) > 0:
        sock.settimeout(left)
        if not sock.recv(1 << 16):
            return


class RequestHandler:
    """One request as :class:`PooledHTTPServer` hands it to its handler
    class: ``command``, ``path``, ``headers`` (``headers.get`` ignores
    case) and the whole ``body``. The server calls the ``do_<command>``
    method it finds on the class at request time; that method answers
    through :meth:`send`, and the server writes the response once the
    method returns (no response: the connection just closes)."""

    def __init__(self, command: str, path: str, headers: _Headers,
                 body: bytes) -> None:
        self.command = command
        self.path = path
        self.headers = headers
        self.body = body
        self.response: bytes | None = None

    def send(self, code: int, content_type: str, body: bytes) -> None:
        """Answer with ``code`` and ``body``; a later call replaces it."""
        self.response = _http_response(code, content_type, body)


class PooledHTTPServer(socketserver.TCPServer):
    """An HTTP/1.0 server answered by a fixed pool of accept threads.

    Each of the :data:`SERVER_THREADS` threads blocks in ``accept()`` on
    the listening socket and serves the connection it gets from start to
    finish (read, route, featurize, fan out, merge, reply, close), then
    accepts again — the reference's gunicorn shape, where a worker holding
    the loaded searcher serves a request start to finish. One request per
    connection.

    The request reader: the thread reads the request head straight off the
    socket into one buffer, parses the request line and the header lines,
    reads exactly ``Content-Length`` body bytes, builds an instance of
    ``RequestHandlerClass`` (a :class:`RequestHandler`; no ``socketserver``
    handler, no file objects over the socket) and calls its ``do_<method>``
    looked up at call time, so a wrapper installed on the class later still
    sees every request. The response is built in memory and sent with one
    ``sendall``. A socket silent for :data:`REQUEST_TIMEOUT_S` is dropped.
    Refused without calling the handler: a bad request line or header line
    (400), an unknown method (501), a head over :data:`MAX_HEAD_BYTES` or
    with more than :data:`MAX_HEADERS` header lines (431), a bad
    ``Content-Length`` (400) and a body over :data:`MAX_BODY_BYTES` (413).
    Against ``http.server``'s handler (file objects over the socket, the
    email header parser, one write per response part) this cut the server
    CPU per request from 1.68-1.71 to 1.03-1.21 ms in the ``serve``
    workload (100 req/s, 4-core VM).

    Same surface as the stock server: ``server_address``,
    ``RequestHandlerClass``, ``serve_forever`` (runs the pool until
    :meth:`shutdown`), ``shutdown`` and ``server_close``."""

    allow_reuse_address = True
    # while every pool thread is busy, a burst of connections waits in the
    # listen backlog (the stock server's is 5)
    request_queue_size = 4 * SERVER_THREADS

    def __init__(self, server_address, handler_class) -> None:
        super().__init__(server_address, handler_class)
        self._stopping = threading.Event()
        self._stopped = threading.Event()
        self._pool: list[threading.Thread] = []

    def serve_forever(self, poll_interval: float = 0.5) -> None:
        """Start the accept threads and return once :meth:`shutdown` has
        stopped them all (``poll_interval`` is unused: the threads block in
        ``accept()``, nothing polls)."""
        self._stopped.clear()
        try:
            if not self._stopping.is_set():
                self._pool = [
                    threading.Thread(target=self._accept_loop,
                                     name=f"http-accept-{i}", daemon=True)
                    for i in range(SERVER_THREADS)
                ]
                for t in self._pool:
                    t.start()
                for t in self._pool:
                    t.join()
        finally:
            self._stopped.set()

    def _accept_loop(self) -> None:
        while not self._stopping.is_set():
            try:
                request, client_address = self.get_request()
            except OSError:
                # shutdown() woke the accept, the socket was closed under
                # it, or a client gave up before its connection was taken
                if self.socket.fileno() < 0:
                    return
                continue
            # a connection taken just as shutdown() began is still answered
            try:
                request.settimeout(REQUEST_TIMEOUT_S)
                self._answer(request)
            except OSError:
                pass  # the client timed out or went away; nothing to answer
            except Exception:  # noqa: BLE001 — keep the accept thread alive
                self.handle_error(request, client_address)
            finally:
                self.shutdown_request(request)

    def _answer(self, sock: socket.socket) -> None:
        handler_class = self.RequestHandlerClass
        try:
            req = _read_request(sock, handler_class)
        except _Refused as refused:
            body = json.dumps({"error": str(refused)}).encode()
            sock.sendall(_http_response(refused.code, "application/json", body))
            _linger(sock)
            return
        if req is None:
            return
        handler = handler_class(*req)
        getattr(handler, "do_" + handler.command)()
        if handler.response is not None:
            sock.sendall(handler.response)

    def shutdown(self) -> None:
        """Stop accepting, let the requests in flight finish, join every
        accept thread and return. Shutting the listening socket down wakes
        the threads blocked in ``accept()`` (Linux). Like the stock
        server's, this must be called while :meth:`serve_forever` runs in
        another thread, or has been started there."""
        self._stopping.set()
        try:
            self.socket.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self._stopped.wait()


def make_server(
    service: ImageSearchService,
    endpoint: str = DEFAULT_ENDPOINT,
    host: str = "127.0.0.1",
    port: int = 0,
) -> PooledHTTPServer:
    """A ready-to-serve :class:`PooledHTTPServer` bound to ``host:port``
    (port 0 = ephemeral; read ``server.server_address``). Routes
    GET/POST ``/<endpoint>/<mode>`` exactly like the reference registration
    (``run_search_api.py:61``); POST accepts urlencoded forms or a JSON
    body with {data, options} (``put_post``, api.py:92-118). The server
    drops a client whose socket stays silent for
    :data:`REQUEST_TIMEOUT_S`."""
    prefix = f"/{endpoint}/"

    class Handler(RequestHandler):
        def _respond(self, obj: dict, code: int = 200) -> None:
            self.send(code, "application/json", json.dumps(obj).encode())

        def _route(self, data: str | None, options_raw: str | None) -> None:
            parsed = urlparse(self.path)
            if not parsed.path.startswith(prefix):
                self._respond({"error": f"unknown endpoint {parsed.path}"}, 404)
                return
            mode = parsed.path[len(prefix):].strip("/")
            if data is None:  # GET: query string carries data/options
                qs = parse_qs(parsed.query)
                data = qs.get("data", [None])[0]
                options_raw = qs.get("options", [None])[0]
            if mode.startswith("view_similar_by") and data:
                base_mode = "by" + mode[len("view_similar_by"):]
                fetched: dict = {}
                resp = _process(service, base_mode, data, options_raw,
                                srcs_out=fetched)
                if base_mode == "bySHA1":
                    srcs = {
                        s: f"/{endpoint}/view_image_sha1?data={s}"
                        for s in data.split(",")
                    }
                else:
                    srcs = _view_similar_query_srcs(base_mode, data, fetched)
                view_opts, _ = _parse_options(options_raw)
                body = _render_similar_html(
                    resp, srcs, endpoint, view_opts
                ).encode()
                self.send(200, "text/html; charset=utf-8", body)
                return
            if mode == "view_image_sha1":
                # binary response (the reference renders HTML around the
                # cached URL; serving the bytes is the data-plane twin)
                content = service.get_image(data) if data else None
                if content is None:
                    self._respond({"error": f"sha1 not found: {data}"}, 404)
                    return
                from .multimodal.images import sniff_image_header

                fmt, _w, _h = sniff_image_header(content)
                self.send(
                    200,
                    f"image/{fmt.lower()}" if fmt else "application/octet-stream",
                    content,
                )
                return
            self._respond(_process(service, mode, data, options_raw))

        def _safely(self, fn) -> None:
            """Error envelope for the whole request path: any uncaught
            exception (malformed JSON body, invalid base64, handler bug)
            answers a JSON error object with 400 instead of a dropped
            connection (the reference reports these through its errors
            fields, api.py:192-215)."""
            try:
                fn()
            except Exception as inst:  # noqa: BLE001 — transport error envelope
                self._respond({"error": f"{type(inst).__name__}: {inst}"}, 400)

        def do_GET(self):
            self._safely(lambda: self._route(None, None))

        def do_POST(self):
            def handle():
                raw = self.body.decode()
                ctype = self.headers.get("Content-Type", "")
                if "json" in ctype:
                    form = json.loads(raw) if raw else {}
                else:
                    qs = parse_qs(raw)
                    form = {k: v[0] for k, v in qs.items()}
                data = form.get("data")
                if data is None:
                    self._respond({"error": "no data received"})
                    return
                self._route(data, form.get("options"))

            self._safely(handle)

        do_PUT = do_POST

    return PooledHTTPServer((host, port), Handler)


def serve_in_thread(server: PooledHTTPServer) -> threading.Thread:
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return t
