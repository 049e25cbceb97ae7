"""HTTP serving layer: the reference's REST surface (GET/POST
/<endpoint>/<mode> with data+options) answered by the in-memory serving
replica — transport adds nothing, Spark never runs on the query path."""

from __future__ import annotations

import base64
import json
import socket
import threading
import time
import urllib.parse
import urllib.request

import pytest

from columbiaimagesearch_spark import http_api


@pytest.fixture(scope="module")
def domain_images(spark):
    from columbiaimagesearch_spark.sources import fixtures

    return fixtures.generate(n_images=200).to_spark(spark)["images"]


@pytest.fixture(scope="module")
def service(spark, domain_images, tmp_path_factory):
    # path_root confines byPATH/file:// reads to pytest's tmp tree (every
    # tmp_path lives under getbasetemp()); without it local reads are denied
    return http_api.ImageSearchService.build(
        spark, domain_images,
        path_root=str(tmp_path_factory.getbasetemp()),
    )


@pytest.fixture(scope="module")
def server(service):
    srv = http_api.make_server(service)
    http_api.serve_in_thread(srv)
    yield srv
    srv.shutdown()


def _url(server, mode, **params):
    host, port = server.server_address
    qs = urllib.parse.urlencode(params)
    return f"http://{host}:{port}/cuimgsearch/{mode}" + (f"?{qs}" if qs else "")


def _get(server, mode, **params) -> dict:
    with urllib.request.urlopen(_url(server, mode, **params), timeout=30) as r:
        return json.loads(r.read())


def test_byb64_self_retrieval(spark, domain_images, server):
    """An indexed image queried by its own bytes: itself at rank 1,
    distance 0 — end-to-end THROUGH the HTTP transport."""
    rows = domain_images.orderBy("sha1").limit(2).collect()
    data = ",".join(
        base64.b64encode(bytes(r["content"])).decode() for r in rows
    )
    out = _get(server, "byB64", data=data)
    assert "Timing" in out and len(out["images"]) == 2
    for row, entry in zip(rows, out["images"]):
        sims = entry["SimilarImages"]
        assert sims["ImageSha1s"][0] == row["sha1"]
        assert sims["Distances"][0] == 0.0
        assert sims["NumberImages"] == len(sims["ImageSha1s"]) == 10


def test_bysha1_matches_byb64(spark, domain_images, server):
    """bySHA1 probes the indexed item's resident vector — same answer as
    byB64 of the same image (featurization is deterministic)."""
    row = domain_images.orderBy("sha1").limit(1).collect()[0]
    via_sha1 = _get(server, "bySHA1", data=row["sha1"])
    via_b64 = _get(
        server, "byB64", data=base64.b64encode(bytes(row["content"])).decode()
    )
    assert (
        via_sha1["images"][0]["SimilarImages"]
        == via_b64["images"][0]["SimilarImages"]
    )


def test_options_near_dup_and_error_contract(spark, domain_images, server):
    """near_dup with an epsilon threshold keeps only the query itself;
    unknown options append errors instead of failing (api.py:192-215)."""
    row = domain_images.orderBy("sha1").limit(1).collect()[0]
    b64 = base64.b64encode(bytes(row["content"])).decode()
    out = _get(
        server, "byB64", data=b64,
        options=json.dumps(
            {"near_dup": True, "near_dup_th": 1e-6, "bogus_option": 1}
        ),
    )
    sims = out["images"][0]["SimilarImages"]
    assert sims["ImageSha1s"] == [row["sha1"]]
    assert any("Unknown option bogus_option" in e for e in out["errors"].values())


def test_post_form_and_json_bodies(spark, domain_images, server):
    row = domain_images.orderBy("sha1").limit(1).collect()[0]
    b64 = base64.b64encode(bytes(row["content"])).decode()
    url = _url(server, "byB64")
    # urlencoded form (the reference's request.form path)
    body = urllib.parse.urlencode({"data": b64}).encode()
    with urllib.request.urlopen(urllib.request.Request(url, data=body)) as r:
        form_out = json.loads(r.read())
    # JSON body (the reference's json.loads(form.keys()[0]) fallback)
    req = urllib.request.Request(
        url, data=json.dumps({"data": b64}).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as r:
        json_out = json.loads(r.read())
    assert (
        form_out["images"][0]["SimilarImages"]
        == json_out["images"][0]["SimilarImages"]
    )
    # POST with no data key -> the reference's 'no data received' error
    with urllib.request.urlopen(urllib.request.Request(url, data=b"")) as r:
        assert json.loads(r.read()) == {"error": "no data received"}

    # JSON body with a NATIVE options dict (review r13: json.loads(dict)
    # raised TypeError and every option was silently dropped — clients
    # had to double-encode options as a JSON string inside JSON)
    req = urllib.request.Request(
        url,
        data=json.dumps({"data": b64, "options": {"max_returned": 1}}).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as r:
        opt_out = json.loads(r.read())
    assert "errors" not in opt_out  # the dict options parsed cleanly
    sims = opt_out["images"][0]["SimilarImages"]
    assert sims["NumberImages"] == len(sims["ImageSha1s"]) == 1  # applied


def test_status_and_unknown_mode(server, service):
    st = _get(server, "status")
    assert st["status"] == "OK"
    assert int(st["nb_indexed"]) == service.searcher.n_items
    assert "API_uptime" in st and "last_refresh_time" in st
    err = _get(server, "definitely_not_a_mode")
    assert err["error"].startswith("unknown_mode: definitely_not_a_mode")


def test_refresh_indexes_new_images(spark, server, service):
    """The ST6 twin at the serving tier: new images extracted + encoded
    distributed, added to the replica with sha1 dedup — findable via the
    SAME running endpoint immediately after."""
    from columbiaimagesearch_spark.sources import fixtures

    new_images = fixtures.generate(n_images=230).to_spark(spark)["images"]
    fresh = new_images.orderBy("sha1").collect()
    known = set(service.sha1_to_ids)
    truly_new = [r for r in fresh if r["sha1"] not in known]
    assert truly_new, "fixture must produce unseen images"

    before = service.searcher.n_items
    admitted = service.refresh(new_images)
    assert admitted > 0 and service.searcher.n_items == before + admitted
    # re-refresh of the same relation is a no-op (sha1 dedup, ST4)
    assert service.refresh(new_images) == 0

    probe = truly_new[0]
    out = _get(
        server, "byB64",
        data=base64.b64encode(bytes(probe["content"])).decode(),
    )
    sims = out["images"][0]["SimilarImages"]
    assert sims["ImageSha1s"][0] == probe["sha1"]
    assert sims["Distances"][0] == 0.0


def test_rerank_nb_zero_takes_adc_path(spark, domain_images, server):
    """rerank_nb=0 is a VALID option (the reference's rerank-off mode): the
    response must come back with ADC distances, not die in a 3-tuple
    unpack (ADVICE r5)."""
    row = domain_images.orderBy("sha1").limit(1).collect()[0]
    b64 = base64.b64encode(bytes(row["content"])).decode()
    out = _get(server, "byB64", data=b64, options=json.dumps({"rerank_nb": 0}))
    sims = out["images"][0]["SimilarImages"]
    assert sims["ImageSha1s"][0] == row["sha1"]
    # ADC distances carry quantization error (self-dist > 0 is fine) but
    # must come back sorted ascending and well-formed
    assert sims["Distances"] == sorted(sims["Distances"])
    assert sims["NumberImages"] == len(sims["ImageSha1s"]) == 10
    assert "errors" not in out

    # the reference's boolean toggle spells the same mode
    # (searcher_lopqhbase.py:823-831): reranking=false -> ADC answers,
    # regardless of rerank_nb (which only sizes the shortlist when on)
    off = _get(
        server, "byB64", data=b64,
        options=json.dumps({"reranking": False, "rerank_nb": 50}),
    )
    assert off["images"][0]["SimilarImages"] == sims
    assert "errors" not in off


def test_bad_option_values_append_errors(spark, domain_images, server):
    """Non-numeric near_dup_th/max_returned/rerank_nb values are reported
    via the errors contract and the defaults apply — the request still
    answers (ADVICE r5)."""
    row = domain_images.orderBy("sha1").limit(1).collect()[0]
    b64 = base64.b64encode(bytes(row["content"])).decode()
    out = _get(
        server, "byB64", data=b64,
        options=json.dumps({"near_dup_th": "not-a-number", "rerank_nb": "x"}),
    )
    sims = out["images"][0]["SimilarImages"]
    assert sims["ImageSha1s"][0] == row["sha1"]
    errs = " ".join(out["errors"].values())
    assert "near_dup_th" in errs and "rerank_nb" in errs


def test_invalid_base64_appends_item_error(server):
    out = _get(server, "byB64", data="!!!not-base64!!!")
    entry = out["images"][0]
    assert "could not decode base64" in entry["error"]
    assert entry["SimilarImages"]["NumberImages"] == 0


def test_malformed_json_post_answers_json_400(server):
    """A syntactically-broken JSON POST body answers a JSON error object
    with 400 instead of slamming the socket shut (ADVICE r5)."""
    url = _url(server, "byB64")
    req = urllib.request.Request(
        url, data=b"{not json", headers={"Content-Type": "application/json"}
    )
    try:
        urllib.request.urlopen(req, timeout=30)
        raise AssertionError("expected HTTP 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert "error" in json.loads(e.read())


def test_byurl_matches_byb64(spark, domain_images, server, tmp_path):
    """byURL round-trip: file:// URL, bare path (byPATH) and data: URI of
    the same bytes all equal the byB64 answer; a dead URL appends a
    per-item error without failing the request."""
    row = domain_images.orderBy("sha1").limit(1).collect()[0]
    content = bytes(row["content"])
    img = tmp_path / "probe.img"
    img.write_bytes(content)
    b64 = base64.b64encode(content).decode()
    via_b64 = _get(server, "byB64", data=b64)["images"][0]

    file_url = img.as_uri()
    data_uri = "data:application/octet-stream;base64," + b64
    out = _get(server, "byURL", data=",".join([file_url, data_uri]))
    for entry in out["images"]:
        assert entry["SimilarImages"] == via_b64["SimilarImages"]
        # same bytes -> same computed query sha1 across transports
        assert entry["QuerySha1"] == via_b64["QuerySha1"]
    assert out["images"][0]["QueryURL"] == file_url

    via_path = _get(server, "byPATH", data=str(img))
    assert via_path["images"][0]["SimilarImages"] == via_b64["SimilarImages"]

    dead = _get(server, "byURL", data=str(tmp_path / "missing.img"))
    entry = dead["images"][0]
    assert "could not fetch image" in entry["error"]
    assert entry["SimilarImages"]["NumberImages"] == 0


def test_bypath_confined_to_path_root(spark, domain_images, server):
    """Local reads are CONFINED: a byPATH/file:// query outside the
    service's path_root answers a per-item error, never the file bytes —
    and a service built without path_root denies local reads entirely
    (an HTTP client must not read arbitrary server files)."""
    out = _get(server, "byPATH", data="/etc/hostname")
    entry = out["images"][0]
    assert "could not fetch image" in entry["error"]
    assert "allowed root" in entry["error"]
    # ../ traversal out of the root is caught after realpath resolution
    out = _get(server, "byURL",
               data="file:///tmp/../etc/hostname")
    assert "could not fetch image" in out["images"][0]["error"]

    unconfined = http_api.ImageSearchService.build(spark, domain_images)
    resp = unconfined.search_url_list(["/etc/hostname"], {})
    assert "local file access is disabled" in resp["images"][0]["error"]


def test_byb64_data_uri_and_lenient_base64(spark, domain_images, server,
                                           service):
    """Every byB64 input item yields a result or an error entry — a data:
    URI item is decoded and answered (not silently dropped), and
    MIME-wrapped / GET-mangled base64 ('+' -> ' ', embedded newlines)
    still decodes."""
    row = domain_images.orderBy("sha1").limit(1).collect()[0]
    content = bytes(row["content"])
    b64 = base64.b64encode(content).decode()
    expect = _get(server, "byB64", data=b64)["images"][0]

    # data: URI as a byB64 item (its header comma must not split it)
    out = _get(server, "byB64",
               data="data:application/octet-stream;base64," + b64)
    assert len(out["images"]) == 1
    assert out["images"][0]["QuerySha1"] == expect["QuerySha1"]
    assert out["images"][0]["SimilarImages"] == expect["SimilarImages"]

    # MIME 76-col wrapping and '+'->' ' query-string mangling both decode
    wrapped = "\n".join(b64[i:i + 76] for i in range(0, len(b64), 76))
    mangled = b64.replace("+", " ")
    out = _get(server, "byB64", data=wrapped)
    assert out["images"][0]["QuerySha1"] == expect["QuerySha1"]
    resp = service.search_b64_list([mangled], {})
    assert resp["images"][0]["QuerySha1"] == expect["QuerySha1"]

    # a malformed item still errors per-item, aligned with its position
    out = _get(server, "byB64", data=",".join([b64, "data:text/plain;no-payload"]))
    assert len(out["images"]) == 2
    assert out["images"][0]["QuerySha1"] == expect["QuerySha1"]
    assert "could not decode" in out["images"][1]["error"]


def _replicas(svc) -> list:
    """The service's ServingSearcher replicas: its shards, or itself."""
    from columbiaimagesearch_spark.lopq.serving import ShardedServingRouter

    if isinstance(svc.searcher, ShardedServingRouter):
        return [s for _lo, _hi, s in svc.searcher.shards]
    return [svc.searcher]


def _resident_ids(svc) -> list[tuple[list[int], list[int]]]:
    """(code ids, vector ids) per shard, each sorted."""
    return [
        (
            sorted(i for ids, _f in s._cells.values() for i in ids.tolist()),
            sorted(s._vectors),
        )
        for s in _replicas(svc)
    ]


def _resident_codes(svc) -> list[tuple[int, int, list[int]]]:
    """Every resident (id, cell, fine) row over all shards, sorted."""
    return sorted(
        (int(i), int(c), f.tolist())
        for s in _replicas(svc)
        for c, (ids, fines) in s._cells.items()
        for i, f in zip(ids, fines)
    )


def _assert_same_answers(a, b, images, sha1s) -> None:
    """byB64 and bySHA1 answers of two services agree on the rerank path
    and the ADC path."""
    for opts in ({}, {"reranking": False}):
        for row in images:
            b64 = base64.b64encode(bytes(row["content"])).decode()
            assert (
                a.search_b64_list([b64], opts)["images"][0]
                == b.search_b64_list([b64], opts)["images"][0]
            ), (row["sha1"], opts)
        assert (
            a.search_sha1_list(sha1s, opts)["images"]
            == b.search_sha1_list(sha1s, opts)["images"]
        ), opts


def _spark_jobs(spark, fn):
    """(number of Spark jobs ``fn()`` ran, its result), counted by job
    group through the status tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_sharded_service_build_same_answers(spark, domain_images):
    """build(n_shards=2|4) routes through ShardedServingRouter with
    per-shard codes AND rerank vectors — byB64/bySHA1 answers are
    identical to the single-replica service on the rerank and ADC paths,
    before and after the same new images are refreshed in, and every shard
    holds the vectors of exactly the items whose codes it holds. Shards
    are split in memory, so a build runs the same Spark jobs at 2 and 4
    shards, and a refresh the same jobs into 2 shards as into 1."""
    from columbiaimagesearch_spark.lopq.serving import ShardedServingRouter
    from columbiaimagesearch_spark.sources import fixtures

    build = http_api.ImageSearchService.build
    # fresh single-replica reference (the module `service` fixture mutates
    # across the refresh test, so don't compare against it)
    service = build(spark, domain_images)
    jobs_2, sharded = _spark_jobs(
        spark, lambda: build(spark, domain_images, n_shards=2)
    )
    jobs_4, wide = _spark_jobs(
        spark, lambda: build(spark, domain_images, n_shards=4)
    )
    assert jobs_2 == jobs_4
    rows = domain_images.orderBy("sha1").limit(3).collect()
    for svc, n_shards in ((sharded, 2), (wide, 4)):
        assert isinstance(svc.searcher, ShardedServingRouter)
        assert len(svc.searcher.shards) == n_shards
        assert svc.searcher.n_items == service.searcher.n_items
        for code_ids, vec_ids in _resident_ids(svc):
            assert code_ids == vec_ids
        _assert_same_answers(service, svc, rows, [r["sha1"] for r in rows])

    new_images = fixtures.generate(n_images=215).to_spark(spark)["images"]
    known_before = set(sharded.sha1_to_ids)
    jobs_2r, admitted = _spark_jobs(spark, lambda: sharded.refresh(new_images))
    assert admitted > 0
    jobs_1r, admitted_1 = _spark_jobs(spark, lambda: service.refresh(new_images))
    assert admitted_1 == admitted
    assert jobs_1r == jobs_2r
    for code_ids, vec_ids in _resident_ids(sharded):
        assert code_ids == vec_ids
    assert sharded.id_to_sha1 == service.id_to_sha1
    fresh = [
        r for r in new_images.orderBy("sha1").collect()
        if r["sha1"] not in known_before
    ]
    probe = fresh[0]
    out = sharded.search_b64_list(
        [base64.b64encode(bytes(probe["content"])).decode()], {}
    )
    sims = out["images"][0]["SimilarImages"]
    assert sims["ImageSha1s"][0] == probe["sha1"]
    assert sims["Distances"][0] == 0.0
    _assert_same_answers(
        service, sharded, rows + fresh[:3],
        [r["sha1"] for r in rows + fresh[:3]],
    )


def test_build_fits_exact_budget(spark, domain_images):
    """One item is its codes plus its rerank vector, so a service over n
    items fits a cap of n rows; n - 1 raises the budget error."""
    n = domain_images.select("sha1").distinct().count()
    svc = http_api.ImageSearchService.build(
        spark, domain_images, n_shards=1, max_rows_per_shard=n
    )
    assert svc.searcher.n_items == len(svc.searcher._vectors) == n
    with pytest.raises(ValueError, match="serving replica budget"):
        http_api.ImageSearchService.build(
            spark, domain_images, n_shards=1, max_rows_per_shard=n - 1
        )


def test_refresh_extracts_only_new_images(spark, domain_images):
    """Already-indexed sha1s are anti-joined away BEFORE featurization: a
    poll that finds nothing new never pays an extraction pass over the
    corpus (it used to featurize + collect everything and discard it
    driver-side), and a mixed batch extracts only its new rows."""
    from columbiaimagesearch_spark.sources import fixtures

    svc = http_api.ImageSearchService.build(spark, domain_images)
    extracted_counts: list[int] = []
    real_extract = type(svc)._extract_items

    def spy(images, mode, factory):
        extracted_counts.append(images.count())
        return real_extract(images, mode, factory)

    svc._extract_items = spy
    assert svc.refresh(domain_images) == 0  # all known
    assert extracted_counts[-1] == 0

    new_images = fixtures.generate(n_images=205).to_spark(spark)["images"]
    n_new = new_images.join(
        domain_images.select("sha1"), "sha1", "left_anti"
    ).count()
    assert n_new > 0
    admitted = svc.refresh(new_images)  # mixed: knowns + a few new
    assert admitted == n_new
    assert extracted_counts[-1] == n_new  # ONLY the new rows featurized


def _counting_factory(acc):
    """A ToyExtractionModel factory whose ``featurize_full`` calls add one
    to the Spark accumulator ``acc`` (on the executors and on the
    driver)."""
    from columbiaimagesearch_spark.multimodal.images import ToyExtractionModel

    # local class: cloudpickle ships it, and `acc` with it, by value to the
    # executors
    class CountingModel(ToyExtractionModel):
        def featurize_full(self, data):
            # an executor keeps one model per worker across tasks, but each
            # task deserializes (and reports) its own copy of the
            # accumulator: add to the copy the running task registered
            from pyspark.accumulators import _accumulatorRegistry

            _accumulatorRegistry[acc.aid].add(1)
            return super().featurize_full(data)

    return CountingModel


def test_each_image_featurized_once(spark, domain_images):
    """Build, refresh (new images only) and ``api.search_by_image`` call
    the featurizer once per distinct image: neither the budget count nor
    the numbering re-runs the extraction. (An uncached extraction under
    ``ordered_global_index`` ran twice: its range exchange samples the
    input in a job of its own.)"""
    from columbiaimagesearch_spark.api import search_by_image
    from columbiaimagesearch_spark.sources import fixtures

    # one accumulator and one factory for the whole test: executors cache
    # the model by the factory's name, so a second factory built here would
    # be served the first one's model
    acc = spark.sparkContext.accumulator(0)
    factory = _counting_factory(acc)

    def calls(fn):
        before = acc.value
        out = fn()
        return acc.value - before, out

    n = domain_images.select("sha1").distinct().count()
    n_build, svc = calls(
        lambda: http_api.ImageSearchService.build(
            spark, domain_images, model_factory=factory
        )
    )
    assert n_build == n

    new_images = fixtures.generate(n_images=215).to_spark(spark)["images"]
    n_new = (
        new_images.join(domain_images.select("sha1"), "sha1", "left_anti")
        .select("sha1").distinct().count()
    )
    assert n_new > 0
    n_refresh, admitted = calls(lambda: svc.refresh(new_images))
    assert admitted == n_new
    assert n_refresh == n_new

    q = domain_images.orderBy("sha1").first()
    n_search, out = calls(
        lambda: search_by_image(
            spark, domain_images, [(q["sha1"], bytes(q["content"]))],
            max_returned=3, model_factory=factory,
        )
    )
    assert out[q["sha1"]]["sha1s"][0] == q["sha1"]
    assert n_search == n + 1  # the corpus once, then the query


@pytest.mark.parametrize("mode", ["full_image", "face"])
def test_driver_numbering_and_encode_match_distributed(
    spark, domain_images, mode
):
    """The service numbers and encodes on the driver the rows it collects;
    the distributed pair is the reference. After a build and after a
    refresh, the resident (id, cell, fine) rows equal ``encode_dataframe``
    over ``ordered_global_index(items, "item_key", "id")`` of the same
    extraction (refresh: the not-yet-indexed images, ids after the current
    max), ``id_to_sha1`` equals that numbering's map, and every rerank
    vector is the extracted one, bit for bit."""
    import numpy as np
    import pyspark.sql.functions as F

    from columbiaimagesearch_spark.functions.rank import ordered_global_index
    from columbiaimagesearch_spark.lopq.encode import encode_dataframe
    from columbiaimagesearch_spark.sources import fixtures

    service_cls = http_api.ImageSearchService
    images = (
        domain_images if mode == "full_image"
        else domain_images.orderBy("sha1").limit(40)
    )
    svc = service_cls.build(spark, images, mode=mode, n_shards=2)

    def reference(new, base):
        items = service_cls._extract_items(new, mode, svc.model_factory)
        ided = (
            ordered_global_index(items, "item_key", "id")
            .select((F.col("id") + base).alias("id"), "sha1", "v")
            .persist()
        )
        try:
            codes = (
                encode_dataframe(spark, ided, svc.model, id_col="id", vec_col="v")
                .select("id", "cell", "fine")
                .collect()
            )
            rows = ided.collect()
        finally:
            ided.unpersist()
        return (
            {r["id"]: r["sha1"] for r in rows},
            [(r["id"], r["cell"], list(r["fine"])) for r in codes],
            {r["id"]: np.asarray(r["v"], dtype=np.float64) for r in rows},
        )

    def check(id_to_sha1, codes, vectors):
        assert svc.id_to_sha1 == id_to_sha1
        assert _resident_codes(svc) == sorted(codes)
        ids = sorted(vectors)
        assert (
            svc.searcher.resident_vectors(ids).tobytes()
            == np.stack([vectors[i] for i in ids]).tobytes()
        )

    id_to_sha1, codes, vectors = reference(images, 0)
    assert id_to_sha1
    check(id_to_sha1, codes, vectors)

    new_images = fixtures.generate(n_images=215).to_spark(spark)["images"]
    if mode == "face":
        new_images = new_images.orderBy("sha1").limit(80)
    known = spark.createDataFrame(
        [(s,) for s in svc.sha1_to_ids], "sha1 string"
    )
    unindexed = new_images.join(known, "sha1", "left_anti")
    new_map, new_codes, new_vectors = reference(
        unindexed, max(svc.id_to_sha1) + 1
    )
    assert new_map
    assert svc.refresh(new_images) == len(new_map)
    check(
        {**id_to_sha1, **new_map}, codes + new_codes,
        {**vectors, **new_vectors},
    )


def test_concurrent_refresh_serializes(spark, domain_images):
    """Two refresh calls racing the same new-images relation admit each
    sha1 exactly once (the refresh lock, ADVICE r5 / VERDICT r5 #3)."""
    import threading

    from columbiaimagesearch_spark.sources import fixtures

    svc = http_api.ImageSearchService.build(spark, domain_images)
    new_images = fixtures.generate(n_images=212).to_spark(spark)["images"]
    known = set(svc.sha1_to_ids)
    expected_new = {
        r["sha1"] for r in new_images.select("sha1").distinct().collect()
    } - known

    admitted: list[int] = []
    def run():
        admitted.append(svc.refresh(new_images))

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sum(admitted) == len(expected_new)
    assert svc.searcher.n_items == len(known) + len(expected_new)


def test_http_refresh_picks_up_appended_source_rows(spark, tmp_path):
    """The reference's HTTP refresh semantics (load_codes(full_refresh=True),
    api.py:307-319): GET /refresh re-scans the BACKING STORE and admits
    whatever landed since build. Parquet-backed end-to-end: build from a
    path, append rows to that path, hit /refresh over HTTP, find the new
    image through the same running endpoint."""
    from columbiaimagesearch_spark.sources import fixtures

    src = str(tmp_path / "images_src")
    all_images = fixtures.generate(n_images=210).to_spark(spark)["images"]
    initial = all_images.orderBy("sha1").limit(180)
    initial.write.mode("overwrite").parquet(src)

    svc = http_api.ImageSearchService.build(
        spark, spark.read.parquet(src), source_path=src
    )
    known = set(svc.sha1_to_ids)
    assert len(known) == 180

    srv = http_api.make_server(svc)
    http_api.serve_in_thread(srv)
    try:
        # nothing new yet: refresh over HTTP is a no-op
        out = _get(srv, "refresh")
        assert out["refresh"] == "just run a full refresh"
        assert out["admitted"] == 0

        # append the remaining rows to the SOURCE PATH, refresh via HTTP
        later = all_images.join(initial.select("sha1"), "sha1", "left_anti")
        n_later = later.count()
        assert n_later == 30
        later.write.mode("append").parquet(src)
        out = _get(srv, "refresh")
        assert out["admitted"] == n_later

        probe = later.orderBy("sha1").limit(1).collect()[0]
        found = _get(
            srv, "byB64",
            data=base64.b64encode(bytes(probe["content"])).decode(),
        )
        sims = found["images"][0]["SimilarImages"]
        assert sims["ImageSha1s"][0] == probe["sha1"]
        assert sims["Distances"][0] == 0.0

        # check_new_updates: stale index -> refreshes; fresh index -> only
        # status (the refresh throttle; api.py:340-366 semantics)
        import datetime as dtmod

        svc.last_refresh = svc.last_refresh - dtmod.timedelta(hours=2)
        stamped_before = svc.last_refresh
        st = _get(srv, "check_new_updates")
        assert st["status"] == "OK"
        assert svc.last_refresh > stamped_before  # refresh ran (no-op admit)
        stamped = svc.last_refresh
        _get(srv, "check_new_updates")  # inside the delay: status only
        assert svc.last_refresh == stamped
        # check_all_updates refreshes unconditionally
        _get(srv, "check_all_updates")
        assert svc.last_refresh > stamped
    finally:
        srv.shutdown()


def test_view_similar_html_modes(spark, domain_images, server, tmp_path):
    """view_similar_by{B64,SHA1,PATH}: same search, rendered as the
    reference's HTML results page — query image inline (data: URI where
    bytes are at hand, view_image_sha1 link for sha1 queries), each hit an
    <img> against this server's view_image_sha1 route with the distance
    as title."""
    row = domain_images.orderBy("sha1").limit(1).collect()[0]
    content = bytes(row["content"])
    b64 = base64.b64encode(content).decode()

    def get_html(mode, data):
        with urllib.request.urlopen(_url(server, mode, data=data), timeout=60) as r:
            assert r.headers["Content-Type"].startswith("text/html")
            return r.read().decode()

    page = get_html("view_similar_byB64", b64)
    # top hit (the image itself, indexed under the fixture sha1) links back
    # through the data-plane fetch route
    assert f"view_image_sha1?data={row['sha1']}" in page
    assert "data:image/" in page  # query embedded as data: URI
    assert 'title="0.0"' in page  # self-match distance

    page_sha = get_html("view_similar_bySHA1", row["sha1"])
    assert f"view_image_sha1?data={row['sha1']}" in page_sha

    img = tmp_path / "probe.img"
    img.write_bytes(content)
    page_path = get_html("view_similar_byPATH", str(img))
    assert f"view_image_sha1?data={row['sha1']}" in page_path

    # view settings (reference api.py:517-523 + the templates): defaults
    # are no_blur=True -> img_vis and max_height=120; no_blur=false picks
    # the blurred class and max_height sets the inline height
    assert 'class="img_vis"' in page and "height: 120px" in page
    opts = json.dumps({"no_blur": False, "max_height": 200})
    with urllib.request.urlopen(
        _url(server, "view_similar_byB64", data=b64, options=opts), timeout=60
    ) as r:
        styled = r.read().decode()
    assert 'class="img_blur"' in styled and 'class="img_vis"' not in styled
    assert "height: 200px" in styled and "Unknown option" not in styled


def test_view_image_sha1_returns_bytes(spark, domain_images, server, service):
    """view_image_sha1 (api.py:545-557): sha1 -> image bytes via an S5
    point-get against the images relation, MIME from the header sniffer;
    unknown sha1 -> 404."""
    row = domain_images.orderBy("sha1").limit(1).collect()[0]
    url = _url(server, "view_image_sha1", data=row["sha1"])
    with urllib.request.urlopen(url, timeout=60) as r:
        assert r.headers["Content-Type"].startswith("image/")
        assert r.read() == bytes(row["content"])
    bad = _url(server, "view_image_sha1", data="0" * 40)
    try:
        urllib.request.urlopen(bad, timeout=60)
        raise AssertionError("expected HTTP 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_parallel_pool_service_same_answers_and_refresh(
    spark, domain_images, monkeypatch
):
    """build(parallel=True, n_shards=2) answers byB64/bySHA1 through the
    forked per-shard pool — identical to the sequential sharded service,
    including the exact-rerank path — and refresh re-forks the pool so
    queries see the admitted rows (COW children hold the pre-refresh
    index). Every query goes to the workers (no local route)."""
    from columbiaimagesearch_spark.lopq.serving import ForkedRouterPool
    from columbiaimagesearch_spark.sources import fixtures

    monkeypatch.setattr(ForkedRouterPool, "LOCAL_MAX_ROWS", 0)

    sharded = http_api.ImageSearchService.build(
        spark, domain_images, n_shards=2
    )
    pooled = http_api.ImageSearchService.build(
        spark, domain_images, n_shards=2, parallel=True
    )
    assert pooled._pool is not None and pooled._pool._procs
    try:
        rows = domain_images.orderBy("sha1").limit(3).collect()
        for row in rows:
            b64 = base64.b64encode(bytes(row["content"])).decode()
            a = sharded.search_b64_list([b64], {})["images"][0]
            b = pooled.search_b64_list([b64], {})["images"][0]
            assert a == b
        # ADC-only mode through the pool too
        sha1s = [r["sha1"] for r in rows]
        assert sharded.search_sha1_list(
            sha1s, {"rerank_nb": 0}
        ) == pooled.search_sha1_list(sha1s, {"rerank_nb": 0})

        new_images = fixtures.generate(n_images=215).to_spark(spark)["images"]
        known_before = set(pooled.sha1_to_ids)
        old_pool = pooled._pool
        assert pooled.refresh(new_images) > 0
        assert pooled._pool is not old_pool  # re-forked post-mutation
        assert not old_pool._procs  # old workers shut down
        probe = [
            r for r in new_images.orderBy("sha1").collect()
            if r["sha1"] not in known_before
        ][0]
        out = pooled.search_b64_list(
            [base64.b64encode(bytes(probe["content"])).decode()], {}
        )
        sims = out["images"][0]["SimilarImages"]
        assert sims["ImageSha1s"][0] == probe["sha1"]
        assert sims["Distances"][0] == 0.0
    finally:
        pooled._pool.close()


def test_refresh_publishes_vectors_and_metadata_before_codes(
    spark, domain_images, monkeypatch
):
    """An in-process reader may return an id as soon as its codes sit in a
    cell, so refresh registers the rerank vectors and the sha1s first and
    admits the codes last. Pause the admit after its first shard and query
    fresh images by their own bytes over HTTP: every answer is a 200 that
    names known sha1s, and a fresh image already admitted finds itself."""
    from columbiaimagesearch_spark.lopq.serving import ServingSearcher
    from columbiaimagesearch_spark.sources import fixtures

    svc = http_api.ImageSearchService.build(spark, domain_images, n_shards=2)
    new_images = fixtures.generate(n_images=215).to_spark(spark)["images"]
    fresh = [
        r for r in new_images.orderBy("sha1").collect()
        if r["sha1"] not in svc.sha1_to_ids
    ]
    assert fresh
    admitted, go = threading.Event(), threading.Event()
    real_add = ServingSearcher.add_codes

    def paused_add(self, codes):
        out = real_add(self, codes)
        if not admitted.is_set():
            admitted.set()
            go.wait(60)
        return out

    monkeypatch.setattr(ServingSearcher, "add_codes", paused_add)
    srv = http_api.make_server(svc)
    http_api.serve_in_thread(srv)
    refresher = threading.Thread(target=svc.refresh, args=(new_images,))
    refresher.start()
    try:
        assert admitted.wait(300), "refresh never admitted a shard"
        known = set(svc.sha1_to_ids)
        self_hits = 0
        for r in fresh:
            req = urllib.request.Request(
                _url(srv, "byB64"),
                data=json.dumps({
                    "data": base64.b64encode(bytes(r["content"])).decode()
                }).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req, timeout=30) as resp:
                assert resp.status == 200
                sims = json.loads(resp.read())["images"][0]["SimilarImages"]
            assert set(sims["ImageSha1s"]) <= known
            self_hits += sims["ImageSha1s"][:1] == [r["sha1"]]
        assert self_hits, "no fresh image was admitted before the pause"
    finally:
        go.set()
        refresher.join(60)
        srv.shutdown()
        srv.server_close()
    assert svc.searcher.n_items == len(svc.id_to_sha1)


def test_parallel_pool_requires_sharded_service(spark, domain_images):
    import pytest

    single = http_api.ImageSearchService.build(spark, domain_images)
    with pytest.raises(ValueError, match="n_shards"):
        single.enable_parallel_pool()


def test_broken_pool_is_discarded_and_reforked(
    spark, domain_images, monkeypatch
):
    """ADVICE r9: a dead-worker pool must not stay installed. Kill the
    pool's workers; the next query answers in-process (correct result),
    and the service swaps in a FRESH pool — never the desynced one. Every
    pool query goes to the workers (no local route), so the death shows."""
    from columbiaimagesearch_spark.lopq.serving import ForkedRouterPool

    monkeypatch.setattr(ForkedRouterPool, "LOCAL_MAX_ROWS", 0)
    pooled = http_api.ImageSearchService.build(
        spark, domain_images, n_shards=2, parallel=True
    )
    sharded = http_api.ImageSearchService.build(
        spark, domain_images, n_shards=2
    )
    try:
        rows = domain_images.orderBy("sha1").limit(2).collect()
        sha1s = [r["sha1"] for r in rows]
        want = sharded.search_sha1_list(sha1s, {})
        broken = pooled._pool
        for p in broken._procs:
            p.kill()
            p.join()
        got = pooled.search_sha1_list(sha1s, {})
        assert got == want  # fallback answered correctly
        assert pooled._pool is not broken  # broken pool discarded
        assert pooled._pool is not None and pooled._pool._procs  # re-forked
        assert pooled.search_sha1_list(sha1s, {}) == want  # fresh pool serves
    finally:
        pooled.close()


def test_service_close_shuts_pool_down(spark, domain_images):
    """ADVICE r9: service teardown must close the pool (forked workers
    each COW-hold the index; without close they linger to process exit)."""
    pooled = http_api.ImageSearchService.build(
        spark, domain_images, n_shards=2, parallel=True
    )
    procs = list(pooled._pool._procs)
    assert procs
    pooled.close()
    assert pooled._pool is None
    assert all(not p.is_alive() for p in procs)
    pooled.close()  # idempotent


def test_pool_reforks_keep_fds_and_threads_flat(spark, domain_images):
    """Each refresh closes the old pool and forks a new one: the parent's
    open descriptors and threads stay at their level with one pool alive,
    refresh after refresh, and drop back when the service closes."""
    import os

    from columbiaimagesearch_spark.sources import fixtures

    def level():
        return len(os.listdir("/proc/self/fd")), threading.active_count()

    before = level()
    pooled = http_api.ImageSearchService.build(
        spark, domain_images, n_shards=2, parallel=True
    )
    try:
        with_pool = level()
        for n in (205, 210, 215):
            new_images = fixtures.generate(n_images=n).to_spark(spark)["images"]
            assert pooled.refresh(new_images) > 0
            assert level() == with_pool
    finally:
        pooled.close()
    assert level() == before


def test_refresh_after_close_stays_in_process(spark, domain_images):
    """ADVICE r10: close() documents 'the service keeps answering
    in-process afterwards' — so a later refresh() must NOT silently
    re-fork a worker pool (resurrecting the COW-holding children close()
    exists to reap). `_parallel` is cleared by close();
    enable_parallel_pool() is the explicit opt-back-in."""
    from columbiaimagesearch_spark.sources import fixtures

    pooled = http_api.ImageSearchService.build(
        spark, domain_images, n_shards=2, parallel=True
    )
    try:
        pooled.close()
        assert pooled._pool is None and not pooled._parallel
        new_images = fixtures.generate(n_images=205).to_spark(spark)["images"]
        assert pooled.refresh(new_images) > 0
        assert pooled._pool is None  # refresh answered in-process, no re-fork
        rows = domain_images.orderBy("sha1").limit(1).collect()
        assert pooled.search_sha1_list([rows[0]["sha1"]], {})  # still serves
        pooled.enable_parallel_pool()  # explicit opt-in resurrects the pool
        assert pooled._pool is not None and pooled._parallel
    finally:
        pooled.close()


def test_duplicate_sha1_rows_index_once(spark, domain_images):
    """Review r14: the reference dedups images by construction (sha1 is
    the HBase row key); a duplicated input row must not double-featurize
    or double-index — previously it handed the numbering a tied
    key and the service two ids for one image (the same sha1 twice in
    top-k). Applies to build AND to a refresh batch with internal dups."""
    import pyspark.sql.functions as F

    base = domain_images.orderBy("sha1").limit(12)
    dup_row = base.limit(1)
    svc = http_api.ImageSearchService.build(
        spark, base.unionByName(dup_row).unionByName(dup_row)
    )
    n_unique = base.select("sha1").distinct().count()
    assert svc.searcher.n_items == n_unique
    assert all(len(ids) == 1 for ids in svc.sha1_to_ids.values())

    # refresh with a batch that repeats a NEW image twice: admitted once
    new_rows = domain_images.orderBy(F.desc("sha1")).limit(2)
    admitted = svc.refresh(new_rows.unionByName(new_rows.limit(1)))
    assert admitted == 2
    assert svc.searcher.n_items == n_unique + 2
    assert all(len(ids) == 1 for ids in svc.sha1_to_ids.values())


def test_face_mode_query_faces_and_detect_only(spark, domain_images):
    """Face mode parity (api.py:40-41 valid option detect_only,
    searcher_lopqhbase.py:851; output_mapping.py:139 per-face QueryFace):
    every face entry carries the detected bboxes aligned with its
    SimilarFaces lists, and detect_only runs detection but skips
    featurize + search — each face still appears with the empty result
    shape. A detected query face that exists in the index comes back at
    distance 0 on the non-detect_only path (self-retrieval)."""
    from columbiaimagesearch_spark.multimodal.images import toy_face_detector

    rows = domain_images.orderBy("sha1").limit(40).collect()
    with_faces = [
        r for r in rows if len(toy_face_detector(bytes(r["content"]))) > 0
    ]
    assert with_faces, "fixture must contain images with detected faces"
    svc = http_api.ImageSearchService.build(
        spark, domain_images.orderBy("sha1").limit(40), mode="face"
    )
    try:
        row = with_faces[0]
        data, sha1 = bytes(row["content"]), row["sha1"]
        boxes = [[int(c) for c in b[:4]] for b in toy_face_detector(data)]
        b64 = [base64.b64encode(data).decode()]

        out = svc.search_b64_list(b64, {"detect_only": True})
        entry = out["images"][0]
        assert entry["NumberFaces"] == len(boxes)
        assert entry["QueryFaces"] == boxes
        assert entry["SimilarFaces"] == [
            {"NumberImages": 0, "ImageSha1s": [], "Distances": []}
            for _ in boxes
        ]

        out = svc.search_b64_list(b64, {})
        entry = out["images"][0]
        assert entry["QueryFaces"] == boxes
        assert len(entry["SimilarFaces"]) == len(boxes)
        for sims in entry["SimilarFaces"]:
            # own face at rank 1 with distance 0 (indexed query image)
            assert sims["ImageSha1s"][0] == sha1
            assert sims["Distances"][0] == 0.0

        # bySHA1 reports the SAME boxes from the index-time metadata
        # (id_to_bbox) — the detector is deterministic in the bytes, so
        # index-time and re-detected boxes agree
        entry = svc.search_sha1_list([sha1], {})["images"][0]
        assert sorted(entry["QueryFaces"]) == sorted(boxes)
        assert len(entry["SimilarFaces"]) == len(boxes)
        for qf, sims in zip(entry["QueryFaces"], entry["SimilarFaces"]):
            assert sims["ImageSha1s"][0] == sha1 and qf in boxes
        entry = svc.search_sha1_list([sha1], {"detect_only": True})["images"][0]
        assert sorted(entry["QueryFaces"]) == sorted(boxes)
        assert entry["SimilarFaces"] == [
            {"NumberImages": 0, "ImageSha1s": [], "Distances": []}
            for _ in boxes
        ]

        # refresh carries the index-time boxes too (the fresh_meta path)
        known = set(svc.sha1_to_ids)
        admitted = svc.refresh(domain_images.orderBy("sha1").limit(60))
        assert admitted > 0
        new_face_ids = [
            i for s, ids in svc.sha1_to_ids.items() if s not in known
            for i in ids
        ]
        assert new_face_ids and all(
            len(svc.id_to_bbox[i]) == 4 for i in new_face_ids
        )
    finally:
        svc.close()


def test_detect_only_is_a_noop_in_full_image_mode(spark, domain_images, server):
    """The reference's detector-less flow featurizes unconditionally and
    never reads detect_only (generic_searcher.py:391-410): the option is
    accepted (no 'Unknown option' error) and the search runs normally."""
    row = domain_images.orderBy("sha1").limit(1).collect()[0]
    out = _get(
        server, "byB64",
        data=base64.b64encode(bytes(row["content"])).decode(),
        options=json.dumps({"detect_only": True}),
    )
    assert "errors" not in out
    assert out["images"][0]["SimilarImages"]["ImageSha1s"][0] == row["sha1"]


def test_server_default_near_dup_and_option_override(spark, domain_images):
    """The reference's conf-level near_dup default (generic_searcher.py:43-45,
    applied at searcher_lopqhbase.py:812-820): a service built with
    near_dup=True filters every query by near_dup_th — and a PRESENT but
    false query option disables it (option wins over server default)."""
    svc = http_api.ImageSearchService.build(
        spark, domain_images.orderBy("sha1").limit(30),
        near_dup=True, near_dup_th=1e-6,
    )
    try:
        row = domain_images.orderBy("sha1").limit(1).collect()[0]
        b64 = [base64.b64encode(bytes(row["content"])).decode()]
        # no option: the server default filters down to the query itself
        sims = svc.search_b64_list(b64, {})["images"][0]["SimilarImages"]
        assert sims["ImageSha1s"] == [row["sha1"]]
        # explicit false: the filter is off despite the server default
        sims = svc.search_b64_list(b64, {"near_dup": False})["images"][0][
            "SimilarImages"
        ]
        assert sims["NumberImages"] == 10
    finally:
        svc.close()


def test_face_mode_sharded_same_answers(spark, domain_images):
    """Face mode behind the sharded router: byB64 and bySHA1 entries —
    QueryFaces, SimilarFaces, detect_only — are identical to the
    single-replica face service (the face composition only changes how
    items are keyed; the router must be transparent to it)."""
    from columbiaimagesearch_spark.lopq.serving import ShardedServingRouter
    from columbiaimagesearch_spark.multimodal.images import toy_face_detector

    corpus = domain_images.orderBy("sha1").limit(40)
    single = http_api.ImageSearchService.build(spark, corpus, mode="face")
    sharded = http_api.ImageSearchService.build(
        spark, corpus, mode="face", n_shards=2
    )
    try:
        assert isinstance(sharded.searcher, ShardedServingRouter)
        assert sharded.searcher.n_items == single.searcher.n_items
        assert sharded.id_to_bbox == single.id_to_bbox

        rows = corpus.limit(40).collect()
        probe = next(
            r for r in rows if len(toy_face_detector(bytes(r["content"]))) > 0
        )
        b64 = [base64.b64encode(bytes(probe["content"])).decode()]
        for opts in ({}, {"detect_only": True}):
            a = single.search_b64_list(b64, dict(opts))["images"][0]
            b = sharded.search_b64_list(b64, dict(opts))["images"][0]
            assert a == b
        a = single.search_sha1_list([probe["sha1"]], {})["images"][0]
        b = sharded.search_sha1_list([probe["sha1"]], {})["images"][0]
        assert a == b
    finally:
        single.close()
        sharded.close()


def test_face_build_refuses_nondeterministic_detector(spark, domain_images):
    """The V15 determinism contract is PINNED at build (VERDICT r15 #4):
    bySHA1 face answers attribute results to index-time boxes on the
    argument that re-detection returns the same boxes; a backbone that
    breaks it must fail the build loudly, never silently mis-attribute."""
    from columbiaimagesearch_spark.multimodal.images import ToyExtractionModel

    class JitteryDetector(ToyExtractionModel):
        def __init__(self):
            super().__init__()
            self._n = 0

        def detect(self, data):
            self._n += 1  # deliberate nondeterminism across invocations
            return [(self._n, 0, self._n + 5, 5, 0.5)]

    with pytest.raises(RuntimeError, match="determinism contract"):
        http_api.ImageSearchService.build(
            spark, domain_images, mode="face", model_factory=JitteryDetector
        )
    # the toy backbone satisfies the contract — face builds keep working
    svc = http_api.ImageSearchService.build(
        spark, domain_images.limit(30), mode="face"
    )
    assert svc.mode == "face"


def test_reranking_server_default_with_override(spark, domain_images):
    """reranking is a SERVER-level default with per-query override (ADVICE
    r15 — the reference's self.reranking searcher-conf param): a service
    built with reranking=False answers ADC-ranked by default, and an
    explicit per-query reranking=true turns exact rerank back on."""
    row = domain_images.orderBy("sha1").limit(1).collect()[0]
    b64 = base64.b64encode(bytes(row["content"])).decode()
    on_svc = http_api.ImageSearchService.build(spark, domain_images)
    off_svc = http_api.ImageSearchService.build(
        spark, domain_images, reranking=False
    )
    adc_by_opt = on_svc.search_b64_list([b64], {"reranking": False})
    adc_by_default = off_svc.search_b64_list([b64], {})
    reranked_default = on_svc.search_b64_list([b64], {})
    reranked_override = off_svc.search_b64_list([b64], {"reranking": True})
    assert (
        adc_by_default["images"][0]["SimilarImages"]
        == adc_by_opt["images"][0]["SimilarImages"]
    )
    assert (
        reranked_override["images"][0]["SimilarImages"]
        == reranked_default["images"][0]["SimilarImages"]
    )
    # the two modes genuinely differ on this index (ADC carries
    # quantization error; exact rerank distances are exact)
    assert (
        adc_by_default["images"][0]["SimilarImages"]["Distances"]
        != reranked_default["images"][0]["SimilarImages"]["Distances"]
    )


def test_face_ids_ordered_and_bbox_constructor_injectable(spark, domain_images):
    """ADVICE r15: sha1_to_ids lists come back in deterministic id order
    (not distributed-collect order), so byB64 and bySHA1 list one image's
    faces identically; id_to_bbox arrives through the constructor, so a
    directly-constructed face service serves real boxes, not nulls."""
    svc = http_api.ImageSearchService.build(
        spark, domain_images.limit(60), mode="face"
    )
    for ids in svc.sha1_to_ids.values():
        assert ids == sorted(ids)
    multi = next(
        (s for s, ids in svc.sha1_to_ids.items() if len(ids) >= 2), None
    )
    assert multi is not None, "fixture should contain a multi-face image"
    out = svc.search_sha1_list([multi], {"detect_only": True})
    faces = out["images"][0]["QueryFaces"]
    assert all(f is not None for f in faces)
    assert faces == [svc.id_to_bbox[i] for i in svc.sha1_to_ids[multi]]
    # constructor injection: rebuilding the service object directly from
    # the built artifacts keeps the bbox attribution intact
    clone = http_api.ImageSearchService(
        svc.spark, svc.model, svc.searcher, svc.id_to_sha1, svc.sha1_to_ids,
        svc.q_model, svc.mode, id_to_bbox=svc.id_to_bbox,
    )
    out2 = clone.search_sha1_list([multi], {"detect_only": True})
    assert out2["images"][0]["QueryFaces"] == faces


# -- the accept-thread pool ---------------------------------------------------


class _GatedStatus:
    """Stands in for the service on the ``status`` route: each call waits
    for ``release``, so a test decides how long requests stay in flight and
    sees how many run at once."""

    def __init__(self) -> None:
        self.release = threading.Event()
        self.lock = threading.Lock()
        self.active = self.max_active = self.calls = 0

    def status(self) -> dict:
        with self.lock:
            self.calls += 1
            self.active += 1
            self.max_active = max(self.max_active, self.active)
        try:
            if not self.release.wait(30):
                raise TimeoutError("test never released the request")
            return {"status": "OK"}
        finally:
            with self.lock:
                self.active -= 1


def _wait_for(cond, timeout: float = 10.0) -> None:
    end = time.monotonic() + timeout
    while not cond():
        assert time.monotonic() < end, "condition not reached in time"
        time.sleep(0.01)


def _start_pool(svc) -> tuple[http_api.PooledHTTPServer, threading.Thread]:
    srv = http_api.make_server(svc)
    serving = http_api.serve_in_thread(srv)
    _wait_for(lambda: len(srv._pool) == http_api.SERVER_THREADS
              and all(t.is_alive() for t in srv._pool))
    return srv, serving


def _assert_stopped(srv, serving) -> None:
    serving.join(5)
    assert not serving.is_alive()
    for t in srv._pool:
        t.join(5)
        assert not t.is_alive(), t.name


def test_server_shutdown_wakes_idle_accept_threads():
    """Every pool thread is blocked in accept(): shutdown() wakes them all,
    joins them and returns promptly, and serve_forever's thread ends."""
    srv, serving = _start_pool(_GatedStatus())
    time.sleep(0.1)  # let every thread reach accept()
    t0 = time.perf_counter()
    srv.shutdown()
    assert time.perf_counter() - t0 < 2.0
    _assert_stopped(srv, serving)
    srv.server_close()


def test_server_shutdown_lets_in_flight_request_finish():
    """shutdown() waits for a request already being served: the client gets
    its full answer, then shutdown returns with no pool thread left."""
    svc = _GatedStatus()
    srv, serving = _start_pool(svc)
    answers: list = []
    client = threading.Thread(target=lambda: answers.append(_get(srv, "status")))
    client.start()
    _wait_for(lambda: svc.calls == 1)
    stopper = threading.Thread(target=srv.shutdown)
    stopper.start()
    time.sleep(0.2)
    assert stopper.is_alive(), "shutdown returned with a request in flight"
    svc.release.set()
    stopper.join(5)
    client.join(5)
    assert not stopper.is_alive() and not client.is_alive()
    assert answers == [{"status": "OK"}]
    _assert_stopped(srv, serving)
    srv.server_close()


def test_server_answers_more_concurrent_requests_than_threads():
    """Twice as many concurrent requests as pool threads: exactly
    SERVER_THREADS run at once, the rest wait in the listen backlog, and
    every one is answered once the first ones finish."""
    svc = _GatedStatus()
    srv, serving = _start_pool(svc)
    n = 2 * http_api.SERVER_THREADS
    answers: list = []
    clients = [
        threading.Thread(target=lambda: answers.append(_get(srv, "status")))
        for _ in range(n)
    ]
    try:
        for c in clients:
            c.start()
        _wait_for(lambda: svc.calls == http_api.SERVER_THREADS)
        time.sleep(0.2)
        assert svc.max_active == http_api.SERVER_THREADS
        svc.release.set()
        for c in clients:
            c.join(30)
            assert not c.is_alive()
    finally:
        svc.release.set()
        srv.shutdown()
    assert answers == [{"status": "OK"}] * n
    assert svc.calls == n
    _assert_stopped(srv, serving)
    srv.server_close()


def test_server_drops_silent_client_after_handler_timeout(monkeypatch):
    """A client that connects and sends nothing is dropped after the
    handler timeout: with every pool thread held by such a client, a real
    request is still answered, and each silent socket reads end-of-stream."""
    monkeypatch.setattr(http_api, "REQUEST_TIMEOUT_S", 0.3)
    svc = _GatedStatus()
    svc.release.set()
    srv, serving = _start_pool(svc)
    silent = [
        socket.create_connection(srv.server_address, timeout=10)
        for _ in range(http_api.SERVER_THREADS)
    ]
    try:
        assert _get(srv, "status") == {"status": "OK"}
        for sock in silent:
            assert sock.recv(1) == b""
    finally:
        for sock in silent:
            sock.close()
        srv.shutdown()
    _assert_stopped(srv, serving)
    srv.server_close()


# -- the request reader ---------------------------------------------------------


class _EchoService:
    """Stands in for the service: ``status`` answers OK and ``bySHA1``
    echoes the items it was sent, so a response shows the whole body
    arrived; ``calls`` counts the searches."""

    def __init__(self) -> None:
        self.calls = 0

    def status(self) -> dict:
        return {"status": "OK"}

    def search_sha1_list(self, sha1s: list[str], opts: dict) -> dict:
        self.calls += 1
        return {"images": sha1s}


def _raw_request(srv, *chunks: bytes, pause: float = 0.0) -> tuple[int, dict]:
    """Send ``chunks`` on one connection (``pause`` seconds apart, so each
    arrives as its own TCP segment), then read the whole response: its
    status code and JSON body."""
    with socket.create_connection(srv.server_address, timeout=10) as sock:
        for chunk in chunks:
            sock.sendall(chunk)
            time.sleep(pause)
        data = b""
        while True:
            got = sock.recv(1 << 16)
            if not got:
                break
            data += got
    head, _, body = data.partition(b"\r\n\r\n")
    return int(head.split(b" ", 2)[1]), json.loads(body)


def _post_head(path: str, length: int, *extra: str) -> bytes:
    lines = [f"POST /cuimgsearch/{path} HTTP/1.1", "Host: x",
             "Content-Type: application/json", f"Content-Length: {length}",
             *extra]
    return ("\r\n".join(lines) + "\r\n\r\n").encode()


@pytest.fixture
def echo_server():
    svc = _EchoService()
    srv, serving = _start_pool(svc)
    yield srv, svc
    srv.shutdown()
    _assert_stopped(srv, serving)
    srv.server_close()


@pytest.mark.parametrize("request_bytes, code", [
    (b"GARBAGE\r\n\r\n", 400),
    (b"GET /cuimgsearch/status FTP/1.0\r\n\r\n", 400),
    (b"GET /cuimgsearch/status HTTP/1.0\r\nno colon here\r\n\r\n", 400),
    (b"BREW /cuimgsearch/status HTTP/1.0\r\n\r\n", 501),
    (b"GET /cuimgsearch/status HTTP/1.0\r\nX: " + b"a" * (64 * 1024)
     + b"\r\n\r\n", 431),
    (b"GET /cuimgsearch/status HTTP/1.0\r\n"
     + b"".join(b"X-%d: 1\r\n" % i for i in range(101)) + b"\r\n", 431),
    (_post_head("bySHA1", 0).replace(b"Length: 0", b"Length: -1"), 400),
    (_post_head("bySHA1", 0).replace(b"Length: 0", b"Length: 1e3"), 400),
    (_post_head("bySHA1", http_api.MAX_BODY_BYTES + 1) + b"{}", 413),
])
def test_request_reader_refusals(echo_server, request_bytes, code):
    """Each malformed or oversized request is answered by the reader with
    its status and a JSON error, and never reaches the handler."""
    srv, svc = echo_server
    status, body = _raw_request(srv, request_bytes)
    assert status == code and "error" in body
    assert svc.calls == 0
    # the accept thread that refused it serves the next request
    assert _raw_request(srv, b"GET /cuimgsearch/status HTTP/1.0\r\n\r\n") == (
        200, {"status": "OK"}
    )


def test_request_reader_head_split_across_segments(echo_server):
    """The head may arrive in pieces, even with the blank line that ends
    it split between two segments."""
    srv, _svc = echo_server
    status, body = _raw_request(
        srv, b"GET /cuimgsearch/sta", b"tus HTTP/1.0\r\nHost: x\r", b"\n\r",
        b"\n", pause=0.05,
    )
    assert (status, body) == (200, {"status": "OK"})


def test_request_reader_body_in_pieces(echo_server):
    """A body sent in several segments, after its head, is read up to
    Content-Length, and the handler sees all of it."""
    srv, svc = echo_server
    items = [f"{i:040x}" for i in range(300)]
    payload = json.dumps({"data": ",".join(items)}).encode()
    third = len(payload) // 3
    status, body = _raw_request(
        srv, _post_head("bySHA1", len(payload)), payload[:third],
        payload[third:2 * third], payload[2 * third:], pause=0.05,
    )
    assert status == 200 and body["images"] == items
    assert svc.calls == 1


def test_request_reader_client_gone_mid_body(echo_server):
    """A client that disconnects before its whole body arrived is dropped
    without calling the handler, and its accept thread serves on."""
    srv, svc = echo_server
    with socket.create_connection(srv.server_address, timeout=10) as sock:
        sock.sendall(_post_head("bySHA1", 1000) + b'{"data": "ab')
        time.sleep(0.1)
    time.sleep(0.2)
    assert svc.calls == 0
    assert all(t.is_alive() for t in srv._pool)
    payload = json.dumps({"data": "ab"}).encode()
    assert _raw_request(srv, _post_head("bySHA1", len(payload)) + payload)[1][
        "images"] == ["ab"]


def test_class_level_do_post_wrapper_sees_every_post(echo_server):
    """A wrapper installed on ``RequestHandlerClass.do_POST`` after the
    server started (the way a tracer instruments it) sees every POST, and
    reads its request header whatever case the client sent it in."""
    srv, svc = echo_server
    handler = srv.RequestHandlerClass
    raw = handler.do_POST
    seen: list = []

    def do_post(self):
        seen.append(self.headers.get("X-Perfbench-Req"))
        raw(self)

    handler.do_POST = do_post
    try:
        payload = json.dumps({"data": "ab"}).encode()
        for i in range(6):
            name = "X-Perfbench-Req" if i % 2 else "x-perfbench-req"
            status, body = _raw_request(
                srv, _post_head("bySHA1", len(payload), f"{name}: {i}") + payload
            )
            assert status == 200 and body["images"] == ["ab"]
    finally:
        handler.do_POST = raw
    assert seen == [str(i) for i in range(6)]
    assert svc.calls == 6
