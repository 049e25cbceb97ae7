"""Property-based invariants (hypothesis) for the numeric core — no Spark
session needed, so these run in milliseconds and fuzz the driver-side math
that every distributed pass mirrors."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from columbiaimagesearch_spark.lopq.model import (
    LOPQModel,
    eigenvalue_allocation,
    kmeans,
)
from columbiaimagesearch_spark.operators.dedup import MERSENNE_P, MH_A, MH_B, N_MINHASH


# -- C7: cell-id codec -------------------------------------------------------


@given(
    st.integers(min_value=1, max_value=4096),
    st.data(),
)
@settings(max_examples=50, deadline=None)
def test_cell_id_roundtrip(V, data):
    c1 = data.draw(st.integers(min_value=0, max_value=V - 1))
    c2 = data.draw(st.integers(min_value=0, max_value=V - 1))
    cell = c1 * V + c2
    assert (cell // V, cell % V) == (c1, c2)
    assert 0 <= cell < V * V


# -- V2: eigenvalue allocation ----------------------------------------------


@given(
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=1, max_value=8),
    st.randoms(use_true_random=False),
)
@settings(max_examples=50, deadline=None)
def test_eigenvalue_allocation_is_balanced_permutation(n_buckets, per_bucket, rnd):
    dim = n_buckets * per_bucket
    eigvals = np.array([rnd.uniform(1e-6, 1e3) for _ in range(dim)])
    perm = eigenvalue_allocation(eigvals, n_buckets)
    # a true permutation
    assert sorted(perm.tolist()) == list(range(dim))
    # buckets have equal cardinality by construction
    buckets = np.array_split(perm, n_buckets)
    assert all(len(b) == per_bucket for b in buckets)


# -- V1: k-means invariants ---------------------------------------------------


@given(st.integers(min_value=0, max_value=10_000))
@settings(max_examples=15, deadline=None)
def test_kmeans_deterministic_and_wellformed(seed):
    rng = np.random.RandomState(123)
    X = rng.randn(60, 6)
    C1, a1 = kmeans(X, 4, seed=seed, n_iter=10)
    C2, a2 = kmeans(X, 4, seed=seed, n_iter=10)
    np.testing.assert_array_equal(C1, C2)
    np.testing.assert_array_equal(a1, a2)
    assert C1.shape == (4, 6)
    assert set(np.unique(a1)) <= set(range(4))
    # every point is assigned to its nearest returned center
    d = ((X[:, None, :] - C1[None, :, :]) ** 2).sum(axis=2)
    np.testing.assert_array_equal(d.argmin(axis=1), a1)


# -- MinHash permutation family ----------------------------------------------


def _signature(hashes: list[int]) -> list[int]:
    return [
        min((MH_A[i] * h + MH_B[i]) % MERSENNE_P for h in hashes)
        for i in range(N_MINHASH)
    ]


@given(
    st.lists(
        st.integers(min_value=0, max_value=MERSENNE_P - 1),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    st.randoms(use_true_random=False),
)
@settings(max_examples=50, deadline=None)
def test_minhash_signature_is_set_invariant(hashes, rnd):
    sig = _signature(hashes)
    shuffled = list(hashes)
    rnd.shuffle(shuffled)
    assert _signature(shuffled) == sig  # order-free
    assert _signature(hashes + [hashes[0]]) == sig  # multiplicity-free
    assert all(0 <= s < MERSENNE_P for s in sig)
    # adding an element can only lower (or keep) each signature slot —
    # the monotonicity that makes minhash an unbiased Jaccard sketch
    bigger = _signature(hashes + [(hashes[-1] + 1) % MERSENNE_P])
    assert all(b <= s for b, s in zip(bigger, sig))


# -- V9/V11: encode/decode shape + boundedness --------------------------------


@given(st.integers(min_value=0, max_value=1000))
@settings(max_examples=10, deadline=None)
def test_encode_reconstruct_bounded(seed):
    rng = np.random.RandomState(seed)
    X = rng.randn(80, 8)
    model = LOPQModel.fit(X, V=2, M=2, K=4, seed=seed, n_iter=5)
    coarse, fine = model.encode(X)
    assert coarse.shape == (80, 2) and fine.shape == (80, 2)
    assert coarse.min() >= 0 and coarse.max() < 2
    assert fine.min() >= 0 and fine.max() < 4
    recon = model.reconstruct(coarse, fine)
    # quantization reduces error vs the crudest baseline (global mean)
    err = ((X - recon) ** 2).sum()
    base = ((X - X.mean(axis=0)) ** 2).sum()
    assert err <= base


# -- ST1: count-or-time cut logic --------------------------------------------


@given(
    st.lists(
        st.lists(st.text(alphabet="ab01", min_size=1, max_size=4), max_size=12),
        max_size=8,
    ),
    st.integers(min_value=1, max_value=7),
    st.data(),
)
@settings(max_examples=100, deadline=None)
def test_advance_partitions_input(feeds, batch_size, data):
    """Feeding any sequence of micro-batches through advance(): emitted
    batches + final pending exactly partition the input in arrival order;
    count cuts are exactly batch_size; only a timeout emits a short batch;
    seq increments once per emitted batch."""
    from columbiaimagesearch_spark.streaming.stateful import advance

    pending: list = []
    seq = 0
    emitted_all: list = []
    fed: list = []
    for feed in feeds:
        timed_out = data.draw(st.booleans())
        fed.extend(feed)
        emitted, pending, seq2 = advance(pending, seq, feed, batch_size, timed_out)
        for s, items, reason in emitted:
            assert reason in ("count", "timeout")
            if reason == "count":
                assert len(items) == batch_size
            else:
                assert 0 < len(items) <= batch_size and timed_out
            emitted_all.append((s, items))
        assert seq2 == seq + len(emitted)
        seq = seq2
        if timed_out:
            assert pending == []  # a timeout always drains the buffer
        assert len(pending) < batch_size
    flat = [x for _, items in emitted_all for x in items] + list(pending)
    assert flat == fed  # nothing lost, nothing duplicated, order preserved
    assert [s for s, _ in emitted_all] == list(range(len(emitted_all)))


# -- DEDUP-components: union-find fast path -----------------------------------


@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=0,
        max_size=80,
    )
)
@settings(max_examples=100, deadline=None)
def test_union_find_matches_bfs_closure(edges):
    from collections import defaultdict, deque

    from columbiaimagesearch_spark.operators.dedup import _union_find_components

    edges = [(a, b) for a, b in edges if a != b]
    got = _union_find_components(edges)

    adj = defaultdict(set)
    nodes = set()
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
        nodes.update((a, b))
    want = {}
    seen: set[int] = set()
    for start in sorted(nodes):
        if start in seen:
            continue
        comp, q = [], deque([start])
        seen.add(start)
        while q:
            x = q.popleft()
            comp.append(x)
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    q.append(y)
        m = min(comp)
        for x in comp:
            want[x] = m
    assert got == want


@given(
    hist=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=1, max_value=100_000),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    n_shards=st.integers(min_value=2, max_value=16),
)
@settings(max_examples=200, deadline=None)
def test_shard_claim_planner_invariants(hist, n_shards):
    """_plan_shard_claims structural invariants over arbitrary histograms
    (the r9 owner-rotation change must never break these), and the owner
    rule ``_shard_owners`` built on the plan:
    - exactly n_shards ranges tiling [0, last_cell] in order, no gaps;
    - every histogram cell owned exactly once: by its containing range,
      or (for split cells) by its owner list alone;
    - split owner lists are DISTINCT shards, each in [0, n_shards);
    - two split cells with the same owner-list length never share the
      same first owner unless forced (m == n_shards) — the rotation."""
    from columbiaimagesearch_spark.lopq.serving import (
        _plan_shard_claims,
        _shard_owners,
        _slice_of_ids,
    )

    hist = sorted(hist)
    last_cell = 255
    ranges, splits = _plan_shard_claims(hist, n_shards, last_cell)
    assert len(ranges) == n_shards
    # ordered tiling: lo of the first is 0; each next lo = prev hi + 1
    assert ranges[0][0] == 0
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert lo2 == hi1 + 1
    assert ranges[-1][1] == last_cell

    for cell, _n in hist:
        owning_ranges = [
            i for i, (lo, hi) in enumerate(ranges) if lo <= cell <= hi
        ]
        if cell in splits:
            owners = splits[cell]
            assert len(set(owners)) == len(owners), owners
            assert all(0 <= o < n_shards for o in owners)
            assert 2 <= len(owners) <= n_shards
        else:
            assert len(owning_ranges) == 1, (cell, ranges)

    # rotation de-correlates first owners across split cells: the global
    # running offset advances once per split cell (cell order), so any
    # window of up to n_shards CONSECUTIVE split cells has pairwise
    # distinct first owners. (The r9 rendering grouped by owner-list
    # length m — too strong: rot is GLOBAL, so same-m cells interleaved
    # with other split cells legitimately reuse a first owner once the
    # offsets wrap n_shards. r10 Hypothesis counterexample:
    # hist=[(0,258),(1,971),(2,1484),(3,255)], n_shards=3 — firsts across
    # ALL split cells were the optimally-rotated [0,1,2,0], yet the two
    # m=2 cells shared first owner 0.)
    firsts = [owners[0] for _cell, owners in sorted(splits.items())]
    w = min(n_shards, len(firsts))
    for i in range(len(firsts) - w + 1):
        window = firsts[i : i + w]
        assert len(set(window)) == w, (firsts, n_shards)

    # _shard_owners (vectorized) == the per-row rule: the range holding
    # the cell, or the split cell's owner of the id's slice; cells outside
    # [0, last_cell] raise
    cells = np.repeat([c for c, _n in hist], 5)
    ids = np.arange(len(cells), dtype=np.int64) * 7919 + 3
    got = _shard_owners(cells, ids, ranges, splits)
    for cell, i, owner in zip(cells.tolist(), ids, got.tolist()):
        if cell in splits:
            m = len(splits[cell])
            want = splits[cell][int(_slice_of_ids(np.array([i]), m)[0])]
        else:
            want = next(
                k for k, (lo, hi) in enumerate(ranges) if lo <= cell <= hi
            )
        assert owner == want, (cell, i)
    for bad in (-1, last_cell + 1):
        with pytest.raises(ValueError, match="outside all shard ranges"):
            _shard_owners(np.array([bad]), np.array([0]), ranges, splits)


@given(
    st.integers(min_value=0, max_value=100_000),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=0, max_value=8),
)
@settings(max_examples=50, deadline=None)
def test_embedding_decon_probe_sound_and_complete_on_copies(
    seed, n_bench, n_plants
):
    """The shared decon verdict kernel (hygiene._probe_verdict_rows — one
    function serving the Spark kernel AND the twin oracle):
    (a) SOUND — per-row twin counts never exceed the brute-force truth and
        every max_cos is a true cosine of that row against some bench row
        (the probe only prunes, the verify is exact);
    (b) COMPLETE ON COPIES — an exact copy of a bench vector shares every
        band key with it, so it is ALWAYS found, any knobs, any seed."""
    import numpy as np

    from columbiaimagesearch_spark.operators.hygiene import (
        _build_probe,
        _probe_verdict_rows,
    )
    from columbiaimagesearch_spark.operators.similarity import _lsh_band_keys

    rng = np.random.default_rng(seed)
    d, bands, bits = 8, 4, 3
    threshold = 0.9
    B = rng.standard_normal((n_bench, d))
    plants = B[rng.integers(0, n_bench, n_plants)] if n_plants else np.empty((0, d))
    C = np.vstack([plants, rng.standard_normal((10, d))])
    ids = np.arange(len(C), dtype=np.int64)
    Bn, lookup = _build_probe(B, bands, bits, 7)
    Cn = C / np.sqrt(np.einsum("ij,ij->i", C, C))[:, None]
    keys = _lsh_band_keys(C, bands, bits, 7)
    rows = _probe_verdict_rows(ids, Cn, keys, Bn, lookup, bands, threshold)
    truth = (Cn @ Bn.T) >= threshold if n_bench else np.zeros((len(C), 0), bool)
    for vid, n, mx, flag in rows:
        assert n <= int(truth[vid].sum())  # (a) never over-reports
        assert flag == (n > 0)
        if n:
            cos_all = np.round(Cn[vid] @ Bn.T, 4)
            assert any(abs(mx - c) < 1e-12 for c in cos_all)  # true cosine
    for p in range(n_plants):  # (b) exact copies always found
        assert rows[p][1] >= 1, rows[p]


@given(
    st.integers(min_value=0, max_value=100_000),
    st.integers(min_value=1, max_value=10),
    st.booleans(),
)
@settings(max_examples=50, deadline=None)
def test_l2_normalize_rows_zero_norm_contract(seed, n, zero_bench_row):
    """similarity.l2_normalize_rows — THE row normalization every embedding
    kernel and twin shares — pins the zero-vector contract:
    (a) nonzero rows are BITWISE identical to the unguarded einsum form
        (so no oracle hash can move);
    (b) an all-zero row stays all-zero (no NaN anywhere), so its cosine
        against anything is exactly 0.0 — below every positive threshold:
        zero vectors are never near-duplicates and never contaminated,
        whether the zero lands on the corpus side or the bench side."""
    import numpy as np

    from columbiaimagesearch_spark.operators.hygiene import (
        _build_probe,
        _probe_verdict_rows,
    )
    from columbiaimagesearch_spark.operators.similarity import (
        _lsh_band_keys,
        l2_normalize_rows,
    )

    rng = np.random.default_rng(seed)
    d, bands, bits = 8, 4, 3
    M = rng.standard_normal((n, d))
    M[0] = 0.0  # plant the zero vector
    Mn = l2_normalize_rows(M)
    assert np.isfinite(Mn).all()  # (b) no NaN/inf ever
    assert (Mn[0] == 0.0).all()  # zero row stays zero
    nz = M[1:]
    if len(nz):
        unguarded = nz / np.sqrt(np.einsum("ij,ij->i", nz, nz))[:, None]
        assert (l2_normalize_rows(nz) == unguarded).all()  # (a) bitwise

    # end-to-end through the shared decon verdict kernel, zero on either
    # side, probe AND exact mode: the zero row is never flagged
    B = rng.standard_normal((4, d))
    if zero_bench_row:
        B[0] = 0.0
    Bn, lookup = _build_probe(B, bands, bits, 7)
    Cn = l2_normalize_rows(M)
    keys = _lsh_band_keys(M, bands, bits, 7)
    for lk in (lookup, None):  # probe mode, then exact mode
        rows = _probe_verdict_rows(
            np.arange(n, dtype=np.int64), Cn, keys, Bn, lk, bands, 0.4
        )
        vid, twins, mx, flag = rows[0]
        assert not flag and twins == 0 and mx == 0.0, (lk is None, rows[0])
        for _vid, _n, _mx, _flag in rows:
            assert not np.isnan(_mx)


# -- r14 LSH bucket-group kernel ----------------------------------------------


@given(
    st.integers(min_value=0, max_value=3),  # band index b
    st.lists(st.integers(0, 4), min_size=0, max_size=40),  # per-row keys;
    # tiny key space forces fat runs (all-one-key, singletons, empty)
    st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_bucket_group_kernel_matches_per_bucket_reference(b, row_keys, seed):
    """_bucket_group_rows (the r14 coarse-group kernel) over ANY key
    pattern must equal the per-bucket reference: loop exact key groups,
    run _bucket_cos_pairs per group. Ids are unique (vec_id is a key of
    the input relation — band_rows emits each id once per band); low
    threshold so random vectors actually pair. (Cross-band dedup is the
    CALLER's dropDuplicates since r17 — the kernel emits every qualifying
    pair of its band, so the reference is the plain per-bucket loop.)"""
    from columbiaimagesearch_spark.operators.similarity import (
        _bucket_cos_pairs,
        _bucket_group_rows,
    )

    rnd = np.random.RandomState(seed)
    n = len(row_keys)
    keys = np.array(row_keys, dtype=np.int64)
    ids = rnd.permutation(10 * n or 1)[:n].astype(np.int64)  # unique, shuffled
    V = rnd.randn(n, 8) if n else np.zeros((0, 8))
    threshold = -1.0  # every in-bucket pair qualifies -> max pair volume

    got = sorted(
        _bucket_group_rows(
            b, keys.copy(), ids.copy(), V.copy(),
            threshold=threshold, max_bucket=None,
        )
    )

    # reference: independent per-bucket computation
    want: list[tuple] = []
    for k in sorted(set(keys.tolist())):
        sel = keys == k
        want.extend(_bucket_cos_pairs(ids[sel], V[sel], threshold))
    assert got == sorted(want)


# -- r16 LSH hot-bucket kernel (matmul candidates + oversize split) -----------


@given(
    st.integers(min_value=0, max_value=240),  # bucket size, spanning cutoff
    st.floats(min_value=-1.0, max_value=0.999),  # threshold incl. negatives
    st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_matmul_candidate_path_bit_identical_to_triu(n, threshold, seed):
    """_bucket_cos_pairs' BLAS candidate scan (bucket > LSH_MATMUL_BUCKET)
    must return the EXACT tuples of the full-triu path — same pair set,
    bitwise-same rounded cosines — because candidates are a margin-superset
    re-verified by the identical elementwise einsum. Force each path via
    the cutoff knob; include clustered vectors so cosines crowd the
    threshold."""
    from columbiaimagesearch_spark.operators.similarity import (
        _bucket_cos_pairs,
    )

    rnd = np.random.RandomState(seed)
    half = n // 2
    # half clustered (cosines near 1 among themselves), half diffuse
    base = rnd.randn(8)
    V = np.vstack(
        [
            base + 0.05 * rnd.randn(half, 8) if half else np.zeros((0, 8)),
            rnd.randn(n - half, 8),
        ]
    )
    ids = rnd.permutation(10 * n or 1)[:n].astype(np.int64)
    via_triu = _bucket_cos_pairs(ids.copy(), V.copy(), threshold, matmul_cutoff=10**9)
    via_matmul = _bucket_cos_pairs(ids.copy(), V.copy(), threshold, matmul_cutoff=0)
    assert sorted(via_triu) == sorted(via_matmul)


@given(
    st.integers(min_value=0, max_value=120),  # bucket size
    st.integers(min_value=2, max_value=16),  # max_bucket (forces splits)
    st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=50, deadline=None)
def test_split_bucket_pairs_sound_vs_exact(n, max_bucket, seed):
    """_split_bucket_pairs (oversize='split' kernel): its output must be a
    SUBSET of the exact in-bucket pairs with identical tuples on every kept
    pair, contain every pair whose rows share the module's own depth-level
    sub-key (the only pairs the mode promises this band), and emit no
    duplicates."""
    from columbiaimagesearch_spark.operators.similarity import (
        LSH_SEED,
        _bucket_cos_pairs,
        _split_bucket_pairs,
        _split_depth,
        _split_subkeys,
    )

    rnd = np.random.RandomState(seed)
    V = rnd.randn(n, 8) if n else np.zeros((0, 8))
    ids = rnd.permutation(10 * n or 1)[:n].astype(np.int64)
    threshold = -1.0  # every co-bucketed pair qualifies -> max volume
    target = max(1, max_bucket // 2)

    got = _split_bucket_pairs(
        ids.copy(), V.copy(), threshold, max_bucket,
        seed=LSH_SEED, target_bucket=target,
    )
    assert len(got) == len(set(got))  # no duplicate pairs within the bucket
    exact = {
        (a, b): c for a, b, c in _bucket_cos_pairs(ids, V, threshold)
    }
    for a, b, c in got:
        assert exact[(a, b)] == c  # subset, bitwise-equal cosine
    # completeness at the first split level: any pair sharing the
    # depth-level sub-key must be present (deeper recursion only splits
    # sub-buckets still above max_bucket, which share that key too)
    if n > max_bucket:
        depth = _split_depth(n, target)
        sub = {int(i): k for i, k in zip(ids, _split_subkeys(V, depth, LSH_SEED))}
        got_pairs = {(a, b) for a, b, _ in got}
        for (a, b), _c in exact.items():
            if sub[a] == sub[b]:
                same = [i for i in ids if sub[int(i)] == sub[a]]
                if len(same) <= max_bucket:
                    assert (a, b) in got_pairs
    else:
        assert {(a, b) for a, b, _ in got} == set(exact)


_json_scalars = st.one_of(
    st.none(), st.booleans(), st.integers(), st.floats(allow_nan=False),
    st.text(max_size=20),
)


@given(
    raw=st.one_of(
        st.text(max_size=60),  # arbitrary (mostly bad) JSON strings
        st.dictionaries(st.text(max_size=15), _json_scalars, max_size=6),
        st.lists(_json_scalars, max_size=4).map(
            lambda x: __import__("json").dumps(x)
        ),
        _json_scalars,
    )
)
@settings(max_examples=200, deadline=None)
def test_parse_options_total_on_arbitrary_client_input(raw):
    """The HTTP edge's option parser faces raw client input: whatever
    arrives — broken JSON, a JSON list, wrong-typed values for numeric
    options, unknown keys — it must return (dict, errors) and never raise
    (the reference's append_errors contract, api.py:192-215). Every
    surviving key is a valid option name, and numeric options come back
    numerically typed."""
    from columbiaimagesearch_spark.http_api import (
        _NUMERIC_OPTIONS,
        VALID_OPTIONS,
        _parse_options,
    )

    opts, errors = _parse_options(raw)
    assert isinstance(opts, dict) and isinstance(errors, list)
    for k, v in opts.items():
        assert k in VALID_OPTIONS
        if k in _NUMERIC_OPTIONS:
            assert isinstance(v, _NUMERIC_OPTIONS[k]) and not isinstance(
                v, bool
            )
