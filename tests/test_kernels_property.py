"""Property-based tests for the numpy kernel layer (no Spark session —
fast): TopKAccumulator vs full sort, metric identities, the MD5 kernel
vs hashlib."""

import hashlib

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from faiss_spark import kernels
from faiss_spark.kernels import TopKAccumulator, pairwise_distances

matrices = st.integers(min_value=1, max_value=12)


@settings(max_examples=40, deadline=None)
@given(
    nq=st.integers(1, 6),
    nx=st.integers(1, 40),
    d=st.integers(1, 8),
    k=st.integers(1, 10),
    seed=st.integers(0, 10_000),
    largest=st.booleans(),
)
def test_topk_accumulator_equals_full_sort(nq, nx, d, k, seed, largest):
    rng = np.random.default_rng(seed)
    Q = rng.normal(size=(nq, d))
    X = rng.normal(size=(nx, d))
    ids = rng.permutation(nx).astype(np.int64) * 3  # non-contiguous ids
    D = pairwise_distances(Q, X, "ip" if largest else "l2")

    # stream the columns through the accumulator in 3 chunks
    acc = TopKAccumulator(nq, k, largest)
    for chunk in np.array_split(np.arange(nx), 3):
        if len(chunk):
            acc.push(D[:, chunk], ids[chunk])
    qidx, got_ids, got_d = acc.emit()

    # reference: full sort with (key, id) tie-break per query
    for q in range(nq):
        key = -D[q] if largest else D[q]
        order = np.lexsort((ids, key))[:k]
        expect = ids[order]
        mine = got_ids[qidx == q]
        assert list(mine) == list(expect)


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(1, 20),
    d=st.integers(1, 8),
    seed=st.integers(0, 10_000),
)
def test_metric_identities(n, d, seed):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, d))
    # L2(x, x) == 0; symmetric
    D = pairwise_distances(X, X, "l2")
    assert np.allclose(np.diag(D), 0, atol=1e-9)
    assert np.allclose(D, D.T, atol=1e-9)
    # cosine self-similarity == 1 (nonzero rows)
    C = pairwise_distances(X, X, "cosine")
    norms = np.linalg.norm(X, axis=1)
    assert np.allclose(np.diag(C)[norms > 1e-12], 1.0, atol=1e-9)
    # L2 == ||a||² + ||b||² − 2ab (the GEMM identity vs direct form)
    direct = ((X[:, None, :] - X[None, :, :]) ** 2).sum(2)
    assert np.allclose(D, direct, atol=1e-7)
    # canberra/braycurtis bounded by d and 1
    Cb = pairwise_distances(X, X, "canberra")
    assert (Cb <= d + 1e-9).all() and (Cb >= -1e-9).all()
    Bc = pairwise_distances(X, X, "braycurtis")
    assert np.allclose(np.diag(Bc), 0, atol=1e-9)
    # Lp: p=2 equals squared L2 (no root, faiss METRIC_Lp convention);
    # p=1 equals L1
    Lp2 = pairwise_distances(X, X, "lp", metric_arg=2.0)
    assert np.allclose(Lp2, D, atol=1e-7)
    Lp1 = pairwise_distances(X, X, "lp", metric_arg=1.0)
    assert np.allclose(Lp1, pairwise_distances(X, X, "l1"), atol=1e-9)


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(0, 10_000), n=st.integers(2, 15), d=st.integers(1, 6))
def test_jensenshannon_properties(seed, n, d):
    rng = np.random.default_rng(seed)
    # JS needs non-negative distributions
    X = rng.uniform(0.01, 1.0, size=(n, d))
    X /= X.sum(1, keepdims=True)
    D = pairwise_distances(X, X, "jensenshannon")
    assert np.allclose(np.diag(D), 0, atol=1e-9)
    assert (D >= -1e-9).all()
    assert np.allclose(D, D.T, atol=1e-9)


@settings(max_examples=25, deadline=None)
@given(
    nq=st.integers(1, 4),
    nx=st.integers(50, 400),
    k=st.integers(1, 10),
    seed=st.integers(0, 10_000),
)
def test_topk_accumulator_tie_safe_on_discrete_data(nq, nx, k, seed):
    """Integer-valued low-d data produces MANY exact distance ties, and
    nx >> 4k exercises the argpartition pre-reduce: the accumulator must
    keep the smallest ids among equal distances (ORDER BY dist, id), no
    matter how candidates are chunked or pre-reduced."""
    rng = np.random.default_rng(seed)
    Q = rng.integers(0, 3, size=(nq, 2)).astype(np.float64)
    X = rng.integers(0, 3, size=(nx, 2)).astype(np.float64)
    ids = rng.permutation(nx).astype(np.int64)
    D = pairwise_distances(Q, X, "l2")

    acc = TopKAccumulator(nq, k, largest=False)
    for chunk in np.array_split(np.arange(nx), 2):
        if len(chunk):
            acc.push(D[:, chunk], ids[chunk])
    qidx, got_ids, got_d = acc.emit()

    for q in range(nq):
        order = np.lexsort((ids, D[q]))[:k]
        assert list(got_ids[qidx == q]) == list(ids[order])
        assert list(got_d[qidx == q]) == list(D[q][order])


@settings(max_examples=30, deadline=None)
@given(
    nq=st.integers(1, 6),
    nx=st.integers(700, 3000),
    k=st.integers(1, 8),
    seed=st.integers(0, 10_000),
    largest=st.booleans(),
    discrete=st.booleans(),
)
def test_sampled_threshold_selection_is_exact(nq, nx, k, seed, largest, discrete):
    """r11 _select fast path: when m ≥ 64k the tie-safe mask uses the
    kth of every 16th column (a SUBSET's kth ≥ the full row's kth, so
    the kept set is a superset and _compact ranks exactly). Property:
    results equal the naive full sort for BOTH directions, on smooth
    data (sampled path) AND on near-constant/discrete data (the blowup
    guard's exact-fallback path), via push_block and push alike."""
    rng = np.random.default_rng(seed)
    d = 4
    if discrete:
        # few distinct values → massive ties → loose mask blows up →
        # guard must fall back to the exact kth
        Q = rng.integers(0, 2, size=(nq, d)).astype(np.float64)
        X = rng.integers(0, 2, size=(nx, d)).astype(np.float64)
    else:
        Q = rng.standard_normal((nq, d))
        X = rng.standard_normal((nx, d))
    ids = rng.permutation(nx).astype(np.int64)
    metric = "ip" if largest else "l2"
    D = pairwise_distances(Q, X, metric)

    acc = TopKAccumulator(nq, k, largest=largest)
    acc.bind_queries(Q, metric)
    acc.push_block(X, ids)
    qidx, got_ids, got_d = acc.emit()

    acc2 = TopKAccumulator(nq, k, largest=largest)
    acc2.push(D, ids)
    qidx2, got_ids2, _ = acc2.emit()

    for q in range(nq):
        key = -D[q] if largest else D[q]
        order = np.lexsort((ids, key))[:k]
        assert list(got_ids[qidx == q]) == list(ids[order])
        assert list(got_ids2[qidx2 == q]) == list(ids[order])
        assert np.allclose(got_d[qidx == q], D[q][order], atol=1e-12)


# ------------------------------------------------- fast-scan quantizers


@settings(max_examples=40, deadline=None)
@given(
    nq=st.integers(1, 5),
    M=st.integers(1, 16),
    scale=st.floats(0.01, 5000.0),
    seed=st.integers(0, 10_000),
)
def test_quantize_lut_flat_envelope_property(nq, M, scale, seed):
    """Reference coefficient rules hold for arbitrary LUT magnitudes:
    a = min(255/max_span_LUT, 65535/max_span_dis), every quantized cell
    ≤ 255, and the de-quantized whole-code sum stays within the M·0.5/a
    rounding envelope (quantize_lut.cpp:152-170)."""
    from faiss_spark.operators.fastscan import (
        _saturating_lut_sum,
        quantize_lut_flat,
    )

    rng = np.random.default_rng(seed)
    luts = rng.uniform(0, scale, size=(nq, M, 16))
    lutq, a, b = quantize_lut_flat(luts)
    assert lutq.max() <= 255
    mins = luts.min(2)
    spans = luts.max(2) - mins
    with np.errstate(divide="ignore"):
        expect_a = np.minimum(
            255.0 / spans.max(1), 65535.0 / spans.sum(1)
        )
    ok = np.isfinite(expect_a)
    assert np.allclose(a[ok], expect_a[ok])
    codes = rng.integers(0, 16, size=(30, M), dtype=np.uint8)
    est = _saturating_lut_sum(lutq, codes) / a[:, None] + b[:, None]
    true = np.zeros((nq, 30))
    for m in range(M):
        true += luts[:, m, codes[:, m]]
    assert np.all(np.abs(est - true) <= (0.5 * M + 1.0) / a[:, None] + 1e-9)


@settings(max_examples=30, deadline=None)
@given(
    nprobe=st.integers(1, 6),
    M=st.integers(1, 12),
    bias_scale=st.floats(0.0, 1000.0),
    seed=st.integers(0, 10_000),
)
def test_quantize_lut_ivf_envelope_property(nprobe, M, bias_scale, seed):
    """3-D per-probe quantization: one shared (a, b) per query keeps
    every probe's de-quantized sum within the rounding envelope
    (quantize_lut.cpp:195-237)."""
    from faiss_spark.operators.fastscan import (
        _saturating_lut_sum,
        quantize_lut_ivf,
    )

    rng = np.random.default_rng(seed)
    luts = rng.uniform(0, 40, size=(nprobe, M, 16))
    bias = rng.uniform(0, bias_scale, size=nprobe)
    lutq, biasq, a, b = quantize_lut_ivf(luts, bias)
    codes = rng.integers(0, 16, size=(20, M), dtype=np.uint8)
    for j in range(nprobe):
        acc = _saturating_lut_sum(
            lutq[j : j + 1], codes, init=biasq[j : j + 1]
        )
        est = acc[0] / a + b
        true = bias[j] + sum(luts[j, m, codes[:, m]] for m in range(M))
        assert np.all(np.abs(est - true) <= (0.5 * (M + 1) + 1.0) / a + 1e-9)


# ------------------------------------------------------ NSG beam search


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(12, 80),
    d=st.integers(2, 12),
    nq=st.integers(1, 8),
    seed=st.integers(0, 10_000),
)
def test_beam_search_exhaustive_property(n, d, nq, seed):
    """For ANY shard: pool ≥ n over the repaired (connected) graph makes
    the walk exhaustive, so results equal brute force exactly."""
    from faiss_spark.operators.nsg import _beam_search_all, _build_shard_graph

    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, d))
    adj, ep = _build_shard_graph(X, R=8, knn_k=12)
    Q = rng.normal(size=(nq, d))
    k = min(5, n)
    nid, _ = _beam_search_all(X, adj, ep, Q, k=k, search_L=2 * n)
    D = ((Q[:, None, :] - X[None]) ** 2).sum(2)
    for i in range(nq):
        got = nid[i][nid[i] >= 0]
        assert len(set(got)) == len(got)
        assert set(got) == set(np.argsort(D[i], kind="stable")[:k])


@settings(max_examples=40, deadline=None)
@given(
    nq=st.integers(1, 6),
    nx=st.integers(1, 30),
    d=st.integers(1, 16),
    seed=st.integers(0, 10_000),
)
def test_float_jaccard_hamming_reduce_to_binary(nq, nx, d, seed):
    """Fork-added float METRIC_JACCARD/METRIC_HAMMING (reference
    faiss/MetricType.h:27-28): on 0/1 vectors they must equal
    bvec_jaccard (|OR|-|AND|)/|OR| with empty-union -> 1.0
    (utils/binary_distances.h:33-49) and popcount(XOR)."""
    rng = np.random.default_rng(seed)
    Q = (rng.random((nq, d)) < 0.5).astype(np.float64)
    X = (rng.random((nx, d)) < 0.5).astype(np.float64)
    J = pairwise_distances(Q, X, "jaccard")
    H = pairwise_distances(Q, X, "hamming")
    qb, xb = Q.astype(bool), X.astype(bool)
    for i in range(nq):
        for j in range(nx):
            inter = int((qb[i] & xb[j]).sum())
            union = int((qb[i] | xb[j]).sum())
            expect_j = 1.0 if union == 0 else (union - inter) / union
            expect_h = int((qb[i] ^ xb[j]).sum())
            assert abs(J[i, j] - expect_j) < 1e-12
            assert H[i, j] == expect_h


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(1, 20),
    d=st.integers(1, 8),
    seed=st.integers(0, 10_000),
)
def test_float_jaccard_hamming_identities(n, d, seed):
    """General-float identities: self-distance 0 (nonzero rows for
    jaccard), symmetry, jaccard in [0, 1] for non-negative input,
    hamming in [0, d]."""
    rng = np.random.default_rng(seed)
    X = np.abs(rng.normal(size=(n, d)))
    J = pairwise_distances(X, X, "jaccard")
    H = pairwise_distances(X, X, "hamming")
    nz = X.sum(1) > 0
    assert np.allclose(np.diag(J)[nz], 0, atol=1e-12)
    assert np.allclose(J, J.T, atol=1e-12)
    assert (J >= -1e-12).all() and (J <= 1 + 1e-12).all()
    assert np.allclose(np.diag(H), 0)
    assert (H >= 0).all() and (H <= d).all()


@settings(max_examples=30, deadline=None)
@given(
    nq=st.integers(1, 6),
    nx=st.integers(900, 3000),
    k=st.integers(1, 8),
    nblocks=st.integers(2, 5),
    seed=st.integers(0, 10_000),
    largest=st.booleans(),
    discrete=st.booleans(),
)
def test_running_bound_multi_push_is_exact(
    nq, nx, k, nblocks, seed, largest, discrete
):
    """r12 running kth bound: from the second push_block on, rows that
    already hold k candidates prune the admission mask to ≤ bound (ties
    KEPT). Property: a multi-block push sequence — uneven block sizes,
    so some blocks take the small-m append path and some the bound arm —
    equals the naive full sort over the union, for both directions, on
    smooth AND tie-heavy data (an equal-dist smaller id arriving in a
    LATER block must still win its tie)."""
    rng = np.random.default_rng(seed)
    d = 4
    if discrete:
        Q = rng.integers(0, 2, size=(nq, d)).astype(np.float64)
        X = rng.integers(0, 2, size=(nx, d)).astype(np.float64)
    else:
        Q = rng.standard_normal((nq, d))
        X = rng.standard_normal((nx, d))
    ids = rng.permutation(nx).astype(np.int64)
    metric = "ip" if largest else "l2"
    D = pairwise_distances(Q, X, metric)

    acc = TopKAccumulator(nq, k, largest=largest)
    acc.bind_queries(Q, metric)
    # uneven split: one tiny block (skips the bound refresh) between
    # larger ones (build + use the bound)
    cuts = sorted(
        int(v) for v in rng.integers(1, nx, size=nblocks - 1)
    )
    for chunk in np.split(np.arange(nx), cuts):
        if len(chunk):
            acc.push_block(np.ascontiguousarray(X[chunk]), ids[chunk])
    qidx, got_ids, got_d = acc.emit()

    for q in range(nq):
        key = -D[q] if largest else D[q]
        order = np.lexsort((ids, key))[:k]
        assert list(got_ids[qidx == q]) == list(ids[order])
        assert np.allclose(got_d[qidx == q], D[q][order], atol=1e-12)


# ------------------------------------------- MD5 kernel (MinHash signatures)

#: the MinHash prefixes "0|".."11|" plus prefixes that fill a whole word
#: and spill into the second one
MD5_PREFIXES = [f"{i}|".encode() for i in range(12)] + [b"123|", b"12345|"]


def _hashlib_min_hex(rows, prefixes):
    """Reference: per row, per prefix, min of hashlib md5(p + s) hex over
    the row's non-null elements; None when the row has none."""
    out = []
    for row in rows:
        vals = [s.encode() if isinstance(s, str) else s
                for s in (row or []) if s is not None]
        out.append([min(hashlib.md5(p + s).hexdigest() for s in vals)
                    for p in prefixes] if vals else None)
    return out


def _kernel_min_hex(arr, prefixes):
    valid, dig = kernels.md5_min_digests(arr, prefixes)
    hx = kernels.hex_digits(dig)
    return [[hx[r, k].tobytes().decode() for k in range(len(prefixes))]
            if valid[r] else None for r in range(len(valid))]


@pytest.mark.parametrize("chunk", [3, 1 << 15])
def test_md5_min_digests_random_bytes_across_block_edge(chunk, monkeypatch):
    """Random byte strings of 0-200 bytes: the prefixed message crosses
    the 55-byte single-block edge (long ones take the hashlib branch);
    a tiny chunk size splits rows over many chunks."""
    monkeypatch.setattr(kernels, "_MD5_CHUNK", chunk)
    rng = np.random.default_rng(7)
    rows = []
    for _ in range(120):
        k = int(rng.integers(1, 8))
        rows.append([rng.integers(0, 256, int(rng.choice(
            [rng.integers(0, 60), rng.integers(45, 60), rng.integers(0, 201)])),
            dtype=np.uint8).tobytes() for _ in range(k)])
    # every length around the edge, for every prefix length
    rows += [[bytes([97 + L % 26]) * L] for L in range(48, 60)]
    arr = pa.array(rows, pa.list_(pa.binary()))
    assert _kernel_min_hex(arr, MD5_PREFIXES) == _hashlib_min_hex(
        rows, MD5_PREFIXES)


def test_md5_min_digests_multibyte_utf8():
    words = ["é", "日本語", "ß", "😀", "naïve", "ω", "a", "zz"]
    rng = np.random.default_rng(3)
    rows = [[" ".join(rng.choice(words, int(rng.integers(1, 25))))
             for _ in range(int(rng.integers(1, 6)))] for _ in range(60)]
    arr = pa.array(rows, pa.list_(pa.string()))
    assert _kernel_min_hex(arr, MD5_PREFIXES) == _hashlib_min_hex(
        rows, MD5_PREFIXES)


def test_md5_min_digests_nulls_empty_lists_and_slices():
    rows = [["a b c", "x"], None, [], ["q", None], [None], [""],
            ["dup", "dup"], ["w" * 70, "v"], None, ["m n o", "p q r"]]
    prefixes = MD5_PREFIXES[:12]
    want = _hashlib_min_hex(rows, prefixes)
    for typ in (pa.list_(pa.string()), pa.large_list(pa.large_string())):
        arr = pa.array(rows, typ)
        assert _kernel_min_hex(arr, prefixes) == want
        # sliced list arrays keep absolute offsets into their values
        assert _kernel_min_hex(arr.slice(3, 5), prefixes) == want[3:8]
        # a chunked column, and a list over a sliced values array
        chunked = pa.chunked_array([arr.slice(0, 4), arr.slice(4)])
        assert _kernel_min_hex(chunked, prefixes) == want
    values = pa.array(["zz", "a b c", "x", "q", None])
    sliced = pa.ListArray.from_arrays(pa.array([0, 2, 2, 4], pa.int32()),
                                      values.slice(1))
    assert _kernel_min_hex(sliced, prefixes) == _hashlib_min_hex(
        [["a b c", "x"], [], ["q", None]], prefixes)
    assert _kernel_min_hex(pa.array([], pa.list_(pa.string())), prefixes) == []


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 10_000), n=st.integers(1, 300),
       nseg=st.integers(1, 40))
def test_pair_min_reduceat_resolves_first_word_ties(seed, n, nseg):
    """The per-row minimum compares 16-byte digests as (first 8 bytes,
    last 8 bytes); with hi drawn from 3 values nearly every segment has
    ties in hi, which the lo column must break exactly."""
    rng = np.random.default_rng(seed)
    hi = rng.integers(0, 3, n).astype(np.uint64) + np.uint64(2**63)
    lo = rng.integers(0, 2**63, n, dtype=np.int64).astype(np.uint64) * 2
    starts = np.unique(np.r_[0, rng.integers(0, n, nseg - 1)])
    mh, ml = kernels.pair_min_reduceat(hi, lo, starts)
    ends = np.r_[starts[1:], n]
    for j, (s, e) in enumerate(zip(starts, ends)):
        assert (int(mh[j]), int(ml[j])) == min(
            zip(hi[s:e].tolist(), lo[s:e].tolist()))


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(0, 30),
    d=st.integers(1, 9),
    dtype=st.sampled_from([np.float32, np.float64, np.int64, np.uint16]),
    lo=st.integers(0, 5),
    seed=st.integers(0, 10_000),
)
def test_arrow_list_and_binary_round_trip(n, d, dtype, lo, seed):
    """arrow_list / arrow_binary are the inverses of arrow_list_matrix /
    arrow_binary_matrix: values, dtype and per-row bytes survive, for
    0 rows and for sliced input arrays alike."""
    rng = np.random.default_rng(seed)
    M = (rng.normal(size=(n, d)) * 1000).astype(dtype)

    lst = kernels.arrow_list(M)
    assert lst.type == pa.list_(pa.from_numpy_dtype(dtype))
    back = kernels.arrow_list_matrix(lst, dtype)
    assert back.dtype == dtype
    if n:
        np.testing.assert_array_equal(back, M)
    else:
        assert back.shape[0] == 0

    codes = kernels.arrow_binary(M)
    assert codes.type == pa.binary()
    assert codes.to_pylist() == [bytes(row) for row in M]
    if n:
        np.testing.assert_array_equal(
            kernels.arrow_binary_matrix(codes).view(dtype), M
        )

    # sliced inputs read only their own window
    hi = max(lo, n - 2)
    lo = min(lo, hi)
    np.testing.assert_array_equal(
        kernels.arrow_list_matrix(lst.slice(lo, hi - lo), dtype).reshape(
            -1, d
        ),
        M[lo:hi],
    )
    np.testing.assert_array_equal(
        kernels.arrow_binary_matrix(codes.slice(lo, hi - lo))
        .view(dtype)
        .reshape(-1, d),
        M[lo:hi],
    )
    assert kernels.arrow_binary(M[lo:hi:2]).to_pylist() == [
        bytes(row) for row in M[lo:hi:2]
    ]


def test_arrow_list_matrix_rejects_ragged_and_null_rows():
    """A ragged or null vector must raise, naming the lengths — a bare
    flatten-and-reshape would shift it silently into wrong rows."""
    ragged = pa.array([[1.0, 2.0], [3.0], [4.0, 5.0]], pa.list_(pa.float32()))
    with pytest.raises(ValueError, match=r"unequal length \[1, 2\]"):
        kernels.arrow_list_matrix(ragged)
    # a ragged row outside the slice window does not count
    np.testing.assert_array_equal(
        kernels.arrow_list_matrix(ragged.slice(2, 1)), [[4.0, 5.0]]
    )
    nulls = pa.array([[1.0, 2.0], None, [4.0, 5.0]], pa.list_(pa.float32()))
    with pytest.raises(ValueError, match="1 null row"):
        kernels.arrow_list_matrix(nulls)
    with pytest.raises(ValueError, match="1 null row"):
        list(
            kernels.arrow_id_vec_blocks(
                [pa.record_batch([pa.array([1, 2, 3]), nulls], ["id", "vec"])]
            )
        )
