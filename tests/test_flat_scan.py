"""Flat codes searches as one inverted list (operators/ivf.py, planner
kind ``all``): PQ ADC/SDC (``_PQLUTScanner``) and PQ/AQ fast-scan
(``_PQ4Scanner``/``_AQ4Scanner`` with ``by_residual=False``) run the
shared IVF driver route. Each cell is pinned row for row against a numpy
top-k built from the model's own LUT functions, with the (dist, id)
tie-break; an empty query set returns an empty result; past the driver
query bound every flat search raises."""

import numpy as np
import pytest

import faiss_spark.operators.ivf as ivfmod
from faiss_spark.kernels import arrow_binary_matrix, arrow_i64
from faiss_spark.operators.codecs import PolysemousTraining, ProductQuantizer
from faiss_spark.operators.fastscan import (
    _saturating_lut_sum,
    aq_fastscan_encode,
    aq_fastscan_search,
    aq_quantize_lut,
    pq_fastscan_search,
    quantize_lut_flat,
    train_aq_fastscan,
    train_paq_fastscan,
)

D, K, NQ = 8, 5, 12


@pytest.fixture(scope="module")
def data(spark):
    X = np.random.default_rng(11).standard_normal((400, D)).astype(np.float32)
    vectors = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "id bigint, vec array<float>",
    )
    queries = vectors.filter(f"id < {NQ}").withColumnRenamed("id", "qid")
    return vectors, queries, X[:NQ].astype(np.float64)


def _pq_adc_luts(pq, Q):
    return np.stack([pq.distance_table(q) for q in Q])


def _pq_sdc_luts(pq, Q):
    return pq.sdc_table()[np.arange(pq.M)[None, :], pq.encode_np(Q).astype(np.int64)]


def _lut_sum(luts, codes):
    # the per-m gather-sum from zeros, in sub-quantizer order
    Dm = np.zeros((len(luts), len(codes)))
    for m in range(luts.shape[1]):
        Dm += luts[:, m, codes[:, m].astype(np.int64)]
    return Dm


def _pq_cell(kind):
    """(train, search, numpy distances) of one PQ cell."""

    def train(v):
        if kind == "adc12":
            return ProductQuantizer(M=2, nbits=12, niter=4, seed=5).fit(v)
        pq = ProductQuantizer(M=4, niter=4, seed=5).fit(v)
        if kind == "adc_polysemous":
            pq = PolysemousTraining(n_iter=500, seed=1).optimize_pq(pq)[0]
        return pq

    def search(pq, codes, q, k):
        if kind == "sdc":
            return pq.sdc_search(codes, q, k)
        ht = 14 if kind == "adc_polysemous" else None
        return pq.adc_search(codes, q, k, polysemous_ht=ht)

    def dists(pq, Q, raw):
        codes = ivfmod._pq_code_view(raw, pq.M)
        luts = _pq_sdc_luts(pq, Q) if kind == "sdc" else _pq_adc_luts(pq, Q)
        Dm = _lut_sum(luts, codes)
        if kind == "adc_polysemous":
            xor = np.bitwise_xor(pq.encode_np(Q)[:, None, :], codes[None, :, :])
            ham = np.unpackbits(xor.astype(np.uint8)[..., None], axis=-1).sum((2, 3))
            Dm[ham >= 14] = np.inf
        return Dm

    return train, search, dists


def _pq4_cell():
    def train(v):
        return ProductQuantizer(M=4, nbits=4, niter=4, seed=5).fit(v)

    def dists(pq, Q, codes):
        lutq, a, b = quantize_lut_flat(_pq_adc_luts(pq, Q))
        return _saturating_lut_sum(lutq, codes) / a[:, None] + b[:, None]

    return train, lambda m, c, q, k: pq_fastscan_search(m, c, q, k), dists


def _aq4_cell(product: bool):
    def train(v):
        if product:
            return train_paq_fastscan(v, nsplits=2, Msub=2, niter=3, seed=5)
        return train_aq_fastscan(v, M=4, niter=3, seed=5)

    def dists(model, Q, codes):
        lutq, a, b = aq_quantize_lut(model.float_luts(Q), 2, model.norm_scale)
        w = np.ones(model.M + 2, np.int64)
        w[model.M :] = model.norm_scale
        D16 = _saturating_lut_sum(lutq, codes, row_weights=w)
        return D16 / a[:, None] + b[:, None] + (Q * Q).sum(1)[:, None]

    return train, lambda m, c, q, k: aq_fastscan_search(m, c, q, k), dists


CELLS = {
    "adc": _pq_cell("adc"),
    "adc_polysemous": _pq_cell("adc_polysemous"),
    "sdc": _pq_cell("sdc"),
    "adc12": _pq_cell("adc12"),
    "pq_fastscan": _pq4_cell(),
    "aq_fastscan_rq": _aq4_cell(product=False),
    "aq_fastscan_prq": _aq4_cell(product=True),
}

_built: dict = {}


def _cell(name, vectors):
    if name not in _built:
        train = CELLS[name][0]
        model = train(vectors)
        enc = aq_fastscan_encode if name.startswith("aq_") else (
            lambda m, v: m.encode(v)
        )
        _built[name] = (model, enc(model, vectors).cache())
    return _built[name]


def _numpy_topk(qids, Dm, ids, k):
    out = []
    for qi, row in enumerate(Dm):
        order = np.lexsort((ids, row))
        order = order[np.isfinite(row[order])][:k]
        out += [
            (int(qids[qi]), r + 1, int(ids[j]), float(row[j]))
            for r, j in enumerate(order)
        ]
    return sorted(out)


@pytest.mark.parametrize("name", sorted(CELLS))
def test_flat_search_rows_exact(name, data, monkeypatch):
    vectors, queries, Q = data
    model, codes = _cell(name, vectors)
    _, search, dists = CELLS[name]
    got = sorted(
        (r["qid"], r["rank"], r["id"], r["dist"])
        for r in search(model, codes, queries, K).collect()
    )
    tbl = codes.toArrow()
    ids = arrow_i64(tbl.column("id"))
    expect = _numpy_topk(
        np.arange(NQ), dists(model, Q, arrow_binary_matrix(tbl.column("code"))),
        ids, K,
    )
    assert got == expect
    # a one-list cogroup would run the corpus as one task: past the
    # driver query bound a flat search raises instead of falling back
    monkeypatch.setattr(ivfmod, "MAX_DRIVER_QUERY_CELLS", 1)
    with pytest.raises(ValueError, match="driver-planned bound"):
        search(model, codes, queries, K)


@pytest.mark.parametrize("name", ["adc", "sdc", "pq_fastscan", "aq_fastscan_rq"])
def test_flat_search_empty_queries(name, data):
    vectors, queries, _ = data
    model, codes = _cell(name, vectors)
    res = CELLS[name][1](model, codes, queries.limit(0), K)
    assert res.columns == ["qid", "id", "dist", "rank"]
    assert res.count() == 0


@pytest.mark.parametrize("nbits", [8, 12])
def test_pq_lut_sum_polysemous_counts_every_code_bit(nbits):
    """The polysemous filter's Hamming count covers every bit of a
    sub-code: a 12-bit PQ's uint16 codes keep exactly the candidates an
    in-test popcount keeps (the sums are the plain LUT gather-sum)."""
    rng = np.random.default_rng(nbits)
    M, ksub, nq, n, ht = 2, 1 << nbits, 5, 300, 7
    dt = np.uint8 if nbits <= 8 else np.uint16
    luts = rng.standard_normal((nq, M, ksub))
    codes = rng.integers(0, ksub, (n, M)).astype(dt)
    qc = rng.integers(0, ksub, (nq, M)).astype(dt)
    D = ivfmod._pq_lut_sum(np.zeros((nq, n)), luts, codes, qc, ht)
    expect = _lut_sum(luts, codes)
    x = np.bitwise_xor(qc[:, None, :], codes[None, :, :]).astype(np.uint16)
    ham = np.unpackbits(x.view(np.uint8).reshape(nq, n, -1), axis=-1).sum(2)
    expect[ham >= ht] = np.inf
    assert np.isfinite(expect).any() and not np.isfinite(expect).all()
    assert np.array_equal(D, expect)


@pytest.mark.parametrize("k", [0, -1])
@pytest.mark.parametrize("entry", ["knn", "adc", "ivfpq_driver", "ivfpq_distributed"])
def test_k_below_one_refused_before_any_job(entry, k, spark, data):
    """k ≤ 0 is refused on the driver, before any job, by the shared
    routes: knn and the flat codes searches (flat route), IVFPQ search
    (driver route) and its distributed twin (cogroup route)."""
    from faiss_spark.operators.ivf import IVFPQIndex, pq_search_preassigned
    from faiss_spark.operators.knn import knn

    vectors, queries, _ = data
    if entry == "adc":
        model, codes = _cell("adc", vectors)
    elif entry != "knn":
        idx = IVFPQIndex.train(vectors, nlist=4, M=4, seed=3, niter=3).add(vectors)

    def run():
        if entry == "knn":
            return knn(vectors, queries, k)
        if entry == "adc":
            return model.adc_search(codes, queries, k)
        if entry == "ivfpq_driver":
            return idx.search(queries, k, nprobe=2)
        return pq_search_preassigned(idx, queries, k, nprobe=2)

    sc = spark.sparkContext
    group = f"k-refusal-{entry}-{k}"
    sc.setJobGroup(group, "k refusal")
    try:
        with pytest.raises(ValueError, match="k must be a positive integer"):
            run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
