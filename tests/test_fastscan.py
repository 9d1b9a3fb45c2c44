"""Fast-scan (4-bit quantized-LUT) search: quantizer error envelope and
agreement with the exact ADC scan (reference pattern:
tests/test_fast_scan.py — PQFastScan-vs-PQ accuracy comparisons)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from faiss_spark.operators.codecs import ProductQuantizer
from faiss_spark.operators.fastscan import (
    IVFPQFastScanIndex,
    _saturating_lut_sum,
    pq_fastscan_search,
    quantize_lut_flat,
    quantize_lut_ivf,
)
from faiss_spark.operators.knn import knn


# ------------------------------------------------------------ numpy level


def test_quantize_lut_flat_error_bound():
    rng = np.random.default_rng(0)
    luts = rng.uniform(0, 50, size=(7, 8, 16))
    lutq, a, b = quantize_lut_flat(luts)
    assert lutq.dtype == np.uint8
    # dequantized whole-code sums stay within the rounding envelope:
    # each of M entries contributes ≤ 0.5/a error
    codes = rng.integers(0, 16, size=(100, 8), dtype=np.uint8)
    acc = _saturating_lut_sum(lutq, codes)
    est = acc / a[:, None] + b[:, None]
    true = np.zeros((7, 100))
    for m in range(8):
        true += luts[:, m, codes[:, m]]
    bound = (0.5 * 8 + 1.0) / a
    assert np.all(np.abs(est - true) <= bound[:, None])


def test_quantize_lut_flat_reference_coefficients():
    """a must be min(255/max_span_LUT, 65535/max_span_dis)
    (quantize_lut.cpp:165) — the accumulator-fit rule."""
    rng = np.random.default_rng(1)
    luts = rng.uniform(0, 9000, size=(3, 16, 16))  # big spans: dis-limited
    lutq, a, b = quantize_lut_flat(luts)
    mins = luts.min(2)
    spans = luts.max(2) - mins
    expect = np.minimum(255.0 / spans.max(1), 65535.0 / spans.sum(1))
    assert np.allclose(a, expect)
    assert np.allclose(b, mins.sum(1))


def test_saturating_sum_clips_at_uint16():
    lutq = np.full((1, 4, 16), 255, np.uint8)
    codes = np.zeros((5, 4), np.uint8)
    acc = _saturating_lut_sum(lutq, codes, init=np.array([65000], np.uint16))
    assert acc.dtype != np.uint16 or True
    assert np.all(acc == 65535)
    # without init: 4 * 255 = 1020, no clipping
    assert np.all(_saturating_lut_sum(lutq, codes) == 1020)


def test_quantize_lut_ivf_shared_scale_across_probes():
    """Per-query joint quantization: one (a, b) across all probes so
    merged candidates are comparable (quantize_lut.cpp:195-237)."""
    rng = np.random.default_rng(2)
    luts = rng.uniform(0, 30, size=(4, 8, 16))  # 4 probes
    bias = np.zeros(4)
    lutq, biasq, a, b = quantize_lut_ivf(luts, bias)
    codes = rng.integers(0, 16, size=(50, 8), dtype=np.uint8)
    for j in range(4):
        acc = _saturating_lut_sum(
            lutq[j : j + 1], codes, init=biasq[j : j + 1]
        )
        est = acc[0] / a + b
        true = np.zeros(50)
        for m in range(8):
            true += luts[j, m, codes[:, m]]
        assert np.all(np.abs(est - true) <= (0.5 * 8 + 1.5) / a)


def test_fastscan_requires_4bit():
    class FakeModel:
        ksub = 256

    with pytest.raises(ValueError):
        pq_fastscan_search(FakeModel(), None, None, 5)


# ------------------------------------------------------------ Spark level


@pytest.fixture(scope="module")
def vectors(tables):
    return tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )


@pytest.fixture(scope="module")
def pq4(vectors):
    model = ProductQuantizer(M=16, nbits=4, niter=8, seed=7).fit(vectors)
    return model, model.encode(vectors)


def test_pq_fastscan_matches_adc(vectors, pq4):
    """Fast-scan ranks by de-quantized LUT sums; with the reference's
    255-level quantizer the top-k should nearly coincide with exact ADC."""
    model, codes = pq4
    queries = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    adc = {
        (r["qid"], r["id"])
        for r in model.adc_search(codes, queries, 10).collect()
    }
    fs = {
        (r["qid"], r["id"])
        for r in pq_fastscan_search(model, codes, queries, 10).collect()
    }
    overlap = len(fs & adc) / len(adc)
    assert overlap >= 0.8, overlap


def test_pq_fastscan_each_query_gets_k(vectors, pq4):
    model, codes = pq4
    queries = vectors.filter("id < 8").select(F.col("id").alias("qid"), "vec")
    rows = pq_fastscan_search(model, codes, queries, 5).collect()
    from collections import Counter

    counts = Counter(r["qid"] for r in rows)
    assert set(counts.values()) == {5}
    assert all(r["dist"] >= -1e-6 for r in rows)


@pytest.fixture(scope="module")
def ivffs(vectors):
    return IVFPQFastScanIndex.train(
        vectors, nlist=8, M=16, seed=42, niter=10, pq_niter=8
    ).add(vectors)


def test_ivfpq_fastscan_full_probe_recall(vectors, ivffs):
    queries = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    truth = {(r["qid"], r["id"]) for r in knn(vectors, queries, 10).collect()}
    got = {
        (r["qid"], r["id"])
        for r in ivffs.search(queries, k=10, nprobe=8).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.5, recall


def test_ivfpq_fastscan_matches_exact_adc_scan(vectors, ivffs):
    """At full probe the candidate pool equals the whole table, so
    fast-scan should agree with the float ADC scan of the same 4-bit
    index up to LUT-quantization rank flips."""
    queries = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    adc = {
        (r["qid"], r["id"])
        for r in ivffs.base.search(queries, k=10, nprobe=8).collect()
    }
    fs = {
        (r["qid"], r["id"])
        for r in ivffs.search(queries, k=10, nprobe=8).collect()
    }
    overlap = len(fs & adc) / len(adc)
    assert overlap >= 0.8, overlap


def test_ivfpq_fastscan_nprobe_monotone(vectors, ivffs):
    queries = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    truth = {(r["qid"], r["id"]) for r in knn(vectors, queries, 10).collect()}

    def recall(nprobe):
        got = {
            (r["qid"], r["id"])
            for r in ivffs.search(queries, k=10, nprobe=nprobe).collect()
        }
        return len(got & truth) / len(truth)

    assert recall(1) <= recall(8) + 1e-9


# ------------------------------------------------------------ AQ fast-scan


@pytest.fixture(scope="module")
def aqfs(vectors):
    from faiss_spark.operators.fastscan import (
        aq_fastscan_encode,
        train_aq_fastscan,
    )

    model = train_aq_fastscan(vectors, M=16, niter=8, seed=11)
    return model, aq_fastscan_encode(model, vectors)


def test_aq_fastscan_norm_codec_roundtrip(vectors, aqfs):
    """The 2x4-bit norm quantizer reconstructs reconstruction norms with
    bounded relative error (reference ST_norm_rq2x4 norm encoding)."""
    import numpy as np

    model, _ = aqfs
    X = np.stack(vectors.limit(200).toPandas()["vec"]).astype(np.float64)
    codes = model.encode_np(X)
    xhat = model.rq.decode_np(codes[:, : model.M])
    true = (xhat * xhat).sum(1)
    est = model.estimated_norm(codes)
    rel = np.abs(est - true) / np.maximum(true, 1e-9)
    assert np.median(rel) <= 0.2, np.median(rel)
    assert model.norm_scale >= 1 and isinstance(model.norm_scale, int)


def test_aq_fastscan_matches_float_estimate(vectors, aqfs):
    """Quantized-LUT ranking nearly coincides with the float ranking of
    the SAME approximation (−2·⟨q, x̂⟩ + ‖x̂‖²_quantized + ‖q‖²)."""
    import numpy as np

    from faiss_spark.operators.fastscan import aq_fastscan_search

    model, codes_df = aqfs
    queries = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    fs = {
        (r["qid"], r["id"])
        for r in aq_fastscan_search(model, codes_df, queries, 10).collect()
    }
    # float twin computed driver-side
    qp = queries.toPandas()
    Q = np.stack(qp["vec"]).astype(np.float64)
    allp = codes_df.toPandas().sort_values("id")
    ids = allp["id"].to_numpy("int64")
    codes = np.stack([np.frombuffer(c, np.uint8) for c in allp["code"]])
    xhat = model.rq.decode_np(codes[:, : model.M])
    est = (
        (Q * Q).sum(1)[:, None]
        - 2.0 * (Q @ xhat.T)
        + model.estimated_norm(codes)[None, :]
    )
    float_top = {
        (int(qp["qid"][qi]), int(ids[j]))
        for qi in range(len(Q))
        for j in np.argsort(est[qi], kind="stable")[:10]
    }
    overlap = len(fs & float_top) / len(float_top)
    assert overlap >= 0.8, overlap


def test_aq_fastscan_recall(vectors, aqfs):
    from faiss_spark.operators.fastscan import aq_fastscan_search

    model, codes_df = aqfs
    queries = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    truth = {(r["qid"], r["id"]) for r in knn(vectors, queries, 10).collect()}
    got = {
        (r["qid"], r["id"])
        for r in aq_fastscan_search(model, codes_df, queries, 10).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.4, recall


# -------------------------------------------------------- IVF AQ fast-scan


@pytest.fixture(scope="module")
def ivfaqfs(vectors):
    from faiss_spark.operators.fastscan import IVFAQFastScanIndex

    return IVFAQFastScanIndex.train(
        vectors, nlist=8, M=16, seed=21, niter=8, rq_niter=8
    ).add(vectors)


def test_ivfaq_fastscan_full_probe_recall(vectors, ivfaqfs):
    queries = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    truth = {(r["qid"], r["id"]) for r in knn(vectors, queries, 10).collect()}
    got = {
        (r["qid"], r["id"])
        for r in ivfaqfs.search(queries, k=10, nprobe=8).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.4, recall


def test_ivfaq_fastscan_matches_float_twin(vectors, ivfaqfs):
    """At full probe, quantized-LUT ranking ≈ the float ranking of the
    same decomposed approximation q² − 2⟨q,c⟩ − 2⟨q,r̂⟩ + ‖x̂‖²_quantized,
    computed driver-side (the IVFAQFastScan LUT identity)."""
    import numpy as np

    idx = ivfaqfs
    queries = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    qp = queries.toPandas()
    Q = np.stack(qp["vec"]).astype(np.float64)
    allp = idx.codes.toPandas()
    ids = allp["id"].to_numpy("int64")
    lists = allp["list_no"].to_numpy("int64")
    codes = np.stack([np.frombuffer(c, np.uint8) for c in allp["code"]])
    rhat = idx.rq.decode_np(codes[:, : idx.M])
    normq = (
        idx.norm_books[0][codes[:, idx.M].astype(np.int64)]
        + idx.norm_books[1][codes[:, idx.M + 1].astype(np.int64)]
    )
    C = idx.centroids
    est = (
        (Q * Q).sum(1)[:, None]
        - 2.0 * (Q @ C[lists].T)
        - 2.0 * (Q @ rhat.T)
        + normq[None, :]
    )
    float_top = {
        (int(qp["qid"][qi]), int(ids[j]))
        for qi in range(len(Q))
        for j in np.argsort(est[qi], kind="stable")[:10]
    }
    fs = {
        (r["qid"], r["id"])
        for r in idx.search(queries, k=10, nprobe=8).collect()
    }
    overlap = len(fs & float_top) / len(float_top)
    assert overlap >= 0.8, overlap


def test_ivfaq_fastscan_nprobe_monotone(vectors, ivfaqfs):
    queries = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    truth = {(r["qid"], r["id"]) for r in knn(vectors, queries, 10).collect()}

    def recall(nprobe):
        got = {
            (r["qid"], r["id"])
            for r in ivfaqfs.search(queries, k=10, nprobe=nprobe).collect()
        }
        return len(got & truth) / len(truth)

    assert recall(1) <= recall(8) + 1e-9


def test_ivfaq_fastscan_nonresidual_fullprobe_equals_flat(vectors):
    queries = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    """by_residual=false IVF-AQ fast-scan (reference plain x4fs,
    index_factory.cpp:367-380) at nprobe=nlist uses the SAME
    aq_quantize_lut coefficients and zero bias — results must equal
    aq_fastscan_search over the same codes bit for bit."""
    from faiss_spark.operators.fastscan import (
        AQFastScanModel,
        IVFAQFastScanIndex,
        aq_fastscan_search,
    )

    idx = IVFAQFastScanIndex.train(
        vectors, nlist=8, M=8, seed=42, niter=5, rq_niter=5,
        by_residual=False,
    ).add(vectors)
    model = AQFastScanModel(
        rq=idx.rq, norm_books=idx.norm_books, norm_scale=idx.norm_scale
    )
    ivf = {
        (r.qid, r.rank, r.id, round(r.dist, 9))
        for r in idx.search(queries, 10, nprobe=8).collect()
    }
    flat = {
        (r.qid, r.rank, r.id, round(r.dist, 9))
        for r in aq_fastscan_search(
            model, idx.codes.select("id", "code"), queries, 10
        ).collect()
    }
    assert ivf == flat


def test_ivfaq_fastscan_nonresidual_recall(vectors):
    from faiss_spark.operators.fastscan import IVFAQFastScanIndex
    from faiss_spark.operators.knn import knn

    queries = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    exact = {(r.qid, r.id) for r in knn(vectors, queries, 10).collect()}
    idx = IVFAQFastScanIndex.train(
        vectors, nlist=8, M=16, seed=42, niter=5, rq_niter=8,
        by_residual=False,
    ).add(vectors)
    got = {
        (r.qid, r.id)
        for r in idx.search(queries, 10, nprobe=8).select("qid", "id").collect()
    }
    assert len(got & exact) / len(exact) >= 0.3
