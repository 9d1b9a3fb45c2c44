"""Scale-path variants: distributed big-batch IVF search, bucketed
embedding near-dup."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from faiss_spark.operators.dedup import (
    embedding_neardup_bucketed,
    embedding_neardup_pairs,
)
from faiss_spark.operators.ivf import IVFIndex, search_preassigned


@pytest.fixture(scope="module")
def vectors(tables):
    return tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )


def test_search_preassigned_equals_driver_planned(vectors):
    """The distributed big-batch mode must return exactly what the
    driver-planned mode returns (same probes, same distances)."""
    idx = IVFIndex.train(vectors, nlist=8, seed=42, niter=5).add(vectors)
    q = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    for nprobe in (1, 4, 8):
        a = {
            (r["qid"], r["rank"], r["id"])
            for r in search_preassigned(idx, q, 5, nprobe=nprobe).collect()
        }
        b = {
            (r["qid"], r["rank"], r["id"])
            for r in idx.search(q, 5, nprobe=nprobe).collect()
        }
        assert a == b, nprobe


def test_bucketed_neardup_recall_vs_brute(tables):
    emb = tables["embeddings"]
    # moderate threshold so the brute-force result is non-trivial
    brute = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.4).collect()
    }
    bucketed = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_bucketed(
            emb, threshold=0.4, n_buckets=8
        ).collect()
    }
    assert bucketed <= brute  # bucketing can only MISS pairs, never invent
    if brute:
        recall = len(bucketed & brute) / len(brute)
        assert recall >= 0.3, recall  # moderate τ → moderate recall is OK


def test_bucketed_neardup_perfect_on_planted_dups(tables):
    emb = tables["embeddings"]
    planted = emb.filter(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    both = emb.unionByName(planted)
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_bucketed(
            both, threshold=0.9999, n_buckets=8
        ).collect()
    }
    # identical vectors always share a bucket -> all 10 planted pairs found
    for i in range(10):
        assert (i, i + 1_000_000) in got


def test_bucketed_neardup_hot_cell_split_is_exact(tables):
    """max_cell_rows sharding must return EXACTLY the unsplit pair set:
    the triangle partitioning co-groups every intra-cell pair at least
    once, and the pair-edge dedup removes the mixed-group re-derivations.
    n_buckets=1 makes the single cell maximally hot, so every bucket is
    split."""
    emb = tables["embeddings"].limit(300)
    unsplit = {
        (r["id_a"], r["id_b"], round(r["cosine"], 9))
        for r in embedding_neardup_bucketed(
            emb, threshold=0.4, n_buckets=1, max_cell_rows=None
        ).collect()
    }
    split = {
        (r["id_a"], r["id_b"], round(r["cosine"], 9))
        for r in embedding_neardup_bucketed(
            emb, threshold=0.4, n_buckets=1, max_cell_rows=40
        ).collect()
    }
    assert unsplit  # non-trivial at this threshold
    assert split == unsplit


def test_ivfsq_full_probe_recall(vectors):
    """IVF+SQ8: full probe leaves only SQ quantization error — top-10
    recall vs exact should be near 1 on 64-d data."""
    from faiss_spark.operators.ivf import IVFSQIndex
    from faiss_spark.operators.knn import knn

    idx = IVFSQIndex.train(vectors, nlist=8, bits=8, seed=42, niter=5).add(vectors)
    q = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    truth = {(r["qid"], r["id"]) for r in knn(vectors, q, 10).collect()}
    got = {(r["qid"], r["id"]) for r in idx.search(q, 10, nprobe=8).collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, recall


def test_ivfsq_code_size_is_quarter_of_float(vectors):
    from faiss_spark.operators.ivf import IVFSQIndex

    idx = IVFSQIndex.train(vectors, nlist=4, bits=8, seed=42, niter=3).add(vectors)
    row = idx.codes.first()
    assert len(row["code"]) == 64  # 64 dims × 1 byte (vs 256 bytes float32)


def test_imi_assignment_is_product_of_halves(vectors):
    import numpy as np

    from faiss_spark.operators.ivf import imi_assign, train_imi

    C = train_imi(vectors, k=4, seed=7, niter=5)
    assert C.shape == (2, 4, 32)
    assigned = imi_assign(vectors, C).collect()
    assert all(0 <= r["list_no"] < 16 for r in assigned)
    # verify one row against numpy
    pdf = vectors.orderBy("id").limit(5).toPandas()
    X = np.stack(pdf["vec"]).astype(np.float64)
    got = {r["id"]: r["list_no"] for r in assigned}
    for i, vid in enumerate(pdf["id"]):
        cell = 0
        for h in range(2):
            sub = X[i, h * 32 : (h + 1) * 32]
            d2 = ((C[h] - sub) ** 2).sum(1)
            cell = cell * 4 + int(d2.argmin())
        assert got[vid] == cell


def test_ivfpqr_beats_ivfpq(vectors):
    from faiss_spark.operators.ivf import IVFPQRIndex
    from faiss_spark.operators.knn import knn

    q = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    pqr = IVFPQRIndex.train(vectors, nlist=8, M=8, k_factor=4, seed=42,
                            niter=5, pq_niter=5)
    truth = {(r["qid"], r["id"]) for r in knn(vectors, q, 5).collect()}
    raw = {(r["qid"], r["id"]) for r in pqr.ivfpq.search(q, 5, nprobe=8).collect()}
    ref = {(r["qid"], r["id"]) for r in pqr.search(q, 5, nprobe=8).collect()}
    assert len(ref & truth) >= len(raw & truth)


@pytest.mark.parametrize("nbits", [8, 9])
def test_two_layer_reconstruct(vectors, nbits):
    """reconstruct(id) = centroid[list_no] + PQ decode of the stored code,
    equal to the numpy decode for 1-byte and 2-byte (nbits > 8) sub-codes
    alike."""
    from faiss_spark.operators.ivf import IVFPQIndex, TwoLayerCodes

    idx = IVFPQIndex.train(
        vectors, nlist=8, M=8, seed=42, niter=5, pq_niter=5, nbits=nbits
    ).add(vectors)
    pq = idx.pq
    assert pq.code_dtype == (np.uint8 if nbits == 8 else np.uint16)
    tl = TwoLayerCodes.from_ivfpq(idx)
    got = {r["id"]: np.asarray(r["vec"]) for r in tl.reconstruct([1, 5, 9]).collect()}
    want = {
        r["id"]: (
            idx.centroids[r["list_no"]]
            + pq.decode_np(np.frombuffer(r["code"], pq.code_dtype)[None])[0]
        ).astype(np.float32)
        for r in tl.codes.filter("id in (1,5,9)").collect()
    }
    orig = {
        r["id"]: np.asarray(r["vec"])
        for r in vectors.filter("id in (1,5,9)").collect()
    }
    assert got.keys() == want.keys() == orig.keys()
    for i in got:
        np.testing.assert_array_equal(got[i], want[i])
        # lossy codec: reconstruction close, not exact
        err = np.abs(got[i] - orig[i]).mean()
        assert err < 0.2, err


def test_ivf_spectral_hash(vectors):
    from faiss_spark.operators.ivf import IVFSpectralHash

    idx = IVFSpectralHash.train(vectors, nlist=4, seed=42, niter=5).add(vectors)
    q = vectors.filter("id < 5").select(F.col("id").alias("qid"), "vec")
    rows = idx.search(q, 3, nprobe=4).collect()
    top1 = {r["qid"]: r["dist"] for r in rows if r["rank"] == 1}
    # each query's own binarized code is in the scan -> rank-1 dist is 0
    assert all(d == 0.0 for d in top1.values())


def test_ivf_spectral_hash_trained_modes(vectors):
    """Reference semantics (faiss/IndexIVFSpectralHash.cpp:70-107):
    threshold_type centroid/centroid_half/median produce per-list
    (nlist, nbit) thresholds; centroid_half = centroid − period/4; codes
    use the periodic binarization bit = floor((x−c)·2/period) & 1, and a
    query probing its own vector's list still scans to Hamming 0."""
    from faiss_spark.operators.ivf import IVFSpectralHash

    period = 2.0
    c = IVFSpectralHash.train(
        vectors, nlist=4, period=period, threshold_type="centroid",
        seed=42, niter=5,
    )
    ch = IVFSpectralHash.train(
        vectors, nlist=4, period=period, threshold_type="centroid_half",
        seed=42, niter=5,
    )
    d = c.centroids.shape[1]
    assert c.trained.shape == (4, d)
    np.testing.assert_allclose(ch.trained, c.trained - 0.25 * period)
    # trained thresholds live in the TRANSFORMED domain
    np.testing.assert_allclose(c.trained, c.centroids @ c.A.T, rtol=1e-10)

    for ttype in ("median", "centroid"):
        idx = IVFSpectralHash.train(
            vectors, nlist=4, nbit=16, period=period, threshold_type=ttype,
            transform="pca", seed=42, niter=5,
        ).add(vectors)
        assert idx.trained.shape == (4, 16)
        q = vectors.filter("id < 5").select(F.col("id").alias("qid"), "vec")
        rows = idx.search(q, 3, nprobe=4).collect()
        top1 = {r["qid"]: r["dist"] for r in rows if r["rank"] == 1}
        assert all(v == 0.0 for v in top1.values()), (ttype, top1)


def test_imi_and_spectral_persist_roundtrip(vectors, spark, tmp_path):
    """write/read for the round-4 index types: results identical after
    save → load (partitioned codes + npy/json artifacts)."""
    from faiss_spark.operators.ivf import IMIIVFIndex, IVFSpectralHash

    q = vectors.filter("id < 5").select(F.col("id").alias("qid"), "vec")

    imi = IMIIVFIndex.train(vectors, nbits=2, seed=42)
    imi.add(vectors, path=str(tmp_path / "imi"))
    want = {tuple(r) for r in imi.search(q, 3, nprobe=imi.nlist).collect()}
    imi2 = IMIIVFIndex.load(spark, str(tmp_path / "imi"))
    got = {tuple(r) for r in imi2.search(q, 3, nprobe=imi2.nlist).collect()}
    assert got == want and len(want) > 0

    sh = IVFSpectralHash.train(
        vectors, nlist=4, nbit=16, threshold_type="median", transform="pca",
        seed=42, niter=5,
    ).add(vectors)
    want = {tuple(r) for r in sh.search(q, 3, nprobe=4).collect()}
    sh.save(str(tmp_path / "sh"))
    sh2 = IVFSpectralHash.load(spark, str(tmp_path / "sh"))
    got = {tuple(r) for r in sh2.search(q, 3, nprobe=4).collect()}
    assert got == want and len(want) > 0


def test_spectral_hash_binarize_matches_reference_formula(vectors):
    """_binarize == binarize_with_freq (cpp:146-158) computed by hand."""
    from faiss_spark.operators.ivf import IVFSpectralHash

    rng = np.random.default_rng(0)
    idx = IVFSpectralHash(
        centroids=np.zeros((2, 4)),
        A=np.eye(4), b=None,
        trained=rng.normal(size=(2, 4)),
        period=0.7, threshold_type="median",
    )
    X = rng.normal(size=(8, 4))
    lists = rng.integers(0, 2, size=8)
    got = idx._binarize(X, lists)
    freq = 2.0 / 0.7
    for i in range(8):
        for j in range(4):
            xf = X[i, j] - idx.trained[lists[i], j]
            assert got[i, j] == (int(np.floor(xf * freq)) & 1)


def test_ivfaq_full_probe_recall(vectors):
    """IVF+RQ codes: full-probe search must recover ≥0.9 of exact
    neighbors (AQ is lossy; reference IndexIVFAdditiveQuantizer gets the
    same class of recall on smooth data)."""
    from faiss_spark.operators.ivf import IVFAQIndex
    from faiss_spark.operators.knn import knn

    idx = IVFAQIndex.train(vectors, nlist=8, M=8, seed=42, niter=5).add(vectors)
    q = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    truth = {(r["qid"], r["id"]) for r in knn(vectors, q, 10).collect()}
    got = {(r["qid"], r["id"]) for r in idx.search(q, 10, nprobe=8).collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, recall


def test_ivfaq_reconstruct_beats_coarse_only(vectors):
    """sa_decode: centroid + gather-sum must reduce reconstruction error
    vs the coarse centroid alone (each RQ level refines the residual)."""
    import numpy as np

    from faiss_spark.operators.ivf import IVFAQIndex

    idx = IVFAQIndex.train(vectors, nlist=4, M=8, seed=42, niter=5).add(vectors)
    rec = {r["id"]: np.array(r["vec"]) for r in idx.reconstruct().collect()}
    raw = {r["id"]: np.array(r["vec"]) for r in vectors.collect()}
    lists = {r["id"]: r["list_no"] for r in idx.codes.select("id", "list_no").collect()}
    err_rec = np.mean([((rec[i] - raw[i]) ** 2).sum() for i in raw])
    err_coarse = np.mean(
        [((idx.centroids[lists[i]] - raw[i]) ** 2).sum() for i in raw]
    )
    assert err_rec < err_coarse * 0.8, (err_rec, err_coarse)
    assert idx.codes.first()["code"] is not None
    assert len(idx.codes.first()["code"]) == 8  # M bytes per vector


def test_ivfpqr_codes_recall_ge_adc(vectors):
    """rerank='pqr_codes' (reference IndexIVFPQR.cpp:130-184, the
    second-stage refine-PQ rerank that works WITHOUT a raw-vector table)
    must not lose recall vs the ADC-only shortlist it refines."""
    from faiss_spark.operators.ivf import IVFPQRIndex
    from faiss_spark.operators.knn import knn

    q = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    pqr = IVFPQRIndex.train(
        vectors, nlist=8, M=8, k_factor=4, seed=42, niter=5, pq_niter=5,
        M_refine=8,
    )
    truth = {(r["qid"], r["id"]) for r in knn(vectors, q, 5).collect()}
    adc = {
        (r["qid"], r["id"])
        for r in pqr.ivfpq.search(q, 5, nprobe=8).collect()
    }
    codes = {
        (r["qid"], r["id"])
        for r in pqr.search(q, 5, nprobe=8, rerank="pqr_codes").collect()
    }
    assert len(codes & truth) >= len(adc & truth)


def test_ivfpqr_codes_exact_refine_equals_raw(vectors):
    """When the refine codebook is exact (corpus <= ksub rows: k-means
    with k >= n keeps every point as its own centroid, so refine decode
    reproduces the 2nd-level residual bit-for-bit) and the shortlist
    covers every cell (k*k_factor >= n), pqr_codes rerank computes the
    EXACT distance for every candidate — the result must equal both the
    raw-vector rerank and brute-force knn."""
    from faiss_spark.operators.ivf import IVFPQRIndex
    from faiss_spark.operators.knn import knn

    small = vectors.filter("id < 200").localCheckpoint(eager=True)
    q = small.filter("id < 10").select(F.col("id").alias("qid"), "vec")
    pqr = IVFPQRIndex.train(
        small, nlist=4, M=8, k_factor=40, seed=7, niter=5, pq_niter=8,
        M_refine=8, nbits_refine=8,
    )
    got = {
        (r["qid"], r["rank"], r["id"], round(r["dist"], 6))
        for r in pqr.search(q, 5, nprobe=4, rerank="pqr_codes").collect()
    }
    raw = {
        (r["qid"], r["rank"], r["id"], round(r["dist"], 6))
        for r in pqr.search(q, 5, nprobe=4, rerank="raw").collect()
    }
    exact = {
        (r["qid"], r["rank"], r["id"], round(r["dist"], 6))
        for r in knn(small, q, 5).collect()
    }
    assert got == exact
    assert raw == exact


def test_ivfpqr_codes_no_raw_vector_in_plan(vectors):
    """The codes-only mode is the 100 TB reason PQR exists: after the
    encode pass the raw table is dropped. Searching must neither require
    idx.vectors nor touch any raw-vector column in the plan."""
    from faiss_spark.operators.ivf import IVFPQRIndex
    from tests.test_plans import plan

    q = vectors.filter("id < 5").select(F.col("id").alias("qid"), "vec")
    pqr = IVFPQRIndex.train(
        vectors, nlist=8, M=8, k_factor=4, seed=42, niter=5, pq_niter=5,
        M_refine=8,
    )
    # drop the raw table — the codes table stands alone
    pqr.ivfpq.codes = pqr.ivfpq.codes.localCheckpoint(eager=True)
    pqr.vectors = None
    res = pqr.search(q, 5, nprobe=4)  # auto-selects pqr_codes
    txt = plan(res)
    assert "embedding" not in txt
    assert res.count() == 5 * 5


def test_hot_cell_detection_skips_and_estimates(tables, spark):
    """VERDICT r9 #3: hot-cell detection must not recompute the assign
    GEMM over the full corpus. Level 1: n_total <= max_cell_rows proves
    no cell can be hot (nprobe replicates to DISTINCT cells) for one
    column-pruned count. Level 2: a seeded sample emitting ONLY the
    bucket column estimates per-cell counts; hot cells (>> budget) are
    detected, borderline misses cost performance only (pair exactness is
    sharding-independent, pinned above)."""
    import numpy as np

    from faiss_spark.operators.dedup import _hot_cell_shards

    src = (
        tables["embeddings"]
        .select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        .limit(300)
        .localCheckpoint(eager=True)
    )
    C = np.stack([np.asarray(r["vec"], np.float64) for r in src.limit(1).collect()])
    bc = spark.sparkContext.broadcast((C, 1))
    # level 1: upper bound proves no hot cell without any assign pass
    subs, method = _hot_cell_shards(src, bc, max_cell_rows=10_000, seed=1)
    assert method == "skipped" and subs == {}
    # level 2, saturated fraction: exact counts (300 rows, one centroid)
    subs, method = _hot_cell_shards(src, bc, max_cell_rows=40, seed=1)
    assert method == "exact" and subs == {0: -(-300 // 40)}
    # level 2, true sampling: the single 300-row cell must still read hot
    subs, method = _hot_cell_shards(
        src, bc, max_cell_rows=40, seed=1, sample_target=64
    )
    assert method == "sampled" and 0 in subs and subs[0] >= 2


def test_bucketed_neardup_accepts_double_vectors(tables, spark):
    """ADVICE r9: the Arrow assign passes the input vec column through to
    a declared array<float> schema — an array<double> input (DataFrames
    built from Python floats) must be cast, not crash."""
    emb = tables["embeddings"].limit(100).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    f32 = tables["embeddings"].limit(100)
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_bucketed(
            emb, threshold=0.4, n_buckets=2
        ).collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_bucketed(
            f32, threshold=0.4, n_buckets=2
        ).collect()
    }
    assert got == want


def test_search_preassigned_accepts_double_queries(vectors):
    """Same ADVICE r9 guard for the big-batch probe fan-out."""
    idx = IVFIndex.train(vectors, nlist=8, seed=42, niter=5).add(vectors)
    q32 = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    q64 = q32.select("qid", F.col("vec").cast("array<double>").alias("vec"))
    a = {
        (r["qid"], r["rank"], r["id"])
        for r in search_preassigned(idx, q64, 5, nprobe=4).collect()
    }
    b = {
        (r["qid"], r["rank"], r["id"])
        for r in search_preassigned(idx, q32, 5, nprobe=4).collect()
    }
    assert a == b and a


def _range_radius(vectors) -> float:
    """A radius with non-trivial selectivity: the median query-base
    squared-L2 over a bounded driver sample (deterministic)."""
    rows = vectors.filter("id < 40").orderBy("id").collect()
    X = np.stack([np.asarray(r["vec"], np.float64) for r in rows])
    D = ((X[:20, None, :] - X[None, :, :]) ** 2).sum(axis=2)
    return float(np.median(D))


def test_range_search_preassigned_equals_driver_planned(vectors):
    """The distributed big-batch range mode must emit exactly the
    driver-planned ivf_range_search pair set (same probes, same f64
    distances); nprobe == nlist degenerates both to the exact range
    join."""
    from faiss_spark.operators.ivf import (
        ivf_range_search,
        range_search_preassigned,
    )

    idx = IVFIndex.train(vectors, nlist=8, seed=42, niter=5).add(vectors)
    q = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    radius = _range_radius(vectors)
    for nprobe in (1, 4, 8):
        a = {
            (r["qid"], r["id"], round(r["dist"], 9))
            for r in range_search_preassigned(
                idx, q, radius, nprobe=nprobe
            ).collect()
        }
        b = {
            (r["qid"], r["id"], round(r["dist"], 9))
            for r in ivf_range_search(idx, q, radius, nprobe=nprobe).collect()
        }
        assert a == b, nprobe
        assert a  # calibrated radius → non-trivial at every nprobe


def test_range_search_preassigned_hot_cell_subshards(vectors, tmp_path):
    """Sub-sharded hot cells must emit EXACTLY the unsplit pair set —
    the sub-shards partition each cell's candidates and range emit needs
    no merge, so the union is exact by construction."""
    from faiss_spark.operators.ivf import (
        _preassigned_subshards,
        range_search_preassigned,
    )

    idx = IVFIndex.train(vectors, nlist=4, seed=7, niter=5).add(vectors)
    idx.save(str(tmp_path / "skew"))  # file-backed: detection active
    q = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    radius = _range_radius(vectors)
    expect = sorted(
        (r.qid, r.id, round(r.dist, 9))
        for r in range_search_preassigned(
            idx, q, radius, nprobe=4, max_cell_rows=None
        ).collect()
    )
    assert _preassigned_subshards(idx, 40), "fixture must trip detection"
    got = sorted(
        (r.qid, r.id, round(r.dist, 9))
        for r in range_search_preassigned(
            idx, q, radius, nprobe=4, max_cell_rows=40
        ).collect()
    )
    assert got == expect and got


def test_ivf_range_search_falls_back_to_preassigned(vectors, monkeypatch):
    """ivf_range_search past the driver query bound must route through
    range_search_preassigned (not raise), with identical results; with a
    stats out-param the overflow runs the distributed route directly and
    that route fills the same counters."""
    import faiss_spark.operators.ivf as ivfmod
    from faiss_spark.operators.ivf import ivf_range_search

    idx = IVFIndex.train(vectors, nlist=8, seed=42, niter=5).add(vectors)
    q = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    radius = _range_radius(vectors)
    direct = {
        (r["qid"], r["id"], round(r["dist"], 9))
        for r in ivf_range_search(idx, q, radius, nprobe=4).collect()
    }

    calls = []
    real = ivfmod.range_search_preassigned

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(ivfmod, "range_search_preassigned", spy)
    monkeypatch.setattr(ivfmod, "MAX_DRIVER_QUERY_CELLS", 64)  # 1 row at d=64
    routed = {
        (r["qid"], r["id"], round(r["dist"], 9))
        for r in ivf_range_search(idx, q, radius, nprobe=4).collect()
    }
    assert calls, "size guard did not route through range_search_preassigned"
    assert routed == direct and routed

    from faiss_spark.operators.ivf import range_search_with_parameters

    res, st = range_search_with_parameters(idx, q, radius, nprobe=4)
    got = {(r["qid"], r["id"], round(r["dist"], 9)) for r in res.collect()}
    assert got == direct
    assert st.nq == 20 and st.ndis > 0 and st.list_scans > 0


def test_sq_search_preassigned_equals_driver_planned(vectors, monkeypatch):
    """The distributed big-batch mode over SQ-CODED lists must return
    exactly what the driver-planned IVFSQIndex.search returns (same
    probes, same decode, same distances), for both coarse kinds, and
    the driver path must auto-fall-back to it past the query bound."""
    import faiss_spark.operators.ivf as ivfmod
    from faiss_spark.operators.codecs import ResidualCoarseQuantizer
    from faiss_spark.operators.ivf import IVFSQIndex, sq_search_preassigned

    q = vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    idx = IVFSQIndex.train(vectors, nlist=8, bits=8, seed=3, niter=5).add(vectors)
    for nprobe in (1, 4, 8):
        a = {
            (r["qid"], r["rank"], r["id"], round(r["dist"], 9))
            for r in sq_search_preassigned(idx, q, 5, nprobe=nprobe).collect()
        }
        b = {
            (r["qid"], r["rank"], r["id"], round(r["dist"], 9))
            for r in idx.search(q, 5, nprobe=nprobe).collect()
        }
        assert a == b, nprobe

    # RCQ additive coarse: the beam must pick the same cells distributed
    rcq = ResidualCoarseQuantizer(M=2, nbits=2, seed=5).fit(vectors)
    idx_rcq = IVFSQIndex.train(
        vectors, nlist=rcq.nlist, bits=8, seed=3, coarse_q=rcq
    ).add(vectors)
    a = {
        (r["qid"], r["rank"], r["id"], round(r["dist"], 9))
        for r in sq_search_preassigned(idx_rcq, q, 5, nprobe=4).collect()
    }
    b = {
        (r["qid"], r["rank"], r["id"], round(r["dist"], 9))
        for r in idx_rcq.search(q, 5, nprobe=4).collect()
    }
    assert a == b and a

    # auto-fallback routing
    calls = []
    real = ivfmod.sq_search_preassigned

    def spy(*args, **kw):
        calls.append(1)
        return real(*args, **kw)

    monkeypatch.setattr(ivfmod, "sq_search_preassigned", spy)
    monkeypatch.setattr(ivfmod, "MAX_DRIVER_QUERY_CELLS", 64)
    routed = {
        (r["qid"], r["rank"], r["id"]) for r in idx.search(q, 5, nprobe=4).collect()
    }
    assert calls, "size guard did not route through sq_search_preassigned"
    direct = {
        (r["qid"], r["rank"], r["id"])
        for r in sq_search_preassigned(idx, q, 5, nprobe=4).collect()
    }
    assert routed == direct and routed
