"""The Python boundary: every Spark face of a numpy kernel returns exactly
what the kernel returns on the same matrix, bad vectors fail with a clear
message, and a non-finite query is rejected on every search route."""

import numpy as np
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from faiss_spark.operators import codecs as C


@pytest.fixture(scope="module")
def vecs(tables):
    return tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )


@pytest.fixture(scope="module")
def ids_X(vecs):
    """(ids, X float64) of the vector table, in id order."""
    rows = sorted((r["id"], r["vec"]) for r in vecs.collect())
    return (
        np.array([i for i, _ in rows], np.int64),
        np.array([v for _, v in rows], np.float64),
    )


def _by_id(df, col):
    return {r["id"]: r[col] for r in df.collect()}


CODECS = {
    "sq4": lambda v: C.ScalarQuantizer(bits=4).fit(v),
    "sq6": lambda v: C.ScalarQuantizer(bits=6).fit(v),
    "sq8": lambda v: C.ScalarQuantizer(bits=8).fit(v),
    "fp16": lambda v: C.ScalarQuantizer(bits=16).fit(v),
    "sq8_direct": lambda v: C.ScalarQuantizer(bits=8, direct=True).fit(v),
    "pq8": lambda v: C.ProductQuantizer(M=8, nbits=8, niter=4).fit(v),
    "pq10": lambda v: C.ProductQuantizer(M=8, nbits=10, niter=2).fit(v),
    "rq": lambda v: C.ResidualQuantizer(M=2, nbits=4, niter=4).fit(v),
    "lsq": lambda v: C.LocalSearchQuantizer(
        M=2, nbits=4, train_iters=1, niter_init=4
    ).fit(v),
    "paq": lambda v: C.ProductAdditiveQuantizer(
        nsplits=2, M_per_split=2, nbits=4, niter=4
    ).fit(v),
}


@pytest.mark.parametrize("name", sorted(CODECS))
def test_codec_spark_face_is_byte_exact(vecs, ids_X, name):
    """encode(df) codes are bytes(encode_np(X)) row for row, and
    decode(df) is decode_np of those codes cast to float32."""
    model = CODECS[name](vecs)
    ids, X = ids_X
    want = model.encode_np(X)
    if name == "pq10":
        assert want.dtype == np.uint16
    codes_df = model.encode(vecs)
    got = _by_id(codes_df, "code")
    assert sorted(got) == ids.tolist()
    for i, row in zip(ids, want):
        assert bytes(got[i]) == bytes(row), i
    dec = _by_id(model.decode(codes_df), "vec")
    want_dec = model.decode_np(want).astype(np.float32)
    for i, row in zip(ids, want_dec):
        np.testing.assert_array_equal(np.asarray(dec[i], np.float32), row)


def test_rcq_assign_is_assign_np(vecs, ids_X):
    model = C.ResidualCoarseQuantizer(M=2, nbits=3, niter=4).fit(vecs)
    ids, X = ids_X
    got = _by_id(model.assign(vecs), "cluster")
    assert [got[i] for i in ids] == model.assign_np(X).tolist()


def test_aq_fastscan_encode_is_byte_exact(vecs, ids_X):
    from faiss_spark.operators.fastscan import (
        aq_fastscan_encode,
        train_aq_fastscan,
    )

    model = train_aq_fastscan(vecs, M=4, niter=3)
    ids, X = ids_X
    got = _by_id(aq_fastscan_encode(model, vecs), "code")
    assert [bytes(got[i]) for i in ids] == [
        bytes(r) for r in model.encode_np(X)
    ]


def test_lattice_encode_decode_is_byte_exact(vecs, ids_X):
    from faiss_spark.operators.lattice import LatticeIndex

    idx = LatticeIndex(nsq=8, scale_nbit=4, r2=10).fit(vecs)
    ids, X = ids_X
    codes_df = idx.sa_encode(vecs)
    got = _by_id(codes_df, "code")
    want = idx.model.encode_np(X)
    assert [bytes(got[i]) for i in ids] == want
    dec = _by_id(idx.sa_decode(codes_df), "vec")
    np.testing.assert_array_equal(
        np.array([dec[i] for i in ids]), idx.model.decode_np(want)
    )


def test_linear_transform_apply_is_exact(vecs, ids_X):
    from faiss_spark.operators.transforms import PCAMatrix

    model = PCAMatrix(16).fit(vecs)
    ids, X = ids_X
    got = _by_id(model.apply(vecs), "vec")
    Y = X @ model.A.T
    Y += model.b
    np.testing.assert_array_equal(
        np.array([got[i] for i in ids], np.float32), Y.astype(np.float32)
    )


def test_synthetic_dataset_is_hash_normals(spark):
    from faiss_spark.sources.datasets import SyntheticDataset, _hash_normals

    ds = SyntheticDataset(spark, d=16, nt=50, nb=300, nq=10)
    got = _by_id(ds.get_database(), "vec")
    ids = np.arange(300, dtype=np.int64)
    z = _hash_normals(ids + ds.nt, ds.d1, ds.seed)
    want = np.sin((z @ ds.proj) * ds.scale[None, :]).astype(np.float32)
    assert sorted(got) == ids.tolist()
    np.testing.assert_array_equal(
        np.array([got[i] for i in ids], np.float32), want
    )


def test_spectral_hash_add_codes_are_exact(vecs, ids_X):
    from faiss_spark.operators.binary import _bits_to_words
    from faiss_spark.operators.ivf import IVFSpectralHash

    idx = IVFSpectralHash.train(vecs, nlist=4, seed=42, niter=5).add(vecs)
    ids, X = ids_X
    rows = {r["id"]: (r["list_no"], r["code"]) for r in idx.codes.collect()}
    Cn = idx.centroids
    lists = (
        (X * X).sum(1)[:, None] + (Cn * Cn).sum(1)[None, :] - 2.0 * (X @ Cn.T)
    ).argmin(1)
    Xt = X @ idx.A.T + (idx.b if idx.b is not None else 0.0)
    words = _bits_to_words(idx._binarize(Xt, lists))
    assert [rows[i][0] for i in ids] == lists.tolist()
    assert [list(rows[i][1]) for i in ids] == words.tolist()


@pytest.mark.parametrize(
    "bad,msg",
    [([0.3], r"unequal length \[1, 2\]"), (None, "null row")],
    ids=["ragged", "null"],
)
def test_codec_encode_rejects_ragged_and_null_vectors(spark, bad, msg):
    model = C.ScalarQuantizerModel(
        vmin=np.zeros(2), vdiff=np.ones(2), bits=8
    )
    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, bad), (3, [0.5, 0.6])],
        "id bigint, vec array<float>",
    ).coalesce(1)
    with pytest.raises(Exception, match=msg):
        model.encode(df).collect()


# ---- non-finite queries ---------------------------------------------------


@pytest.fixture(scope="module")
def nan_queries(spark, ids_X):
    _, X = ids_X
    q = X[:3].copy()
    q[1, 5] = np.nan
    return spark.createDataFrame(
        [(10 + i, row.tolist()) for i, row in enumerate(q)],
        "qid bigint, vec array<float>",
    )


@pytest.fixture(scope="module")
def ivf_flat(vecs):
    from faiss_spark.operators.ivf import IVFIndex

    return IVFIndex.train(vecs, nlist=4, seed=42, niter=5).add(vecs)


@pytest.fixture(scope="module")
def ivf_pq(vecs):
    from faiss_spark.operators.ivf import IVFPQIndex

    return IVFPQIndex.train(
        vecs, nlist=4, M=8, seed=42, niter=5, pq_niter=5
    ).add(vecs)


@pytest.fixture(scope="module")
def ivf_pqfs(vecs):
    from faiss_spark.operators.fastscan import IVFPQFastScanIndex

    return IVFPQFastScanIndex.train(
        vecs, nlist=4, M=8, seed=42, niter=5, pq_niter=5
    ).add(vecs)


@pytest.fixture(scope="module")
def ivf_aqfs(vecs):
    from faiss_spark.operators.fastscan import IVFAQFastScanIndex

    return IVFAQFastScanIndex.train(
        vecs, nlist=4, M=4, seed=42, niter=5, rq_niter=5
    ).add(vecs)


@pytest.fixture(scope="module")
def ivf_sh(vecs):
    from faiss_spark.operators.ivf import IVFSpectralHash

    return IVFSpectralHash.train(vecs, nlist=4, seed=42, niter=5).add(vecs)


def _knn(vecs, q, index):
    from faiss_spark.operators.knn import knn

    return knn(vecs, q, 3)


def _range(vecs, q, index):
    from faiss_spark.operators.knn import range_search

    return range_search(vecs, q, 10.0)


def _flat_driver(vecs, q, index):
    return index("ivf_flat").search(q, 3, nprobe=2)


def _flat_distributed(vecs, q, index):
    from faiss_spark.operators.ivf import search_preassigned

    return search_preassigned(index("ivf_flat"), q, 3, nprobe=2)


def _pq_driver(vecs, q, index):
    return index("ivf_pq").search(q, 3, nprobe=2)


def _pq_distributed(vecs, q, index):
    from faiss_spark.operators.ivf import pq_search_preassigned

    return pq_search_preassigned(index("ivf_pq"), q, 3, nprobe=2)


def _pqfs_driver(vecs, q, index):
    return index("ivf_pqfs").search(q, 3, nprobe=2)


def _pqfs_distributed(vecs, q, index):
    from faiss_spark.operators.fastscan import fastscan_search_preassigned

    return fastscan_search_preassigned(index("ivf_pqfs"), q, 3, nprobe=2)


def _aqfs_driver(vecs, q, index):
    return index("ivf_aqfs").search(q, 3, nprobe=2)


def _aqfs_distributed(vecs, q, index):
    from faiss_spark.operators.fastscan import aq_fastscan_search_preassigned

    return aq_fastscan_search_preassigned(index("ivf_aqfs"), q, 3, nprobe=2)


def _sh_driver(vecs, q, index):
    return index("ivf_sh").search(q, 3, nprobe=2)


def _sh_distributed(vecs, q, index):
    from faiss_spark.operators.ivf import sh_search_preassigned

    return sh_search_preassigned(index("ivf_sh"), q, 3, nprobe=2)


@pytest.mark.parametrize(
    "route",
    [_knn, _range, _flat_driver, _flat_distributed, _pq_driver,
     _pq_distributed, _pqfs_driver, _pqfs_distributed, _aqfs_driver,
     _aqfs_distributed, _sh_driver, _sh_distributed],
    ids=["knn", "range_search", "ivf_flat_driver", "ivf_flat_distributed",
         "ivf_pq_driver", "ivf_pq_distributed", "pq_fastscan_driver",
         "pq_fastscan_distributed", "aq_fastscan_driver",
         "aq_fastscan_distributed", "sh_driver", "sh_distributed"],
)
def test_non_finite_query_is_rejected(vecs, nan_queries, request, route):
    """A NaN query component raises a message naming the query on every
    route — never 0 silent rows, never a Python worker stack trace.
    Indexes build lazily, only for the routes that search them."""
    with pytest.raises(Exception) as ei:
        route(vecs, nan_queries, request.getfixturevalue).collect()
    assert "query 11 has a non-finite component" in str(ei.value)
    assert not isinstance(ei.value, PythonException)
