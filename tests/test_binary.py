"""Binary codes + Hamming/Jaccard search vs numpy ground truth and the
DuckDB oracle shape (reference tests: test_index_binary.py patterns)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from faiss_spark.operators.binary import (
    BinaryHashIndex,
    BinaryIVFIndex,
    binarize,
    binarize_rotated,
    binary_range_search_preassigned,
    binary_search_preassigned,
    hamming_knn,
    hamming_range_search,
    jaccard_knn,
)
from faiss_spark.operators.transforms import random_rotation_matrix

D = 64


@pytest.fixture(scope="module")
def vectors(tables):
    return tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )


@pytest.fixture(scope="module")
def codes(vectors):
    # center at 0.5: the synthetic embeddings live in [0,1]-ish space
    return binarize(vectors, D, threshold=0.5)


@pytest.fixture(scope="module")
def np_bits(vectors):
    pdf = vectors.orderBy("id").toPandas()
    X = np.stack(pdf["vec"]).astype(np.float64)
    return (X > 0.5), pdf["id"].to_numpy()


def test_signbit_codes_match_numpy(codes, np_bits):
    bits, ids = np_bits
    got = {r["id"]: r["code"] for r in codes.collect()}
    weights = 1 << np.arange(32, dtype=np.int64)
    for i, vid in enumerate(ids[:50]):
        expect = [
            int((bits[i, w * 32 : (w + 1) * 32] * weights[: min(32, D - w * 32)]).sum())
            for w in range(2)
        ]
        assert got[vid] == expect


def test_hamming_knn_matches_numpy(codes, np_bits):
    bits, ids = np_bits
    nq, k = 10, 5
    qcodes = codes.filter(F.col("id") < nq).select(
        F.col("id").alias("qid"), F.col("code").alias("qcode")
    )
    got = hamming_knn(codes, qcodes, k).collect()
    # numpy truth
    H = (bits[:nq, None, :] != bits[None, :, :]).sum(2)
    for r in got:
        assert r["dist"] == H[r["qid"], list(ids).index(r["id"])]
    # rank-1 has hamming 0 (ties on identical codes break by id, so the
    # returned id may differ from qid — but its code must equal qid's)
    code_by_id = {r["id"]: tuple(r["code"]) for r in codes.collect()}
    top1 = {r["qid"]: (r["id"], r["dist"]) for r in got if r["rank"] == 1}
    for q, (i, dist) in top1.items():
        assert dist == 0
        assert code_by_id[i] == code_by_id[q]


def test_jaccard_knn_self_is_zero(codes):
    qcodes = codes.filter(F.col("id") < 5).select(
        F.col("id").alias("qid"), F.col("code").alias("qcode")
    )
    got = jaccard_knn(codes, qcodes, 3).collect()
    # rank-1 has jaccard distance 0; id may be a code-identical other doc
    code_by_id = {r["id"]: tuple(r["code"]) for r in codes.collect()}
    top1 = {r["qid"]: (r["id"], r["dist"]) for r in got if r["rank"] == 1}
    for q, (i, dist) in top1.items():
        assert dist == pytest.approx(0.0)
        assert code_by_id[i] == code_by_id[q]


def test_hamming_range(codes):
    qcodes = codes.filter(F.col("id") < 5).select(
        F.col("id").alias("qid"), F.col("code").alias("qcode")
    )
    rows = hamming_range_search(codes, qcodes, radius=10).collect()
    assert all(r["dist"] < 10 for r in rows)
    assert {r["qid"] for r in rows if r["qid"] == r["id"]} == {0, 1, 2, 3, 4}


def test_itq_binarize_beats_signbit_on_hamming_recall(vectors, tables):
    """Rotated (ITQ-style) codes should preserve neighborhoods at least as
    well as raw sign bits — check the plumbing end-to-end."""
    from faiss_spark.operators.knn import knn

    A = random_rotation_matrix(D, seed=9)
    rcodes = binarize_rotated(vectors, A)
    assert rcodes.count() == vectors.count()
    q = rcodes.filter(F.col("id") < 5).select(
        F.col("id").alias("qid"), F.col("code").alias("qcode")
    )
    got = hamming_knn(rcodes, q, 3).collect()
    top1 = {r["qid"]: r["id"] for r in got if r["rank"] == 1}
    assert all(top1[q_] == q_ for q_ in top1)


def test_binary_ivf_full_probe_equals_flat(codes):
    from faiss_spark.operators.binary import BinaryIVFIndex

    idx = BinaryIVFIndex.train(codes, nlist=4, nbits=64, seed=11, niter=8).add(codes)
    q = codes.filter(F.col("id") < 10).select(
        F.col("id").alias("qid"), F.col("code").alias("qcode")
    )
    ivf = {(r["qid"], r["rank"], r["id"]) for r in idx.search(q, 5, nprobe=4).collect()}
    flat = {(r["qid"], r["rank"], r["id"]) for r in hamming_knn(codes, q, 5).collect()}
    assert ivf == flat


def test_binary_ivf_partial_probe_recall(codes):
    from faiss_spark.operators.binary import BinaryIVFIndex

    idx = BinaryIVFIndex.train(codes, nlist=8, nbits=64, seed=11, niter=8).add(codes)
    q = codes.filter(F.col("id") < 20).select(
        F.col("id").alias("qid"), F.col("code").alias("qcode")
    )
    truth = {(r["qid"], r["id"]) for r in hamming_knn(codes, q, 5).collect()}
    got = {(r["qid"], r["id"]) for r in idx.search(q, 5, nprobe=2).collect()}
    # hamming truth has heavy ties, so partial-probe set recall is loose
    assert len(got & truth) / len(truth) >= 0.2


def test_binary_search_preassigned_equals_driver_planned(codes):
    """The distributed big-batch binary mode must return exactly what the
    driver-planned scan returns — same probe cells (shared selection
    code), same integer Hamming distances (0/1 squared-L2 == Hamming,
    integer-exact in f64) — for BOTH coarse kinds."""
    from faiss_spark.operators.binary import (
        BinaryIVFIndex,
        binary_search_preassigned,
    )

    q = codes.filter(F.col("id") < 20).select(
        F.col("id").alias("qid"), F.col("code").alias("qcode")
    )
    idx = BinaryIVFIndex.train(codes, nlist=8, nbits=64, seed=11, niter=8).add(codes)
    for nprobe in (1, 4, 8):
        a = {
            (r["qid"], r["rank"], r["id"], r["dist"])
            for r in binary_search_preassigned(idx, q, 5, nprobe=nprobe).collect()
        }
        b = {
            (r["qid"], r["rank"], r["id"], r["dist"])
            for r in idx.search(q, 5, nprobe=nprobe).collect()
        }
        assert a == b, nprobe
    # graph-routed coarse (BIVF_HNSW): the beam walk must pick the same
    # cells on executors as on the driver
    idx.build_coarse_graph(R=4)
    a = {
        (r["qid"], r["rank"], r["id"], r["dist"])
        for r in binary_search_preassigned(idx, q, 5, nprobe=4).collect()
    }
    b = {
        (r["qid"], r["rank"], r["id"], r["dist"])
        for r in idx.search(q, 5, nprobe=4).collect()
    }
    assert a == b and a


def test_binary_search_preassigned_hot_cell_subshards(codes, tmp_path):
    """A file-backed binary index above max_cell_rows must sub-shard hot
    cells with results identical to the unsplit scan (the shared
    cogrouped_cell_scan machinery)."""
    from faiss_spark.operators.binary import (
        BinaryIVFIndex,
        binary_search_preassigned,
    )
    from faiss_spark.operators.ivf import _preassigned_subshards

    idx = BinaryIVFIndex.train(codes, nlist=4, nbits=64, seed=11, niter=8).add(codes)
    idx.save(str(tmp_path / "bivf_skew"))
    q = codes.filter(F.col("id") < 20).select(
        F.col("id").alias("qid"), F.col("code").alias("qcode")
    )
    expect = sorted(
        (r.qid, r.rank, r.id, r.dist)
        for r in binary_search_preassigned(
            idx, q, 5, nprobe=4, max_cell_rows=None
        ).collect()
    )
    assert _preassigned_subshards(idx, 40), "fixture must trip detection"
    got = sorted(
        (r.qid, r.rank, r.id, r.dist)
        for r in binary_search_preassigned(
            idx, q, 5, nprobe=4, max_cell_rows=40
        ).collect()
    )
    assert got == expect and got


def test_binary_ivf_search_falls_back_to_preassigned(codes, monkeypatch):
    """BinaryIVFIndex.search past the driver query bound must route
    through binary_search_preassigned with identical results."""
    import faiss_spark.operators.binary as binmod
    from faiss_spark.operators.binary import BinaryIVFIndex

    idx = BinaryIVFIndex.train(codes, nlist=8, nbits=64, seed=11, niter=8).add(codes)
    q = codes.filter(F.col("id") < 20).select(
        F.col("id").alias("qid"), F.col("code").alias("qcode")
    )
    direct = {
        (r["qid"], r["rank"], r["id"]) for r in idx.search(q, 5, nprobe=4).collect()
    }

    calls = []
    real = binmod.binary_search_preassigned

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(binmod, "binary_search_preassigned", spy)
    import faiss_spark.operators.ivf as ivfmod

    monkeypatch.setattr(ivfmod, "MAX_DRIVER_QUERY_CELLS", 2)  # 1 row at d=2
    routed = {
        (r["qid"], r["rank"], r["id"]) for r in idx.search(q, 5, nprobe=4).collect()
    }
    assert calls, "size guard did not route through binary_search_preassigned"
    assert routed == direct and routed


def test_binary_ivf_range_search_full_probe_equals_flat(codes):
    """nprobe == nlist probes every list, so BOTH binary IVF range modes
    must equal exact flat hamming_range_search — same pairs, same
    integer distances."""
    from faiss_spark.operators.binary import (
        BinaryIVFIndex,
        binary_range_search_preassigned,
    )

    idx = BinaryIVFIndex.train(codes, nlist=4, nbits=64, seed=11, niter=8).add(codes)
    q = codes.filter(F.col("id") < 10).select(
        F.col("id").alias("qid"), F.col("code").alias("qcode")
    )
    flat = {
        (r["qid"], r["id"], r["dist"])
        for r in hamming_range_search(codes, q, radius=10).collect()
    }
    driver = {
        (r["qid"], r["id"], r["dist"])
        for r in idx.range_search(q, 10, nprobe=4).collect()
    }
    bigbatch = {
        (r["qid"], r["id"], r["dist"])
        for r in binary_range_search_preassigned(idx, q, 10, nprobe=4).collect()
    }
    assert driver == flat and bigbatch == flat and flat


def test_binary_ivf_range_partial_probe_is_subset(codes):
    """Partial probe can only MISS pairs relative to full probe, never
    invent any; both modes must agree at equal nprobe."""
    from faiss_spark.operators.binary import (
        BinaryIVFIndex,
        binary_range_search_preassigned,
    )

    idx = BinaryIVFIndex.train(codes, nlist=8, nbits=64, seed=11, niter=8).add(codes)
    q = codes.filter(F.col("id") < 10).select(
        F.col("id").alias("qid"), F.col("code").alias("qcode")
    )
    full = {
        (r["qid"], r["id"]) for r in idx.range_search(q, 10, nprobe=8).collect()
    }
    a = {(r["qid"], r["id"]) for r in idx.range_search(q, 10, nprobe=2).collect()}
    b = {
        (r["qid"], r["id"])
        for r in binary_range_search_preassigned(idx, q, 10, nprobe=2).collect()
    }
    assert a == b
    assert a <= full


def _ivf(codes):
    return BinaryIVFIndex.train(codes, nlist=4, nbits=64, seed=11, niter=8).add(codes)


IVF_WIDTH = "1 components but the index has d=2"
FLAT_WIDTH = "differ in length: 2 words against 1 words"

# entry point -> (search of 1-word queries against the 2-word codes,
# the message naming both word counts)
WIDTH_CELLS = {
    "ivf_search": (lambda c, q: _ivf(c).search(q, 5, nprobe=2), IVF_WIDTH),
    "ivf_range_search": (lambda c, q: _ivf(c).range_search(q, 10, nprobe=2), IVF_WIDTH),
    "binary_search_preassigned": (
        lambda c, q: binary_search_preassigned(_ivf(c), q, 5, nprobe=2), IVF_WIDTH
    ),
    "binary_range_search_preassigned": (
        lambda c, q: binary_range_search_preassigned(_ivf(c), q, 10, nprobe=2),
        IVF_WIDTH,
    ),
    "hamming_knn": (lambda c, q: hamming_knn(c, q, 5), FLAT_WIDTH),
    "jaccard_knn": (lambda c, q: jaccard_knn(c, q, 5), FLAT_WIDTH),
    "hamming_range_search": (lambda c, q: hamming_range_search(c, q, 10), FLAT_WIDTH),
    "binary_hash_search": (
        lambda c, q: BinaryHashIndex(8).add(c).search(q, 5), FLAT_WIDTH
    ),
}


@pytest.mark.parametrize("cell", sorted(WIDTH_CELLS))
def test_unequal_word_counts_fail_with_message(cell, codes):
    """Queries of one 32-bit word against 64-bit codes fail with a
    message naming both word counts — never a row with a null distance,
    a silently empty result or a worker stack trace."""
    from pyspark.errors import PythonException

    search, match = WIDTH_CELLS[cell]
    q = codes.filter(F.col("id") < 10).select(
        F.col("id").alias("qid"), F.slice("code", 1, 1).alias("qcode")
    )
    with pytest.raises(Exception, match=match) as ei:
        search(codes, q).collect()
    assert not isinstance(ei.value, PythonException)
