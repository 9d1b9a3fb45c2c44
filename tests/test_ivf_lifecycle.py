"""One IVF lifecycle for every family (operators/ivf.py ``_IVFIndexBase``):
each subclass of the base, found by a walk, must return identical rows
in memory, after ``save`` → ``load`` and after ``save_bucketed`` →
``load``, on both search routes, and come back as its own class
(reference tests/test_io.py: every index survives write_index →
read_index → identical search)."""

import copy

import numpy as np
import pytest

import faiss_spark.operators.ivf as ivfmod
from faiss_spark.operators.binary import BinaryIVFIndex, binarize
from faiss_spark.operators.fastscan import (
    IVFAQFastScanIndex,
    IVFPQFastScanIndex,
    ProductAQAdapter,
    train_ivf_paq_fastscan,
)
from faiss_spark.operators.ivf import (
    IMIIVFIndex,
    IMIPQIndex,
    IVFAQIndex,
    IVFIndex,
    IVFNestedIndex,
    IVFPQIndex,
    IVFPQRIndex,
    IVFRCQIndex,
    IVFSpectralHash,
    IVFSQIndex,
    MIQ2IVFIndex,
    _ivf_families,
)

D = 8


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(3)
    X = rng.standard_normal((600, D))
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "id bigint, vec array<float>",
    )


@pytest.fixture(scope="module")
def queries(vectors):
    return vectors.filter("id < 20").withColumnRenamed("id", "qid")


def _pqr(v):
    idx = IVFPQRIndex.train(v, nlist=8, M=4, k_factor=4, seed=7, niter=5, M_refine=4)
    idx.vectors = None  # codes-only: the persisted shape
    return idx


def _bivf(v):
    # sign bits of the float fixture; the graph-routed coarse
    # (BIVF<n>_HNSW<m>) so its router is part of the saved state
    codes = binarize(v, D)
    idx = BinaryIVFIndex.train(codes, nlist=8, nbits=D, seed=1, niter=5)
    return idx.build_coarse_graph(R=4).add(codes)


def _queries_for(idx, queries):
    """Binary IVF searches code words: the queries' sign bits."""
    if not isinstance(idx, BinaryIVFIndex):
        return queries
    return binarize(queries, D, id_col="qid").toDF("qid", "qcode")


# family name -> build (train + in-memory add); a family without an entry
# fails the matrix
BUILD = {
    "IVFIndex": lambda v: IVFIndex.train(v, nlist=8, seed=1, niter=5),
    "IVFRCQIndex": lambda v: IVFRCQIndex.train(v, M=2, nbits=3, seed=1),
    "IVFNestedIndex": lambda v: IVFNestedIndex.train(
        v, nlist=8, sub=("pq", 4, 2), seed=1, niter=5
    ),
    "IVFPQIndex": lambda v: IVFPQIndex.train(v, nlist=8, M=4, seed=1, niter=5),
    "IVFSQIndex": lambda v: IVFSQIndex.train(v, nlist=8, bits=8, seed=1, niter=5),
    "IMIIVFIndex": lambda v: IMIIVFIndex.train(v, nbits=3, seed=1),
    "MIQ2IVFIndex": lambda v: MIQ2IVFIndex.train(v, nbits=3, assign_k2=2, seed=1),
    "IMIPQIndex": lambda v: IMIPQIndex.train(v, nbits=2, M=4, seed=1, niter=5),
    "IVFPQRIndex": _pqr,
    "IVFSpectralHash": lambda v: IVFSpectralHash.train(
        v, nlist=8, nbit=8, threshold_type="median", seed=1, niter=5
    ),
    "IVFAQIndex": lambda v: IVFAQIndex.train(v, nlist=8, M=2, nbits=4, seed=1, niter=5),
    "IVFPQFastScanIndex": lambda v: IVFPQFastScanIndex.train(
        v, nlist=8, M=4, seed=1, niter=5
    ),
    "IVFAQFastScanIndex": lambda v: IVFAQFastScanIndex.train(
        v, nlist=8, M=4, seed=1, niter=5
    ),
    "BinaryIVFIndex": _bivf,
}

FAMILIES = sorted(c.__name__ for c in _ivf_families())

_built: dict = {}


def _index(name, v):
    if name not in _built:
        idx = BUILD[name](v)
        if idx.codes is None:
            idx = idx.add(v)
        _built[name] = idx
    return _built[name]


def rows(df):
    return sorted(
        (r["qid"], r["rank"], r["id"], round(r["dist"], 6)) for r in df.collect()
    )


def test_every_family_has_a_builder():
    assert set(FAMILIES) == set(BUILD), set(FAMILIES) ^ set(BUILD)


@pytest.mark.parametrize("route", ["driver", "distributed"])
@pytest.mark.parametrize("family", FAMILIES)
def test_save_load_roundtrip_rows(family, route, spark, vectors, queries, tmp_path, monkeypatch):
    idx = _index(family, vectors)
    assert type(idx).__name__ == family
    if route == "distributed":
        # one query row fits the driver bound at d=8 (eight one-word
        # binary queries): every search falls back to the family's
        # distributed twin
        monkeypatch.setattr(ivfmod, "MAX_DRIVER_QUERY_CELLS", D)
    q = _queries_for(idx, queries)

    def search(i):
        return rows(i.search(q, 5, nprobe=4))

    mem = search(idx)
    assert mem
    cls = type(idx)
    out = idx.save(str(tmp_path / "plain"))
    assert out is idx and idx.path == str(tmp_path / "plain")
    plain = cls.load(spark, str(tmp_path / "plain"))
    assert type(plain) is cls
    assert search(plain) == mem
    assert idx.save_bucketed(str(tmp_path / "bucketed"), nbuckets=4) is idx
    bucketed = cls.load(spark, str(tmp_path / "bucketed"))
    assert type(bucketed) is cls
    assert search(bucketed) == mem


def test_heterogeneous_product_aq_roundtrips(spark, vectors, queries, tmp_path):
    """A hand-built ProductAQAdapter whose splits differ in M, codec type
    and ICM iterations packs whole: the reloaded index encodes and
    searches identically."""
    from faiss_spark.operators.codecs import (
        LocalSearchQuantizerModel,
        ProductAdditiveQuantizerModel,
    )

    idx = train_ivf_paq_fastscan(
        vectors, nlist=4, nsplits=2, Msub=2, by_residual=False, niter=5
    )
    rq0, rq1 = idx.rq.paq.subs
    lsq = LocalSearchQuantizerModel(
        codebooks=np.concatenate([rq1.codebooks, rq1.codebooks[:1] * 0.5]),
        icm_iters=2,
    )
    idx.rq = ProductAQAdapter(
        ProductAdditiveQuantizerModel(subs=[rq0, lsq], dsub=idx.rq.paq.dsub)
    )
    idx.add(vectors)
    mem = rows(idx.search(queries, 5, nprobe=4))
    idx.save(str(tmp_path / "paq"))
    re = IVFAQFastScanIndex.load(spark, str(tmp_path / "paq"))
    assert [type(s) for s in re.rq.paq.subs] == [type(rq0), LocalSearchQuantizerModel]
    assert re.rq.paq.subs[1].icm_iters == 2 and re.rq.M == 5
    X = np.random.default_rng(0).standard_normal((32, D))
    assert np.array_equal(idx.rq.encode_np(X), re.rq.encode_np(X))
    assert rows(re.search(queries, 5, nprobe=4)) == mem and mem


@pytest.mark.parametrize("family", FAMILIES)
def test_ivf_range_search_scans_raw_vector_lists_only(family, spark, vectors, queries):
    """IVF range search scans raw-vector lists: those families match the
    brute-force range_search at full probe, and every family whose lists
    hold codes is refused on the driver, before any job, by all three
    range entry points (binary IVF pointed to its own range_search)."""
    from faiss_spark.operators.knn import range_search

    idx = _index(family, vectors)
    q = _queries_for(idx, queries)
    if type(idx._scanner(1)) is ivfmod._FlatScanner:
        if getattr(idx, "assign_k2", None):
            # MIQ2 probes at most k2² cells; the full grid probes them all
            idx = copy.copy(idx)
            idx.assign_k2 = None
        got = ivfmod.ivf_range_search(idx, q, 6.0, nprobe=idx.nlist)
        expect = range_search(vectors, queries, 6.0)
        assert rows_set(got) == rows_set(expect) and rows_set(expect)
        return
    sc = spark.sparkContext
    group = f"range-refusal-{family}"
    sc.setJobGroup(group, "range search refusal")
    try:
        for fn in (
            ivfmod.ivf_range_search,
            ivfmod.range_search_with_parameters,
            ivfmod.range_search_preassigned,
        ):
            with pytest.raises(ValueError, match=f"{family} lists hold codes") as e:
                fn(idx, q, 6.0, nprobe=2)
            if family == "BinaryIVFIndex":
                assert "BinaryIVFIndex.range_search" in str(e.value)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def rows_set(df):
    return {(r["qid"], r["id"], round(r["dist"], 6)) for r in df.collect()}
