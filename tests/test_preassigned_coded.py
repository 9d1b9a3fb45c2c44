"""Distributed big-batch (preassigned) twins for the CODED and
custom-coarse IVF families — r13 (VERDICT r12 #1/#2): the ADC cogroup
over PQ-coded lists (IVFPQ / IMIPQ), the AQ and PQR-codes twins, and
the assign-override flat twins (RCQ beam, nested routers, IMI/MIQ2
product grids). Every twin must return exactly what its driver-planned
path returns (same probes, same distances), and every driver search
must auto-fall-back to its twin past the query bound (reference
contrib/ivf_tools.py:26-57 — the big-batch pattern is index-agnostic;
benchs/distributed_ondisk/README.md is the PQ flagship)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import faiss_spark.operators.ivf as ivfmod
from faiss_spark.operators.ivf import (
    IMIIVFIndex,
    IMIPQIndex,
    IVFAQIndex,
    IVFIndex,
    IVFNestedIndex,
    IVFPQIndex,
    IVFPQRIndex,
    IVFRCQIndex,
    IVFSQIndex,
    MIQ2IVFIndex,
    aq_search_preassigned,
    pq_search_preassigned,
    pqr_search_preassigned,
    search_preassigned,
    search_with_parameters,
    sq_search_preassigned,
)


@pytest.fixture(scope="module")
def vectors(tables):
    return tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )


@pytest.fixture(scope="module")
def queries(vectors):
    return vectors.filter("id < 20").select(F.col("id").alias("qid"), "vec")


def rows(df, nd=6):
    return sorted(
        (r["qid"], r["rank"], r["id"], round(r["dist"], nd))
        for r in df.collect()
    )


def _spy_fallback(monkeypatch, twin_name):
    calls = []
    real = getattr(ivfmod, twin_name)

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(ivfmod, twin_name, spy)
    monkeypatch.setattr(ivfmod, "MAX_DRIVER_QUERY_CELLS", 64)  # 1 row at d=64
    return calls


def test_pq_driver_fallback_routes_to_twin(vectors, queries, monkeypatch):
    idx = IVFPQIndex.train(vectors, nlist=8, M=8, seed=42, niter=5).add(vectors)
    direct = rows(pq_search_preassigned(idx, queries, 5, nprobe=4))
    calls = _spy_fallback(monkeypatch, "pq_search_preassigned")
    assert rows(idx.search(queries, 5, nprobe=4)) == direct and direct
    assert calls, "size guard did not route through pq_search_preassigned"


def test_imipq_driver_fallback_routes_to_twin(vectors, queries, monkeypatch):
    idx = IMIPQIndex.train(vectors, nbits=2, M=8, seed=42, niter=5).add(vectors)
    idx.codes = idx.codes.localCheckpoint(eager=True)
    direct = rows(pq_search_preassigned(idx, queries, 5, nprobe=4))
    calls = _spy_fallback(monkeypatch, "pq_search_preassigned")
    assert rows(idx.search(queries, 5, nprobe=4)) == direct and direct
    assert calls


def _imipq(vectors):
    idx = IMIPQIndex.train(vectors, nbits=2, M=8, seed=42, niter=5).add(vectors)
    idx.codes = idx.codes.localCheckpoint(eager=True)
    return idx


def _pqr(vectors):
    idx = IVFPQRIndex.train(
        vectors, nlist=8, M=8, k_factor=4, seed=7, niter=5, M_refine=8
    )
    idx.vectors = None  # codes-only (the 100 TB shape)
    return idx


def _sq_rcq(vectors):
    from faiss_spark.operators.codecs import ResidualCoarseQuantizer

    cq = ResidualCoarseQuantizer(M=2, nbits=2, seed=5).fit(vectors)
    return IVFSQIndex.train(
        vectors, nlist=cq.nlist, bits=8, seed=42, coarse_q=cq
    ).add(vectors)


def _graph_plan(vectors):
    from faiss_spark.plans.factory import index_factory

    return index_factory("IVF16_NSG8,Flat").fit(vectors, seed=42)


def _graph_distributed(monkeypatch):
    """The factory plan has no public twin: force its fallback."""

    def run(plan, q, k, **kw):
        with monkeypatch.context() as m:
            m.setattr(ivfmod, "MAX_DRIVER_QUERY_CELLS", 64)  # 1 row at d=64
            return rows(plan.search(q, k, **kw))

    return run


# cell -> (build, driver search, distributed twin, (twin name, kwargs)
# for the fallback spy or None, per-comparison search kwargs)
ROUTE_CELLS = {
    # IVFPQ ADC at every probe depth, plus the polysemous in-scan filter
    "pq": (
        lambda v: IVFPQIndex.train(v, nlist=8, M=8, seed=42, niter=5).add(v),
        lambda idx, q, k, **kw: idx.search(q, k, **kw),
        pq_search_preassigned, None,
        [dict(nprobe=1), dict(nprobe=3), dict(nprobe=8),
         dict(nprobe=8, polysemous_ht=30)],
    ),
    # IMI product-grid probes executor-side, the nearest-first max_codes
    # budget (ragged probe sets) and the polysemous filter
    "imipq": (
        _imipq,
        lambda idx, q, k, **kw: idx.search(q, k, **kw),
        pq_search_preassigned, None,
        [dict(nprobe=4), dict(nprobe=8, max_codes=100),
         dict(nprobe=4, polysemous_ht=20)],
    ),
    # AQ gather-sum decode, exact decoded distances
    "aq": (
        lambda v: IVFAQIndex.train(v, nlist=8, M=4, seed=42, niter=5).add(v),
        lambda idx, q, k, **kw: idx.search(q, k, **kw),
        aq_search_preassigned, ("aq_search_preassigned", dict(nprobe=3)),
        [dict(nprobe=1), dict(nprobe=3), dict(nprobe=8)],
    ),
    # AQ with a '_N*' stored-norm search_type estimator
    "aq_norm": (
        lambda v: IVFAQIndex.train(
            v, nlist=8, M=4, seed=42, niter=5, search_type="qint8"
        ).add(v),
        lambda idx, q, k, **kw: idx.search(q, k, **kw),
        aq_search_preassigned, None,
        [dict(nprobe=1), dict(nprobe=8)],
    ),
    # IVFPQR codes rerank: ADC shortlist + refine decode per list
    "pqr": (
        _pqr,
        lambda idx, q, k, **kw: idx.search(q, k, rerank="pqr_codes", **kw),
        pqr_search_preassigned, ("pqr_search_preassigned", dict(nprobe=3)),
        [dict(nprobe=1), dict(nprobe=3)],
    ),
    # SQ under an RCQ coarse quantizer (beam probes on both routes)
    "sq_rcq": (
        _sq_rcq,
        lambda idx, q, k, **kw: idx.search(q, k, **kw),
        sq_search_preassigned, None,
        [dict(nprobe=1), dict(nprobe=8)],
    ),
    # the factory's graph-routed plan: the same beam walk both routes
    "graph_routed": (
        _graph_plan,
        lambda idx, q, k, **kw: idx.search(q, k, **kw),
        None, None,
        [dict(nprobe=4)],
    ),
}


@pytest.mark.parametrize("cell", sorted(ROUTE_CELLS))
def test_routes_agree(cell, vectors, queries, monkeypatch):
    """The route-agreement matrix: for every IVF codec and coarse
    quantizer, the distributed (cogroup) route returns exactly the rows
    of the driver-planned route — same probes, same distances — and,
    where the cell names its twin, the driver search auto-falls-back to
    it past the query bound."""
    build, driver, twin, spy, params = ROUTE_CELLS[cell]
    idx = build(vectors)
    if twin is None:
        twin_rows = _graph_distributed(monkeypatch)
    else:
        def twin_rows(i, q, k, **kw):
            return rows(twin(i, q, k, **kw))
    for kw in params:
        got = twin_rows(idx, queries, 5, **kw)
        assert got == rows(driver(idx, queries, 5, **kw)) and got, kw
    if spy is not None:
        name, kw = spy
        direct = rows(twin(idx, queries, 5, **kw))
        calls = _spy_fallback(monkeypatch, name)
        assert rows(driver(idx, queries, 5, **kw)) == direct and direct
        assert calls


STATS_CELLS = {
    "pq": lambda v: IVFPQIndex.train(v, nlist=8, M=8, seed=42, niter=5).add(v),
    "sq": lambda v: IVFSQIndex.train(v, nlist=8, bits=8, seed=42, niter=5).add(v),
    "aq": lambda v: IVFAQIndex.train(v, nlist=8, M=4, seed=42, niter=5).add(v),
    "pqr": _pqr,
}


@pytest.mark.parametrize("codec", sorted(STATS_CELLS))
def test_stats_equal_across_routes(codec, vectors, queries, monkeypatch, tmp_path):
    """IVFSearchStats counters live in the two shared routes, so every
    codec reports them and both routes count the same work: nq,
    list_scans (one scan per list — each list is one file in the saved
    layout and one cogroup cell) and ndis (faiss IndexIVFStats)."""
    idx = STATS_CELLS[codec](vectors)
    idx.save(str(tmp_path / codec))
    res, st = search_with_parameters(idx, queries, 5, nprobe=3)
    driver_rows = rows(res)
    monkeypatch.setattr(ivfmod, "MAX_DRIVER_QUERY_CELLS", 64)  # 1 row at d=64
    res2, st2 = search_with_parameters(idx, queries, 5, nprobe=3)
    assert rows(res2) == driver_rows and driver_rows
    assert st.as_dict() == st2.as_dict()
    assert st.nq == 20 and st.list_scans >= 20 and st.ndis > 0


@pytest.fixture(scope="module")
def dim8_indexes(spark):
    rng = np.random.default_rng(0)
    data = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(400)]
    v = spark.createDataFrame(data, "id bigint, vec array<float>")
    return {
        "flat": (IVFIndex.train(v, nlist=4, seed=1, niter=3).add(v),
                 search_preassigned),
        "sq": (IVFSQIndex.train(v, nlist=4, bits=8, seed=1, niter=3).add(v),
               sq_search_preassigned),
        "pq": (IVFPQIndex.train(v, nlist=4, M=4, seed=1, niter=3,
                                pq_niter=3).add(v),
               pq_search_preassigned),
    }


@pytest.mark.parametrize("route", ["driver", "distributed"])
@pytest.mark.parametrize("codec", ["flat", "sq", "pq"])
def test_wrong_dimension_queries_fail_with_message(codec, route, dim8_indexes, spark):
    """5-d queries against an 8-d index fail with a message naming both
    dimensions — on the driver before any job (driver route), or from
    the probe map's size guard before any Python worker sees the
    vectors (distributed route) — never as a worker stack trace."""
    from pyspark.errors import PythonException

    idx, twin = dim8_indexes[codec]
    q5 = spark.createDataFrame([(0, [0.1] * 5)], "qid bigint, vec array<float>")
    with pytest.raises(Exception, match="5 components but the index has d=8") as ei:
        if route == "driver":
            idx.search(q5, 3, nprobe=2).collect()
        else:
            twin(idx, q5, 3, nprobe=2).collect()
    assert not isinstance(ei.value, PythonException)


def test_rcq_nested_imi_fallbacks_route_and_match(
    vectors, queries, monkeypatch
):
    """The flat-list custom-coarse searches (RCQ beam, nested router,
    IMI/MIQ2 product grids) all route to search_preassigned with THEIR
    OWN assignment executor-side — results equal the driver plan."""
    rcq = IVFRCQIndex.train(vectors, M=2, nbits=2, seed=42).add(vectors)
    nst = IVFNestedIndex.train(
        vectors, nlist=8, sub=("pq", 8, 4), seed=42, niter=5
    ).add(vectors)
    imi = IMIIVFIndex.train(vectors, nbits=2, seed=42).add(vectors)
    miq = MIQ2IVFIndex.train(vectors, nbits=2, assign_k2=2, seed=42).add(vectors)
    expected = {
        name: rows(idx.search(queries, 5, nprobe=4))
        for name, idx in (
            ("rcq", rcq), ("nested", nst), ("imi", imi), ("miq2", miq)
        )
    }

    calls = _spy_fallback(monkeypatch, "search_preassigned")
    got = {
        "rcq": rows(rcq.search(queries, 5, nprobe=4)),
        "nested": rows(nst.search(queries, 5, nprobe=4)),
        "imi": rows(imi.search(queries, 5, nprobe=4)),
        "miq2": rows(miq.search(queries, 5, nprobe=4)),
    }
    assert len(calls) == 4, "all four must route through search_preassigned"
    for name in expected:
        assert got[name] == expected[name] and got[name], name


def test_pq_code_view_two_byte_subcodes(vectors, queries):
    """9-bit sub-codes store two LE bytes each; the driver ADC scan and
    the cogroup twin must decode them identically (the _pq_code_view
    guard — without it a >8-bit PQ silently mis-indexes its LUTs)."""
    idx = IVFPQIndex.train(
        vectors, nlist=4, M=8, seed=42, niter=5, nbits=9
    ).add(vectors)
    assert idx.pq.ksub > 256  # genuinely 2-byte sub-codes at this corpus
    a = rows(idx.search(queries, 5, nprobe=4))
    assert rows(pq_search_preassigned(idx, queries, 5, nprobe=4)) == a
    # full probe leaves only PQ quantization error: each query's own id
    # must sit at rank 1 (its decoded residual is its own reconstruction)
    top1 = {
        r["qid"]: r["id"]
        for r in idx.search(queries, 3, nprobe=4).collect()
        if r["rank"] == 1
    }
    hit = sum(1 for q, i in top1.items() if q == i)
    assert hit >= len(top1) * 0.8, top1


def test_fastscan_preassigned_equals_driver(vectors, queries, monkeypatch):
    """IVF fast-scan twins (PQ and AQ forms, both by_residual modes):
    the probe-assignment map quantizes the per-query LUTs exactly as
    the driver path (joint per-query quantization — the cogroup ships
    uint8 LUT bytes, never codebooks), so the distributed scan is
    bit-identical; the driver search auto-falls-back past the bound."""
    import faiss_spark.operators.fastscan as fsmod
    from faiss_spark.operators.fastscan import (
        IVFAQFastScanIndex,
        IVFPQFastScanIndex,
        aq_fastscan_search_preassigned,
        fastscan_search_preassigned,
    )

    for br in (True, False):
        idx = IVFPQFastScanIndex.train(
            vectors, nlist=8, M=8, seed=42, niter=5, by_residual=br
        ).add(vectors)
        assert rows(fastscan_search_preassigned(idx, queries, 5, nprobe=3)) == rows(
            idx.search(queries, 5, nprobe=3)
        ), br
        aidx = IVFAQFastScanIndex.train(
            vectors, nlist=8, M=4, seed=42, niter=5, by_residual=br
        ).add(vectors)
        assert rows(
            aq_fastscan_search_preassigned(aidx, queries, 5, nprobe=3)
        ) == rows(aidx.search(queries, 5, nprobe=3)), br

    # fallback routing (the module-global twins are what the hooks call)
    calls = []
    for name in ("fastscan_search_preassigned", "aq_fastscan_search_preassigned"):
        real = getattr(fsmod, name)

        def spy(*a, _real=real, **kw):
            calls.append(1)
            return _real(*a, **kw)

        monkeypatch.setattr(fsmod, name, spy)
    import faiss_spark.operators.ivf as ivfmod

    monkeypatch.setattr(ivfmod, "MAX_DRIVER_QUERY_CELLS", 64)
    assert rows(idx.search(queries, 5, nprobe=3))
    assert rows(aidx.search(queries, 5, nprobe=3))
    assert len(calls) == 2


def test_sh_search_preassigned_equals_driver(vectors, queries, monkeypatch):
    """IVFSpectralHash twin: probe selection + the per-(query, list)
    periodic re-binarization run executor-side; Hamming join results
    equal the driver plan, and the driver search auto-falls-back."""
    from faiss_spark.operators.ivf import IVFSpectralHash, sh_search_preassigned

    idx = IVFSpectralHash.train(
        vectors, nlist=8, nbit=32, period=1.0, threshold_type="median",
        transform="pca", seed=42, niter=5,
    ).add(vectors)
    direct = rows(idx.search(queries, 5, nprobe=4))
    assert rows(sh_search_preassigned(idx, queries, 5, nprobe=4)) == direct
    calls = _spy_fallback(monkeypatch, "sh_search_preassigned")
    assert rows(idx.search(queries, 5, nprobe=4)) == direct and direct
    assert calls


def test_graph_routed_fallback_equals_driver(vectors, queries, monkeypatch):
    """IVF<n>_NSG<R> (graph-routed coarse): past the bound the factory
    plan routes through search_preassigned with the identical beam walk
    and distinct-pad fill executor-side."""
    from faiss_spark.plans.factory import index_factory

    plan = index_factory("IVF16_NSG8,Flat").fit(vectors, seed=42)
    direct = rows(plan.search(queries, 5, nprobe=4))
    calls = _spy_fallback(monkeypatch, "search_preassigned")
    assert rows(plan.search(queries, 5, nprobe=4)) == direct and direct
    assert calls


def test_pq_bucketed_layout_skips_corpus_exchange(vectors, queries, tmp_path):
    """IVFPQIndex.save_bucketed must feed the ADC cogroup straight off
    the bucketed scan — the codes-side Exchange disappears and results
    are identical (the zero-corpus-shuffle shape of the SIFT1B
    distributed_ondisk pipeline)."""
    idx = IVFPQIndex.train(vectors, nlist=8, M=8, seed=42, niter=5).add(vectors)
    base = pq_search_preassigned(idx, queries, 5, nprobe=4)
    p0 = base._jdf.queryExecution().executedPlan().toString()
    expect = rows(base)

    idx.save_bucketed(str(tmp_path / "pqb"), nbuckets=8)
    res = pq_search_preassigned(idx, queries, 5, nprobe=4)
    p1 = res._jdf.queryExecution().executedPlan().toString()
    assert p1.count("Exchange hashpartitioning(list_no") == (
        p0.count("Exchange hashpartitioning(list_no") - 1
    ), p1
    assert "Bucketed: true" in p1, p1
    assert rows(res) == expect

    spark = vectors.sparkSession
    idx2 = IVFPQIndex.load(spark, str(tmp_path / "pqb"))
    res2 = pq_search_preassigned(idx2, queries, 5, nprobe=4)
    assert "Bucketed: true" in res2._jdf.queryExecution().executedPlan().toString()
    assert rows(res2) == expect
