"""PolysemousTraining (reference faiss/impl/PolysemousTraining.cpp):
annealed index permutation makes PQ code Hamming distance track true
inter-centroid distance; the ht filter then prunes ADC candidates."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from faiss_spark.operators.codecs import (
    PolysemousTraining,
    ProductQuantizer,
    _hamming_table,
    polysemous_optimize_permutation,
)


@pytest.fixture(scope="module")
def vectors(tables):
    return tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )


def _cost(dis_table, nbits, perm):
    n = 1 << nbits
    mean, std = dis_table.mean(), dis_table.std()
    t = (dis_table - mean) / std * np.sqrt(nbits / 4.0) + nbits / 2.0
    w = np.exp(-np.log(2) * t)
    H = _hamming_table(nbits).astype(np.float64)
    return float((w * (t - H[np.ix_(perm, perm)]) ** 2).sum())


def test_permutation_lowers_objective_and_correlation():
    rng = np.random.default_rng(0)
    nbits = 5
    n = 1 << nbits
    C = rng.normal(size=(n, 6))
    dis = ((C[:, None, :] - C[None, :, :]) ** 2).sum(2)
    perm = polysemous_optimize_permutation(dis, nbits, n_iter=4000, seed=1)
    assert sorted(perm) == list(range(n))  # a permutation
    ident = np.arange(n)
    assert _cost(dis, nbits, perm) < _cost(dis, nbits, ident)
    # Hamming(perm_i, perm_j) correlates with the true distances better
    # than the arbitrary k-means numbering did
    H = _hamming_table(nbits)
    iu = np.triu_indices(n, 1)

    def corr(p):
        return np.corrcoef(dis[iu], H[np.ix_(p, p)][iu])[0, 1]

    assert corr(perm) > corr(ident)


def test_optimize_pq_is_same_codec(vectors):
    """Reordering permutes code numbering but decodes identically:
    decode(perm[c]) under the new books == decode(c) under the old."""
    pqm = ProductQuantizer(M=4, seed=42).fit(vectors)
    new_pqm, perms = PolysemousTraining(n_iter=1500, seed=7).optimize_pq(pqm)
    rng = np.random.default_rng(3)
    codes = rng.integers(0, 256, size=(32, 4)).astype(np.uint8)
    remapped = np.take_along_axis(perms, codes.astype(np.int64).T, axis=1).T
    old = pqm.decode_np(codes)
    new = new_pqm.decode_np(remapped.astype(np.uint8))
    np.testing.assert_allclose(old, new)


def test_polysemous_ht_filter(vectors):
    """ht > M·8 keeps ADC results identical (strict hd < ht, as the
    reference); a tight ht returns a subset
    that always contains each query's own encoding (Hamming 0)."""
    pqm = ProductQuantizer(M=4, seed=42).fit(vectors)
    new_pqm, _ = PolysemousTraining(n_iter=1500, seed=7).optimize_pq(pqm)
    codes = new_pqm.encode(vectors)
    qs = vectors.filter("id < 5").select(F.col("id").alias("qid"), "vec")
    full = {
        (r["qid"], r["rank"], r["id"])
        for r in new_pqm.adc_search(codes, qs, 5).collect()
    }
    loose = {
        (r["qid"], r["rank"], r["id"])
        for r in new_pqm.adc_search(codes, qs, 5, polysemous_ht=33).collect()
    }
    assert loose == full
    tight = new_pqm.adc_search(codes, qs, 5, polysemous_ht=4).collect()
    got_pairs = {(r["qid"], r["id"]) for r in tight}
    # each query's own code is at Hamming 0 -> never filtered, and the
    # filter keeps the ADC distance ordering for survivors (rank 1 self)
    assert all((q, q) in got_pairs for q in range(5))
    top1 = {r["qid"]: r["id"] for r in tight if r["rank"] == 1}
    assert top1 == {q: q for q in range(5)}


def test_pq_adc_sdc_query_collect_is_bounded(spark, monkeypatch):
    """VERDICT r8 #4: ProductQuantizerModel.adc_search/sdc_search were the
    other two bare query-side toPandas() sites — both now share the
    bounded-collect budget and its actionable error."""
    import numpy as np
    import pytest as _pytest

    import faiss_spark.operators.ivf as ivfmod
    from faiss_spark.operators.codecs import ProductQuantizer

    rng = np.random.default_rng(3)
    rows = [(int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(64)]
    df = spark.createDataFrame(rows, "id bigint, vec array<float>")
    pqm = ProductQuantizer(M=2, nbits=4, seed=1, niter=2).fit(df)
    codes = pqm.encode(df)
    qs = df.limit(16).selectExpr("id as qid", "vec")
    monkeypatch.setattr(ivfmod, "MAX_DRIVER_QUERY_CELLS", 8)  # 1 row at d=8
    with _pytest.raises(ValueError, match="pq_adc_search.*driver-planned"):
        pqm.adc_search(codes, qs, 3)
    with _pytest.raises(ValueError, match="pq_sdc_search.*driver-planned"):
        pqm.sdc_search(codes, qs, 3)
    monkeypatch.setattr(ivfmod, "MAX_DRIVER_QUERY_CELLS", 32_000_000)
    assert pqm.adc_search(codes, qs, 3).count() == 16 * 3


def test_ivfpq_polysemous_ht_filter(vectors):
    """VERDICT r8 #7 (reference faiss/IndexIVFPQ.h:44 polysemous_ht): the
    Hamming pre-filter runs INSIDE the IVF list scan against the query's
    per-list RESIDUAL code. ht > M·8 is bit-identical to unfiltered;
    a tight ht never filters each query's own encoding (the stored code
    of a vector in its own best list is the query's residual code —
    Hamming 0) and only ever removes candidates."""
    from faiss_spark.operators.codecs import PolysemousTraining
    from faiss_spark.operators.ivf import IVFPQIndex

    idx = IVFPQIndex.train(vectors, nlist=8, M=4, seed=42, niter=5)
    # the list scanner builds its ADC terms from the live (reordered) books
    idx.pq, _ = PolysemousTraining(n_iter=1500, seed=7).optimize_pq(idx.pq)
    idx.add(vectors)
    qs = vectors.filter("id < 5").select(F.col("id").alias("qid"), "vec")
    full = {
        (r["qid"], r["rank"], r["id"])
        for r in idx.search(qs, 5, nprobe=8).collect()
    }
    loose = {
        (r["qid"], r["rank"], r["id"])
        for r in idx.search(qs, 5, nprobe=8, polysemous_ht=33).collect()
    }
    assert loose == full
    tight = idx.search(qs, 5, nprobe=8, polysemous_ht=4).collect()
    got_pairs = {(r["qid"], r["id"]) for r in tight}
    assert all((q, q) in got_pairs for q in range(5))
    top1 = {r["qid"]: r["id"] for r in tight if r["rank"] == 1}
    assert top1 == {q: q for q in range(5)}
    # pruning only removes rows
    assert len(tight) <= len(full)


def test_permuted_codebooks_search_identically_on_both_routes(vectors):
    """ADVICE r9 hazard at search level: PolysemousTraining reorders
    codebook ROWS with identical values, so any ADC table cached by a
    value fingerprint would serve the old row order after the swap. A
    pure row permutation re-labels the codes but not the
    reconstruction: after re-adding, the driver route and the
    distributed route must both return exactly the rows the unpermuted
    index returned — the per-list ADC term is rebuilt from the live
    codebooks in every search."""
    from faiss_spark.operators.codecs import ProductQuantizerModel
    from faiss_spark.operators.ivf import IVFPQIndex, pq_search_preassigned

    idx = IVFPQIndex.train(
        vectors, nlist=4, M=4, seed=42, niter=3, pq_niter=3
    ).add(vectors)
    qs = vectors.filter("id < 10").select(F.col("id").alias("qid"), "vec")

    def rows(df):
        return sorted(
            (r["qid"], r["rank"], r["id"], round(r["dist"], 6))
            for r in df.collect()
        )

    before = rows(idx.search(qs, 5, nprobe=2))
    assert before
    # pure row permutation of every sub-codebook: same value SUM
    idx.pq = ProductQuantizerModel(
        codebooks=np.ascontiguousarray(idx.pq.codebooks[:, ::-1, :])
    )
    idx.add(vectors)
    assert rows(idx.search(qs, 5, nprobe=2)) == before
    assert rows(pq_search_preassigned(idx, qs, 5, nprobe=2)) == before
