"""IndexLattice / ZnSphereCodec tests — modeled on the reference's
low-level lattice tests (reference tests/test_standalone_codec.py:186-259:
all-codes roundtrip, encode==nearest-centroid, accuracy ordering of
factory strings)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from faiss_spark.operators.lattice import (
    LatticeIndex,
    ZnSphereCodec,
    sphere_atoms,
)
from faiss_spark.plans.factory import (
    get_code_size,
    index_factory,
    reverse_index_factory,
)


def test_atom_enumeration_small():
    # dim=4, r2=4: atoms (2,0,0,0) and (1,1,1,1); signed perms 8 + 16 = 24
    atoms = sphere_atoms(4, 4)
    assert atoms.tolist() == [[2, 0, 0, 0], [1, 1, 1, 1]]
    codec = ZnSphereCodec(4, 4)
    assert codec.nv == 24


@pytest.mark.parametrize("dim,r2", [(4, 4), (6, 6), (8, 5), (8, 10)])
def test_all_codes_roundtrip(dim, r2):
    codec = ZnSphereCodec(dim, r2)
    codes = np.arange(codec.nv, dtype=np.int64)
    C = codec.decode(codes)
    # every decoded point is on the sphere, all distinct
    assert np.all((C * C).sum(axis=1) == r2)
    assert len({tuple(r) for r in C}) == codec.nv
    # decode is the exact inverse of encode
    back = codec.encode(C)  # encode = search + rank; search of a
    assert np.array_equal(back, codes)  # centroid returns itself


def test_encode_is_nearest_point():
    rng = np.random.default_rng(7)
    codec = ZnSphereCodec(8, 10)
    X = rng.standard_normal((300, 8))
    got = codec.decode(codec.encode(X))
    allC = codec.decode(np.arange(codec.nv, dtype=np.int64))
    best = (X @ allC.T).max(axis=1)
    assert np.allclose((X * got).sum(axis=1), best)


def test_lattice_index_spark_roundtrip(spark, tables):
    vecs = tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    idx = LatticeIndex(nsq=8, scale_nbit=4, r2=10).fit(vecs)
    # trained ranges match a numpy recomputation
    import pandas as pd  # noqa: F401

    X = np.stack(vecs.orderBy("id").toPandas()["vec"].values)
    for j in range(8):
        norms = np.linalg.norm(X[:, j * 8 : (j + 1) * 8], axis=1)
        assert idx.model.mins[j] == pytest.approx(norms.min(), rel=1e-6)
        assert idx.model.maxs[j] == pytest.approx(norms.max(), rel=1e-6)
    codes = idx.sa_encode(vecs)
    pdf = codes.orderBy("id").toPandas()
    assert all(len(b) == idx.sa_code_size for b in pdf["code"])
    # decode -> re-encode is stable (codes are fixed points)
    dec = idx.sa_decode(codes)
    codes2 = idx.sa_encode(dec)
    joined = (
        codes.withColumnRenamed("code", "c1")
        .join(codes2.withColumnRenamed("code", "c2"), "id")
    )
    assert joined.filter("c1 <> c2").count() == 0
    # reconstruction is close: relative error bounded
    err = (
        dec.join(vecs.withColumnRenamed("vec", "orig"), "id")
        .select(
            F.expr(
                "aggregate(zip_with(vec, orig, (a, b) -> (a - b) * (a - b)), "
                "cast(0 as double), (acc, x) -> acc + x)"
            ).alias("se"),
            F.expr(
                "aggregate(orig, cast(0 as double), "
                "(acc, x) -> acc + cast(x as double) * x)"
            ).alias("n2"),
        )
        .agg((F.sum("se") / F.sum("n2")).alias("rel"))
        .first()["rel"]
    )
    assert err < 0.25  # 14-bit lattice + 4-bit norm on 8-d blocks


def test_factory_lattice_accuracy_ordering(spark, tables):
    """reference test_standalone_codec.py:186 compare_accuracy shape:
    larger r2 must reduce reconstruction error."""
    vecs = tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )

    def sse(desc):
        plan = index_factory(desc).fit(vecs)
        dec = plan.index.sa_decode(plan._lat_codes)
        return (
            dec.join(vecs.withColumnRenamed("vec", "orig"), "id")
            .select(
                F.expr(
                    "aggregate(zip_with(vec, orig, (a, b) -> (a-b)*(a-b)), "
                    "cast(0 as double), (acc, x) -> acc + x)"
                ).alias("se")
            )
            .agg(F.sum("se"))
            .first()[0]
        )

    lo, hi = sse("ZnLattice8x5_2"), sse("ZnLattice8x14_4")
    assert hi < lo


def test_lattice_save_load_roundtrip(spark, tables, tmp_path):
    vecs = tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    idx = LatticeIndex(nsq=8, scale_nbit=4, r2=10).fit(vecs)
    codes = idx.sa_encode(vecs)
    path = str(tmp_path / "lat_idx")
    idx.save(path, codes=codes)
    idx2 = LatticeIndex.load(spark, path)
    assert idx2.sa_code_size == idx.sa_code_size
    assert np.allclose(idx2.model.mins, idx.model.mins)
    # the loaded model encodes identically
    reenc = idx2.sa_encode(vecs).withColumnRenamed("code", "c2")
    assert (
        codes.join(reenc, "id").filter("code <> c2").count() == 0
    )
    assert idx2.codes.count() == vecs.count()


def test_lattice_encode_is_map_only(spark, tables):
    """sa_encode must stay a single map stage: scan -> mapInArrow, no
    exchange/join — the shape that scales to a 100 TB encode."""
    vecs = tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    idx = LatticeIndex(nsq=8, scale_nbit=4, r2=10).fit(vecs)
    p = idx.sa_encode(vecs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p, p
    assert "Join" not in p, p


def test_factory_lattice_parse_search_reverse(spark, tables):
    vecs = tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    plan = index_factory("ZnLattice8x10_4")
    assert (plan.lat_nsq, plan.lat_r2, plan.lat_scale_nbit) == (8, 10, 4)
    assert reverse_index_factory(plan) == "ZnLattice8x10_4"
    # code size: d=64, dsq=8, r2=10 -> nv=14112 -> 14 bits + 4 scale = 18*8
    assert get_code_size(64, plan) == (18 * 8 + 7) // 8
    plan.fit(vecs)
    qs = vecs.limit(3).select(F.col("id").alias("qid"), "vec")
    res = plan.search(qs, k=5)
    assert res.count() == 15
    # lattice quantization is fine enough that each query's own id is top-1
    top1 = res.filter("rank = 1").filter("qid = id").count()
    assert top1 == 3
