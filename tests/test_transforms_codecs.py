"""Transforms (§2.C) and codecs (§2.D): roundtrip error bounds, codec
consistency, PCA variance ordering — the reference's codec test patterns
(tests/test_standalone_codec.py, test_product_quantizer.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from faiss_spark.operators.codecs import ProductQuantizer, ScalarQuantizer
from faiss_spark.operators.knn import knn
from faiss_spark.operators.transforms import (
    CenteringTransform,
    ITQTransform,
    OPQMatrix,
    PCAMatrix,
    Pipeline,
    RandomRotation,
    normalize_expr,
    remap_dimensions_expr,
)


@pytest.fixture(scope="module")
def vectors(tables):
    return tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )


def _mat(df, col="vec"):
    pdf = df.orderBy("id").toPandas()
    return np.stack(pdf[col]).astype(np.float64)


# ------------------------------------------------------------- transforms --


def test_centering_zeroes_mean(vectors):
    model = CenteringTransform().fit(vectors)
    out = model.apply(vectors)
    M = _mat(out)
    assert np.abs(M.mean(0)).max() < 1e-4  # float32 storage tolerance


def test_pca_orders_variance_and_preserves_distances_full_rank(vectors):
    model = PCAMatrix(d_out=16).fit(vectors)
    out = _mat(model.apply(vectors))
    var = out.var(0)
    assert all(var[i] >= var[i + 1] - 1e-6 for i in range(15))
    # full-rank PCA preserves pairwise L2 (orthonormal)
    full = PCAMatrix(d_out=64).fit(vectors)
    Y = _mat(full.apply(vectors))
    X = _mat(vectors)
    d_x = ((X[0] - X[1]) ** 2).sum()
    d_y = ((Y[0] - Y[1]) ** 2).sum()
    assert d_y == pytest.approx(d_x, rel=1e-4)


def test_pca_whitening_unit_variance(vectors):
    model = PCAMatrix(d_out=8, eigen_power=-0.5).fit(vectors)
    out = _mat(model.apply(vectors))
    assert np.allclose(out.var(0), 1.0, atol=0.05)


def test_random_rotation_preserves_norms(vectors):
    model = RandomRotation(seed=7).fit(vectors)
    X = _mat(vectors)
    Y = _mat(model.apply(vectors))
    assert np.allclose(
        np.linalg.norm(X, axis=1), np.linalg.norm(Y, axis=1), rtol=1e-4
    )
    # reverse recovers input
    back = _mat(model.reverse(model.apply(vectors)))
    assert np.allclose(back, X, atol=1e-3)


def test_opq_rotation_is_orthonormal(vectors):
    model = OPQMatrix(M=8, niter=3, seed=5).fit(vectors)
    RtR = model.A @ model.A.T
    assert np.allclose(RtR, np.eye(model.A.shape[0]), atol=1e-8)


def test_itq_rotation_is_orthonormal(vectors):
    model = ITQTransform(niter=5, seed=5).fit(vectors)
    RtR = model.A @ model.A.T
    assert np.allclose(RtR, np.eye(model.A.shape[0]), atol=1e-8)


def test_pipeline_chains(vectors):
    pipe = Pipeline([CenteringTransform(), PCAMatrix(d_out=8)]).fit(vectors)
    out = pipe.apply(vectors)
    assert out.select(F.size("vec")).first()[0] == 8


def test_normalize_expr(vectors, spark):
    out = vectors.select(normalize_expr(F.col("vec")).alias("nv"))
    norms = out.select(
        F.aggregate(
            F.transform("nv", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda s, x: s + x,
        ).alias("n2")
    ).collect()
    assert all(abs(r["n2"] - 1.0) < 1e-5 for r in norms)


def test_remap_pad_and_slice(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0],)], "vec array<float>")
    sliced = df.select(remap_dimensions_expr(F.col("vec"), 2).alias("v")).first()[0]
    padded = df.select(remap_dimensions_expr(F.col("vec"), 5).alias("v")).first()[0]
    assert sliced == [1.0, 2.0]
    assert padded == [1.0, 2.0, 3.0, 0.0, 0.0]


def test_remap_general_permutation_and_reverse(spark):
    """General RemapDimensionsTransform (reference VectorTransform.cpp:
    1313-1366): arbitrary output→input map with −1 → 0.0 insertions, and
    the reverse transform exact for permutations."""
    from faiss_spark.operators.transforms import remap_map, remap_reverse_expr

    df = spark.createDataFrame([([1.0, 2.0, 3.0, 4.0],)], "vec array<float>")
    # permutation
    perm = [2, 0, 3, 1]
    out = df.select(
        remap_dimensions_expr(F.col("vec"), mapping=perm).alias("v")
    )
    assert out.first()[0] == [3.0, 1.0, 4.0, 2.0]
    # roundtrip through the reverse
    back = out.select(remap_reverse_expr(F.col("v"), perm, 4).alias("v"))
    assert back.first()[0] == [1.0, 2.0, 3.0, 4.0]
    # insertion (−1) and drop
    mixed = df.select(
        remap_dimensions_expr(F.col("vec"), mapping=[-1, 1, -1, 3]).alias("v")
    )
    assert mixed.first()[0] == [0.0, 2.0, 0.0, 4.0]
    # the reference's implicit maps (cpp:1325-1346)
    assert remap_map(2, 4, uniform=True) == [0, -1, 1, -1]
    assert remap_map(4, 2, uniform=True) == [0, 2]
    assert remap_map(2, 4, uniform=False) == [0, 1, -1, -1]


# ----------------------------------------------------------------- codecs --


def test_sq8_roundtrip_error_bound(vectors):
    model = ScalarQuantizer(bits=8).fit(vectors)
    codes = model.encode(vectors)
    decoded = model.decode(codes)
    X = _mat(vectors)
    Y = _mat(decoded)
    # error per component ≤ unit (bin width)
    unit = model.vdiff / 256
    assert (np.abs(X - Y) <= unit[None, :] + 1e-9).all()
    assert model.code_size() == 64


def test_sq4_roundtrip_error_bound(vectors):
    model = ScalarQuantizer(bits=4).fit(vectors)
    Y = _mat(model.decode(model.encode(vectors)))
    X = _mat(vectors)
    unit = model.vdiff / 16
    assert (np.abs(X - Y) <= unit[None, :] + 1e-9).all()
    assert model.code_size() == 32


def test_sq6_roundtrip_error_bound(vectors):
    """QT_6bit (reference ScalarQuantizer.h:30 Codec6bit): 6-bit packed
    codes, 3/4 the bytes of SQ8 at 4× finer grid than SQ4."""
    model = ScalarQuantizer(bits=6).fit(vectors)
    Y = _mat(model.decode(model.encode(vectors)))
    X = _mat(vectors)
    unit = model.vdiff / 63
    # + 1e-6: the decoded column is array<float>, so the exact unit/2
    # bound picks up float32 rounding (~1e-7 relative) on the way out
    assert (np.abs(X - Y) <= unit[None, :] / 2 + 1e-6).all()
    assert model.code_size() == 48  # 64 dims × 6 bits = 384 bits

def test_sq_uniform_single_range(vectors):
    """QT_8bit_uniform: one global range across dimensions."""
    model = ScalarQuantizer(bits=8, uniform=True).fit(vectors)
    assert len(set(model.vmin.tolist())) == 1
    assert len(set(model.vdiff.tolist())) == 1
    Y = _mat(model.decode(model.encode(vectors)))
    X = _mat(vectors)
    assert (np.abs(X - Y) <= model.vdiff[0] / 255 / 2 + 1e-9).all()


def test_sq_8bit_direct(spark):
    """QT_8bit_direct: code = uint8(x), decode = float(code) — exact on
    byte-valued data."""
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {"id": [0, 1], "vec": [[0.0, 5.0, 255.0, 7.0], [1.0, 2.0, 3.0, 4.0]]}
        )
    )
    model = ScalarQuantizer.from_qtype("QT_8bit_direct").fit(df)
    got = {
        r["id"]: r["vec"] for r in model.decode(model.encode(df)).collect()
    }
    assert got[0] == [0.0, 5.0, 255.0, 7.0]
    assert got[1] == [1.0, 2.0, 3.0, 4.0]


def test_sq_meanstd_rangestat(vectors):
    """RS_meanstd trained ranges: lo/hi = mean ∓ rs_arg·std per dim —
    narrower than min/max on heavy-tailed dims, clipping outliers."""
    mm = ScalarQuantizer(bits=8, rangestat="minmax").fit(vectors)
    ms = ScalarQuantizer(bits=8, rangestat="meanstd", rs_arg=1.0).fit(vectors)
    assert (ms.vdiff <= mm.vdiff + 1e-12).all()
    # roundtrip error on IN-RANGE values is bounded by the finer unit
    X = _mat(vectors)
    Y = _mat(ms.decode(ms.encode(vectors)))
    in_range = (X >= ms.vmin[None, :]) & (X <= (ms.vmin + ms.vdiff)[None, :])
    err_ok = np.abs(X - Y) <= (ms.vdiff / 255)[None, :] / 2 + 1e-9
    assert (err_ok | ~in_range).all()


def test_sq6_factory_string(vectors):
    from faiss_spark.plans.factory import index_factory, reverse_index_factory

    plan = index_factory("SQ6")
    assert plan.index_type == "sq" and plan.sq_bits == 6
    assert reverse_index_factory(plan) == "SQ6"
    plan2 = index_factory("IVF4,SQ6")
    assert plan2.index_type == "ivfsq" and plan2.sq_bits == 6
    fitted = plan2.fit(vectors, seed=42)
    q = vectors.filter("id < 3").select(F.col("id").alias("qid"), "vec")
    res = fitted.search(q, 3, nprobe=4).collect()
    top1 = {r["qid"]: r["id"] for r in res if r["rank"] == 1}
    assert top1 == {0: 0, 1: 1, 2: 2}  # SQ6 error ≪ inter-point distance


def test_fp16_roundtrip_exactish(vectors):
    model = ScalarQuantizer(bits=16).fit(vectors)
    Y = _mat(model.decode(model.encode(vectors)))
    X = _mat(vectors)
    assert np.allclose(X, Y, rtol=1e-3, atol=1e-3)
    assert model.code_size() == 128


def test_pq_roundtrip_beats_coarser_pq(vectors):
    """More sub-quantizers -> lower reconstruction error (reference
    monotonicity pattern, tests/test_product_quantizer.py)."""
    X = _mat(vectors)

    def mse(M):
        model = ProductQuantizer(M=M, niter=8, seed=3).fit(vectors)
        Y = _mat(model.decode(model.encode(vectors)))
        return ((X - Y) ** 2).mean()

    e8, e16 = mse(8), mse(16)
    assert e16 < e8


def test_pq_adc_consistent_with_decoded_l2(vectors):
    """ADC(q, code) == L2(q, decode(code)) — the defining identity."""
    model = ProductQuantizer(M=8, niter=8, seed=3).fit(vectors)
    codes = model.encode(vectors)
    queries = vectors.filter("id < 5").select(F.col("id").alias("qid"), "vec")
    adc = model.adc_search(codes, queries, k=10)
    exact_on_decoded = knn(model.decode(codes), queries, 10, metric="l2")
    a = {(r["qid"], r["rank"], r["id"], round(r["dist"], 6)) for r in adc.collect()}
    b = {
        (r["qid"], r["rank"], r["id"], round(r["dist"], 6))
        for r in exact_on_decoded.collect()
    }
    assert a == b


def test_pq_sdc_table_properties(vectors):
    """SDC tables are symmetric with a zero diagonal (inter-centroid
    squared L2)."""
    import numpy as np

    model = ProductQuantizer(M=8, niter=4, seed=3).fit(vectors)
    T = model.sdc_table()
    assert T.shape == (8, model.ksub, model.ksub)
    assert np.allclose(T, T.transpose(0, 2, 1), atol=1e-9)
    assert np.allclose(np.diagonal(T, axis1=1, axis2=2), 0.0, atol=1e-9)
    assert (T > 1e-12).any()


def test_pq_sdc_equals_adc_of_roundtripped_query(vectors, spark):
    """The SDC identity: SDC(q, x) == ADC(decode(encode(q)), x), so the
    two searches must return identical (qid, rank, id) sets and distances."""
    import numpy as np
    import pandas as pd

    model = ProductQuantizer(M=8, niter=8, seed=3).fit(vectors)
    codes = model.encode(vectors)
    queries = vectors.filter("id < 5").select(F.col("id").alias("qid"), "vec")
    sdc = model.sdc_search(codes, queries, k=10)
    qp = queries.toPandas()
    Q = np.stack(qp["vec"]).astype(np.float64)
    Qd = model.decode_np(model.encode_np(Q))
    qs_rt = spark.createDataFrame(
        pd.DataFrame({"qid": qp["qid"], "vec": list(Qd.astype(np.float64))})
    )
    adc_rt = model.adc_search(codes, qs_rt, k=10)
    a = {(r["qid"], r["rank"], r["id"], round(r["dist"], 6)) for r in sdc.collect()}
    b = {(r["qid"], r["rank"], r["id"], round(r["dist"], 6)) for r in adc_rt.collect()}
    assert a == b


def test_sq_rangestat_outlier_robust(spark):
    """VERDICT r8 #8 (reference faiss/impl/ScalarQuantizer.h:40-48
    RangeStat + ScalarQuantizer.cpp train ranges): on outlier-planted
    data, min-max ranges are inflated by the outliers and the robust
    range stats (RS_meanstd, RS_quantiles) must reconstruct the INLIER
    mass strictly better; RS_optim minimizes TOTAL reconstruction error
    (outliers included — the reference objective), so it is judged on
    that instead."""
    import numpy as np
    import pandas as pd

    from faiss_spark.operators.codecs import ScalarQuantizer

    rng = np.random.default_rng(11)
    X = rng.uniform(-0.5, 0.5, size=(2000, 16))
    # 1% of rows get a ±50 outlier in a random dim
    rows = rng.choice(2000, 20, replace=False)
    X[rows, rng.integers(0, 16, 20)] = rng.choice([-50.0, 50.0], 20)
    df = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(2000), "vec": [r.astype(np.float32) for r in X]})
    )
    inliers = np.delete(X, rows, axis=0)

    def recons_err(model, M):
        Xr = model.decode_np(model.encode_np(M))
        return float(((M - Xr) ** 2).mean())

    models = {
        rs: ScalarQuantizer(bits=8, rangestat=rs).fit(df)
        for rs in ("minmax", "meanstd", "quantiles", "optim")
    }
    inlier_errs = {rs: recons_err(m, inliers) for rs, m in models.items()}
    for rs in ("meanstd", "quantiles"):
        assert inlier_errs[rs] < inlier_errs["minmax"], inlier_errs
    total_mm = recons_err(models["minmax"], X)
    total_op = recons_err(models["optim"], X)
    assert total_op <= total_mm * 1.001, (total_op, total_mm)


def test_sq_optim_beats_minmax_on_clean_data(spark):
    """RS_optim minimizes reconstruction MSE directly, so even WITHOUT
    outliers it must not lose to plain min-max ranges (it starts from
    them and only accepts error-reducing updates)."""
    import numpy as np
    import pandas as pd

    from faiss_spark.operators.codecs import ScalarQuantizer

    rng = np.random.default_rng(5)
    X = rng.normal(size=(3000, 8))
    df = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(3000), "vec": [r.astype(np.float32) for r in X]})
    )

    def recons_err(model):
        Xr = model.decode_np(model.encode_np(X))
        return float(((X - Xr) ** 2).mean())

    e_mm = recons_err(ScalarQuantizer(bits=4, rangestat="minmax").fit(df))
    e_op = recons_err(ScalarQuantizer(bits=4, rangestat="optim").fit(df))
    assert e_op <= e_mm * 1.001, (e_op, e_mm)


def test_sq_quantiles_uniform_is_global(spark):
    """train_Uniform RS_quantiles runs over ALL n·d components (one
    global order statistic), so every dim shares one range."""
    import numpy as np
    import pandas as pd

    from faiss_spark.operators.codecs import ScalarQuantizer

    rng = np.random.default_rng(7)
    X = rng.uniform(0, 1, size=(500, 4)) * np.array([1.0, 2.0, 4.0, 8.0])
    df = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(500), "vec": [r.astype(np.float32) for r in X]})
    )
    m = ScalarQuantizer(bits=8, uniform=True, rangestat="quantiles").fit(df)
    assert len(set(np.round(m.vmin, 9))) == 1
    assert len(set(np.round(m.vdiff, 9))) == 1
