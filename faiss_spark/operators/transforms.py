"""Vector transforms (projection operators) — SURVEY §2.C.

Reference: faiss/VectorTransform.h:25-295, VectorTransform.cpp. Every
transform is an Estimator (fit -> small numpy artifact on the driver)
plus a distributed `apply` (broadcast matrix, GEMM inside mapInArrow) and
`reverse` where the reference supports reverse_transform.

Fit strategy mirrors the reference: moments (mean/covariance) are computed
DISTRIBUTED with Spark aggregations (one pass, map-side partial), and only
the tiny d×d eigen-problem runs on the driver — so fit scales to 100 TB
while staying byte-deterministic. OPQ/ITQ fit on a seeded driver sample,
exactly like faiss's max_train_points subsampling
(VectorTransform.h:241).

Transforms compose: ``Pipeline([CenteringTransform(), PCAMatrix(16)])``
== faiss IndexPreTransform chaining (faiss/IndexPreTransform.h:25).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from faiss_spark.kernels import arrow_list, arrow_list_matrix


def _apply_linear(
    df: DataFrame, A: np.ndarray, b: np.ndarray | None,
    id_col: str, vec_col: str, out_col: str,
) -> DataFrame:
    """y = A·x + b via broadcast matrix + GEMM per Arrow batch
    (reference LinearTransform::apply_noalloc, VectorTransform.h:73-99)."""
    from faiss_spark.operators.codecs import _map_codec

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((A, b))

    def apply(vec):
        A_, b_ = bc.value
        Y = arrow_list_matrix(vec) @ A_.T
        if b_ is not None:
            Y += b_
        return arrow_list(Y.astype(np.float32))

    return _map_codec(
        df, id_col, vec_col, apply, f"{id_col} bigint, {out_col} array<float>"
    )


@dataclass
class LinearTransformModel:
    """Fitted y = A·x + b; reverse = Aᵀ(y − b) when A is orthonormal
    (reference VectorTransform.h:88-99)."""

    A: np.ndarray
    b: np.ndarray | None = None
    is_orthonormal: bool = False

    @property
    def d_in(self) -> int:
        return self.A.shape[1]

    @property
    def d_out(self) -> int:
        return self.A.shape[0]

    def apply(
        self, df: DataFrame, id_col: str = "id", vec_col: str = "vec",
        out_col: str = "vec",
    ) -> DataFrame:
        return _apply_linear(df, self.A, self.b, id_col, vec_col, out_col)

    def reverse(
        self, df: DataFrame, id_col: str = "id", vec_col: str = "vec",
        out_col: str = "vec",
    ) -> DataFrame:
        if not self.is_orthonormal:
            raise ValueError("reverse_transform requires an orthonormal A")
        # y = A x + b  =>  x = Aᵀ y − Aᵀ b
        return _apply_linear(
            df, self.A.T, (self.A.T @ -self.b) if self.b is not None else None,
            id_col, vec_col, out_col,
        )


def _moments(df: DataFrame, vec_col: str, d: int):
    """Distributed mean + covariance: single aggregation pass.
    sum(x), sum(x xᵀ) via outer-product accumulation in mapInArrow,
    reduced on the driver (d ≤ a few thousand ⇒ d² floats is small)."""

    def partial(batches):
        import pyarrow as pa

        s = None
        ss = None
        n = 0
        for b in batches:
            if b.num_rows == 0:
                continue
            X = arrow_list_matrix(b.column(0))
            s = X.sum(0) if s is None else s + X.sum(0)
            ss = X.T @ X if ss is None else ss + X.T @ X
            n += len(X)
        if n:
            yield pa.RecordBatch.from_arrays(
                [pa.array([n], pa.int64()), arrow_list(s[None]),
                 arrow_list(ss.reshape(1, -1))],
                names=["n", "s", "ss"],
            )

    parts = df.select(vec_col).mapInArrow(
        partial, schema="n bigint, s array<double>, ss array<double>"
    ).collect()
    n = sum(r["n"] for r in parts)
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    ss = np.sum([np.asarray(r["ss"]).reshape(d, d) for r in parts], axis=0)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    return n, mean, cov


def _dim(df: DataFrame, vec_col: str) -> int:
    return df.select(F.size(vec_col)).first()[0]


class CenteringTransform:
    """Subtract per-dimension mean (reference VectorTransform.h:295)."""

    def fit(self, df: DataFrame, vec_col: str = "vec") -> LinearTransformModel:
        d = _dim(df, vec_col)
        # mean via native agg on exploded positions (exact, one shuffle)
        _, mean, _ = _moments(df, vec_col, d)
        return LinearTransformModel(
            A=np.eye(d), b=-mean, is_orthonormal=True
        )


class PCAMatrix:
    """PCA with optional whitening and random rotation
    (reference VectorTransform.h:133-172, PCAMatrix{,W,R} factory forms).

    eigen_power = 0 → plain PCA; −0.5 → whitening (PCAW).
    random_rotation=True → extra seeded orthonormal rotation (PCAR)."""

    def __init__(
        self,
        d_out: int,
        eigen_power: float = 0.0,
        random_rotation: bool = False,
        seed: int = 1234,
    ):
        self.d_out = d_out
        self.eigen_power = eigen_power
        self.random_rotation = random_rotation
        self.seed = seed

    def fit(self, df: DataFrame, vec_col: str = "vec") -> LinearTransformModel:
        d = _dim(df, vec_col)
        if self.d_out > d:
            raise ValueError(f"d_out={self.d_out} > d={d}")
        _, mean, cov = _moments(df, vec_col, d)
        # symmetric eigendecomposition, descending eigenvalues
        evals, evecs = np.linalg.eigh(cov)
        order = np.argsort(evals)[::-1]
        evals, evecs = evals[order], evecs[:, order]
        A = evecs[:, : self.d_out].T  # (d_out, d)
        if self.eigen_power != 0.0:
            scale = np.power(np.maximum(evals[: self.d_out], 1e-10), self.eigen_power)
            A = A * scale[:, None]
        if self.random_rotation:
            R = random_rotation_matrix(self.d_out, self.seed)
            A = R @ A
        # b = −A·mean so the transform is A(x − mean)
        return LinearTransformModel(
            A=A,
            b=-(A @ mean),
            is_orthonormal=(self.eigen_power == 0.0 and self.d_out == d),
        )


def random_rotation_matrix(d: int, seed: int) -> np.ndarray:
    """Seeded random orthonormal matrix: QR of gaussian with sign fix
    (reference RandomRotationMatrix::init, VectorTransform.h:117-126)."""
    rng = np.random.default_rng(seed)
    G = rng.standard_normal((d, d))
    Q, R = np.linalg.qr(G)
    Q *= np.sign(np.diag(R))  # make deterministic w.r.t. LAPACK sign choice
    return Q


class RandomRotation:
    def __init__(self, seed: int = 1234):
        self.seed = seed

    def fit(self, df: DataFrame, vec_col: str = "vec") -> LinearTransformModel:
        d = _dim(df, vec_col)
        return LinearTransformModel(
            A=random_rotation_matrix(d, self.seed), b=None, is_orthonormal=True
        )


def _assign_exact_blocked(sub: np.ndarray, C: np.ndarray) -> np.ndarray:
    """argmin_k ||sub_i - C_k||² with the EXACT broadcast-difference
    arithmetic (the OPQ assignment is pinned bit-identical by the fit
    artifacts, so no GEMM re-formulation), evaluated in row blocks
    through a persistent workspace: the single-shot (n, ksub, dsub)
    temporary is ~1 GB at the 65536-sample OPQ default, and fresh
    multi-GB temporaries fault at 10-100x the arithmetic on this VM
    (same fix as codecs.beam_search_np, r14)."""
    from faiss_spark.kernels import _wsbuf

    n = len(sub)
    ksub, dsub = C.shape
    block = max(1, (32 * 1024 * 1024) // max(1, ksub * dsub * 8))
    out = np.empty(n, np.int64)
    for i in range(0, n, block):
        s = sub[i : i + block]
        ws = _wsbuf("opq_assign", len(s) * ksub * dsub).reshape(
            len(s), ksub, dsub
        )
        np.subtract(s[:, None, :], C[None, :, :], out=ws)
        np.square(ws, out=ws)
        out[i : i + block] = np.argmin(ws.sum(2), axis=1)
    return out


class OPQMatrix:
    """Optimized Product Quantization rotation (reference
    VectorTransform.h:234-251): alternate (1) PQ-train on rotated sample,
    (2) procrustes update of the rotation via SVD of X·Ŷᵀ. Fit runs on a
    seeded driver sample (faiss subsamples to max_train_points as well)."""

    def __init__(
        self, M: int, niter: int = 20, seed: int = 1234,
        max_train_points: int = 65536, ksub: int = 256,
    ):
        self.M = M
        self.niter = niter
        self.seed = seed
        self.max_train_points = max_train_points
        self.ksub = ksub

    def fit(self, df: DataFrame, vec_col: str = "vec") -> LinearTransformModel:
        # _sampled_matrix collects the seeded train sample via Arrow
        # (guide §6 "Arrow for driver transfers") — same sampling logic,
        # bit-identical matrix, no per-row pandas objects
        from faiss_spark.operators.codecs import _kmeans_np, _sampled_matrix

        X = _sampled_matrix(df, vec_col, self.max_train_points, self.seed)
        d = X.shape[1]
        if d % self.M:
            raise ValueError(f"d={d} not divisible by M={self.M}")
        dsub = d // self.M
        ksub = min(self.ksub, max(2, len(X) // 4))
        R = random_rotation_matrix(d, self.seed)
        for _ in range(self.niter):
            XR = X @ R.T
            # train / assign per sub-space, rebuild quantized Y
            Y = np.empty_like(XR)
            for m in range(self.M):
                sub = XR[:, m * dsub : (m + 1) * dsub]
                C, _ = _kmeans_np(sub, ksub, niter=4, seed=self.seed + m)
                lab = _assign_exact_blocked(sub, C)
                Y[:, m * dsub : (m + 1) * dsub] = C[lab]
            # procrustes: R = argmin ||X Rᵀ − Y||  →  SVD(Xᵀ Y)
            U, _, Vt = np.linalg.svd(X.T @ Y, full_matrices=False)
            R = (U @ Vt).T
        return LinearTransformModel(A=R, b=None, is_orthonormal=True)


class ITQTransform:
    """Iterative quantization rotation for binarization (reference
    VectorTransform.h:190-229): alternate B = sign(XR), R = procrustes."""

    def __init__(self, niter: int = 50, seed: int = 1234,
                 max_train_points: int = 65536):
        self.niter = niter
        self.seed = seed
        self.max_train_points = max_train_points

    def fit(self, df: DataFrame, vec_col: str = "vec") -> LinearTransformModel:
        from faiss_spark.operators.codecs import _sampled_matrix

        X = _sampled_matrix(df, vec_col, self.max_train_points, self.seed)
        X = X - X.mean(0)
        R = random_rotation_matrix(X.shape[1], self.seed)
        for _ in range(self.niter):
            B = np.sign(X @ R)
            B[B == 0] = 1.0
            U, _, Vt = np.linalg.svd(X.T @ B, full_matrices=False)
            R = U @ Vt
        return LinearTransformModel(A=R.T, b=None, is_orthonormal=True)


# ------------------------------ column-expression transforms (pure SQL) ---


def normalize_expr(vec, p: float = 2.0):
    """L2 (or Lp) row normalization — cosine support (reference
    NormalizationTransform, VectorTransform.h:280-289). Pure SQL."""
    v = F.transform(vec, lambda x: x.cast("double"))
    if p == 2.0:
        nrm = F.sqrt(
            F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
        )
    else:
        nrm = F.pow(
            F.aggregate(
                F.transform(v, lambda x: F.pow(F.abs(x), F.lit(p))),
                F.lit(0.0),
                lambda s, x: s + x,
            ),
            F.lit(1.0 / p),
        )
    safe = F.when(nrm == 0.0, F.lit(1.0)).otherwise(nrm)
    return F.transform(v, lambda x: (x / safe).cast("float"))


def remap_map(d_in: int, d_out: int, uniform: bool = True) -> list[int]:
    """The reference's implicit dimension maps (VectorTransform.cpp:
    1325-1346): uniform spreads input dims evenly across the output
    (padding the gaps with −1 → 0.0); non-uniform takes the first dims."""
    m = [-1] * d_out
    if uniform:
        if d_in < d_out:
            for i in range(d_in):
                m[i * d_out // d_in] = i
        else:
            for i in range(d_out):
                m[i] = i * d_in // d_out
    else:
        for i in range(min(d_in, d_out)):
            m[i] = i
    return m


def remap_dimensions_expr(
    vec, d_out: int | None = None, first: bool = True, mapping: list[int] | None = None
):
    """Remap/insert/drop dimensions (reference RemapDimensionsTransform,
    VectorTransform.h:256-276, .cpp:1313-1366). Pure SQL.

    mapping: explicit output→input map (−1 emits 0.0), the general form —
    arbitrary permutations included. Without it: first=True is the
    factory 'Padn' select-or-pad shortcut (kept as a slice/concat, which
    Catalyst folds better than a d_out-ary array for the common case)."""
    if mapping is not None:
        return F.array(
            *[
                F.lit(0.0).cast("float")
                if j < 0
                else F.element_at(vec, j + 1).cast("float")
                for j in mapping
            ]
        )
    d_in = F.size(vec)
    if first:
        taken = F.slice(vec, 1, d_out)
        pad = F.array_repeat(F.lit(0.0).cast("float"), F.lit(d_out) - d_in)
        return F.when(d_in >= d_out, taken).otherwise(F.concat(vec, pad))
    raise NotImplementedError("pass mapping= for non-first-dims remaps")


def remap_reverse_expr(vec, mapping: list[int], d_in: int):
    """Reverse of a remap — exact when the mapping is a permutation
    (reference VectorTransform.cpp:1358-1366: unmapped inputs become 0)."""
    inv = [-1] * d_in
    for j, src in enumerate(mapping):
        if src >= 0:
            if src >= d_in:
                raise ValueError(f"map entry {src} out of range for d_in={d_in}")
            inv[src] = j
    return F.array(
        *[
            F.lit(0.0).cast("float")
            if j < 0
            else F.element_at(vec, j + 1).cast("float")
            for j in inv
        ]
    )


@dataclass
class Pipeline:
    """Chained transforms (reference IndexPreTransform,
    faiss/IndexPreTransform.h:25): fit each stage on the output of the
    previous, apply in order."""

    stages: list = field(default_factory=list)
    models: list = field(default_factory=list)

    def fit(self, df: DataFrame, id_col: str = "id", vec_col: str = "vec"):
        cur = df
        self.models = []
        for est in self.stages:
            model = est.fit(cur, vec_col=vec_col)
            self.models.append(model)
            cur = model.apply(cur, id_col=id_col, vec_col=vec_col, out_col=vec_col)
        return self

    def apply(self, df: DataFrame, id_col: str = "id", vec_col: str = "vec") -> DataFrame:
        cur = df
        for model in self.models:
            cur = model.apply(cur, id_col=id_col, vec_col=vec_col, out_col=vec_col)
        return cur

    def reverse(self, df: DataFrame, id_col: str = "id", vec_col: str = "vec") -> DataFrame:
        """Inverse of apply — each stage's reverse, last-to-first
        (reference IndexPreTransform::reverse_chain,
        IndexPreTransform.cpp:133-142). Raises when a stage is not
        orthonormal-reversible."""
        cur = df
        for model in reversed(self.models):
            cur = model.reverse(cur, id_col=id_col, vec_col=vec_col, out_col=vec_col)
        return cur


def rowwise_minmax_expr(vec):
    """Per-row min/max normalization (reference IndexRowwiseMinMax,
    faiss/IndexRowwiseMinMax.h:34): y = (x − min(x)) / (max(x) − min(x)).
    Pure SQL; the inverse needs (min, range) kept as columns — returns a
    struct (vmin, vrange, scaled)."""
    v = F.transform(vec, lambda x: x.cast("double"))
    vmin = F.array_min(v)
    vmax = F.array_max(v)
    rng = F.when(vmax > vmin, vmax - vmin).otherwise(F.lit(1.0))
    scaled = F.transform(v, lambda x: ((x - vmin) / rng).cast("float"))
    return F.struct(
        vmin.alias("vmin"), rng.alias("vrange"), scaled.alias("scaled")
    )
