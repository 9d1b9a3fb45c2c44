"""K-means clustering with faiss `Clustering` semantics.

Reference: faiss/Clustering.cpp:76-505 (Lloyd's loop), faiss/Clustering.h:21-116
(params), faiss/python/extra_wrappers.py:230-356 (the numpy-facing Kmeans API),
contrib/clustering.py:121-360 (the distributed blueprint).

Faiss itself TRAINS ON A SUBSAMPLE — at most ``max_points_per_centroid * k``
points (Clustering.cpp:93,318) — and only the *assignment* step touches the
full dataset. We keep exactly that split:

  fit    : seeded sample of ≤ max_points_per_centroid*k rows is collected to
           the driver (bounded: k=65536, mpc=256, d=64 ≈ 4 GB worst case;
           typical ≤ 100 MB) and Lloyd's runs in numpy — deterministic,
           byte-stable across partitionings (the hard problem in SURVEY §7
           "what's hard (b)").
  assign : one distributed pass — broadcast centroids, argmin via GEMM in
           mapInArrow. This is the step that scales to 100 TB, and it is
           embarrassingly parallel (no shuffle).

Empty-cluster handling mirrors ``split_clusters`` (Clustering.cpp:220-270):
an empty centroid is re-seeded from the largest cluster's centroid with a
deterministic ±epsilon perturbation. ``nredo`` restarts keep the run with the
best (lowest) objective. ``spherical`` renormalizes centroids each iteration
(faiss/Clustering.h:37).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


EPS_SPLIT = 1.0 / 1024.0  # same perturbation faiss uses (Clustering.cpp:249)


def _scatter_sum(
    labels: np.ndarray, X: np.ndarray, k: int
) -> np.ndarray:
    """Per-cluster column sums via one ``np.bincount`` per dimension.

    BIT-IDENTICAL to ``np.add.at(sums, labels, X)``: both accumulate
    sequentially in input order, so every bin's float addition order is
    the same — but ufunc.at is unbuffered scalar dispatch and measured
    ~15× slower at the fit sample shape (65k×64: 1.64 s vs 0.11 s per
    update), which made the scatter update, not the GEMM, the k-means
    fit's dominant term (guide §1.1: profile before optimizing)."""
    d = X.shape[1]
    sums = np.empty((k, d), dtype=np.float64)
    for j in range(d):
        sums[:, j] = np.bincount(labels, weights=X[:, j], minlength=k)
    return sums


def _lloyd(
    X: np.ndarray,
    k: int,
    niter: int,
    seed: int,
    spherical: bool,
    weights: np.ndarray | None = None,
):
    """Deterministic single-node Lloyd's on the training sample."""
    n, d = X.shape
    rng = np.random.default_rng(seed)
    perm = rng.permutation(n)[:k]
    C = X[perm].copy()
    if spherical:
        norms = np.linalg.norm(C, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        C /= norms
    w = weights if weights is not None else np.ones(n, dtype=np.float64)
    obj_history = []
    xsq = (X * X).sum(1)
    # REUSED iteration buffers: the assign loop's (block, k) temporaries
    # are ~134 MB at k=1024 — freshly allocated each block they are
    # mmap'd and first-touch page faults cost multiples of the GEMM on
    # this class of VM (the same pathology the session pins down for
    # workers via MALLOC_MMAP_THRESHOLD_, which does not cover the
    # driver). Reuse measured 7× on the 65k×1024×64 fit loop with
    # BIT-IDENTICAL centroids/labels (cn − 2·G via in-place *2 and
    # subtract is the same value graph; 2.0·G is exact).
    B = 16384
    Gbuf = np.empty((min(B, n), k), dtype=np.float64)
    Ct = np.empty((d, k), dtype=np.float64)
    for _ in range(niter):
        # assign: argmin squared L2 (or argmax IP when spherical) —
        # BLOCK-WISE so memory stays O(block × k): at n=262k, k=1024 the
        # full n×k double matrix is 2 GB and its broadcast temporaries
        # dominated the fit wall-clock
        labels = np.empty(n, dtype=np.int64)
        best = np.empty(n, dtype=np.float64)
        cn = (C * C).sum(1)
        np.copyto(Ct, C.T)
        for lo in range(0, n, B):
            hi = min(lo + B, n)
            G = Gbuf[: hi - lo]
            np.dot(X[lo:hi], Ct, out=G)
            if spherical:
                lb = np.argmax(G, axis=1)
                labels[lo:hi] = lb
                best[lo:hi] = G[np.arange(hi - lo), lb]
            else:
                G *= 2.0
                np.subtract(cn[None, :], G, out=G)
                lb = np.argmin(G, axis=1)
                labels[lo:hi] = lb
                best[lo:hi] = G[np.arange(hi - lo), lb] + xsq[lo:hi]
        if spherical:
            obj = float((w * best).sum())
        else:
            obj = float((w * np.maximum(best, 0.0)).sum())
        obj_history.append(obj)
        # update (bincount scatter — bit-identical to add.at, ~15× faster)
        sums = _scatter_sum(labels, X * w[:, None], k)
        counts = np.bincount(labels, weights=w, minlength=k).astype(np.float64)
        nonempty = counts > 0
        C[nonempty] = sums[nonempty] / counts[nonempty][:, None]
        # split_clusters: reseed empties from the biggest cluster
        for ci in np.nonzero(~nonempty)[0]:
            big = int(np.argmax(counts))
            C[ci] = C[big] * (1 + EPS_SPLIT)
            C[big] = C[big] * (1 - EPS_SPLIT)
            counts[ci] = counts[big] / 2
            counts[big] = counts[big] - counts[ci]
        if spherical:
            norms = np.linalg.norm(C, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            C /= norms
    return C, obj_history


@dataclass
class KMeansModel:
    """Fitted model: the broadcastable artifact (SURVEY §1.1 'Index =
    table layout + model')."""

    centroids: np.ndarray  # (k, d) float64
    obj: list = field(default_factory=list)
    k: int = 0
    d: int = 0
    spherical: bool = False

    def assign_np(self, X: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(labels, dist) of the nearest centroid per row of X: the
        workspace-tiled GEMM argmin (argmax of the inner product when
        spherical) behind ``assign`` and the IVF flat encode."""
        from faiss_spark.kernels import _compute_block, _row_chunk

        C = np.ascontiguousarray(self.centroids)
        n = len(X)
        xn = None if self.spherical else (X * X).sum(1)
        cnorm = (C * C).sum(1)
        labels = np.empty(n, dtype=np.int64)
        dist = np.empty(n, dtype=np.float64)
        chunk = _row_chunk(n, len(C), X.shape[1], "l2", X.dtype)
        for r0 in range(0, n, chunk):
            r1 = min(n, r0 + chunk)
            rows = np.arange(r1 - r0)
            if self.spherical:
                D = _compute_block(X, C, r0, r1, "ip", None, None, X.dtype)
                lab = np.argmax(D, axis=1)
                dist[r0:r1] = D[rows, lab]
            else:
                # clip0=False: rank on the unclipped values (the exact
                # full-matrix argmin order), clip at the end
                D = _compute_block(
                    X, C, r0, r1, "l2", xn, cnorm, X.dtype, clip0=False
                )
                lab = np.argmin(D, axis=1)
                dist[r0:r1] = np.maximum(D[rows, lab], 0.0)
            labels[r0:r1] = lab
        return labels, dist

    def assign(
        self, df: DataFrame, vec_col: str = "vec", id_col: str = "id",
        keep_vec: bool = False,
    ) -> DataFrame:
        """Distributed 1-NN assignment to centroids (reference
        faiss/Index.h:158 ``assign``): broadcast centroids, workspace-tiled
        GEMM argmin per Arrow batch. No shuffle; output schema
        (id, cluster, dist[, vec]) — keep_vec carries the vector through
        so encode-and-layout callers don't need a join-back shuffle.

        The list<float> values buffer reshapes zero-copy into the GEMM
        tile, and keep_vec passes the ORIGINAL Arrow column back
        untouched — no Python object per row in either direction (assign
        is the encode primitive every IVF add path runs over the full
        100 TB table)."""
        spark = df.sparkSession
        bc = spark.sparkContext.broadcast(self)

        def do_assign(batches):
            import pyarrow as pa

            from faiss_spark.kernels import arrow_list_matrix

            f32_list = pa.list_(pa.float32())
            model = bc.value
            for b in batches:
                if b.num_rows == 0:
                    continue
                vec_arr = b.column(1)
                if keep_vec and vec_arr.type != f32_list:
                    vec_arr = vec_arr.cast(f32_list)
                labels, dist = model.assign_np(arrow_list_matrix(b.column(1)))
                ids = np.asarray(
                    b.column(0).to_numpy(zero_copy_only=False), dtype=np.int64
                )
                arrays = [
                    pa.array(ids, pa.int64()),
                    pa.array(labels.astype(np.int32), pa.int32()),
                    pa.array(dist, pa.float64()),
                ]
                names = ["id", "cluster", "dist"]
                if keep_vec:
                    arrays.append(vec_arr)
                    names.append("vec")
                yield pa.RecordBatch.from_arrays(arrays, names=names)

        src = df.select(
            F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
        )
        schema = "id bigint, cluster int, dist double" + (
            ", vec array<float>" if keep_vec else ""
        )
        return src.mapInArrow(do_assign, schema=schema)

    def imbalance_factor(self, assigned: DataFrame) -> float:
        """Cluster balance diagnostic (reference faiss/Clustering.cpp:49,
        contrib/clustering.py:274): k * sum(n_i^2) / n^2; 1.0 = perfect."""
        sizes = assigned.groupBy("cluster").count().agg(
            F.sum(F.col("count") * F.col("count")).alias("ss"),
            F.sum("count").alias("n"),
        ).collect()[0]
        return float(self.k * sizes["ss"] / (sizes["n"] ** 2))


class KMeans:
    """Estimator facade mirroring faiss.Kmeans (reference
    faiss/python/extra_wrappers.py:230-356)."""

    def __init__(
        self,
        k: int,
        niter: int = 25,
        nredo: int = 1,
        seed: int = 1234,
        spherical: bool = False,
        max_points_per_centroid: int = 256,
    ):
        self.k = k
        self.niter = niter
        self.nredo = nredo
        self.seed = seed
        self.spherical = spherical
        self.max_points_per_centroid = max_points_per_centroid

    def fit(
        self, df: DataFrame, vec_col: str = "vec", weight_col: str | None = None
    ) -> KMeansModel:
        """weight_col: optional per-point weights for the centroid update
        (reference weighted k-means, faiss/python/extra_wrappers.py:286)."""
        max_train = self.max_points_per_centroid * self.k
        n = df.count()
        cols = [vec_col] + ([weight_col] if weight_col else [])
        sample = df.select(*cols)
        if n > max_train:
            # seeded sample, slight over-draw then exact limit → deterministic
            frac = min(1.0, 1.2 * max_train / n)
            sample = sample.sample(fraction=frac, seed=self.seed).limit(max_train)
        # Arrow collect: the list column reshapes zero-copy into the
        # training matrix, with no Python object per sampled row
        tbl = sample.toArrow()
        from faiss_spark.kernels import arrow_list_matrix

        X = arrow_list_matrix(tbl.column(vec_col))
        weights = (
            np.asarray(
                tbl.column(weight_col).to_numpy(zero_copy_only=False),
                dtype=np.float64,
            )
            if weight_col
            else None
        )
        best = None
        for redo in range(self.nredo):
            C, objs = _lloyd(
                X, self.k, self.niter, self.seed + redo, self.spherical, weights
            )
            # spherical objective is a summed SIMILARITY (larger = better);
            # the plain objective is summed squared error (smaller = better)
            better = (
                best is None
                or (objs[-1] > best[1][-1] if self.spherical else objs[-1] < best[1][-1])
            )
            if better:
                best = (C, objs)
        C, objs = best
        return KMeansModel(
            centroids=C, obj=objs, k=self.k, d=C.shape[1], spherical=self.spherical
        )


def kmeans_1d(values: np.ndarray, k: int) -> np.ndarray:
    """Exact optimal 1-D k-means via dynamic programming (reference
    Clustering1D::train_exact, faiss/Clustering.h:118-123,
    faiss/impl/kmeans1d.cpp). Returns sorted centroids (k,).

    O(n·k) with prefix sums + divide-and-conquer optimal splits would be
    fancier; n here is a training sample, so the plain O(n²k) DP is fine
    and exactly optimal."""
    x = np.sort(np.asarray(values, dtype=np.float64))
    n = len(x)
    k = min(k, n)
    ps = np.concatenate([[0.0], np.cumsum(x)])
    ps2 = np.concatenate([[0.0], np.cumsum(x * x)])

    def cost(i, j):  # cluster cost of x[i:j] (j exclusive)
        cnt = j - i
        if cnt <= 0:
            return 0.0
        s = ps[j] - ps[i]
        s2 = ps2[j] - ps2[i]
        return s2 - s * s / cnt

    INF = float("inf")
    D = np.full((k + 1, n + 1), INF)
    B = np.zeros((k + 1, n + 1), np.int64)
    D[0, 0] = 0.0
    for c in range(1, k + 1):
        for j in range(c, n + 1):
            for i in range(c - 1, j):
                v = D[c - 1, i] + cost(i, j)
                if v < D[c, j]:
                    D[c, j] = v
                    B[c, j] = i
    # backtrack boundaries → means
    bounds = [n]
    for c in range(k, 0, -1):
        bounds.append(int(B[c, bounds[-1]]))
    bounds = bounds[::-1]
    return np.array(
        [x[bounds[i] : bounds[i + 1]].mean() for i in range(k)]
    )


def progressive_dim_kmeans(
    df: DataFrame,
    k: int,
    vec_col: str = "vec",
    niter_per_stage: int = 8,
    seed: int = 1234,
    stages: int = 3,
) -> KMeansModel:
    """ProgressiveDimClustering (reference faiss/Clustering.h:128-173):
    run k-means on growing dimension prefixes (d/2^(stages-1) … d),
    warm-starting each stage from the previous centroids padded with the
    data mean of the newly revealed dimensions. On PCA-rotated input the
    early prefixes capture most variance, so the warm starts place
    centroids well before paying full-d assignment cost."""
    from pyspark.sql import functions as _F

    d = df.select(_F.size(vec_col)).first()[0]
    max_train = 256 * k
    n = df.count()
    sample = df.select(vec_col)
    if n > max_train:
        frac = min(1.0, 1.2 * max_train / n)
        sample = sample.sample(fraction=frac, seed=seed).limit(max_train)
    from faiss_spark.kernels import arrow_list_matrix

    X = arrow_list_matrix(sample.toArrow().column(vec_col))

    dims = sorted({max(1, d >> (stages - 1 - s)) for s in range(stages)} | {d})
    C = None
    for di in dims:
        Xp = X[:, :di]
        if C is None:
            C, _ = _kmeans_np_init(Xp, k, niter_per_stage, seed)
        else:
            # extend centroids into the new dims with the data mean there
            extra = np.tile(Xp[:, C.shape[1]:].mean(0), (len(C), 1))
            C0 = np.concatenate([C, extra], axis=1)
            C, _ = _kmeans_np_init(Xp, k, niter_per_stage, seed, init=C0)
    return KMeansModel(centroids=C, k=k, d=d)


def _kmeans_np_init(X, k, niter, seed, init=None):
    """Lloyd with optional warm-start centroids."""
    rng = np.random.default_rng(seed)
    k = min(k, len(X))
    C = init.copy() if init is not None else X[rng.permutation(len(X))[:k]].copy()
    labels = None
    for _ in range(niter):
        d2 = (
            (X * X).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * (X @ C.T)
        )
        labels = d2.argmin(1)
        # bincount scatter update (bit-identical to add.at, ~15× faster)
        sums = _scatter_sum(labels, X, len(C)).astype(C.dtype, copy=False)
        counts = np.bincount(labels, minlength=k)
        nz = counts > 0
        C[nz] = sums[nz] / counts[nz, None]
    return C, labels
