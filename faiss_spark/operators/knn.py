"""Brute-force exact k-NN and range search over a vector table.

Spark-first re-expression of faiss's ``IndexFlat`` search path
(reference faiss/IndexFlat.cpp, faiss/utils/distances.cpp:271-354) and of
``contrib/exhaustive_search.py:15-52`` ``knn_ground_truth`` (queries stay
resident, the big table streams by). As faiss's IndexFlat is an
IndexFlatCodes of raw floats, the vector table is ONE inverted list,
scanned by ``_FlatScanner`` on the shared flat route
(``ivf._scan_flat_codes``):

  stage A  queries (the SMALL side) are collected once, bounded, and
           broadcast to executors as a contiguous numpy block — this is
           the "broadcast the dimension table" pattern; the 100 TB side
           is never collected or shuffled.
  stage B  ``mapInArrow`` over the vector table: each Arrow batch's
           list-values buffer is reshaped ZERO-COPY into the GEMM tile;
           a per-task TopKAccumulator keeps nq×k candidates
           (map-side partial aggregation).
  stage C  the only shuffle: ≤ num_partitions × nq × k candidate rows
           (tiny) are re-ranked with a window for the global top-k
           (final aggregation, = faiss ResultHeap merge).

At 1000 executors × 100 TB this plan scans every partition exactly once,
shuffles O(P·nq·k) rows, and never sorts the full distance matrix.

Scale notes:
- Queries are assumed to fit in a broadcast (≤ ~1 GB, i.e. millions of
  vectors at d=64). For larger query sets, chunk the query side and union
  the results (same plan, run per chunk) — see ``knn_chunked``.
- ``.explain``: stage B shows a single WholeStageCodegen scan feeding
  MapInArrow (filter/pruning pushed below it); stage C is one small
  shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from faiss_spark.kernels import SIMILARITY_METRICS
from faiss_spark.operators.ivf import _FlatScanner, _scan_flat_codes, _window_topk


def _np_dtype(dtype: str):
    if dtype in ("f32", "float32"):
        return np.float32
    if dtype in ("f64", "float64"):
        return np.float64
    raise ValueError(f"unknown dtype {dtype!r}; expected 'f32' or 'f64'")


def _id_vec(vectors: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The vector table as a flat ``(id, vec)`` codes table."""
    return vectors.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )


def knn(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "l2",
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "vec",
    exclude_same_id: bool = False,
    dtype: str = "f64",
    metric_arg: float | None = None,
) -> DataFrame:
    """Exact top-k neighbors of every query under `metric`.

    Returns DataFrame(qid bigint, id bigint, dist double, rank int) —
    exploded long form (SURVEY §1.1); rows with rank ≤ k; padding rows
    (fewer than k matches) are simply absent, mirroring faiss's -1 pads
    (reference faiss/Index.h:118-133).

    dtype: 'f64' (default) computes in double so results hash-match a SQL
    double oracle; 'f32' mirrors the reference's sgemm kernels (half the
    memory traffic / ~2× the GEMM rate) for recall-style workloads.
    """
    scanner = _FlatScanner(metric, metric_arg, _np_dtype(dtype), exclude_same_id)
    return _scan_flat_codes(
        _id_vec(vectors, id_col, vec_col), queries, None, scanner, "knn",
        qid_col, qvec_col, k=k,
    )


def range_search(
    vectors: DataFrame,
    queries: DataFrame,
    radius: float,
    metric: str = "l2",
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "vec",
    metric_arg: float | None = None,
) -> DataFrame:
    """All (query, vector) pairs with dist < radius (similarity metrics:
    dist > radius), following faiss range_search semantics (reference
    faiss/Index.h:145-150: "for IP, all distances > radius").

    Fully map-side: matches are emitted directly from the partition scan;
    there is no shuffle at all (the CSR `lims` of the reference is just a
    groupBy(qid).count() away if needed — SURVEY §1.1).
    """
    return _scan_flat_codes(
        _id_vec(vectors, id_col, vec_col), queries, None,
        _FlatScanner(metric, metric_arg), "range_search", qid_col, qvec_col,
        radius=float(radius),
    )


def knn_join(
    vectors: DataFrame,
    k: int,
    metric: str = "l2",
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """k-NN-graph / similarity self-join: top-k neighbors of every vector
    among all *other* vectors (reference: the kNN-graph construction in
    benchs/bench_gpu_1bn.py / benchs/README.md:307-330).

    v1 uses the broadcast-queries plan (fine while the table fits a
    broadcast, i.e. ≤ ~1M rows); the 100 TB path is the IVF-bucketed or
    LSH-bucketed join (operators/ivf.py, operators/dedup.py), which
    turns the self-join into per-bucket local joins.
    """
    return knn(
        vectors,
        vectors.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("vec")),
        k,
        metric=metric,
        id_col=id_col,
        vec_col=vec_col,
        exclude_same_id=True,
    )


def distance_expr(
    a: Column, b: Column, metric: str = "l2", metric_arg: float | None = None
) -> Column:
    """Pure-SQL distance between two array<float> columns, computed in
    double (reference kernels: faiss/utils/distances.h:28-37).

    JVM-side (whole-stage-codegen'd) — the declarative twin of
    kernels.pairwise_distances, used where a per-pair expression fits the
    plan better than a GEMM batch (e.g. after an equi-join that already
    co-located the pair).
    """
    ax = F.transform(a, lambda x: x.cast("double"))
    bx = F.transform(b, lambda x: x.cast("double"))
    if metric == "l2":
        return F.aggregate(
            F.zip_with(ax, bx, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, v: s + v,
        )
    if metric == "ip":
        return F.aggregate(
            F.zip_with(ax, bx, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
        )
    if metric == "cosine":
        dot = F.aggregate(
            F.zip_with(ax, bx, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
        )
        na = F.sqrt(
            F.aggregate(F.transform(ax, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
        )
        nb = F.sqrt(
            F.aggregate(F.transform(bx, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
        )
        return dot / (na * nb)
    if metric == "l1":
        return F.aggregate(
            F.zip_with(ax, bx, lambda x, y: F.abs(x - y)), F.lit(0.0), lambda s, v: s + v
        )
    if metric == "linf":
        return F.array_max(F.zip_with(ax, bx, lambda x, y: F.abs(x - y)))
    if metric == "lp":
        if metric_arg is None:
            raise ValueError("metric 'lp' needs metric_arg (the exponent p)")
        p = F.lit(float(metric_arg))
        return F.aggregate(
            F.zip_with(ax, bx, lambda x, y: F.pow(F.abs(x - y), p)),
            F.lit(0.0),
            lambda s, v: s + v,
        )
    if metric == "jaccard":
        # fork-added float METRIC_JACCARD (reference faiss/MetricType.h:27):
        # weighted Jaccard distance (Σmax − Σmin)/Σmax, 1.0 on empty union
        mn = F.aggregate(
            F.zip_with(ax, bx, F.least), F.lit(0.0), lambda s, v: s + v
        )
        mx = F.aggregate(
            F.zip_with(ax, bx, F.greatest), F.lit(0.0), lambda s, v: s + v
        )
        return F.when(mx != 0.0, (mx - mn) / mx).otherwise(F.lit(1.0))
    if metric == "hamming":
        # fork-added float METRIC_HAMMING (reference faiss/MetricType.h:28):
        # count of differing positions (faiss counts, like popcount(XOR))
        return F.aggregate(
            F.zip_with(
                ax, bx,
                lambda x, y: F.when(x == y, F.lit(0.0)).otherwise(F.lit(1.0)),
            ),
            F.lit(0.0),
            lambda s, v: s + v,
        )
    raise ValueError(f"unknown metric {metric!r}")


def norm_l2_expr(a: Column) -> Column:
    """Row L2 norm (reference faiss/utils/distances.h:100 fvec_norm_L2sqr)."""
    ax = F.transform(a, lambda x: x.cast("double"))
    return F.sqrt(
        F.aggregate(F.transform(ax, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
    )


def range_search_max_results(
    vectors: DataFrame,
    queries: DataFrame,
    max_results: int,
    initial_radius: float,
    metric: str = "l2",
    id_col: str = "id",
    vec_col: str = "vec",
    max_iters: int = 8,
) -> tuple[DataFrame, float]:
    """Adaptive-radius range search: shrink the radius until the total
    result count is ≤ max_results (reference
    contrib/exhaustive_search.py:180-296 range_search_max_results /
    apply_maxres; used when the caller can't size the radius a priori).

    Returns (result DataFrame, final radius). Each probe is a counted
    range_search — the scan is repeated at most max_iters times, which is
    the same work/accuracy trade the reference makes (it re-runs blocks
    after shrinking)."""
    # similarity metrics (ip/cosine) keep the LARGEST values; every
    # distance metric (l2/l1/linf/canberra/...) keeps the smallest
    largest = metric in SIMILARITY_METRICS
    radius = initial_radius
    res = range_search(vectors, queries, radius, metric, id_col, vec_col)
    for _ in range(max_iters):
        n = res.count()
        if n <= max_results:
            return res, radius
        # shrink to the max_results-th best distance (exact quantile
        # of the CURRENT result set — cheap: the result is already ≤ the
        # previous radius's size)
        cut = (
            res.orderBy(F.col("dist").desc() if largest else F.col("dist").asc())
            .limit(max_results)
            .agg(F.min("dist") if largest else F.max("dist"))
            .first()[0]
        )
        radius = float(cut)
        res = res.filter(
            F.col("dist") > radius if largest else F.col("dist") < radius
        )
    return res, radius


def split_vectors_knn(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    splits: list[tuple[int, int]],
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "vec",
) -> DataFrame:
    """IndexSplitVectors (reference faiss/MetaIndexes.h:24): L2 distance
    decomposes over dimension slices, so compute partial distances per
    slice and sum — the meta-index pattern for dimension-sharded storage.
    splits: [(start, length), ...] 1-based starts covering the vector."""
    partials = None
    for i, (start, length) in enumerate(splits):
        v = vectors.select(
            F.col(id_col).cast("bigint").alias("id"),
            F.slice(F.col(vec_col), start, length).alias("vec"),
        )
        q = queries.select(
            F.col(qid_col).cast("bigint").alias("qid"),
            F.slice(F.col(qvec_col), start, length).alias("vec"),
        )
        # full pairwise partial distances per slice (no top-k yet — the
        # global ranking needs the SUM of partials)
        p = range_search(v, q, float("inf"), "l2", "id", "vec").select(
            "qid", "id", F.col("dist").alias(f"d{i}")
        )
        partials = p if partials is None else partials.join(p, ["qid", "id"])
    total = partials.select(
        "qid",
        "id",
        sum(F.col(f"d{i}") for i in range(len(splits))).alias("dist"),
    )
    return _window_topk(total, k, largest=False)


def knn_chunked(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "l2",
    chunk_size: int = 100_000,
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "vec",
) -> DataFrame:
    """Exact knn for query sets too large to broadcast at once: process
    the query side in qid-range chunks of ≤ chunk_size, one broadcast
    scan per chunk, union of results (the exponential_query_iterator
    concern of the reference, contrib/exhaustive_search.py:297, resolved
    by chunking instead of growing batches).

    Each chunk re-scans the vector table — total cost chunks × scan,
    the same trade the reference's blocked ground-truth loop makes. For
    query sets so big this is prohibitive, use the IVF path
    (ivf.search_preassigned) which joins instead of broadcasting."""
    bounds = (
        queries.select(F.col(qid_col).alias("q"))
        .agg(F.min("q"), F.max("q"), F.count("q"))
        .first()
    )
    lo, hi, n = bounds[0], bounds[1], bounds[2]
    if n <= chunk_size:
        return knn(vectors, queries, k, metric, id_col, vec_col, qid_col, qvec_col)
    n_chunks = -(-n // chunk_size)
    span = (hi - lo + 1) / n_chunks
    out = None
    for c in range(n_chunks):
        a = lo + int(c * span)
        b = lo + int((c + 1) * span) if c < n_chunks - 1 else hi + 1
        part = queries.filter(
            (F.col(qid_col) >= a) & (F.col(qid_col) < b)
        )
        res = knn(vectors, part, k, metric, id_col, vec_col, qid_col, qvec_col)
        out = res if out is None else out.unionByName(res)
    return out
