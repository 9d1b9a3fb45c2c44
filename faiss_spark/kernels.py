"""Numpy distance/top-k kernels used inside Arrow-batched Pandas UDFs.

These mirror the faiss brute-force BLAS path (reference
faiss/utils/distances.cpp:271-354 ``exhaustive_L2sqr_blas``: tiled GEMM of
``-2 X Qᵀ`` plus row norms) and the bounded-heap accumulation
(faiss/utils/Heap.h, faiss/impl/ResultHandler.h). On Spark the tiling is
the Arrow record batch; the per-partition heap is a running (nq, k)
candidate set merged with ``np.argpartition`` — O(n) per batch, no sort.

All distance math defaults to float64 so results hash-match a SQL double
oracle; non-oracle callers (bench, graph builds) can opt into float32,
mirroring the reference's sgemm kernels (faiss/utils/distances.cpp:271).

Memory discipline: Python workers are reused across tasks, so all large
scratch arrays come from a module-level workspace (``_wsbuf``) that is
allocated once per worker and reused for every batch and task. This
matters far beyond ordinary allocator overhead: on lazily-backed VMs,
first-touch page faults on a fresh 100 MB+ temporary can cost 10-100× the
arithmetic, so the hot path never allocates O(nq·m) temporaries — the
GEMM writes into a reused buffer (``np.dot(..., out=)``) and every
post-pass is in-place.

Metric conventions follow faiss (reference faiss/MetricType.h:23-33):
  l2      -> squared L2, smaller is better (faiss returns squared L2)
  ip      -> inner product, larger is better
  cosine  -> cosine similarity, larger is better
  l1/linf -> smaller is better
"""

from __future__ import annotations

import numpy as np

#: metrics where larger values are better (similarities)
SIMILARITY_METRICS = frozenset({"ip", "cosine"})
METRICS = frozenset(
    {"l2", "ip", "cosine", "l1", "linf", "lp", "canberra", "braycurtis",
     "jensenshannon", "jaccard", "hamming"}
)


#: per-worker reusable scratch buffers, keyed by (name, dtype); grown to
#: the max size ever requested and never freed (workers are long-lived)
_WS: dict = {}


def _wsbuf(name: str, n: int, dtype=np.float64) -> np.ndarray:
    """A reusable 1-D scratch buffer of ≥ n elements; callers reshape the
    returned [:n] view (a slice of a 1-D array is always contiguous, so it
    is valid as a BLAS ``out=``)."""
    key = (name, np.dtype(dtype))
    cur = _WS.get(key)
    if cur is None or cur.size < n:
        cur = np.empty(n, dtype=dtype)
        _WS[key] = cur
    return cur[:n]


def as_matrix(col, dtype=np.float64) -> np.ndarray:
    """Stack a pandas Series / list of array<float> into (n, d) float."""
    if len(col) == 0:
        return np.empty((0, 0), dtype=dtype)
    return np.asarray(np.stack(col), dtype=dtype)


def arrow_id_vec_blocks(batches, dtype=np.float64):
    """Zero-copy ``(ids, X, vec_arrow)`` blocks from ``mapInArrow``
    batches whose first two columns are ``(id bigint, vec array<float>)``:
    the list column's values buffer reshapes directly into the (n, d)
    matrix (cast only when dtype differs) — no per-row Python objects,
    unlike the mapInPandas + as_matrix route. ``vec_arrow`` is the
    original Arrow column for zero-copy pass-through outputs."""
    for b in batches:
        if b.num_rows == 0:
            continue
        ids = np.asarray(
            b.column(0).to_numpy(zero_copy_only=False), dtype=np.int64
        )
        X = np.asarray(
            b.column(1).flatten().to_numpy(zero_copy_only=False), dtype=dtype
        ).reshape(b.num_rows, -1)
        yield ids, X, b.column(1)


def arrow_binary_matrix(arr) -> np.ndarray:
    """(n, w) uint8 view of an Arrow binary column of EQUAL-LENGTH,
    non-null values (PQ/SQ/fast-scan code columns) — zero-copy from the
    values buffer, replacing the per-row
    ``np.stack([np.frombuffer(c) for c in col])`` Python loop that costs
    ~1 µs/row on the scan hot path. Falls back to the stack loop if rows
    are ragged (never true for codec tables, but cheap to verify)."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        return np.empty((0, 0), np.uint8)
    off_dtype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(arr.buffers()[1], off_dtype)[
        arr.offset : arr.offset + n + 1
    ]
    widths = offs[1:] - offs[:-1]
    w = int(widths[0])
    if not (widths == w).all():
        return np.stack([np.frombuffer(c.as_py(), np.uint8) for c in arr])
    data = np.frombuffer(arr.buffers()[2], np.uint8)
    return data[int(offs[0]) : int(offs[-1])].reshape(n, w)


def arrow_list_matrix(col, dtype=np.float64) -> np.ndarray:
    """(n, d) matrix from an Arrow list<numeric> column (ChunkedArray or
    Array) — flatten the values buffer and reshape, no per-row Python
    objects. The applyInArrow cogroup scans use this instead of the
    pandas ``np.stack(series.to_numpy())`` route (~10× less per-cell
    framing overhead on emit-bound scans, VERDICT r12 #3)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    if n == 0:
        return np.empty((0, 0), dtype)
    return np.asarray(
        col.flatten().to_numpy(zero_copy_only=False), dtype=dtype
    ).reshape(n, -1)


def arrow_i64(col) -> np.ndarray:
    """1-D int64 view of an Arrow integer column (ChunkedArray or Array)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    return np.asarray(col.to_numpy(zero_copy_only=False), dtype=np.int64)


def arrow_list_groups(batches, extract):
    """Per-list groups over ``mapInArrow`` batches of ``(list_no, id,
    <payload columns>)``: numpy group-bounds instead of pandas groupby,
    and a no-gather fast path for the common case where a batch holds
    exactly one list (codes tables are partitioned by list_no).
    ``extract(batch)`` builds the tuple of payload matrices; yields
    ``(list_no, payload tuple, ids)``."""
    for b in batches:
        if b.num_rows == 0:
            continue
        lists = arrow_i64(b.column(0))
        ids = arrow_i64(b.column(1))
        blk = extract(b)
        if lists[0] == lists[-1] and (lists == lists[0]).all():
            yield int(lists[0]), blk, ids
            continue
        order = np.argsort(lists, kind="stable")
        sl = lists[order]
        bounds = np.flatnonzero(np.r_[True, sl[1:] != sl[:-1], True])
        for s, e in zip(bounds[:-1], bounds[1:]):
            rows = order[s:e]
            yield int(sl[s]), tuple(m[rows] for m in blk), ids[rows]


def arrow_code_groups(batches):
    """(list_no, codes (n, w) uint8, ids int64) per-list groups from
    ``mapInArrow`` batches of ``(list_no, id, code binary)`` — zero-copy
    code matrix via arrow_binary_matrix."""
    for list_no, (codes,), ids in arrow_list_groups(
        batches, lambda b: (arrow_binary_matrix(b.column(2)),)
    ):
        yield list_no, codes, ids


def pairwise_distances(
    Q: np.ndarray, X: np.ndarray, metric: str, metric_arg: float | None = None
) -> np.ndarray:
    """Dense (nq, nx) distance/similarity matrix, float64.

    l2 follows faiss and returns *squared* L2 (reference
    faiss/utils/distances.h:232 ``knn_L2sqr``); lp returns Σ|x−y|^p
    without the root, p = metric_arg (reference faiss/MetricType.h:25,
    utils/extra_distances-inl.h:66-74).
    """
    if metric == "l2":
        if Q.shape[1] <= 16:
            # small d: direct Σ(q−x)² — bit-identical to the SQL oracle's
            # sequential sum, which matters because low-d/discrete data has
            # EXACT distance ties and the GEMM decomposition perturbs
            # mathematically-equal values by ~1e-14, reordering ties.
            # Dimension-at-a-time with REUSED buffers: a broadcast 3-D temp
            # would allocate nq×m×d×8 bytes per batch, and that churn
            # drives kernel memory-reclaim storms on big scans.
            nq, m = Q.shape[0], X.shape[0]
            d2 = np.zeros((nq, m), dtype=np.float64)
            buf = np.empty((nq, m), dtype=np.float64)
            for j in range(Q.shape[1]):
                np.subtract.outer(Q[:, j], X[:, j], out=buf)
                buf *= buf
                d2 += buf
            return d2
        # ||q||^2 + ||x||^2 - 2 q.x  (same decomposition as the reference
        # BLAS path, faiss/utils/distances.cpp:271)
        d2 = (
            (Q * Q).sum(axis=1)[:, None]
            + (X * X).sum(axis=1)[None, :]
            - 2.0 * (Q @ X.T)
        )
        np.maximum(d2, 0.0, out=d2)
        return d2
    if metric == "ip":
        return Q @ X.T
    if metric == "cosine":
        qn = np.linalg.norm(Q, axis=1, keepdims=True)
        xn = np.linalg.norm(X, axis=1, keepdims=True)
        qn[qn == 0] = 1.0
        xn[xn == 0] = 1.0
        return (Q / qn) @ (X / xn).T
    if metric == "l1":
        return np.abs(Q[:, None, :] - X[None, :, :]).sum(axis=2)
    if metric == "linf":
        return np.abs(Q[:, None, :] - X[None, :, :]).max(axis=2)
    if metric == "lp":
        if metric_arg is None:
            raise ValueError("metric 'lp' needs metric_arg (the exponent p)")
        return (np.abs(Q[:, None, :] - X[None, :, :]) ** metric_arg).sum(axis=2)
    # extra metrics (reference faiss/utils/extra_distances.h:23-48,
    # faiss/MetricType.h:23-33) — pairwise elementwise forms
    if metric == "canberra":
        num = np.abs(Q[:, None, :] - X[None, :, :])
        den = np.abs(Q)[:, None, :] + np.abs(X)[None, :, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            frac = np.where(den > 0, num / den, 0.0)
        return frac.sum(axis=2)
    if metric == "braycurtis":
        num = np.abs(Q[:, None, :] - X[None, :, :]).sum(axis=2)
        den = np.abs(Q[:, None, :] + X[None, :, :]).sum(axis=2)
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(den > 0, num / den, 0.0)
    if metric == "jaccard":
        # fork-added float METRIC_JACCARD (reference faiss/MetricType.h:27,
        # bvec_jaccard in utils/binary_distances.h:33-49: (|OR|−|AND|)/|OR|,
        # empty union → 1.0). The float generalization is the weighted
        # (Ruzicka) Jaccard — min generalizes AND, max generalizes OR —
        # which reduces EXACTLY to bvec_jaccard on 0/1 vectors.
        mn = np.minimum(Q[:, None, :], X[None, :, :]).sum(axis=2)
        mx = np.maximum(Q[:, None, :], X[None, :, :]).sum(axis=2)
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(mx != 0, (mx - mn) / mx, 1.0)
    if metric == "hamming":
        # fork-added float METRIC_HAMMING (reference faiss/MetricType.h:28,
        # popcount(XOR) in utils/hamming-inl.h): count of differing
        # positions — reduces exactly to binary Hamming on 0/1 vectors
        # (faiss counts, scipy's proportion convention does not apply)
        return (Q[:, None, :] != X[None, :, :]).sum(axis=2).astype(np.float64)
    if metric == "jensenshannon":
        # faiss convention (extra_distances-inl.h KLD form): accumulate
        # x·log(2x/(x+y)) + y·log(2y/(x+y)) over components with guards
        Qe = Q[:, None, :]
        Xe = X[None, :, :]
        s = Qe + Xe
        with np.errstate(divide="ignore", invalid="ignore"):
            t1 = np.where(Qe > 0, Qe * np.log(np.where(s > 0, 2 * Qe / s, 1.0)), 0.0)
            t2 = np.where(Xe > 0, Xe * np.log(np.where(s > 0, 2 * Xe / s, 1.0)), 0.0)
        return (t1 + t2).sum(axis=2)
    raise ValueError(f"unknown metric {metric!r}; expected one of {sorted(METRICS)}")


#: target scratch size per selection chunk (bytes of the distance block)
_CHUNK_BYTES = 32 * 1024 * 1024


def _row_chunk(nq: int, m: int, d: int, metric: str, dt) -> int:
    """Query rows per tile so the scratch stays ≈ _CHUNK_BYTES; the
    elementwise metrics materialize a (c, m, d) broadcast temp, so their
    per-row footprint is d× the GEMM metrics'."""
    if metric in ("ip", "cosine", "l2"):
        per_row = m * dt.itemsize
    else:
        per_row = m * d * dt.itemsize
    return max(1, min(nq, int(_CHUNK_BYTES // max(1, per_row))))


def _compute_block(Q, X, r0, r1, metric, qn, xn, dt, clip0=True, metric_arg=None,
                   defer_qn=False) -> np.ndarray:
    """Distances of query rows [r0:r1] × X into reused workspace (the
    returned view is owned by the workspace — consume before the next
    call). Op order matches pairwise_distances exactly so f64 results
    are bit-identical to the full-matrix path (oracle hashing).
    qn/xn: precomputed (Q*Q).sum(1) / (X*X).sum(1) for l2; for cosine
    the caller passes pre-normalized Q and X. clip0=False skips the
    l2 max(·, 0) pass for callers that clip after selection (argmin
    callers that must see the unclipped −1e-15-class values the
    full-matrix path ranked on)."""
    c = r1 - r0
    m = X.shape[0]
    d = X.shape[1]
    if metric in ("ip", "cosine"):
        D = _wsbuf("tk_D", c * m, dt).reshape(c, m)
        np.dot(Q[r0:r1], X.T, out=D)
        return D
    if metric == "l2" and d > 16:
        # (||q||² + ||x||²) − 2 q·x — the reference BLAS decomposition
        # (faiss/utils/distances.cpp:271)
        D = _wsbuf("tk_D", c * m, dt).reshape(c, m)
        np.dot(Q[r0:r1], X.T, out=D)
        if defer_qn:
            # f32 scan fast path (r11, VERDICT r10 #6): rank on
            # est = ‖x‖² − 2⟨q,x⟩ — the per-row constant ‖q‖² cannot
            # change a row's ranking, so it (and the ≥0 clip) moves to
            # the k survivors at emit(). Two fewer full passes over the
            # (c, m) tile: measured 2.05× on the tile loop (0.46 →
            # 0.22 s per 10k×18.75k×64 push, single thread), taking the
            # loop from 3.0× to 1.5× of the one-dot sgemm roofline.
            # f64 keeps the exact pairwise_distances op order (oracle
            # hashing is bit-identical there).
            D *= -2.0
            D += xn[None, :]
            return D
        D *= 2.0
        t = _wsbuf("tk_T", c * m, dt).reshape(c, m)
        np.add.outer(qn[r0:r1], xn, out=t)
        np.subtract(t, D, out=D)
        if clip0:
            np.maximum(D, 0.0, out=D)
        return D
    if metric == "l2":
        # small d: dimension-at-a-time Σ(q−x)², bit-identical to a
        # sequential SQL oracle (ties in low-d/discrete data)
        D = _wsbuf("tk_D", c * m, dt).reshape(c, m)
        D[...] = 0.0
        buf = _wsbuf("tk_T", c * m, dt).reshape(c, m)
        for j in range(d):
            np.subtract.outer(Q[r0:r1, j], X[:, j], out=buf)
            buf *= buf
            D += buf
        return D
    # elementwise metrics (l1/linf/canberra/...): delegate per chunk; the
    # (c, m, d) temp is bounded because _row_chunk divided by d
    return pairwise_distances(np.ascontiguousarray(Q[r0:r1]), X, metric, metric_arg)


def range_pairs(Q: np.ndarray, X: np.ndarray, metric: str, radius: float,
                metric_arg: float | None = None):
    """All (query, candidate) index pairs with dist < radius (similarity
    metrics: dist > radius) — faiss range_search semantics (reference
    faiss/Index.h:145-150) computed through the reused workspace in
    ~32 MB tiles. Returns (rq, rc, vals) 1-D arrays."""
    largest = metric in SIMILARITY_METRICS
    nq, m = Q.shape[0], X.shape[0]
    if nq == 0 or m == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, np.empty(0, dtype=np.float64)
    d = X.shape[1]
    dt = Q.dtype
    qn = xn = None
    if metric == "cosine":
        qnorm = np.linalg.norm(Q, axis=1, keepdims=True)
        qnorm[qnorm == 0] = 1.0
        Q = Q / qnorm
        xnorm = np.linalg.norm(X, axis=1, keepdims=True)
        xnorm[xnorm == 0] = 1.0
        X = X / xnorm
    elif metric == "l2":
        qn = (Q * Q).sum(axis=1)
        xn = (X * X).sum(axis=1)
    out_q, out_c, out_v = [], [], []
    chunk = _row_chunk(nq, m, d, metric, dt)
    for r0 in range(0, nq, chunk):
        r1 = min(nq, r0 + chunk)
        D = _compute_block(Q, X, r0, r1, metric, qn, xn, dt, metric_arg=metric_arg)
        mask = _wsbuf("rg_mask", D.size, np.bool_).reshape(D.shape)
        if largest:
            np.greater(D, radius, out=mask)
        else:
            np.less(D, radius, out=mask)
        # flatnonzero on the contiguous ravel is ~10x np.nonzero(2d)
        rq, rc = np.divmod(np.flatnonzero(mask.ravel()), D.shape[1])
        if len(rq):
            out_q.append(rq + r0)
            out_c.append(rc)
            out_v.append(D[rq, rc].astype(np.float64, copy=False))
    if not out_q:
        e = np.empty(0, dtype=np.int64)
        return e, e, np.empty(0, dtype=np.float64)
    return (
        np.concatenate(out_q),
        np.concatenate(out_c),
        np.concatenate(out_v),
    )


class TopKAccumulator:
    """Running per-query top-k over a stream of candidate blocks.

    Spark-side equivalent of faiss's ``ResultHeap`` partial/final merge
    (reference faiss/python/extra_wrappers.py:136-174). Candidates are
    kept as FLAT (qidx, id, dist) arrays: each pushed block is reduced
    tie-safely to the entries ≤ the per-row kth best (so equal-distance
    candidates with smaller ids can never be lost), appended, and
    periodically compacted with one lexsort. All O(nq·m) scratch lives in
    the per-worker workspace — steady-state pushes allocate only the
    O(nq·k) survivors.

    The fused scan path (``bind_queries`` + ``push_block``) additionally
    computes the distance block itself into reused scratch — GEMM with
    ``out=`` plus in-place post-ops, the Spark-side mirror of the
    reference's tiled sgemm kernel (faiss/utils/distances.cpp:271-354).
    """

    def __init__(self, nq: int, k: int, largest: bool):
        self.nq = nq
        self.k = k
        self.largest = largest
        self._q: list[np.ndarray] = []
        self._i: list[np.ndarray] = []
        self._d: list[np.ndarray] = []
        self._n = 0
        self._cap = max(4 * k * max(nq, 1), 1 << 16)
        self._Q = None
        self._metric = None
        self._metric_arg = None
        self._qn = None
        self._defer_qn = False
        # running per-query kth-best (the faiss ResultHeap bound): rows
        # that already hold k candidates prune later blocks' masks to
        # ≤ bound (ties KEPT — an equal-dist smaller id can still win),
        # so in a multi-batch task only the first batches pay the full
        # selection; +inf/-inf rows (fewer than k seen) never prune.
        self._bound: np.ndarray | None = None
        self._last_bound_n = -1

    # ------------------------------------------------ fused GEMM scan --
    def bind_queries(
        self, Q: np.ndarray, metric: str, metric_arg: float | None = None
    ) -> None:
        """Precompute per-query terms once per task; enables push_block."""
        self._metric = metric
        self._metric_arg = metric_arg
        if metric == "cosine":
            qn = np.linalg.norm(Q, axis=1, keepdims=True)
            qn[qn == 0] = 1.0
            self._Q = Q / qn
        else:
            self._Q = Q
            if metric == "l2":
                self._qn = (Q * Q).sum(axis=1)
        # f32 L2 defers the per-row ‖q‖² (and the ≥0 clip) to emit —
        # see the defer_qn branch of _compute_block. d ≤ 16 uses the
        # elementwise path, which computes true distances directly.
        self._defer_qn = (
            metric == "l2"
            and self._Q.dtype == np.float32
            and self._Q.shape[1] > 16
        )

    def push_block(
        self,
        X: np.ndarray,
        ids: np.ndarray,
        qids: np.ndarray | None = None,
        exclude_same_id: bool = False,
    ) -> None:
        """Compute distances Q×X and fold them in, never materializing the
        full (nq, m) block: query rows are processed in scratch-sized
        chunks (GEMM tile ≈ 32 MB), each selected tie-safely in place."""
        Q, metric = self._Q, self._metric
        nq, m = Q.shape[0], X.shape[0]
        if m == 0:
            return
        d = X.shape[1]
        dt = Q.dtype
        if X.dtype != dt:
            X = np.ascontiguousarray(X, dtype=dt)
        xn = None
        if metric == "cosine":
            xnorm = np.linalg.norm(X, axis=1, keepdims=True)
            xnorm[xnorm == 0] = 1.0
            X = X / xnorm  # fresh per-batch array; cheap relative to GEMM
        elif metric == "l2":
            xn = (X * X).sum(axis=1)
        chunk = _row_chunk(nq, m, d, metric, dt)
        # steady-state fusion eligibility (VERDICT r12 #5): on the
        # deferred-norm f32 scan, once every row of a chunk holds k
        # candidates the bound alone is the admission threshold, so the
        # −2·/+‖x‖² post-pass and the compare run per L2-sized column
        # tile while cache-hot — one DRAM pass over the block instead
        # of three. Values and admissions are bit-identical (the same
        # elementwise ops in the same per-element order).
        fusable = (
            self._defer_qn
            and not (exclude_same_id and qids is not None)
            and m > 2 * min(self.k, m)
        )
        xn_min = float(xn.min()) if fusable and xn is not None and m else 0.0
        for r0 in range(0, nq, chunk):
            r1 = min(nq, r0 + chunk)
            if (
                fusable
                and self._bound is not None
                and np.isfinite(self._bound[r0:r1]).all()
            ):
                self._screened_push(X, ids, r0, r1, xn, xn_min)
                continue
            D = _compute_block(Q, X, r0, r1, metric, self._qn, xn, dt,
                               metric_arg=self._metric_arg,
                               defer_qn=self._defer_qn)
            if exclude_same_id and qids is not None:
                hit = qids[r0:r1, None] == ids[None, :]
                D[hit] = -np.inf if self.largest else np.inf
            self._select(r0, D, ids)
        self._maybe_refresh_bound(m)

    def _screened_push(
        self, X, ids, r0, r1, xn, xn_min: float
    ) -> None:
        """Deferred-norm steady-state chunk: GEMM, then a ROW SCREEN
        before the distance post-pass — est[r,c] = ‖x_c‖² − 2⟨q_r,x_c⟩
        ≥ xn_min − 2·max_c⟨q_r,x_c⟩, so a row whose best possible
        estimate exceeds its running kth bound admits nothing and skips
        the −2·/+‖x‖²/compare passes entirely. In a long task almost
        every row screens out after the first batches, collapsing the
        post-GEMM cost from three full read-write passes to one
        read-only rowmax (VERDICT r12 #5: the admission compare fused
        into — here, ahead of — the distance post-pass). The screen is
        slack-padded by a few f32 ulps so float rounding can only KEEP
        extra rows; survivors compute est with the exact
        _compute_block op order, so admitted values are bit-identical
        to the unfused path."""
        Q = self._Q
        c = r1 - r0
        m = X.shape[0]
        G = _wsbuf("tk_D", c * m, Q.dtype).reshape(c, m)
        np.dot(Q[r0:r1], X.T, out=G)
        bound = self._bound[r0:r1]
        t = xn_min - 2.0 * G.max(axis=1).astype(np.float64)
        slack = 16.0 * 1.1920929e-07 * (np.abs(t) + np.abs(bound) + 1.0)
        alive = np.flatnonzero(t <= bound + slack)
        if len(alive) == 0:
            return
        if len(alive) > c // 2:
            # screen didn't pay — finish the standard post-pass on the
            # already-computed GEMM and select as usual
            G *= -2.0
            G += xn[None, :]
            self._select(r0, G, ids)
            return
        Ga = np.ascontiguousarray(G[alive])
        Ga *= -2.0
        Ga += xn[None, :]
        mask = np.less_equal(Ga, bound[alive, None])
        flat = np.flatnonzero(mask.ravel())
        if len(flat) == 0:
            return
        rq_a, rc = np.divmod(flat, m)
        qv = (alive[rq_a] + r0).astype(np.int64)
        iv = ids[rc].astype(np.int64, copy=False)
        dv = Ga[rq_a, rc].astype(np.float64, copy=False)
        kk = min(self.k, m)
        if len(qv) > 2 * kk * len(alive):
            qv, iv, dv = self._topk_flat(qv, iv, dv, kk, self.largest)
        self._q.append(qv)
        self._i.append(iv)
        self._d.append(dv)
        self._n += len(qv)
        if self._n > self._cap:
            self._compact()

    # ----------------------------------------------------- plain push --
    def push(self, block_dist: np.ndarray, block_ids: np.ndarray) -> None:
        """block_dist: (nq, m) precomputed distances; block_ids: (m,)."""
        if self._defer_qn:
            # push_block stored ‖q‖²-less estimates; mixing in true
            # distances would corrupt the merge
            raise RuntimeError(
                "cannot mix push() with the deferred-norm f32 push_block "
                "path in one accumulator"
            )
        nq, m = block_dist.shape
        if m == 0:
            return
        chunk = max(
            16, min(nq, int(_CHUNK_BYTES // max(1, m * block_dist.dtype.itemsize)))
        )
        for r0 in range(0, nq, chunk):
            self._select(r0, block_dist[r0 : r0 + chunk], block_ids)
        self._maybe_refresh_bound(m)

    def _maybe_refresh_bound(self, m: int) -> None:
        """After a pushed block: compact (cheap — appends are ≤ nq·k per
        push since the per-chunk reduce) and record each full row's kth
        as the pruning bound for later blocks. Skipped for small blocks
        and when nothing new was admitted, so many-tiny-push callers
        (graph walks) keep the old cap-based compaction cadence."""
        if m <= 4 * self.k or self._n == 0:
            return
        if self._n == self._last_bound_n:
            return  # the bound pruned every new candidate — already tight
        self._compact()
        self._last_bound_n = self._n
        q = self._q[0]
        if len(q) == 0:
            return
        counts = np.bincount(q, minlength=self.nq)
        full = counts >= self.k
        if not full.any():
            return
        if self._bound is None:
            fill = -np.inf if self.largest else np.inf
            self._bound = np.full(self.nq, fill, np.float64)
        present = np.flatnonzero(counts > 0)
        ends = np.cumsum(counts[present]) - 1
        # after _compact, entries are grouped by q in (dist, id) rank
        # order — a full group's LAST kept entry is its kth best
        sel = full[present]
        self._bound[present[sel]] = self._d[0][ends[sel]]

    def _select(self, r0: int, D: np.ndarray, ids: np.ndarray) -> None:
        """Tie-safe per-row selection of the ≤ kth-best entries of D
        (rows are queries r0..r0+c); appends flat candidates."""
        c, m = D.shape
        kk = min(self.k, m)
        if m > 2 * kk:
            # The exact per-row kth via introselect is the dominant pass
            # of the scan at large m (measured ~5× the GEMM per push,
            # tools/f32_profile.py r11). A SUBSET's kth order statistic
            # is ≥ the full row's kth, so the kth of every 16th column
            # is a valid loose threshold: masking ≤ t̂ keeps a SUPERSET
            # of the exact ≤-kth set (ties at the true kth included),
            # and _compact ranks the survivors exactly by (dist, id) —
            # final results are identical, the partition runs on m/16
            # elements (3.3× faster selection measured). Near-constant
            # rows can blow the loose mask up; the guard falls back to
            # the exact kth, which bounds the append as before.
            use_exact = True
            mask = _wsbuf("tk_mask", c * m, np.bool_).reshape(c, m)
            # the running kth-so-far bound (if any) intersects every
            # threshold below: a candidate strictly worse than k
            # already-seen ones can never reach the final top-k, and
            # ties at the bound are KEPT (<=/>=), so tie-break by id
            # stays exact. In a multi-batch task this collapses the
            # admitted set to ~nothing after the first batches.
            bound = (
                self._bound[r0 : r0 + c, None]
                if self._bound is not None
                else None
            )

            def _apply(thr):
                # thr is in D space (per-row column vector)
                if bound is not None:
                    thr = (
                        np.maximum(thr, bound)
                        if self.largest
                        else np.minimum(thr, bound)
                    )
                if self.largest:
                    np.greater_equal(D, thr, out=mask)
                else:
                    np.less_equal(D, thr, out=mask)

            if bound is not None and np.isfinite(bound).all():
                # every row already holds k candidates — the bound alone
                # is a valid (and usually tighter) threshold; skip the
                # sample partition entirely. Steady-state batches of a
                # long task take this arm.
                if self.largest:
                    np.greater_equal(D, bound, out=mask)
                else:
                    np.less_equal(D, bound, out=mask)
                use_exact = int(np.count_nonzero(mask)) > max(64 * kk * c, 1 << 16)
            elif m >= 64 * kk:
                sm = (m + 15) // 16
                kb = _wsbuf("tk_key", c * sm, D.dtype).reshape(c, sm)
                src = D[:, ::16]
                if self.largest:
                    np.negative(src, out=kb)
                else:
                    np.copyto(kb, src)
                kb.partition(kk - 1, axis=1)
                kth = kb[:, kk - 1 : kk]
                _apply(-kth if self.largest else kth)
                use_exact = int(np.count_nonzero(mask)) > max(64 * kk * c, 1 << 16)
            if use_exact:
                kb = _wsbuf("tk_key", c * m, D.dtype).reshape(c, m)
                if self.largest:
                    np.negative(D, out=kb)
                else:
                    np.copyto(kb, D)
                kb.partition(kk - 1, axis=1)
                kth = kb[:, kk - 1 : kk]
                # key ≤ kth  ⇔  D ≥ −kth for similarities (key = −D)
                _apply(-kth if self.largest else kth)
            # flatnonzero on the contiguous ravel is ~10x np.nonzero(2d)
            # (one output pass, no per-dim index arrays until divmod)
            rq, rc = np.divmod(np.flatnonzero(mask.ravel()), m)
        else:
            rq = np.repeat(np.arange(c, dtype=np.int64), m)
            rc = np.tile(np.arange(m, dtype=np.int64), c)
        qv = rq.astype(np.int64, copy=False) + r0
        iv = ids[rc].astype(np.int64, copy=False)
        dv = D[rq, rc].astype(np.float64, copy=False)
        # reduce the chunk's survivors to the EXACT per-row top-k before
        # appending: the sampled threshold over-admits ~(m/sample)/k per
        # row, and carrying that superset into the accumulator made
        # _compact lexsort millions of entries several times per push
        # (profiled at ~10x the chunk GEMM). One small lexsort here keeps
        # appends at ≤ c·k and makes _compact a rare no-op-sized merge.
        if len(qv) > 2 * kk * c:
            qv, iv, dv = self._topk_flat(qv, iv, dv, kk, self.largest)
        self._q.append(qv)
        self._i.append(iv)
        self._d.append(dv)
        self._n += len(qv)
        if self._n > self._cap:
            self._compact()

    @staticmethod
    def _topk_flat(q, i, dv, k, largest):
        """Exact top-k per q-group of flat (q, i, dist) candidates with
        (dist, id) tie-break — ORDER BY dist [DESC], id semantics. Shared
        by the per-chunk reduce and the cross-push _compact merge."""
        key = -dv if largest else dv
        order = np.lexsort((i, key, q))
        qs = q[order]
        new_grp = np.empty(len(qs), dtype=bool)
        new_grp[0] = True
        np.not_equal(qs[1:], qs[:-1], out=new_grp[1:])
        gstart = np.flatnonzero(new_grp)
        glen = np.diff(np.append(gstart, len(qs)))
        rank = np.arange(len(qs)) - np.repeat(gstart, glen)
        keep = order[rank < k]
        return q[keep], i[keep], dv[keep]

    def _compact(self) -> None:
        """One lexsort over the flat candidates; keep top-k per query with
        (dist, id) tie-break — ORDER BY dist [DESC], id semantics."""
        if not self._q:
            return
        q, i, dv = self._topk_flat(
            np.concatenate(self._q),
            np.concatenate(self._i),
            np.concatenate(self._d),
            self.k,
            self.largest,
        )
        self._q = [q]
        self._i = [i]
        self._d = [dv]
        self._n = len(q)

    def emit(self):
        """Return (qidx, id, dist) 1-D arrays of the final per-query
        top-k, sorted by (dist, id) within each query (descending dist
        for similarities — id ascending always)."""
        if self._n == 0:
            return (
                np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.float64),
            )
        self._compact()
        # _compact leaves rows sorted by (q, key, id)
        qidx, nid, nd = self._q[0], self._i[0], self._d[0]
        if self._defer_qn:
            # restore the deferred ‖q‖² + clip on the k survivors only
            nd = nd + self._qn[qidx].astype(np.float64)
            np.maximum(nd, 0.0, out=nd)
        return qidx, nid, nd


def topk_merge(dist: np.ndarray, ids: np.ndarray, k: int, largest: bool):
    """One-shot top-k of a (nq, m) block with 1-D shared ids or per-row
    (nq, m) ids; returns flat (qidx, id, dist) with (dist, id) tie-break."""
    nq, m = dist.shape
    acc = TopKAccumulator(nq, k, largest)
    if ids.ndim == 1:
        acc.push(dist, ids)
    else:
        acc._q = [np.repeat(np.arange(nq, dtype=np.int64), m)]
        acc._i = [ids.ravel().astype(np.int64, copy=False)]
        acc._d = [dist.ravel().astype(np.float64, copy=False)]
        acc._n = nq * m
    return acc.emit()
