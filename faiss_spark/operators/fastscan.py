"""4-bit fast-scan search semantics: affine-quantized LUT scans.

Reference: faiss/IndexFastScan.h:15-28, faiss/IndexPQFastScan.h,
faiss/IndexIVFPQFastScan.h, faiss/utils/quantize_lut.h:13-25 and
quantize_lut.cpp:140-285 (quantize_LUT_and_bias).

The reference's fast-scan family changes two things versus plain ADC:

* WHAT is computed — per-query distance lookup tables are affine-quantized
  to uint8 (``original = quantized / a + per_column_min``), accumulated in
  SATURATING uint16, and the reported distance is the de-quantized
  ``acc / a + b``. The coefficient ``a`` is chosen so the whole-code sum
  fits the uint16 accumulator: ``a = min(255 / max_span_LUT,
  65535 / max_span_dis)`` (quantize_lut.cpp:153-165).
* HOW it is computed — codes are laid out in bbs-blocked SIMD registers
  and the gather is an AVX shuffle (faiss/impl/pq4_fast_scan.h).

The semantic half is reproduced here exactly, with the reference's
coefficient choices, so recall and the quantization-error envelope match.
The physical half (register layout) is out of scope per SURVEY §2.B —
numpy's vectorized gather over Arrow batches is this engine's vector
unit, and Tungsten/whole-stage-codegen owns the layout above it.

Scale shape: every search here is a list scanner (``_PQ4Scanner``,
``_AQ4Scanner``) on the shared IVF routes of operators/ivf.py. The LUTs
are quantized per query over its whole probe set, so they come from the
scanner's ``probe_terms`` hook: built on the driver and broadcast with
the list → queries map (driver route), or built in the probe map and
carried as a ``terms`` column through the cogroup (distributed route).
The IVF indexes (``IVFPQFastScanIndex``, ``IVFAQFastScanIndex``) run on
both routes and share the partition-pruned scan, hot-cell sub-sharding,
IVFSearchStats and the max_codes budget of every other IVF codec. The
flat searches (``pq_fastscan_search``, ``aq_fastscan_search``) are the
same scanners with ``by_residual=False`` on the driver route, reading
the ``(id, code)`` table whole as one list (ksub is 16 for 4-bit codes,
so a query's LUT is a few hundred bytes); they have no distributed twin
and raise past the driver query bound.
"""

from __future__ import annotations

from dataclasses import dataclass
import numpy as np
from pyspark.sql import DataFrame, functions as F

from faiss_spark.kernels import arrow_binary_matrix, arrow_list, arrow_list_matrix
from faiss_spark.operators.codecs import ProductQuantizerModel
from faiss_spark.operators.ivf import (
    IVFPQIndex,
    _forwarded,
    _IVFIndexBase,
    _ListScanner,
    _preassigned_cogrouped,
    _probe_pairs,
    _scan_flat_codes,
)


# ------------------------------------------------------------ quantization


def quantize_lut_flat(luts: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Quantize per-query 2-D LUTs, no bias (reference
    quantize_lut.cpp:152-170, the ``!bias`` branch), vectorized over
    queries.

    luts: (nq, M, ksub) float. Returns (lutq uint8 (nq, M, ksub),
    a (nq,), b (nq,)) with ``true_lut[m, j] ≈ lutq[m, j] / a + min_m``
    and ``true_dist ≈ acc / a + b``.
    """
    luts = np.asarray(luts, np.float64)
    mins = luts.min(axis=2)  # (nq, M)
    spans = luts.max(axis=2) - mins
    max_span_lut = spans.max(axis=1)
    max_span_dis = spans.sum(axis=1)
    with np.errstate(divide="ignore"):
        a = np.minimum(255.0 / max_span_lut, 65535.0 / max_span_dis)
    a = np.where(np.isfinite(a), a, 1.0)  # degenerate all-constant LUTs
    b = mins.sum(axis=1)
    lutq = np.floor((luts - mins[:, :, None]) * a[:, None, None] + 0.5)
    np.clip(lutq, 0.0, 255.0, out=lutq)
    return lutq.astype(np.uint8), a, b


def quantize_lut_ivf(
    luts: np.ndarray, bias: np.ndarray
) -> tuple[np.ndarray, np.ndarray, float, float]:
    """Quantize one query's per-probe 3-D LUTs + per-probe bias
    (reference quantize_lut.cpp:195-237, the 3-D ``biasq`` branch).

    luts: (nprobe, M, ksub); bias: (nprobe,) — the per-list additive term
    (0 for pure residual LUTs, the coarse term when precomputed tables
    split it out). Returns (lutq uint8, biasq uint16, a, b) with
    ``true_dist ≈ (biasq_j + acc) / a + b``.
    """
    luts = np.asarray(luts, np.float64)
    bias = np.asarray(bias, np.float64)
    mins = luts.min(axis=2)  # (nprobe, M)
    spans = luts.max(axis=2) - mins
    bias_min = bias.min()
    max_span_lut = spans.max()
    span_dis = (bias - bias_min) + spans.sum(axis=1)  # (nprobe,)
    max_span_dis = span_dis.max()
    bias2 = bias + mins.sum(axis=1)  # (nprobe,)
    b = float(bias2.min())
    with np.errstate(divide="ignore"):
        a = float(min(255.0 / max_span_lut, 65535.0 / max_span_dis))
    if not np.isfinite(a):
        a = 1.0
    lutq = np.floor((luts - mins[:, :, None]) * a + 0.5)
    np.clip(lutq, 0.0, 255.0, out=lutq)
    biasq = np.floor((bias2 - b) * a + 0.5)
    np.clip(biasq, 0.0, 65535.0, out=biasq)
    return lutq.astype(np.uint8), biasq.astype(np.uint16), a, b


def _saturating_lut_sum(
    lutq: np.ndarray,
    codes: np.ndarray,
    init: np.ndarray | None = None,
    row_weights: np.ndarray | None = None,
) -> np.ndarray:
    """acc[q, x] = sat16(init_q + Σ_m w_m · lutq[q, m, code[x, m]]).

    Addends are non-negative, so summing in uint32 and clipping once is
    bit-equal to the reference's per-add saturating uint16 chain.
    row_weights carries the AQ fast-scan NormTableScaler (norm rows
    accumulated norm_scale times); None = all ones.
    """
    nq = lutq.shape[0]
    n, M = codes.shape
    acc = np.zeros((nq, n), np.uint32)
    if init is not None:
        acc += init.astype(np.uint32)[:, None]
    cols = codes.astype(np.int64)
    for m in range(M):
        con = lutq[:, m, cols[:, m]].astype(np.uint32)
        if row_weights is not None and row_weights[m] != 1:
            con *= int(row_weights[m])
        acc += con
    return np.minimum(acc, 65535)


# ------------------------------------------------------------ flat PQ scan


def pq_fastscan_search(
    model: ProductQuantizerModel,
    codes_df: DataFrame,
    queries: DataFrame,
    k: int,
    qid_col: str = "qid",
    qvec_col: str = "vec",
) -> DataFrame:
    """IndexPQFastScan search semantics (reference
    faiss/IndexPQFastScan.h, IndexFastScan.cpp compute_quantized_LUT):
    top-k over de-quantized uint16 LUT sums. 4-bit codes (ksub ≤ 16) per
    the reference's fast-scan constraint.

    Plan: the ``(id, code)`` table is the one list of the shared IVF
    driver route, scanned by ``_PQ4Scanner`` with ``by_residual=False``
    (one quantize_lut_flat LUT per query, built on the driver), then the
    window top-k.
    """
    scanner = _PQ4Scanner(model, None, False)  # refuses ksub > 16 first
    return _scan_flat_codes(
        codes_df, queries, model.M * model.dsub, scanner,
        "pq_fastscan_search", qid_col, qvec_col, k,
    )


# ------------------------------------------------------------ IVFPQ scan


@dataclass
class IVFPQFastScanIndex(_IVFIndexBase):
    """IndexIVFPQFastScan semantics (reference faiss/IndexIVFPQFastScan.h):
    IVF partition pruning + quantized-LUT ADC, both by_residual modes.

    by_residual=True (the ``x4fsr`` factory suffix): train/add/storage
    are the IVFPQIndex layout verbatim (4-bit residual codes partitioned
    by list_no); search builds per-(query, probe) residual LUTs jointly
    quantized per query (shared a/b across the query's probes,
    quantize_lut.cpp:195) so distances from different lists stay
    comparable in the merge.

    by_residual=False (plain ``x4fs`` — the reference's IVF fast-scan
    DEFAULT, index_factory.cpp:324-328): PQ is trained on and encodes
    the RAW vectors; search quantizes ONE LUT per query
    (quantize_lut_flat — the !bias branch) shared across every probe,
    so per-query LUT work is 1/nprobe of the residual mode's and at
    full probe the result EQUALS pq_fastscan_search over the same codes
    bit for bit (same codes, same LUT, same saturating arithmetic).
    """

    base: IVFPQIndex
    by_residual: bool = True
    # the lists live in the inner IVFPQ layout, for both modes
    codes = _forwarded("codes", "base")
    path = _forwarded("path", "base")
    _twin = "fastscan_search_preassigned"

    @staticmethod
    def train(
        vectors: DataFrame,
        nlist: int,
        M: int = 8,
        vec_col: str = "vec",
        seed: int = 1234,
        niter: int = 20,
        pq_niter: int = 15,
        by_residual: bool = True,
    ) -> "IVFPQFastScanIndex":
        if by_residual:
            return IVFPQFastScanIndex(
                base=IVFPQIndex.train(
                    vectors,
                    nlist,
                    M=M,
                    vec_col=vec_col,
                    seed=seed,
                    niter=niter,
                    pq_niter=pq_niter,
                    nbits=4,
                )
            )
        # non-residual: coarse k-means for pruning only; PQ trained on
        # the RAW sample (reference train_encoder with by_residual=false)
        from faiss_spark.operators.cluster import KMeans
        from faiss_spark.operators.codecs import _kmeans_np, _sampled_matrix

        km = KMeans(k=nlist, niter=niter, seed=seed).fit(
            vectors, vec_col=vec_col
        )
        X = _sampled_matrix(vectors, vec_col, 65536, seed)
        d = X.shape[1]
        if d % M:
            raise ValueError(f"d={d} not divisible by M={M}")
        dsub = d // M
        ksub = min(16, len(X))
        books = np.empty((M, ksub, dsub), np.float64)
        for m in range(M):
            books[m], _ = _kmeans_np(
                X[:, m * dsub : (m + 1) * dsub], ksub, pq_niter, seed + m
            )
        base = IVFPQIndex(
            centroids=km.centroids, pq=ProductQuantizerModel(codebooks=books)
        )
        return IVFPQFastScanIndex(base=base, by_residual=False)

    def _encoder(self):
        """by_residual: the IVFPQ encode; otherwise assign the list for
        pruning and PQ-encode the RAW vector (reference encode_vectors
        with by_residual=false)."""
        if self.by_residual:
            return self.base._encoder()

        def encode(state, X):
            C, books = state
            cn = (C * C).sum(1)
            d2 = (X * X).sum(1)[:, None] + cn[None, :] - 2.0 * (X @ C.T)
            return d2.argmin(1), ProductQuantizerModel(codebooks=books).encode_np(X)

        return (self.base.centroids, self.base.pq.codebooks), encode

    def _planner_state(self) -> tuple:
        return self.base._planner_state()

    def _scanner(self, k: int, **kw):
        return _PQ4Scanner(self.base.pq, self.base.centroids, self.by_residual)


def _pack_terms(lut, biasq, *f64) -> np.ndarray:
    """The fast-scan scanners' probe_terms rows, one per (query, probe):
    the uint8 LUT bytes (lut is (n, L)), the uint16 quantized bias, then
    float64 scalars (a, b, ...) — the layout ``_unpack_terms`` reads."""
    n = len(lut)
    return np.concatenate(
        [
            lut,
            np.asarray(biasq, np.uint16).reshape(n, 1).view(np.uint8),
            np.stack(f64, axis=1).view(np.uint8),
        ],
        axis=1,
    )


def _unpack_terms(T, L: int, nf: int):
    """(lut (n, L) uint8, biasq (n,) uint16, [nf float64 columns]) from
    ``_pack_terms`` rows."""
    lut = np.ascontiguousarray(T[:, :L])
    biasq = np.ascontiguousarray(T[:, L : L + 2]).view(np.uint16)[:, 0]
    f = np.ascontiguousarray(T[:, L + 2 : L + 2 + 8 * nf]).view(np.float64)
    return lut, biasq, [f[:, i] for i in range(nf)]


class _PQ4Scanner(_ListScanner):
    """IVF-PQ fast-scan lists (IndexIVFPQFastScan, both by_residual
    modes). ``probe_terms`` builds each query's uint8 LUTs: per-probe
    residual LUTs quantized JOINTLY over the query's probe set (shared
    a/b, per-probe bias — quantize_lut_ivf, quantize_lut.cpp:195) so
    distances from different lists stay comparable in the merge, or one
    flat LUT shared by every probe (quantize_lut_flat, the
    by_residual=false branch — at full probe bit-identical to
    pq_fastscan_search, whose one-list scan this scanner is). A push is
    the saturating uint16 LUT sum, de-quantized as acc / a + b.
    ``centroids`` are read by the residual mode only."""

    def __init__(self, pq: ProductQuantizerModel, centroids, by_residual: bool):
        if pq.ksub > 16:
            raise ValueError(
                f"fast-scan requires 4-bit codes (ksub ≤ 16), got ksub={pq.ksub}"
            )
        self.pq, self.centroids, self.by_residual = pq, centroids, by_residual

    def block(self, cols):
        return (arrow_binary_matrix(cols[0]),)

    def probe_terms(self, Q, probes):
        books = self.pq.codebooks
        M, ksub, dsub = books.shape
        rep, _ = _probe_pairs(probes)
        if not self.by_residual:
            # LUT via distance_table, the flat IndexPQ LUT: the
            # full-probe == flat-scan bit-identity needs IDENTICAL floats
            # entering uint8 quantization — an algebraically-equal
            # expanded form (|q|²+|c|²−2⟨q,c⟩) can land a value on the
            # other side of a bin boundary
            luts = np.stack([self.pq.distance_table(q) for q in Q])
            lutq, a, b = quantize_lut_flat(luts)
            return _pack_terms(
                lutq.reshape(len(Q), M * ksub)[rep], np.zeros(len(rep)),
                a[rep], b[rep],
            )
        n = len(rep)
        lut = np.empty((n, M * ksub), np.uint8)
        biasq = np.empty(n, np.uint16)
        a, b = np.empty(n), np.empty(n)
        # residual LUTs in query blocks (ragged rows: one query a block),
        # so only the uint8 rows persist: the float (blk, p, M, ksub) LUT
        # tensor and (blk, p, d) residuals are scratch per block
        if isinstance(probes, np.ndarray):
            blocks = [(s, probes[s : s + 256]) for s in range(0, len(Q), 256)]
        else:
            blocks = [(qi, row[None, :]) for qi, row in enumerate(probes)]
        o = 0
        for s, P in blocks:
            nb, p = P.shape
            Rs = (Q[s : s + nb, None, :] - self.centroids[P]).reshape(
                nb, p, M, dsub
            )
            luts = (
                (Rs * Rs).sum(3)[:, :, :, None]
                + (books * books).sum(2)[None, None, :, :]
                - 2.0 * np.einsum("qpmd,mkd->qpmk", Rs, books)
            )
            for li in range(nb):
                lq, biasq[o : o + p], a[o : o + p], b[o : o + p] = (
                    quantize_lut_ivf(luts[li], np.zeros(p))
                )
                lut[o : o + p] = lq.reshape(p, M * ksub)
                o += p
        return _pack_terms(lut, biasq, a, b)

    def bind(self, list_no, Q, qsel, acc, scratch, T):
        M, ksub = self.pq.codebooks.shape[:2]
        lut, biasq, (a, b) = _unpack_terms(T, M * ksub, 2)
        lutq = lut.reshape(-1, M, ksub)

        def push(blk, ids):
            D16 = _saturating_lut_sum(lutq, blk[0], init=biasq)
            acc.push(D16 / a[:, None] + b[:, None], ids)

        return push


def fastscan_search_preassigned(
    index: "IVFPQFastScanIndex",
    queries: DataFrame,
    k: int,
    nprobe: int = 1,
    qid_col: str = "qid",
    qvec_col: str = "vec",
    max_cell_rows: int | None = 1_000_000,
) -> DataFrame:
    """Fully-distributed big-batch IVF fast-scan search — the
    search_preassigned twin of IVFPQFastScanIndex (reference
    contrib/ivf_tools.py pattern over faiss/IndexIVFPQFastScan.h).

    Fast-scan's LUTs are quantized PER QUERY (by_residual: jointly over
    the query's probes, quantize_lut.cpp:195), so the probe map builds
    them (``_PQ4Scanner.probe_terms``) and each (qid, list_no) probe row
    carries its LUT bytes, bias and (a, b) through the cogroup; the
    per-cell scan is the saturating LUT sum against the cell's codes.
    Arithmetic is the driver route's bit for bit, for both by_residual
    modes."""
    return _preassigned_cogrouped(
        index, queries, index._planner(nprobe), index._scanner(k),
        qid_col, qvec_col, max_cell_rows, k=k,
    )


# ------------------------------------------------------------ AQ fast-scan


def aq_quantize_lut(
    luts: np.ndarray, M_norm: int, norm_scale: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Quantize per-query AQ LUTs (reference
    quantize_lut.cpp:287 aq_quantize_LUT_and_bias with nprobe=1,
    bias=0), vectorized over queries. The last M_norm rows are the
    (already norm_scale-divided) norm tables; their spans count
    norm_scale times toward the accumulator-fit bound because the scan
    accumulates them norm_scale times (NormTableScaler).

    luts: (nq, M + M_norm, ksub). Returns (lutq uint8, a (nq,), b (nq,)).
    """
    luts = np.asarray(luts, np.float64)
    nq, Mtot, ksub = luts.shape
    mins = luts.min(axis=2)  # (nq, Mtot)
    spans = luts.max(axis=2) - mins
    w = np.ones(Mtot)
    w[Mtot - M_norm :] = norm_scale
    max_span_lut = spans.max(axis=1)
    max_span_dis = (spans * w[None, :]).sum(axis=1)
    with np.errstate(divide="ignore"):
        a = np.minimum(255.0 / max_span_lut, 65535.0 / max_span_dis)
    a = np.where(np.isfinite(a), a, 1.0)
    b = mins.sum(axis=1)
    lutq = np.floor((luts - mins[:, :, None]) * a[:, None, None] + 0.5)
    np.clip(lutq, 0.0, 255.0, out=lutq)
    return lutq.astype(np.uint8), a, b


def _norm_encode(norms: np.ndarray, norm_books: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Greedy 2-level 1-D RQ encode of scalar norms (the ST_norm_rq2x4
    norm codec shared by the flat and IVF AQ fast-scan paths)."""
    c0 = np.abs(norms[:, None] - norm_books[0][None, :]).argmin(1)
    r = norms - norm_books[0][c0]
    c1 = np.abs(r[:, None] - norm_books[1][None, :]).argmin(1)
    return c0.astype(np.uint8), c1.astype(np.uint8)


def _norm_decode(codes: np.ndarray, M: int, norm_books: np.ndarray) -> np.ndarray:
    """decoded ‖x̂‖² from the two norm code bytes at columns M, M+1."""
    return (
        norm_books[0][codes[:, M].astype(np.int64)]
        + norm_books[1][codes[:, M + 1].astype(np.int64)]
    )


def _fit_norm_books(norms: np.ndarray, ksub: int, seed: int) -> np.ndarray:
    """Train the (2, ksub) scalar-norm codebooks (2-level residual
    k-means on the 1-D norm values)."""
    from faiss_spark.operators.codecs import _kmeans_np

    nb0, lab0 = _kmeans_np(norms[:, None], min(ksub, len(norms)), 10, seed)
    resid = norms - nb0[lab0, 0]
    nb1, _ = _kmeans_np(resid[:, None], min(ksub, len(resid)), 10, seed + 1)
    # pad short codebooks (tiny train sets) with the LAST real centroid:
    # a 0.0 pad would act as a spurious centroid in _norm_encode's argmin
    # and inflate the norm span in _estimate_norm_scale
    norm_books = np.empty((2, ksub))
    norm_books[0, : len(nb0)] = nb0[:, 0]
    norm_books[0, len(nb0):] = nb0[-1, 0]
    norm_books[1, : len(nb1)] = nb1[:, 0]
    norm_books[1, len(nb1):] = nb1[-1, 0]
    return norm_books


def _estimate_norm_scale(
    Qs: np.ndarray, codebooks: np.ndarray, norm_books: np.ndarray
) -> int:
    """Mean norm-span / ip-LUT-span over a query sample, rounded and
    floored at 1 (reference estimate_norm_scale +
    quantize_lut.cpp:328 aq_estimate_norm_scale)."""
    ip = -2.0 * np.einsum("qd,mkd->qmk", Qs, codebooks)
    ip_span = (ip.max(2) - ip.min(2)).max(1)
    norm_span = max(
        norm_books[0].max() - norm_books[0].min(),
        norm_books[1].max() - norm_books[1].min(),
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        scale = float(np.mean(norm_span / ip_span))
    return int(round(max(scale, 1.0))) if np.isfinite(scale) else 1


@dataclass
class AQFastScanModel:
    """IndexAdditiveQuantizerFastScan, ST_norm_rq2x4 search semantics
    (reference faiss/IndexAdditiveQuantizerFastScan.cpp:155-185
    compute_float_LUT): codes are 4-bit RQ levels plus the vector's
    reconstruction norm ‖x̂‖² encoded by a 2-level 4-bit scalar RQ; the
    L2 estimate accumulates −2·⟨q, c_m⟩ inner-product LUTs and the norm
    tables, with the norm rows divided by norm_scale in the LUT and
    re-multiplied during accumulation (NormTableScaler) so they fit the
    uint8 range despite their larger span."""

    rq: "object"  # ResidualQuantizerModel (4-bit)
    norm_books: np.ndarray  # (2, ksub) scalar centroids per norm level
    norm_scale: int

    @property
    def M(self) -> int:
        return self.rq.M

    @property
    def ksub(self) -> int:
        return self.rq.ksub

    def encode_np(self, X: np.ndarray) -> np.ndarray:
        codes = self.rq.encode_np(X)  # (n, M)
        xhat = self.rq.decode_np(codes)
        norms = (xhat * xhat).sum(1)
        c0, c1 = _norm_encode(norms, self.norm_books)
        return np.concatenate([codes, c0[:, None], c1[:, None]], axis=1)

    def estimated_norm(self, codes: np.ndarray) -> np.ndarray:
        """decoded ‖x̂‖² from the two norm code bytes."""
        return _norm_decode(codes, self.M, self.norm_books)

    def float_luts(self, Q: np.ndarray) -> np.ndarray:
        """(nq, M+2, ksub) float LUTs: −2·⟨q, c_m⟩ rows then the
        norm_scale-divided norm tables (compute_float_LUT)."""
        nq = len(Q)
        ip = -2.0 * np.einsum("qd,mkd->qmk", Q, self.rq.codebooks)
        norm = np.broadcast_to(
            self.norm_books[None, :, :] / float(self.norm_scale),
            (nq, 2, self.ksub),
        )
        return np.concatenate([ip, norm], axis=1)


def train_aq_fastscan(
    vectors: "DataFrame",
    M: int = 16,
    niter: int = 10,
    seed: int = 1234,
    vec_col: str = "vec",
) -> AQFastScanModel:
    """Train 4-bit RQ codebooks + the 2×4-bit norm quantizer and estimate
    norm_scale from the training sample (reference
    IndexAdditiveQuantizerFastScan::estimate_norm_scale +
    quantize_lut.cpp:328 aq_estimate_norm_scale)."""
    from faiss_spark.operators.codecs import ResidualQuantizer, _sampled_matrix

    rq = ResidualQuantizer(M=M, nbits=4, niter=niter, seed=seed).fit(
        vectors, vec_col=vec_col
    )
    X = _sampled_matrix(vectors, vec_col, 16384, seed)
    xhat = rq.decode_np(rq.encode_np(X))
    norm_books = _fit_norm_books((xhat * xhat).sum(1), rq.ksub, seed)
    return AQFastScanModel(
        rq=rq,
        norm_books=norm_books,
        norm_scale=_estimate_norm_scale(
            X[: min(256, len(X))], rq.codebooks, norm_books
        ),
    )


def aq_fastscan_encode(
    model: AQFastScanModel,
    df: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    from faiss_spark.operators.codecs import encode_codes

    return encode_codes(model, df, id_col, vec_col)


def aq_fastscan_search(
    model: AQFastScanModel,
    codes_df: DataFrame,
    queries: DataFrame,
    k: int,
    qid_col: str = "qid",
    qvec_col: str = "vec",
) -> DataFrame:
    """L2 top-k over AQ fast-scan codes: quantized-LUT accumulation with
    the norm rows re-scaled during the scan; reported distance is the
    de-quantized estimate plus the per-query ‖q‖² constant. The
    ``(id, code)`` table is the one list of the shared IVF driver route,
    scanned by ``_AQ4Scanner`` with ``by_residual=False``."""
    return _scan_flat_codes(
        codes_df, queries, model.rq.codebooks.shape[2],
        _AQ4Scanner(model, None, False), "aq_fastscan_search", qid_col,
        qvec_col, k,
    )


# ------------------------------------------------------- IVF AQ fast-scan


def aq_quantize_lut_bias(
    luts: np.ndarray,
    bias: np.ndarray,
    M_norm: int,
    norm_scale: int,
) -> tuple[np.ndarray, np.ndarray, float, float]:
    """One query's 2-D AQ LUT + per-probe bias quantization (reference
    quantize_lut.cpp:287 aq_quantize_LUT_and_bias): the LUT is SHARED
    across probes (rows = −2·⟨q, cb_m⟩ then the norm tables), the probe
    difference lives entirely in bias[j] = −2·⟨q, c_j⟩; norm rows count
    norm_scale times toward the accumulator-fit bound.

    luts: (M + M_norm, ksub); bias: (nprobe,). Returns
    (lutq uint8, biasq uint16, a, b)."""
    luts = np.asarray(luts, np.float64)
    bias = np.asarray(bias, np.float64)
    Mtot = luts.shape[0]
    mins = luts.min(axis=1)
    spans = luts.max(axis=1) - mins
    bias_min = bias.min()
    w = np.ones(Mtot)
    w[Mtot - M_norm :] = norm_scale
    max_span_lut = spans.max()
    max_span_dis = (bias.max() - bias_min) + (spans * w).sum()
    with np.errstate(divide="ignore"):
        a = float(min(255.0 / max_span_lut, 65535.0 / max_span_dis))
    if not np.isfinite(a):
        a = 1.0
    b = float(mins.sum() + bias_min)
    lutq = np.floor((luts - mins[:, None]) * a + 0.5)
    np.clip(lutq, 0.0, 255.0, out=lutq)
    biasq = np.floor((bias - bias_min) * a + 0.5)
    np.clip(biasq, 0.0, 65535.0, out=biasq)
    return lutq.astype(np.uint8), biasq.astype(np.uint16), a, b


@dataclass
class IVFAQFastScanIndex(_IVFIndexBase):
    """IndexIVFAdditiveQuantizerFastScan semantics (reference
    faiss/IndexIVFAdditiveQuantizerFastScan.cpp:352-401): codes are the
    4-bit RQ of the RESIDUAL plus the 2×4-bit-encoded FULL-vector norm
    ‖x̂‖², so one 2-D LUT serves every probe —

        d(q, x) = q² − 2⟨q, c_j⟩ − 2⟨q, r̂⟩ + ‖x̂‖²

    with −2⟨q, c_j⟩ carried as the per-probe bias. Storage is the
    standard partitioned (list_no, id, code) table; the scan prunes to
    probed partitions exactly like IVFPQ/IVFAQ."""

    centroids: np.ndarray
    rq: "object"  # 4-bit ResidualQuantizerModel (on residuals, or raw
    # vectors when by_residual=False)
    norm_books: np.ndarray  # (2, ksub) over full-vector norms
    norm_scale: int = 1
    codes: DataFrame | None = None
    #: reference semantics (index_factory.cpp:367-380): plain x4fs is
    #: by_residual=false — RQ trained on/encoding RAW vectors, no
    #: per-probe bias, so at full probe the scan is bit-identical to
    #: aq_fastscan_search over the same codes; x4fsr opts into the
    #: residual encoding above
    by_residual: bool = True
    _twin = "aq_fastscan_search_preassigned"

    @property
    def M(self) -> int:
        return self.rq.M

    @property
    def ksub(self) -> int:
        return self.rq.ksub

    @staticmethod
    def train(
        vectors: DataFrame,
        nlist: int,
        M: int = 16,
        vec_col: str = "vec",
        seed: int = 1234,
        niter: int = 10,
        rq_niter: int = 10,
        by_residual: bool = True,
    ) -> "IVFAQFastScanIndex":
        from faiss_spark.operators.cluster import KMeans
        from faiss_spark.operators.codecs import (
            ResidualQuantizerModel,
            _kmeans_np,
            _sampled_matrix,
        )

        km = KMeans(k=nlist, niter=niter, seed=seed).fit(vectors, vec_col=vec_col)
        C = km.centroids
        if not by_residual:
            # coarse k-means for pruning only; the flat raw-vector AQ
            # fast-scan model IS the codec (train_aq_fastscan)
            model = train_aq_fastscan(
                vectors, M=M, niter=rq_niter, seed=seed, vec_col=vec_col
            )
            return IVFAQFastScanIndex(
                centroids=C,
                rq=model.rq,
                norm_books=model.norm_books,
                norm_scale=model.norm_scale,
                by_residual=False,
            )
        X = _sampled_matrix(vectors, vec_col, 16384, seed)
        d2 = (X * X).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * (X @ C.T)
        lists = d2.argmin(1)
        resid = X - C[lists]
        ksub = min(16, len(resid))
        books = np.empty((M, ksub, X.shape[1]), np.float64)
        r = resid.copy()
        for m in range(M):
            books[m], labels = _kmeans_np(r, ksub, rq_niter, seed + m)
            r = r - books[m][labels]
        rq = ResidualQuantizerModel(codebooks=books, beam=4)
        # norm quantizer over FULL reconstructed norms ‖c + r̂‖²
        xhat = C[lists] + rq.decode_np(rq.encode_np(resid))
        norm_books = _fit_norm_books((xhat * xhat).sum(1), ksub, seed)
        # norm_scale from the training sample's ip-LUT spans
        # (estimate_norm_scale, IndexIVFAdditiveQuantizerFastScan.cpp:242)
        return IVFAQFastScanIndex(
            centroids=C,
            rq=rq,
            norm_books=norm_books,
            norm_scale=_estimate_norm_scale(
                X[: min(256, len(X))], books, norm_books
            ),
        )

    def _encoder(self):
        def encode(state, X):
            C, rqm, nbk, by_res = state
            d2 = (X * X).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * (X @ C.T)
            lists = d2.argmin(1)
            if by_res:
                rcodes = rqm.encode_np(X - C[lists])
                xhat = C[lists] + rqm.decode_np(rcodes)
            else:
                rcodes = rqm.encode_np(X)
                xhat = rqm.decode_np(rcodes)
            c0, c1 = _norm_encode((xhat * xhat).sum(1), nbk)
            return lists, np.concatenate([rcodes, c0[:, None], c1[:, None]], axis=1)

        # the MODEL travels, not bare codebooks: a ProductAQAdapter must
        # encode per split on executors (a flat beam search over its
        # padded codebooks would produce different codes)
        return (self.centroids, self.rq, self.norm_books, self.by_residual), encode

    def _scanner(self, k: int, **kw):
        model = AQFastScanModel(
            rq=self.rq, norm_books=self.norm_books, norm_scale=self.norm_scale
        )
        return _AQ4Scanner(model, self.centroids, self.by_residual)


class _AQ4Scanner(_ListScanner):
    """IVF additive-quantizer fast-scan lists
    (IndexIVFAdditiveQuantizerFastScan.cpp:352-401; RQ, and PRQ/PLSQ
    through ProductAQAdapter; both by_residual modes). ``probe_terms``
    builds ONE 2-D LUT per query shared by its probes
    (AQFastScanModel.float_luts): by_residual quantizes it with the
    per-probe −2⟨q, c_j⟩ bias (aq_quantize_lut_bias), otherwise exactly
    as the flat aq_fastscan LUT, so at full probe results equal
    aq_fastscan_search (whose one-list scan this scanner is). A push is
    the NormTableScaler saturating sum, de-quantized, plus ‖q‖².
    ``centroids`` are read by the residual mode only."""

    def __init__(self, model: AQFastScanModel, centroids, by_residual: bool):
        self.model, self.centroids, self.by_residual = model, centroids, by_residual

    def block(self, cols):
        return (arrow_binary_matrix(cols[0]),)

    def probe_terms(self, Q, probes):
        m = self.model
        L = (m.M + 2) * m.ksub
        rep, _ = _probe_pairs(probes)
        luts = m.float_luts(Q)  # (nq, M+2, ksub)
        if self.by_residual:
            qc = Q @ self.centroids.T  # ⟨q, c⟩ for the per-probe bias
            lutq = np.empty((len(Q), m.M + 2, m.ksub), np.uint8)
            biasq = np.empty(len(rep), np.uint16)
            a, b = np.empty(len(Q)), np.empty(len(Q))
            o = 0
            for qi, row in enumerate(probes):
                lutq[qi], biasq[o : o + len(row)], a[qi], b[qi] = (
                    aq_quantize_lut_bias(
                        luts[qi], -2.0 * qc[qi, row], M_norm=2,
                        norm_scale=m.norm_scale,
                    )
                )
                o += len(row)
        else:
            lutq, a, b = aq_quantize_lut(luts, M_norm=2, norm_scale=m.norm_scale)
            biasq = np.zeros(len(rep), np.uint16)
        qsq = (Q * Q).sum(1)
        return _pack_terms(
            lutq.reshape(len(Q), L)[rep], biasq, a[rep], b[rep], qsq[rep]
        )

    def bind(self, list_no, Q, qsel, acc, scratch, T):
        M, ksub = self.model.M, self.model.ksub
        lut, biasq, (a, b, qsq) = _unpack_terms(T, (M + 2) * ksub, 3)
        lutq = lut.reshape(-1, M + 2, ksub)
        weights = np.ones(M + 2, np.int64)
        weights[M:] = self.model.norm_scale

        def push(blk, ids):
            D16 = _saturating_lut_sum(
                lutq, blk[0], init=biasq, row_weights=weights
            )
            acc.push(D16 / a[:, None] + b[:, None] + qsq[:, None], ids)

        return push


def aq_fastscan_search_preassigned(
    index: "IVFAQFastScanIndex",
    queries: DataFrame,
    k: int,
    nprobe: int = 1,
    qid_col: str = "qid",
    qvec_col: str = "vec",
    max_cell_rows: int | None = 1_000_000,
) -> DataFrame:
    """Distributed big-batch twin of IVFAQFastScanIndex.search
    (reference IndexIVFAdditiveQuantizerFastScan.cpp:352-401): the probe
    map builds each query's LUT and quantizes it with the per-probe
    −2⟨q,c_j⟩ bias exactly as the driver route (``_AQ4Scanner``), and
    each (qid, list_no) probe row ships (lut bytes, bias, a, b, ‖q‖²)
    through the cogroup — the per-cell scan is the same NormTableScaler
    saturating sum. Covers both by_residual modes, PRQ/PLSQ included
    (the ProductAQAdapter rides inside rq)."""
    return _preassigned_cogrouped(
        index, queries, index._planner(nprobe), index._scanner(k),
        qid_col, qvec_col, max_cell_rows, k=k,
    )


# --------------------------------------- product-AQ fast-scan (PRQ/PLSQ)


class ProductAQAdapter:
    """Present a ProductAdditiveQuantizerModel as a plain additive
    quantizer: a product of additive quantizers IS an additive quantizer
    whose per-split codebooks are zero-padded to full dimension
    (reference faiss/impl/ProductAdditiveQuantizer.h:28 derives from
    AdditiveQuantizer exactly this way — decode and LUT math are the
    ordinary gather-sum over (M_total, ksub, d) codebooks, while ENCODING
    stays per-split). With the adapter every AQ fast-scan code path
    (float_luts, quantization, norm books, flat + IVF scans, save/load)
    works unchanged for PRQ/PLSQ (reference index_factory.cpp:381-395
    IndexIVFProduct{Residual,LocalSearch}QuantizerFastScan and :625-640
    the flat forms)."""

    def __init__(self, paq, beam: int = 4):
        self.paq = paq
        self.beam = beam
        subs = paq.subs
        dsub = paq.dsub
        d = dsub * len(subs)
        ksubs = {s.codebooks.shape[1] for s in subs}
        if len(ksubs) != 1:
            raise ValueError(
                f"PRQ/PLSQ fast-scan needs a uniform ksub across splits, "
                f"got {sorted(ksubs)}"
            )
        m_total = sum(s.M for s in subs)
        books = np.zeros((m_total, ksubs.pop(), d), np.float64)
        off = 0
        for s_i, s in enumerate(subs):
            books[off : off + s.M, :, s_i * dsub : (s_i + 1) * dsub] = (
                s.codebooks
            )
            off += s.M
        self.codebooks = books

    @property
    def M(self) -> int:
        return self.codebooks.shape[0]

    @property
    def ksub(self) -> int:
        return self.codebooks.shape[1]

    def encode_np(self, X: np.ndarray) -> np.ndarray:
        return self.paq.encode_np(X)

    def decode_np(self, codes: np.ndarray) -> np.ndarray:
        return self.paq.decode_np(codes)


def train_paq_fastscan(
    vectors: "DataFrame",
    nsplits: int = 2,
    Msub: int = 2,
    lsq: bool = False,
    niter: int = 10,
    seed: int = 1234,
    vec_col: str = "vec",
) -> AQFastScanModel:
    """Train a 4-bit PRQ/PLSQ codec + the 2x4-bit norm quantizer: the
    flat IndexProduct{Residual,LocalSearch}QuantizerFastScan of the
    reference (index_factory.cpp:625-640), searched through the SAME
    ST_norm_rq2x4 LUT machinery as RQ fast-scan."""
    from faiss_spark.operators.codecs import (
        ProductAdditiveQuantizer,
        _sampled_matrix,
    )

    paq = ProductAdditiveQuantizer(
        nsplits=nsplits, M_per_split=Msub, nbits=4, niter=niter, seed=seed,
        lsq=lsq,
    ).fit(vectors, vec_col=vec_col)
    rq = ProductAQAdapter(paq)
    X = _sampled_matrix(vectors, vec_col, 16384, seed)
    xhat = rq.decode_np(rq.encode_np(X))
    norm_books = _fit_norm_books((xhat * xhat).sum(1), rq.ksub, seed)
    return AQFastScanModel(
        rq=rq,
        norm_books=norm_books,
        norm_scale=_estimate_norm_scale(
            X[: min(256, len(X))], rq.codebooks, norm_books
        ),
    )


def train_ivf_paq_fastscan(
    vectors: "DataFrame",
    nlist: int,
    nsplits: int = 2,
    Msub: int = 2,
    lsq: bool = False,
    vec_col: str = "vec",
    seed: int = 1234,
    niter: int = 10,
    paq_niter: int = 10,
    by_residual: bool = True,
) -> "IVFAQFastScanIndex":
    """IVF<n>,PRQ/PLSQ<ns>x<M>x4fs[r] (reference index_factory.cpp:381-395):
    coarse k-means + 4-bit product-additive codes, searched through the
    IVFAQFastScanIndex machinery via the ProductAQAdapter. Plain x4fs =
    by_residual=false (codec on RAW vectors, one shared LUT per query —
    at full probe bit-identical to the flat PRQ fast-scan over the same
    codes); x4fsr encodes residuals, built by feeding the residual frame
    (map-only, broadcast centroids) to the SAME distributed PAQ trainer
    the flat codec uses."""
    from faiss_spark.operators.cluster import KMeans
    from faiss_spark.operators.codecs import (
        ProductAdditiveQuantizer,
        _sampled_matrix,
    )

    km = KMeans(k=nlist, niter=niter, seed=seed).fit(vectors, vec_col=vec_col)
    C = km.centroids
    if not by_residual:
        model = train_paq_fastscan(
            vectors, nsplits=nsplits, Msub=Msub, lsq=lsq, niter=paq_niter,
            seed=seed, vec_col=vec_col,
        )
        return IVFAQFastScanIndex(
            centroids=C,
            rq=model.rq,
            norm_books=model.norm_books,
            norm_scale=model.norm_scale,
            by_residual=False,
        )
    spark = vectors.sparkSession
    bc = spark.sparkContext.broadcast(C)

    def to_resid(batches):
        import pyarrow as pa

        C_ = bc.value
        cn = (C_ * C_).sum(1)
        for b in batches:
            if b.num_rows == 0:
                continue
            X = arrow_list_matrix(b.column(0))
            d2 = (X * X).sum(1)[:, None] + cn[None, :] - 2.0 * (X @ C_.T)
            resid = X - C_[d2.argmin(1)]
            yield pa.RecordBatch.from_arrays([arrow_list(resid)], names=["vec"])

    resid_df = vectors.select(F.col(vec_col).alias("vec")).mapInArrow(
        to_resid, schema="vec array<double>"
    )
    paq = ProductAdditiveQuantizer(
        nsplits=nsplits, M_per_split=Msub, nbits=4, niter=paq_niter,
        seed=seed, lsq=lsq,
    ).fit(resid_df, vec_col="vec")
    rq = ProductAQAdapter(paq)
    # norm quantizer over FULL reconstructed norms ||c + r^||^2
    X = _sampled_matrix(vectors, vec_col, 16384, seed)
    d2 = (X * X).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * (X @ C.T)
    lists = d2.argmin(1)
    xhat = C[lists] + rq.decode_np(rq.encode_np(X - C[lists]))
    norm_books = _fit_norm_books((xhat * xhat).sum(1), rq.ksub, seed)
    return IVFAQFastScanIndex(
        centroids=C,
        rq=rq,
        norm_books=norm_books,
        norm_scale=_estimate_norm_scale(
            X[: min(256, len(X))], rq.codebooks, norm_books
        ),
    )
