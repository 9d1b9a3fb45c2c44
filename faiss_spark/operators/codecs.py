"""Quantizer codecs: ScalarQuantizer, ProductQuantizer — SURVEY §2.D.

Reference: faiss/impl/ScalarQuantizer.h:26-48 (QT_8bit/4bit/fp16 &c),
faiss/impl/ProductQuantizer.h:25-147. A codec is an estimator producing a
small artifact (ranges / codebooks) plus `encode` (vec -> BINARY column)
and `decode` (BINARY -> vec) distributed transforms — the Spark face of
``sa_encode``/``sa_decode`` (faiss/Index.h:255-271).

Encoded tables keep the (id, code BINARY) layout of IndexFlatCodes
(faiss/IndexFlatCodes.h:23-28); `adc_search` scans codes with a per-query
lookup table exactly like IndexPQ's ADC (faiss/IndexPQ.h:24).

Quantization semantics (match the reference so error bounds carry over):
  SQ8/SQ4: unit = vdiff / (2^bits − 1);
           code = floor((x − vmin) / unit), clamped to [0, 2^bits − 1];
           decode = vmin + (code + 0.5) · unit — the reference Codec8bit
           form (ScalarQuantizer.cpp: code = int(255·x), decode
           (code + 0.5)/255), so reconstructions are value-compatible.
  fp16   : IEEE half roundtrip via numpy float16.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from faiss_spark.kernels import (
    arrow_binary,
    arrow_binary_matrix,
    arrow_list,
    arrow_list_matrix,
)


def _kmeans_np(X: np.ndarray, k: int, niter: int, seed: int) -> tuple:
    """Small deterministic Lloyd's for codebook training (driver-side,
    used for PQ sub-spaces and OPQ; same role as Clustering with
    a temp IndexFlat in the reference)."""
    rng = np.random.default_rng(seed)
    k = min(k, len(X))
    C = X[rng.permutation(len(X))[:k]].copy()
    labels = None
    for _ in range(niter):
        # argmin needs only ||c||² − 2x·c (||x||² is constant per row);
        # GEMM form instead of an n×k×d broadcast temp
        d2 = (C * C).sum(1)[None, :] - 2.0 * (X @ C.T)
        labels = d2.argmin(1)
        # bincount scatter update (cluster._scatter_sum: bit-identical
        # to add.at — same per-bin accumulation order — ~15× faster)
        from faiss_spark.operators.cluster import _scatter_sum

        sums = _scatter_sum(labels, X, len(C)).astype(C.dtype, copy=False)
        counts = np.bincount(labels, minlength=k)
        nz = counts > 0
        C[nz] = sums[nz] / counts[nz, None]
    return C, labels


def _sampled_matrix(df: DataFrame, vec_col: str, max_train: int, seed: int):
    n = df.count()
    sample = df.select(vec_col)
    if n > max_train:
        frac = min(1.0, 1.2 * max_train / n)
        sample = sample.sample(fraction=frac, seed=seed).limit(max_train)
    return arrow_list_matrix(sample.toArrow().column(vec_col))


def _map_codec(df: DataFrame, id_col: str, in_cols, fn, out_schema: str) -> DataFrame:
    """Map-only ``mapInArrow`` shared by every codec's Spark face: the id
    (cast to bigint) passes through untouched and ``fn(*columns)`` maps
    the Arrow input column(s) of each non-empty batch to the one output
    column; output names come from ``out_schema``."""
    in_cols = [in_cols] if isinstance(in_cols, str) else list(in_cols)
    src = df.select(F.col(id_col).cast("bigint").alias("id"), *in_cols)
    names = [f.split()[0] for f in out_schema.split(",")]

    def do(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows:
                yield pa.RecordBatch.from_arrays(
                    [b.column(0), fn(*b.columns[1:])], names=names
                )

    return src.mapInArrow(do, schema=out_schema)


def decode_column(model, codes) -> np.ndarray:
    """float64 vectors of an Arrow code column: the stored bytes read as
    ``model.code_dtype`` sub-codes, through ``model.decode_np``."""
    return model.decode_np(arrow_binary_matrix(codes).view(model.code_dtype))


def encode_codes(
    model, df: DataFrame, id_col: str = "id", vec_col: str = "vec"
) -> DataFrame:
    """(id, vec) -> (id, code BINARY) through ``model.encode_np`` — the
    one Spark encode of every codec (reference sa_encode,
    faiss/Index.h:255); a code is ``bytes`` of its encode_np row."""
    return _map_codec(
        df, id_col, vec_col,
        lambda v: arrow_binary(model.encode_np(arrow_list_matrix(v))),
        "id bigint, code binary",
    )


class _CodecFace:
    """Spark ``encode``/``decode`` of a codec model with numpy
    ``encode_np``/``decode_np`` kernels; codes are stored as
    ``code_dtype`` bytes."""

    code_dtype = np.uint8

    def encode(
        self, df: DataFrame, id_col: str = "id", vec_col: str = "vec"
    ) -> DataFrame:
        return encode_codes(self, df, id_col, vec_col)

    def decode(
        self, df: DataFrame, id_col: str = "id", code_col: str = "code"
    ) -> DataFrame:
        """(id, code) -> (id, vec array<float>) through ``decode_np`` —
        the one Spark decode of every codec (reference sa_decode,
        faiss/Index.h:271)."""
        return _map_codec(
            df, id_col, code_col,
            lambda c: arrow_list(decode_column(self, c).astype(np.float32)),
            "id bigint, vec array<float>",
        )


# ============================================================ ScalarQuantizer


@dataclass
class ScalarQuantizerModel(_CodecFace):
    """Per-dimension linear quantizer (reference ScalarQuantizer, trained
    ranges, faiss/impl/ScalarQuantizer.h:26-48).

    variant:
      "trained"  per-dim (vmin, vdiff) — QT_4bit/6bit/8bit (the default
                 non-uniform trained form; faiss train_NonUniform)
      "uniform"  one global (vmin, vdiff) for every dim — QT_*bit_uniform
                 (faiss train_Uniform; vmin/vdiff still stored as (d,)
                 arrays with identical entries so the kernels are shared)
      "direct"   QT_8bit_direct: code = uint8(x), decode = float(code) —
                 for data already laid out as byte values
    """

    vmin: np.ndarray  # (d,)
    vdiff: np.ndarray  # (d,)
    bits: int  # 8, 6, 4, or 16 (fp16)
    variant: str = "trained"

    @property
    def d(self) -> int:
        return len(self.vmin)

    def code_size(self) -> int:
        """Bytes per vector (reference sa_code_size)."""
        if self.bits == 16:
            return 2 * self.d
        return (self.d * self.bits + 7) // 8

    # -- numpy kernels (shared by the distributed transforms) --------------
    def encode_np(self, X: np.ndarray) -> np.ndarray:
        if self.bits == 16:
            return X.astype(np.float16).view(np.uint8).reshape(len(X), -1)
        levels = (1 << self.bits) - 1
        if self.variant == "direct":
            # Codec8bitDirect: truncate to the byte value itself
            return np.clip(np.floor(X), 0, 255).astype(np.uint8)
        unit = self.vdiff / levels
        unit = np.where(unit == 0, 1.0, unit)
        q = np.floor((X - self.vmin) / unit)
        q = np.clip(q, 0, levels).astype(np.uint8)
        if self.bits == 8:
            return q
        if self.bits == 4:
            # pack two components per byte, low nibble first
            if self.d % 2:
                q = np.concatenate([q, np.zeros((len(q), 1), np.uint8)], axis=1)
            return (q[:, 0::2] | (q[:, 1::2] << 4)).astype(np.uint8)
        # 6-bit (reference Codec6bit): bit-pack 6 bits per component
        bits6 = (q[:, :, None] >> np.arange(5, -1, -1)[None, None, :]) & 1
        return np.packbits(bits6.reshape(len(q), -1), axis=1)

    def decode_np(self, codes: np.ndarray) -> np.ndarray:
        if self.bits == 16:
            return codes.view(np.float16).astype(np.float64)
        if self.variant == "direct":
            return codes.astype(np.float64)
        levels = (1 << self.bits) - 1
        unit = self.vdiff / levels
        if self.bits == 8:
            q = codes.astype(np.float64)
        elif self.bits == 4:
            lo = codes & 0x0F
            hi = codes >> 4
            q = np.empty((len(codes), codes.shape[1] * 2), np.float64)
            q[:, 0::2] = lo
            q[:, 1::2] = hi
            q = q[:, : self.d]
        else:  # 6-bit unpack
            flat = np.unpackbits(codes, axis=1)[:, : self.d * 6]
            weights = (1 << np.arange(5, -1, -1)).astype(np.float64)
            q = flat.reshape(len(codes), self.d, 6) @ weights
        return self.vmin + (q + 0.5) * unit


def _sq_optim_ranges(
    X: np.ndarray, k: int, niter: int = 500
) -> tuple[np.ndarray, np.ndarray]:
    """RS_optim range training (reference ScalarQuantizer.cpp:499-560
    train_Uniform RS_optim), vectorized across dims: alternate between
    assigning each component its nearest of k levels and solving the 2×2
    least-squares for the affine (a, b) that minimizes reconstruction
    error. Per-dim early stop after 16 iterations with unchanged error,
    exactly as the reference.

    One deliberate deviation: the reference stores vmin = b, which
    leaves a half-bin offset between the trained levels (b + ni·a) and
    the codec's decode-at-bin-centers (vmin + (q+0.5)·unit) — the ALS
    optimum is not what decode reproduces. We return vmin = b − a/2 so
    decode lands EXACTLY on the trained levels; reconstruction error is
    then monotone-better than the minmax-range initialization by
    construction."""
    n, d = X.shape
    vmin0, vmax0 = X.min(0), X.max(0)
    a = (vmax0 - vmin0).astype(np.float64) / (k - 1)
    a = np.where(a == 0, 1.0, a)
    # init at the CENTER-aligned minmax points (b + q·a == the codec's
    # decode points for minmax ranges) rather than the reference's
    # endpoint-aligned b = vmin: the ALS is monotone in its objective, so
    # starting AT the minmax codec scheme guarantees the trained ranges
    # never reconstruct worse than rangestat="minmax"
    b = vmin0.astype(np.float64) + a / 2.0
    sx = X.sum(0)
    last_err = np.full(d, -1.0)
    stall = np.zeros(d, np.int64)
    for _ in range(niter):
        NI = np.clip(np.floor((X - b) / a + 0.5), 0, k - 1)
        err1 = ((X - (NI * a + b)) ** 2).sum(0)
        stall = np.where(err1 == last_err, stall + 1, 0)
        last_err = err1
        active = stall < 16
        if not active.any():
            break
        sn = NI.sum(0)
        sn2 = (NI * NI).sum(0)
        sxn = (NI * X).sum(0)
        det = sn * sn - sn2 * n
        safe = np.where(det == 0, 1.0, det)
        b = np.where(active & (det != 0), (sn * sxn - sn2 * sx) / safe, b)
        a_new = np.where(active & (det != 0), (sn * sx - n * sxn) / safe, a)
        a = np.where(a_new == 0, a, a_new)
    # half-bin shift so decode-at-centers reproduces the trained levels:
    # vmin = b − a/2 and vdiff = a·(k−1) give unit = a and decode points
    # vmin + (q+0.5)·a = b + q·a for q = 0..k−1
    return b - a / 2.0, b + a * (k - 1.5)


class ScalarQuantizer:
    """Estimator for the ScalarQuantizer variants (reference
    faiss/impl/ScalarQuantizer.h:26-48):

      bits=4/6/8, uniform=False  QT_4bit/6bit/8bit — per-dim trained
                                 ranges (non-uniform, the quality default)
      bits=4/8,  uniform=True    QT_4bit_uniform/8bit_uniform — one global
                                 range across dims
      bits=8,    direct=True     QT_8bit_direct — no training, code=uint8(x)
      bits=16                    QT_fp16

    rangestat (reference faiss/impl/ScalarQuantizer.h:40-48 RangeStat +
    ScalarQuantizer.cpp train_Uniform/train_NonUniform):
      "minmax"    RS_minmax — exact distributed min/max
      "meanstd"   RS_meanstd — lo/hi = mean ∓ rs_arg·std (rs_arg def. 3)
      "quantiles" RS_quantiles — lo/hi = Q(rs_arg)/Q(1−rs_arg) order
                  statistics (rs_arg def. 0.05); exact `percentile`
                  aggregate here, `percentile_approx` is the drop-in at
                  corpus scale (a t-digest sketch, map-side combinable)
      "optim"     RS_optim — per-dim alternating least squares on the
                  affine (a, b) minimizing reconstruction error
                  (ScalarQuantizer.cpp:499-560), run vectorized across
                  dims on a seeded driver sample (the reference trains on
                  its in-RAM training set; sampling is the Spark twin of
                  that bound, same as PQ codebook training)
    The first three are each ONE distributed aggregation over posexploded
    components — exact, partition-order independent, map-side partial."""

    def __init__(
        self,
        bits: int = 8,
        uniform: bool = False,
        direct: bool = False,
        rangestat: str = "minmax",
        rs_arg: float | None = None,
        optim_niter: int = 500,
        seed: int = 1234,
    ):
        if bits not in (4, 6, 8, 16):
            raise ValueError("bits must be 4, 6, 8 (int codes) or 16 (fp16)")
        if direct and bits != 8:
            raise ValueError("8bit_direct requires bits=8")
        if rangestat not in ("minmax", "meanstd", "quantiles", "optim"):
            raise ValueError(
                "rangestat must be 'minmax', 'meanstd', 'quantiles' or 'optim'"
            )
        if rs_arg is None:
            rs_arg = {"meanstd": 3.0, "quantiles": 0.05}.get(rangestat, 0.0)
        if rangestat == "quantiles" and not 0.0 <= rs_arg < 0.5:
            raise ValueError("quantiles rs_arg must be in [0, 0.5)")
        self.bits = bits
        self.uniform = uniform
        self.direct = direct
        self.rangestat = rangestat
        self.rs_arg = rs_arg
        self.optim_niter = optim_niter
        self.seed = seed

    @staticmethod
    def from_qtype(qtype: str) -> "ScalarQuantizer":
        """faiss QuantizerType names → estimator config."""
        table = {
            "QT_8bit": dict(bits=8),
            "QT_4bit": dict(bits=4),
            "QT_6bit": dict(bits=6),
            "QT_8bit_uniform": dict(bits=8, uniform=True),
            "QT_4bit_uniform": dict(bits=4, uniform=True),
            "QT_fp16": dict(bits=16),
            "QT_8bit_direct": dict(bits=8, direct=True),
        }
        if qtype not in table:
            raise ValueError(f"unknown/unsupported quantizer type {qtype!r}")
        return ScalarQuantizer(**table[qtype])

    def fit(self, df: DataFrame, vec_col: str = "vec") -> ScalarQuantizerModel:
        d = df.select(F.size(vec_col)).first()[0]
        if self.bits == 16:
            return ScalarQuantizerModel(
                vmin=np.zeros(d), vdiff=np.ones(d), bits=16
            )
        if self.direct:
            return ScalarQuantizerModel(
                vmin=np.zeros(d), vdiff=np.full(d, 255.0), bits=8,
                variant="direct",
            )
        if self.rangestat == "optim":
            X = _sampled_matrix(df, vec_col, 65536, self.seed)
            if self.uniform:
                lo, hi = _sq_optim_ranges(
                    X.reshape(-1, 1), 1 << self.bits, self.optim_niter
                )
                vmin, vmax = np.full(d, lo[0]), np.full(d, hi[0])
            else:
                vmin, vmax = _sq_optim_ranges(
                    X, 1 << self.bits, self.optim_niter
                )
            return ScalarQuantizerModel(
                vmin=vmin, vdiff=vmax - vmin, bits=self.bits,
                variant="uniform" if self.uniform else "trained",
            )
        comp = df.select(F.posexplode(vec_col).alias("pos", "x"))
        if self.rangestat == "quantiles":
            # reference train ranges pick the sorted offsets
            # x[o], x[n-1-o] with o = rs_arg·n; `percentile` is the same
            # order statistic with linear interpolation between ranks
            pexpr = F.expr(
                f"percentile(x, array({self.rs_arg}, {1.0 - self.rs_arg}))"
            ).alias("p")
            if self.uniform:
                # train_Uniform quantiles run over ALL n·d components
                p = comp.agg(pexpr).first()["p"]
                return ScalarQuantizerModel(
                    vmin=np.full(d, p[0]), vdiff=np.full(d, p[1] - p[0]),
                    bits=self.bits, variant="uniform",
                )
            stats = comp.groupBy("pos").agg(pexpr).orderBy("pos").collect()
            vmin = np.array([r["p"][0] for r in stats], dtype=np.float64)
            vmax = np.array([r["p"][1] for r in stats], dtype=np.float64)
            return ScalarQuantizerModel(
                vmin=vmin, vdiff=vmax - vmin, bits=self.bits, variant="trained"
            )
        if self.rangestat == "meanstd":
            stats = (
                comp.groupBy("pos")
                .agg(F.avg("x").alias("mu"), F.stddev_pop("x").alias("sd"))
                .orderBy("pos")
                .collect()
            )
            mu = np.array([r["mu"] for r in stats], dtype=np.float64)
            sd = np.array([r["sd"] for r in stats], dtype=np.float64)
            vmin, vmax = mu - self.rs_arg * sd, mu + self.rs_arg * sd
        else:
            stats = (
                comp.groupBy("pos")
                .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
                .orderBy("pos")
                .collect()
            )
            vmin = np.array([r["lo"] for r in stats], dtype=np.float64)
            vmax = np.array([r["hi"] for r in stats], dtype=np.float64)
        if self.uniform:
            vmin = np.full(d, vmin.min())
            vmax = np.full(d, vmax.max())
        return ScalarQuantizerModel(
            vmin=vmin, vdiff=vmax - vmin, bits=self.bits,
            variant="uniform" if self.uniform else "trained",
        )


# =========================================================== ProductQuantizer


@dataclass
class ProductQuantizerModel(_CodecFace):
    """M sub-space codebooks, (M, ksub, dsub) — reference
    faiss/impl/ProductQuantizer.h:25-147."""

    codebooks: np.ndarray  # (M, ksub, dsub) float64

    @property
    def M(self) -> int:
        return self.codebooks.shape[0]

    @property
    def ksub(self) -> int:
        return self.codebooks.shape[1]

    @property
    def dsub(self) -> int:
        return self.codebooks.shape[2]

    @property
    def code_dtype(self):
        """uint8 for ≤ 8-bit sub-codes, uint16 for 9..16 (the reference
        bit-packs arbitrary widths — ProductQuantizer.h:30; two whole
        bytes carry the same information, and parquet byte-dictionary
        encoding recovers most of the slack)."""
        return np.uint8 if self.ksub <= 256 else np.uint16

    def code_size(self) -> int:
        return self.M * (1 if self.ksub <= 256 else 2)

    def encode_np(self, X: np.ndarray) -> np.ndarray:
        n = len(X)
        codes = np.empty((n, self.M), self.code_dtype)
        for m in range(self.M):
            sub = X[:, m * self.dsub : (m + 1) * self.dsub]
            C = self.codebooks[m]
            d2 = (
                (sub * sub).sum(1)[:, None]
                + (C * C).sum(1)[None, :]
                - 2.0 * (sub @ C.T)
            )
            codes[:, m] = d2.argmin(1)
        return codes

    def decode_np(self, codes: np.ndarray) -> np.ndarray:
        n = len(codes)
        X = np.empty((n, self.M * self.dsub), np.float64)
        for m in range(self.M):
            X[:, m * self.dsub : (m + 1) * self.dsub] = self.codebooks[m][
                codes[:, m]
            ]
        return X

    def distance_table(self, q: np.ndarray) -> np.ndarray:
        """(M, ksub) per-query ADC lookup table (reference
        compute_distance_table, ProductQuantizer.h:103)."""
        T = np.empty((self.M, self.ksub), np.float64)
        for m in range(self.M):
            sub = q[m * self.dsub : (m + 1) * self.dsub]
            T[m] = ((self.codebooks[m] - sub) ** 2).sum(1)
        return T


    def adc_search(
        self,
        codes_df: DataFrame,
        queries: DataFrame,
        k: int,
        qid_col: str = "qid",
        qvec_col: str = "vec",
        polysemous_ht: int | None = None,
    ) -> DataFrame:
        """Asymmetric-distance top-k over an encoded ``(id, code)`` table
        (the IndexPQ ADC scan, reference faiss/IndexPQ.h:24; LUT trick of
        faiss/impl/ProductQuantizer.h:117 'search'): the table is scanned
        as the one list of the shared IVF driver route — each query's
        ``distance_table`` built once on the driver, then a per-m LUT
        gather-sum per code block (ivf._PQLUTScanner) and the window
        top-k. Past the driver query bound it raises.

        polysemous_ht: with polysemous-trained codebooks, skip candidates
        whose code Hamming distance to the query's own code exceeds ht
        (reference faiss/IndexPQ.h:35 search_core polysemous filter; the
        SIFT1M rows of BASELINE.md). ht > M·8 disables the filter (strict hd < ht, as the reference)."""
        from faiss_spark.operators.ivf import _PQLUTScanner, _scan_flat_codes

        return _scan_flat_codes(
            codes_df, queries, self.M * self.dsub,
            _PQLUTScanner(self, polysemous_ht=polysemous_ht),
            "pq_adc_search", qid_col, qvec_col, k,
        )

    def sdc_table(self) -> np.ndarray:
        """(M, ksub, ksub) symmetric inter-centroid squared-L2 tables
        (reference ProductQuantizer::compute_sdc_table,
        faiss/impl/ProductQuantizer.cpp sdc_table)."""
        T = np.empty((self.M, self.ksub, self.ksub), np.float64)
        for m in range(self.M):
            C = self.codebooks[m]
            n2 = (C * C).sum(1)
            T[m] = n2[:, None] + n2[None, :] - 2.0 * (C @ C.T)
        return T

    def sdc_search(
        self,
        codes_df: DataFrame,
        queries: DataFrame,
        k: int,
        qid_col: str = "qid",
        qvec_col: str = "vec",
    ) -> DataFrame:
        """Symmetric-distance top-k: queries are PQ-ENCODED and distances
        come from the precomputed (M, ksub, ksub) inter-centroid tables —
        both sides quantized, no query-time subvector arithmetic
        (reference IndexPQ SDC search, faiss/IndexPQ.h:49
        ``search_core`` with ``st == ST_SDC``; the BASELINE.md SIFT1M
        PQ64-SDC row). A query's LUT is the ``sdc_table`` row gather of
        its code; the scan is then the ADC one (the same one-list route
        and ivf._PQLUTScanner push)."""
        from faiss_spark.operators.ivf import _PQLUTScanner, _scan_flat_codes

        return _scan_flat_codes(
            codes_df, queries, self.M * self.dsub, _PQLUTScanner(self, sdc=True),
            "pq_sdc_search", qid_col, qvec_col, k,
        )


def _hamming_table(nbits: int) -> np.ndarray:
    """(2^nbits, 2^nbits) pairwise popcount(a ^ b) table."""
    n = 1 << nbits
    a = np.arange(n)
    x = a[:, None] ^ a[None, :]
    H = np.zeros((n, n), np.int64)
    for _ in range(nbits):
        H += x & 1
        x >>= 1
    return H


def polysemous_optimize_permutation(
    dis_table: np.ndarray,
    nbits: int,
    n_iter: int = 20_000,
    init_temperature: float = 0.7,
    temperature_decay: float = 0.999,
    n_redo: int = 1,
    seed: int = 123,
    dis_weight_factor: float = float(np.log(2)),
) -> np.ndarray:
    """Simulated-annealing centroid-index permutation so that the Hamming
    distance between PQ codes reproduces the inter-centroid distance
    table (reference faiss/impl/PolysemousTraining.cpp:
    ReproduceWithHammingObjective — affine map of the distance table to
    mean nbits/2 / sd sqrt(nbits/4), weights exp(−dwf·target) so small
    distances matter most — driven by SimulatedAnnealingOptimizer).

    Vectorized numpy re-derivation, not a translation: a proposed swap's
    cost delta is the O(n) row/column contribution difference. n_iter
    defaults far below the reference's 500000 (Python proposal loop);
    tests pin that the objective and the Hamming/true-distance
    correlation still improve. Returns perm with new_code = perm[old]."""
    n = 1 << nbits
    if dis_table.shape != (n, n):
        raise ValueError(f"dis_table must be ({n},{n}) for nbits={nbits}")
    mean = dis_table.mean()
    std = dis_table.std()
    if std == 0:
        return np.arange(n)
    t = (dis_table - mean) / std * np.sqrt(nbits / 4.0) + nbits / 2.0
    w = np.exp(-dis_weight_factor * t)
    H = _hamming_table(nbits).astype(np.float64)
    rng = np.random.default_rng(seed)

    def cost(p):
        return float((w * (t - H[np.ix_(p, p)]) ** 2).sum())

    def contrib(p, iw, jw):
        """Cost of every pair touching rows/cols iw or jw."""
        c = 0.0
        mask = np.ones(n, dtype=bool)
        mask[[iw, jw]] = False
        for i in (iw, jw):
            c += float((w[i] * (t[i] - H[p[i], p]) ** 2).sum())
            c += float((w[mask, i] * (t[mask, i] - H[p[mask], p[i]]) ** 2).sum())
        return c

    best_perm, best_cost = np.arange(n), cost(np.arange(n))
    for redo in range(n_redo):
        p = np.arange(n)
        if redo > 0:
            rng.shuffle(p)
        cur = cost(p)
        temperature = init_temperature
        for _ in range(n_iter):
            iw = int(rng.integers(n))
            jw = int(rng.integers(n - 1))
            if jw >= iw:
                jw += 1
            before = contrib(p, iw, jw)
            p[iw], p[jw] = p[jw], p[iw]
            delta = contrib(p, iw, jw) - before
            if delta < 0 or rng.random() < temperature:
                cur += delta
            else:
                p[iw], p[jw] = p[jw], p[iw]  # reject
            temperature *= temperature_decay
        if cur < best_cost:
            best_cost, best_perm = cur, p.copy()
    return best_perm


class PolysemousTraining:
    """Reorder each sub-quantizer's centroid indices so PQ code Hamming
    distance approximates true distance (reference
    faiss/impl/PolysemousTraining.h:18-117, OT_ReproduceDistances_affine)
    — enabling the polysemous filter: prune ADC candidates whose code
    Hamming distance to the query code exceeds ht
    (``adc_search(..., polysemous_ht=)``, reference faiss/IndexPQ.h:35
    search_core polysemous path)."""

    def __init__(
        self, n_iter: int = 20_000, n_redo: int = 1, seed: int = 123,
        init_temperature: float = 0.7, temperature_decay: float = 0.999,
    ):
        self.n_iter = n_iter
        self.n_redo = n_redo
        self.seed = seed
        self.init_temperature = init_temperature
        self.temperature_decay = temperature_decay

    def optimize_pq(
        self, pqm: "ProductQuantizerModel"
    ) -> tuple["ProductQuantizerModel", np.ndarray]:
        """Returns (reordered model, perms (M, ksub)). The reordered
        codebooks represent the SAME codec (decode(perm[c]) == old
        decode(c)); only code numbering changes, so re-encode after."""
        ksub = pqm.ksub
        nbits = int(np.log2(ksub))
        if (1 << nbits) != ksub:
            raise ValueError(f"ksub={ksub} is not a power of two")
        perms = np.empty((pqm.M, ksub), np.int64)
        new_books = np.empty_like(pqm.codebooks)
        for m in range(pqm.M):
            C = pqm.codebooks[m]
            dis = (
                (C * C).sum(1)[:, None]
                + (C * C).sum(1)[None, :]
                - 2.0 * (C @ C.T)
            )
            np.maximum(dis, 0.0, out=dis)
            perm = polysemous_optimize_permutation(
                dis, nbits, n_iter=self.n_iter, n_redo=self.n_redo,
                seed=self.seed + m, init_temperature=self.init_temperature,
                temperature_decay=self.temperature_decay,
            )
            new_books[m][perm] = C
            perms[m] = perm
        return ProductQuantizerModel(codebooks=new_books), perms


class ProductQuantizer:
    """Estimator: M independent k-means on a seeded driver sample (the
    reference trains PQ on a subsample too)."""

    def __init__(
        self, M: int = 8, nbits: int = 8, niter: int = 25, seed: int = 1234,
        max_train_points: int = 65536,
    ):
        # reference ProductQuantizer supports arbitrary nbits
        # (faiss/impl/ProductQuantizer.h:30 "PQ<m>x<b>"); codes here are
        # stored one byte per sub-quantizer for nbits ≤ 8 and two bytes
        # for 9..16 (the reference bit-packs — a physical-layout detail
        # parquet dictionary/byte encoding recovers)
        if not 1 <= nbits <= 16:
            raise NotImplementedError("PQ codes of 1..16 bits supported")
        self.M = M
        self.ksub = 1 << nbits
        self.niter = niter
        self.seed = seed
        self.max_train_points = max_train_points

    def fit(self, df: DataFrame, vec_col: str = "vec") -> ProductQuantizerModel:
        X = _sampled_matrix(df, vec_col, self.max_train_points, self.seed)
        d = X.shape[1]
        if d % self.M:
            raise ValueError(f"d={d} not divisible by M={self.M}")
        dsub = d // self.M
        ksub = min(self.ksub, len(X))
        books = np.empty((self.M, ksub, dsub), np.float64)
        for m in range(self.M):
            C, _ = _kmeans_np(
                X[:, m * dsub : (m + 1) * dsub], ksub, self.niter, self.seed + m
            )
            books[m] = C
        return ProductQuantizerModel(codebooks=books)


# ========================================================= ResidualQuantizer


_BEAM_BLOCK_BYTES = 32 * 1024 * 1024


def beam_search_np(
    X: np.ndarray, codebooks: np.ndarray, beam: int
) -> tuple[np.ndarray, np.ndarray]:
    """Additive-quantizer beam search (reference
    faiss/impl/ResidualQuantizer.cpp beam_search_encode_step): keep the
    `beam` best prefix expansions per vector per level. Returns
    (codes (n, B, M) uint8 sorted best-first, errs (n, B) = squared L2
    distance from X to each kept reconstruction).

    r14: processed in ROW BLOCKS through a persistent per-worker
    workspace. Rows are independent, so blocking is bit-identical — but
    the previous single-shot form allocated a FRESH (n, b, ksub, d)
    candidate tensor per level (0.26 GB at 500x64 RQx8), and on this
    lazily-backed VM first-touch page faults cost 10-100x the
    arithmetic: measured 72 s cold / ~2.5 s-per-level warm for a 500-row
    encode, i.e. the AQ/RQ encode path was fault-bound, not
    compute-bound (it was the hidden 100+ s behind every first action
    on a fresh AQ codes table). The workspace (_wsbuf) faults once per
    worker lifetime; kept residuals are recomputed directly from the
    selection (cand[i,b,k] = resid[i,b] - C[k], the identical float64
    subtraction) instead of gathered from the candidate tensor."""
    M, ksub, d = codebooks.shape
    n = len(X)
    block = max(1, _BEAM_BLOCK_BYTES // max(1, beam * ksub * d * 8))
    if n > block:
        parts = [
            beam_search_np(X[i : i + block], codebooks, beam)
            for i in range(0, n, block)
        ]
        return (
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
        )
    from faiss_spark.kernels import _wsbuf

    resid = X[:, None, :].copy()  # start with beam=1
    codes = np.zeros((n, 1, M), np.uint8)
    errs = np.zeros((n, 1))
    row = np.arange(n)[:, None]
    for m in range(M):
        C = codebooks[m]  # (ksub, d)
        b = resid.shape[1]
        # candidate residuals (n, b, ksub, d) in the reused workspace
        cand = _wsbuf("beam_cand", n * b * ksub * d).reshape(n, b, ksub, d)
        np.subtract(resid[:, :, None, :], C[None, None, :, :], out=cand)
        np.square(cand, out=cand)
        cerrs = cand.sum(3).reshape(n, b * ksub)
        keep = min(beam, b * ksub)
        sel = np.argpartition(cerrs, keep - 1, axis=1)[:, :keep]
        # order selections for determinism
        sel = np.take_along_axis(
            sel, np.argsort(cerrs[row, sel], axis=1, kind="stable"), axis=1
        )
        b_idx = sel // ksub
        k_idx = (sel % ksub).astype(np.uint8)
        resid = np.take_along_axis(resid, b_idx[:, :, None], axis=1) - C[k_idx]
        new_codes = np.take_along_axis(codes, b_idx[:, :, None], axis=1).copy()
        new_codes[:, :, m] = k_idx
        codes = new_codes
        errs = cerrs[row, sel]
    return codes, errs


@dataclass
class ResidualQuantizerModel(_CodecFace):
    """M additive codebooks over successive residuals (reference
    faiss/impl/ResidualQuantizer.h:25; AdditiveQuantizer decode =
    gather-sum, faiss/impl/AdditiveQuantizer.h:25)."""

    codebooks: np.ndarray  # (M, ksub, d) float64
    beam: int = 4

    @property
    def M(self) -> int:
        return self.codebooks.shape[0]

    @property
    def ksub(self) -> int:
        return self.codebooks.shape[1]

    def code_size(self) -> int:
        return self.M  # 8-bit per level

    def encode_np(self, X: np.ndarray) -> np.ndarray:
        """Beam-search encoding (reference max_beam_size semantics):
        keep `beam` best prefix expansions per vector per level."""
        codes, _ = beam_search_np(X, self.codebooks, self.beam)
        return codes[:, 0, :]  # best beam

    def decode_np(self, codes: np.ndarray) -> np.ndarray:
        out = np.zeros((len(codes), self.codebooks.shape[2]), np.float64)
        for m in range(self.M):
            out += self.codebooks[m][codes[:, m]]
        return out



def _normalize_nbits(nbits, M: int) -> list[int]:
    """Per-level bit widths (reference aq_def_pattern
    '<k1>x<b1>[_<k2>x<b2>...]' allows a DIFFERENT width per level group).
    Codes are byte-packed (one byte per level) throughout this engine, so
    widths above 8 are rejected loudly rather than silently truncated."""
    bits = [int(nbits)] * M if isinstance(nbits, int) else [int(b) for b in nbits]
    if len(bits) != M:
        raise ValueError(f"nbits list has {len(bits)} entries for M={M}")
    for b in bits:
        if not 1 <= b <= 8:
            raise NotImplementedError(
                "additive-quantizer levels are byte-packed here: "
                f"1..8 bits per level supported, got {b}"
            )
    return bits


def _padded_books(books: list[np.ndarray], d: int) -> np.ndarray:
    """Stack per-level codebooks of DIFFERENT sizes into one uniform
    (M, max_ksub, d) array; pad rows are poisoned at +1e18 so a beam /
    argmin can never select them (their squared distance dominates any
    real candidate) and decode never sees them (codes only reference
    trained rows)."""
    ksub = max(len(b) for b in books)
    out = np.full((len(books), ksub, d), 1e18, np.float64)
    for m, b in enumerate(books):
        out[m, : len(b)] = b
    return out


class ResidualQuantizer:
    """Estimator: greedy per-level k-means on residuals of the training
    sample (reference ResidualQuantizer::train). ``nbits`` may be a list
    (one width per level) for the reference's '2x8_3x4'-style specs."""

    def __init__(
        self, M: int = 4, nbits: int | list = 8, beam: int = 4,
        niter: int = 15, seed: int = 1234, max_train_points: int = 65536,
    ):
        self.nbits = _normalize_nbits(nbits, M)
        self.M = M
        self.ksub = 1 << max(self.nbits)
        self.beam = beam
        self.niter = niter
        self.seed = seed
        self.max_train_points = max_train_points

    def fit(self, df: DataFrame, vec_col: str = "vec") -> ResidualQuantizerModel:
        X = _sampled_matrix(df, vec_col, self.max_train_points, self.seed)
        d = X.shape[1]
        books = []
        resid = X.copy()
        for m in range(self.M):
            ksub = min(1 << self.nbits[m], len(X))
            C, labels = _kmeans_np(resid, ksub, self.niter, self.seed + m)
            books.append(C)
            resid = resid - C[labels]
        return ResidualQuantizerModel(
            codebooks=_padded_books(books, d), beam=self.beam
        )


# ===================================================== AQ norm quantizers


class AQNormQuantizer:
    """Stored-norm quantizer for the additive-quantizer norm search types
    (reference faiss/impl/AdditiveQuantizer.cpp:112-222 — the `_N*`
    factory suffixes). The search estimator is
    dist = ‖q‖² − 2⟨q, x̂⟩ + N(‖x̂‖²) where N is:

      float   — f32 round-trip of the exact reconstruction norm
      qint8/4 — uniform levels over the TRAINING norm range
                (encode = clamp(floor((x−min)/(max−min)·2^b)),
                 decode = min + (i+0.5)/2^b·(max−min))
      cqint8/4 — non-uniform 1-D k-means codebook, nearest assignment
      rq2x4   — 2-level 4-bit residual quantizer on norms, FLATTENED to
                its 256-entry cross product and assigned exactly
                (the reference flattens the same way, :124-158)
      lsq2x4  — same flattening, codebooks refined by exact 1-D
                coordinate descent (the ICM of a 2-level 1-D LSQ is
                exact alternation)
    """

    KINDS = ("float", "qint8", "qint4", "cqint8", "cqint4", "rq2x4", "lsq2x4")

    def __init__(self, kind: str):
        if kind not in self.KINDS:
            raise ValueError(f"unknown norm search type {kind!r}")
        self.kind = kind
        self.norm_min: float | None = None
        self.norm_max: float | None = None
        self.codebook: np.ndarray | None = None  # sorted, for searchsorted

    @staticmethod
    def _lloyd_1d(x: np.ndarray, k: int, niter: int = 25) -> np.ndarray:
        """1-D Lloyd with quantile init — the reference trains qnorm with
        an ordinary Clustering (Lloyd), NOT the exact kmeans1d DP
        (AdditiveQuantizer.cpp:124-131); the DP's O(n²k) Python loop is
        also far too slow at k=256. Sorted-input assignment is exact via
        searchsorted on the midpoints."""
        xs = np.sort(np.asarray(x, np.float64))
        k = min(k, len(xs))
        C = np.quantile(xs, (np.arange(k) + 0.5) / k)
        for _ in range(niter):
            C = np.sort(C)
            mid = (C[1:] + C[:-1]) / 2.0
            lab = np.searchsorted(mid, xs)
            sums = np.bincount(lab, weights=xs, minlength=k)
            cnts = np.bincount(lab, minlength=k)
            nz = cnts > 0
            C[nz] = sums[nz] / cnts[nz]
        return np.sort(C)

    def fit_np(self, norms: np.ndarray) -> "AQNormQuantizer":
        norms = np.asarray(norms, np.float64)
        self.norm_min = float(norms.min())
        self.norm_max = float(norms.max())
        if self.kind in ("cqint8", "cqint4"):
            k = 256 if self.kind == "cqint8" else 16
            self.codebook = self._lloyd_1d(norms, k)
        elif self.kind in ("rq2x4", "lsq2x4"):
            c0 = self._lloyd_1d(norms, 16)
            lab0 = np.abs(norms[:, None] - c0[None, :]).argmin(1)
            resid = norms - c0[lab0]
            c1 = self._lloyd_1d(resid, 16)
            if self.kind == "lsq2x4":
                # exact 1-D coordinate descent: re-assign each level given
                # the other, then refit centroids to the mean — 2 rounds
                for _ in range(2):
                    lab1 = np.abs(
                        (norms - c0[lab0])[:, None] - c1[None, :]
                    ).argmin(1)
                    lab0 = np.abs(
                        (norms - c1[lab1])[:, None] - c0[None, :]
                    ).argmin(1)
                    for j in range(len(c0)):
                        sel = lab0 == j
                        if sel.any():
                            c0[j] = (norms[sel] - c1[lab1[sel]]).mean()
                    for j in range(len(c1)):
                        sel = lab1 == j
                        if sel.any():
                            c1[j] = (norms[sel] - c0[lab0[sel]]).mean()
            self.codebook = np.sort(
                (c0[:, None] + c1[None, :]).ravel()
            )
        return self

    def quantize_np(self, norms: np.ndarray) -> np.ndarray:
        """Encode→decode round-trip: the value the search estimator adds."""
        norms = np.asarray(norms, np.float64)
        if self.kind == "float":
            return norms.astype(np.float32).astype(np.float64)
        if self.kind in ("qint8", "qint4"):
            levels = 256 if self.kind == "qint8" else 16
            span = self.norm_max - self.norm_min
            if span <= 0:
                return np.full_like(norms, self.norm_min)
            i = np.clip(
                np.floor((norms - self.norm_min) / span * levels),
                0, levels - 1,
            )
            return (i + 0.5) / levels * span + self.norm_min
        # codebook kinds: exact 1-D nearest via searchsorted on the
        # sorted codebook (boundary = midpoint between neighbors)
        cb = self.codebook
        mid = (cb[1:] + cb[:-1]) / 2.0
        return cb[np.searchsorted(mid, norms)]


# ================================================= ResidualCoarseQuantizer


@dataclass
class ResidualCoarseQuantizerModel:
    """Additive quantizer used AS the coarse quantizer of a large-nlist
    IVF (reference ResidualCoarseQuantizer, faiss/IndexAdditiveQuantizer.h
    :161-191): the centroid set is the VIRTUAL cross-product of the M
    codebooks (nlist = ksub^M) — never materialized for assignment, which
    is a beam search over the codebooks instead of an argmin over nlist
    rows. Training cost is M small k-means instead of one k=nlist k-means;
    assignment cost is O(M·beam·ksub·d) instead of O(nlist·d).

    list_no layout matches the reference's bitstring order: level m
    occupies bits [off_m, off_m + nbits_m) with off = cumulative width,
    i.e. list_no = Σ code[m] << off_m (uniform widths reduce to
    m·nbits). ``nbits_list`` carries per-level widths for the
    reference's 'RCQ1x3_1x4_1x5'-style specs; None = uniform, derived
    from the codebook size.
    """

    codebooks: np.ndarray  # (M, ksub, d) float64
    beam_factor: float = 4.0  # reference default beam_factor = 4
    nbits_list: tuple | None = None

    @property
    def M(self) -> int:
        return self.codebooks.shape[0]

    @property
    def ksub(self) -> int:
        return self.codebooks.shape[1]

    @property
    def nbits(self) -> int:
        return int(self.ksub - 1).bit_length()

    def _level_bits(self) -> np.ndarray:
        if self.nbits_list is not None:
            return np.asarray(self.nbits_list, np.int64)
        return np.full(self.M, self.nbits, np.int64)

    @property
    def nlist(self) -> int:
        return 1 << int(self._level_bits().sum())

    def _codes_to_lists(self, codes: np.ndarray) -> np.ndarray:
        """(…, M) level codes → flat list numbers (bitstring order)."""
        bits = self._level_bits()
        shifts = np.concatenate(([0], np.cumsum(bits)[:-1]))
        return (codes.astype(np.int64) << shifts).sum(axis=-1)

    def _lists_to_codes(self, lists: np.ndarray) -> np.ndarray:
        bits = self._level_bits()
        shifts = np.concatenate(([0], np.cumsum(bits)[:-1]))
        masks = (1 << bits) - 1
        return ((lists[:, None] >> shifts) & masks).astype(np.uint8)

    def search_np(self, Q: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
        """Top-k nearest virtual centroids per query via beam search
        (reference ResidualCoarseQuantizer::search: beam size =
        beam_factor·k, report the k best beam members). Returns
        (lists (nq, k), dists (nq, k) squared L2)."""
        beam = max(int(self.beam_factor * k), k)
        codes, errs = beam_search_np(
            np.asarray(Q, np.float64), self.codebooks, beam
        )
        kk = min(k, codes.shape[1])
        return self._codes_to_lists(codes[:, :kk, :]), errs[:, :kk]

    def assign_np(self, X: np.ndarray) -> np.ndarray:
        """Coarse assignment = argmin over the beam (reference
        quantize_LUT-free path: best beam member IS the assignment)."""
        lists, _ = self.search_np(X, 1)
        return lists[:, 0]

    def reconstruct_np(self, lists: np.ndarray) -> np.ndarray:
        """Virtual centroid of a list number = additive decode of its
        level codes (reference ResidualCoarseQuantizer::reconstruct)."""
        codes = self._lists_to_codes(np.asarray(lists, np.int64))
        out = np.zeros((len(codes), self.codebooks.shape[2]))
        for m in range(self.M):
            out += self.codebooks[m][codes[:, m]]
        return out

    def centroids_np(self, max_nlist: int = 1 << 20) -> np.ndarray:
        """Materialize every virtual centroid (small-nlist / test path —
        the scale path never calls this)."""
        if self.nlist > max_nlist:
            raise ValueError(f"refusing to materialize {self.nlist} centroids")
        return self.reconstruct_np(np.arange(self.nlist))

    def assign(
        self, df: DataFrame, vec_col: str = "vec", id_col: str = "id"
    ) -> DataFrame:
        """Distributed beam-search assignment: broadcast the (tiny)
        codebooks, Arrow-batch GEMM per partition — no shuffle, scales
        with rows like every other map-side codec here."""
        model = self

        def fn(vec):
            import pyarrow as pa

            return pa.array(model.assign_np(arrow_list_matrix(vec)), pa.int64())

        return _map_codec(df, id_col, vec_col, fn, "id bigint, cluster bigint")


class ResidualCoarseQuantizer:
    """Estimator: greedy residual k-means (same training as RQ) packaged
    as a coarse quantizer (reference faiss/IndexAdditiveQuantizer.h:161).
    nlist of the resulting IVF = 2^(M·nbits)."""

    def __init__(
        self, M: int = 2, nbits: int = 4, beam_factor: float = 4.0,
        niter: int = 15, seed: int = 1234, max_train_points: int = 65536,
    ):
        self.rq = ResidualQuantizer(
            M=M, nbits=nbits, niter=niter, seed=seed,
            max_train_points=max_train_points,
        )
        self.beam_factor = beam_factor

    def fit(self, df: DataFrame, vec_col: str = "vec") -> ResidualCoarseQuantizerModel:
        m = self.rq.fit(df, vec_col=vec_col)
        bits = self.rq.nbits
        return ResidualCoarseQuantizerModel(
            codebooks=m.codebooks, beam_factor=self.beam_factor,
            nbits_list=None if len(set(bits)) == 1 else tuple(bits),
        )


class LSCoarseQuantizer:
    """LocalSearchCoarseQuantizer (reference
    faiss/IndexAdditiveQuantizer.h:193): identical serving surface to
    ResidualCoarseQuantizerModel, codebooks trained with LSQ instead of
    greedy residual k-means."""

    def __init__(
        self, M: int = 2, nbits: int = 4, beam_factor: float = 4.0,
        niter: int = 15, seed: int = 1234, max_train_points: int = 65536,
    ):
        self.M = M
        self.nbits = nbits
        self.beam_factor = beam_factor
        self.niter = niter
        self.seed = seed
        self.max_train_points = max_train_points

    def fit(self, df: DataFrame, vec_col: str = "vec") -> ResidualCoarseQuantizerModel:
        lsq = LocalSearchQuantizer(
            M=self.M, nbits=self.nbits, niter_init=self.niter,
            seed=self.seed, max_train_points=self.max_train_points,
        ).fit(df, vec_col=vec_col)
        return ResidualCoarseQuantizerModel(
            codebooks=lsq.codebooks, beam_factor=self.beam_factor
        )


# ====================================================== LocalSearchQuantizer


@dataclass
class LocalSearchQuantizerModel(_CodecFace):
    """LSQ: additive codebooks with ICM (iterated conditional modes)
    encoding (reference faiss/impl/LocalSearchQuantizer.h:45 — we use
    deterministic ICM without the simulated-annealing perturbations, so
    encodings are reproducible; the annealing is a quality knob, not a
    semantic)."""

    codebooks: np.ndarray  # (M, ksub, d)
    icm_iters: int = 3

    @property
    def M(self) -> int:
        return self.codebooks.shape[0]

    def code_size(self) -> int:
        return self.M

    def _icm_encode(self, X: np.ndarray, codes: np.ndarray) -> np.ndarray:
        """Refine codes level-by-level: fix all levels but m, re-pick m."""
        n = len(X)
        recon = np.zeros_like(X)
        for m in range(self.M):
            recon += self.codebooks[m][codes[:, m]]
        for _ in range(self.icm_iters):
            for m in range(self.M):
                recon -= self.codebooks[m][codes[:, m]]
                target = X - recon  # what level m should explain
                C = self.codebooks[m]
                d2 = (
                    (target * target).sum(1)[:, None]
                    + (C * C).sum(1)[None, :]
                    - 2.0 * (target @ C.T)
                )
                codes[:, m] = d2.argmin(1)
                recon += C[codes[:, m]]
        return codes

    def encode_np(self, X: np.ndarray) -> np.ndarray:
        # greedy init (RQ-style) then ICM refinement
        n, d = X.shape
        codes = np.zeros((n, self.M), np.uint8)
        resid = X.copy()
        for m in range(self.M):
            C = self.codebooks[m]
            d2 = (
                (resid * resid).sum(1)[:, None]
                + (C * C).sum(1)[None, :]
                - 2.0 * (resid @ C.T)
            )
            codes[:, m] = d2.argmin(1)
            resid -= C[codes[:, m]]
        return self._icm_encode(X, codes)

    def decode_np(self, codes: np.ndarray) -> np.ndarray:
        out = np.zeros((len(codes), self.codebooks.shape[2]), np.float64)
        for m in range(self.M):
            out += self.codebooks[m][codes[:, m]]
        return out



class LocalSearchQuantizer:
    """Estimator: alternate ICM encoding ↔ least-squares codebook update
    (each codebook entry = mean of the residuals assigned to it)."""

    def __init__(
        self, M: int = 4, nbits: int = 8, train_iters: int = 3,
        icm_iters: int = 3, niter_init: int = 10, seed: int = 1234,
        max_train_points: int = 65536,
    ):
        if not 1 <= nbits <= 8:
            raise NotImplementedError("LSQ supports 1..8 bits per level")
        self.M = M
        self.ksub = 1 << nbits
        self.train_iters = train_iters
        self.icm_iters = icm_iters
        self.niter_init = niter_init
        self.seed = seed
        self.max_train_points = max_train_points

    def fit(self, df: DataFrame, vec_col: str = "vec") -> LocalSearchQuantizerModel:
        X = _sampled_matrix(df, vec_col, self.max_train_points, self.seed)
        return self.fit_np(X)

    def fit_np(self, X: np.ndarray) -> LocalSearchQuantizerModel:
        """Train on an in-memory matrix (the IVF-LSQ path trains on
        residuals of the coarse assignment, reference
        IndexIVFAdditiveQuantizer::train_residual)."""
        ksub = min(self.ksub, len(X))
        # init codebooks like RQ
        books = np.empty((self.M, ksub, X.shape[1]), np.float64)
        resid = X.copy()
        for m in range(self.M):
            C, labels = _kmeans_np(resid, ksub, self.niter_init, self.seed + m)
            books[m] = C
            resid = resid - C[labels]
        model = LocalSearchQuantizerModel(codebooks=books, icm_iters=self.icm_iters)
        for _ in range(self.train_iters):
            codes = model.encode_np(X)
            # least-squares-ish update: each entry = mean of its residuals
            for m in range(self.M):
                recon_others = model.decode_np(codes) - books[m][codes[:, m]]
                target = X - recon_others
                for kk in range(ksub):
                    mask = codes[:, m] == kk
                    if mask.any():
                        books[m][kk] = target[mask].mean(0)
            model = LocalSearchQuantizerModel(
                codebooks=books, icm_iters=self.icm_iters
            )
        return model


# ================================================== ProductAdditiveQuantizer


class ProductAdditiveQuantizer:
    """Product of additive quantizers (reference
    faiss/impl/ProductAdditiveQuantizer.h:28): split d into `nsplits`
    groups, each encoded by an independent RQ (lsq=False — the PRQ
    factory family) or LSQ (lsq=True — the PLSQ family) — combines PQ's
    dimension split with additive refinement."""

    def __init__(self, nsplits: int = 2, M_per_split: int = 2,
                 nbits: int = 8, niter: int = 10, seed: int = 1234,
                 lsq: bool = False):
        self.nsplits = nsplits
        self.M_per_split = M_per_split
        self.nbits = nbits
        self.niter = niter
        self.seed = seed
        self.lsq = lsq

    def fit(self, df: DataFrame, vec_col: str = "vec"):
        from pyspark.sql import functions as _F

        d = df.select(_F.size(vec_col)).first()[0]
        if d % self.nsplits:
            raise ValueError(f"d={d} not divisible by nsplits={self.nsplits}")
        dsub = d // self.nsplits
        subs = []
        for s in range(self.nsplits):
            sub_df = df.select(
                _F.slice(_F.col(vec_col), s * dsub + 1, dsub).alias("vec")
            )
            if self.lsq:
                sub = LocalSearchQuantizer(
                    M=self.M_per_split, nbits=self.nbits, seed=self.seed + s
                ).fit(sub_df, vec_col="vec")
            else:
                sub = ResidualQuantizer(
                    M=self.M_per_split, nbits=self.nbits, niter=self.niter,
                    seed=self.seed + s,
                ).fit(sub_df, vec_col="vec")
            subs.append(sub)
        return ProductAdditiveQuantizerModel(subs=subs, dsub=dsub)


@dataclass
class ProductAdditiveQuantizerModel(_CodecFace):
    subs: list  # of ResidualQuantizerModel
    dsub: int

    def code_size(self) -> int:
        return sum(s.code_size() for s in self.subs)

    def encode_np(self, X: np.ndarray) -> np.ndarray:
        parts = [
            s.encode_np(X[:, i * self.dsub : (i + 1) * self.dsub])
            for i, s in enumerate(self.subs)
        ]
        return np.concatenate(parts, axis=1)

    def decode_np(self, codes: np.ndarray) -> np.ndarray:
        outs = []
        off = 0
        for s in self.subs:
            m = s.code_size()
            outs.append(s.decode_np(codes[:, off : off + m]))
            off += m
        return np.concatenate(outs, axis=1)

