"""Binary vector indexes: binarization + Hamming/Jaccard search.

Reference: IndexBinaryFlat (faiss/IndexBinaryFlat.h:20, brute-force
Hamming/Jaccard over packed bits), the fork's binary metric dispatch
(faiss/utils/binary_distances.h:51, METRIC_JACCARD/METRIC_HAMMING added at
faiss/MetricType.h:27-28), IndexLSH (faiss/IndexLSH.h:21 rotation + per-bit
binarization), IndexBinaryFromFloat (faiss/IndexBinaryFromFloat.h:26).

Representation: codes are ``array<bigint>`` of 32-bit words (word w holds
dims 32w+1..32w+32, bit j = dim value > threshold). 32-bit words keep
every arithmetic step exact in doubles, so the same expression runs
byte-identical on any SQL engine (the DuckDB oracle included). The flat
and hash searches keep XOR+bit_count whole-stage-codegen'd JVM work, no
Python in the scan; BinaryIVFIndex is one more IVF family, whose lists
are scanned by ivf.py's ``_HammingScanner`` on the shared IVF routes.

Distances (reference faiss/utils/hamming.h:113-170, binary_distances.h):
  hamming  = Σ_w popcount(a_w XOR b_w)           (smaller better)
  jaccard  = 1 − Σ popcount(a&b) / Σ popcount(a|b)   (smaller better;
             the reference's binary Jaccard *distance*)
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from faiss_spark.operators.ivf import (
    _GraphRouter,
    _hamming,
    _HammingScanner,
    _IVFIndexBase,
    _preassigned_cogrouped,
    _scan_probed_lists,
    _window_topk,
)

WORD_BITS = 32


def signbit_code_expr(vec: Column, d: int, threshold=0.0) -> Column:
    """Pure-SQL binarization: array of ceil(d/32) words, bit j of word w
    set iff vec[32w + j + 1] > threshold. (The IndexBinaryFromFloat path
    with a fixed component threshold; a SEQUENCE of d thresholds gives
    per-component cuts — the IndexLSH train_thresholds layout — while
    keeping the scan whole-stage-codegen.)"""
    nwords = (d + WORD_BITS - 1) // WORD_BITS
    if np.ndim(threshold) == 0:
        thr_at = lambda i: F.lit(float(threshold))  # noqa: E731
    else:
        thr_arr = F.array(*[F.lit(float(t)) for t in threshold])
        thr_at = lambda i: F.element_at(thr_arr, i)  # noqa: E731

    def word_expr(lo: int, hi: int) -> Column:
        # closure factory: a default-arg lambda would change the arity
        # PySpark infers for the higher-order function
        return F.aggregate(
            F.sequence(F.lit(lo), F.lit(hi)),
            F.lit(0.0),
            lambda acc, i: acc
            + F.when(
                F.element_at(vec, i) > thr_at(i), F.pow(F.lit(2.0), i - lo)
            ).otherwise(F.lit(0.0)),
        ).cast("bigint")

    return F.array(
        *[
            word_expr(w * WORD_BITS + 1, min((w + 1) * WORD_BITS, d))
            for w in range(nwords)
        ]
    )


def _same_words(a: Column, b: Column, dist: Column) -> Column:
    """``dist``, or a job error naming both word counts when two non-null
    codes differ in length (zip_with would pad the shorter with nulls
    and score the pair null)."""
    return F.when(
        a.isNotNull() & b.isNotNull() & (F.size(a) != F.size(b)),
        F.raise_error(
            F.format_string(
                "binary codes differ in length: %d words against %d words",
                F.size(a), F.size(b),
            )
        ),
    ).otherwise(dist)


def hamming_expr(a: Column, b: Column) -> Column:
    """Σ_w popcount(a_w XOR b_w) — JVM bit ops, codegen'd."""
    return _same_words(a, b, F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda s, v: s + v,
    ))


def jaccard_dist_expr(a: Column, b: Column) -> Column:
    """1 − popcount(a&b)/popcount(a|b); 0 when both empty (faiss returns
    0 distance for two all-zero codes)."""
    inter = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseAND(y))),
        F.lit(0),
        lambda s, v: s + v,
    ).cast("double")
    union = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseOR(y))),
        F.lit(0),
        lambda s, v: s + v,
    ).cast("double")
    return _same_words(
        a, b, F.when(union == 0.0, F.lit(0.0)).otherwise(1.0 - inter / union)
    )


def binarize(
    df: DataFrame, d: int, id_col: str = "id", vec_col: str = "vec",
    threshold: float = 0.0, out_col: str = "code",
) -> DataFrame:
    """(id, code array<bigint>) sign-bit codes — single codegen'd scan."""
    return df.select(
        F.col(id_col).cast("bigint").alias("id"),
        signbit_code_expr(F.col(vec_col), d, threshold).alias(out_col),
    )


def binarize_rotated(
    df: DataFrame, A: np.ndarray, id_col: str = "id", vec_col: str = "vec",
    out_col: str = "code", thresholds: np.ndarray | None = None,
) -> DataFrame:
    """LSH/ITQ binarization: rotate with broadcast A then take sign bits
    (reference IndexLSH rotate_data / ITQTransform); with `thresholds`,
    bit j = rotated[j] > thresholds[j] (IndexLSH train_thresholds,
    IndexLSH.cpp:57-67 subtracts them before the sign). Pandas-UDF path
    since the rotation is a model artifact."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((A, thresholds))

    def do(batches):
        # Arrow-native (guide §4.1-4.2, r14): the vec list column's
        # values buffer reshapes straight into the GEMM input and the
        # packed words emit as one ListArray — no per-row pandas objects
        # on either side of the boundary. Same arithmetic as the pandas
        # form, bit-identical codes.
        import pyarrow as pa

        from faiss_spark.kernels import arrow_i64, arrow_list, arrow_list_matrix

        A_, thr = bc.value
        nbits = A_.shape[0]
        nwords = (nbits + WORD_BITS - 1) // WORD_BITS
        weights = (1 << np.arange(WORD_BITS, dtype=np.int64))
        for b in batches:
            if b.num_rows == 0:
                continue
            X = arrow_list_matrix(b.column(1), np.float64)
            P = X @ A_.T
            if thr is not None:
                P -= thr
            B = P > 0  # (n, nbits)
            pad = nwords * WORD_BITS - nbits
            if pad:
                B = np.concatenate([B, np.zeros((len(B), pad), bool)], axis=1)
            words = (
                B.reshape(len(B), nwords, WORD_BITS).astype(np.int64) * weights
            ).sum(2)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(arrow_i64(b.column(0)), pa.int64()),
                    arrow_list(words),
                ],
                ["id", "code"],
            )

    src = df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    return src.mapInArrow(do, schema="id bigint, code array<bigint>")


def _binary_knn(
    codes: DataFrame, qcodes: DataFrame, k: int, dist: Column = None
) -> DataFrame:
    """Broadcast-join + window top-k. Spark ≥3.5 plans the rank filter as
    WindowGroupLimit (partial per-partition limit before the shuffle), so
    the shuffled candidate set is ≤ partitions × nq × k — the same shape
    as the GEMM knn's merge stage.

    This stays the one JVM scan rather than a ``_HammingScanner`` on the
    shared driver route: it is the only brute-force search with no
    driver-side query collect (the query codes reach the executors as a
    broadcast join side), so moving it onto the driver route would add
    the MAX_DRIVER_QUERY_CELLS bound to ``hamming_knn``, ``jaccard_knn``
    and ``LSHIndex.search``."""
    joined = codes.crossJoin(F.broadcast(qcodes)).select(
        "qid", "id", dist.alias("dist")
    )
    return _window_topk(joined, k, largest=False)


def hamming_knn(
    codes: DataFrame, qcodes: DataFrame, k: int,
    code_col: str = "code", qcode_col: str = "qcode",
) -> DataFrame:
    """Brute-force Hamming k-NN (reference hammings_knn_hc,
    faiss/utils/hamming.h:125). codes: (id, code); qcodes: (qid, qcode).
    dist is int bit count, returned as double for result-schema parity."""
    return _binary_knn(
        codes, qcodes, k,
        hamming_expr(F.col(code_col), F.col(qcode_col)).cast("double"),
    )


def jaccard_knn(
    codes: DataFrame, qcodes: DataFrame, k: int,
    code_col: str = "code", qcode_col: str = "qcode",
) -> DataFrame:
    """Brute-force binary-Jaccard k-NN (fork metric, reference
    faiss/utils/binary_distances.h:51, METRIC_JACCARD)."""
    return _binary_knn(
        codes, qcodes, k, jaccard_dist_expr(F.col(code_col), F.col(qcode_col))
    )


def hamming_range_search(
    codes: DataFrame, qcodes: DataFrame, radius: int,
    code_col: str = "code", qcode_col: str = "qcode",
) -> DataFrame:
    """All pairs with hamming < radius (reference hamming_range_search,
    faiss/utils/hamming.h:165)."""
    d = hamming_expr(F.col(code_col), F.col(qcode_col))
    return (
        codes.crossJoin(F.broadcast(qcodes))
        .select("qid", "id", d.cast("double").alias("dist"))
        .filter(F.col("dist") < radius)
    )


# ------------------------------------------------------------ IndexBinaryIVF


def _words_to_bits(words: np.ndarray, nbits: int) -> np.ndarray:
    """(n, nwords) int64 word arrays -> (n, nbits) float64 bit matrix."""
    n, nwords = words.shape
    bits = ((words[:, :, None] >> np.arange(WORD_BITS)) & 1).reshape(
        n, nwords * WORD_BITS
    )
    return bits[:, :nbits].astype(np.float64)


def _bits_to_words(bits: np.ndarray) -> np.ndarray:
    n, nbits = bits.shape
    nwords = (nbits + WORD_BITS - 1) // WORD_BITS
    pad = nwords * WORD_BITS - nbits
    if pad:
        bits = np.concatenate([bits, np.zeros((n, pad), bits.dtype)], axis=1)
    weights = 1 << np.arange(WORD_BITS, dtype=np.int64)
    return (
        bits.reshape(n, nwords, WORD_BITS).astype(np.int64) * weights
    ).sum(2)


@dataclass
class _HammingRouter:
    """Exact binary coarse assignment: every cell ranked by the Hamming
    distance of its centroid words, ties by list number (stable
    argsort) — the same order on the driver and in the probe map."""

    C: np.ndarray  # (nlist, nwords) int64 centroid words

    def assign_np(self, Q: np.ndarray, nprobe: int) -> np.ndarray:
        return np.argsort(_hamming(Q, self.C), axis=1, kind="stable")[:, :nprobe]


class BinaryIVFIndex(_IVFIndexBase):
    """IVF over binary codes with Hamming scan (reference IndexBinaryIVF,
    faiss/IndexBinaryIVF.h:33: the coarse quantizer is k-means on the
    float-cast bits, centroids re-binarized; lists are scanned with
    Hamming distance).

    One more IVF family: the lifecycle (add, save, save_bucketed, load,
    both search routes, stats, max_codes, hot-cell sub-sharding) is
    ``_IVFIndexBase``'s. The family adds the Hamming argmin encode, its
    router (``_HammingRouter``, or after ``build_coarse_graph`` a
    ``_GraphRouter`` walk) and ``_HammingScanner``, the reference's
    BinaryInvertedListScanner (faiss/IndexBinaryIVF.h:211). Inputs and
    queries are int64 code words (``_dtype``); the codes table is
    (list_no, id, code array<bigint>)."""

    _payload = "code array<bigint>"
    _dtype = np.int64
    _twin = "binary_search_preassigned"
    _router = None  # a _GraphRouter after build_coarse_graph
    coarse_graph_r = None

    def __init__(self, centroid_words: np.ndarray, nbits: int):
        self.centroid_words = centroid_words  # (nlist, nwords) int64
        self.nbits = nbits

    def build_coarse_graph(self, R: int = 32) -> "BinaryIVFIndex":
        """`BIVF<n>_HNSW<m>` (reference index_factory.cpp:895-915: the
        binary factory accepts an HNSW-assigned coarse quantizer).
        Batch-graph twin of the float `IVF<n>_HNSW<m>` routing: a beam
        walk over the FLOAT-CAST centroid bits — 0/1 squared-L2 equals
        Hamming exactly (the same equivalence binary NSG rides,
        nsg.py), so the walk ranks cells by true Hamming distance while
        the assign cost drops from nq·nlist to nq·L·R word ops."""
        from faiss_spark.operators.nsg import _build_shard_graph

        C = _words_to_bits(self.centroid_words, self.nbits)
        R = max(1, min(R, len(C) - 1)) if len(C) > 1 else 1
        cgraph, cep = _build_shard_graph(C, R=R, knn_k=max(2 * R, 16))
        self._router = _GraphRouter(C, cgraph, cep, nbits=self.nbits)
        self.coarse_graph_r = R
        return self

    @staticmethod
    def train(
        codes: DataFrame, nlist: int, nbits: int,
        code_col: str = "code", seed: int = 1234, niter: int = 15,
        max_train: int = 65536,
    ) -> "BinaryIVFIndex":
        from faiss_spark.operators.codecs import _kmeans_np

        n = codes.count()
        sample = codes.select(code_col)
        if n > max_train:
            frac = min(1.0, 1.2 * max_train / n)
            sample = sample.sample(fraction=frac, seed=seed).limit(max_train)
        words = np.stack(
            [np.asarray(r[code_col], np.int64) for r in sample.collect()]
        )
        X = _words_to_bits(words, nbits)
        C, _ = _kmeans_np(X, nlist, niter, seed)
        cw = _bits_to_words((C > 0.5).astype(np.int64))
        return BinaryIVFIndex(centroid_words=cw, nbits=nbits)

    def _encoder(self):
        # nearest centroid by Hamming; the input words are the payload
        return self.centroid_words, lambda C, X: (_hamming(X, C).argmin(1),)

    def _planner_state(self) -> tuple:
        nlist, nwords = self.centroid_words.shape
        router = self._router
        if router is None:
            router = _HammingRouter(self.centroid_words)
        return "router", router, nlist, nwords

    def _scanner(self, k: int, **kw):
        return _HammingScanner()

    def add(
        self, codes: DataFrame, id_col: str = "id", code_col: str = "code",
        path: str | None = None,
    ) -> "BinaryIVFIndex":
        return super().add(codes, id_col, code_col, path)

    def search(
        self, qcodes: DataFrame, k: int, nprobe: int = 1,
        qid_col: str = "qid", qcode_col: str = "qcode",
    ) -> DataFrame:
        """Coarse Hamming top-nprobe -> pruned partitions -> Hamming
        list scan -> window top-k (the shared driver route). A query
        side past the driver bound auto-falls-back to the
        fully-distributed ``binary_search_preassigned`` cogroup plan."""
        return self._search(qcodes, k, nprobe, qid_col, qcode_col)

    def range_search(
        self, qcodes: DataFrame, radius: int, nprobe: int = 1,
        qid_col: str = "qid", qcode_col: str = "qcode",
    ) -> DataFrame:
        """Binary IVF range search (reference IndexBinaryIVF::range_search,
        faiss/IndexBinaryIVF.h:129): every (qid, id, dist) in the probed
        lists with Hamming < radius. Driver-planned probes + pruned
        partition scan, map-side after the prune, no shuffle (no
        ranking). nprobe == nlist degenerates to exact flat
        hamming_range_search. A query side past the driver bound
        auto-falls-back to binary_range_search_preassigned."""
        return _scan_probed_lists(
            self.codes, self._dtype, qcodes, self._planner(nprobe),
            _HammingScanner(), "BinaryIVFIndex.range_search", qid_col,
            qcode_col, radius=float(radius),
            fallback=lambda: binary_range_search_preassigned(
                self, qcodes, radius, nprobe, qid_col, qcode_col
            ),
        )


def binary_search_preassigned(
    index: BinaryIVFIndex,
    qcodes: DataFrame,
    k: int,
    nprobe: int = 1,
    qid_col: str = "qid",
    qcode_col: str = "qcode",
    max_cell_rows: int | None = 1_000_000,
) -> DataFrame:
    """Fully-distributed big-batch binary IVF search (reference
    IndexBinaryIVF::search_preassigned, faiss/IndexBinaryIVF.h:106): the
    shared distributed route — probes assigned executor-side by the
    index's router (the same cells the driver route probes), probes ⟂⟂
    codes cogrouped on list_no with hot-cell sub-sharding, and the
    Hamming list scan per cell."""
    return _preassigned_cogrouped(
        index, qcodes, index._planner(nprobe), _HammingScanner(),
        qid_col, qcode_col, max_cell_rows, k=k,
    )


def binary_range_search_preassigned(
    index: BinaryIVFIndex,
    qcodes: DataFrame,
    radius: int,
    nprobe: int = 1,
    qid_col: str = "qid",
    qcode_col: str = "qcode",
    max_cell_rows: int | None = 1_000_000,
) -> DataFrame:
    """Fully-distributed big-batch binary IVF RANGE search (reference
    IndexBinaryIVF::range_search_preassigned, faiss/IndexBinaryIVF.h:136):
    every (qid, id) in the probed lists with Hamming < radius. Because
    inverted lists partition the ids the plan ends map-only after the
    cogroup, exactly like the float ``range_search_preassigned``."""
    return _preassigned_cogrouped(
        index, qcodes, index._planner(nprobe), _HammingScanner(),
        qid_col, qcode_col, max_cell_rows, radius=float(radius),
    )


# ----------------------------------------------------------- IndexBinaryHash


class BinaryHashIndex:
    """Hash-bucketed binary index (reference IndexBinaryHash,
    faiss/IndexBinaryHash.h:23): codes are bucketed by their first `b`
    bits; a radius-r search probes every bucket whose prefix is within
    Hamming r of the query's prefix (the reference's FlipEnumerator),
    then verifies the full Hamming distance inside those buckets only.

    Spark shape: the bucket id is a JVM expression over word 0, the codes
    table is partitioned by it (partition pruning = bucket probing), the
    probe set is a small broadcast join, the verify is the codegen'd
    XOR+bit_count. nbuckets = 2^b, so b ≤ ~20 keeps the partition count
    sane; the reference default b=16 maps exactly."""

    def __init__(self, b: int):
        if not 1 <= b <= WORD_BITS:
            raise ValueError(f"hash bits b must be in 1..{WORD_BITS}")
        self.b = b
        self.codes: DataFrame | None = None

    def _bucket_expr(self, code_col: str) -> Column:
        # first b bits of word 0 (bit j of word w is dim 32w+j's sign)
        return (F.col(code_col)[0] % F.lit(1 << self.b)).cast("int")

    def add(
        self, codes: DataFrame, id_col: str = "id", code_col: str = "code",
        path: str | None = None,
    ) -> "BinaryHashIndex":
        out = codes.select(
            self._bucket_expr(code_col).alias("bucket"),
            F.col(id_col).cast("bigint").alias("id"),
            F.col(code_col).alias("code"),
        )
        if path is not None:
            out.write.mode("overwrite").partitionBy("bucket").parquet(path)
            self.codes = codes.sparkSession.read.parquet(path)
        else:
            self.codes = out
        return self

    @staticmethod
    def _flips(prefix: int, b: int, radius: int) -> list[int]:
        """All b-bit values within Hamming `radius` of prefix (reference
        FlipEnumerator, faiss/IndexBinaryHash.cpp)."""
        from itertools import combinations

        out = [prefix]
        for r in range(1, radius + 1):
            for bits in combinations(range(b), r):
                v = prefix
                for j in bits:
                    v ^= 1 << j
                out.append(v)
        return out

    def search(
        self, qcodes: DataFrame, k: int, radius: int = 1,
        qid_col: str = "qid", qcode_col: str = "qcode",
    ) -> DataFrame:
        """Probe buckets within `radius` prefix-flips, verify full
        Hamming, window top-k. Like the reference, this is approximate:
        a true neighbor differing in > radius prefix bits is missed."""
        if self.codes is None:
            raise ValueError("index has no codes table; call add() first")
        from faiss_spark.operators.ivf import collect_queries_bounded

        spark = self.codes.sparkSession
        qids, qwords = collect_queries_bounded(
            qcodes, qid_col, qcode_col, "binary_hash_search", dtype=np.int64
        )
        mask = (1 << self.b) - 1
        probe_rows = []
        probed: set[int] = set()
        for qid, qw in zip(qids.tolist(), qwords.tolist()):
            prefix = qw[0] & mask
            for bkt in self._flips(prefix, self.b, radius):
                probe_rows.append((qid, qw, bkt))
                probed.add(bkt)
        probes = spark.createDataFrame(
            probe_rows, "qid bigint, qcode array<bigint>, bucket int"
        )
        pruned = self.codes.filter(F.col("bucket").isin(sorted(probed)))
        joined = pruned.join(F.broadcast(probes), "bucket").select(
            "qid",
            "id",
            hamming_expr(F.col("code"), F.col("qcode")).cast("double").alias("dist"),
        )
        return _window_topk(joined, k, largest=False)


class BinaryMultiHashIndex:
    """Multi-table hash-bucketed binary index (reference
    IndexBinaryMultiHash, faiss/IndexBinaryHash.h:81; factory
    "BHash<nhash>x<b>"): nhash independent hash tables, table h bucketing
    by bits [h·b, (h+1)·b) of the code. A radius-r search probes every
    table's flip-enumerated buckets and unions the candidates — each
    table covers misses of the others, so recall rises with nhash at the
    same per-table cost.

    Spark layout: the codes are exploded nhash× into (tbl, bucket, id,
    code) and partitioned by (tbl, bucket) — probing is partition
    pruning on both keys. The reference pays nhash hash-maps over one
    code array instead of nhash× rows; on a columnar store the explode
    is the analogous trade (codes column dictionary-compresses, and the
    scan only ever reads probed partitions)."""

    def __init__(self, nhash: int, b: int):
        if not 1 <= b <= WORD_BITS:
            raise ValueError(f"hash bits b must be in 1..{WORD_BITS}")
        if nhash < 1:
            raise ValueError("nhash must be >= 1")
        self.nhash = nhash
        self.b = b
        self.codes: DataFrame | None = None

    def _bucket_expr(self, code_col: str, h: int) -> Column:
        """Bits [h·b, h·b + b) of the code as an int (crossing word
        boundaries when needed)."""
        start = h * self.b
        w = start // WORD_BITS
        shift = start % WORD_BITS
        lo = F.shiftrightunsigned(F.col(code_col)[w], shift)
        if shift + self.b > WORD_BITS:
            # slice crosses into the next word: take its low bits, mask
            # BEFORE shifting left so the long arithmetic cannot overflow
            hi_bits = shift + self.b - WORD_BITS
            nxt = F.coalesce(F.col(code_col)[w + 1], F.lit(0))
            hi = F.shiftleft(
                nxt.bitwiseAND(F.lit((1 << hi_bits) - 1)), WORD_BITS - shift
            )
            val = lo + hi
        else:
            val = lo
        # pmod: at shift=0 the raw signed word can be negative
        return F.pmod(val, F.lit(1 << self.b)).cast("int")

    def add(
        self, codes: DataFrame, id_col: str = "id", code_col: str = "code",
        path: str | None = None,
    ) -> "BinaryMultiHashIndex":
        parts = [
            codes.select(
                F.lit(h).alias("tbl"),
                self._bucket_expr(code_col, h).alias("bucket"),
                F.col(id_col).cast("bigint").alias("id"),
                F.col(code_col).alias("code"),
            )
            for h in range(self.nhash)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if path is not None:
            out.repartition("tbl", "bucket").write.mode("overwrite").partitionBy(
                "tbl", "bucket"
            ).parquet(path)
            self.codes = codes.sparkSession.read.parquet(path)
        else:
            self.codes = out
        return self

    def search(
        self, qcodes: DataFrame, k: int, radius: int = 1,
        qid_col: str = "qid", qcode_col: str = "qcode",
    ) -> DataFrame:
        """Probe each table's flip-enumerated buckets, union candidates,
        verify full Hamming once per (query, candidate), top-k."""
        if self.codes is None:
            raise ValueError("index has no codes table; call add() first")
        from faiss_spark.operators.ivf import collect_queries_bounded

        spark = self.codes.sparkSession
        qids, qwords = collect_queries_bounded(
            qcodes, qid_col, qcode_col, "binary_multihash_search",
            dtype=np.int64,
        )
        mask = (1 << self.b) - 1
        probe_rows = []
        probed: set[tuple[int, int]] = set()
        for qid, qw in zip(qids.tolist(), qwords.tolist()):
            for h in range(self.nhash):
                start = h * self.b
                w = start // WORD_BITS
                shift = start % WORD_BITS
                # words are stored as signed int64 — go through the
                # unsigned view before shifting (python >> is arithmetic)
                u = qw[w] & ((1 << WORD_BITS) - 1)
                val = u >> shift
                if shift + self.b > WORD_BITS and w + 1 < len(qw):
                    u2 = qw[w + 1] & ((1 << WORD_BITS) - 1)
                    val |= u2 << (WORD_BITS - shift)
                prefix = val & mask
                for bkt in BinaryHashIndex._flips(prefix, self.b, radius):
                    probe_rows.append((qid, qw, h, bkt))
                    probed.add((h, bkt))
        probes = spark.createDataFrame(
            probe_rows, "qid bigint, qcode array<bigint>, tbl int, bucket int"
        )
        pair_filter = F.struct(F.col("tbl"), F.col("bucket")).isin(
            [F.struct(F.lit(h), F.lit(b_)) for h, b_ in sorted(probed)]
        )
        pruned = self.codes.filter(pair_filter)
        joined = (
            pruned.join(F.broadcast(probes), ["tbl", "bucket"])
            .select(
                "qid",
                "id",
                hamming_expr(F.col("code"), F.col("qcode"))
                .cast("double")
                .alias("dist"),
            )
            # the same (query, candidate) can surface from several tables
            .groupBy("qid", "id")
            .agg(F.min("dist").alias("dist"))
        )
        return _window_topk(joined, k, largest=False)


class LSHIndex:
    """IndexLSH (reference faiss/IndexLSH.h:23, IndexLSH.cpp:25-118):
    ``nbits = d`` sign-bit codes over optionally rotated, optionally
    threshold-centered components; search = brute-force Hamming ranking
    of the query codes against the stored codes.

    - ``rotate``: seeded random orthonormal rotation before the sign
      (the factory's ``LSHr``, IndexLSH.cpp rrot.init(5)).
    - ``train_thresholds``: per-component exact MEDIAN of a training
      sample, subtracted before the sign (``LSHt``; IndexLSH.cpp:87-95
      sorts each component and takes the middle element) — without it
      the threshold is 0.

    Scale shape: encoding is one map-only pass (codegen sign-bits, or an
    Arrow-batched rotation against a broadcast matrix); search is the
    hamming_knn plan (broadcast query codes, XOR+popcount in codegen,
    single candidate shuffle)."""

    def __init__(self, rotate: bool = False, train_thresholds: bool = False,
                 seed: int = 1234, max_train_points: int = 65536):
        self.rotate = rotate
        self.train_thresholds = train_thresholds
        self.seed = seed
        self.max_train_points = max_train_points
        self.nbits: int | None = None
        self.A: np.ndarray | None = None
        self.thresholds: np.ndarray | None = None
        self.codes: DataFrame | None = None

    def fit(self, vectors: DataFrame, id_col: str = "id",
            vec_col: str = "vec") -> "LSHIndex":
        from faiss_spark.operators.codecs import _sampled_matrix
        from faiss_spark.operators.transforms import random_rotation_matrix

        d = vectors.select(F.size(vec_col)).first()[0]
        self.nbits = d
        if self.rotate:
            self.A = random_rotation_matrix(d, self.seed)
        if self.train_thresholds:
            X = _sampled_matrix(vectors, vec_col, self.max_train_points, self.seed)
            if self.A is not None:
                X = X @ self.A.T
            self.thresholds = np.median(X, axis=0)
        return self

    def _encode(self, df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
        if self.A is not None:
            return binarize_rotated(
                df, self.A, id_col=id_col, vec_col=vec_col,
                thresholds=self.thresholds,
            )
        # no rotation: the per-component compare stays codegen (LSHt is
        # x_j > median_j directly — same arithmetic as any SQL twin,
        # no x − thr subtraction whose rounding could flip border bits)
        thr = self.thresholds if self.thresholds is not None else 0.0
        return binarize(
            df, self.nbits, id_col=id_col, vec_col=vec_col, threshold=thr
        )

    def add(self, vectors: DataFrame, id_col: str = "id",
            vec_col: str = "vec") -> "LSHIndex":
        self.codes = self._encode(vectors, id_col, vec_col)
        return self

    def search(self, queries: DataFrame, k: int, qid_col: str = "qid",
               qvec_col: str = "vec") -> DataFrame:
        if self.codes is None:
            raise ValueError("index has no codes; call add() first")
        qcodes = self._encode(queries, qid_col, qvec_col).select(
            F.col("id").alias("qid"), F.col("code").alias("qcode")
        )
        return hamming_knn(self.codes, qcodes, k)

    def decode_codes(self) -> DataFrame:
        """sa_decode of the stored codes (reference IndexLSH.cpp:153-178
        binary_to_real): bit j → ±1, plus the trained threshold, then the
        reverse rotation — the reconstruction table a Refine(…,LSH…)
        stage re-ranks against. Map-only over the codes table."""
        if self.codes is None:
            raise ValueError("index has no codes; call add() first")
        spark = self.codes.sparkSession
        bc = spark.sparkContext.broadcast((self.nbits, self.thresholds, self.A))

        def dec(batches):
            # Arrow-native (r14): same unpack/rotate arithmetic, flat
            # ListArray emit instead of per-row float32 objects
            import pyarrow as pa

            from faiss_spark.kernels import (
                arrow_i64,
                arrow_list,
                arrow_list_matrix,
            )

            nbits, thr, A = bc.value
            for b in batches:
                if b.num_rows == 0:
                    continue
                W = arrow_list_matrix(b.column(1), np.int64)  # (n, nwords)
                bits = (W[:, :, None] >> np.arange(64, dtype=np.int64)) & 1
                X = bits.reshape(len(W), -1)[:, :nbits].astype(np.float64)
                X = 2.0 * X - 1.0
                if thr is not None:
                    X += thr
                if A is not None:
                    X = X @ A  # y = A x  =>  x = Aᵀ y (row form: Y @ A)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(arrow_i64(b.column(0)), pa.int64()),
                        arrow_list(X.astype(np.float32)),
                    ],
                    ["id", "vec"],
                )

        return self.codes.select("id", "code").mapInArrow(
            dec, schema="id bigint, vec array<float>"
        )
