"""Binary vector indexes: binarization + Hamming/Jaccard search.

Reference: IndexBinaryFlat (faiss/IndexBinaryFlat.h:20, brute-force
Hamming/Jaccard over packed bits), the fork's binary metric dispatch
(faiss/utils/binary_distances.h:51, METRIC_JACCARD/METRIC_HAMMING added at
faiss/MetricType.h:27-28), IndexLSH (faiss/IndexLSH.h:21 rotation + per-bit
binarization), IndexBinaryFromFloat (faiss/IndexBinaryFromFloat.h:26).

Representation: codes are ``array<bigint>`` of 32-bit words (word w holds
dims 32w+1..32w+32, bit j = dim value > threshold). 32-bit words keep
every arithmetic step exact in doubles, so the same expression runs
byte-identical on any SQL engine (the DuckDB oracle included) — and
XOR+bit_count stays whole-stage-codegen'd JVM work, no Python in the scan.

Distances (reference faiss/utils/hamming.h:113-170, binary_distances.h):
  hamming  = Σ_w popcount(a_w XOR b_w)           (smaller better)
  jaccard  = 1 − Σ popcount(a&b) / Σ popcount(a|b)   (smaller better;
             the reference's binary Jaccard *distance*)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from faiss_spark.operators.ivf import _window_topk, cogrouped_cell_scan

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


def hamming_expr(a: Column, b: Column) -> Column:
    """Σ_w popcount(a_w XOR b_w) — JVM bit ops, codegen'd."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda s, v: s + v,
    )


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
    return F.when(union == 0.0, F.lit(0.0)).otherwise(1.0 - inter / union)


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
    as the GEMM knn's merge stage."""
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


def _hamming_words(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n, m) Hamming distances between two packed int64-word code
    matrices — XOR then numpy popcount (shift-and-mask loop over the at
    most 64 set-bit positions actually present)."""
    xor = a[:, None, :] ^ b[None, :, :]
    pc = np.zeros(xor.shape[:2], np.int64)
    v = xor
    while v.any():
        pc += (v & 1).sum(2)
        v = v >> 1
    return pc


def _routed_probes_np(
    cbits: np.ndarray, cgraph: np.ndarray, cep: int,
    nlist: int, nbits: int, qwords: np.ndarray, nprobe: int,
) -> np.ndarray:
    """Beam-walk probe selection over the centroid graph, padded to
    exactly nprobe DISTINCT cells per query (a short pool fills with
    unvisited cells — scanning extras is a superset, a duplicate would
    double-count candidates downstream). Module-level so the distributed
    probe assignment (binary_search_preassigned) runs the IDENTICAL
    selection on executors."""
    from faiss_spark.operators.nsg import _beam_search_all

    Qb = _words_to_bits(qwords, nbits).astype(np.float64)
    probes, _ = _beam_search_all(
        cbits, cgraph, cep, Qb, nprobe, search_L=max(2 * nprobe, 16),
    )
    for r in range(len(probes)):
        row = probes[r]
        if (row >= 0).all():
            continue
        used = set(int(c) for c in row[row >= 0])
        fill = (c for c in range(nlist) if c not in used)
        for j in range(len(row)):
            if row[j] < 0:
                row[j] = next(fill)
    return probes


class BinaryIVFIndex:
    """IVF over binary codes with Hamming scan (reference IndexBinaryIVF,
    faiss/IndexBinaryIVF.h:33: the coarse quantizer is k-means on the
    float-cast bits, centroids re-binarized; lists are scanned with
    Hamming distance).

    Same partitioned-table layout as IVFIndex — (list_no, id, code) —
    so partition pruning does the nprobe cell selection."""

    def __init__(self, centroid_words: np.ndarray, nbits: int):
        self.centroid_words = centroid_words  # (nlist, nwords) int64
        self.nbits = nbits
        self.codes: DataFrame | None = None
        self.path: str | None = None  # file-backed ⇒ hot-cell detection on
        # graph-routed coarse assignment (BIVF<n>_HNSW<m>), see
        # build_coarse_graph
        self._cgraph: np.ndarray | None = None
        self._cep: int | None = None
        self._cbits: np.ndarray | None = None
        self.coarse_graph_r: int | None = None

    def build_coarse_graph(self, R: int = 32) -> "BinaryIVFIndex":
        """`BIVF<n>_HNSW<m>` (reference index_factory.cpp:895-915: the
        binary factory accepts an HNSW-assigned coarse quantizer).
        Batch-graph twin of the float `IVF<n>_HNSW<m>` routing: a beam
        walk over the FLOAT-CAST centroid bits — 0/1 squared-L2 equals
        Hamming exactly (the same equivalence binary NSG rides,
        nsg.py), so the walk ranks cells by true Hamming distance while
        the assign cost drops from nq·nlist to nq·L·R word ops."""
        from faiss_spark.operators.nsg import _build_shard_graph

        C = _words_to_bits(self.centroid_words, self.nbits).astype(np.float64)
        R = max(1, min(R, len(C) - 1)) if len(C) > 1 else 1
        self._coarse_R = R  # persisted so save/load rebuilds the routing
        self._cbits = C
        self._cgraph, self._cep = _build_shard_graph(C, R=R, knn_k=max(2 * R, 16))
        self.coarse_graph_r = R
        return self

    def _routed_probes(self, qwords: np.ndarray, nprobe: int) -> np.ndarray:
        return _routed_probes_np(
            self._cbits, self._cgraph, self._cep,
            len(self.centroid_words), self.nbits, qwords, nprobe,
        )

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

    def _hamming_to_centroids(self, words: np.ndarray) -> np.ndarray:
        return _hamming_words(words, self.centroid_words)

    def add(
        self, codes: DataFrame, id_col: str = "id", code_col: str = "code",
        path: str | None = None,
    ) -> "BinaryIVFIndex":
        spark = codes.sparkSession
        bc = spark.sparkContext.broadcast(self.centroid_words)

        def enc(batches):
            # Arrow-native (r14): word matrix straight from the list
            # column's values buffer; the code column passes through
            # zero-copy. Same popcount/argmin arithmetic as before.
            import pyarrow as pa

            from faiss_spark.kernels import arrow_i64, arrow_list_matrix

            C = bc.value
            for b in batches:
                if b.num_rows == 0:
                    continue
                code_arr = b.column(1)
                words = arrow_list_matrix(code_arr, np.int64)
                xor = words[:, None, :] ^ C[None, :, :]
                pc = np.zeros(xor.shape[:2], np.int64)
                v = xor.copy()
                while v.any():
                    pc += (v & 1).sum(2)
                    v >>= 1
                lists = pc.argmin(1)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(lists.astype(np.int32), pa.int32()),
                        pa.array(arrow_i64(b.column(0)), pa.int64()),
                        code_arr,
                    ],
                    ["list_no", "id", "code"],
                )

        src = codes.select(
            F.col(id_col).cast("bigint").alias("id"), F.col(code_col).alias("code")
        )
        out = src.mapInArrow(
            enc, schema="list_no int, id bigint, code array<bigint>"
        )
        if path is not None:
            out.repartition("list_no").write.mode("overwrite").partitionBy("list_no").parquet(path)
            self.codes = codes.sparkSession.read.parquet(path)
            self.path = path
        else:
            self.codes = out
        return self

    def _write_artifacts(self, spark, path: str) -> None:
        import os as _os

        from faiss_spark.sources import fsio

        fsio.write_npy(spark, _os.path.join(path, "_bivf_centroid_words.npy"), self.centroid_words)
        # the graph-routed coarse (BIVF<n>_HNSW<m>) rebuilds
        # deterministically from the centroid words — persist only R
        fsio.write_json(
            spark,
            _os.path.join(path, "_bivf_meta.json"),
            {
                "nbits": int(self.nbits),
                "coarse_R": (
                    int(self._coarse_R)
                    if getattr(self, "_coarse_R", None) is not None
                    else None
                ),
            },
        )

    def save(self, path: str) -> "BinaryIVFIndex":
        """write_index: partitioned code-words table + centroid artifact."""
        if self.codes is None:
            raise ValueError("index has no codes table; call add() first")
        spark = self.codes.sparkSession
        self.codes.repartition("list_no").write.mode("overwrite").partitionBy(
            "list_no"
        ).parquet(path)
        self._write_artifacts(spark, path)
        self.codes = spark.read.parquet(path)
        self.path = path
        return self

    def save_bucketed(self, path: str, nbuckets: int | None = None) -> "BinaryIVFIndex":
        """write_index into a CLUSTERED BY (list_no) layout — the binary
        twin of IVFIndex.save_bucketed (reference on-disk invlists,
        invlists/OnDiskInvertedLists.h:60): the scan itself proves the
        hash grouping, so ``binary_search_preassigned`` /
        ``binary_range_search_preassigned`` cogroup straight off the
        files with ZERO corpus-side exchange per big-batch search."""
        import hashlib as _hashlib
        import os as _os

        if self.codes is None:
            raise ValueError("index has no codes table; call add() first")
        spark = self.codes.sparkSession
        if nbuckets is None:
            nbuckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        name = "bivf_codes_" + _hashlib.md5(path.encode()).hexdigest()[:12]
        cols = self.codes.select("list_no", "id", "code")
        ddl = cols._jdf.schema().toDDL()
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            cols.repartition(nbuckets, "list_no")
            .write.mode("overwrite")
            .format("parquet")
            .option("path", path)
            .bucketBy(nbuckets, "list_no")
            .saveAsTable(name)
        )
        self._write_artifacts(spark, path)
        from faiss_spark.sources import fsio

        fsio.write_json(
            spark,
            _os.path.join(path, "_bucket_meta.json"),
            {"nbuckets": int(nbuckets), "table": name, "ddl": ddl},
        )
        self.codes = spark.table(name)
        self.path = path
        return self

    @staticmethod
    def load(spark, path: str) -> "BinaryIVFIndex":
        import os as _os

        from faiss_spark.sources import fsio

        meta = fsio.read_json(spark, _os.path.join(path, "_bivf_meta.json"))
        idx = BinaryIVFIndex(
            centroid_words=fsio.read_npy(spark, _os.path.join(path, "_bivf_centroid_words.npy")),
            nbits=meta["nbits"],
        )
        bucket_meta = _os.path.join(path, "_bucket_meta.json")
        if fsio.exists(spark, bucket_meta):
            from faiss_spark.operators.ivf import _IVFIndexBase

            idx.codes = _IVFIndexBase._bucketed_table(
                spark, path, fsio.read_json(spark, bucket_meta)
            )
        else:
            idx.codes = spark.read.parquet(path)
        idx.path = path
        if meta.get("coarse_R") is not None:
            idx.build_coarse_graph(R=meta["coarse_R"])
        return idx

    def search(
        self, qcodes: DataFrame, k: int, nprobe: int = 1,
        qid_col: str = "qid", qcode_col: str = "qcode",
    ) -> DataFrame:
        """Coarse Hamming top-nprobe -> pruned partitions -> JVM bit-op
        Hamming scan -> window top-k. A query side past the driver bound
        auto-falls-back to the fully-distributed
        ``binary_search_preassigned`` cogroup plan."""
        if self.codes is None:
            raise ValueError("index has no codes table; call add() first")
        from faiss_spark.operators.ivf import collect_queries_bounded

        collected = collect_queries_bounded(
            qcodes, qid_col, qcode_col, "binary_ivf_search",
            d=self.centroid_words.shape[1], dtype=np.int64,
            fallback=lambda: binary_search_preassigned(
                self, qcodes, k, nprobe=nprobe,
                qid_col=qid_col, qcode_col=qcode_col,
            ),
        )
        if isinstance(collected, DataFrame):
            return collected
        qids, qwords = collected
        nprobe_ = min(nprobe, len(self.centroid_words))
        if self._cgraph is not None:
            order = self._routed_probes(qwords, nprobe_)
        else:
            pc = self._hamming_to_centroids(qwords)
            order = np.argsort(pc, axis=1, kind="stable")[:, :nprobe_]
        probed = sorted({int(c) for c in order.ravel()})
        # probe table joined on list_no keeps everything JVM-side
        spark = self.codes.sparkSession
        probe_rows = [
            (int(qids[i]), qwords[i].tolist(), int(c))
            for i in range(len(qids))
            for c in order[i]
        ]
        probes = spark.createDataFrame(
            probe_rows, "qid bigint, qcode array<bigint>, list_no int"
        )
        pruned = self.codes.filter(F.col("list_no").isin(probed))
        joined = pruned.join(F.broadcast(probes), "list_no").select(
            "qid",
            "id",
            hamming_expr(F.col("code"), F.col("qcode")).cast("double").alias("dist"),
        )
        return _window_topk(joined, k, largest=False)

    def range_search(
        self, qcodes: DataFrame, radius: int, nprobe: int = 1,
        qid_col: str = "qid", qcode_col: str = "qcode",
    ) -> DataFrame:
        """Binary IVF range search (reference IndexBinaryIVF::range_search,
        faiss/IndexBinaryIVF.h:129): every (qid, id, dist) in the probed
        lists with Hamming < radius. Driver-planned probes + pruned
        partition scan + codegen'd hamming filter — map-side after the
        prune, no shuffle (no ranking). nprobe == nlist degenerates to
        exact flat hamming_range_search. A query side past the driver
        bound auto-falls-back to binary_range_search_preassigned."""
        if self.codes is None:
            raise ValueError("index has no codes table; call add() first")
        from faiss_spark.operators.ivf import collect_queries_bounded

        collected = collect_queries_bounded(
            qcodes, qid_col, qcode_col, "binary_ivf_range_search",
            d=self.centroid_words.shape[1], dtype=np.int64,
            fallback=lambda: binary_range_search_preassigned(
                self, qcodes, radius, nprobe=nprobe,
                qid_col=qid_col, qcode_col=qcode_col,
            ),
        )
        if isinstance(collected, DataFrame):
            return collected
        qids, qwords = collected
        nprobe_ = min(nprobe, len(self.centroid_words))
        if self._cgraph is not None:
            order = self._routed_probes(qwords, nprobe_)
        else:
            pc = self._hamming_to_centroids(qwords)
            order = np.argsort(pc, axis=1, kind="stable")[:, :nprobe_]
        probed = sorted({int(c) for c in order.ravel()})
        spark = self.codes.sparkSession
        probe_rows = [
            (int(qids[i]), qwords[i].tolist(), int(c))
            for i in range(len(qids))
            for c in order[i]
        ]
        probes = spark.createDataFrame(
            probe_rows, "qid bigint, qcode array<bigint>, list_no int"
        )
        pruned = self.codes.filter(F.col("list_no").isin(probed))
        return (
            pruned.join(F.broadcast(probes), "list_no")
            .select(
                "qid",
                "id",
                hamming_expr(F.col("code"), F.col("qcode"))
                .cast("double")
                .alias("dist"),
            )
            .filter(F.col("dist") < radius)
        )


def _binary_probe_frame(
    index: BinaryIVFIndex,
    qcodes: DataFrame,
    nprobe: int,
    qid_col: str,
    qcode_col: str,
) -> DataFrame:
    """Distributed probe assignment for the binary preassigned searches:
    each executor batch ranks cells by exact Hamming to the broadcast
    centroid words (or the identical beam walk for a graph-routed
    coarse) and replicates (qid, qcode) once per probed list_no."""
    spark = qcodes.sparkSession
    nlist = len(index.centroid_words)
    nprobe_ = min(nprobe, nlist)
    nbits = index.nbits
    routing = (
        (index._cbits, index._cgraph, index._cep)
        if index._cgraph is not None
        else None
    )
    bc = spark.sparkContext.broadcast((index.centroid_words, routing))

    def assign_probes(batches):
        # Arrow-native (r14): the word matrix comes straight off the
        # list column's values buffer and the nprobe-way row replication
        # is an Arrow `take` — no per-row pandas objects.
        import pyarrow as pa

        from faiss_spark.kernels import arrow_i64, arrow_list_matrix

        cw, routing_ = bc.value
        for b in batches:
            if b.num_rows == 0:
                continue
            qw = arrow_list_matrix(b.column(1), np.int64)
            if routing_ is None:
                pc = _hamming_words(qw, cw)
                order = np.argsort(pc, axis=1, kind="stable")[:, :nprobe_]
            else:
                cbits, cgraph, cep = routing_
                order = _routed_probes_np(
                    cbits, cgraph, cep, len(cw), nbits, qw, nprobe_
                )
            rep = np.repeat(np.arange(len(qw)), nprobe_)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(arrow_i64(b.column(0))[rep], pa.int64()),
                    b.column(1).take(pa.array(rep, pa.int64())),
                    pa.array(order.astype(np.int32).ravel(), pa.int32()),
                ],
                ["qid", "qcode", "list_no"],
            )

    q = qcodes.select(
        F.col(qid_col).cast("bigint").alias("qid"),
        F.col(qcode_col).alias("qcode"),
    )
    return q.mapInArrow(
        assign_probes, schema="qid bigint, qcode array<bigint>, list_no int"
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
    IndexBinaryIVF::search_preassigned, faiss/IndexBinaryIVF.h:106):
    the Hamming twin of ivf.search_preassigned, sharing its cogroup
    skeleton (``ivf.cogrouped_cell_scan``: left-semi cell prune,
    hot-cell sub-sharding, probes⟂⟂codes cogrouped on list_no).

    Probe assignment never collects queries: each executor batch ranks
    cells by exact Hamming to the broadcast centroid words — or by the
    IDENTICAL beam walk when the index has a graph-routed coarse
    (``_routed_probes_np`` is shared with the driver-planned path, so
    both modes probe the same cells). The per-cell scan expands packed
    words to 0/1 float bits in bounded chunks and pushes them through
    the tiled TopKAccumulator: squared L2 on 0/1 vectors IS Hamming
    (integer-exact in f64), so distances match the driver-planned
    ``hamming_expr`` scan bit for bit."""
    if index.codes is None:
        raise ValueError("index has no codes table; call add() first")
    nbits = index.nbits
    probes = _binary_probe_frame(index, qcodes, nprobe, qid_col, qcode_col)
    codes = index.codes.select("list_no", "id", "code")
    k_ = k

    def scan_cell(key, ptab, ctab):
        from faiss_spark.kernels import (
            TopKAccumulator,
            _cand_table,
            _empty_cand_table,
            arrow_i64,
            arrow_list_matrix,
        )

        if ptab.num_rows == 0 or ctab.num_rows == 0:
            return _empty_cand_table()
        qw = arrow_list_matrix(ptab.column("qcode"), dtype=np.int64)
        Qb = _words_to_bits(qw, nbits).astype(np.float64)
        acc = TopKAccumulator(len(Qb), k_, largest=False)
        acc.bind_queries(Qb, "l2")
        ids = arrow_i64(ctab.column("id"))
        cw = arrow_list_matrix(ctab.column("code"), dtype=np.int64)
        # expand the cell's packed words chunkwise (~32 MB of f64 bit
        # rows) — a hot cell never materializes its full bit matrix
        chunk = max(1, (1 << 22) // max(1, nbits))
        for s in range(0, len(ids), chunk):
            Xb = _words_to_bits(cw[s:s + chunk], nbits).astype(np.float64)
            acc.push_block(Xb, ids[s:s + chunk])
        qidx, nid, nd = acc.emit()
        return _cand_table(arrow_i64(ptab.column("qid"))[qidx], nid, nd)

    cands = cogrouped_cell_scan(index, probes, codes, max_cell_rows, scan_cell)
    return _window_topk(cands, k, largest=False)


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
    every (qid, id) in the probed lists with Hamming < radius. Same
    cogroup skeleton as the k-NN twin but the per-cell scan emits pairs
    through the tiled ``range_pairs`` kernel on the 0/1 bit expansion
    (squared L2 == Hamming, integer-exact) — no top-k, and because
    inverted lists partition the ids the plan ends map-only after the
    cogroup, exactly like the float ``range_search_preassigned``."""
    if index.codes is None:
        raise ValueError("index has no codes table; call add() first")
    nbits = index.nbits
    radius_ = float(radius)
    probes = _binary_probe_frame(index, qcodes, nprobe, qid_col, qcode_col)
    codes = index.codes.select("list_no", "id", "code")

    def scan_cell(key, ptab, ctab):
        from faiss_spark.kernels import (
            _cand_table,
            _empty_cand_table,
            arrow_i64,
            arrow_list_matrix,
            range_pairs,
        )

        if ptab.num_rows == 0 or ctab.num_rows == 0:
            return _empty_cand_table()
        qw = arrow_list_matrix(ptab.column("qcode"), dtype=np.int64)
        Qb = _words_to_bits(qw, nbits)
        qids = arrow_i64(ptab.column("qid"))
        ids = arrow_i64(ctab.column("id"))
        cw = arrow_list_matrix(ctab.column("code"), dtype=np.int64)
        chunk = max(1, (1 << 22) // max(1, nbits))
        out_q, out_i, out_d = [], [], []
        for s in range(0, len(ids), chunk):
            Xb = _words_to_bits(cw[s:s + chunk], nbits)
            rq, rc, vals = range_pairs(Qb, Xb, "l2", radius_)
            if len(rq):
                out_q.append(qids[rq])
                out_i.append(ids[s:s + chunk][rc])
                out_d.append(vals)
        if not out_q:
            return _empty_cand_table()
        return _cand_table(
            np.concatenate(out_q), np.concatenate(out_i), np.concatenate(out_d)
        )

    return cogrouped_cell_scan(index, probes, codes, max_cell_rows, scan_cell)


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
