"""Zn-sphere lattice codec — IndexLattice (SURVEY §2.B, previously the
one low-priority out-of-scope codec row).

Reference semantics (re-derived, not transliterated):
  faiss/impl/lattice_Zn.h:25-135  ZnSphereSearch / Repeats / ZnSphereCodec
  faiss/IndexLattice.cpp:17-115   train (per-block norm range), sa_encode,
                                  sa_decode; add/search throw in the
                                  reference too — the lattice is a pure
                                  standalone codec.
  faiss/index_factory.cpp:535-539 factory token ZnLattice<nsq>x<r2>_<nbit>

The codec quantizes each d/nsq sub-vector to its nearest point of the
integer lattice Z^dsq intersected with the sphere of squared radius r2,
plus a scalar-quantized norm. Every sphere point is a signed permutation
of a canonical non-increasing "atom"; a code is

    c0(atom) + sign_bits + (permutation_rank << signbits)

where the permutation rank uses the combinatorial number system over the
repeat-groups of the atom. Codes here are self-consistent (round-trip
exact) but intentionally NOT byte-compatible with the reference — codes
never leave this engine.

Spark-first shape: encode/decode are numpy-vectorized per Arrow batch
(grouped by atom so the combinadic arithmetic runs as array ops, no
per-row Python in the hot loop except the final bit-packing), driven by
``mapInArrow`` over the (id, vec) table; training is a pure JVM-side
aggregate (slice + aggregate + min/max), so the scan stays in codegen.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from faiss_spark.kernels import arrow_list, arrow_list_matrix


def _comb_table(nmax: int) -> np.ndarray:
    """Pascal's triangle as int64; C(n, p) = tab[n, p], 0 when p > n.
    int64 is exact up to C(62, 31); configs anywhere near that many
    distinct codes are rejected at construction."""
    tab = np.zeros((nmax + 1, nmax + 1), dtype=np.int64)
    tab[:, 0] = 1
    for n in range(1, nmax + 1):
        for p in range(1, n + 1):
            tab[n, p] = tab[n - 1, p] + tab[n - 1, p - 1]
    return tab


def sphere_atoms(dim: int, r2: int) -> np.ndarray:
    """All non-increasing vectors of `dim` nonnegative integers with
    squared norm exactly r2 — the canonical atoms whose signed
    permutations tile the sphere. Enumerated first-coordinate-descending
    (deterministic; ordering only fixes our own code numbering)."""
    out: list[tuple[int, ...]] = []
    prefix = [0] * dim

    def rec(pos: int, remaining: int, vmax: int) -> None:
        if pos == dim:
            if remaining == 0:
                out.append(tuple(prefix))
            return
        slots = dim - pos
        v = min(vmax, math.isqrt(remaining))
        while v >= 0:
            if v * v * slots < remaining:
                break  # even v everywhere can't reach the norm
            prefix[pos] = v
            rec(pos + 1, remaining - v * v, v)
            v -= 1

    rec(0, r2, math.isqrt(r2))
    if not out:
        return np.zeros((0, dim), dtype=np.float64)
    return np.array(out, dtype=np.float64)


@dataclass
class _Segment:
    """Per-atom code segment: repeat groups (value, count) in order of
    appearance (values descending), sign-bit width, code offset, and the
    number of distinct permutations."""

    repeats: list  # [(value, count)] descending values
    signbits: int
    c0: int
    perm_count: int


class ZnSphereCodec:
    """Nearest-point search + enumerate/encode/decode on the Z^dim sphere
    of squared radius r2 (reference ZnSphereSearch + ZnSphereCodec,
    faiss/impl/lattice_Zn.h:25,116). All batch methods are vectorized
    over rows, grouped by atom."""

    def __init__(self, dim: int, r2: int):
        self.dim = dim
        self.r2 = r2
        self.atoms = sphere_atoms(dim, r2)  # (natom, dim) non-increasing
        self.natom = len(self.atoms)
        if self.natom == 0:
            raise ValueError(
                f"no Z^{dim} points with squared norm {r2} — pick r2 "
                "expressible as a sum of <=dim integer squares"
            )
        self._comb = _comb_table(dim)
        self.segments: list[_Segment] = []
        nv = 0
        for a in self.atoms:
            vals: list[float] = []
            counts: list[int] = []
            for v in a:
                if vals and vals[-1] == v:
                    counts[-1] += 1
                else:
                    vals.append(float(v))
                    counts.append(1)
            nnz = dim - (counts[-1] if vals[-1] == 0.0 else 0)
            perm = 1
            remain = dim
            for c in counts:
                perm *= int(self._comb[remain, c])
                remain -= c
            if perm << nnz > (1 << 62) - nv:
                raise ValueError(
                    f"ZnSphereCodec(dim={dim}, r2={r2}) exceeds the 62-bit "
                    "code budget"
                )
            self.segments.append(
                _Segment(list(zip(vals, counts)), nnz, nv, perm)
            )
            nv += perm << nnz
        self.nv = nv
        self.code_bits = max(1, (nv - 1).bit_length())
        self.code_size = (self.code_bits + 7) // 8
        self._c0 = np.array([s.c0 for s in self.segments], dtype=np.int64)

    # ------------------------------------------------------------ search --
    def search(self, X: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Nearest sphere point of each row (maximum dot product — scale
        invariant, so X need not be normalized). Returns (centroids,
        atom_idx). Vectorized: per-row descending-|x| permutation, one
        GEMM against the atom vocabulary, inverse scatter with signs
        (the reference's sort + argmax-atom + copysign dance,
        faiss/impl/lattice_Zn.cpp ZnSphereSearch::search)."""
        X = np.asarray(X, dtype=np.float64)
        A = np.abs(X)
        order = np.argsort(-A, axis=1, kind="stable")
        Aperm = np.take_along_axis(A, order, axis=1)
        ibest = (Aperm @ self.atoms.T).argmax(axis=1)
        C = np.empty_like(A)
        np.put_along_axis(C, order, self.atoms[ibest], axis=1)
        np.copysign(C, X, out=C)
        C += 0.0  # normalize -0.0 (sign of a zero slot is not coded)
        return C, ibest

    # ------------------------------------------------------------ encode --
    def encode_centroids(self, C: np.ndarray, ano: np.ndarray) -> np.ndarray:
        """Codes of exact sphere points C with known atom index ano."""
        C = np.asarray(C, dtype=np.float64)
        n, dim = C.shape
        cabs = np.abs(C)
        nzmask = cabs != 0
        nzrank = np.cumsum(nzmask, axis=1) - 1
        signs = np.where(
            (C < 0) & nzmask,
            np.left_shift(np.int64(1), np.clip(nzrank, 0, 62)),
            np.int64(0),
        ).sum(axis=1)
        codes = np.empty(n, dtype=np.int64)
        for a in np.unique(ano):
            rows = np.flatnonzero(ano == a)
            seg = self.segments[a]
            sub = cabs[rows]
            free = np.ones((len(rows), dim), dtype=bool)
            comb_code = np.zeros(len(rows), dtype=np.int64)
            shift = 1
            nfree = dim
            for val, cnt in seg.repeats:
                matches = free & (sub == val)  # exactly cnt per row
                ranks = np.cumsum(free, axis=1) - 1  # rank among free slots
                sel = ranks[matches].reshape(len(rows), cnt)
                cc = np.zeros(len(rows), dtype=np.int64)
                for j in range(cnt):
                    cc += self._comb[sel[:, j], j + 1]
                comb_code += shift * cc
                shift *= int(self._comb[nfree, cnt])
                free &= ~matches
                nfree -= cnt
            codes[rows] = (
                seg.c0 + signs[rows] + (comb_code << seg.signbits)
            )
        return codes

    def encode(self, X: np.ndarray) -> np.ndarray:
        """Quantize arbitrary vectors: nearest sphere point, then rank."""
        C, ano = self.search(X)
        return self.encode_centroids(C, ano)

    # ------------------------------------------------------------ decode --
    def decode(self, codes: np.ndarray) -> np.ndarray:
        codes = np.asarray(codes, dtype=np.int64)
        n = len(codes)
        dim = self.dim
        out = np.zeros((n, dim), dtype=np.float64)
        a_idx = np.searchsorted(self._c0, codes, side="right") - 1
        rowsrange = None
        for a in np.unique(a_idx):
            rows = np.flatnonzero(a_idx == a)
            seg = self.segments[a]
            rem = codes[rows] - seg.c0
            signs = rem & ((np.int64(1) << seg.signbits) - 1)
            cc_all = rem >> seg.signbits
            free = np.ones((len(rows), dim), dtype=bool)
            vals = np.zeros((len(rows), dim), dtype=np.float64)
            nfree = dim
            rowsrange = np.arange(len(rows))
            for val, cnt in seg.repeats:
                maxc = int(self._comb[nfree, cnt])
                gc = cc_all % maxc
                cc_all = cc_all // maxc
                # combinadic decode: ranks r_cnt > ... > r_1,
                # r_j = max r with C(r, j) <= gc
                ranks = np.cumsum(free, axis=1) - 1  # group-start ranks
                for j in range(cnt, 0, -1):
                    col = self._comb[:, j]  # non-decreasing in r
                    r = np.searchsorted(col, gc, side="right") - 1
                    gc = gc - col[r]
                    mask = free & (ranks == r[:, None])
                    pos = mask.argmax(axis=1)
                    vals[rowsrange, pos] = val
                    free[rowsrange, pos] = False
                nfree -= cnt
            nz = vals != 0
            nzrank = np.cumsum(nz, axis=1) - 1
            negbit = (signs[:, None] >> np.clip(nzrank, 0, 62)) & 1
            out[rows] = np.where(nz & (negbit == 1), -vals, vals)
        return out


class LatticeModel:
    """Trained IndexLattice state: per-sub-block norm ranges + the shared
    sphere codec (reference faiss/IndexLattice.h:22-41). A small driver
    artifact, broadcast into the encode/decode UDFs."""

    def __init__(self, d: int, nsq: int, scale_nbit: int, r2: int,
                 mins: np.ndarray, maxs: np.ndarray):
        if d % nsq != 0:
            raise ValueError(f"d={d} not divisible by nsq={nsq}")
        self.d = d
        self.nsq = nsq
        self.dsq = d // nsq
        self.scale_nbit = scale_nbit
        self.r2 = r2
        self.codec = ZnSphereCodec(self.dsq, r2)
        self.lattice_nbit = max(1, (int(self.codec.nv) - 1).bit_length())
        total = (self.lattice_nbit + scale_nbit) * nsq
        self.code_size = (total + 7) // 8
        self.mins = np.asarray(mins, dtype=np.float64)
        self.maxs = np.asarray(maxs, dtype=np.float64)

    # generic persistence (sources/state.py): the sphere codec is pure
    # derived state — rebuild it from (dsq, r2) instead of serializing
    # its enumeration tables
    __persist_skip__ = ("codec",)

    def __persist_rebuild__(self) -> None:
        self.codec = ZnSphereCodec(self.dsq, self.r2)

    # -- numpy core (shared by the Spark UDFs and the tests) --------------
    def encode_np(self, X: np.ndarray) -> list[bytes]:
        X = np.asarray(X, dtype=np.float64)
        n = len(X)
        sc = 1 << self.scale_nbit
        span = np.maximum(self.maxs - self.mins, 1e-20)
        scale_codes = np.empty((n, self.nsq), dtype=np.int64)
        lat_codes = np.empty((n, self.nsq), dtype=np.int64)
        for j in range(self.nsq):
            sub = X[:, j * self.dsq : (j + 1) * self.dsq]
            norm = np.sqrt((sub * sub).sum(axis=1))
            nj = np.floor((norm - self.mins[j]) * sc / span[j])
            scale_codes[:, j] = np.clip(nj, 0, sc - 1).astype(np.int64)
            lat_codes[:, j] = self.codec.encode(sub)
        # LSB-first bitstream per row: (scale, lattice) per sub-block —
        # same field order as the reference writer (IndexLattice.cpp:79-89)
        out = []
        lb, sb, csz = self.lattice_nbit, self.scale_nbit, self.code_size
        for i in range(n):
            acc = 0
            off = 0
            for j in range(self.nsq):
                acc |= int(scale_codes[i, j]) << off
                off += sb
                acc |= int(lat_codes[i, j]) << off
                off += lb
            out.append(acc.to_bytes(csz, "little"))
        return out

    def decode_np(self, codes: list[bytes]) -> np.ndarray:
        n = len(codes)
        sc = 1 << self.scale_nbit
        span = np.maximum(self.maxs - self.mins, 1e-20)
        scale_codes = np.empty((n, self.nsq), dtype=np.int64)
        lat_codes = np.empty((n, self.nsq), dtype=np.int64)
        smask = (1 << self.scale_nbit) - 1
        lmask = (1 << self.lattice_nbit) - 1
        for i, b in enumerate(codes):
            acc = int.from_bytes(bytes(b), "little")
            for j in range(self.nsq):
                scale_codes[i, j] = acc & smask
                acc >>= self.scale_nbit
                lat_codes[i, j] = acc & lmask
                acc >>= self.lattice_nbit
        X = np.empty((n, self.d), dtype=np.float64)
        r = math.sqrt(self.r2)
        for j in range(self.nsq):
            norm = (scale_codes[:, j] + 0.5) * span[j] / sc + self.mins[j]
            pts = self.codec.decode(lat_codes[:, j])
            X[:, j * self.dsq : (j + 1) * self.dsq] = (
                pts * (norm / r)[:, None]
            )
        return X

    # -- Spark face --------------------------------------------------------
    def encode(self, df: DataFrame, id_col: str = "id",
               vec_col: str = "vec") -> DataFrame:
        """(id, vec) -> (id, code BINARY) — sa_encode as a map-only
        mapInArrow; column pruning reaches the scan."""
        from faiss_spark.operators.codecs import _map_codec

        def enc(vec):
            import pyarrow as pa

            return pa.array(self.encode_np(arrow_list_matrix(vec)), pa.binary())

        return _map_codec(df, id_col, vec_col, enc, "id bigint, code binary")

    def decode(self, df: DataFrame, id_col: str = "id",
               code_col: str = "code") -> DataFrame:
        """(id, code) -> (id, vec array<double>) — sa_decode."""
        from faiss_spark.operators.codecs import _map_codec

        return _map_codec(
            df, id_col, code_col,
            lambda code: arrow_list(self.decode_np(code.to_pylist())),
            "id bigint, vec array<double>",
        )


class LatticeIndex:
    """IndexLattice lifecycle: train norm ranges on a DataFrame, then
    encode/decode distributed. ``search`` is decode + exact scan (the
    reference's IndexLattice.search throws not-implemented; offering the
    refine-on-decode path costs nothing here and matches how the SQ/RQ
    full-table codecs search in this engine)."""

    def __init__(self, nsq: int, scale_nbit: int = 4, r2: int = 10):
        self.nsq = nsq
        self.scale_nbit = scale_nbit
        self.r2 = r2
        self.model: LatticeModel | None = None
        self.codes: DataFrame | None = None

    def fit(self, df: DataFrame, vec_col: str = "vec") -> "LatticeIndex":
        """Per-sub-block min/max of the L2 norm (reference
        IndexLattice::train, IndexLattice.cpp:37-63) — computed entirely
        JVM-side: slice + aggregate inside codegen, one min/max agg."""
        d = len(df.select(vec_col).first()[0])
        if d % self.nsq != 0:
            raise ValueError(f"d={d} not divisible by nsq={self.nsq}")
        dsq = d // self.nsq
        norm_cols = [
            F.sqrt(
                F.expr(
                    f"aggregate(slice({vec_col}, {j * dsq + 1}, {dsq}), "
                    "cast(0 as double), (a, v) -> a + cast(v as double) * v)"
                )
            ).alias(f"n{j}")
            for j in range(self.nsq)
        ]
        aggs = []
        for j in range(self.nsq):
            aggs.append(F.min(f"n{j}").alias(f"min{j}"))
            aggs.append(F.max(f"n{j}").alias(f"max{j}"))
        row = df.select(*norm_cols).agg(*aggs).first()
        mins = np.array([row[f"min{j}"] for j in range(self.nsq)])
        maxs = np.array([row[f"max{j}"] for j in range(self.nsq)])
        self.model = LatticeModel(
            d, self.nsq, self.scale_nbit, self.r2, mins, maxs
        )
        return self

    def sa_encode(self, df: DataFrame, id_col: str = "id",
                  vec_col: str = "vec") -> DataFrame:
        return self.model.encode(df, id_col, vec_col)

    def sa_decode(self, codes: DataFrame, id_col: str = "id",
                  code_col: str = "code") -> DataFrame:
        return self.model.decode(codes, id_col, code_col)

    @property
    def sa_code_size(self) -> int:
        return self.model.code_size

    def search(self, base: DataFrame, queries: DataFrame, k: int,
               metric: str = "l2", qid_col: str = "qid") -> DataFrame:
        from faiss_spark.operators.knn import knn

        decoded = self.sa_decode(self.sa_encode(base))
        return knn(decoded, queries, k, metric=metric, qid_col=qid_col)

    # -- persistence (write_index/read_index parity: the reference
    # serializes IndexLattice's trained ranges + codec params,
    # faiss/impl/index_write.cpp; codes live in their own table) ---------
    def save(self, path: str, codes: DataFrame | None = None) -> None:
        if self.model is None:
            raise ValueError("index is not trained; call fit() first")
        from pyspark.sql import SparkSession

        from faiss_spark.sources import fsio

        spark = (
            codes.sparkSession if codes is not None
            else SparkSession.getActiveSession()
        )
        if spark is None:
            raise RuntimeError(
                "LatticeIndex.save needs an active SparkSession to reach "
                "the target filesystem"
            )
        fsio.write_npy(spark, os.path.join(path, "_lattice_mins.npy"), self.model.mins)
        fsio.write_npy(spark, os.path.join(path, "_lattice_maxs.npy"), self.model.maxs)
        fsio.write_json(
            spark,
            os.path.join(path, "_lattice_meta.json"),
            {"d": self.model.d, "nsq": self.nsq,
             "scale_nbit": self.scale_nbit, "r2": self.r2},
        )
        if codes is not None:
            codes.write.mode("overwrite").parquet(
                os.path.join(path, "codes")
            )

    @staticmethod
    def load(spark, path: str) -> "LatticeIndex":
        from faiss_spark.sources import fsio

        meta = fsio.read_json(spark, os.path.join(path, "_lattice_meta.json"))
        idx = LatticeIndex(
            nsq=meta["nsq"], scale_nbit=meta["scale_nbit"], r2=meta["r2"]
        )
        idx.model = LatticeModel(
            meta["d"], meta["nsq"], meta["scale_nbit"], meta["r2"],
            fsio.read_npy(spark, os.path.join(path, "_lattice_mins.npy")),
            fsio.read_npy(spark, os.path.join(path, "_lattice_maxs.npy")),
        )
        codes_path = os.path.join(path, "codes")
        if fsio.exists(spark, codes_path):
            idx.codes = spark.read.parquet(codes_path)
        return idx
