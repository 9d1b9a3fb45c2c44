"""Evaluation datasets (reference contrib/datasets.py).

The reference ships a ``SyntheticDataset`` (contrib/datasets.py:72) that
is deliberately NOT white noise: points live on a ``d1``-dimensional
ellipsoid randomly projected into ``d`` dimensions and passed through a
per-dimension sinusoid — low intrinsic dimension plus a nonlinearity, so
coarse quantizers and PQ behave the way they do on real embeddings
(white Gaussian noise makes every IVF cell equally useless and flatters
nothing). The standard open-source datasets (SIFT1M, BigANN, Deep1B,
GloVe) are file-backed there; here their ingestion path is
``sources/vecs_io.vecs_to_parquet`` — this module provides the synthetic
generator.

Spark-first shape: the matrix is never materialized on the driver.
``spark.range`` rows are mapped to vectors inside Arrow batches with a
COUNTER-BASED per-id RNG (two xxhash64-style splitmix draws → Box-Muller),
so the dataset is a pure function of (id, seed): deterministic under any
partitioning, any cluster size, and any re-run — the property a 100 TB
eval harness actually needs (numpy's stateful RandomState would tie the
data to a partition layout). The projection/scale matrices are tiny
(d1×d) driver constants broadcast with the closure, exactly the
reference's construction.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from faiss_spark.kernels import arrow_i64, arrow_list


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 — the standard 64-bit mixer; vectorized, uint64 in/out."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(
        0xFFFFFFFFFFFFFFFF
    )
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(
        0xFFFFFFFFFFFFFFFF
    )
    return x ^ (x >> np.uint64(31))


def _hash_normals(ids: np.ndarray, d1: int, seed: int) -> np.ndarray:
    """(n, d1) standard normals as a pure function of (id, column, seed):
    two splitmix64 draws per cell → Box-Muller."""
    n = len(ids)
    base = ids.astype(np.uint64)[:, None] * np.uint64(2 * d1 + 1)
    cols = np.arange(d1, dtype=np.uint64)[None, :]
    s = np.uint64(seed & 0xFFFFFFFFFFFFFFFF)
    h1 = _splitmix64(base + 2 * cols + s)
    h2 = _splitmix64(base + 2 * cols + np.uint64(1) + s)
    # uniforms in (0, 1]: (h + 1) / 2^64 — u1 must never be 0 for the log
    u1 = (h1.astype(np.float64) + 1.0) / 18446744073709551616.0
    u2 = h2.astype(np.float64) / 18446744073709551616.0
    return np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2).reshape(
        n, d1
    )


class SyntheticDataset:
    """Distributed twin of the reference SyntheticDataset
    (contrib/datasets.py:72): train/database/query splits drawn from the
    same ellipsoid-projected sinusoid manifold, as DataFrames of
    (id bigint, vec array<float>).

    Ids are split-local (train ids 0..nt-1, database 0..nb-1, query
    0..nq-1) matching the reference's array indexing; the underlying
    manifold row is offset so the three splits never share a point."""

    def __init__(
        self,
        spark: SparkSession,
        d: int,
        nt: int,
        nb: int,
        nq: int,
        metric: str = "l2",
        seed: int = 1338,
        d1: int = 10,
    ):
        if d1 < 1 or d < 1:
            raise ValueError(f"d1 and d must be >= 1, got d1={d1}, d={d}")
        self.spark = spark
        self.d, self.nt, self.nb, self.nq = d, nt, nb, nq
        self.metric = metric
        self.seed = seed
        self.d1 = d1
        # tiny driver-side constants, same construction as the reference:
        # random projection d1 -> d, then a per-dimension frequency scale
        # (higher -> less linear after the sin)
        rs = np.random.RandomState(seed)
        self.proj = rs.rand(d1, d)
        self.scale = rs.rand(d) * 4 + 0.1

    def _split(self, offset: int, n: int) -> DataFrame:
        proj, scale, d1, seed = self.proj, self.scale, self.d1, self.seed

        def gen(batches):
            import pyarrow as pa

            for b in batches:
                if b.num_rows == 0:
                    continue
                z = _hash_normals(arrow_i64(b.column(0)) + offset, d1, seed)
                x = np.sin((z @ proj) * scale[None, :])
                yield pa.RecordBatch.from_arrays(
                    [b.column(0), arrow_list(x.astype(np.float32))],
                    names=["id", "vec"],
                )

        return self.spark.range(n).mapInArrow(
            gen, schema="id bigint, vec array<float>"
        )

    def get_train(self, maxtrain: int | None = None) -> DataFrame:
        return self._split(0, min(maxtrain or self.nt, self.nt))

    def get_database(self) -> DataFrame:
        return self._split(self.nt, self.nb)

    def get_queries(self) -> DataFrame:
        return self._split(self.nt + self.nb, self.nq).selectExpr(
            "id as qid", "vec"
        )

    def get_groundtruth(self, k: int = 100) -> DataFrame:
        """Exact (qid, id, dist, rank) via the brute-force operator —
        the reference computes GT with contrib exhaustive_search.knn."""
        from faiss_spark.operators.knn import knn

        return knn(
            self.get_database(), self.get_queries(), k, metric=self.metric
        )
