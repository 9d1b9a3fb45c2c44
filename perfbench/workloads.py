"""The three seeded batch jobs the benchmark runs against ``faiss_spark``.

Each workload generates its inputs with seeded numpy, writes them to
parquet with pyarrow, computes its own ground truth with numpy (never
through ``faiss_spark``) and then runs one full job pass at a time through
the public API. A pass returns the outcome of every operation it attempted
so that a failed check counts against the run without stopping it.

Span names are ``<module>.<public call>``; ``tracing.Tracer`` times them and,
when tracing is on, attaches Spark counters to them.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

K = 10


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def write_vectors(path: str, X: np.ndarray, id_name: str = "id") -> None:
    """(id bigint, vec array<float>) parquet, one file, ids 0..n-1."""
    n, d = X.shape
    vec = pa.FixedSizeListArray.from_arrays(
        pa.array(np.ascontiguousarray(X, np.float32).ravel()), d
    ).cast(pa.list_(pa.float32()))
    ids = pa.array(np.arange(n, dtype=np.int64))
    pq.write_table(pa.table({id_name: ids, "vec": vec}), path)


def gaussian_mixture(rng, n: int, d: int, centres: np.ndarray,
                     sigma: float) -> np.ndarray:
    lab = rng.integers(0, len(centres), n)
    return (centres[lab] + sigma * rng.standard_normal((n, d))).astype(np.float32)


def exact_topk(Q: np.ndarray, X: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(ids, squared L2 dists) of the k nearest rows of X for each query,
    in float64, nearest first."""
    Q = Q.astype(np.float64)
    X = X.astype(np.float64)
    xn = (X * X).sum(1)
    ids = np.empty((len(Q), k), np.int64)
    dist = np.empty((len(Q), k), np.float64)
    for r0 in range(0, len(Q), 512):
        q = Q[r0:r0 + 512]
        D = (q * q).sum(1)[:, None] + xn[None, :] - 2.0 * (q @ X.T)
        part = np.argpartition(D, k - 1, axis=1)[:, :k]
        pd_ = np.take_along_axis(D, part, 1)
        order = np.argsort(pd_, axis=1, kind="stable")
        ids[r0:r0 + 512] = np.take_along_axis(part, order, 1)
        dist[r0:r0 + 512] = np.take_along_axis(pd_, order, 1)
    return ids, dist


def rows_by_query(qcol: np.ndarray, icol: np.ndarray) -> dict[int, set]:
    out: dict[int, set] = {}
    for q, i in zip(qcol.tolist(), icol.tolist()):
        out.setdefault(q, set()).add(i)
    return out


def recall_at_k(found: dict[int, set], truth_ids: np.ndarray,
                qids: np.ndarray) -> float:
    hit = 0
    for qi, q in enumerate(qids.tolist()):
        hit += len(found.get(q, set()) & set(truth_ids[qi].tolist()))
    return hit / truth_ids.size


def topk_is_exact(found: dict[int, set], X: np.ndarray, Q: np.ndarray,
                  qids: np.ndarray, truth_dist: np.ndarray, k: int,
                  rtol: float) -> bool:
    """Every query got k ids whose farthest distance is within rtol of the
    true k-th distance: a valid exact top-k, robust to near ties."""
    Q = Q.astype(np.float64)
    for qi, q in enumerate(qids.tolist()):
        ids = found.get(q)
        if ids is None or len(ids) != k:
            return False
        V = X[np.fromiter(ids, np.int64, len(ids))].astype(np.float64)
        worst = ((V - Q[qi]) ** 2).sum(1).max()
        if worst > truth_dist[qi, k - 1] * (1 + rtol) + 1e-9:
            return False
    return True


class Outcome:
    """Operations attempted in one pass and the checks they failed."""

    def __init__(self):
        self.attempted = 0
        self.failed: list[str] = []
        self.values: dict[str, float] = {}

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(name)

    def merge(self, other: "Outcome") -> "Outcome":
        self.attempted += other.attempted
        self.failed += other.failed
        self.values.update(other.values)
        return self


class IVFIndexJob:
    """IVF-PQ build plus the same query set through both search routes."""

    name = "ivf_index"
    SIZES = {
        "full": dict(n=4_000, d=32, centres=40, nlist=16, M=8, nq=200,
                     nprobe=4, niter=3, pq_niter=4),
        "toy": dict(n=2_000, d=16, centres=20, nlist=8, M=4, nq=50,
                    nprobe=2, niter=2, pq_niter=2),
    }

    def __init__(self, size: str, seed: int):
        self.s = self.SIZES[size]
        self.seed = seed

    def setup(self, root: str) -> None:
        s = self.s
        rng = np.random.default_rng(self.seed)
        C = rng.standard_normal((s["centres"], s["d"])) * 2.0
        X = gaussian_mixture(rng, s["n"], s["d"], C, 1.0)
        Q = gaussian_mixture(rng, s["nq"], s["d"], C, 1.0)
        self.base_path = os.path.join(root, "base.parquet")
        self.query_path = os.path.join(root, "queries.parquet")
        write_vectors(self.base_path, X)
        write_vectors(self.query_path, Q, id_name="qid")
        self.qids = np.arange(s["nq"], dtype=np.int64)
        self.truth, _ = exact_topk(Q, X, K)
        self.index_path = os.path.join(root, "ivfpq_index")

    def run_pass(self, spark, tr) -> dict:
        from faiss_spark import IVFPQIndex, pq_search_preassigned

        s, out = self.s, {}
        vecs = spark.read.parquet(self.base_path)
        qs = spark.read.parquet(self.query_path)
        t0 = time.perf_counter()
        with tr.span("ivf.train"):
            idx = IVFPQIndex.train(vecs, s["nlist"], M=s["M"], seed=self.seed,
                                   niter=s["niter"], pq_niter=s["pq_niter"])
        with tr.span("ivf.add") as sp:
            idx.add(vecs, path=self.index_path)
            sp["output_bytes"] = float(dir_bytes(self.index_path))
        out["build_rows_per_s"] = s["n"] / (time.perf_counter() - t0)
        out["index_bytes_per_vector"] = sp["output_bytes"] / s["n"]
        t0 = time.perf_counter()
        with tr.span("ivf.search"):
            out["a"] = idx.search(qs, K, nprobe=s["nprobe"]).select(
                "qid", "id").toArrow()
        out["search_qps"] = s["nq"] / (time.perf_counter() - t0)
        t0 = time.perf_counter()
        with tr.span("ivf.pq_search_preassigned"):
            out["b"] = pq_search_preassigned(
                idx, qs, K, nprobe=s["nprobe"]).select("qid", "id").toArrow()
        out["bigbatch_qps"] = s["nq"] / (time.perf_counter() - t0)
        return out

    def check(self, raw: dict) -> Outcome:
        a, b, out = raw.pop("a"), raw.pop("b"), Outcome()
        out.values.update(raw)
        pa_ = set(zip(a["qid"].to_pylist(), a["id"].to_pylist()))
        pb_ = set(zip(b["qid"].to_pylist(), b["id"].to_pylist()))
        out.check("ivf.search.rows", a.num_rows == self.s["nq"] * K)
        out.check("ivf.routes_agree", pa_ == pb_)
        found = rows_by_query(a["qid"].to_numpy(), a["id"].to_numpy())
        out.values["ivf_recall_at_10"] = recall_at_k(found, self.truth, self.qids)
        return out


class KnnJoinJob:
    """Exact batch knn plus the bucketed approximate k-NN graph; an
    in-process top-k kernel block runs beside its numpy GEMM roofline."""

    name = "knn_join"
    SIZES = {
        "full": dict(n=4_000, d=32, centres=40, nq=200, nlist=8,
                     nprobe=2, kq=1_000, kn=20_000, sample=300),
        "toy": dict(n=2_000, d=16, centres=20, nq=50, nlist=8, nprobe=2,
                    kq=100, kn=1_000, sample=50),
    }

    def __init__(self, size: str, seed: int):
        self.s = self.SIZES[size]
        self.seed = seed

    def setup(self, root: str) -> None:
        s = self.s
        rng = np.random.default_rng(self.seed)
        C = rng.standard_normal((s["centres"], s["d"])) * 2.0
        self.X = gaussian_mixture(rng, s["n"], s["d"], C, 1.0)
        self.Q = gaussian_mixture(rng, s["nq"], s["d"], C, 1.0)
        self.base_path = os.path.join(root, "base.parquet")
        self.query_path = os.path.join(root, "queries.parquet")
        write_vectors(self.base_path, self.X)
        write_vectors(self.query_path, self.Q, id_name="qid")
        self.qids = np.arange(s["nq"], dtype=np.int64)
        self.truth_ids, self.truth_dist = exact_topk(self.Q, self.X, K)
        # graph truth: exact neighbours (self excluded) of sampled nodes
        self.sample = np.sort(rng.choice(s["n"], s["sample"], replace=False))
        ids, _ = exact_topk(self.X[self.sample], self.X, K + 1)
        self.graph_truth = [
            [j for j in row if j != src][:K]
            for src, row in zip(self.sample.tolist(), ids.tolist())
        ]
        # fixed in-process kernel block (float32, the sgemm path)
        self.kQ = gaussian_mixture(rng, s["kq"], s["d"], C, 1.0)
        self.kX = gaussian_mixture(rng, s["kn"], s["d"], C, 1.0)
        self.k_ids = np.arange(s["kn"], dtype=np.int64)
        _, self.k_truth_dist = exact_topk(self.kQ, self.kX, K)
        self.k_gemm_out = np.empty((s["kq"], s["kn"]), np.float32)

    def kernel_flops(self) -> float:
        s = self.s
        return 2.0 * s["kq"] * s["kn"] * s["d"]

    def gemm_roofline_s(self) -> float:
        """Seconds numpy's BLAS takes for the kernel block's GEMM, into a
        buffer faulted in beforehand (best of three)."""
        np.dot(self.kQ, self.kX.T, out=self.k_gemm_out)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            np.dot(self.kQ, self.kX.T, out=self.k_gemm_out)
            best = min(best, time.perf_counter() - t0)
        return best

    def run_pass(self, spark, tr) -> dict:
        from faiss_spark import knn, knn_graph_bucketed
        from faiss_spark.kernels import TopKAccumulator

        s, out = self.s, {}
        with tr.span("kernels.topk"):
            acc = TopKAccumulator(s["kq"], K, False)
            acc.bind_queries(self.kQ, "l2")
            acc.push_block(self.kX, self.k_ids)
            out["topk"] = acc.emit()
        vecs = spark.read.parquet(self.base_path)
        qs = spark.read.parquet(self.query_path)
        t0 = time.perf_counter()
        with tr.span("knn.knn"):
            out["knn"] = knn(vecs, qs, K).select("qid", "id").toArrow()
        out["knn_qps"] = s["nq"] / (time.perf_counter() - t0)
        t0 = time.perf_counter()
        with tr.span("graph.knn_graph_bucketed"):
            out["graph"] = knn_graph_bucketed(
                vecs, K, nlist=s["nlist"], nprobe=s["nprobe"],
                seed=self.seed, dtype="f32",
            ).select("src", "dst").toArrow()
        out["graph_edges_per_s"] = out["graph"].num_rows / (
            time.perf_counter() - t0)
        return out

    def check(self, raw: dict) -> Outcome:
        s, out = self.s, Outcome()
        (qi, ki, _), r, g = raw.pop("topk"), raw.pop("knn"), raw.pop("graph")
        out.values.update(raw)
        out.check("kernels.topk.exact", topk_is_exact(
            rows_by_query(qi, ki), self.kX, self.kQ, np.arange(s["kq"]),
            self.k_truth_dist, K, rtol=1e-4))
        out.check("knn.rows", r.num_rows == s["nq"] * K)
        found = rows_by_query(r["qid"].to_numpy(), r["id"].to_numpy())
        out.check("knn.exact", topk_is_exact(
            found, self.X, self.Q, self.qids, self.truth_dist, K, rtol=1e-9))
        out.check("graph.edges", g.num_rows == s["n"] * K)
        gfound = rows_by_query(g["src"].to_numpy(), g["dst"].to_numpy())
        hit = sum(len(gfound.get(src, set()) & set(t))
                  for src, t in zip(self.sample.tolist(), self.graph_truth))
        out.values["graph_recall_at_10"] = hit / (len(self.sample) * K)
        return out


class TextDedupJob:
    """Quality features, MinHash LSH pairs, duplicate components and exact
    keep-first dedup over a Zipf word corpus with planted near-duplicates."""

    name = "text_dedup"
    SIZES = {
        "full": dict(docs=5_000, vocab=20_000, dup_frac=0.1, edit=0.03,
                     min_words=80, max_words=300, simhash_docs=800),
        "toy": dict(docs=400, vocab=2_000, dup_frac=0.1, edit=0.03,
                    min_words=80, max_words=300, simhash_docs=200),
    }

    def __init__(self, size: str, seed: int):
        self.s = self.SIZES[size]
        self.seed = seed

    @staticmethod
    def _words(n: int) -> np.ndarray:
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        out = []
        for i in range(n):
            w, j = [], i
            while True:
                w.append(letters[j % 26])
                j //= 26
                if j == 0:
                    break
            out.append("w" + "".join(w))
        return np.array(out)

    def setup(self, root: str) -> None:
        s = self.s
        rng = np.random.default_rng(self.seed)
        vocab = self._words(s["vocab"])
        p = 1.0 / np.arange(1, s["vocab"] + 1)
        p /= p.sum()
        n_dup = int(s["docs"] * s["dup_frac"])
        n_orig = s["docs"] - n_dup
        docs = []
        for _ in range(n_orig):
            L = int(rng.integers(s["min_words"], s["max_words"] + 1))
            docs.append(rng.choice(s["vocab"], L, p=p))
        # each planted duplicate copies a distinct original with a
        # per-word substitution rate of `edit`
        srcs = rng.choice(n_orig, n_dup, replace=False)
        for src in srcs.tolist():
            w = docs[src].copy()
            hit = rng.random(len(w)) < s["edit"]
            w[hit] = rng.choice(s["vocab"], int(hit.sum()), p=p)
            docs.append(w)
        # shuffle doc ids so duplicates are not adjacent to their sources
        perm = rng.permutation(s["docs"])
        texts = [None] * s["docs"]
        for i, w in enumerate(docs):
            texts[perm[i]] = " ".join(vocab[w].tolist())
        self.planted = set()
        for j, src in enumerate(srcs.tolist()):
            a, b = int(perm[src]), int(perm[n_orig + j])
            self.planted.add((min(a, b), max(a, b)))
        self.distinct_texts = len(set(texts))
        self.n_docs = s["docs"]
        self.corpus_path = os.path.join(root, "corpus.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(s["docs"], dtype=np.int64)),
            "text": pa.array(texts),
        }), self.corpus_path)
        self.slice_planted = [
            (a, b) for a, b in self.planted if b < s["simhash_docs"]
        ]

    def run_pass(self, spark, tr) -> dict:
        from pyspark.sql import functions as F

        from faiss_spark import dedup_components, minhash_lsh_pairs
        from faiss_spark.functions import text as T
        from faiss_spark.operators.dedup import dedup_keep_first

        out = {}
        df = spark.read.parquet(self.corpus_path)
        t0 = time.perf_counter()
        with tr.span("text.features"):
            out["features"] = df.select(
                T.token_count(F.col("text")).alias("ntok"),
                T.quality_score(F.col("text")).alias("q"),
                T.stopword_ratio(F.col("text")).alias("stop"),
            ).agg(F.count("*").alias("n"), F.sum("ntok").alias("ntok"),
                  F.avg("q").alias("q"), F.avg("stop").alias("stop")
                  ).collect()[0]
        with tr.span("dedup.minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs(df).select("id_a", "id_b").toArrow()
        out["pairs"] = pairs
        with tr.span("dedup.dedup_components"):
            out["labels"] = dedup_components(
                spark.createDataFrame(pairs.to_pandas())
            ).select("id", "rep_id").toArrow()
        with tr.span("dedup.dedup_keep_first"):
            out["kept"] = dedup_keep_first(df).count()
        out["dedup_docs_per_s"] = self.n_docs / (time.perf_counter() - t0)
        return out

    def check(self, raw: dict) -> Outcome:
        out = Outcome()
        feats, pairs = raw.pop("features"), raw.pop("pairs")
        labels, kept = raw.pop("labels"), raw.pop("kept")
        out.values.update(raw)
        out.check("text.features.rows", feats["n"] == self.n_docs)
        found = set(zip(pairs["id_a"].to_pylist(), pairs["id_b"].to_pylist()))
        tp = len(found & self.planted)
        out.values["dup_pair_recall"] = tp / max(len(self.planted), 1)
        out.values["dup_pair_precision"] = tp / max(len(found), 1)
        out.values["recall"] = out.values["dup_pair_recall"]
        out.check("dedup.pairs_ordered", all(a < b for a, b in found))
        rep = dict(zip(labels["id"].to_pylist(), labels["rep_id"].to_pylist()))
        out.check("dedup.components", all(
            rep.get(a) is not None and rep.get(a) == rep.get(b)
            and rep[a] <= min(a, b) for a, b in found))
        out.check("dedup.keep_first", kept == self.distinct_texts)
        return out

    def simhash_slice(self, spark) -> tuple[float, float]:
        """SimHash pairs on the first ``simhash_docs`` docs, counted and
        scored against the planted pairs inside Spark (collecting them can
        exhaust driver memory on Zipf text)."""
        from pyspark.sql import functions as F

        from faiss_spark import simhash_neardup_pairs

        df = spark.read.parquet(self.corpus_path).filter(
            F.col("doc_id") < self.s["simhash_docs"])
        planted = spark.createDataFrame(
            self.slice_planted or [(-1, -1)], "id_a bigint, id_b bigint"
        ).withColumn("planted", F.lit(1))
        row = (
            simhash_neardup_pairs(df)
            .join(F.broadcast(planted), ["id_a", "id_b"], "left")
            .agg(F.count("*").alias("n"), F.count("planted").alias("tp"))
            .collect()[0]
        )
        return float(row["n"]), row["tp"] / max(row["n"], 1)


class IvfKnnJob:
    """The vector workload: the IVF-PQ job, then the k-NN job, in one pass
    over two corpora drawn the same way (different seeds)."""

    name = "ivf_knn"

    def __init__(self, size: str, seed: int):
        self.ivf = IVFIndexJob(size, seed)
        self.knn = KnnJoinJob(size, seed + 7919)

    def setup(self, root: str) -> None:
        for job, sub in ((self.ivf, "ivf"), (self.knn, "knn")):
            os.makedirs(os.path.join(root, sub))
            job.setup(os.path.join(root, sub))

    def run_pass(self, spark, tr) -> dict:
        return {"ivf": self.ivf.run_pass(spark, tr),
                "knn": self.knn.run_pass(spark, tr)}

    def check(self, raw: dict) -> Outcome:
        out = self.ivf.check(raw["ivf"]).merge(self.knn.check(raw["knn"]))
        # pooled recall@10 over every approximate answer of the pass
        n_ivf = self.ivf.s["nq"] * K
        n_graph = self.knn.s["sample"] * K
        out.values["recall"] = (
            out.values["ivf_recall_at_10"] * n_ivf
            + out.values["graph_recall_at_10"] * n_graph) / (n_ivf + n_graph)
        return out

    def kernel_flops(self) -> float:
        return self.knn.kernel_flops()

    def gemm_roofline_s(self) -> float:
        return self.knn.gemm_roofline_s()


WORKLOADS = {j.name: j for j in (IvfKnnJob, TextDedupJob)}
