"""Batch NSG: sharded navigating-spreading-out graphs with beam search.

Reference: faiss/IndexNSG.h, faiss/impl/NSG.h:99-196 and NSG.cpp —
``init_graph`` (seed from a k-NN graph; the reference builds it with
NN-Descent, IndexNSG.cpp build), ``sync_prune`` (MRNG edge selection,
NSG.cpp:406-460), ``add_reverse_links`` (NSG.cpp:462), ``tree_grow``
(connectivity repair toward the navigating node), ``search_on_graph``
(pool-of-L beam search from the enterpoint).

Spark-first design — the reference's single-machine graph is re-expressed
as SHARDED graphs (the IndexShards composition SURVEY §2.B already uses
for flat search):

* build: vectors are hash-sharded; each shard builds its own NSG in one
  map task (local exact k-NN over the shard, MRNG prune, reverse links,
  BFS connectivity repair to the shard medoid). No cross-shard edges, so
  build is embarrassingly parallel and a 1000-executor cluster builds
  1000 shards concurrently — the Deep1B recipe of sharded graph serving.
* storage: one co-partitioned table (shard, id, vec, neighbors) — the
  adjacency IS a column, partition pruning and predicate pushdown apply.
* search: queries broadcast; every shard runs the reference beam search
  VECTORIZED across all queries at once (per-step gather of each query's
  best unexpanded node, one batched distance evaluation per step);
  per-shard top-k partials merge through the same window as knn. Result
  quality matches a monolithic graph of the same parameters because every
  shard is searched (fan-out = nshards, like IndexShards), while graph
  diameter shrinks with shard size.

Out of scope (COVERAGE §2.B): HNSW's insertion-time level hierarchy — an
ONLINE accelerant for picking entry points; batch shards make the medoid
entry + beam search recover the same search semantics.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from faiss_spark.kernels import (
    arrow_binary,
    arrow_i64,
    arrow_list,
    arrow_list_matrix,
)
from faiss_spark.operators.ivf import _window_topk
from faiss_spark.sources import fsio


def _local_knn(X: np.ndarray, k: int, tile: int = 1024) -> tuple[np.ndarray, np.ndarray]:
    """Exact k-NN (ids, dists) within a shard — tiled GEMM, excludes
    self. Tile bounds the O(tile·n) scratch so a 100k-row shard stays a
    few hundred MB per task."""
    n = len(X)
    k = min(k, n - 1)
    X = np.ascontiguousarray(X, np.float32)  # graph builds are
    # recall-bound, not oracle-bound: sgemm halves bandwidth and compute
    sq = (X * X).sum(1)
    XT = np.ascontiguousarray(X.T)
    out = np.empty((n, k), np.int64)
    outd = np.empty((n, k))
    # one reused distance buffer for every tile: fresh multi-10MB
    # allocations per tile pay this host's first-touch page-fault tax
    buf = np.empty((min(tile, n), n), np.float32)
    for s in range(0, n, tile):
        e = min(s + tile, n)
        D = buf[: e - s]
        np.dot(X[s:e], XT, out=D)
        D *= -2.0
        D += sq[s:e, None]
        D += sq[None, :]
        D[np.arange(e - s), np.arange(s, e)] = np.inf
        part = np.argpartition(D, k - 1, axis=1)[:, :k]
        rows = np.arange(e - s)[:, None]
        order = np.argsort(D[rows, part], axis=1, kind="stable")
        out[s:e] = part[rows, order]
        outd[s:e] = D[rows, part[rows, order]].astype(np.float64)
    np.maximum(outd, 0.0, out=outd)
    return out, outd


def _greedy_select(
    ids: np.ndarray, dq: np.ndarray, pd: np.ndarray, self_id: int, R: int
) -> np.ndarray:
    """The sync_prune greedy (reference NSG.cpp:423-450) over
    PRECOMPUTED candidate-pairwise distances: keep the closest
    candidate, then each further candidate j only if no already-kept t
    occludes it (pd[t, j] < dq[j]); cap degree at R. ids/dq sorted by
    distance ascending; pd is the (C, C) candidate-candidate matrix."""
    kept: list[int] = []
    for j in range(len(ids)):
        p = int(ids[j])
        if p == self_id or p < 0:
            continue
        if not kept:
            kept.append(j)
            continue
        if len(kept) >= R:
            break
        if (pd[kept, j] < dq[j]).any():
            continue
        kept.append(j)
    return ids[kept].astype(np.int64)


def _greedy_select_masked(
    ids: list, occ_masks: list, self_id: int, R: int
) -> np.ndarray:
    """Bitmask form of ``_greedy_select``: ``occ_masks[j]`` packs the
    column ``pd[:, j] < dq[j]`` as an int (bit t set = candidate t
    occludes candidate j), so the per-candidate occlusion test is one
    Python int AND instead of a fancy-indexed numpy compare — the greedy
    itself is inherently sequential (kept set grows), but its per-step
    cost drops ~20×. Control flow is IDENTICAL to ``_greedy_select``."""
    kept_bits = 0
    kept: list[int] = []
    for j in range(len(ids)):
        p = ids[j]
        if p == self_id or p < 0:
            continue
        if kept:
            if len(kept) >= R:
                break
            if occ_masks[j] & kept_bits:
                continue
        kept.append(p)
        kept_bits |= 1 << j
    return np.asarray(kept, np.int64)


def _mrng_prune_one(
    X: np.ndarray, self_id: int, ids: np.ndarray, dq: np.ndarray, R: int
) -> np.ndarray:
    """sync_prune for one node with on-the-fly pairwise distances (used
    by the wide-candidate-list fallback of the re-prune path)."""
    V = np.asarray(X[ids], np.float32)
    vsq = (V * V).sum(1)
    pd = vsq[:, None] + vsq[None, :] - 2.0 * (V @ V.T)
    return _greedy_select(ids, dq, pd, self_id, R)


#: bitmask greedy packs occluder sets into int64 lanes; wider candidate
#: lists (rare hub nodes) take the per-node fallback
_MASK_BITS = 62


def _mrng_prune_all(
    X: np.ndarray, nn: np.ndarray, d_nn: np.ndarray, R: int, block: int = 512
) -> list[np.ndarray]:
    """sync_prune for every node: candidate-pairwise distances are
    computed in one blocked einsum per ~block nodes and the occlusion
    predicate ``pd[t, j] < dq[j]`` is packed into per-candidate bitmasks,
    so the sequential greedy touches only Python ints (no per-candidate
    numpy calls). Bit-identical to the unbatched form: the f32 P matrix
    and the f64 comparison are computed exactly as before."""
    X32 = np.asarray(X, np.float32)
    n, K = nn.shape
    if K > _MASK_BITS:  # fall back to the fancy-index greedy
        kept0: list[np.ndarray] = []
        for s in range(0, n, block):
            e = min(s + block, n)
            V = X32[nn[s:e]]
            vsq = (V * V).sum(2)
            G = np.einsum("bkd,bjd->bkj", V, V)
            P = vsq[:, :, None] + vsq[:, None, :] - 2.0 * G
            for bi in range(e - s):
                q = s + bi
                kept0.append(_greedy_select(nn[q], d_nn[q], P[bi], q, R))
        return kept0
    pow2 = 1 << np.arange(K, dtype=np.int64)
    kept: list[np.ndarray] = []
    for s in range(0, n, block):
        e = min(s + block, n)
        V = X32[nn[s:e]]  # (b, K, d)
        vsq = (V * V).sum(2)
        G = np.einsum("bkd,bjd->bkj", V, V)
        P = vsq[:, :, None] + vsq[:, None, :] - 2.0 * G
        # occ[b, t, j] = candidate t occludes candidate j (f32 < f64
        # compare, same promotion as the unbatched greedy)
        occ = P < d_nn[s:e][:, None, :]
        masks = occ.transpose(0, 2, 1).astype(np.int64) @ pow2  # (b, K)
        nn_l = nn[s:e].tolist()
        masks_l = masks.tolist()
        for bi in range(e - s):
            kept.append(
                _greedy_select_masked(nn_l[bi], masks_l[bi], s + bi, R)
            )
    return kept


def _build_shard_graph(
    X: np.ndarray, R: int, knn_k: int
) -> tuple[np.ndarray, int]:
    """Build one shard's NSG adjacency: local k-NN → MRNG prune →
    reverse links (re-pruned to R) → BFS connectivity repair to the
    medoid (reference link + add_reverse_links + tree_grow). Returns
    (adjacency (n, R) int64 with -1 padding, enterpoint index)."""
    n = len(X)
    if n == 1:
        return np.full((1, R), -1, np.int64), 0
    nn, d_nn = _local_knn(X, knn_k)  # (n, k) sorted ascending
    kept = _mrng_prune_all(X, nn, d_nn, R)
    X32 = np.asarray(X, np.float32)
    # reverse links (add_reverse_links) as one undirected edge-set union:
    # dedup (u, v) keys and group by u — no per-node Python sets
    deg = np.fromiter((len(a) for a in kept), np.int64, count=n)
    src = np.repeat(np.arange(n, dtype=np.int64), deg)
    dst = np.concatenate(kept) if deg.sum() else np.empty(0, np.int64)
    ukey = np.unique(np.concatenate([src * n + dst, dst * n + src]))
    adj_u = ukey // n
    adj_v = ukey % n
    counts = np.bincount(adj_u, minlength=n)
    offs = np.concatenate([[0], np.cumsum(counts)])
    adj_lists: list[np.ndarray] = [
        adj_v[offs[q] : offs[q + 1]] for q in range(n)
    ]
    # cap degree: re-prune oversized lists with the same MRNG rule —
    # BATCHED: nodes grouped by candidate count, the f64 candidate
    # distances and the f32 pairwise matrix come from blocked einsums,
    # the greedy runs on packed occlusion bitmasks
    over = np.flatnonzero(counts > R)
    if len(over):
        over = over[np.argsort(counts[over], kind="stable")]
        for b0 in range(0, len(over), 256):
            qs = over[b0 : b0 + 256]
            Kb = int(counts[qs].max())
            if Kb > _MASK_BITS:
                # rare ultra-hub block: exact per-node path
                for q in qs:
                    ids = adj_lists[q]
                    d = ((X[ids] - X[q]) ** 2).sum(1)
                    order = np.argsort(d, kind="stable")
                    adj_lists[q] = _mrng_prune_one(
                        X, int(q), ids[order], d[order], R
                    )
                continue
            m = len(qs)
            cnt = counts[qs]
            IDs = np.full((m, Kb), -1, np.int64)
            rows = np.repeat(np.arange(m), cnt)
            base = np.concatenate([[0], np.cumsum(cnt)[:-1]])
            cols = np.arange(int(cnt.sum())) - np.repeat(base, cnt)
            IDs[rows, cols] = np.concatenate([adj_lists[q] for q in qs])
            gather = np.where(IDs >= 0, IDs, 0)
            diff = X[gather] - X[qs][:, None, :]  # f64, matching the
            # per-node ((X[ids] - X[q]) ** 2).sum(1)
            Dq = np.einsum("mkd,mkd->mk", diff, diff)
            Dq[IDs < 0] = np.inf  # pads sort last; greedy skips p < 0
            order = np.argsort(Dq, axis=1, kind="stable")
            IDs = np.take_along_axis(IDs, order, 1)
            Dq = np.take_along_axis(Dq, order, 1)
            V = X32[np.where(IDs >= 0, IDs, 0)]  # (m, Kb, d)
            vsq = (V * V).sum(2)
            G = np.einsum("mkd,mjd->mkj", V, V)
            P = vsq[:, :, None] + vsq[:, None, :] - 2.0 * G
            occ = P < Dq[:, None, :]
            pow2 = 1 << np.arange(Kb, dtype=np.int64)
            masks = occ.transpose(0, 2, 1).astype(np.int64) @ pow2
            ids_l = IDs.tolist()
            masks_l = masks.tolist()
            for i in range(m):
                adj_lists[qs[i]] = _greedy_select_masked(
                    ids_l[i], masks_l[i], int(qs[i]), R
                )
    # enterpoint = medoid (closest to centroid), then BFS repair over a
    # CSR view of the lists (frontier-at-a-time gather, no per-edge loop)
    centroid = X.mean(0)
    ep = int(((X - centroid) ** 2).sum(1).argmin())
    flat = np.concatenate(adj_lists) if n else np.empty(0, np.int64)
    lens = np.fromiter((len(a) for a in adj_lists), np.int64, count=n)
    csr = np.concatenate([[0], np.cumsum(lens)])
    seen = np.zeros(n, bool)
    seen[ep] = True
    frontier = np.asarray([ep], np.int64)
    while frontier.size:
        ln = lens[frontier]
        tot = int(ln.sum())
        if tot == 0:
            break
        base = np.concatenate([[0], np.cumsum(ln)[:-1]])
        pos = np.repeat(csr[frontier], ln) + (
            np.arange(tot) - np.repeat(base, ln)
        )
        nb = flat[pos]
        nb = nb[~seen[nb]]
        if not nb.size:
            break
        frontier = np.unique(nb)
        seen[frontier] = True
    unreached = np.where(~seen)[0]
    if len(unreached):
        reached = np.where(seen)[0]
        # attach each unreached node from its nearest reached node
        # (tree_grow's attach-to-closest-visited, NSG.cpp tree_grow)
        extra: dict[int, list[int]] = {}
        for u in unreached:
            d = ((X[reached] - X[u]) ** 2).sum(1)
            extra.setdefault(int(reached[d.argmin()]), []).append(int(u))
        for q, add in extra.items():
            adj_lists[q] = np.concatenate(
                [adj_lists[q], np.asarray(add, np.int64)]
            )
        lens = np.fromiter((len(a) for a in adj_lists), np.int64, count=n)
    # width = actual max degree (connectivity repair may push a few
    # nodes past R — the reference tolerates this the same way)
    width = max(R, int(lens.max()) if n else R)
    out = np.full((n, width), -1, np.int64)
    rows = np.repeat(np.arange(n), lens)
    base = np.concatenate([[0], np.cumsum(lens)[:-1]])
    cols = np.arange(int(lens.sum())) - np.repeat(base, lens)
    out[rows, cols] = np.concatenate(adj_lists)
    return out, ep


def _beam_search_all(
    X: np.ndarray,
    adj: np.ndarray,
    ep: int,
    Q: np.ndarray,
    k: int,
    search_L: int,
) -> tuple[np.ndarray, np.ndarray]:
    """search_on_graph (NSG.cpp) vectorized ACROSS queries: every query
    keeps a pool of search_L best-so-far; each round expands every
    active query's best unexpanded node in one batched gather + einsum
    (no per-query Python in the loop body). Visited state is a (nq, n)
    bitmap — a few MB at typical shard sizes, reused row-wise. Returns
    (ids (nq, k), dists (nq, k)) with -1 padding."""
    nq = len(Q)
    n, W = adj.shape
    L = max(search_L, k)
    Xf = np.asarray(X)
    # adjacency padding (-1) is remapped to a DUMMY row n: a fancy-index
    # scatter with duplicate targets would otherwise let a padding
    # slot's False overwrite a genuine neighbor's visited bit
    Xpad = np.vstack([Xf, np.zeros((1, Xf.shape[1]), Xf.dtype)])
    pool_ids = np.full((nq, L), -1, np.int64)
    pool_d = np.full((nq, L), np.inf)
    expanded = np.zeros((nq, L), bool)
    visited = np.zeros((nq, n + 1), bool)
    visited[:, ep] = True
    pool_ids[:, 0] = ep
    pool_d[:, 0] = ((Q - Xf[ep]) ** 2).sum(1)
    qsq = (Q * Q).sum(1)
    xsq = np.append((Xf * Xf).sum(1), 0.0)
    rows_all = np.arange(nq)
    while True:
        unexp = (~expanded) & (pool_ids >= 0) & np.isfinite(pool_d)
        act = unexp.any(1)
        if not act.any():
            break
        qact = rows_all[act]
        slots = unexp[act].argmax(1)
        expanded[qact, slots] = True
        u = pool_ids[qact, slots]
        V = adj[u]  # (na, W)
        valid = V >= 0
        Vc = np.where(valid, V, n)
        fresh = valid & ~visited[qact[:, None], Vc]
        visited[qact[:, None], Vc] = True  # padding lands on dummy row n
        if not fresh.any():
            continue
        # batched distances to all (≤ W) fresh neighbors per query
        d = (
            qsq[qact][:, None]
            + xsq[Vc]
            - 2.0 * np.einsum("ad,awd->aw", Q[qact], Xpad[Vc])
        )
        d[~fresh] = np.inf
        Vm = np.where(fresh, V, -1)
        # merge pools: (na, L + W) concat + one argsort back to L
        ids2 = np.concatenate([pool_ids[qact], Vm], axis=1)
        d2 = np.concatenate([pool_d[qact], d], axis=1)
        ex2 = np.concatenate(
            [expanded[qact], np.zeros((len(qact), W), bool)], axis=1
        )
        order = np.argsort(d2, axis=1, kind="stable")[:, :L]
        pool_ids[qact] = np.take_along_axis(ids2, order, 1)
        pool_d[qact] = np.take_along_axis(d2, order, 1)
        expanded[qact] = np.take_along_axis(ex2, order, 1)
    out_d = pool_d[:, :k]
    out_i = np.where(np.isfinite(out_d), pool_ids[:, :k], -1)
    return out_i, np.where(np.isfinite(out_d), out_d, np.inf)


@dataclass
class NSGIndex:
    """Sharded batch NSG (reference IndexNSG re-expressed per SURVEY
    §2.B shards composition). ``table`` holds (shard, id, vec, neighbors,
    is_ep) co-partitioned by shard.

    Two sharding modes:

    * ``"hash"`` — uniform shards; every shard is searched (IndexShards
      fan-out). Best recall, cost grows with nshards.
    * ``"cells"`` — shards are k-means cells (``centroids`` kept on the
      index) and ``search(nprobe=...)`` routes each query to its nprobe
      nearest cells only. The scan's ``isin(probed)`` filter prunes
      parquet PARTITIONS, so a 1000-shard corpus reads nprobe/1000 of
      its bytes per query batch — the SPANN / Deep1B serving shape
      (graph-per-cell + centroid routing) rather than all-shard fan-out.

    Skew control: k-means cells are unbalanced and the per-shard graph
    build is superlinear in shard size, so a straggler cell dominates
    build wall-clock (measured 20× on this host). ``max_shard_rows``
    splits each oversized cell into hash sub-shards
    (shard = cell_offset + crc32(id) % n_sub); routing probes a cell by
    scanning ALL its sub-shards, preserving recall while bounding every
    task's work — the standard salting answer to partition skew.
    """

    table: DataFrame
    nshards: int
    R: int
    centroids: np.ndarray | None = None  # (ncells, d) for cell sharding
    cell_subs: np.ndarray | None = None  # (ncells,) sub-shards per cell
    # storage="pq": vectors stored as PQ codes, decoded per shard at
    # search (the IndexNSGPQ composition, reference faiss/IndexNSG.h:83 —
    # the config where a 100 TB graph's vectors actually fit in RAM)
    pq_codebooks: np.ndarray | None = None  # (M, ksub, dsub)
    # storage="sq": scalar-quantized codes (the IndexNSGSQ composition,
    # reference faiss/IndexNSG.h:90 / index_factory parse_IndexNSG SQ<b>)
    sq_model: "object | None" = None  # codecs.ScalarQuantizerModel
    # True while every shard's rows are known to live in ONE partition of
    # ``table`` (build's repartition(nshards, "shard") guarantees it, and
    # group maps / localCheckpoint preserve partition boundaries): search
    # then scans partition-wise with mapInArrow, grouping by shard
    # locally — no per-search exchange or sort of the corpus (guide §2.4:
    # the rows are already placed; only Catalyst's declared partitioning
    # was erased by the Python build stage, and a re-declaring
    # repartition would shuffle the table again for nothing). False for
    # plain-save() indexes: a parquet scan may split one shard's rows
    # across tasks (file packing / maxPartitionBytes), so they keep the
    # groupBy("shard") route and its Exchange; save_bucketed() indexes
    # keep the flag because a bucketed scan provably yields one task per
    # bucket. INVARIANT (ADVICE r13): while the flag is set, ``table``
    # must not be reassigned to a re-partitioned derivation (a manual
    # repartition(n), a union, a raw parquet round-trip that skips
    # save()) — the partition-wise scan would then group PARTIAL shards
    # locally and beam-search incomplete graphs with no error.
    # localCheckpoint()/filter() preserve partition boundaries and are
    # safe. Also note: on the build-fresh (in-memory) collocated path a
    # routed search's isin(probed) filter prunes rows, not partitions —
    # every partition is still deserialized once; bucketed file-backed
    # indexes DO bucket-prune, so very low-nprobe serving prefers
    # save_bucketed.
    shard_collocated: bool = False

    @staticmethod
    def build(
        vectors: DataFrame,
        R: int = 16,
        knn_k: int = 32,
        nshards: int = 4,
        sharding: str = "hash",
        max_shard_rows: int | None = None,
        storage: str = "flat",
        pq_m: int = 16,
        pq_nbits: int = 8,
        sq_bits: int = 8,
        id_col: str = "id",
        vec_col: str = "vec",
        seed: int = 1234,
    ) -> "NSGIndex":
        src = vectors.select(
            F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
        )
        pq_books = None
        sq_model = None
        if storage == "pq":
            from faiss_spark.operators.codecs import ProductQuantizer

            pq_books = (
                ProductQuantizer(M=pq_m, nbits=pq_nbits, niter=10, seed=seed)
                .fit(src)
                .codebooks
            )
        elif storage == "sq":
            from faiss_spark.operators.codecs import ScalarQuantizer

            sq_model = ScalarQuantizer(bits=sq_bits).fit(src)
        elif storage != "flat":
            raise ValueError(
                f"storage must be 'flat', 'pq' or 'sq', got {storage!r}"
            )
        centroids = None
        cell_subs = None
        if sharding == "cells":
            from faiss_spark.operators.cluster import KMeans

            km = KMeans(k=nshards, niter=10, seed=seed).fit(src, vec_col="vec")
            centroids = km.centroids
            assigned = km.assign(src, vec_col="vec", keep_vec=True).select(
                "id", "vec", F.col("cluster").cast("int").alias("cell")
            )
            if max_shard_rows is not None:
                # the cell-count collect and the shard build both consume
                # the assignment; without a checkpoint the count job and
                # the build job each recompute the full assign GEMM pass
                # over the corpus (lineage re-execution) — materialize it
                # once (guide §5 caching: reused AND expensive)
                assigned = assigned.localCheckpoint(eager=True)
                counts = {
                    r["cell"]: r["count"]
                    for r in assigned.groupBy("cell").count().collect()
                }
                ncells = len(centroids)
                cell_subs = np.asarray(
                    [
                        max(1, -(-counts.get(c, 0) // max_shard_rows))
                        for c in range(ncells)
                    ],
                    np.int64,
                )
                offsets = np.concatenate([[0], np.cumsum(cell_subs)[:-1]])
                off_arr = F.array(*[F.lit(int(o)) for o in offsets])
                sub_arr = F.array(*[F.lit(int(s)) for s in cell_subs])
                src = assigned.select(
                    "id",
                    "vec",
                    (
                        F.element_at(off_arr, F.col("cell") + 1)
                        + F.pmod(
                            F.crc32(F.col("id").cast("string")),
                            F.element_at(sub_arr, F.col("cell") + 1),
                        )
                    ).cast("int").alias("shard"),
                )
                nshards = int(cell_subs.sum())
            else:
                src = assigned.withColumnRenamed("cell", "shard")
        elif sharding == "hash":
            src = src.withColumn(
                "shard", (F.crc32(F.col("id").cast("string")) % nshards).cast("int")
            )
        else:
            raise ValueError(f"sharding must be 'hash' or 'cells', got {sharding!r}")
        R_, knn_k_ = R, knn_k
        spark = src.sparkSession
        bc_books = spark.sparkContext.broadcast((pq_books, sq_model))

        def build_shard(key, tbl):
            # Arrow-native build (guide §4.1-4.2): the vec column reshapes
            # zero-copy into the build matrix, the adjacency goes back out
            # as ONE ListArray built from (offsets, flat values) — no
            # np.split into 8000 per-row objects, no pandas re-stacking.
            import pyarrow as pa

            from faiss_spark.kernels import arrow_i64, arrow_list_matrix

            X = arrow_list_matrix(tbl.column("vec"))
            ids = arrow_i64(tbl.column("id"))
            adj, ep = _build_shard_graph(X, R_, knn_k_)
            # local index -> global id, vectorized (pads are trailing)
            mask = adj >= 0
            flat = ids[adj[mask]]
            offsets = np.zeros(len(ids) + 1, np.int32)
            np.cumsum(mask.sum(1), out=offsets[1:])
            neigh = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()), pa.array(flat, pa.int64())
            )
            out = {
                "shard": tbl.column("shard"),
                "id": tbl.column("id"),
                "neighbors": neigh,
                "is_ep": np.arange(len(ids)) == ep,
            }
            books, sqm = bc_books.value
            if books is not None:
                from faiss_spark.operators.codecs import ProductQuantizerModel

                out["code"] = arrow_binary(
                    ProductQuantizerModel(codebooks=books).encode_np(X)
                )
            elif sqm is not None:
                out["code"] = arrow_binary(sqm.encode_np(X))
            else:
                out["vec"] = tbl.column("vec")
            return pa.table(out)

        payload = (
            "code binary"
            if (pq_books is not None or sq_model is not None)
            else "vec array<float>"
        )
        table = src.repartition(nshards, "shard").groupBy("shard").applyInArrow(
            build_shard,
            schema=f"shard int, id bigint, neighbors array<bigint>, "
            f"is_ep boolean, {payload}",
        )
        return NSGIndex(
            table=table,
            nshards=nshards,
            R=R,
            centroids=centroids,
            cell_subs=cell_subs,
            pq_codebooks=pq_books,
            sq_model=sq_model,
            shard_collocated=True,
        )

    def save(self, path: str) -> "NSGIndex":
        spark = self.table.sparkSession
        self.table.repartition("shard").write.mode("overwrite").partitionBy(
            "shard"
        ).parquet(path)
        self.table = spark.read.parquet(path)
        # file-backed now: a scan split may cut a shard's rows across
        # tasks, so searches must go through the groupBy exchange
        # (save_bucketed keeps the collocated scan instead)
        self.shard_collocated = False
        self._write_artifacts(spark, path)
        return self

    def save_bucketed(self, path: str, nbuckets: int | None = None) -> "NSGIndex":
        """Persist the shard table CLUSTERED BY (shard) — the IVF
        save_bucketed pattern (VERDICT r13 #4): a bucketed scan yields
        exactly one task per bucket (autoBucketedScan is disabled in
        get_spark — a regular file scan may split a bucket file across
        tasks), so a LOADED index keeps ``shard_collocated`` and serves
        searches partition-wise with zero corpus Exchange+Sort — the
        100 TB serving shape. Routed searches' ``isin(probed)`` filter
        additionally bucket-prunes the scan when nbuckets == nshards
        (the default): low-nprobe serving reads only the probed shards'
        files."""
        import hashlib as _hashlib
        import os as _os

        spark = self.table.sparkSession
        if nbuckets is None:
            nbuckets = int(self.nshards)
        name = "nsg_shards_" + _hashlib.md5(path.encode()).hexdigest()[:12]
        sel = self.table
        ddl = sel._jdf.schema().toDDL()
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            # pre-shuffle to the bucket hash: one file per bucket instead
            # of (tasks x buckets) small files
            sel.repartition(nbuckets, "shard")
            .write.mode("overwrite")
            .format("parquet")
            .option("path", path)
            .bucketBy(nbuckets, "shard")
            .saveAsTable(name)
        )
        fsio.write_json(
            spark,
            _os.path.join(path, "_bucket_meta.json"),
            {
                "nbuckets": int(nbuckets),
                "table": name,
                "ddl": ddl,
                "key": "shard",
            },
        )
        self.table = spark.table(name)
        # the bucketed scan provably yields one partition per bucket and
        # never splits a bucket, so every shard's rows stay in one task
        self.shard_collocated = True
        self._write_artifacts(spark, path)
        return self

    def _write_artifacts(self, spark, path: str) -> None:
        import os as _os

        fsio.write_json(
            spark,
            _os.path.join(path, "_nsg_meta.json"),
            {"R": int(self.R), "nshards": int(self.nshards)},
        )
        # a previous save of a DIFFERENT storage kind at this path may
        # have left sidecars behind (e.g. flat re-save over an old PQ
        # save): load would attach a pq/sq model to a table with no
        # 'code' column and fail at search — delete the ones that do
        # not apply to the current mode (ADVICE r7)
        if self.centroids is None:
            fsio.delete(spark, path + "_centroids")
        if self.pq_codebooks is None:
            fsio.delete(spark, path + "_pq")
        if self.sq_model is None:
            fsio.delete(spark, path + "_sq")
        import pyarrow as pa

        def write(name: str, cols: dict) -> None:
            spark.createDataFrame(pa.table(cols)).write.mode(
                "overwrite"
            ).parquet(path + name)

        if self.centroids is not None:
            subs = (
                self.cell_subs
                if self.cell_subs is not None
                else np.ones(len(self.centroids), np.int64)
            )
            write("_centroids", {
                "cell": pa.array(np.arange(len(self.centroids), dtype=np.int32)),
                "vec": arrow_list(self.centroids.astype(np.float32)),
                "n_sub": pa.array(subs.astype(np.int64)),
            })
        if self.pq_codebooks is not None:
            M, ksub, dsub = self.pq_codebooks.shape
            write("_pq", {
                "m": pa.array(np.repeat(np.arange(M, dtype=np.int64), ksub)),
                "k": pa.array(np.tile(np.arange(ksub, dtype=np.int64), M)),
                "sub": arrow_list(
                    self.pq_codebooks.reshape(M * ksub, dsub).astype(np.float32)
                ),
            })
        if self.sq_model is not None:
            m = self.sq_model
            write("_sq", {
                "dim": pa.array(np.arange(m.d, dtype=np.int32)),
                "vmin": pa.array(m.vmin.astype(np.float64)),
                "vdiff": pa.array(m.vdiff.astype(np.float64)),
                "bits": pa.array(np.full(m.d, m.bits, np.int32)),
                "variant": pa.array([m.variant] * m.d, pa.string()),
            })

    @staticmethod
    def load(spark: SparkSession, path: str, R: int = 16) -> "NSGIndex":
        import os as _os

        from faiss_spark.operators.ivf import _IVFIndexBase

        bucket_meta = _os.path.join(path, "_bucket_meta.json")
        collocated = False
        if fsio.exists(spark, bucket_meta):
            # bucketed layout (save_bucketed): the scan itself yields one
            # task per bucket, so the loaded index keeps the partition-
            # wise collocated search path — zero corpus exchange
            t = _IVFIndexBase._bucketed_table(
                spark, path, fsio.read_json(spark, bucket_meta)
            )
            collocated = True
        else:
            t = spark.read.parquet(path)
        meta_p = _os.path.join(path, "_nsg_meta.json")
        if fsio.exists(spark, meta_p):
            meta = fsio.read_json(spark, meta_p)
            R = meta["R"]
            nshards = meta["nshards"]
        else:  # pre-meta layouts: count the shard directories
            nshards = t.select("shard").distinct().count()
        from pyspark.errors import AnalysisException

        # the sidecar tables are OPTIONAL (hash-sharded flat indexes have
        # neither) — only their ABSENCE is tolerated; a corrupted or
        # partially-written sidecar must fail loudly, not silently yield
        # an index that cannot route or misreads its PQ storage
        def read(name: str, keys: list):
            try:
                tbl = spark.read.parquet(path + name).toArrow()
            except AnalysisException:
                return None
            return tbl.sort_by([(k_, "ascending") for k_ in keys])

        centroids = None
        cell_subs = None
        cp = read("_centroids", ["cell"])
        if cp is not None:
            centroids = arrow_list_matrix(cp.column("vec"))
            subs = arrow_i64(cp.column("n_sub"))
            if (subs != 1).any():
                cell_subs = subs
        pq_books = None
        pp = read("_pq", ["m", "k"])
        if pp is not None:
            M = int(arrow_i64(pp.column("m")).max()) + 1
            ksub = int(arrow_i64(pp.column("k")).max()) + 1
            pq_books = arrow_list_matrix(pp.column("sub")).reshape(M, ksub, -1)
        sq_model = None
        sp = read("_sq", ["dim"])
        if sp is not None:
            from faiss_spark.operators.codecs import ScalarQuantizerModel

            sq_model = ScalarQuantizerModel(
                vmin=np.asarray(sp.column("vmin").to_numpy(), np.float64),
                vdiff=np.asarray(sp.column("vdiff").to_numpy(), np.float64),
                bits=int(sp.column("bits")[0].as_py()),
                variant=str(sp.column("variant")[0].as_py()),
            )
        return NSGIndex(
            table=t, nshards=nshards, R=R, centroids=centroids,
            cell_subs=cell_subs, pq_codebooks=pq_books, sq_model=sq_model,
            shard_collocated=collocated,
        )

    def search(
        self,
        queries: DataFrame,
        k: int,
        search_L: int = 32,
        nprobe: int | None = None,
        qid_col: str = "qid",
        qvec_col: str = "vec",
    ) -> DataFrame:
        """Beam search per shard, merged (IndexShards semantics);
        search_L is the reference's pool length (NSG.h:114 search_L).

        nprobe (cell-sharded indexes only): route each query to its
        nprobe nearest cell shards; unprobed shards are pruned from the
        scan entirely. None = search every shard."""
        from faiss_spark.operators.ivf import collect_queries_bounded

        spark = self.table.sparkSession
        # bounded one-job collect (VERDICT r7 #5): routed search holds
        # O(nq·d) floats on the driver by contract; past the budget the
        # fix is chunking, not a silent OOM
        qids, Q = collect_queries_bounded(
            queries, qid_col, qvec_col, "nsg_search",
            d=self.centroids.shape[1] if self.centroids is not None else None,
        )
        shard2q = None
        src = self.table
        if nprobe is not None:
            if self.centroids is None:
                raise ValueError("nprobe routing needs a cell-sharded index")
            C = self.centroids
            nprobe = min(nprobe, len(C))
            CD = (
                (Q * Q).sum(1)[:, None]
                + (C * C).sum(1)[None, :]
                - 2.0 * (Q @ C.T)
            )
            probes = np.argsort(CD, axis=1, kind="stable")[:, :nprobe]
            # a probed CELL means all of its sub-shards (identity map
            # when the index has no capacity splitting)
            if self.cell_subs is not None:
                offsets = np.concatenate([[0], np.cumsum(self.cell_subs)[:-1]])
                cell_to_shards = {
                    c: list(range(int(offsets[c]), int(offsets[c] + self.cell_subs[c])))
                    for c in range(len(C))
                }
            else:
                cell_to_shards = {c: [c] for c in range(len(C))}
            shard2q: dict[int, list[int]] = {}
            for qi in range(len(qids)):
                for c in probes[qi]:
                    for s in cell_to_shards[int(c)]:
                        shard2q.setdefault(s, []).append(qi)
            probed = sorted(shard2q)
            shard2q = {s: np.asarray(v, np.int64) for s, v in shard2q.items()}
            src = src.filter(F.col("shard").isin(probed))
        bc = spark.sparkContext.broadcast(
            (qids, Q, shard2q, self.pq_codebooks, self.sq_model)
        )
        k_, L_ = k, search_L

        def scan_one(shard, tbl):
            # Arrow-native shard scan (guide §4.1-4.2): the vec/code and
            # neighbors columns are consumed straight from the Arrow
            # buffers (flatten + offsets), and the emit is one pa.Table
            # from flat numpy arrays — no per-row pandas objects on
            # either side of the boundary.
            import pyarrow as pa

            from faiss_spark.kernels import _cand_table, _empty_cand_table

            qids_all, Q_all, s2q, books, sqm = bc.value
            if s2q is not None:
                qsel = s2q.get(shard)
                if qsel is None or len(qsel) == 0:
                    return _empty_cand_table()
                qids_, Q_ = qids_all[qsel], Q_all[qsel]
            else:
                qids_, Q_ = qids_all, Q_all
            ids = arrow_i64(tbl.column("id"))
            if books is not None or sqm is not None:
                from faiss_spark.operators.codecs import (
                    ProductQuantizerModel,
                    decode_column,
                )

                model = (
                    ProductQuantizerModel(codebooks=books)
                    if books is not None
                    else sqm
                )
                X = decode_column(model, tbl.column("code"))
            else:
                X = arrow_list_matrix(tbl.column("vec"))
            n = len(ids)
            # global id -> local index via sorted search (replacing the
            # per-row dict loop); ids absent from the shard are dropped,
            # like the dict path did
            nb = tbl.column("neighbors")
            if isinstance(nb, pa.ChunkedArray):
                nb = nb.combine_chunks()
            offs = np.frombuffer(
                nb.buffers()[1], np.int64 if pa.types.is_large_list(nb.type)
                else np.int32
            )[nb.offset : nb.offset + n + 1]
            lens = (offs[1:] - offs[:-1]).astype(np.int64)
            width = max(int(lens.max()) if n else 1, 1)
            adj = np.full((n, width), -1, np.int64)
            if lens.sum():
                flat = np.asarray(
                    nb.flatten().to_numpy(zero_copy_only=False), np.int64
                )
                order = np.argsort(ids, kind="stable")
                sids = ids[order]
                pos = np.searchsorted(sids, flat)
                pos[pos >= n] = n - 1
                valid = sids[pos] == flat
                rows = np.repeat(np.arange(n), lens)[valid]
                loc = order[pos[valid]]
                cnt_v = np.bincount(rows, minlength=n)
                base = np.concatenate([[0], np.cumsum(cnt_v)[:-1]])
                cols = np.arange(len(loc)) - np.repeat(base, cnt_v)
                adj[rows, cols] = loc
            eps = np.flatnonzero(
                np.asarray(
                    tbl.column("is_ep").to_numpy(zero_copy_only=False), bool
                )
            )
            ep = int(eps[0]) if len(eps) else 0
            nid, nd = _beam_search_all(X, adj, ep, Q_, k_, L_)
            # flat emit: one table per shard, not one per query
            mask = nid >= 0
            return _cand_table(
                np.repeat(qids_, mask.sum(1)), ids[nid[mask]], nd[mask]
            )

        if self.shard_collocated:
            # every shard's rows already sit in one partition (build's
            # own exchange placed them; the Python stage only erased the
            # DECLARED partitioning) — scan partition-wise and group by
            # shard locally instead of paying a per-search Exchange+Sort
            # of the whole corpus table for a layout it already has
            def scan_parts(batches):
                import pyarrow as pa
                import pyarrow.compute as pc

                bl = [b for b in batches if b.num_rows]
                if not bl:
                    return
                tbl = pa.Table.from_batches(bl)
                shards_np = np.asarray(
                    tbl.column("shard").to_numpy(zero_copy_only=False)
                )
                for s in np.unique(shards_np):
                    out = scan_one(
                        int(s), tbl.filter(pc.equal(tbl.column("shard"), s))
                    )
                    if out.num_rows:
                        yield from out.to_batches()

            cands = src.mapInArrow(
                scan_parts, schema="qid bigint, id bigint, dist double"
            )
        else:
            def scan(key, tbl):
                return scan_one(int(key[0].as_py()), tbl)

            cands = src.groupBy("shard").applyInArrow(
                scan, schema="qid bigint, id bigint, dist double"
            )
        return _window_topk(cands, k_, largest=False)


def _unpack_bits_expr(code, nbits: int):
    """array<bigint> packed words → array<float> of 0/1 bits
    (32-bit words, little-endian bit order — matching
    binary.signbit_code_expr / _words_to_bits). One codegen expression
    per bit."""
    exprs = []
    for b in range(nbits):
        w, j = b // 32, b % 32
        exprs.append(
            (code[w].bitwiseAND(F.lit(1 << j)) != 0).cast("float")
        )
    return F.array(*exprs)


def binary_nsg_build(
    codes: DataFrame,
    nbits: int,
    R: int = 16,
    knn_k: int = 32,
    nshards: int = 4,
    id_col: str = "id",
    code_col: str = "code",
) -> NSGIndex:
    """Batch graph search over BINARY codes (the capability of
    IndexBinaryHNSW, reference faiss/IndexBinaryHNSW.h, minus the online
    hierarchy): for 0/1 vectors squared L2 EQUALS Hamming distance, so
    unpacking code words to a 0/1 float column makes the float NSG
    machinery — MRNG pruning, beam search, shard merge — an exact
    Hamming graph index. The unpack is a JVM expression; reported
    ``dist`` values are exact Hamming integers.

    codes: (id, code array<bigint> words, little-endian bit order as
    produced by ``binary.binarize``)."""
    vecs = codes.select(
        F.col(id_col).cast("bigint").alias("id"),
        _unpack_bits_expr(F.col(code_col), nbits).alias("vec"),
    )
    return NSGIndex.build(vecs, R=R, knn_k=knn_k, nshards=nshards)


def binary_nsg_search(
    index: NSGIndex,
    queries: DataFrame,
    nbits: int,
    k: int,
    search_L: int = 32,
    qid_col: str = "qid",
    qcode_col: str = "code",
) -> DataFrame:
    """Search a binary NSG with packed-word queries; distances are exact
    Hamming (squared L2 over the 0/1 unpacking)."""
    q = queries.select(
        F.col(qid_col).alias("qid"),
        _unpack_bits_expr(F.col(qcode_col), nbits).alias("vec"),
    )
    return index.search(q, k, search_L=search_L)
