"""Batch k-NN-graph construction by NN-Descent — SURVEY §7.6.

Reference: IndexNNDescent (faiss/IndexNNDescent.h:23, faiss/impl/
NNDescent.cpp): iteratively refine each node's neighbor list with
neighbors-of-neighbors. This is the batch replacement for HNSW/NSG (north star: no
online ANN serving; graph building is what a 100 TB pipeline needs for
dedup / similarity joins).

Spark shape per iteration (all DataFrame ops, shuffle-disciplined):
  1. candidate generation: edges ⋈ edges on (dst = src) → 2-hop pairs,
     plus reversed edges (NN-Descent's "old ∪ new ∪ reverse" neighbor
     union) — one shuffle keyed on node id;
  2. distance evaluation: join candidate pairs to the vector table twice
     (broadcast when vectors fit, shuffle-hash otherwise), distance via
     the JVM expression — no Python in the loop;
  3. selection: per-src top-k window (WindowGroupLimit keeps the shuffle
     at ≤ P·k rows per node).

Determinism: seeded ring init (node i starts with neighbors i±1..i±k/2 by
id order), deterministic tie-breaks — same graph every run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from faiss_spark.operators.knn import distance_expr


def nn_descent(
    vectors: DataFrame,
    k: int,
    niter: int = 4,
    metric: str = "l2",
    id_col: str = "id",
    vec_col: str = "vec",
    sample_candidates: int | None = None,
    k_build: int | None = None,
) -> DataFrame:
    """Approximate k-NN graph: returns (src, dst, dist, rank), rank ≤ k.

    k_build is the INTERNAL graph degree the descent iterates with
    (default 3·k): the reference keeps a graph K well above the query k
    for the same reason (NNDescent.h K vs search k) — a degree-k graph
    generates too few 2-hop candidates to converge (recall plateaus
    ~0.5 on uniform data; 3·k reaches ≥0.95). The output is truncated
    back to rank ≤ k.

    sample_candidates caps the per-node 2-hop fanout (ρ·k sampling of the
    reference, NNDescent.cpp S parameter) — at k_build=20 the unsampled
    fanout is 400 pairs/node/iter, which is usually fine; set it when
    k_build is big.

    Scale shape (probed 1×/5×, SCALE.md "nn_descent"): per-iteration
    work is the 2-hop self-join plus one candidate shuffle and a per-src
    window top-k — every term linear in n, so per-node cost stays flat
    as the corpus grows; the quadratic term is in k_eff only, never in
    n. Two bounds keep the k_eff² term in check at 100 TB:
    (1) the INCREMENTAL join (reference NNDescent.cpp new/old flags):
        only 2-hop pairs with at least one new-this-iteration hop are
        generated — with sample_candidates=None the results are
        IDENTICAL to the unrestricted join (inductive argument below),
        and the join's generating side shrinks with convergence (late
        iterations are near-free). With sample_candidates SET the
        identity does not hold pair-for-pair (the sampling cutoff can
        drop a both-old pair an earlier iteration would have kept, and
        removing both-old pairs shifts which pairs the hash-ranked cap
        admits) — that combination is exactly the reference's own
        ρ-sampling + new/old flags (NNDescent.cpp join()), i.e. a
        sanctioned approximation, not a bug; recall is what the tests
        pin in sampled mode, not pair equality;
    (2) sample_candidates ≈ 8·k_eff (the reference's ρ·K sampling) caps
        the SCORED pairs per node; NN-Descent converges under candidate
        sampling — that is the point of the ρ parameter in the paper
        and NNDescent.cpp.
    The localCheckpoints per iteration are lineage truncation, not
    materialization hotspots.
    """
    vecs = vectors.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    n = vecs.count()
    k_eff = min(k_build if k_build is not None else 3 * k, n - 1)

    # init candidates carry hash-collision duplicates; dedup so the edge
    # set has unique (src, dst) — the incremental prev-join relies on it
    cand = _random_init_candidates(vecs, k_eff).dropDuplicates(["src", "dst"])
    edges = _select_topk(
        cand.filter(F.col("src") != F.col("dst")), vecs, k_eff, metric
    ).withColumn("__new", F.lit(True))
    # iterative algorithm: truncate lineage each round or the logical plan
    # (and analysis time) grows exponentially with niter
    edges = edges.localCheckpoint(eager=True)

    # --- refinement iterations ------------------------------------------
    # Incremental join (reference NNDescent.cpp new/old neighbor flags):
    # a 2-hop pair whose BOTH hops are old edges was already a candidate
    # in the previous iteration — and lost against a list that has only
    # improved since — so only pairs with at least one NEW hop are
    # generated. Result is identical to the unrestricted join (inductive
    # argument above); the join's left side shrinks from 2·n·k_eff rows
    # to 2·(new edges) as the descent converges, which is what bounds
    # late iterations at 100 TB.
    for _ in range(niter):
        fwd = edges.select("src", "dst", "__new")
        rev = edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "__new"
        )
        undirected = fwd.unionByName(rev)
        a = undirected.alias("a")
        b = undirected.alias("b")
        two_hop = (
            a.join(b, F.col("a.dst") == F.col("b.src"))
            .filter(F.col("a.__new") | F.col("b.__new"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        )
        cand = (
            fwd.select("src", "dst")
            .unionByName(rev.select("src", "dst"))
            .unionByName(two_hop)
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
        )
        if sample_candidates:
            w = Window.partitionBy("src").orderBy(F.xxhash64("src", "dst"))
            cand = (
                cand.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= sample_candidates)
                .drop("__rn")
            )
        prev = edges.select("src", "dst", F.lit(True).alias("__old"))
        edges = (
            _select_topk(cand, vecs, k_eff, metric)
            .join(prev, ["src", "dst"], "left")
            .withColumn("__new", F.col("__old").isNull())
            .drop("__old")
            .localCheckpoint(eager=True)
        )
    return edges.filter(F.col("rank") <= k).drop("__new")


def _random_init_candidates(vecs: DataFrame, k_eff: int) -> DataFrame:
    """Deterministic scattered init: k pseudo-random neighbors per node
    via xxhash64(src, j) mapped into the [min_id, max_id] range and
    inner-joined against the real ids (hash misses on sparse id spaces
    just thin the init a little — NN-Descent only needs SOME random
    partners, reference faiss/impl/NNDescent.cpp init_graph). No global
    window / single-partition sort anywhere: the id→position
    densification an earlier version did (row_number over an
    unpartitioned window) pulled every id through one task — the
    textbook driver-scale bottleneck (test_plans pins its absence)."""
    ids = vecs.select("id")
    lo, hi = vecs.agg(F.min("id"), F.max("id")).first()
    span = int(hi) - int(lo) + 1
    return (
        vecs.select(
            F.col("id").alias("src"),
            F.explode(
                F.transform(
                    # a few extra probes compensate for self-hits and
                    # (on sparse id spaces) hash misses
                    F.sequence(F.lit(0), F.lit(k_eff + 2)),
                    lambda j: F.lit(int(lo))
                    + F.pmod(F.xxhash64(F.col("id"), j), F.lit(span)),
                )
            ).alias("dst"),
        )
        .join(ids.select(F.col("id").alias("dst")), "dst")
        .select("src", "dst")
    )


def _select_topk(
    pairs: DataFrame, vecs: DataFrame, k: int, metric: str
) -> DataFrame:
    """Evaluate distances for candidate (src, dst) pairs and keep the best
    k per src. Distance is the JVM expression — the candidate set is
    O(n·k²) rows, each a single zip_with/aggregate, fully codegen'd."""
    sv = vecs.select(F.col("id").alias("src"), F.col("vec").alias("svec"))
    dv = vecs.select(F.col("id").alias("dst"), F.col("vec").alias("dvec"))
    largest = metric in ("ip", "cosine")
    scored = (
        pairs.join(sv, "src")
        .join(dv, "dst")
        .select(
            "src",
            "dst",
            distance_expr(F.col("svec"), F.col("dvec"), metric).alias("dist"),
        )
    )
    order = [F.col("dist").desc() if largest else F.col("dist").asc(), F.col("dst").asc()]
    w = Window.partitionBy("src").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "dist", "rank")
    )


def knn_graph_recall(approx: DataFrame, exact: DataFrame, k: int) -> float:
    """Edge recall of the approximate graph vs the exact knn_join result
    (reference evaluation: knn-graph intersection, benchs/README.md:313)."""
    a = approx.filter(F.col("rank") <= k).select("src", "dst")
    e = exact.filter(F.col("rank") <= k).select(
        F.col("qid").alias("src"), F.col("id").alias("dst")
    )
    inter = a.join(e, ["src", "dst"]).count()
    return inter / e.count()


def knn_graph_bucketed(
    vectors: DataFrame,
    k: int,
    nlist: int = 64,
    nprobe: int = 2,
    metric: str = "l2",
    id_col: str = "id",
    vec_col: str = "vec",
    seed: int = 1234,
    niter: int = 4,
    dtype: str = "f64",
) -> DataFrame:
    """Approximate k-NN graph by IVF-cell bucketing — the 100 TB graph
    path (reference: the Deep1B kNN-graph bench, benchs/README.md:307,
    runs exactly this shape sharded over GPUs).

    Plan:
      1. train a coarse k-means on a seeded sample (small artifact);
      2. assign every vector to its `nprobe` nearest cells — every copy
         is BOTH query and candidate, so an edge (s, t) is found whenever
         the probe sets of s and t overlap (symmetric coverage; border
         nodes meet in whichever cell both probe);
      3. the data shuffle: one exchange keyed on cell (nprobe× the
         table); per-cell local GEMM k-NN via applyInArrow;
      4. candidate-edge dedup (same edge can surface in every shared
         cell) + per-src top-k merge — two more exchanges, but over
         candidate EDGES (≤ n·k·nprobe rows), not the data.

    Cost at scale: shuffle = nprobe× the table, per-cell work
    O((n·nprobe/nlist)² · d / nlist); choose nlist ≈ sqrt(n·nprobe) to
    balance. The per-cell scan is block-wise (bounded memory), but its
    TIME is quadratic in the cell size, so heavily duplicated vectors
    (discrete/tabular features) produce hot cells that dominate the
    stage — dedup exact-duplicate vectors FIRST (refine.dedup_flat, the
    reference's IndexIVFFlatDedup insight), build the graph over
    representatives, then explode ids back. Returns (src, dst, dist,
    rank), rank ≤ k, dst != src; recall vs the exact graph is pinned in
    tests.
    """
    import numpy as np

    from faiss_spark.kernels import (
        SIMILARITY_METRICS,
        TopKAccumulator,
    )
    from faiss_spark.operators.cluster import KMeans
    from faiss_spark.operators.knn import _np_dtype

    np_dt = _np_dtype(dtype)

    vecs = vectors.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    # coarse partition quality barely moves graph recall (symmetric
    # probing recovers border edges), so train rough and cheap: few
    # iterations, 64 sample points per centroid
    km = KMeans(
        k=nlist,
        niter=niter,
        seed=seed,
        spherical=(metric == "cosine"),
        max_points_per_centroid=64,
    ).fit(vecs)
    C = km.centroids
    nprobe = min(nprobe, len(C))
    spark = vecs.sparkSession
    bc = spark.sparkContext.broadcast((C, metric, nprobe))

    def assign_cells(batches):
        # Arrow-native (guide §4.1-4.2): ids and the vector matrix come
        # zero-copy off the record batch, and the nprobe-fold row
        # duplication is an Arrow take() on the ORIGINAL list column —
        # no per-row Python objects in either direction.
        import pyarrow as pa

        from faiss_spark.kernels import (
            _compute_block,
            _row_chunk,
            arrow_list_matrix,
        )

        C_, metric_, nprobe_ = bc.value
        largest = metric_ in SIMILARITY_METRICS
        # match the compute dtype (centroids train in f64)
        Ch = np.ascontiguousarray(C_, dtype=np_dt)
        cn = None
        if metric_ == "cosine":
            n_ = np.linalg.norm(Ch, axis=1, keepdims=True)
            n_[n_ == 0] = 1.0
            Ch = Ch / n_
        elif metric_ == "l2":
            cn = (Ch * Ch).sum(axis=1)
        for b in batches:
            if b.num_rows == 0:
                continue
            n = b.num_rows
            X = arrow_list_matrix(b.column(1), np_dt)
            if metric_ == "cosine":
                xnorm = np.linalg.norm(X, axis=1, keepdims=True)
                xnorm[xnorm == 0] = 1.0
                X = X / xnorm
            xq = (X * X).sum(axis=1) if metric_ == "l2" else None
            cells = np.empty((n, nprobe_), dtype=np.int64)
            chunk = _row_chunk(n, len(C_), X.shape[1], metric_, X.dtype)
            for r0 in range(0, n, chunk):
                r1 = min(n, r0 + chunk)
                # rows = vectors, cols = centroids; workspace-tiled GEMM
                D = _compute_block(X, Ch, r0, r1, metric_, xq, cn, X.dtype)
                key = -D if largest else D
                part = np.argpartition(key, nprobe_ - 1, axis=1)[:, :nprobe_]
                # deterministic probe order among the selected few
                sub = np.take_along_axis(key, part, axis=1)
                cells[r0:r1] = np.take_along_axis(
                    part, np.argsort(sub, axis=1, kind="stable"), axis=1
                )
            rep = np.repeat(np.arange(n, dtype=np.int64), nprobe_)
            yield pa.record_batch(
                [
                    pa.array(cells.ravel().astype(np.int32), pa.int32()),
                    b.column(0).take(rep),
                    b.column(1).take(rep),
                ],
                names=["cell", "id", "vec"],
            )

    assigned = vecs.mapInArrow(
        assign_cells, schema="cell int, id bigint, vec array<float>"
    )

    k_ = k
    largest = metric in SIMILARITY_METRICS

    def local_knn(tbl):
        import pyarrow as pa

        from faiss_spark.kernels import arrow_i64, arrow_list_matrix

        empty = pa.table(
            {
                "src": pa.array([], pa.int64()),
                "dst": pa.array([], pa.int64()),
                "dist": pa.array([], pa.float64()),
            }
        )
        if tbl.num_rows < 2:
            return empty
        ids = arrow_i64(tbl.column("id"))
        X = arrow_list_matrix(tbl.column("vec"), dtype=np_dt)
        m = len(ids)
        kk = min(k_, m - 1)
        # fused GEMM + tie-safe selection through the per-worker
        # workspace: memory stays O(tile × m) even in a skew-hot cell
        # (time is still quadratic — dedup first, see above)
        acc = TopKAccumulator(m, kk, largest)
        acc.bind_queries(X, metric)
        acc.push_block(X, ids, qids=ids)
        qidx, nid, nd = acc.emit()
        fin = np.isfinite(nd)
        return pa.table(
            {
                "src": ids[qidx[fin]],
                "dst": nid[fin],
                "dist": nd[fin].astype(np.float64, copy=False),
            }
        )

    cands = assigned.groupBy("cell").applyInArrow(
        local_knn, schema="src bigint, dst bigint, dist double"
    )
    sort = [
        F.col("dist").desc() if largest else F.col("dist").asc(),
        F.col("dst").asc(),
    ]
    w = Window.partitionBy("src").orderBy(*sort)
    # dedup candidate edges (the same (src, dst) surfaces in every cell
    # both nodes probe) before the top-k merge. One exchange, not two:
    # hash-partitioning by src up front satisfies BOTH downstream
    # distribution requirements — ClusteredDistribution(src, dst) for
    # the dedup aggregate and ClusteredDistribution(src) for the window
    # — so the candidate edges move once (guide §2.4 "two operations
    # keyed the same way can share one exchange"); the naive
    # groupBy(src, dst) → window(src) order exchanged the edge set
    # twice (its map-side partial aggregate bought almost nothing:
    # duplicate edges come from different cells, i.e. different tasks).
    return (
        cands.repartition(F.col("src"))
        .groupBy("src", "dst")
        .agg(F.min("dist").alias("dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_)
        .select("src", "dst", "dist", "rank")
    )
